"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling", public
arXiv/NeurIPS method).

The standard pretraining-data selection recipe: fit two bag-of-hashed-
n-gram models — one on a small TARGET corpus (the distribution you
want, e.g. benchmark-like or curated text) and one on the RAW pool —
and keep the raw documents whose importance weight
``log p_target(x) - log p_raw(x)`` is highest, optionally with Gumbel
noise for proper sampling. Feature hashing bounds the model at
``buckets`` rows no matter how large either corpus's vocabulary is.

Spark-first shape (reference parity: the reference has no selection
tier — SURVEY.md §2 extension), split into a fit and a selection:

* ``dsir_fit`` builds the model once per corpus: ONE collect reads both
  feature totals and the pool's document count (a document's feature
  count is ``n + max(n - 1, 0)`` for ``n`` words, so the totals need no
  explode), then one scan per side explodes the per-document
  unigram+bigram features — one parsed SQL expression, no Python
  lambdas — into a map-side-combined groupBy on the bucket id. The
  ``buckets``-row model of log-ratios is returned checkpointed, so a
  caller that keeps it (the registered query memoizes it per corpus
  file) never refits.
* ``dsir_scores`` / ``dsir_select`` take ``fitted=`` and only score: the
  model broadcasts back into the pool's feature stream, the pool is
  shuffled only by doc_id for the per-document weight sum, and the
  selection is a deterministic top-k (TakeOrdered) — no global sort.

Engine-proof arithmetic: per-bucket log-ratios are computed from
exact integer counts and rounded to 9 decimals (both engines round
their own libm ``ln`` — the repo's bm25 convention), summed as
DECIMAL(38,9) so the per-doc score is fold-order-independent, and the
reported score uses the floor_round half-up convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tinyetl_spark.functions.hashing import hash64_sql
from tinyetl_spark.operators.text import floor_round, floor_round_sql, words_sql

DSIR_BUCKETS = 4096     # hashed-feature space (10k-100k in the paper)
DSIR_KEEP_PCT = 25      # pool fraction the selection query keeps


def _bucket(s: str) -> str:
    """Spark SQL for hash64_col(s) % DSIR_BUCKETS."""
    return f"CAST(conv(substr(md5({s}), 1, 15), 16, 10) AS BIGINT) % {DSIR_BUCKETS}"


# Per-document features over the staged word array ``_ws``: the bucket
# of every unigram, then of every bigram (slice element i is word i+1,
# so its predecessor is ``_ws[i]``). The Spark twin of
# _feature_array_sql.
_BIGRAM = "concat(_ws[i], ' ', w)"
_FEATURES = (
    f"concat(transform(_ws, w -> {_bucket('w')}), "
    f"transform(slice(_ws, 2, size(_ws)), (w, i) -> {_bucket(_BIGRAM)}))"
)
# the length of _FEATURES, without building it
_N_FEATURES = "size(_ws) + greatest(size(_ws) - 1, 0)"


def _words(df: DataFrame, text_col: str, keep: tuple[str, ...] = ()) -> DataFrame:
    """(*keep, _ws): the lower-cased words, in their OWN projection
    before any lambda references them: an expression referenced inside
    a HOF lambda re-evaluates per element (the repo's documented
    re-evaluation trap — the inlined form re-split every document once
    per bigram position, ~14x slower), a bound column reference does
    not. Empty-word artifacts (blank docs split to ['']) are dropped,
    and a NULL text has no words."""
    ws = f"filter(split(trim(lower(coalesce(`{text_col}`, ''))), '\\\\s+'), w -> length(w) > 0)"
    return df.select(*keep, F.expr(ws).alias("_ws"))


def _features(words: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """One row per feature occurrence: (*keep, b)."""
    return words.select(*keep, F.explode(F.expr(_FEATURES)).alias("b"))


def _feature_array_sql(text_col: str) -> str:
    w = f"list_filter({words_sql(f'lower({text_col})')}, w -> length(w) > 0)"
    uni = f"list_transform({w}, w -> {hash64_sql('w')} % {DSIR_BUCKETS})"
    big = (
        f"CASE WHEN len({w}) >= 2 THEN "
        f"list_transform(range(1, len({w})), "
        f"i -> {hash64_sql(f'({w})[i] || chr(32) || ({w})[i+1]')} % {DSIR_BUCKETS}) "
        f"ELSE CAST([] AS BIGINT[]) END"
    )
    return f"list_concat({uni}, {big})"


def dsir_fit(target: DataFrame, raw: DataFrame, text_col: str = "text") -> tuple[DataFrame, int]:
    """The fitted model and the pool's document count: ``(model, n)``.

    ``model`` is (b, lam) for every occupied bucket, checkpointed, where
    lam = round(ln( ((ct+0.5)/(T+0.5B)) / ((cr+0.5)/(R+0.5B)) ), 9)
    with add-half smoothing — an exact rational inside one ln, so the
    9dp rounding is the only float step. Buckets absent from BOTH
    sides contribute nothing (their smoothed ratio is a constant that
    cancels in ranking). The totals T and R and the count n come from
    one collect; the checkpoint then runs the two bucket-count scans
    and their full outer join (at most DSIR_BUCKETS rows a side)."""
    tw, rw = _words(target, text_col), _words(raw, text_col)
    t_tot, r_tot, n = (
        tw.selectExpr(f"{_N_FEATURES} AS t", "0 AS r", "0 AS n")
        .unionByName(rw.selectExpr("0 AS t", f"{_N_FEATURES} AS r", "1 AS n"))
        .selectExpr("sum(t)", "sum(r)", "sum(n)")
        .collect()[0]
    )
    tn = float(t_tot or 0) + 0.5 * DSIR_BUCKETS
    rn = float(r_tot or 0) + 0.5 * DSIR_BUCKETS
    ct = _features(tw).groupBy("b").agg(F.count("*").alias("ct"))
    cr = _features(rw).groupBy("b").agg(F.count("*").alias("cr"))
    model = ct.join(cr, "b", "full_outer").selectExpr(
        "b",
        f"round(ln(((coalesce(ct, 0) + 0.5D) / {tn!r}D)"
        f" / ((coalesce(cr, 0) + 0.5D) / {rn!r}D)), 9) AS lam",
    )
    return model.localCheckpoint(), int(n or 0)


def dsir_scores(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    fitted: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """Per-raw-document importance weight: (doc_id, n_features, score)
    with score = mean bucket log-ratio over the doc's features (mean,
    not sum, so long documents aren't automatically 'more target-like'
    — the paper normalizes comparably). ``fitted`` is a ``dsir_fit``
    result for the same target and pool; without it the model is fit
    here. Model broadcast; the pool shuffles once on doc_id."""
    model, _ = fitted or dsir_fit(target, raw, text_col)
    feats = _features(_words(raw, text_col, keep=(id_col,)), keep=(id_col,))
    return (
        feats.join(F.broadcast(model), "b")
        .select(F.col(id_col), F.col("lam").cast("decimal(38,9)").alias("_lam"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_features"),
            floor_round(
                F.sum("_lam").cast("double") / F.count("*").cast("double"), 6
            ).alias("score"),
        )
    )


def dsir_select(
    target: DataFrame,
    raw: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_pct: int = DSIR_KEEP_PCT,
    fitted: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """Keep the top ``keep_pct`` percent of the raw pool by importance
    weight (score desc, doc_id asc — fully deterministic; Gumbel-noise
    sampling drops in by adding seeded-hash noise to the rank key).
    The limit comes from the fit's pool count, so the plan is a
    TakeOrdered, never a global sort."""
    fitted = fitted or dsir_fit(target, raw, text_col)
    k = max(1, (fitted[1] * keep_pct) // 100)
    return (
        dsir_scores(target, raw, text_col, id_col, fitted=fitted)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def dsir_select_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_pct: int = DSIR_KEEP_PCT,
    heldout_mod: int = 97,
) -> str:
    """DuckDB twin of the registered query: target = the held-out
    slice (doc_id % heldout_mod == 0, the repo's decontam convention),
    raw pool = everything else, keep the top keep_pct%."""
    fa = _feature_array_sql(text_col)
    return f"""
    WITH tgt AS (SELECT * FROM {table} WHERE {id_col} % {heldout_mod} = 0),
    pool AS (SELECT * FROM {table} WHERE {id_col} % {heldout_mod} <> 0),
    ctf AS (
      SELECT unnest({fa}) AS b FROM tgt),
    crf AS (
      SELECT unnest({fa}) AS b FROM pool),
    ct AS (SELECT b, count(*) AS cnt FROM ctf GROUP BY b),
    cr AS (SELECT b, count(*) AS cnt FROM crf GROUP BY b),
    tot AS (
      SELECT (SELECT coalesce(sum(cnt), 0) FROM ct) + 0.5 * {DSIR_BUCKETS} AS tn,
             (SELECT coalesce(sum(cnt), 0) FROM cr) + 0.5 * {DSIR_BUCKETS} AS rn),
    model AS (
      SELECT coalesce(ct.b, cr.b) AS b,
             round(ln(((coalesce(ct.cnt, 0) + 0.5) / t.tn)
                      / ((coalesce(cr.cnt, 0) + 0.5) / t.rn)), 9) AS lam
      FROM ct FULL OUTER JOIN cr ON ct.b = cr.b CROSS JOIN tot t),
    feats AS (
      SELECT {id_col}, unnest({fa}) AS b FROM pool),
    scored AS (
      SELECT f.{id_col},
             CAST(count(*) AS BIGINT) AS n_features,
             {floor_round_sql(
                 "CAST(sum(CAST(m.lam AS DECIMAL(38,9))) AS DOUBLE)"
                 " / CAST(count(*) AS DOUBLE)", 6)} AS score
      FROM feats f JOIN model m ON f.b = m.b
      GROUP BY f.{id_col})
    SELECT * FROM scored
    ORDER BY score DESC, {id_col} ASC
    LIMIT (SELECT greatest(1, (count(*) * {keep_pct}) // 100) FROM pool)
    """
