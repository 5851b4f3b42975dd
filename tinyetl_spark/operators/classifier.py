"""Distributed trained quality classifier — logistic regression via
full-batch gradient descent over hashed bag-of-words features.

The production pattern (RefinedWeb / FineWeb / Llama pipelines): a
heuristic rule set labels a seed corpus, a cheap linear classifier is
trained on those weak labels, and the CLASSIFIER — which generalizes
past the rules' hard thresholds — scores the full crawl. Here the
Gopher composite rule provides the weak labels, features are hashed
lowercase unigram counts (``BUCKETS`` of them, plus a bias), and
training is ``ITERS`` full-batch GD steps.

Spark-first shape: the (doc, bucket, count) feature table and the
label table are built once and checkpointed; each GD iteration is two
bounded-key aggregations — margins per doc (model broadcast, corpus
never reshuffled) and gradients per bucket (map-side combined into at
most BUCKETS+1 rows). The weight vector never exceeds BUCKETS+1 rows.

Engine-proof arithmetic — the part that makes a DuckDB oracle possible
for an ITERATIVE float algorithm: weights are INTEGER MICRO-UNITS
(1e-9), so margins and gradients are exact BIGINT sums (no float fold
order anywhere); the only floating point per iteration is one
deterministic scalar expression per value — the sigmoid
``floor(1e9 / (1 + exp(-m)) + 0.5)`` (both engines' libm exp, half-up
to integer micro-units) and the update step
``floor(lr * grad / n + 0.5)`` — each a single IEEE expression,
bit-identical across engines.

Reference parity: the reference has no ML tier (SURVEY.md §2); this is
a training-data-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tinyetl_spark.functions.hashing import hash64_col, hash64_sql
from tinyetl_spark.operators.relational import ordered_prefix
from tinyetl_spark.operators.text import (
    floor_round,
    floor_round_sql,
    gopher_rules,
    gopher_rules_sql,
    words_col,
    words_sql,
)

BUCKETS = 256      # hashed unigram feature space
BIAS_B = -1        # bucket id of the bias feature (x = 1 on every doc)
ITERS = 10         # full-batch GD steps (0.75 train acc vs 0.60 base rate)
LR = 0.1           # learning rate
_U = 1_000_000_000  # micro-units per 1.0 of weight / probability


def _features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, b, x): hashed lowercase unigram counts + the bias row.
    The word array materializes in its own projection (HOF
    re-evaluation trap); one explode, one map-side-combined groupBy."""
    staged = df.select(
        F.col(id_col),
        F.filter(
            words_col(F.lower(F.col(text_col))), lambda w: F.length(w) > 0
        ).alias("_ws"),
    )
    grams = (
        staged.select(
            F.col(id_col),
            F.explode(
                F.transform(F.col("_ws"), lambda w: hash64_col(w) % BUCKETS)
            ).alias("b"),
        )
        .groupBy(id_col, "b")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    bias = df.select(
        F.col(id_col), F.lit(BIAS_B).cast("bigint").alias("b"), F.lit(1).cast("bigint").alias("x")
    )
    return grams.unionByName(bias)


def _p_int(margin_units):
    """Sigmoid in micro-units from a micro-unit margin — ONE double
    expression, identical in both engines."""
    m = margin_units.cast("double") / F.lit(float(_U))
    return F.floor(F.lit(float(_U)) / (F.lit(1.0) + F.exp(-m)) + F.lit(0.5)).cast(
        "bigint"
    )


def train_quality_classifier(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = ITERS,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (weights, feats, labels): weights is (b, w) in integer
    micro-units after ``iters`` GD steps; feats/labels are the
    checkpointed training tables for reuse by the scorer."""
    spark = df.sparkSession
    feats = _features(df, text_col, id_col).localCheckpoint()
    labels = (
        gopher_rules(df, text_col, id_col)
        .select(F.col(id_col), F.col("keep").cast("bigint").alias("y"))
        .localCheckpoint()
    )
    n = labels.count()
    w = feats.select("b").distinct().withColumn(
        "w", F.lit(0).cast("bigint")
    ).localCheckpoint()
    for _ in range(iters):
        margins = (
            feats.join(F.broadcast(w), "b")
            .groupBy(id_col)
            .agg(F.sum(F.col("x") * F.col("w")).alias("_mu"))
            .select(F.col(id_col), _p_int(F.col("_mu")).alias("p"))
        )
        # Each term is up to ~1e9 (micro-units) per token occurrence, so a
        # hot bucket with >~9e9 occurrences would silently wrap a BIGINT
        # sum in Spark (non-ANSI) while DuckDB promotes to HUGEINT.
        # Summing in decimal(38,0) matches the HUGEINT promotion up to
        # 1e38 — ~1e29 token occurrences per bucket, far past any corpus.
        grad = (
            feats.join(F.broadcast(margins), id_col)
            .join(F.broadcast(labels), id_col)
            .groupBy("b")
            .agg(
                F.sum(
                    (F.col("x") * (F.col("p") - F.col("y") * _U)).cast("decimal(38,0)")
                ).alias("g")
            )
        )
        step = F.floor(
            F.lit(LR) * F.col("g").cast("double") / F.lit(float(n)) + F.lit(0.5)
        ).cast("bigint")
        w = (
            w.join(grad, "b", "left")
            .select("b", (F.col("w") - F.coalesce(step, F.lit(0))).alias("w"))
            .localCheckpoint()
        )
    return w, feats, labels


def quality_classifier_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = ITERS,
    trained: tuple[DataFrame, DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Train on the corpus's Gopher weak labels, then score every
    document with the trained model: (doc_id, y, score, pred) with
    score the 6dp margin and pred the thresholded label. The
    interesting rows are where pred disagrees with y — the classifier
    generalizing past the rules' hard thresholds. Pass ``trained``
    (the train_quality_classifier triple) to score with a model that
    already exists — the frozen-tokenizer pattern."""
    w, feats, labels = trained or train_quality_classifier(df, text_col, id_col, iters)
    margins = (
        feats.join(F.broadcast(w), "b")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w")).alias("_mu"))
    )
    return (
        margins.join(F.broadcast(labels), id_col)
        .select(
            F.col(id_col),
            F.col("y"),
            floor_round(F.col("_mu").cast("double") / F.lit(float(_U)), 6).alias(
                "score"
            ),
            (F.col("_mu") > 0).cast("bigint").alias("pred"),
        )
        .orderBy(id_col)
    )


def score_with_frozen_model(
    df: DataFrame,
    weights: list[int],
    bias_w: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a FROZEN model entirely in-row: the 256
    bucket weights fold in as an array literal indexed per word, so
    scoring is stateless codegen at scan speed — works unchanged on a
    batch table or inside Structured Streaming (no join, no state).
    ``weights[b]`` are integer micro-units; margins are exact BIGINT
    sums, byte-equal to the training-side scorer."""
    w_arr = F.expr(
        "CAST(array(" + ",".join(str(int(v)) for v in weights) + ") AS array<bigint>)"
    )
    staged = df.select(
        F.col(id_col),
        F.col(text_col),
        F.filter(
            words_col(F.lower(F.col(text_col))), lambda w: F.length(w) > 0
        ).alias("_wsl"),
    )
    buckets = F.transform(F.col("_wsl"), lambda w: hash64_col(w) % BUCKETS)
    staged = staged.select(F.col(id_col), F.col(text_col), buckets.alias("_bk"))
    mu = F.aggregate(
        F.col("_bk"),
        F.lit(int(bias_w)).cast("bigint"),
        lambda acc, b: acc + F.element_at(w_arr, b.cast("int") + 1),
    )
    staged = staged.select(F.col(id_col), F.col(text_col), mu.alias("_mu"))
    return staged.select(
        F.col(id_col),
        floor_round(F.col("_mu").cast("double") / F.lit(float(_U)), 6).alias("score"),
        (F.col("_mu") > 0).cast("bigint").alias("pred"),
    )


def _iter_sql(k: int, id_col: str) -> str:
    """One unrolled GD iteration for the DuckDB twin."""
    prev = f"w{k - 1}"
    return f"""
    m{k} AS (
      SELECT f.{id_col},
             CAST(floor({float(_U)!r} / (1.0 + exp(-(CAST(sum(f.x * w.w) AS DOUBLE)
                  / {float(_U)!r}))) + 0.5) AS BIGINT) AS p
      FROM feats f JOIN {prev} w USING (b) GROUP BY f.{id_col}),
    g{k} AS (
      SELECT f.b, sum(f.x * (m.p - l.y * {_U})) AS g
      FROM feats f JOIN m{k} m USING ({id_col}) JOIN labels l USING ({id_col})
      GROUP BY f.b),
    w{k} AS MATERIALIZED (
      SELECT w.b,
             w.w - coalesce(CAST(floor({LR!r} * CAST(g.g AS DOUBLE)
                   / CAST(n.n AS DOUBLE) + 0.5) AS BIGINT), 0) AS w
      FROM {prev} w LEFT JOIN g{k} g USING (b) CROSS JOIN nn n)"""


def _model_ctes(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = ITERS,
) -> str:
    """The shared trained-model CTE chain (no leading ``WITH`` — callers
    compose structurally, the dedup ``_minhash_candidates_ctes``
    convention): feats/labels/GD-unroll, ending in ``final(id, mu)``
    with ``labels(id, y)`` in scope. The scorer twin and both eval
    twins build on the SAME trained margins."""
    w = f"list_filter({words_sql(f'lower({text_col})')}, x -> length(x) > 0)"
    iter_blocks = ",".join(_iter_sql(k, id_col) for k in range(1, iters + 1))
    return f"""feats AS MATERIALIZED (
      SELECT {id_col}, b, CAST(count(*) AS BIGINT) AS x FROM (
        SELECT {id_col}, unnest(list_transform({w},
               x -> {hash64_sql('x')} % {BUCKETS})) AS b
        FROM {table})
      GROUP BY {id_col}, b
      UNION ALL
      SELECT {id_col}, CAST({BIAS_B} AS BIGINT) AS b, CAST(1 AS BIGINT) AS x
      FROM {table}),
    labels AS MATERIALIZED (
      SELECT {id_col}, CAST(keep AS BIGINT) AS y
      FROM ({gopher_rules_sql(table, text_col, id_col)})),
    nn AS (SELECT count(*) AS n FROM labels),
    w0 AS MATERIALIZED (
      SELECT DISTINCT b, CAST(0 AS BIGINT) AS w FROM feats),
    {iter_blocks},
    final AS (
      SELECT f.{id_col}, sum(f.x * w.w) AS mu
      FROM feats f JOIN w{iters} w USING (b) GROUP BY f.{id_col})"""


def quality_classifier_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = ITERS,
) -> str:
    """DuckDB twin: the GD loop unrolled into ``iters`` materialized
    CTE blocks over the same integer micro-unit arithmetic."""
    return f"""
    WITH {_model_ctes(table, text_col, id_col, iters)}
    SELECT f.{id_col}, l.y,
           {floor_round_sql(f"CAST(mu AS DOUBLE) / {float(_U)!r}", 6)} AS score,
           CAST(mu > 0 AS BIGINT) AS pred
    FROM final f JOIN labels l USING ({id_col})
    ORDER BY f.{id_col}
    """


# ----------------------------------------------------- model evaluation

EVAL_BINS = 10  # equal-width confidence bins for calibration / ECE


def _scored(
    df: DataFrame,
    text_col: str,
    id_col: str,
    trained: tuple[DataFrame, DataFrame, DataFrame] | None,
) -> DataFrame:
    """(id, y, _mu, p): trained margins in exact micro-units plus the
    sigmoid confidence — the shared base for both eval queries.
    localCheckpoint because three aggregation branches (scalar stats,
    calibration bins, AUC rank-sum) each consume it and exchange reuse
    does not cross independent actions."""
    w, feats, labels = trained or train_quality_classifier(df, text_col, id_col)
    margins = (
        feats.join(F.broadcast(w), "b")
        .groupBy(id_col)
        .agg(F.sum(F.col("x") * F.col("w")).alias("_mu"))
    )
    return (
        margins.join(F.broadcast(labels), id_col)
        .select(
            F.col(id_col),
            F.col("y"),
            F.col("_mu"),
            _p_int(F.col("_mu")).alias("p"),
        )
        .localCheckpoint(eager=False)
    )


def _auc_by(scored: DataFrame, by: tuple[str, ...]) -> DataFrame:
    """(*by, n_pos, n_neg, auc): the exact-integer Mann-Whitney AUC of
    ``scored``'s margins within each ``by`` group, from per-distinct-
    margin counts (ties take the average rank): AUC = sum_m[c_pos(m) *
    (2*cumneg_below(m) + c_neg(m))] / (2*n_pos*n_neg). The
    cumulative negatives are ``relational.ordered_prefix`` over the
    margin; the distinct-margin table compresses ties before it."""
    gm = scored.groupBy(*by, "_mu").agg(
        F.sum("y").alias("c_pos"),
        F.sum(F.lit(1) - F.col("y")).alias("c_neg"),
    )
    cum, _ = ordered_prefix(gm, "_mu", False, (), "_cn", weight="c_neg", by=by)
    term = F.col("c_pos").cast("decimal(38,0)") * (F.lit(2) * F.col("_cn") + F.col("c_neg"))
    return (
        cum.groupBy(*by)
        .agg(
            F.sum("c_pos").cast("bigint").alias("n_pos"),
            F.sum("c_neg").cast("bigint").alias("n_neg"),
            F.coalesce(F.sum(term), F.lit(0).cast("decimal(38,0)")).alias("num2"),
        )
        .select(
            *by,
            "n_pos",
            "n_neg",
            floor_round(
                F.col("num2").cast("double")
                / F.when(
                    (F.col("n_pos") == 0) | (F.col("n_neg") == 0), F.lit(None)
                ).otherwise(2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ).alias("auc"),
        )
    )


def classifier_eval_summary(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    trained: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """One-row held-in evaluation of the trained quality classifier:
    accuracy, ROC-AUC, Brier score and expected calibration error —
    the report a curation run reads before trusting a filter model at
    crawl scale.

    All four metrics are EXACT-INTEGER until one final division, so
    the iterative-float model has a hash-matching DuckDB twin:

    * AUC via the Mann-Whitney rank-sum with average-rank ties, but
      computed from per-distinct-margin counts — never a global rank
      of rows: AUC = sum_m[c_pos(m) * (2*cumneg_below(m) + c_neg(m))]
      / (2*n_pos*n_neg), every term a bigint (``_auc_by``).
    * ECE over EVAL_BINS equal-width confidence bins collapses to
      sum_b |U*pos_b - sum_p_b| / (U*n) because the n_b factors cancel
      — per-bin integer sums, one abs, one division.
    * Brier = sum (p - y*U)^2 / (U^2 * n); each square <= 1e18 fits a
      bigint, the sum accumulates in decimal(38,0) (DuckDB: HUGEINT).

    Scale shape: margins are one broadcast join + one map-side-combined
    groupBy over the staged feature table; the distinct-margin table
    compresses ties before any window; driver state is the <=32-row
    bucket-total collect. Zero Python row evals."""
    scored = scored if scored is not None else _scored(df, text_col, id_col, trained)
    u = F.lit(_U).cast("bigint")
    pred_ok = ((F.col("_mu") > 0).cast("bigint") == F.col("y")).cast("bigint")
    sq = (F.col("p") - F.col("y") * u) * (F.col("p") - F.col("y") * u)
    base = scored.agg(
        F.count("*").alias("n"),
        F.sum("y").alias("n_pos"),
        (F.count("*") - F.sum("y")).alias("n_neg"),
        F.sum(pred_ok).alias("correct"),
        F.sum(sq.cast("decimal(38,0)")).alias("brier_num"),
    )
    bins = scored.groupBy(
        F.least(F.expr(f"p * {EVAL_BINS} DIV {_U}"), F.lit(EVAL_BINS - 1)).alias("bin")
    ).agg(F.sum("p").alias("sp"), F.sum("y").alias("pos"))
    ece = bins.agg(
        F.sum(
            F.abs(F.col("pos").cast("decimal(38,0)") * _U - F.col("sp"))
        ).alias("ece_num")
    )
    aucn = _auc_by(scored, ()).select("auc")
    un = float(_U)
    return (
        base.crossJoin(ece)
        .crossJoin(aucn)
        .select(
            F.col("n").alias("n_docs"),
            F.col("n_pos"),
            F.col("n_neg"),
            floor_round(F.col("correct").cast("double") / F.col("n"), 6).alias(
                "accuracy"
            ),
            F.col("auc"),
            floor_round(
                F.col("brier_num").cast("double") / (F.lit(un * un) * F.col("n")), 6
            ).alias("brier"),
            floor_round(
                F.col("ece_num").cast("double") / (F.lit(un) * F.col("n")), 6
            ).alias("ece"),
        )
    )


def calibration_bins(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    trained: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Reliability diagram for the trained classifier: EVAL_BINS
    equal-width confidence bins, each with its document count, mean
    predicted confidence, empirical positive rate, and |conf - acc|
    gap. The per-bin sums are exact integers (micro-unit confidences,
    0/1 labels); each output ratio is one double division, half-up
    rounded — so the oracle hash-matches. One map-side-combined
    groupBy into <= EVAL_BINS rows; nothing else shuffles."""
    scored = scored if scored is not None else _scored(df, text_col, id_col, trained)
    un = float(_U)
    return (
        scored.groupBy(
            F.least(F.expr(f"p * {EVAL_BINS} DIV {_U}"), F.lit(EVAL_BINS - 1)).alias("bin")
        )
        .agg(F.sum("p").alias("sp"), F.sum("y").alias("pos"), F.count("*").alias("nb"))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.col("nb").cast("bigint").alias("n_docs"),
            floor_round(
                F.col("sp").cast("double") / (F.col("nb") * F.lit(un)), 6
            ).alias("mean_conf"),
            floor_round(F.col("pos").cast("double") / F.col("nb"), 6).alias(
                "pos_rate"
            ),
            floor_round(
                F.abs(
                    F.col("pos").cast("decimal(38,0)") * _U - F.col("sp")
                ).cast("double")
                / (F.col("nb") * F.lit(un)),
                6,
            ).alias("gap"),
        )
        .orderBy("bin")
    )


def _scored_ctes(table: str, text_col: str, id_col: str, iters: int) -> str:
    """Model CTEs + the scored(id, y, mu, p) relation for the eval twins."""
    return f"""{_model_ctes(table, text_col, id_col, iters)},
    scored AS MATERIALIZED (
      SELECT f.{id_col}, l.y, f.mu,
             CAST(floor({float(_U)!r} / (1.0 + exp(-(CAST(f.mu AS DOUBLE)
                  / {float(_U)!r}))) + 0.5) AS BIGINT) AS p
      FROM final f JOIN labels l USING ({id_col}))"""


def classifier_eval_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = ITERS,
) -> str:
    """DuckDB twin of classifier_eval_summary — identical integer
    arithmetic; the rank-sum prefix runs as a plain window over the
    distinct-margin table (tiny in DuckDB's single-node world)."""
    un = float(_U)
    return f"""
    WITH {_scored_ctes(table, text_col, id_col, iters)},
    base AS (
      SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
             sum(CASE WHEN (mu > 0) = (y = 1) THEN 1 ELSE 0 END) AS correct,
             sum(CAST(p - y * {_U} AS HUGEINT) * (p - y * {_U})) AS brier_num
      FROM scored),
    bins AS (
      SELECT least(p * {EVAL_BINS} // {_U}, {EVAL_BINS - 1}) AS bin,
             sum(p) AS sp, sum(y) AS pos, count(*) AS nb
      FROM scored GROUP BY 1),
    ece AS (
      SELECT sum(abs(CAST(pos AS HUGEINT) * {_U} - sp)) AS ece_num FROM bins),
    gm AS (
      SELECT mu, sum(y) AS c_pos, sum(1 - y) AS c_neg
      FROM scored GROUP BY mu),
    cum AS (
      SELECT c_pos, c_neg,
             coalesce(sum(c_neg) OVER (ORDER BY mu ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
      FROM gm),
    aucn AS (
      SELECT coalesce(sum(CAST(c_pos AS HUGEINT) * (2 * cn + c_neg)), 0) AS num2
      FROM cum)
    SELECT base.n AS n_docs, base.n_pos, base.n_neg,
           {floor_round_sql("CAST(correct AS DOUBLE) / n", 6)} AS accuracy,
           {floor_round_sql(
               "CAST(num2 AS DOUBLE) / (CASE WHEN n_pos = 0 OR n_neg = 0"
               " THEN NULL ELSE 2.0 * n_pos * n_neg END)", 6)} AS auc,
           {floor_round_sql(f"CAST(brier_num AS DOUBLE) / ({un * un!r} * n)", 6)} AS brier,
           {floor_round_sql(f"CAST(ece_num AS DOUBLE) / (CAST({_U} AS DOUBLE) * n)", 6)} AS ece
    FROM base CROSS JOIN ece CROSS JOIN aucn
    """


def calibration_bins_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = ITERS,
) -> str:
    un = float(_U)
    return f"""
    WITH {_scored_ctes(table, text_col, id_col, iters)}
    SELECT CAST(least(p * {EVAL_BINS} // {_U}, {EVAL_BINS - 1}) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           {floor_round_sql(f"CAST(sum(p) AS DOUBLE) / (count(*) * CAST({_U} AS DOUBLE))", 6)} AS mean_conf,
           {floor_round_sql("CAST(sum(y) AS DOUBLE) / count(*)", 6)} AS pos_rate,
           {floor_round_sql(
               f"CAST(abs(CAST(sum(y) AS HUGEINT) * {_U} - sum(p)) AS DOUBLE)"
               f" / (count(*) * CAST({_U} AS DOUBLE))", 6)} AS gap
    FROM scored GROUP BY 1 ORDER BY bin
    """


THRESH_CURVE_MU = (-1_000_000_000, -500_000_000, 0, 500_000_000, 1_000_000_000)


def classifier_threshold_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    trained: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    thresholds: tuple[int, ...] = THRESH_CURVE_MU,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Precision / recall / F1 of the trained quality classifier at a
    sweep of decision thresholds (margins in micro-units, i.e. -1.0 to
    +1.0 in model units) — the knob that turns one trained model into
    a strict or permissive filter; a curation run reads this curve
    next to the AUC before picking its operating point. The whole
    sweep is ONE conditional aggregate over the scored base (exact
    integer confusion counts per threshold), stack-unpivoted —
    identical cost shape to near_dup_threshold_curve."""
    scored = scored if scored is not None else _scored(df, text_col, id_col, trained)
    aggs = []
    for i, t in enumerate(thresholds):
        pred = F.col("_mu") > F.lit(int(t))
        aggs.append(
            F.coalesce(F.sum((pred & (F.col("y") == 1)).cast("bigint")), F.lit(0))
            .cast("bigint").alias(f"_tp{i}")
        )
        aggs.append(
            F.coalesce(F.sum((pred & (F.col("y") == 0)).cast("bigint")), F.lit(0))
            .cast("bigint").alias(f"_fp{i}")
        )
        aggs.append(
            F.coalesce(F.sum((~pred & (F.col("y") == 1)).cast("bigint")), F.lit(0))
            .cast("bigint").alias(f"_fn{i}")
        )
    one = scored.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({float(t) / _U!r} AS DOUBLE), _tp{i}, _fp{i}, _fn{i}"
        for i, t in enumerate(thresholds)
    )
    curve = one.select(
        F.expr(
            f"stack({len(thresholds)}, {stack_args})"
            " AS (threshold, tp, fp, fn)"
        )
    )
    prec = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double"),
    ).otherwise(F.lit(1.0))
    rec = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double"),
    ).otherwise(F.lit(1.0))
    f1 = F.when(
        F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn") > 0,
        (F.lit(2) * F.col("tp")).cast("double")
        / (F.lit(2) * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
    ).otherwise(F.lit(1.0))
    return curve.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        floor_round(prec, 6).alias("precision"),
        floor_round(rec, 6).alias("recall"),
        floor_round(f1, 6).alias("f1"),
    ).orderBy("threshold")


def classifier_threshold_curve_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    iters: int = ITERS,
    thresholds: tuple[int, ...] = THRESH_CURVE_MU,
) -> str:
    cols, sel = [], []
    for i, t in enumerate(thresholds):
        cols.append(
            f"coalesce(sum(CASE WHEN mu > {int(t)} AND y = 1 THEN 1 END), 0) AS tp{i}"
        )
        cols.append(
            f"coalesce(sum(CASE WHEN mu > {int(t)} AND y = 0 THEN 1 END), 0) AS fp{i}"
        )
        cols.append(
            f"coalesce(sum(CASE WHEN NOT (mu > {int(t)}) AND y = 1 THEN 1 END), 0)"
            f" AS fn{i}"
        )
        sel.append(
            f"SELECT CAST({float(t) / _U!r} AS DOUBLE) AS threshold,"
            f" CAST(tp{i} AS BIGINT) AS tp, CAST(fp{i} AS BIGINT) AS fp,"
            f" CAST(fn{i} AS BIGINT) AS fn FROM one"
        )
    sels = " UNION ALL ".join(sel)
    return f"""
    WITH {_scored_ctes(table, text_col, id_col, iters)},
    one AS (SELECT {", ".join(cols)} FROM scored)
    SELECT threshold, tp, fp, fn,
           {floor_round_sql(
               "CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)"
               " / CAST(tp + fp AS DOUBLE) ELSE 1.0 END", 6)} AS precision,
           {floor_round_sql(
               "CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)"
               " / CAST(tp + fn AS DOUBLE) ELSE 1.0 END", 6)} AS recall,
           {floor_round_sql(
               "CASE WHEN 2 * tp + fp + fn > 0 THEN CAST(2 * tp AS DOUBLE)"
               " / CAST(2 * tp + fp + fn AS DOUBLE) ELSE 1.0 END", 6)} AS f1
    FROM ({sels}) t
    ORDER BY threshold
    """


def classifier_bias_by_source(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    trained: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """Filter-bias audit BY SOURCE: for each source, the share of its
    documents the trained filter would keep, its weak-label positive
    rate, the model's accuracy on it, and its mean confidence — the
    check that a quality classifier is not silently dropping whole
    domains (the FineWeb-class failure: a filter tuned on one slice
    wholesale-rejects another). One broadcast join to attach sources,
    one map-side-combined groupBy into |sources| rows; all four
    ratios are exact-integer sums with one final division each."""
    scored = scored if scored is not None else _scored(df, text_col, id_col, trained)
    src = df.select(F.col(id_col), F.col(source_col).alias("_src"))
    un = float(_U)
    return (
        scored.join(src, id_col)
        .groupBy("_src")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("_mu") > 0).cast("bigint")).alias("kept"),
            F.sum("y").alias("pos"),
            F.sum(
                ((F.col("_mu") > 0).cast("bigint") == F.col("y")).cast("bigint")
            ).alias("correct"),
            F.sum("p").alias("sp"),
        )
        .select(
            F.col("_src").alias(source_col),
            F.col("n").cast("bigint").alias("n_docs"),
            floor_round(F.col("kept").cast("double") / F.col("n"), 6).alias(
                "keep_rate"
            ),
            floor_round(F.col("pos").cast("double") / F.col("n"), 6).alias(
                "label_pos_rate"
            ),
            floor_round(F.col("correct").cast("double") / F.col("n"), 6).alias(
                "accuracy"
            ),
            floor_round(
                F.col("sp").cast("double") / (F.col("n") * F.lit(un)), 6
            ).alias("mean_conf"),
        )
        .orderBy(source_col)
    )


def classifier_bias_by_source_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    iters: int = ITERS,
) -> str:
    return f"""
    WITH {_scored_ctes(table, text_col, id_col, iters)}
    SELECT d.{source_col},
           CAST(count(*) AS BIGINT) AS n_docs,
           {floor_round_sql(
               "CAST(sum(CASE WHEN s.mu > 0 THEN 1 ELSE 0 END) AS DOUBLE)"
               " / count(*)", 6)} AS keep_rate,
           {floor_round_sql("CAST(sum(s.y) AS DOUBLE) / count(*)", 6)} AS label_pos_rate,
           {floor_round_sql(
               "CAST(sum(CASE WHEN (s.mu > 0) = (s.y = 1) THEN 1 ELSE 0 END)"
               " AS DOUBLE) / count(*)", 6)} AS accuracy,
           {floor_round_sql(
               f"CAST(sum(s.p) AS DOUBLE) / (count(*) * CAST({_U} AS DOUBLE))", 6)} AS mean_conf
    FROM scored s JOIN {table} d USING ({id_col})
    GROUP BY d.{source_col}
    ORDER BY d.{source_col}
    """


def classifier_auc_by_source(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    trained: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    scored: DataFrame | None = None,
) -> DataFrame:
    """ROC-AUC per source — the discriminative half of the filter-bias
    audit: keep_rate says how much of a domain the filter drops,
    per-source AUC says whether the model can even RANK that domain's
    documents (an AUC near 0.5 on one source means the filter is a
    coin flip there however the threshold moves). Same exact-integer
    Mann-Whitney rank-sum as the global audit (``_auc_by``), its
    prefix-sum windows partitioned by (source, bucket)."""
    scored = scored if scored is not None else _scored(df, text_col, id_col, trained)
    src = df.select(F.col(id_col), F.col(source_col).alias("_src"))
    return (
        _auc_by(scored.join(src, id_col), ("_src",))
        .withColumnRenamed("_src", source_col)
        .orderBy(source_col)
    )


def classifier_auc_by_source_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    iters: int = ITERS,
) -> str:
    return f"""
    WITH {_scored_ctes(table, text_col, id_col, iters)},
    gm AS (
      SELECT d.{source_col} AS src, s.mu,
             sum(s.y) AS c_pos, sum(1 - s.y) AS c_neg
      FROM scored s JOIN {table} d USING ({id_col})
      GROUP BY d.{source_col}, s.mu),
    cum AS (
      SELECT src, c_pos, c_neg,
             coalesce(sum(c_neg) OVER (PARTITION BY src ORDER BY mu ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn
      FROM gm),
    agg AS (
      SELECT src, CAST(sum(c_pos) AS BIGINT) AS n_pos,
             CAST(sum(c_neg) AS BIGINT) AS n_neg,
             coalesce(sum(CAST(c_pos AS HUGEINT) * (2 * cn + c_neg)), 0) AS num2
      FROM cum GROUP BY src)
    SELECT src AS {source_col}, n_pos, n_neg,
           {floor_round_sql(
               "CAST(num2 AS DOUBLE) / (CASE WHEN n_pos = 0 OR n_neg = 0"
               " THEN NULL ELSE 2.0 * n_pos * n_neg END)", 6)} AS auc
    FROM agg ORDER BY src
    """
