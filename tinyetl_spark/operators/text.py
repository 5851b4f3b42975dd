"""Text-analysis operators over a document table.

Everything here is built from built-in ``pyspark.sql.functions`` so the
whole pipeline stays inside whole-stage codegen — no Python in the hot
path. Each operator has a DuckDB-SQL twin (for the correctness oracle)
generated from the same constants, so the two cannot drift.

Reference parity: the reference has no text analytics (SURVEY.md §2 —
its only row transforms are Lua expressions); these are the
training-data-pipeline extensions required by the north star.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tinyetl_spark.functions.hashing import hash64_col, hash64_sql, hash128_col, hash128_sql
from tinyetl_spark.operators.relational import ordered_prefix

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. Deterministic and SQL-expressible in both engines.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "to"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "los", "que", "es", "y"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS: tuple[str, ...] = LANG_MARKERS["en"] + ("a", "in", "it", "that", "for")

# BPE-ish word/number/symbol tokenizer (shared regex, works in both
# engines' regex dialects).
TOKEN_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def words_col(text: Column | str) -> Column:
    """Whitespace tokenization (matches DuckDB regexp_split_to_array)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def words_sql(expr: str = "text") -> str:
    return f"regexp_split_to_array(trim({expr}), '\\s+')"


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens + chars."""
    return df.select(
        F.col(id_col),
        F.size(words_col(text_col)).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0)).cast("bigint").alias("n_tokens"),
        F.length(text_col).cast("bigint").alias("n_chars_m"),
    )


def token_stats_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    return f"""
    SELECT {id_col},
           len({words_sql(text_col)}) AS n_words,
           len(regexp_extract_all({text_col}, '{TOKEN_RE}')) AS n_tokens,
           length({text_col}) AS n_chars_m
    FROM {table}
    """


def floor_round(c: Column, nd: int) -> Column:
    """Arithmetic half-up rounding via floor(x*10^nd + 0.5)/10^nd —
    pure IEEE ops, bit-identical in every engine. Use instead of
    ``F.round`` when the value can land EXACTLY on a half-way point
    (sums/weighted combos of terminating decimals): the engines'
    ``round`` builtins disagree there (Spark rounds the shortest
    decimal repr half-up, DuckDB rounds the binary value)."""
    scale = float(10**nd)
    return F.floor(c * scale + F.lit(0.5)) / scale


def floor_round_sql(expr: str, nd: int) -> str:
    scale = 10**nd
    return f"floor(({expr}) * {scale} + 0.5) / {scale}"


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality signals: word count, mean word length, stopword
    ratio, alpha ratio, and a combined score. All ratios rounded to 6
    decimals so float fold-order differences can't flip the oracle."""
    # counts materialize in their own projection — every ratio below
    # references them, and inlined they'd re-evaluate the split/regex
    # per reference (HOF re-evaluation trap)
    w = words_col(text_col)
    base = df.select(
        F.col(id_col),
        F.size(w).alias("_nw"),
        F.size(F.filter(w, lambda x: x.isin(*STOPWORDS))).alias("_ns"),
        F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", "")).alias("_na"),
        F.length(F.col(text_col)).alias("_nc"),
    )
    n_words, n_stop = F.col("_nw"), F.col("_ns")
    n_alpha, n_chars = F.col("_na"), F.col("_nc")
    mean_wl = (n_alpha / n_words).cast("double")
    stop_ratio = (n_stop / n_words).cast("double")
    alpha_ratio = (n_alpha / n_chars).cast("double")
    score = (
        F.when(n_words < 5, F.lit(0.0))
        .otherwise(
            F.least(F.lit(1.0), n_words / F.lit(100.0)) * 0.4
            + F.least(F.lit(1.0), stop_ratio * 5.0) * 0.3
            + alpha_ratio * 0.3
        )
        .cast("double")
    )
    return base.select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        # the composite is a weighted sum of terminating decimals — it
        # CAN land exactly on a half-way point, where the engines'
        # round() builtins disagree; the plain ratios above cannot
        # (they either terminate within 6dp or repeat forever)
        floor_round(score, 6).alias("quality"),
    )


def quality_score_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    w = words_sql(text_col)
    quality_round = floor_round_sql(
        """CASE WHEN n_words < 5 THEN 0.0 ELSE
             least(1.0, n_words / 100.0) * 0.4
             + least(1.0, (CAST(n_stop AS DOUBLE) / n_words) * 5.0) * 0.3
             + (CAST(n_alpha AS DOUBLE) / n_chars) * 0.3 END""",
        6,
    )
    return f"""
    WITH base AS (
      SELECT {id_col},
             len({w}) AS n_words,
             len(list_filter({w}, x -> x IN ({stop_list}))) AS n_stop,
             length(regexp_replace({text_col}, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length({text_col}) AS n_chars
      FROM {table})
    SELECT {id_col},
           n_words,
           round(CAST(n_alpha AS DOUBLE) / n_words, 6) AS mean_word_len,
           round(CAST(n_stop AS DOUBLE) / n_words, 6) AS stopword_ratio,
           round(CAST(n_alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio,
           {quality_round} AS quality
    FROM base
    """


def language_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Marker-word language ID: count marker hits per language, take the
    argmax (ties broken by fixed language order), 'und' when no hits.

    The words array and the per-language hit array are materialized as
    their own projection steps: the hit counts reference the split 5
    times and the argmax references the hit array 3 times — inlined,
    each reference re-evaluates the whole upstream expression (the HOF
    re-evaluation trap; was a 4x slowdown). array_position takes the
    FIRST occurrence of the max = earliest language wins, the same
    tie-break as the oracle's in-order strictly-greater scan."""

    def marker_filter(markers: tuple[str, ...]):
        # closure factory (default-arg lambdas break HOF arity detection)
        return lambda x: x.isin(*markers)

    base = df.select(
        F.col(id_col),
        F.col("lang").alias("lang_true"),
        words_col(text_col).alias("_w"),
    )
    hits = base.withColumn(
        "_h",
        F.array(
            *[
                F.size(F.filter(F.col("_w"), marker_filter(markers)))
                for markers in LANG_MARKERS.values()
            ]
        ),
    )
    langs = F.array(*[F.lit(lang) for lang in LANG_MARKERS])
    return hits.select(
        F.col(id_col),
        "lang_true",
        F.when(
            F.array_max("_h") > 0,
            F.element_at(langs, F.array_position(F.col("_h"), F.array_max("_h")).cast("int")),
        )
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
    )


def language_id_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    w = words_sql(text_col)
    hits = ",\n             ".join(
        f"len(list_filter({w}, x -> x IN ({', '.join(chr(39) + m + chr(39) for m in markers)}))) AS h_{lang}"
        for lang, markers in LANG_MARKERS.items()
    )
    # same scan-in-order argmax with strictly-greater replacement
    lang_expr, hits_expr = "'und'", "0"
    for lang in LANG_MARKERS:
        lang_expr = f"CASE WHEN h_{lang} > ({hits_expr}) THEN '{lang}' ELSE {lang_expr} END"
        hits_expr = f"CASE WHEN h_{lang} > ({hits_expr}) THEN h_{lang} ELSE {hits_expr} END"
    return f"""
    WITH base AS (
      SELECT {id_col}, lang AS lang_true,
             {hits}
      FROM {table})
    SELECT {id_col}, lang_true, {lang_expr} AS lang_pred
    FROM base
    """


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", top_k: int = 3
) -> DataFrame:
    """Top-k terms per document by tf-idf (idf = ln(N / df_t)).

    This is the one text operator that is INHERENTLY corpus-level: the
    explode→groupBy over (doc, term) is the inverted-index shuffle, and
    there is no per-row shortcut — at 100 TB this is exactly the
    shuffle you pay to build a term index, with map-side combine
    halving it. The tiny df_t table broadcasts back onto term counts.
    Ties broken lexicographically for determinism.
    """
    from pyspark.sql import Window

    n_docs = df.count()  # scalar, computed once (driver int, not a collect of rows)
    words = df.select(F.col(id_col), F.explode(words_col(text_col)).alias("term"))
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    scored = tf.join(F.broadcast(dft), "term").select(
        F.col(id_col),
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_t")), 6).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(id_col, "term", "tfidf", F.col("rk").cast("bigint").alias("rk"))
    )


def tfidf_top_terms_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id", top_k: int = 3
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH words_t AS (SELECT {id_col}, unnest({w}) AS term FROM {table}),
    tf AS (SELECT {id_col}, term, count(*) AS tf FROM words_t GROUP BY 1, 2),
    dft AS (SELECT term, count(DISTINCT {id_col}) AS df_t FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM {table}),
    scored AS (
      SELECT tf.{id_col}, tf.term,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dft.df_t), 6) AS tfidf
      FROM tf JOIN dft USING (term) CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY {id_col}
                                   ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored)
    SELECT {id_col}, term, tfidf, rk FROM ranked WHERE rk <= {top_k}
    """


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into overlapping fixed-width chunks (the
    context-window prep step of an LLM ingestion pipeline): chunk i
    covers characters ``[i*stride, i*stride + chunk_chars)`` with
    ``stride = chunk_chars - overlap``; the last chunk starts at or
    before ``len - chunk_chars`` so nothing is dropped.

    posexplode runs inside codegen (Generate operator, no Python) and
    the per-doc chunk count is ~len/stride, so a doc's chunks land in
    the same scan task — no shuffle at all. Emits (doc_id, chunk_idx,
    chunk_text)."""
    stride = chunk_chars - overlap
    n = F.length(F.col(text_col))
    # number of chunks: 1 + ceil(max(0, n - chunk_chars) / stride)
    n_chunks = (
        F.lit(1)
        + F.ceil(F.greatest(n - chunk_chars, F.lit(0)) / F.lit(stride)).cast("int")
    )
    base = df.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.sequence(F.lit(0), n_chunks - 1).alias("_idx"),
    )
    return base.select(
        id_col,
        "_t",
        F.posexplode("_idx").alias("chunk_idx", "_i"),
    ).select(
        id_col,
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.expr(f"substring(_t, chunk_idx * {stride} + 1, {chunk_chars})").alias(
            "chunk_text"
        ),
    )


def chunk_documents_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 200,
    overlap: int = 50,
) -> str:
    stride = chunk_chars - overlap
    return f"""
    SELECT {id_col},
           ci AS chunk_idx,
           substring({text_col}, CAST(ci * {stride} + 1 AS BIGINT), {chunk_chars}) AS chunk_text
    FROM (
      SELECT {id_col}, {text_col},
             unnest(range(0,
                 1 + CAST(ceil(greatest(length({text_col}) - {chunk_chars}, 0)
                               / {stride}.0) AS BIGINT))) AS ci
      FROM {table})
    """


def hash_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    pct: int = 10,
    buckets: int = 100,
    salt: str = "sample",
) -> DataFrame:
    """Deterministic hash-based sampling: keep rows whose salted id
    hash falls in the first ``pct`` of ``buckets`` — the reproducible
    alternative to ``df.sample()`` (engine-RNG, changes with partition
    layout) for train/test splits and sampled dev corpora. The same
    (salt, pct) always selects the SAME documents on any engine or
    cluster layout; disjoint splits come from complementary ranges of
    the same salt. Pure codegen expression next to the scan — at 100 TB
    sampling happens before any shuffle."""
    keyed = hash64_col(F.col(id_col).cast("string"), seed=salt)
    return df.filter(keyed % buckets < pct)


def hash_sample_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    pct: int = 10,
    buckets: int = 100,
    salt: str = "sample",
) -> str:
    keyed = hash64_sql(f"CAST({id_col} AS VARCHAR)", seed=salt)
    return f"SELECT * FROM {table} WHERE {keyed} % {buckets} < {pct}"


def leakage_safe_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (90, 5, 5),
    salt: str = "split",
) -> DataFrame:
    """Group-leakage-safe train/val/test split: the split key is the
    EXACT-DEDUP FINGERPRINT of the normalized text (hash128, the same
    key ``exact_dedup`` groups on), not the row id — so every copy of
    a duplicated document lands in the SAME split and a val/test
    example can never be a verbatim copy of a training example (the
    classic eval-contamination bug of id-hash splits on deduplicated-
    in-name-only corpora). Splits are disjoint bucket ranges of a
    salted hash of the fingerprint: deterministic on any engine or
    partition layout.

    Returns the per-split summary (split, n_docs, n_fingerprints,
    leaked_fingerprints) ordered by split — ``leaked_fingerprints``
    counts fingerprints that appear in MORE THAN ONE split and is 0 by
    construction; the column exists so the guarantee is a measured
    number in the output, not a docstring claim. (Near-dup-group
    splitting is the same operator with the fingerprint swapped for
    the connected-component cluster id from ``dedup_clusters``.)

    Scale shape: one fingerprint projection at the scan, one
    split-keyed aggregation, one fingerprint-keyed distinct for the
    leak audit — two shuffles, both map-side combined, no windows."""
    w_train, w_val, _w_test = weights
    buckets = sum(weights)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    b = hash64_col(hash128_col(norm), seed=salt) % buckets
    split = (
        F.when(b < w_train, F.lit("train"))
        .when(b < w_train + w_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    assign = df.select(
        F.col(id_col), hash128_col(norm).alias("fp"), split.alias("split")
    )
    summary = assign.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("fp").cast("bigint").alias("n_fingerprints"),
    )
    fp_splits = assign.select("fp", "split").distinct()
    multi = (
        fp_splits.groupBy("fp")
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("fp")
    )
    leak = (
        fp_splits.join(multi, "fp")
        .groupBy("split")
        .agg(F.countDistinct("fp").cast("bigint").alias("leaked"))
    )
    return (
        summary.join(leak, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_fingerprints",
            F.coalesce(F.col("leaked"), F.lit(0).cast("bigint")).alias(
                "leaked_fingerprints"
            ),
        )
        .orderBy("split")
    )


def leakage_safe_split_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (90, 5, 5),
    salt: str = "split",
) -> str:
    w_train, w_val, _w_test = weights
    buckets = sum(weights)
    norm = f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    fp = hash128_sql(norm)
    b = f"({hash64_sql(fp, seed=salt)} % {buckets})"
    return f"""
    WITH assign AS (
      SELECT {id_col}, {fp} AS fp,
             CASE WHEN {b} < {w_train} THEN 'train'
                  WHEN {b} < {w_train + w_val} THEN 'val'
                  ELSE 'test' END AS split
      FROM {table}),
    summary AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints
      FROM assign GROUP BY split),
    fp_splits AS (SELECT DISTINCT fp, split FROM assign),
    multi AS (
      SELECT fp FROM fp_splits GROUP BY fp HAVING count(DISTINCT split) > 1),
    leak AS (
      SELECT split, CAST(count(DISTINCT fp) AS BIGINT) AS leaked
      FROM fp_splits JOIN multi USING (fp) GROUP BY split)
    SELECT s.split, s.n_docs, s.n_fingerprints,
           CAST(coalesce(l.leaked, 0) AS BIGINT) AS leaked_fingerprints
    FROM summary s LEFT JOIN leak l USING (split)
    ORDER BY s.split
    """


def split_ngram_leakage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (90, 5, 5),
    salt: str = "split",
    k: int | None = None,
) -> DataFrame:
    """Post-split NEAR-verbatim leakage audit: the fingerprint split
    (``leakage_safe_split``) guarantees verbatim copies share a split,
    but a val/test document that is a near-copy of a training document
    (edited boilerplate, shuffled paragraphs) still leaks evaluation
    signal. Per val/test doc, count its distinct k-word shingles also
    present in ANY training doc — the GPT-3-style n-gram contamination
    check run against the pipeline's own split instead of an external
    benchmark. Output: (doc_id, split, n_shingles, n_leaked,
    leak_frac, flagged) with flagged = leak_frac >= 0.2 (integer-
    compared as n_leaked * 5 >= n_shingles — no float threshold).

    Scale shape: split assignment is an in-row hash (no join back to
    the split summary); both sides then meet in ONE shingle-keyed
    equi-join — the train side pre-collapsed to DISTINCT shingles with
    map-side combine, the eval side ~10% of the corpus. When the eval
    set is benchmark-sized rather than a split, broadcast it like
    ``decontam_overlap`` and the training corpus is never shuffled."""
    k = DECONTAM_K if k is None else k
    w_train, w_val, _w_test = weights
    buckets = sum(weights)
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    b = hash64_col(hash128_col(norm), seed=salt) % buckets
    split = (
        F.when(b < w_train, F.lit("train"))
        .when(b < w_train + w_val, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    ws = df.select(
        F.col(id_col), split.alias("split"), words_col(text_col).alias("_ws")
    ).filter(F.size("_ws") >= k)
    sh = ws.select(
        F.col(id_col), "split", F.explode(_shingle_col("_ws", k)).alias("s")
    )
    eval_sh = sh.filter(F.col("split") != "train")
    train_sh = sh.filter(F.col("split") == "train").select("s").distinct()
    per_doc = eval_sh.groupBy(id_col, "split").agg(
        F.count_distinct("s").cast("bigint").alias("n_shingles")
    )
    leaked = (
        eval_sh.select(id_col, "split", "s")
        .distinct()
        .join(train_sh, "s")
        .groupBy(id_col, "split")
        .agg(F.count_distinct("s").cast("bigint").alias("n_leaked"))
    )
    nl = F.coalesce(F.col("n_leaked"), F.lit(0).cast("bigint"))
    return per_doc.join(leaked, [id_col, "split"], "left").select(
        F.col(id_col),
        "split",
        "n_shingles",
        nl.alias("n_leaked"),
        F.round((nl / F.col("n_shingles")).cast("double"), 6).alias("leak_frac"),
        (nl * 5 >= F.col("n_shingles")).alias("flagged"),
    )


def split_ngram_leakage_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (90, 5, 5),
    salt: str = "split",
    k: int | None = None,
) -> str:
    k = DECONTAM_K if k is None else k
    w_train, w_val, _w_test = weights
    buckets = sum(weights)
    w = words_sql(text_col)
    norm = f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    fp = hash128_sql(norm)
    b = f"({hash64_sql(fp, seed=salt)} % {buckets})"
    return f"""
    WITH ws AS (
      SELECT {id_col},
             CASE WHEN {b} < {w_train} THEN 'train'
                  WHEN {b} < {w_train + w_val} THEN 'val'
                  ELSE 'test' END AS split,
             {w} AS arr
      FROM {table}
      WHERE len({w}) >= {k}),
    sh AS (
      SELECT {id_col}, split,
             unnest(list_transform(range(1, len(arr) - {k - 1} + 1),
                                   i -> array_to_string(arr[i:i+{k - 1}], ' '))) AS s
      FROM ws),
    tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'),
    per_doc AS (
      SELECT {id_col}, split, CAST(count(DISTINCT s) AS BIGINT) AS n_shingles
      FROM sh WHERE split <> 'train' GROUP BY {id_col}, split),
    leaked AS (
      SELECT e.{id_col}, e.split, CAST(count(DISTINCT e.s) AS BIGINT) AS n_leaked
      FROM (SELECT DISTINCT {id_col}, split, s FROM sh WHERE split <> 'train') e
      JOIN tr USING (s)
      GROUP BY e.{id_col}, e.split)
    SELECT p.{id_col}, p.split, p.n_shingles,
           CAST(coalesce(l.n_leaked, 0) AS BIGINT) AS n_leaked,
           round(CAST(coalesce(l.n_leaked, 0) AS DOUBLE) / p.n_shingles, 6) AS leak_frac,
           coalesce(l.n_leaked, 0) * 5 >= p.n_shingles AS flagged
    FROM per_doc p LEFT JOIN leaked l
      ON p.{id_col} = l.{id_col} AND p.split = l.split
    """


# hash64 values lie in [0, 2^60); (h + 1) / 2^60 is a uniform in (0, 1]
_PRI_POW2_60 = float(1 << 60)


def priority_sample(
    df: DataFrame,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "psample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield, Lund & Thorup 2007, "Priority sampling for estimation of
    arbitrary subset sums"): each row gets priority q = w / u with
    u ~ Uniform(0, 1]; the k largest-priority rows are the sample, and
    tau — the (k+1)-th priority (0 when n <= k) — gives the unbiased
    per-row estimator w_hat = max(w, tau): E[sum of w_hat over sampled
    members of S] = sum of w over S for ANY subset S. The length-biased
    complement to hash_sample's uniform selection — long documents
    (more training tokens) are proportionally more likely to be kept.

    Deterministic and engine-portable: u = (hash64(id, salt) + 1)/2^60,
    and q = w / u uses only IEEE-correctly-rounded double ops (int cast,
    add, two divides — no RNG, no transcendentals), so Spark and DuckDB
    produce BIT-IDENTICAL priorities and the oracle hash-matches without
    any defensive rounding; min/greatest over identical doubles are
    order-free.

    Plan shape at 100 TB: the priority is a codegen expression beside
    the scan; orderBy(q).limit(k+1) compiles to TakeOrderedAndProject
    (per-partition top-(k+1) heaps, then a (k+1)-row merge — the corpus
    is scanned ONCE and never sorted or shuffled); tau and the final
    top-k cut are windows over the surviving k+1 rows, so the
    single-partition window is bounded by construction."""
    h = hash64_col(F.col(id_col).cast("string"), seed=salt)
    u = (h.cast("double") + F.lit(1.0)) / F.lit(_PRI_POW2_60)
    w = F.length(text_col).cast("bigint")
    pri = df.select(
        F.col(id_col),
        w.alias("weight"),
        (w.cast("double") / u).alias("_q"),
    )
    sel = pri.orderBy(F.desc("_q"), F.asc(id_col)).limit(k + 1)
    order = Window.orderBy(F.desc("_q"), F.asc(id_col))
    everything = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = sel.select(
        id_col,
        "weight",
        "_q",
        F.row_number().over(order).alias("_rn"),
    )
    # tau = the (k+1)-th priority; absent (n <= k) it is 0 and every
    # sampled row keeps its own weight
    with_tau = ranked.select(
        id_col,
        "weight",
        "_rn",
        F.coalesce(
            F.max(F.when(F.col("_rn") == k + 1, F.col("_q"))).over(everything),
            F.lit(0.0),
        ).alias("_tau"),
    )
    return with_tau.filter(F.col("_rn") <= k).select(
        id_col,
        "weight",
        F.greatest(F.col("weight").cast("double"), F.col("_tau")).alias("w_hat"),
    )


def priority_sample_sql(
    table: str = "documents",
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "psample",
) -> str:
    h = hash64_sql(f"CAST({id_col} AS VARCHAR)", seed=salt)
    return f"""
    WITH pri AS (
      SELECT {id_col},
             CAST(length({text_col}) AS BIGINT) AS weight,
             CAST(length({text_col}) AS DOUBLE)
               / ((CAST({h} AS DOUBLE) + 1.0) / {_PRI_POW2_60!r}) AS q
      FROM {table}),
    sel AS (
      SELECT * FROM pri ORDER BY q DESC, {id_col} ASC LIMIT {k + 1}),
    tau AS (
      SELECT CASE WHEN COUNT(*) > {k} THEN MIN(q) ELSE 0.0 END AS tau
      FROM sel)
    SELECT {id_col}, weight,
           greatest(CAST(weight AS DOUBLE), tau) AS w_hat
    FROM (SELECT * FROM sel ORDER BY q DESC, {id_col} ASC LIMIT {k})
    CROSS JOIN tau
    """


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: full 128-bit md5 of the normalized text
    (lowered, whitespace-collapsed) — the exact-dedup identity key at
    scale (60 bits false-merges at ~1.5e9 docs; 128 does not)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.select(F.col(id_col), hash128_col(norm).alias("fingerprint"))


def fingerprint_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    norm = f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    return f"SELECT {id_col}, {hash128_sql(norm)} AS fingerprint FROM {table}"


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition signals per document: word count,
    distinct-word count/ratio, and the fraction of the document taken by
    its single most frequent word. High top_word_frac / low
    distinct_ratio flags boilerplate and degenerate repetition — a
    standard pre-training quality filter.

    Plan: explode → two-phase aggregation. The explode+groupBy IS the
    honest per-(doc,word) shuffle (partial counts combine map-side);
    the second aggregation is per-doc and rides the same partitioning
    opportunity. No Python anywhere."""
    w = df.select(F.col(id_col), F.explode(words_col(text_col)).alias("word"))
    wc = w.groupBy(id_col, "word").agg(F.count("*").alias("c"))
    return wc.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_distinct"),
        F.round(F.count("*") / F.sum("c"), 6).alias("distinct_ratio"),
        F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"),
    )


def repetition_stats_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    w = words_sql(text_col)
    return f"""
    WITH exploded AS (
        SELECT {id_col}, unnest({w}) AS word FROM {table}),
    wc AS (
        SELECT {id_col}, word, COUNT(*) AS c FROM exploded GROUP BY 1, 2)
    SELECT {id_col},
           CAST(SUM(c) AS BIGINT) AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           round(COUNT(*) / SUM(c), 6) AS distinct_ratio,
           round(MAX(c) / SUM(c), 6) AS top_word_frac
    FROM wc GROUP BY {id_col}
    """


DECONTAM_K = 5       # words per shingle
DECONTAM_MOD = 97    # doc_id % MOD == 0 ⇒ held-out "benchmark" doc


def _shingle_col(ws: str, k: int) -> F.Column:
    """k-word shingles of an array column (codegen HOF, no Python)."""
    return F.expr(
        f"transform(sequence(1, size({ws}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({ws}, i, {k})))"
    )


def decontam_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DECONTAM_K,
    mod: int = DECONTAM_MOD,
) -> DataFrame:
    """Test-set decontamination: flag training documents sharing any
    k-word shingle with the held-out set (doc_id % mod == 0 stands in
    for the benchmark corpus). Output: (doc_id, n_overlap) for
    contaminated training docs, n_overlap = # distinct shared shingles.

    Scale shape: the held-out side (benchmarks are ~1e5 docs, not 1e9)
    collapses to DISTINCT shingles and is BROADCAST — the training
    corpus is never shuffled, each scan task probes the in-memory hash
    set, then one groupBy on the (small) contaminated survivors."""
    ws = df.select(
        F.col(id_col), words_col(text_col).alias("_ws")
    ).filter(F.size("_ws") >= k)
    sh = ws.select(F.col(id_col), F.explode(_shingle_col("_ws", k)).alias("s"))
    eval_sh = (
        sh.filter(F.col(id_col) % mod == 0).select("s").distinct()
    )
    train = sh.filter(F.col(id_col) % mod != 0)
    return (
        train.join(F.broadcast(eval_sh), "s")
        .groupBy(id_col)
        .agg(F.count_distinct("s").alias("n_overlap"))
    )


def decontam_overlap_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = DECONTAM_K,
    mod: int = DECONTAM_MOD,
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH ws AS (
        SELECT {id_col}, {w} AS arr FROM {table}
        WHERE len({w}) >= {k}),
    sh AS (
        SELECT {id_col},
               unnest(list_transform(range(1, len(arr) - {k - 1} + 1),
                                     i -> array_to_string(arr[i:i+{k - 1}], ' '))) AS s
        FROM ws),
    ev AS (SELECT DISTINCT s FROM sh WHERE {id_col} % {mod} = 0)
    SELECT sh.{id_col}, COUNT(DISTINCT sh.s) AS n_overlap
    FROM sh JOIN ev ON sh.s = ev.s
    WHERE sh.{id_col} % {mod} <> 0
    GROUP BY sh.{id_col}
    """


# ------------------------------------------- PII redaction

# Patterns restricted to syntax Java regex and RE2 (DuckDB) evaluate
# identically: classes, bounded repeats, \b — no backrefs, no lookarounds.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "<PHONE>"),
    (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Replace emails / phone numbers / IPv4 addresses with typed
    placeholder tokens — the standard pre-training scrub pass. A chain
    of native ``regexp_replace`` calls: whole-stage codegen next to the
    scan, zero shuffle, zero Python — at 100 TB this runs at parquet
    scan speed. Pattern order matters only in that emails are stripped
    before the bare-number patterns can see their digit runs."""
    out = F.col(text_col)
    for pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return df.withColumn(text_col, out)


def pii_redact_sql_expr(expr: str) -> str:
    """DuckDB expression twin of :func:`pii_redact` (RE2 needs the
    explicit 'g' flag; Spark replaces globally by default; DuckDB
    single-quoted literals pass backslashes through untouched)."""
    for pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    return expr


# ------------------------------------------- stratified sampling

def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    rates: dict[str, int] | None = None,
    default_pct: int = 10,
    id_col: str = "doc_id",
    buckets: int = 100,
    salt: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep a row iff its salted id
    hash bucket falls under the stratum's percentage — how a training
    mix is rebalanced (e.g. keep 60% of English, 10% of everything
    else) WITHOUT the non-reproducibility of ``df.sampleBy`` (engine
    RNG, changes with partition layout). Same scale shape as
    :func:`hash_sample`: a pure codegen filter at the scan, applied
    before any shuffle, trivially reproducible across engines and
    cluster layouts."""
    rates = rates or {}
    keyed = hash64_col(F.col(id_col).cast("string"), seed=salt) % buckets
    rate = F.lit(default_pct)
    for value, pct in rates.items():
        rate = F.when(F.col(strata_col) == value, F.lit(pct)).otherwise(rate)
    return df.filter(keyed < rate)


def stratified_sample_sql(
    table: str = "documents",
    strata_col: str = "lang",
    rates: dict[str, int] | None = None,
    default_pct: int = 10,
    id_col: str = "doc_id",
    buckets: int = 100,
    salt: str = "strat",
) -> str:
    rates = rates or {}
    keyed = hash64_sql(f"CAST({id_col} AS VARCHAR)", seed=salt)
    whens = " ".join(
        f"WHEN {strata_col} = '{v}' THEN {p}" for v, p in rates.items()
    )
    rate = f"CASE {whens} ELSE {default_pct} END" if whens else str(default_pct)
    return f"SELECT * FROM {table} WHERE {keyed} % {buckets} < ({rate})"


# ------------------------------------------- winnowing fingerprints

WINNOW_K = 5   # char k-gram size
WINNOW_W = 4   # winnowing window (guarantee: any match >= k+w-1 chars shares a fp)
# base-257 positional gram code, NO modulus: 5 codes < 2^21 each give a
# value < 2^55 — exact in int64 in BOTH engines, and INJECTIVE (zero
# collisions) whenever every char code < 257, i.e. all Latin-1 text;
# wider codepoints merely degrade to a good hash. Strictly stronger
# than the truncated-md5 formulation it replaced, and pure codegen
# arithmetic (no crypto hash, no hex parsing, no inner fold lambda).
_WIN_B = 257


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """MOSS-style winnowing (Schleimer et al., "Winnowing: Local
    Algorithms for Document Fingerprinting"): hash every char k-gram of
    the normalized text (the rolling-hash sequence), slide a w-window
    over the hash sequence, keep each window's MINIMUM — the selected
    distinct hashes are the document's fingerprints. Guarantees any
    substring match of length >= k+w-1 contributes a shared
    fingerprint, at ~1/w the storage of full shingling.

    All HOFs over in-row arrays: zero shuffle, zero Python — each
    intermediate array is materialized in its own projection first,
    because lambda HOFs RE-EVALUATE shared subexpressions per reference
    (the repo's documented codegen trap). Gram hashes are the base-257
    positional value of the k char codes — 5 array gets + 4 mul/adds of
    straight-line arithmetic per gram, no inner fold lambda, collision-
    FREE on Latin-1 text (see _WIN_B note); an md5-per-position
    formulation measured ~2x slower with only 60 hash bits. Output
    exploded as (doc_id, fp) rows — join-ready, the shape a
    plagiarism/overlap index wants."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(F.col(id_col), norm.alias("_t")).filter(
        F.length("_t") >= k
    )
    coded = base.select(
        F.col(id_col),
        F.transform(F.split(F.col("_t"), ""), lambda ch: F.ascii(ch).cast("bigint")).alias("_c"),
    )

    def _gram(i):
        acc = F.get(F.col("_c"), i - 1)  # F.get is 0-based, i is 1-based
        for j in range(1, k):
            acc = acc * _WIN_B + F.get(F.col("_c"), i - 1 + j)
        return acc

    grams = coded.withColumn(
        "_g",
        F.transform(F.sequence(F.lit(1), F.size("_c") - k + 1), _gram),
    )
    wins = grams.withColumn(
        "_w",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("_g") - w + 1, F.lit(1))),
            lambda j: F.array_min(F.slice(F.col("_g"), j, w)),
        ),
    )
    return wins.select(
        F.col(id_col), F.explode(F.array_distinct("_w")).alias("fp")
    )


def winnow_fingerprints_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> str:
    norm = f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    gram = f"c[i]"
    for j in range(1, k):
        gram = f"({gram}) * {_WIN_B} + c[i+{j}]"
    return f"""
    WITH base AS (
      SELECT {id_col}, {norm} AS t FROM {table}
      WHERE length({norm}) >= {k}),
    coded AS (
      SELECT {id_col},
             list_transform(string_split(t, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS c
      FROM base),
    grams AS (
      SELECT {id_col},
             list_transform(range(1, len(c) - {k} + 2),
                 i -> {gram}) AS g
      FROM coded),
    wins AS (
      SELECT {id_col},
             list_transform(range(1, greatest(len(g) - {w} + 1, 1) + 1),
                 j -> list_aggregate(g[j:j+{w - 1}], 'min')) AS wmins
      FROM grams)
    SELECT {id_col}, unnest(list_distinct(wmins)) AS fp FROM wins
    """


# ------------------------------------------------------------- bm25

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k terms per document by BM25 (Robertson/Sparck Jones idf,
    ``ln((N - df + 0.5)/(df + 0.5) + 1)``) — tf-idf's production
    successor: the ``k1`` saturation stops a term's score growing
    linearly with repetition, and ``b`` normalizes away document
    length, both of which matter for training-data relevance ranking
    where document lengths are wildly skewed.

    Same corpus-level shape as tf-idf: the explode→groupBy over
    (doc, term) is the honest inverted-index shuffle (map-side combine
    halves it), the tiny per-term df table broadcasts back, and avgdl
    is a single driver scalar. Ties broken lexicographically; scores
    rounded to 6dp so both engines' ln agree bit-for-bit."""
    from pyspark.sql import Window

    n_docs = df.count() or 1  # empty corpus: plan still builds, yields 0 rows
    words = df.select(F.col(id_col), F.explode(words_col(text_col)).alias("term"))
    # cut lineage: tf feeds dl, the avgdl scalar job, dft, and the final
    # scored plan — the explode+groupBy shuffle must run once, not four times
    tf = words.groupBy(id_col, "term").agg(F.count("*").alias("tf")).localCheckpoint(eager=False)
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    # exact long sum / exact long count -> the same double in any engine
    avgdl = dl.agg((F.sum("dl") / F.count("*")).alias("a")).collect()[0]["a"]
    if avgdl is None:  # empty corpus
        avgdl = 1.0
    dft = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0
    )
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .join(dl, id_col)
        .select(
            F.col(id_col),
            "term",
            F.round(idf * F.col("tf") * (k1 + 1.0) / norm, 6).alias("bm25"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("bm25"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_k)
        .select(id_col, "term", "bm25", F.col("rk").cast("bigint").alias("rk"))
    )


def bm25_top_terms_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH words_t AS (SELECT {id_col}, unnest({w}) AS term FROM {table}),
    tf AS (SELECT {id_col}, term, count(*) AS tf FROM words_t GROUP BY 1, 2),
    dl AS (SELECT {id_col}, sum(tf) AS dl FROM tf GROUP BY 1),
    stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
    dft AS (SELECT term, count(DISTINCT {id_col}) AS df_t FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM {table}),
    scored AS (
      SELECT tf.{id_col}, tf.term,
             round(ln((CAST(n.n_docs AS DOUBLE) - dft.df_t + 0.5)
                      / (dft.df_t + 0.5) + 1.0)
                   * tf.tf * ({k1} + 1.0)
                   / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / stats.avgdl)),
                   6) AS bm25
      FROM tf
      JOIN dft USING (term)
      JOIN dl USING ({id_col})
      CROSS JOIN stats CROSS JOIN n),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY {id_col}
                                   ORDER BY bm25 DESC, term ASC) AS rk
      FROM scored)
    SELECT {id_col}, term, bm25, rk FROM ranked WHERE rk <= {top_k}
    """


# ------------------------------------------------------- char entropy


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram character entropy (bits/char) — the cheap
    quality signal that separates natural text (~4 bits) from
    low-entropy boilerplate/repetition and high-entropy binary noise;
    a standard pretraining-corpus filter alongside length/stopword
    ratios.

    Deliberately IN-ROW, unlike the tf-idf/bm25 shuffle: per-char
    explode→groupBy would shuffle one row per CHARACTER of the corpus
    (catastrophic at 100 TB). Counting is sort + run-length, O(L log L):
    sort the char array, find run starts (where s[i] != s[i-1]), and
    each run's length is the next start minus its own — NOT the naive
    O(L × alphabet) per-distinct-char rescan. All codegen HOFs, zero
    shuffle, zero Python. Every intermediate array is materialized in
    its own projection (lambda HOFs re-evaluate shared subexpressions
    per reference — the repo's documented codegen trap). Run order is
    sort order in both engines, so even the fold order matches."""
    n = F.size(F.col("_s"))
    starts = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == 1) | (F.get(F.col("_s"), i - 1) != F.get(F.col("_s"), i - 2)),
    )
    p = lambda c: c.cast("double") / F.col("_n")  # noqa: E731
    counts = F.transform(
        F.col("_b"),
        lambda s, k: F.coalesce(F.get(F.col("_b"), k + 1), F.col("_n") + 1) - s,
    )
    ent = -F.aggregate(
        F.transform(F.col("_c"), lambda c: p(c) * F.log2(p(c))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        df.filter(F.length(text_col) > 0)
        .select(F.col(id_col), F.array_sort(F.split(F.col(text_col), "")).alias("_s"))
        .select(F.col(id_col), F.col("_s"), n.alias("_n"))
        .select(F.col(id_col), F.col("_n"), starts.alias("_b"))
        .select(F.col(id_col), F.col("_n"), counts.alias("_c"))
        .select(
            F.col(id_col),
            F.round(ent, 6).alias("entropy_bits"),
            F.col("_n").cast("bigint").alias("n_chars_e"),
        )
    )


def char_entropy_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    # string_split(text, '') mirrors Spark split(text, '') per-char;
    # same sort + run-length formulation as the Spark side (run counts
    # are a multiset property, so engine collation differences in the
    # sort cannot change the result)
    return f"""
    WITH base AS (
      SELECT {id_col}, list_sort(string_split({text_col}, '')) AS s,
             length({text_col}) AS n
      FROM {table} WHERE length({text_col}) > 0),
    runs AS (
      SELECT {id_col}, n,
             list_filter(range(1, n + 1), i -> i = 1 OR s[i] != s[i-1]) AS b
      FROM base),
    cnts AS (
      SELECT {id_col}, n,
             list_transform(range(1, len(b) + 1),
                 k -> coalesce(b[k+1], n + 1) - b[k]) AS c
      FROM runs)
    SELECT {id_col},
           round(-list_aggregate(list_transform(c,
                 x -> (CAST(x AS DOUBLE) / n) * log2(CAST(x AS DOUBLE) / n)),
                 'sum'), 6) AS entropy_bits,
           CAST(n AS BIGINT) AS n_chars_e
    FROM cnts
    """


# ------------------------------------------------- training-run prep


def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    buckets: int = 256,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic global shuffle for a training epoch: rank every doc
    by ``md5(seed || id)`` — a pseudo-random permutation that is (a)
    reproducible bit-for-bit across engines, cluster layouts and
    restarts (unlike ``orderBy(rand())``), and (b) re-keyable per epoch
    by bumping ``seed``.

    The rank is ``relational.ordered_prefix`` over the key, bucketed by
    the key's first hex chars (hex order is key order, so ``buckets``
    uniform buckets with no quantile job).

    Emits (id, *carry, shuffle_rank) — ``carry`` columns ride the rank
    shuffle in-row so a consumer that needs them (curation_pipeline)
    does not pay a corpus-sized join to re-attach them (guide §2.4)."""
    hex_chars = max(1, ((buckets - 1).bit_length() + 3) // 4)  # ceil: >= buckets
    key = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
    keyed = df.select(F.col(id_col), *[F.col(c) for c in carry], key.alias("_key"))
    hex_bucket = F.conv(F.substring("_key", 1, hex_chars), 16, 10).cast("int")
    ranked, _ = ordered_prefix(keyed, "_key", False, (id_col,), "_r", bucket=hex_bucket)
    return ranked.select(id_col, *carry, (F.col("_r") + 1).alias("shuffle_rank"))


def epoch_shuffle_sql(
    table: str = "documents", id_col: str = "doc_id", seed: int = 0
) -> str:
    return f"""
    SELECT {id_col},
           row_number() OVER (
               ORDER BY md5('{seed}:' || CAST({id_col} AS VARCHAR)) ASC,
                        {id_col} ASC) AS shuffle_rank
    FROM {table}
    """


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity_tokens: int = 512,
) -> DataFrame:
    """Greedy in-order sequence packing: walking docs in ``id`` order,
    each doc lands in bin ``floor(cum_tokens_before / capacity)`` — the
    context-window packing step that turns a shuffled corpus into
    ~capacity-token training rows (docs longer than a window span
    several; the consumer splits those at window edges).

    The running total is ``relational.ordered_prefix`` over ``id``.
    Emits (id, n_tokens, pack_id)."""
    toks = F.size(words_col(text_col)).cast("bigint")
    base = df.select(F.col(id_col), toks.alias("n_tokens"))
    before, _ = ordered_prefix(base, id_col, False, (), "_lb", weight="n_tokens")
    return before.select(
        id_col,
        "n_tokens",
        F.floor(F.col("_lb") / capacity_tokens).cast("bigint").alias("pack_id"),
    )


def pack_sequences_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity_tokens: int = 512,
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH toks AS (
      SELECT {id_col}, CAST(len({w}) AS BIGINT) AS n_tokens FROM {table})
    SELECT {id_col}, n_tokens,
           CAST(floor(coalesce(sum(n_tokens) OVER (
                    ORDER BY {id_col}
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                / {capacity_tokens}) AS BIGINT) AS pack_id
    FROM toks
    """


# --------------------------------------------- unigram LM quality score

def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 65536,
    words_base: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean unigram log-probability — the cheap stand-in
    for the perplexity filter of CCNet-style pipelines (Wenzek et al.
    2020 score documents with a KenLM model and drop the worst tail;
    a corpus-fit unigram model is the zero-dependency version): noisy
    or out-of-domain text uses rare words and scores low.

    Shape at scale: one explode→groupBy builds the frequency table
    (map-side combined), the model keeps only the ``top_vocab`` most
    frequent words (count desc, word asc — deterministic) so the
    broadcast stays bounded however large the corpus vocabulary gets;
    everything outside the kept vocabulary scores at the 0.5/N floor.
    Per-word log-probs round to 9dp and sum as DECIMAL(38,9), so the
    per-doc mean is summation-order-independent and hashes identically
    on both engines."""
    if words_base is None:
        w = F.explode(words_col(F.lower(F.col(text_col)))).alias("w")
        words = df.select(F.col(id_col), w)
    else:
        # words_base: (id_col, _ws) pre-tokenized arrays — same values
        # as words_col(lower(text)), shared across the LM ladder tiers
        words = words_base.select(F.col(id_col), F.explode("_ws").alias("w"))
    # NOTE (r13, measured): checkpointing freq here to share it between
    # the scalar total and the vocab cap was tried and REVERTED — the
    # persist overhead cost +0.3-0.7 s per consumer at sf0.1
    # (quality_ensemble_docs 2.69 -> 3.45 s) against saving one
    # vocab-sized recompute; the main query's freq subtree is planned
    # once anyway, so only the separate collect job recomputes it.
    freq = words.groupBy("w").agg(F.count("*").alias("cnt"))
    total = int(freq.agg(F.sum("cnt").alias("t")).collect()[0]["t"] or 1)
    vocab = freq.orderBy(F.desc("cnt"), F.asc("w")).limit(top_vocab)
    # floor computed in-engine like the in-vocab branch (both engines
    # round their own libm ln at 9dp, same as the bm25 convention)
    lp = F.when(
        F.col("cnt").isNotNull(),
        F.round(F.log(F.col("cnt") / F.lit(float(total))), 9),
    ).otherwise(F.round(F.log(F.lit(0.5 / float(total))), 9))
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .select(F.col(id_col), lp.cast("decimal(38,9)").alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_words"),
            # cast BOTH sides to double BEFORE dividing: decimal division
            # scale rules differ between engines (1-ulp divergence at
            # sf0.01, driver r5), whereas double/double is bit-exact IEEE;
            # floor_round is the repo's engine-proof half-up convention
            floor_round(
                F.sum("_lp").cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_logprob"),
        )
        .orderBy(id_col)
    )


def unigram_logprob_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 65536,
) -> str:
    ws = words_sql(f"lower({text_col})")
    return f"""
    WITH words AS (
      SELECT {id_col}, unnest({ws}) AS w FROM {table}),
    freq AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
    tot AS (SELECT sum(cnt) AS t FROM freq),
    vocab AS (SELECT w, cnt FROM freq ORDER BY cnt DESC, w ASC LIMIT {top_vocab}),
    scored AS (
      SELECT words.{id_col},
             CAST(CASE WHEN v.cnt IS NOT NULL
                  THEN round(ln(v.cnt / CAST(t.t AS DOUBLE)), 9)
                  ELSE round(ln(0.5 / CAST(t.t AS DOUBLE)), 9)
             END AS DECIMAL(38,9)) AS lp
      FROM words LEFT JOIN vocab v ON words.w = v.w CROSS JOIN tot t)
    SELECT {id_col}, count(*) AS n_words,
           {floor_round_sql("CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS avg_logprob
    FROM scored GROUP BY {id_col} ORDER BY {id_col}
    """


# ------------------------------------------- RHO-loss data selection

RHO_TOP_VOCAB = 65536  # pool-model vocabulary cap (bounds the broadcast)
RHO_K = 200            # documents selected


def rho_loss_select(
    df: DataFrame,
    k: int = RHO_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = RHO_TOP_VOCAB,
) -> DataFrame:
    """RHO-loss data selection (Mindermann et al. 2022, "Prioritized
    training on points that are learnable, worth learning, and not yet
    learnt"): score every document by its REDUCIBLE holdout loss —
    loss under a model of the full training pool minus loss under a
    model of a curated holdout — and take the top-k. High pool loss =
    not yet learnt; low holdout loss = learnable and worth learning;
    the difference ranks exactly the documents a curriculum should
    feed next. Both "models" are the repo's corpus-fit unigram word
    LMs (the zero-dependency stand-in unigram_logprob established);
    the holdout slice is the Gopher-rule-passing subset — a curated
    reference a real pipeline would hold out.

    rho_score = avg_logprob_holdout - avg_logprob_pool (per-word mean,
    so length cancels); selection is (rho_score desc, id asc) LIMIT k.

    Shape at scale: ONE corpus-sized explode→groupBy builds BOTH
    frequency tables at once (the holdout counts ride along as a
    conditional aggregate — the holdout is a subset, so no second
    corpus pass); two scalar totals cross the driver; scoring is one
    broadcast join of the top_vocab-bounded model table into the
    exploded corpus plus one map-side-combined per-doc aggregate; the
    final step is a TakeOrdered(k). Per-word log-probs round at 9dp
    and sum as DECIMAL(38,9) so both engines hash identically."""
    base = _gopher_metrics(df.select(id_col, text_col), text_col, id_col).select(
        F.col(id_col), F.col(text_col), _gopher_keep().alias("_is_ref")
    )
    words = base.select(
        F.col(id_col),
        F.col("_is_ref"),
        F.explode(words_col(F.lower(F.col(text_col)))).alias("w"),
    )
    freq = words.groupBy("w").agg(
        F.count("*").alias("cnt_pool"),
        F.count(F.when(F.col("_is_ref"), F.lit(1))).alias("cnt_ref"),
    )
    tot = freq.agg(
        F.sum("cnt_pool").alias("tp"), F.sum("cnt_ref").alias("tr")
    ).collect()[0]
    t_pool = int(tot["tp"] or 1)
    t_ref = int(tot["tr"] or 1)
    vocab = freq.orderBy(F.desc("cnt_pool"), F.asc("w")).limit(top_vocab)

    def lp(cnt: Column, total: int) -> Column:
        return (
            F.when(
                cnt.isNotNull() & (cnt > 0),
                F.round(F.log(cnt / F.lit(float(total))), 9),
            )
            .otherwise(F.round(F.log(F.lit(0.5 / float(total))), 9))
            .cast("decimal(38,9)")
        )

    scored = words.join(F.broadcast(vocab), "w", "left").select(
        F.col(id_col),
        lp(F.col("cnt_pool"), t_pool).alias("_lpp"),
        lp(F.col("cnt_ref"), t_ref).alias("_lpr"),
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        floor_round(
            F.sum("_lpp").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_logprob_pool"),
        floor_round(
            F.sum("_lpr").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_logprob_holdout"),
    )
    return (
        per_doc.select(
            F.col(id_col),
            "n_words",
            "avg_logprob_pool",
            "avg_logprob_holdout",
            floor_round(
                F.col("avg_logprob_holdout") - F.col("avg_logprob_pool"), 6
            ).alias("rho_score"),
        )
        .orderBy(F.desc("rho_score"), F.asc(id_col))
        .limit(k)
    )


def rho_loss_select_sql(
    table: str = "documents",
    k: int = RHO_K,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = RHO_TOP_VOCAB,
) -> str:
    ws = words_sql(f"lower({text_col})")
    g = gopher_rules_sql(table, text_col, id_col)
    lp_pool = (
        "CAST(CASE WHEN v.cnt_pool IS NOT NULL AND v.cnt_pool > 0"
        " THEN round(ln(v.cnt_pool / CAST(t.tp AS DOUBLE)), 9)"
        " ELSE round(ln(0.5 / CAST(t.tp AS DOUBLE)), 9) END AS DECIMAL(38,9))"
    )
    lp_ref = (
        "CAST(CASE WHEN v.cnt_ref IS NOT NULL AND v.cnt_ref > 0"
        " THEN round(ln(v.cnt_ref / CAST(t.tr AS DOUBLE)), 9)"
        " ELSE round(ln(0.5 / CAST(t.tr AS DOUBLE)), 9) END AS DECIMAL(38,9))"
    )
    return f"""
    WITH gr AS ({g}),
    words AS (
      SELECT d.{id_col}, gr.keep AS is_ref, unnest({ws}) AS w
      FROM {table} d JOIN gr ON d.{id_col} = gr.{id_col}),
    freq AS (
      SELECT w, count(*) AS cnt_pool,
             count(*) FILTER (WHERE is_ref) AS cnt_ref
      FROM words GROUP BY w),
    tot AS (
      SELECT greatest(sum(cnt_pool), 1) AS tp,
             greatest(sum(cnt_ref), 1) AS tr
      FROM freq),
    vocab AS (
      SELECT w, cnt_pool, cnt_ref FROM freq
      ORDER BY cnt_pool DESC, w ASC LIMIT {top_vocab}),
    scored AS (
      SELECT words.{id_col}, {lp_pool} AS lpp, {lp_ref} AS lpr
      FROM words LEFT JOIN vocab v ON words.w = v.w CROSS JOIN tot t),
    per_doc AS (
      SELECT {id_col}, count(*) AS n_words,
             {floor_round_sql(
                 "CAST(sum(lpp) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
               AS avg_logprob_pool,
             {floor_round_sql(
                 "CAST(sum(lpr) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
               AS avg_logprob_holdout
      FROM scored GROUP BY {id_col})
    SELECT {id_col}, n_words, avg_logprob_pool, avg_logprob_holdout,
           {floor_round_sql("avg_logprob_holdout - avg_logprob_pool", 6)}
             AS rho_score
    FROM per_doc
    ORDER BY rho_score DESC, {id_col} ASC LIMIT {k}
    """


MINK_FRAC = 0.2  # the k in Min-K%: fraction of lowest-logprob tokens kept
MINK_TOP = 100   # rows reported (most-likely-member first)


def mink_prob_docs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    frac: float = MINK_FRAC,
    top: int = MINK_TOP,
    top_vocab: int = RHO_TOP_VOCAB,
) -> DataFrame:
    """Min-K% prob membership-inference audit (Shi et al. 2023,
    "Detecting pretraining data from large language models"): a
    document's score is the mean log-probability of its k% LEAST
    likely tokens — members of the training set lack the low-prob
    outlier tokens non-members have, so a HIGH min-k score flags
    likely contamination/membership. The published method scores under
    the suspect LLM; the engine-level audit scores under the corpus-fit
    unigram LM (the repo's zero-dependency stand-in, like
    unigram_logprob vs KenLM) — the ranking signal, not the LLM.

    Per doc: n_words, the ceil(frac*n) count actually averaged, the
    min-k mean logprob, and the full-doc mean for contrast; top rows
    by (mink_logprob desc, id asc) — most-member-like first.

    Shape at scale: the model build and scoring join are exactly
    unigram_logprob's (one corpus shuffle + one broadcast join); the
    per-doc min-k needs each doc's lowest-k logprobs, NOT a global
    sort: the per-doc reduce collects the doc's word logprobs as an
    array (bounded by doc length), sorts IN-ROW, slices the first
    ceil(frac*n), and averages with exact DECIMAL sums. One
    map-side-combinable aggregate + a TakeOrdered(top)."""
    w = F.explode(words_col(F.lower(F.col(text_col)))).alias("w")
    words = df.select(F.col(id_col), w)
    freq = words.groupBy("w").agg(F.count("*").alias("cnt"))
    total = int(freq.agg(F.sum("cnt").alias("t")).collect()[0]["t"] or 1)
    vocab = freq.orderBy(F.desc("cnt"), F.asc("w")).limit(top_vocab)
    lp = (
        F.when(
            F.col("cnt").isNotNull(),
            F.round(F.log(F.col("cnt") / F.lit(float(total))), 9),
        )
        .otherwise(F.round(F.log(F.lit(0.5 / float(total))), 9))
        .cast("decimal(38,9)")
    )
    scored = words.join(F.broadcast(vocab), "w", "left").select(
        F.col(id_col), lp.alias("_lp")
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.array_sort(F.collect_list("_lp")).alias("_lps"),
    )
    kcnt = F.ceil(F.col("n_words") * F.lit(float(frac))).cast("int")
    # decimal + decimal re-types to scale 8 inside the lambda; cast the
    # accumulator back so the fold stays exact DECIMAL(38,9)
    mink = F.aggregate(
        F.slice(F.col("_lps"), 1, kcnt),
        F.lit(0).cast("decimal(38,9)"),
        lambda a, x: (a + x).cast("decimal(38,9)"),
    )
    full = F.aggregate(
        F.col("_lps"),
        F.lit(0).cast("decimal(38,9)"),
        lambda a, x: (a + x).cast("decimal(38,9)"),
    )
    return (
        per_doc.select(
            F.col(id_col),
            F.col("n_words"),
            kcnt.cast("bigint").alias("k_words"),
            floor_round(
                mink.cast("double") / kcnt.cast("double"), 6
            ).alias("mink_logprob"),
            floor_round(
                full.cast("double") / F.col("n_words").cast("double"), 6
            ).alias("avg_logprob"),
        )
        .orderBy(F.desc("mink_logprob"), F.asc(id_col))
        .limit(top)
    )


def mink_prob_docs_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    frac: float = MINK_FRAC,
    top: int = MINK_TOP,
    top_vocab: int = RHO_TOP_VOCAB,
) -> str:
    ws = words_sql(f"lower({text_col})")
    return f"""
    WITH words AS (
      SELECT {id_col}, unnest({ws}) AS w FROM {table}),
    freq AS (SELECT w, count(*) AS cnt FROM words GROUP BY w),
    tot AS (SELECT greatest(sum(cnt), 1) AS t FROM freq),
    vocab AS (SELECT w, cnt FROM freq ORDER BY cnt DESC, w ASC LIMIT {top_vocab}),
    scored AS (
      SELECT words.{id_col},
             CAST(CASE WHEN v.cnt IS NOT NULL
                  THEN round(ln(v.cnt / CAST(t.t AS DOUBLE)), 9)
                  ELSE round(ln(0.5 / CAST(t.t AS DOUBLE)), 9)
             END AS DECIMAL(38,9)) AS lp
      FROM words LEFT JOIN vocab v ON words.w = v.w CROSS JOIN tot t),
    per_doc AS (
      SELECT {id_col}, count(*) AS n_words,
             list_sort(list(lp)) AS lps,
             CAST(ceil(count(*) * {frac}) AS INT) AS kcnt
      FROM scored GROUP BY {id_col})
    SELECT {id_col}, n_words,
           CAST(kcnt AS BIGINT) AS k_words,
           {floor_round_sql(
               "CAST(list_sum(list_slice(lps, 1, kcnt)) AS DOUBLE)"
               " / CAST(kcnt AS DOUBLE)", 6)} AS mink_logprob,
           {floor_round_sql(
               "CAST(list_sum(lps) AS DOUBLE) / CAST(n_words AS DOUBLE)", 6)}
             AS avg_logprob
    FROM per_doc
    ORDER BY mink_logprob DESC, {id_col} ASC LIMIT {top}
    """


def doremi_domain_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    top_vocab: int = RHO_TOP_VOCAB,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    optimizing data mixtures speeds up language model pretraining") —
    the one-shot static approximation: each domain's weight is its
    EXCESS LOSS (per-word NLL under the pool LM minus under the
    curated-holdout LM — the same reducible-loss signal rho_loss_select
    ranks documents by, aggregated per domain), clamped at zero and
    normalized. Domains the holdout model already explains get no
    extra budget; domains with learnable headroom get more. (The full
    method iterates Group DRO against a training proxy; the static
    excess-loss weights are its first step and the standard cheap
    stand-in.)

    Shape at scale: identical to rho_loss_select up to the final
    aggregate — ONE corpus explode→groupBy fits both LMs, one
    broadcast model join scores the corpus, then the reduce keys on
    the DOMAIN (|domains| rows, ~20 here) instead of the document.
    Cross-engine exactness: per-domain averages use the DECIMAL(38,9)
    sum discipline; the excess converts to integer micro-units before
    the normalizing sum, so the total is exact BIGINT arithmetic and
    the weights divide identical doubles on both engines."""
    base = _gopher_metrics(
        df.select(id_col, domain_col, text_col), text_col, id_col
    ).select(
        F.col(id_col),
        F.col(domain_col),
        F.col(text_col),
        _gopher_keep().alias("_is_ref"),
    )
    words = base.select(
        F.col(id_col),
        F.col(domain_col),
        F.col("_is_ref"),
        F.explode(words_col(F.lower(F.col(text_col)))).alias("w"),
    )
    freq = words.groupBy("w").agg(
        F.count("*").alias("cnt_pool"),
        F.count(F.when(F.col("_is_ref"), F.lit(1))).alias("cnt_ref"),
    )
    tot = freq.agg(
        F.sum("cnt_pool").alias("tp"), F.sum("cnt_ref").alias("tr")
    ).collect()[0]
    t_pool = int(tot["tp"] or 1)
    t_ref = int(tot["tr"] or 1)
    vocab = freq.orderBy(F.desc("cnt_pool"), F.asc("w")).limit(top_vocab)

    def lp(cnt: Column, total: int) -> Column:
        return (
            F.when(
                cnt.isNotNull() & (cnt > 0),
                F.round(F.log(cnt / F.lit(float(total))), 9),
            )
            .otherwise(F.round(F.log(F.lit(0.5 / float(total))), 9))
            .cast("decimal(38,9)")
        )

    scored = words.join(F.broadcast(vocab), "w", "left").select(
        F.col(domain_col),
        F.col(id_col),
        lp(F.col("cnt_pool"), t_pool).alias("_lpp"),
        lp(F.col("cnt_ref"), t_ref).alias("_lpr"),
    )
    per_dom = scored.groupBy(domain_col).agg(
        F.count_distinct(F.col(id_col)).alias("n_docs"),
        F.count("*").alias("n_words"),
        floor_round(
            F.sum("_lpp").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_logprob_pool"),
        floor_round(
            F.sum("_lpr").cast("double") / F.count("*").cast("double"), 6
        ).alias("avg_logprob_holdout"),
    )
    excess = F.greatest(
        F.lit(0.0),
        F.col("avg_logprob_holdout") - F.col("avg_logprob_pool"),
    )
    dom = per_dom.withColumn(
        "excess_micro",
        F.floor(excess * F.lit(1_000_000.0) + F.lit(0.5)).cast("bigint"),
    )
    totals = dom.agg(
        F.sum("excess_micro").alias("_te"),
        F.count("*").alias("_nd"),
    )
    weight = F.when(
        F.col("_te") > 0,
        floor_round(
            F.col("excess_micro").cast("double") / F.col("_te").cast("double"), 6
        ),
    ).otherwise(
        floor_round(F.lit(1.0) / F.col("_nd").cast("double"), 6)
    )
    return (
        dom.crossJoin(F.broadcast(totals))
        .select(
            F.col(domain_col),
            "n_docs",
            "n_words",
            "avg_logprob_pool",
            "avg_logprob_holdout",
            "excess_micro",
            weight.alias("weight"),
        )
        .orderBy(domain_col)
    )


def doremi_domain_weights_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    domain_col: str = "source",
    top_vocab: int = RHO_TOP_VOCAB,
) -> str:
    ws = words_sql(f"lower({text_col})")
    g = gopher_rules_sql(table, text_col, id_col)
    lp_pool = (
        "CAST(CASE WHEN v.cnt_pool IS NOT NULL AND v.cnt_pool > 0"
        " THEN round(ln(v.cnt_pool / CAST(t.tp AS DOUBLE)), 9)"
        " ELSE round(ln(0.5 / CAST(t.tp AS DOUBLE)), 9) END AS DECIMAL(38,9))"
    )
    lp_ref = (
        "CAST(CASE WHEN v.cnt_ref IS NOT NULL AND v.cnt_ref > 0"
        " THEN round(ln(v.cnt_ref / CAST(t.tr AS DOUBLE)), 9)"
        " ELSE round(ln(0.5 / CAST(t.tr AS DOUBLE)), 9) END AS DECIMAL(38,9))"
    )
    return f"""
    WITH gr AS ({g}),
    words AS (
      SELECT d.{id_col}, d.{domain_col}, gr.keep AS is_ref, unnest({ws}) AS w
      FROM {table} d JOIN gr ON d.{id_col} = gr.{id_col}),
    freq AS (
      SELECT w, count(*) AS cnt_pool,
             count(*) FILTER (WHERE is_ref) AS cnt_ref
      FROM words GROUP BY w),
    tot AS (
      SELECT greatest(sum(cnt_pool), 1) AS tp,
             greatest(sum(cnt_ref), 1) AS tr
      FROM freq),
    scored AS (
      SELECT words.{domain_col}, words.{id_col},
             {lp_pool} AS lpp, {lp_ref} AS lpr
      FROM words LEFT JOIN (
        SELECT w, cnt_pool, cnt_ref FROM freq
        ORDER BY cnt_pool DESC, w ASC LIMIT {top_vocab}) v
      ON words.w = v.w CROSS JOIN tot t),
    per_dom AS (
      SELECT {domain_col},
             CAST(count(DISTINCT {id_col}) AS BIGINT) AS n_docs,
             count(*) AS n_words,
             {floor_round_sql(
                 "CAST(sum(lpp) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
               AS avg_logprob_pool,
             {floor_round_sql(
                 "CAST(sum(lpr) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
               AS avg_logprob_holdout
      FROM scored GROUP BY {domain_col}),
    dom AS (
      SELECT *,
             CAST(floor(greatest(0.0, avg_logprob_holdout - avg_logprob_pool)
                        * 1000000.0 + 0.5) AS BIGINT) AS excess_micro
      FROM per_dom),
    totals AS (
      SELECT sum(excess_micro) AS te, count(*) AS nd FROM dom)
    SELECT {domain_col}, n_docs, n_words,
           avg_logprob_pool, avg_logprob_holdout, excess_micro,
           CASE WHEN t.te > 0 THEN
             {floor_round_sql(
                 "CAST(excess_micro AS DOUBLE) / CAST(t.te AS DOUBLE)", 6)}
           ELSE
             {floor_round_sql("1.0 / CAST(t.nd AS DOUBLE)", 6)}
           END AS weight
    FROM dom CROSS JOIN totals t
    ORDER BY {domain_col}
    """


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 65536,
    words_base: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean bigram log-probability, p(w2|w1) =
    c(w1 w2)/c(w1·) — one step closer to CCNet's KenLM than the
    unigram score: word-order scrambles and unnatural collocations
    drop the conditional probabilities even when every word is common.

    Same scale contract as unigram_logprob: one explode→groupBy each
    for the bigram and predecessor tables (map-side combined), the
    model bounded to the ``top_vocab`` most frequent bigrams (count
    desc, bigram asc — deterministic) and broadcast; everything else
    backs off to the 0.5/total floor. Per-position log-probs round to
    9dp and sum as DECIMAL(38,9) — order-independent, engine-equal."""
    if words_base is None:
        ws = words_col(F.lower(F.col(text_col)))
        words_base = df.select(F.col(id_col), ws.alias("_ws"))
    base = words_base.filter(F.size("_ws") >= 2)
    pos = base.select(
        F.col(id_col),
        F.col("_ws"),
        F.explode(F.sequence(F.lit(1), F.size("_ws") - 1)).alias("i"),
    )
    bgd = pos.select(
        F.col(id_col),
        F.element_at("_ws", F.col("i")).alias("w1"),
        F.concat_ws(
            " ", F.element_at("_ws", F.col("i")), F.element_at("_ws", F.col("i") + 1)
        ).alias("bg"),
    )
    # ONE corpus-sized shuffle (guide §2.2): distinct (w1, bg) counts —
    # bg embeds w1, so this equals the bigram frequency table with the
    # predecessor retained — lazily checkpointed; the predecessor
    # totals (sum per w1), the scalar total and the vocab cap all
    # derive from this types-sized table instead of re-exploding the
    # corpus per agg.
    g = (
        bgd.groupBy("w1", "bg")
        .agg(F.count("*").alias("c2"))
        .localCheckpoint(eager=False)
    )
    uni = g.groupBy("w1").agg(F.sum("c2").alias("c1"))
    total = int(g.agg(F.sum("c2").alias("t")).collect()[0]["t"] or 1)
    vocab = g.select("bg", "c2").orderBy(F.desc("c2"), F.asc("bg")).limit(top_vocab)
    lp = F.when(
        F.col("c2").isNotNull(),
        F.round(F.log(F.col("c2") / F.col("c1")), 9),
    ).otherwise(F.round(F.log(F.lit(0.5 / float(total))), 9))
    return (
        bgd.join(F.broadcast(vocab), "bg", "left")
        .join(F.broadcast(uni), "w1", "left")
        .select(F.col(id_col), lp.cast("decimal(38,9)").alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            # double-first divide + floor_round: same engine-proof mean
            # convention as unigram_logprob (decimal division scale rules
            # diverge between engines; double/double IEEE does not)
            floor_round(
                F.sum("_lp").cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_logprob"),
        )
        .orderBy(id_col)
    )


def bigram_logprob_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 65536,
) -> str:
    ws = words_sql(f"lower({text_col})")
    return f"""
    WITH base AS (
      SELECT {id_col}, {ws} AS arr FROM {table} WHERE len({ws}) >= 2),
    pos AS (
      SELECT {id_col}, arr, unnest(range(1, len(arr))) AS i FROM base),
    bgd AS (
      SELECT {id_col}, arr[i] AS w1, arr[i] || ' ' || arr[i+1] AS bg FROM pos),
    uni AS (SELECT w1, count(*) AS c1 FROM bgd GROUP BY 1),
    freq AS (SELECT bg, count(*) AS c2 FROM bgd GROUP BY 1),
    tot AS (SELECT sum(c2) AS t FROM freq),
    vocab AS (SELECT bg, c2 FROM freq ORDER BY c2 DESC, bg ASC LIMIT {top_vocab}),
    scored AS (
      SELECT bgd.{id_col},
             CAST(CASE WHEN v.c2 IS NOT NULL
                  THEN round(ln(v.c2 / CAST(u.c1 AS DOUBLE)), 9)
                  ELSE round(ln(0.5 / CAST(t.t AS DOUBLE)), 9)
             END AS DECIMAL(38,9)) AS lp
      FROM bgd LEFT JOIN vocab v ON bgd.bg = v.bg
      LEFT JOIN uni u ON bgd.w1 = u.w1
      CROSS JOIN tot t)
    SELECT {id_col}, count(*) AS n_bigrams,
           {floor_round_sql("CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)} AS avg_logprob
    FROM scored GROUP BY {id_col} ORDER BY {id_col}
    """


# ---------------------------------------------- PMI collocations

def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    k: int = 200,
) -> DataFrame:
    """Collocation mining via pointwise mutual information over
    adjacent word pairs (Church & Hanks 1990): PMI = ln(p(w1,w2) /
    (p(w1)p(w2))) ranks pairs that co-occur far above chance — the
    standard corpus-analytics pass for multi-word expressions, and a
    tokenizer-merge sanity signal (high-PMI pairs are what BPE should
    learn first).

    Shape at scale: one explode→groupBy each for the unigram and the
    adjacent-pair tables (both map-side combined); corpus totals are
    scalar aggregates (bounded driver traffic); the ``min_count``
    support filter shrinks the pair table BEFORE the two word-keyed
    hash joins against the unigram counts, and the final cut is
    TakeOrderedAndProject — the corpus is never sorted. Probabilities
    divide as IEEE doubles (bit-exact on both engines); only the final
    ln rounds at 9dp, the repo's libm convention."""
    ws = words_col(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col), ws.alias("_ws"))
    uni = (
        base.select(F.explode("_ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n_words = int(uni.agg(F.sum("c")).collect()[0][0] or 1)
    pairs = (
        base.filter(F.size("_ws") >= 2)
        .select(
            F.col("_ws"),
            F.explode(F.sequence(F.lit(1), F.size("_ws") - 1)).alias("i"),
        )
        .select(
            F.element_at("_ws", F.col("i")).alias("w1"),
            F.element_at("_ws", F.col("i") + 1).alias("w2"),
        )
    )
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    n_pairs = int(big.agg(F.sum("c12")).collect()[0][0] or 1)
    cand = big.filter(F.col("c12") >= min_count)
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    p12 = F.col("c12") / F.lit(float(n_pairs))
    p1 = F.col("c1") / F.lit(float(n_words))
    p2 = F.col("c2") / F.lit(float(n_words))
    return (
        cand.join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.round(F.log(p12 / (p1 * p2)), 9).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def pmi_collocations_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 3,
    k: int = 200,
) -> str:
    ws = words_sql(f"lower({text_col})")
    return f"""
    WITH base AS (SELECT {id_col}, {ws} AS arr FROM {table}),
    uni AS (
      SELECT w, count(*) AS c
      FROM (SELECT unnest(arr) AS w FROM base) GROUP BY w),
    nw AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uni),
    pos AS (
      SELECT arr, unnest(range(1, len(arr))) AS i
      FROM base WHERE len(arr) >= 2),
    big AS (
      SELECT arr[i] AS w1, arr[i+1] AS w2, count(*) AS c12
      FROM pos GROUP BY 1, 2),
    np AS (SELECT CAST(sum(c12) AS DOUBLE) AS p FROM big),
    cand AS (SELECT * FROM big WHERE c12 >= {min_count})
    SELECT cand.w1, cand.w2, CAST(cand.c12 AS BIGINT) AS c12,
           round(ln((cand.c12 / np.p)
                    / ((u1.c / nw.n) * (u2.c / nw.n))), 9) AS pmi
    FROM cand
    JOIN uni u1 ON cand.w1 = u1.w
    JOIN uni u2 ON cand.w2 = u2.w
    CROSS JOIN nw CROSS JOIN np
    ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT {k}
    """


# ---------------------------------------------- temperature mixing

def temperature_mix(
    df: DataFrame,
    strata_col: str = "lang",
    alpha: float = 0.5,
    target_rows: int = 1000,
    id_col: str = "doc_id",
    buckets: int = 10000,
    salt: str = "tmix",
) -> DataFrame:
    """Temperature-based (alpha-) sampling across strata — the
    multilingual-LM mixing rule (XLM-R / mT5, public): a stratum's
    share of the mix is proportional to n^alpha, so alpha=1 keeps the
    natural distribution, alpha->0 approaches uniform, and 0.3-0.7
    upsamples the tail without flooding the head.

    Per-stratum keep-rate = min(1, target * n^alpha / sum(n^alpha) / n),
    applied with the same salted-hash determinism as
    :func:`stratified_sample` (integer bucket threshold from an
    identically-computed double, so both engines keep the same rows).
    Scale shape: one tiny groupBy for the counts, rates broadcast back,
    the filter runs at the scan."""
    n = F.col("_n").cast("double")
    counts = (
        df.groupBy(strata_col)
        .agg(F.count("*").alias("_n"))
        # weights rounded + decimal-summed so the total is
        # summation-order-independent across engines
        .withColumn("_w", F.round(F.pow(n, F.lit(float(alpha))), 6).cast("decimal(38,6)"))
    )
    from pyspark.sql import Window

    tot = F.sum("_w").over(Window.partitionBy())
    rates = counts.select(
        F.col(strata_col),
        F.floor(
            F.least(
                F.lit(1.0),
                F.lit(float(target_rows))
                * (F.col("_w").cast("double") / tot.cast("double"))
                / n,
            )
            * buckets
        ).cast("int").alias("_thresh"),
    )
    keyed = hash64_col(F.col(id_col).cast("string"), seed=salt) % buckets
    return df.join(F.broadcast(rates), strata_col).filter(keyed < F.col("_thresh")).drop(
        "_thresh"
    )


def temperature_mix_sql(
    table: str = "documents",
    strata_col: str = "lang",
    alpha: float = 0.5,
    target_rows: int = 1000,
    id_col: str = "doc_id",
    buckets: int = 10000,
    salt: str = "tmix",
) -> str:
    keyed = hash64_sql(f"CAST({id_col} AS VARCHAR)", seed=salt)
    return f"""
    WITH counts AS (
      SELECT {strata_col}, count(*) AS n,
             CAST(round(pow(CAST(count(*) AS DOUBLE), {alpha}), 6)
                  AS DECIMAL(38,6)) AS w
      FROM {table} GROUP BY {strata_col}),
    rates AS (
      SELECT {strata_col},
             CAST(floor(least(1.0,
                 {target_rows} * (CAST(w AS DOUBLE)
                                  / CAST(sum(w) OVER () AS DOUBLE))
                 / CAST(n AS DOUBLE)) * {buckets}) AS INT) AS thresh
      FROM counts)
    SELECT t.* FROM {table} t JOIN rates r USING ({strata_col})
    WHERE {keyed.replace(id_col, 't.' + id_col)} % {buckets} < r.thresh
    """


def unimax_mix(
    df: DataFrame,
    strata_col: str = "lang",
    budget_tokens: int = 45000,
    max_epochs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """UniMax language-budget allocation (Chung et al. 2023, "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining", public ICLR method): spread a total
    token budget as UNIFORMLY as possible across languages, but never
    take more than ``max_epochs`` passes over any language's data —
    the fairness-first alternative to temperature sampling (no
    head-language flooding, no tail over-epoching).

    This is exactly water-filling with per-language cap
    c_l = n_tokens_l * max_epochs: languages with c_l <= τ get their
    cap, the rest get the water level τ, where τ makes the total hit
    the budget. Closed form over the cap-ascending order: language i
    is capped iff S_{i-1} + c_i * (k - i + 1) <= B (monotone, so a
    prefix), τ = (B - S_m) / (k - m) for the m capped languages.

    Scale shape: ONE map-side-combined groupBy collapses the corpus to
    |languages| rows; every window below runs on that tiny table (the
    unpartitioned windows are |languages|-sized by construction — the
    corpus itself is never windowed). Output: (lang, n_tokens,
    cap_tokens, alloc_tokens, epochs) sorted by lang, allocations
    floor_round(6) doubles — pure IEEE, engine-equal."""
    from pyspark.sql import Window

    counts = (
        df.select(F.col(strata_col), F.size(words_col(text_col)).alias("_t"))
        .groupBy(strata_col)
        .agg(F.sum("_t").cast("bigint").alias("n_tokens"))
        .select(
            strata_col,
            "n_tokens",
            (F.col("n_tokens") * max_epochs).cast("bigint").alias("cap_tokens"),
        )
    )
    w_ord = Window.orderBy(F.asc("cap_tokens"), F.asc(strata_col))
    w_all = Window.partitionBy()
    staged = (
        counts.withColumn("_i", F.row_number().over(w_ord))
        .withColumn(
            "_s", F.sum("cap_tokens").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("_k", F.count("*").over(w_all))
        .withColumn(
            "_capped",
            (F.col("_s") - F.col("cap_tokens"))
            + F.col("cap_tokens") * (F.col("_k") - F.col("_i") + 1)
            <= F.lit(budget_tokens),
        )
    )
    staged = staged.withColumn(
        "_m", F.sum(F.col("_capped").cast("int")).over(w_all)
    ).withColumn(
        "_sm",
        F.coalesce(
            F.sum(F.when(F.col("_capped"), F.col("cap_tokens"))).over(w_all), F.lit(0)
        ),
    )
    # greatest(.., 1): when every language is capped the tau branch is
    # never taken, but the denominator must still be division-safe
    tau = (F.lit(float(budget_tokens)) - F.col("_sm").cast("double")) / (
        F.greatest(F.col("_k") - F.col("_m"), F.lit(1))
    ).cast("double")
    alloc = F.when(F.col("_capped"), F.col("cap_tokens").cast("double")).otherwise(tau)
    return (
        staged.select(
            strata_col,
            "n_tokens",
            "cap_tokens",
            floor_round(alloc, 6).alias("alloc_tokens"),
            floor_round(alloc / F.col("n_tokens").cast("double"), 6).alias("epochs"),
        )
        .orderBy(strata_col)
    )


def unimax_mix_sql(
    table: str = "documents",
    strata_col: str = "lang",
    budget_tokens: int = 45000,
    max_epochs: int = 2,
    text_col: str = "text",
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH counts AS (
      SELECT {strata_col},
             CAST(sum(len({w})) AS BIGINT) AS n_tokens,
             CAST(sum(len({w})) * {max_epochs} AS BIGINT) AS cap_tokens
      FROM {table} GROUP BY {strata_col}),
    staged AS (
      SELECT *,
             row_number() OVER ord AS i,
             sum(cap_tokens) OVER (ord ROWS UNBOUNDED PRECEDING) AS s,
             count(*) OVER () AS k
      FROM counts WINDOW ord AS (ORDER BY cap_tokens ASC, {strata_col} ASC)),
    flagged AS (
      SELECT *,
             (s - cap_tokens) + cap_tokens * (k - i + 1) <= {budget_tokens} AS capped
      FROM staged),
    solved AS (
      SELECT *,
             sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS m,
             coalesce(sum(CASE WHEN capped THEN cap_tokens END) OVER (), 0) AS sm
      FROM flagged),
    alloc AS (
      SELECT {strata_col}, n_tokens, cap_tokens,
             CASE WHEN capped THEN CAST(cap_tokens AS DOUBLE)
                  ELSE ({budget_tokens} - CAST(sm AS DOUBLE))
                       / CAST(greatest(k - m, 1) AS DOUBLE) END AS a
      FROM solved)
    SELECT {strata_col}, n_tokens, cap_tokens,
           {floor_round_sql('a', 6)} AS alloc_tokens,
           {floor_round_sql('a / CAST(n_tokens AS DOUBLE)', 6)} AS epochs
    FROM alloc ORDER BY {strata_col}
    """


# ----------------------------------------- winnowing decontamination

def winnow_decontam(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mod: int = 97,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    fps_df: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring test-set decontamination via MOSS winnowing:
    flag training documents sharing any winnowing fingerprint with the
    held-out side (doc_id % mod == 0 stands in for the benchmark
    corpus). The winnowing guarantee makes this the strongest of the
    three decontam tiers for verbatim leakage: ANY shared substring of
    length >= k+w-1 chars is caught — word-shingle overlap misses
    sub-word and punctuation-straddling matches, minhash is
    probabilistic.

    Same scale shape as decontam_overlap: held-out fingerprints
    collapse to DISTINCT and broadcast; the training corpus is scanned,
    never shuffled; one groupBy over the (small) flagged survivors.
    Output: (doc_id, n_shared) per contaminated training doc."""
    fps = fps_df if fps_df is not None else winnow_fingerprints(df, text_col, id_col, k, w)
    heldout = fps.filter(F.col(id_col) % mod == 0).select("fp").distinct()
    train = fps.filter(F.col(id_col) % mod != 0)
    return (
        train.join(F.broadcast(heldout), "fp")
        .groupBy(id_col)
        .agg(F.count_distinct("fp").alias("n_shared"))
    )


def winnow_decontam_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    mod: int = 97,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> str:
    fps = winnow_fingerprints_sql(table, text_col, id_col, k, w)
    return f"""
    WITH fps AS ({fps}),
    heldout AS (SELECT DISTINCT fp FROM fps WHERE {id_col} % {mod} = 0),
    train AS (SELECT * FROM fps WHERE {id_col} % {mod} != 0)
    SELECT t.{id_col}, count(DISTINCT t.fp) AS n_shared
    FROM train t JOIN heldout h ON t.fp = h.fp
    GROUP BY t.{id_col}
    """


# ------------------------------------------- Gopher-style rule filter

# Rule constants (Rae et al., "Scaling Language Models: ... Gopher",
# §A1.1) — thresholds tuned to the synthetic corpus's 10-99-word docs
# so the keep flag actually splits; the RULES are the deliverable.
GOPHER_MIN_WORDS = 30
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN = 3.0
GOPHER_MAX_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1          # '#' or '...' per word
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8       # words containing >= 1 letter
GOPHER_MIN_STOP_HITS = 2               # distinct required stopwords
GOPHER_STOPS: tuple[str, ...] = ("the", "a", "and", "of", "to")
GOPHER_SYMBOL_RE = r"#|\.\.\."


def _gopher_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Rule inputs appended to the caller's columns — the word array
    materializes in its own projection so the five metrics referencing
    it don't each re-split (the HOF re-evaluation trap)."""
    stoparr = F.array(*[F.lit(s) for s in GOPHER_STOPS])
    w = F.col("_ws")
    return df.withColumn("_ws", words_col(text_col)).withColumns(
        {
            "_nw": F.size(w),
            "_wl": F.aggregate(w, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)),
            "_aw": F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))),
            "_sh": F.size(F.array_intersect(w, stoparr)),
            "_sy": F.size(F.regexp_extract_all(F.col(text_col), F.lit(GOPHER_SYMBOL_RE), 0)),
        }
    )


def _gopher_keep() -> Column:
    nw = F.col("_nw")
    mean_wl = (F.col("_wl") / nw).cast("double")
    alpha_frac = (F.col("_aw") / nw).cast("double")
    sym_ratio = (F.col("_sy") / nw).cast("double")
    keep = (
        nw.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_wl.between(GOPHER_MIN_WORD_LEN, GOPHER_MAX_WORD_LEN)
        & (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (F.col("_sh") >= GOPHER_MIN_STOP_HITS)
    )
    return F.when(nw == 0, F.lit(False)).otherwise(keep)


GOPHER_TEMP_COLS = ("_ws", "_nw", "_wl", "_aw", "_sh", "_sy")


def gopher_filter(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The Gopher rules applied IN PLACE: the caller's rows, minus the
    ones the composite rule rejects — a per-row filter at scan speed
    (no metric table, no join-back). The first stage of the curation
    pipeline."""
    return _gopher_metrics(df, text_col, id_col).filter(_gopher_keep()).drop(*GOPHER_TEMP_COLS)


def gopher_keep_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    """DuckDB twin of gopher_filter as a CTE body: SELECT * of the rows
    the composite rule keeps."""
    g = gopher_rules_sql(table, text_col, id_col)
    return f"""
    SELECT t.* FROM {table} t
    JOIN ({g}) gr ON t.{id_col} = gr.{id_col} AND gr.keep
    """


def gopher_rules(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style document quality rules: word-count bounds, mean word
    length bounds, symbol-to-word ratio, fraction of words with an
    alphabetic character, and required-stopword hits — ANDed into a
    ``keep`` flag. The standard first-pass heuristic filter of every
    web-scale pre-training pipeline (Gopher, RefinedWeb, FineWeb).

    All signals are per-row codegen expressions over one word-array
    projection — no shuffle, no Python; at 100 TB this runs at scan
    speed and fuses with whatever projection follows it."""
    base = _gopher_metrics(df.select(id_col, text_col), text_col, id_col)
    nw = F.col("_nw")
    return base.select(
        F.col(id_col),
        nw.cast("bigint").alias("n_words"),
        F.round((F.col("_wl") / nw).cast("double"), 6).alias("mean_word_len"),
        F.round((F.col("_aw") / nw).cast("double"), 6).alias("alpha_word_frac"),
        F.round((F.col("_sy") / nw).cast("double"), 6).alias("symbol_ratio"),
        F.col("_sh").cast("bigint").alias("stop_hits"),
        _gopher_keep().alias("keep"),
    )


def gopher_rules_sql(table: str = "documents", text_col: str = "text", id_col: str = "doc_id") -> str:
    w = words_sql(text_col)
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    return f"""
    WITH base AS (
      SELECT {id_col},
             len({w}) AS nw,
             list_sum(list_transform({w}, x -> length(x))) AS wl,
             len(list_filter({w}, x -> regexp_matches(x, '[A-Za-z]'))) AS aw,
             len(list_distinct(list_intersect({w}, [{stops}]))) AS sh,
             len(regexp_extract_all({text_col}, '{GOPHER_SYMBOL_RE}')) AS sy
      FROM {table})
    SELECT {id_col},
           CAST(nw AS BIGINT) AS n_words,
           round(CAST(wl AS DOUBLE) / nw, 6) AS mean_word_len,
           round(CAST(aw AS DOUBLE) / nw, 6) AS alpha_word_frac,
           round(CAST(sy AS DOUBLE) / nw, 6) AS symbol_ratio,
           CAST(sh AS BIGINT) AS stop_hits,
           CASE WHEN nw = 0 THEN false ELSE
             nw BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
             AND (CAST(wl AS DOUBLE) / nw)
                 BETWEEN {GOPHER_MIN_WORD_LEN} AND {GOPHER_MAX_WORD_LEN}
             AND (CAST(sy AS DOUBLE) / nw) <= {GOPHER_MAX_SYMBOL_RATIO}
             AND (CAST(aw AS DOUBLE) / nw) >= {GOPHER_MIN_ALPHA_WORD_FRAC}
             AND sh >= {GOPHER_MIN_STOP_HITS}
           END AS keep
    FROM base
    """


# ------------------------------------------------------ C4 line rules

# Rule constants (Raffel et al. 2020, "Exploring the Limits of Transfer
# Learning with a Unified Text-to-Text Transformer" — the C4 cleaning
# heuristics, §2.2: terminal-punctuation line filter, minimum words per
# line, minimum retained sentences per page, bad-word / "lorem ipsum" /
# curly-brace page drops). The corpus is newline- and punctuation-free,
# so the query instantiates the generic predicates with reline()d
# 8-word lines and a vocabulary terminal-token set — thresholds tuned
# so ``keep`` actually splits; the RULES are the deliverable (same
# convention as the Gopher tier above).
C4_LINE_MIN_WORDS = 5
C4_MIN_KEPT_LINES = 3
C4_LINE_END_RE = r"(^| )(data|table|row|key|value|column|line|batch)$"
C4_BAD_WORDS: tuple[str, ...] = ("dup",)
C4_LOREM = "lorem ipsum"
C4_BRACE = "{"


def c4_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_min_words: int = C4_LINE_MIN_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
    line_end_re: str = C4_LINE_END_RE,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
) -> DataFrame:
    """C4-style page cleaning metrics: per-document line counts before/
    after the line rules (>= ``line_min_words`` words AND the terminal-
    token regex — C4's "ends in terminal punctuation" slot), the page-
    level drop signals (bad-word hit, "lorem ipsum", curly brace), and
    the composite ``keep`` flag (>= ``min_kept_lines`` surviving lines
    and no page-level hit).

    Scale shape: lines derive from one in-row transform over the word
    array and every metric is a higher-order-function fold over that
    array — no explode, no shuffle, no Python. At 100 TB this is a
    scan-speed map that fuses with the downstream projection, exactly
    like the Gopher tier."""
    ws = words_col(text_col)
    lines = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size("_ws") / F.lit(RELINE_WORDS)).cast("int")),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("_ws"), (i - 1) * RELINE_WORDS + 1, RELINE_WORDS)
        ),
    )
    kept = F.filter(
        F.col("_lines"),
        lambda l: (F.size(F.split(l, " ")) >= line_min_words) & l.rlike(line_end_re),
    )
    badarr = F.array(*[F.lit(b) for b in bad_words])
    base = (
        df.select(id_col, text_col)
        .withColumn("_ws", ws)
        .withColumn("_lines", lines)
        .withColumn("_kept", kept)
    )
    n_kept = F.size("_kept")
    bad_hit = F.size(F.array_intersect("_ws", badarr)) > 0
    lorem = F.col(text_col).contains(C4_LOREM)
    brace = F.col(text_col).contains(C4_BRACE)
    return base.select(
        F.col(id_col),
        F.size("_lines").cast("bigint").alias("n_lines"),
        n_kept.cast("bigint").alias("n_kept_lines"),
        F.aggregate(
            "_kept",
            F.lit(0).cast("bigint"),
            lambda a, l: a + F.size(F.split(l, " ")),
        ).alias("n_kept_words"),
        bad_hit.alias("bad_word_hit"),
        lorem.alias("has_lorem"),
        brace.alias("has_brace"),
        ((n_kept >= min_kept_lines) & ~bad_hit & ~lorem & ~brace).alias("keep"),
    )


def c4_rules_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    line_min_words: int = C4_LINE_MIN_WORDS,
    min_kept_lines: int = C4_MIN_KEPT_LINES,
    line_end_re: str = C4_LINE_END_RE,
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
) -> str:
    w = words_sql(text_col)
    reline = (
        f"list_transform(range(1, (len({w}) + {RELINE_WORDS - 1}) // {RELINE_WORDS} + 1), "
        f"i -> array_to_string(({w})[(i-1)*{RELINE_WORDS}+1:(i-1)*{RELINE_WORDS}+{RELINE_WORDS}], ' '))"
    )
    bads = ", ".join(f"'{b}'" for b in bad_words)
    return f"""
    WITH base AS (
      SELECT {id_col},
             {reline} AS ls,
             list_filter({reline},
               l -> len(string_split(l, ' ')) >= {line_min_words}
                    AND regexp_matches(l, '{line_end_re}')) AS kept,
             len(list_intersect({w}, [{bads}])) > 0 AS bad_word_hit,
             contains({text_col}, '{C4_LOREM}') AS has_lorem,
             contains({text_col}, '{C4_BRACE.replace("'", "''")}') AS has_brace
      FROM {table})
    SELECT {id_col},
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CAST(coalesce(list_sum(list_transform(kept,
                l -> len(string_split(l, ' ')))), 0) AS BIGINT) AS n_kept_words,
           bad_word_hit, has_lorem, has_brace,
           len(kept) >= {min_kept_lines}
             AND NOT bad_word_hit AND NOT has_lorem AND NOT has_brace AS keep
    FROM base
    """


# ----------------------------------------------------- BM25 doc search

BM25_QUERY_TERMS: tuple[str, ...] = ("spark", "join", "window")


def corpus_stats(base: DataFrame) -> tuple[int, float, int]:
    """(n_docs, avgdl, n_tokens) of a tokenized (id, _ws, dl) base in
    ONE aggregate job. BM25 needs (n_docs, avgdl), Dirichlet QL needs
    n_tokens — computed separately that was three scalar jobs over the
    same checkpoint per multi-retriever query (count, avg, sum); one
    count+sum pass serves all three. avgdl divides the exact bigint
    sum by the exact bigint count in IEEE doubles — bit-identical to
    Spark's sum(dl)/count(*) Divide (both operands cast to double,
    one division). Empty corpus keeps the retrievers' documented
    fallbacks: n_docs 1, avgdl 1.0, n_tokens 1."""
    row = base.agg(
        F.count("*").alias("n"), F.sum("dl").alias("t")
    ).collect()[0]
    n_docs = int(row["n"] or 0)
    total = row["t"]
    avgdl = (float(total) / float(n_docs)) if (n_docs and total is not None) else 1.0
    return n_docs or 1, avgdl, int(total or 1)


def bm25_search(
    df: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 15,
    k1: float = BM25_K1,
    b: float = BM25_B,
    base: DataFrame | None = None,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """Full-corpus BM25 retrieval for a fixed query: score every
    document by the sum of its matched-term BM25 contributions, return
    the global top-k (score desc, id asc tiebreak).

    Scale shape: document length comes straight from the word array (no
    explode needed), the exploded term stream is FILTERED to the query's
    terms before the (doc, term) groupBy — the shuffle carries only
    query-matched rows, not the corpus inverted index — the per-term
    document frequencies are a |query|-row broadcast, and the top-k is
    a TakeOrderedAndProject, never a full sort.

    ``base``: optionally a PRE-TOKENIZED (id_col, _ws, dl) frame
    (already checkpoint-pinned) — multi-pass callers (RM3) tokenize the
    corpus once and share it across passes instead of re-splitting.
    ``stats``: optionally precomputed (n_docs, avgdl) — multi-retriever
    callers fold every corpus scalar into ONE shared aggregate job (see
    corpus_stats) instead of each retriever running its own."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    if base is None:
        base = df.select(
            F.col(id_col), words_col(text_col).alias("_ws")
        ).select(
            F.col(id_col), F.col("_ws"), F.size("_ws").alias("dl")
        ).localCheckpoint(eager=False)  # feeds the stats scalar job AND the scored plan
    if stats is None:
        n_docs, stats, _ = corpus_stats(base)
    else:
        n_docs, stats = stats
    tf = (
        base.select(F.col(id_col), F.col("dl"), F.explode("_ws").alias("term"))
        .join(F.broadcast(base.sparkSession.createDataFrame([(t,) for t in query_terms], "term string")), "term")
        .groupBy(id_col, "term", "dl")
        .agg(F.count("*").alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df_t"))
    idf = F.log((F.lit(float(n_docs)) - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0)
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(stats)))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(idf * F.col("tf") * (k1 + 1.0) / norm), 6).alias("score"),
            F.count("*").cast("bigint").alias("n_matched"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)


def bm25_search_sql(
    table: str = "documents",
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 15,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    w = words_sql(text_col)
    qlist = ", ".join(f"('{t}')" for t in query_terms)
    return f"""
    WITH q(term) AS (VALUES {qlist}),
    base AS (SELECT {id_col}, {w} AS ws FROM {table}),
    dl_t AS (SELECT {id_col}, len(ws) AS dl FROM base),
    stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                     count(*) AS n_docs FROM dl_t),
    exploded AS (SELECT {id_col}, unnest(ws) AS term FROM base),
    tf AS (
      SELECT e.{id_col}, e.term, dl_t.dl, count(*) AS tf
      FROM exploded e
      JOIN q USING (term)
      JOIN dl_t USING ({id_col})
      GROUP BY 1, 2, 3),
    dft AS (SELECT term, count(DISTINCT {id_col}) AS df_t FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.{id_col},
             round(sum(ln((CAST(stats.n_docs AS DOUBLE) - dft.df_t + 0.5)
                          / (dft.df_t + 0.5) + 1.0)
                       * tf.tf * ({k1} + 1.0)
                       / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / stats.avgdl))),
                   6) AS score,
             CAST(count(*) AS BIGINT) AS n_matched
      FROM tf CROSS JOIN stats
      JOIN dft USING (term)
      GROUP BY tf.{id_col})
    SELECT * FROM scored ORDER BY score DESC, {id_col} ASC LIMIT {top_k}
    """


QL_MU = 2000.0  # Dirichlet smoothing mass (Zhai & Lafferty 2001 default)


def ql_search(
    df: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 15,
    mu: float = QL_MU,
    base: DataFrame | None = None,
    n_tokens: int | None = None,
) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    Croft 1998; Zhai & Lafferty 2001) — the language-modeling scoring
    family, BM25's classic rival: score(d) = sum_t log(1 + tf_td /
    (mu·p(t|C))) + |q|·log(mu / (dl + mu)), over documents matching at
    least one query term (posting-list candidate generation, the
    standard practical scope).

    Scale shape mirrors bm25_search: the exploded term stream filters
    to the query's terms BEFORE the (doc, term) groupBy, corpus term
    counts are a |query|-row broadcast, total corpus tokens is a scalar
    aggregate, and the top-k is TakeOrderedAndProject. Per-term logs
    round at 9dp and sum as DECIMAL(38,9) (order-free, engine-equal);
    everything before each log is IEEE-exact double arithmetic.

    ``base``: optionally a PRE-TOKENIZED (id_col, _ws, dl) frame shared
    by a multi-retriever caller (nDCG harness, RM3) — see bm25_search.
    ``n_tokens``: optionally the precomputed corpus token total (from
    corpus_stats) so multi-retriever callers run one stats job."""
    qlen = len(query_terms)
    if base is None:
        base = df.select(
            F.col(id_col), words_col(text_col).alias("_ws")
        ).select(
            F.col(id_col), F.col("_ws"), F.size("_ws").alias("dl")
        ).localCheckpoint(eager=False)
    if n_tokens is None:
        n_tokens = corpus_stats(base)[2]
    qdf = base.sparkSession.createDataFrame(
        [(t,) for t in query_terms], "term string"
    )
    exploded = base.select(
        F.col(id_col), F.col("dl"), F.explode("_ws").alias("term")
    ).join(F.broadcast(qdf), "term")
    ct = exploded.groupBy("term").agg(F.count("*").alias("ct"))
    tf = exploded.groupBy(id_col, "term", "dl").agg(F.count("*").alias("tf"))
    # matched-term part: ln(1 + tf / (mu * (ct / N))) at 9dp, decimal sum
    term_lp = F.round(
        F.log(
            F.lit(1.0)
            + F.col("tf").cast("double")
            / (F.lit(mu) * (F.col("ct").cast("double") / F.lit(float(n_tokens))))
        ),
        9,
    ).cast("decimal(38,9)")
    # doc-length part: |q| * ln(mu / (dl + mu)), also 9dp decimal
    dl_lp = F.round(
        F.lit(float(qlen)) * F.log(F.lit(mu) / (F.col("dl").cast("double") + F.lit(mu))),
        9,
    ).cast("decimal(38,9)")
    scored = (
        tf.join(F.broadcast(ct), "term")
        .select(F.col(id_col), F.col("dl"), term_lp.alias("_lp"))
        .groupBy(id_col, "dl")
        .agg(F.sum("_lp").alias("_s"), F.count("*").cast("bigint").alias("n_matched"))
        .select(
            F.col(id_col),
            # add at (29,9): a (38,9)+(38,9) add would overflow Spark's
            # 38-digit cap and silently trim the scale to 8, diverging
            # from DuckDB's 9-digit result by the last digit
            # exact decimal add, emitted as DOUBLE (the repo's dsum
            # convention — DuckDB's pandas bridge maps wide decimals to
            # float64 anyway, and the exact-decimal → double cast is
            # deterministic on both engines)
            (
                F.col("_s").cast("decimal(29,9)") + dl_lp.cast("decimal(29,9)")
            ).cast("double").alias("score"),
            "n_matched",
        )
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)


def ql_search_sql(
    table: str = "documents",
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 15,
    mu: float = QL_MU,
) -> str:
    w = words_sql(text_col)
    qlist = ", ".join(f"('{t}')" for t in query_terms)
    qlen = len(query_terms)
    return f"""
    WITH q(term) AS (VALUES {qlist}),
    base AS (SELECT {id_col}, {w} AS ws FROM {table}),
    dl_t AS (SELECT {id_col}, len(ws) AS dl FROM base),
    n AS (SELECT CAST(sum(dl) AS DOUBLE) AS n FROM dl_t),
    exploded AS (
      SELECT e.{id_col}, dl_t.dl, e.term
      FROM (SELECT {id_col}, unnest(ws) AS term FROM base) e
      JOIN q USING (term)
      JOIN dl_t USING ({id_col})),
    ct AS (SELECT term, count(*) AS ct FROM exploded GROUP BY 1),
    tf AS (
      SELECT {id_col}, term, dl, count(*) AS tf
      FROM exploded GROUP BY 1, 2, 3),
    scored AS (
      SELECT tf.{id_col},
             CAST(CAST(sum(CAST(round(ln(1.0 + tf.tf
                        / ({mu!r} * (ct.ct / n.n))), 9) AS DECIMAL(38,9)))
                       AS DECIMAL(29,9))
                  + CAST(round({float(qlen)!r} * ln({mu!r} / (tf.dl + {mu!r})), 9)
                         AS DECIMAL(29,9))
                  AS DOUBLE) AS score,
             CAST(count(*) AS BIGINT) AS n_matched
      FROM tf JOIN ct USING (term) CROSS JOIN n
      GROUP BY tf.{id_col}, tf.dl)
    SELECT * FROM scored ORDER BY score DESC, {id_col} ASC LIMIT {top_k}
    """


# nDCG position discounts in integer micro-units: round(1e9 / log2(i+1))
# computed ONCE in Python and injected into both engines as a literal
# table, so the discounted gains sum as exact integers (order-free,
# engine-equal) — same trick as the classifier's micro-unit weights.
NDCG_K = 10
NDCG_DISCOUNTS: tuple[int, ...] = tuple(
    round(1e9 / math.log2(i + 1)) for i in range(1, NDCG_K + 1)
)


def retrieval_ndcg(
    df: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Retrieval-quality harness: nDCG@10 for the three registered
    retrievers (BM25, Dirichlet QL, RRF hybrid) against a deterministic
    graded-relevance label — rel(doc) = number of DISTINCT query terms
    the document contains (0–|q|), the standard pseudo-label when no
    human judgments exist. The retrieval twin of the ann_recall_* tier.

    Engine-exactness: position discounts are integer micro-units (see
    NDCG_DISCOUNTS), so DCG/IDCG are exact integer sums; the only float
    op is the final dcg/idcg double division (IEEE-exact). Scale shape:
    each retriever runs its corpus pass ONCE — the 50-row pools are
    lazily checkpointed and shared between the RRF fusion and the
    per-system scoring (top-10 is a prefix of the same deterministic
    ordering), as is the relevance table (bounded by docs matching ≥1
    query term; at petabyte scale stage it to parquet instead); all
    ranking windows and joins run on bounded lists."""
    spark = df.sparkSession
    disc_df = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(NDCG_DISCOUNTS)], "pos int, disc long"
    )
    qdf = spark.createDataFrame([(t,) for t in query_terms], "term string")
    # tokenize the corpus ONCE: the relevance label and both retriever
    # pools read the same checkpoint-pinned (id, words, dl) frame —
    # three independent regex splits of the corpus collapse to one
    shared = df.select(
        F.col(id_col), words_col(text_col).alias("_ws")
    ).select(
        F.col(id_col), F.col("_ws"), F.size("_ws").alias("dl")
    ).localCheckpoint(eager=False)
    # graded label: TOTAL query-term occurrences capped at 10 — finer
    # than distinct-term count (which saturates on a synthetic corpus
    # where most matching docs carry all |q| terms, collapsing every
    # system to nDCG=1 and telling the harness nothing)
    rel = (
        shared.select(F.col(id_col), F.explode("_ws").alias("term"))
        .join(F.broadcast(qdf), "term")
        .groupBy(id_col)
        .agg(F.least(F.count("*"), F.lit(10)).cast("long").alias("rel"))
        .localCheckpoint(eager=False)  # scored once, read by 3 dcgs + idcg
    )
    # ideal gain: top-10 docs by rel desc (id asc) — defines IDCG
    ideal = (
        rel.orderBy(F.desc("rel"), F.asc(id_col))
        .limit(NDCG_K)
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), F.asc(id_col)))
            .alias("pos"),
            "rel",
        )
    )
    idcg = ideal.join(F.broadcast(disc_df), "pos").agg(
        F.sum(F.col("disc") * F.col("rel")).cast("long").alias("idcg")
    )

    def dcg_of(ranked: DataFrame, order_cols: list) -> DataFrame:
        top = ranked.orderBy(*order_cols).limit(NDCG_K)
        pos = top.select(
            F.col(id_col),
            F.row_number().over(Window.orderBy(*order_cols)).alias("pos"),
        )
        # inner join with the 10-row list BROADCAST (a left join would
        # plan as a sort-merge that shuffles the relevance table; a doc
        # with no relevance row contributes 0 to DCG either way, so the
        # inner join is value-identical — coalesce covers the all-miss
        # sum-over-zero-rows edge)
        return (
            rel.join(F.broadcast(pos), id_col)
            .join(F.broadcast(disc_df), "pos")
            .agg(
                F.coalesce(
                    F.sum(F.col("disc") * F.col("rel")).cast("long"), F.lit(0)
                ).alias("dcg")
            )
        )

    # one corpus pass per retriever: the 50-row pools feed BOTH the
    # fusion and the per-system top-10 (a prefix of the same
    # deterministic ordering), pinned by a lazy checkpoint; all three
    # corpus scalars (n_docs, avgdl, n_tokens) come from ONE stats job
    n_docs, avgdl, n_tokens = corpus_stats(shared)
    b50 = bm25_search(
        df, query_terms, text_col, id_col, top_k=50, base=shared,
        stats=(n_docs, avgdl),
    ).localCheckpoint(eager=False)
    q50 = ql_search(
        df, query_terms, text_col, id_col, top_k=50, base=shared,
        n_tokens=n_tokens,
    ).localCheckpoint(eager=False)
    systems = {
        "bm25": dcg_of(b50, [F.desc("score"), F.asc(id_col)]),
        "hybrid_rrf": dcg_of(
            hybrid_search_rrf(
                df, query_terms, text_col, id_col,
                top_k=NDCG_K, pools=(b50, q50),
            ),
            [F.desc("rrf_score"), F.asc(id_col)],
        ),
        "ql": dcg_of(q50, [F.desc("score"), F.asc(id_col)]),
    }
    out = None
    for name, d in systems.items():
        row = d.crossJoin(idcg).select(
            F.lit(name).alias("system"),
            F.col("dcg"),
            F.col("idcg"),
            (F.col("dcg").cast("double") / F.col("idcg").cast("double")).alias(
                "ndcg"
            ),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("system")


def retrieval_ndcg_sql(
    table: str = "documents",
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    w = words_sql(text_col)
    qlist = ", ".join(f"('{t}')" for t in query_terms)
    dlist = ", ".join(f"({i + 1}, {d})" for i, d in enumerate(NDCG_DISCOUNTS))
    bm25 = bm25_search_sql(table, query_terms, text_col, id_col, top_k=NDCG_K)
    ql = ql_search_sql(table, query_terms, text_col, id_col, top_k=NDCG_K)
    rrf = hybrid_search_rrf_sql(table, query_terms, text_col, id_col, top_k=NDCG_K)
    return f"""
    WITH q(term) AS (VALUES {qlist}),
    disc(pos, disc) AS (VALUES {dlist}),
    rel AS (
      SELECT {id_col}, CAST(least(count(*), 10) AS BIGINT) AS rel
      FROM (SELECT {id_col}, unnest({w}) AS term FROM {table}) e
      JOIN q USING (term)
      GROUP BY {id_col}),
    ideal AS (
      SELECT row_number() OVER (ORDER BY rel DESC, {id_col} ASC) AS pos, rel
      FROM (SELECT * FROM rel ORDER BY rel DESC, {id_col} ASC LIMIT {NDCG_K})),
    idcg AS (
      SELECT CAST(sum(disc.disc * ideal.rel) AS BIGINT) AS idcg
      FROM ideal JOIN disc USING (pos)),
    bm25_pos AS (
      SELECT {id_col},
             row_number() OVER (ORDER BY score DESC, {id_col} ASC) AS pos
      FROM ({bm25})),
    ql_pos AS (
      SELECT {id_col},
             row_number() OVER (ORDER BY score DESC, {id_col} ASC) AS pos
      FROM ({ql})),
    rrf_pos AS (
      SELECT {id_col},
             row_number() OVER (ORDER BY rrf_score DESC, {id_col} ASC) AS pos
      FROM ({rrf})),
    dcgs AS (
      SELECT 'bm25' AS system,
             CAST(sum(disc.disc * coalesce(rel.rel, 0)) AS BIGINT) AS dcg
      FROM bm25_pos JOIN disc USING (pos) LEFT JOIN rel USING ({id_col})
      UNION ALL
      SELECT 'ql', CAST(sum(disc.disc * coalesce(rel.rel, 0)) AS BIGINT)
      FROM ql_pos JOIN disc USING (pos) LEFT JOIN rel USING ({id_col})
      UNION ALL
      SELECT 'hybrid_rrf', CAST(sum(disc.disc * coalesce(rel.rel, 0)) AS BIGINT)
      FROM rrf_pos JOIN disc USING (pos) LEFT JOIN rel USING ({id_col}))
    SELECT system, dcg, idcg.idcg AS idcg,
           CAST(dcg AS DOUBLE) / CAST(idcg.idcg AS DOUBLE) AS ndcg
    FROM dcgs CROSS JOIN idcg
    ORDER BY system
    """


RRF_K = 60  # Cormack, Clarke & Buettcher 2009 constant


def hybrid_search_rrf(
    df: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    pool_k: int = 50,
    top_k: int = 15,
    pools: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009): run BM25 and Dirichlet query-likelihood for the
    same query, convert each list to ranks, fuse with
    rrf = sum over systems of 1/(RRF_K + rank), return the fused top-k.
    The fusion needs only RANKS — 1/(60+r) on integer ranks is exact
    IEEE arithmetic, so the fused scores are bit-identical across
    engines regardless of how each retriever rounds its raw scores.

    Scale shape: each retriever already reduces the corpus through its
    own TakeOrderedAndProject; ranking windows and the full-outer fuse
    join run on two pool_k-row lists — bounded by construction. Pass
    ``pools=(bm25_pool, ql_pool)`` to fuse precomputed pool lists
    instead of re-running the retrievers (the nDCG harness shares one
    pool per retriever across fusion and scoring)."""
    if pools is not None:
        b, ql = pools
    else:
        # tokenize once; both retrievers read the same pinned base
        shared = df.select(
            F.col(id_col), words_col(text_col).alias("_ws")
        ).select(
            F.col(id_col), F.col("_ws"), F.size("_ws").alias("dl")
        ).localCheckpoint(eager=False)
        n_docs, avgdl, n_tokens = corpus_stats(shared)
        b = bm25_search(
            df, query_terms, text_col, id_col, top_k=pool_k, base=shared,
            stats=(n_docs, avgdl),
        )
        ql = ql_search(
            df, query_terms, text_col, id_col, top_k=pool_k, base=shared,
            n_tokens=n_tokens,
        )
    rb = b.select(
        F.col(id_col),
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc(id_col)))
        .alias("bm25_rank"),
    )
    rq = ql.select(
        F.col(id_col),
        F.row_number()
        .over(Window.orderBy(F.desc("score"), F.asc(id_col)))
        .alias("ql_rank"),
    )
    fused = rb.join(rq, id_col, "full_outer").select(
        F.col(id_col),
        F.coalesce("bm25_rank", F.lit(0)).cast("int").alias("bm25_rank"),
        F.coalesce("ql_rank", F.lit(0)).cast("int").alias("ql_rank"),
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("bm25_rank").cast("double")),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("ql_rank").cast("double")),
                F.lit(0.0),
            )
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(top_k)


def hybrid_search_rrf_sql(
    table: str = "documents",
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    pool_k: int = 50,
    top_k: int = 15,
) -> str:
    bm25 = bm25_search_sql(table, query_terms, text_col, id_col, top_k=pool_k)
    ql = ql_search_sql(table, query_terms, text_col, id_col, top_k=pool_k)
    return f"""
    WITH rb AS (
      SELECT {id_col},
             CAST(row_number() OVER (ORDER BY score DESC, {id_col} ASC) AS INT)
               AS bm25_rank
      FROM ({bm25})),
    rq AS (
      SELECT {id_col},
             CAST(row_number() OVER (ORDER BY score DESC, {id_col} ASC) AS INT)
               AS ql_rank
      FROM ({ql}))
    SELECT coalesce(rb.{id_col}, rq.{id_col}) AS {id_col},
           CAST(coalesce(rb.bm25_rank, 0) AS INT) AS bm25_rank,
           CAST(coalesce(rq.ql_rank, 0) AS INT) AS ql_rank,
           coalesce(1.0 / ({float(RRF_K)!r} + CAST(rb.bm25_rank AS DOUBLE)), 0.0)
             + coalesce(1.0 / ({float(RRF_K)!r} + CAST(rq.ql_rank AS DOUBLE)), 0.0)
             AS rrf_score
    FROM rb FULL OUTER JOIN rq ON rb.{id_col} = rq.{id_col}
    ORDER BY rrf_score DESC, {id_col} ASC LIMIT {top_k}
    """


# --------------------------------------- quality-ordered token budget

QUALITY_BUDGET_TOKENS = 10_000


def quality_budget_select(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    budget_tokens: int = QUALITY_BUDGET_TOKENS,
) -> DataFrame:
    """Data selection under a token budget: walk documents from highest
    quality_score down (id asc tiebreak) and keep every doc that STARTS
    within the budget — the 'train on the best N tokens' selection step
    (cf. DataComp / QuRating-style quality-ordered curation).

    The cumulative token count over the quality ordering is
    ``relational.ordered_prefix``. Emits the selected (id, n_words,
    quality)."""
    base = quality_score(df, text_col, id_col).select(id_col, "n_words", "quality")
    before, _ = ordered_prefix(base, "quality", True, (id_col,), "_cb", weight="n_words")
    return before.filter(F.col("_cb") < budget_tokens).select(id_col, "n_words", "quality")


def quality_budget_select_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    budget_tokens: int = QUALITY_BUDGET_TOKENS,
) -> str:
    q = quality_score_sql(table, text_col, id_col)
    return f"""
    WITH q AS ({q})
    SELECT {id_col}, n_words, quality FROM (
      SELECT {id_col}, n_words, quality,
             coalesce(sum(n_words) OVER (
                 ORDER BY quality DESC, {id_col} ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      FROM q)
    WHERE cb < {budget_tokens}
    """


# ------------------------------------- trigram-indexed substring search

SEARCH_NEEDLE = "merge slow"  # the registered query's literal


def trigram_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-trigram posting list: (doc_id, tg) distinct — the
    classic exact-substring index (Google Code Search's public design:
    Cox 2012, "Regular Expression Matching with a Trigram Index").
    Built with one explode + distinct; at scale it stages to parquet
    bucketed by tg at ingest, and every search is posting-list joins
    instead of a corpus text scan."""
    staged = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_t"))
    tgs = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("_t") - 2, F.lit(0))),
        lambda i: F.substring(F.col("_t"), i, F.lit(3)),
    )
    return (
        staged.filter(F.length("_t") >= 3)
        .select(F.col(id_col), F.explode(tgs).alias("tg"))
        .distinct()
    )


def trigram_index_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    return f"""
    SELECT DISTINCT {id_col}, substr(t, i, 3) AS tg
    FROM (SELECT {id_col}, lower({text_col}) AS t FROM {table}
          WHERE length(lower({text_col})) >= 3),
         LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) u
    """


def trigram_search(
    df: DataFrame,
    needle: str = SEARCH_NEEDLE,
    text_col: str = "text",
    id_col: str = "doc_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """Index-accelerated exact substring search: candidate docs carry
    EVERY trigram of the needle (posting-list equi-join + having
    count = |needle trigrams|), then only candidates pay the verify
    ``contains`` — grep over 100 TB without a full text scan. Output:
    (doc_id, n_hits) with the occurrence count per matching doc.
    Needles under 3 chars degrade to the scan filter (documented —
    the index can't prune them)."""
    nd = needle.lower()
    base = df.select(F.col(id_col), F.lower(F.col(text_col)).alias("_t"))
    n_hits = F.floor(
        (F.length("_t") - F.length(F.replace(F.col("_t"), F.lit(nd), F.lit(""))))
        / F.length(F.lit(nd))
    ).cast("bigint")
    if len(nd) < 3:
        return (
            base.filter(F.col("_t").contains(nd))
            .select(F.col(id_col), n_hits.alias("n_hits"))
            .orderBy(id_col)
        )
    tgs = sorted({nd[i : i + 3] for i in range(len(nd) - 2)})
    idx = index if index is not None else trigram_index(df, text_col, id_col)
    needles = df.sparkSession.createDataFrame([(t,) for t in tgs], "tg string")
    cands = (
        idx.join(F.broadcast(needles), "tg")
        .groupBy(id_col)
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") == len(tgs))
        .select(id_col)
    )
    return (
        base.join(cands, id_col)
        .filter(F.col("_t").contains(nd))
        .select(F.col(id_col), n_hits.alias("n_hits"))
        .orderBy(id_col)
    )


def trigram_search_sql(
    table: str = "documents",
    needle: str = SEARCH_NEEDLE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    nd = needle.lower().replace("'", "''")
    return f"""
    WITH base AS (SELECT {id_col}, lower({text_col}) AS t FROM {table})
    SELECT {id_col},
           CAST(floor((length(t) - length(replace(t, '{nd}', '')))
                / length('{nd}')) AS BIGINT) AS n_hits
    FROM base WHERE contains(t, '{nd}')
    ORDER BY {id_col}
    """


# ------------------------------------- tokenizer vocabulary coverage

VOCAB_KS = (64, 512, 4096)


def vocab_coverage(
    df: DataFrame, text_col: str = "text", ks: tuple[int, ...] = VOCAB_KS
) -> DataFrame:
    """Tokenizer-planning audit: what fraction of corpus token
    occurrences does a top-k word vocabulary cover? One row per k:
    (k, distinct_words, covered_tokens, total_tokens, coverage) — the
    curve that decides vocabulary size before a BPE train.

    Scale shape: ONE corpus explode to the word-frequency table; the
    top-max(k) slice is a TakeOrdered (bounded, deterministic ties:
    count desc, word asc); the coverage windows run on that bounded
    slice only. Totals are two scalar aggregates."""
    from pyspark.sql import Window

    kmax = max(ks)
    freq = (
        df.select(
            F.explode(words_col(F.lower(F.col(text_col)))).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)
    )
    totals = freq.agg(
        F.count("*").alias("dw"), F.sum("cnt").alias("tt")
    ).collect()[0]
    dw, tt = int(totals["dw"]), int(totals["tt"] or 1)
    top = freq.orderBy(F.desc("cnt"), F.asc("w")).limit(kmax)
    w_rank = Window.orderBy(F.desc("cnt"), F.asc("w"))
    ranked = top.withColumn("_r", F.row_number().over(w_rank))
    ks_df = df.sparkSession.createDataFrame([(k,) for k in sorted(ks)], "k long")
    return (
        ranked.join(F.broadcast(ks_df), F.col("_r") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("cnt").cast("bigint").alias("covered_tokens"))
        .select(
            "k",
            F.lit(dw).cast("bigint").alias("distinct_words"),
            "covered_tokens",
            F.lit(tt).cast("bigint").alias("total_tokens"),
            floor_round(
                F.col("covered_tokens").cast("double") / F.lit(float(tt)), 6
            ).alias("coverage"),
        )
        .orderBy("k")
    )


def vocab_coverage_sql(
    table: str = "documents", text_col: str = "text", ks: tuple[int, ...] = VOCAB_KS
) -> str:
    w = words_sql(f"lower({text_col})")
    ks_rows = ", ".join(f"({k})" for k in sorted(ks))
    return f"""
    WITH freq AS (
      SELECT w, count(*) AS cnt
      FROM (SELECT unnest({w}) AS w FROM {table}) WHERE w <> '' GROUP BY w),
    tot AS (SELECT count(*) AS dw, sum(cnt) AS tt FROM freq),
    ranked AS (
      SELECT cnt, row_number() OVER (ORDER BY cnt DESC, w ASC) AS r FROM freq),
    ks(k) AS (VALUES {ks_rows})
    SELECT CAST(k AS BIGINT) AS k,
           CAST(t.dw AS BIGINT) AS distinct_words,
           CAST(sum(cnt) AS BIGINT) AS covered_tokens,
           CAST(t.tt AS BIGINT) AS total_tokens,
           {floor_round_sql('CAST(sum(cnt) AS DOUBLE) / CAST(t.tt AS DOUBLE)', 6)} AS coverage
    FROM ranked JOIN ks ON r <= k CROSS JOIN tot t
    GROUP BY k, t.dw, t.tt ORDER BY k
    """


# log-spaced corpus prefixes (by doc_id) for the Heaps'-law curve;
# thresholds past the corpus end still emit a row (the full-corpus
# totals), so the output shape is stable at every scale factor
VOCAB_GROWTH_PREFIXES: tuple[int, ...] = (50, 100, 200, 400, 800, 1600, 3200, 6400)


def vocab_growth_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefixes: tuple[int, ...] = VOCAB_GROWTH_PREFIXES,
) -> DataFrame:
    """Heaps'-law vocabulary-growth audit: distinct-word count and
    total token count at log-spaced corpus prefixes (docs with id <
    threshold) — the companion to vocab_coverage: coverage asks "how
    big a vocab for THIS corpus", growth asks "how fast does the vocab
    keep growing as the corpus scales", i.e. whether a planned
    vocabulary will saturate or be outgrown at 100 TB.

    Scale shape: ONE corpus explode feeds a word-keyed groupBy that
    keeps each word's FIRST document (min id — map-side combined);
    bucketing words by the smallest prefix containing that first
    occurrence reduces everything to |prefixes| rows, and the
    cumulative sums run on that ≤8-row table. Per-doc token counts
    bucket the same way. All integers — exact on both engines."""
    ps = sorted(prefixes)
    spark = df.sparkSession
    pref_df = spark.createDataFrame([(p,) for p in ps], "prefix_docs long")
    first = (
        df.select(F.col(id_col), F.explode(words_col(F.lower(F.col(text_col)))).alias("w"))
        .groupBy("w")
        .agg(F.min(id_col).alias("_first"))
    )

    def smallest_prefix(col: str) -> F.Column:
        expr = F.lit(None).cast("long")
        for p in reversed(ps):
            expr = F.when(F.col(col) < p, F.lit(p)).otherwise(expr)
        return expr

    new_words = (
        first.select(smallest_prefix("_first").alias("prefix_docs"))
        .where(F.col("prefix_docs").isNotNull())
        .groupBy("prefix_docs")
        .agg(F.count("*").alias("_nw"))
    )
    new_tokens = (
        df.select(
            smallest_prefix(id_col).alias("prefix_docs"),
            F.size(words_col(F.lower(F.col(text_col)))).cast("long").alias("_nt"),
        )
        .where(F.col("prefix_docs").isNotNull())
        .groupBy("prefix_docs")
        .agg(F.sum("_nt").alias("_tt"), F.count("*").alias("_nd"))
    )
    run = (
        Window.orderBy("prefix_docs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pref_df.join(new_words, "prefix_docs", "left")
        .join(new_tokens, "prefix_docs", "left")
        .select(
            "prefix_docs",
            F.sum(F.coalesce(F.col("_nd"), F.lit(0))).over(run).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("_nw"), F.lit(0))).over(run).cast("long").alias("vocab_size"),
            F.sum(F.coalesce(F.col("_tt"), F.lit(0))).over(run).cast("long").alias("n_tokens"),
        )
        .orderBy("prefix_docs")
    )


def vocab_growth_curve_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    prefixes: tuple[int, ...] = VOCAB_GROWTH_PREFIXES,
) -> str:
    ps = sorted(prefixes)
    w = words_sql(f"lower({text_col})")
    plist = ", ".join(f"({p})" for p in ps)

    def case_of(col: str) -> str:
        clauses = " ".join(f"WHEN {col} < {p} THEN {p}" for p in ps)
        return f"CASE {clauses} ELSE NULL END"

    return f"""
    WITH pref(prefix_docs) AS (VALUES {plist}),
    first AS (
      SELECT w, min({id_col}) AS fdoc
      FROM (SELECT {id_col}, unnest({w}) AS w FROM {table}) e
      GROUP BY w),
    new_words AS (
      SELECT {case_of('fdoc')} AS prefix_docs, count(*) AS nw
      FROM first WHERE {case_of('fdoc')} IS NOT NULL GROUP BY 1),
    new_tokens AS (
      SELECT {case_of(id_col)} AS prefix_docs,
             sum(len({w})) AS tt, count(*) AS nd
      FROM {table} WHERE {case_of(id_col)} IS NOT NULL GROUP BY 1)
    SELECT CAST(pref.prefix_docs AS BIGINT) AS prefix_docs,
           CAST(sum(coalesce(nd, 0)) OVER win AS BIGINT) AS n_docs,
           CAST(sum(coalesce(nw, 0)) OVER win AS BIGINT) AS vocab_size,
           CAST(sum(coalesce(tt, 0)) OVER win AS BIGINT) AS n_tokens
    FROM pref
    LEFT JOIN new_words USING (prefix_docs)
    LEFT JOIN new_tokens USING (prefix_docs)
    WINDOW win AS (ORDER BY pref.prefix_docs
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY prefix_docs
    """


# ------------------------------------- length-bucketed inference batches

INFER_BATCH_SIZE = 32


def inference_batches(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_size: int = INFER_BATCH_SIZE,
) -> DataFrame:
    """Length-bucketed batching for inference/scoring runs: order
    documents by token count descending (id asc ties), cut into fixed-
    size batches, report per-batch padding stats — (batch_id, n_docs,
    max_tokens, sum_tokens, pad_frac). Like-length docs batch together,
    so padding-to-max waste stays low; the output is the plan an
    inference scheduler consumes.

    The global rank is ``relational.ordered_prefix``; the per-batch
    aggregation reuses its keyed shuffle."""
    base = df.select(
        F.col(id_col), F.size(words_col(text_col)).cast("bigint").alias("n_tokens")
    )
    ranked, _ = ordered_prefix(base, "n_tokens", True, (id_col,), "_r")
    batch = F.floor(F.col("_r") / batch_size).cast("bigint")
    return (
        ranked.select(F.col("n_tokens"), batch.alias("batch_id"))
        .groupBy("batch_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        )
        .select(
            "batch_id",
            "n_docs",
            "max_tokens",
            "sum_tokens",
            floor_round(
                F.lit(1.0)
                - F.col("sum_tokens").cast("double")
                / (F.col("max_tokens") * F.col("n_docs")).cast("double"),
                6,
            ).alias("pad_frac"),
        )
        .orderBy("batch_id")
    )


def inference_batches_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    batch_size: int = INFER_BATCH_SIZE,
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH toks AS (
      SELECT {id_col}, CAST(len({w}) AS BIGINT) AS n_tokens FROM {table}),
    ranked AS (
      SELECT n_tokens,
             CAST(floor((row_number() OVER (ORDER BY n_tokens DESC, {id_col} ASC) - 1)
                  / {batch_size}) AS BIGINT) AS batch_id
      FROM toks)
    SELECT batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
           {floor_round_sql(
               '1.0 - CAST(sum(n_tokens) AS DOUBLE)'
               ' / CAST(max(n_tokens) * count(*) AS DOUBLE)', 6)} AS pad_frac
    FROM ranked GROUP BY batch_id ORDER BY batch_id
    """


# ------------------------------------- duplicate n-gram fraction

DUP_NGRAM_N = 3


def dup_ngram_frac(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = DUP_NGRAM_N
) -> DataFrame:
    """Gopher's duplicate-n-gram repetition rule: the fraction of a
    document's word n-gram positions occupied by an n-gram that occurs
    more than once in the SAME document — catches templated/looping
    text that per-word stats (repetition_stats) miss.

    IN-ROW like char_entropy, and by the same trick: sort the gram
    array and flag positions whose sorted neighbor is equal (a gram is
    duplicated iff it touches an equal neighbor after sorting) —
    O(L log L), not the naive O(L^2) per-gram rescan. The flag count is
    a multiset property, so engine collation differences in the sort
    cannot change the result. Zero shuffle, zero Python."""
    ws = words_col(text_col)
    base = df.select(F.col(id_col), ws.alias("_ws")).filter(F.size("_ws") >= n)
    staged = base.select(
        F.col(id_col), F.array_sort(_shingle_col("_ws", n)).alias("_g")
    ).select(F.col(id_col), F.col("_g"), F.size("_g").alias("_n"))
    dup = F.size(
        F.filter(
            F.sequence(F.lit(1), F.col("_n")),
            lambda i: ((i > 1) & (F.get(F.col("_g"), i - 1) == F.get(F.col("_g"), i - 2)))
            | ((i < F.col("_n")) & (F.get(F.col("_g"), i - 1) == F.get(F.col("_g"), i))),
        )
    )
    return staged.select(
        F.col(id_col),
        F.col("_n").cast("bigint").alias("n_grams"),
        F.round(dup / F.col("_n"), 6).alias("dup_gram_frac"),
    )


def dup_ngram_frac_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id", n: int = DUP_NGRAM_N
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH ws AS (
      SELECT {id_col}, {w} AS arr FROM {table} WHERE len({w}) >= {n}),
    g AS (
      SELECT {id_col},
             list_sort(list_transform(range(1, len(arr) - {n} + 2),
                                      i -> array_to_string(arr[i:i+{n - 1}], ' '))) AS s
      FROM ws),
    gg AS (SELECT {id_col}, s, len(s) AS ng FROM g)
    SELECT {id_col},
           CAST(ng AS BIGINT) AS n_grams,
           round(CAST(len(list_filter(range(1, ng + 1),
                 i -> (i > 1 AND s[i] = s[i-1])
                   OR (i < ng AND s[i] = s[i+1]))) AS DOUBLE) / ng, 6) AS dup_gram_frac
    FROM gg
    """


# ------------------------------------------- duplicate-passage spans

# Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
# Better") removes EXACT duplicate passages, not just whole near-dup
# documents: any word run that re-occurs anywhere in the corpus. The
# suffix-array construction it uses is single-machine; the distributed
# re-expression is k-gram position marking + interval merging, which is
# two equi-key shuffles regardless of corpus size.
PASSAGE_N = 10  # words per passage gram (Lee et al. use 50 BPE tokens)


def dup_passage_spans(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = PASSAGE_N
) -> DataFrame:
    """Duplicated-passage extraction: every maximal word span whose
    n-gram positions are all covered by an n-gram occurring >= 2 times
    corpus-wide (including twice within one document). Output one row
    per merged span: (doc_id, span_start, span_end, span_words,
    n_dup_grams), word positions 1-based inclusive.

    Scale shape: positions are carried as (doc_id, pos, gram-hash) so
    the wide gram strings never shuffle; the gram identity is the full
    128-bit md5 (hash128_col — dedup.py's convention for identity keys;
    60 bits false-merges at ~1.5e9 grams, and a web crawl has more);
    "occurs >= 2 times" is a groupBy(gh).count() + equi-join back, NOT
    a count window: the groupBy partial-aggregates map-side so a
    boilerplate gram repeated 10M times costs one combined row per
    task, where a window would funnel every position of that gram into
    a single straggler task. The surviving duplicated positions —
    sized by the duplicated text, not the corpus — regroup once per
    doc_id for the gaps-and-islands merge (lag + running sum, then the
    span groupBy reuses the same doc_id partitioning). Same-length
    intervals sorted by start merge iff next_start <= prev_start + n,
    so one lag suffices — no running-max end is needed."""
    from pyspark.sql import Window

    ws = df.select(F.col(id_col), words_col(text_col).alias("_ws")).filter(
        F.size("_ws") >= n
    )
    pg = ws.select(
        F.col(id_col), F.posexplode(_shingle_col("_ws", n)).alias("_p", "_g")
    ).select(F.col(id_col), (F.col("_p") + 1).alias("pos"), hash128_col("_g").alias("gh"))
    repeated = pg.groupBy("gh").agg(F.count("*").alias("_c")).filter(F.col("_c") >= 2)
    dup = pg.join(repeated.select("gh"), "gh").select(id_col, "pos")
    w_doc = Window.partitionBy(id_col).orderBy("pos")
    flagged = dup.withColumn(
        "_new",
        F.when(
            F.col("pos") <= F.coalesce(F.lag("pos").over(w_doc), F.lit(-2 * n)) + n,
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    islands = flagged.withColumn(
        "_isl",
        F.sum("_new").over(w_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("bigint").alias("span_end"),
            (F.max("pos") - F.min("pos") + n).cast("bigint").alias("span_words"),
            F.count("*").cast("bigint").alias("n_dup_grams"),
        )
        .drop("_isl")
    )


def dup_passage_spans_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id", n: int = PASSAGE_N
) -> str:
    w = words_sql(text_col)
    gram = f"array_to_string(arr[i:i+{n - 1}], ' ')"
    return f"""
    WITH ws AS (
      SELECT {id_col}, {w} AS arr FROM {table} WHERE len({w}) >= {n}),
    g AS (
      SELECT {id_col},
             unnest(range(1, len(arr) - {n} + 2)) AS pos,
             unnest(list_transform(range(1, len(arr) - {n} + 2), i -> {gram})) AS s
      FROM ws),
    pg AS (SELECT {id_col}, pos, {hash128_sql('s')} AS gh FROM g),
    rep AS (SELECT gh FROM pg GROUP BY gh HAVING count(*) >= 2),
    dup AS (SELECT pg.{id_col}, pos FROM pg JOIN rep USING (gh)),
    fl AS (
      SELECT {id_col}, pos,
             CASE WHEN pos <= coalesce(lag(pos) OVER w, {-2 * n}) + {n}
                  THEN 0 ELSE 1 END AS nw
      FROM dup WINDOW w AS (PARTITION BY {id_col} ORDER BY pos)),
    isl AS (
      SELECT {id_col}, pos,
             sum(nw) OVER (PARTITION BY {id_col} ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM fl)
    SELECT {id_col},
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + {n - 1} AS BIGINT) AS span_end,
           CAST(max(pos) - min(pos) + {n} AS BIGINT) AS span_words,
           CAST(count(*) AS BIGINT) AS n_dup_grams
    FROM isl GROUP BY {id_col}, island
    """


def remove_dup_passages(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = PASSAGE_N
) -> DataFrame:
    """The cleanup step consuming :func:`dup_passage_spans`: CUT every
    duplicated span's words out of the text (the ExactSubstr behavior
    of Lee et al.'s public deduplicate-text-datasets tooling — every
    occurrence goes, which their ablations show is as good as keeping
    one) and rebuild each document from the surviving words in order.
    Output: (doc_id, n_words, n_removed, clean_text) for EVERY doc.

    Scale shape: the spans table — sized by duplicated text, not the
    corpus — groups to per-doc span lists (bounded by doc length) and
    joins back once on doc_id; the keep/rebuild is in-row HOFs over
    the word array. Docs with no spans pass through on the left join."""
    spans = (
        dup_passage_spans(df, text_col, id_col, n)
        .groupBy(id_col)
        .agg(
            F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
        )
    )
    staged = df.select(F.col(id_col), words_col(text_col).alias("_wsr")).join(
        spans, id_col, "left"
    )
    empty_spans = F.expr(
        "CAST(array() AS array<struct<span_start:bigint,span_end:bigint>>)"
    )
    staged = staged.select(
        F.col(id_col), F.col("_wsr"), F.coalesce("_spans", empty_spans).alias("_sp")
    )
    kept = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("_wsr")),
            lambda i: F.struct(
                i.alias("i"),
                F.exists(
                    F.col("_sp"),
                    lambda s: (s["span_start"] <= i) & (i <= s["span_end"]),
                ).alias("cut"),
            ),
        ),
        lambda e: ~e["cut"],
    )
    staged = staged.select(F.col(id_col), F.col("_wsr"), kept.alias("_keep"))
    words_out = F.transform(F.col("_keep"), lambda e: F.element_at("_wsr", e["i"]))
    return staged.select(
        F.col(id_col),
        F.size("_wsr").cast("bigint").alias("n_words"),
        (F.size("_wsr") - F.size("_keep")).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", words_out).alias("clean_text"),
    ).orderBy(id_col)


def remove_dup_passages_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id", n: int = PASSAGE_N
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH spans AS ({dup_passage_spans_sql(table, text_col, id_col, n)}),
    sp AS (
      SELECT {id_col},
             list({{'s': span_start, 'e': span_end}}) AS spans
      FROM spans GROUP BY {id_col}),
    staged AS (
      SELECT d.{id_col}, {w} AS arr, coalesce(sp.spans, []) AS spans
      FROM {table} d LEFT JOIN sp ON d.{id_col} = sp.{id_col}),
    kept AS (
      SELECT {id_col}, arr,
             list_filter(range(1, len(arr) + 1),
                 i -> len(list_filter(spans, u -> u.s <= i AND i <= u.e)) = 0)
               AS keep_pos
      FROM staged)
    SELECT {id_col},
           CAST(len(arr) AS BIGINT) AS n_words,
           CAST(len(arr) - len(keep_pos) AS BIGINT) AS n_removed,
           -- DuckDB's array_to_string returns NULL on an empty list;
           -- Spark's concat_ws returns '' — coalesce to the '' contract
           coalesce(array_to_string(list_transform(keep_pos, i -> arr[i]), ' '), '')
             AS clean_text
    FROM kept ORDER BY {id_col}
    """


# ------------------------------------------------- line-level dedup

# RefinedWeb / CCNet drop individual LINES that repeat across many
# documents (nav bars, cookie banners, boilerplate footers) — a finer
# instrument than whole-document dedup: it salvages the unique part of
# a page instead of keeping or killing it wholesale.
LINE_DEDUP_MIN_DF = 3  # a line in >= this many distinct docs is boilerplate
RELINE_WORDS = 8       # words per derived line for newline-free corpora


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = LINE_DEDUP_MIN_DF,
) -> DataFrame:
    """Cross-document line dedup: drop every line whose normalized form
    (lower+trim) appears in >= min_df distinct documents, then rebuild
    each document from its surviving lines in original order. Output:
    (doc_id, n_lines, n_kept, clean_text) for EVERY input doc — a fully
    boilerplate doc comes back with n_kept=0 and clean_text=''.

    Scale shape: lines explode once; the document-frequency count is a
    groupBy on the normalized line; the boilerplate set (only lines
    ABOVE the threshold — tiny next to the corpus but unbounded, so NOT
    broadcast) anti-joins back on the same key; the rebuild regroups by
    doc_id collecting (pos, line) structs — per-doc state only, no
    global sort."""
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), "\n")).alias("_p", "line")
    ).select(
        F.col(id_col),
        (F.col("_p") + 1).alias("pos"),
        F.col("line"),
        F.lower(F.trim("line")).alias("norm"),
    )
    boiler = (
        lines.groupBy("norm")
        .agg(F.count_distinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("norm")
    )
    kept = lines.join(boiler, "norm", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("n_kept"),
    )
    base = df.select(
        F.col(id_col), F.size(F.split(F.col(text_col), "\n")).cast("bigint").alias("n_lines")
    )
    return base.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.col("n_lines"),
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def line_dedup_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = LINE_DEDUP_MIN_DF,
) -> str:
    return f"""
    WITH l0 AS (SELECT {id_col}, str_split({text_col}, chr(10)) AS arr
                FROM {table}),
    lines AS (
      SELECT {id_col},
             unnest(range(1, len(arr) + 1)) AS pos,
             unnest(arr) AS line
      FROM l0),
    nl AS (SELECT {id_col}, pos, line, lower(trim(line)) AS norm FROM lines),
    bl AS (SELECT norm FROM nl GROUP BY norm HAVING count(DISTINCT {id_col}) >= {min_df}),
    kept AS (SELECT * FROM nl WHERE norm NOT IN (SELECT norm FROM bl)),
    reb AS (
      SELECT {id_col},
             string_agg(line, chr(10) ORDER BY pos) AS clean_text,
             count(*) AS n_kept
      FROM kept GROUP BY {id_col})
    SELECT l0.{id_col},
           CAST(len(l0.arr) AS BIGINT) AS n_lines,
           CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(reb.clean_text, '') AS clean_text
    FROM l0 LEFT JOIN reb USING ({id_col})
    """


def reline_col(text_col: str = "text", w: int = RELINE_WORDS) -> Column:
    """Re-chunk whitespace text into newline-joined lines of ``w`` words
    each — gives line-oriented operators a deterministic line structure
    on corpora that carry none (all in-row codegen)."""
    ws = words_col(text_col)
    return F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.ceil(F.size(ws) / F.lit(w)).cast("int")),
            lambda i: F.concat_ws(" ", F.slice(ws, (i - 1) * w + 1, w)),
        ),
        "\n",
    )


def reline_sql(text_col: str = "text", w: int = RELINE_WORDS) -> str:
    arr = words_sql(text_col)
    return (
        f"array_to_string(list_transform(range(1, (len({arr}) + {w - 1}) // {w} + 1), "
        f"i -> array_to_string(({arr})[(i-1)*{w}+1:(i-1)*{w}+{w}], ' ')), chr(10))"
    )


def shingle_stream(
    df: DataFrame, text_col: str = "text", k: int = DECONTAM_K, keep: tuple = ()
) -> DataFrame:
    """All k-word shingles of a corpus as one column ``s`` (one in-row
    explode, not distinct), optionally carrying ``keep`` columns (e.g.
    a source tag for grouped sketches) — the shared front end of the
    fuzzy-join dictionary, overlap sketches, and decontamination
    streams."""
    cols = [F.col(c) for c in keep]
    ws = df.select(*cols, words_col(text_col).alias("_ws")).filter(F.size("_ws") >= k)
    return ws.select(*cols, F.explode(_shingle_col("_ws", k)).alias("s"))


# ------------------------------------------- corpus diversity (distinct-n)

def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Distinct-n diversity per group (Li et al. 2016, "A
    Diversity-Promoting Objective Function for Neural Conversation
    Models"): distinct_n = |unique n-grams| / |total n-grams| for
    n = 1, 2 — the standard degeneracy/diversity QC for generated or
    scraped corpora (a crawler stuck in a template farm, or a model
    collapsing to repeated phrases, drives distinct-2 toward 0).

    Scale shape: two explode→groupBy passes (unigrams, adjacent
    bigrams), each map-side combined; the distinct count is Spark's
    two-level partial-distinct aggregate keyed on (group, gram) — no
    corpus-wide state, no window. The ratios are single IEEE divisions
    of exact bigints rounded at 9dp (engine-exact by construction).
    """
    ws = words_col(F.lower(F.col(text_col)))
    base = df.select(F.col(group_col).alias("grp"), ws.alias("_ws"))
    uni = base.select("grp", F.explode("_ws").alias("g"))
    big = base.filter(F.size("_ws") >= 2).select(
        "grp",
        F.explode(
            F.expr(
                "transform(sequence(1, size(_ws) - 1),"
                " i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1)))"
            )
        ).alias("g"),
    )

    def _stats(grams: DataFrame, n: int) -> DataFrame:
        return grams.groupBy("grp").agg(
            F.count("*").cast("bigint").alias(f"total_{n}"),
            F.countDistinct("g").cast("bigint").alias(f"distinct_{n}"),
        )

    s1, s2 = _stats(uni, 1), _stats(big, 2)
    # LEFT join: a group whose docs are all single-token has no bigrams but
    # still deserves its unigram row (NULL d2) — the degenerate groups are
    # exactly the ones this QC exists to flag.
    return (
        s1.join(s2, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            "total_1",
            "distinct_1",
            F.round(F.col("distinct_1") / F.col("total_1").cast("double"), 9).alias("d1"),
            "total_2",
            "distinct_2",
            F.round(F.col("distinct_2") / F.col("total_2").cast("double"), 9).alias("d2"),
        )
        .orderBy(group_col)
    )


def ngram_diversity_sql(
    table: str = "documents",
    text_col: str = "text",
    group_col: str = "source",
) -> str:
    w = words_sql(f"lower({text_col})")
    return f"""
    WITH base AS (SELECT {group_col} AS grp, {w} AS ws FROM {table}),
    uni AS (SELECT grp, unnest(ws) AS g FROM base),
    big AS (
      SELECT grp, ws[i] || ' ' || ws[i + 1] AS g
      FROM (SELECT grp, ws, unnest(range(1, len(ws))) AS i
            FROM base WHERE len(ws) >= 2)),
    s1 AS (SELECT grp, CAST(count(*) AS BIGINT) AS total_1,
                  CAST(count(DISTINCT g) AS BIGINT) AS distinct_1
           FROM uni GROUP BY grp),
    s2 AS (SELECT grp, CAST(count(*) AS BIGINT) AS total_2,
                  CAST(count(DISTINCT g) AS BIGINT) AS distinct_2
           FROM big GROUP BY grp)
    SELECT s1.grp AS {group_col}, total_1, distinct_1,
           round(distinct_1 / CAST(total_1 AS DOUBLE), 9) AS d1,
           total_2, distinct_2,
           round(distinct_2 / CAST(total_2 AS DOUBLE), 9) AS d2
    FROM s1 LEFT JOIN s2 USING (grp)
    ORDER BY {group_col}
    """


# ------------------------------------------------- Zipf rank-frequency fit

ZIPF_TOP_R = 64  # ranks fitted per group (bounded window state)


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_r: int = ZIPF_TOP_R,
) -> DataFrame:
    """Zipf rank-frequency fit per group: least-squares slope of
    ln(freq) against ln(rank) over the top-``top_r`` word frequencies
    (Zipf 1949; natural language sits near slope −1). A corpus whose
    slope drifts far from −1 is a red flag for template spam (too
    flat: every word equally common) or degenerate repetition (too
    steep) — a one-row-per-source fingerprint used alongside the
    Heaps'-law vocab growth curve.

    Engine-exactness: ln(rank) and ln(freq) are libm calls on exact
    integers, rounded at 9dp (the repo's libm convention); each
    regression term (x, y, xy, x²) is then cast to DECIMAL(29,9) and
    summed EXACTLY (order-free), and the closed-form slope divides the
    decimal sums as doubles (cast exact at these magnitudes), rounded
    at 9dp. No cross-engine double accumulation anywhere.

    Scale shape: one explode→groupBy word count (map-side combined),
    then a per-group top-R via row_number over a (group)-keyed window
    — bounded state per group — and a final per-group aggregate of
    ≤top_r rows. The corpus is never globally sorted.
    """
    ws = words_col(F.lower(F.col(text_col)))
    counts = (
        df.select(F.col(group_col).alias("grp"), ws.alias("_ws"))
        .select("grp", F.explode("_ws").alias("w"))
        .groupBy("grp", "w")
        .agg(F.count("*").alias("c"))
    )
    win = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("w"))
    ranked = counts.select(
        "grp", "c", F.row_number().over(win).alias("r")
    ).filter(F.col("r") <= top_r)
    x = F.round(F.log(F.col("r").cast("double")), 9)
    y = F.round(F.log(F.col("c").cast("double")), 9)
    terms = ranked.select(
        "grp",
        x.cast("decimal(29,9)").alias("_x"),
        y.cast("decimal(29,9)").alias("_y"),
        F.round(x * y, 9).cast("decimal(29,9)").alias("_xy"),
        F.round(x * x, 9).cast("decimal(29,9)").alias("_xx"),
    )
    agg = terms.groupBy("grp").agg(
        F.count("*").cast("bigint").alias("n_ranks"),
        F.sum("_x").alias("sx"),
        F.sum("_y").alias("sy"),
        F.sum("_xy").alias("sxy"),
        F.sum("_xx").alias("sxx"),
    )
    n = F.col("n_ranks").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    denom = n * sxx - sx * sx
    return agg.select(
        F.col("grp").alias(group_col),
        "n_ranks",
        # a single-rank group has zero x-variance: the fit is undefined
        # — return NULL explicitly (Spark's double 0/0 is NaN, DuckDB's
        # differs; the guard keeps both engines at NULL)
        F.when(
            denom != 0.0, F.round((n * sxy - sx * sy) / denom, 9)
        ).alias("zipf_slope"),
    ).orderBy(group_col)


def zipf_slope_sql(
    table: str = "documents",
    text_col: str = "text",
    group_col: str = "source",
    top_r: int = ZIPF_TOP_R,
) -> str:
    w = words_sql(f"lower({text_col})")
    return f"""
    WITH counts AS (
      SELECT grp, w, count(*) AS c
      FROM (SELECT {group_col} AS grp, unnest({w}) AS w FROM {table})
      GROUP BY grp, w),
    ranked AS (
      SELECT grp, c,
             row_number() OVER (PARTITION BY grp ORDER BY c DESC, w ASC) AS r
      FROM counts),
    terms AS (
      SELECT grp,
             CAST(round(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(29,9)) AS x,
             CAST(round(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(29,9)) AS y,
             CAST(round(round(ln(CAST(r AS DOUBLE)), 9)
                        * round(ln(CAST(c AS DOUBLE)), 9), 9)
                  AS DECIMAL(29,9)) AS xy,
             CAST(round(round(ln(CAST(r AS DOUBLE)), 9)
                        * round(ln(CAST(r AS DOUBLE)), 9), 9)
                  AS DECIMAL(29,9)) AS xx
      FROM ranked WHERE r <= {top_r}),
    agg AS (
      SELECT grp, CAST(count(*) AS BIGINT) AS n_ranks,
             sum(x) AS sx, sum(y) AS sy, sum(xy) AS sxy, sum(xx) AS sxx
      FROM terms GROUP BY grp)
    SELECT grp AS {group_col}, n_ranks,
           CASE WHEN (n_ranks * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) != 0.0
                THEN round((n_ranks * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (n_ranks * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 9)
           END AS zipf_slope
    FROM agg
    ORDER BY {group_col}
    """


# ------------------------------------------- BM25 hard-negative mining

HN_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q_exec", ("spark", "join", "window")),
    ("q_phys", ("hash", "merge", "sort")),
    ("q_flow", ("stream", "batch", "data")),
)
HN_POS_MIN = 4  # total query-term hits >= this ==> positive (not a negative)
HN_K = 10       # hard negatives kept per query


def hard_negatives_bm25(
    df: DataFrame,
    queries: tuple[tuple[str, tuple[str, ...]], ...] = HN_QUERIES,
    text_col: str = "text",
    id_col: str = "doc_id",
    pos_min: int = HN_POS_MIN,
    top_k: int = HN_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Hard-negative mining for retriever/reranker training (Karpukhin
    et al. 2020, DPR): for each training query, the top BM25-scored
    documents that are NOT positives are the "hard negatives" — lexically
    plausible yet wrong, the examples that teach a dense retriever the
    most. Positives use the same deterministic pseudo-label as the nDCG
    harness: total query-term occurrences >= ``pos_min``.

    Scale shape — a BATCHED extension of ``bm25_search``: ONE corpus
    pass scores every (query, doc) pair at once. The exploded term
    stream is filtered to the union of all query vocabularies BEFORE
    the shuffle (the broadcast (qid, term) map fans each matched term
    out to its queries), document frequencies are corpus-level and
    broadcast, and the per-query top-k is a bounded row_number window
    over only the query-matched NEGATIVE rows — the corpus is scanned
    once and never globally sorted, however many queries are batched.
    """
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in terms], "qid string, term string"
    )
    base = df.select(
        F.col(id_col), words_col(text_col).alias("_ws")
    ).select(
        F.col(id_col), F.col("_ws"), F.size("_ws").alias("dl")
    ).localCheckpoint(eager=False)  # feeds the scalar stats AND the scored plan
    n_docs, avgdl, _ = corpus_stats(base)
    avgdl = avgdl or 1.0
    matched = (
        base.select(F.col(id_col), F.col("dl"), F.explode("_ws").alias("term"))
        .join(F.broadcast(qdf), "term")
    )
    tf = matched.groupBy("qid", id_col, "term", "dl").agg(F.count("*").alias("tf"))
    # df_t is corpus-level (per term, not per query): dedup the qid fanout
    dft = (
        tf.select("term", id_col).distinct()
        .groupBy("term")
        .agg(F.countDistinct(id_col).alias("df_t"))
    )
    idf = F.log((F.lit(float(n_docs)) - F.col("df_t") + 0.5) / (F.col("df_t") + 0.5) + 1.0)
    norm = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(float(avgdl)))
    scored = (
        tf.join(F.broadcast(dft), "term")
        .groupBy("qid", id_col)
        .agg(
            F.round(F.sum(idf * F.col("tf") * (k1 + 1.0) / norm), 6).alias("score"),
            F.sum("tf").cast("bigint").alias("rel"),
        )
    )
    win = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.filter(F.col("rel") < pos_min)
        .select("qid", F.row_number().over(win).alias("rank"), F.col(id_col), "score", "rel")
        .filter(F.col("rank") <= top_k)
        .orderBy("qid", "rank")
    )


def hard_negatives_bm25_sql(
    table: str = "documents",
    queries: tuple[tuple[str, tuple[str, ...]], ...] = HN_QUERIES,
    text_col: str = "text",
    id_col: str = "doc_id",
    pos_min: int = HN_POS_MIN,
    top_k: int = HN_K,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    w = words_sql(text_col)
    qlist = ", ".join(f"('{qid}', '{t}')" for qid, terms in queries for t in terms)
    return f"""
    WITH q(qid, term) AS (VALUES {qlist}),
    base AS (SELECT {id_col}, {w} AS ws FROM {table}),
    dl_t AS (SELECT {id_col}, len(ws) AS dl FROM base),
    stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                     count(*) AS n_docs FROM dl_t),
    matched AS (
      SELECT q.qid, e.{id_col}, dl_t.dl, e.term
      FROM (SELECT {id_col}, unnest(ws) AS term FROM base) e
      JOIN q USING (term)
      JOIN dl_t USING ({id_col})),
    tf AS (
      SELECT qid, {id_col}, term, dl, count(*) AS tf
      FROM matched GROUP BY 1, 2, 3, 4),
    dft AS (
      SELECT term, count(DISTINCT {id_col}) AS df_t
      FROM (SELECT DISTINCT term, {id_col} FROM tf) GROUP BY 1),
    scored AS (
      SELECT tf.qid, tf.{id_col},
             round(sum(ln((CAST(stats.n_docs AS DOUBLE) - dft.df_t + 0.5)
                          / (dft.df_t + 0.5) + 1.0)
                       * tf.tf * ({k1} + 1.0)
                       / (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / stats.avgdl))),
                   6) AS score,
             CAST(sum(tf.tf) AS BIGINT) AS rel
      FROM tf CROSS JOIN stats
      JOIN dft USING (term)
      GROUP BY 1, 2),
    negs AS (
      SELECT qid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY score DESC, {id_col} ASC) AS rank,
             {id_col}, score, rel
      FROM scored WHERE rel < {pos_min})
    SELECT qid, CAST(rank AS INT) AS rank, {id_col}, score, rel
    FROM negs WHERE rank <= {top_k}
    ORDER BY qid, rank
    """


# --------------------------------- RM3 pseudo-relevance-feedback expansion

RM3_FB_DOCS = 10     # feedback pool size (first-pass top-k)
RM3_FB_TERMS = 10    # expansion terms kept from the relevance model
RM3_LAM_NUM = 1      # original-query interpolation weight, as the exact
RM3_LAM_DEN = 2      # rational lam = NUM/DEN (0.5 — the RM3 default)
_NANO = 1_000_000_000.0


def rm3_expand_search(
    df: DataFrame,
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 15,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    lam_num: int = RM3_LAM_NUM,
    lam_den: int = RM3_LAM_DEN,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """RM3 pseudo-relevance feedback (Lavrenko & Croft 2001; the RM3
    interpolation of Abdul-Jaleel et al. 2004): run BM25 once, build a
    relevance model from the top ``fb_docs`` documents — P(w|R) =
    mean_d tf_wd/|d| with uniform feedback-document weights (the
    uniform-P(d|q) simplification, stated here explicitly; the full
    model weights docs by their first-pass likelihood) — keep the top
    ``fb_terms`` expansion terms, interpolate with the original query
    (weight ``lam_num/lam_den`` on the original terms' uniform 1/|q|
    mass), and re-score the corpus with the weighted expanded query.
    The classic fix for vocabulary mismatch: the second pass finds
    documents that share the TOPIC's vocabulary, not just the query's
    literal terms.

    Scale shape: the feedback pool is the existing bounded BM25 top-k
    (TakeOrderedAndProject); the relevance model is built from ONLY
    those ``fb_docs`` documents (a broadcast-semi-joined slice) and is
    itself a <= fb_terms+|q|-row broadcast; the second corpus pass is
    the same filter-before-shuffle posting shape as ``bm25_search``,
    just with a weighted term table. Two corpus passes total, both
    pruned to matched terms before any shuffle.

    Engine-exactness: the whole model lives in INTEGER nanounits (the
    NDCG-discount trick) — P(w|d) quantizes to floor-round nanos, the
    relevance model and the lam-interpolation are exact bigint sums
    (lam is the rational lam_num/lam_den, so interpolation is integer
    multiplication), and the only floats are the per-term
    w * ln(1 + tf/dl) products, floor-rounded to nano ints and summed
    exactly; the final score divides the nano sum by 1e9 once.
    """
    spark = df.sparkSession
    pq_nano = round(_NANO / len(query_terms))
    w_den = float(lam_den * fb_docs) * _NANO  # weight-unit denominator
    # tokenize the corpus ONCE; both passes and the feedback slice read
    # the same checkpoint-pinned (id, words, dl) frame — at corpus scale
    # the regex split is the scan's dominant cost, and a naive RM3 pays
    # it twice
    base = df.select(
        F.col(id_col), words_col(text_col).alias("_ws")
    ).select(
        F.col(id_col), F.col("_ws"), F.size("_ws").alias("dl")
    ).localCheckpoint(eager=False)
    # ---- pass 1: BM25 feedback pool (bounded, deterministic) ----
    pool = bm25_search(
        df, query_terms, text_col, id_col, top_k=fb_docs, k1=k1, b=b,
        base=base,
    ).select(F.col(id_col).alias("_fb_id")).localCheckpoint(eager=False)
    # ---- relevance model over the feedback slice only ----
    fb = base.join(pool, base[id_col] == pool._fb_id, "left_semi")
    # P(w|d) in nanos: floor((tf/dl)*1e9 + 0.5) — pure IEEE, bit-equal
    p_units = F.floor(
        (F.col("tf") / F.col("dl").cast("double")) * F.lit(_NANO) + F.lit(0.5)
    ).cast("bigint")
    pwd = (
        fb.select(F.col(id_col), F.col("dl"), F.explode("_ws").alias("term"))
        .groupBy(id_col, "term", "dl")
        .agg(F.count("*").alias("tf"))
        .select("term", p_units.alias("_p"))
    )
    # uniform doc weights: the fb_docs division folds into w_den below,
    # so the model stays an exact bigint sum (docs missing a term add 0)
    rel_model = (
        pwd.groupBy("term")
        .agg(F.sum("_p").alias("pwr_units"))
        .orderBy(F.desc("pwr_units"), F.asc("term"))
        .limit(fb_terms)
    )
    # ---- RM3 interpolation, exact in integer weight units of 1/w_den:
    # lam*pq = lam_num*pq_nano*fb_docs / w_den;
    # (1-lam)*P(w|R) = (lam_den-lam_num)*pwr_units / w_den
    orig = spark.createDataFrame(
        [(t,) for t in query_terms], "term string"
    ).select("term", F.lit(int(pq_nano * fb_docs * lam_num)).alias("pq_units"))
    expanded = (
        rel_model.join(orig, "term", "full_outer")
        .select(
            "term",
            (
                F.coalesce(F.col("pq_units"), F.lit(0))
                + F.lit(lam_den - lam_num)
                * F.coalesce(F.col("pwr_units"), F.lit(0))
            ).cast("bigint").alias("w_units"),
        )
        .filter(F.col("w_units") > 0)
        .localCheckpoint(eager=False)  # <= fb_terms+|q| rows, read once
    )
    # ---- pass 2: weighted rescoring over the SAME tokenized base ----
    matched = (
        base.select(F.col(id_col), F.col("dl"), F.explode("_ws").alias("term"))
        .join(F.broadcast(expanded), "term")
    )
    tf = matched.groupBy(id_col, "term", "dl", "w_units").agg(
        F.count("*").alias("tf")
    )
    # per-term contribution w * ln(1 + tf/dl), floor-rounded to nanos:
    # every input double is bit-identical across engines (exact-int
    # casts, IEEE division, libm ln), so the floor is too
    w_dbl = F.col("w_units").cast("double") / F.lit(w_den)
    contrib_nanos = F.floor(
        w_dbl
        * F.round(F.log(F.lit(1.0) + F.col("tf") / F.col("dl").cast("double")), 9)
        * F.lit(_NANO)
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        tf.select(F.col(id_col), contrib_nanos.alias("_c"))
        .groupBy(id_col)
        .agg(
            (F.sum("_c").cast("double") / F.lit(_NANO)).alias("score"),
            F.count("*").cast("bigint").alias("n_matched"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(top_k)


def rm3_expand_search_sql(
    table: str = "documents",
    query_terms: tuple[str, ...] = BM25_QUERY_TERMS,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 15,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    lam_num: int = RM3_LAM_NUM,
    lam_den: int = RM3_LAM_DEN,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    w = words_sql(text_col)
    qlist = ", ".join(f"('{t}')" for t in query_terms)
    pq_units = int(round(_NANO / len(query_terms)) * fb_docs * lam_num)
    w_den = float(lam_den * fb_docs) * _NANO
    return f"""
    WITH q(term) AS (VALUES {qlist}),
    base AS (SELECT {id_col}, {w} AS ws FROM {table}),
    dl_t AS (SELECT {id_col}, len(ws) AS dl FROM base),
    stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                     count(*) AS n_docs FROM dl_t),
    exploded AS (SELECT {id_col}, unnest(ws) AS term FROM base),
    tf1 AS (
      SELECT e.{id_col}, e.term, dl_t.dl, count(*) AS tf
      FROM exploded e JOIN q USING (term) JOIN dl_t USING ({id_col})
      GROUP BY 1, 2, 3),
    dft AS (SELECT term, count(DISTINCT {id_col}) AS df_t FROM tf1 GROUP BY 1),
    pool AS (
      SELECT tf1.{id_col},
             round(sum(ln((CAST(stats.n_docs AS DOUBLE) - dft.df_t + 0.5)
                          / (dft.df_t + 0.5) + 1.0)
                       * tf1.tf * ({k1} + 1.0)
                       / (tf1.tf + {k1} * (1.0 - {b} + {b} * tf1.dl / stats.avgdl))),
                   6) AS score
      FROM tf1 CROSS JOIN stats JOIN dft USING (term)
      GROUP BY tf1.{id_col}
      ORDER BY score DESC, {id_col} ASC LIMIT {fb_docs}),
    fb_tf AS (
      SELECT e.{id_col}, e.term, dl_t.dl, count(*) AS tf
      FROM exploded e
      JOIN pool USING ({id_col})
      JOIN dl_t USING ({id_col})
      GROUP BY 1, 2, 3),
    rel_model AS (
      SELECT term,
             sum(CAST(floor((tf / CAST(dl AS DOUBLE)) * {_NANO!r} + 0.5)
                      AS BIGINT)) AS pwr_units
      FROM fb_tf GROUP BY term
      ORDER BY pwr_units DESC, term ASC LIMIT {fb_terms}),
    orig AS (SELECT term, CAST({pq_units} AS BIGINT) AS pq_units FROM q),
    expanded AS (
      SELECT coalesce(r.term, o.term) AS term,
             CAST(coalesce(o.pq_units, 0)
                  + {lam_den - lam_num} * coalesce(r.pwr_units, 0)
                  AS BIGINT) AS w_units
      FROM rel_model r FULL OUTER JOIN orig o ON r.term = o.term),
    expanded_pos AS (SELECT * FROM expanded WHERE w_units > 0),
    tf2 AS (
      SELECT e.{id_col}, e.term, dl_t.dl, x.w_units, count(*) AS tf
      FROM exploded e
      JOIN expanded_pos x USING (term)
      JOIN dl_t USING ({id_col})
      GROUP BY 1, 2, 3, 4),
    scored AS (
      SELECT {id_col},
             CAST(sum(CAST(floor((CAST(w_units AS DOUBLE) / {w_den!r})
                                 * round(ln(1.0 + tf / CAST(dl AS DOUBLE)), 9)
                                 * {_NANO!r} + 0.5) AS BIGINT))
                  AS DOUBLE) / {_NANO!r} AS score,
             CAST(count(*) AS BIGINT) AS n_matched
      FROM tf2 GROUP BY {id_col})
    SELECT * FROM scored ORDER BY score DESC, {id_col} ASC LIMIT {top_k}
    """


# ------------------------------------------- ensemble quality filter

QENS_K = 200  # documents reported by the ensemble query


def quality_ensemble(
    df: DataFrame,
    k: int = QENS_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Ensemble quality selection — reciprocal-rank fusion of THREE
    independent quality signals, the FineWeb/RefinedWeb lesson that no
    single filter survives contact with a web crawl: (1) the heuristic
    composite (quality_score), (2) unigram-LM fluency (avg word
    logprob — the CCNet perplexity stand-in), (3) repetition, i.e.
    Gopher's duplicate-3-gram fraction ranked ASCENDING (less
    templated = better). Each signal ranks the corpus exactly (ties by
    id) through ``relational.ordered_prefix``, and rrf = Σ 1/(60 +
    rank) fuses them on integer ranks, so the fused score is bit-identical across engines however each raw
    signal's doubles round (the hybrid_search_docs trick, applied
    corpus-wide). Docs shorter than 3 words carry no repetition signal
    and are excluded (inner join), matching the SQL twin. Top-k by
    (rrf desc, id asc)."""
    q = quality_score(df, text_col, id_col).select(id_col, "quality")
    lm = unigram_logprob(df, text_col, id_col).select(id_col, "avg_logprob")
    rep = dup_ngram_frac(df, text_col, id_col).select(id_col, "dup_gram_frac")
    base = q.join(lm, id_col).join(rep, id_col).localCheckpoint(eager=False)

    def rank(col: str, descending: bool, name: str) -> DataFrame:
        ranked, _ = ordered_prefix(base.select(id_col, col), col, descending, (id_col,), "_r")
        return ranked.select(id_col, (F.col("_r") + 1).alias(name))

    fused = (
        rank("quality", True, "r_quality")
        .join(rank("avg_logprob", True, "r_fluency"), id_col)
        .join(rank("dup_gram_frac", False, "r_repetition"), id_col)
    )
    rrf = (
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("r_quality").cast("double"))
        + F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("r_fluency").cast("double"))
        + F.lit(1.0) / (F.lit(float(RRF_K)) + F.col("r_repetition").cast("double"))
    )
    return (
        fused.select(
            F.col(id_col),
            "r_quality",
            "r_fluency",
            "r_repetition",
            floor_round(rrf, 6).alias("rrf_score"),
        )
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(k)
    )


def quality_ensemble_sql(
    table: str = "documents",
    k: int = QENS_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    qs = quality_score_sql(table, text_col, id_col)
    lm = unigram_logprob_sql(table, text_col, id_col)
    rep = dup_ngram_frac_sql(table, text_col, id_col)
    return f"""
    WITH q AS ({qs}),
    lm AS ({lm}),
    rep AS ({rep}),
    sig AS (
      SELECT q.{id_col}, q.quality, lm.avg_logprob, rep.dup_gram_frac
      FROM q JOIN lm ON q.{id_col} = lm.{id_col}
      JOIN rep ON q.{id_col} = rep.{id_col}),
    ranked AS (
      SELECT {id_col},
             CAST(row_number() OVER (ORDER BY quality DESC, {id_col} ASC)
                  AS BIGINT) AS r_quality,
             CAST(row_number() OVER (ORDER BY avg_logprob DESC, {id_col} ASC)
                  AS BIGINT) AS r_fluency,
             CAST(row_number() OVER (ORDER BY dup_gram_frac ASC, {id_col} ASC)
                  AS BIGINT) AS r_repetition
      FROM sig)
    SELECT {id_col}, r_quality, r_fluency, r_repetition,
           {floor_round_sql(
               f"1.0 / (60.0 + r_quality) + 1.0 / (60.0 + r_fluency)"
               f" + 1.0 / (60.0 + r_repetition)", 6)} AS rrf_score
    FROM ranked
    ORDER BY rrf_score DESC, {id_col} ASC LIMIT {k}
    """


# -------------------------------------- concat-and-chunk packing (GPT)

CHUNK_CAPACITY = 512  # tokens per training chunk


def concat_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = CHUNK_CAPACITY,
    seed: int = 0,
) -> DataFrame:
    """GPT-style concat-and-chunk packing: concatenate the epoch's
    token stream in epoch-shuffle order and cut it into fixed
    ``capacity``-token chunks, documents crossing chunk boundaries
    freely — the packing decoder-only pretraining actually uses
    (pack_sequences is the no-split alternative for SFT-style runs).
    Per chunk: n_docs touching it, its token count (== capacity except
    the last), and the first/last doc in stream order.

    Shape at scale: the md5 epoch order comes from epoch_shuffle, and
    the exclusive prefix sum of token counts over it is
    ``relational.ordered_prefix``. A doc spanning k chunks explodes to
    k rows (k <= n_tokens/capacity + 1), so the fan-out is
    ~total_tokens/capacity — the output's own size. Empty docs carry
    no tokens and are excluded from the stream."""
    ranks = epoch_shuffle(df, id_col, seed)
    toks = df.select(
        F.col(id_col),
        F.size(F.filter(words_col(text_col), lambda w: F.length(w) > 0))
        .cast("bigint")
        .alias("_nt"),
    ).filter(F.col("_nt") > 0)
    staged, _ = ordered_prefix(
        ranks.join(toks, id_col), "shuffle_rank", False, (), "_off", weight="_nt"
    )
    first_c = F.floor(F.col("_off") / capacity)
    last_c = F.floor((F.col("_off") + F.col("_nt") - 1) / capacity)
    spans = staged.select(
        F.col(id_col),
        F.col("_off"),
        F.col("_nt"),
        F.explode(F.sequence(first_c, last_c)).alias("chunk_id"),
    )
    overlap = F.least(
        (F.col("chunk_id") + 1) * capacity, F.col("_off") + F.col("_nt")
    ) - F.greatest(F.col("chunk_id") * capacity, F.col("_off"))
    return (
        spans.select(F.col(id_col), F.col("_off"), F.col("chunk_id"), overlap.alias("_ov"))
        .groupBy("chunk_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_ov").cast("bigint").alias("chunk_tokens"),
            F.min_by(F.col(id_col), F.col("_off")).alias("first_doc"),
            F.max_by(F.col(id_col), F.col("_off")).alias("last_doc"),
        )
        .orderBy("chunk_id")
    )


def concat_chunks_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = CHUNK_CAPACITY,
    seed: int = 0,
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH toks AS (
      SELECT {id_col},
             CAST(len(list_filter({w}, x -> length(x) > 0)) AS BIGINT) AS nt
      FROM {table}),
    ordered AS (
      SELECT {id_col}, nt,
             sum(nt) OVER (
               ORDER BY md5('{seed}:' || CAST({id_col} AS VARCHAR)) ASC,
                        {id_col} ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS off
      FROM toks WHERE nt > 0),
    spans AS (
      SELECT {id_col}, off, nt,
             unnest(range(CAST(floor(off / {capacity}) AS BIGINT),
                          CAST(floor((off + nt - 1) / {capacity}) AS BIGINT) + 1))
               AS chunk_id
      FROM ordered)
    SELECT chunk_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(least((chunk_id + 1) * {capacity}, off + nt)
                    - greatest(chunk_id * {capacity}, off)) AS BIGINT)
             AS chunk_tokens,
           arg_min({id_col}, off) AS first_doc,
           arg_max({id_col}, off) AS last_doc
    FROM spans
    GROUP BY chunk_id
    ORDER BY chunk_id
    """


# ---------------------------------- interpolated Kneser-Ney scoring

KN_DISCOUNT = 0.75  # the standard absolute discount (Chen & Goodman 1999)


def kn_bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 65536,
    words_base: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean INTERPOLATED KNESER-NEY bigram log-probability
    (Chen & Goodman 1999) — the smoothing the KenLM models of
    CCNet-style filters actually use, one rung above the MLE bigram:

        p(w2|w1) = max(c(w1w2) - D, 0)/c(w1·)
                 + (D · N1+(w1·)/c(w1·)) · (N1+(·w2)/N1+(··))

    The continuation weight N1+(·w2) counts DISTINCT left contexts, so
    a word frequent in one fixed collocation ("york" after "new")
    backs off far lower than an equally frequent free word — the
    correction MLE smoothing misses.

    Scale shape: the bigram position table feeds three
    map-side-combined groupBys (bigram counts, per-context totals +
    distinct-successor counts, per-word distinct-context counts), each
    bounded to ``top_vocab`` rows (count desc, key asc —
    deterministic) and broadcast back; the distinct-bigram-type total
    and the floor total are two scalar collects. Misses hit the
    0.5-floor conventions below. Cross-engine exactness: every count
    is an exact integer, the probability expression evaluates in ONE
    fixed parenthesization of IEEE doubles (bit-equal on both
    engines), logs round at 9dp and sum as DECIMAL(38,9)."""
    if words_base is None:
        ws = words_col(F.lower(F.col(text_col)))
        words_base = df.select(F.col(id_col), ws.alias("_ws"))
    base = words_base.filter(F.size("_ws") >= 2)
    pos = base.select(
        F.col(id_col),
        F.col("_ws"),
        F.explode(F.sequence(F.lit(1), F.size("_ws") - 1)).alias("i"),
    )
    bgd = pos.select(
        F.col(id_col),
        F.element_at("_ws", F.col("i")).alias("w1"),
        F.element_at("_ws", F.col("i") + 1).alias("w2"),
        F.concat_ws(
            " ", F.element_at("_ws", F.col("i")), F.element_at("_ws", F.col("i") + 1)
        ).alias("bg"),
    )
    # ONE corpus-sized shuffle (guide §2.2/§2.3): distinct (w1,w2)
    # counts, lazily checkpointed; the context/continuation tables and
    # the scalar totals derive from this types-sized table instead of
    # re-exploding the corpus per agg. Exact-integer equivalences: per
    # w1 the g rows are the distinct w2 (count(*) == count_distinct(w2),
    # sum(c12) == the position count), per w2 the distinct w1.
    g = (
        bgd.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .select("w1", "w2", "c12", F.concat_ws(" ", "w1", "w2").alias("bg"))
        .localCheckpoint(eager=False)
    )
    ctx = (
        g.groupBy("w1")
        .agg(F.sum("c12").alias("c1"), F.count("*").alias("n1"))
        .orderBy(F.desc("c1"), F.asc("w1"))
        .limit(top_vocab)
    )
    cont = (
        g.groupBy("w2")
        .agg(F.count("*").alias("cw"))
        .orderBy(F.desc("cw"), F.asc("w2"))
        .limit(top_vocab)
    )
    tot_row = g.agg(
        F.sum("c12").alias("t"), F.count("*").alias("types")
    ).collect()[0]
    total = int(tot_row["t"] or 1)
    types = int(tot_row["types"] or 1)
    vocab = g.select("bg", "c12").orderBy(F.desc("c12"), F.asc("bg")).limit(top_vocab)
    d = F.lit(KN_DISCOUNT)
    p = (
        F.greatest(F.coalesce(F.col("c12"), F.lit(0)) - d, F.lit(0.0))
        / F.col("c1").cast("double")
    ) + (
        (d * F.col("n1").cast("double") / F.col("c1").cast("double"))
        * (
            F.coalesce(F.col("cw").cast("double"), F.lit(0.5))
            / F.lit(float(types))
        )
    )
    lp = F.when(
        F.col("c1").isNotNull(),
        F.round(F.log(p), 9),
    ).otherwise(F.round(F.log(F.lit(0.5 / float(total))), 9))
    return (
        bgd.join(F.broadcast(vocab), "bg", "left")
        .join(F.broadcast(ctx), "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .select(F.col(id_col), lp.cast("decimal(38,9)").alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            floor_round(
                F.sum("_lp").cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_logprob"),
        )
        .orderBy(id_col)
    )


def kn_bigram_logprob_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 65536,
) -> str:
    ws = words_sql(f"lower({text_col})")
    d = KN_DISCOUNT
    return f"""
    WITH base AS (
      SELECT {id_col}, {ws} AS arr FROM {table} WHERE len({ws}) >= 2),
    pos AS (
      SELECT {id_col}, arr, unnest(range(1, len(arr))) AS i FROM base),
    bgd AS (
      SELECT {id_col}, arr[i] AS w1, arr[i+1] AS w2,
             arr[i] || ' ' || arr[i+1] AS bg
      FROM pos),
    freq AS (SELECT bg, count(*) AS c12 FROM bgd GROUP BY 1),
    ctx AS (
      SELECT w1, c1, n1 FROM (
        SELECT w1, count(*) AS c1, count(DISTINCT w2) AS n1
        FROM bgd GROUP BY w1)
      ORDER BY c1 DESC, w1 ASC LIMIT {top_vocab}),
    cont AS (
      SELECT w2, cw FROM (
        SELECT w2, count(DISTINCT w1) AS cw FROM bgd GROUP BY w2)
      ORDER BY cw DESC, w2 ASC LIMIT {top_vocab}),
    tot AS (
      SELECT greatest(sum(c12), 1) AS t,
             greatest(count(*), 1) AS types
      FROM freq),
    vocab AS (SELECT bg, c12 FROM freq ORDER BY c12 DESC, bg ASC LIMIT {top_vocab}),
    scored AS (
      SELECT bgd.{id_col},
             CAST(CASE WHEN x.c1 IS NOT NULL THEN round(ln(
               (greatest(coalesce(v.c12, 0) - {d}, 0.0)
                / CAST(x.c1 AS DOUBLE))
               + (({d} * CAST(x.n1 AS DOUBLE) / CAST(x.c1 AS DOUBLE))
                  * (coalesce(CAST(k.cw AS DOUBLE), 0.5)
                     / CAST(t.types AS DOUBLE)))
             ), 9)
             ELSE round(ln(0.5 / CAST(t.t AS DOUBLE)), 9)
             END AS DECIMAL(38,9)) AS lp
      FROM bgd
      LEFT JOIN vocab v ON bgd.bg = v.bg
      LEFT JOIN ctx x ON bgd.w1 = x.w1
      LEFT JOIN cont k ON bgd.w2 = k.w2
      CROSS JOIN tot t)
    SELECT {id_col}, count(*) AS n_bigrams,
           {floor_round_sql("CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
             AS avg_logprob
    FROM scored GROUP BY {id_col} ORDER BY {id_col}
    """


# ------------------------------------- per-source duplication report


def dedup_rate_by_source(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source exact-duplication report — the number a crawl triage
    reads before spending near-dup compute: for each source, its doc
    count, distinct-fingerprint count, internal duplicate rate
    (1 - distinct/docs, rounded 6dp), and the share of its docs whose
    fingerprint ALSO appears in some other source (cross-source
    duplication — mirror sites and syndication show up here, not in
    the within-source rate).

    Shape at scale: fingerprints are the in-row 128-bit md5 (no
    shuffle); ONE fingerprint-keyed groupBy builds the global
    (fingerprint -> distinct-source count) table and a second
    source-keyed aggregate reduces to |sources| rows. The fingerprint
    table re-joins the corpus by fingerprint (sort-merge at corpus
    scale — correct, both sides are corpus-sized)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    from tinyetl_spark.functions.hashing import hash128_col

    base = df.select(
        F.col(id_col), F.col(source_col), hash128_col(norm).alias("fp")
    )
    fp_sources = base.groupBy("fp").agg(
        F.count_distinct(source_col).alias("_nsrc")
    )
    joined = base.join(fp_sources, "fp")
    return (
        joined.groupBy(source_col)
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("fp").cast("bigint").alias("n_distinct"),
            F.count(F.when(F.col("_nsrc") > 1, F.lit(1)))
            .cast("bigint")
            .alias("n_cross_source"),
        )
        .select(
            F.col(source_col),
            "n_docs",
            "n_distinct",
            "n_cross_source",
            floor_round(
                F.lit(1.0)
                - F.col("n_distinct").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
            floor_round(
                F.col("n_cross_source").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("cross_source_frac"),
        )
        .orderBy(source_col)
    )


def dedup_rate_by_source_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    from tinyetl_spark.functions.hashing import hash128_sql

    norm = f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    return f"""
    WITH base AS (
      SELECT {id_col}, {source_col}, {hash128_sql(norm)} AS fp FROM {table}),
    fp_sources AS (
      SELECT fp, count(DISTINCT {source_col}) AS nsrc FROM base GROUP BY fp),
    joined AS (
      SELECT b.{source_col}, b.fp, s.nsrc
      FROM base b JOIN fp_sources s ON b.fp = s.fp)
    SELECT {source_col},
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
           CAST(count(*) FILTER (WHERE nsrc > 1) AS BIGINT) AS n_cross_source,
           {floor_round_sql(
               "1.0 - CAST(count(DISTINCT fp) AS DOUBLE)"
               " / CAST(count(*) AS DOUBLE)", 6)} AS dup_rate,
           {floor_round_sql(
               "CAST(count(*) FILTER (WHERE nsrc > 1) AS DOUBLE)"
               " / CAST(count(*) AS DOUBLE)", 6)} AS cross_source_frac
    FROM joined
    GROUP BY {source_col}
    ORDER BY {source_col}
    """


# ------------------------------------------- per-source term fingerprints

LOGODDS_A0 = 500.0       # total Dirichlet prior mass (informative prior)
LOGODDS_MIN_COUNT = 5    # a term must appear this often in the source
LOGODDS_TOP_K = 10       # terms reported per source


def source_logodds_terms(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    a0: float = LOGODDS_A0,
    min_count: int = LOGODDS_MIN_COUNT,
    top_k: int = LOGODDS_TOP_K,
) -> DataFrame:
    """What makes each source LINGUISTICALLY distinctive: top-k terms
    per source by the log-odds ratio with informative Dirichlet prior
    and its z-score (Monroe, Colaresi & Quinn 2008, "Fightin' Words").
    The crawl-triage fingerprint a curation run reads next to
    dedup_rate_by_source: raw frequency ranks surface stopwords, tf-idf
    over-rewards rare typos; the prior (a_w = a0 * global_freq) shrinks
    both failure modes and the z-score normalizes by variance.

    Exactness: all counts are bigints off two map-side-combined
    groupBys; each z is ONE fixed IEEE expression tree over those
    integers (two ln, one sqrt — the same cross-engine-identical libm
    contract the unigram-LM tier is green on), rounded half-up at 6dp
    before the rank so the ordering itself is engine-identical (ties
    break on the term).

    Scale shape: explode → groupBy(source, term) is the only
    corpus-sized shuffle; the global term table aggregates FROM the
    (source, term) counts (map-side combined, vocabulary-sized); the
    per-source totals table is |sources| rows and broadcasts; the
    min_count filter prunes the scored table before the per-source
    top-k window, whose partitions are vocabulary-sized (Heaps' law —
    sublinear in corpus), never corpus-sized."""
    from pyspark.sql import Window

    ws = words_col(F.lower(F.col(text_col)))
    tok = df.select(F.col(group_col).alias("src"), F.explode(ws).alias("w"))
    sw = (
        tok.groupBy("src", "w")
        .agg(F.count("*").cast("bigint").alias("ysw"))
        .localCheckpoint(eager=False)
    )
    gw = sw.groupBy("w").agg(F.sum("ysw").alias("yw"))
    ns = sw.groupBy("src").agg(F.sum("ysw").alias("ns"))
    n_total = sw.agg(F.sum("ysw")).collect()[0][0] or 0
    scored = (
        sw.filter(F.col("ysw") >= min_count)
        .join(gw, "w")
        .join(F.broadcast(ns), "src")
    )
    n_lit = F.lit(float(n_total))
    a0_l = F.lit(float(a0))
    yswd = F.col("ysw").cast("double")
    ywd = F.col("yw").cast("double")
    nsd = F.col("ns").cast("double")
    aw = a0_l * ywd / n_lit
    num1 = yswd + aw
    den1 = (nsd + a0_l) - yswd - aw
    yrd = (F.col("yw") - F.col("ysw")).cast("double")
    num2 = yrd + aw
    den2 = ((n_lit - nsd) + a0_l) - yrd - aw
    delta = F.log(num1 / den1) - F.log(num2 / den2)
    z = delta / F.sqrt(F.lit(1.0) / num1 + F.lit(1.0) / num2)
    scored = scored.select(
        F.col("src"),
        F.col("w"),
        F.col("ysw"),
        (F.col("yw") - F.col("ysw")).alias("yrest"),
        floor_round(z, 6).alias("logodds_z"),
    )
    rk = F.row_number().over(
        Window.partitionBy("src").orderBy(F.desc("logodds_z"), F.asc("w"))
    )
    return (
        scored.withColumn("rank", rk.cast("bigint"))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("src").alias(group_col),
            F.col("w").alias("term"),
            F.col("ysw").alias("n_source"),
            F.col("yrest").alias("n_rest"),
            "logodds_z",
            "rank",
        )
        .orderBy(group_col, "rank")
    )


def source_logodds_terms_sql(
    table: str = "documents",
    text_col: str = "text",
    group_col: str = "source",
    a0: float = LOGODDS_A0,
    min_count: int = LOGODDS_MIN_COUNT,
    top_k: int = LOGODDS_TOP_K,
) -> str:
    w = words_sql(f"lower({text_col})")
    aw = f"({a0!r} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))"
    num1 = f"(CAST(ysw AS DOUBLE) + {aw})"
    den1 = f"((CAST(ns AS DOUBLE) + {a0!r}) - CAST(ysw AS DOUBLE) - {aw})"
    yr = "CAST(yw - ysw AS DOUBLE)"
    num2 = f"({yr} + {aw})"
    den2 = f"(((CAST(n AS DOUBLE) - CAST(ns AS DOUBLE)) + {a0!r}) - {yr} - {aw})"
    zexpr = (
        f"(ln({num1} / {den1}) - ln({num2} / {den2}))"
        f" / sqrt(1.0 / {num1} + 1.0 / {num2})"
    )
    return f"""
    WITH tok AS (
      SELECT {group_col} AS src, unnest({w}) AS w FROM {table}),
    sw AS (SELECT src, w, CAST(count(*) AS BIGINT) AS ysw
           FROM tok GROUP BY src, w),
    gw AS (SELECT w, CAST(sum(ysw) AS BIGINT) AS yw FROM sw GROUP BY w),
    nsrc AS (SELECT src, CAST(sum(ysw) AS BIGINT) AS ns FROM sw GROUP BY src),
    tot AS (SELECT CAST(sum(ysw) AS BIGINT) AS n FROM sw),
    scored AS (
      SELECT s.src, s.w, s.ysw, yw - s.ysw AS yrest,
             {floor_round_sql(zexpr, 6)} AS logodds_z
      FROM sw s JOIN gw USING (w) JOIN nsrc USING (src) CROSS JOIN tot
      WHERE s.ysw >= {min_count}),
    ranked AS (
      SELECT *, row_number() OVER (
          PARTITION BY src ORDER BY logodds_z DESC, w ASC) AS rank
      FROM scored)
    SELECT src AS {group_col}, w AS term, ysw AS n_source,
           CAST(yrest AS BIGINT) AS n_rest, logodds_z,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {top_k}
    ORDER BY {group_col}, rank
    """


# ------------------------------------------------ distribution drift (PSI)

PSI_BIN_WIDTH = 512   # chars per length bin
PSI_NBINS = 13        # bins 0..12; last bin absorbs the tail
_PSI_U = 1_000_000_000  # micro-units per PSI point (fold-order-proof sum)


def source_psi_drift(
    df: DataFrame,
    group_col: str = "source",
    len_col: str = "n_chars",
) -> DataFrame:
    """Population stability index of each source's document-length
    distribution against the whole corpus — the ingest-drift monitor a
    crawl pipeline reads next to dedup_rate_by_source (a mirror dumping
    truncated pages, a parser change eating boilerplate, a source
    switching formats all move length mass before they move content
    metrics). PSI = sum_b (p_b - q_b) * ln(p_b / q_b) over fixed
    512-char bins with +0.5 Laplace smoothing (p = source, q = corpus);
    the usual reading: < 0.1 stable, 0.1-0.25 drifting, > 0.25 broken.

    Fold-order-proof: each bin's term is ONE fixed IEEE expression over
    exact integer counts, half-up rounded to INTEGER micro-units, and
    the per-source sum is a bigint sum — so the result is engine-
    identical no matter how either engine orders the 13-row fold (the
    DoReMi trick). Bins are integer division of the stored length —
    no floats anywhere before the single term expression.

    Scale shape: ONE map-side-combined groupBy(source, bin) over the
    corpus (the only corpus-sized shuffle — and it never touches text,
    just the stored length); the corpus bin table (<=13 rows) and the
    grid (|sources| x 13, built by exploding a literal sequence over
    the per-source totals) are broadcast-sized."""
    sb = (
        df.select(F.col(group_col).alias("src"), psi_bin_col(len_col).alias("bin"))
        .groupBy("src", "bin")
        .agg(F.count("*").cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    return psi_from_counts(sb, group_col)


def psi_bin_col(len_col: str = "n_chars") -> Column:
    """The fixed PSI length bin: integer division, tail-absorbing."""
    return F.expr(f"least({len_col} DIV {PSI_BIN_WIDTH}, {PSI_NBINS - 1})").cast(
        "bigint"
    )


def psi_from_counts(sb: DataFrame, group_col: str = "source") -> DataFrame:
    """PSI per source from a pre-aggregated (src, bin, c) count table —
    the shared core of the batch monitor and the streaming monitor
    (whose counts come out of a stateful streaming aggregation)."""
    gb = sb.groupBy("bin").agg(F.sum("c").alias("cb"))
    ns = sb.groupBy("src").agg(F.sum("c").alias("ns"))
    n_total = sb.agg(F.sum("c")).collect()[0][0] or 0
    grid = ns.select(
        "src",
        "ns",
        F.explode(F.sequence(F.lit(0), F.lit(PSI_NBINS - 1))).alias("_bin"),
    ).select("src", "ns", F.col("_bin").cast("bigint").alias("bin"))
    scored = (
        grid.join(sb, ["src", "bin"], "left")
        .join(F.broadcast(gb), "bin", "left")
        .select(
            "src",
            "ns",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            F.coalesce(F.col("cb"), F.lit(0)).alias("cb"),
        )
    )
    p = (F.lit(2) * F.col("c") + 1).cast("double") / (
        F.lit(2) * F.col("ns") + PSI_NBINS
    ).cast("double")
    q = (F.lit(2) * F.col("cb") + 1).cast("double") / F.lit(
        float(2 * n_total + PSI_NBINS)
    )
    units = F.floor((p - q) * F.log(p / q) * F.lit(float(_PSI_U)) + F.lit(0.5)).cast(
        "bigint"
    )
    return (
        scored.select("src", "ns", units.alias("_u"))
        .groupBy("src")
        .agg(F.max("ns").alias("ns"), F.sum("_u").alias("_us"))
        .select(
            F.col("src").alias(group_col),
            F.col("ns").alias("n_docs"),
            floor_round(F.col("_us").cast("double") / F.lit(float(_PSI_U)), 6).alias(
                "psi"
            ),
        )
        .orderBy(group_col)
    )


def source_psi_drift_sql(
    table: str = "documents",
    group_col: str = "source",
    len_col: str = "n_chars",
) -> str:
    p = f"(CAST(2 * c + 1 AS DOUBLE) / CAST(2 * ns + {PSI_NBINS} AS DOUBLE))"
    q = f"(CAST(2 * cb + 1 AS DOUBLE) / CAST(2 * n + {PSI_NBINS} AS DOUBLE))"
    units = (
        f"CAST(floor(({p} - {q}) * ln({p} / {q}) * {float(_PSI_U)!r} + 0.5)"
        " AS BIGINT)"
    )
    return f"""
    WITH sb AS (
      SELECT {group_col} AS src,
             CAST(least({len_col} // {PSI_BIN_WIDTH}, {PSI_NBINS - 1}) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS c
      FROM {table} GROUP BY 1, 2),
    gb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS cb FROM sb GROUP BY bin),
    nsrc AS (SELECT src, CAST(sum(c) AS BIGINT) AS ns FROM sb GROUP BY src),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM sb),
    grid AS (
      SELECT src, ns, CAST(unnest(range(0, {PSI_NBINS})) AS BIGINT) AS bin
      FROM nsrc),
    scored AS (
      SELECT g.src, g.ns, coalesce(sb.c, 0) AS c, coalesce(gb.cb, 0) AS cb, tot.n
      FROM grid g
      LEFT JOIN sb ON sb.src = g.src AND sb.bin = g.bin
      LEFT JOIN gb ON gb.bin = g.bin
      CROSS JOIN tot)
    SELECT src AS {group_col}, max(ns) AS n_docs,
           {floor_round_sql(f"CAST(sum({units}) AS DOUBLE) / {float(_PSI_U)!r}", 6)} AS psi
    FROM scored GROUP BY src
    ORDER BY {group_col}
    """


# -------------------------------------------- Kneser-Ney trigram scoring


def kn_trigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 65536,
    words_base: DataFrame | None = None,
) -> DataFrame:
    """Per-document mean interpolated Kneser-Ney TRIGRAM
    log-probability — the top rung of the LM ladder (unigram → MLE
    bigram → KN bigram → KN trigram), with the published recursion
    intact (Chen & Goodman 1999 §3): the trigram level discounts real
    counts, and the BIGRAM level inside it uses CONTINUATION counts,
    not raw counts:

        p(w3|w1w2) = max(c(w1w2w3) - D, 0)/c(w1w2·)
                   + (D · N1+(w1w2·)/c(w1w2·)) · p_kn(w3|w2)
        p_kn(w3|w2) = max(N1+(·w2w3) - D, 0)/N1+(·w2·)
                    + (D · N1+(w2·)/N1+(·w2·)) · N1+(·w3)/N1+(··)

    Five model tables off ONE trigram position pass, each a map-side-
    combined groupBy capped at ``top_vocab`` rows deterministically
    (count desc, key asc) and broadcast back; two scalar collects
    (trigram total for the floor, distinct-(w2,w3)-type total for the
    continuation denominator). Misses — which only arise when a cap
    drops a key at scale — back off one level (trigram context missing
    → the bigram continuation estimate) and then to the 0.5 floor, in
    that order. Same exactness contract as the bigram: integer counts,
    ONE fixed parenthesization of IEEE doubles, logs at 9dp, DECIMAL
    mean."""
    if words_base is None:
        ws = words_col(F.lower(F.col(text_col)))
        words_base = df.select(F.col(id_col), ws.alias("_ws"))
    base = words_base.filter(F.size("_ws") >= 3)
    pos = base.select(
        F.col(id_col),
        F.col("_ws"),
        F.explode(F.sequence(F.lit(1), F.size("_ws") - 2)).alias("i"),
    )
    tgd = pos.select(
        F.col(id_col),
        F.element_at("_ws", F.col("i")).alias("w1"),
        F.element_at("_ws", F.col("i") + 1).alias("w2"),
        F.element_at("_ws", F.col("i") + 2).alias("w3"),
    ).select(
        F.col(id_col),
        "w1",
        "w2",
        "w3",
        F.concat_ws(" ", "w1", "w2", "w3").alias("tg"),
        F.concat_ws(" ", "w1", "w2").alias("b12"),
        F.concat_ws(" ", "w2", "w3").alias("b23"),
    )
    # ONE corpus-sized shuffle (guide §2.2/§2.3 — aggregate before you
    # shuffle, then aggregate the aggregate): collapse the position
    # table to distinct (w1,w2,w3) counts ONCE, lazily checkpointed so
    # the five model tables and the scalar totals all derive from this
    # types-sized table instead of each re-scanning, re-exploding and
    # re-shuffling the corpus (the r12 plan carried 6 file scans and 10
    # exchanges; the scoring pass below is the only other corpus read).
    # Every derived count is the same exact integer: per (w1,w2) the g
    # rows are the distinct w3 (so count(*) == count_distinct(w3)), per
    # (w2,w3) the distinct w1, per w2 the distinct (w1,w3) pairs.
    g = (
        tgd.groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c123"))
        .select(
            "w1",
            "w2",
            "w3",
            "c123",
            F.concat_ws(" ", "w1", "w2", "w3").alias("tg"),
            F.concat_ws(" ", "w1", "w2").alias("b12"),
            F.concat_ws(" ", "w2", "w3").alias("b23"),
        )
        .localCheckpoint(eager=False)
    )
    v3 = (
        g.select("tg", "c123")
        .orderBy(F.desc("c123"), F.asc("tg")).limit(top_vocab)
    )
    x3 = (
        g.groupBy("b12")
        .agg(F.sum("c123").alias("c12t"), F.count("*").alias("n12"))
        .orderBy(F.desc("c12t"), F.asc("b12")).limit(top_vocab)
    )
    m23 = (
        g.groupBy("b23").agg(F.count("*").alias("m"))
        .orderBy(F.desc("m"), F.asc("b23")).limit(top_vocab)
    )
    mx2 = (
        g.groupBy("w2")
        .agg(
            F.count("*").alias("mt"),
            F.count_distinct("w3").alias("n2s"),
        )
        .orderBy(F.desc("mt"), F.asc("w2")).limit(top_vocab)
    )
    cont = (
        g.groupBy("w3").agg(F.count_distinct("w2").alias("cw"))
        .orderBy(F.desc("cw"), F.asc("w3")).limit(top_vocab)
    )
    tot_row = g.agg(
        F.sum("c123").alias("t"),
        F.count_distinct("b23").alias("types2"),
    ).collect()[0]
    total3 = int(tot_row["t"] or 1)
    types2 = int(tot_row["types2"] or 1)
    d = F.lit(KN_DISCOUNT)
    p_low = (
        F.greatest(F.coalesce(F.col("m"), F.lit(0)) - d, F.lit(0.0))
        / F.col("mt").cast("double")
    ) + (
        (d * F.col("n2s").cast("double") / F.col("mt").cast("double"))
        * (F.coalesce(F.col("cw").cast("double"), F.lit(0.5)) / F.lit(float(types2)))
    )
    p_hi = (
        F.greatest(F.coalesce(F.col("c123"), F.lit(0)) - d, F.lit(0.0))
        / F.col("c12t").cast("double")
    ) + ((d * F.col("n12").cast("double") / F.col("c12t").cast("double")) * p_low)
    lp = (
        F.when(
            F.col("c12t").isNotNull() & F.col("mt").isNotNull(),
            F.round(F.log(p_hi), 9),
        )
        .when(F.col("mt").isNotNull(), F.round(F.log(p_low), 9))
        .otherwise(F.round(F.log(F.lit(0.5 / float(total3))), 9))
    )
    return (
        tgd.join(F.broadcast(v3), "tg", "left")
        .join(F.broadcast(x3), "b12", "left")
        .join(F.broadcast(m23), "b23", "left")
        .join(F.broadcast(mx2), "w2", "left")
        .join(F.broadcast(cont), "w3", "left")
        .select(F.col(id_col), lp.cast("decimal(38,9)").alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_trigrams"),
            floor_round(
                F.sum("_lp").cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_logprob"),
        )
        .orderBy(id_col)
    )


def kn_trigram_logprob_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_vocab: int = 65536,
) -> str:
    ws = words_sql(f"lower({text_col})")
    d = KN_DISCOUNT
    p_low = (
        f"((greatest(coalesce(m.m, 0) - {d}, 0.0) / CAST(x2.mt AS DOUBLE))"
        f" + (({d} * CAST(x2.n2s AS DOUBLE) / CAST(x2.mt AS DOUBLE))"
        f" * (coalesce(CAST(k.cw AS DOUBLE), 0.5) / CAST(t.types2 AS DOUBLE))))"
    )
    p_hi = (
        f"((greatest(coalesce(v.c123, 0) - {d}, 0.0) / CAST(x3.c12t AS DOUBLE))"
        f" + (({d} * CAST(x3.n12 AS DOUBLE) / CAST(x3.c12t AS DOUBLE))"
        f" * {p_low}))"
    )
    return f"""
    WITH base AS (
      SELECT {id_col}, {ws} AS arr FROM {table} WHERE len({ws}) >= 3),
    pos AS (
      SELECT {id_col}, arr, unnest(range(1, len(arr) - 1)) AS i FROM base),
    tgd AS (
      SELECT {id_col}, arr[i] AS w1, arr[i+1] AS w2, arr[i+2] AS w3,
             arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS tg,
             arr[i] || ' ' || arr[i+1] AS b12,
             arr[i+1] || ' ' || arr[i+2] AS b23
      FROM pos),
    v3 AS (
      SELECT tg, c123 FROM (SELECT tg, count(*) AS c123 FROM tgd GROUP BY 1)
      ORDER BY c123 DESC, tg ASC LIMIT {top_vocab}),
    x3 AS (
      SELECT b12, c12t, n12 FROM (
        SELECT b12, count(*) AS c12t, count(DISTINCT w3) AS n12
        FROM tgd GROUP BY b12)
      ORDER BY c12t DESC, b12 ASC LIMIT {top_vocab}),
    m23 AS (
      SELECT b23, m FROM (
        SELECT b23, count(DISTINCT w1) AS m FROM tgd GROUP BY b23)
      ORDER BY m DESC, b23 ASC LIMIT {top_vocab}),
    mx2 AS (
      SELECT w2, mt, n2s FROM (
        SELECT w2, count(DISTINCT w1 || ' ' || w3) AS mt,
               count(DISTINCT w3) AS n2s
        FROM tgd GROUP BY w2)
      ORDER BY mt DESC, w2 ASC LIMIT {top_vocab}),
    cont AS (
      SELECT w3, cw FROM (
        SELECT w3, count(DISTINCT w2) AS cw FROM tgd GROUP BY w3)
      ORDER BY cw DESC, w3 ASC LIMIT {top_vocab}),
    tot AS (
      SELECT greatest(count(*), 1) AS t,
             greatest(count(DISTINCT b23), 1) AS types2
      FROM tgd),
    scored AS (
      SELECT tgd.{id_col},
             CAST(CASE
               WHEN x3.c12t IS NOT NULL AND x2.mt IS NOT NULL
                 THEN round(ln({p_hi}), 9)
               WHEN x2.mt IS NOT NULL
                 THEN round(ln({p_low}), 9)
               ELSE round(ln(0.5 / CAST(t.t AS DOUBLE)), 9)
             END AS DECIMAL(38,9)) AS lp
      FROM tgd
      LEFT JOIN v3 v ON tgd.tg = v.tg
      LEFT JOIN x3 ON tgd.b12 = x3.b12
      LEFT JOIN m23 m ON tgd.b23 = m.b23
      LEFT JOIN mx2 x2 ON tgd.w2 = x2.w2
      LEFT JOIN cont k ON tgd.w3 = k.w3
      CROSS JOIN tot t)
    SELECT {id_col}, count(*) AS n_trigrams,
           {floor_round_sql("CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 6)}
             AS avg_logprob
    FROM scored GROUP BY {id_col} ORDER BY {id_col}
    """


# -------------------------------------------- duplication profile histogram

DUP_HIST_CAP = 10  # cluster sizes >= this collapse into one tail bucket


def dup_cluster_size_hist(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = DUP_HIST_CAP,
) -> DataFrame:
    """The duplication profile — the first plot of any dedup analysis
    (Lee et al. 2022 fig. 1 shape): how many exact-duplicate clusters
    exist at each size, how many documents they hold, and each size's
    share of the corpus. Size ``cap`` is the tail bucket (a crawl's
    boilerplate lives there; its mass is the cheap predictor of what
    near-dup compute will find). Two map-side-combined groupBys on
    in-row 128-bit fingerprints — fingerprint, then cluster size —
    and one scalar total; nothing else touches the corpus."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    from tinyetl_spark.functions.hashing import hash128_col

    sizes = (
        df.select(hash128_col(norm).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").cast("bigint").alias("s"))
        .select(F.least(F.col("s"), F.lit(cap)).cast("bigint").alias("size"),
                F.col("s"))
    )
    total = df.count()
    return (
        sizes.groupBy("size")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("s").cast("bigint").alias("n_docs"),
        )
        .select(
            F.col("size").alias("cluster_size"),
            "n_clusters",
            "n_docs",
            floor_round(
                F.col("n_docs").cast("double") / F.lit(float(total)), 6
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


def dup_cluster_size_hist_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    cap: int = DUP_HIST_CAP,
) -> str:
    from tinyetl_spark.functions.hashing import hash128_sql

    norm = f"regexp_replace(lower(trim({text_col})), '\\s+', ' ', 'g')"
    return f"""
    WITH sizes AS (
      SELECT CAST(least(s, {cap}) AS BIGINT) AS size, s FROM (
        SELECT {hash128_sql(norm)} AS fp, CAST(count(*) AS BIGINT) AS s
        FROM {table} GROUP BY 1)),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {table})
    SELECT size AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(s) AS BIGINT) AS n_docs,
           {floor_round_sql(
               "CAST(sum(s) AS DOUBLE) / CAST(tot.n AS DOUBLE)", 6)} AS doc_share
    FROM sizes CROSS JOIN tot
    GROUP BY size, tot.n
    ORDER BY cluster_size
    """
