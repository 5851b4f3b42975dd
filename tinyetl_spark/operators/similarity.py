"""Similarity search over an embedding column (``array<float>``).

Scale design:

* **Dot products / norms** stay JVM-side via higher-order functions
  (``zip_with`` + ``aggregate``), each fold built as one parsed SQL
  expression — vectorized in codegen, no Python.
* **Brute-force top-k** against one query vector is a map + ``orderBy
  LIMIT k``: Spark executes it as a per-partition top-k (TakeOrdered) —
  no full sort, no full shuffle; this is the exact baseline.
* **Bucketed ANN (sign-LSH / IVF-style)**: vectors are assigned a
  coarse bucket from the sign bits of the first ``SIGN_BITS``
  components (a random-hyperplane LSH with axis-aligned planes).
  Search probes only the query's bucket → touches |corpus| / 2^bits on
  average. At 100 TB the bucket column is a partition key so probing a
  bucket is partition pruning, not a scan.
* All emitted scores are ``round(x, 6)`` so float fold-order cannot
  flip the oracle comparison.

Reference parity: none (the reference has no vector ops) — north-star
extension.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SIGN_BITS = 6  # coarse buckets = 2^6 = 64


def _lit_sql(data) -> str:
    """Nested Python numbers → ONE array-literal SQL string. Floats use
    the ``D`` suffix so Spark parses DOUBLE, not DECIMAL."""
    if isinstance(data, (list, tuple)):
        return "array(" + ",".join(_lit_sql(v) for v in data) + ")"
    if isinstance(data, bool) or not isinstance(data, (int, float)):
        raise TypeError(f"unsupported literal: {data!r}")
    if isinstance(data, int):
        return str(data)
    return f"{float(data)!r}D"


def _lit_array(data) -> Column:
    """Nested Python numbers → ONE parsed array literal.

    Building the same tree with ``F.array(*[F.lit(v) ...])`` costs one
    py4j round-trip per element; the PQ/RPQ tables are tens of
    thousands of elements per query and measured 8-20 s of pure plan
    CONSTRUCTION per recall query. One ``F.expr`` string is one
    round-trip."""
    return F.expr(_lit_sql(data))


def _expr_sql(c: Column | str) -> str:
    """Render a Column back to ONE re-parseable SQL string (a single
    py4j call) so composite folds can be built as one ``F.expr`` parse
    instead of one JVM round-trip per operator. Construction-side only:
    the parsed tree is the same expression, so plans and values are
    unchanged — the same treatment the minhash signature folds got in
    r12 (~7x less build time for identical ArrayAggregate plans).

    Contract: every input must render back to SQL that re-parses —
    column names, ``F.expr`` columns (rendered verbatim), transforms,
    slices, literal arrays. One that does not (an ``F.when`` chain
    renders ``CASE WHEN =(a, b) ...``) is not checked here: the fold
    built on it raises ``ParseException`` at the caller's ``select``,
    which analyzes eagerly."""
    if isinstance(c, str):
        return f"`{c}`"
    return c._jc.node().sql()


def _vec(col: Column | str) -> Column:
    return F.expr(f"transform({_expr_sql(col)}, x -> CAST(x AS DOUBLE))")


def _dot_sql(a_sql: str, b_sql: str) -> str:
    # lambda bodies here never lexically nest another lambda, so the
    # bare variable names cannot capture anything from the (argument-
    # position) input expressions
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _norm_sql(a_sql: str) -> str:
    return (
        f"sqrt(aggregate(transform({a_sql}, x -> x * x), "
        f"0.0D, (acc, v) -> acc + v))"
    )


def norm_col(a: Column) -> Column:
    """L2 norm as one parsed ``aggregate(transform(...))`` fold; ``a``
    follows :func:`_expr_sql`'s contract."""
    return F.expr(_norm_sql(_expr_sql(a)))


def cosine_col(a: Column, b: Column) -> Column:
    """Cosine as one parsed expression: a left-to-right ``zip_with`` +
    ``aggregate`` dot over the product of the two norms. Both inputs
    follow :func:`_expr_sql`'s contract."""
    a_sql, b_sql = _expr_sql(a), _expr_sql(b)
    return F.expr(
        f"({_dot_sql(a_sql, b_sql)}) / "
        f"(({_norm_sql(a_sql)}) * ({_norm_sql(b_sql)}))"
    )


def dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, len({a}) + 1), i -> ({a})[i] * ({b})[i]))"


def norm_sql(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> x * x)))"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}))"


def embedding_norms(df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """L2 norm per vector (rounded)."""
    v = _vec(vec_col)
    return df.select(F.col(id_col), F.round(norm_col(v), 6).alias("l2_norm"))


def embedding_norms_sql(table: str = "embeddings", vec_col: str = "embedding", id_col: str = "vec_id") -> str:
    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return f"SELECT {id_col}, round({norm_sql(v)}, 6) AS l2_norm FROM {table}"


def brute_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k vs the corpus vector with id ``query_id``.

    The 1-row query side is broadcast (crossJoin with a 1-row DF is a
    BroadcastNestedLoopJoin — a map, effectively); top-k runs as
    TakeOrdered, not a global sort.
    """
    q = df.filter(F.col(id_col) == query_id).select(_vec(vec_col).alias("qv"))
    scored = (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), F.round(cosine_col(_vec(vec_col), F.col("qv")), 6).alias("cosine"))
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def brute_topk_sql(
    table: str = "embeddings", query_id: int = 0, k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> str:
    v = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""
    SELECT t.{id_col}, round({cosine_sql(v, qv)}, 6) AS cosine
    FROM {table} t, (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
    WHERE t.{id_col} != {query_id}
    ORDER BY cosine DESC, t.{id_col} ASC
    LIMIT {k}
    """


def sign_bucket_col(vec_col: Column, bits: int = SIGN_BITS) -> Column:
    """Coarse LSH bucket: integer from the sign bits of the first
    ``bits`` components (deterministic — sign of stored floats)."""
    acc = F.lit(0)
    for i in range(bits):
        acc = acc + F.when(F.element_at(vec_col, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return acc


def sign_bucket_sql(vec_expr: str, bits: int = SIGN_BITS) -> str:
    terms = " + ".join(
        f"(CASE WHEN ({vec_expr})[{i + 1}] >= 0 THEN (1 << {i}) ELSE 0 END)" for i in range(bits)
    )
    return f"({terms})"


def ann_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = SIGN_BITS,
) -> DataFrame:
    """Bucketed ANN: probe only the query's sign-LSH bucket.

    At scale, write the corpus partitioned by ``bucket`` and this scan
    is pruned to 1/2^bits of the data before any compute.
    """
    with_bucket = df.select(F.col(id_col), F.col(vec_col), sign_bucket_col(F.col(vec_col), bits).alias("bucket"))
    q = with_bucket.filter(F.col(id_col) == query_id).select(
        _vec(vec_col).alias("qv"), F.col("bucket").alias("qbucket")
    )
    probed = (
        with_bucket.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        .select(F.col(id_col), F.round(cosine_col(_vec(vec_col), F.col("qv")), 6).alias("cosine"))
    )
    return probed.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def ann_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = SIGN_BITS,
) -> str:
    v = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    tb = sign_bucket_sql(f"t.{vec_col}", bits)
    qb = sign_bucket_sql(f"q.{vec_col}", bits)
    return f"""
    SELECT t.{id_col}, round({cosine_sql(v, qv)}, 6) AS cosine
    FROM {table} t, (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
    WHERE t.{id_col} != {query_id} AND {tb} = {qb}
    ORDER BY cosine DESC, t.{id_col} ASC
    LIMIT {k}
    """


def ann_multiprobe_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = SIGN_BITS,
    radius: int = 1,
) -> DataFrame:
    """Multi-probe sign-LSH: probe the query's bucket AND every bucket
    within Hamming distance ``radius`` of it.

    Why: a neighbor at cosine ~0.4 agrees with the query on one sign
    bit with probability 1 - theta/pi ~ 0.63, so an exact 6-bit bucket
    match happens only ~6% of the time — single-probe recall@10
    measured 0.05. Probing the 6 Hamming-1 buckets too (7 of 64
    buckets = ~11% of the corpus) lifts recall several-fold at a
    bounded scan cost; at scale the probe set is still planning-time
    partition pruning over a bucket-partitioned corpus, just with 7
    partition values instead of 1."""
    with_bucket = df.select(
        F.col(id_col), F.col(vec_col), sign_bucket_col(F.col(vec_col), bits).alias("bucket")
    )
    q = with_bucket.filter(F.col(id_col) == query_id).select(
        _vec(vec_col).alias("qv"), F.col("bucket").alias("qbucket")
    )
    # XOR masks for all buckets within the Hamming radius (radius 1 =
    # the bucket itself + one flipped bit each); the probe set depends
    # on the query row, so it is an OR of XOR equalities against the
    # broadcast side rather than literal isin values
    masks = [0] + ([1 << i for i in range(bits)] if radius >= 1 else [])
    cond = None
    for mk in masks:
        c = F.col("bucket") == F.col("qbucket").bitwiseXOR(F.lit(mk))
        cond = c if cond is None else (cond | c)
    probed = (
        with_bucket.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q), cond)
        .select(
            F.col(id_col), F.round(cosine_col(_vec(vec_col), F.col("qv")), 6).alias("cosine")
        )
    )
    return probed.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def ann_multiprobe_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = SIGN_BITS,
    radius: int = 1,
) -> str:
    v = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    tb = sign_bucket_sql(f"t.{vec_col}", bits)
    qb = sign_bucket_sql(f"q.{vec_col}", bits)
    masks = [0] + ([1 << i for i in range(bits)] if radius >= 1 else [])
    cond = " OR ".join(f"({tb}) = xor(({qb}), {mk})" for mk in masks)
    return f"""
    SELECT t.{id_col}, round({cosine_sql(v, qv)}, 6) AS cosine
    FROM {table} t, (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
    WHERE t.{id_col} != {query_id} AND ({cond})
    ORDER BY cosine DESC, t.{id_col} ASC
    LIMIT {k}
    """


# ------------------------------------------------------------- IVF ANN

IVF_CENTROIDS = 8
IVF_DIM = 64


def _ivf_seeded_centroids(n: int = IVF_CENTROIDS, dim: int = IVF_DIM) -> list[list[float]]:
    """Deterministic data-independent centroids: LCG directions
    normalized onto the UNIT SPHERE — embedding corpora are typically
    unit-norm, and un-normalized random centroids (norm ~sqrt(dim/3))
    collapse every vector into one cell. Data-trained centroids
    (``train_ivf_centroids``) give better balance still, but the
    quantizer must be IDENTICAL in the Spark plan and the DuckDB
    oracle, so the oracle-checked path uses these shared literals
    (rounded AFTER normalization so both engines read the same text)."""
    import math

    out, state = [], 0x5DEECE66D
    for _ in range(n):
        c = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
            c.append((state >> 33) / float(1 << 30) - 1.0)
        norm = math.sqrt(sum(x * x for x in c)) or 1.0
        out.append([round(x / norm, 6) for x in c])
    return out


def train_ivf_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_centroids: int = IVF_CENTROIDS,
    sample: int = 2048,
    iters: int = 8,
    seed: int = 42,
) -> list[list[float]]:
    """Lloyd k-means on a bounded, deterministic driver-side sample
    (ordered by id — reproducible across runs/partitionings). This is
    the production quantizer; at 100 TB you train on a ~100k-vector
    sample (still driver-sized) and broadcast the centroids."""
    import numpy as np

    rows = df.orderBy(id_col).limit(sample).select(vec_col).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(len(x), size=n_centroids, replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            members = x[assign == c]
            if len(members):
                cent[c] = members.mean(axis=0)
    return [[float(v) for v in c] for c in cent]


def _ivf_dist_col(vec: Column, centroid: list[float]) -> Column:
    carr = _lit_array([float(v) for v in centroid])
    return F.aggregate(
        F.zip_with(vec, carr, lambda x, c: (x - c) * (x - c)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def ivf_dists_col(vec: Column, centroids: list[list[float]]) -> Column:
    """Array of squared distances to every centroid, each computed ONCE."""
    return F.array(*[_ivf_dist_col(vec, c) for c in centroids])


def ivf_cell_from_dists(dists: Column) -> Column:
    """First-minimum argmin over a MATERIALIZED distance array —
    matches SQL list_position semantics. The array must be its own
    projection step: a when-chain argmin (the old form) duplicates each
    upstream fold 2x per step — exponential expression blowup that cost
    ~2.5s on a 5k-row corpus."""
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: list[list[float]], out_col: str = "_cell"
) -> DataFrame:
    """Attach the nearest-centroid cell id; distance array materialized
    in its own projection so the argmin's 2 references don't re-fold."""
    return (
        df.withColumn("_ivf_d", ivf_dists_col(F.col(vec_col), centroids))
        .withColumn(out_col, ivf_cell_from_dists(F.col("_ivf_d")))
        .drop("_ivf_d")
    )


def _ivf_dist_sql(vec_expr: str, centroid: list[float]) -> str:
    lit = "[" + ", ".join(str(v) for v in centroid) + "]"
    return (
        f"list_sum(list_transform(range(1, {len(centroid)} + 1), "
        f"j -> (({vec_expr})[j] - ({lit})[j]) * (({vec_expr})[j] - ({lit})[j])))"
    )


def ivf_assign_sql(vec_expr: str, centroids: list[list[float]]) -> str:
    dists = ", ".join(_ivf_dist_sql(vec_expr, c) for c in centroids)
    return (
        f"(list_position([{dists}], list_min([{dists}])) - 1)"
    )


def ivf_balance(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    hot_factor: int = 2,
) -> DataFrame:
    """IVF cell-balance audit: per-cell vector counts (EMPTY cells
    included), each cell's share of the corpus, and its load relative
    to the uniform share — the partition-skew check run BEFORE
    deploying an IVF index, because a hot cell is simultaneously a
    skewed shuffle partition at build time and a slow probe at query
    time (nprobe cells dominate latency via the largest one). ``hot``
    flags cells at >= ``hot_factor``x the uniform load, integer-
    compared (n_vecs * n_cells >= hot_factor * total — no float
    threshold).

    Scale shape: assignment is the same in-row distance fold the IVF
    tier shares, then ONE map-side-combined groupBy on the cell id;
    the cell table (n_cells rows) and the 1-row total broadcast into
    the report join. At 100 TB the only corpus-sized cost is the scan."""
    cents = centroids or _ivf_seeded_centroids()
    n = len(cents)
    assigned = ivf_assign(df.select(id_col, vec_col), vec_col, cents)
    counts = assigned.groupBy(F.col("_cell").alias("cell")).agg(
        F.count("*").cast("bigint").alias("n_vecs")
    )
    cells = (
        df.sparkSession.range(n).select(F.col("id").cast("int").alias("cell"))
    )
    tot = df.agg(F.count("*").cast("bigint").alias("_total"))
    nv = F.coalesce(F.col("n_vecs"), F.lit(0).cast("bigint"))
    return (
        cells.join(F.broadcast(counts), "cell", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "cell",
            nv.alias("n_vecs"),
            F.round((nv / F.col("_total")).cast("double"), 6).alias("load_frac"),
            F.round((nv * n / F.col("_total")).cast("double"), 6).alias("rel_load"),
            (nv * n >= hot_factor * F.col("_total")).alias("hot"),
        )
    )


def ivf_balance_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    hot_factor: int = 2,
) -> str:
    cents = centroids or _ivf_seeded_centroids()
    n = len(cents)
    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH assigned AS (
      SELECT {ivf_assign_sql(v, cents)} AS cell FROM {table}),
    counts AS (
      SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs
      FROM assigned GROUP BY cell),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM {table}),
    cells AS (SELECT unnest(range(0, {n})) AS cell)
    SELECT CAST(c.cell AS INT) AS cell,
           CAST(coalesce(k.n_vecs, 0) AS BIGINT) AS n_vecs,
           round(CAST(coalesce(k.n_vecs, 0) AS DOUBLE) / t.total, 6) AS load_frac,
           round(CAST(coalesce(k.n_vecs, 0) * {n} AS DOUBLE) / t.total, 6) AS rel_load,
           coalesce(k.n_vecs, 0) * {n} >= {hot_factor} * t.total AS hot
    FROM cells c LEFT JOIN counts k ON c.cell = k.cell CROSS JOIN tot t
    """


def ivf_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    q_vec: list[float] | None = None,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """IVF probe: assign the corpus to coarse cells, search only the
    ``nprobe`` cells nearest the query. With a materialized index
    (``build_ivf_index`` / a staged (id, vec, cell) table passed as
    ``index_df``) the cell filter becomes partition pruning and no
    vector is re-assigned at query time."""
    cents = centroids or _ivf_seeded_centroids()
    q = q_vec or _query_vec(df, query_id, vec_col, id_col)
    dists = [_seq_sqdist(q, c) for c in cents]
    probe_cells = [i for i, _ in sorted(enumerate(dists), key=lambda t: t[1])[:nprobe]]
    vec = _vec(vec_col)
    if index_df is not None:
        assigned = index_df.withColumnRenamed("cell", "_cell").filter(
            F.col(id_col) != query_id
        )
    else:
        assigned = ivf_assign(df.filter(F.col(id_col) != query_id), vec_col, cents)
    qv = _lit_array([float(x) for x in q])
    return (
        assigned.filter(F.col("_cell").isin(*probe_cells))
        .select(F.col(id_col), F.round(cosine_col(vec, qv), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def ivf_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> str:
    """DuckDB twin: same centroid literals, same first-min assignment,
    probe cells picked by query-to-centroid distance rank."""
    cents = centroids or _ivf_seeded_centroids()
    v = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    # the query vector must be a CTE column — DuckDB rejects subqueries
    # inside lambda bodies
    qdists = ", ".join(_ivf_dist_sql("qvec", c) for c in cents)
    return f"""
    WITH qv_t AS (
      SELECT list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS qvec
      FROM {table} WHERE {id_col} = {query_id}),
    qd AS (
      SELECT unnest(range(0, {len(cents)})) AS cell,
             unnest([{qdists}]) AS d
      FROM qv_t),
    probe AS (SELECT cell FROM qd ORDER BY d ASC, cell ASC LIMIT {nprobe})
    SELECT t.{id_col}, round({cosine_sql(v, qv)}, 6) AS cosine
    FROM {table} t, (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
    WHERE t.{id_col} != {query_id}
      AND {ivf_assign_sql(f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))", cents)}
          IN (SELECT cell FROM probe)
    ORDER BY cosine DESC, t.{id_col} ASC
    LIMIT {k}
    """


def build_ivf_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> None:
    """Materialize the corpus partitioned by IVF cell — probing reads
    only the probed cells' files (planning-time partition pruning),
    exactly like the sign-LSH index."""
    cents = centroids or _ivf_seeded_centroids()
    assigned = ivf_assign(
        df.select(F.col(id_col), F.col(vec_col)), vec_col, cents, out_col="cell"
    )
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


def build_ann_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = SIGN_BITS,
) -> None:
    """Materialize the corpus as a parquet dataset PARTITIONED BY the
    sign-LSH bucket. This is what makes bucket probing a partition-
    pruned read instead of a full scan + runtime filter: a probe of one
    bucket touches 1/2^bits of the files, decided at planning time from
    directory names — no data read outside the probed partitions."""
    with_bucket = df.select(
        F.col(id_col), F.col(vec_col), sign_bucket_col(F.col(vec_col), bits).alias("bucket")
    )
    with_bucket.write.mode("overwrite").partitionBy("bucket").parquet(path)


def ann_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = SIGN_BITS,
    probes: int = 1,
) -> DataFrame:
    """Top-k over a materialized index. The bucket predicate prunes
    partitions (check ``.explain``: PartitionFilters=[bucket IN ...]).

    ``probes > 1`` is multi-probe LSH: also scan the buckets whose sign
    differs from the query's in exactly one of the lowest ``probes-1``
    components — the standard recall/latency dial (a single-bucket
    probe has a recall cliff for vectors near a hyperplane boundary).
    """
    qbucket = sum((1 << i) for i in range(bits) if query_vec[i] >= 0)
    buckets = {qbucket}
    for i in range(max(0, probes - 1)):
        buckets.add(qbucket ^ (1 << i))
    corpus = spark.read.parquet(index_path).filter(F.col("bucket").isin(*buckets))
    qv = _lit_array([float(x) for x in query_vec])
    scored = corpus.select(
        F.col(id_col), F.round(cosine_col(_vec(vec_col), qv), 6).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def cosine_near_dups(
    df: DataFrame,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    bits: int = SIGN_BITS,
    max_block_size: int = 4096,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine >= threshold) within blocks.

    The default block is the sign-LSH bucket — a uniform, data-
    independent key, so the per-block pair space is ~(n/2^bits)^2 and no
    single hot value can go quadratic (a user-supplied ``block_col``
    like a label has data-dependent sizes; one big label = O(block^2)).
    Blocks above ``max_block_size`` are dropped outright — the same
    boilerplate/skew guard as the minhash and simhash paths. Recall
    note: candidates-within-bucket only (standard sign-LSH tradeoff);
    raise ``bits``/multi-probe for tighter corpora.
    """
    blk = F.col(block_col) if block_col else sign_bucket_col(F.col(vec_col), bits)
    from pyspark.sql import Window

    base = df.select(F.col(id_col), F.col(vec_col), blk.alias("blk"))
    bw = Window.partitionBy("blk")
    base = base.withColumn("_bsz", F.count("*").over(bw)).filter(F.col("_bsz") <= max_block_size)
    a = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "blk")
    b = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine_col(_vec("va"), _vec("vb")), 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_near_dups_sql(
    table: str = "embeddings",
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    bits: int = SIGN_BITS,
    max_block_size: int = 4096,
) -> str:
    va = f"list_transform(a.{vec_col}, x -> CAST(x AS DOUBLE))"
    vb = f"list_transform(b.{vec_col}, x -> CAST(x AS DOUBLE))"
    blk = block_col if block_col else sign_bucket_sql(vec_col, bits)
    return f"""
    WITH blocked AS (
      SELECT *, {blk} AS blk FROM {table}),
    sized AS (
      SELECT *, count(*) OVER (PARTITION BY blk) AS bsz FROM blocked),
    ok AS (SELECT * FROM sized WHERE bsz <= {max_block_size})
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           round({cosine_sql(va, vb)}, 6) AS cosine
    FROM ok a JOIN ok b
      ON a.blk = b.blk AND a.{id_col} < b.{id_col}
    WHERE round({cosine_sql(va, vb)}, 6) >= {threshold}
    """


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = 127/max|x|,
    q_i = floor(x_i * scale + 0.5) ∈ [-127, 127].

    The production ANN memory move: float32 → int8 shrinks a 100 TB
    embedding corpus 4× and quadruples effective cache/IO bandwidth;
    recall loss is negligible for cosine ranking after re-scoring.
    All JVM-side HOFs (transform/array_max) in one projection, zero
    shuffle, zero Python.

    ``floor(x*s + 0.5)`` deliberately — NOT round(): Spark's round is
    HALF_UP on the decimal representation while DuckDB rounds on the
    binary double, so exact .5 products can diverge between engines;
    floor(+0.5) is pure IEEE double arithmetic, identical everywhere.
    A zero vector gets scale 0 (all-zero codes), not a NaN.
    """
    # scale is materialized as its OWN projection before the quantize
    # lambda references it: a HOF expression referenced inside another
    # lambda is re-evaluated per element (the array_max fold would run
    # d times per row, O(d²))
    v = _vec(vec_col)
    prep = (
        df.select(F.col(id_col), v.alias("_vd"))
        .select(
            F.col(id_col),
            F.col("_vd"),
            F.array_max(F.transform(F.col("_vd"), lambda x: F.abs(x))).alias("_m"),
        )
        .select(
            F.col(id_col),
            F.col("_vd"),
            F.when(F.col("_m") == 0.0, F.lit(0.0))
            .otherwise(F.lit(127.0) / F.col("_m"))
            .alias("_s"),
        )
    )
    q = F.transform(
        F.col("_vd"), lambda x: F.floor(x * F.col("_s") + F.lit(0.5)).cast("bigint")
    )
    return prep.select(
        F.col(id_col),
        q.alias("q"),
        F.round(F.col("_s"), 6).alias("scale"),
    )


def quantize_int8_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin (scale hoisted to a CTE column — DuckDB lambdas may
    reference row columns but not subqueries)."""
    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH prep AS (
      SELECT {id_col},
             {v} AS vd,
             list_max(list_transform({v}, x -> abs(x))) AS m
      FROM {table}),
    scaled AS (
      SELECT {id_col}, vd,
             CASE WHEN m = 0 THEN 0.0 ELSE 127.0 / m END AS s
      FROM prep)
    SELECT {id_col},
           list_transform(vd, x -> CAST(floor(x * s + 0.5) AS BIGINT)) AS q,
           round(s, 6) AS scale
    FROM scaled
    """


def quantize_int8_codes_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """quantize_int8_sql with q flattened to a comma-joined string —
    the driver-comparable projection (pandas canonicalizer cannot
    hash list cells)."""
    return f"""
    SELECT {id_col}, array_to_string(q, ',') AS q, scale
    FROM ({quantize_int8_sql(table, vec_col, id_col)})
    """


def batch_topk(
    df: DataFrame,
    k: int = 5,
    every: int = 101,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = SIGN_BITS,
) -> DataFrame:
    """Batched ANN: every corpus vector with ``id % every == 0`` acts as
    a query; each probes its sign-LSH bucket and keeps cosine top-k.

    Scale shape: the probe set broadcasts (production chunks query
    batches to keep each broadcast small), the corpus is scanned ONCE
    for all queries, and the only shuffle is the per-query top-k
    window. That is the serving-offline shape — N queries amortized
    over one corpus pass — vs ann_topk's single-query planning-time
    partition pruning."""
    with_bucket = df.select(
        F.col(id_col), F.col(vec_col), sign_bucket_col(F.col(vec_col), bits).alias("bucket")
    )
    probes = with_bucket.filter(F.col(id_col) % every == 0).select(
        F.col(id_col).alias("q_id"), _vec(vec_col).alias("qv"), F.col("bucket").alias("qbucket")
    )
    scored = (
        with_bucket.filter(F.col(id_col) % every != 0)
        .join(F.broadcast(probes), F.col("bucket") == F.col("qbucket"))
        .select(
            "q_id",
            F.col(id_col),
            F.round(cosine_col(_vec(vec_col), F.col("qv")), 6).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, "cosine", "rank")
    )


def batch_topk_sql(
    table: str = "embeddings",
    k: int = 5,
    every: int = 101,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = SIGN_BITS,
) -> str:
    v = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    tb = sign_bucket_sql(f"t.{vec_col}", bits)
    qb = sign_bucket_sql(f"q.{vec_col}", bits)
    return f"""
    SELECT q.{id_col} AS q_id, t.{id_col},
           round({cosine_sql(v, qv)}, 6) AS cosine,
           row_number() OVER (PARTITION BY q.{id_col}
                              ORDER BY round({cosine_sql(v, qv)}, 6) DESC,
                                       t.{id_col} ASC) AS rank
    FROM {table} t
    JOIN {table} q
      ON q.{id_col} % {every} = 0 AND t.{id_col} % {every} != 0
     AND {tb} = {qb}
    QUALIFY rank <= {k}
    """


def kmeans_update(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> DataFrame:
    """ONE distributed Lloyd refinement round: assign every vector to
    its nearest centroid (same materialized-distance-array argmin as
    IVF assignment), then recompute centroids as per-cell means.

    The update is the canonical explode→groupBy shape: (cell, pos, val)
    rows aggregated per (cell, pos) — one shuffle of n_vectors × dim
    rows with map-side partial sums; sums run in DECIMAL(38,12) so the
    result is fold-order-independent (and therefore oracle-checkable —
    rare for an iterative-algorithm step). Cells that captured no
    vectors emit no rows; the driver loop keeps their previous
    centroid."""
    assigned = df.select(_vec(vec_col).alias("v")).withColumn(
        "_d", ivf_dists_col(F.col("v"), centroids)
    ).withColumn("cell", ivf_cell_from_dists(F.col("_d")))
    exploded = assigned.select("cell", F.posexplode("v").alias("pos", "val"))
    return (
        exploded.groupBy("cell", "pos")
        .agg(
            F.sum(F.col("val").cast("decimal(38,12)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "cell",
            "pos",
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("val"),
        )
    )


def kmeans_update_sql(
    centroids: list[list[float]],
    table: str = "embeddings",
    vec_col: str = "embedding",
) -> str:
    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    cell = ivf_assign_sql(v, centroids)
    return f"""
    WITH assigned AS (
      SELECT {cell} AS cell, {v} AS v FROM {table}),
    exploded AS (
      SELECT cell, i - 1 AS pos, v[i] AS val
      FROM assigned, UNNEST(range(1, len(v) + 1)) AS t(i))
    SELECT cell, pos,
           round(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
               AS val
    FROM exploded GROUP BY cell, pos
    """


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = IVF_CENTROIDS,
    iters: int = 4,
    dim: int = IVF_DIM,
) -> list[list[float]]:
    """Distributed Lloyd k-means: deterministic seeded start, then
    ``iters`` cluster-side refinement rounds (kmeans_update). Per
    round, only the k×dim centroid table returns to the driver — the
    corpus never does — so this trains on the FULL dataset where
    train_ivf_centroids trains on a driver sample. At 100 TB each
    round costs one scan + one (n×dim)-row shuffle with partial
    aggregation; sampling first is usually the better trade, but the
    full-data path exists and is exact."""
    cents = [list(c) for c in _ivf_seeded_centroids(n_centroids, dim)]
    for _ in range(iters):
        rows = kmeans_update(df, cents, vec_col).collect()
        new = {r["cell"]: dict() for r in rows}
        for r in rows:
            new[r["cell"]][r["pos"]] = r["val"]
        for c, posvals in new.items():
            cents[c] = [posvals[p] for p in range(len(cents[c]))]
    return cents


# ------------------------------------- residual product quantization

# One codec family, residual product quantization (RPQ): each 64-dim
# vector splits into PQ_M subvectors; stage 1 quantizes each subvector
# to its nearest of PQ_K codewords, and every later stage quantizes
# what the earlier stages missed (the residual). The number of stages
# is the length of the stage list a caller passes: one stage is plain
# product quantization (Jégou, Douze and Schmid, TPAMI 2011), two is
# RPQ, three is RPQ3. The seeded stages nest — stage s of every
# _rpq_stages(n) is the same codebook — so a vector's n-stage codes
# are a prefix of its (n+1)-stage codes.
#
# Codes are 4-bit, PQ_M per stage: 8 bytes per vector for PQ, 24 for
# RPQ3, against 256 for float32. Search is asymmetric (ADC): the query
# stays exact, and a corpus vector's distance is per-stage table
# lookups plus one cross-term lookup per stage pair, with no vector
# math in the scan.
#
# Each stage's codebook scale tracks the shell it quantizes: a dim-64
# unit vector has per-coordinate std 1/sqrt(64) = 0.125, and residual
# shells shrink about 0.82 -> 0.68 per stage, so the seeded scales are
# 0.15, 0.08 and 0.05. Measured recall@10 against brute force (4-probe
# set, unit-norm corpus), ADC alone / after a 50-wide exact cosine
# rerank:
#   * PQ    0.21 / 0.54 (codewords over the raw [-1, 1) range: 0.05;
#     trained codebooks, train_pq_codebooks: 0.35);
#   * RPQ   0.34 / 0.72 — the residual stage buys more than training
#     does at these sizes;
#   * RPQ3  0.95 after the same 50-wide rerank (RPQ read 0.85 in that
#     run), bought with quantizer quality instead of a wider
#     exact-rerank budget.
# An OPQ-style rotation was measured and rejected: on these isotropic
# unit-norm embeddings a PCA rotation has nothing to balance, and RPQ3
# recall dropped to 0.675. Rotations only pay on anisotropic corpora.

PQ_M = 8    # subvectors (64-dim embeddings -> 8 dims per subspace)
PQ_K = 16   # centroids per subspace -> 4-bit codes, 8 bytes per stage
# (codebook scale, LCG seed) per stage; _rpq_stages(n) takes the first n
RPQ_STAGES = ((0.15, 0xC0DEB00C), (0.08, 0xBADC0FFE), (0.05, 0xFACEFEED))


def _pq_seeded_codebooks(
    m: int = PQ_M,
    k: int = PQ_K,
    dim: int = IVF_DIM,
    scale: float = 0.15,
    seed: int = 0xC0DEB00C,
) -> list[list[list[float]]]:
    """One stage's deterministic LCG codebooks (same generator family
    as the IVF seeds) — the quantizer must be IDENTICAL literal text in
    the Spark plan and the DuckDB oracle, so the oracle-checked queries
    share these; production trains with train_pq_codebooks.

    ``scale`` matches the codeword magnitude to the shell the stage
    quantizes (see the section comment). Non-unit-norm corpora should
    train instead."""
    dsub = dim // m
    state = seed
    books = []
    for _ in range(m):
        book = []
        for _ in range(k):
            c = []
            for _ in range(dsub):
                state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 63) - 1)
                # 63-bit state >> 33 leaves 30 bits: divide by 2^29 for
                # the full [-1, 1) base range (2^30 would collapse every
                # coordinate into [-1, 0) — all-negative centroids
                # barely discriminate a zero-centered corpus)
                c.append(round(((state >> 33) / float(1 << 29) - 1.0) * scale, 6))
            book.append(c)
        books.append(book)
    return books


def _rpq_stages(
    n: int, m: int = PQ_M, k: int = PQ_K, dim: int = IVF_DIM
) -> list[list[list[list[float]]]]:
    """The first ``n`` seeded stages: 1 is PQ, 2 is RPQ, 3 is RPQ3."""
    return [
        _pq_seeded_codebooks(m, k, dim, scale=s, seed=seed)
        for s, seed in RPQ_STAGES[:n]
    ]


def train_pq_codebooks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = PQ_M,
    k: int = PQ_K,
    sample: int = 2048,
    iters: int = 8,
    seed: int = 7,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means on a bounded, deterministic
    driver-side sample (ordered by id). The m codebooks total
    m*k*dsub floats — trivially broadcastable; at 100 TB train on a
    ~100k sample exactly like train_ivf_centroids. The result is one
    stage: pass ``[books]`` as the stage list."""
    import numpy as np

    rows = df.orderBy(id_col).limit(sample).select(vec_col).collect()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    dsub = x.shape[1] // m
    rng = np.random.default_rng(seed)
    books = []
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cent = sub[rng.choice(len(sub), size=k, replace=False)]
        for _ in range(iters):
            d = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append([[round(float(v), 6) for v in c] for c in cent])
    return books


def _query_vec(
    df: DataFrame, query_id: int, vec_col: str, id_col: str
) -> list[float]:
    """Fetch ONE query vector as python floats, failing clearly when
    the id is absent (head() would return None and crash downstream)."""
    qrow = df.filter(F.col(id_col) == query_id).select(vec_col).head()
    if qrow is None:
        raise ValueError(f"query {id_col}={query_id} not found in corpus")
    return [float(x) for x in qrow[0]]


def _seq_sqdist(vals: list[float], c: list[float]) -> float:
    """Squared L2 as a sequential left-to-right fold — the same
    summation order as the SQL twins' list_sum and the Spark-side
    aggregate, so all three produce bit-identical doubles (numpy's
    pairwise summation would not)."""
    acc = 0.0
    for a, b in zip(vals, c):
        d = a - b
        acc += d * d
    return acc


def _rpq_tabs(q: list[float], stages) -> tuple[list, dict]:
    """ADC tables: per-stage query-to-codeword squared distances plus
    2<b_s, b_t> cross tables for every stage pair s < t (none for one
    stage). Σ_s dtab_s[c_s] + Σ_{s<t} cross[s,t][c_s][c_t] equals the
    reconstruction distance ||q - Σ_s b_s[c_s]||² plus (n-1)||q||², a
    per-query constant — exact ranking, no vector math in the scan."""
    dsub = len(stages[0][0][0])
    m = len(stages[0])
    dtabs = [
        [
            [_seq_sqdist(q[j * dsub : (j + 1) * dsub], c) for c in book]
            for j, book in enumerate(st)
        ]
        for st in stages
    ]
    crosses: dict[tuple[int, int], list] = {}
    for s in range(len(stages)):
        for t in range(s + 1, len(stages)):
            crosses[(s, t)] = [
                [
                    [2.0 * sum(a * b for a, b in zip(b1, b2)) for b2 in stages[t][j]]
                    for b1 in stages[s][j]
                ]
                for j in range(m)
            ]
    return dtabs, crosses


def _rpq_adc(dtabs: list, crosses: dict) -> Column:
    """ADC distance over a ``codes`` column (unrounded fold). Per
    subspace j: each stage's dtab lookup, stage-ascending, then each
    cross lookup in (s, t) order — the DuckDB twin's per-j term order.
    ``crosses`` maps (s, t) to its cross table as a Column: an inlined
    literal (``_lit_array``) or a :func:`_rpq_cross_cols` reference."""
    m = len(dtabs[0])
    dl = [_lit_array(d) for d in dtabs]
    cl = [(s, t, crosses[(s, t)]) for (s, t) in sorted(crosses)]
    codes = F.col("codes")

    def step(acc, j):
        e = acc
        for s, lit in enumerate(dl):
            e = e + F.get(F.get(lit, j), F.get(codes, j + F.lit(s * m)))
        for s, t, c in cl:
            e = e + F.get(
                F.get(F.get(c, j), F.get(codes, j + F.lit(s * m))),
                F.get(codes, j + F.lit(t * m)),
            )
        return e

    return F.aggregate(F.sequence(F.lit(0), F.lit(m - 1)), F.lit(0.0), step)


def _rpq_cross_cols(src: DataFrame, stages) -> tuple[DataFrame, dict]:
    """Attach the probe-INDEPENDENT cross tables as ONE-row
    broadcast-scalar columns, so every probe's fold references a single
    analyzed copy instead of inlining its own literal tree — at 4
    probes the RPQ3 cross tables alone were 4 × 6,144 inlined doubles,
    and re-analyzing them per probe dominated the recall queries'
    construction wall. Same doubles, same fold: the rounded metrics
    are bit-identical. One stage has no cross table."""
    m = len(stages[0])
    dsub = len(stages[0][0][0])
    _, crosses = _rpq_tabs([0.0] * (dsub * m), stages)  # query-free
    if not crosses:
        return src, {}
    keys = sorted(crosses)
    # DATA (LocalRelation), not literal expressions: foldable literal
    # columns would be re-inlined into every consumer by the
    # optimizer's FoldablePropagation, putting the 4 copies right back
    # into the plan. Same doubles either way.
    one = src.sparkSession.createDataFrame(
        [tuple(crosses[k] for k in keys)],
        ", ".join(f"_x{s}{t} array<array<array<double>>>" for s, t in keys),
    )
    refs = {(s, t): F.col(f"_x{s}{t}") for (s, t) in keys}
    return src.crossJoin(F.broadcast(one)), refs


def rpq_encode(
    df: DataFrame,
    stages: list[list[list[list[float]]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, keep_cols..., codes): ``codes`` holds m codes per stage,
    stage 1's first. Greedy per-stage argmin, pure codegen projections,
    zero shuffle, zero Python. Each stage's distance arrays and codes
    materialize in their own projection so no fold re-evaluates (the
    HOF re-evaluation trap); when another stage follows, the residual
    column is rebuilt from the chosen codeword literals."""
    dsub = len(stages[0][0][0])
    m = len(stages[0])
    keep = [F.col(c) for c in keep_cols]
    cur = df.select(F.col(id_col), *keep, _vec(vec_col).alias("_r"))
    codes: list[str] = []
    for s, books in enumerate(stages):
        book_lits = [_lit_array(book) for book in books]

        def _dists(j: int) -> Column:
            # ONE transform over the codebook literal, not k separate
            # fold expressions — 16x fewer expressions keeps the
            # generated code inside JIT/codegen limits (the unrolled
            # form fell back to interpreted evaluation, ~10x slower)
            sub = F.slice(F.col("_r"), j * dsub + 1, dsub)
            return F.transform(
                book_lits[j],
                lambda c: F.aggregate(
                    F.zip_with(sub, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )

        carry = [F.col(id_col), *keep, F.col("_r"), *[F.col(n) for n in codes]]
        staged = cur.select(*carry, *[_dists(j).alias(f"_d{j}") for j in range(m)])
        new = [f"_c{s}_{j}" for j in range(m)]
        cur = staged.select(
            *carry,
            *[
                (F.array_position(F.col(f"_d{j}"), F.array_min(F.col(f"_d{j}"))) - 1)
                .cast("int")
                .alias(n)
                for j, n in enumerate(new)
            ],
        )
        codes += new
        if s + 1 < len(stages):
            # residual for the next stage: r - chosen codeword, per subspace
            resid = F.concat(
                *[
                    F.zip_with(
                        F.slice(F.col("_r"), j * dsub + 1, dsub),
                        F.get(book_lits[j], F.col(n)),
                        lambda x, y: x - y,
                    )
                    for j, n in enumerate(new)
                ]
            )
            cur = cur.select(
                F.col(id_col), *keep, resid.alias("_r"), *[F.col(n) for n in codes]
            )
    return cur.select(
        F.col(id_col), *keep, F.array(*[F.col(n) for n in codes]).alias("codes")
    )


def _f64_sql(vec_expr: str) -> str:
    return f"list_transform({vec_expr}, x -> CAST(x AS DOUBLE))"


def _rpq_codes_sql(src: str, id_col: str, stages, keep: tuple[str, ...] = ()) -> str:
    """DuckDB twin of rpq_encode as staged CTEs over ``src``, a SELECT
    yielding ``id_col``, ``keep`` and the DOUBLE vector ``r``. Each
    stage appends its codes column and, when another stage follows,
    rewrites ``r`` to the residual. The last CTE is
    ``enc (id_col, keep..., codes)``."""
    dsub = len(stages[0][0][0])

    def stage_codes(books) -> str:
        parts = []
        for j, book in enumerate(books):
            sub = f"(r)[{j * dsub + 1}:{j * dsub + dsub}]"
            dists = ", ".join(_ivf_dist_sql(sub, c) for c in book)
            parts.append(f"(list_position([{dists}], list_min([{dists}])) - 1)")
        return "[" + ", ".join(parts) + "]"

    def resid(books, code_col) -> str:
        parts = [
            f"list_transform(range(1, {dsub} + 1), "
            f"i -> r[{j * dsub} + i] - ({_rpq_tab_sql(book)})[{code_col}[{j + 1}] + 1][i])"
            for j, book in enumerate(books)
        ]
        # DuckDB's list_concat is strictly binary — flatten a list-of-lists
        return "flatten([" + ", ".join(parts) + "])"

    ctes = [f"rpq_s0 AS ({src})"]
    prev = "rpq_s0"
    for s, books in enumerate(stages, start=1):
        ctes.append(f"rpq_c{s} AS (SELECT *, {stage_codes(books)} AS c{s} FROM {prev})")
        prev = f"rpq_c{s}"
        if s < len(stages):
            ctes.append(
                f"rpq_r{s} AS (SELECT * REPLACE ({resid(books, f'c{s}')} AS r) FROM {prev})"
            )
            prev = f"rpq_r{s}"
    cols = ", ".join([id_col, *keep])
    code_cols = ", ".join(f"c{s}" for s in range(1, len(stages) + 1))
    ctes.append(f"enc AS (SELECT {cols}, flatten([{code_cols}]) AS codes FROM {prev})")
    return ",\n    ".join(ctes)


def _rpq_tab_sql(t) -> str:
    if isinstance(t[0], list):
        return "[" + ", ".join(_rpq_tab_sql(x) for x in t) + "]"
    return "[" + ", ".join(f"{v!r}" for v in t) + "]"


def pq_encode_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> str:
    books = codebooks or _pq_seeded_codebooks()
    src = f"SELECT {id_col}, {_f64_sql(vec_col)} AS r FROM {table}"
    return f"""
    WITH {_rpq_codes_sql(src, id_col, [books])}
    SELECT {id_col}, codes FROM enc
    """


def pq_encode_codes_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebooks: list[list[list[float]]] | None = None,
) -> str:
    """pq_encode_sql with codes flattened to a comma-joined string —
    the driver-comparable projection (its canonicalizer sorts rows in
    pandas and dies on unhashable list cells)."""
    books = codebooks or _pq_seeded_codebooks()
    src = f"SELECT {id_col}, {_f64_sql(vec_col)} AS r FROM {table}"
    return f"""
    WITH {_rpq_codes_sql(src, id_col, [books])}
    SELECT {id_col},
           array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ',') AS codes
    FROM enc
    """


def rpq_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    stages: list[list[list[list[float]]]],
    q_vec: list[float] | None = None,
    enc: DataFrame | None = None,
) -> DataFrame:
    """Residual-PQ ADC top-k: the query stays exact, each corpus vector
    is its codes, and the distance is m lookups per stage plus m per
    stage pair against inlined literal tables (computed once on the
    driver; at scale, broadcast). ``enc`` is a staged (id, codes)
    table; without it the corpus is encoded in the plan."""
    q = q_vec or _query_vec(df, query_id, vec_col, id_col)
    if enc is None:
        enc = rpq_encode(df, stages, vec_col, id_col)
    dtabs, crosses = _rpq_tabs(q, stages)
    adc = _rpq_adc(dtabs, {st: _lit_array(c) for st, c in crosses.items()})
    return (
        enc.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def _rpq_adc_topk_sql(
    qv_ctes: str, src: str, k: int, id_col: str, stages
) -> str:
    """DuckDB ADC top-k: ``qv_ctes`` defines ``qv_t (qvec)``, ``src``
    selects the candidates' (id, r). The tables need the query vector,
    known only at run time in SQL, so they are recomputed from the
    same codebook literals over the same query row — identical
    arithmetic order gives bit-identical doubles."""
    dsub = len(stages[0][0][0])
    m = len(stages[0])

    def dtab(books) -> str:
        rows = []
        for j, book in enumerate(books):
            sub = f"qvec[{j * dsub + 1}:{j * dsub + dsub}]"
            rows.append("[" + ", ".join(_ivf_dist_sql(sub, c) for c in book) + "]")
        return "[" + ", ".join(rows) + "]"

    _, crosses = _rpq_tabs([0.0] * (dsub * m), stages)  # crosses are query-free
    tabs = [f"{dtab(books)} AS d{s}" for s, books in enumerate(stages, start=1)] + [
        f"{_rpq_tab_sql(c)} AS x{s + 1}{t + 1}" for (s, t), c in sorted(crosses.items())
    ]
    # per-j sum in the Spark fold's term order: dtabs stage-ascending,
    # then the cross tables in (s, t) order
    terms = [f"t.d{s + 1}[j][e.codes[{s * m} + j] + 1]" for s in range(len(stages))] + [
        f"t.x{s + 1}{t + 1}[j][e.codes[{s * m} + j] + 1][e.codes[{t * m} + j] + 1]"
        for (s, t) in sorted(crosses)
    ]
    return f"""
    WITH {qv_ctes},
    tabs AS (SELECT {", ".join(tabs)} FROM qv_t),
    {_rpq_codes_sql(src, id_col, stages)}
    SELECT e.{id_col},
           round(list_sum(list_transform(range(1, {m} + 1),
                 j -> {" + ".join(terms)})), 6) AS adc_dist
    FROM enc e CROSS JOIN tabs t
    ORDER BY adc_dist ASC, e.{id_col} ASC
    LIMIT {k}
    """


def rpq_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    stages: list[list[list[list[float]]]],
) -> str:
    v = _f64_sql(vec_col)
    return _rpq_adc_topk_sql(
        f"qv_t AS (SELECT {v} AS qvec FROM {table} WHERE {id_col} = {query_id})",
        f"SELECT {id_col}, {v} AS r FROM {table} WHERE {id_col} != {query_id}",
        k, id_col, stages,
    )


def rpq_rerank_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    stages: list[list[list[list[float]]]],
    q_vec: list[float] | None = None,
    enc: DataFrame | None = None,
) -> DataFrame:
    """Shortlist-then-rerank — how the codec is actually served: ADC
    ranks the whole corpus by compressed codes (cheap, lossy), the top
    ``shortlist`` ids join back to their float vectors, and exact
    cosine reranks just those. Recall comes from the shortlist width
    and the stage count, precision from the exact pass; the float
    vectors are touched for only ``shortlist`` rows however big the
    corpus is."""
    q = q_vec or _query_vec(df, query_id, vec_col, id_col)
    short = rpq_topk(
        df, query_id, shortlist, vec_col, id_col, stages=stages, q_vec=q, enc=enc
    ).select(id_col)
    qv = _lit_array([float(x) for x in q])
    vec = _vec(vec_col)
    return (
        df.join(short, id_col, "left_semi")
        .select(F.col(id_col), F.round(cosine_col(vec, qv), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def rpq_rerank_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    stages: list[list[list[list[float]]]],
) -> str:
    inner = rpq_topk_sql(table, query_id, shortlist, vec_col, id_col, stages=stages)
    v = _f64_sql(f"t.{vec_col}")
    qv = _f64_sql(f"q.{vec_col}")
    return f"""
    SELECT t.{id_col}, round({cosine_sql(v, qv)}, 6) AS cosine
    FROM {table} t,
         (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
    WHERE t.{id_col} IN (SELECT {id_col} FROM ({inner}) s)
    ORDER BY cosine DESC, t.{id_col} ASC
    LIMIT {k}
    """


def ivf_pq_index(
    df: DataFrame,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """THE production IVF-PQ index: (id, cell, codes) in one codegen
    projection pass — coarse cell for pruning, PQ codes for ADC.
    Written ``partitionBy("cell")`` (see queries.py), a probe reads
    nprobe/n_cells of the files (planning-time pruning) and never
    touches a float vector."""
    cents = centroids or _ivf_seeded_centroids()
    books = codebooks or _pq_seeded_codebooks()
    assigned = ivf_assign(
        df.select(F.col(id_col), F.col(vec_col)), vec_col, cents, out_col="cell"
    )
    return rpq_encode(assigned, [books], vec_col, id_col, keep_cols=("cell",))


def ivf_pq_index_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> str:
    cents = centroids or _ivf_seeded_centroids()
    books = codebooks or _pq_seeded_codebooks()
    v = _f64_sql(vec_col)
    src = (
        f"SELECT {id_col}, CAST({ivf_assign_sql(v, cents)} AS INT) AS cell, "
        f"{v} AS r FROM {table}"
    )
    return f"""
    WITH {_rpq_codes_sql(src, id_col, [books], keep=("cell",))}
    SELECT {id_col}, cell, codes FROM enc
    """


def ivf_pq_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    q_vec: list[float] | None = None,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """The full production ANN shape — IVF-PQ: the coarse quantizer
    prunes the corpus to ``nprobe`` cells (partition pruning with a
    materialized index), then ADC scans only those cells' PQ codes.
    At 100 TB: index stored as parquet partitioned by cell with a
    ``codes`` column, so a probe reads nprobe/n_cells of the data and
    does m lookups per row — no float vectors touched at query time."""
    cents = centroids or _ivf_seeded_centroids()
    books = codebooks or _pq_seeded_codebooks()
    q = q_vec or _query_vec(df, query_id, vec_col, id_col)
    cell_d = [_seq_sqdist(q, c) for c in cents]
    probe = [i for i, _ in sorted(enumerate(cell_d), key=lambda t: t[1])[:nprobe]]
    if index_df is not None:
        # staged (id, cell, codes) index: the cell filter is partition
        # pruning on the index dataset, nothing is re-encoded
        enc = index_df.filter(F.col("cell").isin(*probe)).select(id_col, "codes")
    else:
        cand = ivf_assign(df, vec_col, cents).filter(F.col("_cell").isin(*probe))
        enc = rpq_encode(cand, [books], vec_col, id_col)
    return rpq_topk(df, query_id, k, vec_col, id_col, stages=[books], q_vec=q, enc=enc)


def ivf_pq_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
) -> str:
    cents = centroids or _ivf_seeded_centroids()
    books = codebooks or _pq_seeded_codebooks()
    v = _f64_sql(vec_col)
    tv = _f64_sql(f"t.{vec_col}")
    qdists = ", ".join(_ivf_dist_sql("qvec", c) for c in cents)
    return _rpq_adc_topk_sql(
        f"""qv_t AS (
      SELECT {v} AS qvec FROM {table} WHERE {id_col} = {query_id}),
    qd AS (
      SELECT unnest(range(0, {len(cents)})) AS cell,
             unnest([{qdists}]) AS d
      FROM qv_t),
    probe AS (SELECT cell FROM qd ORDER BY d ASC, cell ASC LIMIT {nprobe})""",
        f"SELECT t.{id_col}, {tv} AS r FROM {table} t "
        f"WHERE t.{id_col} != {query_id} "
        f"AND {ivf_assign_sql(tv, cents)} IN (SELECT cell FROM probe)",
        k, id_col, [books],
    )


# -------------------------------------------------------- recall@k

class RecallTier(NamedTuple):
    """One ANN tier of the recall audit.

    ``topk`` is the per-probe Spark top-k ``(df, q, k, q_vec, enc)`` of
    an IVF tier: ann_recall prefetches the probe vectors with ONE
    collect and reads (or builds once) the cell index, so an N-probe
    recall query costs one index subtree + N cheap scan branches. Only
    the IVF tiers use it; it is None for every tier in
    ``_BATCHED_RECALL_TIERS``, which ann_recall always batches.
    ``topk_sql`` ``(table, q, k)`` is the DuckDB twin. ``family`` names
    the staged index a non-PQ tier reads. ``stages`` is a residual-PQ
    tier's stage count (0 otherwise) and ``shortlist`` the exact-rerank
    width of a tier that reranks."""

    topk: Callable | None
    topk_sql: Callable
    family: str | None = None
    stages: int = 0
    shortlist: int | None = None


def _rpq_tier(n: int, shortlist: int | None = None) -> RecallTier:
    """The n-stage residual-PQ tier, reranked when ``shortlist`` is set."""

    def sql(table, q, k):
        if shortlist is None:
            return rpq_topk_sql(table, q, k, stages=_rpq_stages(n))
        return rpq_rerank_topk_sql(table, q, k, shortlist, stages=_rpq_stages(n))

    return RecallTier(None, sql, stages=n, shortlist=shortlist)


# Each ANN tier's fitness claim is its RECALL against exact search, not
# just that it returns k deterministic rows.
RECALL_TIERS: dict[str, RecallTier] = {
    "lsh": RecallTier(None, ann_topk_sql),
    "multiprobe": RecallTier(None, ann_multiprobe_topk_sql),
    "ivf": RecallTier(
        lambda df, q, k, qv, enc: ivf_topk(df, q, k, q_vec=qv, index_df=enc),
        lambda table, q, k: ivf_topk_sql(table, q, k),
        "ivf",
    ),
    "pq": _rpq_tier(1),
    "ivf_pq": RecallTier(
        lambda df, q, k, qv, enc: ivf_pq_topk(df, q, k, q_vec=qv, index_df=enc),
        lambda table, q, k: ivf_pq_topk_sql(table, q, k),
        "ivf_pq",
    ),
    "rerank": _rpq_tier(1, 50),
    "rpq": _rpq_tier(2),
    "rpq_rerank": _rpq_tier(2, 50),
    "rpq3_rerank": _rpq_tier(3, 50),
}

# default probe set for the registered recall queries: spread across the
# id range so cells/buckets differ (ids exist at every test SF)
RECALL_PROBES = (0, 7, 21, 42)


def brute_ground_truth(
    df: DataFrame,
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors for every probe in one DataFrame
    (query_id, vec_id) — the ground-truth table every recall query
    shares. Computed once and STAGED (see queries.py): 8 recall tiers
    x 4 probes would otherwise re-run 32 brute-force corpus scans for
    identical answers."""
    parts = [
        brute_topk(df, q, k)
        .select(F.lit(int(q)).cast("bigint").alias("query_id"), F.col(id_col))
        for q in probes
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def brute_ground_truth_sql(
    table: str,
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = 10,
    id_col: str = "vec_id",
) -> str:
    parts = [
        f"SELECT CAST({q} AS BIGINT) AS query_id, {id_col} "
        f"FROM ({brute_topk_sql(table, q, k)})"
        for q in probes
    ]
    return " UNION ALL ".join(parts)


def _keyed_topk(
    src: DataFrame,
    keys: list[str],
    metric_by_key: dict[tuple, Column],
    asc: bool,
    k: int,
    id_col: str = "vec_id",
    guard_by_key: dict[tuple, Column] | None = None,
) -> DataFrame:
    """ONE scan of ``src`` → per-key top-k (keys..., id, _r) under the
    key's (metric, id) total order, ``_r`` the 1-based rank: key-tagged
    struct array → explode → row_number over the key partition →
    rank <= k. The rank filter compiles to
    WindowGroupLimit — a map-side partial top-k per key BEFORE the
    exchange, so the key-partitioned window is never a skewed full
    sort at scale. Value-identical to per-key
    ``orderBy(metric, id).limit(k)`` union branches (both select by the
    same deterministic total order) — the ann_budget_curve shape
    (590e741) shared by the recall tiers.

    ``guard_by_key``: for bucket-pruned tiers, the per-key candidate
    predicate (bucket/cell membership) — a row only yields that key's
    struct when its guard holds (the entry is NULL otherwise and
    array_compact drops it), exactly the per-key branches' WHERE."""
    from pyspark.sql import Window

    entries = []
    for kv, m in metric_by_key.items():
        fields = [
            F.lit(int(v)).cast("bigint").alias(name)
            for name, v in zip(keys, kv)
        ]
        s = F.struct(*fields, m.alias("_m"))
        if guard_by_key is not None:
            s = F.when(guard_by_key[kv], s)
        entries.append(s)
    arr = F.array(*entries)
    if guard_by_key is not None:
        arr = F.array_compact(arr)
    e = (
        src.select(F.col(id_col), F.explode(arr).alias("_e"))
        .select(
            id_col,
            *[F.col(f"_e.{n}").alias(n) for n in keys],
            F.col("_e._m").alias("_m"),
        )
        .filter(F.col(id_col) != F.col("query_id"))
    )
    order = [F.asc("_m") if asc else F.desc("_m"), F.asc(id_col)]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        e.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .select(*keys, id_col, "_r")
    )


def _probe_case_vec(qvs: dict[int, list[float]], probes, dim: int | None = None) -> Column:
    """Per-row probe vector: a |probes|-way literal CASE keyed on the
    exploded query_id — same doubles as the per-branch literals, so a
    cosine against it is bit-identical (the ann_budget_curve rerank
    contract). One parsed SQL CASE, not an ``F.when`` chain: the chain
    does not render back to SQL that re-parses (see :func:`_expr_sql`)."""
    return F.expr(
        "CASE "
        + " ".join(
            f"WHEN query_id = {int(q)} THEN "
            f"{_lit_sql([float(x) for x in (qvs[int(q)][:dim] if dim else qvs[int(q)])])}"
            for q in probes
        )
        + " END"
    )


def _recall_agg(
    topk: DataFrame,
    exact_df: DataFrame,
    k: int,
    keys: list[str],
    id_col: str = "vec_id",
) -> DataFrame:
    """(keys..., recall) from per-key top-k rows vs the ground-truth
    (query_id, id) table: broadcast-left-join the truth, count hits per
    key. coalesce(sum, 0) keeps a key's row at recall 0.0 exactly like
    the per-key ``exact JOIN approx → count(*)`` branches (count of an
    empty join is 0, never a missing row — each key always has k topk
    rows)."""
    gt = F.broadcast(
        exact_df.select("query_id", F.col(id_col), F.lit(1).alias("_hit"))
    )
    return (
        topk.join(gt, ["query_id", id_col], "left")
        .groupBy(*keys)
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).alias("_h"))
        .select(
            *keys,
            F.round(F.col("_h") / F.lit(float(k)), 4).alias("recall"),
        )
        .orderBy(*keys)
    )


# tiers whose approximate ranking is ONE metric expression over ONE
# code-table scan — these batch all probes into a single plan. The
# sign-LSH tiers (lsh/multiprobe) batch too: their bucket sets are
# decidable driver-side from the collected probe vectors, so |probes|
# FULL corpus scans collapse to ONE scan with per-probe bucket-set
# guards (measured 4 scans -> 1, multiprobe 1.56 -> 1.23 s solo).
# ivf/ivf_pq deliberately KEEP the per-probe loop: their scans are
# already nprobe-cell partition prunes of the staged index, and the
# batched window form re-measured SLOWER (ivf_pq exec 0.37 -> 0.9 s
# solo at sf0.1 — the union scan + probe-guarded explode costs more
# than re-reading shared cells saves; guide §1.6 revert rule).
_BUCKET_RECALL_TIERS = {"lsh", "multiprobe"}
_BATCHED_RECALL_TIERS = {
    "pq", "rerank", "rpq", "rpq_rerank", "rpq3_rerank", "binary_rerank",
} | _BUCKET_RECALL_TIERS


def _py_sign_bucket(vec: list[float], bits: int = SIGN_BITS) -> int:
    """Driver-side twin of :func:`sign_bucket_col`: integer from the
    sign bits of the first ``bits`` components. Collected floats widen
    to double exactly, and >= 0 is sign-exact under widening, so this
    equals the in-plan bucket of the same stored vector."""
    return sum(1 << i for i in range(bits) if vec[i] >= 0)


def _batched_tier_recall(
    df: DataFrame,
    tier: str,
    probes: tuple[int, ...],
    k: int,
    qvs: dict[int, list[float]],
    enc: DataFrame | None,
    exact_df: DataFrame | None,
    id_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """recall@k for a metric-over-code-table tier, ALL probes in one
    plan: one probe-exploded metric pass over the code table ranked per
    probe (WindowGroupLimit), one broadcast rerank join where the tier
    reranks, one broadcast ground-truth join. Value-identical to the
    per-probe union branches — same rounded metrics, same deterministic
    (metric, id) and (cosine desc, id) orders, same hits/k at 4dp (the
    equivalence ann_budget_curve already proved for these exact
    orderings)."""
    from pyspark.sql import Window

    pbig = [int(q) for q in probes]
    shortlist = RECALL_TIERS[tier].shortlist
    asc = True
    if RECALL_TIERS[tier].stages:
        st = _rpq_stages(RECALL_TIERS[tier].stages)
        src = enc if enc is not None else rpq_encode(df, st, vec_col, id_col)
        src, xrefs = _rpq_cross_cols(src, st)
        metrics = {
            q: F.round(_rpq_adc(_rpq_tabs(qvs[q], st)[0], xrefs), 6) for q in pbig
        }
    elif tier == "binary_rerank":
        src = enc if enc is not None else binary_encode(df, vec_col, id_col)

        def _ham(q: int) -> Column:
            qlo, qhi = _py_sign_bits([float(x) for x in qvs[q]])
            return F.bit_count(
                F.col("blo").bitwiseXOR(F.lit(qlo).cast("long"))
            ) + F.bit_count(F.col("bhi").bitwiseXOR(F.lit(qhi).cast("long")))

        metrics = {q: _ham(q) for q in pbig}
    elif tier in ("lsh", "multiprobe"):
        # bucket membership is decidable DRIVER-side from the collected
        # probe vectors (sign of the stored floats — _py_sign_bucket ==
        # sign_bucket_col on the same values), so all probes ride one
        # corpus scan with per-probe literal bucket-set guards instead
        # of |probes| broadcast-join scans
        src = df.select(
            F.col(id_col),
            F.col(vec_col),
            sign_bucket_col(F.col(vec_col), SIGN_BITS).alias("_bkt"),
        )
        qb = {q: _py_sign_bucket(qvs[q], SIGN_BITS) for q in pbig}
        if tier == "lsh":
            bsets = {q: [qb[q]] for q in pbig}
        else:
            masks = [0] + [1 << i for i in range(SIGN_BITS)]
            bsets = {q: sorted({qb[q] ^ mk for mk in masks}) for q in pbig}
        guards = {
            (q,): F.col("_bkt").isin(*bsets[q]) for q in pbig
        }
        metrics = {
            q: F.round(
                cosine_col(
                    _vec(vec_col), _lit_array([float(x) for x in qvs[q]])
                ),
                6,
            )
            for q in pbig
        }
        asc = False
    else:  # pragma: no cover — guarded by _BATCHED_RECALL_TIERS
        raise ValueError(tier)
    topk = _keyed_topk(
        src,
        ["query_id"],
        {(q,): m for q, m in metrics.items()},
        asc,
        shortlist if shortlist is not None else k,
        id_col,
        guard_by_key=guards if tier in _BUCKET_RECALL_TIERS else None,
    )
    if shortlist is not None:
        cos = F.round(cosine_col(_vec(vec_col), _probe_case_vec(qvs, pbig)), 6)
        rer = df.join(F.broadcast(topk), id_col).select(
            "query_id", F.col(id_col), cos.alias("_cos")
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc(id_col))
        topk = (
            rer.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .select("query_id", id_col)
        )
    exact = (
        exact_df
        if exact_df is not None
        else brute_ground_truth(df, probes, k, id_col)
    )
    out = _recall_agg(topk, exact, k, ["query_id"], id_col)
    if tier in _BUCKET_RECALL_TIERS:
        # a pruned probe can have ZERO candidates (empty bucket/cell) —
        # the per-probe branches still emit its row at recall 0.0 (agg
        # of an empty join), so left-join a literal probe frame to keep
        # that contract (the full-corpus tiers always have >= k rows)
        pframe = df.sparkSession.createDataFrame(
            [(q,) for q in pbig], "query_id bigint"
        )
        # the |probes|-row recall agg sits behind a window/agg barrier
        # with no stats — hint it broadcast or the 4x4 fill join plans
        # as a sort-merge (caught by PLAN_AUDIT after the first cut)
        out = (
            pframe.join(F.broadcast(out), "query_id", "left")
            .select(
                "query_id",
                F.coalesce(F.col("recall"), F.lit(0.0)).alias("recall"),
            )
            .orderBy("query_id")
        )
    return out


def ann_recall(
    df: DataFrame,
    tier: str,
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = 10,
    id_col: str = "vec_id",
    exact_df: DataFrame | None = None,
    enc_df: DataFrame | None = None,
) -> DataFrame:
    """recall@k of one ANN tier vs exact brute-force on the same probes.

    One row per probe: (query_id, recall). Each probe contributes two
    <=k-row subplans (exact + approximate) joined on the id — the
    corpus is scanned once per side per probe, every ranking is the
    deterministic (score, id) order both engines share, so recall is a
    stable number the oracle can hash. Probe count is a literal handful
    — this is a quality metric, not a serving path."""
    # ONE action for all probe vectors (each tier fn would otherwise
    # run its own head() job per probe)
    qvs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in df.filter(F.col(id_col).isin(*[int(p) for p in probes]))
        .select(id_col, "embedding")
        .collect()
    }
    # metric-over-code-table tiers batch every probe into ONE plan
    # (one code-table scan, one rerank join, one truth join) — see
    # _batched_tier_recall; values identical to the per-probe branches
    if tier in _BATCHED_RECALL_TIERS:
        return _batched_tier_recall(
            df, tier, probes, k, qvs, enc_df, exact_df, id_col
        )
    # only the IVF tiers remain: the cell index is probe-independent —
    # build its subtree once (or, production-shaped, read the staged
    # index the caller already materialized)
    enc = enc_df
    if enc is None:
        if RECALL_TIERS[tier].family == "ivf_pq":
            enc = ivf_pq_index(df)
        elif RECALL_TIERS[tier].family == "ivf":
            enc = ivf_assign(
                df.select(F.col(id_col), F.col("embedding")), "embedding",
                _ivf_seeded_centroids(), out_col="cell",
            )
    parts = []
    for q in probes:
        if exact_df is not None:
            exact = exact_df.filter(F.col("query_id") == int(q)).select(id_col)
        else:
            exact = brute_topk(df, q, k).select(id_col)
        approx = RECALL_TIERS[tier].topk(df, q, k, qvs[int(q)], enc).select(id_col)
        hits = exact.join(approx, id_col, "inner")
        parts.append(
            hits.agg(F.count("*").alias("_hits")).select(
                F.lit(int(q)).cast("bigint").alias("query_id"),
                F.round(F.col("_hits") / F.lit(float(k)), 4).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("query_id")


def ann_recall_sql(
    table: str,
    tier: str,
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = 10,
    id_col: str = "vec_id",
) -> str:
    sql_fn = RECALL_TIERS[tier].topk_sql
    parts = []
    for q in probes:
        b = brute_topk_sql(table, q, k)
        a = sql_fn(table, q, k)
        parts.append(
            f"SELECT CAST({q} AS BIGINT) AS query_id, "
            f"round(CAST((SELECT count(*) FROM ({b}) bb "
            f"JOIN ({a}) aa ON bb.{id_col} = aa.{id_col}) AS DOUBLE) "
            f"/ {k}, 4) AS recall"
        )
    return " UNION ALL ".join(parts) + " ORDER BY query_id"


# ------------------------------------------------ serving budget curve

def int8_rerank_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of the int8 shortlist-then-rerank serving path:
    code-cosine (exact integer dots, rounded 6dp like the Spark side)
    ranks the corpus, the top ``shortlist`` join back to floats for
    the exact rerank."""
    codes = quantize_int8_sql(table, vec_col, id_col)
    v = "list_transform(t.q, x -> CAST(x AS DOUBLE))"
    qv = "list_transform(qq.q, x -> CAST(x AS DOUBLE))"
    tv = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qfv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH codes AS ({codes}),
    short AS (
      SELECT t.{id_col}
      FROM codes t, (SELECT q FROM codes WHERE {id_col} = {query_id}) qq
      WHERE t.{id_col} != {query_id}
      ORDER BY round({cosine_sql(v, qv)}, 6) DESC, t.{id_col} ASC
      LIMIT {shortlist})
    SELECT t.{id_col}, round({cosine_sql(tv, qfv)}, 6) AS cosine
    FROM {table} t
    JOIN short s ON t.{id_col} = s.{id_col}
    CROSS JOIN (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
    ORDER BY cosine DESC, t.{id_col} ASC
    LIMIT {k}
    """


def mrl_rerank_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    d: int = 16,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of the matryoshka serving path: prefix-truncated
    cosine (first ``d`` dims) ranks the corpus, the top ``shortlist``
    rerank at full dimension."""
    sv = f"list_transform(t.{vec_col}[1:{d}], x -> CAST(x AS DOUBLE))"
    sq = f"list_transform(q.{vec_col}[1:{d}], x -> CAST(x AS DOUBLE))"
    tv = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qfv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    return f"""
    WITH short AS (
      SELECT t.{id_col}
      FROM {table} t,
           (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
      WHERE t.{id_col} != {query_id}
      ORDER BY round({cosine_sql(sv, sq)}, 6) DESC, t.{id_col} ASC
      LIMIT {shortlist})
    SELECT t.{id_col}, round({cosine_sql(tv, qfv)}, 6) AS cosine
    FROM {table} t
    JOIN short s ON t.{id_col} = s.{id_col}
    CROSS JOIN (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
    ORDER BY cosine DESC, t.{id_col} ASC
    LIMIT {k}
    """


ANN_BUDGET_SHORTLISTS = (10, 25, 50)
ANN_BUDGET_NPROBES = (1, 2, 4)


def ann_budget_curve(
    df: DataFrame,
    shortlists: tuple[int, ...] = ANN_BUDGET_SHORTLISTS,
    nprobes: tuple[int, ...] = ANN_BUDGET_NPROBES,
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = 10,
    id_col: str = "vec_id",
    exact_df: DataFrame | None = None,
    enc_df: DataFrame | None = None,
    ivf_df: DataFrame | None = None,
    bin_df: DataFrame | None = None,
    pq_df: DataFrame | None = None,
) -> DataFrame:
    """recall@k vs serving budget across the FULL compression frontier
    — the single table a 100-TB deployment reads to pick its index:
    every compressed codec (binary 8 B, pq8 8 B, rpq3 24 B, mrl16
    64 B, int8 64 B per vector) swept over exact-rerank shortlist
    widths 10/25/50, plus the float32 IVF tier over nprobe 1/2/4. One
    (knob, codec, bytes_per_vec, budget, query_id, recall) row per
    grid point; the per-probe spread is the worst-case read.

    The expensive subtrees are shared exactly like ann_recall: ONE
    ground-truth table and the STAGED code tables (rpq3, binary, pq,
    IVF assignment) feed every budget point — each point adds only a
    codec-scan branch, never a re-encode. Budgets NEST, so each probe
    pays ONE corpus scan per codec, not one per point: each codec's
    b-wide shortlist is exactly the rank <= b slice of the widest
    shortlist under that codec's total order (metric, id), and ONE
    rank-retaining 50-wide exact rerank serves every narrower budget
    as a <=50-row filter + top-k. The per-point oracle twins still
    recompute each budget independently and hash-match.

    r12 shape: the whole grid is ONE plan. Per codec, ONE scan of its
    staged code table computes all |probes| metrics (probe-tagged
    struct array -> explode), ranked per probe by row_number over the
    codec's (metric, id) order — the rank<=wmax filter compiles to
    WindowGroupLimit, i.e. a map-side partial top-wmax per probe
    BEFORE the exchange, so the probe-partitioned window is never a
    skewed full sort at scale. The 5 ranked shortlists union into one
    <=|codecs|*|probes|*wmax-row table, broadcast-join the embeddings
    for ONE exact rerank, explode the nested budgets, per-cell top-k
    (same WindowGroupLimit), left-join the broadcast ground truth and
    aggregate hits. The r11 form built the same 72 grid points as 72
    independent union branches (24 shortlist scans + 29 lazy
    checkpoints, a ~190 KB physical plan); values are identical —
    same metrics, same 6dp rounding, same deterministic (metric, id)
    and (cosine desc, id) orders, same hits/k at 4dp."""
    from pyspark.sql import Window

    spark = df.sparkSession
    qvs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in df.filter(F.col(id_col).isin(*[int(p) for p in probes]))
        .select(id_col, "embedding")
        .collect()
    }
    rpq3_stages = _rpq_stages(3)
    pq_stages = _rpq_stages(1)
    enc = enc_df if enc_df is not None else rpq_encode(df, rpq3_stages, "embedding", id_col)
    bcodes = bin_df if bin_df is not None else binary_encode(df, "embedding", id_col)
    pcodes = pq_df if pq_df is not None else rpq_encode(df, pq_stages, "embedding", id_col)
    icodes = quantize_int8(df, "embedding", id_col).select(id_col, "q")
    icodes = icodes.localCheckpoint(eager=False)
    qcodes = {
        int(r[0]): [int(x) for x in r[1]]
        for r in icodes.filter(
            F.col(id_col).isin(*[int(p) for p in probes])
        ).collect()
    }
    ivf = ivf_df
    if ivf is None:
        ivf = ivf_assign(
            df.select(F.col(id_col), F.col("embedding")), "embedding",
            _ivf_seeded_centroids(), out_col="cell",
        )
    cents = _ivf_seeded_centroids()
    wmax = max(shortlists)
    pbig = [int(q) for q in probes]

    def ranked(src: DataFrame, metric, asc: bool, codec: str, bpv: int) -> DataFrame:
        """ONE scan of a codec's code table -> its codec-tagged
        (query_id, id, _r) shortlist, _r <= wmax (see _keyed_topk)."""
        return _keyed_topk(
            src, ["query_id"], {(q,): metric(q) for q in pbig}, asc, wmax, id_col
        ).select(
            F.lit(codec).alias("codec"),
            F.lit(int(bpv)).cast("bigint").alias("bytes_per_vec"),
            "query_id", id_col, "_r",
        )

    def adc_m(stages, crosses):
        return lambda q: F.round(_rpq_adc(_rpq_tabs(qvs[q], stages)[0], crosses), 6)

    def ham_m(q: int) -> Column:
        qlo, qhi = _py_sign_bits(qvs[q])
        return (
            F.bit_count(F.col("blo").bitwiseXOR(F.lit(qlo).cast("long")))
            + F.bit_count(F.col("bhi").bitwiseXOR(F.lit(qhi).cast("long")))
        ).cast("double")

    def int8_m(q: int) -> Column:
        # one parsed literal, not 64 py4j lit calls (same doubles:
        # every int8 code converts to double exactly)
        qarr = _lit_array([float(x) for x in qcodes[q]])
        return F.round(cosine_col(_vec(F.col("q")), qarr), 6)

    def mrl_m(q: int) -> Column:
        q16 = _lit_array([float(x) for x in qvs[q][:16]])
        return F.round(
            cosine_col(_vec(F.slice(F.col("embedding"), 1, 16)), q16), 6
        )

    enc_x, xrefs = _rpq_cross_cols(enc, rpq3_stages)
    shorts = ranked(enc_x, adc_m(rpq3_stages, xrefs), True, "rpq3", 24)
    for more in (
        ranked(pcodes, adc_m(pq_stages, {}), True, "pq8", 8),
        ranked(bcodes, ham_m, True, "binary", 8),
        ranked(icodes, int8_m, False, "int8", 64),
        ranked(df, mrl_m, False, "mrl16", 64),
    ):
        shorts = shorts.unionByName(more)

    qexpr = _probe_case_vec(qvs, pbig)
    cosine = F.round(cosine_col(_vec("embedding"), qexpr), 6)

    rer = df.join(F.broadcast(shorts), id_col).select(
        "codec", "bytes_per_vec", "query_id", F.col(id_col), "_r",
        cosine.alias("cosine"),
    )
    bud = rer.select(
        "*",
        F.explode(
            F.array(*[F.lit(int(b)).cast("bigint") for b in shortlists])
        ).alias("budget"),
    ).filter(F.col("_r") <= F.col("budget"))
    w2 = Window.partitionBy("codec", "query_id", "budget").orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    topk_s = bud.withColumn("_rk", F.row_number().over(w2)).filter(
        F.col("_rk") <= k
    )

    gt = exact_df if exact_df is not None else brute_ground_truth(df, probes, k)
    gt_b = F.broadcast(gt.select("query_id", id_col, F.lit(1).alias("_hit")))
    s_agg = (
        topk_s.join(gt_b, ["query_id", id_col], "left")
        .groupBy("codec", "bytes_per_vec", "query_id", "budget")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("_hits"))
    )

    # IVF tier: one scan, probe-exploded cell ranks, nprobe-nested
    pmax = max(nprobes)
    iv_entries = []
    for q in pbig:
        dists = [_seq_sqdist(qvs[q], c) for c in cents]
        cell_rank = {
            cell: r + 1
            for r, (cell, _) in enumerate(
                sorted(enumerate(dists), key=lambda t: (t[1], t[0]))
            )
        }
        keep = [c for c, r in cell_rank.items() if r <= pmax]
        rank_expr = F.lit(pmax + 1)
        for c in keep:
            rank_expr = F.when(
                F.col("cell") == c, F.lit(cell_rank[c])
            ).otherwise(rank_expr)
        iv_entries.append(
            F.struct(
                F.lit(q).cast("bigint").alias("query_id"),
                rank_expr.alias("_cr"),
            )
        )
    iv = (
        ivf.select(
            F.col(id_col), F.col("embedding"),
            F.explode(F.array(*iv_entries)).alias("_e"),
        )
        .select(
            id_col, "embedding",
            F.col("_e.query_id").alias("query_id"),
            F.col("_e._cr").alias("_cr"),
        )
        .filter((F.col(id_col) != F.col("query_id")) & (F.col("_cr") <= pmax))
        .select(
            "query_id", F.col(id_col), "_cr",
            F.round(cosine_col(_vec("embedding"), qexpr), 6).alias("cosine"),
        )
    )
    ivb = iv.select(
        "*",
        F.explode(
            F.array(*[F.lit(int(p)).cast("bigint") for p in nprobes])
        ).alias("budget"),
    ).filter(F.col("_cr") <= F.col("budget"))
    w3 = Window.partitionBy("query_id", "budget").orderBy(
        F.desc("cosine"), F.asc(id_col)
    )
    topk_i = ivb.withColumn("_rk", F.row_number().over(w3)).filter(
        F.col("_rk") <= k
    )
    i_agg = (
        topk_i.join(gt_b, ["query_id", id_col], "left")
        .groupBy("query_id", "budget")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("_hits"))
        .select(
            F.lit("float32").alias("codec"),
            F.lit(256).cast("bigint").alias("bytes_per_vec"),
            "query_id", "budget", "_hits",
        )
    )

    grid = s_agg.select(
        F.lit("shortlist_rerank").alias("knob"),
        "codec", "bytes_per_vec", "budget", "query_id", "_hits",
    ).unionByName(
        i_agg.select(
            F.lit("ivf_nprobe").alias("knob"),
            "codec", "bytes_per_vec", "budget", "query_id", "_hits",
        )
    )

    # dimension frame: every grid point emits a row even when its
    # candidate set is empty (recall 0.0), exactly as the per-branch
    # aggregations did
    dim_rows = [
        ("shortlist_rerank", codec, bpv, int(b), q)
        for codec, bpv in (
            ("rpq3", 24), ("pq8", 8), ("binary", 8), ("int8", 64),
            ("mrl16", 64),
        )
        for b in shortlists
        for q in pbig
    ] + [
        ("ivf_nprobe", "float32", 256, int(p), q)
        for p in nprobes
        for q in pbig
    ]
    dims = spark.createDataFrame(
        dim_rows,
        "knob string, codec string, bytes_per_vec bigint, budget bigint, "
        "query_id bigint",
    )
    return (
        dims.join(
            F.broadcast(grid),
            ["knob", "codec", "bytes_per_vec", "budget", "query_id"],
            "left",
        )
        .select(
            "knob", "codec", "bytes_per_vec", "budget", "query_id",
            F.round(
                F.coalesce(F.col("_hits"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall"),
        )
        .orderBy("knob", "codec", "budget", "query_id")
    )


def ann_budget_curve_sql(
    table: str = "embeddings",
    shortlists: tuple[int, ...] = ANN_BUDGET_SHORTLISTS,
    nprobes: tuple[int, ...] = ANN_BUDGET_NPROBES,
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = 10,
    id_col: str = "vec_id",
) -> str:
    rpq3, pq = _rpq_stages(3), _rpq_stages(1)
    codecs = [
        ("rpq3", 24, lambda q, b: rpq_rerank_topk_sql(table, q, k, b, stages=rpq3)),
        ("pq8", 8, lambda q, b: rpq_rerank_topk_sql(table, q, k, b, stages=pq)),
        ("binary", 8, lambda q, b: binary_rerank_topk_sql(table, q, k, shortlist=b)),
        ("int8", 64, lambda q, b: int8_rerank_topk_sql(table, q, k, shortlist=b)),
        ("mrl16", 64, lambda q, b: mrl_rerank_topk_sql(table, q, k, d=16, shortlist=b)),
    ]
    parts = []
    for codec, bpv, build in codecs:
        for b in shortlists:
            for q in probes:
                bt = brute_topk_sql(table, q, k)
                a = build(q, b)
                parts.append(
                    f"SELECT 'shortlist_rerank' AS knob, '{codec}' AS codec, "
                    f"CAST({bpv} AS BIGINT) AS bytes_per_vec, "
                    f"CAST({b} AS BIGINT) AS budget, "
                    f"CAST({q} AS BIGINT) AS query_id, "
                    f"round(CAST((SELECT count(*) FROM ({bt}) bb "
                    f"JOIN ({a}) aa ON bb.{id_col} = aa.{id_col}) AS DOUBLE) "
                    f"/ {k}, 4) AS recall"
                )
    for p in nprobes:
        for q in probes:
            bt = brute_topk_sql(table, q, k)
            a = ivf_topk_sql(table, q, k, nprobe=p)
            parts.append(
                f"SELECT 'ivf_nprobe' AS knob, 'float32' AS codec, "
                f"CAST(256 AS BIGINT) AS bytes_per_vec, "
                f"CAST({p} AS BIGINT) AS budget, "
                f"CAST({q} AS BIGINT) AS query_id, "
                f"round(CAST((SELECT count(*) FROM ({bt}) bb "
                f"JOIN ({a}) aa ON bb.{id_col} = aa.{id_col}) AS DOUBLE) "
                f"/ {k}, 4) AS recall"
            )
    return (
        " UNION ALL ".join(parts)
        + " ORDER BY knob, codec, budget, query_id"
    )


# ------------------------------------------------- semantic dedup

def _auto_semdedup_centroids(
    df: DataFrame, vec_col: str, id_col: str, max_cell_size: int
) -> list[list[float]]:
    """Corpus-sized quantizer choice for SemDeDup: seeded literal
    centroids while the corpus fits them at <= max_cell_size/8 mean
    occupancy (oracle-parity regime — the DuckDB twin embeds the same
    literals), else ceil(n / (max_cell_size/8)) trained centroids so
    growth can't trip the hard cell guard everywhere at once."""
    seeded = _ivf_seeded_centroids()
    target_per_cell = max(1, max_cell_size // 8)
    n = df.count()
    if n <= len(seeded) * target_per_cell:
        return seeded
    k = -(-n // target_per_cell)
    # sample must dominate k (>=8 training points per centroid) —
    # still driver-bounded: at 100M vectors k≈390k would call for the
    # distributed kmeans_fit instead, which callers can pass in
    return train_ivf_centroids(
        df, vec_col, id_col, n_centroids=k, sample=max(2048, 8 * k)
    )


def semantic_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    max_cell_size: int = 2048,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv method): cluster the embedding space,
    then compare pairs only WITHIN a cluster; pairs at cosine >=
    threshold are semantic duplicates even when their texts share no
    n-grams.

    Scale shape: one shuffle on the cell id; per-cell pair space is
    (n/cells)^2, so at corpus scale train centroids with
    ``train_ivf_centroids``/``kmeans_fit`` at ~sqrt(n) cells (SemDeDup
    uses 50k clusters for 100M docs) — the oracle profile uses the
    seeded literal centroids so both engines share the quantizer.
    Cells above ``max_cell_size`` are dropped outright, the same
    skew/boilerplate guard as every other pairwise op here — a dropped
    cell is the signal that the quantizer is too coarse for the corpus.

    With ``centroids=None`` the quantizer AUTO-SCALES: while the corpus
    fits the seeded cells at <= ``target_per_cell`` mean occupancy the
    shared seeded literals are used (so the DuckDB oracle can embed the
    identical quantizer), and beyond that ceil(n / target_per_cell)
    centroids are trained on a deterministic driver-side sample —
    corpus growth can no longer silently trip the guard in every cell
    and zero the output (the round-5 sf1 failure mode; the guard stays
    as a hard backstop against individual hot cells)."""
    from pyspark.sql import Window

    cents = centroids or _auto_semdedup_centroids(df, vec_col, id_col, max_cell_size)

    base = ivf_assign(df.select(F.col(id_col), F.col(vec_col)), vec_col, cents)
    base = base.withColumn(
        "_csz", F.count("*").over(Window.partitionBy("_cell"))
    ).filter(F.col("_csz") <= max_cell_size)
    a = base.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "_cell")
    b = base.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "_cell")
    return (
        a.join(b, "_cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", F.round(cosine_col(_vec("va"), _vec("vb")), 6).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


def semantic_dup_pairs_sql(
    table: str = "embeddings",
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    max_cell_size: int = 2048,
) -> str:
    cents = centroids or _ivf_seeded_centroids()
    va = f"list_transform(a.{vec_col}, x -> CAST(x AS DOUBLE))"
    vb = f"list_transform(b.{vec_col}, x -> CAST(x AS DOUBLE))"
    cell = ivf_assign_sql(f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))", cents)
    return f"""
    WITH celled AS (SELECT *, {cell} AS cell FROM {table}),
    sized AS (SELECT *, count(*) OVER (PARTITION BY cell) AS csz FROM celled),
    ok AS (SELECT * FROM sized WHERE csz <= {max_cell_size})
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           round({cosine_sql(va, vb)}, 6) AS cosine
    FROM ok a JOIN ok b ON a.cell = b.cell AND a.{id_col} < b.{id_col}
    WHERE round({cosine_sql(va, vb)}, 6) >= {threshold}
    """


def semantic_dedup_survivors(
    df: DataFrame,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Keep ONE vector per semantic-duplicate component: pair graph →
    connected components (min-id representative) → anti-join the
    non-representatives. The id list that survives a SemDeDup prune."""
    from tinyetl_spark.operators import dedup as _dedup

    pairs = semantic_dup_pairs(df, threshold, vec_col, id_col, centroids)
    cc = _dedup.connected_components(pairs)
    drop = cc.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.select(id_col).join(drop, id_col, "left_anti").orderBy(id_col)


# ---------------------------------------------------------------------
# Margin-based bitext mining (Artetxe & Schwenk 2019)
# ---------------------------------------------------------------------

MARGIN_K = 8          # neighborhood size for the margin denominator
# Library defaults are SCALE-SAFE: stride 8 samples ~1/8 of the source
# label and 6 sign bits give 64 buckets, so the broadcast query batch
# stays a small fraction of the partition at production scale. The
# registered sf0.01 query passes every=2 / bits=4 EXPLICITLY at its
# registration site (queries.py) because the tiny testdata (500
# vectors, ~50 per label) starves finer buckets — small-scale tuning
# belongs at the call site, not in the defaults.
MARGIN_EVERY = 8
MARGIN_BITS = 6


def margin_mine(
    df: DataFrame,
    src_label: int = 0,
    tgt_label: int = 1,
    k: int = MARGIN_K,
    every: int = MARGIN_EVERY,
    bits: int = MARGIN_BITS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Margin-scored cross-group nearest neighbors — the LASER/CCMatrix
    bitext-mining criterion (Artetxe & Schwenk 2019): a candidate pair
    is kept not for raw cosine but for how much it stands OUT of its
    neighborhood, margin = best / mean(top-k), which suppresses hubs
    that are merely close to everything.

    Scale shape: candidates come from the sign-LSH bucket join (the
    same shortlist as the other ANN paths), so the pair space is
    |queries| x |bucket|, NOT |queries| x |targets| — the brute
    bipartite form measured 135 s at 200k vectors where this one stays
    in single digits; the margin neighborhood is the within-bucket
    top-k (documented LSH-recall tradeoff). The sampled query side
    broadcasts; the mean in the denominator sums exact decimals so the
    margin is engine-identical.

    Simplification vs the cited paper: this is the FORWARD-only margin
    (the denominator averages only the source->target neighborhood,
    and that mean includes the rank-1 candidate itself), not the
    paper's symmetric ratio that also averages the backward
    target->source top-k. Target-side hubs are therefore suppressed
    more weakly than the full criterion; the forward form keeps the
    plan one bucket join + one window instead of two of each."""
    from pyspark.sql import Window

    from tinyetl_spark.operators.text import floor_round

    src = df.filter(
        (F.col(label_col) == src_label) & (F.col(id_col) % every == 0)
    ).select(
        F.col(id_col).alias("src_id"),
        _vec(vec_col).alias("qv"),
        sign_bucket_col(_vec(vec_col), bits).alias("blk"),
    )
    tgt = df.filter(F.col(label_col) == tgt_label).select(
        F.col(id_col).alias("tgt_id"),
        _vec(vec_col).alias("tv"),
        sign_bucket_col(_vec(vec_col), bits).alias("blk"),
    )
    scored = tgt.join(F.broadcast(src), "blk").select(
        "src_id",
        "tgt_id",
        F.round(cosine_col(F.col("tv"), F.col("qv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("src_id").orderBy(F.desc("cosine"), F.asc("tgt_id"))
    top = scored.select(
        "src_id", "tgt_id", "cosine", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= k)
    # The top-k mean rides a SECOND window over the SAME src_id
    # partitioning (guide §2.4 — window keyed like the preceding one
    # needs no second shuffle) instead of a groupBy + broadcast join
    # back: the r12 plan consumed `top` twice, duplicating the whole
    # scan→bucket-join→window subtree (4 file scans, 2 windows of work);
    # this form plans it once. Same exact arithmetic: decimal sum over
    # the identical rn<=k rows, double/double divide, floor_round.
    wq = Window.partitionBy("src_id")
    mean_k = (
        F.sum(F.col("cosine").cast("decimal(38,6)")).over(wq).cast("double")
        / F.count("*").over(wq).cast("double")
    )
    return (
        top.withColumn("_mean_k", mean_k)
        .filter(F.col("rn") == 1)
        .select(
            "src_id",
            "tgt_id",
            "cosine",
            floor_round(F.col("cosine") / F.col("_mean_k"), 6).alias("margin"),
        )
        .orderBy("src_id")
    )


def margin_mine_sql(
    table: str = "embeddings",
    src_label: int = 0,
    tgt_label: int = 1,
    k: int = MARGIN_K,
    every: int = MARGIN_EVERY,
    bits: int = MARGIN_BITS,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> str:
    from tinyetl_spark.operators.text import floor_round_sql

    tv = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    tb = sign_bucket_sql(f"t.{vec_col}", bits)
    qb = sign_bucket_sql(f"q.{vec_col}", bits)
    return f"""
    WITH scored AS MATERIALIZED (
      SELECT q.{id_col} AS src_id, t.{id_col} AS tgt_id,
             round({cosine_sql(tv, qv)}, 6) AS cosine
      FROM {table} t
      JOIN (SELECT {id_col}, {vec_col} FROM {table}
            WHERE {label_col} = {src_label}
              AND {id_col} % {every} = 0) q
        ON {tb} = {qb}
      WHERE t.{label_col} = {tgt_label}),
    top AS MATERIALIZED (
      SELECT src_id, tgt_id, cosine,
             row_number() OVER (PARTITION BY src_id
                                ORDER BY cosine DESC, tgt_id ASC) AS rn
      FROM scored),
    kept AS (SELECT * FROM top WHERE rn <= {k}),
    denom AS (
      SELECT src_id,
             CAST(sum(CAST(cosine AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS mean_k
      FROM kept GROUP BY src_id)
    SELECT k.src_id, k.tgt_id, k.cosine,
           {floor_round_sql("k.cosine / d.mean_k", 6)} AS margin
    FROM kept k JOIN denom d USING (src_id)
    WHERE k.rn = 1
    ORDER BY k.src_id
    """


# ------------------------------------------- binary (sign) quantization

BINARY_SHORTLIST = 50  # Hamming shortlist width for the rerank tier


def _sign_half_col(vec: Column, start: int) -> Column:
    """32 sign bits packed into a BIGINT by a Horner fold over one half
    of the vector (bit of dim `start` ends up most significant). Exact
    integer arithmetic on both engines."""
    return F.aggregate(
        F.slice(vec, start, 32),
        F.lit(0).cast("long"),
        lambda acc, x: acc * 2 + F.when(x > 0, 1).otherwise(0),
    )


def _py_sign_bits(q: list[float]) -> tuple[int, int]:
    lo, hi = 0, 0
    for x in q[:32]:
        lo = lo * 2 + (1 if x > 0 else 0)
    for x in q[32:64]:
        hi = hi * 2 + (1 if x > 0 else 0)
    return lo, hi


def binary_encode(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Binary (sign) quantization: 64-dim float vector -> 64 sign bits
    in two BIGINT halves (8 bytes/vector, the most aggressive common
    compression tier — 32x smaller than float32). Pure codegen
    projection, zero shuffle; at serving time Hamming distance is two
    XOR+popcount ops per vector."""
    vec = _vec(vec_col)
    return df.select(
        F.col(id_col),
        _sign_half_col(vec, 1).alias("blo"),
        _sign_half_col(vec, 33).alias("bhi"),
    )


def binary_encode_sql(
    table: str = "embeddings", vec_col: str = "embedding", id_col: str = "vec_id"
) -> str:
    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    half = (
        "list_reduce(list_transform({expr}[{a}:{b}],"
        " x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT)),"
        " (a, b) -> a * 2 + b)"
    )
    lo = half.format(expr=v, a=1, b=32)
    hi = half.format(expr=v, a=33, b=64)
    return f"""
    SELECT {id_col}, {lo} AS blo, {hi} AS bhi FROM {table}
    """


def binary_rerank_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    shortlist: int = BINARY_SHORTLIST,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    q_vec: list[float] | None = None,
    enc: DataFrame | None = None,
) -> DataFrame:
    """Binary-quantized serving: Hamming distance over 64 sign bits
    ranks the corpus (two XOR+popcount per vector — the cheapest
    compressed scan there is), the top ``shortlist`` ids join back to
    float vectors for the exact cosine rerank. Same
    shortlist-then-rerank contract as rpq_rerank_topk, one more point
    on the compression/recall frontier (8 bytes/vector vs PQ's 8
    half-byte codes)."""
    q = q_vec or _query_vec(df, query_id, vec_col, id_col)
    qlo, qhi = _py_sign_bits([float(x) for x in q])
    codes = enc if enc is not None else binary_encode(df, vec_col, id_col)
    ham = (
        F.bit_count(F.col("blo").bitwiseXOR(F.lit(qlo).cast("long")))
        + F.bit_count(F.col("bhi").bitwiseXOR(F.lit(qhi).cast("long")))
    )
    short = (
        codes.filter(F.col(id_col) != query_id)
        .select(F.col(id_col), ham.alias("_h"))
        .orderBy(F.asc("_h"), F.asc(id_col))
        .limit(shortlist)
        .select(id_col)
    )
    qv = _lit_array([float(x) for x in q])
    vec = _vec(vec_col)
    return (
        df.join(short, id_col, "left_semi")
        .select(F.col(id_col), F.round(cosine_col(vec, qv), 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def binary_rerank_topk_sql(
    table: str = "embeddings",
    query_id: int = 0,
    k: int = 10,
    shortlist: int = BINARY_SHORTLIST,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    tv = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    half = (
        "list_reduce(list_transform({expr}[{a}:{b}],"
        " x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT)),"
        " (a, b) -> a * 2 + b)"
    )
    return f"""
    WITH qb AS (
      SELECT {half.format(expr=v, a=1, b=32)} AS qlo,
             {half.format(expr=v, a=33, b=64)} AS qhi
      FROM {table} WHERE {id_col} = {query_id}),
    codes AS (
      SELECT {id_col},
             {half.format(expr=v, a=1, b=32)} AS blo,
             {half.format(expr=v, a=33, b=64)} AS bhi
      FROM {table} WHERE {id_col} != {query_id}),
    short AS (
      SELECT c.{id_col}
      FROM codes c CROSS JOIN qb
      ORDER BY bit_count(xor(c.blo, qb.qlo)) + bit_count(xor(c.bhi, qb.qhi))
               ASC, c.{id_col} ASC
      LIMIT {shortlist})
    SELECT t.{id_col}, round({cosine_sql(tv, qv)}, 6) AS cosine
    FROM {table} t
    JOIN short s ON t.{id_col} = s.{id_col}
    CROSS JOIN (SELECT {vec_col} FROM {table} WHERE {id_col} = {query_id}) q
    ORDER BY cosine DESC, t.{id_col} ASC
    LIMIT {k}
    """


# register the binary tier with the shared recall-audit machinery
# (added here, after BINARY_SHORTLIST; queries.py iterates
# RECALL_TIERS after full module import)
RECALL_TIERS["binary_rerank"] = RecallTier(
    None,
    binary_rerank_topk_sql,
    "binary",
    shortlist=BINARY_SHORTLIST,
)


# --------------------------------------------- matryoshka truncation audit

MRL_DIMS = (8, 16, 32, 64)  # truncation points; last = full dim (sanity row)


def matryoshka_recall(
    df: DataFrame,
    probes: tuple[int, ...] = RECALL_PROBES,
    dims: tuple[int, ...] = MRL_DIMS,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_df: DataFrame | None = None,
) -> DataFrame:
    """recall@k of PREFIX-TRUNCATED cosine search vs the full-dimension
    ground truth, per (probe, truncation dim) — the Matryoshka serving
    knob (Kusupati et al. 2022): MRL-trained embedders pack meaning
    into prefixes so deployments cut index cost by storing the first d
    components; this audit measures what raw truncation actually costs
    ON THIS corpus (untrained embeddings truncate worse than MRL ones —
    that honest gap is the point of measuring before deploying).

    Shape (r12 batched): the whole |probes|×|dims| grid is ONE plan —
    one corpus scan explodes a (probe, dim)-tagged struct array of
    truncated cosines (the probe vectors inline as collected literals,
    the same doubles the r11 form read from its 1-row broadcast
    subplans), rank <= k per (probe, dim) compiles to WindowGroupLimit
    (map-side partial top-k before the exchange), and ONE broadcast
    ground-truth join counts hits — 16 corpus scans + 16 <=k-row joins
    collapse to one of each. Values identical: same rounded cosines,
    same deterministic (cos desc, id) order, same hits/k at 4dp. The
    full-dim row (d = max) must read 1.0 by construction — a built-in
    sanity check the oracle also verifies."""
    qvs = {
        int(r[0]): [float(x) for x in r[1]]
        for r in df.filter(F.col(id_col).isin(*[int(p) for p in probes]))
        .select(id_col, vec_col)
        .collect()
    }
    metrics: dict[tuple, Column] = {}
    for q in probes:
        for d in dims:
            qd = _lit_array([float(x) for x in qvs[int(q)][: int(d)]])
            metrics[(int(q), int(d))] = F.round(
                cosine_col(_vec(F.slice(F.col(vec_col), 1, int(d))), qd), 6
            )
    topk = _keyed_topk(df, ["query_id", "dim"], metrics, False, k, id_col)
    exact = (
        exact_df
        if exact_df is not None
        else brute_ground_truth(df, probes, k, id_col)
    )
    return _recall_agg(topk, exact, k, ["query_id", "dim"], id_col)


def matryoshka_recall_sql(
    table: str = "embeddings",
    probes: tuple[int, ...] = RECALL_PROBES,
    dims: tuple[int, ...] = MRL_DIMS,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    parts = []
    for q in probes:
        b = brute_topk_sql(table, q, k, vec_col, id_col)
        for d in dims:
            v = f"list_transform(list_slice(t.{vec_col}, 1, {d}), x -> CAST(x AS DOUBLE))"
            qv = f"list_transform(list_slice(q.{vec_col}, 1, {d}), x -> CAST(x AS DOUBLE))"
            a = f"""
            SELECT t.{id_col}
            FROM {table} t,
                 (SELECT {vec_col} FROM {table} WHERE {id_col} = {q}) q
            WHERE t.{id_col} != {q}
            ORDER BY round({cosine_sql(v, qv)}, 6) DESC, t.{id_col} ASC
            LIMIT {k}
            """
            parts.append(
                f"SELECT CAST({q} AS BIGINT) AS query_id,"
                f" CAST({d} AS BIGINT) AS dim,"
                f" round(CAST((SELECT count(*) FROM ({b}) bb"
                f" JOIN ({a}) aa ON bb.{id_col} = aa.{id_col}) AS DOUBLE)"
                f" / {k}, 4) AS recall"
            )
    return " UNION ALL ".join(parts) + " ORDER BY query_id, dim"


# ------------------------------------------------ embedding-space QA report


def label_centroid_report(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space QA per label: member count, cluster TIGHTNESS
    (mean cosine of members to their label centroid), and the CONFUSION
    RISK (the nearest OTHER label's centroid and its cosine) — the
    report that says whether a labeled embedding corpus actually
    separates before anyone trains a probe or routes by similarity.

    Exactness: centroids are per-(label, dim) means with DECIMAL(38,12)
    sums (the kmeans_update convention — fold-order-independent, so an
    iterative-geometry artifact stays oracle-checkable); member-to-
    centroid cosines convert to integer micro-units per row before the
    per-label mean, so that mean is a bigint sum + one division; the
    10x10 centroid-confusion grid is driver-trivial but computed
    distributed off the same broadcast table.

    Scale shape: ONE n_vectors x dim explode shuffle (map-side partial
    sums) for centroids; the centroid table (|labels| rows) broadcasts
    back for the tightness join — the corpus is scanned twice and never
    reshuffled; the confusion join is |labels|^2 rows."""
    from pyspark.sql import Window

    from tinyetl_spark.operators.text import floor_round

    base = df.select(
        F.col(id_col), F.col(label_col).alias("lbl"), _vec(vec_col).alias("v")
    ).localCheckpoint(eager=False)
    cent_long = (
        base.select("lbl", F.posexplode("v").alias("pos", "val"))
        .groupBy("lbl", "pos")
        .agg(
            F.sum(F.col("val").cast("decimal(38,12)")).alias("s"),
            F.count("*").alias("n"),
        )
        .select(
            "lbl",
            "pos",
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("comp"),
        )
    )
    cents = (
        cent_long.groupBy("lbl")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "comp"))),
                lambda s: s["comp"],
            ).alias("cv")
        )
        .localCheckpoint(eager=False)
    )
    mu = F.floor(
        cosine_col(F.col("v"), F.col("cv")) * F.lit(1e9) + F.lit(0.5)
    ).cast("bigint")
    tight = (
        base.join(F.broadcast(cents), "lbl")
        .select("lbl", mu.alias("_mu"))
        .groupBy("lbl")
        .agg(F.count("*").alias("n_vecs"), F.sum("_mu").alias("_ms"))
        .select(
            "lbl",
            "n_vecs",
            floor_round(
                F.col("_ms").cast("double") / (F.col("n_vecs") * F.lit(1e9)), 6
            ).alias("tightness"),
        )
    )
    a = cents.select(F.col("lbl").alias("la"), F.col("cv").alias("va"))
    b = cents.select(F.col("lbl").alias("lb"), F.col("cv").alias("vb"))
    grid = (
        a.join(F.broadcast(b), F.col("la") != F.col("lb"))
        .select(
            "la",
            "lb",
            floor_round(cosine_col(F.col("va"), F.col("vb")), 6).alias("c6"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("la").orderBy(F.desc("c6"), F.asc("lb"))
    )
    nearest = grid.withColumn("_r", rk).filter(F.col("_r") == 1).select(
        F.col("la").alias("lbl"),
        F.col("lb").alias("nearest_label"),
        F.col("c6").alias("nearest_cos"),
    )
    return (
        # broadcast hint: both sides are |labels|-sized (~10 rows) but
        # derive from aggregates whose size estimates the planner can't
        # see, so it fell back to a SortMergeJoin (r12 PLAN_AUDIT);
        # |labels| is bounded at any scale (guide §3.1)
        tight.join(F.broadcast(nearest), "lbl")
        .select(
            F.col("lbl").alias(label_col),
            F.col("n_vecs"),
            "tightness",
            "nearest_label",
            "nearest_cos",
        )
        .orderBy(label_col)
    )


def label_centroid_report_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> str:
    from tinyetl_spark.operators.text import floor_round_sql

    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    cos_vc = cosine_sql("v", "cv")
    cos_ab = cosine_sql("va", "vb")
    return f"""
    WITH base AS (
      SELECT {id_col}, {label_col} AS lbl, {v} AS v FROM {table}),
    exploded AS (
      SELECT lbl, i - 1 AS pos, v[i] AS val
      FROM base, UNNEST(range(1, len(v) + 1)) AS t(i)),
    cent_long AS (
      SELECT lbl, pos,
             round(CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                   / COUNT(*), 6) AS comp
      FROM exploded GROUP BY lbl, pos),
    cents AS (
      SELECT lbl, list(comp ORDER BY pos) AS cv FROM cent_long GROUP BY lbl),
    tight AS (
      SELECT b.lbl, CAST(count(*) AS BIGINT) AS n_vecs,
             {floor_round_sql(
                 "CAST(sum(CAST(floor((" + cos_vc + ") * 1e9 + 0.5) AS BIGINT))"
                 " AS DOUBLE) / (count(*) * 1e9)", 6)} AS tightness
      FROM base b JOIN cents c ON b.lbl = c.lbl
      GROUP BY b.lbl),
    grid AS (
      SELECT a.lbl AS la, b.lbl AS lb,
             {floor_round_sql(cos_ab, 6)} AS c6
      FROM (SELECT lbl, cv AS va FROM cents) a
      JOIN (SELECT lbl, cv AS vb FROM cents) b ON a.lbl != b.lbl),
    nearest AS (
      SELECT la AS lbl, lb AS nearest_label, c6 AS nearest_cos,
             row_number() OVER (PARTITION BY la ORDER BY c6 DESC, lb ASC) AS r
      FROM grid)
    SELECT t.lbl AS {label_col}, t.n_vecs, t.tightness,
           n.nearest_label, n.nearest_cos
    FROM tight t JOIN nearest n ON t.lbl = n.lbl AND n.r = 1
    ORDER BY {label_col}
    """


# --------------------------------------------- contrastive mining (ANN side)

HARDNEG_K = 5


def hard_negatives_ann(
    df: DataFrame,
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = HARDNEG_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-side hard-negative mining for contrastive training:
    for each probe, the k nearest vectors carrying a DIFFERENT label —
    the near-misses that teach a retriever/classifier its decision
    boundary (the dense complement to hard_negatives_bm25's lexical
    miner). Per probe: the query vector folds in as a LITERAL array
    (the frozen-model trick — no join at all), the different-label
    filter sits beside the scan, ranking is TakeOrdered; the rank
    window runs over the <=k survivors only. Mining is an offline
    batch job, so the brute scan per probe batch is the honest
    baseline — at serving scale the staged ANN tiers (binary/PQ/IVF)
    swap in as the shortlist in front of the same exact rerank."""
    from pyspark.sql import Window

    qrows = {
        int(r[0]): ([float(x) for x in r[1]], int(r[2]))
        for r in df.filter(F.col(id_col).isin(*[int(p) for p in probes]))
        .select(id_col, vec_col, label_col)
        .collect()
    }
    parts = []
    for q in probes:
        qv, qlab = qrows[int(q)]
        qarr = _lit_array([float(x) for x in qv])
        scored = (
            df.filter(
                (F.col(label_col) != qlab) & (F.col(id_col) != int(q))
            )
            .select(
                F.col(id_col),
                F.col(label_col).alias("neg_label"),
                F.round(cosine_col(_vec(vec_col), qarr), 6).alias("cosine"),
            )
            .orderBy(F.desc("cosine"), F.asc(id_col))
            .limit(k)
        )
        rk = F.row_number().over(
            Window.orderBy(F.desc("cosine"), F.asc(id_col))
        )
        parts.append(
            scored.select(
                F.lit(int(q)).cast("bigint").alias("query_id"),
                F.lit(qlab).cast("bigint").alias("query_label"),
                F.col(id_col),
                F.col("neg_label").cast("bigint").alias("neg_label"),
                "cosine",
            ).withColumn("rank", rk.cast("bigint"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("query_id", "rank")


def hard_negatives_ann_sql(
    table: str = "embeddings",
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = HARDNEG_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> str:
    v = f"list_transform(t.{vec_col}, x -> CAST(x AS DOUBLE))"
    qv = f"list_transform(q.{vec_col}, x -> CAST(x AS DOUBLE))"
    parts = []
    for q in probes:
        parts.append(f"""
        SELECT CAST({q} AS BIGINT) AS query_id,
               CAST(q.{label_col} AS BIGINT) AS query_label,
               t.{id_col},
               CAST(t.{label_col} AS BIGINT) AS neg_label,
               round({cosine_sql(v, qv)}, 6) AS cosine,
               CAST(row_number() OVER (
                   ORDER BY round({cosine_sql(v, qv)}, 6) DESC, t.{id_col} ASC)
                 AS BIGINT) AS rank
        FROM {table} t,
             (SELECT {vec_col}, {label_col} FROM {table} WHERE {id_col} = {q}) q
        WHERE t.{label_col} != q.{label_col} AND t.{id_col} != {q}
        ORDER BY cosine DESC, t.{id_col} ASC
        LIMIT {k}""")
    return " UNION ALL ".join(f"SELECT * FROM ({p})" for p in parts) + \
        " ORDER BY query_id, rank"


def int8_recall(
    df: DataFrame,
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exact_df: DataFrame | None = None,
) -> DataFrame:
    """recall@k of int8-CODE cosine ranking vs the full-precision
    ground truth — the 64-byte point on the compression/recall
    frontier (binary 8 B / PQ 8 B / RPQ 16 B / RPQ3 24 B / int8 64 B /
    float32 256 B per vector). Per-vector symmetric scaling preserves
    direction, so ranking by code cosine measures pure quantization
    noise; the dot products are EXACT integer arithmetic (codes in
    [-127, 127]), making this the cheapest tier to verify. The probe's
    code vector folds in as a literal array (no join); codes compute
    once (lazy checkpoint) and serve every probe."""
    codes = quantize_int8(df, vec_col, id_col).select(id_col, "q").localCheckpoint(
        eager=False
    )
    qrows = {
        int(r[0]): [int(x) for x in r[1]]
        for r in codes.filter(F.col(id_col).isin(*[int(p) for p in probes])).collect()
    }
    parts = []
    for q in probes:
        if exact_df is not None:
            exact = exact_df.filter(F.col("query_id") == int(q)).select(id_col)
        else:
            exact = brute_topk(df, q, k, vec_col, id_col).select(id_col)
        # int codes as double literals: exact for |x| <= 127, one parse
        qarr = _lit_array([float(x) for x in qrows[int(q)]])
        approx = (
            codes.filter(F.col(id_col) != int(q))
            .select(
                F.col(id_col),
                F.round(cosine_col(_vec(F.col("q")), qarr), 6).alias("cos"),
            )
            .orderBy(F.desc("cos"), F.asc(id_col))
            .limit(k)
            .select(id_col)
        )
        parts.append(
            exact.join(approx, id_col)
            .agg(F.count("*").alias("_h"))
            .select(
                F.lit(int(q)).cast("bigint").alias("query_id"),
                F.round(F.col("_h") / F.lit(float(k)), 4).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("query_id")


def int8_recall_sql(
    table: str = "embeddings",
    probes: tuple[int, ...] = RECALL_PROBES,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    codes = quantize_int8_sql(table, vec_col, id_col)
    parts = []
    for q in probes:
        b = brute_topk_sql(table, q, k, vec_col, id_col)
        v = "list_transform(t.q, x -> CAST(x AS DOUBLE))"
        qv = "list_transform(qq.q, x -> CAST(x AS DOUBLE))"
        a = f"""
        SELECT t.{id_col}
        FROM codes t, (SELECT q FROM codes WHERE {id_col} = {q}) qq
        WHERE t.{id_col} != {q}
        ORDER BY round({cosine_sql(v, qv)}, 6) DESC, t.{id_col} ASC
        LIMIT {k}
        """
        parts.append(
            f"SELECT CAST({q} AS BIGINT) AS query_id,"
            f" round(CAST((SELECT count(*) FROM ({b}) bb"
            f" JOIN ({a}) aa ON bb.{id_col} = aa.{id_col}) AS DOUBLE)"
            f" / {k}, 4) AS recall"
        )
    return (
        f"WITH codes AS ({codes}) "
        + " UNION ALL ".join(parts)
        + " ORDER BY query_id"
    )


def embedding_dim_profile(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-dimension mean / variance / variance share of the embedding
    corpus — the diagnostic read NEXT TO ann_recall_matryoshka: prefix
    truncation only works when early dimensions carry the variance
    (MRL training concentrates it there; generic embedders spread it),
    and this profile is the direct measurement. Also the flat-dims
    detector before PQ codebook training (a near-zero-variance
    dimension wastes a subquantizer).

    Exactness: per-dimension sums of x and x² accumulate in
    DECIMAL(38,12) (the kmeans convention — fold-order-free); variance
    is ONE fixed expression of the two sums; the variance SHARE sums
    the 64 per-dim variances as integer micro-units so the final
    normalization is exact-integer division. ONE n x dim explode
    shuffle, map-side combined into |dims| rows."""
    from tinyetl_spark.operators.text import floor_round

    base = df.select(_vec(vec_col).alias("v"))
    stats = (
        base.select(F.posexplode("v").alias("pos", "val"))
        .groupBy("pos")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("val").cast("decimal(38,12)")).alias("s"),
            F.sum((F.col("val") * F.col("val")).cast("decimal(38,12)")).alias("s2"),
        )
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    var = F.col("s2").cast("double") / nd - (
        (F.col("s").cast("double") / nd) * (F.col("s").cast("double") / nd)
    )
    stats = stats.select(
        F.col("pos").cast("bigint").alias("dim"),
        floor_round(mean, 6).alias("mean"),
        F.floor(var * F.lit(1e6) + F.lit(0.5)).cast("bigint").alias("_vu"),
    ).localCheckpoint(eager=False)
    tot = stats.agg(F.sum("_vu").alias("_tot"))
    return (
        stats.crossJoin(F.broadcast(tot))
        .select(
            "dim",
            "mean",
            floor_round(F.col("_vu").cast("double") / F.lit(1e6), 6).alias(
                "variance"
            ),
            floor_round(
                F.col("_vu").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("var_share"),
        )
        .orderBy("dim")
    )


def embedding_dim_profile_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    from tinyetl_spark.operators.text import floor_round_sql

    v = f"list_transform({vec_col}, x -> CAST(x AS DOUBLE))"
    nd = "CAST(n AS DOUBLE)"
    mean = f"CAST(s AS DOUBLE) / {nd}"
    var = (
        f"CAST(s2 AS DOUBLE) / {nd}"
        f" - ((CAST(s AS DOUBLE) / {nd}) * (CAST(s AS DOUBLE) / {nd}))"
    )
    return f"""
    WITH base AS (SELECT {v} AS v FROM {table}),
    exploded AS (
      SELECT i - 1 AS pos, v[i] AS val
      FROM base, UNNEST(range(1, len(v) + 1)) AS t(i)),
    stats AS (
      SELECT pos, count(*) AS n,
             SUM(CAST(val AS DECIMAL(38,12))) AS s,
             SUM(CAST(val * val AS DECIMAL(38,12))) AS s2
      FROM exploded GROUP BY pos),
    vu AS (
      SELECT CAST(pos AS BIGINT) AS dim,
             {floor_round_sql(mean, 6)} AS mean,
             CAST(floor(({var}) * 1e6 + 0.5) AS BIGINT) AS u
      FROM stats),
    tot AS (SELECT sum(u) AS t FROM vu)
    SELECT dim, mean,
           {floor_round_sql("CAST(u AS DOUBLE) / 1e6", 6)} AS variance,
           {floor_round_sql("CAST(u AS DOUBLE) / CAST(tot.t AS DOUBLE)", 6)} AS var_share
    FROM vu CROSS JOIN tot
    ORDER BY dim
    """
