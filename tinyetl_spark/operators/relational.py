"""Relational operators Spark lacks as single primitives: as-of join,
range (interval) self-join, sessionization and the ordered prefix
sum (exact global ranks and running sums). Each is a composition
of built-in DataFrame ops (window functions / inequality joins) — no
UDFs, no custom physical operators.

Scale notes:
* ``asof_join`` uses the union+window trick: union both sides tagged,
  one shuffle on the partition key, one in-partition sort — instead of
  an inequality join (which Spark would execute as a broadcast-nested-
  loop at O(n*m)). This is the standard scalable as-of formulation.
* ``range_self_join`` is an equi-join on (key, time-bucket) with the
  probe side expanded to adjacent buckets — turns an inequality join
  into a banded equi-join (shuffle on key+bucket, AQE handles skew).
* ``sessionize`` is the classic gap-and-islands: lag + cumulative sum
  over (key, ts) windows — two narrow window passes over one shuffle.
* ``ordered_prefix`` ranks or prefix-sums over a total order in two
  phases: range buckets compute local sums in parallel, and a literal
  map of bucket offsets lifts them to global ones — never a window
  that sends the whole input through one reducer.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row (right_ts <=
    left_ts) with the same ``on`` key.

    Union-tag + last(ignorenulls) over a (key, ts) window: one shuffle
    on the key, no inequality join.

    The whole as-of row rides along in ONE struct, so a right row whose
    matched column is genuinely NULL still wins over a staler non-null
    row (filling columns independently would skip it). Ties among right
    rows at identical (key, ts) are broken deterministically by the
    largest struct value — a total order, unlike DuckDB ASOF's
    arbitrary pick, so results are stable across runs/partitionings.
    """
    lt = left.withColumn("_ts", F.col(left_ts)).withColumn("_side", F.lit(1))
    rstruct = F.struct(
        F.col(right_ts).alias("_ts"), *[F.col(c).alias(c) for c in right_cols]
    )
    rt = right.select(
        F.col(on), F.col(right_ts).alias("_ts"), rstruct.alias("_rrow")
    ).withColumn("_side", F.lit(0))
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # _side asc puts right rows before left rows at equal ts (inclusive
    # right_ts <= left_ts); _rrow as the final key is the deterministic
    # tiebreaker among right rows sharing (key, ts).
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_rrow").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select("*", F.last("_rrow", ignorenulls=True).over(w).alias("_m"))
    out = filled.filter(F.col("_side") == 1)
    matched_ts = F.col("_m._ts")
    if tolerance_seconds is not None:
        within = matched_ts >= F.col("_ts") - F.expr(f"INTERVAL {tolerance_seconds} SECONDS")
        return out.select(
            *[c for c in left.columns],
            *[F.when(within, F.col(f"_m.{c}")).alias(f"{c}_matched") for c in right_cols],
            F.when(within, matched_ts).alias("matched_ts"),
        )
    return out.select(
        *[c for c in left.columns],
        *[F.col(f"_m.{c}").alias(f"{c}_matched") for c in right_cols],
        matched_ts.alias("matched_ts"),
    )


def range_self_join(
    df: DataFrame,
    key: str,
    ts: str,
    window_seconds: int,
    id_col: str,
) -> DataFrame:
    """Pairs of rows with the same key whose timestamps are within
    ``window_seconds`` of each other (id_a < id_b).

    Banded equi-join: bucket = floor(epoch / window); each probe row
    joins its own and the previous bucket, then the exact predicate
    filters. Turns O(n^2) into a shuffle keyed on (key, bucket).

    A cross-bucket pair meets the join in only ONE orientation (the
    earlier row on the build side), so the pair is canonicalized AFTER
    the join with least/greatest + distinct — filtering ``id_a < id_b``
    inside the join would silently drop pairs where the later-timestamp
    row has the smaller id.
    """
    bucket = (F.unix_timestamp(F.col(ts)) / window_seconds).cast("long")
    a = df.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id_a"),
        F.col(ts).alias("ts_a"),
        bucket.alias("b"),
    )
    b_exp = df.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id_b"),
        F.col(ts).alias("ts_b"),
        F.explode(F.array(bucket.cast("long"), bucket.cast("long") - 1)).alias("b"),
    )
    return (
        a.join(b_exp, ["k", "b"])
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.abs(F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a")) <= window_seconds)
        )
        .select(
            F.col("k").alias(key),
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .distinct()
    )


def salted_agg(
    df: DataFrame,
    key: str,
    agg_exprs: dict[str, str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation with key salting for skewed keys.

    A hot key (one user producing 10% of a 100 TB event stream) makes
    one reducer the straggler in a plain groupBy. Salting splits every
    key into ``salt_buckets`` sub-keys: phase 1 shuffles on (key, salt)
    — the hot key spreads over ``salt_buckets`` reducers — phase 2
    merges the per-salt partials, which is tiny (|keys| * buckets
    rows). Results are IDENTICAL to a plain groupBy for decomposable
    aggregates (sum/count/min/max — the only ones accepted here).

    AQE's skew-join splitting handles skewed JOINS automatically;
    aggregation skew still needs this pattern, which is why it is a
    first-class operator.

    ``agg_exprs``: {out_col: "sum(col)" | "count(*)" | "min(col)" |
    "max(col)"}.
    """
    salt = (F.rand(seed=42) * salt_buckets).cast("int")
    partial_aggs, final_aggs = [], []
    for out, spec in agg_exprs.items():
        fn, _, arg = spec.partition("(")
        arg = arg.rstrip(")")
        fn = fn.strip().lower()
        p = f"_p_{out}"
        if fn == "count":
            partial_aggs.append(F.count("*").alias(p))
            final_aggs.append(F.sum(p).cast("long").alias(out))
        elif fn == "sum":
            partial_aggs.append(F.sum(F.col(arg).cast("decimal(38,6)")).alias(p))
            final_aggs.append(F.sum(p).cast("double").alias(out))
        elif fn == "min":
            partial_aggs.append(F.min(arg).alias(p))
            final_aggs.append(F.min(p).alias(out))
        elif fn == "max":
            partial_aggs.append(F.max(arg).alias(p))
            final_aggs.append(F.max(p).alias(out))
        else:
            raise ValueError(f"non-decomposable aggregate for salting: {spec}")
    phase1 = df.withColumn("_salt", salt).groupBy(key, "_salt").agg(*partial_aggs)
    return phase1.groupBy(key).agg(*final_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join by key salting: the big (skewed) side gets a
    random salt in ``[0, salt_buckets)``, the small side is replicated
    once per salt value, and the join runs on ``(key, _salt)`` — a hot
    key's rows spread over ``salt_buckets`` reducers instead of one
    straggler task. Results are IDENTICAL to the plain join: every big
    row meets every matching small row exactly once (its salt picks the
    one replica).

    AQE's skew-join split handles most skewed sort-merge joins at
    runtime; explicit salting remains the tool when AQE is off, when
    the skew is in a shuffled-hash build side, or when a deterministic
    plan is required. Cost: small side ×``salt_buckets`` — only pay it
    when the small side is modest but too big to broadcast.

    ``inner`` and ``left`` only: an unmatched small row under right /
    full outer would surface once per replica."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    big_s = big.withColumn("_salt", (F.rand(seed=7) * salt_buckets).cast("int"))
    small_s = small.withColumn("_salt", salts)
    return big_s.join(small_s, [key, "_salt"], how).drop("_salt")


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
) -> DataFrame:
    """Gap-and-islands sessionization: a new session starts when the gap
    from the previous event (per key) exceeds ``gap_seconds``.

    Returns per-session aggregates (key, session_id, n_events,
    session_start, session_end). Batch twin of the streaming
    ``session_window`` in tinyetl_spark.streaming."""
    w = Window.partitionBy(key).orderBy(F.col(ts).asc())
    gap = F.unix_timestamp(F.col(ts)) - F.unix_timestamp(F.lag(ts).over(w))
    marked = df.select(
        F.col(key),
        F.col(ts),
        F.when(gap.isNull() | (gap > gap_seconds), F.lit(1)).otherwise(F.lit(0)).alias("_new"),
    )
    with_sid = marked.select(
        key,
        ts,
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("session_id"),
    )
    return with_sid.groupBy(key, "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min(ts), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format(F.max(ts), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
    )


PREFIX_BUCKETS = 32  # range buckets of ordered_prefix's quantile cut


def _sql_literal(v, sql_type: str) -> str:
    """``v`` as a SQL literal of ``sql_type`` (a string cast, quoted with
    backslash escapes as Spark's parser reads them)."""
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    quoted = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"CAST('{quoted}' AS {sql_type})"


def literal_lookup(values: dict[tuple, int], frame: DataFrame, cols: Sequence[str]) -> Column:
    """The value ``values`` holds for the row's ``cols``, read from a
    literal map (a projection, never a join). The map is keyed by
    ``_b`` alone or by ``struct(*cols)``: a partition column may be
    NULL, and a NULL map key is an error, but a struct holding a NULL
    is an ordinary key. The map is one parsed SQL expression, so it
    costs one driver round trip however many entries it holds. Empty
    ``values`` reads 0."""
    if not values:
        return F.lit(0).cast("bigint")
    if list(cols) == ["_b"]:
        keys, row_key = [str(int(k[0])) for k in values], F.col("_b")
    else:
        types = [frame.schema[c].dataType.simpleString() for c in cols]
        keys = [
            "named_struct("
            + ", ".join(f"'{c}', {_sql_literal(v, t)}" for c, v, t in zip(cols, k, types))
            + ")"
            for k in values
        ]
        row_key = F.struct(*cols)
    entries = ", ".join(f"{k}, {int(v)}L" for k, v in zip(keys, values.values()))
    return F.element_at(F.expr(f"map({entries})"), row_key)


def ordered_prefix(
    df: DataFrame,
    key: str,
    descending: bool,
    tiebreak: Sequence[str],
    out: str,
    weight: str | None = None,
    by: Sequence[str] = (),
    bucket: Column | None = None,
) -> tuple[DataFrame, dict[tuple, int]]:
    """Exclusive prefix sum of ``weight`` over the order ``key``
    (``descending`` or not), then ``tiebreak`` ascending, within each
    ``by`` partition: ``out`` is the sum over the rows strictly before
    this one. A ``weight`` of None counts rows, so ``out + 1`` is the
    rank. Returns ``(df + out, totals)``, ``totals`` mapping each
    ``by`` tuple to its partition's total weight.

    A plain window over that order sends each partition through one
    reducer, so the sum runs in two phases. ``PREFIX_BUCKETS`` range
    buckets ``_b`` cut the numeric ``key`` at ``approxQuantile`` bounds
    (``bucket`` replaces them with a given Column that rises with the
    order, for a key that cannot be quantiled). Equal keys always share
    a bucket and bucket numbers rise in walk order, so the bounds
    affect only load balance, never the values. A window partitioned
    by ``(*by, _b)`` sums each bucket locally in parallel; one collect
    of the per-``(*by, _b)`` totals gives the driver each bucket's
    offset, and a literal offset map adds it back.

    The offsets are a literal map (a projection), never a joined
    offsets table: with the bucket expression in lineage,
    InferFiltersFromConstraints copies the join equality as
    ``<bucket expr> <=> _b`` onto the offsets side, where the bucket
    expression's inputs do not exist, and execution dies with
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND (checkpoint barriers do not
    help; LogicalRDD deliberately preserves constraints).

    The input is checkpointed (lazily) once: it feeds the quantile
    job, the totals job and the returned plan."""
    base = df.localCheckpoint(eager=False)
    if bucket is None:
        qs = [i / PREFIX_BUCKETS for i in range(1, PREFIX_BUCKETS)]
        bounds = sorted(set(base.approxQuantile(key, qs, 0.001)))
        v = F.col(key).cast("double")
        above = F.size(F.filter(F.array(*[F.lit(float(b)) for b in bounds]), lambda b: v > b))
        if not bounds:
            bucket = F.lit(0)
        elif descending:
            # NULL keys land last in a descending walk and first in an
            # ascending one, where Spark orders them
            bucket = F.lit(len(bounds)) - above
        else:
            bucket = above
    keyed = base.withColumn("_b", bucket)
    wt = F.lit(1) if weight is None else F.col(weight)
    order = [F.desc(key) if descending else F.asc(key), *[F.asc(c) for c in tiebreak]]
    w = (
        Window.partitionBy(*by, "_b")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cols = (*by, "_b")
    offsets, totals = {}, {}
    rows = keyed.groupBy(*cols).agg(F.sum(wt).alias("_t")).collect()
    for r in sorted(rows, key=lambda r: r["_b"]):
        part = tuple(r[c] for c in by)
        offsets[(*part, r["_b"])] = totals.get(part, 0)
        totals[part] = totals.get(part, 0) + int(r["_t"] or 0)
    before = literal_lookup(offsets, keyed, cols) + F.coalesce(F.sum(wt).over(w), F.lit(0))
    return keyed.select(*base.columns, before.alias(out)), totals


def profile_table(df: DataFrame) -> DataFrame:
    """Column profile — the ANALYZE-style data card every transfer tool
    publishes: one row per column with (column, dtype, n_rows, n_nulls,
    n_distinct, min_val, max_val). All statistics are exact and
    engine-safe: counts are integers; min/max render as strings only
    for types whose text form is identical across engines (integers,
    strings, timestamps via date_format) and stay NULL for floating
    columns, where double-to-string formatting is engine-specific.

    Scale shape: TWO passes, both cheap. Pass A is one plain
    aggregation row (counts, min/max — no distinct aggregates mixed
    in). Pass B is one DISTINCT-ONLY aggregation row: N
    count_distinct's over native values, planned as one Expand →
    partial hash-aggregate on (gid, value) → one exchange of the
    per-partition distinct pairs. Keeping the two passes separate is
    the load-bearing part: ONE agg mixing min/max with the distincts
    replans everything through the Expand and measured ~4x slower
    than both passes together (15.8 s vs 1.25+1.8 s at sf0.1, r12);
    the r9 stack()-unpivot string-keyed distinct pass this replaces
    measured 3.9 s — native values shuffle narrower and skip N string
    casts per row (r12 re-measure; same exact counts, count_distinct
    ignores nulls exactly as the unpivot's isNotNull filter did)."""
    from pyspark.sql.types import (
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    stringable = (
        ByteType, ShortType, IntegerType, LongType, StringType,
    )
    aggs, stack_parts = [], []
    for f in df.schema.fields:
        c = f.name
        aggs.append(F.count(F.col(c)).alias(f"_nn_{c}"))
        if isinstance(f.dataType, stringable):
            mn = F.min(c).cast("string")
            mx = F.max(c).cast("string")
        elif isinstance(f.dataType, (TimestampType, TimestampNTZType, DateType)):
            mn = F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss")
            mx = F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss")
        else:
            mn = F.lit(None).cast("string")
            mx = F.lit(None).cast("string")
        aggs.append(mn.alias(f"_mn_{c}"))
        aggs.append(mx.alias(f"_mx_{c}"))
        stack_parts.append(
            f"'{c}', '{f.dataType.simpleString()}', _nn_{c}, _mn_{c}, _mx_{c}, "
            f"CAST(_nd_{c} AS BIGINT)"
        )
    wide = df.agg(F.count(F.lit(1)).alias("_rows"), *aggs)
    nd_wide = df.agg(
        *[
            F.count_distinct(F.col(f.name)).alias(f"_nd_{f.name}")
            for f in df.schema.fields
        ]
    )
    # the two 1-row aggs fuse via a broadcast-scalar cross join and ONE
    # stack — a column-keyed join of two stacked sides measured ~1.8 s
    # of pure join machinery on a 16-row result (r12)
    both = wide.crossJoin(F.broadcast(nd_wide))
    return (
        both.selectExpr(
            "_rows",
            f"stack({len(stack_parts)}, {', '.join(stack_parts)}) "
            "AS (column, dtype, n_notnull, min_val, max_val, n_distinct)",
        )
        .select(
            F.col("column"),
            F.col("dtype"),
            F.col("_rows").cast("bigint").alias("n_rows"),
            (F.col("_rows") - F.col("n_notnull")).cast("bigint").alias("n_nulls"),
            F.coalesce(F.col("n_distinct"), F.lit(0)).cast("bigint").alias("n_distinct"),
            "min_val",
            "max_val",
        )
        .orderBy("column")
    )


def profile_table_sql(table: str, columns: list[tuple[str, str]]) -> str:
    """DuckDB twin: ``columns`` is [(name, kind)] with kind one of
    'str' (min/max as text), 'ts' (strftime), 'skip' (floating —
    min/max NULL). Spark dtype names are emitted by the caller so the
    dtype column matches."""
    selects = []
    for name, kind, spark_dtype in columns:
        if kind == "str":
            mn = f"CAST(min({name}) AS VARCHAR)"
            mx = f"CAST(max({name}) AS VARCHAR)"
        elif kind == "ts":
            mn = f"strftime(min({name}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({name}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = "CAST(NULL AS VARCHAR)"
            mx = "CAST(NULL AS VARCHAR)"
        selects.append(f"""
    SELECT '{name}' AS "column", '{spark_dtype}' AS dtype,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count({name}) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT {name}) AS BIGINT) AS n_distinct,
           {mn} AS min_val, {mx} AS max_val
    FROM {table}""")
    return " UNION ALL ".join(selects) + ' ORDER BY "column"'


# ---------------------------------------------------------------------
# Bloom-filter semi-join reduction
# ---------------------------------------------------------------------

BLOOM_M = 1 << 17  # filter bits (2048 longs = 16 KiB per filter)
BLOOM_K = 3        # probes per key


def bloom_build(keys: DataFrame, key: F.Column, m: int = BLOOM_M, k: int = BLOOM_K) -> list[int]:
    """Build a Bloom filter over a key column as m/64 packed longs.

    One aggregation job on the (already filtered, small) key side:
    explode k probe indexes, set bit hash_i(key) mod m, bit_or-combine
    per 64-bit word — the collect is bounded at m/64 rows (2048 longs,
    16 KiB) REGARDLESS of key count, which is the entire point: the
    reduction ships as a constant, not as a key list. xxhash64 is fine
    here (Spark-side only — the filter is transparent to results, so
    the oracle never needs to reproduce it)."""
    probes = keys.select(
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"),
        key.cast("string").alias("_k"),
    ).select(
        F.pmod(F.xxhash64(F.col("i"), F.col("_k")), F.lit(m)).alias("p")
    )
    words = (
        probes.select(
            F.shiftright(F.col("p"), 6).alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    packed = [0] * (m // 64)
    for r in words:
        packed[int(r["w"])] = int(r["bits"])
    return packed


def bloom_filtered(
    df: DataFrame,
    key_col: str,
    words: list[int],
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Keep only rows whose key MAY be in the filter, entirely in
    codegen: the packed words fold in as ONE array literal inside a
    single F.expr (2048 F.lit columns would cost thousands of py4j
    round-trips at plan-build time — measured ~4 s of driver wall;
    the parsed-once SQL text costs milliseconds, and ConstantFolding
    collapses the all-literal array to a Literal before execution).
    Each probe is element_at + variable shift + mask — no join, no
    Python, no shuffle on the big side. May pass false positives
    (callers follow with an exact join); never drops a true match."""
    arr_sql = "array(" + ",".join(f"{w}L" for w in words) + ")"
    conds = []
    for i in range(k):
        p = f"pmod(xxhash64({i}, CAST(`{key_col}` AS STRING)), {m})"
        conds.append(
            f"(shiftright(element_at({arr_sql}, CAST(shiftright({p}, 6) AS INT) + 1),"
            f" CAST({p} % 64 AS INT)) & 1) = 1"
        )
    return df.filter(F.expr(" AND ".join(conds)))


def bloom_semi_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Semi-join reduction: reduce ``big`` to probable matches of
    ``small``'s keys BEFORE any join machinery touches it, then make
    the result exact with a LEFT SEMI join on the survivors only.

    Scale shape: this is the pattern that beats both standard joins at
    100 TB when the filtered key side is mid-sized — too big to be a
    cheap broadcast hash map of raw keys, far too small to justify
    shuffling the fact table. The Bloom filter is a CONSTANT-size
    (m/64 longs) summary of any number of keys: the fact scan drops
    ~(1-fp) of non-matching rows inside whole-stage codegen, so the
    exact semi join only ever sees true matches plus the fp fraction."""
    keys = small.select(F.col(small_key)).distinct()
    words = bloom_build(keys, F.col(small_key), m, k)
    reduced = bloom_filtered(big, big_key, words, m, k)
    return reduced.join(
        F.broadcast(keys.withColumnRenamed(small_key, "_bsk")),
        F.col(big_key) == F.col("_bsk"),
        "left_semi",
    )
