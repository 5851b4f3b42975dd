"""Distributed BPE tokenizer training (Sennrich et al. 2016).

Training a tokenizer is the first step of every LLM data pipeline and
classically runs single-machine over a sampled corpus. The distributed
re-expression keys everything off the WORD-FREQUENCY table: one groupBy
collapses the corpus (any size) to its distinct words, and every merge
iteration after that is sized by the vocabulary, not the corpus — pair
counts are weighted by word frequency, exactly like the reference
algorithm's dictionary form.

Greedy semantics match the published algorithm: per iteration take the
globally most frequent adjacent symbol pair (ties broken by symbol
pair, ascending, so training is deterministic), merge it left-to-right
within every word, repeat. The merge application is an in-row
``F.aggregate`` fold (codegen, no Python); only the single winning pair
row crosses the driver per iteration.

Reference parity: the reference has no tokenizer (SURVEY.md §2); this
is a training-data-pipeline extension.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tinyetl_spark.operators.similarity import _expr_sql
from tinyetl_spark.operators.text import words_col, words_sql

BPE_END = "</w>"   # end-of-word marker symbol (classic BPE)
BPE_TOP = 30       # pairs reported by the pair-count query
BPE_MERGES = 12    # merges learned by the training query


def word_freq(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wcount): the corpus collapsed to its dictionary — the
    only corpus-sized shuffle in BPE training. Empty words (blank
    documents tokenize to ['']) are dropped BEFORE the shuffle: they
    carry no pairs, and an empty word would trip Spark's backwards
    sequence(1, 0) in the symbol init."""
    return (
        df.select(F.explode(words_col(text_col)).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("wcount"))
    )


def _sym_init(word: Column) -> Column:
    """Initial symbol sequence: one symbol per char + the end marker."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )
    return F.concat(chars, F.array(F.lit(BPE_END)))


def _pair_totals(syms: DataFrame) -> DataFrame:
    """Adjacent-pair totals over (wcount, s) rows, weighted by word
    frequency: (lsym, rsym, total). Fully-merged single-symbol words
    must be dropped first: Spark's sequence(1, 0) steps BACKWARDS
    ([1, 0]), so an unguarded explode would index element 0."""
    pairs = syms.filter(F.size("s") >= 2).select(
        F.col("wcount"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("s") - 1),
                lambda i: F.struct(
                    F.element_at("s", i).alias("lsym"),
                    F.element_at("s", i + 1).alias("rsym"),
                ),
            )
        ).alias("p"),
    )
    return (
        pairs.select("wcount", "p.lsym", "p.rsym")
        .groupBy("lsym", "rsym")
        .agg(F.sum("wcount").cast("bigint").alias("total"))
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text", top: int = BPE_TOP) -> DataFrame:
    """Iteration-0 pair counts: the top ``top`` adjacent symbol pairs
    by frequency (ties broken by pair, ascending — fully deterministic
    TakeOrdered, no global sort)."""
    syms = word_freq(df, text_col).select("wcount", _sym_init(F.col("word")).alias("s"))
    return (
        _pair_totals(syms)
        .orderBy(F.desc("total"), F.asc("lsym"), F.asc("rsym"))
        .limit(top)
    )


def bpe_pair_counts_sql(
    table: str = "documents", text_col: str = "text", top: int = BPE_TOP
) -> str:
    w = words_sql(text_col)
    return f"""
    WITH wf AS (
      SELECT w AS word, count(*) AS wcount
      FROM (SELECT unnest({w}) AS w FROM {table}) WHERE w <> '' GROUP BY w),
    sy AS (
      SELECT wcount,
             list_append(list_transform(range(1, length(word) + 1),
                                        i -> substr(word, i, 1)), '{BPE_END}') AS s
      FROM wf),
    pr AS (
      SELECT wcount,
             unnest(list_transform(range(1, len(s)),
                    i -> {{'lsym': s[i], 'rsym': s[i+1]}})) AS p
      FROM sy)
    SELECT p.lsym AS lsym, p.rsym AS rsym, CAST(sum(wcount) AS BIGINT) AS total
    FROM pr GROUP BY 1, 2
    ORDER BY total DESC, lsym ASC, rsym ASC LIMIT {top}
    """


def _bpe_iter_sql(k: int) -> str:
    """One unrolled training iteration for the DuckDB twin: pick the
    top pair t{k} from symbol table s{k-1}, then apply it greedily.

    Greedy left-to-right merge in set-based SQL: a position i matches
    when (s[i], s[i+1]) = (a, b); overlapping matches only happen in
    runs of one repeated symbol (requires a = b), and the greedy fold
    resolves a run by taking the 1st, 3rd, 5th... match — i.e. within
    each maximal island of CONSECUTIVE match positions, keep the
    even-offset ones. Island id = i - cumulative-match-count (constant
    exactly along consecutive matches); taken = even offset from the
    island head; position i+1 after a taken match is consumed."""
    prev = f"s{k - 1}"
    A, B = f"(SELECT lsym FROM t{k})", f"(SELECT rsym FROM t{k})"
    return f"""
    p{k} AS (
      SELECT s[i] AS lsym, s[i + 1] AS rsym, CAST(sum(wcount) AS BIGINT) AS total
      FROM (SELECT wcount, s, unnest(range(1, len(s))) AS i FROM {prev})
      GROUP BY 1, 2),
    t{k} AS MATERIALIZED (SELECT lsym, rsym, total FROM p{k} WHERE total >= 2
             ORDER BY total DESC, lsym ASC, rsym ASC LIMIT 1),
    e{k} AS (
      SELECT word, wcount, s, unnest(range(1, len(s) + 1)) AS i FROM {prev}),
    m{k} AS (
      SELECT word, wcount, i, s[i] AS sym,
             coalesce(i < len(s) AND s[i] = {A} AND s[i + 1] = {B}, FALSE) AS m
      FROM e{k}),
    i{k} AS (
      SELECT *, CASE WHEN m THEN i - (count(*) FILTER (WHERE m)
                       OVER (PARTITION BY word ORDER BY i)) END AS isl
      FROM m{k}),
    k{k} AS (
      SELECT word, wcount, i, sym, m,
             coalesce(m AND (i - min(i) OVER (PARTITION BY word, isl)) % 2 = 0,
                      FALSE) AS taken
      FROM i{k}),
    g{k} AS (
      SELECT word, wcount, i, taken,
             coalesce(lag(taken) OVER (PARTITION BY word ORDER BY i), FALSE)
               AS consumed,
             CASE WHEN taken THEN {A} || {B} ELSE sym END AS osym
      FROM k{k}),
    s{k} AS MATERIALIZED (
      SELECT word, max(wcount) AS wcount,
             list(osym ORDER BY i) FILTER (WHERE NOT consumed) AS s
      FROM g{k} GROUP BY word)"""


def _bpe_train_ctes(
    table: str, text_col: str, n_merges: int
) -> str:
    """The shared WITH-clause body: word dictionary, char-level symbol
    init s0, and ``n_merges`` unrolled iterations s1..sN / t1..tN."""
    w = words_sql(text_col)
    head = f"""
    wf AS MATERIALIZED (
      SELECT w AS word, count(*) AS wcount
      FROM (SELECT unnest({w}) AS w FROM {table}) WHERE w <> '' GROUP BY w),
    s0 AS MATERIALIZED (
      SELECT word, wcount,
             list_append(list_transform(range(1, length(word) + 1),
                                        i -> substr(word, i, 1)), '{BPE_END}') AS s
      FROM wf)"""
    return head + "," + ",".join(_bpe_iter_sql(k) for k in range(1, n_merges + 1))


def bpe_train_sql(
    table: str = "documents", text_col: str = "text", n_merges: int = BPE_MERGES
) -> str:
    """DuckDB twin of :func:`bpe_train` — the greedy training loop
    unrolled into ``n_merges`` CTE blocks (iterative, so there is no
    single-pass relational form; unrolling keeps it driver-checkable).
    An iteration whose best pair falls under total 2 yields an empty
    t{{k}}, every later iteration stays empty, and the UNION simply
    returns fewer rows — same early-stop as the Spark loop."""
    unions = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, lsym, rsym, total FROM t{k}"
        for k in range(1, n_merges + 1)
    )
    return f"""
    WITH {_bpe_train_ctes(table, text_col, n_merges)}
    SELECT * FROM ({unions}) ORDER BY rank
    """


def bpe_train_encode_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = BPE_MERGES,
) -> str:
    """DuckDB twin of the train-then-encode path: the final symbol
    table s{{n}} IS the encode dictionary — explode document words,
    join word -> merged symbols, reassemble in document order. Tokens
    project as a space-joined string (driver-comparable scalar); docs
    whose words are all empty keep a row with n_tokens = 0."""
    w = words_sql(text_col)
    return f"""
    WITH {_bpe_train_ctes(table, text_col, n_merges)},
    dw AS (
      SELECT {id_col},
             unnest(range(1, len(w) + 1)) AS pos,
             unnest(w) AS word
      FROM (SELECT {id_col}, {w} AS w FROM {table})),
    enc AS (
      SELECT dw.{id_col}, pos, s
      FROM dw JOIN s{n_merges} USING (word) WHERE word <> ''),
    agg AS (
      SELECT {id_col},
             CAST(sum(len(s)) AS BIGINT) AS n_tokens,
             array_to_string(flatten(list(s ORDER BY pos)), ' ') AS tokens
      FROM enc GROUP BY {id_col})
    SELECT d.{id_col},
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(a.tokens, '') AS tokens
    FROM {table} d LEFT JOIN agg a USING ({id_col})
    """


def _apply_merge(s: Column, a: str, b: str, out: str | None = None) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) into ``out``
    (default a+b; WordPiece strips the right operand's ## marker) — an
    in-row fold; literals go through F.lit, never string-interpolated
    SQL, so arbitrary symbols are safe."""
    if out is None:
        out = a + b
    return F.aggregate(
        s,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(out))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame, text_col: str = "text", n_merges: int = BPE_MERGES
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns the merge table
    (rank, lsym, rsym, total) in learned order.

    Scale shape: ONE corpus-sized shuffle (the word-frequency groupBy,
    checkpointed ONCE so iterations never rescan the corpus — and so
    exactly one checkpoint's storage is ever held, instead of pinning a
    copy per iteration); each iteration is a vocabulary-sized pair
    count whose single winning row is the only thing the driver sees.
    Iteration i recomputes i in-row folds from that checkpoint —
    O(n_merges^2) folds over the VOCABULARY table, the cheap side of
    the trade at the default 12 merges (measured in the r12
    optimization round: a per-iteration localCheckpoint costs MORE in
    materialization jobs than the replayed folds save — 6.4s -> 14.7s
    at sf0.1 — so the single-checkpoint form stands). A production
    32k-merge run would stage the symbol table to parquet periodically
    (same swap point as the dedup pipeline)."""
    merges, _ = _train(df, text_col, n_merges)
    return df.sparkSession.createDataFrame(
        merges, "rank bigint, lsym string, rsym string, total bigint"
    )


def _train(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Shared training loop: returns (merge table rows, final
    per-WORD symbol table (word, s)) — the symbol table is the encode
    dictionary, already fully merged."""
    cur = (
        word_freq(df, text_col)
        .select("word", "wcount", _sym_init(F.col("word")).alias("s"))
        .localCheckpoint()
    )
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        top = (
            _pair_totals(cur)
            .orderBy(F.desc("total"), F.asc("lsym"), F.asc("rsym"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["total"] < 2:
            break
        a, b, total = top[0]["lsym"], top[0]["rsym"], top[0]["total"]
        merges.append((rank, a, b, int(total)))
        cur = cur.withColumn("s", _apply_merge(F.col("s"), a, b))
    return merges, cur.select("word", "s")


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to a corpus: per document, tokenize
    each word to chars+end-marker and fold every merge through it in
    learned order (the standard greedy BPE encode). Output:
    (doc_id, n_tokens, tokens) with tokens the flattened per-word
    symbol arrays in document order.

    Scale shape: ENTIRELY in-row — the merge list is folded into the
    expression tree as literals (like the PQ codebook transforms), so
    encoding runs at scan speed with zero shuffle and zero Python. The
    expression grows linearly with the merge count; for a production
    32k-merge vocabulary the same loop would emit a Pandas-UDF batch
    encoder instead — this operator is the plumbing-and-semantics
    contract, pinned by the round-trip property test against the
    single-machine reference encode."""
    words = words_col(text_col)
    per_word = F.transform(
        F.filter(words, lambda w: F.length(w) > 0),
        lambda w: _sym_init(w),
    )
    # bind (a, b) through a factory: PySpark infers the HOF's arity
    # from the lambda's PARAMETER COUNT, so default-arg closures
    # (lambda s, a=a, b=b: ...) mis-declare a 3-ary lambda
    def _merge_fn(a: str, b: str):
        return lambda s: _apply_merge(s, a, b)

    for a, b in merges:
        per_word = F.transform(per_word, _merge_fn(a, b))
    toks = F.flatten(per_word)
    return df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        toks.alias("tokens"),
    )


def merge_table_is_order_safe(merges: list[tuple[str, str]]) -> bool:
    """Sufficient condition for in-order fold == min-rank loop: all
    merge outputs are distinct strings AND every operand that is some
    merge's output is produced at a strictly lower rank. Then a merge
    can never create a fresh occurrence of an earlier-ranked pair, so
    the single-pass in-order fold and the min-rank loop visit the same
    merge sites. Tables trained by :func:`bpe_train` pass this; the
    parity tests assert it before relying on cross-encoder equality."""
    outputs = [a + b for a, b in merges]
    if len(set(outputs)) != len(outputs):
        return False
    produced = {out: i for i, out in enumerate(outputs)}
    for rank, (a, b) in enumerate(merges):
        for operand in (a, b):
            r = produced.get(operand)
            if r is not None and r >= rank:
                return False
    return True


def bpe_encode_batch(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Production-vocabulary encoder: Arrow-batched ``mapInPandas``
    sized for 32k-merge tables, byte-equal to :func:`bpe_encode`.

    Why not the literal-fold form: ``bpe_encode`` folds every merge
    into the expression tree, so plan size grows with the vocabulary
    and past a few hundred merges codegen falls over. Here the merge
    table ships once per executor as a rank dict, and each word is
    encoded with the classic min-rank loop (repeatedly merge the
    lowest-ranked adjacent pair), cost independent of vocabulary size.

    Equivalence caveat: min-rank matches the in-order fold encoders
    (``bpe_encode`` / ``bpe_train_encode``) whenever no two merges
    produce the SAME output string — then every multi-char operand has
    a unique producing merge of strictly lower rank, so a later merge
    can never mint a fresh occurrence of an earlier pair for min-rank
    to pick up that the single-pass fold already passed. Tables from
    ``bpe_train`` satisfy this (checked by
    :func:`merge_table_is_order_safe`, asserted in the parity tests);
    a hand-built table with colliding outputs (e.g. ``("ab","c")`` and
    ``("a","bc")`` both yielding ``"abc"`` as a later operand) can
    diverge — min-rank is then the semantics real tokenizers use.
    A per-batch word cache makes the
    effective unit of work the batch's DISTINCT words — the same
    dictionary-style saving as bpe_train_encode, without a join.

    Scale shape: zero shuffle (pure map), Arrow batch transfer, merge
    dict is O(vocab) bytes per executor. Use for encoding NEW text
    with a frozen production tokenizer; `bpe_train_encode` remains the
    cheapest path when encoding the training corpus itself."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = f"{id_col} long, n_tokens long, tokens array<string>"
    spark_words = words_col(text_col)
    src = df.select(F.col(id_col), spark_words.alias("_ws"))

    def _encode_batches(batches):
        cache: dict[str, list[str]] = {}

        def enc_word(w: str) -> list[str]:
            hit = cache.get(w)
            if hit is not None:
                return hit
            s = list(w) + [BPE_END]
            while len(s) >= 2:
                best_rank, best_pair = None, None
                for i in range(len(s) - 1):
                    r = ranks.get((s[i], s[i + 1]))
                    if r is not None and (best_rank is None or r < best_rank):
                        best_rank, best_pair = r, (s[i], s[i + 1])
                if best_pair is None:
                    break
                a, b = best_pair
                out: list[str] = []
                for x in s:
                    if out and out[-1] == a and x == b:
                        out[-1] = a + b
                    else:
                        out.append(x)
                s = out
            cache[w] = s
            return s

        for batch in batches:
            toks = [
                [t for w in ws if w for t in enc_word(w)]
                for ws in batch["_ws"]
            ]
            yield pd.DataFrame(
                {
                    id_col: batch[id_col],
                    "n_tokens": [len(t) for t in toks],
                    "tokens": toks,
                }
            )

    return src.mapInPandas(_encode_batches, schema=out_schema)


# ------------------------------------------ unigram LM (SentencePiece)
#
# Kudo 2018 ("Subword regularization") unigram-LM tokenizer, the
# fixed-vocabulary hard-EM (Viterbi-EM) variant: seed a substring
# vocabulary from the word dictionary, then alternate (E) Viterbi
# segmentation of every word under the current piece costs with (M)
# re-estimating piece costs from usage counts. Full SentencePiece
# additionally prunes the vocabulary by likelihood loss; here the
# vocabulary is fixed at seeding (the alphabet is never prunable
# anyway) and the train query REPORTS usage so pruning decisions are
# visible.
#
# Scale shape — identical to bpe_train: ONE corpus-sized shuffle (the
# word-frequency groupBy, checkpointed once); every EM iteration is a
# VOCABULARY-sized Viterbi pass + piece-count groupBy whose <=|V| rows
# are the only thing the driver sees. Segmentation itself is an in-row
# integer DP fold (codegen, no Python, no shuffle).
#
# Cross-engine exactness: piece costs are INTEGER micro-units,
# round(1e6 * log10(total/freq)) — DP sums and comparisons are exact
# BIGINT arithmetic, so Spark and the DuckDB twin agree bit-for-bit
# (the only doubles are the per-piece log10 calls on identical integer
# ratios, same libm on both engines; the classifier tier established
# the pattern). Viterbi ties break to the LONGEST last piece via a
# (cost, -piece_len) struct min — deterministic, and the token-list
# field is never reached because candidate piece lengths are distinct.

UNI_MAXLEN = 16      # words longer than this are excluded (DP-unroll contract)
UNI_MAXPIECE = 4     # max piece length
UNI_VOCAB = 32       # multi-char seed pieces kept (alphabet always kept)
UNI_EM_ITERS = 2     # hard-EM iterations
UNI_UNK = 10_000_000  # per-char cost of an out-of-vocabulary character
UNI_SEED_VOCAB = 64  # pruning trainer: oversized multi-char seed …
UNI_PRUNE_STEPS = 2  # … pruned stepwise (64 -> 48 -> 32) to UNI_VOCAB


def _micro(x: float) -> int:
    """floor(x + 0.5) — shared rounding with the SQL twin (Python's
    round() is banker's; DuckDB's is half-away; floor(+0.5) is the one
    both sides can state identically)."""
    import math

    return int(math.floor(x + 0.5))


def _uni_word_freq(df: DataFrame, text_col: str) -> DataFrame:
    return word_freq(df, text_col).filter(F.length("word") <= UNI_MAXLEN)


def _uni_seed_rows(wf: DataFrame, n_multi: int = UNI_VOCAB) -> list[tuple[str, int]]:
    """Seed vocabulary (piece, freq): every substring of length
    1..UNI_MAXPIECE weighted by word frequency; ALL single chars (the
    alphabet — guarantees every word segments) plus the top ``n_multi``
    multi-char pieces by (freq desc, piece asc). Driver-side result is
    vocabulary-sized by construction."""
    word = F.col("word")
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.least(F.lit(UNI_MAXPIECE), F.length(word))),
            lambda l: F.transform(
                F.sequence(F.lit(1), F.length(word) - l + 1),
                lambda i: word.substr(i, l),
            ),
        )
    )
    freq = (
        wf.select(F.col("wcount"), F.explode(pieces).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wcount").cast("bigint").alias("freq"))
    )
    alpha = freq.filter(F.length("piece") == 1)
    multi = (
        freq.filter(F.length("piece") > 1)
        .orderBy(F.desc("freq"), F.asc("piece"))
        .limit(n_multi)
    )
    return [
        (r["piece"], int(r["freq"]))
        for r in alpha.unionByName(multi).collect()
    ]


def _sql_str_lit(s: str) -> str:
    """Spark SQL single-quoted string literal (default parser mode:
    backslash escapes active)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _cost_map_sql(costs: dict[str, int]) -> str:
    """The integer cost table rendered as ONE SQL map literal (sorted
    string keys, BIGINT values), at one parse instead of 2x|vocab| py4j
    literal calls."""
    parts = []
    for p in sorted(costs):
        parts.append(_sql_str_lit(p))
        parts.append(f"CAST({int(costs[p])} AS BIGINT)")
    return "map(" + ", ".join(parts) + ")"


def _viterbi_toks_sql(word_sql: str, cm_sql: str, maxpiece: int) -> str:
    """:func:`_viterbi_toks`'s DP as ONE SQL expression string, one
    parse instead of one py4j round-trip per operator (the same
    construction-side treatment as the r12 vector/minhash folds)."""
    sub = f"substring({word_sql}, i - l + 1, l)"
    prev = "element_at(acc, i - l + 1)"
    cand = (
        f"named_struct("
        f"'cost', {prev}.cost + coalesce(element_at({cm_sql}, {sub}), "
        f"CAST(CAST({UNI_UNK} AS BIGINT) * l AS BIGINT)), "
        f"'negl', CAST(-l AS INT), "
        f"'toks', concat({prev}.toks, array({sub})))"
    )
    step = (
        f"concat(acc, array(named_struct("
        f"'cost', array_min(transform(sequence(1, least({maxpiece}, i)), "
        f"l -> {cand})).cost, "
        f"'toks', array_min(transform(sequence(1, least({maxpiece}, i)), "
        f"l -> {cand})).toks)))"
    )
    init = (
        "array(named_struct('cost', CAST(0 AS BIGINT), "
        "'toks', CAST(array() AS array<string>)))"
    )
    return (
        f"element_at(aggregate(sequence(1, length({word_sql})), "
        f"{init}, (acc, i) -> {step}), -1).toks"
    )


def _viterbi_toks(word, costs: dict[str, int], maxpiece: int = UNI_MAXPIECE):
    """Min-cost segmentation of ``word`` under integer piece costs —
    an in-row DP fold: dp[i] = best (cost, toks) for the i-char
    prefix; candidates at i are the last-piece lengths 1..maxpiece,
    ranked by (cost asc, piece length desc). Missing pieces cost
    UNI_UNK per char. Returns the token array, built as one parsed SQL
    expression; ``word`` follows :func:`similarity._expr_sql`'s
    contract."""
    return F.expr(
        _viterbi_toks_sql(_expr_sql(word), _cost_map_sql(costs), maxpiece)
    )


def _uni_em_iter(
    wf: DataFrame, costs: dict[str, int], vocab: list[str]
) -> tuple[dict[str, int], dict[str, int]]:
    """One hard-EM iteration: (E) Viterbi-segment the word dictionary
    under ``costs``, collect vocabulary-sized usage counts; (M)
    re-estimate add-one-smoothed integer micro-costs over ``vocab``.
    Returns (usage, new costs) — the only driver traffic is the <=|V|
    usage rows."""
    import math

    seg = wf.select(
        "wcount", _viterbi_toks(F.col("word"), costs).alias("toks")
    )
    rows = (
        seg.select(F.col("wcount"), F.explode("toks").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("wcount").cast("bigint").alias("usage"))
        .collect()
    )
    usage = {r["piece"]: int(r["usage"]) for r in rows}
    total = sum(usage.values())
    nv = len(vocab)
    new_costs = {
        p: _micro(1e6 * math.log10((total + nv) / (usage.get(p, 0) + 1)))
        for p in vocab
    }
    return usage, new_costs


def _uni_train_state(
    df: DataFrame, text_col: str, n_iters: int
) -> tuple[dict[str, int], dict[str, int], DataFrame]:
    """Shared EM loop: returns (final costs, last-E-step usage, the
    checkpointed word-frequency table). Driver traffic per iteration is
    one vocabulary-sized collect — same contract as bpe_train's one
    winning row per merge."""
    wf = _uni_word_freq(df, text_col).localCheckpoint()
    seed = _uni_seed_rows(wf)
    vocab = [p for p, _ in seed]
    import math

    tot = sum(f for _, f in seed)
    costs = {p: _micro(1e6 * math.log10(tot / f)) for p, f in seed}
    usage: dict[str, int] = {}
    for _ in range(n_iters):
        usage, costs = _uni_em_iter(wf, costs, vocab)
    return costs, usage, wf


def unigram_train(
    df: DataFrame, text_col: str = "text", n_iters: int = UNI_EM_ITERS
) -> DataFrame:
    """Train the unigram-LM vocabulary; returns (piece, usage,
    cost_micro) — usage from the final E-step, costs from the final
    M-step — ordered by (usage desc, piece asc)."""
    costs, usage, _ = _uni_train_state(df, text_col, n_iters)
    rows = [
        (p, int(usage.get(p, 0)), int(costs[p])) for p in sorted(costs)
    ]
    out = df.sparkSession.createDataFrame(
        rows, "piece string, usage bigint, cost_micro bigint"
    )
    return out.orderBy(F.desc("usage"), F.asc("piece"))


def unigram_train_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_iters: int = UNI_EM_ITERS,
    state: tuple[dict[str, int], dict[str, int], DataFrame] | None = None,
) -> DataFrame:
    """Train, then Viterbi-encode the corpus under the final costs —
    the unigram twin of bpe_train_encode, with the same dictionary-join
    shape: each DISTINCT word segments once (vocabulary-sized DP), the
    corpus only pays an equi-join. Words longer than UNI_MAXLEN are
    dropped from the token stream (the SQL twin's DP-unroll contract;
    the Spark fold itself has no such limit). Output: (doc_id,
    n_tokens, tokens[]) with all-empty docs kept at n_tokens = 0.

    Pass ``state`` (an already-computed :func:`_uni_train_state`
    result — e.g. the per-process shared-train memo) to skip the EM
    loop: the EM chain is deterministic per corpus, so the encode is
    value-identical while the training jobs are paid once per process
    instead of once per consumer — the same train-once/ship-to-every-
    encode contract as ``bpe_train_encode(merges=...)`` (r12)."""
    costs, _, wf = state if state is not None else _uni_train_state(
        df, text_col, n_iters
    )
    vocab_seg = wf.select(
        "word", _viterbi_toks(F.col("word"), costs).alias("s")
    )
    words = df.select(
        F.col(id_col), F.posexplode(words_col(text_col)).alias("_p", "word")
    ).filter((F.length("word") > 0) & (F.length("word") <= UNI_MAXLEN))
    # the dictionary sits behind the wf checkpoint, so Catalyst has no
    # stats and falls back to sort-merge — SORTING the exploded corpus
    # (measured 18x growth at sf1 vs 3x with the hint). The dictionary
    # is the distinct-word table: broadcast it explicitly; a 100 TB run
    # whose dictionary outgrows the broadcast budget flips this to a
    # bucketed join on word (same swap point as bpe_train_encode).
    joined = words.join(F.broadcast(vocab_seg), "word").select(id_col, "_p", "s")
    toks = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "s"))),
            lambda e: e["s"],
        )
    )
    grouped = joined.groupBy(id_col).agg(toks.alias("tokens"))
    empty = F.expr("CAST(array() AS array<string>)")
    return (
        df.select(id_col)
        .join(grouped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.size("tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("tokens"), empty).alias("tokens"),
        )
    )


# ---------------------------------------- unigram-LM vocabulary pruning
#
# The missing half of Kudo 2018 (SentencePiece's actual shape): seed an
# OVERSIZED substring vocabulary, run EM, then repeatedly drop the
# pieces whose removal costs the corpus likelihood least, re-fitting
# after each drop. The hard-EM loss of removing piece p is
#
#     loss(p) = usage(p) * (altcost(p) - cost(p))
#
# where altcost(p) is the Viterbi cost of segmenting the STRING p
# without using p itself — exact under hard-EM's one-best semantics,
# because every occurrence of p in the one-best segmentation would be
# replaced by p's own best self-segmentation (any piece that could
# cover p's span other than p is a proper substring of p, so the
# replacement is local). Pieces the E-step never used (usage 0) have
# loss 0 and go first; the alphabet is never prunable (it guarantees
# coverage).
#
# Scale shape: identical to the fixed-vocab trainer — the corpus is
# touched once (word-freq groupBy, checkpointed); each EM iteration is
# one dictionary-sized Viterbi pass + a <=|V|-row collect; the prune
# decision itself is VOCABULARY-sized driver arithmetic (altcost runs
# a <=UNI_MAXPIECE-char DP per candidate piece, in Python, on <=
# UNI_SEED_VOCAB strings). Step schedule: |multi| shrinks linearly
# UNI_SEED_VOCAB -> UNI_VOCAB over UNI_PRUNE_STEPS steps, one EM
# iteration after each drop so survivors re-absorb the freed usage.


def _py_viterbi_cost(s: str, costs: dict[str, int], exclude: str | None = None) -> int:
    """Driver-side min-cost segmentation of a short string under the
    integer cost table — same recurrence as :func:`_viterbi_toks`
    (missing piece = UNI_UNK per char), with ``exclude`` treated as
    out-of-vocabulary (the self-exclusion the prune loss needs). Only
    the cost is needed, so ties don't matter."""
    n = len(s)
    dp = [0] * (n + 1)
    for i in range(1, n + 1):
        best = None
        for ln in range(1, min(UNI_MAXPIECE, i) + 1):
            piece = s[i - ln : i]
            c = costs.get(piece) if piece != exclude else None
            if c is None:
                c = UNI_UNK * ln
            v = dp[i - ln] + c
            if best is None or v < best:
                best = v
        dp[i] = best
    return dp[n]


def _uni_prune_plan(n_multi: int, target: int, steps: int) -> list[int]:
    """Per-step keep targets: |multi| shrinks linearly to ``target``
    (64 -> 48 -> 32 at the defaults). Shared with the SQL twin so both
    engines drop identical counts."""
    return [
        target + (n_multi - target) * (steps - s) // steps
        for s in range(1, steps + 1)
    ]


def _uni_prune_state(
    df: DataFrame,
    text_col: str,
    n_iters: int = UNI_EM_ITERS,
    seed_multi: int = UNI_SEED_VOCAB,
    target: int = UNI_VOCAB,
    steps: int = UNI_PRUNE_STEPS,
) -> tuple[dict[str, int], dict[str, int], DataFrame]:
    """Seed oversized, EM, then ``steps`` x (drop lowest-loss multi-char
    pieces to the step's keep target, one EM re-fit). Returns (final
    costs, final-E-step usage, checkpointed word-freq table)."""
    import math

    wf = _uni_word_freq(df, text_col).localCheckpoint()
    seed = _uni_seed_rows(wf, n_multi=seed_multi)
    vocab = [p for p, _ in seed]
    tot = sum(f for _, f in seed)
    costs = {p: _micro(1e6 * math.log10(tot / f)) for p, f in seed}
    usage: dict[str, int] = {}
    for _ in range(n_iters):
        usage, costs = _uni_em_iter(wf, costs, vocab)
    keeps = _uni_prune_plan(seed_multi, target, steps)
    for keep in keeps:
        multi = [p for p in vocab if len(p) > 1]
        losses = sorted(
            (
                usage.get(p, 0) * (_py_viterbi_cost(p, costs, exclude=p) - costs[p]),
                p,
            )
            for p in multi
        )
        drop_k = max(0, len(multi) - keep)
        dropped = {p for _, p in losses[:drop_k]}
        vocab = [p for p in vocab if p not in dropped]
        costs = {p: c for p, c in costs.items() if p not in dropped}
        usage, costs = _uni_em_iter(wf, costs, vocab)
    return costs, usage, wf


def unigram_prune_train(
    df: DataFrame,
    text_col: str = "text",
    n_iters: int = UNI_EM_ITERS,
    seed_multi: int = UNI_SEED_VOCAB,
    target: int = UNI_VOCAB,
    steps: int = UNI_PRUNE_STEPS,
) -> DataFrame:
    """Likelihood-pruned unigram-LM vocabulary — same output contract
    as :func:`unigram_train` (piece, usage, cost_micro) so the two
    trainers compare row-for-row, but the multi-char pieces are the
    SURVIVORS of the loss-ranked prune, not the raw frequency top-K."""
    costs, usage, _ = _uni_prune_state(df, text_col, n_iters, seed_multi, target, steps)
    rows = [(p, int(usage.get(p, 0)), int(costs[p])) for p in sorted(costs)]
    out = df.sparkSession.createDataFrame(
        rows, "piece string, usage bigint, cost_micro bigint"
    )
    return out.orderBy(F.desc("usage"), F.asc("piece"))


def unigram_prune_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_iters: int = UNI_EM_ITERS,
    seed_multi: int = UNI_SEED_VOCAB,
    target: int = UNI_VOCAB,
    steps: int = UNI_PRUNE_STEPS,
    state: tuple[dict[str, int], dict[str, int], DataFrame] | None = None,
) -> DataFrame:
    """Prune-train, then Viterbi-encode the corpus under the final
    pruned costs — the dictionary-join encode shape shared with
    :func:`unigram_train_encode` (distinct words segment once, corpus
    pays one equi-join). ``state`` = a precomputed
    :func:`_uni_prune_state` result (same shared-train contract as
    ``unigram_train_encode``)."""
    costs, _, wf = state if state is not None else _uni_prune_state(
        df, text_col, n_iters, seed_multi, target, steps
    )
    vocab_seg = wf.select(
        "word", _viterbi_toks(F.col("word"), costs).alias("s")
    )
    words = df.select(
        F.col(id_col), F.posexplode(words_col(text_col)).alias("_p", "word")
    ).filter((F.length("word") > 0) & (F.length("word") <= UNI_MAXLEN))
    # same no-stats broadcast rationale as unigram_train_encode: the
    # dictionary sits behind the wf checkpoint (see that docstring)
    joined = words.join(F.broadcast(vocab_seg), "word").select(id_col, "_p", "s")
    toks = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "s"))),
            lambda e: e["s"],
        )
    )
    grouped = joined.groupBy(id_col).agg(toks.alias("tokens"))
    empty = F.expr("CAST(array() AS array<string>)")
    return (
        df.select(id_col)
        .join(grouped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.size("tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("tokens"), empty).alias("tokens"),
        )
    )


def _uni_viterbi_ctes(tag: str, src: str, cost_cte: str) -> str:
    """One Viterbi pass as CTEs ending in ``useg_{tag}(word, wcount,
    toks)``. The sequential DP unrolls as UNI_MAXLEN settled-node
    relaxation rounds (round r relaxes only edges leaving node r-1, so
    every candidate at a node comes from an already-FINAL predecessor —
    this makes the incremental min provably identical to the Spark
    fold's one-shot min, including ties: candidates at a node always
    have distinct last-piece lengths, so (cost, negl) is a unique
    key and the token-list field never decides)."""
    edges = f"""
    uedge_{tag} AS MATERIALIZED (
      SELECT s.word, s.wcount, s.i, s.j, s.piece,
             coalesce(c.cost, {UNI_UNK} * (s.i - s.j)) AS ecost
      FROM (SELECT word, wcount, u.i AS i, u.j AS j,
                   substr(word, CAST(u.j AS INT) + 1, CAST(u.i - u.j AS INT)) AS piece
            FROM (SELECT word, wcount,
                         unnest(flatten(list_transform(range(1, length(word) + 1),
                           i -> list_transform(range(1, least({UNI_MAXPIECE}, i) + 1),
                                l -> {{'i': i, 'j': i - l}})))) AS u
                  FROM {src})) s
      LEFT JOIN {cost_cte} c ON c.piece = s.piece),
    udp_{tag}_0 AS (
      SELECT word, wcount, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS cost,
             CAST(0 AS BIGINT) AS negl, CAST([] AS VARCHAR[]) AS toks
      FROM {src})"""
    rounds = []
    for r in range(1, UNI_MAXLEN + 1):
        rounds.append(f"""
    udp_{tag}_{r} AS MATERIALIZED (
      SELECT word, wcount, i, cost, negl, toks FROM (
        SELECT *, row_number() OVER (PARTITION BY word, i
                                     ORDER BY cost, negl, toks) AS rn
        FROM (
          SELECT word, wcount, i, cost, negl, toks FROM udp_{tag}_{r - 1}
          UNION ALL
          SELECT e.word, e.wcount, e.i, d.cost + e.ecost AS cost,
                 e.j - e.i AS negl, list_append(d.toks, e.piece) AS toks
          FROM uedge_{tag} e
          JOIN udp_{tag}_{r - 1} d ON d.word = e.word AND d.i = e.j
          WHERE e.j = {r - 1}
        )) WHERE rn = 1)""")
    seg = f"""
    useg_{tag} AS MATERIALIZED (
      SELECT word, wcount, toks FROM udp_{tag}_{UNI_MAXLEN}
      WHERE i = length(word))"""
    return edges + "," + ",".join(rounds) + "," + seg


def _uni_train_ctes(
    table: str, text_col: str, n_iters: int, n_multi: int = UNI_VOCAB
) -> str:
    """Shared WITH-body: word dictionary, seed vocabulary + costs, and
    ``n_iters`` unrolled EM iterations ending in ucnt_{{T}} /
    ucost_{{T}}. ``n_multi`` sizes the multi-char seed (the prune
    trainer seeds oversized)."""
    w = words_sql(text_col)
    head = f"""
    uwf AS MATERIALIZED (
      SELECT w AS word, count(*) AS wcount
      FROM (SELECT unnest({w}) AS w FROM {table})
      WHERE w <> '' AND length(w) <= {UNI_MAXLEN} GROUP BY w),
    useed AS (
      SELECT piece, CAST(sum(wcount) AS BIGINT) AS freq
      FROM (SELECT wcount,
                   unnest(flatten(list_transform(
                     range(1, least({UNI_MAXPIECE}, length(word)) + 1),
                     l -> list_transform(range(1, length(word) - l + 2),
                          i -> substr(word, CAST(i AS INT), CAST(l AS INT))))))
                     AS piece
            FROM uwf)
      GROUP BY piece),
    uvocab AS MATERIALIZED (
      SELECT piece, freq FROM useed WHERE length(piece) = 1
      UNION ALL
      SELECT piece, freq FROM (
        SELECT piece, freq FROM useed WHERE length(piece) > 1
        ORDER BY freq DESC, piece ASC LIMIT {n_multi})),
    ucost_0 AS (
      SELECT piece,
             CAST(floor(1e6 * log10(
               CAST((SELECT sum(freq) FROM uvocab) AS DOUBLE)
               / CAST(freq AS DOUBLE)) + 0.5) AS BIGINT) AS cost
      FROM uvocab)"""
    iters = []
    for t in range(1, n_iters + 1):
        iters.append(_uni_viterbi_ctes(f"t{t}", "uwf", f"ucost_{t - 1}"))
        iters.append(f"""
    ucnt_{t} AS (
      SELECT piece, CAST(sum(wcount) AS BIGINT) AS usage
      FROM (SELECT wcount, unnest(toks) AS piece FROM useg_t{t})
      GROUP BY piece),
    ucost_{t} AS (
      SELECT v.piece,
             CAST(floor(1e6 * log10(
               CAST((SELECT sum(usage) FROM ucnt_{t})
                    + (SELECT count(*) FROM uvocab) AS DOUBLE)
               / CAST(coalesce(c.usage, 0) + 1 AS DOUBLE)) + 0.5) AS BIGINT)
               AS cost
      FROM uvocab v LEFT JOIN ucnt_{t} c USING (piece))""")
    return head + "," + ",".join(iters)


def unigram_train_sql(
    table: str = "documents", text_col: str = "text", n_iters: int = UNI_EM_ITERS
) -> str:
    """DuckDB twin of :func:`unigram_train`: seed + ``n_iters``
    unrolled hard-EM iterations (same unroll discipline as the BPE
    twin); integer micro-unit costs make the comparison exact."""
    return f"""
    WITH {_uni_train_ctes(table, text_col, n_iters)}
    SELECT v.piece,
           CAST(coalesce(c.usage, 0) AS BIGINT) AS usage,
           k.cost AS cost_micro
    FROM uvocab v
    LEFT JOIN ucnt_{n_iters} c USING (piece)
    JOIN ucost_{n_iters} k ON k.piece = v.piece
    ORDER BY usage DESC, piece ASC
    """


def unigram_train_encode_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_iters: int = UNI_EM_ITERS,
) -> str:
    """DuckDB twin of :func:`unigram_train_encode`: the train CTEs plus
    one more Viterbi pass under the final costs, joined back to the
    documents (dictionary-join shape, tokens space-joined)."""
    w = words_sql(text_col)
    enc_pass = _uni_viterbi_ctes("enc", "uwf", f"ucost_{n_iters}")
    return f"""
    WITH {_uni_train_ctes(table, text_col, n_iters)},
    {enc_pass},
    dw AS (
      SELECT {id_col},
             unnest(range(1, len(wl) + 1)) AS pos,
             unnest(wl) AS word
      FROM (SELECT {id_col}, {w} AS wl FROM {table})),
    encj AS (
      SELECT dw.{id_col}, pos, toks
      FROM dw JOIN useg_enc USING (word)),
    uagg AS (
      SELECT {id_col},
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
             array_to_string(flatten(list(toks ORDER BY pos)), ' ') AS tokens
      FROM encj GROUP BY {id_col})
    SELECT d.{id_col},
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(a.tokens, '') AS tokens
    FROM {table} d LEFT JOIN uagg a USING ({id_col})
    """


def _uni_prune_step_ctes(
    s: int, vocab_cte: str, cost_cte: str, usage_cte: str, keep: int
) -> str:
    """One prune step as CTEs: per-piece removal loss (alt-cost DP over
    the <=UNI_MAXPIECE-char piece strings, self-excluded via the CASE),
    keep the top ``keep`` multi-char pieces by (loss desc, piece desc)
    — the exact complement of dropping the lowest (loss asc, piece asc)
    — then ONE EM re-fit over the pruned vocabulary. Ends in
    upvocab_{{s}} / upcnt_{{s}} / upcost_{{s}}."""
    alt_rounds = []
    for r in range(1, UNI_MAXPIECE + 1):
        alt_rounds.append(f"""
    upalt_{s}_{r} AS (
      SELECT word, i, min(cost) AS cost FROM (
        SELECT word, i, cost FROM upalt_{s}_{r - 1}
        UNION ALL
        SELECT e.word, e.i, d.cost + e.ecost AS cost
        FROM upalt_{s}_e e
        JOIN upalt_{s}_{r - 1} d ON d.word = e.word AND d.i = e.j
        WHERE e.j = {r - 1}
      ) GROUP BY word, i)""")
    em = _uni_viterbi_ctes(f"p{s}", "uwf", f"upc_{s}")
    return f"""
    upmp_{s} AS (SELECT piece FROM {vocab_cte} WHERE length(piece) > 1),
    upalt_{s}_e AS (
      SELECT s.word, s.i, s.j,
             coalesce(CASE WHEN s.piece <> s.word THEN c.cost END,
                      {UNI_UNK} * (s.i - s.j)) AS ecost
      FROM (SELECT word, u.i AS i, u.j AS j,
                   substr(word, CAST(u.j AS INT) + 1, CAST(u.i - u.j AS INT)) AS piece
            FROM (SELECT piece AS word,
                         unnest(flatten(list_transform(range(1, length(piece) + 1),
                           i -> list_transform(range(1, least({UNI_MAXPIECE}, i) + 1),
                                l -> {{'i': i, 'j': i - l}})))) AS u
                  FROM upmp_{s})) s
      LEFT JOIN {cost_cte} c ON c.piece = s.piece),
    upalt_{s}_0 AS (
      SELECT piece AS word, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS cost
      FROM upmp_{s}),{",".join(alt_rounds)},
    upalt_{s} AS (
      SELECT word AS piece, cost AS alt_cost FROM upalt_{s}_{UNI_MAXPIECE}
      WHERE i = length(word)),
    uploss_{s} AS (
      SELECT v.piece,
             CAST(coalesce(u.usage, 0) AS BIGINT) * (a.alt_cost - c.cost) AS loss
      FROM upmp_{s} v
      JOIN upalt_{s} a USING (piece)
      JOIN {cost_cte} c USING (piece)
      LEFT JOIN {usage_cte} u USING (piece)),
    upvocab_{s} AS MATERIALIZED (
      SELECT piece FROM {vocab_cte} WHERE length(piece) = 1
      UNION ALL
      SELECT piece FROM (
        SELECT piece,
               row_number() OVER (ORDER BY loss ASC, piece ASC) AS rn,
               count(*) OVER () AS nm
        FROM uploss_{s})
      WHERE rn > greatest(0, nm - {keep})),
    upc_{s} AS (
      SELECT c.piece, c.cost FROM {cost_cte} c
      JOIN upvocab_{s} USING (piece)),
    {em.strip().lstrip()},
    upcnt_{s} AS (
      SELECT piece, CAST(sum(wcount) AS BIGINT) AS usage
      FROM (SELECT wcount, unnest(toks) AS piece FROM useg_p{s})
      GROUP BY piece),
    upcost_{s} AS (
      SELECT v.piece,
             CAST(floor(1e6 * log10(
               CAST((SELECT sum(usage) FROM upcnt_{s})
                    + (SELECT count(*) FROM upvocab_{s}) AS DOUBLE)
               / CAST(coalesce(c.usage, 0) + 1 AS DOUBLE)) + 0.5) AS BIGINT)
               AS cost
      FROM upvocab_{s} v LEFT JOIN upcnt_{s} c USING (piece))"""


def _uni_prune_ctes(
    table: str,
    text_col: str,
    n_iters: int = UNI_EM_ITERS,
    seed_multi: int = UNI_SEED_VOCAB,
    target: int = UNI_VOCAB,
    steps: int = UNI_PRUNE_STEPS,
) -> str:
    """Full prune-trainer WITH-body: oversized seed + ``n_iters`` EM,
    then ``steps`` unrolled prune+re-fit steps. Ends in
    upvocab_{{steps}} / upcnt_{{steps}} / upcost_{{steps}}."""
    body = _uni_train_ctes(table, text_col, n_iters, n_multi=seed_multi)
    keeps = _uni_prune_plan(seed_multi, target, steps)
    for s, keep in enumerate(keeps, start=1):
        vocab_cte = "uvocab" if s == 1 else f"upvocab_{s - 1}"
        cost_cte = f"ucost_{n_iters}" if s == 1 else f"upcost_{s - 1}"
        usage_cte = f"ucnt_{n_iters}" if s == 1 else f"upcnt_{s - 1}"
        body += "," + _uni_prune_step_ctes(s, vocab_cte, cost_cte, usage_cte, keep)
    return body


def unigram_prune_sql(
    table: str = "documents",
    text_col: str = "text",
    n_iters: int = UNI_EM_ITERS,
    seed_multi: int = UNI_SEED_VOCAB,
    target: int = UNI_VOCAB,
    steps: int = UNI_PRUNE_STEPS,
) -> str:
    """DuckDB twin of :func:`unigram_prune_train` — the same unrolled
    seed/EM/prune schedule; integer micro-unit costs and exact BIGINT
    loss products keep the comparison bit-for-bit."""
    ctes = _uni_prune_ctes(table, text_col, n_iters, seed_multi, target, steps)
    return f"""
    WITH {ctes}
    SELECT v.piece,
           CAST(coalesce(c.usage, 0) AS BIGINT) AS usage,
           k.cost AS cost_micro
    FROM upvocab_{steps} v
    LEFT JOIN upcnt_{steps} c USING (piece)
    JOIN upcost_{steps} k ON k.piece = v.piece
    ORDER BY usage DESC, piece ASC
    """


def unigram_prune_encode_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_iters: int = UNI_EM_ITERS,
    seed_multi: int = UNI_SEED_VOCAB,
    target: int = UNI_VOCAB,
    steps: int = UNI_PRUNE_STEPS,
) -> str:
    """DuckDB twin of :func:`unigram_prune_encode`: the prune-trainer
    CTEs plus one Viterbi pass under the final pruned costs, joined
    back to the documents (tokens space-joined, empty docs kept)."""
    w = words_sql(text_col)
    ctes = _uni_prune_ctes(table, text_col, n_iters, seed_multi, target, steps)
    enc_pass = _uni_viterbi_ctes("penc", "uwf", f"upcost_{steps}")
    return f"""
    WITH {ctes},
    {enc_pass},
    dw AS (
      SELECT {id_col},
             unnest(range(1, len(wl) + 1)) AS pos,
             unnest(wl) AS word
      FROM (SELECT {id_col}, {w} AS wl FROM {table})),
    encj AS (
      SELECT dw.{id_col}, pos, toks
      FROM dw JOIN useg_penc USING (word)),
    uagg AS (
      SELECT {id_col},
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
             array_to_string(flatten(list(toks ORDER BY pos)), ' ') AS tokens
      FROM encj GROUP BY {id_col})
    SELECT d.{id_col},
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(a.tokens, '') AS tokens
    FROM {table} d LEFT JOIN uagg a USING ({id_col})
    """


# ------------------------------------------- segmentation ambiguity (2-best)
#
# Kudo 2018 §3's premise is that words have MULTIPLE plausible
# segmentations; subword regularization samples among them. The
# measurable corpus-level signal is the cost GAP between the best and
# second-best segmentation of each word: gap 0 = exact ties (the
# degenerate case where sampling is free variance), small gap = real
# ambiguity worth regularizing over, large gap = one dominant
# segmentation. 2-best Viterbi is the same settled-node DP with a
# (c1, c2) pair per node — min-2 over multisets is associative, so
# the SQL twin's incremental top-2 retention provably equals the
# Spark fold's one-shot sorted-take-2. A path count argument makes c2
# total for every word of length >= 2: edges always exist (UNK
# fallback), so a length-n word has as many paths as compositions of
# n into parts <= UNI_MAXPIECE (>= 2 whenever n >= 2).

UNI_AMB_INF = 10**15  # "no second path yet" sentinel; > any finite
#                       path cost (<= 16 chars x 4e7 UNK) and far from
#                       BIGINT overflow even after +cost accumulation


def _viterbi_two_costs_sql(word_sql: str, cm_sql: str, maxpiece: int) -> str:
    """:func:`_viterbi_two_costs`'s DP as ONE SQL expression string
    ending in the node's 2-cost struct, one parse instead of
    per-operator py4j round-trips. The caller extracts .c1/.c2."""
    edge = (
        f"coalesce(element_at({cm_sql}, substring({word_sql}, i - l + 1, l)), "
        f"CAST(CAST({UNI_UNK} AS BIGINT) * l AS BIGINT))"
    )
    prev = "element_at(acc, i - l + 1)"
    cands = (
        f"flatten(transform(sequence(1, least({maxpiece}, i)), "
        f"l -> array({prev}.c1 + {edge}, {prev}.c2 + {edge})))"
    )
    step = (
        f"concat(acc, array(named_struct("
        f"'c1', element_at(array_sort({cands}), 1), "
        f"'c2', element_at(array_sort({cands}), 2))))"
    )
    init = (
        f"array(named_struct('c1', CAST(0 AS BIGINT), "
        f"'c2', CAST({UNI_AMB_INF} AS BIGINT)))"
    )
    return (
        f"element_at(aggregate(sequence(1, length({word_sql})), "
        f"{init}, (acc, i) -> {step}), -1)"
    )


def _viterbi_two_costs(word, costs: dict[str, int], maxpiece: int = UNI_MAXPIECE):
    """(best, second-best) segmentation costs of ``word`` as an in-row
    fold: per node keep the two smallest path costs; candidates at
    node i are both retained costs of each predecessor plus the edge.
    Returns (c1, c2) columns off one parsed SQL expression; c2 carries
    the UNI_AMB_INF sentinel only for length-1 words (single path).
    ``word`` follows :func:`similarity._expr_sql`'s contract."""
    last = F.expr(
        _viterbi_two_costs_sql(_expr_sql(word), _cost_map_sql(costs), maxpiece)
    )
    return last["c1"], last["c2"]


def unigram_ambiguity(
    df: DataFrame,
    text_col: str = "text",
    n_iters: int = UNI_EM_ITERS,
    state: tuple[dict[str, int], dict[str, int], DataFrame] | None = None,
) -> DataFrame:
    """Corpus segmentation-ambiguity profile under the trained unigram
    LM: per word length, the occurrence-weighted mean best-vs-2nd-best
    cost gap (micro units) and the share of word occurrences whose two
    best segmentations TIE exactly. One corpus shuffle (the word-freq
    table); the 2-best DP is an in-row fold over the dictionary.
    ``state`` = a precomputed :func:`_uni_train_state` result (same
    shared-train contract as ``unigram_train_encode``)."""
    from tinyetl_spark.operators.text import floor_round

    costs, _, wf = state if state is not None else _uni_train_state(
        df, text_col, n_iters
    )
    c1, c2 = _viterbi_two_costs(F.col("word"), costs)
    seg = wf.filter(F.length("word") >= 2).select(
        F.length("word").cast("bigint").alias("wlen"),
        F.col("wcount").cast("bigint").alias("wcount"),
        (c2 - c1).alias("gap"),
    )
    agg = seg.groupBy("wlen").agg(
        F.sum("wcount").cast("bigint").alias("n_words"),
        F.sum(F.col("wcount") * F.col("gap")).cast("bigint").alias("_sg"),
        F.sum(F.when(F.col("gap") == 0, F.col("wcount")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("_nt"),
    )
    return agg.select(
        "wlen",
        "n_words",
        floor_round(
            F.col("_sg").cast("double") / F.col("n_words").cast("double"), 6
        ).alias("mean_gap_micro"),
        floor_round(
            F.col("_nt").cast("double") / F.col("n_words").cast("double"), 6
        ).alias("tied_share"),
    ).orderBy("wlen")


def _uni_twobest_ctes(tag: str, src: str, cost_cte: str) -> str:
    """2-best DP as CTEs ending in ``uamb_{tag}(word, wcount, cost,
    rn)`` — the two smallest path costs per word at its end node.
    Settled-node rounds as in ``_uni_viterbi_ctes``; per (word, node)
    only the TOP-2 rows are retained each round (min-2 is a monoid on
    multisets, so incremental retention equals one-shot top-2). Ties
    in cost leave the retained VALUES deterministic even though row
    identity isn't."""
    edges = f"""
    uambe_{tag} AS MATERIALIZED (
      SELECT s.word, s.wcount, s.i, s.j,
             coalesce(c.cost, {UNI_UNK} * (s.i - s.j)) AS ecost
      FROM (SELECT word, wcount, u.i AS i, u.j AS j,
                   substr(word, CAST(u.j AS INT) + 1, CAST(u.i - u.j AS INT)) AS piece
            FROM (SELECT word, wcount,
                         unnest(flatten(list_transform(range(1, length(word) + 1),
                           i -> list_transform(range(1, least({UNI_MAXPIECE}, i) + 1),
                                l -> {{'i': i, 'j': i - l}})))) AS u
                  FROM {src})) s
      LEFT JOIN {cost_cte} c ON c.piece = s.piece),
    uamb_{tag}_0 AS (
      SELECT word, wcount, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS cost
      FROM {src})"""
    rounds = []
    for r in range(1, UNI_MAXLEN + 1):
        rounds.append(f"""
    uamb_{tag}_{r} AS MATERIALIZED (
      SELECT word, wcount, i, cost FROM (
        SELECT *, row_number() OVER (PARTITION BY word, i ORDER BY cost) AS rn
        FROM (
          SELECT word, wcount, i, cost FROM uamb_{tag}_{r - 1}
          UNION ALL
          SELECT e.word, e.wcount, e.i, d.cost + e.ecost AS cost
          FROM uambe_{tag} e
          JOIN uamb_{tag}_{r - 1} d ON d.word = e.word AND d.i = e.j
          WHERE e.j = {r - 1}
        )) WHERE rn <= 2)""")
    end = f"""
    uamb_{tag} AS (
      SELECT word, wcount, cost,
             row_number() OVER (PARTITION BY word ORDER BY cost) AS rn
      FROM uamb_{tag}_{UNI_MAXLEN}
      WHERE i = length(word))"""
    return edges + "," + ",".join(rounds) + "," + end


def unigram_ambiguity_sql(
    table: str = "documents", text_col: str = "text", n_iters: int = UNI_EM_ITERS
) -> str:
    """DuckDB twin: train CTEs + the 2-best unroll + the per-length
    rollup (exact BIGINT gap sums; two floor_round divisions)."""
    from tinyetl_spark.operators.text import floor_round_sql

    mean_gap = floor_round_sql(
        "CAST(sum(wcount * gap) AS DOUBLE) / CAST(sum(wcount) AS DOUBLE)", 6
    )
    tied = floor_round_sql(
        "CAST(sum(CASE WHEN gap = 0 THEN wcount ELSE 0 END) AS DOUBLE)"
        " / CAST(sum(wcount) AS DOUBLE)", 6
    )
    return f"""
    WITH {_uni_train_ctes(table, text_col, n_iters)},
    {_uni_twobest_ctes("amb", "uwf", f"ucost_{n_iters}")},
    ugap AS (
      SELECT b.word, b.wcount, length(b.word) AS wlen,
             s.cost - b.cost AS gap
      FROM (SELECT * FROM uamb_amb WHERE rn = 1) b
      JOIN (SELECT * FROM uamb_amb WHERE rn = 2) s USING (word)
      WHERE length(b.word) >= 2)
    SELECT CAST(wlen AS BIGINT) AS wlen,
           CAST(sum(wcount) AS BIGINT) AS n_words,
           {mean_gap} AS mean_gap_micro,
           {tied} AS tied_share
    FROM ugap GROUP BY wlen ORDER BY wlen
    """


# ------------------------------------------------ tokenizer budget curve

UNI_BUDGET_SIZES = (16, 32, 64)


def unigram_budget_curve(
    df: DataFrame,
    sizes: tuple[int, ...] = UNI_BUDGET_SIZES,
    text_col: str = "text",
    n_iters: int = UNI_EM_ITERS,
) -> DataFrame:
    """Fertility / compression vs VOCABULARY BUDGET — the tokenizer
    twin of ann_budget_curve: train the unigram LM at multi-char seed
    sizes 16/32/64 and report corpus-level tokens/word and word
    chars/token per size, the curve that answers "what vocabulary do I
    need" before a production train.

    Scale shape: the corpus is shuffled ONCE (the shared word-freq
    table, checkpointed); per size everything is vocabulary-sized —
    the EM iterations collect <=|V| rows, and the corpus totals come
    from segmenting the WORD DICTIONARY (total_tokens = sum over
    distinct words of wcount * |segments|), so no size ever re-scans
    or re-joins the corpus. Totals therefore cover the <=UNI_MAXLEN
    dictionary (the trainer's own domain), which is also what the SQL
    twin aggregates."""
    import math

    wf = _uni_word_freq(df, text_col).localCheckpoint()
    from tinyetl_spark.operators.text import floor_round

    # r12 batching, three independent levers with identical values:
    # (a) the per-size seed vocabularies NEST — the multi-char pieces
    #     are the top-n by the same (freq desc, piece asc) order, so
    #     ONE seed collect at max(sizes) serves every size as a prefix
    #     slice (alphabet rows are size-independent);
    # (b) the EM iterations run in LOCKSTEP — iteration k's E-step for
    #     all sizes is ONE dictionary job (one Viterbi column per size,
    #     size-tagged explode, one groupBy) because the chains only
    #     depend on their OWN previous costs;
    # (c) the final totals aggregate in ONE pass (below).
    # 9 dictionary jobs -> 3 (1 seed + n_iters).
    szs = [int(s) for s in sizes]
    n_max = max(szs)
    seed_all = _uni_seed_rows(wf, n_multi=n_max)
    alpha = [(p, f) for p, f in seed_all if len(p) == 1]
    # re-establish the (freq desc, piece asc) total order driver-side:
    # collect order after the union is not guaranteed, and the prefix
    # slice below relies on it (top-s of the top-n_max = the LIMIT s
    # result, because the order is total)
    multi = sorted(
        ((p, f) for p, f in seed_all if len(p) > 1),
        key=lambda pf: (-pf[1], pf[0]),
    )
    vocabs: dict[int, list] = {}
    cost_maps: dict[int, dict] = {}
    for s in szs:
        seed = alpha + multi[:s]
        vocabs[s] = [p for p, _ in seed]
        tot = sum(f for _, f in seed)
        cost_maps[s] = {p: _micro(1e6 * math.log10(tot / f)) for p, f in seed}
    for _ in range(n_iters):
        seg_cols = [
            _viterbi_toks(F.col("word"), cost_maps[s]).alias(
                f"_tk{s}"
            )
            for s in szs
        ]
        def _tag(sz: int):
            # one-arg lambda: a two-arg one would receive (element,
            # index) from F.transform and shadow the default
            return lambda x: F.struct(
                F.lit(sz).alias("sz"), x.alias("piece")
            )

        tagged = F.concat(
            *[F.transform(F.col(f"_tk{s}"), _tag(s)) for s in szs]
        )
        rows_ = (
            wf.select("wcount", *seg_cols)
            .select("wcount", F.explode(tagged).alias("p"))
            .groupBy("p.sz", "p.piece")
            .agg(F.sum("wcount").cast("bigint").alias("usage"))
            .collect()
        )
        usage_by_size: dict[int, dict] = {s: {} for s in szs}
        for r_ in rows_:
            usage_by_size[int(r_["sz"])][r_["piece"]] = int(r_["usage"])
        for s in szs:
            usage = usage_by_size[s]
            total = sum(usage.values())
            nv = len(vocabs[s])
            cost_maps[s] = {
                p: _micro(1e6 * math.log10((total + nv) / (usage.get(p, 0) + 1)))
                for p in vocabs[s]
            }
    seg = wf.select(
        F.col("wcount").cast("bigint").alias("wcount"),
        F.length("word").cast("bigint").alias("wlen"),
        *[
            F.size(
                _viterbi_toks(F.col("word"), cost_maps[int(s)])
            )
            .cast("bigint")
            .alias(f"_nt{int(s)}")
            for s in sizes
        ],
    )
    r = seg.agg(
        *[
            F.sum(F.col("wcount") * F.col(f"_nt{int(s)}"))
            .cast("bigint")
            .alias(f"_t{int(s)}")
            for s in sizes
        ],
        F.sum("wcount").cast("bigint").alias("w"),
        F.sum(F.col("wcount") * F.col("wlen")).cast("bigint").alias("c"),
    ).collect()[0]
    rows = [
        (int(s), int(r[f"_t{int(s)}"]), int(r["w"]), int(r["c"]))
        for s in sizes
    ]
    out = df.sparkSession.createDataFrame(
        rows,
        "vocab_multi bigint, total_tokens bigint, total_words bigint, "
        "total_chars bigint",
    )
    return out.select(
        "vocab_multi",
        "total_tokens",
        "total_words",
        floor_round(
            F.col("total_tokens").cast("double") / F.col("total_words").cast("double"),
            6,
        ).alias("fertility"),
        floor_round(
            F.col("total_chars").cast("double") / F.col("total_tokens").cast("double"),
            6,
        ).alias("chars_per_token"),
    ).orderBy("vocab_multi")


def unigram_budget_curve_sql(
    table: str = "documents",
    sizes: tuple[int, ...] = UNI_BUDGET_SIZES,
    text_col: str = "text",
    n_iters: int = UNI_EM_ITERS,
) -> str:
    """DuckDB twin: one self-contained train + dictionary-segmentation
    chain per size (nested WITH keeps the per-size CTE names scoped),
    unioned and ordered by budget."""
    from tinyetl_spark.operators.text import floor_round_sql

    points = []
    for n_multi in sizes:
        fert = floor_round_sql(
            "CAST(sum(wcount * len(toks)) AS DOUBLE)"
            " / CAST(sum(wcount) AS DOUBLE)", 6
        )
        cpt = floor_round_sql(
            "CAST(sum(wcount * length(word)) AS DOUBLE)"
            " / CAST(sum(wcount * len(toks)) AS DOUBLE)", 6
        )
        points.append(f"""
    SELECT * FROM (
      WITH {_uni_train_ctes(table, text_col, n_iters, n_multi=n_multi)},
      {_uni_viterbi_ctes("bud", "uwf", f"ucost_{n_iters}")}
      SELECT CAST({n_multi} AS BIGINT) AS vocab_multi,
             CAST(sum(wcount * len(toks)) AS BIGINT) AS total_tokens,
             CAST(sum(wcount) AS BIGINT) AS total_words,
             {fert} AS fertility,
             {cpt} AS chars_per_token
      FROM useg_bud)""")
    return " UNION ALL ".join(points) + " ORDER BY vocab_multi"


def bpe_train_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = BPE_MERGES,
    merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Train on the corpus, then encode the corpus with what was
    learned — the end-to-end tokenizer path a data pipeline actually
    runs.

    Encoding is a DICTIONARY JOIN, not a per-occurrence re-fold: the
    training loop's final symbol table already holds every word fully
    merged, so encode = explode doc words -> equi-join word->symbols ->
    regroup per doc (flattened in document order). Each word's merge
    folds ran ONCE during training, no matter how many billion times
    the word occurs — measured 10x faster than literal-folded re-encode
    at sf0.1 and the gap widens with corpus size. ``bpe_encode`` stays
    the merge-list form for encoding NEW text with a frozen
    tokenizer.

    Pass ``merges`` (an already-learned ordered merge list — e.g. the
    per-process frozen-tokenizer memo) to skip the training loop: the
    symbol table is rebuilt by folding those merges in learned order
    over the word dictionary's initial symbols, which is exactly what
    the training loop's final state holds, so the encode is
    value-identical while the training jobs are paid once per process
    instead of once per consumer (r12)."""
    if merges is None:
        _, vocab = _train(df, text_col, n_merges)
    else:
        s = _sym_init(F.col("word"))
        for a, b in merges:
            s = _apply_merge(s, a, b)
        vocab = word_freq(df, text_col).select("word", s.alias("s"))
    words = df.select(
        F.col(id_col), F.posexplode(words_col(text_col)).alias("_p", "word")
    ).filter(F.length("word") > 0)
    joined = words.join(vocab, "word").select(id_col, "_p", "s")
    toks = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "s"))),
            lambda e: e["s"],
        )
    )
    grouped = joined.groupBy(id_col).agg(toks.alias("tokens"))
    # left-join back so all-empty documents keep a row with n_tokens=0
    # — the same output contract as bpe_encode (the inner join above
    # silently dropped them before)
    empty = F.expr("CAST(array() AS array<string>)")
    return (
        df.select(id_col)
        .join(grouped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.size("tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("tokens"), empty).alias("tokens"),
        )
    )


# --------------------------------------------------- WordPiece (BERT)
#
# Schuster & Nakajima 2012 / Wu et al. 2016 — the third classic
# subword tokenizer, completing the trio with BPE and unigram-LM.
# Training is BPE-shaped but merges the adjacent pair maximizing
# score = freq(pair) / (freq(lsym) * freq(rsym)) — the pair whose
# merge most increases a unigram LM's corpus likelihood (the rule the
# HuggingFace tokenizers documentation publishes). Continuation
# symbols carry the "##" marker from init: the word "cat" seeds as
# [c, ##a, ##t]; merging (##a, ##t) yields ##at; merging (c, ##at)
# yields cat — the marker is intrinsic to symbol identity, so
# word-initial and word-internal occurrences of the same characters
# are distinct statistics, exactly as in BERT's tokenizer. Encoding is
# NOT merge-replay: a frozen WordPiece vocabulary encodes by greedy
# longest-match-first per word, with the whole word collapsing to
# [UNK] when some position has no matching piece or the word exceeds
# the length cap (BERT's max_input_chars_per_word rule).
#
# Scale shape — identical to bpe_train: ONE corpus-sized shuffle (the
# word-frequency groupBy, checkpointed once); each iteration is a
# vocabulary-sized pair count + symbol count whose single winning row
# is the only driver traffic. Encode is the dictionary-join shape:
# every DISTINCT word greedy-matches once via an in-row fold over a
# broadcast vocabulary map, the corpus pays one equi-join.
#
# Cross-engine exactness: scores are exact BIGINT nano-units,
# floor(1e9 * total / (cnt_l * cnt_r)) via integer division on both
# engines, ties broken by (lsym, rsym) ascending. total <= corpus
# word count and cnt_l * cnt_r <= (corpus word count)^2 ~ 1e14 at the
# test SFs, so total * 1e9 stays far under 2^63; a 100 TB run swaps
# the product to DECIMAL(38,0) — same floor semantics, nothing else
# changes.

WP_MERGES = 12            # merges learned by the training query
WP_UNK = "[UNK]"          # whole-word fallback token (BERT semantics)
WP_SCALE = 1_000_000_000  # nano-unit likelihood-score scale
WP_MAXWORD = UNI_MAXLEN   # words longer than this encode as [UNK]
#                           (also bounds the SQL twin's greedy unroll)


def _wp_sym_init(word: Column) -> Column:
    """Initial WordPiece symbols: first char bare, rest ##-marked."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.when(i == F.lit(1), word.substr(i, F.lit(1))).otherwise(
            F.concat(F.lit("##"), word.substr(i, F.lit(1)))
        ),
    )


def _wp_merge_out(a: str, b: str) -> str:
    """Merge output: the right operand drops its continuation marker
    (it is never word-initial, so it is always ##-marked in practice;
    the guard keeps hand-built tables safe)."""
    return a + (b[2:] if b.startswith("##") else b)


def _wp_pair_and_sym_totals(syms: DataFrame) -> list:
    """Adjacent-pair totals AND symbol totals in ONE explode+groupBy
    job: rows (lsym, rsym, total) where rsym IS NULL marks a symbol
    count. Both live in the dictionary domain, never the corpus — the
    same vocabulary-sized driver collect as the unigram EM loop. One
    shuffle per training iteration, replacing the r11 shape's separate
    pair/symbol aggregations plus two vocabulary joins and a global
    sort (measured 0.5s -> 0.25s per iteration at sf0.1 local[32];
    the win is pure stage-count, so it holds wherever the dictionary
    aggregation is cheap relative to stage overhead)."""
    pair_structs = F.when(
        F.size("s") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("s") - 1),
            lambda i: F.struct(
                F.element_at("s", i).alias("lsym"),
                F.element_at("s", i + 1).alias("rsym"),
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<struct<lsym:string,rsym:string>>)"))
    sym_structs = F.transform(
        F.col("s"),
        lambda x: F.struct(
            x.alias("lsym"), F.lit(None).cast("string").alias("rsym")
        ),
    )
    return (
        syms.select(
            "wcount", F.explode(F.concat(pair_structs, sym_structs)).alias("p")
        )
        .groupBy("p.lsym", "p.rsym")
        .agg(F.sum("wcount").cast("bigint").alias("total"))
        .collect()
    )


def _wp_best_merge(rows: list) -> tuple[str, str, int, int] | None:
    """Driver-side WordPiece likelihood argmax over the one-job stats:
    score_nano = floor(1e9 * total / (cnt_l * cnt_r)) in exact BIGINT
    arithmetic (Python // == Spark's DIV on positive bigints), ties by
    pair ascending (Python str ordering == Spark's UTF8 binary string
    ordering: UTF-8 byte order preserves code-point order)."""
    cnts = {r["lsym"]: int(r["total"]) for r in rows if r["rsym"] is None}
    best = None
    for r in rows:
        if r["rsym"] is None or int(r["total"]) < 2:
            continue
        total = int(r["total"])
        score = (total * WP_SCALE) // (cnts[r["lsym"]] * cnts[r["rsym"]])
        key = (-score, r["lsym"], r["rsym"])
        if best is None or key < best[0]:
            best = (key, (r["lsym"], r["rsym"], total, score))
    return best[1] if best else None


def _wp_train_state(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[list[tuple[int, str, str, int, int]], DataFrame]:
    """Shared WordPiece training loop: returns (merge rows, final
    per-word symbol table (word, wcount, s)). Driver contract: one
    vocabulary-sized pair/symbol stats table crosses per iteration
    (the unigram EM loop's contract) and the likelihood argmax runs on
    the driver in exact integer arithmetic — one explode+groupBy job
    per iteration instead of the r11 shape's joins + global sort."""
    merges, _, cur = wp_train_state_full(df, text_col, n_merges)
    return merges, cur


def wp_train_state_full(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[list[tuple[int, str, str, int, int]], DataFrame, DataFrame]:
    """The training loop with its BASE retained: returns (merge rows,
    checkpointed initial symbol table, final symbol table). WordPiece
    merges are PREFIX-NESTED — iteration i's stats depend only on
    merges 1..i-1 — so one max-budget state serves every smaller
    budget: the b-merge train is rows 1..b, and the b-merge final
    symbol table is ``wp_replay_merges(base, merges, b)`` (pinned by
    test_wordpiece_train_prefix_nesting)."""
    base = (
        word_freq(df, text_col)
        .select("word", "wcount", _wp_sym_init(F.col("word")).alias("s"))
        .localCheckpoint()
    )
    cur = base
    merges: list[tuple[int, str, str, int, int]] = []
    for rank in range(1, n_merges + 1):
        top = _wp_best_merge(_wp_pair_and_sym_totals(cur))
        if top is None:
            break
        a, b, total, score = top
        merges.append((rank, a, b, total, score))
        cur = cur.withColumn(
            "s", _apply_merge(F.col("s"), a, b, _wp_merge_out(a, b))
        )
    return merges, base, cur


def wp_replay_merges(
    base: DataFrame, merges: list[tuple[int, str, str, int, int]], n: int
) -> DataFrame:
    """Rebuild the symbol table after the first ``n`` merges by folding
    them over the base — exactly the training loop's state at iteration
    n (same folds in the same order), with zero training jobs."""
    cur = base
    for _, a, b, _, _ in merges[:n]:
        cur = cur.withColumn(
            "s", _apply_merge(F.col("s"), a, b, _wp_merge_out(a, b))
        )
    return cur


def wordpiece_train(
    df: DataFrame, text_col: str = "text", n_merges: int = WP_MERGES
) -> DataFrame:
    """Learn ``n_merges`` WordPiece merges; returns (rank, lsym, rsym,
    total, score_nano) in learned order."""
    merges, _ = _wp_train_state(df, text_col, n_merges)
    return df.sparkSession.createDataFrame(
        merges,
        "rank bigint, lsym string, rsym string, total bigint, score_nano bigint",
    )


def _wp_vocab(cur: DataFrame) -> list[str]:
    """The frozen encode vocabulary: the alphabet (initial symbols —
    HF always keeps it, so greedy never dead-ends on a training-corpus
    character) plus every final-symbol-table symbol. Vocabulary-sized
    driver collect, same contract as the unigram seed."""
    rows = (
        cur.select(F.explode(_wp_sym_init(F.col("word"))).alias("p"))
        .unionByName(cur.select(F.explode("s").alias("p")))
        .distinct()
        .collect()
    )
    return sorted(r["p"] for r in rows)


def _wp_vocab_map(vocab: list[str]) -> Column:
    flat = []
    for p in sorted(vocab):
        flat.append(F.lit(p))
        flat.append(F.lit(1))
    return F.create_map(*flat)


def _wp_greedy_toks(word: Column, vocab_map: Column, max_raw: int) -> Column:
    """Greedy longest-match-first WordPiece encode of one word — an
    in-row fold: state (pos, toks); visiting position i acts only when
    i == pos, matching the longest piece (## -prefixed when i > 1) in
    the vocabulary map and jumping pos past it; no match parks pos at
    -1. Any word that fails to land exactly at the end — or exceeds
    WP_MAXWORD (the BERT max_input_chars_per_word rule, and the SQL
    twin's unroll bound) — collapses to the single [UNK] token."""
    n = F.length(word)
    empty = F.expr("CAST(array() AS array<string>)")
    init = F.struct(F.lit(1).cast("long").alias("pos"), empty.alias("toks"))

    def step(acc, i):
        cands = F.filter(
            F.transform(
                F.sequence(F.least(F.lit(max_raw), n - i + 1), F.lit(1), F.lit(-1)),
                lambda l: F.struct(
                    l.cast("long").alias("l"),
                    F.when(i == F.lit(1), word.substr(i, l))
                    .otherwise(F.concat(F.lit("##"), word.substr(i, l)))
                    .alias("piece"),
                ),
            ),
            lambda c: F.element_at(vocab_map, c["piece"]).isNotNull(),
        )
        best = F.get(cands, 0)
        advanced = F.when(
            best.isNull(),
            F.struct(
                F.lit(-1).cast("long").alias("pos"), acc["toks"].alias("toks")
            ),
        ).otherwise(
            F.struct(
                (acc["pos"] + best["l"]).cast("long").alias("pos"),
                F.concat(acc["toks"], F.array(best["piece"])).alias("toks"),
            )
        )
        return F.when(acc["pos"] == i.cast("long"), advanced).otherwise(acc)

    res = F.aggregate(F.sequence(F.lit(1), n), init, step)
    return F.when(
        (n > F.lit(WP_MAXWORD)) | (res["pos"] != (n + 1).cast("long")),
        F.array(F.lit(WP_UNK)),
    ).otherwise(res["toks"])


def wordpiece_encode(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a corpus against a FROZEN WordPiece vocabulary (greedy
    longest-match, [UNK] fallback): (doc_id, n_tokens, tokens[]) with
    all-empty docs kept at n_tokens = 0. Dictionary-join shape: each
    DISTINCT word matches once, the corpus pays one equi-join (the
    dictionary sits behind an aggregation so Catalyst has no stats —
    broadcast it explicitly; a 100 TB dictionary flips to a bucketed
    join, same swap point as bpe_train_encode)."""
    max_raw = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in vocab
    )
    vmap = _wp_vocab_map(vocab)
    words = df.select(
        F.col(id_col), F.posexplode(words_col(text_col)).alias("_p", "word")
    ).filter(F.length("word") > 0)
    vocab_seg = (
        words.select("word")
        .distinct()
        .select("word", _wp_greedy_toks(F.col("word"), vmap, max_raw).alias("s"))
    )
    joined = words.join(F.broadcast(vocab_seg), "word").select(id_col, "_p", "s")
    toks = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "s"))),
            lambda e: e["s"],
        )
    )
    grouped = joined.groupBy(id_col).agg(toks.alias("tokens"))
    empty = F.expr("CAST(array() AS array<string>)")
    return (
        df.select(id_col)
        .join(grouped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.size("tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("tokens"), empty).alias("tokens"),
        )
    )


def wordpiece_train_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = WP_MERGES,
) -> DataFrame:
    """Train, then greedy-encode the corpus under the learned
    vocabulary — the WordPiece twin of bpe_train_encode /
    unigram_train_encode. Unlike BPE's merge-replay, the encode is the
    BERT rule (longest-match against the frozen vocab), so a word CAN
    segment differently than its training-time merge path; on the
    training corpus itself greedy always succeeds because the alphabet
    stays in the vocabulary (words over WP_MAXWORD chars become [UNK],
    the documented cap)."""
    merges, cur = _wp_train_state(df, text_col, n_merges)
    vocab = _wp_vocab(cur)
    max_raw = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in vocab
    )
    vmap = _wp_vocab_map(vocab)
    vocab_seg = cur.select(
        "word", _wp_greedy_toks(F.col("word"), vmap, max_raw).alias("s")
    )
    words = df.select(
        F.col(id_col), F.posexplode(words_col(text_col)).alias("_p", "word")
    ).filter(F.length("word") > 0)
    joined = words.join(F.broadcast(vocab_seg), "word").select(id_col, "_p", "s")
    toks = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "s"))),
            lambda e: e["s"],
        )
    )
    grouped = joined.groupBy(id_col).agg(toks.alias("tokens"))
    empty = F.expr("CAST(array() AS array<string>)")
    return (
        df.select(id_col)
        .join(grouped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.size("tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("tokens"), empty).alias("tokens"),
        )
    )


def _wp_iter_sql(k: int) -> str:
    """One unrolled WordPiece training iteration for the DuckDB twin:
    score every adjacent pair by exact-BIGINT nano-units, pick the
    winner wpt{k}, then apply it with the same greedy-overlap island
    logic as the BPE twin (the merge-apply semantics are identical;
    only the winner selection and the ##-stripped output differ)."""
    prev = f"wps{k - 1}"
    A = f"(SELECT lsym FROM wpt{k})"
    B = f"(SELECT rsym FROM wpt{k})"
    return f"""
    wpp{k} AS (
      SELECT s[i] AS lsym, s[i + 1] AS rsym, CAST(sum(wcount) AS BIGINT) AS total
      FROM (SELECT wcount, s, unnest(range(1, len(s))) AS i FROM {prev})
      GROUP BY 1, 2),
    wpc{k} AS (
      SELECT sym, CAST(sum(wcount) AS BIGINT) AS cnt
      FROM (SELECT wcount, unnest(s) AS sym FROM {prev})
      GROUP BY sym),
    wpt{k} AS MATERIALIZED (
      SELECT p.lsym, p.rsym, p.total,
             CAST((p.total * CAST({WP_SCALE} AS BIGINT)) // (cl.cnt * cr.cnt)
                  AS BIGINT) AS score_nano
      FROM wpp{k} p
      JOIN wpc{k} cl ON cl.sym = p.lsym
      JOIN wpc{k} cr ON cr.sym = p.rsym
      WHERE p.total >= 2
      ORDER BY score_nano DESC, p.lsym ASC, p.rsym ASC LIMIT 1),
    wpe{k} AS (
      SELECT word, wcount, s, unnest(range(1, len(s) + 1)) AS i FROM {prev}),
    wpm{k} AS (
      SELECT word, wcount, i, s[i] AS sym,
             coalesce(i < len(s) AND s[i] = {A} AND s[i + 1] = {B}, FALSE) AS m
      FROM wpe{k}),
    wpi{k} AS (
      SELECT *, CASE WHEN m THEN i - (count(*) FILTER (WHERE m)
                       OVER (PARTITION BY word ORDER BY i)) END AS isl
      FROM wpm{k}),
    wpk{k} AS (
      SELECT word, wcount, i, sym, m,
             coalesce(m AND (i - min(i) OVER (PARTITION BY word, isl)) % 2 = 0,
                      FALSE) AS taken
      FROM wpi{k}),
    wpg{k} AS (
      SELECT word, wcount, i, taken,
             coalesce(lag(taken) OVER (PARTITION BY word ORDER BY i), FALSE)
               AS consumed,
             CASE WHEN taken
                  THEN {A} || regexp_replace({B}, '^##', '')
                  ELSE sym END AS osym
      FROM wpk{k}),
    wps{k} AS MATERIALIZED (
      SELECT word, max(wcount) AS wcount,
             list(osym ORDER BY i) FILTER (WHERE NOT consumed) AS s
      FROM wpg{k} GROUP BY word)"""


def _wp_train_ctes(table: str, text_col: str, n_merges: int) -> str:
    """Shared WITH-body: word dictionary, ##-marked symbol init wps0,
    and ``n_merges`` unrolled iterations wps1..wpsN / wpt1..wptN."""
    w = words_sql(text_col)
    head = f"""
    wpf AS MATERIALIZED (
      SELECT w AS word, count(*) AS wcount
      FROM (SELECT unnest({w}) AS w FROM {table}) WHERE w <> '' GROUP BY w),
    wps0 AS MATERIALIZED (
      SELECT word, wcount,
             list_transform(range(1, length(word) + 1),
               i -> CASE WHEN i = 1 THEN substr(word, 1, 1)
                         ELSE '##' || substr(word, CAST(i AS INT), 1) END) AS s
      FROM wpf)"""
    return head + "," + ",".join(_wp_iter_sql(k) for k in range(1, n_merges + 1))


def wordpiece_train_sql(
    table: str = "documents", text_col: str = "text", n_merges: int = WP_MERGES
) -> str:
    """DuckDB twin of :func:`wordpiece_train` — the likelihood-scored
    training loop unrolled into ``n_merges`` CTE blocks; an iteration
    with no pair at total >= 2 yields an empty wpt{{k}} and every later
    iteration stays empty (same early-stop as the Spark loop)."""
    unions = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, lsym, rsym, total, score_nano"
        f" FROM wpt{k}"
        for k in range(1, n_merges + 1)
    )
    return f"""
    WITH {_wp_train_ctes(table, text_col, n_merges)}
    SELECT * FROM ({unions}) ORDER BY rank
    """


def _wp_greedy_ctes(n_merges: int, tag: str = "", vocab_cte: str | None = None) -> str:
    """Greedy longest-match encode as CTEs ending in wseg{tag}(word,
    toks). wedge precomputes, per (word, consumed-prefix j), the
    LONGEST vocabulary piece starting there; the sequential greedy
    walk then unrolls as WP_MAXWORD rounds where round r advances
    exactly the words whose j is r-1 (greedy consumes >= 1 char per
    step, so every word that can finish within the cap settles). Words
    with no vocabulary match at some position, or longer than
    WP_MAXWORD, collapse to the whole-word [UNK] — bit-identical to
    the Spark fold's rule. ``tag`` namespaces the CTEs so several
    vocabularies can walk in one statement (the budget curve);
    ``vocab_cte`` overrides the default init-∪-final vocabulary."""
    vname = vocab_cte or f"wvocab{tag}"
    default_vocab = f"""
    wvocab{tag} AS MATERIALIZED (
      SELECT DISTINCT sym FROM (
        SELECT unnest(s) AS sym FROM wps0
        UNION ALL
        SELECT unnest(s) AS sym FROM wps{n_merges})),""" if vocab_cte is None else ""
    edges = f"""{default_vocab}
    wedge{tag} AS MATERIALIZED (
      SELECT e.word, e.j, max(e.i) AS i, max_by(e.piece, e.i) AS piece
      FROM (SELECT word, u.j AS j, u.i AS i,
                   CASE WHEN u.j = 0
                        THEN substr(word, 1, CAST(u.i AS INT))
                        ELSE '##' || substr(word, CAST(u.j AS INT) + 1,
                                            CAST(u.i - u.j AS INT)) END AS piece
            FROM (SELECT word,
                         unnest(flatten(list_transform(range(0, length(word)),
                           j -> list_transform(range(j + 1, length(word) + 1),
                                i -> {{'j': j, 'i': i}})))) AS u
                  FROM wpf WHERE length(word) <= {WP_MAXWORD})) e
      JOIN {vname} v ON v.sym = e.piece
      GROUP BY e.word, e.j),
    wgdp{tag}_0 AS (
      SELECT word, CAST(0 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS toks
      FROM wpf WHERE length(word) <= {WP_MAXWORD})"""
    rounds = []
    for r in range(1, WP_MAXWORD + 1):
        rounds.append(f"""
    wgdp{tag}_{r} AS MATERIALIZED (
      SELECT d.word,
             CASE WHEN NOT live THEN d.pos
                  WHEN e.i IS NOT NULL THEN e.i
                  ELSE CAST(-1 AS BIGINT) END AS pos,
             CASE WHEN live AND e.i IS NOT NULL
                  THEN list_append(d.toks, e.piece) ELSE d.toks END AS toks
      FROM (SELECT *, pos = {r - 1} AND pos < length(word) AS live
            FROM wgdp{tag}_{r - 1}) d
      LEFT JOIN wedge{tag} e ON e.word = d.word AND e.j = {r - 1})""")
    seg = f"""
    wseg{tag} AS MATERIALIZED (
      SELECT f.word,
             CASE WHEN g.pos IS NULL OR g.pos <> length(f.word)
                  THEN ['{WP_UNK}'] ELSE g.toks END AS toks
      FROM wpf f LEFT JOIN wgdp{tag}_{WP_MAXWORD} g ON g.word = f.word)"""
    return edges + "," + ",".join(rounds) + "," + seg


def wordpiece_train_encode_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = WP_MERGES,
) -> str:
    """DuckDB twin of :func:`wordpiece_train_encode`: the train CTEs,
    the greedy-walk CTEs, then the dictionary join back to documents
    (tokens space-joined, empty docs kept at n_tokens = 0)."""
    w = words_sql(text_col)
    return f"""
    WITH {_wp_train_ctes(table, text_col, n_merges)},
    {_wp_greedy_ctes(n_merges)},
    wdw AS (
      SELECT {id_col},
             unnest(range(1, len(wl) + 1)) AS pos,
             unnest(wl) AS word
      FROM (SELECT {id_col}, {w} AS wl FROM {table})),
    wencj AS (
      SELECT wdw.{id_col}, pos, toks FROM wdw JOIN wseg USING (word)),
    wagg AS (
      SELECT {id_col},
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
             array_to_string(flatten(list(toks ORDER BY pos)), ' ') AS tokens
      FROM wencj GROUP BY {id_col})
    SELECT d.{id_col},
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
           coalesce(a.tokens, '') AS tokens
    FROM {table} d LEFT JOIN wagg a USING ({id_col})
    """


def wordpiece_vocab(
    df: DataFrame, text_col: str = "text", n_merges: int = WP_MERGES
) -> list[str]:
    """Train and return the frozen WordPiece vocabulary (alphabet ∪
    final symbol table) — the artifact a production pipeline ships to
    its encoders."""
    _, cur = _wp_train_state(df, text_col, n_merges)
    return _wp_vocab(cur)


def wordpiece_encode_batch(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    byte_fallback: bool = False,
) -> DataFrame:
    """Production-vocabulary WordPiece encoder: Arrow-batched
    ``mapInPandas``, byte-equal to :func:`wordpiece_encode`.

    Why not the fold form: the in-row greedy fold carries the
    vocabulary as a literal map, so plan size grows with the
    vocabulary and past a few thousand pieces codegen falls over
    (same failure mode bpe_encode_batch exists for). Here the
    vocabulary ships once per executor as a set, each word runs the
    classic greedy longest-match loop (cost independent of vocabulary
    size), and a per-batch word cache makes the effective unit of
    work the batch's DISTINCT words. Zero shuffle (pure map), Arrow
    batch transfer, O(vocab) bytes per executor. Use for encoding NEW
    text under a frozen production vocabulary; wordpiece_train_encode
    remains the cheapest path on the training corpus itself.

    ``byte_fallback=True`` switches the no-match rule from the BERT
    whole-word [UNK] collapse to the SentencePiece byte escape (the
    unmatched position is consumed as '<0xAB>' UTF-8 byte tokens and
    the walk continues; over-cap words become whole-word byte runs) —
    byte-equal to :func:`wordpiece_encode_bf` by property test."""
    import pandas as pd

    vset = set(vocab)
    max_raw = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in vocab
    )
    out_schema = f"{id_col} long, n_tokens long, tokens array<string>"
    src = df.select(F.col(id_col), words_col(text_col).alias("_ws"))

    def _encode_batches(batches):
        cache: dict[str, list[str]] = {}

        def byte_toks(frag: str) -> list[str]:
            return [f"<0x{b:02X}>" for b in frag.encode("utf-8")]

        def enc_word(w: str) -> list[str]:
            hit = cache.get(w)
            if hit is not None:
                return hit
            if len(w) > WP_MAXWORD:
                out = byte_toks(w) if byte_fallback else [WP_UNK]
            else:
                out, pos = [], 0
                while pos < len(w):
                    for l in range(min(max_raw, len(w) - pos), 0, -1):
                        piece = (
                            w[pos : pos + l]
                            if pos == 0
                            else "##" + w[pos : pos + l]
                        )
                        if piece in vset:
                            out.append(piece)
                            pos += l
                            break
                    else:
                        if byte_fallback:
                            out.extend(byte_toks(w[pos]))
                            pos += 1
                            continue
                        out = [WP_UNK]
                        break
            cache[w] = out
            return out

        for batch in batches:
            toks = [
                [t for w in ws if w for t in enc_word(w)]
                for ws in batch["_ws"]
            ]
            yield pd.DataFrame(
                {
                    id_col: batch[id_col],
                    "n_tokens": [len(t) for t in toks],
                    "tokens": toks,
                }
            )

    return src.mapInPandas(_encode_batches, schema=out_schema)


# ---------------------------------------------------------------------------
# Byte-fallback ([UNK]-free) encoding mode
#
# Production tokenizers (SentencePiece --byte_fallback, GPT-2's
# byte-level BPE) never emit [UNK]: a position the vocabulary cannot
# cover is consumed one character at a time as raw UTF-8 byte tokens
# '<0xAB>'. The scenario that makes this matter is a FROZEN vocabulary
# meeting data it was not trained on, so the operators below strike
# every piece containing a WP_BF_DROP letter from the trained
# vocabulary (the deterministic stand-in for a shipped vocab that does
# not cover the serving distribution) and then encode either under the
# BERT rule (whole word -> [UNK]) or with byte fallback ([UNK]-free).
# ---------------------------------------------------------------------------

WP_BF_DROP = ("q", "w")  # letters struck from the frozen vocabulary


def wordpiece_restrict_vocab(
    vocab: list[str], drop: tuple[str, ...] = WP_BF_DROP
) -> list[str]:
    """The restricted frozen vocabulary: every piece containing a
    dropped letter removed (including its alphabet entries, so the
    greedy walk genuinely dead-ends on those characters)."""
    return [p for p in vocab if not any(ch in p for ch in drop)]


def _byte_toks(s: Column) -> Column:
    """UTF-8 byte tokens of a string: one '<0xAB>' token per byte
    (SentencePiece byte-fallback convention, uppercase hex)."""
    hx = F.hex(F.encode(s, "UTF-8"))
    return F.transform(
        F.sequence(F.lit(1), (F.length(hx) / 2).cast("int")),
        lambda j: F.concat(
            F.lit("<0x"), hx.substr(j * 2 - 1, F.lit(2)), F.lit(">")
        ),
    )


def _wp_greedy_bf_toks(word: Column, vocab_map: Column, max_raw: int) -> Column:
    """Greedy longest-match encode with BYTE FALLBACK: identical walk
    to :func:`_wp_greedy_toks`, except a position with no vocabulary
    match consumes exactly ONE character and emits its UTF-8 bytes as
    '<0xAB>' tokens — the walk always lands at the end of the word and
    no [UNK] is ever produced. Words over WP_MAXWORD collapse to a
    whole-word byte run (the deterministic byte-fallback twin of the
    BERT max_input_chars_per_word rule, and the SQL unroll bound)."""
    n = F.length(word)
    empty = F.expr("CAST(array() AS array<string>)")
    init = F.struct(F.lit(1).cast("long").alias("pos"), empty.alias("toks"))

    def step(acc, i):
        cands = F.filter(
            F.transform(
                F.sequence(F.least(F.lit(max_raw), n - i + 1), F.lit(1), F.lit(-1)),
                lambda l: F.struct(
                    l.cast("long").alias("l"),
                    F.when(i == F.lit(1), word.substr(i, l))
                    .otherwise(F.concat(F.lit("##"), word.substr(i, l)))
                    .alias("piece"),
                ),
            ),
            lambda c: F.element_at(vocab_map, c["piece"]).isNotNull(),
        )
        best = F.get(cands, 0)
        advanced = F.when(
            best.isNull(),
            F.struct(
                (acc["pos"] + 1).cast("long").alias("pos"),
                F.concat(
                    acc["toks"], _byte_toks(word.substr(i, F.lit(1)))
                ).alias("toks"),
            ),
        ).otherwise(
            F.struct(
                (acc["pos"] + best["l"]).cast("long").alias("pos"),
                F.concat(acc["toks"], F.array(best["piece"])).alias("toks"),
            )
        )
        return F.when(acc["pos"] == i.cast("long"), advanced).otherwise(acc)

    res = F.aggregate(F.sequence(F.lit(1), n), init, step)
    return F.when(n > F.lit(WP_MAXWORD), _byte_toks(word)).otherwise(res["toks"])


def wordpiece_encode_bf(
    df: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode a corpus against a frozen vocabulary with byte fallback:
    (doc_id, n_tokens, n_byte_tokens, tokens[]), all-empty docs kept
    at n_tokens = 0. Same dictionary-join shape as
    :func:`wordpiece_encode` — each DISTINCT word segments once via
    the broadcast vocabulary, the corpus pays one equi-join."""
    max_raw = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in vocab
    )
    vmap = _wp_vocab_map(vocab)
    words = df.select(
        F.col(id_col), F.posexplode(words_col(text_col)).alias("_p", "word")
    ).filter(F.length("word") > 0)
    vocab_seg = (
        words.select("word")
        .distinct()
        .select(
            "word", _wp_greedy_bf_toks(F.col("word"), vmap, max_raw).alias("s")
        )
    )
    joined = words.join(F.broadcast(vocab_seg), "word").select(id_col, "_p", "s")
    toks = F.flatten(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_p", "s"))),
            lambda e: e["s"],
        )
    )
    grouped = joined.groupBy(id_col).agg(toks.alias("tokens"))
    empty = F.expr("CAST(array() AS array<string>)")
    return (
        df.select(id_col)
        .join(grouped, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.size("tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            F.coalesce(
                F.size(F.filter(F.col("tokens"), lambda t: t.like("<0x%"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("n_byte_tokens"),
            F.coalesce(F.col("tokens"), empty).alias("tokens"),
        )
    )


def wordpiece_bf_train_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = WP_MERGES,
    drop: tuple[str, ...] = WP_BF_DROP,
) -> DataFrame:
    """Train, restrict the frozen vocabulary (strike WP_BF_DROP
    pieces), then byte-fallback-encode the corpus — the [UNK]-free
    twin of :func:`wordpiece_restricted_train_encode`."""
    _, cur = _wp_train_state(df, text_col, n_merges)
    vocab = wordpiece_restrict_vocab(_wp_vocab(cur), drop)
    return wordpiece_encode_bf(df, vocab, text_col, id_col)


def wordpiece_restricted_train_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = WP_MERGES,
    drop: tuple[str, ...] = WP_BF_DROP,
) -> DataFrame:
    """Train, restrict the frozen vocabulary, then encode under the
    plain BERT rule — any word touching a dropped letter collapses to
    [UNK]. The baseline the byte-fallback mode is measured against in
    tokenizer_compare."""
    _, cur = _wp_train_state(df, text_col, n_merges)
    vocab = wordpiece_restrict_vocab(_wp_vocab(cur), drop)
    return wordpiece_encode(df, vocab, text_col, id_col)


def wordpiece_restricted_totals(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = WP_MERGES,
    drop: tuple[str, ...] = WP_BF_DROP,
    vocab: list[str] | None = None,
) -> DataFrame:
    """Corpus totals (total_tokens, unk_tokens) of the restricted-vocab
    BERT-rule encode WITHOUT materializing per-doc token rows: each
    DISTINCT word segments once against the broadcast vocabulary and
    the totals are frequency-weighted sums over the word dictionary —
    the cheap shape for a rate-only consumer (tokenizer_compare's
    wordpiece_restricted row). Values equal the per-doc encode's sums
    by construction. Pass the FROZEN trained ``vocab`` (pre-restriction)
    to skip the training loop — the frozen-tokenizer pattern every
    other rate consumer uses."""
    if vocab is None:
        _, cur = _wp_train_state(df, text_col, n_merges)
        vocab = _wp_vocab(cur)
    vocab = wordpiece_restrict_vocab(vocab, drop)
    max_raw = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in vocab
    )
    vmap = _wp_vocab_map(vocab)
    seg = word_freq(df, text_col).select(
        "word",
        "wcount",
        _wp_greedy_toks(F.col("word"), vmap, max_raw).alias("toks"),
    )
    unk = F.size(F.filter(F.col("toks"), lambda t: t == F.lit(WP_UNK)))
    return seg.agg(
        F.sum(F.col("wcount") * F.size("toks")).cast("bigint").alias("total_tokens"),
        F.sum(F.col("wcount") * unk).cast("bigint").alias("unk_tokens"),
    )


def wordpiece_restricted_totals_sql(
    table: str = "documents",
    text_col: str = "text",
    n_merges: int = WP_MERGES,
    drop: tuple[str, ...] = WP_BF_DROP,
) -> str:
    """DuckDB twin of :func:`wordpiece_restricted_totals` — the greedy
    walk over the word dictionary, frequency-weighted sums, no per-doc
    assembly."""
    return f"""
    WITH {_wp_train_ctes(table, text_col, n_merges)},
    {_wp_restricted_vocab_cte(n_merges, "wvocabr", drop)},
    {_wp_greedy_ctes(n_merges, "r", vocab_cte="wvocabr")}
    SELECT CAST(sum(f.wcount * len(g.toks)) AS BIGINT) AS total_tokens,
           CAST(sum(f.wcount * len(list_filter(g.toks, t -> t = '{WP_UNK}')))
                AS BIGINT) AS unk_tokens
    FROM wpf f JOIN wsegr g USING (word)
    """


def _sql_not_like(col: str, drop: tuple[str, ...]) -> str:
    return " AND ".join(f"{col} NOT LIKE '%{ch}%'" for ch in drop)


def _sql_byte_toks(expr: str) -> str:
    """DuckDB twin of :func:`_byte_toks` for a VARCHAR expression."""
    return (
        f"list_transform(range(0, length(hex(encode({expr}))) // 2),"
        f" k -> '<0x' || substr(hex(encode({expr})),"
        f" CAST(k * 2 + 1 AS INT), 2) || '>')"
    )


def _wp_restricted_vocab_cte(
    n_merges: int, name: str, drop: tuple[str, ...]
) -> str:
    return f"""
    {name} AS MATERIALIZED (
      SELECT DISTINCT sym FROM (
        SELECT unnest(s) AS sym FROM wps0
        UNION ALL
        SELECT unnest(s) AS sym FROM wps{n_merges})
      WHERE {_sql_not_like("sym", drop)})"""


def _wp_greedy_bf_ctes(
    n_merges: int, tag: str = "bf", drop: tuple[str, ...] = WP_BF_DROP
) -> str:
    """Byte-fallback greedy walk as CTEs ending in wseg{tag}(word,
    toks): the :func:`_wp_greedy_ctes` unroll against the restricted
    vocabulary, except a live position with no wedge row consumes one
    character and appends its byte tokens (so every word that fits the
    cap settles at pos = length); words over WP_MAXWORD collapse to a
    whole-word byte run — bit-identical to the Spark fold's rule."""
    vname = f"wvocab{tag}"
    edges = f"""{_wp_restricted_vocab_cte(n_merges, vname, drop)},
    wedge{tag} AS MATERIALIZED (
      SELECT e.word, e.j, max(e.i) AS i, max_by(e.piece, e.i) AS piece
      FROM (SELECT word, u.j AS j, u.i AS i,
                   CASE WHEN u.j = 0
                        THEN substr(word, 1, CAST(u.i AS INT))
                        ELSE '##' || substr(word, CAST(u.j AS INT) + 1,
                                            CAST(u.i - u.j AS INT)) END AS piece
            FROM (SELECT word,
                         unnest(flatten(list_transform(range(0, length(word)),
                           j -> list_transform(range(j + 1, length(word) + 1),
                                i -> {{'j': j, 'i': i}})))) AS u
                  FROM wpf WHERE length(word) <= {WP_MAXWORD})) e
      JOIN {vname} v ON v.sym = e.piece
      GROUP BY e.word, e.j),
    wgdp{tag}_0 AS (
      SELECT word, CAST(0 AS BIGINT) AS pos, CAST([] AS VARCHAR[]) AS toks
      FROM wpf WHERE length(word) <= {WP_MAXWORD})"""
    rounds = []
    for r in range(1, WP_MAXWORD + 1):
        fallback = _sql_byte_toks(f"substr(d.word, {r}, 1)")
        rounds.append(f"""
    wgdp{tag}_{r} AS MATERIALIZED (
      SELECT d.word,
             CASE WHEN NOT live THEN d.pos
                  WHEN e.i IS NOT NULL THEN e.i
                  ELSE CAST({r} AS BIGINT) END AS pos,
             CASE WHEN NOT live THEN d.toks
                  WHEN e.i IS NOT NULL THEN list_append(d.toks, e.piece)
                  ELSE list_concat(d.toks, {fallback}) END AS toks
      FROM (SELECT *, pos = {r - 1} AND pos < length(word) AS live
            FROM wgdp{tag}_{r - 1}) d
      LEFT JOIN wedge{tag} e ON e.word = d.word AND e.j = {r - 1})""")
    seg = f"""
    wseg{tag} AS MATERIALIZED (
      SELECT f.word,
             CASE WHEN g.pos IS NULL THEN {_sql_byte_toks("f.word")}
                  ELSE g.toks END AS toks
      FROM wpf f LEFT JOIN wgdp{tag}_{WP_MAXWORD} g ON g.word = f.word)"""
    return edges + "," + ",".join(rounds) + "," + seg


def _wp_doc_join_sql(
    table: str, text_col: str, id_col: str, seg: str, with_bytes: bool
) -> str:
    w = words_sql(text_col)
    byte_col = (
        f"""
             CAST(coalesce(sum(len(list_filter(toks, t -> t LIKE '<0x%'))), 0)
                  AS BIGINT) AS n_byte_tokens,"""
        if with_bytes
        else ""
    )
    byte_out = (
        f"\n           CAST(coalesce(a.n_byte_tokens, 0) AS BIGINT) AS n_byte_tokens,"
        if with_bytes
        else ""
    )
    return f"""
    wdw AS (
      SELECT {id_col},
             unnest(range(1, len(wl) + 1)) AS pos,
             unnest(wl) AS word
      FROM (SELECT {id_col}, {w} AS wl FROM {table})),
    wencj AS (
      SELECT wdw.{id_col}, pos, toks FROM wdw JOIN {seg} USING (word)),
    wagg AS (
      SELECT {id_col},
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens,{byte_col}
             array_to_string(flatten(list(toks ORDER BY pos)), ' ') AS tokens
      FROM wencj GROUP BY {id_col})
    SELECT d.{id_col},
           CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,{byte_out}
           coalesce(a.tokens, '') AS tokens
    FROM {table} d LEFT JOIN wagg a USING ({id_col})"""


def wordpiece_bf_train_encode_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = WP_MERGES,
    drop: tuple[str, ...] = WP_BF_DROP,
) -> str:
    """DuckDB twin of :func:`wordpiece_bf_train_encode`: train CTEs,
    restricted vocabulary, byte-fallback greedy walk, dictionary join
    back to documents (tokens space-joined, empty docs at 0)."""
    return f"""
    WITH {_wp_train_ctes(table, text_col, n_merges)},
    {_wp_greedy_bf_ctes(n_merges, "bf", drop)},
    {_wp_doc_join_sql(table, text_col, id_col, "wsegbf", True)}
    """


def wordpiece_restricted_train_encode_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = WP_MERGES,
    drop: tuple[str, ...] = WP_BF_DROP,
) -> str:
    """DuckDB twin of :func:`wordpiece_restricted_train_encode` — the
    standard greedy walk against the restricted vocabulary."""
    return f"""
    WITH {_wp_train_ctes(table, text_col, n_merges)},
    {_wp_restricted_vocab_cte(n_merges, "wvocabr", drop)},
    {_wp_greedy_ctes(n_merges, "r", vocab_cte="wvocabr")},
    {_wp_doc_join_sql(table, text_col, id_col, "wsegr", False)}
    """


WP_BUDGET_MERGES = (6, 12, 24)  # merge budgets for the curve


def wordpiece_budget_curve(
    df: DataFrame,
    budgets: tuple[int, ...] = WP_BUDGET_MERGES,
    text_col: str = "text",
    train_state: tuple[list, DataFrame] | None = None,
) -> DataFrame:
    """Fertility / compression vs MERGE BUDGET for WordPiece — the
    wordpiece twin of unigram_budget_curve, exploiting that WordPiece
    merges are PREFIX-NESTED: a b-merge tokenizer's vocabulary is the
    alphabet plus the first b merge outputs of the max-budget run, so
    ONE training run at max(budgets) serves every point (the
    ann_budget_curve nesting lesson applied to tokenizers). The curve
    vocabulary is the HF-true alphabet-∪-first-b-outputs set — unlike
    wordpiece_train_encode's live init-∪-final-table vocabulary, it
    keeps intermediate outputs later absorbed by bigger merges, which
    is exactly what makes the budgets nest.

    Scale shape: ONE corpus shuffle (the shared word-freq table inside
    the single training run); per budget the greedy encode runs over
    the word DICTIONARY only (total_tokens = Σ wcount·|pieces| over
    distinct words) — no budget re-scans the corpus."""
    from tinyetl_spark.operators.text import floor_round

    # ``train_state``: a (merges, final symbol table) pair trained at
    # >= max(budgets) merges — the per-process frozen-train share
    # (prefix nesting makes it value-identical to training inline).
    if train_state is not None:
        merges, cur = train_state
        merges = merges[: max(budgets)]
    else:
        merges, cur = _wp_train_state(df, text_col, max(budgets))
    outs = [_wp_merge_out(a, b) for _, a, b, _, _ in merges]
    alphabet = sorted(
        r["p"]
        for r in cur.select(
            F.explode(_wp_sym_init(F.col("word"))).alias("p")
        )
        .distinct()
        .collect()
    )
    # ONE dictionary pass computes every budget's totals: per budget a
    # greedy-fold token count column (same folds as before), aggregated
    # together — the per-budget jobs each replayed the dictionary scan
    # for identical sums of the shared wcount/wlen terms (r12: 3 jobs +
    # 3 scans -> 1 job + 1 scan; the folds themselves are unchanged, so
    # every total is bit-identical).
    tok_cols = []
    for b in budgets:
        vocab = sorted(set(alphabet) | set(outs[:b]))
        max_raw = max(
            (len(p) - 2 if p.startswith("##") else len(p)) for p in vocab
        )
        vmap = _wp_vocab_map(vocab)
        tok_cols.append(
            F.size(_wp_greedy_toks(F.col("word"), vmap, max_raw))
            .cast("bigint")
            .alias(f"_nt{b}")
        )
    seg = cur.select(
        F.col("wcount").cast("bigint").alias("wcount"),
        F.length("word").cast("bigint").alias("wlen"),
        *tok_cols,
    )
    r = seg.agg(
        *[
            F.sum(F.col("wcount") * F.col(f"_nt{b}"))
            .cast("bigint")
            .alias(f"_t{b}")
            for b in budgets
        ],
        F.sum("wcount").cast("bigint").alias("w"),
        F.sum(F.col("wcount") * F.col("wlen")).cast("bigint").alias("c"),
    ).collect()[0]
    rows = [
        (int(b), int(r[f"_t{b}"]), int(r["w"]), int(r["c"])) for b in budgets
    ]
    out = df.sparkSession.createDataFrame(
        rows,
        "n_merges bigint, total_tokens bigint, total_words bigint, "
        "total_chars bigint",
    )
    return out.select(
        "n_merges",
        "total_tokens",
        "total_words",
        floor_round(
            F.col("total_tokens").cast("double")
            / F.col("total_words").cast("double"),
            6,
        ).alias("fertility"),
        floor_round(
            F.col("total_chars").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        ).alias("chars_per_token"),
    ).orderBy("n_merges")


def wordpiece_budget_curve_sql(
    table: str = "documents",
    budgets: tuple[int, ...] = WP_BUDGET_MERGES,
    text_col: str = "text",
) -> str:
    """DuckDB twin: ONE unrolled training chain at max(budgets); per
    budget a vocab CTE (init alphabet ∪ first b merge outputs) and a
    tagged greedy walk over the dictionary, aggregated to the same
    corpus totals."""
    from tinyetl_spark.operators.text import floor_round_sql

    n_max = max(budgets)
    parts = [_wp_train_ctes(table, text_col, n_max)]
    selects = []
    for b in budgets:
        outs = " UNION ALL ".join(
            f"SELECT lsym || regexp_replace(rsym, '^##', '') AS sym FROM wpt{k}"
            for k in range(1, b + 1)
        )
        parts.append(f"""
    wvoc_b{b} AS MATERIALIZED (
      SELECT DISTINCT sym FROM (
        SELECT unnest(s) AS sym FROM wps0
        UNION ALL
        {outs}))""")
        parts.append(_wp_greedy_ctes(n_max, tag=f"_b{b}", vocab_cte=f"wvoc_b{b}"))
        selects.append(f"""
      SELECT CAST({b} AS BIGINT) AS n_merges,
             CAST(sum(f.wcount * len(s.toks)) AS BIGINT) AS total_tokens,
             CAST(sum(f.wcount) AS BIGINT) AS total_words,
             CAST(sum(f.wcount * length(f.word)) AS BIGINT) AS total_chars
      FROM wpf f JOIN wseg_b{b} s ON f.word = s.word""")
    union = " UNION ALL ".join(selects)
    return f"""
    WITH {",".join(parts)}
    SELECT n_merges, total_tokens, total_words,
           {floor_round_sql(
               "CAST(total_tokens AS DOUBLE) / CAST(total_words AS DOUBLE)", 6)}
             AS fertility,
           {floor_round_sql(
               "CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE)", 6)}
             AS chars_per_token
    FROM ({union})
    ORDER BY n_merges
    """
