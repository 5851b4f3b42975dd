"""Workload definitions: the query lists (with the reason each is on its
list), the transfer job, and the input sizes."""

from __future__ import annotations

# Per-query splits below are construct+execute seconds of the cold rep,
# then of the warm rep, at the workload's scale on 4 cores (seed 1).

# query_driver (sf0.01): tiny data, so a query's wall is driver-side
# construction (py4j calls, eager collects, staging jobs) plus Catalyst
# and scheduling. One query per operator module; dsir_select_docs and
# fuzzy_decontam are also two of the construction-bound queries the
# r12/r13 records name. The others they name (ann_budget_curve at
# 19.2+6.8 s cold, lm_ladder_compare, retrieval_ndcg,
# lsh_parameter_curve, bpe_train_merges and unigram_budget_curve at 4-8 s
# a rep) do not fit the benchmark's time budget: every run pays two JVM
# set-ups and checks every rep against its DuckDB oracle.
QUERY_DRIVER: dict[str, str] = {
    "dsir_select_docs": "dsir; construction-bound (r12): 4.12+1.17, 1.81+0.66",
    "fuzzy_decontam": "dedup and text; construction-bound (r12): 3.35+0.10, 2.42+0.06",
    "quality_classifier_docs": "classifier; the cold rep trains the shared model: 7.50+0.40, 0.26+0.45",
    "fuzzy_join_phrases": "fuzzy: 0.45+0.88, 0.56+0.56",
    "multimodal_meta": "multimodal: 0.18+0.09, 0.17+0.06",
    "asof_purchase_view": "relational: 0.33+0.58, 0.33+0.25",
    "ann_binary_rerank_topk": "similarity; the cold rep stages the binary codes: 1.54+0.29, 0.55+0.21",
    "count_min_heavy_hitters": "sketches: 0.84+0.44, 0.50+0.23",
    "bpe_pair_counts": "tokenizer: 0.19+0.45, 0.16+0.19",
}

# query_data (sf0.1): the candidates with the highest execute share of
# wall, so scans, shuffles and spill dominate. Runnable by hand for scan
# or shuffle changes; not in BENCHMARK.json (see perfbench/README.md).
QUERY_DATA: dict[str, str] = {
    "profile_lineitem": "full-width lineitem profile; execute 91% of the warm rep: 0.48+4.57",
    "dup_passage_spans": "passage explode and self-join; execute 92%: 0.32+3.92",
    "q21_waiting_supplier": "lineitem self-joins and anti-join; execute 81%: 0.50+2.16",
    "revenue_by_nation": "lineitem-orders-customer join and aggregate; execute 74%: 0.43+1.23",
}

# toy size: a few cheap queries per list, for the self-test
TOY_QUERIES = {
    "query_driver": ["multimodal_meta", "count_min_heavy_hitters", "bpe_pair_counts"],
    "query_data": ["revenue_by_nation", "q8_market_share"],
}

# Passes every run makes, whatever --seconds says: pass 1 is the cold
# rep, the rest are warm reps. The JIT is still compiling over the first
# warm reps (a transfer leg keeps getting faster until about the fifth
# rep, a query's second warm rep is 5-20% faster than its first), so an
# untraced run makes enough warm reps for their medians to land on warmed
# ones. A traced run (--trace 1) runs the workload twice, untraced then
# traced, so it makes fewer passes to stay within the command's time
# budget; its per-layer metrics carry no bound.
MIN_PASSES = {"etl_transfer": 7, "query_driver": 3, "query_data": 2}
TRACE_PASSES = {"etl_transfer": 4, "query_driver": 2, "query_data": 2}

SIZES = {
    # workload -> {size -> scale}: rows of the transfer CSV, or query sf
    "etl_transfer": {"full": 30_000, "toy": 2_000},
    "query_driver": {"full": 0.01, "toy": 0.001},
    "query_data": {"full": 0.1, "toy": 0.001},
}

# ------------------------------------------------------------- transfer

ETL_SCHEMA = """\
columns:
  - {name: id, type: integer, nullable: false}
  - {name: customer, type: string, nullable: false}
  - {name: amount, type: decimal, nullable: false}
  - {name: quantity, type: integer, nullable: false}
  - {name: order_date, type: date, nullable: false}
  - {name: region, type: string, nullable: false}
  - {name: discount, type: decimal, nullable: false, default: 0}
  - {name: email, type: string, nullable: true, pattern: '^[^@]+@[^@]+$'}
"""

# override one column, derive four: 8 columns in, 12 out
ETL_TRANSFORM = (
    "customer=string.upper(customer); "
    "total=amount * quantity; "
    "net=total * (1 - discount); "
    "band=total > 5000 and 'big' or 'small'; "
    "name_len=string.len(customer)"
)

ETL_COLUMNS = [
    "id", "customer", "amount", "quantity", "order_date", "region",
    "discount", "email", "total", "net", "band", "name_len",
]

# The same pipeline in DuckDB SQL over the raw CSV text (``src``) and a
# checksum over a landed target (``landed``). Both sides are computed by
# DuckDB, never by Spark.
ETL_EXPECTED_SQL = r"""
SELECT id, upper(customer) AS customer, CAST(amount AS DOUBLE) AS amount,
       CAST(quantity AS BIGINT) AS quantity,
       CAST(amount AS DOUBLE) * CAST(quantity AS BIGINT) AS total,
       CAST(amount AS DOUBLE) * CAST(quantity AS BIGINT)
         * (1 - coalesce(CAST(discount AS DOUBLE), 0)) AS net,
       CASE WHEN CAST(amount AS DOUBLE) * CAST(quantity AS BIGINT) > 5000
            THEN 'big' ELSE 'small' END AS band,
       length(upper(customer)) AS name_len,
       coalesce(CAST(discount AS DOUBLE), 0) AS discount,
       region, email, order_date
FROM src
WHERE email IS NULL OR regexp_full_match(email, '[^@]+@[^@]+')
"""

ETL_CHECKSUM_SQL = """
SELECT count(*) AS rows,
       sum(CAST(id AS BIGINT)) AS id_sum,
       sum(CAST(quantity AS BIGINT)) AS qty_sum,
       sum(CAST(name_len AS BIGINT)) AS name_len_sum,
       count(*) FILTER (WHERE band = 'big') AS big_rows,
       count(*) FILTER (WHERE CAST(discount AS DOUBLE) = 0) AS zero_discount,
       count(order_date) AS dated_rows,
       md5(string_agg(customer || '|' || region || '|' || band || '|'
                      || coalesce(email, ''), ',' ORDER BY CAST(id AS BIGINT))) AS text_md5,
       sum(CAST(total AS DOUBLE)) AS total_sum,
       sum(CAST(net AS DOUBLE)) AS net_sum
FROM landed
"""
FLOAT_KEYS = ("total_sum", "net_sum")
