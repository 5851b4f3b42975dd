"""Mirror of the driver's correctness gate: run every registered query
on Spark and its DuckDB oracle on the same parquet tables, compare
row count, column names, and exact values (rows sorted by all columns,
columns sorted by name)."""

from __future__ import annotations

import math
from decimal import Decimal

import pytest

from tests.conftest import SF_DIR
from tinyetl_spark.queries import ORACLES, QUERIES

# Exhaustive tier (see pytest.ini): the full-registry DuckDB value
# replay is the bulk of the suite's wall time and exceeds the driver's
# verify budget — opt in with `-m full`. A smoke set stays in the
# default tier so it checks values: one query per parsed-fold builder
# (norm_col, cosine_col against a column and against a literal array,
# the Viterbi token fold, the 2-best Viterbi fold), the two queries
# that reuse a memoized fit (DSIR's bucket model, the Count-Min sketch),
# the residual-PQ codec at its two ends: 1 stage, no cross term
# (PQ) and 3 stages, three cross tables (RPQ3, reranked), and the
# two-phase ordered scan partitioned by a column (per-source AUC, and
# the per-source CCNet tiling whose buckets are quantile cut).
SMOKE = {
    "embedding_norms",
    "ann_brute_topk",
    "ann_binary_rerank_topk",
    "ann_pq_topk",
    "ann_rpq3_rerank_topk",
    "unigram_encode_docs",
    "unigram_ambiguity",
    "dsir_select_docs",
    "count_min_heavy_hitters",
    "classifier_auc_by_source",
    "perplexity_buckets",
}


def _normalize_cell(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    # list-valued cells: Spark hands back python lists, DuckDB numpy
    # arrays — normalize both to tuples so equality is well-defined
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("l", tuple(_normalize_cell(x) for x in v))
    return v


def _normalize(df_pandas):
    cols = sorted(df_pandas.columns)
    rows = [
        tuple(_normalize_cell(v) for v in row)
        for row in df_pandas[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=repr)
    return cols, rows


@pytest.mark.parametrize(
    "name",
    [n if n in SMOKE else pytest.param(n, marks=pytest.mark.full) for n in sorted(QUERIES)],
)
def test_query_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    got = sdf.toPandas()
    if name not in ORACLES:
        # rows-only check (non-SQL-expressible op): every registered
        # query must still produce rows and named columns on testdata
        assert len(got) > 0, f"{name}: no-oracle query produced 0 rows"
        assert list(got.columns), f"{name}: no columns"
        return
    want = duck.execute(ORACLES[name]).df()
    got_cols, got_rows = _normalize(got)
    want_cols, want_rows = _normalize(want)
    assert got_cols == want_cols, f"{name}: columns differ: {got_cols} vs {want_cols}"
    assert len(got_rows) == len(want_rows), (
        f"{name}: row count {len(got_rows)} vs oracle {len(want_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(got_rows, want_rows)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[:3]}"
