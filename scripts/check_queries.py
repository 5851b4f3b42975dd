"""Oracle re-proof for a few queries at one or more scales.

Same normalization as tests/test_oracle.py / scripts/sweep_sf001.py,
but only for the names given on the command line. Each name runs
twice per scale in one JVM: a cold rep (it builds any shared artifact
or staged table) and a warm rep (it reuses them). Both are compared
with the DuckDB oracle, and one line per name prints both statuses and
an md5 of the normalized oracle rows:

    /root/testdata/sf0.01 ann_rpq_topk: cold=OK warm=OK rows=10 oracle_md5=...

Stdout is deterministic, so re-proving a changed oracle twin against
the previous commit's twin is a ``diff`` of this script's stdout run in
each checkout. Timings go to stderr.

Usage: python scripts/check_queries.py name [name ...] [--sf dir ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import TABLES  # noqa: E402
from tests.test_oracle import _normalize  # noqa: E402
from tinyetl_spark.queries import ORACLES, QUERIES  # noqa: E402
from tinyetl_spark.session import get_spark  # noqa: E402


def _status(got, want) -> str:
    gc, gr = _normalize(got)
    wc, wr = want
    if gc != wc:
        return f"COLS-MISMATCH({gc} vs {wc})"
    if len(gr) != len(wr):
        return f"ROWS-MISMATCH({len(gr)} vs {len(wr)})"
    bad = [(i, a, b) for i, (a, b) in enumerate(zip(gr, wr)) if a != b]
    return "OK" if not bad else f"VALUES-MISMATCH(first={bad[0]!r} n={len(bad)})"


def main() -> int:
    args = sys.argv[1:]
    sf_dirs = []
    names = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf_dirs.append(next(it))
        else:
            names.append(a)
    if not sf_dirs:
        sf_dirs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    spark = get_spark()
    rc = 0
    for sf_dir in sf_dirs:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        for name in names:
            reps = []
            for rep in ("cold", "warm"):
                t0 = time.time()
                reps.append((rep, QUERIES[name](spark, sf_dir).toPandas(), time.time() - t0))
            timing = " ".join(f"{rep}={s:.1f}s" for rep, _, s in reps)
            print(f"{sf_dir} {name}: {timing}", file=sys.stderr, flush=True)
            if name not in ORACLES:
                rows = " ".join(f"{rep}=ROWS-ONLY({len(got)})" for rep, got, _ in reps)
                print(f"{sf_dir} {name}: {rows}", flush=True)
                continue
            want = _normalize(con.execute(ORACLES[name]).df())
            digest = hashlib.md5(repr(want).encode()).hexdigest()
            statuses = [(rep, _status(got, want)) for rep, got, _ in reps]
            if any(s != "OK" for _, s in statuses):
                rc = 1
            print(
                f"{sf_dir} {name}: "
                + " ".join(f"{rep}={s}" for rep, s in statuses)
                + f" rows={len(want[1])} oracle_md5={digest}",
                flush=True,
            )
        con.close()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
