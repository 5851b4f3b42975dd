"""One workload in one process with one fresh JVM.

Started by ``run.py`` with the path of a JSON spec. Writes one JSON line
per event to the spec's ``progress`` file: ``ready`` once the session is
up and warmed, ``plan`` with the number of mandatory operations, ``op``
per finished operation, then ``result``. The parent reads that file, so
a child killed on timeout still leaves an account of what it did.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads as W  # noqa: E402


class Progress:
    def __init__(self, path: str) -> None:
        self.fh = open(path, "a", encoding="utf-8")

    def emit(self, **ev) -> None:
        self.fh.write(json.dumps(ev) + "\n")
        self.fh.flush()

    def close(self) -> None:
        self.fh.close()


# ---------------------------------------------------------- normalize

def _normalize_cell(v):
    """The normalization of tests/test_oracle.py (kept here so the
    benchmark does not change when the tests do): Decimal, float and
    list cells made comparable across Spark and DuckDB."""
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if hasattr(v, "isoformat"):
        return ("t", v.isoformat())
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return ("l", tuple(_normalize_cell(x) for x in v))
    return v


def normalize(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_normalize_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    rows.sort(key=repr)
    return cols, rows


def compare(got, want) -> str | None:
    """None when equal, else a short reason."""
    gc, gr = normalize(got)
    wc, wr = normalize(want)
    if gc != wc:
        return f"columns differ: {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} vs oracle {len(wr)}"
    bad = sum(1 for a, b in zip(gr, wr) if a != b)
    return f"{bad} mismatched rows" if bad else None


# ------------------------------------------------------------- session

def start_session(spec: dict, tracer):
    from tinyetl_spark import session

    tmp = spec["tmp"]
    java_opts = " ".join([
        "-XX:ReservedCodeCacheSize=1g",
        "-XX:-UsePerfData",
        # a fixed heap and young generation: G1 then makes no sizing
        # decisions from how fast the host happens to run, which otherwise
        # spread the JVM's peak resident set by a fifth of its median
        # over ten seeds (0.02 with these)
        f"-Xms{spec['driver_memory']}",
        f"-Xmn{spec['young_gen']}",
        f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
        f"-Dderby.system.home={os.path.join(tmp, 'derby')}",
    ])
    conf = {
        "spark.driver.memory": spec["driver_memory"],
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": os.path.join(tmp, "local"),
    }
    if spec["trace"]:
        os.makedirs(spec["event_log"], exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + spec["event_log"],
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name=f"perfbench-{spec['workload']}",
        master=f"local[{spec['cores']}]",
        extra_conf=conf,
    )
    if tracer is None:
        get_spark_s = time.perf_counter() - t0
    else:
        get_spark_s = tracer.inclusive.get("session.get_spark", 0.0)
    spark.range(1000).selectExpr("sum(id)").collect()  # warm-up action
    return spark, get_spark_s


def stop_session(spark) -> None:
    """Stop Spark, then close the gateway JVM and reap it, so it is gone
    (and counted in this process's child rusage) before we exit."""
    from pyspark import SparkContext

    from py4j.protocol import Py4JError

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                gateway.shutdown()
            except Py4JError:
                pass  # the JVM is already gone
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Jobs:
    """Spark jobs per job group, through the status tracker (traced runs
    only; the untraced run sets no job groups)."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled

    def group(self, name: str) -> None:
        if self.enabled:
            self.sc.setJobGroup(name, name)

    def count(self, name: str) -> int:
        if not self.enabled:
            return 0
        return len(self.sc.statusTracker().getJobIdsForGroup(name))


# ------------------------------------------------------------ workloads

def run_queries(spec, spark, progress, jobs, tracer) -> dict:
    from tinyetl_spark import queries

    names = spec["queries"]
    sf_dir = spec["data_dir"]
    deadline = spec["deadline"]
    min_passes = spec["min_passes"]
    progress.emit(ev="plan", ops=min_passes * len(names))
    reps = []          # one dict per rep
    kept = {}          # (name, pass) -> DataFrame, for the checks
    passes = 0
    t_start = time.perf_counter()
    wall = None
    if tracer is not None:
        tracer.reset()
    # extra warm passes fill --seconds, but none starts within a minute of
    # the deadline, which leaves time for the checks
    while passes < min_passes or (time.perf_counter() - t_start < spec["seconds"]
                                  and time.time() < deadline - 60):
        for name in names:
            group = f"{layers.TIMED_GROUP}{name}:{passes}"
            rep = {"name": name, "pass": passes, "ok": True}
            try:
                jobs.group(group + ":c")
                t0 = time.perf_counter()
                df = queries.QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                jobs.group(group + ":x")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                rep.update(construct_s=t1 - t0, execute_s=t2 - t1, wall_s=t2 - t0,
                           eager_jobs=jobs.count(group + ":c"),
                           exec_jobs=jobs.count(group + ":x"))
                kept[(name, passes)] = df
            except Exception as exc:  # one failed query must not stop the rest
                rep.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:300])
            reps.append(rep)
        passes += 1
        if passes == min_passes:
            wall = time.perf_counter() - t_start
    elapsed = time.perf_counter() - t_start
    layer = tracer_snapshot(tracer)

    # ---- off the clock: every rep against its oracle; DuckDB computes
    # the oracles in a thread while Spark collects
    jobs.group(layers.CHECK_GROUP)
    rows_out = {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        oracles = pool.submit(_oracles, queries.ORACLES, names, sf_dir, spec["tables"])
        got = {}
        for rep in reps:
            if rep["ok"]:
                try:
                    got[id(rep)] = kept[(rep["name"], rep["pass"])].toPandas()
                except Exception as exc:
                    rep.update(ok=False, error=f"check: {type(exc).__name__}: {exc}"[:300])
        wants = oracles.result()
    for rep in reps:
        name = rep["name"]
        if rep["ok"]:
            out = got[id(rep)]
            if spec.get("inject_fault") and rep is reps[0]:
                out = _corrupt(out)
            rows_out[name] = len(out)
            want = wants.get(name)
            if isinstance(want, Exception):
                err = f"oracle failed: {type(want).__name__}: {want}"[:300]
            elif want is None:
                err = None if len(out) else "no rows (query has no oracle)"
            else:
                err = compare(out, want)
            if err:
                rep.update(ok=False, error="wrong output: " + err)
        progress.emit(ev="op", name=name, ok=rep["ok"])
    return {"reps": reps, "elapsed_s": elapsed, "wall_s": wall, "passes": passes,
            "rows_out": rows_out, "layer": layer}


def _oracles(oracles: dict, names: list[str], sf_dir: str, tables: list[str]) -> dict:
    """DuckDB twin results by query name (an exception where one fails)."""
    import duckdb

    out: dict = {}
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in names:
            if name in oracles:
                try:
                    out[name] = con.execute(oracles[name]).df()
                except duckdb.Error as exc:
                    out[name] = exc
    finally:
        con.close()
    return out


def _corrupt(pdf):
    """Fault injection for the self-test: change one value."""
    pdf = pdf.copy()
    col = sorted(pdf.columns)[0]
    v = pdf.at[0, col]
    pdf.at[0, col] = (v + 1) if isinstance(v, (int, float)) else f"{v}!"
    return pdf


def run_transfer(spec, spark, progress, jobs, tracer) -> dict:
    import sqlite3

    import duckdb
    import pandas as pd

    from tinyetl_spark import engine

    tmp = spec["tmp"]
    out_dir = os.path.join(tmp, "etl_out")
    os.makedirs(out_dir, exist_ok=True)
    schema_path = os.path.join(tmp, "etl_schema.yaml")
    with open(schema_path, "w", encoding="utf-8") as fh:
        fh.write(W.ETL_SCHEMA)
    csv_path = spec["csv"]

    # expected checksum, computed by DuckDB from the raw CSV text
    con = duckdb.connect()
    con.execute(f"CREATE VIEW src AS SELECT * FROM read_csv('{csv_path}', all_varchar=true, header=true)")
    con.execute(f"CREATE VIEW landed AS {W.ETL_EXPECTED_SQL}")
    expected = _checksum(con)

    min_passes = spec["min_passes"]
    progress.emit(ev="plan", ops=2 * min_passes)
    reps = []
    t_start = time.perf_counter()
    on_clock = 0.0
    wall = None
    if tracer is not None:
        tracer.reset()
    r = 0
    while r < min_passes or (on_clock < spec["seconds"] and time.time() < spec["deadline"] - 60):
        pq_path = os.path.join(out_dir, f"r{r}.parquet")
        db_path = os.path.join(out_dir, f"r{r}.db")
        rep = {"pass": r}
        legs = (("leg1", csv_path, pq_path,
                 dict(transform=W.ETL_TRANSFORM, schema_file=schema_path, on_violation="filter")),
                ("leg2", pq_path, db_path + "#sales", {}))
        t_rep = time.perf_counter()
        for leg, src, dst, kw in legs:
            group = f"{layers.TIMED_GROUP}{leg}:{r}"
            jobs.group(group)
            t0 = time.perf_counter()
            try:
                stats = engine.transfer(spark, src, dst, **kw)
                rep[leg] = {"ok": True, "wall_s": time.perf_counter() - t0,
                            "rows": stats.rows_transferred, "jobs": jobs.count(group)}
            except Exception as exc:
                rep[leg] = {"ok": False, "wall_s": time.perf_counter() - t0,
                            "error": f"{type(exc).__name__}: {exc}"[:300]}
        rep["wall_s"] = time.perf_counter() - t_rep
        on_clock += rep["wall_s"]
        if r == min_passes - 1:
            wall = on_clock
        # ---- off the clock: read both targets back with DuckDB
        jobs.group(layers.CHECK_GROUP)
        if spec.get("inject_fault") and r == 0 and rep["leg2"]["ok"]:
            with sqlite3.connect(db_path) as db:
                db.execute("UPDATE sales SET net = net + 1 WHERE rowid = 1")
        for leg in ("leg1", "leg2"):
            res = rep[leg]
            if res["ok"]:
                try:
                    if leg == "leg1":
                        landed = con.execute(f"SELECT * FROM '{pq_path}'").df()
                    else:
                        with sqlite3.connect(db_path) as db:
                            landed = pd.read_sql_query("SELECT * FROM sales", db)
                    err = _check_landed(con, landed, expected, res["rows"])
                    if err:
                        res.update(ok=False, error=f"wrong output: {err}")
                except Exception as exc:
                    res.update(ok=False, error=f"check: {type(exc).__name__}: {exc}"[:300])
            progress.emit(ev="op", name=leg, ok=res["ok"])
        for p in (pq_path, db_path):
            if os.path.exists(p):
                os.remove(p)
        reps.append(rep)
        r += 1
    elapsed = time.perf_counter() - t_start
    con.close()
    return {"reps": reps, "elapsed_s": elapsed, "wall_s": wall, "passes": r,
            "layer": tracer_snapshot(tracer)}


def _checksum(con) -> dict:
    cur = con.execute(W.ETL_CHECKSUM_SQL)
    names = [d[0] for d in cur.description]
    return dict(zip(names, cur.fetchone()))


def _check_landed(con, landed, expected, reported_rows) -> str | None:
    if list(landed.columns) != W.ETL_COLUMNS:
        return f"columns {list(landed.columns)}"
    con.register("landed_df", landed)
    con.execute("CREATE OR REPLACE TEMP VIEW landed AS SELECT * FROM landed_df")
    got = _checksum(con)
    con.unregister("landed_df")
    if reported_rows != expected["rows"]:
        return f"transfer reported {reported_rows} rows, expected {expected['rows']}"
    for k, want in expected.items():
        g = got[k]
        if k in W.FLOAT_KEYS:
            if not math.isclose(g, want, rel_tol=1e-9):
                return f"{k} {g!r} vs {want!r}"
        elif g != want:
            return f"{k} {g!r} vs {want!r}"
    return None


def tracer_snapshot(tracer) -> dict | None:
    if tracer is None:
        return None
    return {"inclusive": dict(tracer.inclusive), "self_s": dict(tracer.self_s),
            "calls": dict(tracer.calls), "sqlite_rows": tracer.sqlite_rows}


# ---------------------------------------------------------------- main

def main(spec_path: str) -> int:
    with open(spec_path, encoding="utf-8") as fh:
        spec = json.load(fh)
    progress = Progress(spec["progress"])
    tracer = None
    if spec["trace"]:
        tracer = layers.Tracer()
        tracer.install()
    spark = None
    try:
        spark, get_spark_s = start_session(spec, tracer)
        progress.emit(ev="ready", t=time.time(), get_spark_s=get_spark_s)
        if spec["mode"] == "probe":
            return 0
        conditions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "master": spark.sparkContext.master,
        }
        jobs = Jobs(spark, spec["trace"])
        run = run_transfer if spec["workload"] == "etl_transfer" else run_queries
        result = run(spec, spark, progress, jobs, tracer)
        result["conditions"] = conditions
        result["get_spark_s"] = get_spark_s
        progress.emit(ev="result", **result)
        return 0
    except Exception:
        progress.emit(ev="crash", error=traceback.format_exc()[-2000:])
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        progress.close()


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
