"""Benchmark command: one seeded workload, end-to-end or per-layer metrics.

    python3 perfbench/run.py --workload etl_transfer --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Each JVM runs in a child process of its
own (``child.py``) in a process group of its own; this process makes
itself the subreaper of everything the children start (the JVM, the
PySpark daemon and workers), waits until all of it has exited, and kills
what is left on error, timeout, SIGINT or SIGTERM. Inputs, targets,
event logs and Spark/Derby scratch all live under one temp dir inside
the checkout, removed at exit.

``--trace 0`` runs the workload untraced plus one set-up-only JVM (two
set-up samples) and prints the end-to-end metrics. ``--trace 1`` runs it
untraced and then traced, and prints the per-layer metrics of the traced
run plus the traced run's overhead against the untraced one. The last
line of stdout is the JSON result; lines before it are the record: run
conditions and every end-to-end metric of each run with its unit.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import json
import os
import platform
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads as W  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
TOKEN_ENV = "PERFBENCH_RUN_TOKEN"
TMP_PARENT = os.path.join(ROOT, ".perfbench_tmp")
BUDGET_S = 165.0  # the whole command, children included


class Interrupted(Exception):
    pass


def _on_signal(signum, frame):
    raise Interrupted(signal.Signals(signum).name)


# ------------------------------------------------------------ processes

def _set_subreaper() -> None:
    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def descendants(pid: int | None = None) -> list[int]:
    """Every live process below ``pid`` (default: this one)."""
    pid = pid or os.getpid()
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read().decode(errors="replace")
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def reap(grace_s: float) -> None:
    """Wait for every descendant to exit; SIGKILL what outlives ``grace_s``."""
    end = time.monotonic() + grace_s
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = descendants()
        if not left:
            return
        if time.monotonic() > end:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            end = time.monotonic() + 10
        time.sleep(0.05)


def kill_all() -> None:
    for p in descendants():
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    reap(10)


# ------------------------------------------------------------- children

def run_child(spec: dict, timeout_s: float) -> tuple[list[dict], bool]:
    """Run one child to completion; return its progress events and
    whether it timed out."""
    spec_path = os.path.join(spec["tmp"], f"{spec['tag']}.spec.json")
    spec["progress"] = os.path.join(spec["tmp"], f"{spec['tag']}.progress.jsonl")
    spec["deadline"] = time.time() + timeout_s
    with open(spec_path, "w", encoding="utf-8") as fh:
        json.dump(spec, fh)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")])),
        "PYTHONDONTWRITEBYTECODE": "1",
        # the same str hashes, and so the same set and dict orders, on every run
        "PYTHONHASHSEED": "0",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(spec["tmp"], "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(spec["tmp"], "local"),
        TOKEN_ENV: spec["token"],
    })
    log = open(os.path.join(spec["tmp"], f"{spec['tag']}.stderr"), "wb")
    spawned = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "child.py"), spec_path],
        cwd=spec["tmp"], env=env, stdin=subprocess.DEVNULL,
        stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
    )
    timed_out = False
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        timed_out = True
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    finally:
        log.close()
    # the JVM and PySpark workers are ours to reap (subreaper); give
    # them a grace period to finish exiting, then kill the rest
    reap(grace_s=0 if timed_out else 30)
    events = []
    if os.path.exists(spec["progress"]):
        with open(spec["progress"], encoding="utf-8") as fh:
            events = [json.loads(line) for line in fh if line.strip()]
    for ev in events:
        if ev["ev"] == "ready":
            ev["setup_s"] = ev["t"] - spawned
    return events, timed_out


def _event(events, kind):
    return next((e for e in events if e["ev"] == kind), None)


# -------------------------------------------------------------- metrics

def tail(walls: list[float]) -> tuple[float, str]:
    """Highest percentile with at least 10 samples beyond it. With too
    few samples for that percentile to lie above the median, the max."""
    s = sorted(walls)
    n = len(s)
    pct = 100 * (n - 10) // n
    if pct <= 50:
        return s[-1], f"max of n={n} (no percentile above p50 has 10 samples beyond it)"
    return s[n - 11], f"p{pct} of n={n}"


def account(events, timed_out: bool) -> tuple[int, int, list[str]]:
    """(attempted, failed, errors) for one workload child."""
    plan = _event(events, "plan")
    result = _event(events, "result")
    done = [e for e in events if e["ev"] == "op"]
    failed = sum(1 for e in done if not e["ok"])
    errors = []
    if result is not None:
        for rep in result["reps"]:
            for item in (rep, rep.get("leg1"), rep.get("leg2")):
                if item and not item.get("ok", True):
                    errors.append(f"{rep.get('name', 'transfer')}#{rep['pass']}: {item.get('error')}")
        return len(done), failed, errors
    # killed or crashed: the mandatory operations it did not finish count
    # as attempted and failed
    planned = plan["ops"] if plan else 1
    missing = max(0, planned - len(done))
    crash = _event(events, "crash")
    errors.append("timed out" if timed_out else
                  (crash["error"].strip().splitlines()[-1] if crash else "child died"))
    return len(done) + missing, failed + missing, errors


def end_to_end(workload: str, result: dict, setup: list[float], peak_rss_mb: float,
               attempted: int, failed: int) -> dict[str, float]:
    """Pass 1 is the cold rep of every operation, later passes are warm
    reps. ``query_p50_s`` and ``query_tail_s`` are taken over every rep,
    the throughputs and ``warm_pass_s`` over the warm reps."""
    reps = [r for r in result["reps"] if "wall_s" in r]
    cold = [r for r in reps if r["pass"] == 0]
    warm = [r for r in reps if r["pass"] >= 1]
    by_op: dict[str, list[float]] = {}
    for r in warm:
        by_op.setdefault(r.get("name", "transfer"), []).append(r["wall_s"])
    walls = [r["wall_s"] for r in reps]
    m = {"setup_s": statistics.median(setup), "wall_s": result["wall_s"],
         "failed_share": failed / max(1, attempted), "peak_rss_mb": peak_rss_mb,
         "cold_pass_s": sum(r["wall_s"] for r in cold),
         "warm_pass_s": sum(statistics.median(v) for v in by_op.values()),
         "query_p50_s": statistics.median(walls)}
    m["query_tail_s"], result["tail_note"] = tail(walls)
    if workload == "etl_transfer":
        # rows landed over the leg's wall, both summed over the warm reps:
        # the legs keep getting faster over the first warm reps, and in one
        # ten-seed set these sums spread 0.11 and 0.06 of their median
        # against 0.15 and 0.10 for a median of the per-rep rates
        for name, leg in (("rows_per_s", "leg1"), ("sink_rows_per_s", "leg2")):
            m[name] = sum(r[leg]["rows"] for r in warm) / sum(r[leg]["wall_s"] for r in warm)
    else:
        rows = result["rows_out"]
        m["rows_per_s"] = sum(rows.get(r["name"], 0) for r in reps) / sum(r["wall_s"] for r in reps)
        m["sink_rows_per_s"] = (sum(rows.get(r["name"], 0) for r in warm)
                                / sum(r["execute_s"] for r in warm))
    return m


E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "rows/s", "sink_rows_per_s": "rows/s",
    "cold_pass_s": "s", "warm_pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "failed_share": "ratio", "peak_rss_mb": "MB",
}


def per_layer(workload: str, result: dict, untraced_wall: float, log_dir: str) -> dict[str, float]:
    lay = result["layer"] or {"inclusive": {}, "self_s": {}, "calls": {}, "sqlite_rows": 0}
    inc, self_s, calls = lay["inclusive"], lay["self_s"], lay["calls"]
    reps = result["reps"]
    m = {
        "session.get_spark_s": result["get_spark_s"],
        "engine.transfer_s": inc.get("engine.transfer", 0.0),
        "engine.self_s": self_s.get("engine", 0.0),
        "io.files.read_csv_s": inc.get("io.files.read_csv", 0.0),
        "io.files.write_parquet_s": inc.get("io.files.write_parquet", 0.0),
        "io.sqlite.write_table_s": inc.get("io.sqlite.write_table", 0.0),
        "io.sqlite.rows": float(lay["sqlite_rows"]),
        "validate.apply_s": inc.get("validate.SchemaFile.apply", 0.0),
        "transforms.apply_inline_s": inc.get("transforms.apply_inline", 0.0),
    }
    q = [r for r in reps if "construct_s" in r]
    cold_jobs = sum(r["eager_jobs"] + r["exec_jobs"] for r in q if r["pass"] == 0)
    warm_jobs = sum(r["eager_jobs"] + r["exec_jobs"] for r in q if r["pass"] == 1)
    m.update({
        "queries.construct_s": sum(r["construct_s"] for r in q),
        "queries.eager_jobs": float(sum(r["eager_jobs"] for r in q)),
        "queries.execute_s": sum(r["execute_s"] for r in q),
        "queries.jobs": float(sum(r["eager_jobs"] + r["exec_jobs"] for r in q)),
        "queries.warm_job_ratio": warm_jobs / cold_jobs if cold_jobs else 0.0,
    })
    for mod in layers.OPERATOR_MODULES:
        m[f"operators.{mod}.self_s"] = self_s.get(f"operators.{mod}", 0.0)
        m[f"operators.{mod}.calls"] = float(calls.get(f"operators.{mod}", 0))
    ev = layers.event_log_metrics(log_dir)
    for k, v in ev.items():
        m[f"spark.{k}"] = v
    m["spark.busy_share"] = ev["task_s"] / (result["elapsed_s"] * CORES)
    m["trace.overhead_share"] = result["wall_s"] / untraced_wall - 1.0
    return m


# ---------------------------------------------------------- conditions

def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "tinyetl_spark")
    for d, subdirs, files in sorted(os.walk(pkg)):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "none (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "none (git unavailable)"


def make_inputs(workload: str, size: str, seed: int, tmp: str) -> tuple[dict, dict]:
    import gen

    scale = W.SIZES[workload][size]
    spec = {}
    if workload == "etl_transfer":
        path = os.path.join(tmp, "etl_source.csv")
        rows = gen.etl_csv(path, seed, scale)
        spec["csv"] = path
        info = {"rows": rows, "bytes": os.path.getsize(path)}
    else:
        data_dir = os.path.join(tmp, "tables")
        rows = gen.query_tables(data_dir, seed, scale)
        spec.update(data_dir=data_dir, tables=TABLES)
        info = {"sf": scale, "rows": sum(rows.values()),
                "bytes": sum(os.path.getsize(os.path.join(data_dir, f))
                             for f in os.listdir(data_dir))}
    return spec, info


# ----------------------------------------------------------------- main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full",
                    help="toy: tiny inputs and short query lists, for the self-test")
    ap.add_argument("--timeout", type=float, default=120.0,
                    help="seconds each child JVM process may take before it is killed")
    ap.add_argument("--inject-fault", action="store_true",
                    help="corrupt one landed value before the output check (self-test)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tinyetl_spark")):
        print(f"perfbench: no tinyetl_spark package under {ROOT}", file=sys.stderr)
        return 2
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, _on_signal)
    _set_subreaper()
    token = uuid.uuid4().hex
    tmp = os.path.join(TMP_PARENT, token[:12])
    os.makedirs(os.path.join(tmp, "tmp"), exist_ok=True)
    try:
        return _run(args, token, tmp)
    except Interrupted as exc:
        print(f"perfbench: interrupted by {exc}", file=sys.stderr)
        return 130
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        signal.signal(signal.SIGINT, signal.SIG_IGN)
        kill_all()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(TMP_PARENT)
        except OSError:
            pass


def _run(args, token: str, tmp: str) -> int:
    started = time.monotonic()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        declared = json.load(fh)
    wl = args.workload
    inputs, input_info = make_inputs(wl, args.size, args.seed, tmp)
    if wl != "etl_transfer":
        names = W.TOY_QUERIES[wl] if args.size == "toy" else list(
            W.QUERY_DRIVER if wl == "query_driver" else W.QUERY_DATA)
        # the seed permutes the order, not the set
        names = sorted(names)
        random.Random(args.seed).shuffle(names)
        inputs["queries"] = names
    base = dict(inputs, workload=wl, seed=args.seed, seconds=args.seconds, tmp=tmp,
                min_passes=(W.TRACE_PASSES if args.trace else W.MIN_PASSES)[wl],
                token=token, cores=CORES, driver_memory=DRIVER_MEMORY, young_gen=YOUNG_GEN,
                inject_fault=args.inject_fault)
    if args.trace:
        plan = [("untraced", "run", False), ("traced", "run", True)]
    else:
        plan = [("run", "run", False), ("setup", "probe", False)]

    runs, setup, peak_rss_mb = {}, {}, None
    attempted = failed = 0
    errors: list[str] = []
    for tag, mode, traced in plan:
        spec = dict(base, tag=tag, mode=mode, trace=traced,
                    event_log=os.path.join(tmp, f"events-{tag}"))
        print(f"perfbench: {wl} {tag} starting", file=sys.stderr, flush=True)
        # never let the whole command run past its budget
        budget = BUDGET_S - (time.monotonic() - started)
        events, timed_out = run_child(spec, max(1.0, min(args.timeout, budget)))
        if peak_rss_mb is None:
            # only the first child has been reaped so far: its tree's peak
            peak_rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024.0
        ready = _event(events, "ready")
        if ready:
            setup[tag] = ready["setup_s"]
        if mode == "probe":
            if not ready:
                attempted, failed = attempted + 1, failed + 1
                errors.append("set-up probe failed")
            continue
        a, f, errs = account(events, timed_out)
        attempted, failed = attempted + a, failed + f
        errors += [f"{tag}: {e}" for e in errs]
        result = _event(events, "result")
        if result is not None:
            runs[tag] = (spec, result)
        if errs:
            with open(os.path.join(tmp, f"{tag}.stderr"), errors="replace") as fh:
                print(fh.read()[-3000:], file=sys.stderr)

    record = {"workload": wl, "seed": args.seed, "size": args.size, "input": input_info,
              "nproc": os.cpu_count(), "cores": CORES,
              "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
              "python": platform.python_version(), "commit": commit(),
              "source_sha256": source_digest(), "seconds": args.seconds,
              "setup_samples_s": setup}
    metrics_out: dict[str, dict] = {}
    e2e = {}
    for tag, (spec, result) in runs.items():
        record.update(result["conditions"])
        # a run's set-up samples: its own JVM plus the set-up-only one
        samples = [setup[t] for t in (tag, "setup") if t in setup]
        try:
            e2e[tag] = end_to_end(wl, result, samples, peak_rss_mb, attempted, failed)
        except (KeyError, ZeroDivisionError, statistics.StatisticsError) as exc:
            # too many operations failed to compute a metric from
            errors.append(f"{tag}: no metrics: {type(exc).__name__}: {exc}")
            continue
        record[f"{tag}_passes"] = result["passes"]
        record[f"{tag}_tail"] = result.get("tail_note")
        for rep in result["reps"]:
            if "leg1" in rep:
                items = [(leg, rep[leg]) for leg in ("leg1", "leg2")]
            else:
                items = [(rep["name"], rep)]
            for name, r in items:
                split = (f" construct {r['construct_s']:.4f} execute {r['execute_s']:.4f}"
                         if "construct_s" in r else "")
                print(f"rep {wl} {tag} {name} pass {rep['pass']} wall {r.get('wall_s', 0):.4f}{split}")
        for name, value in e2e[tag].items():
            print(f"metric {wl} {tag} {name} {value:.6g} {E2E_UNITS[name]}")
    if "queries" in inputs:
        record["queries"] = inputs["queries"]
    print("conditions " + json.dumps(record, sort_keys=True))
    for e in errors:
        print(f"error {e}")

    # the result carries exactly the metrics BENCHMARK.json declares
    correct = failed == 0 and len(runs) == (2 if args.trace else 1)
    if not args.trace and "run" in e2e:
        for m in declared["end_to_end"]:
            metrics_out[m["name"]] = {"value": e2e["run"][m["name"]], "unit": m["unit"]}
    elif args.trace and len(e2e) == 2:
        spec, result = runs["traced"]
        lay = per_layer(wl, result, runs["untraced"][1]["wall_s"], spec["event_log"])
        for m in declared["per_layer"]:
            name, unit = m["name"], m["unit"]
            print(f"layer {wl} {name} {lay[name]:.6g} {unit}")
            metrics_out[name] = {"value": lay[name], "unit": unit}
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics_out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
