"""Self-test of the benchmark at toy size (tiny inputs, short query lists).

    python3 -m pytest perfbench/selftest.py -q -p no:cacheprovider

Checks that every metric named in BENCHMARK.json is printed with its
unit for every workload, that traced and untraced runs emit the same
end-to-end names, that a wrong landed value is caught, and that no
process the benchmark started survives a normal exit, a timeout or
SIGTERM. Takes a few minutes: every run launches JVMs.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
TOKEN = "PERFBENCH_RUN_TOKEN="
WORKLOADS = ("etl_transfer", "query_driver", "query_data")

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


def leftovers() -> list[int]:
    """Live processes started by any benchmark run (they carry its token)."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/environ", "rb") as fh:
                if TOKEN.encode() in fh.read():
                    found.append(int(pid))
        except OSError:
            continue
    return found


def git_status() -> str | None:
    try:
        return subprocess.run(["git", "status", "--porcelain"], cwd=ROOT, capture_output=True,
                              text=True, timeout=30).stdout
    except (OSError, subprocess.SubprocessError):
        return None


def bench(*args):
    return subprocess.run([sys.executable, RUN, "--seed", "3", "--seconds", "1", "--size", "toy",
                           *args], cwd=ROOT, capture_output=True, text=True, timeout=170)


def result_of(out) -> dict:
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def e2e_lines(out) -> set[tuple[str, str]]:
    """(run tag, metric name) of the record's ``metric`` lines."""
    return {(p[2], p[3]) for p in map(str.split, out.stdout.splitlines())
            if p and p[0] == "metric"}


def layer_lines(out) -> dict[str, str]:
    """metric name -> unit of the record's ``layer`` lines."""
    return {p[2]: p[4] for p in map(str.split, out.stdout.splitlines())
            if p and p[0] == "layer"}


@pytest.fixture(autouse=True)
def clean_state():
    before = git_status()
    assert not leftovers()
    yield
    assert not leftovers(), "a process started by the benchmark outlived it"
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))
    assert git_status() == before


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_printed_with_unit(workload):
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

    plain = bench("--workload", workload, "--trace", "0")
    res = result_of(plain)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == e2e
    assert all(v["value"] > 0 for v in res["metrics"].values())
    names = {n for (_, n) in e2e_lines(plain)}
    assert set(e2e) <= names

    traced = bench("--workload", workload, "--trace", "1")
    res = result_of(traced)
    assert res["correct"] and res["failed"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == per_layer
    assert layer_lines(traced) == per_layer
    lines = e2e_lines(traced)
    assert {n for (tag, n) in lines if tag == "traced"} == names
    assert {n for (tag, n) in lines if tag == "untraced"} == names


@pytest.mark.parametrize("workload", ["etl_transfer", "query_driver"])
def test_injected_wrong_value_is_caught(workload):
    res = result_of(bench("--workload", workload, "--trace", "0", "--inject-fault"))
    assert not res["correct"]
    assert res["failed"] >= 1


def test_timeout_marks_remaining_operations_failed():
    # a toy run needs ~8 s of JVM set-up and ~8 s of queries and checks,
    # so the child is killed during set-up or during its passes
    res = result_of(bench("--workload", "query_driver", "--trace", "0", "--timeout", "12"))
    assert not res["correct"]
    assert res["failed"] >= 1 and res["failed"] <= res["attempted"]


def test_sigterm_leaves_no_process():
    proc = subprocess.Popen([sys.executable, RUN, "--workload", "etl_transfer", "--seed", "3",
                             "--seconds", "30", "--size", "toy"], cwd=ROOT,
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    try:
        deadline = time.monotonic() + 90
        while not leftovers() and time.monotonic() < deadline:
            time.sleep(0.5)
        time.sleep(8)  # let the JVM and its workers come up
        assert leftovers(), "the benchmark never started its workload"
        proc.send_signal(signal.SIGTERM)
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert proc.returncode != 0
    assert '"correct"' not in out


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_transfer",
                          "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path,
                         capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
