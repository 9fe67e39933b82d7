"""Checks of the benchmark itself (not part of the program's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

Each process test starts a full benchmark run (a Spark session), so run
the file on an otherwise idle machine: a Spark process started by someone
else during a test would count as left behind.
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

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
RUN = [sys.executable, "perfbench/run.py", "--workload", "codec", "--seed", "11", "--seconds", "1"]
SPARK_MARKERS = (b"pyspark.daemon", b"pyspark.worker", b"org.apache.spark.deploy.SparkSubmit")


def _spark_pids() -> set[int]:
    """Every live process that is a Spark JVM, a pyspark daemon or worker,
    or carries a benchmark run token, whoever started it."""
    out = set()
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{p}/environ", "rb") as f:
                env = f.read()
            with open(f"/proc/{p}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state == "Z":
            continue
        if any(m in cmd for m in SPARK_MARKERS) or b"PERFBENCH_RUN_TOKEN=" in env:
            out.add(int(p))
    return out


def _result_line(stdout: str):
    lines = stdout.strip().splitlines()
    if not lines:
        return None
    try:
        obj = json.loads(lines[-1])
    except ValueError:
        return None
    return obj if "metrics" in obj else None


def test_clean_run_reports_and_leaves_no_process():
    before = _spark_pids()
    proc = subprocess.run(RUN, cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert _spark_pids() - before == set()
    res = _result_line(proc.stdout)
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: v["unit"] for k, v in res["metrics"].items()
    }


def test_sigterm_mid_run_leaves_no_process():
    before = _spark_pids()
    proc = subprocess.Popen(RUN, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        # wait until the session runs Python workers, i.e. mid-job
        deadline = time.monotonic() + 150
        while time.monotonic() < deadline:
            started = _spark_pids() - before - {proc.pid}
            cmds = []
            for pid in started:
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        cmds.append(f.read())
                except OSError:
                    pass
            if any(b"pyspark.daemon" in c for c in cmds):
                break
            time.sleep(0.2)
        else:
            pytest.fail("no pyspark.daemon appeared")
        time.sleep(2)
        proc.send_signal(signal.SIGTERM)
        out, err = proc.communicate(timeout=120)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    assert proc.returncode != 0
    assert _result_line(out) is None
    assert _spark_pids() - before == set(), err[-3000:]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "synf", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert _result_line(proc.stdout) is None


def test_layers_map_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(BENCH_DIR, "layers.json")) as f:
        layers = json.load(f)
    for kind in ("end_to_end", "per_layer"):
        assert [
            {k: m[k] for k in ("name", "unit", "better")} for m in layers[kind]
        ] == [{k: m[k] for k in ("name", "unit", "better")} for m in spec[kind]]
    assert {w["name"] for w in spec["workloads"]} <= set(layers["workloads"])
