#!/usr/bin/env python3
"""Self-tests of the Chill-cycle benchmark.

Usage (from the repository root; takes a few minutes):

    python3 chillbench/selftest.py [test ...]

Tests:
  corrupt      a warehouse altered after load makes every operation fail
  seed         another seed changes the inputs but not the metric names
  counters     two traced runs of one seed give identical counts and byte
               counts within 1%
  clean        a copy of the sources without build output builds and runs
  bare         a directory with only the benchmark's files exits non-zero
               without printing a result
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(HERE, "target", "selftest")
# counters that must repeat exactly; byte counts may move a little,
# since the row order after a shuffle (and so the compressed size of a
# shuffle block or parquet file) depends on fetch order
EXACT = ("jobs", "stages", "tasks", "files_written", "failed_tasks", "batches")
BYTES_TOLERANCE = 0.01


def bench(workload, seed, trace=0, seconds=1, extra=(), root=ROOT):
    cmd = [sys.executable, os.path.join(root, "chillbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=1200)
    lines = p.stdout.strip().splitlines()
    return p, lines


def result(workload, seed, **kw):
    p, lines = bench(workload, seed, **kw)
    assert p.returncode == 0 and lines, f"run failed: {p.stderr[-3000:]}"
    report = json.loads(lines[-2][len("chillbench report "):])
    return json.loads(lines[-1]), report


def test_corrupt():
    res, report = result("cycle_many_files", 1, extra=["--corrupt"])
    assert res["failed"] == res["attempted"] and not res["correct"], res
    assert report["ops_failed_ratio"] == 1.0, report["ops_failed_ratio"]
    assert "warehouse aggregate differs" in report["failures"][0], report["failures"][0]


def test_seed():
    a, ra = result("stream_redelivery", 1)
    b, rb = result("stream_redelivery", 2)
    assert a["correct"] and b["correct"], (ra["failures"], rb["failures"])
    assert sorted(a["metrics"]) == sorted(b["metrics"])
    assert ra["inputs"]["input_digest"] != rb["inputs"]["input_digest"]
    assert ra["inputs"]["rows"] == rb["inputs"]["rows"]


def test_counters():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for workload in (w["name"] for w in spec["workloads"]):
        a, report = result(workload, 3, trace=1)
        b, _ = result(workload, 3, trace=1)
        assert a["correct"] and b["correct"], workload
        assert list(a["metrics"]) == [m["name"] for m in spec["per_layer"]], workload
        assert list(report["end_to_end"]) == [m["name"] for m in spec["end_to_end"]], workload
        for name, v in a["metrics"].items():
            x, y = v["value"], b["metrics"][name]["value"]
            if name.split(".")[-1] in EXACT:
                assert x == y, (workload, name, x, y)
            elif name.endswith("_bytes"):
                assert abs(x - y) <= BYTES_TOLERANCE * max(x, y), (workload, name, x, y)


def copy_sources(dest, with_program):
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    shutil.copytree(HERE, os.path.join(dest, "chillbench"),
                    ignore=shutil.ignore_patterns("target"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    if with_program:
        shutil.copytree(os.path.join(ROOT, "src"), os.path.join(dest, "src"))
        os.makedirs(os.path.join(dest, "project"))
        shutil.copy(os.path.join(ROOT, "project", "build.properties"),
                    os.path.join(dest, "project"))
        shutil.copy(os.path.join(ROOT, "build.sbt"), dest)


def test_clean():
    dest = os.path.join(SCRATCH, "clean")
    copy_sources(dest, with_program=True)
    p, lines = bench("query_mix", 5, root=dest)
    shutil.rmtree(dest, ignore_errors=True)
    assert p.returncode == 0 and json.loads(lines[-1])["correct"], p.stderr[-3000:]


def test_bare():
    dest = os.path.join(SCRATCH, "bare")
    copy_sources(dest, with_program=False)
    p, lines = bench("cycle_many_files", 1, root=dest)
    shutil.rmtree(dest, ignore_errors=True)
    assert p.returncode != 0, p.returncode
    assert not any(l.startswith('{"correct"') for l in lines), lines


TESTS = {"corrupt": test_corrupt, "seed": test_seed, "counters": test_counters,
         "clean": test_clean, "bare": test_bare}


def main():
    names = sys.argv[1:] or list(TESTS)
    failed = 0
    for n in names:
        try:
            TESTS[n]()
            print(f"ok   {n}", flush=True)
        except AssertionError as e:
            failed += 1
            print(f"FAIL {n}: {e}", flush=True)
    shutil.rmtree(SCRATCH, ignore_errors=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
