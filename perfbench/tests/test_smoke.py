"""Smoke test of the benchmark: every workload once at tiny sizes.

    python3 -m pytest perfbench/tests -q

Runs ``perfbench/run.py --smoke`` from the repository root (about two
minutes on four cores) and requires that every metric BENCHMARK.json
names is reported with its unit and that every output check passed.
"""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_smoke_all_workloads():
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    last = proc.stdout.strip().splitlines()[-1]
    verdict = json.loads(last)
    assert verdict["problems"] == [], verdict["problems"]
    assert verdict["smoke_ok"] and proc.returncode == 0


def test_refuses_to_run_without_the_program(tmp_path):
    """Outside a checkout of the program the benchmark exits non-zero
    and prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            src = os.path.join(ROOT, "perfbench", name)
            (bench / name).write_bytes(open(src, "rb").read())
    (tmp_path / "BENCHMARK.json").write_bytes(
        open(os.path.join(ROOT, "BENCHMARK.json"), "rb").read())
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", "sketch-perkey", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout



def test_dedup_check_gates_planted_pairs_and_hot_cluster_apart():
    """The hot cluster's pairs must not hide missed planted duplicates,
    and a hot row outside its source row's cluster fails the check."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    from workloads import Inputs, check_clusters

    truth = {f"img_{i:03d}": i // 2 for i in range(100)}  # 50 planted pairs
    hot = tuple(f"hot_{i:04d}" for i in range(5000))
    inp = Inputs(None, len(truth) + len(hot), truth, hot, "img_000")
    good = {**truth, **{h: 0 for h in hot}}
    assert check_clusters(good, inp)[0]
    split = {**{k: i for i, k in enumerate(truth)}, **{h: 0 for h in hot}}
    ok, q = check_clusters(split, inp)
    assert not ok and q["pair_recall"] == 0.0 and q["hot_joined"] == 1.0
    stray = {**good, hot[0]: 1}
    ok, q = check_clusters(stray, inp)
    assert not ok and q["hot_joined"] < 1.0
