"""Benchmark entry point: one workload, one process, closed loop.

    python3 perfbench/run.py --workload image-caption --seed 1 \
        --seconds 10 --trace 0

Starts a Spark session sized from the box, builds the workload's inputs
from the seed, warms up, then runs the program back to back (one client;
the next run starts when the previous result is materialized) until
``--seconds`` have passed, checking every output. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` alternates untraced and traced
executions and reports the per-layer metrics. The last line of standard
output is the JSON result; the lines before it print every metric by
name with its unit, the box shape and the session settings.

``--smoke`` runs every workload once at tiny sizes and checks that
every metric is present and every output check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SERIES = "perfbench-1"
# untimed executions before timing: the first one after a cold start
# pays for class loading and JIT (measured on the image pipeline: 13.6 s,
# then 7.5 and 6.6 s; a second warm-up left the timed ones unchanged)
WARMUP_EXECUTIONS = 1


def preflight() -> bool:
    """The benchmark runs from the root of a source checkout: the
    package must import from there, next to this directory."""
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import datasketches_rust_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return False
    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) \
            != ROOT:
        print(f"perfbench: datasketches_rust_spark found at {pkg.__file__},"
              f" not in {ROOT}", file=sys.stderr)
        return False
    return True


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _median(xs):
    return statistics.median(xs) if xs else None


class Run:
    """One benchmark run of one workload."""

    def __init__(self, wl, seed: int, seconds: float, trace: bool):
        from box import box_shape, session_settings

        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(ROOT, ".bench_work",
                                 f"{wl.name}-{seed}-{os.getpid()}")
        self.box = box_shape()
        self.settings = session_settings(self.work, ui=trace)
        self.attempted = 0
        self.failed = 0
        self.walls: list[float] = []
        self.jobs: list[int] = []
        self.quality: list[dict] = []
        self.traced_walls: list[float] = []
        self.untraced_walls: list[float] = []
        self.counts: dict = {}  # the same on every traced execution

    # -- the measured program -------------------------------------------

    def _execute(self, fn) -> tuple[bool, float]:
        """Run and check one execution; a failed check or an error
        counts as failed and contributes no timing."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
            wall = time.perf_counter() - t0
            ok, q = self.wl.check(out, self.inp)
        except Exception:
            traceback.print_exc()
            ok, wall, q = False, 0.0, {}
        if ok:
            self.quality.append(q)
        else:
            self.failed += 1
            print(f"perfbench: {self.wl.name} output check failed: {q}",
                  file=sys.stderr)
        return ok, wall

    def main(self) -> dict:
        from box import (RssSampler, configure_env, cpu_times, nproc,
                         steal_share, stop_session)
        from tracing import Tracer

        from datasketches_rust_spark.config import spark_session

        configure_env(self.settings)
        cores = nproc()
        cpu0 = cpu_times()
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = spark_session(
                f"perfbench-{self.wl.name}", cpus=cores,
                shuffle_partitions=self.settings["shuffle_partitions"])
            try:
                sc = spark.sparkContext
                sc.setLogLevel("ERROR")
                self.tr = Tracer(sc, self.wl.prefix)
                with self.tr.span("setup.session"):
                    spark.range(1).count()
                self.session_s = time.perf_counter() - t0
                self._setup(spark, cores)
                self._measure(spark, sc)
                if self.trace:
                    self._layers(spark, sc, cores)
            finally:
                stop_session(spark)
            self.peak_rss_mb = rss.peak_mb
        self.box["steal_share"] = steal_share(cpu0, cpu_times())
        return self.result()

    def _setup(self, spark, cores: int) -> None:
        with self.tr.span("setup.inputs"):
            t0 = time.perf_counter()
            self.inp = self.wl.setup(spark, self.seed, cores)
            gen = time.perf_counter() - t0
        with self.tr.span("setup.warmup"):
            t0 = time.perf_counter()
            for _ in range(WARMUP_EXECUTIONS):
                self.wl.run(spark, self.inp)
            warm = time.perf_counter() - t0
        self.setup_s = self.session_s + gen + warm
        self.setup_parts = {"session_s": self.session_s,
                            "inputs_s": gen, "warmup_s": warm}

    def _measure(self, spark, sc) -> None:
        tracker = sc.statusTracker()
        deadline = time.perf_counter() + self.seconds
        i = 0
        while True:
            self.tr.run_id = f"run{i}"
            with self.tr.span("pipeline") as sp:
                ok, wall = self._execute(lambda: self.wl.run(spark,
                                                             self.inp))
            if ok:
                self.walls.append(wall)
                self.jobs.append(len(tracker.getJobIdsForGroup(
                    sp["group"])))
            if self.trace:
                def traced():
                    with self.tr.span("traced"):
                        out, self.counts = self.wl.traced(spark, self.inp,
                                                          self.tr)
                    return out

                ok_t, wall_t = self._execute(traced)
                if ok and ok_t:
                    self.untraced_walls.append(wall)
                    self.traced_walls.append(wall_t)
            i += 1
            if time.perf_counter() >= deadline:
                break

    def _layers(self, spark, sc, cores: int) -> None:
        from tracing import StatusApi

        self.tr.run_id = "layers"
        try:
            self.kernels, self.udf = self.wl.layers(spark, self.inp,
                                                    self.tr)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            self.kernels, self.udf = {}, None
        self.cores = cores
        self.jobs_all = StatusApi(sc).jobs()

    # -- reporting --------------------------------------------------------

    def result(self) -> dict:
        """End-to-end values (from the untraced executions), per-layer
        values when traced, and the run's context."""
        wall = _median(self.walls)
        e2e = {
            "wall_s": wall,
            "rows_per_s": self.inp.rows / wall if wall else None,
            "setup_s": self.setup_s,
            "peak_rss_mb": self.peak_rss_mb,
            "spark_jobs": _median(self.jobs),
            "ok_rate": (1 - self.failed / self.attempted
                        if self.attempted else None),
        }
        layers = None
        if self.trace:
            layers = self.layer_metrics(load_spec())
            self.write_trace()
            if layers["trace.unattributed_jobs"]:
                print("perfbench: jobs outside any span", file=sys.stderr)
                self.failed += 1
        quality: dict[str, list] = {}
        for q in self.quality:
            for k, v in q.items():
                quality.setdefault(k, []).append(v)
        info = {
            "series": SERIES, "workload": self.wl.name, "seed": self.seed,
            "box": self.box,
            "session": {k: (os.path.relpath(v, ROOT) if k.endswith("_dir")
                            else v) for k, v in self.settings.items()},
            "input_rows": self.inp.rows, "wall_samples": len(self.walls),
            "wall_s_all": self.walls, "setup": self.setup_parts,
            "error_rate": (self.failed / self.attempted
                           if self.attempted else None),
            # worst value over the checked outputs of this run
            "quality": {k: (max(v) if k == "est_rel_err" else min(v))
                        for k, v in quality.items()},
        }
        return {"info": info, "e2e": e2e, "layers": layers,
                "correct": self.failed == 0 and bool(self.walls),
                "attempted": self.attempted, "failed": self.failed}

    def layer_metrics(self, spec: dict) -> dict:
        """Per-layer values: per-span sums over each traced execution
        (median over executions), whole-run totals over the untraced
        executions, kernel rates and counts. Metrics of layers this
        workload does not exercise read 0."""
        from tracing import covered_s, job_totals

        values = {m["name"]: 0.0 for m in spec["per_layer"]}
        by_group: dict[str, list] = {}
        for j in self.jobs_all:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        spans = self.tr.spans
        values["trace.unattributed_jobs"] = sum(
            len(js) for g, js in by_group.items()
            if g not in self.tr.groups())

        runs = sorted({s["run_id"] for s in spans
                       if s["run_id"].startswith("run")})
        per_span: dict[str, list[dict]] = {}
        whole: list[dict] = []
        rounds: list[int] = []
        for rid in runs:
            mine = [s for s in spans if s["run_id"] == rid]
            untraced = [s for s in mine if s["name"] == "pipeline"]
            if untraced:
                u = untraced[0]
                js = by_group.get(u["group"], [])
                tot = job_totals(js)
                w = u["end"] - u["start"]
                tot["driver_gap_s"] = w - covered_s(
                    [(j["start"], j["end"]) for j in js])
                tot["core_occupancy"] = tot["executor_run_s"] / (
                    w * self.cores)
                whole.append(tot)
            sums: dict[str, dict] = {}
            for s in mine:
                if s["name"] not in self.wl.spans:
                    continue
                tot = job_totals(by_group.get(s["group"], []))
                tot["s"] = s["end"] - s["start"]
                acc = sums.setdefault(s["name"], {})
                for k, v in tot.items():
                    acc[k] = acc.get(k, 0) + v
            for name, acc in sums.items():
                per_span.setdefault(name, []).append(acc)
            # cc.rounds: one convergence-check job ("first") per round
            rounds += [sum(j["name"].startswith("first")
                           for j in by_group.get(s["group"], []))
                       for s in mine if s["name"].endswith(".cc")]

        for name, accs in per_span.items():
            for k in ("s", "jobs", "executor_run_s", "shuffle_write_mb"):
                values[f"{name}.{k}"] = statistics.median(
                    a[k] for a in accs)
        for k in ("jobs", "stages", "executor_run_s", "shuffle_write_mb",
                  "gc_s", "driver_gap_s", "core_occupancy"):
            if whole:
                values[f"run.{k}"] = statistics.median(w[k] for w in whole)
        if rounds:
            values["cc.rounds"] = statistics.median(rounds)
        if self.traced_walls:
            values["trace.overhead_s"] = (
                statistics.median(self.traced_walls)
                - statistics.median(self.untraced_walls))
        values.update(self.counts)
        if "agg.partial" in per_span:
            # the partial stage's shuffle output is the partial sketches
            acc = per_span["agg.partial"]
            n = statistics.median(a["shuffle_write_records"] for a in acc)
            values["agg.partial_sketches"] = n
            values["agg.partial_mb"] = values["agg.partial.shuffle_write_mb"]
            values["agg.partials_per_key"] = n / self.wl.groups

        values.update(self.kernels)
        if self.udf:
            # UDF layer alone: rows/s over each UDF-only span, and the
            # share of those spans' executor time the kernels need
            exec_s = 0.0
            for name, s in self.udf["spans"].items():
                exec_s += job_totals(
                    by_group.get(s["group"], []))["executor_run_s"]
                values[name] = self.udf["rows"] / (s["end"] - s["start"])
            if exec_s:
                values["udf.boundary_efficiency"] = \
                    self.udf["kernel_busy_s"] / exec_s
        return values

    def write_trace(self) -> None:
        out = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(out, f"{self.wl.name}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump({"series": SERIES, "workload": self.wl.name,
                       "seed": self.seed, "box": self.box,
                       "spans": self.tr.tree()}, f, indent=1)
        print(f"span tree: {os.path.relpath(path, ROOT)}")


def unit_of(name: str) -> str:
    """Unit of a per-layer metric BENCHMARK.json does not list."""
    for suffix, unit in (("_per_s", "1/s"), (".jobs", "count"),
                         ("_mb", "MB"), ("_us", "us"), ("_s", "s"),
                         (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def report(res: dict, trace: bool) -> dict:
    """The result line: end-to-end metrics, or per-layer when traced.
    A traced run of a workload BENCHMARK.json does not list also
    reports the layer metrics only that workload exercises."""
    spec = load_spec()
    metrics = {m["name"]: m["unit"]
               for m in spec["per_layer" if trace else "end_to_end"]}
    values = res["layers" if trace else "e2e"]
    if trace and res["info"]["workload"] not in {
            w["name"] for w in spec["workloads"]}:
        metrics.update({k: unit_of(k) for k in values if k not in metrics})
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": values.get(k), "unit": u}
                        for k, u in metrics.items()}}


def print_result(res: dict, trace: bool) -> None:
    info, out = res["info"], report(res, trace)
    print("context: " + json.dumps(
        {k: info[k] for k in ("series", "workload", "seed", "box",
                              "session", "input_rows", "setup",
                              "wall_s_all")}))
    if info["box"]["overloaded"]:
        print(f"WARNING: load {info['box']['loadavg'][0]:.2f} above "
              f"{info['box']['nproc']} cores at start")
    for name, m in out["metrics"].items():
        extra = (f"  (median of {info['wall_samples']} runs)"
                 if name == "wall_s" else "")
        print(f"{name:40s} {m['value']!s:>24} {m['unit']}{extra}")
    print(f"{'error_rate':40s} {info['error_rate']!s:>24} ratio")
    for k, v in info["quality"].items():
        print(f"{k:40s} {v!s:>24} ratio")
    print(json.dumps(out))


def smoke() -> int:
    """Every workload once at tiny sizes, traced (a traced run also
    makes untraced executions, which give the end-to-end metrics).
    Checks that every named metric is present as a number with its unit
    and that every output check passes. The last line is a JSON verdict;
    exit code 1 on any problem."""
    from workloads import workloads

    problems = []
    for wl in workloads(smoke=True).values():
        res = Run(wl, seed=1, seconds=0, trace=True).main()
        for trace in (False, True):
            out = report(res, trace)
            for name, m in out["metrics"].items():
                if not isinstance(m["value"], (int, float)):
                    problems.append(f"{wl.name}: {name} = {m['value']}")
            print_result(res, trace)
        if not res["correct"]:
            problems.append(f"{wl.name}: {res['failed']} of "
                            f"{res['attempted']} executions failed")
    print(json.dumps({"smoke_ok": not problems, "problems": problems}))
    return 1 if problems else 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    args = p.parse_args()
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not preflight():
        return 2
    work = os.path.join(ROOT, ".bench_work")
    try:
        if args.smoke:
            return smoke()
        from workloads import workloads

        wls = workloads()
        if args.workload not in wls:
            p.error(f"--workload must be one of {sorted(wls)}")
        print_result(Run(wls[args.workload], args.seed, args.seconds,
                         bool(args.trace)).main(), bool(args.trace))
        return 0
    finally:
        # scratch space of this run; traces are kept
        for name in os.listdir(work) if os.path.isdir(work) else ():
            if name != "traces" and name.endswith(f"-{os.getpid()}"):
                shutil.rmtree(os.path.join(work, name), ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
