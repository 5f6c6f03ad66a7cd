"""hermes-spark benchmark: one workload, closed loop, one client.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload e2e_suite --seed 1 --seconds 12 --trace 0

The run builds a ``local[<cores>]`` session with deployment settings only
(master, driver memory, local dirs, UI off), generates the workload's
inputs from ``--seed`` under ``.perfbench_work/``, runs one cold op and
then warm ops for ``--seconds`` (and at least the workload's
``warm_ops``), checks every op's output against the
planted answer, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports its per-layer metrics, from a second, traced session
in the same run (see tracing.py). README.md maps each metric to its layer.
"""

from __future__ import annotations

import argparse
import itertools
import json
import logging
import os
import shutil
import statistics
import sys
import threading
import time

SETUP_ROUNDS = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("default", "tiny"), default="default",
                   help="input size; 'tiny' is for the benchmark's own tests")
    p.add_argument("--perturb-expected", action="store_true",
                   help="check against a deliberately wrong answer (tests only)")
    return p.parse_args(argv)


# ------------------------------------------------------------ environment


def driver_memory() -> str:
    """An eighth of the machine's RAM, at most 4 GiB, at least 1 GiB."""
    total_kib = 4 * 1024 * 1024
    try:
        with open("/proc/meminfo", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_kib = int(line.split()[1])
    except OSError:
        pass
    mib = max(1024, min(4096, total_kib // 1024 // 8))
    return f"{mib}m"


def build_session(workdir: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 1}]")
        .appName("perfbench")
        .config("spark.driver.memory", driver_memory())
        .config("spark.local.dir", os.path.join(workdir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort at shutdown
            proc.kill()
            proc.wait()


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and every descendant (the driver
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(name)
            parent[pid] = int(fields[1])
            rss[pid] = int(fields[21]) * self._page
        root, total = os.getpid(), 0
        for pid, r in rss.items():
            p = pid
            while p > 1 and p != root:
                p = parent.get(p, 0)
            if p == root:
                total += r
        return total

    def run(self) -> None:
        while not self._stop_event.wait(self.period):
            self.peak_bytes = max(self.peak_bytes, self.tree_rss())

    def stop(self) -> None:
        self._stop_event.set()
        if self.is_alive():
            self.join(timeout=10)


# -------------------------------------------------------------- the loop


def run_ops(spark, workload, clock, seconds: float, results: list,
            tracer=None, min_ops: int = 1) -> list:
    """Closed loop: one op at a time until ``seconds`` have passed and at
    least ``min_ops`` ops ran. Returns ``(op id, start, end)`` per op."""
    spans = []
    deadline = time.perf_counter() + seconds
    for n in itertools.count(1):
        if tracer is not None:
            tracer.op = len(results)
            span = tracer.enter("op")
        try:
            res = workload.run_op(spark, clock)
        finally:
            if tracer is not None:
                tracer.exit(span)
                spans.append((tracer.op, span.start, span.end))
        workload.check(spark, res)
        if not res.ok:
            print(f"op {len(results)} FAILED: {res.detail}", file=sys.stderr)
        results.append(res)
        if n >= min_ops and time.perf_counter() >= deadline:
            return spans


def percentile_report(values: list, q: float) -> float | None:
    """The ``q`` quantile, only when at least ten samples lie beyond it."""
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[int(q * 100) - 1]


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hermes_spark", "__init__.py")):
        print("perfbench: run from the root of a hermes-spark checkout "
              "(no hermes_spark/ package here)", file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)

    workdir = os.path.join(root, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "local"))
    # Python workers import hermes_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, root)
    logging.basicConfig(level=logging.CRITICAL)

    from workloads import WORKLOADS, StepClock

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload](workdir, args.seed, args.size,
                                        perturb=args.perturb_expected)
    sampler = RssSampler()
    if args.trace:  # peak RSS is reported with the per-layer metrics only
        sampler.start()
    spark = None
    try:
        # set-up: session start once, then input generation several times
        t0 = time.perf_counter()
        spark = build_session(workdir)
        session_s = time.perf_counter() - t0
        gen_walls, synth_walls = [], []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            workload.generate(spark)
            gen_walls.append(time.perf_counter() - t0)
            synth_walls.append(getattr(workload, "synth_s", 0.0))
        print(f"session start {session_s:.2f} s, input generation "
              f"{', '.join('%.2f' % g for g in gen_walls)} s", file=sys.stderr)
        clock = StepClock()
        clock.install()

        results: list = []
        run_ops(spark, workload, clock, 0, results)          # the cold first op
        print(f"first op {results[0].wall_s:.2f} s", file=sys.stderr)
        run_ops(spark, workload, clock, args.seconds / 2 if args.trace else args.seconds,
                results, min_ops=workload.warm_ops)
        sampler.stop()
        warm = results[1:]

        if args.trace:
            import tracing

            event_dir = os.path.join(workdir, "eventlog")
            os.makedirs(event_dir)
            spark.stop()
            spark = build_session(workdir, event_log=event_dir)
            tracer = tracing.Tracer(sc=spark.sparkContext)
            tracing.install(tracer)
            traced: list = []
            run_ops(spark, workload, clock, 0, traced, tracer)  # warm the new session
            ops = run_ops(spark, workload, clock, args.seconds / 2, traced, tracer)
            spark.stop()
            spark = None
            overhead = (statistics.median(r.wall_s for r in traced[1:])
                        - statistics.median(r.wall_s for r in warm))
            layer = tracing.fold(tracer, event_dir, ops,
                                 statistics.median(synth_walls), overhead)
            layer["first_job_s"] = results[0].wall_s
            layer["peak_rss_mb"] = sampler.peak_bytes / 2**20
            results += traced
            metrics = {m["name"]: {"value": float(layer[m["name"]]), "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            walls = [r.wall_s for r in warm]
            steps = [s for r in warm for s in r.step_walls]
            job_p50 = statistics.median(walls)
            # rates over the median op, so one slow op does not move them
            values = {
                "setup_s": session_s + statistics.median(gen_walls),
                "job_s_p50": job_p50,
                "rows_per_s": statistics.median(r.rows for r in warm) / job_p50,
                "steps_per_s": statistics.median(len(r.step_walls) for r in warm) / job_p50,
                "ok_ratio": sum(r.ok for r in results) / len(results),
            }
            print("warm ops " + ", ".join("%.2f" % w for w in walls) + " s", file=sys.stderr)
            p90 = percentile_report(steps, 0.9)
            print(f"{args.workload}: {len(warm)} warm ops, {len(steps)} steps; "
                  f"step_s_p90 {'%.4f' % p90 if p90 is not None else 'n/a (<100 steps)'}")
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        failed = sum(not r.ok for r in results)
        print(json.dumps({"correct": failed == 0, "attempted": len(results),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        sampler.stop()
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
