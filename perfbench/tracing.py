"""Spans around the library's public functions, and the fold of Spark's
event log into one per-layer record.

Only the traced run installs the spans. Each span records its name,
start, end, parent and op id in memory, and tags every Spark job started
inside it with ``setJobGroup`` (group id = span id). Spark writes the
uncompressed event log; after the session stops, :func:`fold` joins task
and SQL-node metrics to spans through the job group and returns the
per-layer metrics, as medians over the traced ops.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory span store; one per traced session."""

    sc: object = None
    spans: list = field(default_factory=list)
    stack: list = field(default_factory=list)
    op: int = -1
    counters: dict = field(default_factory=dict)

    def _set_group(self) -> None:
        if self.stack:
            sid = str(self.stack[-1].sid)
            self.sc.setJobGroup(sid, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def enter(self, name: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        span = Span(len(self.spans), name, parent, self.op, time.time())
        self.spans.append(span)
        self.stack.append(span)
        self._set_group()
        return span

    def exit(self, span: Span) -> None:
        span.end = time.time()
        popped = self.stack.pop()
        assert popped is span, (popped.name, span.name)
        self._set_group()

    def count(self, name: str, n: int) -> None:
        key = (self.op, name)
        self.counters[key] = self.counters.get(key, 0) + n

    def wrap(self, fn, name: str, skip_inside: str | None = None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if skip_inside and tracer.stack and tracer.stack[-1].name == skip_inside:
                return fn(*args, **kwargs)
            span = tracer.enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.exit(span)

        return traced


def install(tracer: Tracer) -> None:
    """Wrap the public functions the entry points call, per layer."""
    from pyspark.sql.readwriter import DataFrameWriter

    import hermes_spark.cli.curate_job as curate_job
    import hermes_spark.cli.profile_job as profile_job
    import hermes_spark.e2e.plugins.dataset_comparison as dc_plugin
    import hermes_spark.e2e.plugins.info_comparison as info_plugin
    import hermes_spark.e2e.plugins.profile_gate as profile_plugin
    import hermes_spark.e2e.runner as runner
    import hermes_spark.infofile.job as info_job
    import hermes_spark.operators as operators
    import hermes_spark.sources.io as sources_io
    from hermes_spark.comparator import DatasetComparator

    w = tracer.wrap
    # cli: the job entry points
    curate_job.dedup_main = w(curate_job.dedup_main, "cli.job")
    profile_plugin.profile_run = w(profile_plugin.profile_run, "cli.job")
    # e2e: the runner, each plugin's step and the result writer
    runner.run_tests = w(runner.run_tests, "e2e.run_tests")
    for cls, step in (
        (dc_plugin.DatasetComparisonPlugin, "DatasetComparison"),
        (profile_plugin.ProfilePlugin, "Profile"),
        (info_plugin.InfoFileComparisonPlugin, "InfoComparison"),
    ):
        cls.perform_action = w(cls.perform_action, f"e2e.step.{step}")
    result_cls = dc_plugin.DatasetComparisonResult
    result_cls.write = w(result_cls.write, "e2e.write")
    # comparator
    DatasetComparator.compare = w(DatasetComparator.compare, "comparator.compare")
    DatasetComparator.release = w(DatasetComparator.release, "comparator.release")
    # operators: the dedup plan builders curate_job imports at call time
    for fn in ("exact_dedup", "minhash_lsh_pairs", "fuzzy_dedup_keep_one"):
        setattr(operators, fn, w(getattr(operators, fn), "operators.dedup.plan"))
    # sources: every module that imported the IO helpers by name
    for mod in (sources_io, dc_plugin, curate_job, profile_job):
        for fn, span in (("load_dataframe", "sources.load"),
                         ("write_dataframe", "sources.write"),
                         ("write_metrics_file", "sources.metrics_file")):
            if hasattr(mod, fn):
                setattr(mod, fn, w(getattr(mod, fn), span))
    # curate_job writes through DataFrameWriter directly; a write that
    # already runs inside write_dataframe is not counted twice
    for fn in ("save", "parquet"):
        setattr(DataFrameWriter, fn,
               w(getattr(DataFrameWriter, fn), "sources.write", skip_inside="sources.write"))
    # infofile: the job's execute, and the diff size it computes
    info_plugin.execute = w(info_plugin.execute, "infofile.execute")
    orig_diff = info_job.compare_control_measures

    @functools.wraps(orig_diff)
    def counted(*args, **kwargs):
        diff = orig_diff(*args, **kwargs)
        tracer.count("infofile.diff_records", len(diff))
        return diff

    info_job.compare_control_measures = counted


# ------------------------------------------------------------------ fold

LAYER_STAT_KEYS = (
    "spark_jobs", "executor_cpu_s", "gc_s", "shuffle_write_bytes",
    "shuffle_records", "spill_bytes", "peak_exec_mem_bytes", "task_skew",
)


def _read_events(log_dir: str):
    """Events of the one application logged under ``log_dir``: a plain
    file, or the rolling ``eventlog_v2_*`` directory of ``events_<n>_*``
    files."""
    paths = [p for p in glob.glob(f"{log_dir}/**", recursive=True) if os.path.isfile(p)]
    paths = [p for p in paths if not os.path.basename(p).startswith("appstatus")]

    def order(path: str) -> tuple:
        parts = os.path.basename(path).split("_")
        return (int(parts[1]) if parts[0] == "events" and parts[1].isdigit() else 0, path)

    for path in sorted(paths, key=order):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _plan_metrics(info: dict, out: dict, nodes: set, exec_id: int) -> None:
    name = info.get("nodeName", "")
    if name == "MapInArrow":
        nodes.add((exec_id, id(info)))
        for m in info.get("metrics", []):
            out[m["accumulatorId"]] = (m["name"], m.get("metricType", ""))
    for child in info.get("children", []):
        _plan_metrics(child, out, nodes, exec_id)


def _interval_union(intervals: list) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _skew(durations: list) -> float:
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / max(med, 1.0)


def fold(tracer: Tracer, log_dir: str, ops: list, synth_s: float, overhead_s: float) -> dict:
    """Per-layer metrics from the spans and the event log.

    ``ops`` lists ``(op_id, start, end)`` of the traced ops to fold. Every
    value is a per-op figure, and the record holds its median over ops.
    """
    spans = {s.sid: s for s in tracer.spans}

    def ancestors(sid):
        while sid is not None:
            yield spans[sid]
            sid = spans[sid].parent

    jobs: dict = {}          # job id -> span, exec id, start, end
    stages: dict = {}        # stage id -> span, exec id, start
    stage_tasks: dict = {}   # stage id -> task metric dicts
    acc_names: dict = {}     # accumulator id -> (metric name, type), MapInArrow only
    arrow_nodes: dict = {}   # exec id -> MapInArrow nodes in its final plan

    def tagged(props: dict) -> tuple:
        group = props.get("spark.jobGroup.id")
        ex = props.get("spark.sql.execution.id")
        sid = int(group) if group is not None and group.isdigit() else None
        return sid, int(ex) if ex is not None else None

    for ev in _read_events(log_dir):
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            sid, ex = tagged(ev.get("Properties") or {})
            jobs[ev["Job ID"]] = {"span": sid, "exec": ex,
                                  "start": ev["Submission Time"] / 1e3, "end": None}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            # the properties are those of the job that runs the stage
            sid, ex = tagged(ev.get("Properties") or {})
            info = ev["Stage Info"]
            stages[info["Stage ID"]] = {"span": sid, "exec": ex,
                                        "start": info.get("Submission Time", 0) / 1e3}
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            om = tm.get("Output Metrics") or {}
            stage_tasks.setdefault(ev["Stage ID"], []).append({
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "run_ms": tm.get("Executor Run Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                "peak": tm.get("Peak Execution Memory", 0),
                "sw_bytes": sw.get("Shuffle Bytes Written", 0),
                "sw_records": sw.get("Shuffle Records Written", 0),
                "out_bytes": om.get("Bytes Written", 0),
                "dur_ms": ti.get("Finish Time", 0) - ti.get("Launch Time", 0),
                "acc": {a["ID"]: a["Update"] for a in ti.get("Accumulables", [])
                        if a.get("ID") in acc_names and "Update" in a},
            })
        elif kind in (
            "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
        ):
            ex = ev["executionId"]
            nodes: set = set()
            _plan_metrics(ev["sparkPlanInfo"], acc_names, nodes, ex)
            # an adaptive update replaces the plan it re-optimized
            arrow_nodes[ex] = len(nodes)

    def op_of(ent) -> int | None:
        sid = ent["span"]
        return spans[sid].op if sid in spans else None

    def in_layer(ent, prefixes) -> bool:
        sid = ent["span"]
        return sid in spans and any(s.name.startswith(prefixes) for s in ancestors(sid))

    def stats(job_ids, stage_ids) -> dict:
        by_stage = {st: stage_tasks.get(st, []) for st in stage_ids}
        tasks = [t for ts in by_stage.values() for t in ts]
        heaviest = max(by_stage.values(), key=lambda ts: sum(t["run_ms"] for t in ts), default=[])
        return {
            "spark_jobs": len(job_ids),
            "stages": sum(1 for ts in by_stage.values() if ts),
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_bytes": sum(t["sw_bytes"] for t in tasks),
            "shuffle_records": sum(t["sw_records"] for t in tasks),
            "spill_bytes": sum(t["spill"] for t in tasks),
            "peak_exec_mem_bytes": max((t["peak"] for t in tasks), default=0),
            "task_skew": _skew([t["dur_ms"] for t in heaviest]),
            "out_bytes": sum(t["out_bytes"] for t in tasks),
        }

    def layer(op, pred) -> dict:
        return stats([j for j, e in jobs.items() if op_of(e) == op and pred(e)],
                     [s for s, e in stages.items() if op_of(e) == op and pred(e)])

    def span_time(op, prefix) -> float:
        return sum(s.end - s.start for s in tracer.spans if s.op == op and s.name.startswith(prefix))

    def step_mean(op, name) -> float:
        walls = [s.end - s.start for s in tracer.spans if s.op == op and s.name == name]
        return statistics.fmean(walls) if walls else 0.0

    per_op: list[dict] = []
    for op, op_start, op_end in ops:
        op_jobs = [j for j, e in jobs.items() if op_of(e) == op]
        rec: dict = {}
        comp = layer(op, lambda e: in_layer(e, ("comparator.",)))
        rec["comparator.compare_s"] = span_time(op, "comparator.compare")
        rec["comparator.release_s"] = span_time(op, "comparator.release")
        rec["comparator.stages"] = comp["stages"]
        for k in LAYER_STAT_KEYS:
            rec[f"comparator.{k}"] = comp[k]

        plan_spans = [s for s in tracer.spans if s.op == op and s.name == "operators.dedup.plan"]
        if plan_spans:
            first = min(s.start for s in plan_spans)
            last_end = max(s.end for s in plan_spans)
            # the dedup plan runs inside the builders (component loops)
            # and in every action on their output after they return
            dd = layer(op, lambda e: in_layer(e, ("operators.",)) or e["start"] >= first)
            after = {jobs[j]["exec"] if jobs[j]["exec"] is not None else f"rdd{j}"
                     for j in op_jobs if jobs[j]["start"] >= last_end}
        else:
            dd, after = layer(op, lambda e: False), set()
        rec["operators.dedup.plan_s"] = _self_time(tracer, op, "operators.dedup.plan")
        rec["operators.dedup.plan_executions"] = len(after)
        for k in LAYER_STAT_KEYS:
            rec[f"operators.dedup.{k}"] = dd[k]

        op_tasks = [t for st, e in stages.items() if op_of(e) == op
                    for t in stage_tasks.get(st, [])]
        py_s, py_bytes = 0.0, 0
        for t in op_tasks:
            for acc, upd in t["acc"].items():
                mname, mtype = acc_names[acc]
                val = float(upd)
                if mname == "time to run Python workers":
                    py_s += val / (1e9 if mtype == "nsTiming" else 1e3)
                elif mname == "data sent to Python workers":
                    py_bytes += val
        op_execs = {jobs[j]["exec"] for j in op_jobs if jobs[j]["exec"] is not None}
        rec["functions.sigkernel.python_s"] = py_s
        rec["functions.sigkernel.bytes_to_python"] = py_bytes
        rec["functions.sigkernel.arrow_nodes"] = sum(arrow_nodes.get(e, 0) for e in op_execs)

        wr = layer(op, lambda e: in_layer(e, ("sources.write",)))
        rec["sources.load_s"] = span_time(op, "sources.load")
        rec["sources.write_s"] = span_time(op, "sources.write")
        rec["sources.write_bytes"] = wr["out_bytes"]
        rec["sources.metrics_file_s"] = span_time(op, "sources.metrics_file")

        cli = layer(op, lambda e: in_layer(e, ("cli.",)))
        rec["cli.job_s"] = span_time(op, "cli.job")
        rec["cli.spark_jobs"] = cli["spark_jobs"]
        intervals = [(jobs[j]["start"], jobs[j]["end"]) for j in op_jobs if jobs[j]["end"]]
        rec["cli.driver_s"] = (op_end - op_start) - _interval_union(intervals)

        rec["e2e.run_tests_s"] = span_time(op, "e2e.run_tests")
        steps = [s.end - s.start for s in tracer.spans
                 if s.op == op and s.name.startswith("e2e.step.")]
        rec["e2e.step_s_p50"] = statistics.median(steps) if steps else 0.0
        for step in ("DatasetComparison", "Profile", "InfoComparison"):
            rec[f"e2e.step_s.{step}"] = step_mean(op, f"e2e.step.{step}")
        rec["e2e.write_s"] = span_time(op, "e2e.write")

        rec["infofile.execute_s"] = span_time(op, "infofile.execute")
        rec["infofile.diff_records"] = tracer.counters.get((op, "infofile.diff_records"), 0)
        per_op.append(rec)

    out = {k: statistics.median(r[k] for r in per_op) for k in per_op[0]} if per_op else {}
    out["synth.generate_s"] = synth_s
    out["trace.overhead_s"] = overhead_s
    return out


def _self_time(tracer: Tracer, op: int, name: str) -> float:
    """Summed self time of the op's ``name`` spans: each span's wall minus
    the walls of its direct children."""
    child_wall: dict = {}
    for s in tracer.spans:
        if s.parent is not None:
            child_wall[s.parent] = child_wall.get(s.parent, 0.0) + (s.end - s.start)
    return sum(s.end - s.start - child_wall.get(s.sid, 0.0)
               for s in tracer.spans if s.op == op and s.name == name)
