"""The traced run: spans around the calls into the engine's public
functions, one Spark job group per op, layer prefixes materialized
through a noop sink, and the counts Spark's own event log holds.

Nothing inside the engine is instrumented. The public functions are
wrapped from outside for the length of the run, so a call the engine
makes to one of them from inside also gets a span.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import time
from collections import defaultdict

# (module, function) pairs whose calls get a span
PUBLIC = [
    ("s2spark.joins", "compute_coverings"),
    ("s2spark.joins", "coverings_df"),
    ("s2spark.joins", "with_cell_id"),
    ("s2spark.joins", "pip_join_bucketed"),
    ("s2spark.joins", "raster_vector_align"),
    ("s2spark.joins", "knn_join_df"),
    ("s2spark.io", "write_clustered"),
    ("s2spark.io", "scan_cell_ranges"),
]
PROBE_REPS = 3


def layer_names() -> list[str]:
    """every per-layer metric, in report order."""
    from perfbench.workloads import QUERY_KEYS, QUERY_MODULES
    return ([
        "encode.s", "python.worker_s", "python.bytes_sent",
        "pip.s", "pip.candidates", "pip.hits", "pip.hit_ratio",
        "tile_agg.s", "covering.s", "covering.cells",
        "knn.call_s", "knn.emit_s", "knn.jobs", "knn.shuffle_bytes",
        "knn.task_skew",
        "io.write_s", "io.scan_build_s", "io.scan_exec_s", "io.files_read",
        "io.rows_read_ratio",
        "driver.jobs", "driver.stages", "driver.idle_s",
        "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
        "spill.bytes",
        "exec.run_s", "exec.cpu_s", "exec.gc_s", "cpu.utilization",
        "persist.leaked",
    ] + [f"query.{k}.s" for k in QUERY_KEYS]
      + [f"mix.{m}_s" for m in QUERY_MODULES]
      + ["trace.coverage", "trace.overhead_s"])


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("ratio", "skew", "utilization", "coverage")):
        return "ratio"
    return "count"


class NoTracer:
    """tracing off: ops run bare."""

    @contextlib.contextmanager
    def op(self, name: str):
        yield


class Tracer:
    """spans in memory; one Spark job group per op."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0
        self._patched: list[tuple] = []
        self.absent: list[str] = []
        for mod_name, fn_name in PUBLIC:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name, None)
            if fn is None:
                self.absent.append(f"{mod_name}.{fn_name}")
            else:
                self._patched.append((mod, fn_name, fn))
                setattr(mod, fn_name, self._wrap(fn, f"{mod_name[8:]}."
                                                     f"{fn_name}"))

    def restore(self) -> None:
        for mod, fn_name, fn in self._patched:
            setattr(mod, fn_name, fn)
        self._patched = []

    def _wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        traced.__doc__ = fn.__doc__
        return traced

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = {"id": len(self.spans), "name": name,
             "parent": self._stack[-1] if self._stack else None,
             "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    def _persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    @contextlib.contextmanager
    def op(self, name: str, kind: str = "op"):
        self._groups += 1
        group = f"pb{self._groups}"
        self.spark.sparkContext.setJobGroup(group, name)
        before = self._persisted()
        with self.span(name, kind=kind, group=group) as s:
            yield s
        s["leaked"] = self._persisted() - before

    def ops(self, kind: str = "op") -> list[dict]:
        return [s for s in self.spans if s.get("kind") == kind
                and s["name"] != "setup"]

    # -- layer prefixes -------------------------------------------------

    def _noop(self, name: str, build) -> float:
        """median seconds to build and materialize a DataFrame through a
        noop sink, under its own job group."""
        times = []
        for _ in range(PROBE_REPS):
            with self.op(name, kind="probe") as s:
                build().write.format("noop").mode("overwrite").save()
            times.append(s["end"] - s["start"])
        return statistics.median(times)

    def probe_layers(self, wl) -> dict:
        """self times of the layer prefixes this workload runs through,
        and the layers whose prefix function no longer exists."""
        from s2spark import joins
        out: dict = {"missing": {}}
        pts = getattr(wl, "pts", None)
        if pts is None:
            return out
        out["scan_s"] = self._noop("probe:scan", lambda: pts)
        if not hasattr(joins, "with_cell_id"):
            out["missing"]["encode.s, pip.*, tile_agg.s"] = \
                "joins.with_cell_id is gone"
            return out
        encoded = self._noop("probe:encode", lambda: joins.with_cell_id(pts))
        out["encode.s"] = encoded - out["scan_s"]
        if not all(hasattr(joins, f) for f in ("coverings_df",
                                                "pip_join_bucketed")):
            out["missing"]["pip.*, tile_agg.s"] = (
                "joins.coverings_df or joins.pip_join_bucketed is gone")
            return out

        def pip():
            cov_df = joins.coverings_df(self.spark, wl.cov, bucket_level=8)
            return joins.pip_join_bucketed(
                pts, cov_df, wl.params, bucket_level=8,
                extra_cols=("lat", "lng"), emit_cell_id=True)
        out["pip_total_s"] = self._noop("probe:pip", pip)
        out["pip.s"] = out["pip_total_s"] - encoded
        return out


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

class EventLog:
    """the counts of one application's uncompressed event log, keyed by
    job group."""

    def __init__(self, path: str):
        self.job_group: dict[int, str] = {}
        self.job_exec: dict[int, int] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_time: dict[int, tuple[float, float]] = {}
        self.tasks: list[dict] = []
        self.sql_metric: dict[int, tuple[int, str, str]] = {}
        self.accum: dict[int, float] = defaultdict(float)
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.job_group[jid] = props.get("spark.jobGroup.id")
            if props.get("spark.sql.execution.id") is not None:
                self.job_exec[jid] = int(props["spark.sql.execution.id"])
            for sid in e["Stage IDs"]:
                self.stage_job.setdefault(sid, jid)
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if si.get("Submission Time") and si.get("Completion Time"):
                self.stage_time[si["Stage ID"]] = (
                    si["Submission Time"] / 1000.0,
                    si["Completion Time"] / 1000.0)
        elif ev == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            self.tasks.append({
                "stage": e["Stage ID"],
                "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                "m": e.get("Task Metrics") or {}})
            for a in ti.get("Accumulables") or []:
                self._add(a.get("ID"), a.get("Update"))
        elif ev.endswith("SparkListenerSQLExecutionStart") \
                or ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e.get("sparkPlanInfo") or {})
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e.get("accumUpdates") or []:
                self._add(aid, v)

    def _add(self, aid, value) -> None:
        try:
            self.accum[int(aid)] += float(value)
        except (TypeError, ValueError):
            pass

    def _plan(self, exec_id: int, node: dict) -> None:
        for m in node.get("metrics") or []:
            self.sql_metric[m["accumulatorId"]] = (
                exec_id, node.get("nodeName", ""), m["name"])
        for c in node.get("children") or []:
            self._plan(exec_id, c)

    def groups_stages(self, groups: set) -> list[int]:
        return [sid for sid, jid in self.stage_job.items()
                if self.job_group.get(jid) in groups]

    def jobs(self, groups: set) -> int:
        return sum(1 for g in self.job_group.values() if g in groups)

    def task_sum(self, groups: set, *keys: str) -> float:
        stages = set(self.groups_stages(groups))
        total = 0.0
        for t in self.tasks:
            if t["stage"] in stages:
                v = t["m"]
                for k in keys:
                    v = (v or {}).get(k, 0)
                total += float(v or 0)
        return total

    def task_skew(self, groups: set) -> float:
        """max over stages (of two tasks or more) of the longest task
        over the median task."""
        by_stage: dict[int, list[float]] = defaultdict(list)
        stages = set(self.groups_stages(groups))
        for t in self.tasks:
            if t["stage"] in stages:
                by_stage[t["stage"]].append(t["dur"])
        ratios = [max(d) / statistics.median(d)
                  for d in by_stage.values()
                  if len(d) >= 2 and statistics.median(d) > 0]
        return max(ratios, default=1.0)

    def sql(self, groups: set, metric: str, node_prefix: str = "") -> float:
        """a SQL metric summed over the plans these groups executed."""
        execs = {x for jid, x in self.job_exec.items()
                 if self.job_group.get(jid) in groups}
        return sum(self.accum.get(aid, 0.0)
                   for aid, (x, node, name) in self.sql_metric.items()
                   if x in execs and name == metric
                   and node.startswith(node_prefix))

    def busy(self, groups: set, start: float, end: float) -> float:
        """seconds of [start, end] in which a stage of these groups ran."""
        iv = sorted(self.stage_time[s] for s in self.groups_stages(groups)
                    if s in self.stage_time)
        busy, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            s, e = max(s, start), min(e, end)
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return busy


def _event_log_file(directory: str) -> str:
    files = [os.path.join(directory, f) for f in os.listdir(directory)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {directory}, "
                           f"found {len(files)}")
    return files[0]


def untraced_pass_s(runs_dir: str, workload: str, config: dict
                    ) -> float | None:
    """median pass_s of the untraced runs of the same workload
    configuration recorded in this checkout."""
    path = os.path.join(runs_dir, f"{workload}.jsonl")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        vals = [r["metrics"]["pass_s"] for r in map(json.loads, f)
                if r.get("trace") == 0 and r.get("config") == config]
    return statistics.median(vals) if vals else None


def layer_metrics(wl, tracer: Tracer, event_log: str, passes: list[float],
                  probes: dict, cpus: int, untraced: float | None
                  ) -> tuple[dict, dict]:
    """(per-layer metrics, detail) of a traced run. A layer this
    workload does not run reads 0; a layer that could not be measured
    reads 0 and is named under ``missing`` with the reason."""
    from perfbench.workloads import QUERY_MODULES
    tracer.restore()
    log = EventLog(_event_log_file(event_log))
    ops = tracer.ops()
    groups = {s["group"] for s in ops}
    n_pass = len(passes)
    pass_s = statistics.median(passes)
    v: dict[str, float] = defaultdict(float)
    missing = dict(probes.get("missing", {}))
    for fn in tracer.absent:
        missing[fn] = "function is gone, so its calls have no spans"

    def per_pass(x: float) -> float:
        return x / n_pass

    def children(span, name):
        return [s for s in tracer.spans if s["parent"] == span["id"]
                and s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    # executors, exchange, driver
    v["driver.jobs"] = per_pass(log.jobs(groups))
    v["driver.stages"] = per_pass(len(log.groups_stages(groups)))
    v["driver.idle_s"] = per_pass(sum(
        dur(s) - log.busy({s["group"]}, s["start"], s["end"]) for s in ops))
    v["shuffle.write_bytes"] = per_pass(log.task_sum(
        groups, "Shuffle Write Metrics", "Shuffle Bytes Written"))
    v["shuffle.read_bytes"] = per_pass(
        log.task_sum(groups, "Shuffle Read Metrics", "Remote Bytes Read")
        + log.task_sum(groups, "Shuffle Read Metrics", "Local Bytes Read"))
    v["shuffle.fetch_wait_s"] = per_pass(log.task_sum(
        groups, "Shuffle Read Metrics", "Fetch Wait Time") / 1000.0)
    v["spill.bytes"] = per_pass(
        log.task_sum(groups, "Memory Bytes Spilled")
        + log.task_sum(groups, "Disk Bytes Spilled"))
    v["exec.run_s"] = per_pass(log.task_sum(groups, "Executor Run Time")
                               / 1000.0)
    v["exec.cpu_s"] = per_pass(log.task_sum(groups, "Executor CPU Time")
                               / 1e9)
    v["exec.gc_s"] = per_pass(log.task_sum(groups, "JVM GC Time") / 1000.0)
    v["cpu.utilization"] = v["exec.cpu_s"] / (pass_s * cpus)
    v["persist.leaked"] = float(sum(s.get("leaked", 0) for s in ops))
    v["python.worker_s"] = per_pass(log.sql(
        groups, "time to run Python workers") / 1000.0)
    v["python.bytes_sent"] = per_pass(log.sql(
        groups, "data sent to Python workers"))

    # covering construction (timed in set-up)
    cov = [s for s in tracer.spans if s["name"] == "joins.compute_coverings"]
    if cov:
        v["covering.s"] = statistics.median(dur(s) for s in cov)
    if getattr(wl, "cov", None) is not None:
        v["covering.cells"] = len(wl.cov)
    elif getattr(wl, "ranges", None):
        v["covering.cells"] = sum(len(r) for r in wl.ranges.values())

    # encode crossing, PIP join + verify, tiling + aggregate
    for k in ("encode.s", "pip.s"):
        if k in probes:
            v[k] = probes[k]
    if "pip_total_s" in probes:
        pip_groups = {s["group"] for s in tracer.ops("probe")
                      if s["name"] == "probe:pip"}
        v["pip.candidates"] = log.sql(
            pip_groups, "number of output rows", "BroadcastHashJoin") \
            / PROBE_REPS
        v["pip.hits"] = log.sql(
            pip_groups, "number of output rows", "Filter") / PROBE_REPS
        if v["pip.candidates"]:
            v["pip.hit_ratio"] = v["pip.hits"] / v["pip.candidates"]
        v["tile_agg.s"] = statistics.median(
            dur(s) for s in ops if s["name"] == "raster_vector_align") \
            - probes["pip_total_s"]

    # kNN: ops whose call reached knn_join_df
    knn_ops = [s for s in ops if children(s, "joins.knn_join_df")]
    if knn_ops:
        kg = {s["group"] for s in knn_ops}
        call = sum(dur(c) for s in knn_ops
                   for c in children(s, "joins.knn_join_df"))
        v["knn.call_s"] = per_pass(call)
        v["knn.emit_s"] = per_pass(sum(dur(s) for s in knn_ops) - call)
        v["knn.jobs"] = per_pass(log.jobs(kg))
        v["knn.shuffle_bytes"] = per_pass(log.task_sum(
            kg, "Shuffle Write Metrics", "Shuffle Bytes Written"))
        v["knn.task_skew"] = log.task_skew(kg)

    # clustered storage
    write_ops = [s for s in ops if s["name"] == "write_clustered"]
    scan_ops = [s for s in ops if s["name"].startswith("scan_cell_ranges")]
    if write_ops:
        v["io.write_s"] = statistics.median(dur(s) for s in write_ops)
    if scan_ops:
        sg = {s["group"] for s in scan_ops}
        builds = [dur(c) for s in scan_ops
                  for c in children(s, "io.scan_cell_ranges")]
        v["io.scan_build_s"] = statistics.median(builds)
        v["io.scan_exec_s"] = statistics.median(
            dur(s) for s in scan_ops) - v["io.scan_build_s"]
        v["io.files_read"] = log.sql(sg, "number of files read", "Scan") \
            / len(scan_ops)
        v["io.rows_read_ratio"] = log.sql(
            sg, "number of output rows", "Scan") / (len(scan_ops) * wl.N)

    # registry queries
    if wl.name == "query_mix":
        for s in ops:
            v[f"query.{s['name']}.s"] += per_pass(dur(s))
        for m, keys in QUERY_MODULES.items():
            v[f"mix.{m}_s"] = sum(v[f"query.{k}.s"] for k in keys)

    # attribution: self times of the layers this workload reports, as a
    # share of the untraced pass
    base = untraced if untraced else pass_s
    if untraced is None:
        missing["trace.overhead_s"] = ("no untraced run of this workload "
                                       "recorded in this checkout")
        missing["trace.coverage"] = "base is the traced pass_s"
    else:
        v["trace.overhead_s"] = pass_s - untraced
    if wl.name == "query_mix":
        attributed = sum(v[f"mix.{m}_s"] for m in QUERY_MODULES)
    else:
        attributed = (probes.get("scan_s", 0) + v["encode.s"] + v["pip.s"]
                      + v["tile_agg.s"] + v["io.write_s"]
                      + len(scan_ops) / n_pass
                      * (v["io.scan_build_s"] + v["io.scan_exec_s"]))
    v["trace.coverage"] = attributed / base

    metrics = {n: {"value": float(v.get(n, 0.0)), "unit": unit_of(n)}
               for n in layer_names()}
    detail = {"traced_pass_s": pass_s, "untraced_pass_s": untraced,
              "attributed_s": attributed, "missing": missing,
              "spans": len(tracer.spans)}
    return metrics, detail
