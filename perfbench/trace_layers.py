"""Traced run: per-layer self time from cumulative prefixes, and per-layer
bytes and rows from Spark's own SQL metrics.

Each prefix builds the pipeline afresh and materialises it up to one more
layer: scan; + parse/ignore; + match; + correlate; + route; + enrich;
+ sinks.  A layer's self time is its prefix's wall minus the previous
prefix's wall (see ``batch_layers`` for the rounds).  Metrics are summed
over every node of the executed plans of a prefix (final AQE plans, query
stages and cached plans included), and a layer's value is the difference
between consecutive prefixes.

The prefixes up to enrich run each frame's own QueryExecution
(``passes.materialise``) and walk its plan afterwards.  The sink writes
plan a QueryExecution of their own, so the sinks prefix collects plans
through a QueryExecutionListener instead.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.java_gateway import ensure_callback_server_started

from passes import build_layers, materialise, run_sinks
from sagan_spark.route import emitted

STAGE_NODES = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
               "TableCacheQueryStageExec", "ResultQueryStageExec")


class PlanWalk:
    """Sums SQL metrics over executed plans.  Keys are
    ``"<node>.<metric>"`` (times in seconds) and ``"<node>"`` for node
    counts.  A cached plan is counted once per walk, however many
    scans of it the plans hold."""

    def __init__(self, spark):
        self.jvm = spark._jvm
        self.totals: Counter = Counter()
        self.seen_cached: set[int] = set()

    def add_qe(self, jqe) -> None:
        self.add_plan(jqe.executedPlan())

    def add_plan(self, node) -> None:
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return self.add_plan(node.finalPhysicalPlan())
        if name in STAGE_NODES:
            return self.add_plan(node.plan())
        if name == "ReusedExchangeExec":
            return          # its exchange is counted where it ran
        if name == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            key = self.jvm.System.identityHashCode(cached)
            if key not in self.seen_cached:
                self.seen_cached.add(key)
                self.totals["persisted_frames"] += 1
                self.add_plan(cached)
        self.totals[name] += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metric = kv._2()
            value = max(int(metric.value()), 0)
            if value:
                kind = metric.metricType()
                scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(kind, 1)
                self.totals[f"{name}.{kv._1()}"] += value * scale
        children = node.children()
        for i in range(children.size()):
            self.add_plan(children.apply(i))


class _QEListener:
    """org.apache.spark.sql.util.QueryExecutionListener, in Python: walks
    the plan of every query created after ``first_qe`` that succeeds
    until it is closed.  It cannot be unregistered: py4j hands the JVM a
    new proxy object on every call, so ``unregister`` finds no match."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, walk: PlanWalk, first_qe: int):
        self.walk = walk
        self.first_qe = first_qe
        self.open = True
        self.lock = threading.Lock()
        self.failures: list[str] = []

    def _mine(self, qe) -> bool:
        return self.open and qe.id() > self.first_qe

    def onSuccess(self, func_name, qe, duration_ns):
        with self.lock:
            if self._mine(qe):
                self.walk.add_qe(qe)

    def onFailure(self, func_name, qe, exception):
        with self.lock:
            if self._mine(qe):
                self.failures.append(f"{func_name}: {exception}")

    def close(self) -> None:
        with self.lock:
            self.open = False


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    attrs: dict = field(default_factory=dict)

    def as_dict(self, t0: float) -> dict:
        return {"name": self.name, "parent": self.parent,
                "start_s": round(self.start - t0, 6),
                "end_s": round(self.end - t0, 6), **self.attrs}


TRACE_ROUNDS = 2
PREFIXES = ("scan", "parse", "match", "correlate", "route", "enrich",
            "sinks")

# per-layer metric -> unit; the order BENCHMARK.json lists them in
PER_LAYER = {
    "parse.scan_s": "s", "parse.s": "s", "parse.rows_in": "rows",
    "parse.ignored_rows": "rows",
    "match.s": "s", "match.python_s": "s", "match.arrow_in_bytes": "B",
    "match.arrow_out_bytes": "B", "match.rows_out": "rows",
    "match.prefilter_rows": "rows", "match.useful_ratio": "ratio",
    "correlate.s": "s", "correlate.exchanges": "count",
    "correlate.persisted_frames": "count", "correlate.shuffle_bytes": "B",
    "correlate.arrow_out_bytes": "B", "correlate.suppressed_rows": "rows",
    "route.s": "s", "route.alert_rows": "rows", "route.eve_alert_rows": "rows",
    "route.drop_rows": "rows",
    "enrich.s": "s", "enrich.broadcast_joins": "count",
    "sinks.s": "s", "sinks.shuffle_bytes": "B", "sinks.bytes_written": "B",
    "streaming.state_bytes": "B", "streaming.state_commit_ms": "ms",
    "streaming.data_triggers": "count", "streaming.nodata_triggers": "count",
    "streaming.late_rows": "rows",
    "session.start_s": "s", "rules.compile_s": "s", "plan.s": "s",
    "pipeline.scale_eff": "ratio", "trace.overhead_s": "s",
}


@dataclass
class Prefix:
    build_s: float        # plan construction, in this process
    wall_s: float         # materialisation
    totals: Counter
    rows: dict            # rows per materialised frame
    extra: dict


def run_prefix(run, upto: str, out_dir: str | None) -> Prefix:
    """Build the pipeline afresh and materialise it up to ``upto``."""
    spark = run.spark
    # QueryExecution ids grow with creation: every query of this prefix
    # has a larger id than this one
    first_qe = spark.range(0)._jdf.queryExecution().id()
    t0 = time.perf_counter()
    layers = build_layers(spark, run.in_dir, run.ruleset)
    t1 = time.perf_counter()
    walk = PlanWalk(spark)
    rows: dict = {}
    extra: dict = {}
    try:
        if upto in ("scan", "parse", "match", "correlate"):
            df = {"scan": layers.transcripts, "parse": layers.kept,
                  "match": layers.matches,
                  "correlate": layers.correlated}[upto]
            rows[upto] = materialise(df)
            t2 = time.perf_counter()
            walk.add_qe(df._jdf.queryExecution())
            if upto == "match":
                extra["matched_turns"] = (layers.matches
                                          .select("conv_id", "turn_idx")
                                          .distinct().count())
            if upto == "correlate":
                extra["emitted"] = emitted(layers.correlated).count()
        elif upto in ("route", "enrich"):
            if upto == "route":
                layers.alerts = layers.routed_alerts
            extra["counters"], rows = run_sinks(layers, None, run.pool)
            t2 = time.perf_counter()
            for df in (layers.correlated, *layers.sink_frames().values(),
                       layers.counters):
                walk.add_qe(df._jdf.queryExecution())
        else:
            listener = _QEListener(walk, first_qe)
            ensure_callback_server_started(spark.sparkContext._gateway)
            spark._jsparkSession.listenerManager().register(listener)
            try:
                extra["counters"], _ = run_sinks(layers, out_dir, run.pool)
                t2 = time.perf_counter()
                # listener events are delivered asynchronously
                spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
                extra["drained_s"] = time.perf_counter() - t0
            finally:
                listener.close()
            if listener.failures:
                raise RuntimeError("; ".join(listener.failures))
    finally:
        layers.unpersist()
    return Prefix(t1 - t0, t2 - t1, walk.totals, rows, extra)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


def batch_layers(run, spans: list) -> dict:
    """Per-layer numbers from the prefixes.  The prefixes up to enrich run
    ``TRACE_ROUNDS`` times and each keeps its fastest round: pass time
    still falls from pass to pass, and a single round can leave a later
    prefix faster than the one before it.  The sinks prefix is a full
    pass; it runs once, between two untraced passes, and the difference is
    the tracing overhead.

    A time difference is only as good as the walls it is taken from.  The
    noise of a prefix is the spread of its rounds; the sinks prefix runs
    once, so the spread of the two untraced passes stands in for it.  A
    self time or overhead that does not exceed the noise of the walls it
    subtracts is unresolved: it is reported as 0, and the run record
    lists it under ``unresolved`` with its raw value and the noise."""
    from passes import read_sinks
    from workloads import compare

    px: dict[str, Prefix] = {}
    walls: dict[str, list[float]] = {}
    out_dir = os.path.join(run.work, "out", "traced")

    def traced(upto, attrs):
        s = time.perf_counter()
        p = run_prefix(run, upto, out_dir if upto == "sinks" else None)
        spans.append(Span(upto, s, time.perf_counter(), "traced_run",
                          {"build_s": p.build_s, "wall_s": p.wall_s,
                           **attrs}))
        walls.setdefault(upto, []).append(p.wall_s)
        return p

    for r in range(TRACE_ROUNDS):
        for upto in PREFIXES[:-1]:
            p = traced(upto, {"round": r})
            if upto not in px or p.wall_s < px[upto].wall_s:
                px[upto] = p
    before = run.one_pass("untraced")
    px["sinks"] = traced("sinks", {})
    after = run.one_pass("untraced")
    untraced_s = (before["wall_s"] + after["wall_s"]) / 2
    # the sinks prefix is a full pass: check it like one
    problems = compare(run.expected, read_sinks(out_dir,
                                                px["sinks"].extra["counters"]))
    run.passes.append({"kind": "traced", "wall_s": px["sinks"].wall_s,
                       "ok": not problems, "mismatch": problems})

    pass_noise = abs(before["wall_s"] - after["wall_s"])
    noise = {k: max(w) - min(w) for k, w in walls.items()}
    noise["sinks"] = pass_noise
    unresolved = run.record["unresolved"] = {}
    run.record["prefix_walls"] = walls
    run.record["prefix_totals"] = {k: dict(p.totals) for k, p in px.items()}

    def resolved(name, value, noise_s):
        if value > noise_s:
            return value
        unresolved[name] = {"value": value, "noise_s": noise_s}
        return 0.0

    def self_s(k):
        i = PREFIXES.index(k)
        if not i:
            return resolved(f"parse.{k}_s", px[k].wall_s, noise[k])
        prev = PREFIXES[i - 1]
        return resolved(f"{k}.s", px[k].wall_s - px[prev].wall_s,
                        max(noise[k], noise[prev]))

    def delta(k, key):
        i = PREFIXES.index(k)
        return px[k].totals[key] - px[PREFIXES[i - 1]].totals[key]

    m = px["match"].totals
    sent = m["FilterExec.numOutputRows"] if m["FilterExec"] \
        else px["parse"].rows["parse"]
    py = "MapInPandasExec."
    return {
        "parse.scan_s": self_s("scan"), "parse.s": self_s("parse"),
        "parse.rows_in": px["scan"].rows["scan"],
        "parse.ignored_rows": (px["scan"].rows["scan"] -
                               px["parse"].rows["parse"]),
        "match.s": self_s("match"),
        "match.python_s": delta("match", py + "pythonTotalTime"),
        "match.arrow_in_bytes": delta("match", py + "pythonDataSent"),
        "match.arrow_out_bytes": delta("match", py + "pythonDataReceived"),
        "match.rows_out": delta("match", py + "pythonNumRowsReceived"),
        "match.prefilter_rows": sent,
        "match.useful_ratio": (px["match"].extra["matched_turns"] / sent
                               if sent else 0.0),
        "correlate.s": self_s("correlate"),
        "correlate.exchanges": delta("correlate", "ShuffleExchangeExec"),
        # minus the pipeline's own persist of the correlated frame
        "correlate.persisted_frames":
            px["correlate"].totals["persisted_frames"] - 1,
        "correlate.shuffle_bytes":
            delta("correlate", "ShuffleExchangeExec.shuffleBytesWritten"),
        "correlate.arrow_out_bytes": delta("correlate",
                                           py + "pythonDataReceived"),
        "correlate.suppressed_rows": (px["correlate"].rows["correlate"] -
                                      px["correlate"].extra["emitted"]),
        "route.s": self_s("route"),
        "route.alert_rows": px["route"].rows["alert"],
        "route.eve_alert_rows": px["route"].rows["eve_alert"],
        "route.drop_rows": px["route"].rows["drop"],
        "enrich.s": self_s("enrich"),
        "enrich.broadcast_joins": delta("enrich", "BroadcastHashJoinExec"),
        "sinks.s": self_s("sinks"),
        "sinks.shuffle_bytes":
            delta("sinks", "ShuffleExchangeExec.shuffleBytesWritten"),
        "sinks.bytes_written": dir_bytes(out_dir),
        "plan.s": statistics.median(p.build_s for p in px.values()),
        "trace.overhead_s": resolved(
            "trace.overhead_s",
            px["sinks"].extra["drained_s"] - untraced_s, pass_noise),
        "untraced_pass_s": untraced_s,
    }


def stream_layers(rec: dict) -> dict:
    return {
        "streaming.state_bytes": rec["state_bytes"],
        "streaming.state_commit_ms": statistics.median(rec["commit_ms"]),
        "streaming.data_triggers": len(rec["trigger_ms"]),
        "streaming.nodata_triggers": rec["nodata_triggers"],
        "streaming.late_rows": rec["late_rows"],
    }


def scale_eff(run, tps_n: float) -> float:
    """turns/s at nproc cores ÷ (nproc × turns/s at 1 core), the 1-core
    figure from the second pass of a fresh local[1] session on the same
    JVM (one pass, so that a traced run stays within its time)."""
    from sagan_spark.session import get_spark

    run.spark.stop()
    run.spark = get_spark("perfbench-1core", cores=1)
    run.spark.sparkContext.setLogLevel("ERROR")
    run.one_pass("scale_warmup")
    tps_1 = run.n_turns / run.one_pass("scale_1core")["wall_s"]
    return tps_n / (run.cores * tps_1)


def traced_run(run) -> dict:
    """Per-layer metrics, each with its unit.  Layers a workload does not
    run report 0."""
    t0 = time.perf_counter()
    spans: list[Span] = []
    values = {k: 0 for k in PER_LAYER}
    values.update({"session.start_s": run.record["session_start_s"],
                   "rules.compile_s": run.record["compile_s"]})
    if run.wl.streaming:
        s = time.perf_counter()
        rec = run.one_pass("untraced")
        spans.append(Span("stream_pass", s, time.perf_counter(), "traced_run",
                          {"trigger_ms": rec.get("trigger_ms")}))
        values.update(stream_layers(rec))
    else:
        layer = batch_layers(run, spans)
        untraced_s = layer.pop("untraced_pass_s")
        values.update(layer)
        s = time.perf_counter()
        values["pipeline.scale_eff"] = scale_eff(run,
                                                 run.n_turns / untraced_s)
        spans.append(Span("scale_1core", s, time.perf_counter(),
                          "traced_run"))
    spans.insert(0, Span("traced_run", t0, time.perf_counter(), None))
    run.record["spans"] = [sp.as_dict(t0) for sp in spans]
    run.record["per_layer"] = values
    return {k: (values[k], u) for k, u in PER_LAYER.items()}
