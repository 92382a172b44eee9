"""The engine as the benchmark drives it, through its public functions.

``build_layers`` composes parse → ignore → match → correlate → route →
enrich the way ``sagan_spark.pipeline.run_pipeline`` does; ``batch_pass``
then runs one pass the way ``sagan_spark.job`` does: ``correlated.count()``,
then the three sink writes and the counters as concurrent Spark jobs.
``stream_pass`` drains a fixed backlog of files through
``sagan_spark.streaming.streaming_alerts`` into a parquet file sink.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql.streaming import StreamingQueryListener

from sagan_spark.correlate import run_correlate
from sagan_spark.enrich import attach_gen_msg, attach_references, enrich_alerts
from sagan_spark.match import run_match
from sagan_spark.parse import (
    ignore_condition,
    parse_transcripts,
    split_ignored,
)
from sagan_spark.route import (
    alert_sink,
    drop_sink,
    emitted,
    eve_alert_sink,
    sink_counts,
)
from sagan_spark.sinks import write_sink
from sagan_spark.streaming import read_transcript_stream, streaming_alerts

from workloads import ALERT_COLS, DROP_COLS, EVE_COLS, canonical

# column order of the alert sink (sagan_spark.pipeline.run_pipeline)
SINK_ALERT_COLUMNS = (
    "conv_id", "turn_idx", "ts", "gid", "sid", "rev", "msg", "classtype",
    "class_desc", "pri", "ip_src", "src_port", "ip_dst", "dst_port",
    "proto", "text", "action", "ref_urls", "gen_msg")
SINKS = ("alert", "eve_alert", "drop")


@dataclass
class Layers:
    transcripts: object
    kept: object
    matches: object
    correlated: object
    routed_alerts: object   # alert_sink before enrichment
    alerts: object          # enriched, in sink column order
    eve_alerts: object
    drops: object
    counters: object
    persisted: list = field(default_factory=list)

    def sink_frames(self) -> dict:
        return {"alert": self.alerts, "eve_alert": self.eve_alerts,
                "drop": self.drops}

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


def build_layers(spark, in_dir: str, ruleset) -> Layers:
    transcripts = spark.read.parquet(in_dir)
    parsed = parse_transcripts(transcripts)
    kept, dropped = split_ignored(parsed, ruleset.ignore_list)
    matches = run_match(kept, ruleset)
    persisted: list = []
    correlated = (run_correlate(matches, ruleset, persists=persisted)
                  .persist(StorageLevel.MEMORY_AND_DISK))
    persisted.append(correlated)
    routed = alert_sink(correlated, ruleset)
    alerts = attach_gen_msg(
        attach_references(enrich_alerts(routed, spark, ruleset),
                          spark, ruleset),
        spark, ruleset).select(*SINK_ALERT_COLUMNS)
    return Layers(
        transcripts=transcripts, kept=kept, matches=matches,
        correlated=correlated, routed_alerts=routed, alerts=alerts,
        eve_alerts=eve_alert_sink(correlated, ruleset),
        drops=drop_sink(dropped),
        counters=sink_counts(correlated, parsed,
                             ignore_condition(ruleset.ignore_list), ruleset),
        persisted=persisted)


def run_sinks(layers: Layers, out_dir: str | None,
              pool: ThreadPoolExecutor) -> tuple[dict, dict]:
    """``correlated.count()``, then the three sinks and the counter row as
    concurrent jobs (``sagan_spark.job``).  Returns the counter row and
    the rows per sink.  ``out_dir=None`` materialises the sink frames
    without writing them (the traced route/enrich prefixes), and only
    then are the rows per sink counted."""
    layers.correlated.count()
    if out_dir is None:
        futs = {name: pool.submit(materialise, df)
                for name, df in layers.sink_frames().items()}
    else:
        futs = {name: pool.submit(write_sink, df, os.path.join(out_dir, name))
                for name, df in layers.sink_frames().items()}
    fc = pool.submit(lambda: layers.counters.collect()[0].asDict())
    rows = {name: f.result() for name, f in futs.items()}
    return fc.result(), (rows if out_dir is None else {})


def materialise(df) -> int:
    """Run ``df``'s own QueryExecution, so its executed plan carries the
    SQL metrics afterwards (a ``noop`` write would plan a second one)."""
    return df._jdf.queryExecution().toRdd().count()


def batch_pass(spark, ruleset, in_dir: str, out_dir: str,
               pool: ThreadPoolExecutor) -> tuple[float, dict]:
    t0 = time.perf_counter()
    layers = build_layers(spark, in_dir, ruleset)
    counters, _ = run_sinks(layers, out_dir, pool)
    wall = time.perf_counter() - t0
    layers.unpersist()
    return wall, counters


def read_sinks(out_dir: str, counters: dict) -> dict:
    """The written sinks in the oracle's canonical form."""
    cols = {"alert": ALERT_COLS, "eve_alert": [c for c, _ in EVE_COLS],
            "drop": DROP_COLS}
    frames = {name: pq.read_table(os.path.join(out_dir, name),
                                  columns=list(cols[name])).to_pandas()
              for name in SINKS}
    return canonical(counters=counters, **frames)


# ---------------------------------------------------------------------------
# streaming
# ---------------------------------------------------------------------------

class _Progress(StreamingQueryListener):
    """Collects every progress event of one query (the listener bus
    delivers them in order, after each trigger commits) and the highest
    file-log offset read so far."""

    def __init__(self):
        self.events: list = []
        self.offset = -1
        self.cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self.cond:
            self.events.append(p)
            self.offset = max(self.offset,
                              _log_offset(p.sources[0].endOffset))
            self.cond.notify_all()

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class StreamPass:
    wall: float                  # query start -> last data trigger committed
    data_ms: list[float]         # triggerExecution of triggers with data
    nodata_triggers: int
    commit_ms: list[float]       # state-store commit time per data trigger
    state_bytes: int             # state-store memory after the last trigger
    late_rows: int
    files_per_trigger: list[int]


def stream_pass(spark, ruleset, in_dir: str, out_dir: str, ckpt: str,
                n_files: int, timeout_s: float = 150.0) -> StreamPass:
    """Drain the backlog of ``n_files`` files in ``in_dir`` (one file per
    trigger), stop as soon as the trigger reading the last file has
    committed, then ``stop()`` the query.  The default processing-time
    state timeout keeps scheduling empty triggers, so draining never ends
    on its own."""
    late = spark.sparkContext.accumulator(0)
    listener = _Progress()
    spark.streams.addListener(listener)
    alerts = emitted(streaming_alerts(
        spark, read_transcript_stream(spark, in_dir, max_files=1), ruleset,
        late_rows=late))
    started = time.time()
    q = (alerts.writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ckpt)
         .outputMode("append").start())
    try:
        deadline = time.monotonic() + timeout_s
        with listener.cond:
            while listener.offset < n_files - 1:
                if not q.isActive:
                    raise RuntimeError(f"stream ended early: {q.exception()}")
                if time.monotonic() > deadline:
                    raise TimeoutError(f"stream read {listener.offset + 1} "
                                       f"of {n_files} files in {timeout_s} s")
                listener.cond.wait(0.05)
            events = list(listener.events)
    finally:
        q.stop()
        spark.streams.removeListener(listener)
    data = [p for p in events if p.numInputRows > 0]
    last = data[-1]
    ended = (_epoch_s(last.timestamp) +
             last.durationMs["triggerExecution"] / 1e3)
    return StreamPass(
        wall=ended - started,
        data_ms=[float(p.durationMs["triggerExecution"]) for p in data],
        nodata_triggers=len(events) - len(data),
        commit_ms=[float(sum(op.commitTimeMs for op in p.stateOperators))
                   for p in data],
        state_bytes=sum(op.memoryUsedBytes for op in last.stateOperators),
        late_rows=int(late.value),
        files_per_trigger=[_files(p) for p in data])


def _files(progress) -> int:
    """Files a trigger read: the file source's offsets are batch ids of
    its file log, one file per id at ``maxFilesPerTrigger=1``; the first
    trigger has no start offset."""
    src = progress.sources[0]
    return _log_offset(src.endOffset) - _log_offset(src.startOffset)


def _log_offset(offset) -> int:
    try:
        return int(json.loads(offset)["logOffset"])
    except (TypeError, ValueError, KeyError):
        return -1


def read_stream_sink(out_dir: str, ruleset) -> dict:
    noalert = {r.sid for r in ruleset.rules if r.noalert}
    pdf = pq.read_table(out_dir, columns=list(ALERT_COLS[:-1])).to_pandas()
    return canonical(stream_alert=pdf[~pdf["sid"].isin(noalert)])
