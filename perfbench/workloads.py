"""Workload table, seeded inputs and the oracle check.

Every input row comes from ``sagan_spark.datagen.make_turn``.  The seed
picks which conversation indices a run uses; the first two conversations
of every range are made 200 turns long, so each seed keeps the hot-key
skew that ``datagen.n_turns`` only gives to indices below ``hot_convs``.
The engine under test only ever sees the parquet files written here.

This module imports no Spark: the oracle side and the comparison run in
plain Python, so they can be tested without a session.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

HOT_CONVS = 2
HOT_LEN = 200
BATCH_FILES = 8          # input files for the batch scan (2 per core)
BASE_MTIME = 1_700_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    rules: tuple[str, ...]   # rule directories, relative to the checkout
    n_convs: int
    noise_pct: int
    stream_files: int = 0    # > 0: drive streaming_alerts over this many files
    min_passes: int = 3      # timed passes at least, however fast they are

    @property
    def streaming(self) -> bool:
        return self.stream_files > 0


# BENCHMARK.json lists the two that its run budget allows (README.md).
WORKLOADS = {w.name: w for w in (
    # 11 conv-keyed rules, ~1.4 hits per turn: matcher output, the conv
    # fold, enrich joins and sink writes do the work
    Workload("entry_dense", ("rules-entry",), n_convs=2000, noise_pct=0),
    # 418 rules over 95%-noise turns: scan, JVM prefilter and the per-rule
    # Python loop dominate (the oracle runs ~2.6k turns/s here, which
    # bounds the input)
    Workload("bench_sparse", ("rules-bench",), n_convs=700, noise_pct=95),
    # IP-keyed rules plus a dual-track rule: the staged correlate fallback
    # (4 keyed stages, persists)
    Workload("ipkeys_staged", ("rules-entry/ipkeys", "perfbench/rules"),
             n_convs=1000, noise_pct=0),
    # the same corpus through streaming_alerts: per-trigger state rewrite
    # in applyInPandasWithState.  A trigger costs ~5 s almost regardless
    # of its size, so the backlog is small and two files long.
    Workload("ipkeys_stream", ("rules-entry/ipkeys", "perfbench/rules"),
             n_convs=150, noise_pct=0, stream_files=2, min_passes=2),
)}


# ---------------------------------------------------------------------------
# rules
# ---------------------------------------------------------------------------

def rules_dir(wl: Workload, work: str) -> str:
    """One directory holding the workload's rule files, as
    ``compile_ruleset_from_dir`` expects.  A single source directory is
    used in place; several are merged into ``work``."""
    srcs = [os.path.join(ROOT, d) for d in wl.rules]
    if len(srcs) == 1:
        return srcs[0]
    dst = os.path.join(work, "rules")
    os.makedirs(dst, exist_ok=True)
    for src in srcs:
        for f in sorted(os.listdir(src)):
            path = os.path.join(src, f)
            if os.path.isfile(path):
                shutil.copyfile(path, os.path.join(dst, f))
    return dst


# ---------------------------------------------------------------------------
# seeded inputs
# ---------------------------------------------------------------------------

def first_conv(seed: int) -> int:
    """Start of the seed's conversation-index range (disjoint ranges for
    seeds below 10^6)."""
    return 1000 * (1 + seed % 1_000_000)


def make_rows(wl: Workload, seed: int) -> list[dict]:
    from sagan_spark.datagen import make_turn, n_turns

    base = first_conv(seed)
    rows = []
    for k in range(wl.n_convs):
        i = base + k
        n = HOT_LEN if k < HOT_CONVS else n_turns(i, hot_convs=0)
        rows.extend(make_turn(i, t, wl.noise_pct) for t in range(n))
    return rows


def _write(rows: list[dict], path: str) -> None:
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    # Spark reads microsecond timestamps only
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us")


def split_files(wl: Workload, rows: list[dict]) -> list[list[dict]]:
    """Rows per input file.  Batch: ``BATCH_FILES`` files in conversation
    order.  Stream: ``stream_files`` files in event-time order, (epoch,
    conv_id, turn_idx) as the oracle orders events."""
    if wl.streaming:
        rows = sorted(rows, key=lambda r: (r["ts"], r["conv_id"],
                                           r["turn_idx"]))
    n_files = wl.stream_files or BATCH_FILES
    step = math.ceil(len(rows) / n_files)
    return [rows[k * step:(k + 1) * step] for k in range(n_files)]


def write_files(chunks: list[list[dict]], in_dir: str) -> None:
    """One parquet file per chunk, with strictly increasing mtimes set
    explicitly, so a file-source stream reads them in chunk order."""
    os.makedirs(in_dir, exist_ok=True)
    for k, chunk in enumerate(chunks):
        path = os.path.join(in_dir, f"part-{k:03d}.parquet")
        _write(chunk, path)
        os.utime(path, (BASE_MTIME + k, BASE_MTIME + k))


# ---------------------------------------------------------------------------
# oracle and the output check
# ---------------------------------------------------------------------------

ALERT_COLS = ("conv_id", "turn_idx", "sid", "rev", "msg", "classtype", "pri",
              "ip_src", "src_port", "ip_dst", "dst_port", "proto", "text",
              "action", "class_desc")
# eve_alert sink column -> oracle field
EVE_COLS = (("conv_id", "conv_id"), ("turn_idx", "turn_idx"),
            ("signature_id", "sid"), ("rev", "rev"), ("signature", "msg"),
            ("category", "classtype"), ("severity", "pri"),
            ("src_ip", "ip_src"), ("src_port", "src_port"),
            ("dest_ip", "ip_dst"), ("dest_port", "dst_port"),
            ("proto", "proto"), ("action", "action"))
DROP_COLS = ("conv_id", "turn_idx")
COUNTERS = ("events_received", "events_processed", "ignore_count",
            "saganfound", "alert_total", "after_total", "threshold_total")


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer():
            return int(v)
    return v


def _rows(records, cols) -> list[tuple]:
    return sorted((tuple(_norm(r[c]) for c in cols) for r in records),
                  key=lambda t: tuple("" if x is None else x for x in t))


def expected_outputs(ruleset, rows: list[dict]) -> dict:
    """The oracle's routed rows and counters, in the canonical form
    :func:`compare` takes: per sink a sorted list of tuples."""
    from oracle.engine import Event, OracleEngine

    o = OracleEngine(ruleset).run([Event(**r) for r in rows])
    return {
        "alert": _rows(o["alerts"], ALERT_COLS),
        # the stream writes pre-enrichment rows: no class_desc
        "stream_alert": _rows(o["alerts"], ALERT_COLS[:-1]),
        "eve_alert": _rows(o["eve_alerts"], [c for _, c in EVE_COLS]),
        "drop": _rows(o["drops"], DROP_COLS),
        "counters": {k: int(o["counters"][k]) for k in COUNTERS},
    }


def canonical(alert=None, eve_alert=None, drop=None, counters=None,
              stream_alert=None) -> dict:
    """Engine outputs (pandas frames and the counter row as a dict) in
    the form of :func:`expected_outputs`; a sink left as None is not
    checked."""
    out = {}
    if alert is not None:
        out["alert"] = _rows(alert.to_dict("records"), ALERT_COLS)
    if stream_alert is not None:
        out["stream_alert"] = _rows(stream_alert.to_dict("records"),
                                    ALERT_COLS[:-1])
    if eve_alert is not None:
        out["eve_alert"] = _rows(eve_alert.to_dict("records"),
                                 [c for c, _ in EVE_COLS])
    if drop is not None:
        out["drop"] = _rows(drop.to_dict("records"), DROP_COLS)
    if counters is not None:
        out["counters"] = {k: int(counters[k]) for k in COUNTERS}
    return out


def compare(expected: dict, got: dict) -> list[str]:
    """One line per sink that differs from the oracle; empty when every
    sink present in ``got`` matches."""
    problems = []
    for sink, have in got.items():
        want = expected[sink]
        if have == want:
            continue
        if sink == "counters":
            diff = {k: (have[k], want[k]) for k in want if have[k] != want[k]}
            problems.append(f"counters differ (got, want): {diff}")
            continue
        missing = len(set(want) - set(have))
        extra = len(set(have) - set(want))
        problems.append(f"{sink}: {len(have)} rows vs oracle {len(want)} "
                        f"({missing} missing, {extra} unexpected)")
    return problems
