"""Tests of the benchmark's own input generation and oracle check (no
Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import dataclasses
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from oracle.engine import Event, OracleEngine  # noqa: E402
from sagan_spark.rules.compiler import compile_ruleset_from_dir  # noqa: E402
from workloads import (  # noqa: E402
    ALERT_COLS,
    EVE_COLS,
    HOT_CONVS,
    HOT_LEN,
    WORKLOADS,
    canonical,
    compare,
    expected_outputs,
    make_rows,
    rules_dir,
    split_files,
    write_files,
)

SMALL = dataclasses.replace(WORKLOADS["entry_dense"], n_convs=12)


@pytest.fixture(scope="module")
def ruleset():
    return compile_ruleset_from_dir(rules_dir(SMALL, ""))


def _engine_like(ruleset, rows):
    """Sink frames and counters shaped like the engine's outputs, built
    from an independent oracle run."""
    o = OracleEngine(ruleset).run([Event(**r) for r in rows])
    alert = pd.DataFrame(o["alerts"])[list(ALERT_COLS)]
    eve = pd.DataFrame(o["eve_alerts"]).rename(
        columns={src: dst for dst, src in EVE_COLS})
    drop = pd.DataFrame(o["drops"])[["conv_id", "turn_idx"]]
    return alert, eve, drop, dict(o["counters"])


def test_matching_outputs_pass(ruleset):
    rows = make_rows(SMALL, seed=7)
    alert, eve, drop, counters = _engine_like(ruleset, rows)
    want = expected_outputs(ruleset, rows)
    assert len(want["alert"]) > 0
    assert compare(want, canonical(alert, eve, drop, counters)) == []


@pytest.mark.parametrize("sink", ["alert", "eve_alert", "drop"])
def test_one_dropped_sink_row_is_caught(ruleset, sink):
    rows = make_rows(SMALL, seed=7)
    alert, eve, drop, counters = _engine_like(ruleset, rows)
    frames = {"alert": alert, "eve_alert": eve, "drop": drop}
    frames[sink] = frames[sink].iloc[1:]
    problems = compare(expected_outputs(ruleset, rows),
                       canonical(counters=counters, **frames))
    assert len(problems) == 1 and problems[0].startswith(sink)
    assert "1 missing" in problems[0]


def test_wrong_counter_is_caught(ruleset):
    rows = make_rows(SMALL, seed=7)
    alert, eve, drop, counters = _engine_like(ruleset, rows)
    counters["alert_total"] += 1
    problems = compare(expected_outputs(ruleset, rows),
                       canonical(alert, eve, drop, counters))
    assert problems and "alert_total" in problems[0]


def test_stream_rows_checked_without_enrichment(ruleset):
    rows = make_rows(SMALL, seed=7)
    alert = _engine_like(ruleset, rows)[0].drop(columns=["class_desc"])
    want = expected_outputs(ruleset, rows)
    assert compare(want, canonical(stream_alert=alert)) == []
    assert compare(want, canonical(stream_alert=alert.iloc[:-1]))


def test_seed_picks_range_and_keeps_hot_convs():
    a, b = make_rows(SMALL, seed=1), make_rows(SMALL, seed=2)
    assert a == make_rows(SMALL, seed=1)
    assert not {r["conv_id"] for r in a} & {r["conv_id"] for r in b}
    for rows in (a, b):
        lens = pd.Series([r["conv_id"] for r in rows]).value_counts()
        assert (lens == HOT_LEN).sum() == HOT_CONVS
        assert (lens < HOT_LEN).sum() == len(lens) - HOT_CONVS


def test_stream_files_in_event_time_order(tmp_path):
    wl = dataclasses.replace(WORKLOADS["ipkeys_stream"], n_convs=20)
    chunks = split_files(wl, make_rows(wl, seed=3))
    assert len(chunks) == wl.stream_files
    keys = [(r["ts"], r["conv_id"], r["turn_idx"]) for c in chunks for r in c]
    assert keys == sorted(keys)
    write_files(chunks, str(tmp_path))
    mtimes = [os.stat(tmp_path / f).st_mtime
              for f in sorted(os.listdir(tmp_path))]
    assert all(x < y for x, y in zip(mtimes, mtimes[1:]))
