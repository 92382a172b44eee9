"""Structured Streaming variant of the pipeline (SURVEY §2.9, S1 streaming
mode) — the FIFO-tail deployment of the reference (`fopen` loop over a
named pipe, src/sagan.c:1142-1345) re-expressed as:

    readStream (file source over the transcripts directory)
      → PARSE / IGNORE     (same narrow codegen expressions as batch)
      → MATCH              (same stateless vectorized mapInPandas matcher,
                            run once per trigger)
      → CORRELATE          (ONE applyInPandasWithState grouped by a hash
                            bucket of the row's state key — the streaming
                            analog of the batch partition-shared fold;
                            state = the after/threshold/xbit/flexbit
                            stores, JSON-encoded in the GroupState.  Store
                            ENTRIES evict by EVENT time (_make_pruner —
                            the Clean_IPC_Object analog,
                            src/ipc.c:79-200), which is what bounds a
                            bucket's state; the processing-time timeout
                            only GCs whole buckets that go wall-clock
                            silent)
      → ROUTE              (foreachBatch fan-out to the same sinks)

Watermark note: the reference has NO event-time semantics — correlation
windows use wall-clock arrival (after.c:63-80).  The batch engine made
that deterministic via (epoch, turn_idx) ordering; streaming preserves
arrival-order semantics per micro-batch by sorting each bucket's rows on
(epoch, conv_id, turn_idx, rule_idx) before folding, so replaying the
same file sequence reproduces the batch result (tested in
tests/test_streaming.py).

Key routing.  Like the reference, which keeps correlation state in a few
shared stores addressed by a hash of the track string (after.c:113-117,
threshold.c:118-121, xbit-mmap.c:88-91), every matched row gets the
state key the batch engine partitions by (correlate.state_group_key:
conv_id plus the state-group salt when every key is conv-derived, else
the composite "x" / "f" / "a" / per-sid "d" key) and the stateful
operator groups by

    _bucket = pmod(xxhash64(state key), n)

with ``n`` = the session's ``spark.sql.shuffle.partitions`` when the
query is built.  Rows flagged stateless (NULL composite key, keyed by
conv_id) go through the same call and keep the default flags, so the
matcher feeds one operator and no union.

One CorrState per bucket is exact for the same reason the batch engine
shares one per partition: every store key carries its full state key, so
co-located keys never alias.  The state blob records ``n`` and the
key-scheme version (_KEY_SCHEME); a restart from the same checkpoint
under another partition count or key scheme would find keys in other
buckets than their state, so it raises instead (see streaming_alerts for
when).

Event-time bound (the one the pruner assumes): store eviction is exact
while event-time disorder stays within ONE horizon (the largest rule
window) of the max epoch its state BUCKET has ever seen — the max is
persisted in the GroupState, so the bound spans micro-batches.  Because
the anchor is shared by every key in the bucket, it is coarser than a
per-key anchor: more rows may count as late, never fewer.  A source
backfilling OLDER than that may consult already-pruned entries; such rows
are counted in the ``late_rows`` accumulator (streaming_alerts attaches
one; see its docstring) so silent state loss is observable.

State-size bound: entries whose window has ended go one horizon behind
the bucket max; entries that never expire on their own (count-0
after/threshold, flexbits under a `count` clause) go once their own key
has been silent for two horizons — the event-time counterpart of a
per-key state timeout, and the one place besides late rows where the
stream may differ from the batch engine, which never evicts (see
_make_pruner).  A bucket's state therefore holds the keys active within
the last two horizons of event time, however long the stream has run.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import pandas as pd

from .correlate import (
    CORR_SCHEMA,
    CorrState,
    FlexStore,
    _SORT,
    apply_fold_to_batches,
    has_state,
    state_group_key,
    unified_fold,
    validate_ruleset_for_spark,
    with_default_flags,
)
from .datagen import TRANSCRIPTS_SCHEMA
from .match import MATCH_SCHEMA, build_matcher, candidate_filter
from .parse import parse_transcripts, split_ignored
from .rules.compiler import RuleSet

# GroupState layout: one JSON blob (the four stores, key-stringified)
STATE_SCHEMA = "state string"
# version of the state-key -> bucket mapping (correlate.state_group_key)
# the blobs were written under; bump it whenever a key changes
_KEY_SCHEME = 2


def _encode_state(st: CorrState, n_buckets: int, max_epoch: int,
                  seen: dict) -> str:
    return json.dumps({
        "a": [[list(k), v] for k, v in st.after.items()],
        "t": [[list(k), v] for k, v in st.thresh.items()],
        "x": [[list(k), v] for k, v in st.xbit.items()],
        "f": st.flex.dump(),
        "s": [[a, t] for a, t in seen.items()],  # flexbit address last-seen
        "m": max_epoch,   # max event epoch ever seen (pruner anchor)
        "n": n_buckets,   # bucket count the keys were hashed with
        "v": _KEY_SCHEME,  # how rows were keyed before hashing
    })


def _bucket_mismatch(recorded, running: int) -> str:
    return (f"streaming state was written with {recorded} buckets but "
            f"this query hashes state keys into {running} "
            "(spark.sql.shuffle.partitions); restart with the original "
            "partition count or from a fresh checkpoint")


def _check_buckets(blob: str, n_buckets: int) -> dict:
    d = json.loads(blob)
    if d.get("n") != n_buckets:
        # keys were hashed into a different number of buckets: the rows
        # now landing here belong to other keys, and their own state sits
        # in buckets this query no longer routes them to
        raise RuntimeError(_bucket_mismatch(d.get("n"), n_buckets))
    if d.get("v") != _KEY_SCHEME:
        # same bucket count, but rows were keyed differently: their
        # state may sit in another bucket
        raise RuntimeError(
            "streaming state was written under another state-key scheme "
            f"than this engine's (version {_KEY_SCHEME}); restart from a "
            "fresh checkpoint")
    return d


def _decode_state(blob: str, n_buckets: int) -> tuple[CorrState, int, dict]:
    d = _check_buckets(blob, n_buckets)
    st = CorrState()
    st.after = {tuple(k): v for k, v in d.get("a", [])}
    st.thresh = {tuple(k): v for k, v in d.get("t", [])}
    st.xbit = {tuple(k): v for k, v in d.get("x", [])}
    st.flex = FlexStore.load(d.get("f", []))
    return st, int(d.get("m", 0)), {a: t for a, t in d.get("s", [])}


def default_state_timeout_ms(ruleset: RuleSet) -> int:
    """Eviction default: 2× the largest rule window (after/threshold
    seconds, xbit/flexbit expire) — the streaming analog of the
    reference's Clean_IPC_Object stale-entry eviction (src/ipc.c:79-200).
    Without a timeout, a bucket's GroupState would keep entries of state
    keys the stream has long stopped producing."""
    horizon = 0
    for r in ruleset.rules:
        if r.after:
            horizon = max(horizon, r.after.seconds)
        if r.threshold:
            horizon = max(horizon, r.threshold.seconds)
        for xb in r.xbits:
            horizon = max(horizon, xb.expire)
        for fb in r.flexbits:
            horizon = max(horizon, fb.timeout)
    return 2 * horizon * 1000 if horizon else 3600_000


def _has_flex_count(ruleset: RuleSet) -> bool:
    return any(fb.action == "count"
               for r in ruleset.rules for fb in r.flexbits)


def _make_pruner(ruleset: RuleSet, evict_stale: bool = True):
    """Event-time state eviction (the Clean_IPC_Object analog,
    src/ipc.c:79-200, driven by EVENT epochs instead of wall clock),
    anchored on the max event epoch seen by this state bucket.  The
    bucket is shared by many state keys, so an entry can be evicted
    because ANOTHER key advanced the max.  Entries are therefore dropped
    in two tiers.

    Exact tier: entries whose liveness window ended more than one
    horizon before the max, and that behave exactly like absent ones for
    every row that is not late (epoch >= bucket max - horizon, see
    ``late_rows``):

    * xbits: an entry expired before the cut fails isset and passes
      isnotset, as a missing one does;
    * after / threshold with ``count >= 1``: the window has elapsed, so
      the next event resets the entry to (1, t) with the same flag the
      add-new-entry path returns;
    * flexbits when the ruleset has no `count` clause.

    Stale tier (only with ``evict_stale``, i.e. unless the caller opted
    out of eviction): entries that never become absent-like, dropped
    once their own key has been silent for two horizons — the
    event-time counterpart of a per-key state timeout:

    * after / threshold with ``count 0``: on reset a stale after entry
      fires and a stale threshold entry suppresses (cnt 1 > count 0),
      while a missing entry does neither.  The entry's time field is its
      last event (count 0 fires on every event but the first; threshold
      anchors roll), so it goes once that is 2 horizons behind the max;
    * flexbits under a `count` clause: count is expiry-agnostic
      (flexbit-mmap.c:683-744 checks neither state nor expiry) and counts
      entry CREATIONS, so dropping an expired entry that a later `set`
      would have merely updated would double-count it.  ``seen`` holds
      the last epoch of every address (ip_src / ip_dst) on a state-keyed
      row; an entry goes once neither its src nor its dst is in it, and
      ``seen`` drops addresses 2 horizons behind the max.

    A key that comes back after that silence finds these entries gone
    and starts fresh, where the batch engine (which never evicts) still
    has them.  With ``evict_stale=False`` they are kept for as long as
    the query runs."""
    horizon = default_state_timeout_ms(ruleset) // 2000  # largest window
    after_w = {(r.sid, r.rev): r.after.seconds
               for r in ruleset.rules if r.after}
    thresh_w = {r.sid: r.threshold.seconds
                for r in ruleset.rules if r.threshold}
    after_keep = {(r.sid, r.rev) for r in ruleset.rules
                  if r.after and r.after.count == 0}
    thresh_keep = {r.sid for r in ruleset.rules
                   if r.threshold and r.threshold.count == 0}
    flex_ok = not _has_flex_count(ruleset)

    def prune(st: CorrState, max_epoch: int, seen: dict) -> None:
        cut = max_epoch - horizon
        stale = max_epoch - 2 * horizon if evict_stale else -float("inf")
        st.after = {k: v for k, v in st.after.items()
                    if v[1] + after_w.get(k[:2], 0) >= cut
                    or (k[:2] in after_keep and v[1] >= stale)}
        st.thresh = {k: v for k, v in st.thresh.items()
                     if v[1] + thresh_w.get(k[0], 0) >= cut
                     or (k[0] in thresh_keep and v[1] >= stale)}
        st.xbit = {k: exp for k, exp in st.xbit.items() if exp >= cut}
        if flex_ok:
            keep = [(name, e) for name, e in st.flex.dump() if e[4] >= cut]
            st.flex = FlexStore.load(keep)
        elif evict_stale:
            for a in [a for a, t in seen.items() if t < stale]:
                del seen[a]
            keep = [(name, e) for name, e in st.flex.dump()
                    if e[0] in seen or e[1] in seen]
            st.flex = FlexStore.load(keep)

    return prune


def _bucket_correlator(ruleset: RuleSet, n_buckets: int,
                       timeout_ms: int = 0, late_rows=None):
    """applyInPandasWithState function over one state bucket (all state
    keys hashing to it): the bucket's micro-batch rows are concatenated,
    the state-keyed ones sorted ONCE by _SORT and folded through the
    unified engine-order fold with one CorrState per bucket, persisted in
    the GroupState across micro-batches.  Sharing a CorrState is exact
    because every store key carries its full state key
    ((sid,rev,after_key), (sid,thresh_key), (name,track-value), flexbit
    (name,src,dst)), so keys co-located in a bucket never alias.  Rows
    with no state key (``_stateless``) keep the default flags.

    Store entries are evicted by EVENT time via _make_pruner on every
    invocation, anchored to the max epoch the bucket has EVER seen
    (persisted in the state blob) — rows older than one horizon behind
    that anchor may consult already-pruned entries and are tallied into
    the ``late_rows`` accumulator.  ``timeout_ms=0`` (no eviction) also
    turns off the pruner's stale tier."""
    fold = unified_fold(ruleset)
    evict = bool(timeout_ms)
    prune = _make_pruner(ruleset, evict_stale=evict)
    horizon = default_state_timeout_ms(ruleset) // 2000
    # addresses keep flexbit entries alive in the stale tier
    track_seen = evict and _has_flex_count(ruleset)

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            if state.exists:
                _check_buckets(state.get[0], n_buckets)
            state.remove()
            return
        st, max_epoch, seen = (_decode_state(state.get[0], n_buckets)
                               if state.exists else (CorrState(), 0, {}))
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            keyed = ~pdf["_stateless"].to_numpy()
            pdf = pdf.drop(columns=["_bucket", "_stateless"])
            rows = pdf[keyed].sort_values(_SORT).reset_index(drop=True)
            if len(rows):
                if late_rows is not None and max_epoch:
                    late = int((rows["epoch"] < max_epoch - horizon).sum())
                    if late:
                        late_rows.add(late)
                max_epoch = max(max_epoch, int(rows["epoch"].max()))
                if track_seen:
                    for col in ("ip_src", "ip_dst"):
                        for a, t in zip(rows[col].tolist(),
                                        rows["epoch"].tolist()):
                            if t > seen.get(a, -1):
                                seen[a] = t
                yield from apply_fold_to_batches(fold, st, [rows])
            if not keyed.all():
                yield pdf[~keyed]
        if max_epoch:
            prune(st, max_epoch, seen)
        state.update((_encode_state(st, n_buckets, max_epoch, seen),))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)

    return fn


def read_transcript_stream(spark, path: str, max_files: int = 10):
    """File-source stream over a transcripts parquet directory — the
    FIFO-tail analog (new files == new log lines)."""
    return (spark.readStream
            .schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files)
            .parquet(path))


def streaming_alerts(spark, transcripts_stream, ruleset: RuleSet,
                     state_timeout_ms: int | None = None,
                     late_rows=None):
    """transcripts stream → correlated alert stream (CORR_SCHEMA rows that
    survive suppression are the emit set; filtering/enrichment happens in
    the sink's foreachBatch).

    ``state_timeout_ms=None`` (default) derives the eviction timeout from
    the ruleset's largest window (default_state_timeout_ms): a bucket
    silent for that long in processing time is removed, and entries that
    never expire on their own (count-0 after/threshold, flexbits under a
    `count` clause) are dropped once their key is two horizons behind the
    bucket's max epoch (_make_pruner's stale tier).  Pass 0 to opt out of
    both; the state then keeps those entries for as long as the query
    runs, as the batch engine does.

    ``n`` (the bucket count) is fixed into the plan from the session's
    ``spark.sql.shuffle.partitions``, and Spark restores the checkpoint's
    partition count for the stateful operator on restart.  A restart
    under another count raises when a trigger first decodes (or times
    out) an old bucket; rows that only reach buckets the old query never
    had are folded from empty state before that.  run_stream_to_parquet
    checks the checkpoint up front instead.

    ``late_rows``: optional Spark accumulator; rows arriving with
    epoch < their state bucket's persisted max epoch - horizon (the bound
    under which event-time eviction is exact) are tallied into it, so
    backfill deeper than one horizon is observable instead of silently
    consulting pruned state.  The anchor is the max over every key in
    the bucket, not over the row's own key: it can flag more rows as late
    than a per-key anchor would, never fewer.  Pass
    ``spark.sparkContext.accumulator(0)``."""
    from pyspark.sql import functions as F

    validate_ruleset_for_spark(ruleset)
    if state_timeout_ms is None:
        state_timeout_ms = default_state_timeout_ms(ruleset)
    parsed = parse_transcripts(transcripts_stream)
    kept, _ = split_ignored(parsed, ruleset.ignore_list)
    needed = kept.select("conv_id", "turn_idx", "role", "text", "tool",
                         "ts", "epoch")
    pref = candidate_filter(ruleset)
    if pref is not None:
        needed = needed.filter(pref)
    base = with_default_flags(
        needed.mapInPandas(build_matcher(ruleset), schema=MATCH_SCHEMA))
    if not has_state(ruleset):
        return base
    key, stateless = state_group_key(ruleset)
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucket = F.pmod(F.xxhash64(key), F.lit(n_buckets))
    return (base.withColumn("_bucket", bucket)
            .withColumn("_stateless", stateless)
            .groupBy("_bucket")
            .applyInPandasWithState(
                _bucket_correlator(ruleset, n_buckets, state_timeout_ms,
                                   late_rows),
                outputStructType=CORR_SCHEMA,
                stateStructType=STATE_SCHEMA,
                outputMode="append",
                timeoutConf=("ProcessingTimeTimeout" if state_timeout_ms
                             else "NoTimeout")))


def run_stream_to_parquet(spark, in_path: str, out_path: str,
                          ruleset: RuleSet, checkpoint: str):
    """Start the streaming query writing emitted alerts to parquet with a
    checkpoint (restart-safe exactly-once file sink).  Restarting from a
    checkpoint written under another spark.sql.shuffle.partitions raises
    before the first trigger (the state buckets would no longer match)."""
    from pyspark.sql import functions as F

    recorded = _checkpoint_partitions(checkpoint)
    running = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if recorded is not None and recorded != running:
        raise RuntimeError(_bucket_mismatch(recorded, running))
    alerts = streaming_alerts(spark, read_transcript_stream(spark, in_path),
                              ruleset)
    emitted = alerts.filter(
        F.col("xbit_pass") & F.col("flexbit_pass") &
        ~F.col("suppress_after") & ~F.col("suppress_thresh"))
    return (emitted.writeStream
            .format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .start())


def _checkpoint_partitions(checkpoint: str) -> int | None:
    """spark.sql.shuffle.partitions recorded in the newest offset-log
    entry of a local checkpoint (line 2 of offsets/<batch id> is the
    batch metadata, whose ``conf`` Spark restores on restart); None for
    a new or non-local checkpoint."""
    path = checkpoint[len("file:"):] if checkpoint.startswith("file:") \
        else checkpoint
    offsets = os.path.join(path, "offsets")
    if "://" in path or not os.path.isdir(offsets):
        return None
    ids = [int(f) for f in os.listdir(offsets) if f.isdigit()]
    if not ids:
        return None
    with open(os.path.join(offsets, str(max(ids)))) as fh:
        fh.readline()                      # log version
        conf = json.loads(fh.readline()).get("conf", {})
    n = conf.get("spark.sql.shuffle.partitions")
    return int(n) if n is not None else None
