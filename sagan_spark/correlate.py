"""Stage 5 — CORRELATE: after / threshold / xbit / flexbit stateful
semantics.

The reference keeps this state in mmap'd shared memory keyed by
Djb2(track-string) (/root/reference/src/after.c, src/threshold.c,
src/xbit-mmap.c, src/flexbit-mmap.c).  Here each state key becomes a
Spark partition-local dict entry:

* ``after``      — key (sid, rev, after_key)   [after.c:113-117 matches
                   hash + sid + rev]
* ``threshold``  — key (sid, thresh_key)       [threshold.c:118-121
                   matches hash + sid only — rev is NOT part of the key]
* ``xbits``      — key (name, track value) (xbit-mmap.c:88-91)
* ``flexbits``   — a store of (name, ip_src, ip_dst, ports, expire,
                   state) entries compared direction-specifically
                   (flexbit-mmap.c:61-1494)

Execution strategy (scale notes): ONE plan for every ruleset, batch and
streaming alike.  state_group_key gives every matched row one state key,
which co-locates every row that can touch the same store entry, and the
engine folds each key's rows in EXACT engine order (engine.c:1132-1570:
flexbit/xbit conditions gate → after → threshold → xbit/flexbit sets only
when not suppressed) through unified_fold:

* batch: ``repartition(key) → sortWithinPartitions(key, _SORT) →`` one
  ``mapInPandas``, one shuffle of matched rows and one Arrow round-trip;
* streaming: one ``applyInPandasWithState`` over hash buckets of the
  same key (streaming.py).

The key is ``conv_id`` plus the state-group salt when every correlation
key is conv-derived (the common transcript case, where every clause
combination is exact), else the composite general_group_key_col
(IP-extracted keys, 'none'-direction flexbits).  Composite keys cover
one store each, so rules needing two stores on one row are rejected at
plan time (validate_ruleset_for_spark); after + threshold with different
tracks share the per-sid "d" key instead.

* Deterministic (epoch, conv_id, turn_idx, rule_idx) order inside each
  key — the batch replacement for the reference's wall-clock arrival
  order (SURVEY §2.6).
* The reference's data-dependent reset anchoring (after.c:130-137 resets
  from the *window anchor*, threshold.c:131 rolls the anchor on every
  event) is a sequential fold — not expressible as a sliding-window SQL
  aggregate, exactly as SURVEY §4.3 planned.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from .match import MATCH_SCHEMA
from .rules.compiler import RuleSet
from .semantics import FlexStore, flexbit_gate, xbit_track_value

CORR_SCHEMA = (MATCH_SCHEMA +
               ", suppress_after boolean, suppress_thresh boolean, "
               "xbit_pass boolean, flexbit_pass boolean")

_SORT = ["epoch", "conv_id", "turn_idx", "rule_idx"]


def _track_conv_derived(tracks: tuple[str, ...]) -> bool:
    """Under fallback addressing (engine.c:967-1045) ip_src/ip_dst are
    conv_id; ports/username collapse to constants.  A track set keyed only
    on by_username/by_srcport/by_dstport therefore yields one GLOBAL key
    ('|0||0|') — partitioning that by conv_id would fragment a single
    shared counter into per-partition state.  Conv-partitioning is only
    sound when the track set includes by_src or by_dst."""
    return "by_src" in tracks or "by_dst" in tracks


def has_none_flexbits(ruleset: RuleSet) -> bool:
    """'none'-direction flexbit state is shared across conv keys (any
    src/dst matches, flexbit-mmap.c:124) — but only for the clauses that
    actually compare directions (isset/isnotset/unset); a 'set' clause
    ignores its direction field entirely."""
    return any(fb.direction == "none" for r in ruleset.rules
               for fb in r.flexbits
               if fb.action in ("isset", "isnotset", "unset"))


def conv_keyed_only(ruleset: RuleSet) -> bool:
    """True when every stateful rule's correlation keys are functions of
    conv_id alone (the host-fallback path, engine.c:967-1045): no
    parse_src_ip/parse_dst_ip/parse_port/normalize on a rule that has
    after/threshold/xbits/flexbits, every after/threshold track set
    contains a conv-derived component (see _track_conv_derived), and no
    flexbit uses the cross-conv 'none' direction.  Then ONE
    conv_id-hash repartition co-locates every correlation key — the
    north star's explicit conv_id partitioning — and the whole stateful
    stage is a single shuffle + one engine-order fold."""
    for r in ruleset.rules:
        if not (r.after or r.threshold or r.xbits or r.flexbits):
            continue
        if (r.parse_src_ip or r.parse_dst_ip or r.parse_port or
                r.normalize):
            return False
        if r.after and not _track_conv_derived(r.after.tracks):
            return False
        if r.threshold and not _track_conv_derived(r.threshold.tracks):
            return False
    return not has_none_flexbits(ruleset)


def state_groups(ruleset: RuleSet) -> dict[int, int]:
    """rule_idx → state-interaction group id.

    The hot-conversation salt (north rule: "salted repartition for hot
    conversations"), exact by construction: after/threshold state is
    keyed by sid (after.c:113-117, threshold.c:118-121) and xbit/flexbit
    state by name (xbit-mmap.c:88-91, flexbit-mmap.c name match), so two
    rules can only interact when they share an xbit/flexbit NAME.
    Union-find over shared names partitions the ruleset into independent
    groups; repartitioning by (conv_id, group) splits a hot
    conversation's rows across #groups partitions with bit-identical
    results — no cross-partition state can exist."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent[find(a)] = find(b)

    # a flexbit `count` clause scans entries of EVERY name
    # (flexbit-mmap.c:683-744), so its presence couples all flexbit rules
    has_count = any(fb.action == "count"
                    for r in ruleset.rules for fb in r.flexbits)
    for i, r in enumerate(ruleset.rules):
        node = ("r", i)
        find(node)
        for xb in r.xbits:
            union(node, ("x", xb.name))
        for fb in r.flexbits:
            union(node, ("f", fb.name))
        if has_count and r.flexbits:
            union(node, ("f", "__all__"))
    roots: dict = {}
    out: dict[int, int] = {}
    for i in range(len(ruleset.rules)):
        root = find(("r", i))
        out[i] = roots.setdefault(root, len(roots))
    return out


def flexbit_groups(ruleset: RuleSet) -> dict[int, int]:
    """rule_idx → flexbit state-group id, for flexbit rules only.

    Flexbit entries live in per-NAME lists (flexbit-mmap.c name match on
    every isset/unset/set scan) — even the 'none' direction only widens
    the (src, dst) comparison, never the name scope — so rules interact
    iff they share a flexbit NAME.  The one name-agnostic reader is the
    `count` clause (flexbit-mmap.c:683-744 scans entries of every name),
    whose presence couples all flexbit rules into a single group.
    Union-find over shared names; the general-path fold partitions by
    this group id, so the stage is serial ONLY per coupled group, not
    globally (the round-2 repartition(1) scale-killer)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        parent[find(a)] = find(b)

    has_count = any(fb.action == "count"
                    for r in ruleset.rules for fb in r.flexbits)
    for i, r in enumerate(ruleset.rules):
        if not r.flexbits:
            continue
        node = ("r", i)
        find(node)
        for fb in r.flexbits:
            union(node, ("f", fb.name))
        if has_count:
            union(node, ("f", "__all__"))
    roots: dict = {}
    out: dict[int, int] = {}
    for i, r in enumerate(ruleset.rules):
        if r.flexbits:
            root = find(("r", i))
            out[i] = roots.setdefault(root, len(roots))
    return out


# composite state-group key separator (general path, batch + streaming)
GSEP = "\x1f"


def dual_track_rules(ruleset: RuleSet) -> list[int]:
    """rule_idx of rules carrying after AND threshold with DIFFERENT
    track sets — the one IP-keyed shape whose two state keys differ
    row-wise (after.c:113-117 and threshold.c:118-121 each key by their
    own track value).  The composite key routes them to ONE group per
    sid ("d"<GSEP>sid in general_group_key_col) — both stores are
    sid-scoped, so a per-sid group co-locates every row either store can
    touch and the unified fold reproduces engine order exactly
    (after-suppressed rows never reach the threshold counter,
    engine.c:1528).  Per-sid grouping serializes the rule's rows through
    one partition (batch) or state bucket (streaming), which is the
    price of single-pass semantics."""
    return [i for i, r in enumerate(ruleset.rules)
            if r.after and r.threshold
            and r.after.tracks != r.threshold.tracks]


def flex_subkey_modes(ruleset: RuleSet) -> dict[int, str]:
    """flexbit name-group id → finest EXACT partition subkey:

      'src'   every reader (isset/isnotset/unset/count) in the group is
              src-sided (by_src/by_src_p, count by_src): an entry can
              only be consulted by rows sharing its ip_src, so the group
              shards by ip_src with bit-identical results
      'dst'   dst-sided mirror
      'pair'  only both/both_p readers → shard by (ip_src, ip_dst)
      'upair' both/reverse mix → shard by the unordered pair
      ''      anything else ('none', xbitdst cross-directions, mixed
              sides) — the group stays one serial partition, which is
              the reference's own global-scan semantic

    set-only groups (no readers) shard freely ('src')."""
    groups = flexbit_groups(ruleset)
    dirs: dict[int, set] = {g: set() for g in groups.values()}
    for i, r in enumerate(ruleset.rules):
        if i not in groups:
            continue
        for fb in r.flexbits:
            if fb.action in ("isset", "isnotset", "unset"):
                dirs[groups[i]].add(fb.direction)
            elif fb.action == "count":
                dirs[groups[i]].add("count_" + fb.direction)
    out = {}
    for g, d in dirs.items():
        if d <= {"by_src", "by_src_p", "count_by_src"}:
            out[g] = "src"
        elif d <= {"by_dst", "by_dst_p", "count_by_dst"}:
            out[g] = "dst"
        elif d <= {"both", "both_p"}:
            out[g] = "pair"
        elif d <= {"both", "both_p", "reverse", "reverse_p"}:
            out[g] = "upair"
        else:
            out[g] = ""
    return out


def general_group_key_col(ruleset: RuleSet):
    """Per-row composite state-group key (column expr):

      x<GSEP>xbit_key           — xbit store keyed (name, track value);
                                  set/isset interact iff their track
                                  VALUES coincide (xbit-mmap.c:88-91
                                  Xbit_Return_Tracking_Hash), which is
                                  exactly key equality here
      f<GSEP>name-group         — flexbit name-group (flexbit_groups);
                                  a `count` clause couples all groups
                                  into one, so name-agnostic tallies
                                  stay single-group
      d<GSEP>sid                — after + threshold with DIFFERENT
                                  tracks on one rule (dual_track_rules):
                                  the row carries TWO state keys, so the
                                  group is the sid itself — both stores
                                  are sid-scoped, making the per-sid
                                  group the finest key that co-locates
                                  all state either store can touch
      a<GSEP>sid<GSEP>track-key — after/threshold state (after.c:113-117
                                  / threshold.c:118-121 key by sid +
                                  track value; one value per row for
                                  every non-dual-track rule)

    NULL for rows touching no store (stateless rules, or stateful rules
    whose track value is missing); such rows keep the default flags
    (state_group_key)."""
    from pyspark.sql import functions as F

    fgroups = flexbit_groups(ruleset)
    expr = F.when(F.col("xbit_key").isNotNull(),
                  F.concat_ws(GSEP, F.lit("x"), F.col("xbit_key")))
    if fgroups:
        gmap = F.create_map(*[F.lit(x) for i, g in fgroups.items()
                              for x in (i, g)])
        # direction-aware subkey (flex_subkey_modes): shards a name-group
        # across its src/dst/pair keyspace when every reader is
        # side-consistent — the difference between one serial partition
        # per flexbit name and full parallelism at 10M turns
        modes = flex_subkey_modes(ruleset)
        smap = F.create_map(*[F.lit(x) for g, m in modes.items()
                              for x in (g, m)])
        grp = gmap[F.col("rule_idx")]
        src = F.coalesce(F.col("ip_src"), F.lit(""))
        dst = F.coalesce(F.col("ip_dst"), F.lit(""))
        sub = (F.when(smap[grp] == "src", src)
               .when(smap[grp] == "dst", dst)
               .when(smap[grp] == "pair", F.concat_ws("~", src, dst))
               .when(smap[grp] == "upair",
                     F.concat_ws("~", F.least(src, dst),
                                 F.greatest(src, dst)))
               .otherwise(F.lit("")))
        expr = expr.when(F.col("rule_idx").isin(list(fgroups)),
                         F.concat_ws(GSEP, F.lit("f"), grp, sub))
    dual = dual_track_rules(ruleset)
    if dual:
        # keyed by sid (not rule_idx): a sibling rule sharing a dual
        # rule's sid shares its (sid,*)-keyed stores and must land in
        # the same group
        dual_sids = sorted({ruleset.rules[i].sid for i in dual})
        expr = expr.when(
            F.col("sid").isin(dual_sids) &
            F.coalesce(F.col("after_key"), F.col("thresh_key")).isNotNull(),
            F.concat_ws(GSEP, F.lit("d"), F.col("sid").cast("string")))
    expr = expr.when(
        F.coalesce(F.col("after_key"), F.col("thresh_key")).isNotNull(),
        F.concat_ws(GSEP, F.lit("a"), F.col("sid").cast("string"),
                    F.coalesce(F.col("after_key"), F.col("thresh_key"))))
    return expr


def state_group_key(ruleset: RuleSet):
    """(key, stateless) column exprs for a matched row — the one
    state-key decision both engines partition by (batch repartition,
    streaming bucket hash):

    * conv-derived keys (conv_keyed_only): conv_id salted by the rule's
      state group (state_groups), so a hot conversation's rows spread
      over its independent groups.  Group 0 adds no salt, so a
      single-group ruleset is keyed by conv_id alone;
    * otherwise the composite general_group_key_col.  Where it is NULL
      the row touches no store: ``stateless`` is true, the row keeps the
      default flags, and the key falls back to conv_id so such rows
      spread instead of piling into one partition.

    The key is never NULL."""
    from pyspark.sql import functions as F

    if conv_keyed_only(ruleset):
        sg = F.create_map(*[F.lit(x) for i, g in state_groups(ruleset).items()
                            for x in (i, g)])[F.col("rule_idx")]
        return (F.concat_ws(GSEP, F.col("conv_id"),
                            F.when(sg > 0, sg.cast("string"))),
                F.lit(False))
    gkey = general_group_key_col(ruleset)
    return F.coalesce(gkey, F.col("conv_id")), gkey.isNull()


def validate_ruleset_for_spark(ruleset: RuleSet) -> None:
    """Plan-time restrictions that apply ONLY outside the conv-keyed fast
    path (where the unified fold handles every combination exactly)."""
    if conv_keyed_only(ruleset):
        return
    for r in ruleset.rules:
        if (r.xbits or r.flexbits) and (r.after or r.threshold):
            raise ValueError(
                f"sid {r.sid}: xbits/flexbits combined with after/threshold "
                "on IP-extracted keys creates a cross-key state dependency "
                "(engine.c:1132/1516/1560 one-pass semantics); only "
                "conv-derived keys support this in distributed mode")
        if r.xbits and r.flexbits:
            # the row would need an "x" AND an "f" state key; only the
            # conv key co-locates both stores' entries
            raise ValueError(
                f"sid {r.sid}: xbits and flexbits in one rule need the "
                "conv-keyed fast path (cross-store gate interleaving)")
        if r.xbits and len({x.track for x in r.xbits}) > 1:
            raise ValueError(
                f"sid {r.sid}: multi-track xbits need the conv-keyed fast "
                "path (per-xbit keys span partitions otherwise)")


# ---------------------------------------------------------------------------
# per-key state machines (stepped by the unified fold)
# ---------------------------------------------------------------------------

def _after_update(spec, state: dict, key, t: int) -> bool:
    """One Sagan_After2 step (after.c:51-229): returns after_log_flag
    (True = suppress).  Window anchor resets on expiry (after.c:130-137)
    and rolls on every fire (after.c:140-147)."""
    st = state.get(key)
    if st is None:                    # add-new-entry path (after.c:155+)
        state[key] = [1, t]
        return True
    cnt, utime = st[0] + 1, st[1]
    flag = True
    if t - utime > spec.seconds:      # window-anchor reset (after.c:130)
        cnt, utime, flag = 1, t, True
    if spec.count < cnt:              # fire (after.c:140-147)
        utime, flag = t, False
    st[0], st[1] = cnt, utime
    return flag


def _thresh_update(spec, state: dict, key, t: int) -> bool:
    """One Threshold2 step (threshold.c:54-231): returns thresh_log_flag
    (True = suppress); anchor rolls to every event (threshold.c:131)."""
    st = state.get(key)
    if st is None:
        state[key] = [1, t]
        return False
    cnt, utime = st[0] + 1, st[1]
    oldtime = t - utime
    utime = t                         # rolling anchor (threshold.c:131)
    flag = False
    if oldtime > spec.seconds:
        cnt, flag = 1, False
    if spec.count < cnt:              # suppress (threshold.c:138-147)
        flag = True
    st[0], st[1] = cnt, utime
    return flag


def _xbit_condition(rule, store: dict, ip_src: str, ip_dst: str,
                    t: int) -> bool:
    """isset/isnotset gate (Xbit_Condition_MMAP, xbit-mmap.c:180-280),
    per-xbit track keys (multi-track supported)."""
    n_isset = n_isnotset = ok_isset = ok_isnotset = 0
    ex = {"ip_src": ip_src, "ip_dst": ip_dst}
    for xb in rule.xbits:
        if xb.action == "isset":
            n_isset += 1
        elif xb.action == "isnotset":
            n_isnotset += 1
        else:
            continue
        exp = store.get((xb.name, xbit_track_value(xb.track, ex)), 0)
        live = exp != 0 and t < exp
        if xb.action == "isset" and live:
            ok_isset += 1
        elif xb.action == "isnotset" and not live:
            ok_isnotset += 1
    if n_isset == 0 and n_isnotset == 0:
        return True
    return ok_isset == n_isset and ok_isnotset == n_isnotset


def _xbit_apply(rule, store: dict, ip_src: str, ip_dst: str,
                t: int) -> None:
    """set/unset post-match (engine.c:1560-1565, xbit-mmap.c:99/168)."""
    ex = {"ip_src": ip_src, "ip_dst": ip_dst}
    for xb in rule.xbits:
        key = (xb.name, xbit_track_value(xb.track, ex))
        if xb.action == "set":
            store[key] = t + xb.expire        # xbit-mmap.c:99
        elif xb.action == "unset":
            store[key] = 0                    # xbit-mmap.c:168


# ---------------------------------------------------------------------------
# the unified engine-order fold (batch + streaming)
# ---------------------------------------------------------------------------

class CorrState:
    """All four stores, carried across Arrow batches within a partition
    (batch) or across micro-batches (streaming)."""

    __slots__ = ("after", "thresh", "xbit", "flex")

    def __init__(self):
        self.after: dict = {}
        self.thresh: dict = {}
        self.xbit: dict = {}
        self.flex = FlexStore()


def unified_fold(ruleset: RuleSet):
    """Per-row fold in EXACT engine order (engine.c:1132-1570):
    flexbit condition/count + xbit condition gate the rule; only
    gate-passing rows touch the after/threshold counters; sets fire only
    when not suppressed (engine.c:1560-1570)."""
    rules = ruleset.rules

    def fold(pdf: pd.DataFrame, st: CorrState):
        sup_a, sup_t, xpass, fpass = [], [], [], []
        for ridx, t, src, dst, sport, dport, akey, tkey in zip(
                pdf["rule_idx"].tolist(), pdf["epoch"].tolist(),
                pdf["ip_src"].tolist(), pdf["ip_dst"].tolist(),
                pdf["src_port"].tolist(), pdf["dst_port"].tolist(),
                pdf["after_key"].tolist(), pdf["thresh_key"].tolist()):
            rule = rules[ridx]
            # 1. flexbit condition + count (engine.c:1141-1151, 1470-1478)
            if rule.flexbits:
                cond_ret = st.flex.condition(rule, src, dst, sport,
                                             dport, t)
                count_ret = st.flex.count_check(rule, src, dst)
                f_ok = flexbit_gate(rule, cond_ret, count_ret)
            else:
                f_ok = True
            # 2. xbit condition (engine.c:1132-1135, 1480)
            x_ok = (_xbit_condition(rule, st.xbit, src, dst, t)
                    if rule.xbits else True)
            a_flag = t_flag = False
            if f_ok and x_ok:
                # 3. after → threshold (engine.c:1516-1532)
                if rule.after is not None and akey is not None:
                    a_flag = _after_update(
                        rule.after, st.after, (rule.sid, rule.rev, akey), t)
                if (rule.threshold is not None and tkey is not None
                        and not a_flag):
                    t_flag = _thresh_update(
                        rule.threshold, st.thresh, (rule.sid, tkey), t)
                # 4. sets fire only when not suppressed (engine.c:1560-1570)
                if not a_flag and not t_flag:
                    if rule.xbits:
                        _xbit_apply(rule, st.xbit, src, dst, t)
                    if rule.flexbits:
                        st.flex.apply_sets(rule, src, dst, sport, dport, t)
            sup_a.append(a_flag)
            sup_t.append(t_flag)
            xpass.append(x_ok)
            fpass.append(f_ok)
        return sup_a, sup_t, xpass, fpass

    return fold


def apply_fold_to_batches(fold, st: CorrState,
                          batches: Iterator[pd.DataFrame]
                          ) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        sup_a, sup_t, xpass, fpass = fold(pdf, st)
        pdf["suppress_after"] = pd.Series(sup_a, dtype=bool,
                                          index=pdf.index)
        pdf["suppress_thresh"] = pd.Series(sup_t, dtype=bool,
                                           index=pdf.index)
        pdf["xbit_pass"] = pd.Series(xpass, dtype=bool, index=pdf.index)
        pdf["flexbit_pass"] = pd.Series(fpass, dtype=bool, index=pdf.index)
        yield pdf


def with_default_flags(matches):
    """matches (MATCH_SCHEMA) + the CORR_SCHEMA flags every row carries
    before the fold: nothing suppressed, every gate passed."""
    from pyspark.sql import functions as F

    return (matches
            .withColumn("suppress_after", F.lit(False))
            .withColumn("suppress_thresh", F.lit(False))
            .withColumn("xbit_pass", F.lit(True))
            .withColumn("flexbit_pass", F.lit(True)))


def has_state(ruleset: RuleSet) -> bool:
    return any(r.after or r.threshold or r.xbits or r.flexbits
               for r in ruleset.rules)


def run_correlate(matches, ruleset: RuleSet, persists: list | None = None):
    """matches (MATCH_SCHEMA) → matches + suppression/gate flags
    (CORR_SCHEMA), in ONE plan for every ruleset: repartition by the
    row's state key (state_group_key) → sortWithinPartitions(key, _SORT)
    → one mapInPandas running unified_fold over one CorrState per
    partition.  One shuffle of matched rows, one Arrow round-trip, the
    matcher computed once.  Sharing a CorrState across the keys of a
    partition is exact because every store key carries its full state
    key ((sid,rev,after_key), (sid,thresh_key), (name,track-value),
    flexbit (name,src,dst)) and a flexbit `count` clause couples all its
    names into one key, so co-located keys never alias.

    Nothing is persisted: ``persists`` (for callers that collect the
    frames a run persisted) is left empty."""
    validate_ruleset_for_spark(ruleset)
    df = with_default_flags(matches)
    if not has_state(ruleset):
        return df
    key, stateless = state_group_key(ruleset)
    rep = (df.withColumn("_skey", key)
             .withColumn("_stateless", stateless)
             .repartition("_skey")
             .sortWithinPartitions("_skey", *_SORT)
             .drop("_skey"))
    fold = unified_fold(ruleset)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = CorrState()
        for pdf in batches:
            stateless = pdf.pop("_stateless").to_numpy()
            if stateless.any():
                yield pdf[stateless]
                pdf = pdf[~stateless].reset_index(drop=True)
            yield from apply_fold_to_batches(fold, st, [pdf])

    return rep.mapInPandas(run, schema=CORR_SCHEMA)
