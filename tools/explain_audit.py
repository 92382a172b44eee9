"""Dump the physical plans of the key pipeline stages into PLANS.md —
the `.explain("formatted")` audit the scale review asks for: verifies
column pruning / filter pushdown at the scan, the codegen'd candidate
prefilter, broadcast joins for lookups, and the single-shuffle correlate.

Usage: python tools/explain_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def grab(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # literal control chars (the \x1f key separator in concat_ws plans)
    # would make PLANS.md read as binary — render them as escapes
    return "".join(ch if ch == "\n" or ch >= " " else f"\\x{ord(ch):02x}"
                   for ch in buf.getvalue())


def main() -> int:
    from pyspark.sql import functions as F

    from sagan_spark.correlate import run_correlate
    from sagan_spark.enrich import enrich_alerts
    from sagan_spark.match import run_match
    from sagan_spark.parse import parse_transcripts, split_ignored
    from sagan_spark.route import alert_sink
    from sagan_spark.rules.compiler import compile_ruleset_from_dir
    from sagan_spark.session import get_spark

    spark = get_spark("explain_audit", cores=4)
    rs = compile_ruleset_from_dir(os.path.join(REPO, "rules-entry"))
    t = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    t.createOrReplaceTempView("events")
    import __spark_entry__ as E
    tr = spark.sql(E.T_SPARK)

    parsed = parse_transcripts(tr)
    kept, _ = split_ignored(parsed, rs.ignore_list)
    matches = run_match(kept, rs)
    corr = run_correlate(matches, rs)
    from sagan_spark.enrich import attach_gen_msg, attach_references
    alerts = attach_gen_msg(attach_references(
        enrich_alerts(alert_sink(corr, rs), spark, rs), spark, rs),
        spark, rs)

    # IP-extracted keys take the same plan over the composite state key
    # — ONE Exchange, a sort, one mapInPandas unified fold; never a
    # SinglePartition exchange (the round-2 serial scale-killer)
    from sagan_spark.correlate import conv_keyed_only
    rs_ip = compile_ruleset_from_dir(
        os.path.join(REPO, "rules-entry", "ipkeys"))
    assert not conv_keyed_only(rs_ip)
    corr_ip = run_correlate(run_match(parsed, rs_ip), rs_ip)

    from sagan_spark.functions.dedup import minhash_lsh_pairs
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    lsh = minhash_lsh_pairs(docs, threshold=0.8)

    # a pruning probe: only two columns of the raw scan should be read
    pruned = (spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("lang") == "en").select("doc_id", "n_chars"))

    sections = [
        ("Scan → parse → ignore-filter (narrow, codegen; the prefilter "
         "Contains-chain sits directly above the scan)", grab(kept)),
        ("Match stage (JVM candidate prefilter → column-pruned projection "
         "→ mapInPandas matcher)", grab(matches)),
        ("Correlate, conv-derived keys (ONE Exchange "
         "hashpartitioning(_skey = conv_id + state-group salt) → sort → "
         "mapInPandas engine-order fold)", grab(corr)),
        ("Correlate, IP-extracted keys (the same plan over the composite "
         "state key: ONE Exchange hashpartitioning(_skey) → sort → one "
         "unified fold; stateless rows ride along with default flags — "
         "no Union, no persist, no SinglePartition exchange)",
         grab(corr_ip)),
        ("Alert sink with classification + reference + gen-msg enrich "
         "(three BroadcastHashJoins — no shuffle of the fact side)",
         grab(alerts)),
        ("MinHash+LSH near-dup pairs (exact-duplicate collapse → banded "
         "equi-join candidates over representatives → exact-Jaccard "
         "verify → cluster re-expansion)", grab(lsh)),
        ("Column-pruning / pushdown probe on a raw parquet scan "
         "(ReadSchema 2 columns, PushedFilters on lang)", grab(pruned)),
    ]
    out = ["# PLANS — physical-plan audit (`.explain(\"formatted\")`)\n",
           "Generated by tools/explain_audit.py against the entry ruleset.",
           "What to check per section is stated in its heading; the plans",
           "below are verbatim Catalyst output.\n"]
    for title, body in sections:
        out.append(f"\n## {title}\n\n```\n{body.strip()}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
