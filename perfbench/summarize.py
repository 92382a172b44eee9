"""Summarise run records (perfbench/out/*.json) into one baseline file.

    python3 perfbench/summarize.py perfbench/results/baseline.json

Per workload: every end-to-end metric of the untraced runs as median,
quartiles and spread ((q3 - q1) / median, the figure BENCHMARK.json's
bounds are judged against), and the per-layer numbers of the traced runs,
with the self times that were within the noise (reported as 0).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = (statistics.quantiles(values, n=4) if len(values) > 1
                 else (med, med, med))
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main(out_path: str) -> int:
    runs: dict = {}
    for path in sorted(glob.glob(os.path.join(HERE, "out", "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        w = runs.setdefault(rec["workload"], {"timed": [], "traced": []})
        w["traced" if rec["trace"] else "timed"].append(rec)
    summary: dict = {}
    for name, w in sorted(runs.items()):
        w["timed"].sort(key=lambda r: r["seed"])
        s = summary[name] = {}
        if w["timed"]:
            s["seeds"] = [r["seed"] for r in w["timed"]]
            s["commit"] = sorted({r["commit"] for r in w["timed"]})
            s["n_turns"] = spread([r["n_turns"] for r in w["timed"]])
            s["failed_passes"] = sum(not p["ok"] for r in w["timed"]
                                     for p in r["passes"])
            s["end_to_end"] = {
                k: spread([r["metrics"][k]["value"] for r in w["timed"]])
                for k in w["timed"][0]["metrics"]}
        for r in w["traced"]:
            s.setdefault("traced", []).append({
                "seed": r["seed"], "commit": r["commit"],
                "per_layer": r["per_layer"],
                "unresolved": r.get("unresolved", {}), "spans": r["spans"],
                "failed_passes": sum(not p["ok"] for p in r["passes"])})
    with open(out_path, "w") as f:
        json.dump(summary, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
