"""Rule-engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload entry_dense --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout.  The run
  1. writes the seeded input to parquet and computes the oracle's routed
     rows and counters (no clock runs);
  2. sets up: starts the session at local[nproc] (``get_spark``, which
     ships the package), compiles the rules, runs ``WARMUP_PASSES``
     cold passes -- ``setup_s``;
  3. runs passes until ``--seconds`` of pass time is measured, checking
     every pass against the oracle;
  4. with ``--trace 1``, runs the traced prefixes instead of reporting
     the end-to-end metrics (see trace_layers.py).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` (passes) and ``metrics``.  The pass series, spans and
per-layer numbers go to ``perfbench/out/<workload>-s<seed>-t<trace>.json``.
Exits 2 without a result when the engine sources are missing.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS, Workload  # noqa: E402

WARMUP_PASSES = 2

END_TO_END_UNITS = {"turns_per_s": "turns/s", "trigger_p50_ms": "ms",
                    "setup_s": "s", "peak_mem_mb": "MB"}


def engine_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, *p)) for p in (
        ("sagan_spark", "pipeline.py"), ("oracle", "engine.py")))


def isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``: Python and JVM
    temp files, Spark local dirs."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata,
    # and a GC log per JVM for heap_after_gc_mb
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-Xlog:gc:file={tmp}/gc-%p.log")
    tempfile.tempdir = None      # re-read TMPDIR


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def peak_rss_by_process() -> dict[str, float]:
    """VmHWM in MB of each engine process: the JVM and the Python workers
    it forked, keyed by "<pid> <name>".  This process is left out: its
    peak is set by input generation and the oracle, before the engine
    starts."""
    out = {}
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid} {fields['Name'].strip()}"] = \
                int(fields["VmHWM"].split()[0]) / 1024
    return out


def worker_peak_mb(by_process: dict[str, float]) -> float:
    """Summed VmHWM of the Python workers (every engine process but the
    JVM)."""
    return sum(mb for key, mb in by_process.items()
               if key.split(" ", 1)[1] != "java")


# a pause line of the unified GC log: "... Pause Young (Normal) (G1
# Evacuation Pause) 1004M->422M(1096M) 29.574ms"
GC_PAUSE = re.compile(r"Pause .*?(\d+)M->(\d+)M\(\d+M\)")


def heap_after_gc_mb(work: str) -> tuple[float, int]:
    """The largest heap left after any GC pause of the run, and the number
    of pauses.  Unlike the heap's peak, which is the young generation G1
    chose to fill, this is what the engine held."""
    after = []
    for path in glob.glob(os.path.join(work, "tmp", "gc-*.log")):
        with open(path) as f:
            after.extend(int(m.group(2)) for m in GC_PAUSE.finditer(f.read()))
    return float(max(after, default=0)), len(after)


def non_heap_peaks_mb(spark) -> dict[str, float]:
    """Peak used MB of each non-heap JVM memory pool (metaspace, code
    cache; MemoryPoolMXBean) since the JVM started."""
    pools = spark._jvm.java.lang.management.ManagementFactory \
        .getMemoryPoolMXBeans()
    return {p.getName(): p.getPeakUsage().getUsed() / 2**20
            for p in (pools.get(i) for i in range(pools.size()))
            if p.getType().name() == "NON_HEAP"}


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait for every child."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()       # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def spent(rec: dict) -> float:
    """A pass's wall; a failed pass counts with all the time it took."""
    return rec["wall_s"] if rec["ok"] else rec["elapsed_s"]


class Run:
    def __init__(self, wl: Workload, seed: int, seconds: float, trace: bool,
                 work: str):
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.in_dir = os.path.join(work, "input")
        self.warm_dir = os.path.join(work, "input-warmup")
        self.record: dict = {"workload": wl.name, "seed": seed,
                             "cores": self.cores, "trace": int(trace),
                             "commit": os.environ.get("BENCH_COMMIT",
                                                      "unknown")}
        self.passes: list[dict] = []
        self.n_out = 0

    # -- inputs and oracle (untimed) ------------------------------------------

    def prepare(self) -> None:
        """Inputs and the oracle's outputs for them.  A stream warm-up
        pass drains the first file only, so it has an oracle of its
        own."""
        from workloads import expected_outputs, make_rows, rules_dir, \
            split_files, write_files
        from sagan_spark.rules.compiler import compile_ruleset_from_dir

        t0 = time.perf_counter()
        rows = make_rows(self.wl, self.seed)
        chunks = split_files(self.wl, rows)
        write_files(chunks, self.in_dir)
        if self.wl.streaming:
            write_files(chunks[:1], self.warm_dir)
        self.n_turns = len(rows)
        self.rules_dir = rules_dir(self.wl, self.work)
        t1 = time.perf_counter()
        ruleset = compile_ruleset_from_dir(self.rules_dir)
        self.expected = expected_outputs(ruleset, rows)
        if self.wl.streaming:
            self.expected_warm = expected_outputs(ruleset, chunks[0])
        self.record.update(n_turns=self.n_turns, gen_s=t1 - t0,
                           oracle_s=time.perf_counter() - t1)

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        from sagan_spark.session import get_spark
        from sagan_spark.rules.compiler import compile_ruleset_from_dir

        self.spark = get_spark("perfbench", cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._split_size()
        t1 = time.perf_counter()
        self.ruleset = compile_ruleset_from_dir(self.rules_dir)
        t2 = time.perf_counter()
        warm = [self.one_pass("warmup") for _ in range(WARMUP_PASSES)]
        self.record.update(session_start_s=t1 - t0, compile_s=t2 - t1,
                           setup_s=(t2 - t0) + sum(map(spent, warm)))

    def _split_size(self) -> None:
        """Input split sizing as ``sagan_spark.job`` derives it."""
        total = sum(os.path.getsize(os.path.join(self.in_dir, f))
                    for f in os.listdir(self.in_dir))
        split = min(128 * 1024 * 1024,
                    max(2 * 1024 * 1024, total // (4 * self.cores)))
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))

    # -- passes ---------------------------------------------------------------

    def _out(self) -> str:
        self.n_out += 1
        return os.path.join(self.work, "out", str(self.n_out))

    def one_pass(self, kind: str) -> dict:
        """One checked pass.  A pass that raises or disagrees with the
        oracle is recorded as failed."""
        from workloads import compare

        rec = {"kind": kind, "wall_s": 0.0, "ok": False}
        out = self._out()
        t0 = time.perf_counter()
        try:
            if self.wl.streaming:
                self._stream_pass(rec, out)
            else:
                self._batch_pass(rec, out)
        except Exception:
            rec["error"] = traceback.format_exc(limit=8)
        rec["elapsed_s"] = time.perf_counter() - t0
        if "got" in rec:
            warm = self.wl.streaming and kind == "warmup"
            problems = compare(self.expected_warm if warm else self.expected,
                               rec.pop("got"))
            rec["ok"] = not problems and not rec.get("error")
            if problems:
                rec["mismatch"] = problems
        if not rec["ok"]:
            print(f"{kind} pass failed: {rec.get('mismatch')} "
                  f"{rec.get('error', '')}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        self.passes.append(rec)
        return rec

    def _batch_pass(self, rec: dict, out: str) -> None:
        from passes import batch_pass, read_sinks

        wall, counters = batch_pass(self.spark, self.ruleset, self.in_dir,
                                    out, self.pool)
        rec["wall_s"] = wall
        rec["got"] = read_sinks(out, counters)

    def _stream_pass(self, rec: dict, out: str) -> None:
        from passes import read_stream_sink, stream_pass

        warm = rec["kind"] == "warmup"
        sp = stream_pass(self.spark, self.ruleset,
                         self.warm_dir if warm else self.in_dir,
                         os.path.join(out, "alert"),
                         os.path.join(out, "checkpoint"),
                         1 if warm else self.wl.stream_files)
        rec.update(wall_s=sp.wall, trigger_ms=sp.data_ms,
                   nodata_triggers=sp.nodata_triggers,
                   commit_ms=sp.commit_ms, state_bytes=sp.state_bytes,
                   late_rows=sp.late_rows,
                   files_per_trigger=sp.files_per_trigger)
        if sp.late_rows:
            rec["error"] = f"{sp.late_rows} late rows"
        if any(n != 1 for n in sp.files_per_trigger):
            rec["error"] = f"files per trigger {sp.files_per_trigger}"
        rec["got"] = read_stream_sink(os.path.join(out, "alert"),
                                      self.ruleset)

    def measure(self) -> dict:
        timed = []
        # The pass count is kept fixed as long as min_passes passes take
        # longer than --seconds: passes keep speeding up for many passes,
        # so a count that varies with speed makes the median jump.
        while (len(timed) < self.wl.min_passes or
               sum(map(spent, timed)) < self.seconds):
            timed.append(self.one_pass("timed"))
        good = [p for p in timed if p["ok"]] or timed
        wall = statistics.median(map(spent, good))
        triggers = [t for p in good for t in p.get("trigger_ms", [])]
        # a batch pass is one trigger
        trig = statistics.median(triggers) if triggers else wall * 1000
        return {"turns_per_s": self.n_turns / wall, "trigger_p50_ms": trig,
                "setup_s": self.record["setup_s"],
                "peak_mem_mb": self.peak_mem_mb()}

    def peak_mem_mb(self) -> float:
        """JVM heap after GC at its largest, plus the JVM's non-heap pools
        at their peak, plus the Python workers' peak resident size."""
        heap, pauses = heap_after_gc_mb(self.work)
        non_heap = non_heap_peaks_mb(self.spark)
        workers = worker_peak_mb(peak_rss_by_process())
        self.record["memory_mb"] = {
            "heap_after_gc": heap, "gc_pauses": pauses,
            "non_heap": non_heap, "workers": workers}
        return heap + sum(non_heap.values()) + workers

    def main(self) -> dict:
        from concurrent.futures import ThreadPoolExecutor

        from trace_layers import traced_run

        self.prepare()
        with ThreadPoolExecutor(max_workers=4) as pool:
            self.pool = pool
            self.setup()
            try:
                metrics = traced_run(self) if self.trace else self.measure()
            finally:
                self.record["rss_by_process_mb"] = peak_rss_by_process()
                stop_engine(self.spark)
        return metrics


def result_line(run: Run, metrics: dict, trace: bool) -> dict:
    failed = sum(1 for p in run.passes if not p["ok"])
    if trace:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    else:
        out = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
               for k, v in metrics.items()}
    return {"correct": failed == 0, "attempted": len(run.passes),
            "failed": failed, "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not engine_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds,
              bool(args.trace), work)
    try:
        metrics = run.main()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = result_line(run, metrics, bool(args.trace))
    run.record.update(passes=run.passes, metrics=line["metrics"],
                      fail_frac=line["failed"] / line["attempted"])
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(run.record, f, indent=1, default=str)
    # compact: the traced line holds 36 metrics and must stay under
    # 2,000 characters
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
