#!/usr/bin/env python3
"""pdx_spark benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 5 --trace 0

Builds the index from seeded inputs, serves a read-only closed-loop
window, checks the results, then runs ingest rounds beside serving.
Diagnostics go to stdout as '# ' lines; the last stdout line is one JSON
object {correct, attempted, failed, metrics}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see README.md).
All files it writes stay under .perfbench_work/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("serve_mixed", "serve_topical")
CORES = 4
DRIVER_MEM = "4g"

E2E_UNITS = {
    "setup_s": "s", "qps": "queries/s",
    "batch_p50_s": "s", "filtered_batch_p50_s": "s",
    "cpu_ms_per_query": "ms", "append_p50_s": "s", "refresh_p50_s": "s",
    "index_bytes_per_text_byte": "ratio", "peak_rss_mb": "MB",
}
# (layer, span attribute its values are divided by, or "call"; fields)
LAYER_FIELDS = (
    ("indexer.build", "call", ("wall_s", "driver_s", "executor_cpu_s",
                               "input_bytes", "shuffle_write_bytes",
                               "shuffle_read_bytes", "output_bytes",
                               "jobs", "tasks")),
    ("searcher.search_batch", "queries", ("wall_s", "driver_s",
                                        "executor_cpu_s", "input_bytes",
                                        "jobs", "tasks")),
    ("searcher.load", "call", ("wall_s",)),
    ("maintenance.append", "text_bytes", ("wall_s", "driver_s",
                                         "executor_cpu_s", "output_bytes")),
    ("maintenance.maintain", "compacted", ("wall_s", "executor_cpu_s",
                                            "output_bytes", "jobs")),
    ("corpus.assign_doc_ids", "call", ("wall_s", "executor_cpu_s",
                                       "shuffle_write_bytes", "jobs",
                                       "tasks")),
    ("corpus.doc_postings", "call", ("wall_s", "executor_cpu_s",
                                     "input_bytes", "jobs", "tasks")),
)


def say(msg: str) -> None:
    print(f"# {msg}", flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "tiny"), default="bench")
    ap.add_argument("--inject-mismatch", action="store_true",
                    help="corrupt one checked result (tests the gate)")
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload at tiny scale and assert "
                         "the output contract")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    return args


def prepare_env(trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and
    make the engine importable by the driver and the Python workers."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # _JAVA_OPTIONS is read after the command line, so it wins over the
    # session's -Djava.io.tmpdir
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PDX_SPARK_DRIVER_MEM"] = DRIVER_MEM
    if trace:
        os.environ["PDX_SPARK_UI"] = "1"
    else:
        os.environ.pop("PDX_SPARK_UI", None)
    sys.path.insert(0, ROOT)


# -- host and process-tree probes ------------------------------------------
def host_sample() -> tuple[float, int, int]:
    """(1-min load average, steal ticks, total ticks) from /proc."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return os.getloadavg()[0], (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def tree_pids(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def tree_peak_rss_mb() -> dict[str, float]:
    """Sum of the peak resident sets (VmHWM) of this process tree, split
    into the JVM and the Python processes (driver and workers). The
    JVM's share follows its garbage collector's heap sizing, which jumps
    by up to ~0.7 GB between runs of the same seed, so only the Python
    share is a gated metric."""
    kb = {"jvm": 0, "python": 0}
    for pid in tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = f.read()
        except OSError:
            continue
        kind = "jvm" if "\nName:\tjava" in "\n" + status else "python"
        for line in status.splitlines():
            if line.startswith("VmHWM:"):
                kb[kind] += int(line.split()[1])
    return {k: v / 1024.0 for k, v in kb.items()}


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM and every process it
    started, and wait until each has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# -- one run ----------------------------------------------------------------
def run(args) -> dict:
    prepare_env(bool(args.trace))
    import inputs
    import probes
    import workload as W
    from bench import proc_tree_cpu
    from pdx_spark import get_spark

    marks = [("start", time.time())]

    def mark(name: str) -> None:
        marks.append((name, time.time()))

    inp = inputs.load_or_generate(args.workload, args.scale, args.seed,
                                  os.path.join(WORK, "cache"))
    mark("inputs")
    load0, steal0, total0 = host_sample()
    say(f"host before: load1={load0:.2f}")

    t_session = time.time()
    spark = get_spark(cores=min(CORES, os.cpu_count() or CORES),
                      app=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    say(f"session_start_s={time.time() - t_session:.3f}")
    mark("session")
    idx_root = os.path.join(WORK, "idx", f"{args.workload}-{os.getpid()}")
    tracer = spans.Tracer(spark, bool(args.trace))
    wr = W.WorkloadRun(spark, tracer, inp, idx_root, args.seconds,
                       inject_mismatch=args.inject_mismatch)
    try:
        searcher = wr.setup()
        say(f"setup reps (s): {[round(x, 3) for x in wr.diag['setup_reps_s']]}")
        mark("setup")
        served = wr.serve(searcher, proc_tree_cpu)
        mark("serve")
        wr.check_modes(served)
        wr.check_results(searcher, served)
        mark("check")
        probed = {}
        if args.trace:
            probes.corpus(spark, tracer, inp["base"])
            terms = sorted({t for b, *_ in served for _q, txt, _k in b
                            for t in txt.split()})
            probed = probes.blocks(wr.path, terms, searcher.avgdl,
                                   searcher.cfg)
            probed["index_parts"] = probes.index_parts(wr.path)
            mark("probes")
        wr.ingest()
        mark("ingest")
        peak_rss = tree_peak_rss_mb()
        if args.trace:
            tracer.attribute()
    finally:
        stop_spark(spark)
        shutil.rmtree(idx_root, ignore_errors=True)
    mark("stop")
    say("phase walls (s): " + " ".join(
        f"{b[0]}={b[1] - a[1]:.2f}" for a, b in zip(marks, marks[1:])))

    load1, steal1, total1 = host_sample()
    say(f"host after: load1={load1:.2f} "
        f"steal_share={(steal1 - steal0) / max(total1 - total0, 1):.4f}")
    say(f"peak_rss_mb by process kind: " + " ".join(
        f"{k}={v:.1f}" for k, v in peak_rss.items()))
    say(f"plan modes (timed batches): {wr.diag['plan_modes']}")
    say(f"serve: {wr.diag['serve_batches']} batches in "
        f"{wr.diag['serve_window_s']:.2f} s; ingest: "
        f"{len(wr.diag['ingest_rounds'])} rounds, {wr.diag['compactions']} "
        f"compactions in {wr.diag['ingest_window_s']:.2f} s")
    for k in ("append", "maintain", "refresh"):
        say(f"ingest {k} walls (s): "
            f"{[round(r[k], 3) for r in wr.diag['ingest_rounds']]}")
    walls = sorted(wr.batch_walls)
    n = len(walls)
    if n > 10:  # the highest percentile with 10 samples beyond it
        say(f"batch_tail_s: {walls[n - 11]:.4f} s = p{100 * (n - 10) // n} "
            f"of {n} unfiltered batches")
    else:
        say(f"batch_tail_s: n/a ({n} unfiltered batches; a tail needs 10 "
            f"beyond it)")
    for note in wr.notes:
        say(f"FAILED: {note}")
    say(f"op_failure_share={wr.failed / max(wr.attempted, 1):.6f} "
        f"({wr.failed}/{wr.attempted}; {wr.diag['checked_queries']} served "
        f"queries checked against the reference)")

    # build_s and compact_p50_s moved 24% and 30% (quartile spread over
    # 10 seeds) with host drift on a 4-core host, more than any bound a
    # regression gate can use: printed, not gated; indexer.build and
    # maintenance.maintain carry them in the per-layer metrics
    say(f"build_s={wr.build_s:.4f} s (median of the builds after the "
        f"first)")
    say(f"compact_p50_s={wr.compact_p50_s:.4f} s")
    e2e = {
        "setup_s": wr.setup_s, "qps": wr.qps,
        "batch_p50_s": statistics.median(wr.batch_walls),
        "filtered_batch_p50_s": statistics.median(wr.filtered_walls),
        "cpu_ms_per_query": wr.cpu_ms_per_query,
        "append_p50_s": wr.append_p50_s, "refresh_p50_s": wr.refresh_p50_s,
        "index_bytes_per_text_byte": wr.index_bytes / inp["text_bytes"],
        "peak_rss_mb": peak_rss["python"],
    }
    key = f"{args.workload}-{args.scale}-s{args.seed}"
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    if not args.trace:
        with open(os.path.join(results, key + ".json"), "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
    else:
        metrics = per_layer_metrics(tracer, wr, probed)
        untraced = os.path.join(results, key + ".json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            say("trace.overhead (traced / untraced - 1, same seed): "
                + ", ".join(f"{k}={e2e[k] / base[k] - 1:+.3f}"
                            for k in E2E_UNITS if base.get(k)))
        else:
            say("trace.overhead: n/a (no untraced run of this seed yet)")
    return {"correct": wr.failed == 0, "attempted": wr.attempted,
            "failed": wr.failed, "metrics": metrics}


def per_layer_metrics(tracer, wr, probed) -> dict:
    # coverage: top-level call spans over the timed phases' wall
    timed = [s for s in tracer.spans if s["layer"] in spans.TOP_LAYERS
             and s.get("phase") != "ingest_warmup"]
    e2e_wall = (sum(wr.diag["setup_reps_s"]) + wr.diag["serve_window_s"]
                + wr.diag["ingest_window_s"])
    coverage = sum(s["wall_s"] for s in timed) / e2e_wall
    # search_batch per query over the serving window; maintain per
    # compaction over the timed rounds
    kept = [s for s in tracer.spans if s.get("phase") != "ingest_warmup"
            and not (s["layer"] == "searcher.search_batch"
                     and s.get("phase") != "serve")]
    table = spans.layer_table(kept, {layer: per for layer, per, _f
                                     in LAYER_FIELDS if per != "call"})

    say("per-layer table (per = unit each row is divided by):")
    say(f"{'layer':26s} {'per':>10s} {'calls':>5s} " + " ".join(
        f"{f:>14s}" for f in ("wall_s", "driver_s", "executor_cpu_s",
                               "input_bytes", "shuffle_write_bytes",
                               "shuffle_read_bytes", "output_bytes", "jobs",
                               "tasks", "failed_tasks")))
    for layer, row in sorted(table.items()):
        say(f"{layer:26s} {row['per']:>10s} {row['calls']:5d} " + " ".join(
            f"{row[f]:14.6g}" for f in ("wall_s", "driver_s",
                                        "executor_cpu_s", "input_bytes",
                                        "shuffle_write_bytes",
                                        "shuffle_read_bytes",
                                        "output_bytes", "jobs", "tasks",
                                        "failed_tasks")))
    for layer in ("blocks.decode", "blocks.encode"):
        say(f"{layer:26s} wall_s={probed[layer]['wall_s']:.6f} "
            f"postings_per_s={probed[layer]['postings_per_s']:.1f} "
            f"({probed['postings']} postings)")
    say(f"trace.coverage={coverage:.4f} (top-level call spans / "
        f"{e2e_wall:.2f} s of timed phases)")

    unit_of = {"call": "", "queries": "/query", "text_bytes": "/text_byte",
               "compacted": "/compaction"}
    out = {}
    for layer, per, fields in LAYER_FIELDS:
        for f in fields:
            base_unit = "s" if f.endswith("_s") else (
                "B" if f.endswith("_bytes") else "count")
            out[f"{layer}.{f}"] = {"value": table[layer][f],
                                   "unit": base_unit + unit_of[per]}
    for k, v in probed["index_parts"].items():
        out[f"indexer.build.{k}"] = {"value": v, "unit": "B"}
    modes = wr.diag["plan_modes"]
    out["searcher.search_batch.plans_exhaustive"] = {
        "value": modes.get("exhaustive", 0), "unit": "count"}
    out["searcher.search_batch.plans_routed"] = {
        "value": modes.get("routed", 0), "unit": "count"}
    out["searcher.search_batch.scan_pair_ratio"] = {
        "value": wr.scan_pair_ratio, "unit": "ratio"}
    out["maintenance.maintain.compactions"] = {
        "value": wr.diag["compactions"], "unit": "count"}
    for layer in ("blocks.decode", "blocks.encode"):
        out[f"{layer}.wall_s"] = {"value": probed[layer]["wall_s"],
                                  "unit": "s"}
        out[f"{layer}.postings_per_s"] = {
            "value": probed[layer]["postings_per_s"], "unit": "1/s"}
    out["trace.coverage"] = {"value": coverage, "unit": "ratio"}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.smoke:
        import smoke
        return smoke.main()
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
