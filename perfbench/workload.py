"""One run of a workload: set-up, a read-only serving window, the
correctness gate, then ingest rounds beside serving.

Phases, in order:
  1. set-up, SETUP_REPS times: Indexer.build of the base corpus,
     Searcher.load, WARMUP_BATCHES untimed batches from the warm-up
     query stream. setup_s and build_s are the medians of the reps; the
     last rep's index serves the rest of the run.
  2. serving window (read-only): a closed loop (one client, next batch
     sent when the last returns) of whole 8-batch cycles, as many as fill
     --seconds on the reference host; every 2nd batch has a predicate.
  3. correctness gate and plan-mode check (untimed).
  4. ingest: one untimed warm-up round, then INGEST_ROUNDS timed rounds
     of: append one delta, maintain(), Searcher.load, one batch that also
     asks for the delta's needle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

from pdx_spark import IndexConfig, Indexer, Searcher
from pdx_spark.operators.maintenance import Maintainer
from pdx_spark.schemas import TRANSCRIPTS

SETUP_REPS = 3
WARMUP_BATCHES = 1
CYCLE = 8               # batches per serving cycle
# nominal wall of one cycle on the reference host (4 cores); the window
# runs round(--seconds / this) whole cycles, so every run of a workload
# serves the same batches whatever the host's speed of the moment
NOMINAL_CYCLE_S = {"serve_mixed": 4.0, "serve_topical": 8.0}
FILTER_EVERY = 2        # so one cycle runs each of the 4 predicates once
MAX_DELTAS = 0          # every maintain() folds the new delta, so all
                        # compactions of a run are of one kind
INGEST_ROUNDS = 2
EXPECTED_MODE = {"serve_mixed": "exhaustive", "serve_topical": "routed"}
NEEDLE_QID = 1_000_000


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def ranked(rows) -> dict[int, list[tuple[int, float]]]:
    """result rows -> query_id -> [(doc_id, score)] (score desc, doc asc)"""
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["doc_id"]), float(r["score"])))
    for v in out.values():
        v.sort(key=lambda x: (-x[1], x[0]))
    return out


def same_ranking(got, want) -> bool:
    return (len(got) == len(want)
            and all(g[0] == w[0] and abs(g[1] - w[1]) <= 1e-9 * max(1.0, abs(w[1]))
                    for g, w in zip(got, want)))


class WorkloadRun:
    def __init__(self, spark, tracer, inp: dict, idx_root: str,
                 seconds: float, inject_mismatch: bool = False):
        self.spark = spark
        self.tracer = tracer
        self.inp = inp
        self.workload = inp["workload"]
        self.idx_root = idx_root
        self.seconds = seconds
        self.inject = inject_mismatch
        dps = inp["docs_per_shard"]
        self.cfg = IndexConfig(docs_per_shard=dps) if dps else IndexConfig()
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.diag: dict = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.notes) < 20:
            self.notes.append(what)

    # -- engine calls, each one span ----------------------------------------
    def build(self, df, path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        with self.tracer.span("indexer.build"):
            Indexer(self.spark, cfg=self.cfg).build(df, path)
        self.attempted += 1

    def load(self, path: str) -> Searcher:
        with self.tracer.span("searcher.load"):
            s = Searcher.load(self.spark, path)
        return s

    def batch(self, searcher, queries, predicate=None, **attrs):
        with self.tracer.span("searcher.search_batch", queries=len(queries),
                              **attrs) as rec:
            rows = searcher.search_batch(
                [tuple(q) for q in queries], predicate=predicate).collect()
        rec["plan"] = dict(searcher.last_plan)
        self.attempted += 1
        return rows, rec

    # -- phases -------------------------------------------------------------
    def setup(self):
        base = self.spark.read.schema(TRANSCRIPTS).parquet(self.inp["base"])
        warm = iter(self.inp["warmup"])
        reps = []
        for i in range(SETUP_REPS):
            path = os.path.join(self.idx_root, f"rep{i}")
            t0 = time.time()
            self.build(base, path)
            searcher = self.load(path)
            for _ in range(WARMUP_BATCHES):
                self.batch(searcher, next(warm), phase="warmup")
            reps.append(time.time() - t0)
            if i:
                shutil.rmtree(os.path.join(self.idx_root, f"rep{i - 1}"),
                              ignore_errors=True)
        self.path = path
        self.diag["setup_reps_s"] = reps
        self.setup_s = statistics.median(reps)
        # the first build also pays the process's JIT and Python-worker
        # warm-up; build_s is the engine's build, so it leaves that out
        self.build_s = statistics.median(
            self.tracer.walls("indexer.build")[1:])
        self.index_bytes = dir_bytes(path)
        return searcher

    def serve(self, searcher, cpu) -> list[tuple]:
        """Closed-loop read-only window; returns (batch, predicate, rows)."""
        preds = self.inp["predicates"]
        timed = self.inp["timed"]
        n_batches = CYCLE * max(1, round(self.seconds
                                         / NOMINAL_CYCLE_S[self.workload]))
        if n_batches > len(timed):
            raise ValueError("--seconds asks for more batches than the "
                             "timed query stream holds")
        out, n_queries = [], 0
        c0, t0 = cpu(), time.time()
        for i in range(n_batches):
            pred = preds[(i // FILTER_EVERY) % len(preds)] \
                if i % FILTER_EVERY == FILTER_EVERY - 1 else None
            rows, rec = self.batch(searcher, timed[i], pred, phase="serve",
                                   filtered=pred is not None)
            out.append((timed[i], pred, rows, rec["plan"]))
            n_queries += len(timed[i])
        wall, cpu_s = time.time() - t0, cpu() - c0
        self.next_query_batch = n_batches
        self.qps = n_queries / wall
        self.cpu_ms_per_query = 1000.0 * cpu_s / n_queries
        self.batch_walls = self.tracer.walls("searcher.search_batch",
                                             phase="serve", filtered=False)
        self.filtered_walls = self.tracer.walls("searcher.search_batch",
                                                phase="serve", filtered=True)
        self.diag["serve_window_s"] = wall
        self.diag["serve_batches"] = n_batches
        return out

    def check_modes(self, served) -> None:
        want = EXPECTED_MODE[self.workload]
        counts: dict[str, int] = {}
        for _b, _p, _rows, plan in served:
            mode = plan.get("mode")
            counts[mode] = counts.get(mode, 0) + 1
            if mode != want:
                self.fail(f"plan mode {mode}, expected {want}")
        self.diag["plan_modes"] = counts
        pairs = [p.get("n_main", 0) / (p["n_queries"] * p["n_shards"])
                 for *_x, p in served if p.get("mode") == "routed"]
        self.scan_pair_ratio = float(np.mean(pairs)) if pairs else 1.0

    def check_results(self, searcher, served) -> None:
        """serve_mixed: a fixed sample against the Python BM25 oracle;
        serve_topical: every timed batch against exact=True."""
        got = []
        for bi, (batch, pred, rows, _plan) in enumerate(served):
            res = ranked(rows)
            for q in batch:
                got.append((bi, q, pred, res.get(q[0], [])))
        if self.workload == "serve_mixed":
            # five queries per batch (one of each query kind) over the
            # first cycle, so every predicate is in the sample
            got = [g for g in got if g[0] < CYCLE
                   and g[1][0] % 50 in (1, 3, 10, 24, 42)]
        if self.inject:
            # a deliberately wrong answer, to prove the gate catches one
            res = next(g[3] for g in got if len(g[3]) >= 2)
            res[0], res[1] = res[1], res[0]
        if self.workload == "serve_mixed":
            self._check_oracle(got)
        else:
            self._check_exact(searcher, got)

    def _check_oracle(self, sample) -> None:
        import pandas as pd

        from pdx_spark.oracle import BM25Oracle
        base = pd.read_parquet(self.inp["base"])
        oracle = BM25Oracle(dict(enumerate(base["text"])))
        allowed = {pred: set(np.nonzero(_eval_pred(base, pred))[0].tolist())
                   for pred in self.inp["predicates"]}
        for _bi, (qid, text, k), pred, res in sample:
            want = oracle.topk(text, k, allowed=allowed.get(pred))
            self.attempted += 1
            if not same_ranking(res, want):
                self.fail(f"oracle mismatch q{qid} '{text}' pred={pred}")
        self.diag["checked_queries"] = len(sample)

    def _check_exact(self, searcher, got) -> None:
        by_pred: dict = {}
        for bi, (qid, text, k), pred, res in got:
            by_pred.setdefault(pred, []).append((bi * 1000 + qid, text, k, res))
        n = 0
        for pred, items in by_pred.items():
            rows = searcher.search_batch([(key, t, k) for key, t, k, _ in items],
                                         exact=True, predicate=pred).collect()
            want = ranked(rows)
            for key, text, _k, res in items:
                n += 1
                self.attempted += 1
                if not same_ranking(res, want.get(key, [])):
                    self.fail(f"exact mismatch q{key} '{text}' pred={pred}")
        self.diag["checked_queries"] = n

    def ingest(self) -> None:
        deltas = self.inp["deltas"][:1 + INGEST_ROUNDS]
        timed = self.inp["timed"]
        qi = self.next_query_batch
        rounds = []
        for r, d in enumerate(deltas):
            # round 0 is untimed: the first append, compaction and
            # delta-merged read of a process run cold (new plan shapes)
            phase = "ingest" if r else "ingest_warmup"
            if r == 1:
                t0 = time.time()
            ddf = self.spark.read.schema(TRANSCRIPTS).parquet(d["path"])
            with self.tracer.span("maintenance.append", phase=phase,
                                  text_bytes=d["text_bytes"]) as a:
                Maintainer(self.spark, self.path).append(ddf, batch_id=r)
            with self.tracer.span("maintenance.maintain", phase=phase) as m:
                mt = Maintainer(self.spark, self.path)
                gen = mt.manifest.get("gen")
                mt.maintain(max_deltas=MAX_DELTAS)
                m["compacted"] = mt.manifest.get("gen") != gen
            with self.tracer.span("searcher.load", phase=phase) as ld:
                searcher = Searcher.load(self.spark, self.path)
            batch = timed[qi % len(timed)] + [[NEEDLE_QID, d["needle"], 10]]
            qi += 1
            rows, rec = self.batch(searcher, batch, phase=phase)
            self.attempted += 2
            hits = [x for x in rows if x["query_id"] == NEEDLE_QID]
            if len(hits) != 1:
                self.fail(f"needle {d['needle']}: {len(hits)} hits")
            if r:
                rounds.append({"append": a["wall_s"], "maintain": m["wall_s"],
                               "compacted": m["compacted"],
                               "refresh": ld["wall_s"] + rec["wall_s"]})
        self.diag["ingest_window_s"] = time.time() - t0
        self.diag["ingest_rounds"] = rounds
        self._check_needles(searcher, deltas)
        comp = [x["maintain"] for x in rounds if x["compacted"]]
        self.diag["compactions"] = len(comp)
        if not comp:
            raise RuntimeError("no compaction ran in the ingest window")
        self.append_p50_s = statistics.median(x["append"] for x in rounds)
        self.refresh_p50_s = statistics.median(x["refresh"] for x in rounds)
        self.compact_p50_s = statistics.median(comp)

    def _check_needles(self, searcher, deltas) -> None:
        """Every appended delta's needle maps to the injected doc key."""
        q = [(i, d["needle"], 10) for i, d in enumerate(deltas)]
        res = searcher.search_batch(q)
        keys = {int(r["query_id"]): (r["conv_id"], int(r["turn_idx"]))
                for r in searcher.lookup_keys(res).collect()}
        for i, d in enumerate(deltas):
            self.attempted += 1
            if keys.get(i) != tuple(d["key"]):
                self.fail(f"needle {d['needle']} -> {keys.get(i)}")


def _eval_pred(base, pred: str) -> np.ndarray:
    """The four benchmark predicates, evaluated in pandas (SQL 3-valued
    logic: a NULL comparison does not pass)."""
    import pandas as pd
    col, op, val = pred.split(" ", 2)
    if col == "ts":
        cut = pd.Timestamp(val.split("'")[1], tz="UTC")
        return (base["ts"] < cut).to_numpy()
    s = base[col]
    lit = val.strip("'")
    ok = s.notna().to_numpy()
    return ok & ((s == lit) if op == "=" else (s != lit)).to_numpy()
