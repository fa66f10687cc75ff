"""Per-layer probes of traced runs: the layers no single public call
isolates, measured from outside with the engine's public functions."""

from __future__ import annotations

import glob
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from pdx_spark.config import BM25Params
from pdx_spark.functions.blocks import decode_term_run_views, encode_runs_arrow
from pdx_spark.operators import corpus as C
from pdx_spark.schemas import TRANSCRIPTS
from workload import dir_bytes


def corpus(spark, tracer, base_path: str) -> None:
    """corpus.assign_doc_ids and corpus.doc_postings, each timed into the
    noop sink; doc_postings reads the cached ids so it is timed alone."""
    df = spark.read.schema(TRANSCRIPTS).parquet(base_path)
    with tracer.span("corpus.assign_doc_ids"):
        C.assign_doc_ids(df).write.format("noop").mode("overwrite").save()
    ids = C.assign_doc_ids(df).persist()
    ids.count()
    meta = ids.withColumn(
        "text_hash", F.xxhash64(F.coalesce(F.col("text"), F.lit(""))))
    with tracer.span("corpus.doc_postings"):
        (C.doc_postings(meta, extra_cols=C.DOC_META_COLS)
         .write.format("noop").mode("overwrite").save())
    ids.unpersist()


def _view(arr):
    """(zero-padded data uint8, offsets int64[n+1]) of a BinaryArray."""
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], dtype=np.int32)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = np.zeros(int(off[-1]) + 8, dtype=np.uint8)
    data[:int(off[-1])] = np.frombuffer(bufs[2], dtype=np.uint8)[:int(off[-1])]
    return data, off


def _median_wall(fn, min_total_s: float = 0.5) -> float:
    """Median wall of repeated calls, repeated for at least min_total_s."""
    walls = []
    while len(walls) < 3 or sum(walls) < min_total_s:
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def blocks(index_path: str, terms: list[str], avgdl: float, cfg) -> dict:
    """blocks.decode / blocks.encode throughput, in this process, on the
    segment rows of the timed queries' terms (read with pyarrow)."""
    files = sorted(glob.glob(os.path.join(index_path, "segments", "**",
                                          "*.parquet"), recursive=True))
    tab = (ds.dataset(files, format="parquet")
           .to_table(filter=pc.field("term").isin(terms))
           .sort_by([("term", "ascending"), ("first_doc", "ascending")])
           .combine_chunks())
    col = {n: tab.column(n).to_numpy() for n in
           ("n", "ids_bw", "tfs_bw", "dls_bw", "first_doc", "last_doc",
            "shard")}
    views = [_view(tab.column(c).chunk(0)) for c in ("ids", "tfs", "dls")]
    n_post = int(col["n"].sum())

    def decode():
        return decode_term_run_views(
            *views, col["ids_bw"], col["tfs_bw"], col["dls_bw"], col["n"],
            col["first_doc"], col["last_doc"])

    doc_ids, tfs, dls = decode()

    # re-encode the decoded postings shard by shard, runs = terms
    p_shard = np.repeat(col["shard"], col["n"])
    term_codes = pc.dictionary_encode(tab.column("term")).combine_chunks()
    p_term = np.repeat(term_codes.indices.to_numpy(), col["n"])
    order = np.lexsort((doc_ids, p_term, p_shard))
    sh, tm = p_shard[order], p_term[order]
    d_, t_, l_ = doc_ids[order], tfs[order], dls[order]
    cut = np.flatnonzero((sh[1:] != sh[:-1]) | (tm[1:] != tm[:-1])) + 1
    starts = np.concatenate([[0], cut])
    ends = np.concatenate([cut, [len(sh)]])
    params = BM25Params()

    def encode():
        for s in np.unique(sh):
            sel = np.flatnonzero(sh[starts] == s)
            lo, hi = int(starts[sel[0]]), int(ends[sel[-1]])
            run_terms = term_codes.dictionary.take(pa.array(tm[starts[sel]]))
            encode_runs_arrow(d_[lo:hi], t_[lo:hi], l_[lo:hi],
                              starts[sel] - lo, ends[sel] - lo,
                              lambda rob, rt=run_terms: rt.take(pa.array(rob)),
                              int(s), cfg.block_size, avgdl, params)

    dec, enc = _median_wall(decode), _median_wall(encode)
    return {"blocks.decode": {"wall_s": dec, "postings_per_s": n_post / dec},
            "blocks.encode": {"wall_s": enc, "postings_per_s": n_post / enc},
            "postings": n_post}


def index_parts(path: str) -> dict:
    """Bytes on disk of the index's artifact families."""
    parts = {"segments_bytes": 0, "directory_bytes": 0,
             "term_stats_bytes": 0, "docs_bytes": 0}
    for d in os.listdir(path):
        for key in parts:
            if d.startswith(key[:-len("_bytes")]):
                parts[key] += dir_bytes(os.path.join(path, d))
    return parts
