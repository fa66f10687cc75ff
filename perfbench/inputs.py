"""Seeded workload inputs, generated once per (workload, scale, seed) and
cached as parquet + JSON under the benchmark's work directory.

Each workload gets:
  * a base corpus (90% of the conversations, sorted by (conv_id,
    turn_idx), so row i is the engine's doc id i after a fresh build);
  * disjoint append deltas cut from the other 10% of the conversations,
    each carrying one injected needle token that exists nowhere else;
  * a warm-up query stream and a timed query stream drawn from
    different seeds (disjoint query instances);
  * the four filter predicates of the filtered batches.
"""

from __future__ import annotations

import json
import os

import numpy as np

from pdx_spark.sources.fixtures import (make_queries_pdf,
                                        make_topic_transcripts_pdf,
                                        make_transcripts_pdf,
                                        topic_query_terms)

# conversations per corpus, index layout, batch size and delta count
SCALES = {
    "bench": {"serve_mixed": 2000, "serve_topical": 1200,
              "topical_docs_per_shard": 128, "deltas": 20},
    "tiny": {"serve_mixed": 80, "serve_topical": 80,
             "topical_docs_per_shard": 8, "deltas": 8},
}
BATCH_SIZE = {"serve_mixed": 50, "serve_topical": 16}
TIMED_BATCHES = 120      # more than any window can use
WARMUP_SEED_OFFSET = 7919
BASE_SHARE = 0.9


def _write_parquet(pdf, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    # an explicit schema: an all-null column (tool, in a small delta)
    # must still be a string column; us precision because Spark's
    # parquet reader rejects ns timestamps
    schema = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                        ("role", pa.string()), ("text", pa.string()),
                        ("tool", pa.string()),
                        ("ts", pa.timestamp("us", tz="UTC"))])
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False),
                   tmp, row_group_size=8192)
    os.replace(tmp, path)


def _topical_queries(n: int, seed: int) -> list[list]:
    """1-3 topic terms per query, from distinct random topics. The
    composition is fixed by position so every batch costs alike: query
    j has 1 + j % 3 terms, and its first term is the topic's signature
    term (postings in every shard) when j % 4 == 0, else a
    topic-exclusive term."""
    n_topics, per_topic = 16, 8
    terms = topic_query_terms(n_topics, per_topic=per_topic)
    rng = np.random.default_rng(seed)
    out = []
    for qid in range(n):
        topics = rng.choice(n_topics, size=1 + qid % 3, replace=False)
        words = [int(rng.integers(1, per_topic)) for _ in topics]
        if qid % 4 == 0:
            words[0] = 0
        out.append([qid, " ".join(terms[int(t) * per_topic + w]
                                  for t, w in zip(topics, words)), 10])
    return out


def _mixed_queries(n: int, seed: int) -> list[list]:
    return [[int(r.query_id), str(r.query_text), int(r.k)]
            for r in make_queries_pdf(n, seed=seed).itertuples()]


def _batches(queries: list[list], size: int) -> list[list[list]]:
    return [queries[i:i + size] for i in range(0, len(queries), size)]


def generate(workload: str, scale: str, seed: int, out_dir: str) -> None:
    """Write the inputs of one (workload, scale, seed) to out_dir, with
    their description last (out_dir/inputs.json marks them complete)."""
    sc = SCALES[scale]
    n_convs = sc[workload]
    if workload == "serve_mixed":
        pdf = make_transcripts_pdf(n_convs, seed=seed)
        make_q = _mixed_queries
    else:
        pdf = make_topic_transcripts_pdf(n_convs, seed=seed)
        make_q = _topical_queries
    rng = np.random.default_rng(seed)
    convs = np.array(sorted(pdf["conv_id"].unique()))
    perm = rng.permutation(len(convs))
    n_base = int(round(BASE_SHARE * len(convs)))
    base_convs = set(convs[np.sort(perm[:n_base])])
    delta_convs = convs[perm[n_base:]]

    base = (pdf[pdf["conv_id"].isin(base_convs)]
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
    os.makedirs(out_dir, exist_ok=True)
    _write_parquet(base, os.path.join(out_dir, "base.parquet"))

    deltas = []
    n_deltas = min(sc["deltas"], len(delta_convs))
    for i, chunk in enumerate(np.array_split(delta_convs, n_deltas)):
        d = (pdf[pdf["conv_id"].isin(set(chunk))]
             .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
        needle = f"fresh{seed}r{i:02d}"
        d.loc[0, "text"] = d.loc[0, "text"] + " " + needle
        name = f"delta_{i:02d}.parquet"
        _write_parquet(d, os.path.join(out_dir, name))
        deltas.append({"path": name, "needle": needle,
                       "key": [str(d.loc[0, "conv_id"]),
                               int(d.loc[0, "turn_idx"])],
                       "text_bytes": int(d["text"].str.len().sum())})

    # the ~50% ts range: a cut at the median timestamp of the base corpus
    mid = base["ts"].sort_values().iloc[len(base) // 2]
    predicates = ["tool = 'bash'", "role = 'assistant'", "role <> 'system'",
                  f"ts < TIMESTAMP '{mid.strftime('%Y-%m-%d %H:%M:%S')}'"]
    size = BATCH_SIZE[workload]
    desc = {
        "workload": workload, "scale": scale, "seed": seed,
        "base": "base.parquet",
        "base_rows": len(base),
        "text_bytes": int(base["text"].str.len().sum()),
        "docs_per_shard": (sc["topical_docs_per_shard"]
                           if workload == "serve_topical" else None),
        "deltas": deltas,
        "predicates": predicates,
        "warmup": _batches(make_q(size * 12, seed + WARMUP_SEED_OFFSET),
                           size),
        "timed": _batches(make_q(size * TIMED_BATCHES, seed), size),
    }
    with open(os.path.join(out_dir, "inputs.json"), "w") as f:
        json.dump(desc, f)


def load_or_generate(workload: str, scale: str, seed: int,
                     cache_dir: str) -> dict:
    """The inputs' description, with file names resolved to paths."""
    out_dir = os.path.join(cache_dir, f"{workload}-{scale}-s{seed}")
    path = os.path.join(out_dir, "inputs.json")
    if not os.path.exists(path):
        generate(workload, scale, seed, out_dir)
    with open(path) as f:
        desc = json.load(f)
    desc["base"] = os.path.join(out_dir, desc["base"])
    for d in desc["deltas"]:
        d["path"] = os.path.join(out_dir, d["path"])
    return desc
