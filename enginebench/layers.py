"""Per-layer probes for the traced run. Each calls one engine layer
directly on data the run already produced, outside Spark, so its time
is the layer's own."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from engine.postings import BLOCK_COLUMNS, decode_block
from engine.tokenizer import batch_doc_token_arrays, tokenize
from engine.wand import topk_shard

from probes import median

# manifest stage_times keys → build.<name>_s; chunk_* sum to postings
BUILD_STAGES = (
    "fingerprint", "tokens", "shard_metrics", "postings", "dictionary",
    "doc_stats", "doc_norms", "title_terms", "anchor_terms",
)


def build_stages(stage_times: dict[str, float]) -> dict[str, float]:
    out = {s: float(stage_times.get(s, 0.0)) for s in BUILD_STAGES}
    out["postings"] = sum(v for k, v in stage_times.items() if k.startswith("chunk_"))
    return out


def tokenizer(pdf: pd.DataFrame, queries: list[str], use_stem: bool) -> dict[str, float]:
    """Document tokenization on a fixed sample, and query tokenization."""
    t0 = time.perf_counter()
    arr = batch_doc_token_arrays(pdf["doc_id"].to_numpy(), pdf["content"], use_stem=use_stem)
    t_docs = time.perf_counter() - t0
    reps = 50
    t0 = time.perf_counter()
    for _ in range(reps):
        for q in queries:
            tokenize(q, use_stem=use_stem)
    t_q = time.perf_counter() - t0
    return {
        "docs_per_s": len(pdf) / t_docs,
        "tokens_per_doc": float(arr["doc_len"].mean()),
        "query_us": t_q / (reps * len(queries)) * 1e6,
    }


def shard_blocks(index_dir: str, shard: int) -> pd.DataFrame:
    t = pq.read_table(os.path.join(index_dir, "postings", f"shard={shard}"))
    pdf = t.to_pandas()
    pdf["shard"] = shard
    return pdf[BLOCK_COLUMNS]


def codec(index_dir: str, sample: pd.DataFrame) -> dict[str, float]:
    """Exact encoded bytes per posting over the whole index, and block
    decode throughput on one shard's blocks."""
    t = pq.read_table(
        os.path.join(index_dir, "postings"),
        columns=["n", "doc_ids_blob", "tfs_blob", "doc_lens_blob"],
    )
    blob = sum(
        pc.sum(pc.binary_length(t[c])).as_py()
        for c in ("doc_ids_blob", "tfs_blob", "doc_lens_blob")
    )
    n = pc.sum(t["n"]).as_py()
    rows = list(sample.itertuples(index=False))
    t0 = time.perf_counter()
    for r in rows:
        decode_block(r)
    dt = time.perf_counter() - t0
    return {"bytes_per_posting": blob / n, "decode_postings_per_s": int(sample["n"].sum()) / dt}


def wand(blocks: pd.DataFrame, weights: list[dict[str, float]], avgdl: float,
         k: int) -> tuple[dict[str, float], bool]:
    """Block-max pruned vs exhaustive scoring of one shard's blocks;
    the flag says whether both gave the same top-k scores."""
    pruned, full, same = [], [], True
    for w in weights:
        sub = blocks[blocks["term"].isin(w)]
        if not len(sub):
            continue
        t0 = time.perf_counter()
        _, sc_p = topk_shard(sub, w, avgdl, k, prune=True)
        t1 = time.perf_counter()
        _, sc_f = topk_shard(sub, w, avgdl, k, prune=False)
        t2 = time.perf_counter()
        pruned.append(t1 - t0)
        full.append(t2 - t1)
        same &= np.allclose(np.sort(sc_p), np.sort(sc_f), rtol=0, atol=1e-9)
    return {"shard_query_ms": median(pruned) * 1e3, "prune_speedup": sum(full) / sum(pruned)}, same
