"""Seeded input generators. The same seed gives the same inputs.

Transcripts come from the library's own JVM generator; the corpus for
the dedup workload follows ``scripts/gen_sfbig.py`` (31-word
vocabulary, 10-100 word documents, 64-dim unit embeddings with weak
label structure) and additionally plants near-duplicate embeddings,
without which a 0.9-cosine near-dup search returns nothing to check.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
MINUTE_US = 60_000_000
EPOCH = dt.datetime(1970, 1, 1)

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "query", "index", "shuffle", "batch", "cache", "join",
    "filter", "group", "order", "limit", "select", "insert", "update",
    "delete", "schema", "parquet", "arrow", "kernel", "hash", "sort",
    "scan", "write", "read",
]
DIM = 64
QUERY_ID_BASE = 10**9  # query ids never collide with corpus ids


def next_batch_us(ts_us: int) -> int:
    """One minute past the first UTC midnight strictly after ``ts_us``:
    where the next daily batch starts. Starting every batch on a fresh
    day keeps already-emitted 1D buckets closed, which the per-bucket
    monotone-ingestion contract of the pipeline requires. Buckets are
    right-labelled (start, end], so a turn at midnight itself would
    belong to the previous day's bucket, which may already be
    emitted."""
    return (ts_us // DAY_US + 1) * DAY_US + MINUTE_US


def write_transcripts(
    spark, path: str, seed: int, turns: int, base_us: int, one_day: bool = False
) -> dict:
    """Write at least ``turns`` generated turns (whole conversations, in
    conv_id order) starting at ``base_us`` to parquet at ``path``.

    The generator spreads conversation starts over 30 days, the shape
    of a backfill. With ``one_day`` every conversation is moved by whole
    days so that it starts on the day of ``base_us``: the shape of a
    daily upload batch. The generator's conversation lengths are
    heavy-tailed, so a fixed conversation count would make the batch
    size swing by tens of percent between seeds; cutting at a turn
    target keeps the work per seed within one conversation of the
    target."""
    from pyspark.sql import functions as F

    from enhydris_autoprocess_spark.synth import generate_transcripts_jvm

    gen = generate_transcripts_jvm(
        spark,
        n_convs=max(8, turns // 120),
        seed=seed,
        base_ts=EPOCH + dt.timedelta(microseconds=base_us),
    )
    counts = sorted(
        gen.groupBy("conv_id")
        .agg(F.count(F.lit(1)), F.min(F.unix_micros("ts")))
        .collect()
    )
    total, keep = 0, []
    for conv_id, n, first_us in counts:
        total += n
        keep.append((conv_id, (first_us - base_us) // DAY_US * DAY_US if one_day else 0))
        if total >= turns:
            break
    if total < turns:
        raise RuntimeError(f"generator gave {total} turns, wanted {turns}")
    shifts = spark.createDataFrame(keep, "conv_id string, shift_us long")
    gen.join(F.broadcast(shifts), "conv_id").withColumn(
        "ts", F.timestamp_micros(F.unix_micros("ts") - F.col("shift_us"))
    ).drop("shift_us").write.parquet(path)
    max_us = (
        spark.read.parquet(path).agg(F.max(F.unix_micros("ts"))).first()[0]
    )
    return {"path": path, "turns": total, "max_ts_us": int(max_us), "conv_ids": [c for c, _ in keep]}


def _documents(n: int, rng: np.random.RandomState):
    """gen_sfbig-shaped documents plus the planted (src, dst) pairs:
    light perturbations (one word appended, or ~5% of words swapped)
    and exact copies."""
    lens = rng.randint(10, 101, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=ln)) for ln in lens]
    n_near, n_exact = n // 200, max(1, n // 650)
    # distinct slots so no planted pair is overwritten by a later one
    slots = rng.permutation(n)[: 2 * (n_near + n_exact)]
    pairs = []
    for i in range(n_near + n_exact):
        src, dst = int(slots[2 * i]), int(slots[2 * i + 1])
        words = texts[src].split()
        if i >= n_near:
            pass  # exact copy
        elif i % 2:
            words = words + [VOCAB[rng.randint(len(VOCAB))]]
        else:
            for p in rng.randint(0, len(words), size=max(1, len(words) // 20)):
                words[p] = VOCAB[rng.randint(len(VOCAB))]
        texts[dst] = " ".join(words)
        pairs.append((min(src, dst), max(src, dst)))
    return texts, pairs


def _embeddings(n: int, rng: np.random.RandomState):
    """gen_sfbig-shaped embeddings; every 100th vector gets a planted
    near-duplicate (cosine ~0.9995) elsewhere in the corpus."""
    labels = rng.randint(0, 10, size=n).astype(np.int32)
    cents = rng.randn(10, DIM) * 0.07
    V = cents[labels] + rng.randn(n, DIM) * 0.125
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    n_plant = n // 100
    slots = rng.permutation(n)[: 2 * n_plant]
    pairs = []
    for i in range(n_plant):
        src, dst = int(slots[2 * i]), int(slots[2 * i + 1])
        v = V[src] + rng.randn(DIM) * 0.004
        V[dst] = v / np.linalg.norm(v)
        pairs.append((min(src, dst), max(src, dst)))
    return V.astype(np.float32), labels, pairs


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int, n_queries: int) -> dict:
    """Documents, embeddings and top-k queries (each a slightly
    perturbed corpus vector) as parquet under ``out_dir``; returns the
    paths plus everything the checks need held in memory."""
    rng = np.random.RandomState(seed)
    texts, doc_pairs = _documents(n_docs, rng)
    V, labels, vec_pairs = _embeddings(n_vecs, rng)
    q_src = rng.choice(n_vecs, size=n_queries, replace=False)
    Q = V[q_src].astype(np.float64) + rng.randn(n_queries, DIM) * 0.002
    Q = (Q / np.linalg.norm(Q, axis=1, keepdims=True)).astype(np.float32)

    def emb_col(M):
        return pa.FixedSizeListArray.from_arrays(pa.array(M.ravel()), DIM).cast(
            pa.list_(pa.float32())
        )

    os.makedirs(out_dir, exist_ok=True)
    paths = {k: os.path.join(out_dir, f"{k}.parquet") for k in ("docs", "vecs", "queries")}
    pq.write_table(
        pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "text": texts}),
        paths["docs"],
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
                "embedding": emb_col(V),
                "label": pa.array(labels),
            }
        ),
        paths["vecs"],
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_queries, dtype=np.int64) + QUERY_ID_BASE),
                "embedding": emb_col(Q),
            }
        ),
        paths["queries"],
    )
    return {
        "paths": paths,
        "texts": texts,
        "doc_pairs": doc_pairs,
        "V": V,
        "vec_pairs": vec_pairs,
        "Q": Q,
        "q_src": q_src,
    }
