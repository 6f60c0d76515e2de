"""Correctness checks run after each timed section.

Tier contents are recomputed by DuckDB straight from parquet files
(the generated input, and the data directories a tier's manifest
lists), never through Spark. Dedup outputs are re-verified pair by
pair with plain Python/numpy reference implementations.
Each check returns a list of failure messages; empty means it passed.
"""

from __future__ import annotations

import math
import re

import duckdb
import numpy as np
import pandas as pd

from inputs import QUERY_ID_BASE

ROLE_ALL = "<all>"
STEP_US = {"1min": 60_000_000, "1H": 3_600_000_000, "1D": 86_400_000_000}
TIER_COLS = "conv_id, role, us, turn_count, tool_calls, text_len_sum, text_len_min, text_len_max"


def connect(tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"temp_directory": tmp_dir, "threads": 4})
    return con


def _files(dirs: list[str]) -> str:
    return "[" + ", ".join(f"'{d}/**/*.parquet'" for d in dirs) + "]"


def tier_dirs(table_root: str) -> list[str]:
    from enhydris_autoprocess_spark.storage import TierTable

    return [s.data_dir for s in TierTable(table_root).snapshots()]


def _rows_equal(name: str, got: list, want: list) -> list[str]:
    """Multiset equality of row tuples; floats compare exactly, NaN
    equal to NaN."""

    def norm(row):
        return tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in row)

    g, w = sorted(map(norm, got)), sorted(map(norm, want))
    if g == w:
        return []
    gs, ws = set(g), set(w)
    return [
        f"{name}: {len(g)} rows vs {len(w)} expected; "
        f"e.g. extra {sorted(gs - ws)[:2]} missing {sorted(ws - gs)[:2]}"
    ]


# --- pipeline tiers ---------------------------------------------------


def truth_rollup(con, input_dirs: list[str], tier: str) -> list[tuple]:
    """Rollup tier rows recomputed from the raw transcript parquet:
    right-labelled (start, end] buckets per (conv_id, role) and per
    conv_id across roles."""
    s = STEP_US[tier]
    sql = f"""
        WITH b AS (
          SELECT conv_id, coalesce(role, '') AS role,
                 epoch_us(ts) + ({s} - epoch_us(ts) % {s}) % {s} AS us,
                 length(coalesce(text, ''))::DOUBLE AS len,
                 (tool IS NOT NULL)::BIGINT AS tool
          FROM read_parquet({_files(input_dirs)}))
        SELECT conv_id, role, us, count(*), sum(tool), sum(len), min(len), max(len)
        FROM b GROUP BY conv_id, role, us
        UNION ALL
        SELECT conv_id, '{ROLE_ALL}', us, count(*), sum(tool), sum(len), min(len), max(len)
        FROM b GROUP BY conv_id, us"""
    return con.sql(sql).fetchall()


def tier_rows(con, dirs: list[str], where: str = "true") -> list[tuple]:
    if not dirs:
        return []
    return con.sql(
        f"SELECT {TIER_COLS} FROM (SELECT *, epoch_us(ts) AS us FROM "
        f"read_parquet({_files(dirs)}, hive_partitioning = true, union_by_name = true)) "
        f"WHERE {where}"
    ).fetchall()


def check_rollups_incremental(
    con, root: str, input_dirs: list[str], closed_before_us: int
) -> list[str]:
    """Incremental runs: no (conv_id, role, ts) key is emitted twice,
    every emitted row equals the recomputed bucket, and every bucket
    ending at or before ``closed_before_us`` (the start of the last
    batch, before which all buckets are complete) has been emitted."""
    errs = []
    for tier in STEP_US:
        got = tier_rows(con, tier_dirs(f"{root}/rollup_{tier}"))
        keys = [r[:3] for r in got]
        if len(keys) != len(set(keys)):
            errs.append(f"rollup_{tier}: {len(keys) - len(set(keys))} duplicate keys")
        truth = {r[:3]: r for r in truth_rollup(con, input_dirs, tier)}
        wrong = [r for r in got if truth.get(r[:3]) != r]
        if wrong:
            errs.append(f"rollup_{tier}: {len(wrong)} rows differ, e.g. {wrong[0]} vs {truth.get(wrong[0][:3])}")
        emitted = set(keys)
        missing = [k for k in truth if k[2] <= closed_before_us and k not in emitted]
        if missing:
            errs.append(f"rollup_{tier}: {len(missing)} closed buckets not emitted, e.g. {missing[0]}")
    return errs


def agg_rows(con, dirs: list[str], keys: list[str]) -> list[tuple]:
    if not dirs:
        return []
    ids = ", ".join(f"'{k}'" for k in keys)
    return con.sql(
        f"SELECT key, epoch_us(ts), value FROM read_parquet({_files(dirs)}, "
        f"hive_partitioning = true, union_by_name = true) WHERE key IN ({ids})"
    ).fetchall()


def check_gorilla(spark, con, root: str, agg_stage: str, after: tuple[int, int]) -> list[str]:
    """The Gorilla tier decompresses exactly (values and flags) to the
    plain agg tier it was compressed from, over the snapshots committed
    after ``after`` = (agg snapshot id, Gorilla snapshot id)."""
    from pyspark.sql import functions as F

    from enhydris_autoprocess_spark.storage import TierTable
    from enhydris_autoprocess_spark.storage.gorilla import decompress_series

    comp = TierTable(f"{root}/{agg_stage}_gorilla").read(spark, after_snapshot=after[1])
    if comp is None:
        return [f"{agg_stage}_gorilla: empty"]
    got = [
        (r[0], r[1], r[2], r[3] or "")
        for r in decompress_series(comp)
        .select("key", F.unix_micros("ts"), "value", "flags")
        .collect()
    ]
    dirs = [
        s.data_dir
        for s in TierTable(f"{root}/{agg_stage}").snapshots()
        if s.snapshot_id > after[0]
    ]
    want = con.sql(
        f"SELECT key, epoch_us(ts), value, coalesce(flags, '') FROM read_parquet("
        f"{_files(dirs)}, hive_partitioning = true)"
    ).fetchall()
    return _rows_equal(f"{agg_stage}_gorilla", got, want)


def check_reads(con, reads: list[dict]) -> list[str]:
    """Each dashboard read equals DuckDB over the tier files its table
    listed when the read ran."""
    errs = []
    for r in reads:
        if r["kind"] == "rollup_1H_recent":
            ids = ", ".join(f"'{k}'" for k in r["ids"])
            want = tier_rows(con, r["dirs"], f"conv_id IN ({ids}) AND us > {r['min_us']}")
        elif r["kind"] == "rollup_1D_roles":
            want = con.sql(
                f"SELECT role, sum(turn_count), sum(tool_calls), sum(text_len_sum) "
                f"FROM read_parquet({_files(r['dirs'])}, hive_partitioning = true) GROUP BY role"
            ).fetchall()
        else:
            want = agg_rows(con, r["dirs"], r["ids"])
        errs += _rows_equal(f"read {r['kind']}", r["rows"], want)
        if not want:
            errs.append(f"read {r['kind']}: empty result checks nothing")
    return errs


# --- textops references -------------------------------------------------

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _words(text: str) -> list[str]:
    return _WS.sub(" ", text.strip(" ").lower()).split(" ")


def shingles(text: str, k: int = 3) -> set[str]:
    w = _words(text)
    return {" ".join(w[i : i + k]) for i in range(max(len(w) - k, 0) + 1)}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingles(a, k), shingles(b, k)
    return len(sa & sb) / len(sa | sb)


_C = np.uint64(0x9E3779B97F4A7C15)


def _mix(z: np.uint64) -> np.uint64:
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def simhash(text: str, k: int = 2) -> int:
    """64-bit SimHash of one document, one shingle at a time: the
    scalar reference for ``textops.dedup.simhash_dedup_pairs``."""
    w = _words(text)
    wh = pd.util.hash_array(np.asarray(w, dtype=object).astype("U")).astype(np.uint64)
    uniq = set()
    with np.errstate(over="ignore"):
        for s in range(max(len(w) - k + 1, 1)):
            h = np.uint64(0)
            for j in range(k):
                if s + j < len(w):
                    h = h * _C + wh[s + j]
            uniq.add(int(_mix(h)))
    votes = [0] * 64
    for h in uniq:
        for bit in range(64):
            votes[bit] += 1 if (h >> bit) & 1 else -1
    fp = sum(1 << bit for bit in range(64) if votes[bit] > 0)
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def check_dedup(out: dict, corpus: dict) -> list[str]:
    texts, V = corpus["texts"], corpus["V"]
    errs = []

    # minhash candidates -> exact jaccard >= 0.5
    found = set()
    for a, b, j in out["jaccard"]:
        if j != jaccard(texts[a], texts[b]) or j < 0.5:
            errs.append(f"jaccard pair ({a}, {b}) reports {j}, exact {jaccard(texts[a], texts[b])}")
            break
        found.add((a, b))
    must = [p for p in corpus["doc_pairs"] if jaccard(texts[p[0]], texts[p[1]]) >= 0.9]
    miss = [p for p in must if p not in found]
    if miss or not must:
        errs.append(f"minhash: {len(miss)} of {len(must)} planted pairs (jaccard >= 0.9) missed")

    # simhash pairs: reported hamming is the exact one, within radius 3
    fps = {}
    for a, b, h in out["simhash"]:
        for i in (a, b):
            if i not in fps:
                fps[i] = simhash(texts[i])
        exact = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
        if h != exact or h > 3:
            errs.append(f"simhash pair ({a}, {b}) reports {h}, exact {exact}")
            break
    sim_found = {(a, b) for a, b, _ in out["simhash"]}
    copies = [p for p in corpus["doc_pairs"] if texts[p[0]] == texts[p[1]]]
    if not copies or any(p not in sim_found for p in copies):
        errs.append(f"simhash: exact copies missed ({len(copies)} planted)")

    # embedding pairs: exact cosine >= 0.9, planted near-dups found
    Vn = _unit(V)
    emb_found = set()
    for a, b, c in out["embedding"]:
        exact = float(Vn[a] @ Vn[b])
        if abs(c - exact) > 1e-6 or exact < 0.9 - 1e-6:
            errs.append(f"embedding pair ({a}, {b}) reports {c}, exact {exact}")
            break
        emb_found.add((a, b))
    must = [p for p in corpus["vec_pairs"] if Vn[p[0]] @ Vn[p[1]] >= 0.995]
    if not must or any(p not in emb_found for p in must):
        errs.append(f"embedding: planted pairs missed ({len(must)} planted)")

    return errs + check_topk(out["topk"], corpus)


def _unit(M: np.ndarray) -> np.ndarray:
    M64 = M.astype(np.float64)
    return M64 / np.linalg.norm(M64, axis=1, keepdims=True)


def check_topk(rows: list[tuple], corpus: dict) -> list[str]:
    """Exact scores, ranks 1..k by descending score, and a top hit at
    least as close as the vector each query was perturbed from."""
    Q, Vn = corpus["Q"], _unit(corpus["V"])
    errs = []
    Qn = _unit(Q)
    by_q: dict[int, list] = {}
    for q, nb, rank, score in rows:
        by_q.setdefault(q, []).append((rank, score, nb))
    if len(by_q) != len(Q):
        errs.append(f"topk: {len(by_q)} of {len(Q)} queries answered")
    for q, hits in by_q.items():
        hits.sort()
        qi = q - QUERY_ID_BASE
        scores = [s for _, s, _ in hits]
        exact = [float(Qn[qi] @ Vn[nb]) for _, _, nb in hits]
        src = float(Qn[qi] @ Vn[corpus["q_src"][qi]])
        if (
            [r for r, _, _ in hits] != list(range(1, len(hits) + 1))
            or any(abs(s - e) > 1e-6 for s, e in zip(scores, exact))
            or scores != sorted(scores, reverse=True)
            or scores[0] < src - 1e-6
        ):
            errs.append(f"topk: query {q} hits {hits[:3]} (source cosine {src})")
            break
    return errs
