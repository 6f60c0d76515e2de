"""Rollup tier composition + generator determinism."""

import pytest
from pyspark.sql import functions as F

from enhydris_autoprocess_spark.rollup import (
    ROLE_ALL,
    build_tiers,
    rollup_tier,
    rollup_transcripts,
    with_rates,
)
from enhydris_autoprocess_spark.synth import generate_transcripts


@pytest.fixture(scope="module")
def transcripts(spark):
    return generate_transcripts(spark, n_convs=30, seed=7).cache()


def _canon(df):
    return {
        (r.conv_id, r.role, r.ts): (
            r.turn_count,
            r.tool_calls,
            r.text_len_sum,
            r.text_len_min,
            r.text_len_max,
        )
        for r in df.collect()
    }


def test_tier_composition_equals_direct(spark, transcripts):
    """1h-from-1min and 1d-from-1h must equal direct computation —
    the north-star tier-by-tier equality invariant."""
    tiers = build_tiers(transcripts)
    direct_1h = rollup_transcripts(transcripts, "1H")
    direct_1d = rollup_transcripts(transcripts, "1D")
    assert _canon(tiers["1H"]) == _canon(direct_1h)
    assert _canon(tiers["1D"]) == _canon(direct_1d)


_DUCK_TIER = """
    WITH b AS (
      SELECT conv_id, coalesce(role, '') AS role,
        make_timestamp(epoch_us(ts) + ({s} - epoch_us(ts) % {s}) % {s}) AS ts,
        CAST(length(coalesce(text, '')) AS DOUBLE) AS len,
        CAST(tool IS NOT NULL AS BIGINT) AS tool
      FROM t)
    SELECT conv_id, coalesce(role, '{all}') AS role, ts, count(*) AS turn_count,
      sum(tool) AS tool_calls, sum(len) AS text_len_sum,
      min(len) AS text_len_min, max(len) AS text_len_max
    FROM b GROUP BY GROUPING SETS ((conv_id, ts), (conv_id, role, ts))
"""


def test_dirty_input_tiers_match_duckdb(spark):
    """Every tier, direct and composed, against DuckDB over the same
    rows: NULL role/text/tool, duplicate (conv_id, ts) rows, turns
    exactly on minute/hour/day boundaries, and an empty frame."""
    import datetime as dt

    import duckdb

    t0 = dt.datetime(2024, 3, 1)
    rows = [
        ("c1", "user", "hello", None, t0),  # on every boundary
        ("c1", None, "hi", "search", t0),  # NULL role, duplicate ts
        ("c1", "user", None, None, t0),  # NULL text, duplicate ts
        ("c1", "assistant", "abc", "calc", t0 + dt.timedelta(seconds=1)),
        ("c1", None, None, None, t0 + dt.timedelta(minutes=1)),
        ("c1", "user", "x" * 40, None, t0 + dt.timedelta(hours=1)),
        ("c1", "user", "tail", None, t0 + dt.timedelta(hours=1, microseconds=1)),
        ("c1", "tool", "", "search", t0 + dt.timedelta(days=1)),
        ("c2", None, "only null roles", None, t0 + dt.timedelta(minutes=59, seconds=59)),
        ("c2", None, "only null roles", None, t0 + dt.timedelta(minutes=59, seconds=59)),
        ("c2", "", "empty role", "x", t0 + dt.timedelta(hours=23, minutes=30)),
        ("c3", "assistant", None, "calc", t0 + dt.timedelta(days=2, microseconds=-1)),
    ]
    schema = "conv_id string, role string, text string, tool string, ts timestamp"
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (conv_id VARCHAR, role VARCHAR, text VARCHAR, "
        "tool VARCHAR, ts TIMESTAMP)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
    micros = {"1min": 60_000_000, "1H": 3_600_000_000, "1D": 86_400_000_000}

    def expected(step):
        return set(
            con.execute(_DUCK_TIER.format(s=micros[step], all=ROLE_ALL)).fetchall()
        )

    def got(df):
        return {tuple(r) for r in df.collect()}

    df = spark.createDataFrame(rows, schema)
    tiers = build_tiers(df)
    for step in micros:
        want = expected(step)
        assert want
        assert got(rollup_transcripts(df, step)) == want, step
        assert got(tiers[step]) == want, step

    empty = spark.createDataFrame([], schema)
    assert not got(rollup_transcripts(empty, "1min"))
    assert all(not got(t) for t in build_tiers(empty).values())


def test_role_all_is_sum_of_roles(spark, transcripts):
    t = rollup_transcripts(transcripts, "1D")
    per_role = (
        t.where(F.col("role") != ROLE_ALL)
        .groupBy("conv_id", "ts")
        .agg(F.sum("turn_count").alias("n"))
    )
    allr = t.where(F.col("role") == ROLE_ALL).select(
        "conv_id", "ts", F.col("turn_count").alias("n_all")
    )
    joined = per_role.join(allr, ["conv_id", "ts"])
    assert joined.where(F.col("n") != F.col("n_all")).count() == 0


def test_rates(spark, transcripts):
    t = with_rates(rollup_transcripts(transcripts, "1D"))
    bad = t.where(
        (F.col("tool_call_rate") < 0) | (F.col("tool_call_rate") > 1)
    ).count()
    assert bad == 0


def test_generator_deterministic(spark):
    a = generate_transcripts(spark, n_convs=10, seed=42)
    b = generate_transcripts(spark, n_convs=10, seed=42)
    assert a.orderBy("conv_id", "turn_idx").collect() == b.orderBy(
        "conv_id", "turn_idx"
    ).collect()
    c = generate_transcripts(spark, n_convs=10, seed=43)
    assert a.select(F.sum(F.length("text"))).first()[0] != c.select(
        F.sum(F.length("text"))
    ).first()[0]


def test_generator_skew_and_gaps(spark):
    t = generate_transcripts(spark, n_convs=200, seed=42).cache()
    per_conv = t.groupBy("conv_id").count().collect()
    counts = sorted((r["count"] for r in per_conv), reverse=True)
    # heavy tail: top 5% of convs hold a disproportionate share
    top = sum(counts[: max(1, len(counts) // 20)])
    assert top / sum(counts) > 0.10
    # gaps exist: turn_idx not dense for most convs
    gaps = t.groupBy("conv_id").agg(
        (F.max("turn_idx") + 1 - F.count("*")).alias("missing")
    )
    assert gaps.where(F.col("missing") > 0).count() > 0
    t.unpersist()
