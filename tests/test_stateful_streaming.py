"""Custom stateful streaming operator (applyInPandasWithState) — the
engine's extension point for operators built-ins can't express."""

from __future__ import annotations

from incubator_flink_old_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    stateful_session_stats,
)


def test_stateful_session_stats_stream(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    out = stateful_session_stats(stream, gap_seconds=300)
    rows = run_stream_to_memory(out, "append").collect()
    # sessions close mid-stream (gap) — the fixture has inter-event gaps
    # well above 300s per user, so some closed sessions must be emitted
    assert rows, "expected closed sessions from the replayed fixture"
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1
        dur = r["session_end"] - r["session_start"]
        assert dur <= 3600 * 24 * 31  # sane bound


def test_stateful_heavy_hitters_exact_when_capacity_suffices(spark, sf_dir):
    """With capacity ≥ distinct values per group, the SpaceSaving state
    is exact: the streamed top-k equals the batch groupBy top-k."""
    from pyspark.sql import functions as F

    from incubator_flink_old_spark.sources import load_table
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        stateful_heavy_hitters,
    )

    stream = read_events_stream(spark, sf_dir)
    out = stateful_heavy_hitters(
        stream, capacity=10_000, k=5, group="event_type", value="user_id"
    )
    got = run_stream_to_memory(out, "update")
    # keep only the LAST emission per (group, value) — update mode
    # re-emits as state evolves across batches
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "user_id").orderBy(F.col("cnt").desc())
    latest = (
        got.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_type", "user_id", "cnt", "err")
    )
    streamed = {
        (r["event_type"], r["user_id"]): (r["cnt"], r["err"])
        for r in latest.collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy("event_type", F.col("user_id").cast("string").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wb = Window.partitionBy("event_type").orderBy(
        F.col("cnt").desc(), F.col("user_id")
    )
    want = {
        (r["event_type"], r["user_id"]): r["cnt"]
        for r in batch.withColumn("__rn", F.row_number().over(wb))
        .filter(F.col("__rn") <= 5)
        .collect()
    }
    for gk, cnt in want.items():
        assert gk in streamed, f"missing top value {gk}"
        assert streamed[gk] == (cnt, 0)  # exact, zero error


def test_stateful_heavy_hitters_bounded_state_overestimates(spark, sf_dir):
    """With a tiny capacity the summary stays bounded and the
    SpaceSaving law holds: reported cnt ≥ true cnt, err ≤ cnt."""
    from incubator_flink_old_spark.sources import load_table
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        stateful_heavy_hitters,
    )
    from pyspark.sql import functions as F

    stream = read_events_stream(spark, sf_dir)
    out = stateful_heavy_hitters(
        stream, capacity=8, k=8, group="event_type", value="user_id"
    )
    got = run_stream_to_memory(out, "update").collect()
    assert got, "no emissions"
    true = {
        (r["event_type"], str(r["user_id"])): r["cnt"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in got:
        t = true.get((r["event_type"], r["user_id"]), 0)
        assert r["cnt"] >= t, "SpaceSaving must never undercount"
        assert 0 <= r["err"] <= r["cnt"]
