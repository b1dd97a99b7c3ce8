"""Wave-30 surfaces: dynamic-gap sessions, chained stateful operators,
and the RocksDB state-store provider. The oracle gate value-checks the
two registered queries; these tests pin what the hash can't see —
state-backend independence (HDFS-backed vs RocksDB state stores must
produce identical results, because at 100 TB state only RocksDB's
spill-to-disk layout survives) and the sentinel-row hygiene of the
chained query."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def _windowed_agg(stream):
    from incubator_flink_old_spark.queries._util import dsum

    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum("value", "tv"))
        .select(
            F.col("window.start").alias("ws"),
            "event_type",
            "n",
            "tv",
        )
    )


@pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")
def test_rocksdb_state_store_matches_default_provider(spark):
    """The same streaming aggregation under the default (HDFS-backed)
    provider and under RocksDB must emit identical rows — the state
    backend is an operational choice, never a semantic one. RocksDB is
    the backend that holds 100 TB-scale state (bounded heap, SST
    spill); this pins that switching to it is result-invariant."""
    from incubator_flink_old_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    results = {}
    for tag, provider in (("default", None), ("rocksdb", ROCKSDB)):
        prev = spark.conf.get(key, None)
        if provider:
            spark.conf.set(key, provider)
        try:
            agg = _windowed_agg(read_events_stream(spark, SF))
            sink = run_stream_to_memory(agg, "complete", state_partitions=4)
            results[tag] = {
                (r.ws, r.event_type, r.n, round(r.tv, 6))
                for r in sink.collect()
            }
        finally:
            if provider:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
    assert results["default"] == results["rocksdb"]
    assert len(results["rocksdb"]) > 0


@pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")
def test_join_window_chain_excludes_sentinels_and_matches_batch(spark):
    """The chained query's output must equal the batch join-then-window
    twin exactly (no emission gap — the sentinels' job), and no window
    may lie beyond the real corpus (sentinel rows must never reach the
    output)."""
    from incubator_flink_old_spark.queries.llm_ops16 import (
        q_stream_join_window_parity,
    )
    from incubator_flink_old_spark.sources import load_table

    out = {
        (r.win_start, r.win_end, r.n_pairs, round(r.purchase_value, 6))
        for r in q_stream_join_window_parity(spark, SF).collect()
    }
    ev = load_table(spark, SF, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("l_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"),
        F.col("ts").alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    cond = (
        (clicks["user_id"] == purchases["u2"])
        & (purchases["r_ts"] >= clicks["l_ts"])
        & (purchases["r_ts"] <= clicks["l_ts"] + F.expr("INTERVAL 10 minutes"))
    )
    from incubator_flink_old_spark.queries._util import dsum

    batch = {
        (r.win_start, r.win_end, r.n_pairs, round(r.purchase_value, 6))
        for r in (
            clicks.join(purchases, cond)
            .groupBy(F.window("l_ts", "1 hour"))
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                dsum("r_value", "purchase_value"),
            )
            .select(
                F.col("window.start").alias("win_start"),
                F.col("window.end").alias("win_end"),
                "n_pairs",
                "purchase_value",
            )
        ).collect()
    }
    assert out == batch
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    assert all(ws <= max_ts for ws, _, _, _ in out), "sentinel leak"
