"""Wave-33 surfaces: Python DataSource split contract, state-store
reader consistency, and — the claim that makes dropDuplicatesWithin-
Watermark matter — actual state EVICTION once the watermark passes."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason="no testdata")


def test_python_datasource_split_contract(spark):
    """The source must hand Spark exactly `parts` splits (the
    GenericInputFormat contract) and deliver every id exactly once."""
    from incubator_flink_old_spark.queries.llm_ops19 import (
        _DS_PARTS,
        _DS_ROWS,
        SeqSource,
    )

    spark.dataSource.register(SeqSource)
    df = (
        spark.read.format("flinkold_seq")
        .option("rows", _DS_ROWS)
        .option("parts", _DS_PARTS)
        .load()
    )
    assert df.rdd.getNumPartitions() == _DS_PARTS
    agg = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("id").alias("nd"),
        F.min("id").alias("lo"),
        F.max("id").alias("hi"),
    ).collect()[0]
    assert (agg.n, agg.nd, agg.lo, agg.hi) == (
        _DS_ROWS,
        _DS_ROWS,
        0,
        _DS_ROWS - 1,
    )


def test_statestore_read_sums_to_stream_volume(spark):
    """The flattened state rows must account for every event exactly
    once (state ≡ the aggregation it backs), across however many store
    shards the state was partitioned into."""
    from incubator_flink_old_spark.queries.llm_ops19 import q_statestore_read
    from incubator_flink_old_spark.sources import load_table

    out = q_statestore_read(spark, SF)
    total = out.agg(F.sum("n_state").alias("s")).collect()[0].s
    assert total == load_table(spark, SF, "events").count()


def test_ddw_state_actually_evicts(spark):
    """dropDuplicatesWithinWatermark must RE-EMIT a key whose state was
    evicted — the behavior that distinguishes it from DISTINCT and
    bounds its state on an unbounded stream. Replay the events as THREE
    week-long batches with a 1-hour delay and check the emission count
    against the exact semantics probed and pinned on this build:

    - a lookup suppresses on key PRESENCE alone (expiry is not checked
      row-by-row — the "may still dedup beyond the delay" best-effort
      in the API contract);
    - eviction runs at the END of batch k with the LAGGED watermark
      (maxTs of batch k−1 minus delay — watermarks advance one batch
      behind the data, so batch 0's state survives batch 0 and falls
      out during batch 1's commit);
    - a suppressed duplicate does NOT refresh the stored first-seen
      time (so a key seen in batches 0 and 1 still evicts on its
      batch-0 clock).

    Hence: E0 = |K0|; E1 = |K1 \\ K0|; after batch 1 the state is
    (K1 \\ K0) ∪ {batch-0 stragglers first seen within 2·delay of
    maxTs(b0)}; E2 = |K2 \\ state|. If a Spark upgrade changes any of
    the three pinned behaviors this equality breaks — that is the
    point (same tripwire policy as the wave-31 recursion constraints)."""
    import datetime

    from incubator_flink_old_spark.sources import load_table
    from incubator_flink_old_spark.streaming import run_stream_to_memory

    ev = load_table(spark, SF, "events")
    mn = ev.agg(F.min("ts").alias("m")).collect()[0].m
    c1 = mn + datetime.timedelta(days=7)
    c2 = mn + datetime.timedelta(days=14)
    d = tempfile.mkdtemp(prefix="ddw_evict_")
    try:
        import time

        b0 = ev.filter(F.col("ts") < F.lit(c1))
        b1 = ev.filter((F.col("ts") >= F.lit(c1)) & (F.col("ts") < F.lit(c2)))
        b2 = ev.filter(F.col("ts") >= F.lit(c2))
        for i, b in enumerate((b0, b1, b2)):
            b.coalesce(1).write.parquet(os.path.join(d, f"b{i}"))
            time.sleep(1.1)  # file-source ordering is by mod time

        def keys(frame):
            return {
                (r.user_id, r.event_type)
                for r in frame.select("user_id", "event_type")
                .distinct()
                .collect()
            }

        k0, k1, k2 = keys(b0), keys(b1), keys(b2)
        max0 = b0.agg(F.max("ts").alias("m")).collect()[0].m
        fs0 = {
            (r.user_id, r.event_type): r.f
            for r in b0.groupBy("user_id", "event_type")
            .agg(F.min("ts").alias("f"))
            .collect()
        }
        h = datetime.timedelta(hours=1)
        stragglers = {k for k in k0 if fs0[k] + h >= max0 - h}
        expected = (
            len(k0)
            + len(k1 - k0)
            + len(k2 - ((k1 - k0) | stragglers))
        )
        n_global = len(k0 | k1 | k2)
        assert expected > n_global  # the replay must force re-emission

        schema = (
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        stream = (
            spark.readStream.schema(schema)
            .format("parquet")
            .option("maxFilesPerTrigger", "1")
            .load(os.path.join(d, "*"))
        )
        dedup = (
            stream.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )
        got = run_stream_to_memory(dedup, "append").count()
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)
