"""UDF surface & runtime context (SURVEY §2.8 F1–F4, §2.4 A8).

Reference: rich functions (open/close/getRuntimeContext) in
api/common/functions, broadcast variables (withBroadcastSet →
getBroadcastVariable), DistributedCache, accumulators merged at the
JobManager (api/common/accumulators: IntCounter/LongCounter/DoubleCounter/
Histogram).

Engine policy (SURVEY §2.8 F1): the real scalar library is built-in Column
expressions; these wrappers exist for genuinely opaque user logic and for
API parity with the reference's lifecycle contract.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class RichMapFunction:
    """F1: the reference's rich-function lifecycle (open/close) for
    pandas-batched map logic.

    ``open(config)`` runs once per worker before the first batch (load a
    model, open a connection), ``close()`` after the last. Subclass and
    override; apply with :func:`apply_rich`.
    """

    def open(self, config: dict[str, Any]) -> None:  # noqa: B027 - optional hook
        pass

    def map(self, batch: pd.DataFrame) -> pd.DataFrame:
        raise NotImplementedError

    def close(self) -> None:  # noqa: B027 - optional hook
        pass


def apply_rich(
    df: DataFrame,
    fn: RichMapFunction,
    schema,
    config: dict[str, Any] | None = None,
) -> DataFrame:
    """Run a RichMapFunction over the dataset via mapInPandas.

    The open/close bracket runs once per partition-task (the reference runs
    it once per parallel task instance — same granularity). ``config`` is
    the reference's ``withParameters(Configuration)``: closure-captured,
    shipped with the task.
    """
    conf = dict(config or {})

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn.open(conf)
        try:
            for pdf in batches:
                yield fn.map(pdf)
        finally:
            fn.close()

    return df.mapInPandas(_run, schema=schema)


def with_broadcast_set(spark: SparkSession, df: DataFrame, name: str):
    """F2: withBroadcastSet(ds, name) → a worker-readable broadcast.

    Collects the (small!) dataset to the driver and broadcasts it; user
    code reads ``bc.value`` — a list of Row — inside UDFs, mirroring
    getRuntimeContext().getBroadcastVariable(name). For relational joins
    prefer ``F.broadcast`` which never leaves the JVM.
    """
    rows = df.collect()
    bc = spark.sparkContext.broadcast(rows)
    bc.name = name  # cosmetic parity with the reference API
    return bc


def distributed_cache_file(spark: SparkSession, path: str) -> None:
    """F3: DistributedCache — ship a file to every worker
    (SparkFiles.get(name) on the executor side)."""
    spark.sparkContext.addFile(path)


def long_counter(col: str, alias: str) -> Column:
    """A8 LongCounter analogue."""
    return F.count(F.lit(1) if col == "*" else F.col(col)).alias(alias)


def histogram(df: DataFrame, col: str) -> DataFrame:
    """A8 Histogram analogue: job-wide value→count distribution.

    The reference's Histogram accumulator merges int→count maps at the
    JobManager; distributed groupBy-count is the scale-correct form.
    """
    return df.groupBy(col).agg(F.count(F.lit(1)).alias("count"))
