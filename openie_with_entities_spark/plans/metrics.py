"""Stage counter metrics: accumulator-backed counters incremented inside
the UDF stages, persisted to a metrics table next to the per-bucket lineage
(the north rule's "per-partition lineage and counter metrics").

Accumulators are the Spark-native way to count inside tasks without extra
shuffles or actions; values are collected driver-side after the stage's
action and written as one tiny table. (Caveat inherited from Spark: task
retries can double-count — counters are observability, lineage rows are
the exactly-once record.)
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession


class StageCounters:
    """A named set of counters usable from inside mapInPandas bodies."""

    def __init__(self, spark: SparkSession, stage: str, names: list[str]):
        self.stage = stage
        self._acc = {
            n: spark.sparkContext.accumulator(0) for n in names
        }

    def add(self, name: str, value: int = 1) -> None:
        self._acc[name].add(int(value))

    def snapshot(self) -> dict[str, int]:
        return {n: a.value for n, a in self._acc.items()}

    def to_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (self.stage, n, int(v), time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
            for n, v in self.snapshot().items()
        ]
        return spark.createDataFrame(
            rows, "stage string, metric string, value long, at string"
        )


FUSED_COUNTERS = [
    "turns_in",
    "sentences_in",
    "sentences_too_long",
    "splits_out",
    "extractions_out",
    "extractions_deduped",
]
