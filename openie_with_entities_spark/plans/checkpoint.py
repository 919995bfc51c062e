"""Per-stage checkpointing with per-partition lineage + resume.

The reference caches featurized datasets as pickles keyed by input file +
model (/root/reference/data.py:414, 448-464) and skips recompute on rerun.
At 10^12 turns the equivalent is: every stage writes its output parquet
partitioned by a deterministic conv_id hash bucket, plus one lineage row per
completed bucket; a rerun anti-joins pending buckets against the lineage and
reprocesses ONLY those — exactly-once per bucket because a bucket's data
file and its lineage row land in the same task commit order (data first,
lineage last).

Dynamic partition overwrite makes the bucket write idempotent: a bucket that
crashed mid-write is simply rewritten on resume.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def _is_path_missing(e: AnalysisException) -> bool:
    """True iff the exception means 'input path does not exist' (= first
    run). Matched on the structured error condition, not the message text,
    so a connector that words the message differently still resolves; the
    substring check remains only as a fallback for exceptions without a
    condition attached."""
    for probe in ("getCondition", "getErrorClass"):
        try:
            cond = getattr(e, probe)()
        except Exception:  # pragma: no cover - API drift across versions
            continue
        if cond is not None:
            return cond == "PATH_NOT_FOUND"
    return "PATH_NOT_FOUND" in str(e)  # pragma: no cover - no-condition path

LINEAGE_SCHEMA = (
    "stage string, bucket int, rows_out long, wall_ms long, finished_at string"
)


def with_bucket(df: DataFrame, n_buckets: int, key: str = "conv_id") -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    )


@dataclass
class StageRun:
    output: DataFrame
    buckets_processed: int
    buckets_skipped: int


class CheckpointManager:
    """Directory layout: <base>/<stage>/data (bucket-partitioned parquet)
    and <base>/<stage>/lineage (append-only parquet)."""

    def __init__(self, spark: SparkSession, base_dir: str, n_buckets: int = 16):
        self.spark = spark
        self.base = base_dir
        self.n_buckets = n_buckets

    def _paths(self, stage: str) -> tuple[str, str]:
        return (
            os.path.join(self.base, stage, "data"),
            os.path.join(self.base, stage, "lineage"),
        )

    def completed_buckets(self, stage: str) -> set[int]:
        _, lineage = self._paths(stage)
        try:
            done = {
                r.bucket
                for r in self.spark.read.parquet(lineage)
                .select("bucket")
                .distinct()
                .collect()
            }
        except AnalysisException as e:
            # ONLY a missing lineage path means "first run"; a corrupt or
            # unreadable lineage must fail loudly — treating it as empty
            # would silently reprocess completed buckets and double-append
            # lineage rows
            if _is_path_missing(e):
                return set()
            raise
        bad = {b for b in done if b >= self.n_buckets}
        if bad:
            raise ValueError(
                f"lineage for stage {stage!r} contains bucket ids {sorted(bad)} "
                f">= n_buckets={self.n_buckets}; the checkpoint was written "
                "with a different bucket count — resuming would silently "
                "skip unprocessed data. Re-run with the original n_buckets "
                "or delete the stage directory."
            )
        return done

    def _check_bucket_meta(self, stage: str) -> None:
        """Pin the stage's bucket count on first write; refuse a resume
        with a DIFFERENT count. The id-range check above only catches a
        DECREASE — resuming 16→32 would pass it and then re-extract rows
        whose 32-bucket hash lands in 16..31, duplicating data already on
        disk under the 16-bucket scheme."""
        meta = os.path.join(self.base, stage, "meta")
        try:
            row = self.spark.read.parquet(meta).collect()[0]
        except AnalysisException as e:
            if not _is_path_missing(e):
                raise
            self.spark.createDataFrame(
                [(self.n_buckets,)], "n_buckets int"
            ).write.mode("overwrite").parquet(meta)
            return
        if row.n_buckets != self.n_buckets:
            raise ValueError(
                f"stage {stage!r} checkpoint was written with "
                f"n_buckets={row.n_buckets}, resuming with "
                f"{self.n_buckets} would re-hash rows into already-"
                "materialized partitions (duplicates). Re-run with "
                f"n_buckets={row.n_buckets} or delete the stage directory."
            )

    def run_stage(
        self, stage: str, inp: DataFrame, transform, key: str = "conv_id"
    ) -> StageRun:
        """Compute ``transform(pending_input)`` for buckets without lineage,
        write them, record lineage, return the FULL stage output (reread
        from the checkpoint, so downstream plans cut lineage here too)."""
        self._check_bucket_meta(stage)
        data_path, lineage_path = self._paths(stage)
        done = self.completed_buckets(stage)

        bucketed = with_bucket(inp, self.n_buckets, key)
        pending = bucketed
        if done:
            pending = bucketed.where(~F.col(BUCKET_COL).isin(sorted(done)))

        n_pending = self.n_buckets - len(done)
        if n_pending > 0:
            t0 = time.monotonic()
            out = transform(pending)
            if BUCKET_COL not in out.columns:
                out = with_bucket(out, self.n_buckets, key)
            out.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(BUCKET_COL).parquet(data_path)
            wall_ms = int((time.monotonic() - t0) * 1000)

            counts = (
                self.spark.read.parquet(data_path)
                .where(~F.col(BUCKET_COL).isin(sorted(done)) if done else F.lit(True))
                .groupBy(BUCKET_COL)
                .count()
                .collect()
            )
            counted = {r[BUCKET_COL]: r["count"] for r in counts}
            lineage_rows = [
                (
                    stage,
                    int(b),
                    int(counted.get(b, 0)),
                    wall_ms,
                    time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                )
                for b in range(self.n_buckets)
                if b not in done
            ]
            self.spark.createDataFrame(
                lineage_rows, schema=LINEAGE_SCHEMA
            ).write.mode("append").parquet(lineage_path)

        full = self.spark.read.parquet(data_path).drop(BUCKET_COL)
        return StageRun(
            output=full,
            buckets_processed=max(n_pending, 0),
            buckets_skipped=len(done),
        )

    def lineage(self, stage: str) -> DataFrame:
        _, lineage_path = self._paths(stage)
        return self.spark.read.parquet(lineage_path)
