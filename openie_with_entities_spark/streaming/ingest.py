"""Structured Streaming ingest: continuously extract triples from newly
arriving transcript partitions.

The reference is batch-only; this is the engine's forward path for a live
transcript feed. Late/duplicate turns are handled with a watermark +
``dropDuplicatesWithinWatermark`` on (conv_id, turn_idx); the fused
extraction stage applies unchanged to the streaming DataFrame (mapInArrow
is streaming-compatible), and ``foreachBatch`` gives exactly-once appends to
the triples table plus per-batch lineage rows — the streaming twin of
plans.checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def stream_transcripts(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_triples(
    stream: DataFrame,
    dictionary: dict[str, tuple[str, str]],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Entity-linked triples of a transcript stream, with the same columns
    as the batch ``plans.pipeline.build_kg_fused`` output; ``dictionary``
    comes from ``linking.dictionary_surfaces``."""
    from ..extract.fused import fused_extract_stage

    deduped = stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["conv_id", "turn_idx"]
    )
    return fused_extract_stage(deduped, dictionary)


DOCUMENT_DDL = "doc_id long, text string, source string, ts timestamp"


def stream_documents(
    spark: SparkSession, path: str, max_files_per_trigger: int = 8
) -> DataFrame:
    return (
        spark.readStream.schema(DOCUMENT_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_clean_documents(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming twin of docops.prepare_corpus for a live document feed:
    the quality/language gates and PII scrub are pure per-row projections
    (streaming-safe as-is), and exact dedup becomes
    ``dropDuplicatesWithinWatermark`` on the content hash — bounded state
    (hashes older than the watermark evict) instead of the batch job's
    global keeper aggregate. Semantics note vs the batch pass: streaming
    keeps the FIRST-ARRIVING copy within the watermark horizon and cannot
    count n_copies; duplicates spaced further apart than the watermark
    both survive and are the batch pass's job to reconcile — the standard
    streaming/batch dedup split."""
    from ..operators.docops import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
        STOPWORDS,
        tokenize,
    )

    toks = tokenize(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.size(
        F.expr(r"regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)")
    )
    n_tokens = F.size(toks)
    stop_ratio = F.round(n_stop / n_tokens, 4)
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    gated = (
        stream.withColumn("_h", F.md5("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .where(
            (n_tokens >= 10)
            & (n_tokens <= 100000)
            & (n_punct / n_tokens < 0.3)
            & (stop_ratio >= 0.08)
        )
    )
    return gated.select(
        "doc_id",
        F.col("_h").alias("content_hash"),  # reconcile key (see below)
        scrubbed.alias("text_clean"),
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        "source",
        "ts",
    )


def windowed_turn_counts(
    stream: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Watermarked time-window aggregation over the transcript stream:
    turns per (window, role). Late rows beyond the watermark are dropped by
    the engine; window state is evicted once the watermark passes — the
    bounded-state requirement for an unbounded 10^12-turn feed."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "role")
        .agg(F.count("*").alias("n_turns"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "role",
            "n_turns",
        )
    )


def _delete_epoch_dir(spark: SparkSession, base: str, epoch_id: int) -> None:
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(
        os.path.join(base, f"epoch={int(epoch_id)}")
    )
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(p, True)


def write_epoch(
    spark: SparkSession, df: DataFrame, epoch_id: int, out_path: str
) -> int:
    """One micro-batch's idempotent write (see run_stream_to_table's
    idempotency contract): rows overwrite this epoch's ``epoch=<id>``
    partition; a ZERO-row (retried) epoch instead deletes the partition so
    no previous partial write survives. Lineage always records the epoch.
    Returns the row count."""
    df = df.persist()
    n = df.count()
    if n == 0:
        _delete_epoch_dir(spark, os.path.join(out_path, "data"), epoch_id)
    else:
        (
            df.withColumn("epoch", F.lit(int(epoch_id)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("epoch")
            .parquet(os.path.join(out_path, "data"))
        )
    spark.createDataFrame(
        [(int(epoch_id), n)], "epoch long, rows_out long"
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch").parquet(os.path.join(out_path, "lineage"))
    df.unpersist()
    return n


from dataclasses import dataclass


@dataclass
class ReconcileResult:
    # the reconciled (globally deduped) table; None when nothing has ever
    # been streamed OR reconciled yet (no data/ and no reconcile/data/)
    survivors: DataFrame | None
    epochs_reconciled: int
    rows_in: int
    dups_dropped: int


def reconcile_stream_dedup(
    spark: SparkSession,
    out_path: str,
    key: str = "content_hash",
    id_col: str = "doc_id",
) -> ReconcileResult:
    """The batch half of the streaming/batch dedup split
    streaming_clean_documents documents: duplicates spaced further apart
    than the watermark survive the stream (their state evicted) and land in
    different epochs — this job reconciles them globally.

    Lineage-aware incremental design (never re-reads reconciled epochs):

      <out>/data/epoch=N        streamed output (write_epoch)
      <out>/reconcile/keepers   (key, epoch, id) — one row per first-seen key
      <out>/reconcile/data/epoch=N   reconciled survivors of epoch N
      <out>/reconcile/lineage   (epoch, rows_in, keepers_out)

    Each run: NEW epochs (no lineage row) are scanned once; the first
    (epoch, id) per key within them wins; candidates are then anti-joined
    against the global keeper table, so a key already kept by an earlier
    reconciled epoch drops every later copy. Both joins are equi-joins on
    the 32-byte hash — shuffle keys never include document bodies, and the
    keeper table is hash-partitioned corpus-metadata (key+ids), orders of
    magnitude smaller than the corpus.

    Crash safety: survivors (dynamic epoch overwrite, idempotent) →
    keepers (append) → lineage (last). Keeper rows only COUNT once their
    epoch has a lineage row: a crash between the keepers append and the
    lineage write leaves a partial keeper set for that epoch, and a re-run
    that honored it would anti-join away the very candidates it is
    re-deriving — permanently dropping them from the overwritten epoch
    partition. Filtering keepers to lineage-complete epochs makes the
    re-run recompute the epoch from scratch; the duplicate keeper rows it
    appends are harmless (anti-join membership ignores multiplicity).
    An UNREADABLE (vs merely absent) keeper/lineage table fails loudly —
    treating it as first-run would silently re-keep already-kept hashes
    (same invariant as plans.checkpoint.completed_buckets)."""
    from pyspark.errors import AnalysisException

    from ..plans.checkpoint import _is_path_missing

    data_path = os.path.join(out_path, "data")
    rec = os.path.join(out_path, "reconcile")
    keepers_path = os.path.join(rec, "keepers")
    lineage_path = os.path.join(rec, "lineage")

    def _read(path):
        try:
            return spark.read.parquet(path)
        except AnalysisException as e:
            if _is_path_missing(e):
                return None
            raise

    data = _read(data_path)
    if data is None:
        return ReconcileResult(None, 0, 0, 0)
    lineage = _read(lineage_path)
    # completed epochs join as a (tiny, broadcast) table, never as an
    # isin literal — a long-lived stream accumulates unbounded epochs and
    # a literal IN-list would grow the plan linearly with stream lifetime
    done_epochs = (
        lineage.select("epoch").distinct().persist()
        if lineage is not None
        else None
    )
    done = (
        {r.epoch for r in done_epochs.collect()}
        if done_epochs is not None
        else set()
    )
    new = (
        data.join(F.broadcast(done_epochs), "epoch", "left_anti")
        if done
        else data
    )
    # Fail fast on a missing or null dedup key: epochs written before the
    # producer emitted `key` (or by a producer lacking it) read back as
    # null, and the keeper window would silently collapse ALL null-key rows
    # into one "duplicate" group, dropping every doc but one. A null key is
    # a producer contract violation, not a duplicate.
    if key not in new.columns:
        if done_epochs is not None:
            done_epochs.unpersist()
        raise ValueError(
            f"reconcile_stream_dedup: dedup key column {key!r} is absent "
            f"from the streamed epochs under {data_path} — refusing to "
            "reconcile (a null/absent key is not a duplicate)"
        )
    new = new.persist()
    per_epoch_rows = new.groupBy("epoch").agg(
        F.count("*").alias("count"),
        F.sum(F.col(key).isNull().cast("long")).alias("n_null_key"),
    ).collect()
    null_epochs = sorted(r["epoch"] for r in per_epoch_rows if r["n_null_key"])
    if null_epochs:
        new.unpersist()
        if done_epochs is not None:
            done_epochs.unpersist()
        raise ValueError(
            f"reconcile_stream_dedup: {key!r} is null in epoch(s) "
            f"{null_epochs} under {data_path} — refusing to dedup null "
            "keys against each other"
        )
    per_epoch_in = {r["epoch"]: r["count"] for r in per_epoch_rows}
    if not per_epoch_in:
        new.unpersist()
        if done_epochs is not None:
            done_epochs.unpersist()
        survivors = _read(os.path.join(rec, "data"))
        return ReconcileResult(survivors, 0, 0, 0)
    rows_in = sum(per_epoch_in.values())

    w = Window.partitionBy(key).orderBy("epoch", id_col)
    candidates = (
        new.withColumn("_rn", F.row_number().over(w))
        .where("_rn = 1")
        .drop("_rn")
    )
    keepers = _read(keepers_path)
    if keepers is not None and done:
        # only lineage-COMPLETE epochs' keepers count (see docstring); no
        # dedup needed before a left_anti — membership ignores multiplicity
        seen = keepers.join(
            F.broadcast(done_epochs), "epoch", "left_semi"
        ).select(key)
        candidates = candidates.join(seen, key, "left_anti")
    survivors_new = candidates.persist()
    n_keep = survivors_new.count()

    survivors_new.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("epoch").parquet(os.path.join(rec, "data"))
    survivors_new.select(
        key, "epoch", F.col(id_col).alias("id")
    ).write.mode("append").parquet(keepers_path)
    per_epoch_keep = {
        r["epoch"]: r["count"]
        for r in survivors_new.groupBy("epoch").count().collect()
    }
    spark.createDataFrame(
        [
            (int(e), int(per_epoch_in[e]), int(per_epoch_keep.get(e, 0)))
            for e in per_epoch_in
        ],
        "epoch long, rows_in long, keepers_out long",
    ).write.mode("append").parquet(lineage_path)
    new.unpersist()
    survivors_new.unpersist()
    if done_epochs is not None:
        done_epochs.unpersist()
    spark.catalog.refreshByPath(os.path.join(rec, "data"))
    return ReconcileResult(
        survivors=spark.read.parquet(os.path.join(rec, "data")),
        epochs_reconciled=len(per_epoch_in),
        rows_in=rows_in,
        dups_dropped=rows_in - n_keep,
    )


def run_stream_to_table(
    triples_stream: DataFrame,
    out_path: str,
    checkpoint_dir: str,
    once: bool = True,
):
    """foreachBatch writer: exactly-once-observable triples + a lineage row
    per micro-batch. ``once=True`` drains everything available and stops
    (used by tests and backfills); continuous mode just drops the trigger.

    Idempotency: Structured Streaming retries a failed micro-batch with the
    SAME epoch_id, so a plain append would duplicate the whole batch if the
    crash landed between the data write and the checkpoint commit. Each
    epoch therefore dynamically OVERWRITES its own ``epoch=<id>`` partition
    (data and lineage both) — a retry replaces its previous partial output
    instead of appending a second copy. Dynamic overwrite only touches
    partitions the new write EMITS, so a retry that (after upstream dedup)
    produces ZERO rows would silently keep a previous partial write — that
    epoch's directory is deleted explicitly before the no-row short-circuit."""
    spark = triples_stream.sparkSession

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        write_epoch(spark, df, epoch_id, out_path)

    writer = (
        triples_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
    )
    if once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
