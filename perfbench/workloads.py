"""The benchmark's workloads: input shape, one timed pass, and its output check.

Every pass returns a ``PassResult`` whose ``windows`` are the wall-clock
intervals (epoch ms) of its timed parts; the traced run reads the jobs
submitted in those windows from the event log. Check jobs run outside them.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import zlib
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from openie_with_entities_spark.corpus import alias_dict
from openie_with_entities_spark.linking import dictionary_surfaces
from openie_with_entities_spark.oracle import reference_triples
from openie_with_entities_spark.plans.pipeline import build_kg_fused
from openie_with_entities_spark.plans.production import run_production
from openie_with_entities_spark.streaming.ingest import (
    run_stream_to_table,
    stream_transcripts,
    streaming_triples,
)

from perfbench.inputs import Input, ensure_input
from perfbench.tracing import TracedBackend, epoch_seconds

ORACLE_COLS = ["conv_id", "turn_idx", "sent_idx", "arg1", "rel", "arg2", "confidence"]
SAMPLE_CONVS = 24
SEP = "\x1f"


def _now_ms() -> int:
    return int(time.time() * 1000)


def _row_key(r: dict) -> str:
    """The sample check's row key; ``_row_key_col`` builds the same string in Spark
    (confidences are two-decimal values, so ``%.2f`` prints them exactly)."""
    return SEP.join([r["conv_id"], str(r["turn_idx"]), str(r["sent_idx"]), r["arg1"],
                     r["rel"], r["arg2"], f"{r['confidence']:.2f}"])


def _row_key_col():
    return F.concat_ws(SEP, *ORACLE_COLS[:-1], F.format_string("%.2f", "confidence"))


def _hash_sum(*cols):
    # decimal sum: a long sum of 64-bit hashes overflows under ANSI mode
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


@dataclass
class PassResult:
    wall_s: float
    errors: list[str]
    windows: list[tuple[int, int]]
    parts: dict[str, float] = field(default_factory=dict)
    epochs_s: list[float] = field(default_factory=list)
    backend: dict[str, int] = field(default_factory=dict)
    progress: list[dict] = field(default_factory=list)
    layer_extra: dict[str, float] = field(default_factory=dict)
    cpu_s: float = 0.0


class BatchShared:
    """``build_kg_fused`` → write over the repo corpus: sentence texts repeat
    heavily, and the input is a cached DataFrame with many small partitions."""

    name = "batch_shared"
    n_convs = 1600
    parts_per_core = 8
    # A long-lived session calls build_kg_fused again and again, so passes are
    # timed warm: after the cold pass and one warm-up pass. The JVM's CPU time
    # a pass falls steeply over the first three passes as the JIT compiles,
    # then slowly; the median over the timed passes leaves out the first.
    untimed_passes = 2

    def make_input(self, cache: str, seed: int) -> Input:
        return ensure_input(cache, self.name, seed, self.n_convs)

    def prepare(self, spark, inp: Input, seed: int, cores: int, workdir: str) -> None:
        self.spark, self.inp = spark, inp
        self.partitions = self.parts_per_core * cores
        self.alias = alias_dict(spark)
        self.df = None
        self.reference = None
        rng = random.Random(seed)
        self.sample = [f"conv-{c:08d}" for c in sorted(rng.sample(range(self.n_convs), SAMPLE_CONVS))]
        oracle = reference_triples(inp.turns_of(self.sample))
        self.expected_sample = (len(oracle), sum(zlib.crc32(_row_key(r).encode()) for r in oracle))

    def load(self) -> None:
        if self.df is not None:
            self.df.unpersist(blocking=True)
        self.df = self.spark.read.parquet(self.inp.table_dir).repartition(self.partitions).cache()
        self.df.count()

    @property
    def input_partitions(self) -> int:
        return self.partitions

    def run_pass(self, traced: bool) -> PassResult:
        spark = self.spark
        backend = TracedBackend(spark.sparkContext) if traced else None
        obs = Observation("perfbench")
        t0, w0 = time.perf_counter(), _now_ms()
        if traced:
            spark.sparkContext.setJobDescription("linking")
        linked = build_kg_fused(self.df, self.alias, backend=backend)
        in_sample = F.col("conv_id").isin(self.sample)
        if traced:
            spark.sparkContext.setJobDescription("extract.fused")
        linked.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            _hash_sum(*linked.columns).alias("h"),
            F.sum(in_sample.cast("long")).alias("sn"),
            F.sum(F.when(in_sample, F.crc32(_row_key_col()))).alias("sh"),
        ).write.mode("overwrite").format("noop").save()
        wall = time.perf_counter() - t0
        window = (w0, _now_ms())
        if traced:
            spark.sparkContext.setJobDescription(None)
        m = obs.get
        errors = []
        got = (m["n"], m["h"] or 0)
        if self.reference is None:
            self.reference = got
        elif got != self.reference:
            errors.append(f"output checksum {got} differs from the first pass {self.reference}")
        if (m["sn"], m["sh"] or 0) != self.expected_sample:
            errors.append(
                f"sample of {SAMPLE_CONVS} conversations {(m['sn'], m['sh'])} differs "
                f"from oracle.reference_triples {self.expected_sample}"
            )
        return PassResult(wall, errors, [window],
                          backend=backend.values() if backend else {})


class Production:
    """``run_production`` into a fresh output, a resume of the finished
    checkpoint, then a stream drain of the same turns into a fresh table.

    Every sentence text is distinct and the input is one parquet split, so
    the distinct-sentence memo never hits and the fused stage adds its
    ``conv_id`` exchange: this is the zero-hit control for ``batch_shared``."""

    name = "production"
    # ≤ 1440 conversations: corpus timestamps wrap after 1440 conversations,
    # and the stream would then see turns behind its watermark
    n_convs = 400
    n_buckets = 16
    stream_files = 8
    files_per_trigger = 4
    # a production job is a fresh spark-submit, so users pay the cold JVM on
    # every run: its one pass a run is timed cold
    untimed_passes = 0

    def make_input(self, cache: str, seed: int) -> Input:
        return ensure_input(cache, self.name, seed, self.n_convs, distinct=True,
                            stream_files=self.stream_files)

    def prepare(self, spark, inp: Input, seed: int, cores: int, workdir: str) -> None:
        self.spark, self.inp, self.workdir = spark, inp, workdir
        self.sample = [f"conv-{c:08d}" for c in range(SAMPLE_CONVS)]
        self.alias = alias_dict(spark)
        self.reference = None
        self.n = 0

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.inp.table_dir)
        self.df.count()

    input_partitions = 1

    def _counts(self, res) -> tuple[int, int, int]:
        return (res.triples.count(), res.entity_nodes.count(), res.graph_edges.count())

    def run_pass(self, traced: bool) -> PassResult:
        spark, errors, windows, parts = self.spark, [], [], {}
        self.n += 1
        out = os.path.join(self.workdir, f"prod{self.n}")
        stream_out = os.path.join(self.workdir, f"s{self.n}", "stream_out")

        def timed(part: str, layer: str, fn):
            t0, w0 = time.perf_counter(), _now_ms()
            if traced:
                spark.sparkContext.setJobDescription(layer)
            try:
                return fn()
            finally:
                if traced:
                    spark.sparkContext.setJobDescription(None)
                parts[part] = time.perf_counter() - t0
                windows.append((w0, _now_ms()))

        full = timed("full_s", "plans.production",
                     lambda: run_production(spark, self.df, self.alias, out, n_buckets=self.n_buckets))
        full_counts = self._counts(full)
        if self.reference is None:
            self.reference = full_counts
        elif full_counts != self.reference:
            errors.append(f"counts {full_counts} differ from the first pass {self.reference}")
        resume = timed("resume_s", "plans.production",
                       lambda: run_production(spark, self.df, self.alias, out, n_buckets=self.n_buckets))
        resume_counts = self._counts(resume)
        query = timed("drain_s", "streaming.ingest", lambda: run_stream_to_table(
            streaming_triples(
                stream_transcripts(spark, self.inp.stream_dir, self.files_per_trigger),
                dictionary_surfaces(self.alias),
            ),
            stream_out,
            os.path.join(self.workdir, f"s{self.n}", "checkpoint"),
        ))
        progress = list(query.recentProgress)
        streamed = spark.read.parquet(os.path.join(stream_out, "data")).count()

        if (resume.buckets_skipped, resume.buckets_processed) != (self.n_buckets, 0):
            errors.append(f"resume skipped {resume.buckets_skipped} and processed "
                          f"{resume.buckets_processed} of {self.n_buckets} buckets")
        if full_counts != resume_counts:
            errors.append(f"(triples, entity_nodes, graph_edges) {full_counts} after the "
                          f"full run but {resume_counts} after the resume")
        if streamed != full_counts[0]:
            errors.append(f"stream wrote {streamed} triples, the batch run {full_counts[0]}")
        ckpt = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out, "triples", "data"))
                for f in fs if f.endswith(".parquet")]
        extra = {"plans.checkpoint.files": len(ckpt),
                 "plans.checkpoint.bytes_mb": sum(map(os.path.getsize, ckpt)) / (1024 * 1024)}
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(os.path.dirname(stream_out), ignore_errors=True)
        return PassResult(sum(parts.values()), errors, windows, parts,
                          epochs_s=epoch_seconds(progress), progress=progress,
                          layer_extra=extra)


WORKLOADS = {w.name: w for w in (BatchShared, Production)}
