"""Production runner: the whole KG-construction job with per-stage
checkpoints, lineage, metrics, and resume — what `spark-submit --py-files`
launches on a cluster (scripts/run_pipeline.py is the CLI wrapper).

Stage graph (each stage = one checkpointed parquet table + lineage rows;
a rerun reprocesses only buckets without lineage):

    transcripts ─► triples (fused extract + entity link)  [ckpt: triples]
        ├────────► entity_nodes (linked surfaces and      [ckpt: entity_nodes]
        │          their KB entities)
        ├────────► graph_edges (weighted entity edges)    [ckpt: graph_edges]
        └────────► metrics (violation counters c1-c4 +    [ckpt: metrics]
                   per-stage row counts)

entity_nodes needs no connected-components fixpoint: each component is a
star around one KB entity (canonicalize.py module note), so the canonical
id is the entity id and the triples keep the ids read from the checkpoint.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..canonicalize import entity_nodes, materialize_graph
from ..extract.fused import fused_extract_stage
from ..extract.mentions import detect_mentions
from ..linking import dictionary_surfaces, violation_counters
from .checkpoint import CheckpointManager
from .metrics import FUSED_COUNTERS, StageCounters


@dataclass
class ProductionResult:
    triples: DataFrame
    entity_nodes: DataFrame
    graph_edges: DataFrame
    metrics: DataFrame
    buckets_processed: int
    buckets_skipped: int


def run_production(
    spark: SparkSession,
    transcripts: DataFrame,
    alias: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    link_mode: str = "inline",
) -> ProductionResult:
    """``link_mode``: 'inline' (default, broadcast regime: the fused stage
    links each argument through the collected dictionary) or 'salted'
    (dictionary too big to broadcast: modular mention stage + salted
    shuffle join — the hot-entity skew path)."""
    mgr = CheckpointManager(spark, out_dir, n_buckets=n_buckets)
    counters = StageCounters(spark, "fused_extract", FUSED_COUNTERS)

    def extract(pending: DataFrame) -> DataFrame:
        if link_mode == "salted":
            from ..linking import link_mentions_salted, link_triples
            from ..plans.pipeline import extract_triples

            res = extract_triples(pending)
            linked_m = link_mentions_salted(detect_mentions(res.triples), alias)
            return link_triples(res.triples, linked_m)
        # the driver-side dictionary collect happens ONLY on the inline
        # (broadcast-regime) path — salted mode exists precisely because the
        # dictionary is too big to collect/broadcast — and only when a bucket
        # is pending, so a fully resumed run submits no linking job
        return fused_extract_stage(
            pending, dictionary_surfaces(alias), counters=counters
        )

    run = mgr.run_stage("triples", transcripts, extract)
    triples = run.output

    # entity_nodes and the graph are re-derived from the full checkpointed
    # triples on every run, resumes included: both are dictionary- or
    # entity-pair-bounded, so they are not bucket-checkpointed.
    entity_path = os.path.join(out_dir, "entity_nodes")
    entity_nodes(triples, alias).write.mode("overwrite").parquet(entity_path)

    graph_path = os.path.join(out_dir, "graph_edges")
    metrics_path = os.path.join(out_dir, "metrics")
    violations = violation_counters(triples, alias).withColumn(
        "stage", F.lit("link")
    )

    # The three tail writes only READ the (checkpointed) triples table and
    # are independent of each other: submit them from a small thread pool
    # so the later jobs' tasks back-fill executors idled by the earlier
    # jobs' stragglers (guide §2.6 overlap; job order/results unchanged).
    def _write_graph() -> None:
        materialize_graph(triples).write.mode("overwrite").parquet(graph_path)

    def _write_metrics() -> None:
        violations.write.mode("overwrite").parquet(metrics_path)

    def _write_counters() -> None:
        # stage counters (accumulators filled while the extract stage ran).
        # Write ONLY when the fused stage actually executed this run: a
        # fully resumed run (every bucket skipped) and the salted path
        # (which never touches these accumulators) would otherwise
        # overwrite the previous run's real counters with zeros.
        if link_mode != "salted" and run.buckets_processed > 0:
            counters.to_df(spark).write.mode("overwrite").parquet(
                os.path.join(out_dir, "stage_counters")
            )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(f)
            for f in (_write_graph, _write_metrics, _write_counters)
        ]
        for fut in futures:
            fut.result()  # surface the first failure, if any

    return ProductionResult(
        triples=triples,
        entity_nodes=spark.read.parquet(entity_path),
        graph_edges=spark.read.parquet(graph_path),
        metrics=spark.read.parquet(metrics_path),
        buckets_processed=run.buckets_processed,
        buckets_skipped=run.buckets_skipped,
    )
