#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster:
    spark-submit --py-files openie_with_entities_spark.zip \\
        scripts/run_pipeline.py --input /data/transcripts \\
        --alias /data/alias_dict --output /data/kg --buckets 4096

Local smoke (generates a deterministic corpus when --input is omitted):
    python scripts/run_pipeline.py --output /tmp/kg --convs 5000

Rerunning with the same --output resumes: buckets with lineage rows are
skipped (delete <output>/triples/lineage to force a full rerun).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# running the script directly (not via spark-submit --py-files): make the
# repo root importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (conv_id, turn_idx, role, text, tool, ts)")
    ap.add_argument("--alias", help="alias dictionary parquet path")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--convs", type=int, default=2000, help="synthetic corpus size when --input is omitted")
    ap.add_argument("--cores", type=int, default=None, help="local-mode cores (ignored under spark-submit on a cluster)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active  # a session already exists (notebook/driver harness)
    elif args.cores is None:
        # spark-submit path: build WITHOUT master/memory/local-dir
        # overrides so the submitted conf (--master yarn, executor sizing)
        # stays in charge — get_spark()'s hard-coded local[N] would
        # silently collapse a cluster job onto the driver. Running bare
        # `python run_pipeline.py` without --cores falls back to the local
        # profile when no master is configured.
        try:
            spark = SparkSession.builder.appName("kg_pipeline").getOrCreate()
        except Exception:
            from openie_with_entities_spark.session import get_spark

            spark = get_spark("kg_pipeline", cores=None)
    else:
        from openie_with_entities_spark.session import get_spark

        spark = get_spark("kg_pipeline", cores=args.cores)

    from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
    from openie_with_entities_spark.plans.production import run_production

    if args.input and not args.alias:
        # the synthetic gazetteer only pairs with the synthetic corpus —
        # silently linking REAL transcripts against it would produce a
        # plausible-looking but garbage KG
        raise SystemExit("--alias is required when --input is given "
                         "(the built-in alias dictionary is synthetic)")
    transcripts = (
        spark.read.parquet(args.input)
        if args.input
        else generate_transcripts(spark, args.convs)
    )
    alias = spark.read.parquet(args.alias) if args.alias else alias_dict(spark)

    t0 = time.monotonic()
    result = run_production(
        spark,
        transcripts,
        alias,
        args.output,
        n_buckets=args.buckets,
    )
    n = result.triples.count()
    print(
        f"triples={n} entity_nodes={result.entity_nodes.count()} "
        f"graph_edges={result.graph_edges.count()} "
        f"buckets_processed={result.buckets_processed} "
        f"buckets_skipped={result.buckets_skipped} "
        f"wall={time.monotonic() - t0:.1f}s → {args.output}"
    )
    result.metrics.show(truncate=False)
    return 0


if __name__ == "__main__":
    sys.exit(main())
