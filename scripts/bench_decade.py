"""10× scaling decade: run the flagship pipeline and the heavy document
operators at 1× and 10× data on the same 32 cores, and report the
per-decade wall-time ratio. This turns the "survives 100×" plan arguments
into one measured decade: an operator whose cost is linear in rows shows
ratio ≈ 10 (time/row constant); a super-linear (all-pairs / hot-key) plan
shows ratio >> 10.

10× corpus: deterministic replication of the driver's sf0.1 documents —
replica i ∈ [0, 10) keeps every doc but rewrites every 3rd token to
token_<i>, so cross-replica shingle overlap collapses (no artificial 10-way
duplicate clusters) while each replica keeps the original within-replica
near-duplicate structure. No external data; derived purely from the
testdata parquet. The flagship decade uses generate_transcripts at
96k vs 960k conversations (624k → 6.24M turns).

Usage: python scripts/bench_decade.py [sf_dir] [out_json]
Writes one JSON file (default BENCH_decade.json in CWD) and prints a
markdown table for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

REPLICAS = 10


def build_10x(spark, sf_dir: str, path: str):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    reps = spark.range(REPLICAS).select(F.col("id").cast("int").alias("rep"))
    toks = F.split("text", " ")
    perturbed = F.array_join(
        F.zip_with(
            toks,
            F.sequence(F.lit(0), F.size(toks) - 1),
            lambda t, i: F.when(
                (i + F.col("rep")) % 3 == 0,
                F.concat(t, F.lit("_"), F.col("rep").cast("string")),
            ).otherwise(t),
        ),
        " ",
    )
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") * REPLICAS + F.col("rep")).alias("doc_id"),
        perturbed.alias("text"),
        "lang",
        "source",
        F.length(perturbed).alias("n_chars"),
    )
    parallelism = spark.sparkContext.defaultParallelism
    big.repartition(parallelism * 2).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _time(fn, runs: int = 2) -> float:
    """min-of-n wall time of an action-forcing callable (noop write)."""
    samples = []
    for _ in range(runs):
        t0 = time.monotonic()
        fn().write.mode("overwrite").format("noop").save()
        samples.append(time.monotonic() - t0)
    return round(min(samples), 2)


def doc_ops():
    from openie_with_entities_spark.operators import docops

    return {
        "docs_ngram_jaccard": docops.ngram_jaccard_pairs,
        "docs_minhash_lsh": docops.minhash_lsh_candidates,
        "docs_neardup_clusters": docops.neardup_clusters,
        "docs_simhash": docops.simhash64,
        "docs_prepare_corpus": docops.prepare_corpus,
        "docs_winnowing": docops.winnowing_fingerprint,
        "docs_heavy_hitters": docops.heavy_hitters,
        "docs_unigram_logprob": docops.unigram_logprob_score,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else "BENCH_decade.json"
    from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
    from openie_with_entities_spark.plans.pipeline import build_kg_fused
    from openie_with_entities_spark.session import get_spark

    spark = get_spark("bench_decade", cores=int(os.environ.get("SPARK_GRAFT_CPUS", 32)))
    cores = spark.sparkContext.defaultParallelism
    # warm the python worker pool before any timing
    spark.range(cores * 3, numPartitions=cores * 3).mapInPandas(
        lambda it: it, "id long"
    ).count()

    results: dict[str, dict] = {}

    # ---- document operators at 1× and 10× --------------------------------
    docs1 = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n1 = docs1.count()
    big_path = os.path.join(
        os.environ.get("SPARK_GRAFT_DECADE_DIR", "/tmp"), "decade_docs_10x"
    )
    docs10 = build_10x(spark, sf_dir, big_path)
    n10 = docs10.count()
    for name, op in doc_ops().items():
        t1 = _time(lambda: op(docs1))
        t10 = _time(lambda: op(docs10))
        results[name] = {
            "rows_1x": n1,
            "rows_10x": n10,
            "sec_1x": t1,
            "sec_10x": t10,
            "ratio": round(t10 / t1, 2) if t1 > 0 else None,
        }
        print(f"# {name}: {t1}s -> {t10}s (ratio {results[name]['ratio']})")

    # ---- flagship pipeline at 624k and 6.24M turns -----------------------
    alias = alias_dict(spark)
    for label, n_convs in (("kg_1x", 96_000), ("kg_10x", 960_000)):
        tr = generate_transcripts(spark, n_convs).cache()
        n_turns = tr.count()
        sec = _time(lambda: build_kg_fused(tr, alias))
        tr.unpersist()
        results[label] = {
            "n_turns": n_turns,
            "sec": sec,
            "turns_per_sec": round(n_turns / sec, 1),
        }
        print(f"# {label}: {n_turns} turns in {sec}s "
              f"({results[label]['turns_per_sec']} turns/s)")
    results["kg_ratio"] = round(
        results["kg_10x"]["sec"] / results["kg_1x"]["sec"], 2
    )

    with open(out_json, "w") as f:
        json.dump({"cores": cores, "sf_dir": sf_dir, "results": results}, f, indent=1)

    print("\n| operator | 1× rows | 1× sec | 10× rows | 10× sec | ratio |")
    print("|---|---|---|---|---|---|")
    for name in doc_ops():
        r = results[name]
        print(f"| {name} | {r['rows_1x']} | {r['sec_1x']} | "
              f"{r['rows_10x']} | {r['sec_10x']} | {r['ratio']} |")
    k1, k10 = results["kg_1x"], results["kg_10x"]
    print(f"| kg_pipeline (fused) | {k1['n_turns']} turns | {k1['sec']} | "
          f"{k10['n_turns']} turns | {k10['sec']} | {results['kg_ratio']} |")
    spark.stop()
    # the 10× corpus lives on tmpfs-backed /tmp by default — don't leave
    # ~10×-sf parquet resident in RAM after the benchmark exits
    import shutil

    shutil.rmtree(big_path, ignore_errors=True)


if __name__ == "__main__":
    main()
