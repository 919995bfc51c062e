"""Physical-plan assertions: the properties the 100 TB design depends on
must be visible in `.explain` output, not just assumed."""

import re

import pytest
from pyspark.sql import functions as F

from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
from openie_with_entities_spark.plans.pipeline import build_kg_fused


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_fused_pipeline_single_shuffle(spark):
    t = generate_transcripts(spark, 10)
    alias = alias_dict(spark)
    linked = build_kg_fused(t, alias)
    plan = plan_of(linked)
    # corpus generator contributes its own repartition; beyond that the
    # pipeline may add ONLY the explicit conv_id repartition — no
    # ENSURE_REQUIREMENTS exchanges (those would mean hidden shuffles)
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert len(re.findall(r"REPARTITION_BY_NUM", plan)) <= 2
    # linking runs inside the fused stage: no joins at all in the fused
    # path, and the dictionary is never planted in the plan
    assert "Join" not in plan
    optimized = linked._jdf.queryExecution().optimizedPlan().toString()
    planted = [
        r.surface_form
        for r in alias.select("surface_form").collect()
        if " " in r.surface_form and r.surface_form in optimized
    ]
    assert planted == [], optimized


def test_parquet_column_pruning_and_pushdown(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = df.where(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "l_extendedprice" not in m.group(1), plan  # pruned
    assert "PushedFilters: [" in plan and "GreaterThan(l_quantity" in plan


def test_dimension_joins_are_broadcast(spark):
    import __spark_entry__ as entrymod

    q = entrymod.queries()["a7_filtered_join"](spark, "/root/testdata/sf0.001")
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_salted_link_bounds_partition_size(spark):
    """Hot-surface skew: with salting, no single task sees more than
    ~1/n_salt of a hot key's rows."""
    from openie_with_entities_spark.linking import link_mentions_salted

    import pandas as pd

    n = 8000
    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [f"c{i}" for i in range(n)],
                "turn_idx": [0] * n,
                "sent_idx": [0] * n,
                "split_idx": [0] * n,
                "ext_idx": [0] * n,
                "arg_pos": [1] * n,
                "mention": ["Acme Corp"] * n,  # one hot surface
                "surface_norm": ["acme corp"] * n,
                "begin_word": [0] * n,
                "end_word": [1] * n,
            }
        )
    )
    linked = link_mentions_salted(mentions, alias_dict(spark), n_salt=8)
    assert linked.count() == n
    # the join must be a shuffle join keyed on (surface, salt) — never a
    # plain surface-keyed shuffle that would send the hot key to one task
    plan = plan_of(linked)
    assert re.search(r"ShuffledHashJoin \[surface_norm#\d+, _salt", plan), plan
    # the hot surface's rows really do carry >1 salt value (reducer split)
    n_salts = (
        mentions.select(
            F.pmod(
                F.xxhash64(
                    "conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"
                ),
                F.lit(8),
            ).alias("s")
        )
        .distinct()
        .count()
    )
    assert n_salts == 8


def test_quality_score_is_single_scan(spark):
    from openie_with_entities_spark.operators.docops import quality_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = plan_of(quality_score(docs))
    assert len(re.findall(r"FileScan parquet", plan)) == 1
    assert "Join" not in plan


def test_snap_objects_is_equi_join(spark):
    """The entity-ending-object rewrite must plan as a hash equi-join on the
    exploded token suffix, never a BroadcastNestedLoopJoin (the endswith
    theta-join shape is O(|triples|*|dict|) — a scale-killer with a real
    alias dictionary)."""
    from openie_with_entities_spark.corpus import alias_dict
    from openie_with_entities_spark.linking import snap_objects

    triples = spark.createDataFrame(
        [("c", 0, 0, 0, 0, "Bob", "joined", "the board of Acme Corp", 0.9)],
        "conv_id string, turn_idx int, sent_idx int, split_idx int, "
        "ext_idx int, arg1 string, rel string, arg2 string, confidence double",
    )
    plan = plan_of(snap_objects(triples, alias_dict(spark)))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_train_split_and_scrub_are_pure_projections(spark):
    """The per-row corpus ops must plan as a single scan + projection:
    no exchange of any kind."""
    from openie_with_entities_spark.operators.docops import (
        pii_scrub,
        train_split,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    for op in (train_split, pii_scrub):
        plan = plan_of(op(docs))
        assert "Exchange" not in plan, (op.__name__, plan)
        assert "Join" not in plan, (op.__name__, plan)


def test_pack_sequences_single_exchange(spark):
    """Packing shuffles exactly once — the per-source window — and never
    falls into a single global sort partition."""
    from openie_with_entities_spark.operators.docops import pack_sequences

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", "w " * 10) for i in range(30)],
        "doc_id long, source string, text string",
    )
    plan = plan_of(pack_sequences(docs))
    assert len(re.findall(r"Exchange ", plan)) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_jaccard_candidate_join_is_hash_join_on_longs(spark):
    """The prefix self-join must be a broadcast/shuffled HASH join keyed on
    the 8-byte shingle hash — never a nested-loop join, and no string
    shingles in the join output."""
    from openie_with_entities_spark.operators.docops import (
        jaccard_prefix_candidates,
    )

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared text content here")
         for i in range(20)],
        "doc_id long, text string",
    )
    plan = plan_of(jaccard_prefix_candidates(docs))
    assert "NestedLoop" not in plan, plan
    # equi-join keyed on the hash: SMJ pre-AQE (no stats on the
    # checkpointed RDD), converted to BroadcastHashJoin at runtime
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "shingle" not in plan, plan  # candidates carry hashes only


def test_unigram_vocab_is_sort_limit_not_global_window(spark):
    """Top-V vocabulary selection must plan as TakeOrderedAndProject
    (distributed per-partition top-V + bounded merge), never a
    single-partition row_number window over the vocabulary table."""
    from openie_with_entities_spark.operators.docops import (
        unigram_logprob_score,
    )

    docs = spark.createDataFrame(
        [(i, f"tok{i % 7} common words here", "s") for i in range(50)],
        "doc_id long, text string, source string",
    )
    plan = unigram_logprob_score(docs)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_heavy_hitters_recount_is_broadcast_semi_join(spark):
    """The exact recount must filter the token stream through a BROADCAST
    semi join on the bounded candidate set — the corpus-side explode must
    not shuffle before the join."""
    from openie_with_entities_spark.operators.docops import heavy_hitters

    docs = spark.createDataFrame(
        [(i, "hot hot cold%d" % i, "s") for i in range(20)],
        "doc_id long, text string, source string",
    )
    plan = heavy_hitters(docs, phi=0.1)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_pagerank_iteration_single_small_shuffle(spark):
    """The static link/node tables must serve every pagerank iteration
    from their cached hash-partitioned layout (InMemoryTableScan, no
    re-shuffle): with broadcast disabled, the steady-state iteration's
    pre-checkpoint plan may shuffle ONLY the tiny (entity, contrib/rank)
    side — one ENSURE_REQUIREMENTS exchange for the contrib sum and one
    sort for the rank join, never an exchange over the link table."""
    import re
    from unittest.mock import patch

    from openie_with_entities_spark import graph

    edges = spark.createDataFrame(
        [("a", "b", "p", 1.0, 1), ("b", "c", "p", 1.0, 1), ("c", "a", "p", 1.0, 1)],
        "src_entity string, dst_entity string, predicate string, "
        "confidence double, n_conversations int",
    )
    plans = []
    cls = type(edges)
    real = cls.localCheckpoint

    def recording(self, *a, **k):
        plans.append(plan_of(self))
        return real(self, *a, **k)

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with patch.object(cls, "localCheckpoint", recording):
            graph.pagerank(edges, n_iter=2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    steady = plans[-1]
    assert "InMemoryTableScan" in steady, steady
    # top-level exchanges only (nested cached-plan dumps are indented deep)
    top = [
        l for l in steady.splitlines()
        if "Exchange" in l and (len(l) - len(l.lstrip())) <= 24
    ]
    ensure = [l for l in top if "ENSURE_REQUIREMENTS" in l]
    assert len(ensure) <= 2, steady  # contrib sum (+ rank-side join align)
    assert not any(
        re.search(r"Exchange hashpartitioning\(src", l) for l in ensure
    ), steady  # the link table must NOT re-shuffle per iteration


def test_label_propagation_iteration_single_small_shuffle(spark):
    """The cached undirected adjacency must be partitioned on the JOIN key
    (b — the per-iteration join is und.b == labels.entity): with broadcast
    disabled, the steady-state iteration reads the adjacency straight from
    its InMemoryTableScan and shuffles ONLY (entity, label)-shaped sides —
    never an exchange re-hashing the adjacency itself (the round-6 wrong-key
    regression: cached hash(a), joined on b → full edge re-shuffle/iter)."""
    from unittest.mock import patch

    from openie_with_entities_spark import graph

    edges = spark.createDataFrame(
        [("a", "b", "p", 1.0, 1), ("b", "c", "p", 1.0, 1), ("c", "a", "p", 1.0, 1)],
        "src_entity string, dst_entity string, predicate string, "
        "confidence double, n_conversations int",
    )
    plans = []
    cls = type(edges)
    real = cls.localCheckpoint

    def recording(self, *a, **k):
        plans.append(plan_of(self))
        return real(self, *a, **k)

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with patch.object(cls, "localCheckpoint", recording):
            graph.label_propagation(edges, n_iter=2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
    steady = plans[-1]  # last iteration's pre-checkpoint plan
    assert "InMemoryTableScan" in steady, steady
    # top-level exchanges only (nested cached-plan dumps are indented deep)
    top = [
        l for l in steady.splitlines()
        if "Exchange" in l and (len(l) - len(l.lstrip())) <= 24
    ]
    ensure = [l for l in top if "ENSURE_REQUIREMENTS" in l]
    # labels-side join align + (a, label) vote count + per-a argmax
    assert len(ensure) <= 3, steady
    assert not any(
        re.search(r"Exchange hashpartitioning\(b#", l) for l in ensure
    ), steady  # the adjacency must NOT re-shuffle per iteration


def _job_ids(spark, build):
    """``build()``'s result and the ids of the Spark jobs it submitted."""
    from uuid import uuid4

    sc = spark.sparkContext
    group = f"probe-{uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _jobs_submitted(spark, build):
    """``build()``'s result and the number of Spark jobs it submitted."""
    out, ids = _job_ids(spark, build)
    return out, len(ids)


def test_input_split_probe_submits_no_job(spark):
    """Sizing a stage's input never runs a job. An input whose plan already
    has an exchange gets the full-target conv_id repartition (cores×3 for
    inference, cores×2 for docops): with AQE on, probing it through .rdd
    ran the upstream shuffle as a job and read its post-coalesce count of
    one split. A cached repartition(32) input already feeds every core and
    is coalesced to at most cores×3 tasks, with no exchange."""
    from openie_with_entities_spark.extract.fused import fused_extract_stage
    from openie_with_entities_spark.operators.docops import _spread

    cores = spark.sparkContext.defaultParallelism
    # two input splits: even if another test cached this input, the dedup
    # still needs an exchange (a one-split cache would satisfy it as is)
    t = generate_transcripts(spark, 20, partitions=2)
    shuffled = t.dropDuplicates(["conv_id", "turn_idx"])

    out, n_jobs = _jobs_submitted(
        spark, lambda: fused_extract_stage(shuffled, {})
    )
    assert n_jobs == 0
    plan = plan_of(out)
    assert re.search(rf"hashpartitioning\(conv_id#\d+, {cores * 3}\)", plan), plan

    out, n_jobs = _jobs_submitted(spark, lambda: _spread(shuffled, "conv_id"))
    assert n_jobs == 0
    plan = plan_of(out)
    assert re.search(rf"hashpartitioning\(conv_id#\d+, {cores * 2}\)", plan), plan

    cached = t.repartition(32).cache()
    cached.count()
    try:
        out, n_jobs = _jobs_submitted(
            spark, lambda: fused_extract_stage(cached, {})
        )
        assert n_jobs == 0
        assert out.rdd.getNumPartitions() == min(32, cores * 3)
        plan = plan_of(out)
        assert "Exchange" not in plan[: plan.index("InMemoryTableScan")], plan
    finally:
        cached.unpersist()


def test_input_split_probe_reads_user_repartition_count(spark):
    """A user repartition(n) fixes the split count in the plan (AQE never
    coalesces it), so the probe reads n with no job: a generated 20-conv
    input (one split) gets 4 fused partitions, not cores×3 (on one core it
    is left as it is). An exchange AQE may coalesce still gets the full
    cores×3."""
    from openie_with_entities_spark.extract.fused import fused_extract_stage

    cores = spark.sparkContext.defaultParallelism
    out, n_jobs = _jobs_submitted(
        spark, lambda: fused_extract_stage(generate_transcripts(spark, 20), {})
    )
    assert n_jobs == 0
    plan = plan_of(out)
    if cores > 1:  # one split, fewer than cores: 4 per split, at most cores×3
        assert re.search(rf"hashpartitioning\(conv_id#\d+, {min(cores * 3, 4)}\)", plan), plan
    else:  # one split already feeds the one core
        assert "hashpartitioning(conv_id" not in plan, plan

    # two splits: the dedup needs its own (coalescible) exchange
    shuffled = generate_transcripts(spark, 20, partitions=2).dropDuplicates(
        ["conv_id", "turn_idx"]
    )
    out, n_jobs = _jobs_submitted(
        spark, lambda: fused_extract_stage(shuffled, {})
    )
    assert n_jobs == 0
    plan = plan_of(out)
    assert re.search(rf"hashpartitioning\(conv_id#\d+, {cores * 3}\)", plan), plan


def _documents(spark, path):
    """A one-file documents parquet, read back: a one-split scan."""
    spark.createDataFrame(
        [(i, f"Ada Lovelace founded Acme {i} .", "wiki") for i in range(64)],
        "doc_id long, text string, source string",
    ).coalesce(1).write.parquet(path)
    return spark.read.parquet(path)


def test_input_split_probe_runs_no_job_on_unfilled_cache(spark, tmp_path):
    """A cache that is not yet filled is sized from its own plan: its user
    repartition(32), or its scan's one split. Executing the plan would
    fill the cache, as jobs, before the caller's action (it ran 3 jobs for
    the repartitioned input)."""
    from openie_with_entities_spark.session import input_splits

    for df, splits in (
        (generate_transcripts(spark, 40).repartition(32).cache(), 32),
        (_documents(spark, str(tmp_path / "docs")).cache(), 1),
    ):
        try:
            got, n_jobs = _jobs_submitted(
                spark, lambda: input_splits(df.where(F.col("text") != ""))
            )
            assert (got, n_jobs) == (splits, 0)
        finally:
            df.unpersist()


def test_flagship_input_gets_full_conj_layout(spark, tmp_path):
    """The flagship's input, a parquet scan unioned with a generated corpus,
    has no split count fixed in its plan (a union over a user repartition),
    so the conj stage's input is hash repartitioned by conv_id to cores×3."""
    import __spark_entry__ as entrymod
    from openie_with_entities_spark.plans.pipeline import extract_triples

    cores = spark.sparkContext.defaultParallelism
    transcripts = entrymod._docs_as_transcripts(
        _documents(spark, str(tmp_path / "docs"))
    ).unionByName(generate_transcripts(spark, 100))
    plan = plan_of(extract_triples(transcripts).splits)
    exchange = re.search(rf"hashpartitioning\(conv_id#\d+, {cores * 3}\)", plan)
    assert exchange, plan
    assert plan.index("MapInPandas") < exchange.start(), plan


def test_spread_fans_small_scan_out_to_full_target(spark, tmp_path):
    """docops._spread's projections run in the JVM, where a task costs
    little to launch, so a one-split scan is hash repartitioned to the full
    cores×2, not to the fused stage's 4 partitions per split."""
    from openie_with_entities_spark.operators.docops import _spread

    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "docs")
    spark.range(64).selectExpr("id AS doc_id").coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    assert docs.rdd.getNumPartitions() == 1
    plan = plan_of(_spread(docs))
    if cores > 1:
        assert re.search(rf"hashpartitioning\(doc_id#\d+L?, {cores * 2}\)", plan), plan
    else:  # one split already feeds the one core
        assert "Exchange" not in plan, plan


def test_over_split_input_coalesces_to_fused_target(spark):
    """An input with 3× the fused target's splits runs in exactly cores×3
    fused tasks, with no shuffle, and yields the rows the same input yields
    in one split (hash repartitioned by conv_id)."""
    cores = spark.sparkContext.defaultParallelism
    alias = alias_dict(spark)
    cached = generate_transcripts(spark, 40, partitions=9 * cores).cache()
    cached.count()
    try:
        linked = build_kg_fused(cached, alias)
        plan = plan_of(linked)
        assert "Exchange" not in plan[: plan.index("InMemoryTableScan")], plan
        rows, jobs = _job_ids(spark, lambda: sorted(linked.collect()))
        tracker = spark.sparkContext.statusTracker()
        # tasks run per stage; the skipped stage that built the cache runs none
        tasks = [
            tracker.getStageInfo(s).numCompletedTasks
            for j in jobs for s in tracker.getJobInfo(j).stageIds
        ]
        assert [n for n in tasks if n] == [cores * 3], tasks
        assert rows == sorted(build_kg_fused(cached.coalesce(1), alias).collect())
    finally:
        cached.unpersist()
