"""Canonicalization: cluster coreferent argument surfaces with connected
components over a similarity edge DataFrame, then materialize the
entity-node table and rewrite triple arguments to canonical ids.

The reference's closest behavior is string-equality clustering of
extractions (/root/reference/model.py:595-599) plus alias snapping
(/root/reference/scripts/baselines.py:50-88); at 10^12 turns this becomes a
graph problem: surfaces linking to the same KB entity, or normalizing to the
same string, are one node cluster.

``connected_components`` is the alternating large-star/small-star algorithm
(Kiveris et al.) as iterative DataFrame joins:

  * large-star hangs every larger neighbor off the neighborhood minimum,
    small-star re-roots each ≤-neighborhood — components collapse to stars
    in O(log²(diameter)) rounds (NOT O(diameter): plain min-propagation was
    the first implementation here and failed a 40-hop chain; see git log);
  * ``localCheckpoint`` truncates the lineage each round (without it the
    plan doubles per iteration and the driver OOMs long before 100 TB);
  * convergence is a cheap (count, hash-sum) checksum of the edge set.

Production needs no fixpoint. Its only edges are alias links, and
``linking._best_alias_per_surface`` maps each surface to exactly one KB
entity, so the graph is a forest of stars, one KB entity per component, and
every canonical id equals its entity id. ``entity_nodes`` builds that table
directly from the distinct argument texts. ``canonicalize`` still applies
once the edge set is not a function of the surface, e.g. similarity edges
between near-duplicate surfaces, which can join two KB entities into one
component.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: attach each strictly-larger neighbor to
    min(Γ(u) ∪ {u})."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("mn")
    )
    return (
        sym.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient every edge big→small; attach each node and its ≤-neighbors to
    the minimum of that neighborhood."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("mn"))
    joined = oriented.join(m, "u")
    as_v = joined.select(F.col("v").alias("src"), F.col("mn").alias("dst"))
    as_u = joined.select(F.col("u").alias("src"), F.col("mn").alias("dst"))
    return (
        as_v.union(as_u)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _edge_checksum(edges: DataFrame):
    row = edges.agg(
        F.count("*").alias("n"),
        # decimal sum: long would overflow under ANSI mode
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row.n, row.h)


def _driver_components(edge_rows) -> list[tuple[str, str]]:
    """Union-find over a COLLECTED edge list; union-by-min-root, so each
    final root is the lexicographic minimum of its component — the same
    semantics the distributed path produces."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for src, dst in edge_rows:
        parent.setdefault(src, src)
        parent.setdefault(dst, dst)
        ra, rb = find(src), find(dst)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return sorted((n, find(n)) for n in parent)


def connected_components(
    edges: DataFrame, max_iter: int = 25, driver_threshold: int = 65536
) -> DataFrame:
    """edges(src string, dst string) → (node string, component string),
    component = lexicographic min node id in the component.

    Adaptive, like Spark's own broadcast-vs-shuffle join choice: an edge
    set at or under ``driver_threshold`` rows (the dictionary-bounded
    graphs this engine builds — gazetteer aliases × linked surfaces) is
    collected and solved with union-find in one driver pass, because a
    distributed fixpoint on a tiny graph is pure scheduling overhead
    (measured 4-7s for 8 edges vs <1s). Larger graphs run the alternating
    large-star/small-star loop (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): converges in O(log²) rounds of the component
    diameter — a 40-hop chain collapses in ~6 rounds where plain
    neighbor-min propagation needs 40 (measured; that was the first
    implementation here). ``localCheckpoint`` truncates lineage each round;
    convergence = unchanged (count, hash-sum) edge checksum."""
    spark = edges.sparkSession
    e0 = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    # ONE job decides the path and feeds the fast path: collect at most
    # threshold+1 rows — if the limit wasn't hit we already hold the whole
    # edge set (a separate count() would re-run the distinct shuffle)
    probe = e0.limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        rows = _driver_components([(r.src, r.dst) for r in probe])
        # isolated self-loop-only nodes still appear in the node table
        solo = edges.select(F.col("src").alias("node")).union(
            edges.select(F.col("dst").alias("node"))
        ).distinct()
        comp = spark.createDataFrame(rows, "node string, component string")
        return solo.join(comp, "node", "left").select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = e0.localCheckpoint()
    prev = _edge_checksum(e)
    # TWO star rounds per driver cycle: each cycle = one localCheckpoint +
    # one checksum action, halving driver round-trips per star round (the
    # fixpoint loop's cost on small graphs is driver actions, not compute;
    # worst case is one extra pair of cheap star ops after convergence).
    # Convergence check stays sound: a non-converged edge set strictly
    # changes every star round (the star potential decreases monotonically),
    # so equal checksums two rounds apart only happen at the fixpoint.
    for _ in range((max_iter + 1) // 2):
        e = _small_star(_large_star(e))
        e = _small_star(_large_star(e)).localCheckpoint()
        cur = _edge_checksum(e)
        if cur == prev:
            break
        prev = cur
    # converged edge set is a forest of stars (node → root)
    roots = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return nodes.join(roots, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def build_entity_edges(linked_mentions: DataFrame) -> DataFrame:
    """Similarity edges between surface nodes and KB-entity nodes:
      * surface ↔ entity_id from the alias link (aliases of one entity
        become one component through the kb: node)
      * exact normalized-surface equality is the node identity itself."""
    return linked_mentions.select(
        F.concat(F.lit("s:"), "surface_norm").alias("src"),
        F.concat(F.lit("e:"), "entity_id").alias("dst"),
    ).distinct()


def entity_nodes(triples: DataFrame, alias: DataFrame) -> DataFrame:
    """The ``entity_nodes`` table of :func:`canonicalize` over
    ``link_mentions(detect_mentions(triples), alias)``, without the mention
    table or the fixpoint: one (canonical_id, member, is_kb_entity) row per
    linked surface (``s:``) and per linked KB entity (``e:``), where the
    canonical id is the entity id (the star forest, module note).

    Every dictionary mention counts, not only the first of its argument.
    The NER runs once per distinct argument text, in one ``mapInPandas``;
    its distinct surfaces meet the broadcast dictionary, and one explode
    emits both rows of a match."""
    from .extract.mentions import _spans, normalize_surface
    from .linking import _best_alias_per_surface

    def surfaces(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            found: set[str] = set()
            for text in pdf["text"]:
                tokens = text.split()
                found.update(
                    normalize_surface(" ".join(tokens[s : e + 1]))
                    for s, e in _spans(tokens)
                )
            yield pd.DataFrame({"surface_norm": list(found)}, dtype=object)

    texts = triples.select(F.explode(F.array("arg1", "arg2")).alias("text"))
    best = _best_alias_per_surface(alias).select(
        F.col("surface_form").alias("surface_norm"), "entity_id"
    )
    linked = (
        texts.distinct()
        .mapInPandas(surfaces, schema="surface_norm string")
        .distinct()
        .join(F.broadcast(best), "surface_norm")
    )

    def node(prefix: str, col: str, is_kb: bool):
        return F.struct(
            F.col("entity_id").alias("canonical_id"),
            F.concat(F.lit(prefix), col).alias("member"),
            F.lit(is_kb).alias("is_kb_entity"),
        )

    both = F.array(node("s:", "surface_norm", False), node("e:", "entity_id", True))
    return linked.select(F.explode(both).alias("n")).select("n.*").distinct()


def materialize_graph(linked_triples: DataFrame) -> DataFrame:
    """Final KG edge materialization (the north rule's 'graph
    materialize' stage): collapse the linked triple stream into ONE
    weighted edge per (subject entity, normalized predicate, object
    entity) — the deduplicated graph table a consumer queries, vs the
    per-sentence evidence table the pipeline emits.

    Predicate normalization reuses the P15 semantics
    (operators/dedup.predicate_frequency — unicode \\w, reference
    scripts/pubmed_analysis.py:22-31). Only fully-linked triples (both
    entity ids resolved) become edges; the rest stay queryable in the
    evidence table. Aggregates: mention count, distinct-conversation
    count (corpus-level support), best-witness confidence. One
    map-combinable aggregate; shuffle keys are (entity, predicate,
    entity), never sentence text — at 10^12 turns the output is
    entity-pair-bounded, orders of magnitude smaller than its input."""
    from .operators.dedup import normalize_predicate

    norm = normalize_predicate("rel")
    return (
        linked_triples.where(
            F.col("arg1_entity_id").isNotNull()
            & F.col("arg2_entity_id").isNotNull()
        )
        .groupBy(
            F.col("arg1_entity_id").alias("src_entity"),
            norm.alias("predicate"),
            F.col("arg2_entity_id").alias("dst_entity"),
        )
        .agg(
            F.count("*").alias("n_mentions"),
            F.count_distinct("conv_id").alias("n_convs"),
            F.round(F.max("confidence"), 4).alias("max_confidence"),
        )
    )


def merge_graph_edges(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental KG maintenance: fold a new batch's edge table (the
    output of :func:`materialize_graph` over freshly linked triples) into
    an existing ``graph_edges`` table WITHOUT rebuilding from the full
    evidence corpus — the operational path for a streaming/append-only
    deployment where the historical triple table is petabyte-scale but
    each delta is small.

    Merge semantics per (src_entity, predicate, dst_entity):
      * ``n_mentions``      — sums (every mention is new evidence),
      * ``max_confidence``  — maxes (best witness overall),
      * ``n_convs``         — sums, which is exact ONLY when the delta's
        conversations are disjoint from the existing table's. That is the
        invariant of the engine's streaming ingest (dropDuplicates on
        (conv_id, turn_idx) within the watermark + the reconcile pass for
        replays); feeding overlapping conversation batches would
        double-count corpus support. Exact n_convs under overlap requires
        re-aggregating the touched keys from the evidence table — at that
        point run :func:`materialize_graph` over the union instead.

    One shuffle keyed on the entity-pair-bounded edge key; map-combinable
    everywhere. The common case (delta ≪ existing) broadcasts nothing and
    touches every existing partition once — at 100 TB pair this with a
    storage layer that supports MERGE (Iceberg/Delta) keyed the same way."""
    both = existing.unionByName(delta)
    return both.groupBy("src_entity", "predicate", "dst_entity").agg(
        F.sum("n_mentions").alias("n_mentions"),
        F.sum("n_convs").alias("n_convs"),
        F.round(F.max("max_confidence"), 4).alias("max_confidence"),
    )


def canonicalize(
    triples: DataFrame, linked_mentions: DataFrame, max_iter: int = 25
) -> tuple[DataFrame, DataFrame]:
    """→ (entity_nodes, triples with canonical arg entity ids).

    entity_nodes: one row per cluster member with its canonical cluster id
    (min KB entity id in the component, falling back to min member).
    """
    edges = build_entity_edges(linked_mentions)
    comps = connected_components(edges, max_iter)

    # canonical id per component: the smallest KB entity id if present
    canon = comps.groupBy("component").agg(
        F.min(F.when(F.col("node").startswith("e:"), F.expr("substring(node, 3)"))).alias(
            "canonical_id"
        ),
        F.min("node").alias("_fallback"),
    ).select(
        "component",
        F.coalesce("canonical_id", "_fallback").alias("canonical_id"),
    )
    entity_nodes = (
        comps.join(canon, "component")
        .select(
            "canonical_id",
            F.col("node").alias("member"),
            F.col("node").startswith("e:").alias("is_kb_entity"),
        )
    )

    # mention surface → canonical id (broadcastable: bounded by dictionary
    # + distinct linked surfaces, tiny next to the triples table)
    surface_to_canon = (
        entity_nodes.where(~F.col("is_kb_entity"))
        .select(
            F.expr("substring(member, 3)").alias("surface_norm"),
            "canonical_id",
        )
        .dropDuplicates(["surface_norm"])
    )

    key = ["conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"]
    first_mention = (
        linked_mentions.groupBy(*key, "arg_pos")
        .agg(F.min_by("surface_norm", "begin_word").alias("surface_norm"))
        .join(F.broadcast(surface_to_canon), "surface_norm", "left")
    )
    a1 = first_mention.where("arg_pos = 1").select(
        *key, F.col("canonical_id").alias("arg1_entity_id")
    )
    a2 = first_mention.where("arg_pos = 2").select(
        *key, F.col("canonical_id").alias("arg2_entity_id")
    )
    canon_triples = triples.join(a1, key, "left").join(a2, key, "left")
    return entity_nodes, canon_triples
