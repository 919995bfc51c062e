"""Entity linking: mention surfaces ⋈ alias/surface-form dictionary.

The reference's closest logic is the PER→ORG pair filter and the
entity-ending-object rewrite (/root/reference/scripts/pubmed_analysis.py:57-84,
scripts/baselines.py:50-88); the engine generalizes this to a dictionary
join, the north rule's hot spot at 10^12 turns:

  * ``dictionary_surfaces`` (the fused and production default): the
    deduplicated dictionary is collected once and handed to the fused
    extraction stage, which links each argument with a dict probe: a
    broadcast hash join with no join in the plan and no mention table.
  * ``link_mentions``: ``broadcast(alias)`` — the dictionary is a
    dimension table; no shuffle of the (huge) mention side at all.
  * ``link_mentions_salted``: when the dictionary outgrows broadcast, both
    sides shuffle — and a handful of hot surface forms ("Acme Corp",
    boilerplate tool text) would make single reducers the stragglers. The
    dictionary side is replicated NSALT× and the probe side salted with a
    deterministic hash, bounding any reducer's share of a hot key to 1/NSALT.
    (AQE skew-join is also on, but salting works even within one key.)

Disambiguation: highest ``prior`` wins per (mention, surface) — expressed as
a max_by aggregation rather than a window so the salted join's output never
needs a second global shuffle on the full mention key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MENTION_KEY = [
    "conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx",
    "arg_pos", "begin_word",
]


def _best_alias_per_surface(alias: DataFrame) -> DataFrame:
    """Disambiguate INSIDE the dictionary (tiny side): one entity per
    surface by max prior, entity_id as deterministic tiebreak. Doing this
    before the join means the huge mention side never needs a dedup shuffle
    after linking."""
    return (
        alias.groupBy("surface_form")
        .agg(
            F.max(
                F.struct(
                    F.col("prior"),
                    F.col("entity_id"),
                    F.col("canonical_name"),
                    F.col("ner_type"),
                )
            ).alias("_best")
        )
        .select(
            "surface_form",
            F.col("_best.entity_id").alias("entity_id"),
            F.col("_best.canonical_name").alias("canonical_name"),
            F.col("_best.ner_type").alias("ner_type"),
            F.col("_best.prior").alias("prior"),
        )
    )


def link_mentions(mentions: DataFrame, alias: DataFrame) -> DataFrame:
    """Broadcast equi-join on the normalized surface form — zero shuffle of
    the mention side."""
    best = _best_alias_per_surface(alias)
    return mentions.join(
        F.broadcast(best),
        mentions["surface_norm"] == best["surface_form"],
        "inner",
    ).drop("surface_form")


def link_mentions_salted(
    mentions: DataFrame, alias: DataFrame, n_salt: int = 16
) -> DataFrame:
    """Skew-proof shuffle join: replicate the dictionary across n_salt
    buckets, salt the probe side deterministically, join on (surface, salt).
    Any hot surface form's reducers are bounded to 1/n_salt of its rows."""
    best = _best_alias_per_surface(alias)
    salted_alias = best.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    salted_mentions = mentions.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64("conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"),
            F.lit(n_salt),
        ).cast("int"),
    )
    return salted_mentions.join(
        salted_alias.hint("shuffle_hash"),
        (salted_mentions["surface_norm"] == salted_alias["surface_form"])
        & (salted_mentions["_salt"] == salted_alias["_salt"]),
        "inner",
    ).drop("_salt").drop("surface_form")


def link_triples(
    triples: DataFrame, linked_mentions: DataFrame
) -> DataFrame:
    """Annotate triples with the linked entity per argument (the first
    mention of each arg wins, mirroring 'exactly one entity' semantics of
    /root/reference/scripts/pubmed_analysis.py:61-77).

    Single pivot-style aggregation + single join: both args resolve in one
    shuffle of the mention table and one shuffle of the triples table, and
    the upstream mention pipeline is evaluated exactly once."""
    key = ["conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"]

    def first_ent(pos: int):
        return F.min(
            F.when(
                F.col("arg_pos") == pos,
                F.struct("begin_word", "entity_id", "ner_type"),
            )
        )

    def n_mentions(pos: int):
        return F.sum(F.when(F.col("arg_pos") == pos, 1).otherwise(0))

    per_ext = linked_mentions.groupBy(*key).agg(
        first_ent(1).alias("_e1"),
        n_mentions(1).alias("arg1_n_mentions"),
        first_ent(2).alias("_e2"),
        n_mentions(2).alias("arg2_n_mentions"),
    ).select(
        *key,
        F.col("_e1.entity_id").alias("arg1_entity_id"),
        F.col("_e1.ner_type").alias("arg1_ner_type"),
        "arg1_n_mentions",
        F.col("_e2.entity_id").alias("arg2_entity_id"),
        F.col("_e2.ner_type").alias("arg2_ner_type"),
        "arg2_n_mentions",
    )
    return triples.join(per_ext, key, "left")


def dictionary_surfaces(alias: DataFrame) -> dict[str, tuple[str, str]]:
    """The broadcast-regime dictionary handed to the fused stage, which links
    each argument through it in Python: surface form → (entity_id,
    ner_type) of the surface's best alias (``_best_alias_per_surface``),
    from one driver collect. For dictionaries too big to collect, use
    ``link_mentions_salted`` + ``link_triples`` instead."""
    return {
        r.surface_form: (r.entity_id, r.ner_type)
        for r in _best_alias_per_surface(alias).collect()
    }


def per_org_pairs(linked_triples: DataFrame) -> DataFrame:
    """The reference's PER→ORG extraction filter
    (/root/reference/scripts/pubmed_analysis.py:57-84): keep triples whose
    subject is exactly one PER mention and object exactly one ORG mention."""
    return linked_triples.where(
        (F.col("arg1_n_mentions") == 1)
        & (F.col("arg2_n_mentions") == 1)
        & (F.col("arg1_ner_type") == "PER")
        & (F.col("arg2_ner_type") == "ORG")
    )


def _norm_phrase(col):
    """Surface normalization for multi-token phrases: lowercase, strip
    punctuation, collapse/trim whitespace (matches
    extract.mentions.normalize_surface applied to a token join)."""
    # \p{L}\p{N}_ mirrors the PYTHON \w the dictionary side uses
    # (extract.mentions.normalize_surface) — Java's bare \w is ASCII-only
    # and would normalize 'Beyoncé' to 'beyonc', so non-ASCII entities
    # could never equi-join their dictionary surface forms
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), r"[^\p{L}\p{N}_\s]", ""), " +", " "
        )
    )


def snap_objects(
    triples: DataFrame,
    alias: DataFrame,
    max_surface_tokens: int = 4,
    n_salt: int | None = None,
) -> DataFrame:
    """Entity-ending-object rewrite (/root/reference/scripts/baselines.py:50-88):
    when the object ends with a dictionary entity, move the prefix into the
    relation and snap the object to the entity's canonical name.

    Scale shape: an ``endswith`` theta-join is a BroadcastNestedLoopJoin —
    O(|triples|·|dict|) comparisons, a scale-killer once the alias dictionary
    outgrows toy size. Instead the last 1..max_surface_tokens tokens of
    arg2 explode into normalized candidate suffixes that EQUI-join the
    dictionary (hashable, broadcastable, salt-able). Matches are therefore
    token-aligned: a surface can no longer match mid-token ("megacorp" never
    snaps to "corp"), which is the semantics the reference intends — its
    dictionary entries are whole entity names. ``max_surface_tokens`` must
    be ≥ the dictionary's longest surface token count.

    ``n_salt``: None (default) broadcasts the deduped dictionary; set it
    when the dictionary outgrows broadcast — the dictionary replicates
    ×n_salt and the candidate side salts deterministically, bounding any
    hot suffix ("paris" in boilerplate objects) to 1/n_salt of a reducer,
    the same skew treatment as link_mentions_salted."""
    # same disambiguation as every other linking path (max prior, entity_id
    # tiebreak) — a lexicographic max(canonical_name) here once let the
    # SAME surface resolve to different entities in one pipeline
    canon = _best_alias_per_surface(alias).select(
        "surface_form", "canonical_name"
    )
    if n_salt is None:
        canon = F.broadcast(canon)
    key = ["conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"]
    toks = F.filter(F.split(F.col("arg2"), " "), lambda t: t != "")
    # empty/whitespace-only arg2 can never snap — and must be excluded
    # BEFORE the suffix explode (a forced _j=1 on zero tokens made the
    # prefix slice length negative, which Spark rejects at runtime); the
    # final left join restores those triples untouched
    with_toks = triples.select(*key, toks.alias("_toks")).where(
        F.size("_toks") > 0
    )
    # one candidate row per suffix length j (j capped by the token count)
    cand = with_toks.select(
        *key,
        "_toks",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(F.lit(max_surface_tokens), F.size("_toks")),
            )
        ).alias("_j"),
    ).select(
        *key,
        _norm_phrase(
            F.array_join(F.expr("slice(_toks, -_j, _j)"), " ")
        ).alias("_suffix"),
        F.trim(
            F.array_join(F.expr("slice(_toks, 1, size(_toks) - _j)"), " ")
        ).alias("_prefix"),
    )
    if n_salt is None:
        matched = cand.join(
            canon,
            (cand["_suffix"] == canon["surface_form"])
            & (F.col("surface_form") != ""),
            "inner",
        )
    else:
        salted_canon = canon.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
        )
        salted_cand = cand.withColumn(
            "_salt",
            F.pmod(F.xxhash64(*key, "_prefix"), F.lit(n_salt)).cast("int"),
        )
        matched = salted_cand.join(
            salted_canon.hint("shuffle_hash"),
            (salted_cand["_suffix"] == salted_canon["surface_form"])
            & (salted_cand["_salt"] == salted_canon["_salt"])
            & (F.col("surface_form") != ""),
            "inner",
        ).drop("_salt")
    # keep the longest matching suffix per triple
    best = matched.groupBy(*key).agg(
        F.max(
            F.struct(
                F.length("surface_form").alias("l"),
                F.col("surface_form").alias("sf"),
                F.col("canonical_name").alias("cn"),
                F.col("_prefix").alias("p"),
            )
        ).alias("_m")
    )
    out = triples.join(best, key, "left")
    snapped = F.col("_m").isNotNull()
    return out.select(
        *triples.columns,
        F.when(snapped & (F.col("_m.p") != ""), F.concat_ws(" ", "rel", "_m.p"))
        .otherwise(F.col("rel"))
        .alias("rel_snapped"),
        F.when(snapped, F.col("_m.cn")).otherwise(F.col("arg2")).alias(
            "arg2_snapped"
        ),
    )


def _rel_contains_surface(
    triples: DataFrame, alias: DataFrame, max_surface_tokens: int = 4
):
    """Per-triple c3 flag: TRUE when any normalized 1..max_surface_tokens
    token n-gram of the relation equals a dictionary surface form — the
    dictionary proxy for the reference's 'NER finds an entity inside the
    predicate' check (/root/reference/scripts/violations.py:56-60).
    Candidate n-grams equi-join the broadcast surface set (same scale shape
    as snap_objects: hashable, never a contains() theta-join)."""
    key = ["conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"]
    toks = F.filter(F.split(F.col("rel"), " "), lambda x: x != "")
    grams = (
        triples.select(*key, toks.alias("_tk"))
        .select(*key, "_tk", F.posexplode("_tk").alias("_i", "_tok"))
        .select(
            *key,
            F.explode(
                F.array(
                    *[
                        _norm_phrase(
                            F.array_join(
                                F.expr(f"slice(_tk, _i + 1, {j})"), " "
                            )
                        )
                        for j in range(1, max_surface_tokens + 1)
                    ]
                )
            ).alias("_gram"),
        )
    )
    surfaces = F.broadcast(
        alias.select("surface_form").where(F.col("surface_form") != "").distinct()
    )
    return (
        grams.join(surfaces, grams["_gram"] == surfaces["surface_form"], "left_semi")
        .select(*key)
        .distinct()
        .withColumn("_c3", F.lit(1))
    )


def violation_counters(
    linked_triples: DataFrame, alias: DataFrame | None = None
) -> DataFrame:
    """Constraint-violation counters c1–c4
    (/root/reference/scripts/violations.py:48-110) as one aggregate over the
    linked triples — the pipeline's quality metrics (north-rule counters):
      c1: extraction has no entity in either argument
      c2: an argument contains more than one entity mention
      c3: relation text contains a dictionary entity surface (computed when
          the alias dictionary is supplied; NULL otherwise)
      c4: an entity is split across arguments — here: both args link to the
          same entity_id."""
    t = linked_triples
    if alias is not None:
        key = ["conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"]
        t = t.join(_rel_contains_surface(t, alias), key, "left")
        c3 = F.sum(F.when(F.col("_c3").isNotNull(), 1).otherwise(0))
    else:
        c3 = F.max(F.lit(None).cast("long"))
    return t.agg(
        F.count("*").alias("n_extractions"),
        F.sum(
            (
                F.col("arg1_entity_id").isNull()
                & F.col("arg2_entity_id").isNull()
            ).cast("long")
        ).alias("c1_no_entity_in_args"),
        F.sum(
            (
                (F.coalesce("arg1_n_mentions", F.lit(0)) > 1)
                | (F.coalesce("arg2_n_mentions", F.lit(0)) > 1)
            ).cast("long")
        ).alias("c2_multi_entity_arg"),
        c3.alias("c3_entity_in_relation"),
        F.sum(
            (
                F.col("arg1_entity_id").isNotNull()
                & (F.col("arg1_entity_id") == F.col("arg2_entity_id"))
            ).cast("long")
        ).alias("c4_entity_split_across_args"),
    )
