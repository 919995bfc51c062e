"""End-to-end KG-construction pipeline: the engine's equivalent of
``python run.py --mode splitpredict --task oie`` (/root/reference/run.py:162-245,
README.md:62), as one declarative DataFrame DAG.

    transcripts → segment → conj-split → oie → dedup → triples
                                              └→ mentions → link

Each arrow is either native Spark SQL or one of the Python stages; the
whole DAG has at most two shuffles before linking (the conv_id repartition
in front of the conj stage — skipped when the input already feeds every
core, see session.fit_partitions — and the dedup window).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..extract.stages import conj_split_stage, oie_stage
from ..operators.dedup import dedup_triples
from ..operators.segment import segment_turns


@dataclass
class PipelineResult:
    sentences: DataFrame
    splits: DataFrame
    raw_triples: DataFrame
    triples: DataFrame


@dataclass
class KGResult:
    triples: DataFrame
    mentions: DataFrame
    linked_triples: DataFrame


def extract_triples(transcripts: DataFrame, backend=None) -> PipelineResult:
    """Run segmentation → splitting → extraction → dedup.

    ``backend``: labeling backend (extract.backends) shared by the conj and
    OIE stages; None = the deterministic sandbox backend."""
    sentences = segment_turns(transcripts)
    splits = conj_split_stage(sentences, backend=backend)
    raw = oie_stage(splits, backend=backend)
    return PipelineResult(sentences, splits, raw, dedup_triples(raw))


def build_kg(transcripts: DataFrame, alias: DataFrame) -> KGResult:
    """Extraction + entity linking with an explicit materialization barrier.

    ``triples`` feeds BOTH sides of the link join (mention detection and the
    annotate join); without a barrier Catalyst recomputes the whole
    extraction DAG once per consumer — measured 2× the work. In production
    the barrier is the per-stage checkpoint table (plans.checkpoint); here a
    persist() gives the same cut. OWNERSHIP: the persisted handle is
    returned as ``KGResult.triples`` and is NEVER unpersisted here — a
    caller looping over many corpora in one session must call
    ``result.triples.unpersist()`` when done or cached barriers accumulate
    in executor storage (evicted only by LRU)."""
    from ..extract.mentions import detect_mentions
    from ..linking import link_mentions, link_triples

    res = extract_triples(transcripts)
    triples = res.triples.persist()
    mentions = detect_mentions(triples)
    linked = link_triples(triples, link_mentions(mentions, alias))
    return KGResult(triples=triples, mentions=mentions, linked_triples=linked)


def build_kg_fused(
    transcripts: DataFrame, alias: DataFrame, backend=None
) -> DataFrame:
    """Production/bench path: ONE mapInArrow pass over raw turns (segment
    + conj + OIE + dedup + entity link fused, through the dictionary that
    linking.dictionary_surfaces collects once) — no join, and at most one
    shuffle in the whole job: the conv_id repartition, for an input with
    fewer splits than cores or an exchange AQE may coalesce. An input with
    more than cores×3 splits is coalesced to cores×3 fused tasks without a
    shuffle (session.fit_partitions).
    Result is identical to build_kg's linked_triples minus the
    n_mentions-null nuance (fused reports 0 where the modular left join
    reports null for mention-less args).
    """
    from ..extract.fused import fused_extract_stage
    from ..linking import dictionary_surfaces

    return fused_extract_stage(
        transcripts, dictionary_surfaces(alias), backend=backend
    )
