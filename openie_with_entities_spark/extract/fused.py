"""Fused extraction stage: segmentation + conj-split + OIE + per-sentence
dedup + entity linking in ONE mapInArrow pass over raw turns.

The modular stages (segment.py, stages.py, mentions.py) exist for parity
testing and for deployments where the conj and OIE models run on different
hardware pools. At 100 TB the dominant costs besides the model forward
passes are (a) rows crossing the JVM↔Python Arrow channel and (b) shuffles
between stages. Fusing the per-sentence pipeline:

  * feeds TURNS through Arrow (2-3× fewer rows than sentences, ~5× fewer
    than split sentences) and emits only flat triple rows — no nested
    structs;
  * performs the reference's insert-order extraction dedup
    (/root/reference/model.py:595-634) in-UDF (all splits of a sentence are
    computed together), removing the window-dedup shuffle;
  * reduces the job to AT MOST one shuffle: the explicit conv_id
    repartition, only when the input has too few splits or an exchange AQE
    may coalesce. An input with cores to cores×3 splits is mapped over as
    it is, and a larger one is coalesced to cores×3 tasks, each paying the
    fixed Python-task cost once (stages._partition_for_inference). That
    cost is ~15 ms of worker CPU on 4 cores; it was ~160 ms while each task
    start re-read Spark's zip archives (see the package ``__init__``);
  * hands the Arrow record batches to ``run`` as they are (``mapInArrow``)
    and builds the output batch straight from Python lists: no pandas
    frame on either side of the body.

The per-text work is the modular stages' own: ``run`` segments and
length-guards each turn, resolves every sentence instance through
``stages.per_distinct`` — whose compute composes ``stages.conj_kernel``
and ``stages.oie_kernel`` — and replays the per-sentence rows per instance.
Equivalence with the modular path is asserted by tests/test_fused.py.

Linking: the stage takes the broadcast-sized dictionary as a Python dict,
surface form → (entity_id, ner_type), one best alias per surface
(linking.dictionary_surfaces), and emits, per argument, the entity of the
first dictionary-matched mention and the matched-mention count. The link is
one dict probe per mention of a distinct argument text, memoized like the
extraction, so the plan carries no dictionary and needs no join.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..functions.decode import SENTINELS, extraction_key, normalize_quotes
from ..oracle import MAX_WORDS_WITH_SENTINELS, segment_text
from .backends import DeterministicBackend
from .mentions import _spans, normalize_surface
from .stages import _partition_for_inference, conj_kernel, oie_kernel, per_distinct

# the flat schema of every batch ``run`` yields; FUSED_SCHEMA is its Spark twin
FUSED_ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("sent_idx", pa.int32()),
    ("split_idx", pa.int32()), ("ext_idx", pa.int32()),
    ("arg1", pa.string()), ("rel", pa.string()), ("arg2", pa.string()),
    ("confidence", pa.float64()),
    ("arg1_n_mentions", pa.int32()), ("arg2_n_mentions", pa.int32()),
    ("arg1_entity_id", pa.string()), ("arg1_ner_type", pa.string()),
    ("arg2_entity_id", pa.string()), ("arg2_ner_type", pa.string()),
])
FUSED_SCHEMA = from_arrow_schema(FUSED_ARROW_SCHEMA)


def _link_summary(
    text: str, dictionary: dict[str, tuple[str, str]]
) -> tuple[str | None, str | None, int]:
    """(entity_id, ner_type, matched count) for one arg: the entity is the
    first dictionary-matched mention's."""
    tokens = text.split()
    first = (None, None)
    n = 0
    for (s, e) in _spans(tokens):
        entity = dictionary.get(normalize_surface(" ".join(tokens[s : e + 1])))
        if entity is not None:
            n += 1
            if n == 1:
                first = entity
    return (*first, n)


def fused_extract_stage(
    transcripts: DataFrame,
    dictionary: dict[str, tuple[str, str]],
    counters=None,
    backend=None,
) -> DataFrame:
    """turns → deduped, entity-linked triples.

    At most TWO backend calls per Arrow batch — conj labels for the batch's
    NEW distinct sentences, then OIE labels for their split sentences — the
    same two batched forward passes as the reference's predict loops,
    colocated. Repeated sentences — boilerplate, fillers, quoted turns —
    cost one dict probe instead of a model call: ``stages.per_distinct``
    memos per sentence text and, for the entity link, per argument text,
    and replays row-identically, counters included.

    ``counters``: optional plans.metrics.StageCounters (FUSED_COUNTERS set)
    incremented per Arrow batch — one accumulator update per batch, not per
    row."""
    backend = backend or DeterministicBackend()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        memo: dict[str, tuple[list[tuple], int, int]] = {}
        link_memo: dict[str, tuple[str | None, str | None, int]] = {}

        def link(texts: list[str]) -> list[tuple[str | None, str | None, int]]:
            return [_link_summary(t, dictionary) for t in texts]

        def extract(texts: list[str]) -> list[tuple[list[tuple], int, int]]:
            """Per sentence: (row templates, n splits, n deduped) — all
            splits' extractions under the reference's insert-order dedup
            (/root/reference/model.py:595-634), then the link summary."""
            conj = conj_kernel(backend, texts)
            exts = iter(oie_kernel(
                backend, [s for splits, *_ in conj for s in splits]
            ))
            per_sent = []
            for splits, *_ in conj:
                rows: list[tuple] = []
                seen: set[str] = set()
                n = 0
                for split_idx in range(len(splits)):
                    split_exts = next(exts)
                    n += len(split_exts)
                    for ext_idx, (arg1, rel, arg2, conf) in enumerate(split_exts):
                        key = extraction_key(arg1, arg2, rel)
                        if key not in seen:
                            seen.add(key)
                            rows.append((split_idx, ext_idx, arg1, rel, arg2, conf))
                per_sent.append((rows, len(splits), n - len(rows)))
            args = [a for rows, _, _ in per_sent for r in rows for a in (r[2], r[4])]
            links = iter(per_distinct(link_memo, args, link))
            return [
                ([r + next(links) + next(links) for r in rows], nsp, ndd)
                for rows, nsp, ndd in per_sent
            ]

        for batch in batches:
            n_sent = n_long = n_splits = n_ext = n_dedup = 0
            out: dict[str, list] = {k: [] for k in FUSED_ARROW_SCHEMA.names}
            instances: list = []  # (conv_id, turn_idx, sent_idx)
            texts: list[str] = []
            for conv_id, turn_idx, turn_text in zip(
                *(batch.column(c).to_pylist() for c in ("conv_id", "turn_idx", "text"))
            ):
                for sent_idx, raw in enumerate(segment_text(turn_text)):
                    n_sent += 1
                    text = normalize_quotes(raw)
                    if len(text.split()) + len(SENTINELS) > MAX_WORDS_WITH_SENTINELS:
                        n_long += 1
                        continue
                    instances.append((conv_id, turn_idx, sent_idx))
                    texts.append(text)
            for (conv_id, turn_idx, sent_idx), (rows_t, nsp, ndd) in zip(
                instances, per_distinct(memo, texts, extract)
            ):
                n_splits += nsp
                n_dedup += ndd
                n_ext += len(rows_t)
                for (split_idx, ext_idx, arg1, rel, arg2, conf,
                     e1, t1, n1, e2, t2, n2) in rows_t:
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["sent_idx"].append(sent_idx)
                    out["split_idx"].append(split_idx)
                    out["ext_idx"].append(ext_idx)
                    out["arg1"].append(arg1)
                    out["rel"].append(rel)
                    out["arg2"].append(arg2)
                    out["confidence"].append(conf)
                    out["arg1_n_mentions"].append(n1)
                    out["arg2_n_mentions"].append(n2)
                    out["arg1_entity_id"].append(e1)
                    out["arg1_ner_type"].append(t1)
                    out["arg2_entity_id"].append(e2)
                    out["arg2_ner_type"].append(t2)
            if counters is not None:
                counters.add("turns_in", batch.num_rows)
                counters.add("sentences_in", n_sent)
                counters.add("sentences_too_long", n_long)
                counters.add("splits_out", n_splits)
                counters.add("extractions_out", n_ext)
                counters.add("extractions_deduped", n_dedup)
            yield pa.RecordBatch.from_pydict(out, schema=FUSED_ARROW_SCHEMA)

    turns = transcripts.where(
        F.col("text").isNotNull() & (F.col("text") != "")
    ).select("conv_id", "turn_idx", "text")
    return _partition_for_inference(turns, "text").mapInArrow(
        run, schema=FUSED_SCHEMA
    )
