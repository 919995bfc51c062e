"""Fused extraction stage: segmentation + conj-split + OIE + per-sentence
dedup + mention linking summary in ONE mapInArrow pass over raw turns.

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

Linking summary: the stage takes the (broadcast-sized, deduplicated)
dictionary SURFACE SET and emits, per argument, the first dictionary-matched
mention surface and the matched-mention count; entity resolution stays
JVM-side (map-literal / broadcast join) in linking.link_triples_inline.
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
    ("arg1_surface", pa.string()), ("arg1_n_mentions", pa.int32()),
    ("arg2_surface", pa.string()), ("arg2_n_mentions", pa.int32()),
])
FUSED_SCHEMA = from_arrow_schema(FUSED_ARROW_SCHEMA)


def _link_summary(text: str, surfaces: frozenset[str]) -> tuple[str | None, int]:
    """(first dictionary-matched mention surface, matched count) for one arg."""
    tokens = text.split()
    first = None
    n = 0
    for (s, e) in _spans(tokens):
        surf = normalize_surface(" ".join(tokens[s : e + 1]))
        if surf in surfaces:
            n += 1
            if first is None:
                first = surf
    return first, n


def fused_extract_stage(
    transcripts: DataFrame,
    surfaces: frozenset[str],
    partitions: int | None = None,
    counters=None,
    backend=None,
) -> DataFrame:
    """turns → deduped triples with per-arg link summaries.

    At most TWO backend calls per Arrow batch — conj labels for the batch's
    NEW distinct sentences, then OIE labels for their split sentences — the
    same two batched forward passes as the reference's predict loops,
    colocated. Repeated sentences — boilerplate, fillers, quoted turns —
    cost one dict probe instead of a model call: ``stages.per_distinct``
    memos per sentence text and, for the link summary, per argument text,
    and replays row-identically, counters included.

    ``counters``: optional plans.metrics.StageCounters (FUSED_COUNTERS set)
    incremented per Arrow batch — one accumulator update per batch, not per
    row."""
    backend = backend or DeterministicBackend()

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        memo: dict[str, tuple[list[tuple], int, int]] = {}
        link_memo: dict[str, tuple[str | None, int]] = {}

        def link(texts: list[str]) -> list[tuple[str | None, int]]:
            return [_link_summary(t, surfaces) for t in texts]

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
                     s1, n1, s2, n2) in rows_t:
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["sent_idx"].append(sent_idx)
                    out["split_idx"].append(split_idx)
                    out["ext_idx"].append(ext_idx)
                    out["arg1"].append(arg1)
                    out["rel"].append(rel)
                    out["arg2"].append(arg2)
                    out["confidence"].append(conf)
                    out["arg1_surface"].append(s1)
                    out["arg1_n_mentions"].append(n1)
                    out["arg2_surface"].append(s2)
                    out["arg2_n_mentions"].append(n2)
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
    return _partition_for_inference(turns, "text", partitions).mapInArrow(
        run, schema=FUSED_SCHEMA
    )
