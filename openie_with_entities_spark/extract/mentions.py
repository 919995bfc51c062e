"""Entity mention detection over triple arguments (the NER stage).

The reference runs flair NER over extraction subjects/objects in batches of
256 (/root/reference/scripts/pubmed_analysis.py:57-58, scripts/violations.py:42-45)
and over sentences for training features (/root/reference/data.py:34-74). The
engine expresses this as one mapInArrow stage over the triples table: a
deterministic capitalized-run detector stands in for flair (same contract —
batched text in, typed spans out); a neural backend replaces only the inner
``_spans`` function with a per-worker-singleton tagger call.

Overlapping spans are skipped, keeping the first (the reference's
"Texas-Louisiana problem" handling, /root/reference/data.py:54-66) — runs
found by this detector are disjoint by construction, so the skip is a no-op
here but the contract is preserved for neural backends.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

_WORD_STOP = frozenset(
    [".", ",", "!", "?", ";", ":", "''", "'", "``", "(", ")"]
)

# the flat schema of every batch ``detect_mentions`` yields; MENTION_SCHEMA
# is its Spark twin
MENTION_ARROW_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("sent_idx", pa.int32()),
    ("split_idx", pa.int32()), ("ext_idx", pa.int32()), ("arg_pos", pa.int32()),
    ("mention", pa.string()), ("surface_norm", pa.string()),
    ("begin_word", pa.int32()), ("end_word", pa.int32()),
])
MENTION_SCHEMA = from_arrow_schema(MENTION_ARROW_SCHEMA)
_KEYS = ("conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx")

_NORM_RE = re.compile(r"[^\w\s]")


def normalize_surface(s: str) -> str:
    """lower + strip punctuation (/root/reference/scripts/pubmed_analysis.py:22-25)."""
    return _NORM_RE.sub("", s.lower()).strip()


def _spans(tokens: list[str]) -> list[tuple[int, int]]:
    """Maximal runs of capitalized tokens (≥1), the deterministic NER."""
    spans = []
    start = None
    for i, t in enumerate(tokens):
        capital = bool(t) and t not in _WORD_STOP and t[:1].isupper()
        if capital and start is None:
            start = i
        elif not capital and start is not None:
            spans.append((start, i - 1))
            start = None
    if start is not None:
        spans.append((start, len(tokens) - 1))
    return spans


def detect_mentions(triples: DataFrame, span_fn=None) -> DataFrame:
    """triples → one row per (arg, mention span).

    ``span_fn(tokens) -> [(begin_word, end_word)]`` is the NER seam: the
    default is the deterministic capitalized-run detector; a real backend
    (flair SequenceTagger / spaCy pipeline, the reference's data.py:28,80)
    passes a callable that tags the batch's texts and maps entity char
    offsets back to word spans — tests/test_real_models.py exercises both
    when the libraries are present. The callable is pickled into the
    mapInArrow closure, so heavyweight models should lazy-init a
    per-worker singleton inside it (extract.neural.load_backend pattern)
    rather than capture the model object."""
    span_fn = span_fn or _spans

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            out: dict[str, list] = {k: [] for k in MENTION_ARROW_SCHEMA.names}
            for *key, arg1, arg2 in zip(
                *(batch.column(c).to_pylist() for c in (*_KEYS, "arg1", "arg2"))
            ):
                for arg_pos, text in ((1, arg1), (2, arg2)):
                    tokens = text.split()
                    taken_until = -1
                    for (s, e) in span_fn(tokens):
                        if s <= taken_until:  # overlap skip (contract)
                            continue
                        taken_until = e
                        mention = " ".join(tokens[s : e + 1])
                        for k, v in zip(_KEYS, key):
                            out[k].append(v)
                        out["arg_pos"].append(arg_pos)
                        out["mention"].append(mention)
                        out["surface_norm"].append(normalize_surface(mention))
                        out["begin_word"].append(s)
                        out["end_word"].append(e)
            yield pa.RecordBatch.from_pydict(out, schema=MENTION_ARROW_SCHEMA)

    return triples.select(*_KEYS, "arg1", "arg2").mapInArrow(
        run, schema=MENTION_SCHEMA
    )
