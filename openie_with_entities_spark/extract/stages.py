"""The two heavy mapInPandas stages: conjunction splitting and OIE
extraction — and the extraction core they share with extract.fused.

Stage contract (the reference's batch loop, re-expressed for Spark):

  conj stage  ≙ conj-model predict + coordination decode + split
               (/root/reference/run.py:162-232, model.py:656-690)
  oie stage   ≙ oie-model predict + triple decode + insert-time dedup
               (/root/reference/run.py:229-236, model.py:603-639)

The per-text work of each step exists once, as a batch kernel
(``conj_kernel``, ``oie_kernel``) that the modular stages here and the
fused body call alike. The stages:
  * take the conj stage's input layout from ``session.fit_partitions`` (a
    conv_id hash repartition only when the input cannot feed every core,
    and then the ONLY shuffle before the final aggregate); the OIE stages
    map over the conj stage's output as it arrives;
  * sort within partitions by token count (the reference's bucket-by-length
    batching, /root/reference/data.py:469-472) so a batched neural backend
    pads minimally;
  * run per-Arrow-batch with NO per-row Python outside the batch loop —
    swapping the rule-based labeler for a tokenizer+model call keeps the
    same structure (the model handle would be a per-worker singleton, the
    reference's module-level pattern at /root/reference/data.py:28).

Extraction is a pure function of the sentence text, and the reference pools
all work by text (its ``mapping`` / ``all_predictions`` dicts,
/root/reference/run.py:163-204, model.py:609-634). ``per_distinct`` is that
pooling as a hash join between a batch's instances and its distinct texts,
over one memo dict per stage that lives and dies with the mapInPandas task.
All other keys travel as columns; nothing is pooled on the driver.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, Iterable, Iterator
from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.decode import (
    SENTINELS,
    decode_coordinations,
    decode_extractions,
    split_by_coordinations,
)
from ..session import fit_partitions
from .backends import DeterministicBackend

SPLIT_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, split_idx int, "
    "n_splits int, split_text string, conj_words array<string>"
)

TRIPLE_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, split_idx int, ext_idx int, "
    "arg1 string, rel string, arg2 string, confidence double"
)

# Bounds each task-local memo on adversarial corpora (worker memory); a key
# seen after the memo is full is computed without being stored.
_MEMO_CAP = 100_000


def per_distinct(memo: dict, keys: Iterable[Hashable], compute: Callable) -> list:
    """Results aligned with ``keys`` (one per instance), computed once per
    distinct key.

    ``compute`` maps a list of keys to a list of results. It runs at most
    once per call, on the keys ``memo`` lacks, in first-occurrence order —
    so backend call order is deterministic. New results are stored in
    ``memo`` while it holds fewer than ``_MEMO_CAP`` keys; over-cap keys
    still resolve for this call."""
    keys = list(keys)
    new = [k for k in dict.fromkeys(keys) if k not in memo]
    fresh = dict(zip(new, compute(new))) if new else {}
    for k, v in fresh.items():
        if len(memo) >= _MEMO_CAP:
            break
        memo[k] = v
    return [fresh[k] if k in fresh else memo[k] for k in keys]


def _strip_sentinels(text: str) -> str:
    """Recover the clean sentence from a sentinel-suffixed one — the
    reference's orig-sentence recovery (/root/reference/model.py:613)."""
    return text.split("[unused1]")[0].strip()


def conj_kernel(backend, texts: list[str]) -> list[tuple]:
    """One conj-model call over ``texts``, then coordination decode and
    split: per text ``(splits, conj_words, split_indices, n_tokens)``.

    ``split_indices`` holds, per split, the ascending original-token
    positions of its tokens, the reference's ``sentences_indices[i][j]``
    (/root/reference/run.py:163-204); ``n_tokens`` excludes the sentinels.
    A text with no (splittable) coordination is its own single split over
    ``range(n_tokens)`` — the identity mapping of run.py:183-186, 255-257."""
    token_lists = [t.split() + SENTINELS for t in texts]
    out = []
    for text, tokens, matrix in zip(
        texts, token_lists, backend.conj_batch(token_lists)
    ):
        split_texts, conj_words, idx_lists = split_by_coordinations(
            decode_coordinations(matrix), tokens
        )
        n_clean = len(tokens) - len(SENTINELS)
        if split_texts:
            splits = [_strip_sentinels(t) for t in split_texts]
            split_indices = [
                [i for i in sorted(s) if i < n_clean] for s in idx_lists
            ]
        else:
            splits, split_indices = [text], [list(range(n_clean))]
        out.append((splits, conj_words, split_indices, n_clean))
    return out


def oie_kernel(backend, texts: list[str]) -> list[list[tuple]]:
    """One OIE-model call over ``texts``, then triple decode with the
    reference's per-sentence insert-time dedup: per text, its
    ``(arg1, rel, arg2, confidence)`` extractions."""
    token_lists = [t.split() + SENTINELS for t in texts]
    return [
        decode_extractions(rows, tokens, confs)
        for tokens, (rows, confs) in zip(
            token_lists, backend.oie_batch(token_lists)
        )
    ]


def _partition_for_inference(df: DataFrame, text_col: str) -> DataFrame:
    """The stage's input layout, then a per-partition length sort.

    The count is the engine's, never AQE's: AQE's coalescing optimizes for
    shuffle-block size and would shrink a text-sized corpus to a handful of
    partitions — correct for IO-bound SQL, disastrous for a CPU-bound model
    stage (7 of 32 cores busy, measured). Inference stages are compute-bound,
    so parallelism follows cores (×3 for stragglers), not bytes:
    ``session.fit_partitions`` to cores×3 hash repartitions by conv_id only
    for a stream, an exchange AQE may coalesce, or an input with fewer
    splits than cores (then to at most 4× its splits, each a Python task
    launch: ~15 ms of worker CPU once the worker has imported this package,
    ~160 ms while every task start re-read Spark's zip archives); an input
    with cores to cores×3 splits is mapped over as it is, and a larger one
    is coalesced to cores×3 tasks, with no shuffle either way. Extraction is
    per-row, so placement never changes results.

    A caller who wants a particular task count lays the input out that way
    (``repartition(n, "conv_id")``): n from cores to cores×3 runs as n tasks.
    """
    cores = df.sparkSession.sparkContext.defaultParallelism
    out = fit_partitions(df, cores * 3, "conv_id", per_split=4)
    if out.isStreaming:  # sort unsupported on streams; batches are small
        return out
    return out.sortWithinPartitions(F.size(F.split(F.col(text_col), " ")))


def conj_split_stage(
    sentences: DataFrame, backend=None, with_indices: bool = False
) -> DataFrame:
    """sentences → one row per split sentence.

    A sentence with no (splittable) coordination yields itself as its single
    split (split_idx 0, n_splits 1) — the identity-mapping case of
    /root/reference/run.py:183-186.

    ``backend``: a labeling backend (extract.backends); the conj model runs
    at most ONCE per Arrow batch, the reference's batched predict loop shape.

    ``with_indices`` appends the two columns the S8 labels sink needs,
    ``split_indices`` and ``n_orig_tokens`` (see ``conj_kernel``).
    """
    backend = backend or DeterministicBackend()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, tuple] = {}
        for pdf in batches:
            out: dict[str, list] = {
                "conv_id": [], "turn_idx": [], "sent_idx": [],
                "split_idx": [], "n_splits": [], "split_text": [],
                "conj_words": [],
            }
            if with_indices:
                out["split_indices"] = []
                out["n_orig_tokens"] = []
            for conv_id, turn_idx, sent_idx, (
                splits, conj_words, split_indices, n_clean
            ) in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["sent_idx"],
                per_distinct(memo, pdf["text"], partial(conj_kernel, backend)),
            ):
                for k, s in enumerate(splits):
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["sent_idx"].append(sent_idx)
                    out["split_idx"].append(k)
                    out["n_splits"].append(len(splits))
                    out["split_text"].append(s)
                    out["conj_words"].append(conj_words)
                    if with_indices:
                        out["split_indices"].append(split_indices[k])
                        out["n_orig_tokens"].append(n_clean)
            yield pd.DataFrame(out)

    schema = SPLIT_SCHEMA
    if with_indices:
        schema += ", split_indices array<int>, n_orig_tokens int"
    eligible = sentences.where(F.col("eligible")).select(
        "conv_id", "turn_idx", "sent_idx", "text"
    )
    return _partition_for_inference(eligible, "text").mapInPandas(
        run, schema=schema
    )


def oie_stage(splits: DataFrame, backend=None) -> DataFrame:
    """split sentences → raw extractions (pre global dedup/ranking).

    Insert-time dedup WITHIN one split sentence (first depth wins) happens
    here, exactly like the reference's per-sentence loop; cross-split dedup
    under the original sentence is a separate relational operator
    (see operators.dedup). ``backend``: at most one OIE-model call per
    Arrow batch.
    """
    backend = backend or DeterministicBackend()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list] = {}
        for pdf in batches:
            out: dict[str, list] = {
                "conv_id": [], "turn_idx": [], "sent_idx": [],
                "split_idx": [], "ext_idx": [], "arg1": [], "rel": [],
                "arg2": [], "confidence": [],
            }
            for conv_id, turn_idx, sent_idx, split_idx, exts in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["sent_idx"],
                pdf["split_idx"],
                per_distinct(memo, pdf["split_text"], partial(oie_kernel, backend)),
            ):
                for j, (arg1, rel, arg2, conf) in enumerate(exts):
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["sent_idx"].append(sent_idx)
                    out["split_idx"].append(split_idx)
                    out["ext_idx"].append(j)
                    out["arg1"].append(arg1)
                    out["rel"].append(rel)
                    out["arg2"].append(arg2)
                    out["confidence"].append(conf)
            yield pd.DataFrame(out)

    # mapped over as it arrives: the conj stage already laid it out
    return splits.select(
        "conv_id", "turn_idx", "sent_idx", "split_idx", "split_text"
    ).mapInPandas(run, schema=TRIPLE_SCHEMA)


OIE_LABELS_SCHEMA = (
    "conv_id string, turn_idx int, sent_idx int, split_idx int, "
    "depth int, labels array<int>"
)


def oie_labels_stage(splits: DataFrame, backend=None) -> DataFrame:
    """split sentences (with indices — conj_split_stage(with_indices=True))
    → per-extraction TRAINING-LABEL rows over the ORIGINAL sentence's token
    positions: the S8 labels-sink projection of
    /root/reference/run.py:246-291 (get_labels).

    Reference semantics preserved exactly:
      * depths stop at the first all-zero prediction (run.py:276-277);
      * an extraction is kept iff its split-side prediction carries an ARG1
        or REL label anywhere — INCLUDING on sentinel tokens, where the
        rel_case marker lives (run.py:287-288 checks ``prediction``, not the
        scattered labels);
      * split labels scatter onto original positions via the sorted index
        list, unmapped positions stay NONE (run.py:281-283);
      * label ids stay raw here — the sink maps {4→ARG2, 5→NONE} at render
        time (run.py:247), so LOC/TIME survive for other consumers.
    """
    backend = backend or DeterministicBackend()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources.formats import project_labels_to_original

        for pdf in batches:
            out: dict[str, list] = {
                "conv_id": [], "turn_idx": [], "sent_idx": [],
                "split_idx": [], "depth": [], "labels": [],
            }
            token_lists = [t.split() + SENTINELS for t in pdf["split_text"]]
            labeled = backend.oie_batch(token_lists)
            for conv_id, turn_idx, sent_idx, split_idx, idxs, n_orig, (rows, _confs) in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["sent_idx"],
                pdf["split_idx"], pdf["split_indices"], pdf["n_orig_tokens"],
                labeled,
            ):
                for depth, pred in enumerate(rows):
                    if sum(pred) == 0:
                        break
                    if 1 not in pred and 2 not in pred:
                        continue
                    out["conv_id"].append(conv_id)
                    out["turn_idx"].append(turn_idx)
                    out["sent_idx"].append(sent_idx)
                    out["split_idx"].append(split_idx)
                    out["depth"].append(depth)
                    out["labels"].append(
                        project_labels_to_original(
                            list(pred), sorted(int(i) for i in idxs), int(n_orig)
                        )
                    )
            if out["conv_id"]:  # empty object cols can't cast to array<int>
                yield pd.DataFrame(out)

    return splits.select(
        "conv_id", "turn_idx", "sent_idx", "split_idx", "split_text",
        "split_indices", "n_orig_tokens",
    ).mapInPandas(run, schema=OIE_LABELS_SCHEMA)
