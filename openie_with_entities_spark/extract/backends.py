"""Labeling backends: the pluggable model seam of the extraction stages.

A backend labels a BATCH of tokenized sentences per call — one call per
Arrow batch inside the mapInPandas stages — which is exactly the batched
forward-pass shape the reference's two predict() loops have
(/root/reference/run.py:152-158, 229-236). Two implementations:

  * ``DeterministicBackend`` — the rule labelers (extract.labeler) used for
    tests/benchmarks in this sandbox; pure functions, trivially picklable
    to executors.
  * ``NeuralBackend`` — drives extract.neural.neural_label_matrices
    (tokenizer chunking, per-depth loop, confidence math). Pass a
    DepthModel + word tokenizer explicitly (tests use mocks), or leave
    None and the real torch checkpoint loads lazily ONCE PER WORKER
    (the reference's module-level singleton pattern, data.py:28).

Both ride the same stages, so the partitioning/shuffle story is identical —
swapping backends changes zero Spark-side code. A backend must be a pure
function of its token lists: the stages memoize results per text
(stages.per_distinct), so a sentence seen twice is labeled once.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .labeler import MAX_CONJ_DEPTH, conj_label_matrix, oie_label_matrix
from .neural import DepthModel, NeuralConfig, neural_label_matrices


class DeterministicBackend:
    """Rule-based labelers, one sentence at a time under a batch API."""

    def conj_batch(
        self, token_lists: list[list[str]]
    ) -> list[list[list[int]]]:
        return [conj_label_matrix(t) for t in token_lists]

    def oie_batch(
        self, token_lists: list[list[str]]
    ) -> list[tuple[list[list[int]], list[float]]]:
        return [oie_label_matrix(t) for t in token_lists]


@dataclass
class NeuralBackend:
    """Batched neural labeling through the executable control flow of
    extract.neural. ``model``/``tokenize_word`` = None means load the real
    checkpoints per worker (import-gated on torch)."""

    oie_cfg: NeuralConfig = field(
        default_factory=lambda: NeuralConfig("oie.ckpt", task="oie")
    )
    conj_cfg: NeuralConfig = field(
        default_factory=lambda: NeuralConfig(
            "conj.ckpt", task="conj", max_depth=MAX_CONJ_DEPTH
        )
    )
    model: DepthModel | None = None
    conj_model: DepthModel | None = None
    tokenize_word: object = None

    def _run(self, token_lists, cfg, model):
        sentences = [" ".join(t) for t in token_lists]
        return neural_label_matrices(
            sentences, cfg, model=model, tokenize_word=self.tokenize_word
        )

    def conj_batch(self, token_lists):
        # NEVER fall back to the OIE model: its label vocabulary (ARG1=1,
        # REL=2, …) would be silently misread as conj labels (CP=1,
        # CP_START=2, …), producing garbage splits. conj_model=None means
        # "load the conj checkpoint per worker" (conj_cfg), exactly like
        # model=None on the OIE side.
        res = self._run(token_lists, self.conj_cfg, self.conj_model)
        return [matrix for (matrix, _confs) in res]

    def oie_batch(self, token_lists):
        return self._run(token_lists, self.oie_cfg, self.model)
