"""Neural backend control flow, exercised with mock models (no torch):
tokenization/word_starts alignment, length guards, chunking invariance,
depth loop + early exit, confidence math. The torch path stays behind
load_backend's import gate (tested in test_operators)."""

import math

import pytest

from openie_with_entities_spark.extract.labeler import oie_label_matrix
from openie_with_entities_spark.extract.mock_models import (
    ConjLabelerMock,
    LabelerMock,
    fake_wordpiece_tokenizer as fake_tokenizer,
)
from openie_with_entities_spark.extract.neural import (
    DepthModel,
    NeuralConfig,
    encode_sentence,
    neural_label_matrices,
)
from openie_with_entities_spark.functions.decode import (
    SENTINEL_SUFFIX,
    decode_extractions,
)

CFG = NeuralConfig("unused.ckpt", model_batch_size=3)


def test_word_starts_alignment():
    enc = encode_sentence("Ada founded Acme .", fake_tokenizer, CFG)
    assert len(enc.words) == len(enc.word_starts) == 4
    assert enc.input_ids[0] == CFG.bos_token_id
    assert enc.input_ids[-1] == CFG.eos_token_id
    # word_starts[i] indexes the FIRST wordpiece of word i
    for w, s in zip(enc.words, enc.word_starts):
        assert enc.input_ids[s] == fake_tokenizer(w)[0]


def test_empty_encoding_becomes_unk():
    enc = encode_sentence("a \x9c b", lambda w: [] if w == "\x9c" else [7], CFG)
    assert enc.input_ids[enc.word_starts[1]] == CFG.unk_token_id


def test_length_guards_yield_empty_matrix():
    long_sent = " ".join(["w"] * 101)
    bomb = "boom"  # tokenizer explodes it past 512 pieces
    res = neural_label_matrices(
        [long_sent, "Ada founded Acme ." + SENTINEL_SUFFIX, bomb],
        CFG,
        model=LabelerMock(),
        tokenize_word=lambda w: [1] * 600 if w == "boom" else fake_tokenizer(w),
    )
    assert res[0] == ([], [])  # >100 words
    assert res[2] == ([], [])  # >=512 wordpieces
    assert res[1][0], "eligible sentence must get a label matrix"


def test_mock_model_matches_deterministic_labeler_end_to_end():
    sents = [
        "Ada founded Acme ." + SENTINEL_SUFFIX,
        "Eve visited Paris ." + SENTINEL_SUFFIX,
        "the quarterly report was finished on time ." + SENTINEL_SUFFIX,
        "Ada chairman of Acme" + SENTINEL_SUFFIX,
    ]
    neural = neural_label_matrices(
        sents, CFG, model=LabelerMock(), tokenize_word=fake_tokenizer
    )
    for s, (matrix, confs) in zip(sents, neural):
        tokens = s.split()
        rows, rule_confs = oie_label_matrix(tokens)
        got = {
            (a1, r, a2)
            for a1, r, a2, _ in decode_extractions(matrix, tokens, confs)
        }
        want = {
            (a1, r, a2)
            for a1, r, a2, _ in decode_extractions(rows, tokens, rule_confs)
        }
        assert got == want, s


def test_chunking_invariance():
    """Same outputs whatever the model batch size (early_exit off) — the
    partitioning-independence invariant."""
    sents = [f"w{i} founded Acme ." + SENTINEL_SUFFIX for i in range(7)]
    a = neural_label_matrices(
        sents, NeuralConfig("x", model_batch_size=2),
        model=LabelerMock(), tokenize_word=fake_tokenizer,
    )
    b = neural_label_matrices(
        sents, NeuralConfig("x", model_batch_size=64),
        model=LabelerMock(), tokenize_word=fake_tokenizer,
    )
    assert a == b


class DepthCountingMock(DepthModel):
    """ARG1+REL at depth 0, all-NONE afterwards; records calls."""

    def __init__(self):
        self.calls = []

    def score_depth(self, batch, depth, prev_labels):
        self.calls.append(depth)
        lab = (lambda w: [1, 2][w] if w < 2 and depth == 0 else 0)
        return [
            [[8.0 if l == lab(w) else 0.0 for l in range(6)]
             for w in range(len(e.words))]
            for e in batch
        ]


def test_early_exit_stops_depth_loop():
    sents = ["a b c d"]
    mock = DepthCountingMock()
    cfg = NeuralConfig("x", early_exit=True)
    res = neural_label_matrices(
        sents, cfg, model=mock, tokenize_word=fake_tokenizer
    )
    # depth 0 valid (has ARG1+REL), depth 1 all-NONE → exit before depth 2
    assert mock.calls == [0, 1]
    assert len(res[0][0]) == 2
    mock2 = DepthCountingMock()
    neural_label_matrices(
        sents, NeuralConfig("x"), model=mock2, tokenize_word=fake_tokenizer
    )
    assert mock2.calls == [0, 1, 2, 3, 4]  # default: all depths, deterministic


def test_confidence_math():
    """conf = exp(Σ max-log-prob over labeled words / (n_labeled + 1))."""

    class TwoWordMock(DepthModel):
        def score_depth(self, batch, depth, prev_labels):
            # word0 → ARG1 with score margin, word1 → NONE
            return [[[0.0, 2.0, 0.0, 0.0, 0.0, 0.0],
                     [3.0, 0.0, 0.0, 0.0, 0.0, 0.0]]]

    res = neural_label_matrices(
        ["x y"], NeuralConfig("x", max_depth=1),
        model=TwoWordMock(), tokenize_word=fake_tokenizer,
    )
    matrix, confs = res[0]
    assert matrix == [[1, 0]]
    logp_word0 = 2.0 - math.log(math.exp(2.0) + 5 * math.exp(0.0))
    want = math.exp(logp_word0 / (1 + 1))
    assert confs[0] == pytest.approx(want, abs=1e-4)


def test_prev_labels_feedback_passed():
    """Depth d>0 receives depth d−1's argmax labels (the label-embedding
    feedback input, model.py:166-171)."""

    class FeedbackMock(DepthModel):
        def __init__(self):
            self.seen = []

        def score_depth(self, batch, depth, prev_labels):
            self.seen.append(prev_labels)
            return [
                [[0.0, 8.0, 8.0, 0.0, 0.0, 0.0][: 6] if w == 0 else
                 [0.0, 0.0, 8.0, 0.0, 0.0, 0.0]
                 for w in range(len(e.words))]
                for e in batch
            ]

    mock = FeedbackMock()
    neural_label_matrices(
        ["x y"], NeuralConfig("x", max_depth=2),
        model=mock, tokenize_word=fake_tokenizer,
    )
    assert mock.seen[0] is None
    assert mock.seen[1] == [[1, 2]]  # argmax of depth-0 scores


def test_neural_backend_drives_spark_stages(spark):
    """The NeuralBackend (mock model) plugs into the SAME Spark stages as
    the deterministic backend and — with the labeler-equivalent mock —
    produces the identical triple set through the full distributed pipeline
    (fused and modular), proving the model seam is plug-compatible."""
    from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
    from openie_with_entities_spark.extract.backends import NeuralBackend
    from openie_with_entities_spark.linking import dictionary_surfaces
    from openie_with_entities_spark.extract.fused import fused_extract_stage
    from openie_with_entities_spark.plans.pipeline import extract_triples

    backend = NeuralBackend(
        oie_cfg=NeuralConfig("mock.ckpt"),
        conj_cfg=NeuralConfig("mock-conj.ckpt", task="conj", max_depth=3),
        model=LabelerMock(),
        conj_model=ConjLabelerMock(),
        tokenize_word=fake_tokenizer,
    )
    t = generate_transcripts(spark, 12).cache()
    det = extract_triples(t).triples
    neu = extract_triples(t, backend=backend).triples
    cols = ["conv_id", "turn_idx", "sent_idx", "arg1", "rel", "arg2"]
    assert det.select(cols).exceptAll(neu.select(cols)).count() == 0
    assert neu.select(cols).exceptAll(det.select(cols)).count() == 0

    surfaces = dictionary_surfaces(alias_dict(spark))
    det_f = fused_extract_stage(t, surfaces)
    neu_f = fused_extract_stage(t, surfaces, backend=backend)
    assert det_f.select(cols).exceptAll(neu_f.select(cols)).count() == 0
    assert neu_f.select(cols).exceptAll(det_f.select(cols)).count() == 0
