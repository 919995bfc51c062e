"""Real-backend smoke hooks (opt-in: ``pytest -m real_models``).

The engine's neural/NER seams are mock-tested everywhere else because this
sandbox has no torch/transformers/flair/spaCy. These tests are
skipped-but-COLLECTABLE here; the day the environment gains the deps,
parity evidence for the real backends is one ``pytest -m real_models``
away — no new code required:

  * torch: builds a TINY random-weight checkpoint at runtime (no network,
    no fixture download), round-trips it through ``torch.save``/``load``
    the way ``load_backend`` does, and drives the REAL
    ``_TorchDepthModel`` forward (pad_sequence, base encoder, iterative
    layers, gather at word_starts, label-embedding feedback) through the
    IDENTICAL mapInPandas fused stage the deterministic backend rides.
  * reference checkpoints: set ``SPARK_GRAFT_CKPT_DIR`` to a directory
    holding the reference's ``conj.ckpt``/``oie.ckpt``
    (/root/reference/run.py:131-143 loads the same files) to run the full
    ``load_backend`` path, AutoModel download included.
  * flair / spaCy: tag through the ``detect_mentions(span_fn=...)`` seam —
    same batched stage, same overlap-skip contract
    (/root/reference/data.py:28,54-66,80-97).
"""

import importlib.util
import os

import pytest

from openie_with_entities_spark.extract import neural

HAS_FLAIR = importlib.util.find_spec("flair") is not None
HAS_SPACY = importlib.util.find_spec("spacy") is not None
CKPT_DIR = os.environ.get("SPARK_GRAFT_CKPT_DIR")


def _transcripts(spark):
    return spark.createDataFrame(
        [
            ("c1", 0, "user", "Ada Lovelace founded Acme and Alan Turing joined Initech .", None, None),
            ("c2", 0, "assistant", "Grace Hopper visited Paris .", None, None),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )


@pytest.mark.real_models
@pytest.mark.skipif(not neural.HAS_TORCH, reason="torch+transformers not installed")
class TestRealTorchBackend:
    """Tiny real checkpoint through the real mapInPandas stages."""

    HIDDEN = 16

    def _tiny_backend(self, tmp_path):
        import torch

        from openie_with_entities_spark.extract.backends import NeuralBackend
        from openie_with_entities_spark.extract.labeler import MAX_CONJ_DEPTH

        torch.manual_seed(6)
        H = self.HIDDEN

        class TinyBase(torch.nn.Module):
            """AutoModel stand-in: (ids, return_dict=False) -> (hidden, _)."""

            def __init__(self):
                super().__init__()
                self.emb = torch.nn.Embedding(512, H)

            def forward(self, ids, return_dict=False):
                return self.emb(ids), None

        class TupleLayer(torch.nn.Module):
            """BERT-layer calling convention: layer(hidden) -> (hidden,)."""

            def __init__(self):
                super().__init__()
                self.lin = torch.nn.Linear(H, H)

            def forward(self, hidden):
                return (torch.tanh(self.lin(hidden)),)

        state = {
            "iterative_transformer": torch.nn.ModuleList([TupleLayer()]),
            "label_embeddings": torch.nn.Embedding(neural.N_LABELS, H),
            "merge_layer": torch.nn.Linear(H, H),
            "labelling_layer": torch.nn.Linear(H, neural.N_LABELS),
        }
        ckpt = tmp_path / "tiny.ckpt"
        torch.save(state, ckpt)  # the real checkpoint round-trip
        loaded = torch.load(ckpt, map_location="cpu", weights_only=False)

        def tokenize_word(w):  # deterministic, vocab-bounded
            return [sum(map(ord, w)) % 500 + 1]

        cfg = neural.NeuralConfig(str(ckpt), task="oie")
        conj_cfg = neural.NeuralConfig(
            str(ckpt), task="conj", max_depth=MAX_CONJ_DEPTH
        )
        model = neural._TorchDepthModel(None, loaded, cfg)
        model.base = TinyBase()
        conj_model = neural._TorchDepthModel(None, loaded, conj_cfg)
        conj_model.base = TinyBase()
        return NeuralBackend(
            oie_cfg=cfg,
            conj_cfg=conj_cfg,
            model=model,
            conj_model=conj_model,
            tokenize_word=tokenize_word,
        )

    def test_label_matrices_shapes(self, tmp_path):
        backend = self._tiny_backend(tmp_path)
        sents = ["Ada founded Acme", "a " * 101]  # second: >100-word guard
        out = neural.neural_label_matrices(
            sents, backend.oie_cfg, model=backend.model,
            tokenize_word=backend.tokenize_word,
        )
        matrix, confs = out[0]
        assert len(matrix) == backend.oie_cfg.max_depth
        assert all(len(row) == 3 for row in matrix)
        assert len(confs) == len(matrix)
        assert all(0.0 < c <= 1.0 for c in confs)
        assert out[1] == ([], [])  # ineligible -> dropped, as data.py:284

    def test_identical_fused_stage(self, spark, tmp_path):
        from openie_with_entities_spark.corpus import alias_dict
        from openie_with_entities_spark.plans.pipeline import build_kg_fused

        backend = self._tiny_backend(tmp_path)
        linked = build_kg_fused(
            _transcripts(spark).repartition(2, "conv_id"), alias_dict(spark),
            backend=backend,
        )
        rows = linked.collect()
        # random weights -> arbitrary labels, but the stage contract holds:
        # stable schema, confidences in (0, 1], and partitioning invariance
        assert set(linked.columns) >= {
            "conv_id", "arg1", "rel", "arg2", "confidence",
            "arg1_entity_id", "arg2_entity_id",
        }
        assert all(0.0 < r.confidence <= 1.0 for r in rows)
        again = build_kg_fused(
            _transcripts(spark).coalesce(1), alias_dict(spark),
            backend=backend,
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


@pytest.mark.real_models
@pytest.mark.skipif(
    not (neural.HAS_TORCH and CKPT_DIR),
    reason="needs torch AND SPARK_GRAFT_CKPT_DIR with conj.ckpt/oie.ckpt",
)
def test_reference_checkpoints_load():
    """Full load_backend path against the reference's real .ckpt files
    (run.py:131-143) — network-gated (AutoModel download)."""
    for task, fname in (("conj", "conj.ckpt"), ("oie", "oie.ckpt")):
        path = os.path.join(CKPT_DIR, fname)
        if not os.path.exists(path):
            pytest.skip(f"{fname} not in SPARK_GRAFT_CKPT_DIR")
        tokenize_word, model = neural.load_backend(
            neural.NeuralConfig(path, task=task)
        )
        out = neural.neural_label_matrices(
            ["Ada founded Acme and visited Paris ."],
            neural.NeuralConfig(path, task=task),
            model=model, tokenize_word=tokenize_word,
        )
        matrix, confs = out[0]
        assert matrix and confs


@pytest.mark.real_models
@pytest.mark.skipif(not HAS_FLAIR, reason="flair not installed")
def test_flair_ner_through_mentions_seam(spark):
    """flair SequenceTagger through detect_mentions(span_fn=...) — the
    per-worker-singleton pattern of the reference's module-level tagger
    (data.py:28)."""
    from openie_with_entities_spark.extract.mentions import detect_mentions

    def flair_spans(tokens):
        import tests.test_real_models as me

        if not hasattr(me, "_tagger"):  # per-worker singleton
            from flair.data import Sentence
            from flair.models import SequenceTagger

            me._tagger = SequenceTagger.load("ner")
            me._Sentence = Sentence
        sent = me._Sentence(" ".join(tokens), use_tokenizer=False)
        me._tagger.predict(sent)
        return [
            (e.tokens[0].idx - 1, e.tokens[-1].idx - 1)
            for e in sent.get_spans("ner")
        ]

    triples = spark.createDataFrame(
        [("c", 0, 0, 0, 0, "Ada Lovelace", "founded", "Acme Corporation")],
        "conv_id string, turn_idx int, sent_idx int, split_idx int, "
        "ext_idx int, arg1 string, rel string, arg2 string",
    )
    rows = detect_mentions(triples, span_fn=flair_spans).collect()
    assert any(r.mention == "Ada Lovelace" for r in rows)


@pytest.mark.real_models
@pytest.mark.skipif(not HAS_SPACY, reason="spacy not installed")
def test_spacy_ner_through_mentions_seam(spark):
    from openie_with_entities_spark.extract.mentions import detect_mentions

    def spacy_spans(tokens):
        import tests.test_real_models as me

        if not hasattr(me, "_nlp"):
            import spacy

            me._nlp = spacy.load("en_core_web_sm")
        doc = me._nlp(" ".join(tokens))
        return [(e.start, e.end - 1) for e in doc.ents]

    triples = spark.createDataFrame(
        [("c", 0, 0, 0, 0, "Alan Turing", "joined", "Initech")],
        "conv_id string, turn_idx int, sent_idx int, split_idx int, "
        "ext_idx int, arg1 string, rel string, arg2 string",
    )
    rows = detect_mentions(triples, span_fn=spacy_spans).collect()
    assert any("Turing" in r.mention for r in rows)
