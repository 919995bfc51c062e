"""Fused production path ≡ modular pipeline (triples AND entity links)."""

import pytest
from pyspark.sql import functions as F

from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
from openie_with_entities_spark.plans.pipeline import build_kg, build_kg_fused

KEY = ["conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx"]
VALUE_COLS = [
    "arg1", "rel", "arg2", "confidence",
    "arg1_entity_id", "arg1_ner_type",
    "arg2_entity_id", "arg2_ner_type",
]


@pytest.fixture(scope="module")
def both(spark):
    t = generate_transcripts(spark, 50).cache()
    t.count()
    alias = alias_dict(spark)
    modular = build_kg(t, alias).linked_triples
    fused = build_kg_fused(t, alias)
    return modular, fused


def _rows(df):
    return {
        tuple(r[c] for c in KEY + VALUE_COLS)
        for r in df.select(*KEY, *VALUE_COLS).collect()
    }


def test_fused_equals_modular(both):
    modular, fused = both
    m, f = _rows(modular), _rows(fused)
    assert m, "no triples produced"
    assert m == f, (
        f"only-modular={list(m - f)[:3]} only-fused={list(f - m)[:3]}"
    )


def test_fused_mention_counts(both):
    modular, fused = both
    # n_mentions: fused reports 0 where modular reports null; compare with
    # coalesce
    def counts(df):
        return {
            tuple(r[c] for c in KEY): (r.n1 or 0, r.n2 or 0)
            for r in df.select(
                *KEY,
                F.coalesce("arg1_n_mentions", F.lit(0)).alias("n1"),
                F.coalesce("arg2_n_mentions", F.lit(0)).alias("n2"),
            ).collect()
        }

    assert counts(modular) == counts(fused)


def test_per_distinct_computes_each_new_key_once(monkeypatch):
    """The extraction memo: results align with the instance keys, and
    ``compute`` sees each call's new keys once, in first-occurrence order.
    The empty-list result (falsy) guards against ``get(...) or ...``
    lookups."""
    from openie_with_entities_spark.extract import stages

    calls = []

    def compute(keys):
        calls.append(list(keys))
        return [[] if k == "empty" else k.upper() for k in keys]

    memo = {}
    got = stages.per_distinct(memo, ["b", "a", "b", "empty", "a"], compute)
    assert got == ["B", "A", "B", [], "A"]
    assert calls == [["b", "a", "empty"]]
    # every key memoized: no compute call at all
    assert stages.per_distinct(memo, ["empty", "a"], compute) == [[], "A"]
    assert len(calls) == 1
    assert stages.per_distinct(memo, ["d", "a", "c", "d"], compute) == [
        "D", "A", "C", "D"
    ]
    assert calls[-1] == ["d", "c"]

    # over the cap: computed and returned, but not stored
    monkeypatch.setattr(stages, "_MEMO_CAP", 1)
    memo = {}
    got = stages.per_distinct(memo, ["x", "empty", "x", "empty"], compute)
    assert got == ["X", [], "X", []]
    assert memo == {"x": "X"}
    assert stages.per_distinct(memo, ["empty", "x"], compute) == [[], "X"]
    assert calls[-1] == ["empty"]


def test_fused_memo_replays_instances_across_batches(spark):
    """Round-7 memoization witness: a corpus that is mostly REPEATED
    sentence texts (forced across multiple Arrow batches in one task) must
    produce row-for-row what the sequential (unmemoized) oracle produces
    per instance, the stage counters must count per INSTANCE, not per
    distinct sentence, and the backend must see each distinct sentence
    once, in at most one conj and one OIE call per Arrow batch."""
    import datetime as dt

    from openie_with_entities_spark.corpus import alias_dict
    from openie_with_entities_spark.extract.backends import (
        DeterministicBackend,
    )
    from openie_with_entities_spark.extract.fused import fused_extract_stage
    from openie_with_entities_spark.linking import dictionary_surfaces
    from openie_with_entities_spark.oracle import reference_triples
    from openie_with_entities_spark.plans.metrics import (
        FUSED_COUNTERS,
        StageCounters,
    )

    texts = [
        "Ada Lovelace founded Acme Corp .",   # entity-linking rows
        "Ada Lovelace founded Acme Corp .",   # exact repeat
        "Grace Hopper , Alan Turing and Ken Thompson visited Paris .",
        "the quarterly report was finished on time .",  # no-entity filler
    ]
    n_turns = 5000  # > one 4096-row Arrow batch → cross-batch memo reuse
    ts = dt.datetime(2025, 1, 1)
    rows = [("k", i, "user", texts[i % 4], None, ts) for i in range(n_turns)]
    # one split is hash repartitioned by conv_id (session.fit_partitions),
    # and the one conv_id puts every row in one task
    t = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).coalesce(1)

    class CountingBackend(DeterministicBackend):
        def __init__(self, sc):
            self.acc = {
                k: sc.accumulator(0)
                for k in ("conj_calls", "conj_sentences", "oie_calls")
            }

        def conj_batch(self, token_lists):
            self.acc["conj_calls"].add(1)
            self.acc["conj_sentences"].add(len(token_lists))
            return super().conj_batch(token_lists)

        def oie_batch(self, token_lists):
            self.acc["oie_calls"].add(1)
            return super().oie_batch(token_lists)

    backend = CountingBackend(spark.sparkContext)
    counters = StageCounters(spark, "fused_memo_test", FUSED_COUNTERS)
    out = fused_extract_stage(
        t, dictionary_surfaces(alias_dict(spark)),
        counters=counters, backend=backend,
    ).collect()

    expected_one = reference_triples(
        [("k", 0, texts[0]), ("k", 1, texts[1]), ("k", 2, texts[2]),
         ("k", 3, texts[3])]
    )
    per_turn = {}
    for r in expected_one:
        per_turn.setdefault(r["turn_idx"], []).append(
            (r["arg1"], r["rel"], r["arg2"], r["confidence"])
        )
    got = {}
    for r in out:
        got.setdefault((r.conv_id, r.turn_idx), []).append(
            (r.arg1, r.rel, r.arg2, r.confidence)
        )
    assert len(got) == sum(1 for _, ti, *_ in rows if per_turn.get(ti % 4))
    for (conv_id, ti), triples in got.items():
        assert sorted(triples) == sorted(per_turn[ti % 4]), (conv_id, ti)
    # counters count instances: 5000 sentences in, one split row per
    # non-coordination sentence + 3 per coordination sentence
    tot = counters.snapshot()
    assert tot["turns_in"] == n_turns
    assert tot["sentences_in"] == n_turns
    n_coord = len([i for i in range(n_turns) if i % 4 == 2])
    assert tot["splits_out"] == (n_turns - n_coord) + 3 * n_coord
    # one task: each distinct text labeled once over both Arrow batches,
    # at most one conj and one OIE call per batch
    batch_rows = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    n_batches = -(-n_turns // batch_rows)
    assert n_batches >= 2
    assert backend.acc["conj_sentences"].value == len(set(texts)) == 3
    assert 1 <= backend.acc["conj_calls"].value <= n_batches
    assert 1 <= backend.acc["oie_calls"].value <= n_batches
