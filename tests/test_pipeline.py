"""End-to-end acceptance: the Spark engine vs the sequential oracle
(the reference's splitpredict control flow) on the deterministic corpus.

Gates (BASELINE.md north-rule targets):
  * triple P/R ≥ 0.95 under binary_linient_tuple_match (we assert exact
    set equality per sentence, which implies P = R = 1.0)
  * per-turn text equality under stable (conv_id, turn_idx) ordering
  * dedup / top-k invariants (FIXTURES.md §9)
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from openie_with_entities_spark.corpus import generate_transcripts
from openie_with_entities_spark.evaluate import carb_pr
from openie_with_entities_spark.oracle import reference_triples
from openie_with_entities_spark.operators.dedup import topk_triples
from openie_with_entities_spark.operators.segment import reassemble_turns
from openie_with_entities_spark.plans.pipeline import extract_triples

N_CONVS = 60


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_transcripts(spark, N_CONVS).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def result(corpus):
    res = extract_triples(corpus)
    res.triples.cache().count()
    return res


@pytest.fixture(scope="module")
def oracle_rows(corpus):
    turns = [
        (r.conv_id, r.turn_idx, r.text)
        for r in corpus.select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    return reference_triples(turns)


def _assert_engine_equals_oracle(triples_df, oracle_rows):
    engine = {
        (r.conv_id, r.turn_idx, r.sent_idx, r.arg1, r.rel, r.arg2, r.confidence)
        for r in triples_df.collect()
    }
    oracle = {
        (
            d["conv_id"], d["turn_idx"], d["sent_idx"],
            d["arg1"], d["rel"], d["arg2"], d["confidence"],
        )
        for d in oracle_rows
    }
    assert oracle, "oracle produced no triples — corpus broken"
    missing = oracle - engine
    extra = engine - oracle
    assert not missing and not extra, (
        f"missing={list(missing)[:5]} extra={list(extra)[:5]} "
        f"(|oracle|={len(oracle)}, |engine|={len(engine)})"
    )


def test_engine_matches_oracle_exactly(result, oracle_rows):
    _assert_engine_equals_oracle(result.triples, oracle_rows)


@pytest.mark.parametrize("seed", [7, 20260816])
def test_engine_matches_oracle_other_seeds(spark, seed):
    """Same gate on corpora the code was never tuned against."""
    from openie_with_entities_spark.corpus import generate_transcripts
    from openie_with_entities_spark.oracle import reference_triples
    from openie_with_entities_spark.plans.pipeline import extract_triples

    t = generate_transcripts(spark, 25, seed=seed).cache()
    turns = [
        (r.conv_id, r.turn_idx, r.text)
        for r in t.select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .collect()
    ]
    res = extract_triples(t)
    _assert_engine_equals_oracle(res.triples, reference_triples(turns))


def test_carb_pr_gate(spark, result, oracle_rows):
    """The formal north-rule gate: P/R ≥ 0.95 under the CaRB matcher."""
    gold = spark.createDataFrame(pd.DataFrame(oracle_rows)).withColumn(
        "sent_key",
        F.concat_ws("|", "conv_id", "turn_idx", "sent_idx"),
    )
    pred = result.triples.withColumn(
        "sent_key",
        F.concat_ws("|", "conv_id", "turn_idx", "sent_idx"),
    )
    r = carb_pr(gold, pred)
    assert r.zero_conf_precision >= 0.95, r
    assert r.zero_conf_recall >= 0.95, r


def test_per_turn_text_equality(corpus, result):
    rebuilt = reassemble_turns(result.sentences)
    orig = corpus.select("conv_id", "turn_idx", "text").where(
        F.col("text").isNotNull() & (F.col("text") != "")
    )
    diff = (
        orig.join(rebuilt, ["conv_id", "turn_idx"], "full")
        .where(
            ~(orig["text"].eqNullSafe(rebuilt["text"]))
        )
        .count()
    )
    assert diff == 0


def test_no_duplicate_extractions(result):
    keys = ["conv_id", "turn_idx", "sent_idx", "arg1", "arg2", "rel"]
    total = result.triples.count()
    distinct = result.triples.dropDuplicates(keys).count()
    assert total == distinct


def test_topk_bound(result):
    top = topk_triples(result.triples, 5)
    over = (
        top.groupBy("conv_id", "turn_idx", "sent_idx")
        .count()
        .where(F.col("count") > 5)
        .count()
    )
    assert over == 0


def test_split_count_conservation(result):
    """Every eligible sentence appears in the split table with a consistent
    n_splits (/root/reference/run.py:198-204)."""
    bad = (
        result.splits.groupBy("conv_id", "turn_idx", "sent_idx")
        .agg(F.count("*").alias("n"), F.first("n_splits").alias("expected"))
        .where(F.col("n") != F.col("expected"))
        .count()
    )
    assert bad == 0
    eligible = result.sentences.where("eligible").count()
    split_sents = (
        result.splits.select("conv_id", "turn_idx", "sent_idx").distinct().count()
    )
    assert eligible == split_sents


def test_long_sentences_filtered(result):
    assert result.sentences.where("NOT eligible").count() > 0
    joined = result.splits.join(
        result.sentences.where("NOT eligible"),
        ["conv_id", "turn_idx", "sent_idx"],
        "inner",
    )
    assert joined.count() == 0


def test_doubled_space_token_boundary(spark):
    """Eligibility counts tokens with Python str.split() semantics in BOTH
    paths: doubled spaces near the 97-token boundary must not flip the
    eligible flag between segment_turns (native F.split counts empty
    tokens unless filtered) and the fused/oracle paths (str.split collapses
    them)."""
    from openie_with_entities_spark.operators.segment import segment_turns

    # exactly 97 real tokens with a doubled space before the terminator —
    # Java-split semantics would count the empty token and see 98
    text = " ".join(["w"] * 96) + "  ."
    assert len(text.split()) == 97

    df = spark.createDataFrame(
        [("c0", 0, "user", text, None, None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    seg = segment_turns(df).collect()
    assert len(seg) == 1
    assert seg[0].n_tokens == 97
    assert seg[0].eligible  # Java-split empty tokens must not count

    oracle = reference_triples([("c0", 0, text)])
    engine = extract_triples(df).triples.collect()
    # both paths agree the sentence is eligible (may yield zero triples —
    # 'w' is no verb — but the sentence must flow through identically)
    assert len(engine) == len(oracle)
