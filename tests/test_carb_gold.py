"""CaRB evaluator on the reference's REAL gold data
(/root/reference/carb/data/gold/dev.tsv): gold-vs-gold must score perfectly,
and degraded predictions must score strictly lower — validates the
distributed evaluator on genuine multi-arg extraction shapes."""

import os

import pytest
from pyspark.sql import functions as F

from openie_with_entities_spark.evaluate import carb_pr
from openie_with_entities_spark.sources.formats import read_gold_tsv

GOLD = "/root/reference/carb/data/gold/dev.tsv"

pytestmark = pytest.mark.skipif(
    not os.path.exists(GOLD), reason="reference gold data not present"
)


@pytest.fixture(scope="module")
def gold(spark):
    df = (
        read_gold_tsv(spark, GOLD)
        .withColumn("sent_key", F.col("sentence"))
        .cache()
    )
    df.count()
    return df


def test_gold_against_itself_is_perfect(gold):
    pred = gold.withColumn("confidence", F.lit(1.0))
    r = carb_pr(gold, pred)
    assert r.zero_conf_precision == 1.0
    # not exactly 1.0: the matcher drops standalone '.' tokens from
    # PREDICTED args but counts them in gold (reference behavior,
    # /root/reference/carb/matcher.py:231-240) — a few gold args contain
    # bare '.' tokens
    assert r.zero_conf_recall >= 0.999
    assert r.zero_conf_f1 >= 0.999


def test_degraded_predictions_score_lower(gold):
    # keep only the first extraction per sentence → recall must drop,
    # precision stays perfect
    from pyspark.sql import Window

    w = Window.partitionBy("sent_key").orderBy("rel", "arg1", "arg2")
    pred = (
        gold.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .drop("rn")
        .withColumn("confidence", F.lit(1.0))
    )
    r = carb_pr(gold, pred)
    assert r.zero_conf_precision == 1.0
    assert 0.0 < r.zero_conf_recall < 1.0


def test_engine_extractor_on_carb_sentences(spark, gold):
    """Run the actual extraction pipeline over CaRB sentences embedded as
    transcript turns; the deterministic labeler is not BERT so the score is
    low, but the harness must produce a well-formed PR point."""
    from openie_with_entities_spark.plans.pipeline import extract_triples

    sents = gold.select("sentence").distinct().limit(150)
    transcripts = sents.select(
        F.md5("sentence").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("sentence").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    res = extract_triples(transcripts)
    # map back to sentence text keys: conv_id = md5(sentence)
    pred = res.triples.join(
        sents.select(
            F.md5("sentence").alias("conv_id"), F.col("sentence")
        ),
        "conv_id",
    ).withColumn("sent_key", F.col("sentence"))
    gold_subset = gold.join(
        sents, gold["sentence"] == sents["sentence"], "left_semi"
    )
    r = carb_pr(gold_subset, pred)
    assert 0.0 <= r.zero_conf_precision <= 1.0
    assert 0.0 <= r.zero_conf_recall <= 1.0
    assert 0.0 <= r.auc <= 1.0


def test_sentence_scores_on_real_gold(gold):
    """carb_sentence_scores on the real dev.tsv: gold-vs-gold scores
    (near-)perfectly per sentence, one row per gold sentence, and the
    optimal point can never beat perfection; stamping optimal confidences
    back then leaves every extraction at its sentence's best cutoff."""
    from openie_with_entities_spark.evaluate import (
        carb_sentence_scores,
        stamp_optimal_confidence,
    )

    pred = gold.withColumn("confidence", F.lit(0.7))
    scores = carb_sentence_scores(gold, pred).cache()
    n_sentences = gold.select("sent_key").distinct().count()
    assert scores.count() == n_sentences
    rows = scores.collect()
    # self-comparison: precision is exactly 1.0 everywhere; recall may dip
    # on the few gold args with bare '.' tokens (matcher drops them from
    # predictions only — see test_gold_against_itself_is_perfect)
    assert all(r.precision == 1.0 for r in rows)
    # 630/638 exactly perfect on dev.tsv; the 8 misses are the bare-'.'
    # gold-arg sentences
    assert sum(1 for r in rows if r.f1 == 1.0) >= 0.98 * n_sentences
    assert all(r.optimal_f1 >= r.f1 for r in rows)
    assert all(r.optimal_conf == 0.7 for r in rows if r.n_pred > 0)
    stamped = stamp_optimal_confidence(gold, pred)
    assert stamped.count() == pred.count()
    assert stamped.where("confidence <> 0.7").count() == 0
    scores.unpersist()
