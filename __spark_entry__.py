"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps SURVEY.md §2 operators (and the training-data pipeline
operators) onto the driver's testdata tables; ``oracle_sql()`` holds the
DuckDB-equivalent SQL with IDENTICAL output column names. Non-SQL-expressible
entries (KG pipeline stages, xxhash-based ops) have no oracle and get the
rows-only check. Both derive from one table: each contract is registered
once, as a ``(name, query, oracle)`` record in ``_contracts()``.

Determinism across engines is engineered, not hoped for: money sums in
integer cents, cross-engine hashes via md5, float outputs rounded with
explicit tiebreaks before ranking.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def _docs_as_transcripts(docs: DataFrame) -> DataFrame:
    return docs.select(
        F.concat(F.lit("doc-"), F.col("source")).alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction pipeline (segment → conj-split → OIE →
    dedup → entity link) over sf0.001 documents plus the deterministic
    transcript corpus."""
    from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
    from openie_with_entities_spark.extract.mentions import detect_mentions
    from openie_with_entities_spark.linking import link_mentions, link_triples
    from openie_with_entities_spark.plans.pipeline import extract_triples

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    transcripts = _docs_as_transcripts(docs).unionByName(
        generate_transcripts(spark, 100)
    )
    res = extract_triples(transcripts)
    mentions = detect_mentions(res.triples)
    linked = link_triples(res.triples, link_mentions(mentions, alias_dict(spark)))
    return linked.select(
        "conv_id", "turn_idx", "sent_idx", "arg1", "rel", "arg2",
        "confidence", "arg1_entity_id", "arg2_entity_id",
    )


# --------------------------------------------------------------------------
# queries (Spark side)
# --------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents).alias("sum_base_price_cents"),
            F.sum(cents * (100 - disc_c)).alias("sum_disc_price_c4"),
            F.count("*").alias("count_order"),
        )
    )


def _a2_keepfirst(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    # l_linenumber is not unique per order in this synthetic data — extend
    # the ordering until the surviving row's output columns are determined
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity", "l_suppkey"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


def _a4_topk_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where("rk <= 3")
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def _a6_token_frequency(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .where("token <> ''")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def _a7_filtered_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .where(F.col("c_acctbal") > 7000)
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


def _a10_union_dedup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hi = e.where("value > 15").select(
        "event_id", F.lit("highvalue").alias("tag")
    )
    clicks = e.where("event_type = 'click'").select(
        "event_id", F.lit("click").alias("tag")
    )
    return hi.union(clicks).distinct()


def _p1_quote_normalize(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(
        F.regexp_replace(F.regexp_replace("text", "’", "'"), "”", "''"),
        "“",
        "''",
    )
    return d.select("doc_id", norm.alias("text_norm"))


def _p13_format_extraction(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.format_string(
            "%.2f: (%s; %s; %s)",
            F.col("l_quantity"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
            F.col("l_orderkey").cast("string"),
        ).alias("ext_str"),
    )


def _s5_regex_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_extract("props", '"k": ([0-9]+)', 1).cast("int").alias("k"),
    )


def _e5_join_sum_when(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "n_returned"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def _sessionize_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ; session TZ is UTC so the ltz cast is exact
    micros = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    prev = F.unix_micros(F.lag("ts").over(w).cast("timestamp_ltz"))
    gap = micros - prev
    marked = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0),
    )
    return marked.groupBy("user_id").agg(
        F.sum("new_session").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def _rollup_pricing(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


def _grouping_sets_events(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    e.createOrReplaceTempView("_events_gs")
    return spark.sql(
        """
        SELECT event_type, user_bucket, count(*) AS n,
               sum(cents) AS value_cents
        FROM (
            SELECT event_type,
                   CAST(user_id % 10 AS BIGINT) AS user_bucket,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM _events_gs)
        GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        """
    )


def _events_by_hour(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
    )


def _approx_stats(spark, sf_dir):
    # approximate sketches (HLL / quantile digests) differ across engines
    # by design → rows-only check
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("p50_price"),
        F.percentile_approx("l_extendedprice", 0.99).alias("p99_price"),
    )


def _docs_dedup_exact(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import dedup_exact

    return dedup_exact(_t(spark, sf_dir, "documents"))


def _docs_minhash_lsh(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import minhash_lsh_candidates

    return minhash_lsh_candidates(_t(spark, sf_dir, "documents"))


def _docs_ngram_jaccard(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


def _docs_language_id(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import language_id

    return language_id(_t(spark, sf_dir, "documents"))


def _docs_quality(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def _docs_token_counts(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import token_counts

    return token_counts(_t(spark, sf_dir, "documents"))


def _docs_fingerprint(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents"))


def _emb_cosine_topk(spark, sf_dir):
    from openie_with_entities_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return cosine_topk(emb, queries, k=10)


# ---- fixture-backed and recorded-value entries (three are rows-only) ----


_LABELS_FIXTURE = [
    ("Ada founded Acme .", 0, [1, 2, 3, 0]),
    ("Ada chairman of Acme", 0, [1, 2, 0, 3]),
    ("b c d e f", 1, [0, 1, 2, 3, 4]),
]

_TRIPLES_FIXTURE = [
    ("c0", 0, 0, 0, 0, "Bob", "joined", "the board of Acme Corp", 0.9),
    ("c0", 0, 1, 0, 0, "Bob", "visited", "sunny Paris", 0.8),
    ("c0", 1, 0, 0, 0, "Eve", "slept", "all day", 0.7),
    ("c0", 1, 0, 0, 1, "Eve", "praised", "Turing", 0.6),
]
_TRIPLES_DDL = (
    "conv_id string, turn_idx int, sent_idx int, split_idx int, ext_idx int, "
    "arg1 string, rel string, arg2 string, confidence double"
)


def _p14_render_labels(spark, sf_dir):
    from openie_with_entities_spark.sources.formats import render_labels

    df = spark.createDataFrame(
        _LABELS_FIXTURE, "sentence string, depth int, labels array<int>"
    )
    return render_labels(df)


def _s6_oie_format(spark, sf_dir):
    from openie_with_entities_spark.sources.formats import to_oie_blocks

    t = spark.createDataFrame(_TRIPLES_FIXTURE, _TRIPLES_DDL).withColumn(
        "sentence", F.concat_ws("|", "conv_id", "turn_idx", "sent_idx")
    )
    return to_oie_blocks(t, ["conv_id", "turn_idx", "sent_idx"], "sentence")


def _a8_snap_objects(spark, sf_dir):
    from openie_with_entities_spark.corpus import alias_dict
    from openie_with_entities_spark.linking import snap_objects

    t = spark.createDataFrame(_TRIPLES_FIXTURE, _TRIPLES_DDL)
    return snap_objects(t, alias_dict(spark)).select(
        "conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx",
        "rel_snapped", "arg2_snapped",
    )


_EDGES_FIXTURE = [
    ("a", "b"), ("b", "c"), ("c", "d"),      # chain → comp a
    ("x", "y"), ("y", "x"),                  # cycle → comp x
    ("m", "n"), ("p", "n"),                  # shared sink → comp m
    ("solo1", "solo2"),
]


def _cc_components(spark, sf_dir):
    from openie_with_entities_spark.canonicalize import connected_components

    edges = spark.createDataFrame(_EDGES_FIXTURE, "src string, dst string")
    return connected_components(edges)


_NARY_FIXTURE = [
    (0, "Ada", "moved", "the office", ["to Paris", "last year"]),
    (1, "Bob", "handed", "the keys", ["To Eve"]),
    (2, "Eve", "slept", "well", []),
]
_NARY_DDL = (
    "sent_id int, arg1 string, rel string, arg2 string, "
    "extra_args array<string>"
)


def _e4_binarize(spark, sf_dir):
    from openie_with_entities_spark.operators.binarize import (
        binarize_extractions,
    )

    return binarize_extractions(spark.createDataFrame(_NARY_FIXTURE, _NARY_DDL))


def _a3_neardedup(spark, sf_dir):
    from openie_with_entities_spark.operators.dedup import neardedup_triples

    t = spark.createDataFrame(
        _TRIPLES_FIXTURE
        + [("c0", 1, 0, 0, 2, "Eve", "praised", "Turin", 0.5)],  # near-dup
        _TRIPLES_DDL,
    )
    return neardedup_triples(t)


# the near-dup filter's SequenceMatcher semantics are not SQL-expressible;
# the fixture is fixed, so the recorded survivors (verified against the
# reference's delete-first-on-tie rule in pytest) are the oracle. Note
# ext_idx 1 ("Turing") loses to ext_idx 2 ("Turin") on the tie.
_O_A3_NEARDEDUP = """
    SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
           CAST(sent_idx AS INT) AS sent_idx,
           CAST(split_idx AS INT) AS split_idx,
           CAST(ext_idx AS INT) AS ext_idx,
           arg1, rel, arg2, confidence
    FROM (VALUES
        ('c0', 0, 0, 0, 0, 'Bob', 'joined', 'the board of Acme Corp', 0.9),
        ('c0', 0, 1, 0, 0, 'Bob', 'visited', 'sunny Paris', 0.8),
        ('c0', 1, 0, 0, 0, 'Eve', 'slept', 'all day', 0.7),
        ('c0', 1, 0, 0, 2, 'Eve', 'praised', 'Turin', 0.5)
    ) AS t(conv_id, turn_idx, sent_idx, split_idx, ext_idx,
           arg1, rel, arg2, confidence)
"""


def _docs_simhash(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import simhash64

    return simhash64(_t(spark, sf_dir, "documents"))


def _emb_ann_lsh(spark, sf_dir):
    from openie_with_entities_spark.operators.similarity import lsh_bucketed_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return lsh_bucketed_topk(emb, queries, k=10)


# emb_ann_lsh is a pure function of the fixed hyperplane seed and the
# embeddings table — the recorded top-k IS the cross-run invariant (recall
# quality vs brute force is separately gated in tests/test_operators.py)
_O_EMB_ANN_LSH = """
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id,
           cos_sim, CAST(rk AS INT) AS rk
    FROM (VALUES
        (0, 0, 1.0, 1),
        (0, 365, 0.37, 2),
        (0, 334, 0.3627, 3),
        (0, 387, 0.3311, 4),
        (0, 423, 0.2969, 5),
        (0, 73, 0.2954, 6),
        (0, 7, 0.2928, 7),
        (0, 320, 0.2879, 8),
        (0, 190, 0.2818, 9),
        (0, 464, 0.2766, 10),
        (1, 1, 1.0, 1),
        (1, 386, 0.3715, 2),
        (1, 27, 0.3482, 3),
        (1, 407, 0.327, 4),
        (1, 195, 0.3227, 5),
        (1, 64, 0.3164, 6),
        (1, 124, 0.3028, 7),
        (1, 402, 0.2923, 8),
        (1, 472, 0.2921, 9),
        (1, 220, 0.2898, 10),
        (2, 2, 1.0, 1),
        (2, 117, 0.3181, 2),
        (2, 450, 0.2663, 3),
        (2, 188, 0.2633, 4),
        (2, 320, 0.255, 5),
        (2, 418, 0.254, 6),
        (2, 471, 0.2472, 7),
        (2, 112, 0.2453, 8),
        (2, 350, 0.2401, 9),
        (2, 172, 0.2398, 10),
        (3, 3, 1.0, 1),
        (3, 130, 0.3999, 2),
        (3, 149, 0.3299, 3),
        (3, 343, 0.3085, 4),
        (3, 231, 0.2988, 5),
        (3, 207, 0.2917, 6),
        (3, 192, 0.2908, 7),
        (3, 315, 0.2852, 8),
        (3, 437, 0.2805, 9),
        (3, 474, 0.2767, 10),
        (4, 4, 1.0, 1),
        (4, 114, 0.3985, 2),
        (4, 496, 0.3412, 3),
        (4, 408, 0.3228, 4),
        (4, 482, 0.3139, 5),
        (4, 280, 0.2798, 6),
        (4, 249, 0.2796, 7),
        (4, 257, 0.2724, 8),
        (4, 89, 0.266, 9),
        (4, 470, 0.2525, 10)
    ) AS t(q_id, vec_id, cos_sim, rk)
"""


def _kg_triples(spark, sf_dir):
    from openie_with_entities_spark.corpus import generate_transcripts
    from openie_with_entities_spark.plans.pipeline import extract_triples

    # documents text is verb-free word salad → union the deterministic
    # corpus so this rows-only check exercises real extractions
    docs = _t(spark, sf_dir, "documents")
    transcripts = _docs_as_transcripts(docs).unionByName(
        generate_transcripts(spark, 200)
    )
    return extract_triples(transcripts).triples


def _media_features(spark, sf_dir):
    from openie_with_entities_spark.operators.multimodal import (
        feature_fingerprints,
        synth_media,
    )

    # scalar-only projection: the driver's canonicalizer sorts every output
    # column, so the float array travels as an md5 fingerprint
    return feature_fingerprints(synth_media(spark, 64), fake=True)


# synth_media payloads are RandomState(media_id) bytes; features are their
# 16-bin byte histograms — the recorded fingerprints are the seeded truth
_O_MEDIA_FEATURES = """
    SELECT CAST(media_id AS BIGINT) AS media_id, kind,
           CAST(n_bytes AS INT) AS n_bytes, feature_fp,
           CAST(feature_dim AS INT) AS feature_dim, feature_l1
    FROM (VALUES
        (0, 'image', 256, '444d6da9c76a3d3daf970c3a9e856692', 16, 1.0001),
        (1, 'audio', 257, 'bc1918d55a0ead81cc525a51b6116d00', 16, 1.0),
        (2, 'video', 258, '82aa865a3abf279e3d1f5b2b3ec2fedd', 16, 0.9998),
        (3, 'image', 259, '70ca4bde7e7ee33139966191199293c5', 16, 1.0001),
        (4, 'audio', 260, '2a8b8ab0125b7306eb751ad1b5157909', 16, 1.0),
        (5, 'video', 261, '210aef1ac1e8145938fa4f67d1820a76', 16, 1.0001),
        (6, 'image', 262, '0e19216a646b0b2dbfb8ccb7d74dcde7', 16, 1.0),
        (7, 'audio', 263, '96306333e39987a1dc1964078b6f91ae', 16, 0.9994),
        (8, 'video', 264, 'e558bbb7fb919f8a633686d76cff3c48', 16, 1.0),
        (9, 'image', 265, '5d6ac5faa450033830c7fc62d57da267', 16, 1.0002),
        (10, 'audio', 266, '176a815c3cd81ea31b8ba0abcccc3b1d', 16, 1.0002),
        (11, 'video', 267, '5bcf0db74c439c7afb0fab9f181584d9', 16, 1.0002),
        (12, 'image', 268, 'bfc1738279cd182aa1e3f254a67db0cf', 16, 1.0),
        (13, 'audio', 269, '7e68f01b69ee653e42e718233f27c871', 16, 0.9998),
        (14, 'video', 270, '27015852b18eb854c260569dab5b3cc3', 16, 1.0003),
        (15, 'image', 271, '9190b45396f8eec1586ff071050d77c1', 16, 1.0001),
        (16, 'audio', 272, 'e852c05c0b83764044ff7a1cf1d904c2', 16, 1.0001),
        (17, 'video', 273, 'cd64bb4d6088d14d3a8456bea567eef2', 16, 1.0),
        (18, 'image', 274, 'ac87424ba94f0200155bb284c465761a', 16, 0.9997),
        (19, 'audio', 275, 'e84296af66fefef37b9791248c3b6863', 16, 1.0001),
        (20, 'video', 276, '85b78eac7abbe4455bd97749e3e380ac', 16, 0.9998),
        (21, 'image', 277, '1bcaee9ab08309cd525f9758a2dd0643', 16, 1.0001),
        (22, 'audio', 278, '74d1173922231c2015411f17f788a79d', 16, 1.0),
        (23, 'video', 279, '64853265861bfde404a45cfa39959ae3', 16, 1.0),
        (24, 'image', 280, '991c75576688a9d6119e7a216e86da71', 16, 0.9998),
        (25, 'audio', 281, '1543f776ce4bc3b72cd064e0487af9a8', 16, 1.0002),
        (26, 'video', 282, '7e1a7a7e0a0498196d7e85c1f423a82d', 16, 0.9999),
        (27, 'image', 283, '06638ca06dabbf609fc839fc503a8efa', 16, 0.9999),
        (28, 'audio', 284, '9371b97e14fc8116caa80dcbc6de8ce2', 16, 1.0002),
        (29, 'video', 285, '4a617a61f1c8249fda2eac0c55e9c423', 16, 0.9998),
        (30, 'image', 286, '70cb6381e836ebd5b23e22a47c9212b2', 16, 0.9996),
        (31, 'audio', 287, '00ff29499630c199aa6366e917c7bc24', 16, 1.0),
        (32, 'video', 288, '50dc7952d2ea98c5886f27ec23f80d23', 16, 0.9998),
        (33, 'image', 289, 'da09ebbf8a106feadf44d5d90ae812d3', 16, 0.9997),
        (34, 'audio', 290, 'da18f0bac39b827668c82e5b6a6f549e', 16, 1.0001),
        (35, 'video', 291, 'c1c2a61dc505ed339a782736491ca694', 16, 1.0001),
        (36, 'image', 292, '0028f0e019bec5b170fd79dc32cb2e74', 16, 0.9999),
        (37, 'audio', 293, '90fa4d7f9d0acd14430c99264478a24b', 16, 1.0),
        (38, 'video', 294, 'bb8f8a1265d600e3984367d22476bd46', 16, 0.9996),
        (39, 'image', 295, '54c52a9e5dd0a1584a721a7ef767c789', 16, 0.9998),
        (40, 'audio', 296, 'd6d6845cf2afc31eff0bb5ffe36bd17d', 16, 0.9999),
        (41, 'video', 297, '73ae3825a16b651975f8841a0f21a790', 16, 0.9999),
        (42, 'image', 298, '9bab7403c735c955764da20fc80a6d15', 16, 0.9999),
        (43, 'audio', 299, '409c39147f218bb11264dca0c36dc611', 16, 1.0),
        (44, 'video', 300, '87d43b679f10186828b9aff196b06cff', 16, 1.0001),
        (45, 'image', 301, 'b11f0adc4221408e2e3ce3ac0b462812', 16, 1.0),
        (46, 'audio', 302, 'c6b46663133e3f2c8662c533cb887403', 16, 0.9998),
        (47, 'video', 303, 'f2d69ab32f4f699b2b85aeaab0d9cae0', 16, 0.9999),
        (48, 'image', 304, 'abe4ba815d0e60cdc874c193326575bd', 16, 1.0001),
        (49, 'audio', 305, '1eddf5362999e0116bec838a56c3b16a', 16, 1.0001),
        (50, 'video', 306, '626b4d6ddcb604b982ef5f28bed05d52', 16, 1.0),
        (51, 'image', 307, 'fa907894c2611b89aa7d5bcd65d9244f', 16, 1.0),
        (52, 'audio', 308, '696da8232946537958a162da16b2258b', 16, 1.0),
        (53, 'video', 309, '87f2414bdf7a718468216d45ff0830c6', 16, 1.0),
        (54, 'image', 310, '30280f3b52304354a1d41519e878a3ba', 16, 0.9999),
        (55, 'audio', 311, 'dbd39abe2238dba63f2f4ea9b6e7c7b5', 16, 1.0),
        (56, 'video', 312, '661a1214025a0513ea4666f7d4ab8e91', 16, 1.0),
        (57, 'image', 313, 'bfb1afe1d219f178d2576d4ec005ca8f', 16, 1.0),
        (58, 'audio', 314, '6585aadec10d559795c630afec6e2f0f', 16, 1.0002),
        (59, 'video', 315, '15b3f73a395f23a5f3203d1abe7298b7', 16, 0.9997),
        (60, 'image', 316, '427809d12bd367e39a46279712432a74', 16, 1.0001),
        (61, 'audio', 317, '96b69c13a5229c1d54b19b99c0106745', 16, 1.0001),
        (62, 'video', 318, '4f56be1f38fde783cff4013a98648996', 16, 1.0),
        (63, 'image', 319, 'c39a0744b0871d1309b8c07749421c1d', 16, 1.0)
    ) AS t(media_id, kind, n_bytes, feature_fp, feature_dim, feature_l1)
"""


# --------------------------------------------------------------------------
# DuckDB oracle helpers, the contract registry and the driver's order
# --------------------------------------------------------------------------

_STOPLIST_SQL = (
    "['the','a','an','of','to','and','in','is','was','it','for',"
    "'on','with','as','at','by','that','this','are','be']"
)

def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _labels_values() -> str:
    return ", ".join(
        f"({_sql_str(s)}, {d}, {list(l)})" for (s, d, l) in _LABELS_FIXTURE
    )


def _triples_values() -> str:
    return ", ".join(
        f"({_sql_str(c)}, {t}, {si}, {sp}, {e}, {_sql_str(a1)}, "
        f"{_sql_str(r)}, {_sql_str(a2)}, {conf})"
        for (c, t, si, sp, e, a1, r, a2, conf) in _TRIPLES_FIXTURE
    )


def _edges_values() -> str:
    return ", ".join(f"({_sql_str(a)}, {_sql_str(b)})" for a, b in _EDGES_FIXTURE)


def _nary_values() -> str:
    def arr(xs):
        return "[" + ", ".join(_sql_str(x) for x in xs) + "]"

    return ", ".join(
        f"({sid}, {_sql_str(a1)}, {_sql_str(r)}, {_sql_str(a2)}, {arr(ex)})"
        for (sid, a1, r, a2, ex) in _NARY_FIXTURE
    )


def _alias_values() -> str:
    from openie_with_entities_spark.corpus import gazetteer_rows

    return ", ".join(
        f"({_sql_str(r['surface_form'])}, {_sql_str(r['canonical_name'])})"
        for r in gazetteer_rows()
    )


def _alias_values_full() -> str:
    from openie_with_entities_spark.corpus import gazetteer_rows

    return ", ".join(
        f"({_sql_str(r['surface_form'])}, {_sql_str(r['entity_id'])}, "
        f"{_sql_str(r['canonical_name'])}, {r['prior']})"
        for r in gazetteer_rows()
    )


_SHINGLES_CTE = """
sh AS (
    SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 15) AS shingle
    FROM documents,
         unnest(range(1, greatest(length(text) - 14, 1) + 1)) AS t(i)
)
"""


def _contracts() -> list[tuple[str, Callable, str | None]]:
    """Every driver contract, once, as ``(name, query, oracle)``: ``oracle``
    is DuckDB SQL with the query's output column names, or None for a
    rows-only check. This module's records come first, then contracts.py's,
    in the order ``queries()`` keeps behind the driver window."""
    from openie_with_entities_spark.contracts import records

    return [
        ("q1_pricing_summary", _q1_pricing_summary, """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_c4,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """),
        ("a2_keepfirst", _a2_keepfirst, """
            SELECT l_orderkey, l_partkey, l_quantity FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_partkey, l_quantity, l_suppkey) AS rn
                FROM lineitem) WHERE rn = 1
        """),
        ("a4_topk_orders", _a4_topk_orders, """
            SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS INTEGER) AS rk FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rk
                FROM orders) WHERE rk <= 3
        """),
        ("a6_token_frequency", _a6_token_frequency, """
            SELECT token, count(*) AS cnt FROM (
                SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            WHERE token <> '' GROUP BY token
        """),
        ("a7_filtered_join", _a7_filtered_join, """
            SELECT c_custkey, c_name, n_name, r_name
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_acctbal > 7000
        """),
        ("a10_union_dedup", _a10_union_dedup, """
            SELECT event_id, 'highvalue' AS tag FROM events WHERE value > 15
            UNION
            SELECT event_id, 'click' AS tag FROM events WHERE event_type = 'click'
        """),
        ("p1_quote_normalize", _p1_quote_normalize, """
            SELECT doc_id,
                   replace(replace(replace(text, '’', chr(39)),
                           '”', chr(39) || chr(39)),
                           '“', chr(39) || chr(39)) AS text_norm
            FROM documents
        """),
        ("p13_format_extraction", _p13_format_extraction, """
            SELECT l_orderkey, l_linenumber,
                   printf('%.2f: (%s; %s; %s)', l_quantity, l_returnflag,
                          l_linestatus, CAST(l_orderkey AS VARCHAR)) AS ext_str
            FROM lineitem
        """),
        ("s5_regex_extract", _s5_regex_extract, """
            SELECT event_id,
                   TRY_CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS k
            FROM events
        """),
        ("e5_join_sum_when", _e5_join_sum_when, """
            SELECT o_orderpriority,
                   CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
                   count(*) AS n_lines
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY o_orderpriority
        """),
        ("sessionize_events", _sessionize_events, """
            SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM (
                SELECT user_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                    > 1800 * 1000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            GROUP BY user_id
        """),
        ("rollup_pricing", _rollup_pricing, """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   count(*) AS n
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """),
        ("grouping_sets_events", _grouping_sets_events, """
            SELECT event_type, user_bucket, count(*) AS n,
                   CAST(sum(cents) AS BIGINT) AS value_cents
            FROM (
                SELECT event_type,
                       CAST(user_id % 10 AS BIGINT) AS user_bucket,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events)
            GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
        """),
        ("events_by_hour", _events_by_hour, """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents
            FROM events GROUP BY 1, 2
        """),
        ("approx_stats", _approx_stats, None),
        ("docs_dedup_exact", _docs_dedup_exact, """
            SELECT md5(text) AS content_hash,
                   min(doc_id) AS keeper_doc_id,
                   count(*) AS n_copies
            FROM documents GROUP BY md5(text)
        """),
        ("docs_minhash_lsh", _docs_minhash_lsh, f"""
            WITH {_SHINGLES_CTE},
            banded AS (
                SELECT doc_id, band, shingle
                FROM sh, unnest([0, 1, 2, 3]) AS bt(band)),
            sigs AS (
                SELECT doc_id, band,
                       min(md5(band || '|' || shingle)) AS sig
                FROM banded GROUP BY doc_id, band)
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sigs a JOIN sigs b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
        """),
        ("docs_ngram_jaccard", _docs_ngram_jaccard, f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_inter
                FROM sh a JOIN sh b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id)
            SELECT doc_a, doc_b,
                   round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.5
        """),
        ("docs_language_id", _docs_language_id, f"""
            SELECT doc_id,
                   round(len(list_filter(string_split(text, ' '),
                             t -> list_contains({_STOPLIST_SQL}, t)))
                         / len(string_split(text, ' ')), 4) AS stop_ratio,
                   CASE WHEN round(len(list_filter(string_split(text, ' '),
                             t -> list_contains({_STOPLIST_SQL}, t)))
                         / len(string_split(text, ' ')), 4) >= 0.08
                        THEN 'en' ELSE 'other' END AS lang_guess
            FROM documents
        """),
        ("docs_quality", _docs_quality, f"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                   CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INTEGER) AS n_punct,
                   CAST(len(list_filter(string_split(text, ' '),
                       t -> list_contains({_STOPLIST_SQL}, t))) AS INTEGER) AS n_stop,
                   round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                         / len(string_split(text, ' ')), 4) AS punct_ratio,
                   round(len(list_filter(string_split(text, ' '),
                         t -> list_contains({_STOPLIST_SQL}, t)))
                         / len(string_split(text, ' ')), 4) AS stop_ratio,
                   (len(string_split(text, ' ')) >= 10
                    AND len(string_split(text, ' ')) <= 100000
                    AND len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                        / len(string_split(text, ' ')) < 0.3) AS keep
            FROM documents
        """),
        ("docs_token_counts", _docs_token_counts, """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text,
                       '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens
            FROM documents
        """),
        ("docs_fingerprint", _docs_fingerprint, """
            SELECT doc_id,
                   md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """),
        ("emb_cosine_topk", _emb_cosine_topk, """
            WITH q AS (
                SELECT vec_id AS q_id, embedding AS q_vec
                FROM embeddings WHERE vec_id < 5),
            scored AS (
                SELECT q.q_id, e.vec_id,
                       round(list_cosine_similarity(
                           CAST(q.q_vec AS DOUBLE[]),
                           CAST(e.embedding AS DOUBLE[])), 4) AS cos_sim
                FROM embeddings e CROSS JOIN q)
            SELECT q_id, vec_id, cos_sim, CAST(rk AS INTEGER) AS rk FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
                FROM scored) WHERE rk <= 10
        """),
        ("p14_render_labels", _p14_render_labels, f"""
            SELECT sentence, depth,
                   array_to_string(list_transform(labels,
                       x -> (['NONE','ARG1','REL','ARG2','LOC','TYPE'])[x+1]),
                       ' ') AS label_str
            FROM (VALUES {_labels_values()}) AS t(sentence, depth, labels)
        """),
        ("s6_oie_format", _s6_oie_format, f"""
            WITH t(conv_id, turn_idx, sent_idx, split_idx, ext_idx,
                   arg1, rel, arg2, confidence) AS (VALUES {_triples_values()}),
            s AS (SELECT *, conv_id || '|' || CAST(turn_idx AS VARCHAR)
                         || '|' || CAST(sent_idx AS VARCHAR) AS sentence FROM t)
            SELECT conv_id, turn_idx, sent_idx, sentence,
                   sentence || chr(10) ||
                   string_agg(printf('%.2f: (%s; %s; %s)',
                                     confidence, arg1, rel, arg2),
                              chr(10) ORDER BY split_idx, ext_idx) AS block
            FROM s GROUP BY conv_id, turn_idx, sent_idx, sentence
        """),
        ("a8_snap_objects", _a8_snap_objects, f"""
            WITH alias(surface_form, entity_id, canonical_name, prior)
                AS (VALUES {_alias_values_full()}),
            best_alias AS (
                -- max-prior disambiguation with entity_id tiebreak, the
                -- engine's _best_alias_per_surface semantics
                SELECT surface_form,
                       (max(struct_pack(p := prior, e := entity_id,
                                        c := canonical_name)))['c']
                           AS canonical_name
                FROM alias GROUP BY surface_form),
            t(conv_id, turn_idx, sent_idx, split_idx, ext_idx,
              arg1, rel, arg2, confidence) AS (VALUES {_triples_values()}),
            toks AS (
                SELECT t.*, list_filter(string_split(arg2, ' '), x -> x <> '') AS tk
                FROM t),
            cand AS (
                SELECT toks.*, j,
                       trim(regexp_replace(regexp_replace(
                           lower(array_to_string(tk[len(tk) - j + 1:], ' ')),
                           '[^\\p{{L}}\\p{{N}}_\\s]', '', 'g'), ' +', ' ', 'g')) AS suffix,
                       trim(array_to_string(tk[1:len(tk) - j], ' ')) AS prefix
                FROM toks, unnest([1, 2, 3, 4]) AS u(j)
                WHERE j <= greatest(len(tk), 1)),
            m AS (
                SELECT cand.*, a.surface_form AS sf, a.canonical_name AS cn
                FROM cand JOIN best_alias a
                  ON cand.suffix = a.surface_form AND a.surface_form <> ''),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id, turn_idx, sent_idx, split_idx, ext_idx
                    ORDER BY length(sf) DESC, sf DESC, cn DESC, prefix DESC) AS rk
                FROM m)
            SELECT t.conv_id, t.turn_idx, t.sent_idx, t.split_idx, t.ext_idx,
                   CASE WHEN r.sf IS NOT NULL AND r.prefix <> ''
                        THEN t.rel || ' ' || r.prefix
                        ELSE t.rel END AS rel_snapped,
                   CASE WHEN r.sf IS NOT NULL THEN r.cn
                        ELSE t.arg2 END AS arg2_snapped
            FROM t LEFT JOIN (SELECT * FROM ranked WHERE rk = 1) r
              USING (conv_id, turn_idx, sent_idx, split_idx, ext_idx)
        """),
        ("cc_components", _cc_components, f"""
            WITH RECURSIVE e(src, dst) AS (VALUES {_edges_values()}),
            sym AS (SELECT src, dst FROM e
                    UNION SELECT dst, src FROM e),
            reach(src, dst) AS (
                SELECT src, dst FROM sym
                UNION
                SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
            nodes AS (SELECT DISTINCT src AS node FROM sym)
            SELECT n.node,
                   least(n.node, min(r.dst)) AS component
            FROM nodes n LEFT JOIN reach r ON r.src = n.node
            GROUP BY n.node
        """),
        ("e4_binarize", _e4_binarize, f"""
            WITH t(sent_id, arg1, rel, arg2, extra_args) AS (VALUES {_nary_values()}),
            preps AS (SELECT ['above','across','against','along','among',
                'around','at','before','behind','below','beneath','beside',
                'between','by','for','from','in','into','near','of','off',
                'on','to','toward','under','upon','with','within'] AS p),
            base AS (
                SELECT sent_id, arg1, rel, arg2, 0 AS ext_variant FROM t),
            ex AS (
                SELECT sent_id, arg1, rel, arg2,
                       unnest(extra_args) AS extra,
                       generate_subscripts(extra_args, 1) AS i
                FROM t),
            folded AS (
                SELECT sent_id, arg1,
                       rel || ' ' || arg2 ||
                       CASE WHEN list_contains((SELECT p FROM preps),
                                 lower(string_split(extra, ' ')[1]))
                            THEN ' ' || string_split(extra, ' ')[1]
                            ELSE '' END AS rel,
                       CASE WHEN list_contains((SELECT p FROM preps),
                                 lower(string_split(extra, ' ')[1]))
                            THEN array_to_string(string_split(extra, ' ')[2:], ' ')
                            ELSE extra END AS arg2,
                       CAST(i AS INTEGER) AS ext_variant
                FROM ex)
            SELECT * FROM base UNION ALL SELECT * FROM folded
        """),
        ("a3_neardedup", _a3_neardedup, _O_A3_NEARDEDUP),
        ("docs_simhash", _docs_simhash, None),
        ("emb_ann_lsh", _emb_ann_lsh, _O_EMB_ANN_LSH),
        ("kg_triples", _kg_triples, None),
        ("media_features", _media_features, _O_MEDIA_FEATURES),
    ] + records()


# The driver's CORRECTNESS artifact records the FIRST 50 entries of
# queries() in iteration order. Operators added or changed in the current /
# previous round are ordered first so every one of them gets a
# driver-witnessed green row; then a deterministic ROTATING slice of
# long-stable entries (so every contract periodically re-enters the
# independently-witnessed sample — round-4 advisor item), then prior-round
# and heavier operators. The full set is still checked every round by
# scripts/check_contracts.py (committed evidence).
_ROUND = 7  # bump when a new round starts; drives the sentinel rotation

_FIRST_WINDOW = [
    # round-6 new
    "e2_carb_sentences",
    "e2_stamp_optimal",
    "kg_merge_edges",
    "kg_lpa",
    # round-5 new
    "reader_clausie",
    "reader_benchmark_gold",
    "fmt_readable",
    "fmt_oie_to_allennlp",
    "fmt_senseoie",
    "e2_pr_curve",
    "reader_split_tabbed",
    "reader_ollie",
    "reader_openie4",
    "reader_openie5",
    "reader_props",
    "reader_reverb",
    "reader_stanford",
    "reader_tab",
    "reader_wire57",
    "wire57_scores",
    "kg_khop",
    "kg_degree_topk",
    "kg_pagerank",
    "kg_triangles",
    "stream_clean_drain",
    # ← 6 rotating stable sentinels are spliced in here by queries()
    # round-4 new / changed
    "e1_matcher_variants",
    "e2_carb_ss",
    "kg_graph_edges",
    "conv_dedup_exact",
    "conv_neardup",
    "conv_prepare",
    # (docs_mixture_sample, docs_heavy_hitters and docs_unigram_logprob
    #  rotated to the sentinel pool in round 6 to make room for
    #  e2_carb_sentences, e2_stamp_optimal and kg_merge_edges — all three
    #  stable + witnessed in r4 and r5; docs_tfidf_topk likewise for
    #  kg_lpa)
    "s10_salted_resume",
    "docs_ngram_jaccard",
    "s10_checkpoint_resume",
    # heavier / higher-risk operators kept under the driver's eye
    "docs_minhash_lsh",
    "docs_simhash",
    "docs_dedup_exact",
    "kg_triples",
    "cc_components",
    "emb_ann_lsh",
    "emb_cosine_topk",
    "media_features",
    # (a3_neardedup, a8_snap_objects, q1_pricing_summary, m4_oie_stage,
    #  m3_conj_split moved to the rotating-sentinel pool in round 5 to make
    #  room for the new reader/converter entries — stable since rounds 1-2;
    #  conv_pack/conv_quality likewise rotated out for kg_pagerank/
    #  kg_triangles, keeping the window at exactly 50)
    # recorded-value checksums (recorded at sf0.01, cheap, high signal)
    "kg_triples_checksum",
    "docs_simhash_checksum",
    # (e2_carb_pr, e5_conj_eval also rotated to the sentinel pool in r5)
]

# PERMANENTLY pinned inside the driver-witnessed window: the checksum twins
# are the cheapest high-signal sentinels the driver sees (they carry the
# hash evidence for the rows-only kg_triples/docs_simhash entries), and the
# checkpoint-resume contracts are the north rule's resumability witness.
# queries() asserts these stay within the first _WINDOW_SIZE entries — a
# future round that adds new entries must rotate something ELSE out.
_PINNED = [
    "kg_triples_checksum",
    "docs_simhash_checksum",
    "s10_checkpoint_resume",
    "s10_salted_resume",
]
_WINDOW_SIZE = 50

_N_NEW = 25  # sentinels splice in after the round-6 + round-5 blocks
_N_SENTINELS = 6


def _rotating_sentinels(registered: list[str]) -> list[str]:
    """Deterministic per-round slice of the stable pool (everything
    registered but not already ordered first), so each stable contract
    re-enters the driver-witnessed 50-entry sample every
    ceil(len(pool)/6) rounds."""
    pool = sorted(n for n in registered if n not in _FIRST_WINDOW)
    if not pool:
        return []
    start = (_ROUND * _N_SENTINELS) % len(pool)
    return [pool[(start + i) % len(pool)] for i in range(min(_N_SENTINELS, len(pool)))]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    base = {name: query for name, query, _ in _contracts()}
    missing = [n for n in _FIRST_WINDOW if n not in base]
    if missing:  # fail loudly: a typo here silently shrinks the window
        raise KeyError(f"_FIRST_WINDOW names not registered: {missing}")
    window = (
        _FIRST_WINDOW[:_N_NEW]
        + _rotating_sentinels(list(base))
        + _FIRST_WINDOW[_N_NEW:]
    )
    assert len(window) == _WINDOW_SIZE, (
        f"driver window is {len(window)}, not {_WINDOW_SIZE}: rotate a "
        "stable entry to the sentinel pool when adding new ones"
    )
    assert all(p in window for p in _PINNED), (
        "a permanently-pinned sentinel fell out of the driver window"
    )
    ordered = {name: base.pop(name) for name in window}
    ordered.update(base)
    return ordered


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in _contracts() if sql is not None}
