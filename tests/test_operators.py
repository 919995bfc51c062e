"""Operator-level tests: merge, predicate frequency, label projection,
labels-file scan, docops sanity."""

import pandas as pd
from pyspark.sql import functions as F

from openie_with_entities_spark.operators.dedup import (
    merge_extraction_sets,
    predicate_frequency,
)
from openie_with_entities_spark.sources.formats import (
    project_labels_to_original,
    read_labels_file,
)

TRIPLE_COLS = [
    "conv_id", "turn_idx", "sent_idx", "split_idx", "ext_idx",
    "arg1", "rel", "arg2", "confidence",
]


def _triples(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame([dict(zip(TRIPLE_COLS, r)) for r in rows])
    )


def test_merge_extraction_sets(spark):
    a = _triples(spark, [("c", 0, 0, 0, 0, "x", "r", "y", 0.9)])
    b = _triples(
        spark,
        [
            ("c", 0, 0, 0, 0, "x", "r", "y", 0.8),  # dup of a (first wins)
            ("c", 0, 0, 0, 1, "p", "q", "s", 0.7),  # new
        ],
    )
    out = merge_extraction_sets(a, b, k=5).collect()
    assert len(out) == 2
    kept = {(r.arg1, r.rel, r.arg2): r.confidence for r in out}
    assert kept[("x", "r", "y")] == 0.9  # insertion-order keep-first
    assert kept[("p", "q", "s")] == 0.7


def test_predicate_frequency(spark):
    t = _triples(
        spark,
        [
            ("c", 0, 0, 0, 0, "a", "Founded!", "b", 0.9),
            ("c", 0, 1, 0, 0, "a", "founded", "b", 0.9),
            ("c", 0, 2, 0, 0, "a", "sued", "b", 0.9),
        ],
    )
    rows = predicate_frequency(t).collect()
    assert (rows[0].predicate, rows[0].cnt) == ("founded", 2)
    assert (rows[1].predicate, rows[1].cnt) == ("sued", 1)


def test_project_labels_to_original():
    # split sentence tokens map to original indices [0, 3, 4]
    assert project_labels_to_original([1, 2, 3], [0, 3, 4], 6) == [
        1, 0, 0, 2, 3, 0,
    ]
    # out-of-range indices ignored, short labels padded
    assert project_labels_to_original([1], [0, 9], 3) == [1, 0, 0]


def test_read_labels_file(spark, tmp_path):
    p = str(tmp_path / "train.labels")
    with open(p, "w") as f:
        f.write("Ada founded Acme\nARG1 REL ARG2\nNONE REL ARG2\n\n")
        f.write("b c\nARG1 REL\n\n")
    df = read_labels_file(spark, p)
    rows = {(r.sentence, r.depth): r.labels for r in df.collect()}
    assert rows[("Ada founded Acme", 0)] == ["ARG1", "REL", "ARG2"]
    assert rows[("Ada founded Acme", 1)] == ["NONE", "REL", "ARG2"]
    assert rows[("b c", 0)] == ["ARG1", "REL"]


def test_simhash_similar_docs_share_prefix(spark):
    from openie_with_entities_spark.operators.docops import simhash64

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated text here"),
        ],
        "doc_id long, text string",
    )
    sh = {r.doc_id: r.simhash_prefix for r in simhash64(docs).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sh[1], sh[2]) <= hamming(sh[1], sh[3])


def test_ann_recall_vs_bruteforce(spark):
    """Multi-band ANN must hit recall@10 ≥ 0.9 against exact cosine top-k
    on the driver's embeddings — the testdata vectors are near-random
    (cos@10 ≈ 0.25), LSH's adversarial case, so this exercises the
    OR-combination breadth."""
    from openie_with_entities_spark.operators.similarity import (
        cosine_topk,
        lsh_bucketed_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {
        (r.q_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()
    }
    approx = {
        (r.q_id, r.vec_id) for r in lsh_bucketed_topk(emb, q, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"recall@10 = {recall}"
    for qid in range(5):  # self-match always survives (same buckets)
        assert (qid, qid) in approx


def _clustered_vectors(n_clusters=20, per_cluster=40, dim=64):
    import numpy as np

    rows = []
    for c in range(n_clusters):
        rng = np.random.RandomState(c)
        center = rng.randn(dim)
        center /= np.linalg.norm(center)
        for i in range(per_cluster):
            v = center + 0.03 * rng.randn(dim)
            rows.append((c * per_cluster + i, [float(x) for x in v], c))
    return rows


def test_ann_clustered_corpus_prunes_candidates(spark):
    """On realistic (clustered) geometry the candidate union is a small
    corpus fraction at full recall — the property that makes the bucket
    join beat a full scan at 10⁹ vectors."""
    from openie_with_entities_spark.operators.similarity import (
        ann_candidates,
        cosine_topk,
        lsh_bucketed_topk,
    )

    rows = _clustered_vectors()
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = emb.where("vec_id % 40 = 0 and vec_id < 200").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    n_q, n_corpus = 5, len(rows)
    # tight clusters → narrow probes suffice: more planes, fewer bands
    kw = dict(n_bands=8, n_planes=8)
    n_cand = ann_candidates(emb, q, **kw).count()
    frac = n_cand / (n_q * n_corpus)
    assert frac < 0.15, f"candidate fraction {frac} — no better than a scan"
    exact = {(r.q_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()}
    approx = {
        (r.q_id, r.vec_id)
        for r in lsh_bucketed_topk(emb, q, k=10, **kw).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"clustered recall@10 = {recall}"


def test_neural_backend_gates_cleanly():
    import pytest

    from openie_with_entities_spark.extract import neural

    if neural.HAS_TORCH:
        pytest.skip("torch present; gate not applicable")
    with pytest.raises(NotImplementedError):
        neural.load_backend(neural.NeuralConfig("missing.ckpt"))


def test_neardedup_triples(spark):
    from openie_with_entities_spark.operators.dedup import neardedup_triples

    t = _triples(
        spark,
        [
            ("c", 0, 0, 0, 0, "Ada Lovelace", "founded", "Acme Corporation", 0.9),
            ("c", 0, 0, 0, 1, "Ada Lovelace", "founded", "Acme Corporatio", 0.8),  # near-dup
            ("c", 0, 0, 0, 2, "Grace Hopper", "joined", "the navy", 0.7),   # distinct
            ("c", 0, 1, 0, 0, "x", "y", "z", 0.6),                          # other sentence
        ],
    )
    out = neardedup_triples(t).collect()
    assert len(out) == 3
    texts = {r.arg2 for r in out if r.sent_idx == 0}
    # equal distinct-word counts → the reference deletes the FIRST of the
    # pair (metric.py:287-290: delete j only when len_i > len_j)
    assert texts == {"Acme Corporatio", "the navy"}


def test_neardedup_exempts_conjunct_words(spark):
    import pandas as pd

    from openie_with_entities_spark.operators.dedup import neardedup_triples

    rows = [
        dict(zip(TRIPLE_COLS, ("c", 0, 0, 0, 0, "Alan Turing", "visited", "Paris", 0.9))),
        dict(zip(TRIPLE_COLS, ("c", 0, 0, 1, 0, "Alan Turin", "visited", "Paris", 0.8))),
    ]
    for r in rows:
        r["conj_words"] = ["Alan Turing", "Alan Turin"]
    t = spark.createDataFrame(pd.DataFrame(rows))
    # similar pair, but both contain conjunct words → exempt, both kept
    assert neardedup_triples(t).count() == 2


def test_hot_shingle_bounded_candidates(spark):
    """A boilerplate 15-gram shared by EVERY document must not explode the
    Jaccard candidate join into all-pairs: under df-ascending prefix order
    the hot shingle sorts last and falls outside every prefix, so candidate
    count stays 0 for otherwise-disjoint docs (an inverted-index self-join
    would have produced N·(N-1)/2 pairs)."""
    import random

    from openie_with_entities_spark.operators.docops import (
        jaccard_prefix_candidates,
        ngram_jaccard_pairs,
    )

    rng = random.Random(7)
    boiler = "SHARED-BOILER15"  # exactly 15 chars → exactly one hot shingle
    assert len(boiler) == 15
    rows = [
        (i, boiler + "".join(rng.choice("abcdefghij") for _ in range(60)))
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    n_cand = jaccard_prefix_candidates(docs, threshold=0.5).count()
    assert n_cand < 80, f"hot shingle blew up the candidate join: {n_cand}"
    # end-to-end result matches brute force (which finds no pairs >= 0.5)
    assert ngram_jaccard_pairs(docs, threshold=0.5).count() == 0

    # near-duplicate pair planted among the hot-shingle docs is still found
    rows.append((1000, rows[0][1] + "x"))
    docs2 = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs2, threshold=0.5).collect()
    }
    assert (0, 1000) in pairs


def test_embedding_neardup_lsh_equals_exact(spark):
    """The LSH candidate path finds the same ≥0.95 pairs as brute force on
    a corpus with planted near-duplicates."""
    from openie_with_entities_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    planted = emb.where("vec_id < 4").select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    aug = emb.unionByName(planted)
    lsh = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_pairs(aug, threshold=0.95).collect()
    }
    exact = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_pairs(
            aug, threshold=0.95, exact=True
        ).collect()
    }
    assert lsh == exact
    assert {(i, i + 10000) for i in range(4)} <= exact


def test_resize_and_frame_sample_plumbing(spark):
    from openie_with_entities_spark.operators.multimodal import (
        resize_images,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, 24)
    thumbs = resize_images(media, width=4, height=4).collect()
    assert thumbs and all(len(r.payload) == 16 for r in thumbs)
    kinds = {r.media_id % 3 for r in thumbs}
    assert kinds == {0}, "only image rows (media_id % 3 == 0) are resized"

    frames = sample_frames(media, every_ms=400, max_frames=5)
    rows = frames.collect()
    assert rows and all(r.t_ms == r.frame_idx * 400 for r in rows)
    per = {}
    for r in rows:
        per.setdefault(r.media_id, []).append(r)
    for mid, rs in per.items():
        assert mid % 3 == 2, "only video rows sampled"
        assert len(rs) <= 5
        assert [r.frame_idx for r in sorted(rs, key=lambda x: x.frame_idx)] == list(range(len(rs)))
    # deterministic across runs/partitionings
    again = {(r.media_id, r.frame_idx, bytes(r.frame_payload)) for r in sample_frames(media.repartition(7), every_ms=400, max_frames=5).collect()}
    assert {(r.media_id, r.frame_idx, bytes(r.frame_payload)) for r in rows} == again


def test_streaming_windowed_counts(spark, tmp_path):
    import os

    from openie_with_entities_spark.corpus import generate_transcripts
    from openie_with_entities_spark.streaming.ingest import (
        stream_transcripts,
        windowed_turn_counts,
    )

    inp = str(tmp_path / "in")
    generate_transcripts(spark, 20).write.mode("overwrite").parquet(inp)
    agg = windowed_turn_counts(stream_transcripts(spark, inp), window="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_counts")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM win_counts").collect()
    # batch ground truth: same windows computed without streaming
    want = {
        (r.window_start, r.window_end, r.role): r.n_turns
        for r in windowed_turn_counts(
            spark.read.parquet(inp), window="10 minutes"
        ).collect()
    }
    # append mode emits only watermark-closed windows → subset of batch truth
    assert got, "availableNow drain should close and emit windows"
    for r in got:
        assert want[(r.window_start, r.window_end, r.role)] == r.n_turns


def test_winnowing_local_similarity(spark):
    """Winnowing's guarantee: documents sharing a substring of length
    ≥ window+k−1 (= 23 at defaults) share at least one selected hash;
    unrelated docs (typically) share none."""
    from openie_with_entities_spark.operators.docops import shingle_array

    from pyspark.sql import functions as F

    shared = "THE-COMMON-BOILERPLATE-SEGMENT-XYZ"  # 34 chars ≥ 23
    docs = spark.createDataFrame(
        [
            (1, "aaaa bbbb cccc " + shared + " dddd eeee"),
            (2, shared + " zzzz completely different tail here"),
            (3, "nothing in common with the others at all q"),
        ],
        "doc_id long, text string",
    )
    k, w = 8, 16
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))),
        lambda i: F.md5(F.col("text").substr(i, F.lit(k))),
    )
    n_win = F.greatest(F.size(grams) - (w - 1), F.lit(1))
    selected = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda x: F.array_min(F.slice(grams, x, F.lit(w))),
        )
    )
    sel = {r.doc_id: set(r.s) for r in docs.select("doc_id", selected.alias("s")).collect()}
    assert sel[1] & sel[2], "shared 34-char substring must share a fingerprint hash"
    assert not (sel[1] & sel[3])


def test_ivf_topk_clustered_recall_and_pruning(spark):
    """IVF on clustered geometry: probing 2 of 16 cells must reach
    recall@10 ≥ 0.9 — the per-query touched fraction is n_probe/n_centroids
    by construction."""
    from openie_with_entities_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    emb = spark.createDataFrame(
        _clustered_vectors(), "vec_id long, embedding array<float>, label int"
    )
    q = emb.where("vec_id % 40 = 0 and vec_id < 200").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.vec_id) for r in cosine_topk(emb, q, k=10).collect()}
    approx = {
        (r.q_id, r.vec_id)
        for r in ivf_topk(emb, q, k=10, n_centroids=16, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall@10 = {recall}"


def test_ivf_centroids_deterministic(spark):
    from openie_with_entities_spark.operators.similarity import (
        train_ivf_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    a = train_ivf_centroids(emb, n_centroids=8)
    b = train_ivf_centroids(emb.repartition(5), n_centroids=8)
    import numpy as np

    assert np.allclose(a, b), "centroids must not depend on partitioning"


def test_train_split_is_stable_and_ratioed(spark):
    """Split assignment is a pure function of (salt, doc_id): identical
    under re-partitioning, ~90/5/5 over a large id range, and changing the
    salt reassigns documents (the re-split knob)."""
    from openie_with_entities_spark.operators.docops import train_split

    docs = spark.range(20000).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    )
    a = {r.doc_id: r.split for r in train_split(docs).collect()}
    b = {
        r.doc_id: r.split
        for r in train_split(docs.repartition(7)).collect()
    }
    assert a == b
    n = len(a)
    frac_train = sum(v == "train" for v in a.values()) / n
    frac_val = sum(v == "val" for v in a.values()) / n
    assert abs(frac_train - 0.9) < 0.02 and abs(frac_val - 0.05) < 0.01
    c = {r.doc_id: r.split for r in train_split(docs, salt="v2").collect()}
    assert c != a


def test_pack_sequences_invariants(spark):
    """Packing is per-source, order-deterministic, and every bin except a
    source's last holds ≥ max_tokens-worth of cumulative text starting at
    its boundary (concat-then-chop semantics: bin boundaries land every
    max_tokens cumulative tokens)."""
    import random

    from openie_with_entities_spark.operators.docops import pack_sequences

    rng = random.Random(3)
    rows = [
        (i, f"s{i % 3}", "w " * rng.randint(5, 400))
        for i in range(300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = pack_sequences(docs, max_tokens=512).collect()
    assert len(out) == 300
    by_src = {}
    for r in sorted(out, key=lambda r: (r.source, r.doc_id)):
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        cum = 0
        for r in rs:
            assert r.bin_id == cum // 512, (src, r)
            cum += r.n_tokens
        # bins are contiguous 0..max
        bins = [r.bin_id for r in rs]
        assert bins == sorted(bins)


def test_pii_scrub_planted(spark):
    from openie_with_entities_spark.operators.docops import pii_scrub

    docs = spark.createDataFrame(
        [
            (0, "mail me at a.b+c@example.org or call +1 (415) 555-0199 ."),
            (1, "no pii here"),
            (2, "two mails x@y.io z@w.co and 020 7946 0958"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert out[0].n_emails == 1 and out[0].n_phones == 1
    assert "<EMAIL>" in out[0].text_scrubbed
    assert "<PHONE>" in out[0].text_scrubbed
    assert "415" not in out[0].text_scrubbed
    assert out[1].n_emails == 0 and out[1].n_phones == 0
    assert out[1].text_scrubbed == "no pii here"
    assert out[2].n_emails == 2 and out[2].n_phones == 1


def test_repetition_stats_planted(spark):
    from openie_with_entities_spark.operators.docops import repetition_stats

    docs = spark.createDataFrame(
        [
            (0, "a b\na b\nc d"),          # 1 dup line of 3
            (1, "x y x y x y x y"),        # heavy bigram repetition
            (2, "all unique tokens here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert out[0].dup_line_frac == round(1 / 3, 4)
    # 'x y' occupies 4 of 7 bigrams
    assert out[1].top_bigram_frac == round(4 / 7, 4)
    assert out[1].dup_token_frac == round(6 / 8, 4)
    assert out[2].dup_token_frac == 0.0 and out[2].top_bigram_frac == round(1 / 3, 4)


def test_contamination_check_planted(spark):
    from openie_with_entities_spark.operators.docops import (
        contamination_check,
    )

    bench = ["the quick brown fox jumps over the lazy dog"]
    docs = spark.createDataFrame(
        [
            (0, "prefix the quick brown fox jumps suffix"),  # shares 15-grams
            (1, "completely different content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in contamination_check(docs, bench).collect()}
    assert out[0].contaminated and out[0].n_hits > 0
    assert not out[1].contaminated and out[1].n_hits == 0


def test_neardup_clusters_transitive_chain(spark):
    """A~B and B~C must dedup all three together even when J(A,C) is below
    threshold — the transitivity pairs alone cannot express."""
    from openie_with_entities_spark.operators.docops import (
        neardup_clusters,
        ngram_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again ok"
    a = base
    b = base[:-12] + " extra tail here"       # close to a
    c = b[: len(b) // 2] + " totally different second half of text"  # close to b only
    docs = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, "unrelated content entirely")],
        "doc_id long, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    out = {r.doc_id: r for r in neardup_clusters(docs, threshold=0.3).collect()}
    if (1, 2) in pairs and (2, 3) in pairs and (1, 3) not in pairs:
        # the designed case: chain collapses to one cluster
        assert out[1].keeper_doc_id == out[2].keeper_doc_id == out[3].keeper_doc_id == 1
    # invariants hold regardless of exact pair structure
    assert out[9].is_kept and out[9].keeper_doc_id == 9
    for r in out.values():
        assert r.is_kept == (r.doc_id == r.keeper_doc_id)


def test_pii_email_strict_dot_in_counts(spark):
    """The count expressions run through Spark SQL string literals, whose
    parser eats single backslashes: an unescaped '\\.' would broaden to
    'any char' and count 'user@mail-com' as an email that the strict
    scrubber never redacts (count/scrub divergence)."""
    from openie_with_entities_spark.operators.docops import pii_scrub

    docs = spark.createDataFrame(
        [(0, "write to john@mail-com please"), (1, "real a@b.co here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(docs).collect()}
    assert out[0].n_emails == 0
    assert out[0].text_scrubbed == "write to john@mail-com please"
    assert out[1].n_emails == 1 and "<EMAIL>" in out[1].text_scrubbed


def test_jaccard_exact_boundary_pair_not_lost(spark):
    """A pair at EXACTLY the threshold must survive: with |A|=10, |B|=9,
    B ⊂ A, J = 9/10 = 0.9 — float artifacts in the prefix length
    (int(0.0999..*10)+1 = 1) and the size filter (9 >= 0.9*10 =
    9.000000000000002) each used to drop it silently."""
    from openie_with_entities_spark.operators.docops import (
        ngram_jaccard_pairs,
    )

    a = "abcdefghijklmnopqrstuvwx"  # 24 chars → 10 distinct 15-gram shingles
    b = a[:-1]                       # 23 chars → 9, all shared
    docs = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.9).collect()
    }
    assert got == {(1, 2): 0.9}, got


def test_multimodal_null_payload_and_duration(spark):
    """Nullable payload/duration rows (legal per MEDIA_SCHEMA) must not
    crash the batched stages: null payloads featurize/thumbnail as empty,
    unknown durations sample only the t=0 frame."""
    from openie_with_entities_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
        resize_images,
        sample_frames,
    )

    rows = [
        (0, "image", None, None, None, None),
        (1, "video", b"\x01\x02\x03\x04", None, None, None),
        (2, "image", b"", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r for r in extract_features(media, fake=True).collect()}
    assert feats[0].n_bytes == 0 and sum(feats[0].feature) == 0.0
    thumbs = {r.media_id: r for r in resize_images(media, fake=True).collect()}
    assert thumbs[0].payload == b"" and thumbs[2].payload == b""
    frames = sample_frames(media, fake=True).collect()
    assert [(f.media_id, f.frame_idx, f.t_ms) for f in frames] == [(1, 0, 0)]


def test_dedup_triples_boundary_shifted_key(spark):
    """dedup keys on the concatenated 'arg1 arg2 rel' string exactly like
    the reference's contains_extraction — boundary-shifted variants
    ('He likes'/'tea' vs 'He'/'likes tea') are ONE extraction."""
    from openie_with_entities_spark.operators.dedup import dedup_triples

    t = spark.createDataFrame(
        [
            ("c0", 0, 0, 0, 0, "He likes", "is", "tea", 0.9),
            ("c0", 0, 0, 0, 1, "He", "is", "likes tea", 0.8),
            ("c0", 0, 0, 0, 2, "He", "is", "coffee", 0.7),
        ],
        "conv_id string, turn_idx int, sent_idx int, split_idx int, "
        "ext_idx int, arg1 string, rel string, arg2 string, confidence double",
    )
    rows = dedup_triples(t).collect()
    assert len(rows) == 2
    kept = {r.ext_idx for r in rows}
    assert kept == {0, 2}  # first-inserted variant survives


def test_prepare_corpus_gates(spark):
    """Each gate drops exactly its target: short docs (quality), stopword-
    free docs (language), exact duplicates (keeper), and PII is scrubbed
    from survivors."""
    from openie_with_entities_spark.operators.docops import prepare_corpus

    good = ("the cat sat on the mat and it was a good day for all of us "
            "to be here mail me at a@b.co now")
    rows = [
        (0, good),
        (1, good),                        # exact dup of 0 → dropped
        (2, "short text"),                # quality: < 10 tokens
        (3, "uno dos tres cuatro cinco seis siete ocho nueve diez once"),
        (4, "the dog ran in the park and it was also a fine day for the "
            "whole gang to run around"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in prepare_corpus(docs).collect()}
    assert set(out) == {0, 4}
    assert out[0].n_copies == 2
    assert "<EMAIL>" in out[0].text_clean and "a@b.co" not in out[0].text_clean
    assert out[4].n_copies == 1


def test_knn_join_lsh_recall_on_clusters(spark):
    """The LSH kNN-graph path must recover ≥0.9 of the exact graph's edges
    on clustered geometry (neighbors share buckets), and the exact path is
    its own ground truth."""
    from openie_with_entities_spark.operators.similarity import knn_join

    rows = [(i, v) for (i, v, _c) in _clustered_vectors(n_clusters=10, per_cluster=20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r.src_id, r.dst_id) for r in knn_join(emb, k=5, exact=True).collect()
    }
    approx = {
        (r.src_id, r.dst_id) for r in knn_join(emb, k=5).collect()
    }
    assert len(exact) == 200 * 5
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"knn recall@5 = {recall}"


class TestHeavyHitters:
    def test_exact_threshold_and_mg_superset(self, spark):
        """A heavy token spread across MANY partitions must survive the
        per-partition Misra-Gries pass (the superset guarantee) and the
        exact recount must apply the > phi*N cutoff exactly."""
        from openie_with_entities_spark.operators.docops import heavy_hitters

        # 64 docs over 8 partitions; 'hot' appears 3x/doc = 192 of 640
        # tokens; each cold token is unique
        rows = [(i, "hot hot hot c%da c%db c%dc c%dd c%de c%df c%dg" %
                 ((i,) * 7), "s") for i in range(64)]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).repartition(8)
        got = {r.token: r.cnt for r in heavy_hitters(docs, phi=0.05).collect()}
        assert got == {"hot": 192}  # 192 > 0.05*640=32; every c* is 1

    def test_boundary_is_strict_gt(self, spark):
        from openie_with_entities_spark.operators.docops import heavy_hitters

        # 'x' = 5 of 50 tokens; phi=0.1 → cutoff 5, strict > excludes it
        rows = [(i, "x " + " ".join(f"u{i}_{j}" for j in range(9)), "s")
                for i in range(5)]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        assert heavy_hitters(docs, phi=0.1).count() == 0
        got = {r.token for r in heavy_hitters(docs, phi=0.09).collect()}
        assert got == {"x"}


class TestUnigramLogprob:
    def test_common_tokens_score_higher(self, spark):
        from openie_with_entities_spark.operators.docops import (
            unigram_logprob_score,
        )

        common = "the quick brown fox " * 5
        rare = "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 "
        docs = spark.createDataFrame(
            [(0, common.strip(), "s"), (1, common.strip(), "s"),
             (2, rare.strip(), "s")],
            "doc_id long, text string, source string",
        )
        by_id = {r.doc_id: r for r in unigram_logprob_score(docs).collect()}
        assert by_id[0].mean_logprob > by_id[2].mean_logprob
        assert by_id[0].mean_logprob == by_id[1].mean_logprob
        assert by_id[2].n_scored_tokens == 10

    def test_oov_floor_under_small_vocab(self, spark):
        from openie_with_entities_spark.operators.docops import (
            unigram_logprob_score,
        )
        import math

        docs = spark.createDataFrame(
            [(0, "a a a a b", "s")], "doc_id long, text string, source string"
        )
        # vocab_size=1 keeps only 'a' (4/5); 'b' takes the 1/N floor.
        # expectation mirrors the µ-log integerization (order-exact sum)
        row = unigram_logprob_score(docs, vocab_size=1).collect()[0]
        micro = 4 * round(math.log10(4 / 5) * 1e6) + round(math.log10(1 / 5) * 1e6)
        assert row.mean_logprob == round(micro / (5 * 1e6), 4)


class TestMixtureSample:
    def _docs(self, spark):
        rows = []
        did = 0
        for src, n_docs, toks in (("a", 30, 10), ("b", 10, 10), ("c", 5, 10)):
            for _ in range(n_docs):
                rows.append((did, " ".join(f"t{did}_{j}" for j in range(toks)), src))
                did += 1
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )

    def test_rates_hit_target_mixture(self, spark):
        from openie_with_entities_spark.operators.docops import mixture_sample

        docs = self._docs(spark)
        # equal weights: c (50 tokens) is the binding source → rate 1.0;
        # a (300) → 1/6, b (100) → 1/2
        out = mixture_sample(docs, {"a": 1.0, "b": 1.0, "c": 1.0})
        rates = {r.source: r.rate for r in
                 out.select("source", "rate").distinct().collect()}
        assert rates == {"a": round(1 / 6, 8), "b": 0.5, "c": 1.0}
        # rate-1.0 source keeps EVERY doc (the >=1 short-circuit)
        kept_c = out.where("source = 'c' and keep").count()
        assert kept_c == 5

    def test_deterministic_and_salt_sensitive(self, spark):
        from openie_with_entities_spark.operators.docops import mixture_sample

        docs = self._docs(spark)
        w = {"a": 1.0, "b": 2.0}
        one = {(r.doc_id, r.keep) for r in mixture_sample(docs, w).collect()}
        two = {(r.doc_id, r.keep) for r in mixture_sample(docs, w).collect()}
        assert one == two
        other = {(r.doc_id, r.keep)
                 for r in mixture_sample(docs, w, salt="v2").collect()}
        assert one != other  # different salt → different sample
        # unweighted source c is dropped entirely
        assert not any(
            r.source == "c" for r in mixture_sample(docs, w).collect()
        )


def test_mixture_rejects_nonpositive_weights(spark):
    from openie_with_entities_spark.operators.docops import mixture_sample
    import pytest

    docs = spark.createDataFrame(
        [(0, "a b", "s")], "doc_id long, text string, source string"
    )
    with pytest.raises(ValueError, match="must be > 0"):
        mixture_sample(docs, {"s": -1.0})
    with pytest.raises(ValueError, match="must be > 0"):
        mixture_sample(docs, {"s": 0.0})
