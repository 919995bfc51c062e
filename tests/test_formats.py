"""Interchange format readers/writers + conjunction evaluator + streaming."""

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from openie_with_entities_spark.evaluate_conj import (
    coordinations_df,
    evaluate_conjunctions,
)
from openie_with_entities_spark.sources.formats import (
    read_allennlp,
    read_conj_blocks,
    read_gold_tsv,
    render_labels,
    to_allennlp_lines,
    to_oie_blocks,
)


@pytest.fixture()
def tmpdir(tmp_path):
    return str(tmp_path)


def test_gold_tsv_roundtrip(spark, tmpdir):
    path = os.path.join(tmpdir, "gold.tsv")
    with open(path, "w") as f:
        f.write("the cat sat .\tsat\tthe cat\t\n")
        f.write("a b c\tb\ta\tc\tC: ctx\textra\n")
        # C:-arg in the arg1 slot → later args must SHIFT UP (GoldReader
        # filters args before assigning, goldReader.py:14-38)
        f.write("d e f\te\tC: lead\td\tf\n")
    df = read_gold_tsv(spark, path)
    rows = {r.sentence: r for r in df.collect()}
    assert rows["the cat sat ."].rel == "sat"
    assert rows["a b c"].extra_args == ["extra"]  # C:-arg dropped
    assert rows["the cat sat ."].confidence == 1.0
    assert (rows["d e f"].arg1, rows["d e f"].arg2) == ("d", "f")


def test_allennlp_roundtrip(spark, tmpdir):
    import pandas as pd

    triples = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "sentence": "Ada founded Acme .",
                    "arg1": "Ada",
                    "rel": "founded",
                    "arg2": "Acme",
                    "confidence": 0.97,
                }
            ]
        )
    )
    path = os.path.join(tmpdir, "out.allennlp")
    to_allennlp_lines(triples).write.mode("overwrite").text(path)
    back = read_allennlp(spark, path).collect()[0]
    assert (back.arg1, back.rel, back.arg2) == ("Ada", "founded", "Acme")
    assert abs(back.confidence - 0.97) < 1e-9


def test_oie_blocks(spark):
    import pandas as pd

    triples = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "conv_id": "c", "turn_idx": 0, "sent_idx": 0,
                    "split_idx": 0, "ext_idx": 0, "sentence": "s one",
                    "arg1": "a", "rel": "r", "arg2": "b", "confidence": 0.9,
                },
                {
                    "conv_id": "c", "turn_idx": 0, "sent_idx": 0,
                    "split_idx": 0, "ext_idx": 1, "sentence": "s one",
                    "arg1": "x", "rel": "y", "arg2": "z", "confidence": 0.8,
                },
            ]
        )
    )
    blocks = to_oie_blocks(
        triples, ["conv_id", "turn_idx", "sent_idx"], "sentence"
    ).collect()
    assert blocks[0].block == "s one\n0.90: (a; r; b)\n0.80: (x; y; z)"


def test_conj_blocks_reader(spark, tmpdir):
    path = os.path.join(tmpdir, "conj.txt")
    with open(path, "w") as f:
        f.write("A and B ran .\nA ran .\nB ran .\n\nplain sentence .\n\n")
    df = read_conj_blocks(spark, path)
    rows = sorted(
        (r.orig_sentence, r.split_idx, r.split_sentence) for r in df.collect()
    )
    assert ("A and B ran .", 0, "A ran .") in rows
    assert ("A and B ran .", 1, "B ran .") in rows
    assert ("plain sentence .", 0, "plain sentence .") in rows


def test_render_labels(spark):
    df = spark.createDataFrame(
        [("s", 0, [1, 1, 2, 3, 0])], "sentence string, depth int, labels array<int>"
    )
    assert (
        render_labels(df).collect()[0].label_str == "ARG1 ARG1 REL ARG2 NONE"
    )


def test_conjunction_evaluation(spark):
    pred = spark.createDataFrame(
        [
            ("s1", 2, [{"s": 0, "e": 1}, {"s": 3, "e": 4}]),
            ("s2", 1, [{"s": 0, "e": 0}, {"s": 2, "e": 3}]),
        ],
        "sent_key string, cc int, spans array<struct<s:int,e:int>>",
    )
    gold = spark.createDataFrame(
        [
            ("s1", 2, [{"s": 0, "e": 1}, {"s": 3, "e": 4}]),  # exact match
            ("s2", 1, [{"s": 0, "e": 0}, {"s": 2, "e": 4}]),  # whole mismatch
            ("s3", 5, [{"s": 4, "e": 4}, {"s": 6, "e": 6}]),  # missing in pred
        ],
        "sent_key string, cc int, spans array<struct<s:int,e:int>>",
    )
    sc = evaluate_conjunctions(pred, gold)
    assert sc.n_pred == 2 and sc.n_gold == 3
    assert sc.exact == (0.5, round(1 / 3, 4), 0.4)


def test_coordinations_df(spark):
    src = spark.createDataFrame(
        [("k1", "Ada and Bob ran ."), ("k2", "no coordination here .")],
        "sent_key string, text string",
    )
    rows = coordinations_df(src).collect()
    assert len(rows) == 1 and rows[0].sent_key == "k1"


def test_streaming_ingest(spark, tmpdir):
    from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
    from openie_with_entities_spark.linking import dictionary_surfaces
    from openie_with_entities_spark.plans.pipeline import build_kg_fused
    from openie_with_entities_spark.streaming.ingest import (
        run_stream_to_table,
        stream_transcripts,
        streaming_triples,
    )

    inp = os.path.join(tmpdir, "in")
    out = os.path.join(tmpdir, "out")
    ck = os.path.join(tmpdir, "ck")
    generate_transcripts(spark, 10).write.mode("overwrite").parquet(inp)

    stream = stream_transcripts(spark, inp, max_files_per_trigger=2)
    triples = streaming_triples(stream, dictionary_surfaces(alias_dict(spark)))
    run_stream_to_table(triples, out, ck, once=True)

    got = spark.read.parquet(os.path.join(out, "data"))
    got_count = got.count()
    assert got_count > 0
    # the stream emits the batch triples table: same columns, same rows
    batch = build_kg_fused(spark.read.parquet(inp), alias_dict(spark))
    streamed = got.drop("epoch")
    assert streamed.columns == batch.columns
    assert Counter(map(tuple, streamed.collect())) == Counter(
        map(tuple, batch.collect())
    )
    lineage = spark.read.parquet(os.path.join(out, "lineage"))
    assert lineage.agg(F.sum("rows_out")).collect()[0][0] == got.count()

    # resume with no new data: no duplicate rows appended
    run_stream_to_table(
        streaming_triples(
            stream_transcripts(spark, inp, max_files_per_trigger=2),
            dictionary_surfaces(alias_dict(spark)),
        ),
        out,
        ck,
        once=True,
    )
    assert spark.read.parquet(os.path.join(out, "data")).count() == got.count()

    # retry semantics: wiping the checkpoint replays the same epoch_ids over
    # the same files — idempotent per-epoch overwrite must NOT duplicate rows
    # (the at-least-once failure mode of a plain append)
    import shutil

    shutil.rmtree(ck)
    run_stream_to_table(
        streaming_triples(
            stream_transcripts(spark, inp, max_files_per_trigger=2),
            dictionary_surfaces(alias_dict(spark)),
        ),
        out,
        ck,
        once=True,
    )
    # the overwrite invalidated the session's cached file listing for the path
    spark.catalog.refreshByPath(os.path.join(out, "data"))
    assert spark.read.parquet(os.path.join(out, "data")).count() == got_count


def test_snap_objects(spark):
    import pandas as pd

    from openie_with_entities_spark.corpus import alias_dict
    from openie_with_entities_spark.linking import snap_objects

    triples = spark.createDataFrame(
        pd.DataFrame(
            [
                {
                    "conv_id": "c", "turn_idx": 0, "sent_idx": 0,
                    "split_idx": 0, "ext_idx": 0,
                    "arg1": "Bob", "rel": "joined",
                    "arg2": "the board of Acme Corp", "confidence": 0.9,
                },
                {
                    "conv_id": "c", "turn_idx": 0, "sent_idx": 1,
                    "split_idx": 0, "ext_idx": 0,
                    "arg1": "Bob", "rel": "slept",
                    "arg2": "all day", "confidence": 0.9,
                },
            ]
        )
    )
    out = {r.sent_idx: r for r in snap_objects(triples, alias_dict(spark)).collect()}
    assert out[0].arg2_snapped == "Acme Corp"
    assert out[0].rel_snapped == "joined the board of"
    assert out[1].arg2_snapped == "all day"
    assert out[1].rel_snapped == "slept"


def test_stateful_conversation_progress(spark, tmpdir):
    from openie_with_entities_spark.corpus import generate_transcripts
    from openie_with_entities_spark.streaming.ingest import stream_transcripts
    from openie_with_entities_spark.streaming.stateful import (
        conversation_progress,
    )

    inp = os.path.join(tmpdir, "sin")
    generate_transcripts(spark, 8).write.mode("overwrite").parquet(inp)
    stream = stream_transcripts(spark, inp, max_files_per_trigger=4)
    q = (
        conversation_progress(stream)
        .writeStream.format("memory")
        .queryName("conv_progress")
        .option("checkpointLocation", os.path.join(tmpdir, "sck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(180)
    if not finished:
        status = q.status
        q.stop()
        raise AssertionError(f"stateful query did not finish: {status}")
    rows = spark.sql(
        "SELECT conv_id, max(turns_seen) AS turns FROM conv_progress GROUP BY conv_id"
    ).collect()
    got = {r.conv_id: r.turns for r in rows}
    expected = {
        r.conv_id: r.n
        for r in spark.read.parquet(inp)
        .groupBy("conv_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == expected


# --------------------------------------------------------------------- S8


def _get_labels_sequential(sents):
    """Plain-Python twin of get_labels (/root/reference/run.py:246-291):
    sequential conj-split → per-split OIE predictions → scatter onto the
    original sentence via sentences_indices → render with the run.py:247
    dict (4→ARG2, 5→NONE). Returns {sentence_key: block_text}."""
    from openie_with_entities_spark.extract.labeler import (
        conj_label_matrix,
        oie_label_matrix,
    )
    from openie_with_entities_spark.functions.decode import (
        SENTINELS,
        decode_coordinations,
        split_by_coordinations,
    )

    label_dict = {0: "NONE", 1: "ARG1", 2: "REL", 3: "ARG2", 4: "ARG2", 5: "NONE"}
    blocks = {}
    for key, text in sents:
        tokens = text.split() + SENTINELS
        n_clean = len(text.split())
        coords = decode_coordinations(conj_label_matrix(tokens))
        texts, _, idx_lists = split_by_coordinations(coords, tokens)
        if texts:
            splits = [t.split("[unused1]")[0].strip() for t in texts]
            indices = [[i for i in sorted(s) if i < n_clean] for s in idx_lists]
        else:
            splits, indices = [text], [list(range(n_clean))]
        lines = [text]
        for split_text, idx in zip(splits, indices):
            rows, _ = oie_label_matrix(split_text.split() + SENTINELS)
            for prediction in rows:
                if sum(prediction) == 0:
                    break
                if 1 not in prediction and 2 not in prediction:
                    continue
                labels = [0] * n_clean
                for i, orig in enumerate(sorted(idx)):
                    labels[orig] = prediction[i]
                lines.append(" ".join(label_dict[x] for x in labels))
        blocks[key] = "\n".join(lines)
    return blocks


def test_labels_sink_equals_sequential_get_labels(spark):
    """Engine S8 path (conj_split_stage(with_indices) → oie_labels_stage →
    to_labels_blocks) reproduces the sequential run.py get_labels walk on
    coordination-heavy, unbreakable, nor- and verb-free sentences."""
    from openie_with_entities_spark.contracts import _M3_SENTS, _m3_sentences
    from openie_with_entities_spark.extract.stages import (
        conj_split_stage,
        oie_labels_stage,
    )
    from openie_with_entities_spark.sources.formats import to_labels_blocks

    sents = _m3_sentences(spark)
    splits = conj_split_stage(sents, with_indices=True)
    got = {
        (r.conv_id, r.turn_idx, r.sent_idx): r.block
        for r in to_labels_blocks(oie_labels_stage(splits), sents).collect()
    }
    want = _get_labels_sequential(
        [((c, t, s), txt) for (c, t, s, txt) in _M3_SENTS]
    )
    assert got == want


def test_read_conj_labels_decodes_gold(spark):
    """Gold conj .labels blocks decode through get_coords semantics into
    coordination rows (spans/seps), and the end-to-end file-driven
    benchmark reproduces the hand-derived scores."""
    from openie_with_entities_spark.contracts import FIXTURE_DIR
    from openie_with_entities_spark.sources.formats import read_conj_labels

    gold = read_conj_labels(
        spark, os.path.join(FIXTURE_DIR, "conj_gold.labels")
    )
    rows = {r.sent_key: r for r in gold.collect()}
    assert len(rows) == 4
    merged = rows["Ada , Bob and Carl visited Paris ."]
    assert merged.cc == 3
    assert [(s.s, s.e) for s in merged.spans] == [(0, 2), (4, 4)]
    nor = rows["Eve nor Bob slept ."]
    assert (nor.cc, [(s.s, s.e) for s in nor.spans]) == (1, [(0, 0), (2, 2)])


def test_zero_row_epoch_retry_clears_partial_write(spark, tmpdir):
    """A retried micro-batch that produces ZERO rows must not leave a
    previous partial write for that epoch behind: dynamic partition
    overwrite only touches emitted partitions, so the writer deletes the
    epoch directory explicitly."""
    from openie_with_entities_spark.streaming.ingest import write_epoch

    out = os.path.join(tmpdir, "table")
    ddl = "conv_id string, n int"
    full = spark.createDataFrame([("a", 1), ("b", 2)], ddl)
    assert write_epoch(spark, full, 0, out) == 2
    data = os.path.join(out, "data")
    assert spark.read.parquet(data).count() == 2
    # retry of epoch 0 yields nothing (e.g. upstream dedup dropped it all)
    assert write_epoch(spark, spark.createDataFrame([], ddl), 0, out) == 0
    spark.catalog.refreshByPath(data)
    assert not os.path.exists(os.path.join(data, "epoch=0"))
    lineage = {
        r.epoch: r.rows_out
        for r in spark.read.parquet(os.path.join(out, "lineage")).collect()
    }
    assert lineage == {0: 0}


def test_streaming_clean_documents(spark, tmpdir):
    """Streaming prepare-corpus twin: per-row gates + PII scrub apply on a
    live feed; exact duplicates within the watermark dedup to the first
    copy; the sink drains with availableNow."""
    import datetime as dt

    from openie_with_entities_spark.streaming.ingest import (
        DOCUMENT_DDL,
        run_stream_to_table,
        stream_documents,
        streaming_clean_documents,
    )

    src = os.path.join(tmpdir, "src")
    good = ("the cat sat on the mat and it was a good day for all of us "
            "to be here mail me at a@b.co now")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, good, "s0", t0),
        (1, good, "s0", t0),                 # in-watermark exact dup
        (2, "short text", "s0", t0),         # quality-gated
        (3, "uno dos tres cuatro cinco seis siete ocho nueve diez once",
         "s1", t0),                          # language-gated
    ]
    spark.createDataFrame(rows, DOCUMENT_DDL).write.parquet(src)
    out = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    cleaned = streaming_clean_documents(stream_documents(spark, src))
    run_stream_to_table(cleaned, out, ckpt, once=True)
    got = spark.read.parquet(os.path.join(out, "data")).collect()
    assert len(got) == 1
    row = got[0]
    assert row.doc_id in (0, 1)  # first-arriving copy wins
    assert "<EMAIL>" in row.text_clean and "a@b.co" not in row.text_clean


def test_reconcile_stream_dedup_cross_epoch(spark, tmpdir):
    """Duplicates the stream's watermark horizon cannot see (different
    epochs) are reconciled by the batch job: first (epoch, doc_id) per
    content hash wins globally; the job is incremental (new epochs only)
    and idempotent on re-run."""
    from openie_with_entities_spark.streaming.ingest import (
        reconcile_stream_dedup,
        write_epoch,
    )

    out = os.path.join(tmpdir, "out")
    ddl = "doc_id long, content_hash string, text_clean string"
    e0 = spark.createDataFrame(
        [(0, "hA", "alpha"), (1, "hB", "beta")], ddl
    )
    # epoch 1 re-delivers hA (beyond-watermark duplicate) + a fresh doc
    e1 = spark.createDataFrame(
        [(2, "hA", "alpha"), (3, "hC", "gamma")], ddl
    )
    write_epoch(spark, e0, 0, out)
    write_epoch(spark, e1, 1, out)

    r = reconcile_stream_dedup(spark, out)
    assert (r.epochs_reconciled, r.rows_in, r.dups_dropped) == (2, 4, 1)
    survivors = {(x.doc_id, x.content_hash) for x in r.survivors.collect()}
    assert survivors == {(0, "hA"), (1, "hB"), (3, "hC")}

    # idempotent: nothing new → no epochs reconciled, survivors unchanged
    r2 = reconcile_stream_dedup(spark, out)
    assert (r2.epochs_reconciled, r2.dups_dropped) == (0, 0)
    assert r2.survivors.count() == 3

    # a LATER epoch re-delivering an already-kept hash drops it against the
    # persisted keeper table, not just within-batch
    e2 = spark.createDataFrame([(4, "hB", "beta"), (5, "hD", "delta")], ddl)
    write_epoch(spark, e2, 2, out)
    r3 = reconcile_stream_dedup(spark, out)
    assert (r3.epochs_reconciled, r3.rows_in, r3.dups_dropped) == (1, 2, 1)
    assert {x.doc_id for x in r3.survivors.collect()} == {0, 1, 3, 5}


def test_reconcile_refuses_null_or_missing_key(spark, tmpdir):
    """A null (or absent) content_hash is a producer contract violation,
    not a duplicate: epochs written before the producer emitted the key
    would otherwise all collapse into one null-key 'duplicate' group and
    silently drop every doc but one."""
    from openie_with_entities_spark.streaming.ingest import (
        reconcile_stream_dedup,
        write_epoch,
    )

    ddl = "doc_id long, content_hash string, text_clean string"

    out = os.path.join(tmpdir, "null_key")
    write_epoch(
        spark,
        spark.createDataFrame(
            [(0, None, "alpha"), (1, None, "beta"), (2, "hC", "gamma")], ddl
        ),
        0,
        out,
    )
    with pytest.raises(ValueError, match="null in epoch"):
        reconcile_stream_dedup(spark, out)

    out2 = os.path.join(tmpdir, "absent_key")
    write_epoch(
        spark,
        spark.createDataFrame(
            [(0, "alpha"), (1, "beta")], "doc_id long, text_clean string"
        ),
        0,
        out2,
    )
    with pytest.raises(ValueError, match="absent"):
        reconcile_stream_dedup(spark, out2)


def test_streaming_then_reconcile_end_to_end(spark, tmpdir):
    """Full path: stream run 1 → more files arrive → stream run 2 (same
    checkpoint, duplicate content with event time far beyond the
    watermark) → the duplicate survives the STREAM but not the batch
    reconcile."""
    import datetime as dt

    from openie_with_entities_spark.streaming.ingest import (
        DOCUMENT_DDL,
        reconcile_stream_dedup,
        run_stream_to_table,
        stream_documents,
        streaming_clean_documents,
    )

    src = os.path.join(tmpdir, "src")
    out = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt")
    good = ("the cat sat on the mat and it was a good day for all of us "
            "to be here again")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    spark.createDataFrame([(0, good, "s0", t0)], DOCUMENT_DDL).write.parquet(src)

    def drain():
        cleaned = streaming_clean_documents(
            stream_documents(spark, src), watermark="10 minutes"
        )
        run_stream_to_table(cleaned, out, ckpt, once=True)

    drain()
    # the watermark only advances BETWEEN batches, so evicting doc0's hash
    # state needs an intervening batch with later event times first…
    t1 = t0 + dt.timedelta(hours=6)
    other = good.replace("cat", "dog")
    spark.createDataFrame([(5, other, "s0", t1)], DOCUMENT_DDL).write.mode(
        "append"
    ).parquet(src)
    drain()
    # …then the re-delivery of doc0's exact text slips past the stream
    t2 = t1 + dt.timedelta(hours=1)
    spark.createDataFrame([(9, good, "s0", t2)], DOCUMENT_DDL).write.mode(
        "append"
    ).parquet(src)
    drain()
    streamed = spark.read.parquet(os.path.join(out, "data"))
    assert streamed.count() == 3  # the documented streaming gap

    r = reconcile_stream_dedup(spark, out)
    assert r.dups_dropped == 1
    assert {x.doc_id for x in r.survivors.collect()} == {0, 5}


def test_reconcile_partial_keeper_crash_window(spark, tmpdir):
    """A crash between the keepers append and the lineage write must NOT
    lose rows: the re-run ignores keeper rows from lineage-incomplete
    epochs, recomputes the epoch from scratch, and the duplicate keeper
    rows it appends are harmless."""
    from openie_with_entities_spark.streaming.ingest import (
        reconcile_stream_dedup,
        write_epoch,
    )

    out = os.path.join(tmpdir, "out")
    ddl = "doc_id long, content_hash string, text_clean string"
    write_epoch(spark, spark.createDataFrame([(0, "hA", "alpha")], ddl), 0, out)
    r0 = reconcile_stream_dedup(spark, out)
    assert r0.epochs_reconciled == 1

    # epoch 1 arrives; simulate the crashed reconcile: a PARTIAL keeper
    # append for epoch 1 (hB only) with NO lineage row
    write_epoch(
        spark,
        spark.createDataFrame([(1, "hB", "beta"), (2, "hC", "gamma")], ddl),
        1,
        out,
    )
    # epoch must be INT to match the real keeper files (it originates from
    # the inferred epoch=N partition column)
    spark.createDataFrame(
        [("hB", 1, 1)], "content_hash string, epoch int, id long"
    ).write.mode("append").parquet(os.path.join(out, "reconcile", "keepers"))

    r1 = reconcile_stream_dedup(spark, out)
    assert (r1.epochs_reconciled, r1.dups_dropped) == (1, 0)
    # hB must SURVIVE despite its orphaned keeper row
    assert {x.content_hash for x in r1.survivors.collect()} == {"hA", "hB", "hC"}
    # and a later epoch re-delivering hB is still dropped (epoch 1 now
    # lineage-complete, so its keepers — including the duplicate — count)
    write_epoch(spark, spark.createDataFrame([(9, "hB", "beta")], ddl), 2, out)
    r2 = reconcile_stream_dedup(spark, out)
    assert r2.dups_dropped == 1
    assert r2.survivors.count() == 3


# --------------------------------------------------------------------------
# readable.py / oie_to_allennlp.py converters
# --------------------------------------------------------------------------

_RFX = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "fixtures", "readable",
)


def test_readable_blocks_sort_threshold_and_exp(spark):
    from openie_with_entities_spark.sources.formats import to_readable_blocks

    preds = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", -0.1),
            ("s1", "Ada", "visited", "Paris", -0.5),
            ("s1", "Bob", "left", "town", -1.0),
        ],
        "sentence string, arg1 string, rel string, arg2 string, "
        "confidence double",
    )
    got = {r.sentence: r.block for r in
           to_readable_blocks(preds, threshold=-0.7).collect()}
    # exp() applied, 2-dp round, shortest float repr, confidence-desc order,
    # below-threshold row dropped (readable.py:100-130)
    assert got == {
        "s1": "s1\n0.9 ( Ada ; founded ; Acme )\n"
              "0.61 ( Ada ; visited ; Paris )"
    }


def test_readable_to_allennlp_conj_mapping_and_field_parse(spark):
    from openie_with_entities_spark.sources.formats import (
        read_conj_blocks,
        readable_to_allennlp,
    )

    conj = read_conj_blocks(spark, os.path.join(_RFX, "conj.txt")).where(
        "split_sentence <> orig_sentence"
    )
    got = sorted(
        (r.sentence, r.tagged, r.confidence_str)
        for r in readable_to_allennlp(
            spark, os.path.join(_RFX, "preds.txt"), conj=conj
        ).collect()
    )
    orig = "Ada founded Acme and moved to Paris ."
    assert got == sorted([
        # original-with-splits block dropped; split sentences remapped
        (orig, "<arg1> Ada </arg1> <rel> founded </rel> <arg2> Acme </arg2>",
         "0.91"),
        # 'L:' strip leaves the reference's double space
        (orig,
         "<arg1> Ada </arg1> <rel> moved </rel> <arg2> to Paris  Paris </arg2>",
         "0.88"),
        ("the cat sat on the mat",
         "<arg1> the cat </arg1> <rel> sat </rel> <arg2> on the mat </arg2>",
         "0.77"),
        # Context rewrite: ' '.join(split(':')[1:]) — later ':' become ' '
        ("the cat sat on the mat",
         "<arg1> the cat </arg1> <rel> sat </rel> "
         "<arg2> on the mat T  at noon </arg2>",
         "0.5"),
    ])


def test_readable_to_allennlp_shared_split_keeps_one_original(spark):
    """A split sentence listed under two originals keeps exactly one
    deterministic original (max — see the docstring's divergence (2):
    the reference's dict overwrite keeps the last in file order) instead
    of duplicating extraction rows through the mapping join."""
    from openie_with_entities_spark.sources.formats import readable_to_allennlp

    conj = spark.createDataFrame(
        [
            ("orig A", 0, "the cat sat on the mat"),
            ("orig B", 0, "the cat sat on the mat"),
        ],
        "orig_sentence string, split_idx int, split_sentence string",
    )
    rows = readable_to_allennlp(
        spark, os.path.join(_RFX, "preds.txt"), conj=conj
    ).collect()
    cat_rows = [r for r in rows if r.sentence in ("orig A", "orig B")]
    assert len(cat_rows) == 2  # the two cat extractions, not four
    assert {r.sentence for r in cat_rows} == {"orig B"}


def test_readable_to_allennlp_without_conj_keeps_all_blocks(spark):
    from openie_with_entities_spark.sources.formats import readable_to_allennlp

    df = readable_to_allennlp(spark, os.path.join(_RFX, "preds.txt"))
    assert df.count() == 5  # every extraction line, no blocks dropped
    # the rendered line column is the on-disk allennlp row
    row = df.where("confidence_str = '0.91'").collect()[0]
    assert row.line == f"{row.sentence}\t{row.tagged}\t0.91"


def test_senseoie_label_pick_and_test_matching(spark):
    """E1/R/E2 words space-join into the tagged extraction; sentences match
    the test corpus on a whitespace-stripped lowercase key and take the
    corpus's canonical pre-[unused1] form (senseoie.py:5-40); unmatched
    rows drop."""
    from openie_with_entities_spark.sources.formats import senseoie_to_allennlp

    pairs = spark.createDataFrame(
        [
            (["The", "cat", "sat", "on", "the", "mat"],
             ["E1", "E1", "R", "E2", "E2", "E2"]),
            (["unmatched", "row", "here"], ["E1", "R", "E2"]),
        ],
        "tokens array<string>, labels array<string>",
    )
    tests = spark.createDataFrame(
        [("the CAT sat on the mat [unused1] [unused2] [unused3]",)],
        "sentence string",
    )
    got = senseoie_to_allennlp(pairs, tests).collect()
    assert len(got) == 1
    r = got[0]
    assert r.sentence == "the CAT sat on the mat"
    assert r.tagged == (
        "<arg1> The cat </arg1> <rel> sat </rel> <arg2> on the mat </arg2>"
    )
    assert r.line == f"{r.sentence}\t{r.tagged}\t1"
