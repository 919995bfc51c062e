"""Driver-contract entries for the SURVEY §2 operators that round 1 covered
only in pytest. ``records()`` lists them as ``(name, query, oracle)``
records; ``__spark_entry__`` appends them to its own registry, from which
``queries()`` and ``oracle_sql()`` both derive.

Every entry returns SCALAR-ONLY columns (the driver's canonicalizer sorts
all output columns in pandas; array cells are unhashable) and pairs with a
DuckDB oracle:

  * native twins — the Spark query and the SQL independently express the
    operator's semantics (strongest cross-engine check);
  * VALUES oracles — for decode state machines / greedy matchers whose
    semantics are not reasonably SQL-expressible, the oracle holds expected
    outputs hand-derived from the reference's semantics (the driver then
    proves the engine reproduces them bit-for-bit every round, under any
    partitioning).

File-scan operators (S2/S3/S4) read checked-in ``fixtures/`` files.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

FIXTURE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)

# --------------------------------------------------------------------------
# S2/S3/S4 — file scans over checked-in fixtures
# --------------------------------------------------------------------------


def q_s2_labels_scan(spark, sf_dir):
    from openie_with_entities_spark.sources.formats import read_labels_file

    df = read_labels_file(spark, os.path.join(FIXTURE_DIR, "train.labels"))
    return df.select(
        "sentence", "depth", F.array_join("labels", " ").alias("label_str")
    )


O_S2 = """
    SELECT * FROM (VALUES
        ('Ada founded Acme', 0, 'ARG1 REL ARG2'),
        ('Ada founded Acme', 1, 'NONE REL ARG2'),
        ('Eve visited sunny Paris', 0, 'ARG1 REL ARG2 ARG2')
    ) AS t(sentence, depth, label_str)
"""


def q_s3_conj_scan(spark, sf_dir):
    from openie_with_entities_spark.sources.formats import read_conj_blocks

    return read_conj_blocks(spark, os.path.join(FIXTURE_DIR, "conj.txt"))


O_S3 = """
    SELECT * FROM (VALUES
        ('Ada and Bob founded Acme', 0, 'Ada founded Acme'),
        ('Ada and Bob founded Acme', 1, 'Bob founded Acme'),
        ('Eve slept', 0, 'Eve slept')
    ) AS t(orig_sentence, split_idx, split_sentence)
"""


def q_s4_gold_scan(spark, sf_dir):
    from openie_with_entities_spark.sources.formats import read_gold_tsv

    df = read_gold_tsv(spark, os.path.join(FIXTURE_DIR, "gold.tsv"))
    return df.select(
        "sentence", "rel", "arg1", "arg2",
        F.size("extra_args").alias("n_extra"), "confidence",
    )


O_S4 = """
    SELECT * FROM (VALUES
        ('the cat sat on the mat', 'sat', 'the cat', 'on the mat', 0, 1.0),
        ('he asked Graner for the time', 'asked', 'he', 'Graner', 1, 1.0),
        ('all context here', 'has', '', '', 0, 1.0)
    ) AS t(sentence, rel, arg1, arg2, n_extra, confidence)
"""


# --------------------------------------------------------------------------
# S7 — .allennlp sink (tagged line format)
# --------------------------------------------------------------------------


def q_s7_allennlp_lines(spark, sf_dir):
    from __spark_entry__ import _TRIPLES_DDL, _TRIPLES_FIXTURE

    from openie_with_entities_spark.sources.formats import to_allennlp_lines

    t = spark.createDataFrame(_TRIPLES_FIXTURE, _TRIPLES_DDL).withColumn(
        "sentence", F.concat_ws("|", "conv_id", "turn_idx", "sent_idx")
    )
    return to_allennlp_lines(t)


def o_s7() -> str:
    from __spark_entry__ import _triples_values

    return f"""
        WITH t(conv_id, turn_idx, sent_idx, split_idx, ext_idx,
               arg1, rel, arg2, confidence) AS (VALUES {_triples_values()})
        SELECT printf('%s\t<arg1> %s </arg1> <rel> %s </rel> <arg2> %s </arg2>\t%s',
                      conv_id || '|' || CAST(turn_idx AS VARCHAR)
                              || '|' || CAST(sent_idx AS VARCHAR),
                      arg1, rel, arg2, CAST(confidence AS VARCHAR)) AS value
        FROM t
    """


# --------------------------------------------------------------------------
# P2/P3 — sentinel append, tokenize + eligibility guard
# --------------------------------------------------------------------------


def q_p2_sentinel_append(spark, sf_dir):
    from openie_with_entities_spark.functions.decode import SENTINEL_SUFFIX

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", F.concat("text", F.lit(SENTINEL_SUFFIX)).alias("text_s")
    )


O_P2 = """
    SELECT doc_id, text || ' [unused1] [unused2] [unused3]' AS text_s
    FROM documents
"""


def q_p3_tokenize_guard(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    return docs.select(
        "doc_id", n.alias("n_tokens"), (n <= 97).alias("eligible")
    )


O_P3 = """
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS INT) AS n_tokens,
           len(list_filter(string_split(text, ' '), x -> x <> '')) <= 97 AS eligible
    FROM documents
"""


# --------------------------------------------------------------------------
# P4 — wordpiece encode + word_starts alignment (neural ingest math)
# --------------------------------------------------------------------------

_P4_SENTS = [
    (0, "Ada founded Acme ."),
    (1, "a extraordinarily long multiword sentence indeed"),
    (2, "x"),
]


def q_p4_wordpiece_align(spark, sf_dir):
    """Drives extract.neural.encode_sentence with the contract tokenizer
    (one wordpiece per 4 chars) so the bos/eos + word_starts arithmetic is
    cross-checked against the SQL twin."""
    from openie_with_entities_spark.extract.neural import (
        NeuralConfig,
        encode_sentence,
    )

    cfg = NeuralConfig("unused.ckpt")

    def tokenize_word(w: str) -> list[int]:
        return [0] * ((len(w) + 3) // 4)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for sid, text in zip(pdf["sent_id"], pdf["sentence"]):
                e = encode_sentence(text, tokenize_word, cfg)
                rows.append(
                    {
                        "sent_id": int(sid),
                        "n_words": len(e.words),
                        "n_pieces": len(e.input_ids),
                        "word_starts_str": ",".join(
                            str(s) for s in e.word_starts
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    src = spark.createDataFrame(_P4_SENTS, "sent_id int, sentence string")
    return src.mapInPandas(
        run, "sent_id int, n_words long, n_pieces long, word_starts_str string"
    )


def o_p4() -> str:
    from __spark_entry__ import _sql_str

    values = ", ".join(f"({i}, {_sql_str(s)})" for i, s in _P4_SENTS)
    return f"""
        WITH s(sent_id, sentence) AS (VALUES {values}),
        w AS (
            SELECT sent_id, unnest(string_split(sentence, ' ')) AS word,
                   generate_subscripts(string_split(sentence, ' '), 1) AS i
            FROM s),
        p AS (SELECT *, CAST(ceil(length(word) / 4.0) AS BIGINT) AS np FROM w),
        c AS (
            SELECT *, 1 + coalesce(sum(np) OVER (
                PARTITION BY sent_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ws
            FROM p)
        SELECT sent_id, count(*) AS n_words,
               CAST(2 + sum(np) AS BIGINT) AS n_pieces,
               string_agg(CAST(ws AS VARCHAR), ',' ORDER BY i) AS word_starts_str
        FROM c GROUP BY sent_id
    """


# --------------------------------------------------------------------------
# P6 — head-verb mask (verb lexicon + -ed heuristic)
# --------------------------------------------------------------------------

_P6_SENTS = [
    (0, "Ada founded Acme ."),
    (1, "Bob reorganized and praised Initech"),
    (2, "Fred said nothing was Ed"),
]


def q_p6_verb_mask(spark, sf_dir):
    from openie_with_entities_spark.extract.labeler import VERB_LEXICON

    src = spark.createDataFrame(_P6_SENTS, "sent_id int, sentence string")
    lex = F.array(*[F.lit(w) for w in sorted(VERB_LEXICON)])
    toks = src.select(
        "sent_id", F.posexplode(F.split("sentence", " ")).alias("pos", "token")
    )
    is_verb = F.array_contains(lex, F.col("token")) | (
        F.col("token").endswith("ed")
        & (F.length("token") > 4)
        # unicode-aware "first char is lowercase" — the labeler uses
        # Python islower(), and an ASCII [a-z] class would diverge on
        # accented initials
        & (
            F.substring("token", 1, 1)
            != F.upper(F.substring("token", 1, 1))
        )
    )
    return toks.select(
        "sent_id", "pos", "token", is_verb.cast("int").alias("is_verb")
    )


def o_p6() -> str:
    from openie_with_entities_spark.extract.labeler import VERB_LEXICON

    from __spark_entry__ import _sql_str

    values = ", ".join(f"({i}, {_sql_str(s)})" for i, s in _P6_SENTS)
    lex = "[" + ", ".join(f"'{w}'" for w in sorted(VERB_LEXICON)) + "]"
    return f"""
        WITH s(sent_id, sentence) AS (VALUES {values}),
        t AS (
            SELECT sent_id,
                   generate_subscripts(string_split(sentence, ' '), 1) - 1 AS pos,
                   unnest(string_split(sentence, ' ')) AS token
            FROM s)
        SELECT sent_id, CAST(pos AS INT) AS pos, token,
               CAST(list_contains({lex}, token)
                    OR (token LIKE '%ed' AND length(token) > 4
                        AND substring(token, 1, 1)
                            <> upper(substring(token, 1, 1)))
                    AS INT) AS is_verb
        FROM t
    """


# --------------------------------------------------------------------------
# P8/P9/P10 — mention detection (capitalized runs, word-indexed spans)
# --------------------------------------------------------------------------


def q_p8_detect_mentions(spark, sf_dir):
    from __spark_entry__ import _TRIPLES_DDL, _TRIPLES_FIXTURE

    from openie_with_entities_spark.extract.mentions import detect_mentions

    t = spark.createDataFrame(_TRIPLES_FIXTURE, _TRIPLES_DDL)
    return detect_mentions(t)


def o_p8() -> str:
    from __spark_entry__ import _triples_values

    # gaps-and-islands over capitalized tokens = the maximal-run detector
    return f"""
        WITH t(conv_id, turn_idx, sent_idx, split_idx, ext_idx,
               arg1, rel, arg2, confidence) AS (VALUES {_triples_values()}),
        args AS (
            SELECT conv_id, turn_idx, sent_idx, split_idx, ext_idx,
                   1 AS arg_pos, arg1 AS txt FROM t
            UNION ALL
            SELECT conv_id, turn_idx, sent_idx, split_idx, ext_idx,
                   2 AS arg_pos, arg2 AS txt FROM t),
        toks AS (
            SELECT *, unnest(string_split(txt, ' ')) AS token,
                   generate_subscripts(string_split(txt, ' '), 1) - 1 AS pos
            FROM args),
        caps AS (
            SELECT *, substring(token, 1, 1)
                          <> lower(substring(token, 1, 1))
                      AND NOT list_contains(
                          ['.', ',', '!', '?', ';', ':', '''''', '''',
                           '``', '(', ')'], token) AS cap
            FROM toks),
        isl AS (
            SELECT *, pos - row_number() OVER (
                PARTITION BY conv_id, turn_idx, sent_idx, split_idx, ext_idx,
                             arg_pos, cap ORDER BY pos) AS grp
            FROM caps WHERE cap)
        SELECT conv_id, turn_idx, sent_idx, split_idx, ext_idx, arg_pos,
               string_agg(token, ' ' ORDER BY pos) AS mention,
               trim(regexp_replace(lower(string_agg(token, ' ' ORDER BY pos)),
                    '[^\\p{{L}}\\p{{N}}_\\s]', '', 'g')) AS surface_norm,
               CAST(min(pos) AS INT) AS begin_word,
               CAST(max(pos) AS INT) AS end_word
        FROM isl
        GROUP BY conv_id, turn_idx, sent_idx, split_idx, ext_idx, arg_pos, grp
    """


_P10_FIXTURE = [
    (0, "Ada founded Acme Corp", 0),
    (1, "Ada founded Acme Corp", 4),
    (2, "Ada founded Acme Corp", 12),
    (3, "Ada founded Acme Corp", 17),
    (4, "a bb ccc", 2),
]


def q_p10_char_to_word(spark, sf_dir):
    src = spark.createDataFrame(
        _P10_FIXTURE, "case_id int, sentence string, char_off int"
    )
    toks = src.select(
        "case_id", "char_off",
        F.posexplode(F.split("sentence", " ")).alias("pos", "token"),
    )
    w = (
        Window.partitionBy("case_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    starts = toks.withColumn(
        "start", F.coalesce(F.sum(F.length("token") + 1).over(w), F.lit(0))
    )
    return (
        starts.where(F.col("start") <= F.col("char_off"))
        .groupBy("case_id")
        .agg(F.max("pos").alias("word_idx"))
    )


def o_p10() -> str:
    from __spark_entry__ import _sql_str

    values = ", ".join(
        f"({c}, {_sql_str(s)}, {o})" for c, s, o in _P10_FIXTURE
    )
    return f"""
        WITH s(case_id, sentence, char_off) AS (VALUES {values}),
        t AS (
            SELECT case_id, char_off,
                   unnest(string_split(sentence, ' ')) AS token,
                   generate_subscripts(string_split(sentence, ' '), 1) - 1 AS pos
            FROM s),
        st AS (
            SELECT *, coalesce(sum(length(token) + 1) OVER (
                PARTITION BY case_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
            FROM t)
        SELECT case_id, CAST(max(pos) AS INT) AS word_idx
        FROM st WHERE start <= char_off GROUP BY case_id
    """


# --------------------------------------------------------------------------
# P12 — triple decode (label row → arg1/rel/arg2 incl. rel_case + loc fold)
# --------------------------------------------------------------------------

_P12_FIXTURE = [
    # (ex_id, tokens, labels) — sentinels carry rel_case on label 2
    (0, ["Ada", "founded", "Acme", ".", "[unused1]", "[unused2]", "[unused3]"],
     [1, 2, 3, 0, 0, 0, 0]),
    (1, ["Ada", "chairman", "of", "Acme", "[unused1]", "[unused2]", "[unused3]"],
     [1, 2, 0, 3, 0, 2, 0]),
    (2, ["Bob", "advisor", "from", "Oslo", "[unused1]", "[unused2]", "[unused3]"],
     [1, 2, 0, 3, 0, 0, 2]),
    (3, ["Eve", "visited", "Acme", "in", "Paris", "[unused1]", "[unused2]", "[unused3]"],
     [1, 2, 3, 4, 4, 0, 0]),
    (4, ["Eve", "a", "founder", "[unused1]", "[unused2]", "[unused3]"],
     [1, 0, 2, 2, 0, 0]),
]


def q_p12_decode_triple(spark, sf_dir):
    from openie_with_entities_spark.functions.decode import decode_triple

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ex_id, toks, labs in zip(
                pdf["ex_id"], pdf["tokens"], pdf["labels"]
            ):
                a1, r, a2 = decode_triple(list(labs), list(toks))
                rows.append(
                    {"ex_id": int(ex_id), "arg1": a1, "rel": r, "arg2": a2}
                )
            yield pd.DataFrame(rows)

    src = spark.createDataFrame(
        _P12_FIXTURE, "ex_id int, tokens array<string>, labels array<int>"
    )
    return src.mapInPandas(
        run, "ex_id int, arg1 string, rel string, arg2 string"
    )


def o_p12() -> str:
    def arr(xs):
        return "[" + ", ".join(f"'{x}'" for x in xs) + "]"

    values = ", ".join(
        f"({i}, {arr(t)}, {list(l)})" for i, t, l in _P12_FIXTURE
    )
    # the SQL twin of decode_triple (/root/reference/model.py:554-593):
    # sentinels contribute no text; a REL label on [unusedK] sets rel_case K;
    # LOC/TIME tokens fold into arg2
    return f"""
        WITH t(ex_id, tokens, labels) AS (VALUES {values}),
        p AS (
            SELECT ex_id, unnest(tokens) AS token,
                   generate_subscripts(tokens, 1) AS i
            FROM t),
        pl AS (
            SELECT p.ex_id, p.token, p.i, t.labels[p.i] AS label,
                   p.token LIKE '[unused%' AS sentinel
            FROM p JOIN t ON t.ex_id = p.ex_id),
        agg AS (
            SELECT ex_id,
                   coalesce(string_agg(CASE WHEN label = 1 AND NOT sentinel
                                       THEN token END, ' ' ORDER BY i), '') AS arg1,
                   coalesce(string_agg(CASE WHEN label = 2 AND NOT sentinel
                                       THEN token END, ' ' ORDER BY i), '') AS rel_core,
                   coalesce(string_agg(CASE WHEN label = 3 AND NOT sentinel
                                       THEN token END, ' ' ORDER BY i), '') AS arg2_core,
                   coalesce(string_agg(CASE WHEN label = 4 AND NOT sentinel
                                       THEN token END, ' ' ORDER BY i), '') AS loc_time,
                   coalesce(max(CASE WHEN sentinel AND label = 2 THEN
                       CAST(substring(token, 8, 1) AS INT) END), 0) AS rel_case
            FROM pl GROUP BY ex_id)
        SELECT ex_id, arg1,
               CASE rel_case
                    WHEN 1 THEN 'is ' || rel_core
                    WHEN 2 THEN 'is ' || rel_core || ' of'
                    WHEN 3 THEN 'is ' || rel_core || ' from'
                    ELSE rel_core END AS rel,
               trim(arg2_core || ' ' || loc_time) AS arg2
        FROM agg
    """


# --------------------------------------------------------------------------
# M2 — coordination decode (state machine; VALUES oracle, hand-derived)
# --------------------------------------------------------------------------

_M2_FIXTURE = [
    (0, [[2, 4, 1, 3, 1, 0]]),            # A , B and C <end>
    (1, [[0, 3, 0]]),                      # dangling cc, no phrase
    (2, [[2, 1, 3, 1, 0, 2, 1, 3, 1, 0]]),  # two coordinations in one depth
    (3, [[2, 4, 1, 3, 1, 0], [2, 1, 1, 3, 1, 1]]),  # depth-1 phrase unclosed
]


def q_m2_decode_coords(spark, sf_dir):
    from openie_with_entities_spark.functions.decode import decode_coordinations

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for cid, matrix in zip(pdf["case_id"], pdf["matrix"]):
                for cc, coord in decode_coordinations(
                    [list(r) for r in matrix]
                ).items():
                    rows.append(
                        {
                            "case_id": int(cid),
                            "cc": cc,
                            "dangling": coord is None,
                            "spans_str": "" if coord is None else ",".join(
                                f"{s}-{e}" for (s, e) in coord.spans
                            ),
                            "seps_str": "" if coord is None else ",".join(
                                str(s) for s in coord.seps
                            ),
                            "depth": -1 if coord is None else coord.depth,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "case_id", "cc", "dangling", "spans_str", "seps_str",
                    "depth",
                ],
            )

    src = spark.createDataFrame(
        [(i, m) for i, m in _M2_FIXTURE],
        "case_id int, matrix array<array<int>>",
    )
    return src.mapInPandas(
        run,
        "case_id int, cc int, dangling boolean, spans_str string, "
        "seps_str string, depth int",
    )


O_M2 = """
    SELECT * FROM (VALUES
        (0, 3, false, '0-0,2-2,4-4', '1', 0),
        (1, 1, true,  '', '', -1),
        (2, 2, false, '0-1,3-3', '', 0),
        (2, 7, false, '5-6,8-8', '', 0),
        (3, 3, false, '0-0,2-2,4-4', '1', 0)
    ) AS t(case_id, cc, dangling, spans_str, seps_str, depth)
"""


# --------------------------------------------------------------------------
# M1+M3 — conj stage → split sentences (VALUES oracle from the sequential
# splitter semantics: nor/& no-split, unbreakable window, BFS levels)
# --------------------------------------------------------------------------

_M3_SENTS = [
    ("c0", 0, 0, "Ada , Bob and Carl visited Paris ."),
    ("c0", 0, 1, "Acme and Globex hired Eve ."),
    ("c0", 1, 0, "Eve nor Bob slept ."),
    ("c0", 1, 1, "the distance between Paris and Berlin increased ."),
    ("c0", 2, 0, "Eve slept ."),
]


def _m3_sentences(spark):
    return spark.createDataFrame(
        [(c, t, s, txt, True) for (c, t, s, txt) in _M3_SENTS],
        "conv_id string, turn_idx int, sent_idx int, text string, "
        "eligible boolean",
    )


def q_m3_conj_split(spark, sf_dir):
    from openie_with_entities_spark.extract.stages import conj_split_stage

    out = conj_split_stage(_m3_sentences(spark))
    return out.select(
        "conv_id", "turn_idx", "sent_idx", "split_idx", "n_splits",
        "split_text",
    )


O_M3 = """
    SELECT * FROM (VALUES
        ('c0', 0, 0, 0, 3, 'Ada visited Paris .'),
        ('c0', 0, 0, 1, 3, 'Bob visited Paris .'),
        ('c0', 0, 0, 2, 3, 'Carl visited Paris .'),
        ('c0', 0, 1, 0, 2, 'Acme hired Eve .'),
        ('c0', 0, 1, 1, 2, 'Globex hired Eve .'),
        ('c0', 1, 0, 0, 1, 'Eve nor Bob slept .'),
        ('c0', 1, 1, 0, 1, 'the distance between Paris and Berlin increased .'),
        ('c0', 2, 0, 0, 1, 'Eve slept .')
    ) AS t(conv_id, turn_idx, sent_idx, split_idx, n_splits, split_text)
"""


def q_a11_split_conservation(spark, sf_dir):
    """Split-count conservation (/root/reference/run.py:198-204): per input
    sentence, the split table's row count equals its declared n_splits."""
    from openie_with_entities_spark.extract.stages import conj_split_stage

    out = conj_split_stage(_m3_sentences(spark))
    per = out.groupBy("conv_id", "turn_idx", "sent_idx").agg(
        F.count("*").alias("n_rows"), F.first("n_splits").alias("declared")
    )
    return per.agg(
        F.count("*").alias("n_sentences"),
        F.sum("n_rows").alias("n_splits_total"),
        F.sum((F.col("n_rows") != F.col("declared")).cast("long")).alias(
            "n_violations"
        ),
    )


O_A11 = """
    SELECT CAST(5 AS BIGINT) AS n_sentences,
           CAST(8 AS BIGINT) AS n_splits_total,
           CAST(0 AS BIGINT) AS n_violations
"""


# --------------------------------------------------------------------------
# M4 — OIE stage over split sentences (native SQL twin of the deterministic
# labeler + decode for single/multi-verb SVO shapes)
# --------------------------------------------------------------------------

_M4_SPLITS = [
    ("c0", 0, 0, 0, "Ada founded Acme ."),
    ("c0", 0, 1, 0, "Eve visited Globex in Paris ."),
    ("c0", 1, 0, 0, "Bob praised Initech yesterday evening ."),
    ("c0", 1, 0, 1, "the report was finished ."),
]


def q_m4_oie_stage(spark, sf_dir):
    from openie_with_entities_spark.extract.stages import oie_stage

    splits = spark.createDataFrame(
        _M4_SPLITS,
        "conv_id string, turn_idx int, sent_idx int, split_idx int, "
        "split_text string",
    )
    return oie_stage(splits)


def o_m4() -> str:
    """SQL twin scoped to the fixture's semantics: lexicon verbs and '.'
    punctuation only. The labeler's -ed heuristic, full PUNCT set, and the
    copular role-noun depth are deliberately NOT re-derived here (they are
    pinned by p6/p12 and the sequential-oracle pytest) — extending
    _M4_SPLITS beyond that envelope requires extending this twin too."""
    from openie_with_entities_spark.extract.labeler import VERB_LEXICON

    from __spark_entry__ import _sql_str

    values = ", ".join(
        f"({_sql_str(c)}, {t}, {s}, {sp}, {_sql_str(txt)})"
        for c, t, s, sp, txt in _M4_SPLITS
    )
    lex = "[" + ", ".join(f"'{w}'" for w in sorted(VERB_LEXICON)) + "]"
    # the labeler's depth-d extraction: d-th lexicon verb v → arg1 = non-punct
    # tokens before v, rel = v, arg2 = non-punct tokens after v (LOC/TIME
    # folds back); confidence = round(max(0.05, .99-.12d-.01(len%7)), 2)
    return f"""
        WITH sp(conv_id, turn_idx, sent_idx, split_idx, split_text)
             AS (VALUES {values}),
        tok AS (
            SELECT sp.*, unnest(string_split(split_text, ' ')) AS token,
                   generate_subscripts(string_split(split_text, ' '), 1) AS i,
                   len(string_split(split_text, ' ')) AS core_len
            FROM sp),
        verbs AS (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx, sent_idx, split_idx
                ORDER BY i) - 1 AS depth
            FROM tok WHERE list_contains({lex}, token)),
        exts AS (
            SELECT v.conv_id, v.turn_idx, v.sent_idx, v.split_idx, v.depth,
                   v.core_len, v.token AS rel,
                   coalesce(string_agg(CASE WHEN t.i < v.i AND t.token <> '.'
                            THEN t.token END, ' ' ORDER BY t.i), '') AS arg1,
                   coalesce(string_agg(CASE WHEN t.i > v.i AND t.token <> '.'
                            THEN t.token END, ' ' ORDER BY t.i), '') AS arg2
            FROM verbs v JOIN tok t USING (conv_id, turn_idx, sent_idx, split_idx)
            GROUP BY ALL)
        SELECT conv_id, turn_idx, sent_idx, split_idx,
               CAST(row_number() OVER (
                   PARTITION BY conv_id, turn_idx, sent_idx, split_idx
                   ORDER BY depth) - 1 AS INT) AS ext_idx,
               arg1, rel, arg2,
               round(greatest(0.05, 0.99 - 0.12 * depth
                              - 0.01 * (core_len % 7)), 2) AS confidence
        FROM exts
        WHERE arg1 <> '' AND depth < 5
    """


# --------------------------------------------------------------------------
# A1 — group extractions under the original sentence
# --------------------------------------------------------------------------


def q_a1_group_by_sentence(spark, sf_dir):
    from __spark_entry__ import _TRIPLES_DDL, _TRIPLES_FIXTURE

    t = spark.createDataFrame(_TRIPLES_FIXTURE, _TRIPLES_DDL)
    line = F.format_string(
        "%.2f: (%s; %s; %s)", F.col("confidence"),
        F.col("arg1"), F.col("rel"), F.col("arg2"),
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("split_idx", "ext_idx", line.alias("line")))
    )
    return t.groupBy("conv_id", "turn_idx", "sent_idx").agg(
        F.count("*").alias("n_extractions"),
        F.array_join(
            F.transform(ordered, lambda s: s["line"]), " | "
        ).alias("extractions"),
    )


def o_a1() -> str:
    from __spark_entry__ import _triples_values

    return f"""
        WITH t(conv_id, turn_idx, sent_idx, split_idx, ext_idx,
               arg1, rel, arg2, confidence) AS (VALUES {_triples_values()})
        SELECT conv_id, turn_idx, sent_idx, count(*) AS n_extractions,
               string_agg(printf('%.2f: (%s; %s; %s)',
                                 confidence, arg1, rel, arg2),
                          ' | ' ORDER BY split_idx, ext_idx) AS extractions
        FROM t GROUP BY conv_id, turn_idx, sent_idx
    """


# --------------------------------------------------------------------------
# A5 — violation counters c1–c4 over a linked fixture
# --------------------------------------------------------------------------

_A5_FIXTURE = [
    # keys..., arg1, rel, arg2, conf, e1, t1, n1, e2, t2, n2
    ("c", 0, 0, 0, 0, "Bob", "joined Acme Corp as", "advisor", 0.9,
     None, None, 0, None, None, 0),                      # c1 + c3
    ("c", 0, 1, 0, 0, "Ada Lovelace", "founded", "Acme Corp", 0.9,
     "E0000", "PER", 1, "E0012", "ORG", 1),              # clean
    ("c", 0, 2, 0, 0, "Alan", "met", "Turing", 0.8,
     "E0001", "PER", 1, "E0001", "PER", 1),              # c4 (same entity)
    ("c", 0, 3, 0, 0, "Ada and Grace", "visited", "Paris", 0.7,
     "E0000", "PER", 2, "E0022", "LOC", 1),              # c2 (2 mentions)
]

_A5_DDL = (
    "conv_id string, turn_idx int, sent_idx int, split_idx int, ext_idx int, "
    "arg1 string, rel string, arg2 string, confidence double, "
    "arg1_entity_id string, arg1_ner_type string, arg1_n_mentions long, "
    "arg2_entity_id string, arg2_ner_type string, arg2_n_mentions long"
)


def q_a5_violation_counters(spark, sf_dir):
    from openie_with_entities_spark.corpus import alias_dict
    from openie_with_entities_spark.linking import violation_counters

    t = spark.createDataFrame(_A5_FIXTURE, _A5_DDL)
    return violation_counters(t, alias_dict(spark))


def o_a5() -> str:
    from __spark_entry__ import _alias_values

    ddl_cols = (
        "conv_id, turn_idx, sent_idx, split_idx, ext_idx, arg1, rel, arg2, "
        "confidence, arg1_entity_id, arg1_ner_type, arg1_n_mentions, "
        "arg2_entity_id, arg2_ner_type, arg2_n_mentions"
    )

    def row(r):
        def v(x):
            if x is None:
                return "NULL"
            if isinstance(x, str):
                return "'" + x.replace("'", "''") + "'"
            return str(x)

        return "(" + ", ".join(v(x) for x in r) + ")"

    values = ", ".join(row(r) for r in _A5_FIXTURE)
    return f"""
        WITH alias(surface_form, canonical_name) AS (VALUES {_alias_values()}),
        t({ddl_cols}) AS (VALUES {values}),
        tk AS (SELECT t.*, list_filter(string_split(rel, ' '), x -> x <> '') AS toks FROM t),
        grams AS (
            SELECT conv_id, turn_idx, sent_idx, split_idx, ext_idx,
                   trim(regexp_replace(regexp_replace(
                       lower(array_to_string(toks[i:i+j-1], ' ')),
                       '[^\\p{{L}}\\p{{N}}_\\s]', '', 'g'), ' +', ' ', 'g')) AS gram
            FROM tk, unnest(range(1, len(toks) + 1)) AS s(i),
                 unnest([1, 2, 3, 4]) AS l(j)),
        c3_keys AS (
            SELECT DISTINCT conv_id, turn_idx, sent_idx, split_idx, ext_idx
            FROM grams WHERE gram <> ''
              AND gram IN (SELECT surface_form FROM alias))
        SELECT count(*) AS n_extractions,
               CAST(sum(CASE WHEN arg1_entity_id IS NULL
                             AND arg2_entity_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1_no_entity_in_args,
               CAST(sum(CASE WHEN coalesce(arg1_n_mentions, 0) > 1
                             OR coalesce(arg2_n_mentions, 0) > 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS c2_multi_entity_arg,
               CAST((SELECT count(*) FROM c3_keys) AS BIGINT) AS c3_entity_in_relation,
               CAST(sum(CASE WHEN arg1_entity_id IS NOT NULL
                             AND arg1_entity_id = arg2_entity_id
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS c4_entity_split_across_args
        FROM t
    """


# --------------------------------------------------------------------------
# A12 — bucket-by-length (relational twin of the batch packing)
# --------------------------------------------------------------------------


def q_a12_length_buckets(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    return (
        docs.select(F.floor(n / 16).alias("bucket"), n.alias("n"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
        )
    )


O_A12 = """
    SELECT CAST(floor(n / 16) AS BIGINT) AS bucket, count(*) AS n_docs,
           CAST(min(n) AS INT) AS min_tokens, CAST(max(n) AS INT) AS max_tokens
    FROM (SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
          FROM documents)
    GROUP BY 1
"""


# --------------------------------------------------------------------------
# E1 — tuple matchers (greedy multiset matching; VALUES oracle derived from
# the reference's matcher semantics and hand-verified)
# --------------------------------------------------------------------------

_E1_FIXTURE = [
    # (pair_id, gold_rel, gold_args, pred_rel, pred_args)
    (0, "founded", ["Ada", "Acme"], "founded", ["Ada", "Acme"]),
    (1, "founded", ["Ada", "Acme Corp"], "founded", ["Ada", "Acme"]),
    (2, "is", ["Bob", "chairman"], "be", ["Bob", "chairman"]),
    (3, "praised", ["Eve", "Turing"], "visited", ["Eve", "Turing"]),
    (4, "said", ["growth is strong", "Ada"], "said", ["Ada", "growth is strong"]),
    (5, "visited", ["Eve", "Paris"], "visited", ["Eve", "sunny Paris today"]),
]


def q_e1_tuple_match(spark, sf_dir):
    from openie_with_entities_spark.evaluate import (
        Ext,
        binary_linient_tuple_match,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, gr, ga, pr, pa in zip(
                pdf["pair_id"], pdf["gold_rel"], pdf["gold_args"],
                pdf["pred_rel"], pdf["pred_args"],
            ):
                prec, rec = binary_linient_tuple_match(
                    Ext(gr, list(ga)), Ext(pr, list(pa))
                )
                rows.append(
                    {
                        "pair_id": int(pid),
                        "precision": round(prec, 4),
                        "recall": round(rec, 4),
                    }
                )
            yield pd.DataFrame(rows)

    src = spark.createDataFrame(
        _E1_FIXTURE,
        "pair_id int, gold_rel string, gold_args array<string>, "
        "pred_rel string, pred_args array<string>",
    )
    return src.mapInPandas(
        run, "pair_id int, precision double, recall double"
    )


O_E1 = """
    SELECT * FROM (VALUES
        (0, 1.0, 1.0),
        (1, 1.0, 0.75),
        (2, 1.0, 1.0),
        (3, 0.0, 0.0),
        (4, 1.0, 1.0),
        (5, 0.6, 1.0)
    ) AS t(pair_id, precision, recall)
"""


# --------------------------------------------------------------------------
# E1b — the full matcher-variant family (reference CLI surface,
# carb/carb.py:480-505): strict/binary/simple tuple matchers + the binary
# bow/pred/exact/lexical/bleu matchers. VALUES oracle hand-derived per pair
# (strict arithmetic, stopword-removal effects, the arg_match
# char-correlation quirk, nltk-default BLEU incl. its short-sentence zero).
# --------------------------------------------------------------------------

_E1V_FIXTURE = _E1_FIXTURE + [
    # exact=False needs char-disjoint args; lexical sits AT the 0.5 boundary
    (6, "met", ["zzz"], "met", ["qqq"]),
    # bleu=True needs a shared 4-gram and enough length to clear 0.4
    (
        7,
        "acquired",
        ["the tech giant Acme Corp", "its smaller rival Beta Inc"],
        "acquired",
        ["the tech giant Acme Corp", "its smaller rival Beta Inc"],
    ),
]


def q_e1_matcher_variants(spark, sf_dir):
    from openie_with_entities_spark.evaluate import (
        Ext,
        MATCHERS,
        _as_pr,
    )

    variant_names = ["strict", "binary", "simple"]
    bool_names = ["bow", "pred", "exact", "lexical", "bleu"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for pid, gr, ga, pr, pa in zip(
                pdf["pair_id"], pdf["gold_rel"], pdf["gold_args"],
                pdf["pred_rel"], pdf["pred_args"],
            ):
                g, e = Ext(gr, list(ga)), Ext(pr, list(pa))
                row = {"pair_id": int(pid)}
                for name in variant_names:
                    p, r = _as_pr(MATCHERS[name](g, e))
                    row[f"{name}_prec"] = round(p, 4)
                    row[f"{name}_rec"] = round(r, 4)
                for name in bool_names:
                    row[f"{name}_m"] = int(MATCHERS[name](g, e))
                rows.append(row)
            yield pd.DataFrame(rows)

    src = spark.createDataFrame(
        _E1V_FIXTURE,
        "pair_id int, gold_rel string, gold_args array<string>, "
        "pred_rel string, pred_args array<string>",
    )
    schema = "pair_id int, " + ", ".join(
        f"{n}_prec double, {n}_rec double" for n in variant_names
    ) + ", " + ", ".join(f"{n}_m int" for n in bool_names)
    return src.mapInPandas(run, schema)


O_E1V = """
    SELECT pair_id,
           strict_prec, strict_rec, binary_prec, binary_rec,
           simple_prec, simple_rec,
           CAST(bow_m AS INT) AS bow_m, CAST(pred_m AS INT) AS pred_m,
           CAST(exact_m AS INT) AS exact_m,
           CAST(lexical_m AS INT) AS lexical_m,
           CAST(bleu_m AS INT) AS bleu_m
    FROM (VALUES
        (0, 1.0, 1.0,  1.0, 1.0,  1.0, 1.0,     1, 1, 1, 1, 0),
        (1, 1.0, 0.75, 1.0, 0.75, 1.0, 0.75,    0, 1, 1, 1, 0),
        (2, 0.0, 0.0,  0.0, 0.0,  0.6667, 0.6667, 1, 1, 1, 1, 0),
        (3, 0.0, 0.0,  0.0, 0.0,  0.6667, 0.6667, 0, 0, 1, 1, 0),
        (4, 0.0, 0.0,  0.0, 0.0,  0.2, 0.2,     1, 1, 1, 1, 0),
        (5, 0.6, 1.0,  0.6, 1.0,  0.6, 1.0,     0, 1, 1, 1, 0),
        (6, 0.0, 0.0,  0.0, 0.0,  0.5, 0.5,     0, 1, 0, 0, 0),
        (7, 1.0, 1.0,  1.0, 1.0,  1.0, 1.0,     1, 1, 1, 1, 1)
    ) AS t(pair_id, strict_prec, strict_rec, binary_prec, binary_rec,
           simple_prec, simple_rec, bow_m, pred_m, exact_m, lexical_m,
           bleu_m)
"""


# --------------------------------------------------------------------------
# E2 — CaRB compare (greedy 1-1 precision / single-max recall, PR over
# thresholds; VALUES oracle hand-derived for the 2-sentence fixture)
# --------------------------------------------------------------------------


def q_e2_carb_pr(spark, sf_dir):
    from openie_with_entities_spark.evaluate import carb_pr

    gold = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 1.0),
            ("s2", "Eve", "visited", "Paris", 1.0),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    pred = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 0.9),
            ("s1", "Ada", "visited", "Paris", 0.4),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    r = carb_pr(gold, pred)
    return spark.createDataFrame(
        [
            (
                r.auc, r.optimal_f1, r.zero_conf_precision,
                r.zero_conf_recall, r.zero_conf_f1,
            )
        ],
        "auc double, optimal_f1 double, zc_precision double, "
        "zc_recall double, zc_f1 double",
    )


# hand derivation: thresholds [0.4, 0.9].
#   t=0.4: preds {exact match on s1, spurious on s1} → precision (1+0)/2=0.5,
#          recall: s1 gold matched (1) of 2 golds → 0.5; f1 = 0.5
#   t=0.9: preds {exact s1} → precision 1.0, recall 0.5, f1 = 2/3
#   AUC (trapezoid over sorted (r,p) incl (0,1) anchor):
#     points (0,1), (0.5,0.5), (0.5,1.0) → sorted by r then p:
#     (0,1)→(0.5,0.5): 0.5*(1+0.5)/2 = 0.375; (0.5,0.5)→(0.5,1.0): 0 width
#     = 0.375
O_E2 = """
    SELECT 0.375 AS auc, round(2.0/3.0, 4) AS optimal_f1,
           0.5 AS zc_precision, 0.5 AS zc_recall, 0.5 AS zc_f1
"""


# --------------------------------------------------------------------------
# E2b — the --single_match ('ss') recall strategy (carb.py:242-269,
# CLI carb.py:512-513): recall via greedy 1-1 instead of per-gold max, so
# one prediction credits at most one gold. Fixture: ONE sentence, TWO gold
# rows, ONE prediction matching both (g1 fully, g2 at 0.75 recall).
#   sm: prec 1.0, rec (1.0+0.75)/2 = 0.875, f1 0.9333, AUC 0.875
#   ss: prec 1.0, rec 1.0/2 = 0.5,          f1 0.6667, AUC 0.5
# --------------------------------------------------------------------------


def q_e2_carb_ss(spark, sf_dir):
    from openie_with_entities_spark.evaluate import carb_pr

    gold = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 1.0),
            ("s1", "Ada", "founded", "Acme Corp", 1.0),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    pred = spark.createDataFrame(
        [("s1", "Ada", "founded", "Acme", 0.9)],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    rows = []
    for strategy in ("sm", "ss"):
        r = carb_pr(gold, pred, strategy=strategy)
        rows.append(
            (strategy, r.zero_conf_precision, r.zero_conf_recall,
             r.zero_conf_f1, r.auc)
        )
    return spark.createDataFrame(
        rows,
        "strategy string, zc_precision double, zc_recall double, "
        "zc_f1 double, auc double",
    )


O_E2_SS = """
    SELECT * FROM (VALUES
        ('sm', 1.0, 0.875, 0.9333, 0.875),
        ('ss', 1.0, 0.5, 0.6667, 0.5)
    ) AS t(strategy, zc_precision, zc_recall, zc_f1, auc)
"""


# --------------------------------------------------------------------------
# E2c — per-sentence CaRB breakdown (/root/reference/carb/single.py:25-96:
# per-sentence compare + optimal-confidence stamp-back; engine form keeps
# recall denominators per-sentence).  Hand derivation:
#   s1: gold (Ada; founded; Acme); preds exact@0.9 + spurious@0.4.
#     zero-threshold (cutoff 0.4, both preds): greedy 1-1 precision
#     (1+0-credit pairs, 1 gold) → pn=1, pd=2 → 0.5; recall per-gold max
#     → 1.0; f1 = 2·0.5·1/1.5 = 0.6667.
#     cutoff 0.9 (exact only): p=1, r=1, f1=1 → optimal_f1 1.0 @ conf 0.9.
#   s2: gold only, no preds → precision 1.0 (empty-denominator
#     convention), recall 0, optimal_conf NULL.
#   s3: prediction-only → dropped (compare iterates gold).
# --------------------------------------------------------------------------


def q_e2_carb_sentences(spark, sf_dir):
    from openie_with_entities_spark.evaluate import carb_sentence_scores

    gold = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 1.0),
            ("s2", "Eve", "visited", "Paris", 1.0),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    pred = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 0.9),
            ("s1", "Ada", "visited", "Paris", 0.4),
            ("s3", "Bob", "likes", "tea", 0.8),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    return carb_sentence_scores(gold, pred)


def q_e2_stamp_optimal(spark, sf_dir):
    """single.py:80-89 stamp-back on the e2_carb_sentences fixture: s1's
    optimal confidence 0.9 overwrites both its predictions (0.9 and 0.4);
    pred-only s3 stamps the degenerate 0.0."""
    from openie_with_entities_spark.evaluate import stamp_optimal_confidence

    gold = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 1.0),
            ("s2", "Eve", "visited", "Paris", 1.0),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    pred = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 0.9),
            ("s1", "Ada", "visited", "Paris", 0.4),
            ("s3", "Bob", "likes", "tea", 0.8),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    return stamp_optimal_confidence(gold, pred).select(
        "sent_key", "arg1", "rel", "arg2", "confidence"
    )


O_E2_STAMP = """
    SELECT * FROM (VALUES
        ('s1', 'Ada', 'founded', 'Acme', 0.9),
        ('s1', 'Ada', 'visited', 'Paris', 0.9),
        ('s3', 'Bob', 'likes', 'tea', 0.0)
    ) AS t(sent_key, arg1, rel, arg2, confidence)
"""


O_E2_SENTENCES = """
    SELECT sent_key, CAST(n_gold AS BIGINT) AS n_gold,
           CAST(n_pred AS BIGINT) AS n_pred,
           "precision", recall, f1, optimal_f1, optimal_conf
    FROM (VALUES
        ('s1', 1, 2, 0.5, 1.0, 0.6667, 1.0, 0.9),
        ('s2', 1, 0, 1.0, 0.0, 0.0, 0.0, CAST(NULL AS DOUBLE))
    ) AS t(sent_key, n_gold, n_pred, "precision", recall, f1,
           optimal_f1, optimal_conf)
"""


# --------------------------------------------------------------------------
# E6 — F1 / trapezoid-AUC math over a PR-curve fixture (native twins)
# --------------------------------------------------------------------------

_E6_CURVE = [
    (0.1, 0.50, 0.90),
    (0.3, 0.65, 0.70),
    (0.5, 0.80, 0.50),
    (0.7, 0.95, 0.20),
]


def q_e6_f1_auc(spark, sf_dir):
    src = spark.createDataFrame(
        _E6_CURVE, "threshold double, p double, r double"
    )
    f1 = 2 * F.col("p") * F.col("r") / (F.col("p") + F.col("r"))
    pts = src.select("p", "r").union(
        src.sparkSession.createDataFrame([(1.0, 0.0)], "p double, r double")
    )
    w = Window.orderBy("r")
    seg = pts.select(
        "p", "r", F.lag("p").over(w).alias("p0"), F.lag("r").over(w).alias("r0")
    ).where(F.col("p0").isNotNull())
    auc = seg.agg(
        F.round(
            F.sum((F.col("r") - F.col("r0")) * (F.col("p") + F.col("p0")) / 2),
            4,
        ).alias("auc")
    )
    best = src.agg(F.round(F.max(f1), 4).alias("optimal_f1"))
    return best.crossJoin(auc)


def o_e6() -> str:
    values = ", ".join(f"({t}, {p}, {r})" for t, p, r in _E6_CURVE)
    return f"""
        WITH c(threshold, p, r) AS (VALUES {values}),
        pts AS (SELECT p, r FROM c UNION ALL SELECT 1.0, 0.0),
        seg AS (
            SELECT p, r, lag(p) OVER (ORDER BY r) AS p0,
                   lag(r) OVER (ORDER BY r) AS r0
            FROM pts)
        SELECT (SELECT round(max(2 * p * r / (p + r)), 4) FROM c) AS optimal_f1,
               (SELECT round(sum((r - r0) * (p + p0) / 2), 4)
                FROM seg WHERE p0 IS NOT NULL) AS auc
    """


# --------------------------------------------------------------------------
# S9/S10 — lineage metrics + checkpoint/resume (rows-only is too weak: the
# resume counts and triple count are deterministic → VALUES oracle)
# --------------------------------------------------------------------------


def _s10_resume(spark, link_mode: str, prefix: str):
    """Shared body of the two s10 resume contracts (inline vs salted link
    path): run the full production pipeline twice against one checkpoint
    dir and report the resume counts. Both entries share O_S10 — the
    salted ≡ inline parity is a pytest gate (test_production.py), so the
    counts must be identical."""
    import shutil
    import tempfile

    from openie_with_entities_spark.corpus import alias_dict, generate_transcripts
    from openie_with_entities_spark.plans.production import run_production

    out = tempfile.mkdtemp(prefix=prefix)
    t = generate_transcripts(spark, 20)
    first = run_production(
        spark, t, alias_dict(spark), out, n_buckets=8, link_mode=link_mode
    )
    n_triples = first.triples.count()
    second = run_production(
        spark, t, alias_dict(spark), out, n_buckets=8, link_mode=link_mode
    )
    lineage = spark.read.parquet(os.path.join(out, "triples", "lineage"))
    result = spark.createDataFrame(
        [
            (
                first.buckets_processed, first.buckets_skipped,
                second.buckets_processed, second.buckets_skipped,
                n_triples, second.triples.count(),
                lineage.select("bucket").distinct().count(),
            )
        ],
        "first_processed int, first_skipped int, second_processed int, "
        "second_skipped int, n_triples long, n_triples_resumed long, "
        "n_lineage_buckets long",
    )
    # every scalar above is already collected — the checkpoint dir (full
    # pipeline parquet output) would otherwise leak per run
    shutil.rmtree(out, ignore_errors=True)
    return result


def q_s10_checkpoint_resume(spark, sf_dir):
    return _s10_resume(spark, "inline", "s10_contract_")


def q_s10_salted_resume(spark, sf_dir):
    """Checkpoint/resume through the SALTED link path (dictionary too big
    to broadcast) — makes the beyond-broadcast path's checkpoint behavior
    driver-witnessed, not just pytest-witnessed. Body shared with the
    inline entry (_s10_resume)."""
    return _s10_resume(spark, "salted", "s10_salted_contract_")


# 478 is the deterministic triple count for 20 convs / seed 42 (verified by
# the pipeline≡oracle pytest gate; recorded here to make resume oracle-exact)
O_S10 = """
        SELECT CAST(8 AS INT) AS first_processed, CAST(0 AS INT) AS first_skipped,
               CAST(0 AS INT) AS second_processed, CAST(8 AS INT) AS second_skipped,
               CAST(478 AS BIGINT) AS n_triples,
               CAST(478 AS BIGINT) AS n_triples_resumed,
               CAST(8 AS BIGINT) AS n_lineage_buckets
    """


# --------------------------------------------------------------------------
# Determinism oracle for the formerly rows-only kg_triples: its output is a
# pure function of fixed seeds, so a recorded digest IS the cross-run /
# cross-partitioning invariant the driver should verify each round.
# --------------------------------------------------------------------------


def q_kg_triples_checksum(spark, sf_dir):
    """Order/partitioning-invariant checksum of the ENTIRE kg_triples
    output: md5 over the sorted per-row md5s. Verified identical under
    repartition(7) vs the default plan when recorded."""
    from __spark_entry__ import _kg_triples

    t = _kg_triples(spark, sf_dir)
    h = t.select(
        F.md5(
            F.concat_ws(
                "|", "conv_id", "turn_idx", "sent_idx", "split_idx",
                "ext_idx", "arg1", "rel", "arg2",
                F.format_string("%.2f", "confidence"),
            )
        ).alias("h")
    )
    return h.agg(
        F.count("*").alias("n_triples"),
        F.md5(F.concat_ws("", F.array_sort(F.collect_list("h")))).alias(
            "checksum"
        ),
    )


# recorded at sf0.01 (the driver's compare scale); the pytest gate
# (engine ≡ sequential oracle) establishes the values are CORRECT — this
# entry additionally proves they are STABLE under any partitioning
O_KG_CHECKSUM = """
    SELECT CAST(4692 AS BIGINT) AS n_triples,
           'd6d2c378717fe5b2b13c2509de8f1058' AS checksum
"""


# --------------------------------------------------------------------------
# P15 — predicate normalization + frequency ranking
# --------------------------------------------------------------------------


def q_p15_predicate_norm(spark, sf_dir):
    from __spark_entry__ import _TRIPLES_DDL, _TRIPLES_FIXTURE

    from openie_with_entities_spark.operators.dedup import predicate_frequency

    t = spark.createDataFrame(
        _TRIPLES_FIXTURE
        + [("c9", 0, 0, 0, 0, "X", "Joined!", "Y", 0.5)],  # normalizes to 'joined'
        _TRIPLES_DDL,
    )
    return predicate_frequency(t)


def o_p15() -> str:
    from __spark_entry__ import _triples_values

    from openie_with_entities_spark.operators.dedup import PREDICATE_NORM_RE

    return f"""
        WITH t(conv_id, turn_idx, sent_idx, split_idx, ext_idx,
               arg1, rel, arg2, confidence) AS (VALUES {_triples_values()},
               ('c9', 0, 0, 0, 0, 'X', 'Joined!', 'Y', 0.5))
        SELECT trim(regexp_replace(lower(rel), '{PREDICATE_NORM_RE}', '', 'g')) AS predicate,
               count(*) AS cnt
        FROM t GROUP BY 1
    """


# --------------------------------------------------------------------------
# E5 — conjunction P/R/F1 (Shimbo criteria; VALUES oracle hand-verified:
# pred/gold share s1 exactly; s2 agrees on the whole span only; s3/s4 are
# spurious/missed → whole 2/3, outer/inner/exact 1/3 on both sides)
# --------------------------------------------------------------------------


def q_e5_conj_eval(spark, sf_dir):
    from openie_with_entities_spark.evaluate_conj import evaluate_conjunctions

    ddl = (
        "sent_key string, cc int, spans array<struct<s:int,e:int>>, "
        "seps array<int>"
    )
    pred = spark.createDataFrame(
        [
            ("s1", 3, [{"s": 0, "e": 0}, {"s": 2, "e": 2}, {"s": 4, "e": 4}], [1]),
            ("s2", 2, [{"s": 0, "e": 1}, {"s": 3, "e": 5}], []),
            ("s3", 1, [{"s": 0, "e": 0}, {"s": 2, "e": 3}], []),
        ],
        ddl,
    )
    gold = spark.createDataFrame(
        [
            ("s1", 3, [{"s": 0, "e": 0}, {"s": 2, "e": 2}, {"s": 4, "e": 4}], [1]),
            ("s2", 2, [{"s": 0, "e": 1}, {"s": 4, "e": 5}], []),
            ("s4", 2, [{"s": 0, "e": 0}, {"s": 3, "e": 3}], []),
        ],
        ddl,
    )
    r = evaluate_conjunctions(pred, gold)
    return spark.createDataFrame(
        [
            (
                r.n_pred, r.n_gold,
                r.whole[2], r.outer[2], r.inner[2], r.exact[2],
            )
        ],
        "n_pred long, n_gold long, whole_f1 double, outer_f1 double, "
        "inner_f1 double, exact_f1 double",
    )


O_E5_CONJ = """
    SELECT CAST(3 AS BIGINT) AS n_pred, CAST(3 AS BIGINT) AS n_gold,
           0.6667 AS whole_f1, 0.3333 AS outer_f1,
           0.3333 AS inner_f1, 0.3333 AS exact_f1
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (LSH candidates + exact verify vs brute force)
# --------------------------------------------------------------------------


def q_emb_neardup(spark, sf_dir):
    """Near-dup pairs over the embeddings table with three planted exact
    duplicates (vec_id+10000) — the LSH path must find them all plus any
    natural pairs; the oracle runs brute force over the SAME augmented
    table."""
    from openie_with_entities_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    planted = emb.where("vec_id < 3").select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    return embedding_neardup_pairs(emb.unionByName(planted), threshold=0.95)


# NOTE data/seed coupling: this oracle demands EXACT equality between the
# probabilistic LSH path and brute force. At the 16-band × 12-plane default
# a pair at exactly cos 0.95 slips past all bands with p ≈ 5e-3
# ((1 − 0.9^12)^16), so the equality gate is guaranteed only for THIS
# testdata + the fixed hyperplane seed (whose true pairs are exact
# duplicates, cos 1.0 — they collide in EVERY band). On regenerated data a
# boundary pair could make this row red with the code still correct — the
# distribution-level recall ≥ 0.9 guarantee lives in
# tests/test_operators.py. Keep both: this row pins determinism, the pytest
# gate pins quality.
O_EMB_NEARDUP = """
    WITH aug AS (
        SELECT * FROM embeddings
        UNION ALL
        SELECT vec_id + 10000 AS vec_id, embedding, label
        FROM embeddings WHERE vec_id < 3)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4)
               AS cos_sim
    FROM aug a JOIN aug b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4)
          >= 0.95
"""


# --------------------------------------------------------------------------
# Multimodal frame sampling (deterministic fake decoder → recorded digests)
# --------------------------------------------------------------------------


def q_media_frame_sample(spark, sf_dir):
    from openie_with_entities_spark.operators.multimodal import (
        sample_frames,
        synth_media,
    )

    frames = sample_frames(synth_media(spark, 24), every_ms=400, max_frames=5)
    return frames.select(
        "media_id", "frame_idx", "t_ms",
        F.md5("frame_payload").alias("frame_md5"),
        F.length("frame_payload").alias("n_bytes"),
    )


# seeded-deterministic: payloads are RandomState(media_id) bytes, frames are
# fixed slices — the recorded digests are the cross-run invariant
O_FRAMES = """
    SELECT CAST(media_id AS BIGINT) AS media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(t_ms AS INT) AS t_ms, frame_md5, CAST(n_bytes AS INT) AS n_bytes
    FROM (VALUES
        (2, 0, 0, 'f5f0799f5aeb3d1838390786608cf51b', 86),
        (2, 1, 400, 'd2281d9434503fad7bfbc94289432590', 86),
        (2, 2, 800, '7c62d23eef7a5351a0cfc3da58c2fefb', 86),
        (5, 0, 0, 'b8b7aecc3da4f73bdbb23574416c67c0', 87),
        (5, 1, 400, '186739f42bca1bddfabab507fc1741d4', 87),
        (5, 2, 800, '7a480c4fe07ed62874a1c8e7e93ac9b3', 87),
        (8, 0, 0, '743fe02aab77454f3dde942a2271325c', 88),
        (8, 1, 400, 'eaedf7220523f511da7472f947bb353d', 88),
        (8, 2, 800, 'b72c585e9a3e0dbb4071b39322e79f52', 88),
        (11, 0, 0, 'dade787834dc1d50f0fe150690586b96', 89),
        (11, 1, 400, '12e7d6eba408e2f52f0ddfa9759ea717', 89),
        (11, 2, 800, '8893db1aa060d7a63b6b08f6d23cb51b', 89),
        (14, 0, 0, 'd300ef6465f65bd8e8296ae76b0c9105', 90),
        (14, 1, 400, '0da8e81e623d1279983e68172ca521b3', 90),
        (14, 2, 800, '9404b8caa6cd583d971c6113baee55a0', 90),
        (17, 0, 0, '37a479617f81fb93449ecc12f9ed902b', 91),
        (17, 1, 400, '0b01ebe2b698cda5bde367bade3422bb', 91),
        (17, 2, 800, 'e4a6d1382a1bbda2f9e9672d42bbfdb1', 91),
        (20, 0, 0, '9203475ea87a5e80d3c60bd15353ec4c', 92),
        (20, 1, 400, 'b2b21f36cbd5ca0baa2ab011c6bb6c4f', 92),
        (20, 2, 800, '685b830bf8c41c3b8e1b80558f2443eb', 92),
        (23, 0, 0, '7ee7dc8c0b69207fad596e6f91bf3214', 93),
        (23, 1, 400, 'e396b530fb5f8975ac0ccfeca8491535', 93),
        (23, 2, 800, 'a9cb163995322c0bae892f49dc6e85f0', 93)
    ) AS t(media_id, frame_idx, t_ms, frame_md5, n_bytes)
"""


# --------------------------------------------------------------------------
# Winnowing (rolling-hash) fingerprint — native twins
# --------------------------------------------------------------------------


def q_docs_winnowing(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import (
        winnowing_fingerprint,
    )

    return winnowing_fingerprint(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


O_WINNOW = """
    WITH g AS (
        SELECT doc_id,
               [md5(substring(text, CAST(i AS INT), 8))
                FOR i IN range(1, greatest(length(text) - 7, 1) + 1)] AS grams
        FROM documents),
    sel AS (
        SELECT doc_id,
               list_sort(list_distinct(
                   [list_min(grams[CAST(w AS INT):CAST(w AS INT) + 15])
                    FOR w IN range(1, greatest(len(grams) - 15, 1) + 1)]
               )) AS selected
        FROM g)
    SELECT doc_id, CAST(len(selected) AS INT) AS n_selected,
           md5(array_to_string(selected, '')) AS winnow_fp
    FROM sel
"""


# --------------------------------------------------------------------------
# simhash stability checksum
# --------------------------------------------------------------------------


def q_simhash_checksum(spark, sf_dir):
    """xxhash64 values are Spark-side only (no DuckDB twin), but they are a
    pure function of the text — this order-invariant digest makes their
    STABILITY oracle-checkable across rounds and partitionings."""
    from __spark_entry__ import _docs_simhash

    sh = _docs_simhash(spark, sf_dir)
    return sh.select(
        F.concat_ws(":", "doc_id", "simhash_prefix").alias("s")
    ).agg(
        F.count("*").alias("n_docs"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list("s")))).alias(
            "checksum"
        ),
    )


O_SIMHASH_CS = """
    SELECT CAST(500 AS BIGINT) AS n_docs,
           'aa2eb3765f77f54e1d1d83342fe8b1a5' AS checksum
"""


# --------------------------------------------------------------------------
# IVF approximate top-k (recorded deterministic output — centroids are a
# pure function of the seeded k-means over the lowest vec_ids, verified
# partition-invariant when recorded)
# --------------------------------------------------------------------------


def q_emb_ivf_topk(spark, sf_dir):
    from openie_with_entities_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.where("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_topk(emb, q, k=10)


O_IVF = """
    SELECT CAST(q_id AS BIGINT) AS q_id, CAST(vec_id AS BIGINT) AS vec_id,
           cos_sim, CAST(rk AS INT) AS rk
    FROM (VALUES
        (0, 0, 1.0, 1),
        (0, 365, 0.37, 2),
        (0, 387, 0.3311, 3),
        (0, 423, 0.2969, 4),
        (0, 320, 0.2879, 5),
        (0, 190, 0.2818, 6),
        (0, 323, 0.2565, 7),
        (0, 498, 0.2507, 8),
        (0, 257, 0.2481, 9),
        (0, 36, 0.2387, 10),
        (1, 1, 1.0, 1),
        (1, 195, 0.3227, 2),
        (1, 64, 0.3164, 3),
        (1, 124, 0.3028, 4),
        (1, 402, 0.2923, 5),
        (1, 300, 0.2368, 6),
        (1, 285, 0.2301, 7),
        (1, 233, 0.2241, 8),
        (1, 477, 0.2154, 9),
        (1, 59, 0.2135, 10),
        (2, 2, 1.0, 1),
        (2, 450, 0.2663, 2),
        (2, 145, 0.2635, 3),
        (2, 418, 0.254, 4),
        (2, 112, 0.2453, 5),
        (2, 172, 0.2398, 6),
        (2, 440, 0.2314, 7),
        (2, 407, 0.2191, 8),
        (2, 465, 0.219, 9),
        (2, 13, 0.2084, 10),
        (3, 3, 1.0, 1),
        (3, 130, 0.3999, 2),
        (3, 174, 0.3035, 3),
        (3, 231, 0.2988, 4),
        (3, 192, 0.2908, 5),
        (3, 315, 0.2852, 6),
        (3, 474, 0.2767, 7),
        (3, 363, 0.2686, 8),
        (3, 396, 0.261, 9),
        (3, 134, 0.2506, 10),
        (4, 4, 1.0, 1),
        (4, 114, 0.3985, 2),
        (4, 482, 0.3139, 3),
        (4, 280, 0.2798, 4),
        (4, 249, 0.2796, 5),
        (4, 470, 0.2525, 6),
        (4, 346, 0.2316, 7),
        (4, 288, 0.2286, 8),
        (4, 332, 0.2276, 9),
        (4, 269, 0.2169, 10)
    ) AS t(q_id, vec_id, cos_sim, rk)
"""


# --------------------------------------------------------------------------
# S8 — `.labels` sink end-to-end over the split table (conj split with
# indices → OIE label rows → per-original-sentence blocks), reproducing
# get_labels (/root/reference/run.py:246-291) on the M3 fixture. VALUES
# oracle hand-traced: each split's deterministic-labeler row scatters onto
# the original positions through sentences_indices; 'Eve nor Bob slept .'
# (no verb) and 'Eve slept .' emit bare blocks.
# --------------------------------------------------------------------------


def q_s8_labels_sink(spark, sf_dir):
    from openie_with_entities_spark.extract.stages import (
        conj_split_stage,
        oie_labels_stage,
    )
    from openie_with_entities_spark.sources.formats import to_labels_blocks

    sents = _m3_sentences(spark)
    splits = conj_split_stage(sents, with_indices=True)
    return to_labels_blocks(oie_labels_stage(splits), sents)


O_S8_SINK = """
    SELECT conv_id, turn_idx, sent_idx, block FROM (VALUES
        ('c0', 0, 0, 'Ada , Bob and Carl visited Paris .' || chr(10) ||
             'ARG1 NONE NONE NONE NONE REL ARG2 NONE' || chr(10) ||
             'NONE NONE ARG1 NONE NONE REL ARG2 NONE' || chr(10) ||
             'NONE NONE NONE NONE ARG1 REL ARG2 NONE'),
        ('c0', 0, 1, 'Acme and Globex hired Eve .' || chr(10) ||
             'ARG1 NONE NONE REL ARG2 NONE' || chr(10) ||
             'NONE NONE ARG1 REL ARG2 NONE'),
        ('c0', 1, 0, 'Eve nor Bob slept .'),
        ('c0', 1, 1, 'the distance between Paris and Berlin increased .'
             || chr(10) || 'ARG1 ARG1 ARG1 ARG1 ARG1 ARG1 REL NONE'),
        ('c0', 2, 0, 'Eve slept .')
    ) AS t(conv_id, turn_idx, sent_idx, block)
"""


# --------------------------------------------------------------------------
# E5 from file — conjunction benchmark end-to-end: gold coordinations decode
# from a conj `.labels` fixture (read_conj_labels ≙ get_coords on ground
# truth, /root/reference/metric.py:316-325), predictions come from the conj
# stage's decode over the same sentences. VALUES oracle hand-derived: gold
# deliberately merges s1's first two conjuncts ((0,2),(4,4) vs pred
# (0,0),(2,2),(4,4) — whole agrees, outer/inner/exact do not) and truncates
# the nor-sentence's right conjunct ((2,2) vs pred (2,3) — nothing agrees);
# the other two coordinations match exactly → whole 3/4, rest 2/4.
# --------------------------------------------------------------------------


def q_e5_conj_from_labels(spark, sf_dir):
    from openie_with_entities_spark.evaluate_conj import (
        coordinations_df,
        evaluate_conjunctions,
    )
    from openie_with_entities_spark.sources.formats import read_conj_labels

    gold = read_conj_labels(
        spark, os.path.join(FIXTURE_DIR, "conj_gold.labels")
    )
    pred = coordinations_df(
        _m3_sentences(spark).select(F.col("text").alias("sent_key"), "text")
    )
    r = evaluate_conjunctions(pred, gold)
    return spark.createDataFrame(
        [
            (
                r.n_pred, r.n_gold,
                r.whole[2], r.outer[2], r.inner[2], r.exact[2],
            )
        ],
        "n_pred long, n_gold long, whole_f1 double, outer_f1 double, "
        "inner_f1 double, exact_f1 double",
    )


O_E5_FROM_LABELS = """
    SELECT CAST(4 AS BIGINT) AS n_pred, CAST(4 AS BIGINT) AS n_gold,
           0.75 AS whole_f1, 0.5 AS outer_f1,
           0.5 AS inner_f1, 0.5 AS exact_f1
"""


# --------------------------------------------------------------------------
# Training-data pipeline: deterministic split / sequence packing / tf-idf
# --------------------------------------------------------------------------


def q_docs_train_split(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import train_split

    return train_split(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


O_TRAIN_SPLIT = """
    SELECT doc_id,
           substring(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8) AS split_key,
           CASE WHEN substring(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < 'e6666666' THEN 'train'
                WHEN substring(md5('v1:' || CAST(doc_id AS VARCHAR)), 1, 8)
                     < 'f3333333' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""


def q_docs_pack_sequences(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import pack_sequences

    return pack_sequences(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


O_PACK = """
    WITH t AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n
        FROM documents),
    c AS (
        SELECT *, sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS cum
        FROM t)
    SELECT doc_id, source, CAST(n AS INT) AS n_tokens,
           CAST(floor((cum - n) / 2048) AS BIGINT) AS bin_id
    FROM c
"""


def q_docs_tfidf_topk(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import tfidf_topk

    return tfidf_topk(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_TFIDF = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
    tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM toks WHERE token <> '' GROUP BY doc_id, token),
    dfx AS (
        SELECT token, count(DISTINCT doc_id) AS df
        FROM toks WHERE token <> '' GROUP BY token),
    s AS (
        SELECT doc_id, tf.token,
               round(tf * ln(1 + (SELECT CAST(count(*) AS DOUBLE)
                                  FROM documents) / df), 4) AS tfidf
        FROM tf JOIN dfx USING (token))
    SELECT doc_id, token, tfidf, CAST(rk AS INTEGER) AS rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
        FROM s) WHERE rk <= 5
"""


def q_docs_repetition(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import repetition_stats

    return repetition_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"))


O_REPETITION = """
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, chr(10)), l -> l <> '') AS ls,
               list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents),
    bi AS (
        SELECT doc_id, ls, ts,
               [ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1]
                FOR i IN range(1, greatest(len(ts), 1))] AS bg
        FROM base)
    SELECT doc_id,
           round((len(ls) - len(list_distinct(ls)))
                 / greatest(len(ls), 1), 4) AS dup_line_frac,
           round((len(ts) - len(list_distinct(ts)))
                 / greatest(len(ts), 1), 4) AS dup_token_frac,
           round(coalesce(list_max(list_transform(list_distinct(bg),
                     g -> len(list_filter(bg, x -> x = g)))), 0)
                 / greatest(len(bg), 1), 4) AS top_bigram_frac
    FROM bi
"""


def q_docs_pii_scrub(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import pii_scrub

    return pii_scrub(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def o_docs_pii_scrub() -> str:
    from openie_with_entities_spark.operators.docops import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )

    return f"""
        SELECT doc_id,
               regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}',
                   '<EMAIL>', 'g'), '{PII_PHONE_RE}', '<PHONE>', 'g')
                   AS text_scrubbed,
               CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
                   AS INTEGER) AS n_emails,
               CAST(len(regexp_extract_all(regexp_replace(text,
                   '{PII_EMAIL_RE}', '<EMAIL>', 'g'), '{PII_PHONE_RE}'))
                   AS INTEGER) AS n_phones
        FROM documents
    """


def q_docs_contamination(spark, sf_dir):
    """Screens the corpus against a 'benchmark' made of its own first three
    documents — deterministic, and guarantees both hit and miss rows."""
    from openie_with_entities_spark.operators.docops import (
        contamination_check,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = [
        r.text for r in docs.where("doc_id < 3").orderBy("doc_id").collect()
    ]
    return contamination_check(docs, bench)


O_CONTAMINATION = """
    WITH bt AS (SELECT text FROM documents WHERE doc_id < 3),
    bsh AS (
        SELECT DISTINCT substring(text, CAST(i AS INT), 15) AS s
        FROM bt, unnest(range(1, greatest(length(text) - 14, 1) + 1)) AS t(i)),
    dsh AS (
        SELECT DISTINCT doc_id, substring(text, CAST(i AS INT), 15) AS s
        FROM documents,
             unnest(range(1, greatest(length(text) - 14, 1) + 1)) AS t(i))
    SELECT d.doc_id,
           CAST(count(b.s) AS INTEGER) AS n_hits,
           count(b.s) > 0 AS contaminated
    FROM dsh d LEFT JOIN bsh b ON d.s = b.s
    GROUP BY d.doc_id
"""


def q_docs_neardup_clusters(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import neardup_clusters

    return neardup_clusters(spark.read.parquet(f"{sf_dir}/documents.parquet"))


# brute-force Jaccard pairs + recursive transitive closure + per-node min
# (string comparison, matching the CC operator's node domain)
def o_docs_neardup_clusters() -> str:
    from __spark_entry__ import _SHINGLES_CTE

    return f"""
        WITH RECURSIVE {_SHINGLES_CTE},
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id),
        pairs AS (
            SELECT CAST(doc_a AS VARCHAR) AS src, CAST(doc_b AS VARCHAR) AS dst
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.5),
        sym AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
        reach(src, dst) AS (
            SELECT src, dst FROM sym
            UNION
            SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
        SELECT d.doc_id,
               CAST(coalesce(
                   least(CAST(d.doc_id AS VARCHAR), min(r.dst)),
                   CAST(d.doc_id AS VARCHAR)) AS BIGINT) AS keeper_doc_id,
               CAST(d.doc_id AS VARCHAR) = coalesce(
                   least(CAST(d.doc_id AS VARCHAR), min(r.dst)),
                   CAST(d.doc_id AS VARCHAR)) AS is_kept
        FROM documents d
        LEFT JOIN reach r ON r.src = CAST(d.doc_id AS VARCHAR)
        GROUP BY d.doc_id
    """


def q_docs_prepare_corpus(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import prepare_corpus

    return prepare_corpus(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def o_docs_prepare_corpus() -> str:
    from openie_with_entities_spark.operators.docops import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )
    from __spark_entry__ import _STOPLIST_SQL

    return f"""
        WITH sig AS (
            SELECT doc_id,
                   regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}',
                       '<EMAIL>', 'g'), '{PII_PHONE_RE}', '<PHONE>', 'g')
                       AS text_clean,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
                   round(len(list_filter(string_split(text, ' '),
                         t -> list_contains({_STOPLIST_SQL}, t)))
                         / len(string_split(text, ' ')), 4) AS stop_ratio,
                   (len(string_split(text, ' ')) >= 10
                    AND len(string_split(text, ' ')) <= 100000
                    AND len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                        / len(string_split(text, ' ')) < 0.3) AS quality_keep
            FROM documents),
        keepers AS (
            SELECT min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY md5(text))
        SELECT s.doc_id, s.text_clean, s.n_tokens, s.stop_ratio,
               'en' AS lang_guess, k.n_copies
        FROM sig s JOIN keepers k USING (doc_id)
        WHERE s.quality_keep AND s.stop_ratio >= 0.08
    """


def q_emb_knn_graph(spark, sf_dir):
    """Exact-path kNN graph over a bounded slice (the brute-force oracle
    twin; the LSH path's recall is pytest-gated like the other ANN ops).
    The slice keeps the all-pairs cosine O(300²) at every sf."""
    from openie_with_entities_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        "vec_id < 300"
    )
    return knn_join(emb, k=5, exact=True)


O_KNN = """
    WITH e AS (SELECT * FROM embeddings WHERE vec_id < 300),
    scored AS (
        SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4)
                   AS cos_sim
        FROM e a JOIN e b ON a.vec_id <> b.vec_id)
    SELECT src_id, dst_id, cos_sim, CAST(rk AS INTEGER) AS rk FROM (
        SELECT *, row_number() OVER (
            PARTITION BY src_id ORDER BY cos_sim DESC, dst_id) AS rk
        FROM scored) WHERE rk <= 5
"""


# --------------------------------------------------------------------------
# KG graph materialization (canonicalize.materialize_graph) — VALUES
# fixture: predicate case/punct normalization folds rows, unlinked triples
# are excluded, evidence counts + best-witness confidence aggregate
# --------------------------------------------------------------------------

_LINKED_FIXTURE = [
    ("c0", 0, "E1", "founded", "E2", 0.9),
    ("c0", 1, "E1", "Founded!", "E2", 0.7),  # same edge after P15 norm
    ("c1", 0, "E1", "founded", "E2", 0.8),
    ("c1", 1, "E3", "visited", "E4", 0.6),
    ("c1", 2, "E3", "visited", None, 0.65),  # unlinked arg2 → excluded
    ("c2", 0, None, "visited", "E4", 0.65),  # unlinked arg1 → excluded
]
_LINKED_DDL = (
    "conv_id string, turn_idx int, arg1_entity_id string, rel string, "
    "arg2_entity_id string, confidence double"
)


def q_kg_graph_edges(spark, sf_dir):
    from openie_with_entities_spark.canonicalize import materialize_graph

    return materialize_graph(
        spark.createDataFrame(_LINKED_FIXTURE, _LINKED_DDL)
    )


def q_kg_merge_edges(spark, sf_dir):
    """Incremental graph maintenance (canonicalize.merge_graph_edges):
    existing edge table + a delta batch with one overlapping key (counts
    sum, confidence maxes) and one brand-new key."""
    from openie_with_entities_spark.canonicalize import merge_graph_edges

    ddl = (
        "src_entity string, predicate string, dst_entity string, "
        "n_mentions bigint, n_convs bigint, max_confidence double"
    )
    existing = spark.createDataFrame(
        [
            ("E1", "founded", "E2", 3, 2, 0.91),
            ("E1", "visited", "E3", 1, 1, 0.5),
        ],
        ddl,
    )
    delta = spark.createDataFrame(
        [
            ("E1", "founded", "E2", 2, 1, 0.97),
            ("E4", "joined", "E5", 1, 1, 0.8),
        ],
        ddl,
    )
    return merge_graph_edges(existing, delta)


O_KG_MERGE = """
    SELECT src_entity, predicate, dst_entity,
           CAST(n_mentions AS BIGINT) AS n_mentions,
           CAST(n_convs AS BIGINT) AS n_convs, max_confidence
    FROM (VALUES
        ('E1', 'founded', 'E2', 5, 3, 0.97),
        ('E1', 'visited', 'E3', 1, 1, 0.5),
        ('E4', 'joined', 'E5', 1, 1, 0.8)
    ) AS t(src_entity, predicate, dst_entity, n_mentions, n_convs,
           max_confidence)
"""


def _linked_values() -> str:
    def v(x):
        if x is None:
            return "NULL"
        return f"'{x}'" if isinstance(x, str) else str(x)

    return ", ".join(
        "(" + ", ".join(v(c) for c in row) + ")" for row in _LINKED_FIXTURE
    )


def o_kg_graph_edges() -> str:
    # the char class is interpolated from the SAME constant the Spark
    # operator uses (dedup.PREDICATE_NORM_RE) so engine and oracle cannot
    # drift — the raw-string backslashes pass through a DuckDB quoted
    # literal verbatim (same pattern as o_docs_pii_scrub / o_p15)
    from openie_with_entities_spark.operators.dedup import PREDICATE_NORM_RE

    return f"""
        WITH t(conv_id, turn_idx, arg1_entity_id, rel, arg2_entity_id,
               confidence) AS (VALUES {_linked_values()})
        SELECT arg1_entity_id AS src_entity,
               trim(lower(regexp_replace(rel, '{PREDICATE_NORM_RE}', '',
                                         'g'))) AS predicate,
               arg2_entity_id AS dst_entity,
               count(*) AS n_mentions,
               count(DISTINCT conv_id) AS n_convs,
               round(max(confidence), 4) AS max_confidence
        FROM t
        WHERE arg1_entity_id IS NOT NULL AND arg2_entity_id IS NOT NULL
        GROUP BY 1, 2, 3
    """


# --------------------------------------------------------------------------
# CaRB alternate extraction-format readers (sources/readers.py) — fixture
# scans; oracles are VALUES rows hand-derived from the reference readers'
# parse semantics (/root/reference/carb/oie_readers/*.py). extra_args is an
# array → it travels as a '|'-joined scalar for the driver's canonicalizer.
# --------------------------------------------------------------------------

_READER_FIXTURES = os.path.join(FIXTURE_DIR, "readers")


def _reader_projection(df):
    return df.select(
        "sentence", "arg1", "rel", "arg2",
        F.array_join("extra_args", "|").alias("extra_str"),
        F.round("confidence", 4).alias("confidence"),
    )


def q_reader_ollie(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import read_ollie

    return _reader_projection(
        read_ollie(spark, os.path.join(_READER_FIXTURES, "ollie.tsv"))
    )


O_READER_OLLIE = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .', 'Ada', 'founded', 'Acme Corp', '', 0.93),
        ('Ada founded Acme Corp .', 'Ada', 'moved to', 'Paris', '', 0.71),
        ('the cat sat on the mat', 'the cat', 'sat on', 'the mat', '', 0.88)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_openie4(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import read_openie4

    return _reader_projection(
        read_openie4(spark, os.path.join(_READER_FIXTURES, "openie4.txt"))
    )


# the fixture's middle line has an empty arg2 field → skipped, exactly as
# openieFourReader.py:33-35 skips lines failing all(data[2:5])
O_READER_OPENIE4 = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .', 'Ada', 'founded', 'Acme Corp', '', 0.95),
        ('the cat sat on the mat', 'the cat', 'sat on', 'the mat', '', 0.82)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_openie5(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import read_openie5

    return _reader_projection(
        read_openie5(spark, os.path.join(_READER_FIXTURES, "openie5.txt"))
    )


# row 1: multi-arg ');'-packed args field → arg2 + extra; row 2: Context
# prefix folded into arg1 (openieFiveReader.py:26-33); row 3 skipped
# (empty args field)
O_READER_OPENIE5 = """
    SELECT * FROM (VALUES
        ('Bob handed the keys to Eve .', 'Bob', 'handed', 'the keys',
         'to Eve', 0.91),
        ('In 2020 Ada left Acme .', 'In 2020 Ada', 'left', 'Acme', '', 0.64)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_props(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import read_props

    return _reader_projection(
        read_props(spark, os.path.join(_READER_FIXTURES, "props.txt"))
    )


O_READER_PROPS = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .', 'Ada', 'founded', 'Acme Corp', '', 0.77),
        ('Bob handed the keys to Eve .', 'Bob', 'handed', 'the keys',
         'to Eve', 0.55)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_reverb(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import (
        numbered_lines,
        read_reverb,
    )

    return _reader_projection(
        read_reverb(
            spark,
            os.path.join(_READER_FIXTURES, "reverb.txt"),
            numbered_lines(
                spark,
                os.path.join(_READER_FIXTURES, "reverb_raw_sentences.txt"),
            ),
        )
    )


O_READER_REVERB = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .', 'Ada', 'founded', 'Acme Corp', '', 0.89),
        ('the cat sat on the mat', 'the cat', 'sat on', 'the mat', '', 0.67)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_stanford(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import read_stanford

    return _reader_projection(
        read_stanford(spark, os.path.join(_READER_FIXTURES, "stanford.txt"))
    )


O_READER_STANFORD = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .', 'Ada', 'founded', 'Acme Corp', '', 0.96),
        ('the cat sat on the mat', 'the cat', 'sat on', 'the mat', '', 0.58)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_tab(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import read_tabbed

    return _reader_projection(
        read_tabbed(spark, os.path.join(_READER_FIXTURES, "tab.txt"))
    )


O_READER_TAB = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .', 'Ada', 'founded', 'Acme Corp', '', 0.93),
        ('Bob handed the keys to Eve .', 'Bob', 'handed', 'the keys',
         'to Eve', 0.71)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_clausie(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import read_clausie

    return _reader_projection(
        read_clausie(spark, os.path.join(_READER_FIXTURES, "clausie.txt"))
    )


# stateful format: each 5-field line binds to the nearest sentence line
# ABOVE it (clausieReader.py:25-42); quotes stripped via s[1:-1]
O_READER_CLAUSIE = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .', 'Ada', 'founded', 'Acme Corp', '', 0.91),
        ('Ada founded Acme Corp .', 'Ada', 'was', 'a founder', '', 0.55),
        ('the cat sat on the mat', 'the cat', 'sat on', 'the mat', '', 0.77)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_benchmark_gold(spark, sf_dir):
    from openie_with_entities_spark.sources.readers import read_benchmark_gold

    return _reader_projection(
        read_benchmark_gold(
            spark, os.path.join(_READER_FIXTURES, "benchmark_gold.txt")
        )
    )


# sent \t rel \t arg1 \t arg2 …, confidence pinned to 1.0, NO 'C: ' filter
# (benchmarkGoldReader.py:22-45)
O_READER_BGOLD = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .', 'Ada', 'founded', 'Acme Corp', '', 1.0),
        ('the cat sat on the mat', 'the cat', 'sat on', 'the mat',
         'since noon', 1.0)
    ) AS t(sentence, arg1, rel, arg2, extra_str, confidence)
"""


def q_reader_split_tabbed(spark, sf_dir):
    """split_to_corpus (train/dev/test splitter, oieReader.py:12-24) +
    the tabbed sink (get_tabbed, oieReader.py:33-43) over the OLLIE
    fixture: keep the one corpus sentence's extractions, render the
    tabbed lines."""
    from openie_with_entities_spark.sources.readers import (
        read_ollie,
        split_to_corpus,
        to_tabbed_lines,
    )

    preds = read_ollie(spark, os.path.join(_READER_FIXTURES, "ollie.tsv"))
    corpus = spark.createDataFrame(
        [("Ada founded Acme Corp .",)], "sentence string"
    )
    return to_tabbed_lines(split_to_corpus(preds, corpus))


O_READER_SPLIT_TABBED = """
    SELECT * FROM (VALUES
        ('Ada founded Acme Corp .' || chr(9) || '0.93' || chr(9) ||
         'founded' || chr(9) || 'Ada' || chr(9) || 'Acme Corp'),
        ('Ada founded Acme Corp .' || chr(9) || '0.71' || chr(9) ||
         'moved to' || chr(9) || 'Ada' || chr(9) || 'Paris')
    ) AS t(value)
"""


# --------------------------------------------------------------------------
# Readable-format converters (utils/readable.py + utils/oie_to_allennlp.py)
# --------------------------------------------------------------------------

_READABLE_FIXTURES = os.path.join(FIXTURE_DIR, "readable")


def q_fmt_readable(spark, sf_dir):
    from openie_with_entities_spark.sources.formats import to_readable_blocks

    preds = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", -0.1),
            ("s1", "Ada", "visited", "Paris", -0.5),
            ("s1", "Bob", "left", "town", -1.0),  # below threshold → dropped
            ("s2", "Eve", "saw", "it", 0.0),
        ],
        "sentence string, arg1 string, rel string, arg2 string, "
        "confidence double",
    )
    return to_readable_blocks(preds, threshold=-0.7)


# hand-derived: round(exp(-0.1),2)=0.9 → '0.9'; exp(-0.5)→0.61; exp(0)→'1.0'
O_FMT_READABLE = """
    SELECT * FROM (VALUES
        ('s1', concat('s1', chr(10),
                      '0.9 ( Ada ; founded ; Acme )', chr(10),
                      '0.61 ( Ada ; visited ; Paris )')),
        ('s2', concat('s2', chr(10), '1.0 ( Eve ; saw ; it )'))
    ) AS t(sentence, block)
"""


def q_fmt_oie_to_allennlp(spark, sf_dir):
    from openie_with_entities_spark.sources.formats import (
        read_conj_blocks,
        readable_to_allennlp,
    )

    conj = read_conj_blocks(
        spark, os.path.join(_READABLE_FIXTURES, "conj.txt")
    ).where("split_sentence <> orig_sentence")
    return readable_to_allennlp(
        spark, os.path.join(_READABLE_FIXTURES, "preds.txt"), conj=conj
    ).select("sentence", "tagged", "confidence_str")


# hand-derived from the fixture through oie_to_allennlp.py:36-63 semantics:
# the original-with-splits block is dropped, split sentences rewrite to the
# original, 'L:'/'T:' leave double spaces, Context drops through its first
# ':' with later ':' → ' '
O_FMT_O2A = """
    SELECT * FROM (VALUES
        ('Ada founded Acme and moved to Paris .',
         '<arg1> Ada </arg1> <rel> founded </rel> <arg2> Acme </arg2>',
         '0.91'),
        ('Ada founded Acme and moved to Paris .',
         '<arg1> Ada </arg1> <rel> moved </rel> <arg2> to Paris  Paris </arg2>',
         '0.88'),
        ('the cat sat on the mat',
         '<arg1> the cat </arg1> <rel> sat </rel> <arg2> on the mat </arg2>',
         '0.77'),
        ('the cat sat on the mat',
         '<arg1> the cat </arg1> <rel> sat </rel> <arg2> on the mat T  at noon </arg2>',
         '0.5')
    ) AS t(sentence, tagged, confidence_str)
"""


def q_fmt_senseoie(spark, sf_dir):
    from openie_with_entities_spark.sources.formats import senseoie_to_allennlp

    pairs = spark.createDataFrame(
        [
            # matches test sentence modulo spacing/case → kept, canonical form
            (["Ada", "founded", "Acme", "."],
             ["E1", "R", "E2", "O"]),
            # no test-set match → dropped
            (["nothing", "matches", "this"],
             ["E1", "R", "E2"]),
        ],
        "tokens array<string>, labels array<string>",
    )
    tests = spark.createDataFrame(
        [("Ada founded  Acme . [unused1] [unused2] [unused3]",)],
        "sentence string",
    )
    return senseoie_to_allennlp(pairs, tests).select(
        "sentence", "tagged", "confidence", "line"
    )


# hand-derived (senseoie.py:5-40): E1/R/E2 words space-joined, sentence
# matched on the whitespace-stripped lowercase key and replaced by the
# test corpus's canonical (pre-[unused1]) form, confidence 1
O_FMT_SENSEOIE = """
    SELECT 'Ada founded  Acme .' AS sentence,
           '<arg1> Ada </arg1> <rel> founded </rel> <arg2> Acme </arg2>'
               AS tagged,
           1.0 AS confidence,
           'Ada founded  Acme .' || chr(9) ||
           '<arg1> Ada </arg1> <rel> founded </rel> <arg2> Acme </arg2>' ||
           chr(9) || '1' AS line
"""


def q_e2_pr_curve(spark, sf_dir):
    """The pr_plot data surface (/root/reference/carb/pr_plot.py:31-38
    reads (precision, recall) columns per threshold from benchmark .dat
    files): carb_pr's full curve as rows instead of the scalar summary."""
    from openie_with_entities_spark.evaluate import carb_pr

    gold = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 1.0),
            ("s2", "Eve", "visited", "Paris", 1.0),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    pred = spark.createDataFrame(
        [
            ("s1", "Ada", "founded", "Acme", 0.9),
            ("s1", "Ada", "visited", "Paris", 0.4),
        ],
        "sent_key string, arg1 string, rel string, arg2 string, confidence double",
    )
    r = carb_pr(gold, pred)
    return spark.createDataFrame(
        [(float(t), round(p, 4), round(rec, 4)) for t, p, rec in r.curve],
        "threshold double, precision double, recall double",
    )


# same fixture as O_E2: survivors at t=0.4 are both preds (p=.5, r=.5); at
# t=0.9 only the exact match (p=1, r=.5)
O_E2_CURVE = """
    SELECT * FROM (VALUES
        (0.4, 0.5, 0.5),
        (0.9, 1.0, 0.5)
    ) AS t(threshold, precision, recall)
"""


# --------------------------------------------------------------------------
# Heavy hitters + unigram log-prob (docops) — vocabulary-scale patterns
# --------------------------------------------------------------------------


def q_docs_heavy_hitters(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import heavy_hitters

    return heavy_hitters(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), phi=0.001
    )


O_HEAVY_HITTERS = """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    t AS (
        SELECT token, count(*) AS cnt FROM toks
        WHERE token <> '' GROUP BY token),
    n AS (SELECT sum(cnt) AS n FROM t)
    SELECT token, cnt FROM t, n WHERE cnt > 0.001 * n
"""


# mixture over the 20 synthetic sources: srcN gets weight 1 + (N % 3),
# srch19 held out of the dict → dropped by the inner join. Spelled as a
# shared literal so query and oracle can't drift.
_MIX_WEIGHTS = {f"src{i}": float(1 + i % 3) for i in range(19)}


def q_docs_mixture_sample(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import mixture_sample

    return mixture_sample(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), _MIX_WEIGHTS
    )


def o_docs_mixture_sample() -> str:
    values = ", ".join(
        f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
        WITH w(source, w) AS (VALUES {values}),
        n AS (
            SELECT doc_id, source,
                   len(list_filter(string_split(text, ' '), x -> x <> ''))
                       AS n_tokens
            FROM documents),
        ps AS (SELECT source, sum(n_tokens) AS tokens_s
               FROM n GROUP BY source),
        pw AS (SELECT ps.source, tokens_s, w FROM ps JOIN w USING (source)),
        t AS (SELECT min(tokens_s / w) AS T FROM pw),
        r AS (SELECT source, round(w * T / tokens_s, 8) AS rate FROM pw, t)
        SELECT n.doc_id, n.source, CAST(n.n_tokens AS INT) AS n_tokens,
               r.rate,
               (r.rate >= 1.0 OR
                substring(md5('mix1:' || CAST(n.doc_id AS VARCHAR)), 1, 8)
                  < lpad(lower(to_hex(CAST(floor(r.rate * 4294967296)
                                           AS BIGINT))), 8, '0')) AS keep
        FROM n JOIN r ON n.source = r.source
    """


def q_docs_unigram_logprob(spark, sf_dir):
    from openie_with_entities_spark.operators.docops import (
        unigram_logprob_score,
    )

    return unigram_logprob_score(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


O_UNIGRAM_LP = """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents),
    tk AS (SELECT * FROM toks WHERE token <> ''),
    c AS (SELECT token, count(*) AS cnt FROM tk GROUP BY token),
    v AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token LIMIT 65536),
    n AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM c)
    SELECT tk.doc_id,
           round(sum(CAST(round(log10(coalesce(v.cnt, 1) / n.n) * 1000000)
                          AS BIGINT)) / (count(*) * 1000000.0), 4)
               AS mean_logprob,
           count(*) AS n_scored_tokens
    FROM tk LEFT JOIN v USING (token), n
    GROUP BY tk.doc_id
"""


# --------------------------------------------------------------------------
# Conversation-level corpus ops (operators/convops.py) — transcripts derived
# DETERMINISTICALLY from the documents table so the DuckDB oracle can rebuild
# the identical conversations in SQL: 2-turn convs (doc pairs) for
# dedup/neardup/pack, 5-turn convs with a mod-7 role map for the role-aware
# quality gates.
# --------------------------------------------------------------------------


def _conv2_transcripts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.concat(
            F.lit("c"), F.floor(F.col("doc_id") / 2).cast("string")
        ).alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 2 == 0, "user")
        .otherwise("assistant")
        .alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


_CONV2_CTE = """
tr AS (
    SELECT 'c' || CAST(doc_id // 2 AS VARCHAR) AS conv_id,
           CAST(doc_id AS INT) AS turn_idx,
           CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
           text
    FROM documents)
"""


def _conv5_transcripts(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = F.col("doc_id") % 7
    return docs.select(
        F.concat(
            F.lit("q"), F.floor(F.col("doc_id") / 5).cast("string")
        ).alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.when(r.isin(0, 1, 4), "user")
        .when(r.isin(2, 5), "assistant")
        .otherwise("tool")
        .alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


_CONV5_CTE = """
tr AS (
    SELECT 'q' || CAST(doc_id // 5 AS VARCHAR) AS conv_id,
           CAST(doc_id AS INT) AS turn_idx,
           CASE WHEN doc_id % 7 IN (0, 1, 4) THEN 'user'
                WHEN doc_id % 7 IN (2, 5) THEN 'assistant'
                ELSE 'tool' END AS role,
           text
    FROM documents)
"""


def q_conv_dedup_exact(spark, sf_dir):
    from openie_with_entities_spark.operators.convops import conv_dedup_exact

    return conv_dedup_exact(_conv2_transcripts(spark, sf_dir))


O_CONV_DEDUP = f"""
    WITH {_CONV2_CTE},
    canon AS (
        SELECT conv_id,
               -- injective per-turn frame: md5(role)||md5(text), mirrors
               -- convops._turn_digest (tab/newline-safe for arbitrary text)
               md5(string_agg(md5(coalesce(role, '')) || md5(coalesce(text, '')),
                              '' ORDER BY turn_idx)) AS conv_hash,
               count(*) AS n_turns
        FROM tr GROUP BY conv_id)
    SELECT conv_hash, min(conv_id) AS keeper_conv_id,
           count(*) AS n_copies, CAST(min(n_turns) AS BIGINT) AS n_turns
    FROM canon GROUP BY conv_hash
"""


def q_conv_neardup(spark, sf_dir):
    """Bounded to doc_id < 1000 (≤500 convs at any sf) — the t=0.2
    threshold keeps ~80% of each conv's shingles in the prefix index (vs
    50% at the default 0.5), so an UNbounded sf0.1 run costs ~100s; the
    slice pins the contract at sub-5s at every sf, same pattern as
    emb_knn_graph's vec_id slice. The operator itself defaults to t=0.5."""
    from openie_with_entities_spark.operators.convops import conv_neardup_pairs

    return conv_neardup_pairs(
        _conv2_transcripts(spark, sf_dir).where("turn_idx < 1000"),
        threshold=0.2,
    )


O_CONV_NEARDUP = f"""
    WITH {_CONV2_CTE},
    conv AS (
        SELECT conv_id, string_agg(text, ' ' ORDER BY turn_idx) AS text
        FROM tr WHERE turn_idx < 1000 GROUP BY conv_id),
    sh AS (
        SELECT DISTINCT conv_id, substring(text, CAST(i AS INT), 15) AS shingle
        FROM conv,
             unnest(range(1, greatest(length(text) - 14, 1) + 1)) AS t(i)),
    sizes AS (SELECT conv_id, count(*) AS n_sh FROM sh GROUP BY conv_id),
    inter AS (
        SELECT a.conv_id AS conv_a, b.conv_id AS conv_b, count(*) AS ni
        FROM sh a JOIN sh b
          ON a.shingle = b.shingle AND a.conv_id < b.conv_id
        GROUP BY 1, 2)
    SELECT conv_a, conv_b,
           round(ni / (sa.n_sh + sb.n_sh - ni), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.conv_id = conv_a
    JOIN sizes sb ON sb.conv_id = conv_b
    WHERE round(ni / (sa.n_sh + sb.n_sh - ni), 4) >= 0.2
"""


def q_conv_pack(spark, sf_dir):
    from openie_with_entities_spark.operators.convops import pack_conversations

    return pack_conversations(_conv2_transcripts(spark, sf_dir))


O_CONV_PACK = f"""
    WITH {_CONV2_CTE},
    per_conv AS (
        SELECT conv_id,
               sum(len(list_filter(string_split(text, ' '), x -> x <> '')))
                   AS n_tokens
        FROM tr GROUP BY conv_id),
    sharded AS (
        SELECT conv_id, n_tokens,
               CAST((strpos('0123456789abcdef',
                            substring(md5(conv_id), 1, 1)) - 1) % 16 AS INT)
                   AS shard
        FROM per_conv),
    c AS (
        SELECT *, sum(n_tokens) OVER (
            PARTITION BY shard ORDER BY conv_id) AS cum
        FROM sharded)
    SELECT conv_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((cum - n_tokens) / 2048) AS BIGINT) AS bin_id
    FROM c
"""


def q_conv_prepare(spark, sf_dir):
    from openie_with_entities_spark.operators.convops import (
        prepare_conversations,
    )

    return prepare_conversations(_conv2_transcripts(spark, sf_dir))


def o_conv_prepare() -> str:
    from openie_with_entities_spark.operators.docops import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )

    return f"""
        WITH {_CONV2_CTE},
        t2 AS (
            SELECT *, len(list_filter(string_split(text, ' '), x -> x <> ''))
                      AS n_tok
            FROM tr),
        agg AS (
            SELECT conv_id,
                   md5(string_agg(md5(coalesce(role, ''))
                                  || md5(coalesce(text, '')),
                                  '' ORDER BY turn_idx)) AS conv_hash,
                   count(*) AS n_turns,
                   sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS n_user,
                   sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                       AS n_assistant,
                   sum(n_tok) AS n_tokens,
                   max(n_tok) AS max_turn_tokens
            FROM t2 GROUP BY conv_id),
        q AS (
            SELECT * FROM agg
            WHERE n_turns >= 2 AND n_user > 0 AND n_assistant > 0
              AND n_tokens >= 16 AND max_turn_tokens <= 8192),
        k AS (
            SELECT conv_id FROM (
                SELECT conv_id, row_number() OVER (
                    PARTITION BY conv_hash ORDER BY conv_id) AS rn
                FROM q) WHERE rn = 1)
        SELECT tr.conv_id, turn_idx, role,
               regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}',
                   '<EMAIL>', 'g'), '{PII_PHONE_RE}', '<PHONE>', 'g')
                   AS text_clean
        FROM tr JOIN k USING (conv_id)
    """


def q_conv_quality(spark, sf_dir):
    from openie_with_entities_spark.operators.convops import conv_quality

    return conv_quality(_conv5_transcripts(spark, sf_dir))


O_CONV_QUALITY = f"""
    WITH {_CONV5_CTE},
    turns AS (
        SELECT conv_id, turn_idx, role,
               len(list_filter(string_split(text, ' '), x -> x <> ''))
                   AS n_tok,
               CASE WHEN role = lag(role) OVER (
                        PARTITION BY conv_id ORDER BY turn_idx)
                    THEN 1 ELSE 0 END AS same_as_prev
        FROM tr),
    agg AS (
        SELECT conv_id, count(*) AS n_turns,
               sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS n_user_turns,
               sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
                   AS n_assistant_turns,
               sum(n_tok) AS n_tokens,
               max(n_tok) AS max_turn_tokens,
               sum(same_as_prev) AS n_role_repeats
        FROM turns GROUP BY conv_id)
    SELECT conv_id, n_turns,
           CAST(n_user_turns AS BIGINT) AS n_user_turns,
           CAST(n_assistant_turns AS BIGINT) AS n_assistant_turns,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(max_turn_tokens AS INT) AS max_turn_tokens,
           CAST(n_role_repeats AS BIGINT) AS n_role_repeats,
           (n_turns >= 2 AND n_user_turns > 0 AND n_assistant_turns > 0
            AND n_tokens >= 16 AND max_turn_tokens <= 8192) AS keep
    FROM agg
"""


# --------------------------------------------------------------------------
# Wire57 evaluation (evaluate_wire57.py) — reader scan + corpus scores over
# checked-in fixtures; the scores oracle is hand-derived from the
# reference's greedy word-overlap semantics
# (/root/reference/carb/wire57_evaluation.py) and independently re-derived
# in tests/test_evaluate.py before being recorded here.
# --------------------------------------------------------------------------

_WIRE57_DIR = os.path.join(FIXTURE_DIR, "wire57")


def q_reader_wire57(spark, sf_dir):
    from openie_with_entities_spark.evaluate_wire57 import read_wire57_tab

    return read_wire57_tab(
        spark, os.path.join(_WIRE57_DIR, "system.txt")
    )


# line 5 of the fixture has <4 tab fields → skipped
# (wire57_evaluation.py:51-54); line 1/3/4 are 5-field (confidence at
# items[1], unused), line 2 is 4-field.
O_READER_WIRE57 = """
    SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), 'The cat sat on the mat .', 'sat on', 'The cat', 'the mat'),
        (CAST(2 AS BIGINT), 'The cat sat on the mat .', 'on', 'cat', 'mat .'),
        (CAST(3 AS BIGINT), 'Ada founded Acme Corp', 'founded', 'Ada the great', 'Acme Corp'),
        (CAST(4 AS BIGINT), 'Unknown sentence', 'foo', 'bar', 'baz')
    ) AS t(line_no, sentence, rel, arg1, arg2)
"""


def q_wire57_scores(spark, sf_dir):
    from openie_with_entities_spark.evaluate_wire57 import wire57_eval_files

    return wire57_eval_files(
        spark,
        os.path.join(_WIRE57_DIR, "gold.txt"),
        os.path.join(_WIRE57_DIR, "system.txt"),
    )


# hand-derived on the fixture: sent 1 greedy-matches (g1,p1)=(1,1) then
# (g2,p2)=(1,.5) → prec [2,2] rec [1.5,2]; 'Ada founded Acme Corp' matches
# (2/3,1) → prec [2/3,1] rec [1,1]; 'Bob moved to Paris' has no preds →
# prec [0,0] rec [0,1]; P=(8/3)/3=8/9, R=2.5/4, F1=80/109.
O_WIRE57 = """
    SELECT CAST(3 AS BIGINT) AS n_sentences,
           2.6667 AS prec_num, CAST(3 AS BIGINT) AS prec_den,
           2.5 AS rec_num, CAST(4 AS BIGINT) AS rec_den,
           0.8889 AS precision, 0.625 AS recall, 0.7339 AS f1
"""


# --------------------------------------------------------------------------
# KG graph consumer queries (graph.py) over a fixed edge topology: a hub
# (E1), a chain to E4/E5, a self-loop on E5, and an isolated pair E7-E8.
# --------------------------------------------------------------------------

_GRAPH_FIXTURE = [
    ("E1", "founded", "E2", 5, 3, 0.9),
    ("E1", "acquired", "E3", 2, 2, 0.8),
    ("E2", "partnered with", "E3", 1, 1, 0.7),
    ("E3", "located in", "E4", 4, 2, 0.95),
    ("E4", "part of", "E5", 1, 1, 0.6),
    ("E6", "ceo of", "E1", 3, 1, 0.85),
    ("E7", "married to", "E8", 2, 2, 0.75),
    ("E5", "refers to", "E5", 1, 1, 0.5),
]
_GRAPH_DDL = (
    "src_entity string, predicate string, dst_entity string, "
    "n_mentions long, n_convs long, max_confidence double"
)


def _graph_values() -> str:
    return ", ".join(
        f"('{s}', '{p}', '{d}', {nm}, {nc}, {mc})"
        for s, p, d, nm, nc, mc in _GRAPH_FIXTURE
    )


def q_kg_khop(spark, sf_dir):
    from openie_with_entities_spark.graph import khop_neighborhood

    edges = spark.createDataFrame(_GRAPH_FIXTURE, _GRAPH_DDL)
    return khop_neighborhood(edges, ["E1", "E7"], k=2)


def o_kg_khop() -> str:
    # min-hop BFS as a depth-bounded recursive CTE (the same
    # recursive-oracle pattern as o_docs_neardup_clusters)
    return f"""
        WITH RECURSIVE e(src_entity, predicate, dst_entity, n_mentions,
                         n_convs, max_confidence) AS (
            VALUES {_graph_values()}),
        adj AS (
            SELECT src_entity AS a, dst_entity AS b FROM e
            UNION
            SELECT dst_entity, src_entity FROM e),
        seeds(seed) AS (VALUES ('E1'), ('E7')),
        walk(seed, entity, hop) AS (
            SELECT seed, seed, 0 FROM seeds
            UNION ALL
            SELECT w.seed, a.b, w.hop + 1
            FROM walk w JOIN adj a ON a.a = w.entity
            WHERE w.hop < 2)
        SELECT seed, entity, CAST(min(hop) AS INT) AS hop
        FROM walk GROUP BY 1, 2
    """


def q_kg_degree_topk(spark, sf_dir):
    from openie_with_entities_spark.graph import top_entities_by_degree

    edges = spark.createDataFrame(_GRAPH_FIXTURE, _GRAPH_DDL)
    return top_entities_by_degree(edges, topk=5)


# Denser topology for the iterative/triadic consumers: triangles ABC, ACD,
# CDE (mixed edge directions), a pendant chain E→F→A and a self-loop G→G.
_GRAPH_FIXTURE2 = [
    ("A", "r1", "B", 1, 1, 0.9),
    ("B", "r2", "C", 2, 1, 0.8),
    ("A", "r3", "C", 1, 1, 0.7),
    ("C", "r4", "D", 3, 2, 0.95),
    ("D", "r5", "A", 1, 1, 0.6),
    ("D", "r6", "E", 2, 1, 0.85),
    ("E", "r7", "C", 1, 1, 0.75),
    ("E", "r8", "F", 1, 1, 0.5),
    ("G", "r9", "G", 1, 1, 0.4),
    ("F", "r10", "A", 2, 1, 0.65),
]


def _graph2_values() -> str:
    return ", ".join(
        f"('{s}', '{p}', '{d}', {nm}, {nc}, {mc})"
        for s, p, d, nm, nc, mc in _GRAPH_FIXTURE2
    )


def q_kg_pagerank(spark, sf_dir):
    from openie_with_entities_spark.graph import pagerank

    edges = spark.createDataFrame(_GRAPH_FIXTURE2, _GRAPH_DDL)
    return pagerank(edges, n_iter=3, damping=0.85)


def o_kg_pagerank() -> str:
    # GraphX staticPageRank convention, 3 iterations unrolled (recursive
    # CTEs can't aggregate over the recursive reference, so each iteration
    # is its own CTE): rank_k(v) = 0.15 + 0.85 * Σ rank_{k-1}(u)/outdeg(u)
    iters = "".join(
        f""",
        r{k} AS (
            SELECT n.entity,
                   0.15 + 0.85 * COALESCE(SUM(rp.rank / o.od), 0.0) AS rank
            FROM nodes n
            LEFT JOIN links l ON l.dst = n.entity
            LEFT JOIN r{k - 1} rp ON rp.entity = l.src
            LEFT JOIN outd o ON o.src = l.src
            GROUP BY n.entity)"""
        for k in (1, 2, 3)
    )
    return f"""
        WITH e(src_entity, predicate, dst_entity, n_mentions, n_convs,
               max_confidence) AS (VALUES {_graph2_values()}),
        links AS (SELECT DISTINCT src_entity AS src, dst_entity AS dst
                  FROM e),
        nodes AS (SELECT src AS entity FROM links
                  UNION SELECT dst FROM links),
        outd AS (SELECT src, COUNT(*) AS od FROM links GROUP BY src),
        r0 AS (SELECT entity, CAST(1.0 AS DOUBLE) AS rank FROM nodes)
        {iters}
        SELECT entity, ROUND(rank, 4) AS rank FROM r3
    """


def q_kg_lpa(spark, sf_dir):
    from openie_with_entities_spark.graph import label_propagation

    edges = spark.createDataFrame(_GRAPH_FIXTURE2, _GRAPH_DDL)
    return label_propagation(edges, n_iter=2)


def o_kg_lpa() -> str:
    # deterministic sync LPA, 2 iterations unrolled: per iteration each
    # node takes the most frequent label among its neighbors, ties to the
    # SMALLEST label (graph.py pins GraphX's nondeterministic tie) —
    # ROW_NUMBER over (count DESC, label ASC) per node; self-loops dropped
    iters = "".join(
        f""",
        v{k} AS (
            SELECT u.a, lp.label, COUNT(*) AS cnt
            FROM und u JOIN l{k - 1} lp ON lp.entity = u.b
            GROUP BY u.a, lp.label),
        l{k} AS (
            SELECT a AS entity, label FROM (
                SELECT a, label, ROW_NUMBER() OVER (
                    PARTITION BY a ORDER BY cnt DESC, label ASC) AS rn
                FROM v{k})
            WHERE rn = 1)"""
        for k in (1, 2)
    )
    return f"""
        WITH e(src_entity, predicate, dst_entity, n_mentions, n_convs,
               max_confidence) AS (VALUES {_graph2_values()}),
        und AS (
            SELECT DISTINCT a, b FROM (
                SELECT src_entity AS a, dst_entity AS b FROM e
                UNION ALL
                SELECT dst_entity AS a, src_entity AS b FROM e)
            WHERE a <> b),
        l0 AS (SELECT DISTINCT a AS entity, a AS label FROM und)
        {iters}
        SELECT entity, label AS community FROM l2
    """


def q_kg_triangles(spark, sf_dir):
    from openie_with_entities_spark.graph import triangle_counts

    edges = spark.createDataFrame(_GRAPH_FIXTURE2, _GRAPH_DDL)
    return triangle_counts(edges)


def o_kg_triangles() -> str:
    return f"""
        WITH e(src_entity, predicate, dst_entity, n_mentions, n_convs,
               max_confidence) AS (VALUES {_graph2_values()}),
        und AS (
            SELECT DISTINCT LEAST(src_entity, dst_entity) AS a,
                   GREATEST(src_entity, dst_entity) AS b
            FROM e WHERE src_entity <> dst_entity),
        tris AS (
            SELECT ab.a, ab.b, bc.b AS c
            FROM und ab
            JOIN und bc ON bc.a = ab.b
            JOIN und ac ON ac.a = ab.a AND ac.b = bc.b),
        corners AS (
            SELECT a AS entity FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris)
        SELECT entity, COUNT(*) AS n_triangles FROM corners GROUP BY entity
    """


def o_kg_degree_topk() -> str:
    return f"""
        WITH e(src_entity, predicate, dst_entity, n_mentions, n_convs,
               max_confidence) AS (VALUES {_graph_values()}),
        ends AS (
            SELECT src_entity AS entity, n_mentions AS w, 1 AS is_out FROM e
            UNION ALL
            SELECT dst_entity, n_mentions, 0 FROM e)
        SELECT entity, CAST(sum(is_out) AS BIGINT) AS out_deg,
               CAST(sum(1 - is_out) AS BIGINT) AS in_deg,
               CAST(sum(w) AS BIGINT) AS degree
        FROM ends GROUP BY entity
        ORDER BY degree DESC, entity ASC LIMIT 5
    """


# --------------------------------------------------------------------------
# Streaming clean drain — the streaming path's driver-witnessed oracle row:
# stream the documents table (plus injected exact duplicates) through
# streaming_clean_documents with an availableNow drain, and compare the
# text-pure projection against the batch gates in DuckDB. The surviving
# doc_id of a duplicate group is arrival-order-dependent (legit streaming
# semantics), so the projection carries only text-pure columns; the
# watermark is set far past the synthetic event times so dedup state never
# evicts and the result is exactly one row per distinct gated text.
# --------------------------------------------------------------------------


def q_stream_clean_drain(spark, sf_dir):
    import shutil
    import tempfile

    from openie_with_entities_spark.streaming.ingest import (
        stream_documents,
        streaming_clean_documents,
    )

    base = tempfile.mkdtemp(prefix="stream_drain_contract_")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        "text",
        "source",
        # deterministic synthetic event time (the parquet has no ts)
        F.timestamp_seconds(F.lit(1767225600) + F.col("doc_id")).alias("ts"),
    )
    dupes = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text", "source", "ts"
    )
    docs.unionByName(dupes).coalesce(4).write.parquet(src)
    # Streaming state-store partitioning is pinned at query start from
    # spark.sql.shuffle.partitions and AQE never coalesces it — the batch
    # default (2x cores) would spread this drain's few thousand dedup keys
    # over 64 state stores, paying 64 state files + tasks PER micro-batch
    # (measured 3.6-4.2s -> 2.1s at 8). The stream runs in its own session
    # sized to its key cardinality, so the caller's session conf (and any
    # query running in it concurrently) never sees the change.
    stream_spark = spark.newSession()
    stream_spark.conf.set("spark.sql.shuffle.partitions", "8")
    cleaned = streaming_clean_documents(
        stream_documents(stream_spark, src, max_files_per_trigger=2),
        watermark="3650 days",
    )
    q = (
        cleaned.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    drained = spark.read.parquet(out).select(
        "content_hash",
        F.md5("text_clean").alias("scrub_fp"),
        "n_tokens",
        "stop_ratio",
    )
    rows = drained.collect()  # small (≤ one row per gated distinct text)
    shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        rows, "content_hash string, scrub_fp string, n_tokens int, stop_ratio double"
    )


def o_stream_clean_drain() -> str:
    from openie_with_entities_spark.operators.docops import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )
    from __spark_entry__ import _STOPLIST_SQL

    # documents texts are all distinct, so the injected duplicates collapse
    # back onto their originals and the batch equivalent is a pure per-text
    # gate (same gate SQL as o_docs_prepare_corpus)
    return f"""
        SELECT md5(text) AS content_hash,
               md5(regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}',
                   '<EMAIL>', 'g'), '{PII_PHONE_RE}', '<PHONE>', 'g'))
                   AS scrub_fp,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
               round(len(list_filter(string_split(text, ' '),
                     t -> list_contains({_STOPLIST_SQL}, t)))
                     / len(string_split(text, ' ')), 4) AS stop_ratio
        FROM documents
        WHERE len(string_split(text, ' ')) >= 10
          AND len(string_split(text, ' ')) <= 100000
          AND len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
              / len(string_split(text, ' ')) < 0.3
          AND round(len(list_filter(string_split(text, ' '),
                    t -> list_contains({_STOPLIST_SQL}, t)))
                    / len(string_split(text, ' ')), 4) >= 0.08
    """


def records() -> list[tuple]:
    """This module's driver contracts, one ``(name, query, oracle)`` record
    each; ``__spark_entry__`` registers them after its own, in this order."""
    return [
        ("s2_labels_scan", q_s2_labels_scan, O_S2),
        ("s3_conj_scan", q_s3_conj_scan, O_S3),
        ("s4_gold_scan", q_s4_gold_scan, O_S4),
        ("s7_allennlp_lines", q_s7_allennlp_lines, o_s7()),
        ("p2_sentinel_append", q_p2_sentinel_append, O_P2),
        ("p3_tokenize_guard", q_p3_tokenize_guard, O_P3),
        ("p4_wordpiece_align", q_p4_wordpiece_align, o_p4()),
        ("p6_verb_mask", q_p6_verb_mask, o_p6()),
        ("p8_detect_mentions", q_p8_detect_mentions, o_p8()),
        ("p10_char_to_word", q_p10_char_to_word, o_p10()),
        ("p12_decode_triple", q_p12_decode_triple, o_p12()),
        ("m2_decode_coords", q_m2_decode_coords, O_M2),
        ("m3_conj_split", q_m3_conj_split, O_M3),
        ("m4_oie_stage", q_m4_oie_stage, o_m4()),
        ("a1_group_by_sentence", q_a1_group_by_sentence, o_a1()),
        ("a5_violation_counters", q_a5_violation_counters, o_a5()),
        ("a11_split_conservation", q_a11_split_conservation, O_A11),
        ("a12_length_buckets", q_a12_length_buckets, O_A12),
        ("e1_tuple_match", q_e1_tuple_match, O_E1),
        ("e2_carb_pr", q_e2_carb_pr, O_E2),
        ("e6_f1_auc", q_e6_f1_auc, o_e6()),
        ("s10_checkpoint_resume", q_s10_checkpoint_resume, O_S10),
        ("kg_triples_checksum", q_kg_triples_checksum, O_KG_CHECKSUM),
        ("p15_predicate_norm", q_p15_predicate_norm, o_p15()),
        ("e5_conj_eval", q_e5_conj_eval, O_E5_CONJ),
        ("emb_cosine_neardup", q_emb_neardup, O_EMB_NEARDUP),
        ("media_frame_sample", q_media_frame_sample, O_FRAMES),
        ("docs_winnowing", q_docs_winnowing, O_WINNOW),
        ("docs_simhash_checksum", q_simhash_checksum, O_SIMHASH_CS),
        ("emb_ivf_topk", q_emb_ivf_topk, O_IVF),
        ("s8_labels_sink", q_s8_labels_sink, O_S8_SINK),
        ("e5_conj_from_labels", q_e5_conj_from_labels, O_E5_FROM_LABELS),
        ("docs_train_split", q_docs_train_split, O_TRAIN_SPLIT),
        ("docs_pack_sequences", q_docs_pack_sequences, O_PACK),
        ("docs_tfidf_topk", q_docs_tfidf_topk, O_TFIDF),
        ("docs_repetition_stats", q_docs_repetition, O_REPETITION),
        ("docs_pii_scrub", q_docs_pii_scrub, o_docs_pii_scrub()),
        ("docs_contamination", q_docs_contamination, O_CONTAMINATION),
        ("docs_neardup_clusters", q_docs_neardup_clusters, o_docs_neardup_clusters()),
        ("docs_prepare_corpus", q_docs_prepare_corpus, o_docs_prepare_corpus()),
        ("emb_knn_graph", q_emb_knn_graph, O_KNN),
        ("e1_matcher_variants", q_e1_matcher_variants, O_E1V),
        ("e2_carb_ss", q_e2_carb_ss, O_E2_SS),
        ("kg_graph_edges", q_kg_graph_edges, o_kg_graph_edges()),
        ("conv_dedup_exact", q_conv_dedup_exact, O_CONV_DEDUP),
        ("conv_neardup", q_conv_neardup, O_CONV_NEARDUP),
        ("conv_pack", q_conv_pack, O_CONV_PACK),
        ("conv_quality", q_conv_quality, O_CONV_QUALITY),
        ("conv_prepare", q_conv_prepare, o_conv_prepare()),
        ("docs_heavy_hitters", q_docs_heavy_hitters, O_HEAVY_HITTERS),
        ("docs_mixture_sample", q_docs_mixture_sample, o_docs_mixture_sample()),
        ("docs_unigram_logprob", q_docs_unigram_logprob, O_UNIGRAM_LP),
        ("s10_salted_resume", q_s10_salted_resume, O_S10),
        ("reader_ollie", q_reader_ollie, O_READER_OLLIE),
        ("reader_openie4", q_reader_openie4, O_READER_OPENIE4),
        ("reader_openie5", q_reader_openie5, O_READER_OPENIE5),
        ("reader_props", q_reader_props, O_READER_PROPS),
        ("reader_reverb", q_reader_reverb, O_READER_REVERB),
        ("reader_stanford", q_reader_stanford, O_READER_STANFORD),
        ("reader_tab", q_reader_tab, O_READER_TAB),
        ("reader_clausie", q_reader_clausie, O_READER_CLAUSIE),
        ("reader_benchmark_gold", q_reader_benchmark_gold, O_READER_BGOLD),
        ("reader_split_tabbed", q_reader_split_tabbed, O_READER_SPLIT_TABBED),
        ("fmt_readable", q_fmt_readable, O_FMT_READABLE),
        ("fmt_oie_to_allennlp", q_fmt_oie_to_allennlp, O_FMT_O2A),
        ("fmt_senseoie", q_fmt_senseoie, O_FMT_SENSEOIE),
        ("e2_pr_curve", q_e2_pr_curve, O_E2_CURVE),
        ("reader_wire57", q_reader_wire57, O_READER_WIRE57),
        ("wire57_scores", q_wire57_scores, O_WIRE57),
        ("kg_khop", q_kg_khop, o_kg_khop()),
        ("kg_degree_topk", q_kg_degree_topk, o_kg_degree_topk()),
        ("kg_pagerank", q_kg_pagerank, o_kg_pagerank()),
        ("kg_triangles", q_kg_triangles, o_kg_triangles()),
        ("stream_clean_drain", q_stream_clean_drain, o_stream_clean_drain()),
        ("e2_carb_sentences", q_e2_carb_sentences, O_E2_SENTENCES),
        ("e2_stamp_optimal", q_e2_stamp_optimal, O_E2_STAMP),
        ("kg_merge_edges", q_kg_merge_edges, O_KG_MERGE),
        ("kg_lpa", q_kg_lpa, o_kg_lpa()),
    ]
