"""Readers/writers for the reference's interchange formats (SURVEY §2.1).

  * gold TSV (CaRB)  ≙ GoldReader, /root/reference/carb/oie_readers/goldReader.py:14-38
  * .allennlp        ≙ process_allennlp, /root/reference/data_preprocessing.py:416-449
                       and the sink at /root/reference/model.py:648-654
  * .oie             ≙ write_to_file + ext_to_string,
                       /root/reference/model.py:691-702, data.py:571-584
  * conj-split file  ≙ load_conj_mapping, /root/reference/data_preprocessing.py:403-414
  * labels render    ≙ label names of /root/reference/run.py:246-291

Everything is native column expressions: regexp_extract for tagged formats,
format_string for rendering, explode/window for block structure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.render import py_float_str

OIE_LABEL_NAMES = ["NONE", "ARG1", "REL", "ARG2", "LOC", "TYPE"]


def read_gold_tsv(spark: SparkSession, path: str) -> DataFrame:
    """CaRB gold TSV: sentence \\t rel \\t arg1 [\\t argN…]; confidence
    fixed at 1.

    Exactly the reference GoldReader's arg semantics
    (/root/reference/carb/oie_readers/goldReader.py:14-38): any arg
    containing ``"C: "`` at ANY position is dropped and later args shift up
    BEFORE arg1/arg2 are assigned, and every field is stripped — dev.tsv has
    lines with a `C: ` arg in the arg2 slot, so pinning fields 3/4 would
    mis-assign them."""
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    args = F.transform(
        F.filter(
            F.slice(parts, 3, 100000),
            lambda a: a.isNotNull() & ~a.contains("C: "),
        ),
        F.trim,
    )
    return raw.where(F.length("value") > 0).select(
        F.trim(F.element_at(parts, 1)).alias("sentence"),
        F.trim(F.element_at(parts, 2)).alias("rel"),
        F.coalesce(F.get(args, 0), F.lit("")).alias("arg1"),
        F.coalesce(F.get(args, 1), F.lit("")).alias("arg2"),
        F.slice(args, 3, 100000).alias("extra_args"),
        F.lit(1.0).alias("confidence"),
    )


def read_allennlp(spark: SparkSession, path: str) -> DataFrame:
    """`sent \\t <arg1> … </arg1> <rel> … </rel> <arg2> … </arg2> \\t conf`"""
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), "\t")
    tagged = F.element_at(parts, 2)
    return raw.where(F.length("value") > 0).select(
        F.element_at(parts, 1).alias("sentence"),
        F.trim(F.regexp_extract(tagged, r"<arg1>(.*)</arg1>", 1)).alias("arg1"),
        F.trim(F.regexp_extract(tagged, r"<rel>(.*)</rel>", 1)).alias("rel"),
        F.trim(F.regexp_extract(tagged, r"<arg2>(.*)</arg2>", 1)).alias("arg2"),
        F.element_at(parts, 3).cast("double").alias("confidence"),
    )


def to_allennlp_lines(triples: DataFrame, sentence_col: str = "sentence") -> DataFrame:
    """One tagged line per extraction (the reference's .allennlp sink)."""
    return triples.select(
        F.format_string(
            "%s\t<arg1> %s </arg1> <rel> %s </rel> <arg2> %s </arg2>\t%s",
            F.col(sentence_col),
            F.col("arg1"),
            F.col("rel"),
            F.col("arg2"),
            py_float_str(F.col("confidence")),  # Python str(float) parity
        ).alias("value")
    )


def to_oie_blocks(triples: DataFrame, key_cols: list[str], sentence_col: str) -> DataFrame:
    """Per-sentence text blocks: sentence line + `%.2f: (arg1; rel; arg2)`
    lines in insertion order — the golden-file format."""
    line = F.format_string(
        "%.2f: (%s; %s; %s)",
        F.col("confidence"),
        F.col("arg1"),
        F.col("rel"),
        F.col("arg2"),
    )
    ordered = F.array_sort(
        F.collect_list(
            F.struct(F.col("split_idx"), F.col("ext_idx"), line.alias("line"))
        )
    )
    return (
        triples.groupBy(*key_cols, sentence_col)
        .agg(
            F.concat_ws(
                "\n",
                F.col(sentence_col),
                F.array_join(
                    F.transform(ordered, lambda s: s["line"]), "\n"
                ),
            ).alias("block")
        )
    )


def _numbered_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Shared scaffolding for blank-line-delimited block files: assign each
    non-blank line a (block_id, pos) via a window-sum over blank-line
    markers — the distributed version of the reference's stateful file
    walk. The window partitions by ``input_file_name`` so a directory of
    files parallelizes per-file instead of serializing into one global
    sort; block_id = (file, in-file ordinal) stays globally unique.
    ``monotonically_increasing_id`` is partition-prefixed and text splits
    follow file offset order, so ordering by it within a file is exact."""
    raw = spark.read.text(path).select(
        F.input_file_name().alias("_file"),
        F.monotonically_increasing_id().alias("line_id"),
        "value",
    )
    w = Window.partitionBy("_file").orderBy("line_id")
    blocks = raw.withColumn(
        "blk",
        F.sum(F.when(F.col("value") == "", 1).otherwise(0)).over(w),
    ).where(F.col("value") != "")
    blocks = blocks.withColumn(
        "block_id", F.concat_ws("#", "_file", F.col("blk").cast("string"))
    )
    w_blk = Window.partitionBy("block_id").orderBy("line_id")
    return blocks.withColumn("pos", F.row_number().over(w_blk))


def read_conj_blocks(spark: SparkSession, path: str) -> DataFrame:
    """Parse `orig\\nsplit1\\nsplit2\\n\\n` blocks into (orig, split_idx,
    split) rows (see _numbered_blocks for the block assignment)."""
    numbered = _numbered_blocks(spark, path)
    orig = numbered.where("pos = 1").select(
        "block_id", F.col("value").alias("orig_sentence")
    )
    rest = numbered.where("pos > 1").select(
        "block_id",
        (F.col("pos") - 2).alias("split_idx"),
        F.col("value").alias("split_sentence"),
    )
    return orig.join(rest, "block_id", "left").select(
        "orig_sentence",
        F.coalesce("split_idx", F.lit(0)).alias("split_idx"),
        F.coalesce("split_sentence", F.col("orig_sentence")).alias(
            "split_sentence"
        ),
    )


def read_labels_file(spark: SparkSession, path: str) -> DataFrame:
    """Training-label file (S2, /root/reference/data.py:256-310):
    blank-line-delimited blocks of `sentence\\nlabelrow1\\nlabelrow2…` →
    (sentence, depth, labels:array<string>). Same per-file window-sum
    block assignment as read_conj_blocks (_numbered_blocks)."""
    numbered = _numbered_blocks(spark, path)
    sent = numbered.where("pos = 1").select(
        "block_id", F.col("value").alias("sentence")
    )
    labels = numbered.where("pos > 1").select(
        "block_id",
        (F.col("pos") - 2).alias("depth"),
        F.split(F.col("value"), " ").alias("labels"),
    )
    return sent.join(labels, "block_id", "inner").select(
        "sentence", "depth", "labels"
    )


def project_labels_to_original(
    split_labels: list[int], split_indices: list[int], orig_len: int
) -> list[int]:
    """S8 label re-projection (/root/reference/run.py:272-281): scatter a
    split sentence's per-token labels back onto the original sentence's
    token positions (split_indices[i] = original index of split token i);
    unmapped positions stay NONE. Pure function used inside the labels-sink
    UDF."""
    out = [0] * orig_len
    for i, orig_idx in enumerate(split_indices):
        if i < len(split_labels) and orig_idx < orig_len:
            out[orig_idx] = split_labels[i]
    return out


def render_labels(labels_df: DataFrame) -> DataFrame:
    """(sentence, depth, labels:array<int>) → space-joined label names
    (the .labels sink, /root/reference/run.py:246-291)."""
    name_map = F.array(*[F.lit(n) for n in OIE_LABEL_NAMES])
    return labels_df.select(
        "sentence",
        "depth",
        F.array_join(
            F.transform(
                F.col("labels"), lambda x: F.element_at(name_map, x + 1)
            ),
            " ",
        ).alias("label_str"),
    )


# get_labels' render dict (/root/reference/run.py:247): LOC/TIME folds into
# ARG2 and TYPE into NONE at RENDER time — ids upstream stay raw
GET_LABELS_NAMES = ["NONE", "ARG1", "REL", "ARG2", "ARG2", "NONE"]


def to_labels_blocks(label_rows: DataFrame, sentences: DataFrame) -> DataFrame:
    """S8 `.labels` sink, end-to-end: per-extraction label rows over
    original-token positions (extract.stages.oie_labels_stage) + the
    original sentences → one text block per original sentence, exactly the
    block structure get_labels emits (/root/reference/run.py:246-291):
    the sentence line, then one rendered label line per kept extraction in
    (split_idx, depth) order. Sentences whose splits produced no keepable
    extraction still emit their (bare) block — run.py:258 appends the
    sentence line unconditionally. Join blocks with blank lines for the
    on-disk file.

    ``sentences`` must be the sentences that were FED to the model (the
    eligible set) — the reference iterates exactly those."""
    name_map = F.array(*[F.lit(n) for n in GET_LABELS_NAMES])
    line = F.array_join(
        F.transform(F.col("labels"), lambda x: F.element_at(name_map, x + 1)),
        " ",
    )
    keys = ["conv_id", "turn_idx", "sent_idx"]
    per_ext = label_rows.select(
        *keys, F.struct("split_idx", "depth", line.alias("line")).alias("e")
    )
    agg = per_ext.groupBy(*keys).agg(
        F.array_sort(F.collect_list("e")).alias("_exts")
    )
    lines = F.array_join(
        F.transform(F.col("_exts"), lambda s: s["line"]), "\n"
    )
    return (
        sentences.select(*keys, "text")
        .join(agg, keys, "left")
        .select(
            *keys,
            F.when(
                F.col("_exts").isNull(), F.col("text")
            ).otherwise(F.concat_ws("\n", F.col("text"), lines)).alias("block"),
        )
    )


def to_readable_blocks(
    preds: DataFrame, threshold: float | None = None
) -> DataFrame:
    """Human-readable per-sentence blocks — the reference's
    ``utils/readable.py`` allennlp path (readable.py:88-130): for each
    sentence, extractions sorted by confidence descending, each line
    ``round(exp(conf), 2) ( arg1 ; rel ; arg2 )`` (allennlp confidences
    are log-probs; the tag→bracket rewrite of readable.py:119-123 on a
    well-formed tagged string is exactly this spaced-bracket render).
    ``threshold`` drops rows with ``confidence < threshold`` BEFORE the
    exp, as the reference does.

    Within equal confidences the reference keeps file order; a distributed
    group has no file order, so ties break on the rendered line
    (deterministic, order-independent). Returns (sentence, block)."""
    if threshold is not None:
        preds = preds.where(F.col("confidence") >= F.lit(threshold))
    # str(round(exp(c), 2)) — double→string casts render the shortest
    # repr ('1.0', '0.61'), matching Python's str(float)
    line = F.format_string(
        "%s ( %s ; %s ; %s )",
        F.round(F.exp("confidence"), 2).cast("string"),
        F.col("arg1"),
        F.col("rel"),
        F.col("arg2"),
    )
    ordered = F.reverse(
        F.array_sort(
            F.collect_list(
                F.struct(F.round("confidence", 4).alias("c"), line.alias("l"))
            )
        )
    )
    return preds.groupBy("sentence").agg(
        F.concat_ws(
            "\n",
            F.col("sentence"),
            F.array_join(F.transform(ordered, lambda s: s["l"]), "\n"),
        ).alias("block")
    )


def readable_to_allennlp(
    spark: SparkSession, path: str, conj: DataFrame | None = None
) -> DataFrame:
    """Parse a readable extraction file back to allennlp rows — the
    reference's ``utils/oie_to_allennlp.py``: blank-line-delimited blocks
    of ``sentence\\nconf (arg1 ; rel ; arg2)…``; the confidence is the
    first space-token stripped of ':', a 'Context' line is rewritten to
    ``' '.join(split(':')[1:])``, fields split on ';' with arg1 losing the
    opening '(' and the object = remaining fields space-joined minus the
    closing ')' with 'L:'/'T:' markers removed (oie_to_allennlp.py:36-63).

    ``conj`` (optional) is the split→original mapping of a conj file —
    (orig_sentence, split_sentence) rows, e.g. ``read_conj_blocks(...)
    .where("split_sentence <> orig_sentence")``. Blocks whose sentence is
    an ORIGINAL with splits are dropped (their extractions come from the
    splits) and split sentences are rewritten to their original. The
    mapping is a broadcast join — the reference holds it fully in memory.

    Two knowing divergences from ``oie_to_allennlp.py:22-40`` on malformed
    conj files: (1) the reference maps a block whose only "split" equals
    the original (``conj_mapping[orig] = orig``) and therefore DROPS that
    sentence; ``read_conj_blocks``'s coalesced output cannot distinguish
    that case from a splitless block (which the reference keeps), so with
    the recommended ``split <> orig`` filter this keeps both. (2) a split
    sentence listed under two originals keeps the reference's LAST block
    in file order (dict overwrite); the mapping DataFrame carries no file
    order, so this keeps one deterministic original (max). Well-formed
    conj output (one block per original, splits ≠ original, no shared
    splits) round-trips identically.

    Returns (sentence, tagged, confidence_str) plus ``line`` — the
    on-disk ``sent\\t<arg1>…\\tconf`` row."""
    numbered = _numbered_blocks(spark, path)
    sent = numbered.where("pos = 1").select(
        "block_id", F.col("value").alias("sentence")
    )
    if conj is not None:
        # one original per split (divergence (2) in the docstring): a
        # shared split would otherwise duplicate its extraction rows
        # through the left join below
        mapping = F.broadcast(
            conj.groupBy("split_sentence").agg(
                F.max("orig_sentence").alias("orig_sentence")
            )
        )
        originals = F.broadcast(
            conj.select(F.col("orig_sentence").alias("sentence")).distinct()
        )
        sent = sent.join(originals, "sentence", "left_anti")
        sent = (
            sent.join(
                mapping,
                sent["sentence"] == mapping["split_sentence"],
                "left",
            )
            .select(
                "block_id",
                F.coalesce("orig_sentence", "sentence").alias("sentence"),
            )
        )
    ext = (
        numbered.where("pos > 1")
        .select("block_id", "pos", F.col("value").alias("raw"))
        # confidence = first space-token, ':' stripped from both ends
        .withColumn(
            "confidence_str", F.expr("trim(BOTH ':' FROM split(raw, ' ')[0])")
        )
        # ' '.join(tokens[1:]) ≡ text after the first space
        .withColumn("_rest", F.expr("substr(raw, instr(raw, ' ') + 1)"))
        # a Context extraction: ' '.join(split(':')[1:]) ≡ drop through the
        # first ':' and turn every later ':' into a space
        .withColumn(
            "_rest",
            F.when(
                F.col("_rest").contains("Context"),
                F.expr(
                    "translate(substr(_rest, instr(_rest, ':') + 1), ':', ' ')"
                ),
            ).otherwise(F.col("_rest")),
        )
        .withColumn("_fields", F.split("_rest", ";"))
        # object = ' '.join(fields[2:]) minus the trailing ')'
        .withColumn(
            "_obj", F.array_join(F.slice("_fields", 3, 1_000_000), " ")
        )
    )
    parsed = ext.select(
        "block_id",
        "pos",
        "confidence_str",
        F.trim(F.expr("substr(element_at(_fields, 1), 2)")).alias("arg1"),
        F.trim(F.element_at("_fields", 2)).alias("rel"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(
                    F.expr("substr(_obj, 1, length(_obj) - 1)"), "L:", ""
                ),
                "T:",
                "",
            )
        ).alias("arg2"),
    )
    out = parsed.join(sent, "block_id").select(
        "sentence",
        F.format_string(
            "<arg1> %s </arg1> <rel> %s </rel> <arg2> %s </arg2>",
            "arg1",
            "rel",
            "arg2",
        ).alias("tagged"),
        "confidence_str",
    )
    return out.withColumn(
        "line",
        F.format_string("%s\t%s\t%s", "sentence", "tagged", "confidence_str"),
    )


def senseoie_to_allennlp(
    pairs: DataFrame, test_sentences: DataFrame
) -> DataFrame:
    """SenseOIE output → CaRB-scorable allennlp rows — the reference's
    ``utils/senseoie.py``: per (tokens, labels) row, arg1/rel/arg2 are the
    space-joins of the words labeled E1/R/E2 (senseoie.py:5-19
    get_extraction), the sentence is matched against the test corpus on a
    whitespace-stripped lowercase key, and only matched sentences are kept
    with the test corpus's canonical surface form (the part before
    ``[unused1]``) and confidence 1 (senseoie.py:24-40).

    ``pairs`` needs (tokens:array<string>, labels:array<string>);
    ``test_sentences`` needs a ``sentence`` column. The test corpus is a
    broadcast join — the reference holds it fully in memory."""
    def picked(label: str):
        pick = F.zip_with(
            "tokens", "labels",
            lambda w, l: F.when(l == label, w),
        )
        return F.array_join(F.filter(pick, lambda x: x.isNotNull()), " ")

    exts = pairs.select(
        F.lower(
            F.regexp_replace(F.array_join("tokens", " "), " ", "")
        ).alias("norm_key"),
        F.format_string(
            "<arg1> %s </arg1> <rel> %s </rel> <arg2> %s </arg2>",
            picked("E1"), picked("R"), picked("E2"),
        ).alias("tagged"),
    )
    canon = F.trim(F.substring_index("sentence", "[unused1]", 1))
    tests = test_sentences.select(
        canon.alias("sentence"),
        F.lower(F.regexp_replace(canon, " ", "")).alias("norm_key"),
    ).distinct()
    return exts.join(F.broadcast(tests), "norm_key").select(
        "sentence",
        "tagged",
        F.lit(1.0).alias("confidence"),
        F.format_string(
            "%s\t%s\t1", "sentence", "tagged"
        ).alias("line"),
    )


# conj label ids (/root/reference/data.py:410-412); index in this list = id
CONJ_LABEL_NAMES = ["NONE", "CP", "CP_START", "CC", "SEP", "OTHERS"]


def read_conj_labels(spark: SparkSession, path: str) -> DataFrame:
    """Conjunction GOLD `.labels` file → coordination rows
    (sent_key, cc, spans, seps) — the converter that lets the reference's
    conjunction benchmark run end-to-end from a file: gold labels
    (run.py:379-381 ptb-*.labels defaults) decode through the same
    ``get_coords`` semantics the metric applies to ground truth
    (/root/reference/metric.py:316-325), ready for evaluate_conjunctions.

    Parse = read_labels_file's block scan; name→id via array_position on
    the id-ordered name list (1-based position − 1 ≡ data.py's label_dict);
    per-sentence matrices decode in an Arrow-batched stage."""
    import pandas as pd

    from ..functions.decode import decode_coordinations

    names = F.lit(CONJ_LABEL_NAMES)
    rows = read_labels_file(spark, path).select(
        "sentence",
        "depth",
        F.transform(
            F.col("labels"),
            lambda s: (F.array_position(names, s) - 1).cast("int"),
        ).alias("lab_ids"),
    )
    mat = rows.groupBy("sentence").agg(
        F.array_sort(F.collect_list(F.struct("depth", "lab_ids"))).alias("m")
    )

    def run(batches):
        for pdf in batches:
            out = {"sent_key": [], "cc": [], "spans": [], "seps": []}
            for sent, m in zip(pdf["sentence"], pdf["m"]):
                matrix = [list(r["lab_ids"]) for r in m]
                if any(x < 0 for row in matrix for x in row):
                    # array_position returns 0 (→ −1) for names outside the
                    # vocabulary; decoding would silently drop the block
                    raise ValueError(
                        "unknown conjunction label name in gold .labels "
                        f"block for sentence: {sent!r}"
                    )
                for cc, coord in decode_coordinations(matrix).items():
                    if coord is None:
                        continue
                    out["sent_key"].append(sent)
                    out["cc"].append(cc)
                    out["spans"].append(
                        [{"s": s, "e": e} for (s, e) in coord.spans]
                    )
                    out["seps"].append(list(coord.seps))
            if out["sent_key"]:
                yield pd.DataFrame(out)

    return mat.mapInPandas(
        run,
        schema="sent_key string, cc int, spans array<struct<s:int,e:int>>, "
        "seps array<int>",
    )
