"""Large-scale training-data pipeline operators over a documents table
(doc_id, text, …): deduplication, text analysis, fingerprinting.

All hot paths are native Spark SQL expressions (whole-stage codegen; no
Python). Hashes are md5-based so the DuckDB oracle can reproduce them
bit-for-bit; at 100 TB you would swap md5 for xxhash64 (same structure,
cheaper hash) — the shuffle/agg shape is identical.

Scale notes per operator are in the docstrings; the unifying design is:
  * dedup = groupBy/aggregate on a deterministic key (map-side partial agg)
  * near-dup = candidate generation by shared bucket (shingle/minhash band)
    joined doc↔doc ONLY within buckets — never an all-pairs cross join
  * analysis = per-row projections, fully pushdown/codegen friendly
"""

from __future__ import annotations

import pandas as pd  # module level: pandas_udf type hints must resolve
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import fit_partitions

STOPWORDS = [
    "the", "a", "an", "of", "to", "and", "in", "is", "was", "it", "for",
    "on", "with", "as", "at", "by", "that", "this", "are", "be",
]

# BPE-ish token pattern: letter runs, digit runs, single other glyphs.
# Doubled backslash: this is interpolated into a Spark SQL string literal,
# whose parser processes escapes.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


# ----------------------------------------------------------------- analysis


def tokenize(col):
    return F.split(col, " ")


def quality_score(docs: DataFrame) -> DataFrame:
    """Length/punctuation/stopword heuristics → keep/drop flag.

    One projection over one scan — all stats are per-row expressions, so a
    join/second scan would only add cost (and did, before this was
    flattened; see tests/test_plans.py::test_whole_stage_codegen)."""
    toks = tokenize(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.size(
        F.expr(r"regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)")
    )
    enriched = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        n_punct.alias("n_punct"),
        n_stop.alias("n_stop"),
    )
    return enriched.select(
        "doc_id",
        "n_tokens",
        "n_punct",
        "n_stop",
        F.round(F.col("n_punct") / F.col("n_tokens"), 4).alias("punct_ratio"),
        F.round(F.col("n_stop") / F.col("n_tokens"), 4).alias("stop_ratio"),
        (
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 100000)
            & (F.col("n_punct") / F.col("n_tokens") < 0.3)
        ).alias("keep"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-ratio language guess (n-gram-free heuristic: documents with
    enough English function words are 'en')."""
    toks = tokenize(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    ratio = F.round(n_stop / F.size(toks), 4)
    return docs.select(
        "doc_id",
        ratio.alias("stop_ratio"),
        F.when(ratio >= 0.08, F.lit("en")).otherwise(F.lit("other")).alias(
            "lang_guess"
        ),
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    return docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.expr(f"regexp_extract_all(text, '{BPE_TOKEN_RE}', 0)")).alias(
            "n_bpe_tokens"
        ),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Whitespace-normalized content fingerprint (md5)."""
    return docs.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fp"),
    )


def train_split(
    docs: DataFrame,
    train: float = 0.9,
    val: float = 0.05,
    salt: str = "v1",
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent hash
    of the document KEY — the property a training pipeline needs: stable
    under reshuffles/re-reads, re-derivable years later from the id alone,
    changeable only by bumping ``salt``.

    The split compares the md5 hex digest LEXICOGRAPHICALLY against
    fraction thresholds expressed as hex prefixes (0.9 → 'e6666666': the
    digest is uniform over [0, 16³²), and hex strings order identically in
    every engine) — no integer conversion, so the DuckDB oracle reproduces
    it byte-for-byte. Pure projection: zero shuffle at any scale."""

    def hex_threshold(frac: float, digits: int = 8) -> str:
        return format(int(frac * (16 ** digits)), f"0{digits}x")

    h = F.substring(F.md5(F.concat_ws(":", F.lit(salt), F.col("doc_id"))), 1, 8)
    return docs.select(
        "doc_id",
        h.alias("split_key"),
        F.when(h < hex_threshold(train), F.lit("train"))
        .when(h < hex_threshold(train + val), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def pack_sequences(
    docs: DataFrame, max_tokens: int = 2048
) -> DataFrame:
    """Assign documents to ~max_tokens training bins (sequence packing for
    a context-window loader): within each SOURCE shard, documents in
    doc_id order pack greedily by cumulative whitespace-token count —
    bin = floor((cumsum − n)/max_tokens), the concat-then-chop packing a
    streaming tokenizer applies.

    Partitioned by ``source`` — the shard key a real corpus already has —
    so the window never degenerates into a single global sort: each
    shard's packing is independent, exactly like per-file packing in a
    production loader. One shuffle (the window exchange), all expressions
    codegen."""
    w = Window.partitionBy("source").orderBy("doc_id")
    n = F.size(tokenize(F.col("text")))
    packed = docs.select(
        "doc_id", "source", n.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return packed.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(
            (F.col("cum_tokens") - F.col("n_tokens")) / max_tokens
        ).cast("long").alias("bin_id"),
    )


def mixture_sample(
    docs: DataFrame, weights: dict[str, float], salt: str = "mix1"
) -> DataFrame:
    """Deterministic domain-mixture downsampling (the data-mixing step a
    pre-training pipeline runs before packing): given target mixture
    weights per source, keep each source at rate w_s·T/tokens_s where
    T = min_s tokens_s/w_s — the largest target corpus achievable without
    upsampling any source, so every rate ∈ (0, 1] and the kept corpus's
    token mixture converges to the requested weights.

    The keep decision reuses train_split's engine-portable primitive: an
    8-hex-digit md5 prefix of (salt, doc_id) compared against the rate as
    a hex threshold — stable under reshuffles, re-derivable from the id,
    changeable only via ``salt``. rate arithmetic is a fixed sequence of
    IEEE double ops (sum, min, mul, div, round) so both engines produce
    bit-identical rates; rate ≥ 1 short-circuits (its 9-hex-char
    threshold would compare lexicographically WRONG against an 8-char
    digest). Sources absent from ``weights`` are dropped (inner join) —
    the mixture defines the corpus.

    Shuffle story: one tiny per-source aggregate + two broadcast joins;
    the document table itself never shuffles."""
    spark = docs.sparkSession
    w_rows = [(s, float(w)) for s, w in sorted(weights.items())]
    if not w_rows:
        raise ValueError("weights must be a non-empty {source: weight} map")
    bad = {s: w for s, w in w_rows if not w > 0}
    if bad:
        # a negative weight makes T (and every rate) negative; the hex
        # threshold of a negative long lpad-TRUNCATES to 'ffffffff', which
        # silently keeps ~every document — fail loudly instead
        raise ValueError(f"weights must be > 0; got {bad}")
    wdf = spark.createDataFrame(w_rows, "source string, w double")
    n = F.size(F.filter(tokenize(F.col("text")), lambda t: t != ""))
    per_src = (
        docs.groupBy("source")
        .agg(F.sum(n).alias("tokens_s"))
        .join(F.broadcast(wdf), "source")
    )
    t_min = per_src.agg(
        F.min(F.col("tokens_s") / F.col("w")).alias("_T")
    )
    rates = per_src.join(F.broadcast(t_min)).select(
        "source",
        F.round(F.col("w") * F.col("_T") / F.col("tokens_s"), 8).alias(
            "rate"
        ),
    )
    h = F.substring(
        F.md5(F.concat_ws(":", F.lit(salt), F.col("doc_id"))), 1, 8
    )
    thr = F.lpad(
        F.lower(
            F.hex(F.floor(F.col("rate") * F.lit(float(16 ** 8))).cast("long"))
        ),
        8,
        "0",
    )
    return (
        docs.select("doc_id", "source", n.alias("n_tokens"))
        .join(F.broadcast(rates), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "rate",
            ((F.col("rate") >= 1.0) | (h < thr)).alias("keep"),
        )
    )


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """Per-document top-k tokens by TF·IDF — the standard keyword/topic
    profile over a corpus. tf = in-document count, idf = ln(1 + N/df)
    (the +1 keeps ubiquitous tokens finite), score rounded to 4 decimals
    BEFORE ranking with a token tiebreak so rankings reproduce across
    engines and summation orders.

    Shape: one explode → two map-combinable aggregates ((doc, token) tf and
    token df) → broadcast-size df join only for tokens that survive — df
    is corpus-vocabulary-sized, not corpus-sized, so the join side stays
    broadcastable far beyond this sandbox."""
    toks = _spread(docs).select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    # N as a lazy 1-row aggregate broadcast into the plan — an eager
    # docs.count() here would run one extra scan per invocation at
    # plan-BUILD time, before the query is even executed
    n_docs = docs.agg(F.count("*").cast("double").alias("_n_docs"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("_n_docs") / F.col("df")),
                4,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "token")
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Intra-document repetition signals (the Gopher-rules family): the
    fraction of duplicate lines, the fraction of word bigrams occupied by
    the single most-frequent bigram, and the overall duplicate-token
    fraction. High values mark boilerplate/navigation/spam documents that
    survive corpus-level dedup because each COPY is unique.

    Pure per-row projection over line/token arrays (HOF count-distinct and
    mode inside the row) — zero shuffle at any scale."""
    lines = F.filter(F.split("text", "\n"), lambda l: l != F.lit(""))
    toks = F.filter(tokenize(F.col("text")), lambda t: t != F.lit(""))
    bigrams = F.zip_with(
        toks, F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bigrams = F.slice(bigrams, 1, F.greatest(F.size(toks) - 1, F.lit(0)))

    def dup_frac(arr):
        return F.round(
            (F.size(arr) - F.size(F.array_distinct(arr)))
            / F.greatest(F.size(arr), F.lit(1)),
            4,
        )

    # mode share: count of the most frequent element = the longest run of
    # equal adjacents in the SORTED array — one aggregate pass per row
    # (an earlier O(n²) distinct×filter formulation paid ~n² interpreted
    # lambda evaluations per row: 14s vs <1s at sf0.1)
    sorted_bg = F.array_sort(bigrams)
    run_n = lambda a, x: F.when(  # noqa: E731 - local expr builder
        x == a["prev"], a["run"] + 1
    ).otherwise(F.lit(1))
    top_bigram_n = F.aggregate(
        sorted_bg,
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("int").alias("run"),
            F.lit(0).cast("int").alias("best"),
        ),
        lambda a, x: F.struct(
            x.alias("prev"),
            run_n(a, x).alias("run"),
            F.greatest(a["best"], run_n(a, x)).alias("best"),
        ),
        lambda a: a["best"],
    )
    return docs.select(
        "doc_id",
        dup_frac(lines).alias("dup_line_frac"),
        dup_frac(toks).alias("dup_token_frac"),
        F.round(
            F.coalesce(
                F.when(top_bigram_n > 0, top_bigram_n), F.lit(0)
            )
            / F.greatest(F.size(bigrams), F.lit(1)),
            4,
        ).alias("top_bigram_frac"),
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# dash LAST inside the class (literal without escaping) — these patterns
# are also interpolated into Spark SQL string literals, whose parser
# processes backslash escapes (see BPE_TOKEN_RE above), so EVERY pattern
# used inside F.expr needs its backslashes doubled: an unescaped '\\.'
# becomes '.' there, silently broadening the match ('user@mail-com' would
# count as an email that the strict scrub then never redacts)
PII_PHONE_RE = r"\+?[0-9][0-9() -]{7,}[0-9]"
_EMAIL_RE_SQL = PII_EMAIL_RE.replace("\\", "\\\\")
_PHONE_RE_SQL = PII_PHONE_RE.replace("\\", "\\\\")


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails and phone-shaped digit runs with typed placeholders
    and count the redactions — the standard pre-training privacy pass.
    Two native regexp passes per row (codegen, zero shuffle). Emails are
    counted on the original text; phones on the email-scrubbed text, so
    the phone count always equals the number of <PHONE> substitutions in
    the final output (a digit run inside an email never double-counts)."""
    n_email = F.size(
        F.expr(f"regexp_extract_all(text, '{_EMAIL_RE_SQL}', 0)")
    )
    scrubbed1 = F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>")
    n_phone = F.size(
        F.expr(
            "regexp_extract_all(regexp_replace(text, "
            f"'{_EMAIL_RE_SQL}', '<EMAIL>'), '{_PHONE_RE_SQL}', 0)"
        )
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(scrubbed1, PII_PHONE_RE, "<PHONE>").alias(
            "text_scrubbed"
        ),
        n_email.alias("n_emails"),
        n_phone.alias("n_phones"),
    )


def heavy_hitters(docs: DataFrame, phi: float = 0.001) -> DataFrame:
    """Frequent tokens (count > φ·N) by two-pass Misra–Gries: the
    bounded-memory heavy-hitter pattern a 100 TB vocabulary pass needs.

    Pass 1 streams each partition once through a ⌈1/φ⌉-counter Misra–Gries
    summary (mapInPandas, O(1/φ) memory per task, NO shuffle of the token
    stream); the per-partition candidate union stays a LAZY DataFrame
    (distinct + broadcast — bounded by n_partitions·⌈1/φ⌉ rows,
    corpus-size-independent), so building the plan costs nothing and the
    MG scan runs only when the query executes. MG guarantees every
    token with true count > φ·N survives SOME partition summary (a
    per-partition sketch admits anything above φ·n_partition, and a
    global heavy hitter must exceed that share in at least one partition),
    so the candidate set is a superset of the answer. Pass 2 recounts ONLY
    candidate tokens exactly (in-row array_intersect-style filter before
    the aggregate, so the shuffle carries candidate counts, not the
    corpus) and applies the exact threshold — making the result EXACT and
    engine-portable (the DuckDB oracle is a plain count/HAVING), while
    both passes stay bounded-memory at any scale.

    Output: (token, cnt) for every token with cnt > φ·N, N = total token
    count (empty tokens excluded)."""
    from collections.abc import Iterator

    k = max(int(1.0 / phi), 1)

    def mg_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Batched Misra-Gries via the mergeable-summaries rule (Agarwal,
        # Cormode, Huang, Phillips, Wei, Yi — PODS'12): each Arrow batch
        # is counted EXACTLY with vectorized pandas (C-speed split/
        # value_counts, no per-token Python), merged into the sketch, then
        # pruned back to k entries by subtracting the (k+1)-th largest
        # count from all. The merged sketch keeps the streaming-MG
        # guarantee (error ≤ n_partition/(k+1)), so the superset property
        # the recount relies on is unchanged — at ~50× the single-token-
        # loop throughput, which is what matters when a partition holds
        # 10⁶+ tokens.
        from collections import Counter

        sketch: Counter = Counter()
        for pdf in batches:
            batch_counts = (
                pdf["text"].str.split(" ").explode().value_counts()
            )
            batch_counts = batch_counts[batch_counts.index != ""]
            sketch.update(batch_counts.to_dict())
            if len(sketch) > k:
                kth = sorted(sketch.values(), reverse=True)[k]
                sketch = Counter(
                    {t: c - kth for t, c in sketch.items() if c > kth}
                )
        yield pd.DataFrame({"token": list(sketch.keys())})

    cand_df = (
        docs.select("text")
        .mapInPandas(mg_partition, "token string")
        .distinct()
    )
    toks = tokenize(F.col("text"))
    n_total = docs.agg(
        F.sum(F.size(F.filter(toks, lambda t: t != ""))).alias("_n")
    )
    # candidate filter as a broadcast hash SEMI join (O(1) probe per token;
    # an array-literal membership test would scan the candidate list
    # linearly per token) — map-side, so only candidate occurrences reach
    # the count shuffle
    counts = (
        _spread(docs)
        .select(F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .join(F.broadcast(cand_df), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        counts.join(F.broadcast(n_total))
        .where(F.col("cnt") > phi * F.col("_n"))
        .select("token", "cnt")
    )


def unigram_logprob_score(
    docs: DataFrame, vocab_size: int = 65536
) -> DataFrame:
    """CCNet-style fluency signal: per-document mean unigram log₁₀
    probability under the corpus's own token distribution — wikipedia-like
    text scores high, gibberish/boilerplate scores low. Two passes: a
    map-combinable global count aggregate keeps the top-``vocab_size``
    tokens (ties broken by token so the vocabulary is deterministic), the
    scoring join broadcasts that bounded vocabulary; out-of-vocabulary
    tokens take the standard floor log10(1/N) (count "1").

    Determinism: a float mean of ~hundreds of log terms depends on the
    partial-aggregation ORDER (last-ulp drift run to run — a 4dp rounding
    boundary could flip between executions, let alone engines), so each
    token's log-prob is fixed to 6 decimals as an INTEGER (µ-log units)
    first; the int64 sum is exact and order-independent, and only the
    final mean divides back to a rounded double.

    Shuffle story at 100 TB: one token-count aggregate (hash keys, partial
    aggregation) + one broadcast join keyed per token occurrence — the
    document text itself never shuffles (explode feeds the join
    map-side)."""
    toks_e = (
        _spread(docs)
        .select("doc_id", F.explode(tokenize(F.col("text"))).alias("token"))
        .where(F.col("token") != "")
    )
    counts = toks_e.groupBy("token").agg(F.count("*").alias("cnt"))
    # top-V via sort-limit (TakeOrderedAndProject: per-partition local
    # top-V, then a single bounded merge — never a global sort of the
    # vocabulary table, which a row_number window would force)
    vocab = counts.orderBy(F.col("cnt").desc(), "token").limit(vocab_size)
    n_total = counts.agg(F.sum("cnt").cast("double").alias("_n"))
    lp_micro = F.round(
        F.log10(F.coalesce(F.col("cnt"), F.lit(1)) / F.col("_n")) * 1e6
    ).cast("long")
    scored = (
        toks_e.join(F.broadcast(vocab), "token", "left")
        .join(F.broadcast(n_total))
        .select("doc_id", lp_micro.alias("_lp_u"))
    )
    return scored.groupBy("doc_id").agg(
        F.round(F.sum("_lp_u") / (F.count("*") * F.lit(1e6)), 4).alias(
            "mean_logprob"
        ),
        F.count("*").alias("n_scored_tokens"),
    )


def contamination_check(
    docs: DataFrame, benchmark_texts: list[str], k: int = 15
) -> DataFrame:
    """Benchmark-contamination screen: which documents share a character
    k-gram with any benchmark/eval text. The benchmark shingle set ships
    as a broadcast literal (eval suites are small by definition — here the
    shingle strings themselves so the DuckDB oracle reproduces the match;
    at 100 TB swap in their xxhash64 longs, same shape); each document
    tests its OWN shingle set against it in-row — zero shuffle, one scan.
    Emits per-doc hit counts; downstream filters on n_hits > 0."""
    bench: set[str] = set()
    for t in benchmark_texts:
        for i in range(max(len(t) - k + 1, 1)):
            bench.add(t[i : i + k])
    bench_arr = F.lit(sorted(bench))
    # two-step select: the intersect must be computed ONCE per row —
    # referencing it from both output columns re-evaluated the whole
    # membership scan (measured 2.6s vs 0.4s at sf0.1)
    base = _spread(docs).select(
        "doc_id",
        F.size(F.array_intersect(shingle_array(k), bench_arr)).alias(
            "n_hits"
        ),
    )
    return base.select(
        "doc_id", "n_hits", (F.col("n_hits") > 0).alias("contaminated")
    )


def winnowing_fingerprint(
    docs: DataFrame, k: int = 8, window: int = 16
) -> DataFrame:
    """Winnowing document fingerprint (the MOSS rolling-hash scheme): hash
    every k-gram, keep the MINIMUM hash of each sliding window of
    ``window`` consecutive k-grams, fingerprint = digest of the selected
    hash set. Guarantees any shared substring of length ≥ window+k−1
    contributes a common selected hash — the local-similarity property a
    whole-document digest lacks.

    Pure projection (zero shuffle): k-gram hashes, window minima, distinct,
    sort, digest — all inside one row. md5 stands in for the rolling hash
    so the DuckDB oracle reproduces it bit-for-bit; at 100 TB you would
    swap in a true rolling hash (same selection structure, cheaper per
    position)."""
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))
    )
    grams = F.transform(positions, lambda i: F.md5(F.col("text").substr(i, F.lit(k))))
    # materialize the gram array as a COLUMN between projections: Catalyst
    # does no common-subexpression elimination inside higher-order-function
    # lambdas, so inlining `grams` into the window transform re-hashes the
    # whole document once PER WINDOW — measured 950s vs 3s at sf0.1
    with_grams = _spread(docs).select("doc_id", grams.alias("_grams"))
    g = F.col("_grams")
    n_windows = F.greatest(F.size(g) - (window - 1), F.lit(1))
    selected = F.array_sort(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda w: F.array_min(F.slice(g, w, F.lit(window))),
            )
        )
    )
    return with_grams.select(
        "doc_id",
        F.size(selected).alias("n_selected"),
        F.md5(F.array_join(selected, "")).alias("winnow_fp"),
    )


# -------------------------------------------------------------------- dedup


def _spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Lay a scan out for the CPU-heavy hash projections below:
    ``session.fit_partitions`` to cores×2. A small local parquet arrives as
    ONE input split, which would serialize them onto one core, so it is hash
    repartitioned to the full cores×2: these projections run in the JVM,
    where a task costs little to launch. A scan with more than cores×2
    splits is coalesced to cores×2 tasks without a shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism * 2
    return fit_partitions(df, target, key, per_split=target)


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: one aggregate, map-side combinable —
    the canonical first pass at 100 TB (shuffle keys are 32-byte hashes,
    not documents)."""
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_array(k: int = 15):
    """Per-row DISTINCT k-gram shingle array as a pure projection over
    ``text`` — per-doc distinct inside the row means no global distinct
    SHUFFLE is ever needed to get the shingle set."""
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))
    )
    return F.array_distinct(
        F.transform(positions, lambda i: F.col("text").substr(i, F.lit(k)))
    )


def shingle_hash_array(k: int = 15):
    """Per-row DISTINCT k-gram shingle set in HASH space (xxhash64 longs).
    The candidate phase of the Jaccard join never needs the strings — only
    set membership — and longs sort/shuffle/compare ~5× cheaper than
    15-char strings. Distinctness is taken over hashes: two distinct
    shingles colliding (P ≈ m²/2⁶⁵ per doc, ~1e-13 at 5k shingles) would
    shrink the set by one, which can only mildly loosen/tighten the
    candidate PRUNE — the final exact verification always recomputes
    Jaccard from the string sets."""
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))
    )
    return F.array_distinct(
        F.transform(
            positions, lambda i: F.xxhash64(F.col("text").substr(i, F.lit(k)))
        )
    )


def minhash_signatures(
    docs: DataFrame, k: int = 15, bands: int = 4
) -> DataFrame:
    """Per-band MinHash signatures as a PURE PROJECTION — zero shuffle.

    The shingle set never materializes as rows: positions → shingles →
    per-band md5 → array_min, all inside one whole-stage-codegen'd
    projection (min over shingle POSITIONS equals min over the distinct
    shingle SET, so this is value-identical to the explode→distinct→groupBy
    formulation — and to the DuckDB oracle — while removing two shuffles
    and a row explosion of one row per character)."""
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))
    )
    shingles = F.transform(positions, lambda i: F.col("text").substr(i, F.lit(k)))
    sig_cols = [
        F.array_min(
            F.transform(
                shingles, lambda s: F.md5(F.concat_ws("|", F.lit(b), s))
            )
        ).alias(f"sig{b}")
        for b in range(bands)
    ]
    return _spread(docs).select("doc_id", *sig_cols)


def minhash_lsh_candidates(
    docs: DataFrame, k: int = 15, bands: int = 4
) -> DataFrame:
    """MinHash+LSH near-dup candidates.

    per-row band signatures (see minhash_signatures) → docs sharing a
    (band, signature) bucket become a candidate pair. The doc↔doc join is
    per-bucket (tiny groups), never all-pairs; at 100 TB the band count and
    k trade recall vs bucket size exactly as in the published LSH analyses,
    and the only shuffled payload is (doc_id, band, 32-byte sig)."""
    sigs = minhash_signatures(docs, k, bands).select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"sig{b}").alias("sig")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def common_shingle_df(
    docs: DataFrame,
    k: int = 15,
    min_df: int = 2,
    max_entries: int = 4_000_000,
    shingle_arrays: DataFrame | None = None,
) -> dict[int, int]:
    """Exact document frequency of every REPEATED shingle, as a driver-side
    {xxhash64: df} dict for broadcast into the prefix-order UDF.

    One map-combinable aggregate over per-row-distinct shingle hashes; the
    result is bounded by construction — at most Σrows/min_df entries, and
    capped at the ``max_entries`` highest-df shingles (the ones whose
    position in the order actually matters: a shingle missing from the map
    defaults to df 1 and costs at most (true df)² candidate pairs, and
    everything beyond the top max_entries has true df ≤ rows/max_entries).
    df=1 shingles — the overwhelming majority of any natural corpus — never
    leave the executors.

    ``shingle_arrays`` (a materialized (doc_id, sh) table from
    :func:`_shingle_arrays`) skips recomputing the text→shingle projection
    when the caller already holds it."""
    if shingle_arrays is not None:
        sh = shingle_arrays.select(F.explode("sh").alias("h"))
    else:
        sh = _spread(docs).select(F.explode(shingle_hash_array(k)).alias("h"))
    pdf = (
        sh.groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") >= min_df)
        .orderBy(F.col("df").desc(), "h")
        .limit(max_entries)
        .toPandas()
    )
    return dict(zip(pdf["h"].tolist(), pdf["df"].tolist()))


def _shingle_arrays(docs: DataFrame, k: int) -> DataFrame:
    """The materialized (doc_id, sh: array<long>) shingle-hash table —
    computed ONCE (eager localCheckpoint) and shared by the df aggregate,
    the prefix projection, and both sides of the verify join, which
    otherwise each re-execute the text→shingle projection AND the caller's
    entire upstream plan (for conversation-level callers that upstream is a
    full conv_id aggregation — measured 4 redundant executions per
    ngram_jaccard_pairs call). 8 bytes per corpus token, block-manager
    resident with disk spill — the working set a 100-TB run would
    materialize anyway rather than re-shingle the corpus four times."""
    return (
        _spread(docs)
        .select("doc_id", shingle_hash_array(k).alias("sh"))
        .localCheckpoint()
    )


def jaccard_prefix_candidates(
    docs: DataFrame,
    k: int = 15,
    threshold: float = 0.5,
    df_map=None,
    shingle_arrays: DataFrame | None = None,
) -> DataFrame:
    """Candidate pairs for exact Jaccard ≥ t, by prefix filtering under a
    DOCUMENT-FREQUENCY-ascending global order (ppjoin-style).

    Exactness: any total order admits the prefix-filter theorem — two sets
    with Jaccard ≥ t share their globally-smallest common element within
    each set's first |S| − ⌈t·|S|⌉ + 1 shingles, so joining PREFIXES with
    PREFIXES loses no true pair; the size filter t·|A| ≤ |B| ≤ |A|/t is
    likewise implied by J ≥ t. The order is (df, xxhash64): rare shingles
    first, so prefixes are each document's RAREST shingles and a hot
    boilerplate 15-gram shared by 10⁶ documents sorts last, outside every
    prefix — the O(postings²) posting-join blowup cannot happen. (A binary
    hot/cold order was tried first and kept mid-df shingles in prefixes:
    940k candidates vs ~40k here on the same sf0.1 corpus.)

    Plan shape: an earlier revision realized this order relationally — df
    aggregate + join of the full exploded shingle table + rank/count
    windows: three shuffles of a 15×-text-sized STRING table (24-38s at
    sf0.1). Now the df of repeated shingles broadcasts as a bounded dict
    (common_shingle_df) and each row orders/slices its own shingle-hash set
    in one Arrow-batched lexsort, so the only shuffles left are the
    map-combinable df aggregate and the prefix equi-join itself — and both
    move 8-byte hashes, never shingle strings. Hash TIES between distinct
    shingles cannot lose a pair (the join key IS the hash: whichever tied
    element lands in the prefix emits the key the theorem demands). The
    entire pipeline — prune AND the downstream verification — runs in hash
    space, so an xxhash64 collision (P ≈ 1e-12 per corpus) could perturb a
    verified count by one; the string-exact twin is the brute-force oracle
    the driver compares against every round."""
    if df_map is None:
        df_map = common_shingle_df(docs, k, shingle_arrays=shingle_arrays)
    bc = docs.sparkSession.sparkContext.broadcast(df_map)

    @F.pandas_udf("array<long>")
    def prefix_of(hsets: pd.Series) -> pd.Series:
        import math

        import numpy as np

        dfm = bc.value
        out = []
        for arr in hsets:
            a = np.asarray(arr, dtype=np.int64)
            m = len(a)
            # theorem prefix length m − ⌈t·m⌉ + 1, with an epsilon guard on
            # the float product: 0.9*10 is 9.000000000000002 in binary, so
            # a bare ceil would overcount ⌈t·m⌉ and UNDERCOUNT the prefix,
            # silently losing boundary pairs (J exactly t). Erring the
            # other way (a one-longer prefix) is always lossless.
            p = m - math.ceil(threshold * m - 1e-9) + 1
            dfs = np.fromiter(
                (dfm.get(int(h), 1) for h in a), dtype=np.int64, count=m
            )
            out.append(a[np.lexsort((a, dfs))[:p]])
        return pd.Series(out)

    if shingle_arrays is not None:
        base = shingle_arrays.select("doc_id", F.col("sh").alias("_h"))
    else:
        base = _spread(docs).select(
            "doc_id", shingle_hash_array(k).alias("_h")
        )
    # materialize the prefix table (eager localCheckpoint, (1−t)·set-size
    # rows of 28 bytes) so the shingle/UDF pipeline runs ONCE — left lazy it
    # executes once per side of the self-join below. ``pos`` is the
    # element's rank in the document's FULL df-sorted shingle array (the
    # prefix is its first p elements, so posexplode ranks are global ranks).
    prefix = base.select(
        "doc_id",
        F.size("_h").alias("n_sh"),
        F.posexplode(prefix_of(F.col("_h"))).alias("pos", "h"),
    ).localCheckpoint()
    # size filter with the same epsilon guard: J ≥ t implies t·|A| ≤ |B| in
    # EXACT arithmetic, but float t·|A| can land just above the true
    # rational (0.9·10 → 9.000000000000002 > 9) and reject a boundary pair
    t_eps = threshold - 1e-9
    matched = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n_sh") >= t_eps * F.col("a.n_sh"))
            & (F.col("a.n_sh") >= t_eps * F.col("b.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
    )
    # ppjoin POSITION filter (exact — Xiao et al. 2008, §3.2): under the
    # shared global order, the pair's globally-smallest shared element is
    # observed by the prefix join with min position on BOTH sides (no
    # shared element can precede it in either document: it would sort
    # earlier globally and thus sit in both prefixes at smaller positions).
    # Every shared element therefore lies in the position-pa0.. / pb0..
    # suffixes, so |A∩B| ≤ min(na−pa0, nb−pb0); J ≥ t needs
    # |A∩B| ≥ t·(na+nb)/(1+t).  The agg replaces the old DISTINCT (same
    # one pair-keyed shuffle, map-combinable mins) and at low thresholds
    # prunes the verify join by orders of magnitude — 26,745 → ~dozens of
    # candidates on the 500-conversation t=0.2 slice — because spuriously
    # shared shingles have df > 1 and sort near the END of both documents.
    alpha = threshold * (F.col("na") + F.col("nb")) / (1 + threshold)
    return (
        matched.groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.min("pa").alias("pa"), F.min("pb").alias("pb"))
        .where(
            1
            + F.least(
                F.col("na") - 1 - F.col("pa"), F.col("nb") - 1 - F.col("pb")
            )
            >= alpha - 1e-9
        )
        .select("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 15, threshold: float = 0.5
) -> DataFrame:
    """Exact shingle-set Jaccard ≥ t: df-ordered prefix-filter candidates
    (see jaccard_prefix_candidates) then EXACT intersection counts, so the
    result is IDENTICAL to the brute-force formulation (the DuckDB oracle
    runs brute force — the driver's compare proves the equivalence every
    round). Previous revisions switched to a raw inverted-index self-join
    below t=0.7; that path had no defense against hot shingles (a shared
    boilerplate 15-gram made the join quadratic in its postings), so all
    thresholds now take the prefix path.

    Intersections are counted with array_intersect over the two documents'
    shingle-HASH arrays joined onto the candidate set — proportional to
    candidates, long-typed instead of 15-char strings (identical counts up
    to the documented 1e-12 collision odds), where a re-join of the
    exploded shingle table would shuffle the full posting rows twice more.
    The candidate set is MATERIALIZED (eager localCheckpoint — a tiny
    (doc_a, doc_b) table, executor-resident) because it feeds the verify
    join as a computed subplan: left lazy, Spark re-executes the whole
    prefix pipeline inside the verify query, tripling its cost (measured
    22.8s vs 5.5s at sf0.1)."""
    arrs = _shingle_arrays(docs, k)
    candidates = jaccard_prefix_candidates(
        docs, k, threshold, shingle_arrays=arrs
    ).localCheckpoint()
    # broadcast the CANDIDATES (normally bounded by the prefix filter),
    # stream the corpus-side arrays — the only join orientation that
    # survives a 100× corpus; the second join stays a plain equi-join (AQE
    # may localize it). The prefix bound is data-dependent though: a corpus
    # that IS mostly mutual near-duplicates yields O(n²) candidate pairs,
    # so the forced broadcast is guarded by an exact count (free — the
    # table is already materialized by the localCheckpoint) and falls back
    # to a plain equi-join, letting AQE pick the strategy at runtime.
    if candidates.count() <= 4_000_000:  # ~64 MB of (long, long) pairs
        candidates = F.broadcast(candidates)
    joined = candidates.join(
        arrs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("_sh_a")),
        "doc_a",
    ).join(
        arrs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("_sh_b")),
        "doc_b",
    )
    n_inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    n_union = F.size("_sh_a") + F.size("_sh_b") - n_inter
    return (
        joined.select(
            "doc_a",
            "doc_b",
            F.round(n_inter / n_union, 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def prepare_corpus(docs: DataFrame) -> DataFrame:
    """The composed corpus-preparation pass a pre-training pipeline runs:
    keep documents that clear the quality gate AND classify as English AND
    are their exact-duplicate group's keeper, with PII scrubbed from the
    surviving text. One projection computes every per-row signal (quality
    ratios, language guess, redactions) in a single scan; the only
    shuffle/join is the exact-dedup keeper semi-join — map-side-combinable
    md5 aggregate, broadcastable result shape per dedup_exact. Emits the
    cleaned text plus the signals, so downstream audits can see WHY a row
    survived."""
    toks = tokenize(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    n_punct = F.size(
        F.expr(r"regexp_extract_all(text, '[^A-Za-z0-9\\s]', 0)")
    )
    n_tokens = F.size(toks)
    stop_ratio = F.round(n_stop / n_tokens, 4)
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    enriched = docs.select(
        "doc_id",
        scrubbed.alias("text_clean"),
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        (
            (n_tokens >= 10)
            & (n_tokens <= 100000)
            & (n_punct / n_tokens < 0.3)
        ).alias("quality_keep"),
        F.when(stop_ratio >= 0.08, F.lit("en"))
        .otherwise(F.lit("other"))
        .alias("lang_guess"),
    )
    keepers = dedup_exact(docs).select(
        F.col("keeper_doc_id").alias("doc_id"), "n_copies"
    )
    return (
        enriched.join(keepers, "doc_id")
        .where(F.col("quality_keep") & (F.col("lang_guess") == "en"))
        .select(
            "doc_id", "text_clean", "n_tokens", "stop_ratio",
            "lang_guess", "n_copies",
        )
    )


def neardup_clusters(
    docs: DataFrame, k: int = 15, threshold: float = 0.5
) -> DataFrame:
    """End-to-end near-duplicate DEDUP over the corpus: exact-Jaccard pairs
    (ngram_jaccard_pairs — LSH-free candidate pruning + exact verify) →
    connected components (transitive closure: A~B, B~C dedups A,B,C
    together even when J(A,C) < t) → keeper = the lexicographically
    smallest doc id per cluster. Every document gets a row; singletons
    keep themselves.

    This is the composition a training-data pipeline actually runs —
    pairs alone under-dedup because near-duplication is transitive in
    practice (chains of boilerplate revisions). Component ids compare as
    STRINGS (the CC operator's node domain); keeper choice is therefore
    deterministic but lexicographic — at 100 TB the CC runs the
    star-contraction path, the pair table being orders of magnitude
    smaller than the corpus."""
    from ..canonicalize import connected_components

    # materialize the (tiny) pair table once: CC's convergence loop takes
    # several actions over it, each of which would otherwise re-run the
    # whole candidate+verify pipeline
    pairs = ngram_jaccard_pairs(docs, k, threshold).localCheckpoint()
    comps = connected_components(
        pairs.select(
            F.col("doc_a").cast("string").alias("src"),
            F.col("doc_b").cast("string").alias("dst"),
        )
    )
    return (
        docs.select(F.col("doc_id").cast("string").alias("node"))
        .join(comps, "node", "left")
        .select(
            F.col("node").cast("long").alias("doc_id"),
            F.coalesce("component", F.col("node"))
            .cast("long")
            .alias("keeper_doc_id"),
        )
        .withColumn("is_kept", F.col("doc_id") == F.col("keeper_doc_id"))
    )


def simhash64(docs: DataFrame, prefix_bits: int = 16) -> DataFrame:
    """SimHash over whitespace tokens using xxhash64 bit votes.

    ZERO-SHUFFLE formulation: the bit votes are a pure function of one row's
    token array, so the whole operator is a single codegen'd projection —
    hash every token once into ``_hs``, then one ``aggregate`` pass per bit
    summing ±1 votes, bits with a positive majority assemble the bucket key.
    An earlier revision exploded tokens × prefix_bits and aggregated twice,
    shuffling 16× the token count for the same answer (7.5s → sub-second at
    sf0.1). The hash array materializes as a COLUMN between projections
    because Catalyst does no CSE inside higher-order-function lambdas (same
    trap as winnowing_fingerprint above).

    Vote semantics are bit-identical to the exploded formulation: every
    token occurrence (duplicates included) votes +1/−1 per bit, ties (vote
    sum 0) leave the bit unset. (xxhash64 is Spark-side only, so values are
    checked by the recorded stability checksum, not a DuckDB twin.)
    """
    hs = F.transform(tokenize(F.col("text")), lambda t: F.xxhash64(t))
    with_h = _spread(docs).select("doc_id", hs.alias("_hs"))

    def vote(b: int):
        return F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("long"),
            lambda s, h: s + F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1,
        )

    sim = F.lit(0).cast("long")
    for b in range(prefix_bits):
        sim = sim + F.when(vote(b) > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return with_h.select("doc_id", sim.alias("simhash_prefix"))
