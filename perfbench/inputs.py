"""Seeded workload inputs, generated once per (workload, seed) and cached on disk.

Rows come from ``corpus._gen_conv``, the per-conversation function that
``corpus.generate_transcripts`` maps over, so a cached input holds exactly the
rows ``generate_transcripts(spark, n_convs, seed)`` would produce. Running it in
plain Python keeps generation out of the Spark session: set-up time does not
depend on whether the input was cached.

``distinct=True`` makes every sentence text unique by prefixing one lowercase
token (``u<conv>x<turn>x<sent>``). The token sits outside the entity slots: it
is not capitalized, not a verb, preposition or coordinator, so the templates,
coordinations and entity mix stay those of the repo corpus.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from openie_with_entities_spark.corpus import _gen_conv
from openie_with_entities_spark.functions.decode import SENTINELS, normalize_quotes
from openie_with_entities_spark.oracle import MAX_WORDS_WITH_SENTINELS, segment_text

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class InputProps:
    n_convs: int
    turns: int
    sentences: int
    eligible_sentences: int
    distinct_share: float  # distinct eligible texts / eligible instances


@dataclass
class Input:
    table_dir: str  # one parquet file: a single input split
    stream_dir: str | None  # the same rows split by conv range, one file each
    props: InputProps

    def turns_of(self, conv_ids: list[str]) -> list[tuple[str, int, str]]:
        """(conv_id, turn_idx, text) of the given conversations, in order."""
        pdf = pq.read_table(self.table_dir, columns=["conv_id", "turn_idx", "text"]).to_pandas()
        pdf = pdf[pdf["conv_id"].isin(set(conv_ids))].sort_values(["conv_id", "turn_idx"])
        return list(zip(pdf["conv_id"], pdf["turn_idx"].astype(int), pdf["text"]))


def _make_distinct(rows: list[dict]) -> None:
    for r in rows:
        conv = int(r["conv_id"].split("-")[1])
        sents = segment_text(r["text"])
        r["text"] = " ".join(
            f"u{conv}x{r['turn_idx']}x{i} {s}" for i, s in enumerate(sents)
        )


def _props(pdf: pd.DataFrame, n_convs: int) -> InputProps:
    n_sent = 0
    eligible: list[str] = []
    for text in pdf["text"]:
        for raw in segment_text(text):
            n_sent += 1
            s = normalize_quotes(raw)
            if len(s.split()) + len(SENTINELS) <= MAX_WORDS_WITH_SENTINELS:
                eligible.append(s)
    return InputProps(
        n_convs=n_convs,
        turns=len(pdf),
        sentences=n_sent,
        eligible_sentences=len(eligible),
        distinct_share=round(len(set(eligible)) / max(len(eligible), 1), 6),
    )


def ensure_input(
    cache_root: str,
    workload: str,
    seed: int,
    n_convs: int,
    distinct: bool = False,
    stream_files: int = 0,
) -> Input:
    """Return the cached input, generating it first if it is missing."""
    base = os.path.join(cache_root, f"{workload}-seed{seed}-convs{n_convs}")
    table_dir = os.path.join(base, "table")
    stream_dir = os.path.join(base, "stream") if stream_files else None
    done = os.path.join(base, "props.json")
    if not os.path.exists(done):
        rows = [r for conv in range(n_convs) for r in _gen_conv(conv, seed)]
        if distinct:
            _make_distinct(rows)
        pdf = pd.DataFrame(rows)
        table = pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False)
        os.makedirs(table_dir, exist_ok=True)
        pq.write_table(table, os.path.join(table_dir, "part-00000.parquet"))
        if stream_dir:
            # contiguous conv ranges in file-name order: event time only grows
            # from file to file, so no turn arrives behind the watermark
            os.makedirs(stream_dir, exist_ok=True)
            bounds = [n_convs * i // stream_files for i in range(stream_files + 1)]
            conv_num = pdf["conv_id"].str.slice(5).astype(int)
            for i in range(stream_files):
                part = pdf[(conv_num >= bounds[i]) & (conv_num < bounds[i + 1])]
                pq.write_table(
                    pa.Table.from_pandas(part, schema=SCHEMA, preserve_index=False),
                    os.path.join(stream_dir, f"part-{i:05d}.parquet"),
                )
        with open(done + ".tmp", "w") as f:
            json.dump(asdict(_props(pdf, n_convs)), f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        props = InputProps(**json.load(f))
    return Input(table_dir, stream_dir, props)
