"""Deterministic synthetic transcript corpus (BASELINE.json input_hint shape).

Generates the Iceberg/parquet-shaped table
``transcripts(conv_id:string, turn_idx:int, role:string, text:string,
tool:string, ts:timestamp)`` fully distributed (mapInPandas over a
``spark.range`` of conversation ids) and fully deterministic: every row is a
pure function of (seed, conv_id, turn_idx), so the same corpus materializes
identically at any parallelism — the invariant behind the local[8]/local[32]
scaling benchmark.

Turn texts are whitespace-pre-tokenized sentences (the reference's input
contract, /root/reference/README.md:53-57) and deliberately include the edge
cases the reference handles:
  * curly quotes (normalized at /root/reference/data.py:429-432)
  * >100-word sentences (filtered at /root/reference/data.py:284)
  * coordinations "A , B and C" (split by /root/reference/data.py:624-693)
  * nor/& coordinations (must NOT split, /root/reference/data.py:630)
  * unbreakable-word contexts (/root/reference/data.py:786-807)

A small gazetteer of entities doubles as the alias/surface-form dictionary
for the entity-linking stage; a few "hot" entities appear with much higher
probability to exercise the salted-join skew path.
"""

from __future__ import annotations

import datetime as dt
import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .extract.mentions import normalize_surface

SEED = 42

# ---------------------------------------------------------------- gazetteer

PEOPLE = [
    "Ada Lovelace", "Alan Turing", "Grace Hopper", "Linus Torvalds",
    "Margaret Hamilton", "Tim Berners-Lee", "Barbara Liskov", "John McCarthy",
    "Edsger Dijkstra", "Donald Knuth", "Frances Allen", "Ken Thompson",
]
ORGS = [
    "Acme Corp", "Globex", "Initech", "Umbrella Inc", "Stark Industries",
    "Wayne Enterprises", "Hooli", "Aperture Labs", "Tyrell Corp", "Cyberdyne",
]
LOCS = [
    "Paris", "Berlin", "Tokyo", "Nairobi", "Toronto", "Sydney",
    "Lisbon", "Oslo", "Mumbai", "Chicago",
]
# Hot entities: dominate mention counts by construction (skew exercise).
HOT = ["Acme Corp", "Paris", "Alan Turing"]

VERBS = [
    "founded", "acquired", "visited", "joined", "praised", "criticized",
    "advised", "funded", "studied", "mentored", "hired", "sued",
]
ROLES_NOUN = ["chairman", "founder", "director", "advisor", "president"]
TOOLS = ["search", "calculator", "browser", "python", "sql"]


def gazetteer_rows() -> list[dict]:
    """Alias-dictionary rows (FIXTURES.md §7 schema), deterministic."""
    rows = []
    for i, (name, typ) in enumerate(
        [(p, "PER") for p in PEOPLE]
        + [(o, "ORG") for o in ORGS]
        + [(l, "LOC") for l in LOCS]
    ):
        eid = f"E{i:04d}"
        rows.append(
            {
                "surface_form": normalize_surface(name),
                "entity_id": eid,
                "canonical_name": name,
                "ner_type": typ,
                "prior": round(1.0 - 0.001 * i, 4),
            }
        )
        # A second alias per entity: last token ("Turing", "Corp" is too
        # ambiguous → use first token for ORGs) with a lower prior.
        toks = name.split()
        if len(toks) > 1:
            alias = toks[-1] if typ == "PER" else toks[0]
            rows.append(
                {
                    "surface_form": normalize_surface(alias),
                    "entity_id": eid,
                    "canonical_name": name,
                    "ner_type": typ,
                    "prior": round(0.5 - 0.001 * i, 4),
                }
            )
    return rows


# ------------------------------------------------------------- sentence bank


def _pick(rng: random.Random, xs: list[str], hot_bias: bool = False) -> str:
    """Pick an item; with hot_bias, route 50% of draws to HOT entities."""
    if hot_bias and rng.random() < 0.5:
        hot = [x for x in xs if x in HOT]
        if hot:
            return rng.choice(hot)
    return rng.choice(xs)


def make_sentence(rng: random.Random) -> str:
    """One whitespace-pre-tokenized sentence, deterministic from rng state."""
    kind = rng.random()
    if kind < 0.30:  # simple SVO
        return f"{_pick(rng, PEOPLE, True)} {rng.choice(VERBS)} {_pick(rng, ORGS, True)} ."
    if kind < 0.40:  # copular "is X of" (rel_case 2 decode)
        return f"{_pick(rng, PEOPLE)} {rng.choice(ROLES_NOUN)} of {_pick(rng, ORGS, True)} ."
    if kind < 0.43:  # copular "is X from" (rel_case 3 decode)
        return f"{_pick(rng, PEOPLE)} {rng.choice(ROLES_NOUN)} from {_pick(rng, LOCS)} ."
    if kind < 0.45:  # bare appositive "is X" (rel_case 1 decode)
        return f"{_pick(rng, PEOPLE)} a {rng.choice(ROLES_NOUN)} ."
    if kind < 0.60:  # coordination that must split: "A , B and C V O ."
        a, b, c = rng.sample(PEOPLE, 3)
        return f"{a} , {b} and {c} {rng.choice(VERBS)} {_pick(rng, LOCS, True)} ."
    if kind < 0.68:  # 2-way coordination
        a, b = rng.sample(ORGS, 2)
        return f"{a} and {b} {rng.choice(VERBS)} {_pick(rng, PEOPLE)} ."
    if kind < 0.74:  # nor/& — must NOT split (/root/reference/data.py:630)
        a, b = rng.sample(PEOPLE, 2)
        cc = rng.choice(["nor", "&"])
        return f"{a} {cc} {b} {rng.choice(VERBS)} {_pick(rng, ORGS)} ."
    if kind < 0.80:  # unbreakable (/root/reference/data.py:786-807)
        a, b = rng.sample(LOCS, 2)
        return f"the distance between {a} and {b} increased ."
    if kind < 0.86:  # curly quotes (normalized, /root/reference/data.py:429-432)
        return f"{_pick(rng, PEOPLE)} said “ {_pick(rng, ORGS)} {rng.choice(VERBS)} {_pick(rng, LOCS)} ” ."
    if kind < 0.90:  # said-type reln (exercises matcher reverse path)
        return f"’ growth is strong ’ said {_pick(rng, PEOPLE, True)} ."
    if kind < 0.95:  # location/time adjunct (exercises loc_time decode)
        return f"{_pick(rng, PEOPLE)} {rng.choice(VERBS)} {_pick(rng, ORGS)} in {_pick(rng, LOCS, True)} ."
    if kind < 0.98:  # no-entity filler
        return "the quarterly report was finished on time ."
    # >100-word sentence — must be dropped by the length guard
    return " ".join(["very"] * 102) + " long ."


def make_turn_text(rng: random.Random) -> str:
    n = rng.randint(1, 4)
    if rng.random() < 0.02:
        return ""  # empty-ish turn edge case
    return " ".join(make_sentence(rng) for _ in range(n))


# --------------------------------------------------------------- generation

_EPOCH = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _gen_conv(conv: int, seed: int) -> list[dict]:
    rows = []
    # NOTE: (conv · odd) % 8 ≡ conv % 8, so turn counts cycle 3..10 with
    # period 8 over conv ids — deterministic and fine for throughput
    # benchmarks, but do NOT stride conversations by multiples of 8 in a
    # skew experiment (every slab would see one constant turn count)
    n_turns = 3 + (conv * 2654435761) % 8  # 3..10 turns, deterministic
    for t in range(n_turns):
        rng = random.Random(f"{seed}:{conv}:{t}")  # str-seed: hash-salt-free
        role = ["user", "assistant", "tool"][t % 3]
        rows.append(
            {
                "conv_id": f"conv-{conv:08d}",
                "turn_idx": t,
                "role": role,
                "text": make_turn_text(rng),
                "tool": rng.choice(TOOLS) if role == "tool" else None,
                "ts": _EPOCH
                + dt.timedelta(minutes=conv % 1440, seconds=17 * t),
            }
        )
    return rows


def generate_transcripts(
    spark: SparkSession, n_convs: int, seed: int = SEED, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: one task generates a slab of convs."""
    if partitions is None:
        partitions = min(max(n_convs // 64, 1), 256)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for conv in pdf["id"]:
                out.extend(_gen_conv(int(conv), seed))
            if out:
                yield pd.DataFrame(out)

    return (
        spark.range(n_convs)
        .repartition(partitions)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )


def alias_dict(spark: SparkSession) -> DataFrame:
    """The alias/surface-form dictionary as a (small, broadcastable) DF."""
    return spark.createDataFrame(
        pd.DataFrame(gazetteer_rows()),
        schema="surface_form string, entity_id string, canonical_name string, "
        "ner_type string, prior double",
    )
