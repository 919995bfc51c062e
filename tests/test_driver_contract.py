"""Emulates the driver's verify: run every queries() entry via Spark and its
oracle_sql() via DuckDB on the same parquet, compare row count + column
names + order-insensitive values."""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from openie_with_entities_spark import contracts

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype(float)
        elif str(df[c].dtype) in ("bool", "boolean"):
            df[c] = df[c].astype(bool)
        else:
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


ORACLES = entrymod.oracle_sql()
CHECKED = sorted(ORACLES)


@pytest.mark.parametrize("name", CHECKED)
def test_query_matches_oracle(spark, duck, name):
    q = entrymod.queries()[name]
    got_raw = q(spark, SF_DIR).toPandas()
    want_raw = duck.sql(ORACLES[name]).df()
    # dtypes must line up BEFORE normalization — the driver's schema/hash
    # compare may be type-sensitive (duckdb HUGEINT/BIGINT vs spark int32
    # mismatches are engineered away with explicit casts in the SQL)
    for c in sorted(got_raw.columns):
        got_t, want_t = str(got_raw[c].dtype), str(want_raw[c].dtype)
        if got_t.startswith("datetime") and want_t.startswith("datetime"):
            continue  # ns vs us resolution; values compared as strings below
        assert got_t == want_t, (name, c, got_t, want_t)
    got = normalize(got_raw)
    want = normalize(want_raw)
    assert list(got.columns) == list(want.columns), (
        got.columns, want.columns
    )
    assert len(got) == len(want), f"rows: spark={len(got)} duck={len(want)}"
    for c in got.columns:
        if got[c].dtype == float:
            bad = [
                (a, b)
                for a, b in zip(got[c], want[c])
                if not (
                    (math.isnan(a) and math.isnan(b)) or a == b
                )
            ]
            assert not bad, f"{name}.{c}: {bad[:5]}"
        else:
            mism = (got[c] != want[c])
            assert not mism.any(), (
                f"{name}.{c}: {got[c][mism].head().tolist()} vs "
                f"{want[c][mism].head().tolist()}"
            )


def test_rows_only_queries_run(spark):
    for name, q in entrymod.queries().items():
        if name in ORACLES:
            continue
        df = q(spark, SF_DIR)
        assert df.count() >= 0
        assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    names = [f.name for f in df.schema.fields]
    assert "arg1" in names and "rel" in names


def test_all_queries_emit_sortable_scalar_columns(spark):
    """The driver's canonicalizer sorts EVERY output column in pandas;
    array/map/struct cells are unhashable and crash it (round-1
    media_features). Guard: every contract query's schema is atomic-only.
    Schema derivation is lazy, so this stays cheap even for heavy queries —
    except entries that execute at construction time, which are skipped
    (their outputs are scalar literal frames by construction)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    eager = {"s10_checkpoint_resume", "e2_carb_pr"}  # run jobs to build
    for name, q in entrymod.queries().items():
        if name in eager:
            continue
        schema = q(spark, SF_DIR).schema
        for f in schema.fields:
            assert not isinstance(
                f.dataType, (ArrayType, MapType, StructType)
            ), f"{name}.{f.name}: {f.dataType} is not canonicalizer-sortable"


def test_registry_records_each_contract_once():
    """Every contract is one (name, query, oracle) record, and queries() /
    oracle_sql() are views of that one table."""
    import importlib.util

    root = os.path.dirname(os.path.abspath(entrymod.__file__))
    spec = importlib.util.spec_from_file_location(
        "check_contracts", os.path.join(root, "scripts", "check_contracts.py")
    )
    check_contracts = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_contracts)

    names = [name for name, _, _ in entrymod._contracts()]
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1
    )
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert len(qs) == 111
    assert set(oracles) <= set(qs)
    assert set(qs) - set(oracles) == {"docs_simhash", "kg_triples", "approx_stats"}
    for listed in (
        entrymod._FIRST_WINDOW,
        entrymod._PINNED,
        check_contracts.RECORDED_AT_SF001,
    ):
        assert set(listed) <= set(names), set(listed) - set(names)


def test_stream_drain_leaves_caller_session_conf(spark, monkeypatch):
    """The stream-drain contract sizes its state store (8 shuffle
    partitions) in a session of its own: the caller's session conf never
    changes, so a query running in it concurrently is unaffected."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", "32")
    seen = []
    real_start = DataStreamWriter.start

    def start(self, *a, **k):
        seen.append((
            caller.conf.get("spark.sql.shuffle.partitions"),
            self._spark.conf.get("spark.sql.shuffle.partitions"),
        ))
        return real_start(self, *a, **k)

    monkeypatch.setattr(DataStreamWriter, "start", start)
    assert contracts.q_stream_clean_drain(caller, SF_DIR).count() > 0
    assert seen == [("32", "8")]
    assert caller.conf.get("spark.sql.shuffle.partitions") == "32"
