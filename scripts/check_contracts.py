"""Driver-style contract check: run each queries() entry on Spark and its
oracle_sql() twin on DuckDB over the same parquet tables, compare row count,
column names, and value hash (columns sorted by name, rows sorted by all
columns — the driver's canonicalization). Usage:

    python scripts/check_contracts.py [sf_dir] [key ...]

Prints one OK/ROWS/SKIP/FAIL line per contract, then one final
``SUMMARY ok=<n> rows=<n> skip=<n> fail=<n>`` line; exits 1 on any FAIL.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


# float columns compare at 12 significant digits: contract outputs are
# either integers/cents or explicitly rounded (4 dp), so 12 digits never
# false-FAILs, while the previous %.6g let money-scale values diverge in
# the cents digits and still hash equal (false PASS)
def canon(pdf):
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns)).reset_index(drop=True)
    body = pdf.to_csv(index=False, float_format="%.12g").encode()
    return hashlib.md5(body).hexdigest(), len(pdf), list(pdf.columns)


# oracles whose expected VALUES were RECORDED from the sf0.01 tables —
# checking them against any other scale fails by construction, not by bug
RECORDED_AT_SF001 = {
    "kg_triples_checksum", "docs_simhash_checksum", "emb_ann_lsh",
    "emb_ivf_topk", "emb_cosine_neardup",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from openie_with_entities_spark.session import get_spark

    import __spark_entry__ as entry

    # no console progress bar: its redraws would split the result lines
    spark = get_spark(
        "check_contracts", cores=16,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entry.queries()
    oracles = entry.oracle_sql()
    keys = sys.argv[2:] or list(qs)
    n_bad = n_ok = n_rows = n_skip = 0
    is_sf001 = sf_dir.rstrip("/").endswith("sf0.01")
    for key in keys:
        if key not in qs:
            print(f"FAIL {key}: unknown key (valid: {', '.join(sorted(qs))})")
            n_bad += 1
            continue
        if not is_sf001 and key in RECORDED_AT_SF001:
            print(f"SKIP {key}: oracle recorded at sf0.01 only")
            n_skip += 1
            continue
        try:
            s_pdf = qs[key](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {key}: spark error {type(e).__name__}: {e}")
            n_bad += 1
            continue
        if key not in oracles:
            print(f"ROWS {key}: {len(s_pdf)} rows (no oracle)")
            n_rows += 1
            continue
        try:
            o_pdf = con.execute(oracles[key]).df()
        except Exception as e:
            print(f"FAIL {key}: oracle error {type(e).__name__}: {e}")
            n_bad += 1
            continue
        hs, ns, cs = canon(s_pdf)
        ho, no, co = canon(o_pdf)
        ok = hs == ho and ns == no and cs == co
        if not ok:
            n_bad += 1
            print(f"FAIL {key}: rows {ns}/{no} cols_match={cs == co} hash={hs == ho}")
            if cs != co:
                print(f"  spark cols {cs}\n  oracle cols {co}")
            else:
                merged = s_pdf[sorted(s_pdf.columns)].merge(
                    o_pdf[sorted(o_pdf.columns)], how="outer", indicator=True
                )
                diff = merged[merged["_merge"] != "both"]
                print(diff.head(8).to_string())
        else:
            print(f"OK   {key}: {ns} rows")
            n_ok += 1
    spark.stop()
    print(f"SUMMARY ok={n_ok} rows={n_rows} skip={n_skip} fail={n_bad}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
