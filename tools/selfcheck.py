"""Self-check harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark AND its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row-count, column names, and a
value hash computed over columns sorted by name and rows sorted by all
columns.  Usage::

    python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v) -> str:
    if v is None or v != v:  # NaN
        return "\\N"
    if isinstance(v, float):
        # driver-ish float normalization
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def df_hash(pdf: pd.DataFrame) -> tuple[int, list[str], str]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [
        "\x01".join(norm_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]
    rows.sort()
    h = hashlib.md5("\x02".join(rows).encode()).hexdigest()
    return len(rows), cols, h


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from architxt_spark.session import get_spark

    spark = get_spark("selfcheck", cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
            s_n, s_cols, s_h = df_hash(sdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP {name}: no oracle (rows={s_n})")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
            o_n, o_cols, o_h = df_hash(odf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = (s_n, s_cols, s_h) == (o_n, o_cols, o_h)
        if ok:
            # empty-vs-empty matches are BLIND to filter/logic bugs (a
            # wrong literal made a join trivially empty once) — make them
            # loud so each zero gets audited against the data.
            flag = "  [WARN: empty result — verify 0 is the true answer]" if s_n == 0 else ""
            print(f"PASS {name} (rows={s_n}){flag}")
            n_pass += 1
        else:
            n_fail += 1
            print(f"FAIL {name}: rows {s_n}/{o_n} cols {s_cols}/{o_cols} hash {s_h[:8]}/{o_h[:8]}")
            if s_n and o_n and s_n < 50 and o_n < 50:
                print("  spark:", sdf[sorted(sdf.columns)].head(6).to_dict("records"))
                print("  duckdb:", odf[sorted(odf.columns)].head(6).to_dict("records"))
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
