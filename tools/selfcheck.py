"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare
row-count / column names / sorted values. Usage: python tools/selfcheck.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

# this checkout's driver contract, wherever the script is run from
sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as E
from numalogic_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)]
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import time

    qs, oracles = E.queries(), E.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        print(f"running {name} ...", flush=True)
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
            print(f"  spark done in {time.time()-t0:.1f}s", flush=True)
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error {ex}")
            failures += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ok   {name}: rows={len(got)} (rows-only, no oracle)")
            continue
        try:
            exp = normalize(con.sql(sql).df())
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {ex}")
            failures += 1
            continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            failures += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            failures += 1
            continue
        bad = None
        for c in got.columns:
            a, b = got[c], exp[c]
            # Dtype-strict like the driver's value-hash gate: an int64 Spark
            # column vs a float64 oracle column (e.g. an uncast DuckDB sum()
            # -> HUGEINT -> float64) must FAIL, not silently pass via a float
            # allclose branch. Numeric kinds must agree on int-vs-float.
            ka = "f" if a.dtype.kind in "fc" else ("i" if a.dtype.kind in "iu" else a.dtype.kind)
            kb = "f" if b.dtype.kind in "fc" else ("i" if b.dtype.kind in "iu" else b.dtype.kind)
            if ka != kb:
                print(
                    f"FAIL {name}: column {c} dtype kind mismatch "
                    f"spark={a.dtype} oracle={b.dtype} (driver hash would differ)"
                )
                bad = c
                break
            if ka == "f":
                # Exact float equality: every oracle rounds to 6dp via
                # floor(x*1e6+0.5)/1e6 on both engines, so bit-equality is the
                # driver-faithful expectation (the driver hashes raw values).
                if not np.array_equal(
                    a.to_numpy(dtype=float), b.to_numpy(dtype=float), equal_nan=True
                ):
                    bad = c
                    break
            else:
                if not (a.astype(str).to_numpy() == b.astype(str).to_numpy()).all():
                    bad = c
                    break
        if bad:
            mism = got[bad].astype(str).to_numpy() != exp[bad].astype(str).to_numpy()
            print(f"FAIL {name}: column {bad} mismatches; sample:")
            print(pd.DataFrame({"got": got[bad][mism][:5], "exp": exp[bad][mism][:5]}))
            failures += 1
        else:
            print(f"ok   {name}: rows={len(got)} values match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
