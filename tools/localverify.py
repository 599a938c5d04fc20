#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run graft.Verify at a
given SF into an outDir, then execute each oracle_sql.json entry in
DuckDB over the same parquet tables and compare (rows, schema columns,
values after sorting columns by name and rows by all columns; values
compare by `values_equal`).

Usage: python3 tools/localverify.py [sfDir] [outDir] [query...] [--skip-spark]

Trailing query names restrict both the Spark dump and the comparison to
those queries. --skip-spark reuses the dump already in outDir.
"""
import json
import math
import subprocess
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def run_spark(sf_dir: str, out_dir: str, names: list) -> None:
    subprocess.run(
        ["sbt", " ".join(["runMain graft.Verify", sf_dir, out_dir, *names])],
        check=True, cwd=Path(__file__).resolve().parent.parent,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes-ish: timestamps → ns strings, floats stay floats
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def values_equal(a, b) -> bool:
    """None and NaN are one null. Once either side is a float, both
    compare as floats (-0.0 == 0.0, 1 == 1.0, and a numeric string equals
    its value); anything else compares by ==."""
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        an = a is None or (isinstance(a, float) and math.isnan(a))
        bn = b is None or (isinstance(b, float) and math.isnan(b))
        return an == bn
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) == math.isnan(fb)
        return fa == fb
    return a == b


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
    names = [a for a in sys.argv[3:] if a != "--skip-spark"]
    if "--skip-spark" not in sys.argv:
        print(f"[localverify] running graft.Verify {sf_dir} -> {out_dir}")
        run_spark(sf_dir, out_dir, names)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    if names:
        oracle = {n: sql for n, sql in oracle.items() if n in names}
    failures = []
    for name, sql in sorted(oracle.items()):
        spark_path = Path(out_dir, name)
        if not spark_path.exists():
            failures.append((name, "spark output missing"))
            print(f"FAIL {name}: spark output missing")
            continue
        try:
            sdf = canon(pd.read_parquet(spark_path))
            odf = canon(con.execute(sql).df())
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"error: {e}"))
            print(f"FAIL {name}: {e}")
            continue
        ok_rows = len(sdf) == len(odf)
        ok_cols = list(sdf.columns) == list(odf.columns)
        ok_vals = False
        detail = ""
        if ok_rows and ok_cols:
            ok_vals = True
            for c in sdf.columns:
                sv, ov = sdf[c].tolist(), odf[c].tolist()
                bad = [(i, a, b) for i, (a, b) in enumerate(zip(sv, ov)) if not values_equal(a, b)]
                if bad:
                    ok_vals = False
                    i, a, b = bad[0]
                    detail = f"col {c}: {len(bad)} diffs, first at row {i}: spark={a!r} oracle={b!r}"
                    break
        else:
            detail = f"rows {len(sdf)}/{len(odf)} cols {list(sdf.columns)}/{list(odf.columns)}"
        status = "ok  " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        print(f"{status} {name}  rows={len(sdf)}  {detail}")
        if status == "FAIL":
            failures.append((name, detail))
    print(f"\n[localverify] {len(oracle) - len(failures)}/{len(oracle)} oracles green")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
