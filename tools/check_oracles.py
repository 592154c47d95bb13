"""Local replica of the driver's correctness gate: run every
__spark_entry__ query at a given sf and compare against its DuckDB
oracle (row count, column names, order-insensitive value hash).

    python tools/check_oracles.py [sf_dir] [query ...] [--json out.json]

An unregistered query name exits 2 before the Spark session starts.
"""

from __future__ import annotations

import hashlib
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)]
    rows = []
    for tup in df.itertuples(index=False):
        rows.append("|".join(_norm(v) for v in tup))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _norm(v) -> str:
    if v is None or v != v:
        return "<null>"
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def main():
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"unknown query name(s): {', '.join(unknown)}",
              file=sys.stderr)
        sys.exit(2)

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .appName("check_oracles")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.driver.memory", "8g")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        try:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
        except Exception:
            pass

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error {e!r:.300}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None,
                             "err": f"spark error {e!r:.300}"}
            failures += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows (rows-only check)")
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None,
                             "spark_rows": len(sdf),
                             "oracle_rows": None, "err": "no_oracle"}
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error {e!r:.300}")
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False,
                             "spark_rows": len(sdf),
                             "oracle_rows": None,
                             "err": f"oracle error {e!r:.300}"}
            failures += 1
            continue
        ok_rows = len(sdf) == len(odf)
        ok_schema = sorted(sdf.columns) == sorted(odf.columns)
        ok_hash = value_hash(sdf) == value_hash(odf)
        status = "OK   " if (ok_rows and ok_schema and ok_hash) else "FAIL "
        results[name] = {"rows_match": ok_rows,
                         "schema_match": ok_schema,
                         "hash_match": ok_hash,
                         "spark_rows": len(sdf),
                         "oracle_rows": len(odf), "err": None}
        if not (ok_rows and ok_schema and ok_hash):
            failures += 1
        print(f"{status} {name}: rows {len(sdf)}/{len(odf)} "
              f"schema={'ok' if ok_schema else sorted(sdf.columns)}"
              f"{'' if ok_schema else sorted(odf.columns)} "
              f"hash={'ok' if ok_hash else 'MISMATCH'}")
        if not ok_hash and ok_rows and ok_schema and len(sdf) < 20000:
            s = sdf[sorted(sdf.columns)].copy()
            o = odf[sorted(odf.columns)].copy()
            key = sorted(sdf.columns)[0]
            s = s.sort_values(list(s.columns)).reset_index(drop=True)
            o = o.sort_values(list(o.columns)).reset_index(drop=True)
            diff = (s.astype(str) != o.astype(str)).any(axis=1)
            if diff.any():
                i = diff.idxmax()
                print(f"      first diff row {i}:")
                print("      spark :", s.iloc[i].to_dict())
                print("      oracle:", o.iloc[i].to_dict())
    print("failures:", failures)
    if json_out:
        import json
        with open(json_out, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_queries": len(results),
                       "failures": failures, "results": results},
                      f, indent=1)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
