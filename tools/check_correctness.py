"""Local correctness gate: mimic the driver's Spark-vs-DuckDB comparison.

For every queries() entry with an oracle: run both at the given SF, compare
row count, sorted column names, and an order-insensitive multiset of
normalized row values. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from healthcare_data_harmonization_dataflow_spark.session import build_session  # noqa: E402
from healthcare_data_harmonization_dataflow_spark.sources.tables import TABLES  # noqa: E402


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(round(v, 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def rows_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


_SPARK_CLASS = {
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool", "timestamp": "ts",
    "timestamp_ntz": "ts", "date": "ts",
}
_DUCK_CLASS = {
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "HUGEINT": "int128", "UTINYINT": "int", "USMALLINT": "int",
    "UINTEGER": "int", "UBIGINT": "int128",
    "FLOAT": "float", "DOUBLE": "float", "NUMBER": "float",
    "VARCHAR": "str", "STRING": "str", "BOOLEAN": "bool", "bool": "bool",
    "TIMESTAMP": "ts", "DATETIME": "ts", "DATE": "ts",
}


def type_mismatches(sdf, duck_cols_types) -> list:
    """Coarse type-class comparison between the Spark schema and the DuckDB
    relation types; returns human-readable mismatches. int128 (HUGEINT)
    deliberately does NOT class as int — the driver's hash is
    type-sensitive and HUGEINT-vs-BIGINT was round 1's only red cell."""
    stypes = {f.name: _SPARK_CLASS.get(f.dataType.simpleString(), "other")
              for f in sdf.schema.fields}
    out = []
    for name, dt in duck_cols_types:
        dclass = _DUCK_CLASS.get(str(dt), "other")
        sclass = stypes.get(name)
        if sclass is None:
            continue
        if sclass != dclass and "other" not in (sclass, dclass):
            out.append(f"{name}: spark={sclass} duck={dt}({dclass})")
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    # Parity-by-construction oracles (ivf_oracle_centroids) re-derive their
    # literals from the gated SF's data — pin the env BEFORE oracle_sql()
    # is evaluated, or a non-default sf_dir trains the oracle's centroids
    # on sf0.01 while the Spark query trains on sf_dir (observed as a
    # values-differ FAIL on ann_ivf_topk at sf0.1).
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    spark = build_session(app_name="correctness", master="local[8]", shuffle_partitions=16)

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = 0
    results: list[dict] = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sorted(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            results.append({"query": name, "status": "FAIL", "problems": [str(e)]})
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            results.append({"query": name, "status": "ROWS-ONLY", "rows": len(srows)})
            continue
        try:
            rel = con.sql(sql)
            duck_cols = list(rel.columns)
            duck_types = [str(t) for t in rel.types]
            dcols = sorted(duck_cols)
            drows = rel.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            results.append({"query": name, "status": "FAIL", "problems": [str(e)]})
            continue
        problems = []
        if scols != dcols:
            problems.append(f"schema: spark={scols} duck={dcols}")
        else:
            # type-class parity: the driver's value hash is TYPE-sensitive,
            # so an oracle emitting HUGEINT (e.g. DuckDB list_sum over
            # BIGINT) for a Spark int64 column passes a value-only compare
            # but fails the driver — catch that here (round-1 W1 class)
            tmis = type_mismatches(sdf, list(zip(duck_cols, duck_types)))
            if tmis:
                problems.append("oracle type class: " + "; ".join(tmis))
        if len(srows) != len(drows):
            problems.append(f"rowcount: spark={len(srows)} duck={len(drows)}")
        if not problems:
            sm, dm = rows_multiset(sdf.columns, srows), rows_multiset(
                duck_cols, drows
            )
            if sm != dm:
                diffs = [(a, b) for a, b in zip(sm, dm) if a != b][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL {name} ({time.time()-t0:.1f}s): " + "; ".join(problems))
            n_fail += 1
            results.append({"query": name, "status": "FAIL", "problems": problems})
        else:
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
            results.append(
                {
                    "query": name,
                    "status": "PASS",
                    "rows": len(srows),
                    "secs": round(time.time() - t0, 1),
                }
            )
    print(f"\n{n_pass} passed, {n_fail} failed")
    json_path = os.environ.get("CORRECTNESS_JSON")
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "results": results,
                },
                f,
                indent=1,
            )
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
