"""Result fingerprints for the benchmark's queries.

A fingerprint is the row count, the column names and a SHA-256 of the
result after ``tools/check_parity.normalize`` (columns sorted by name,
dtypes canonicalised, rows sorted), so two engines that agree under the
parity gate's comparison produce the same fingerprint.

The stored fingerprints (``fingerprints.json``) come from the DuckDB
oracle of each query (``__spark_entry__.oracle_sql()``) over the
generated fixture. Regenerate them after a fixture or oracle change:

    python3 perfbench/oracle.py

Every benchmark query has an oracle, so none is checked rows-only.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")


def fingerprint(pdf: pd.DataFrame) -> dict:
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_parity import normalize

    ndf = normalize(pdf)
    digest = hashlib.sha256(ndf.to_csv(index=False).encode()).hexdigest()
    return {"rows": len(ndf), "columns": list(ndf.columns), "sha256": digest}


def check(pdf: pd.DataFrame, expected: dict) -> str | None:
    """None when ``pdf`` matches ``expected``, else what differs."""
    got = fingerprint(pdf)
    for key in ("rows", "columns"):
        if got[key] != expected[key]:
            return f"{key} {got[key]} != expected {expected[key]}"
    if got["sha256"] != expected["sha256"]:
        return "values differ from the oracle"
    return None


def load(scale: str) -> dict[str, dict]:
    with open(FINGERPRINTS) as fh:
        return json.load(fh)[scale]


def main() -> int:
    import duckdb

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod
    from hdinsight_pyspark_cntk_integration_spark.sources.catalog import TABLE_NAMES

    import datagen
    from workloads import SCALES, query_names

    build_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    oracles = entrymod.oracle_sql()
    out: dict[str, dict] = {}
    for scale, spec in SCALES.items():
        sf_dir = datagen.ensure_fixture(build_dir, spec.sf)
        con = duckdb.connect()
        for table in TABLE_NAMES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
        out[scale] = {}
        for name in query_names():
            if name not in oracles:
                raise SystemExit(f"{name} has no oracle in __spark_entry__.oracle_sql()")
            out[scale][name] = fingerprint(con.sql(oracles[name]).df())
            print(f"{scale} {name}: {out[scale][name]}", file=sys.stderr)
        con.close()
    with open(FINGERPRINTS, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
