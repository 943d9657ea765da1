"""Expected-output digests for the benchmark's queries.

A digest is the SHA-256 of a query result after the driver-replica
canonicalization in ``tests/parity.py`` (columns sorted by name, values
made engine-neutral, rows sorted), so a Spark result and its DuckDB
oracle digest equal exactly when the parity check would pass.

Run as a script to regenerate ``expected_digests.json`` from the DuckDB
oracles over the benchmark's own copy of the fixture tables:

    python3 perfbench/digests.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
#: The fixture tables the benchmark runs on: a copy of the sf0.001
#: driver fixtures, small enough that every run is bound by Spark's
#: per-job latency rather than by data volume.
SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.001")
DIGESTS_PATH = os.path.join(BENCH_DIR, "expected_digests.json")


def digest(cols: list[str], rows: list[tuple]) -> str:
    from tests.parity import canon_rows

    body = json.dumps([sorted(cols), canon_rows(cols, rows)], default=str)
    return hashlib.sha256(body.encode()).hexdigest()


def load_expected() -> dict[str, str]:
    with open(DIGESTS_PATH) as fh:
        return json.load(fh)


def make_digests(names: list[str]) -> dict[str, str]:
    import duckdb

    from tropology_spark import ORACLES
    from tropology_spark.sources.tables import TABLES

    out: dict[str, str] = {}
    con = duckdb.connect()
    try:
        for table in TABLES:
            path = os.path.join(SF_DIR, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for name in names:
            cur = con.execute(ORACLES[name])
            out[name] = digest([d[0] for d in cur.description], cur.fetchall())
            print(f"{name} {out[name][:12]}", file=sys.stderr)
    finally:
        con.close()
    return out


def main() -> None:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import ITERATIVE, WARMUP_QUERY

    names = [WARMUP_QUERY] + ITERATIVE
    with open(DIGESTS_PATH, "w") as fh:
        json.dump(make_digests(names), fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
