"""DuckDB oracle fingerprints for a generated dataset.

A fingerprint is the row count plus a hash of the order-insensitive
canonical form from ``tests/oracle.py`` (columns sorted by name, rows
sorted, floats compared bit-exactly), so a Spark result matches its
oracle exactly when the two fingerprints are equal. The views read the
table directories, every part file of each table. Results are cached
next to the dataset, so a dataset pays for its oracles once.
"""

from __future__ import annotations

import hashlib
import json
import os

from p4_mapreduce_spark.sources.tables import TABLES
from tests.oracle import canonicalize


def fingerprint(pdf) -> dict:
    cols, rows = canonicalize(pdf)
    h = hashlib.sha256(json.dumps([[c.lower() for c in cols], rows]).encode())
    return {"rows": len(rows), "fp": h.hexdigest()}


def oracle_fingerprints(data_dir: str, queries: dict[str, str], tmp_dir: str) -> dict:
    """{query: fingerprint} for each ``queries`` name -> oracle SQL,
    computed once per dataset and cached in ``data_dir/oracle.json``."""
    import duckdb

    path = os.path.join(data_dir, "oracle.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    todo = [q for q in queries if q not in cached]
    if not todo:
        return cached
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp_dir}'")
        con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
        for t in TABLES:
            glob = os.path.join(data_dir, f"{t}.parquet", "*.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
        for q in todo:
            cached[q] = fingerprint(con.execute(queries[q]).fetch_df())
    finally:
        con.close()
    with open(path + ".tmp", "w") as f:
        json.dump(cached, f, indent=1)
    os.replace(path + ".tmp", path)
    return cached
