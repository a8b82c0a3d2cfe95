"""Order-insensitive result hashes, and the one-off tool that stores the
DuckDB oracle's hashes with the benchmark.

Canonicalization follows ``tests/oracle_utils.canon``: columns sorted by
name, NaN -> None, timestamps -> ISO strings, sequences -> tuples, rows
sorted.  Before hashing, numpy and Decimal scalars become Python
numbers and integral floats become ints, because DuckDB returns e.g.
``SUM(int)`` as a float column where Spark returns int64; equality in
``canon`` ignores that difference, a hash would not.

Run ``python3 perfbench/oracle.py`` once to (re)compute
``expected.json`` from each name's DuckDB ``oracle_sql()`` over the
bundled tables.  The oracles of the heaviest names take minutes, which
is why a run of the benchmark never recomputes them.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys
from datetime import date, datetime
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
# Named like the fixture it copies: calibration-pinned queries check the
# directory name.
DATA_DIR = os.path.join(HERE, "sf0.01")
EXPECTED_PATH = os.path.join(HERE, "expected.json")
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _value(v):
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalar or array
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if v.is_integer() and abs(v) < 2**63:
            return int(v)
        return v
    if isinstance(v, datetime):
        import pandas as pd

        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_value(x) for x in v)
    return v


def canon_rows(df) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [tuple(_value(v) for v in row) for row in df[cols].itertuples(index=False, name=None)]
    rows.sort(key=lambda r: tuple((x is None, type(x).__name__, x) for x in r))
    return cols, rows


def result_hash(df) -> tuple[int, str]:
    """(row count, sha256 of the canonical result) of a pandas frame."""
    cols, rows = canon_rows(df)
    digest = hashlib.sha256(repr((cols, rows)).encode("utf-8")).hexdigest()
    return len(rows), digest


def duckdb_con(data_dir: str = DATA_DIR):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def load_expected() -> dict[str, dict]:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def main() -> None:
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from osm_changesets_to_parquet_spark.queries import oracle_sql

    from workloads import BATCH_QUERIES, STREAM_JOBS

    sql = oracle_sql()
    con = duckdb_con()
    out = {}
    for name in BATCH_QUERIES + STREAM_JOBS:
        rows, digest = result_hash(con.execute(sql[name]).fetchdf())
        out[name] = {"rows": rows, "sha256": digest}
        print(name, rows, digest, flush=True)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
