"""Seeded inputs and the correctness gate.

``prepare`` writes the seed's tables (``datagen``) and evaluates every line's
registered ``oracle_sql()`` in DuckDB over the same files, caching both under
``.graftbench/inputs/seed-<n>/``. It runs in its own process, before the
measured process starts, so none of it lands in a timed region:

    python3 graftbench/gate.py <seed> <line> [<line> ...]

``check`` compares a line's Spark result with its cached oracle result through
``tools/driver_mimic``'s ``compare`` (``canon`` + ``value_hash``).
"""

from __future__ import annotations

import hashlib
import os
import sys

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUTS = os.path.join(ROOT, ".graftbench", "inputs")


def seed_dir(seed: int) -> str:
    return os.path.join(INPUTS, f"seed-{seed}")


def oracle_path(seed: int, name: str, sql: str) -> str:
    digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    return os.path.join(seed_dir(seed), "oracle", f"{name}-{digest}.pkl")


def prepare(seed: int, names: list[str]) -> None:
    """Make the seed's tables and oracle results unless they are cached."""
    import duckdb

    import datagen
    from projet_etl_a_rien_spark.catalog import TABLES
    from projet_etl_a_rien_spark.queries import REGISTRY, _load_extensions

    _load_extensions()
    data = seed_dir(seed)
    done = os.path.join(data, "tables.done")
    if not os.path.exists(done):
        datagen.write_tables(data, seed)
        open(done, "w").close()
    con = None
    for name in names:
        sql = REGISTRY[name].oracle
        if sql is None:
            raise SystemExit(f"{name} has no oracle; the gate cannot check it")
        path = oracle_path(seed, name, sql)
        if os.path.exists(path):
            continue
        if con is None:
            con = duckdb.connect()
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con.sql(sql).df().to_pickle(path + ".part")
        os.replace(path + ".part", path)


def load_expected(seed: int, name: str, sql: str) -> pd.DataFrame:
    return pd.read_pickle(oracle_path(seed, name, sql))


def check(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when the results driver-match, else what differs."""
    from tools.driver_mimic import compare

    rows, schema, hashes, s, o = compare(actual, expected)
    if not schema:
        return f"columns {list(s.columns)} != {list(o.columns)}"
    if not rows:
        return f"rows {len(s)} != {len(o)}"
    return None if hashes else "value hash differs"


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    prepare(int(sys.argv[1]), sys.argv[2:])
