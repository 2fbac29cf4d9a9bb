"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet fixtures, then compares row count, sorted column
names, and cell values (exact for non-floats; floats must agree to 1e-9
relative — the engine's parity rules aim for bit-equality, the tolerance
only localizes a diagnosis). Exit code 0 iff everything matches.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

from projet_etl_a_rien_spark.catalog import TABLES
from projet_etl_a_rien_spark.session import get_spark


def normalize(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    out = []
    for row in rows:
        out.append(tuple(row[i] for i in order))
    def key(t):
        # Floats sort on a rounded form: two cells equal within the compare
        # tolerance must land in the same sort position on both engines, or
        # the pairwise diff walks misaligned rows.
        parts = []
        for v in t:
            if v is None:
                parts.append("\x00")
            elif isinstance(v, float):
                parts.append(f"{v:.9g}")
            else:
                parts.append(str(v))
        return tuple(parts)
    return sorted(out, key=key), [colnames[i] for i in order]


def cells_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return fa == fb or abs(fa - fb) <= 1e-9 * max(abs(fa), abs(fb))
    return a == b or str(a) == str(b)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures, skipped = [], []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        spark.catalog.clearCache()  # caching operators: caller owns cleanup
        n_run += 1
        if name not in oracles:
            df = fn(spark, sf_dir)
            n = df.count()
            skipped.append(name)
            print(f"  ~ {name}: rows-only ({n} rows)")
            continue
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            o = con.sql(oracles[name])
            o_cols = o.columns
            o_rows = o.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"  ✗ {name}: EXECUTION ERROR: {type(e).__name__}: {e}")
            continue
        s_norm, s_names = normalize(s_rows, s_cols)
        o_norm, o_names = normalize(o_rows, o_cols)
        if s_names != o_names:
            failures.append(name)
            print(f"  ✗ {name}: column mismatch spark={s_names} oracle={o_names}")
            continue
        if len(s_norm) != len(o_norm):
            failures.append(name)
            print(f"  ✗ {name}: row count spark={len(s_norm)} oracle={len(o_norm)}")
            continue
        bad = None
        for i, (sr, orow) in enumerate(zip(s_norm, o_norm)):
            for j, (sv, ov) in enumerate(zip(sr, orow)):
                if not cells_equal(sv, ov):
                    bad = (i, s_names[j], sv, ov)
                    break
            if bad:
                break
        if bad:
            failures.append(name)
            print(f"  ✗ {name}: value mismatch row {bad[0]} col {bad[1]}: spark={bad[2]!r} oracle={bad[3]!r}")
        else:
            print(f"  ✓ {name}: {len(s_norm)} rows")

    print(
        f"\n{n_run - len(failures) - len(skipped)} ok, "
        f"{len(skipped)} rows-only, {len(failures)} failed"
        + (f" (subset: {n_run} of {len(qs)} queries)" if only else "")
    )
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
