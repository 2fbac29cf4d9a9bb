"""Write the table spec the input generator follows, read from parquet footers.

    python3 graftbench/footers.py <dir with the ten fixture tables> > graftbench/tables.json

For every table the spec records the arrow schema, the row count and each
column's footer min/max (nulls are absent in the fixtures and are not
generated). Only footers are read, never row data.
"""

from __future__ import annotations

import json
import sys

import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _stat(v):
    if isinstance(v, bytes):
        v = v.decode()
    return v if isinstance(v, (int, float, str)) else str(v)


def table_spec(path: str) -> dict:
    meta = pq.ParquetFile(path).metadata
    schema = meta.schema.to_arrow_schema()
    cols = {}
    for field in schema:
        # the column's first parquet leaf (a list column's element leaf)
        leaf = next(
            j for j in range(meta.num_columns)
            if meta.schema.column(j).path.split(".")[0] == field.name
        )
        lo = hi = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(leaf).statistics
            if st is not None and st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
        cols[field.name] = {"type": str(field.type), "min": _stat(lo), "max": _stat(hi)}
    return {"rows": meta.num_rows, "columns": cols}


def main(src: str) -> None:
    spec = {t: table_spec(f"{src}/{t}.parquet") for t in TABLES}
    json.dump(spec, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1])
