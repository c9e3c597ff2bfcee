"""Deterministic scale-up of a driver testdata dir for LARGE-SCALE A/B
measurement only (bench.py at sf1.0). NOT driver data and NOT
used by any correctness gate — the oracle always runs on the driver's own
sf0.001/sf0.01/sf0.1 dirs, which this script never touches.

Replicates every fact table `factor` times with primary/foreign keys offset
by a per-copy stride (join fan-outs and group cardinalities scale linearly,
matching how the driver escalates sf). Dims (region, nation) copy as-is.
Single parquet file per table, pyarrow default row-group size — the same
layout as the driver dirs (sf1.0 lineitem lands at 6 row groups, orders 2).

Usage: python scripts/gen_sf_scale.py [src_dir] [dst_dir] [factor]
       defaults: /root/testdata/sf0.1 /root/testdata/sf1.0 10
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# table -> columns offset by copy_index * stride[col]; stride = max key + 1
# of the table OWNING the key so every copy is a disjoint key space
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
COPY_AS_IS = ["region", "nation"]


def _stride_for(col: str, src: str) -> int:
    # stride = max value + 1 of the column DEFINING the key space, read
    # from its owner table — a foreign key must stride exactly like the
    # primary key it references, and an independent key space (user_id)
    # strides on its own max, not the table's row-id column
    owner, owner_col = {
        "c_custkey": ("customer", "c_custkey"), "o_custkey": ("customer", "c_custkey"),
        "s_suppkey": ("supplier", "s_suppkey"), "l_suppkey": ("supplier", "s_suppkey"),
        "p_partkey": ("part", "p_partkey"), "l_partkey": ("part", "p_partkey"),
        "o_orderkey": ("orders", "o_orderkey"), "l_orderkey": ("orders", "o_orderkey"),
        "event_id": ("events", "event_id"), "user_id": ("events", "user_id"),
        "doc_id": ("documents", "doc_id"), "vec_id": ("embeddings", "vec_id"),
    }[col]
    t = pq.read_table(os.path.join(src, f"{owner}.parquet"), columns=[owner_col])
    colv = t.column(0)
    if pa.types.is_integer(colv.type):
        return int(pd.Series(colv.to_pandas()).max()) + 1
    return len(t)  # string ids: suffix per copy, stride unused


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)

    for name in COPY_AS_IS:
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"))
        print(f"{name}: {t.num_rows} rows (copied)")

    for name, key_cols in KEY_COLS.items():
        path = os.path.join(src, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        base = pq.read_table(path).to_pandas()
        strides = {c: _stride_for(c, src) for c in key_cols}
        copies = []
        for k in range(factor):
            df = base.copy()
            for c in key_cols:
                if pd.api.types.is_integer_dtype(df[c]):
                    df[c] = df[c] + k * strides[c]
                else:
                    df[c] = df[c] if k == 0 else df[c].astype(str) + f"~{k}"
            copies.append(df)
        out = pd.concat(copies, ignore_index=True)
        pq.write_table(
            pa.Table.from_pandas(out, preserve_index=False),
            os.path.join(dst, f"{name}.parquet"),
        )
        print(f"{name}: {len(base)} -> {len(out)} rows")


if __name__ == "__main__":
    main()
