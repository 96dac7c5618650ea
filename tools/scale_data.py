#!/usr/bin/env python
"""Materialize a K-fold scale-up of the sf0.1 test tables, the input of
tools/scale_oracle_sweep.py (the registry checked against DuckDB one
order of magnitude up).

This data is a MEASUREMENT HARNESS, not test data: oracle checks and
pytest stay on the driver-generated /root/testdata SFs; the scaled
replica exists only so the scale sweep can run the registry on 10x
inputs.

Scaling model — each copy i gets keys offset by i x (max_key + 1) with
FOREIGN KEYS offset consistently, so referential integrity (and
therefore join selectivity and per-entity graph density) is preserved
and each copy forms a disjoint key universe:

  customer/orders/lineitem/part/supplier  key + FK offsets
  events    event_id/user_id offsets (per-user history density const)
  documents doc_id offset; copies i>0 get every TOKEN prefixed with
            c<i>_ so copies are DISJOINT in shingle space — within-copy
            near-dup density is unchanged, so the LSH/minhash pair
            space scales LINEARLY with K (duplicating text verbatim
            would grow candidate pairs ~K^2 inside every band bucket, a
            scaling artifact real corpora do not have)
  embeddings vec_id offset; copies i>0 get component 0 nudged by
            i x 1e-3 so exact-duplicate vectors do not inflate
            cosine-threshold candidate sets quadratically
  region/nation copied as-is (fixed dimensions, like production)

Run:  python tools/scale_data.py [K] [out_dir]
      (defaults: K=10, /tmp/spark_graft_scale/sf1)
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"

OFFSET_KEYS = {
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {
        "l_orderkey": "orders",
        "l_partkey": "part",
        "l_suppkey": "supplier",
    },
    "events": {"event_id": "events", "user_id": "events_user"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
}

# table -> (key column defining that table's offset base)
BASE_KEY = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/spark_graft_scale/sf1"
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()

    offsets: dict[str, int] = {}
    for t, keycol in BASE_KEY.items():
        offsets[t] = (
            con.execute(
                f"SELECT MAX({keycol}) + 1 FROM '{SRC}/{t}.parquet'"
            ).fetchone()[0]
        )
    offsets["events_user"] = (
        con.execute(
            f"SELECT MAX(user_id) + 1 FROM '{SRC}/events.parquet'"
        ).fetchone()[0]
    )

    for t in ("region", "nation"):
        con.execute(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO "
            f"'{out}/{t}.parquet' (FORMAT parquet)"
        )
        print(f"{t}: copied as-is")

    for t, fks in OFFSET_KEYS.items():
        cols = [
            c[0]
            for c in con.execute(
                f"DESCRIBE SELECT * FROM '{SRC}/{t}.parquet'"
            ).fetchall()
        ]
        selects = []
        for i in range(k):
            parts = []
            for c in cols:
                if c in fks:
                    parts.append(f"{c} + {i * offsets[fks[c]]} AS {c}")
                elif t == "documents" and c == "text" and i > 0:
                    parts.append(
                        "array_to_string(list_transform("
                        f"string_split(text, ' '), x -> 'c{i}_' || x), ' ')"
                        " AS text"
                    )
                elif t == "embeddings" and c == "embedding" and i > 0:
                    parts.append(
                        "list_prepend(CAST(embedding[1] + "
                        f"{i} * 0.001 AS FLOAT), embedding[2:]) AS embedding"
                    )
                else:
                    parts.append(c)
            selects.append(
                f"SELECT {', '.join(parts)} FROM '{SRC}/{t}.parquet'"
            )
        con.execute(
            f"COPY ({' UNION ALL '.join(selects)}) TO '{out}/{t}.parquet' "
            "(FORMAT parquet)"
        )
        n = con.execute(f"SELECT COUNT(*) FROM '{out}/{t}.parquet'").fetchone()
        print(f"{t}: {n[0]} rows (x{k})")

    print(f"wrote {out}")


if __name__ == "__main__":
    main()
