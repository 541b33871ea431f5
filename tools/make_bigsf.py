#!/usr/bin/env python3
"""Synthesize a larger spot-bench fixture from sf0.1 (round-21, r20
verdict #5): each table replicated K times with disjoint key offsets;
FK columns are offset by the REFERENCED table's stride so the replicas
are K referentially-consistent copies of the sf0.1 universe. This is
measurement-only data (never graded): /root/testdata stays read-only
and the existing SFs are untouched. Schema preserved by pyarrow
(events.ts stays whatever timestamp flavor the source carries), except
that the offset key columns are widened to int64, so that no key wraps
at large K.

Usage: python3 tools/make_bigsf.py [K] [src] [dst]
Defaults: K=5, src=/root/testdata/sf0.1, dst=/root/bigsf/sf0.5
"""
import sys
import os
import pyarrow as pa
import pyarrow.parquet as pq
import pyarrow.compute as pc

K = int(sys.argv[1]) if len(sys.argv) > 1 else 5
SRC = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
DST = sys.argv[3] if len(sys.argv) > 3 else "/root/bigsf/sf0.5"
os.makedirs(DST, exist_ok=True)


def maxv(name, col):
    t = pq.read_table(f"{SRC}/{name}.parquet", columns=[col])
    return pc.max(t.column(0)).as_py() + 1


# stride per key DOMAIN: FK columns share the referenced table's stride
steps = {
    "o_orderkey": maxv("orders", "o_orderkey"),
    "l_orderkey": maxv("orders", "o_orderkey"),
    "c_custkey": maxv("customer", "c_custkey"),
    "o_custkey": maxv("customer", "c_custkey"),
    "s_suppkey": maxv("supplier", "s_suppkey"),
    "l_suppkey": maxv("supplier", "s_suppkey"),
    "p_partkey": maxv("part", "p_partkey"),
    "l_partkey": maxv("part", "p_partkey"),
    "event_id": maxv("events", "event_id"),
    "user_id": maxv("events", "user_id"),
    "doc_id": maxv("documents", "doc_id"),
    "vec_id": maxv("embeddings", "vec_id"),
}


def gen(name, keys):
    t = pq.read_table(f"{SRC}/{name}.parquet")
    parts = []
    for i in range(K):
        p = t
        for c in keys:
            idx = p.schema.get_field_index(c)
            # int64 before the offset: narrower keys would wrap at large K
            field = p.schema.field(idx).with_type(pa.int64())
            arr = pc.add_checked(pc.cast(p.column(idx), pa.int64()),
                                 pa.scalar(steps[c] * i, type=pa.int64()))
            p = p.set_column(idx, field, arr)
        parts.append(p)
    out = pa.concat_tables(parts)
    pq.write_table(out, f"{DST}/{name}.parquet")
    print(name, t.num_rows, "->", out.num_rows)


for name in ("region", "nation"):  # dimensions copy as-is
    t = pq.read_table(f"{SRC}/{name}.parquet")
    pq.write_table(t, f"{DST}/{name}.parquet")
    print(name, "copied", t.num_rows)
gen("customer", ["c_custkey"])
gen("supplier", ["s_suppkey"])
gen("part", ["p_partkey"])
gen("orders", ["o_orderkey", "o_custkey"])
gen("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"])
gen("events", ["event_id", "user_id"])
gen("documents", ["doc_id"])
gen("embeddings", ["vec_id"])
