"""Synthesize larger scale factors from the driver's sf0.1 parquet by
key-shifted replication, for the README scaling study.

Usage:
    python scripts/make_scaled_data.py 0.3 /tmp/scale/sf0.3
    python scripts/make_scaled_data.py 1.0 /tmp/scale/sf1.0
    # optional table subset (e.g. only what an index study reads):
    python scripts/make_scaled_data.py 10.0 /tmp/scale/sf10 documents embeddings

Each copy i shifts every key column by i * (max(key)+1) of its domain, so
referential integrity (orders->customer, lineitem->orders/part/supplier,
events->users) holds across copies and join/agg cardinalities scale
linearly.  Dimension tables (region, nation) are shared.  Text/embedding
payloads are replicated verbatim — dedup/ANN queries therefore see k-1
exact replicas per document, which *exercises* the dedup scale path
(cluster fan-in, LSH auto-routing past the exact-path guard) rather than
invalidating it; absolute pair counts are not comparable across SFs.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tap_airbyte_wrapper_spark.cli import build_spark  # noqa: E402
from tap_airbyte_wrapper_spark.sources.files import load_parquet  # noqa: E402

BASE = "/root/testdata/sf0.1"
BASE_SF = 0.1

#: table -> {column: key domain}; every column in one domain shifts by the
#: same per-copy stride so cross-table references stay aligned.
KEYED = {
    "customer": {"c_custkey": "cust"},
    "supplier": {"s_suppkey": "supp"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part",
                 "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
DOMAIN_SOURCE = {  # domain -> (table, column) to size the stride from
    "cust": ("customer", "c_custkey"),
    "supp": ("supplier", "s_suppkey"),
    "part": ("part", "p_partkey"),
    "order": ("orders", "o_orderkey"),
    "event": ("events", "event_id"),
    "user": ("events", "user_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}
DIMS = ["region", "nation"]


def main() -> int:
    target_sf = float(sys.argv[1])
    out_dir = sys.argv[2]
    only = set(sys.argv[3:])  # empty = all tables
    k = max(1, round(target_sf / BASE_SF))
    spark = build_spark(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
                        {"spark.sql.shuffle.partitions": "32",
                         "spark.driver.memory": "16g",
                         "spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    strides = {
        dom: load_parquet(spark, f"{BASE}/{tbl}.parquet")
        .agg(F.max(col)).first()[0] + 1
        for dom, (tbl, col) in DOMAIN_SOURCE.items()
    }
    os.makedirs(out_dir, exist_ok=True)
    for tbl in DIMS:
        if only and tbl not in only:
            continue
        load_parquet(spark, f"{BASE}/{tbl}.parquet").write.mode(
            "overwrite").parquet(f"{out_dir}/{tbl}.parquet")
    for tbl, keys in KEYED.items():
        if only and tbl not in only:
            continue
        base = load_parquet(spark, f"{BASE}/{tbl}.parquet")
        # one scan, k-way union of shifted projections — Spark plans this
        # as a single stage per copy over the same file split set
        copies = []
        for i in range(k):
            df = base
            for col, dom in keys.items():
                df = df.withColumn(
                    col, (F.col(col) + F.lit(i * strides[dom])).cast(
                        dict(base.dtypes)[col]))
            copies.append(df)
        out = copies[0]
        for df in copies[1:]:
            out = out.unionByName(df)
        out.repartition(max(8, 4 * k)).write.mode("overwrite").parquet(
            f"{out_dir}/{tbl}.parquet")
        print(f"{tbl}: x{k}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
