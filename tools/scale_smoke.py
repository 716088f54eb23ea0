"""Scale smoke: write the SF tables xN to disk, then check the invariants of
the large side that no other check pins.

    python tools/scale_smoke.py N [out_dir] [json_artifact_out]

``multiply_tables`` writes every table of ``$SPARK_GRAFT_SF_DIR`` N times
over into ``out_dir`` (default ``.scale_smoke/xN`` in the repo). Any tool
then runs on it unchanged, through ``--sf`` or ``SPARK_GRAFT_SF_DIR``:

    python tools/verify_local.py --sf .scale_smoke/x10 flowlog_enrich
    python tools/profiler.py dedup_minhash_lsh --sf .scale_smoke/x10

The checks below use the same directory.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Copy k of a table is the base table with every key column below shifted
# by k * KEY_OFFSET; no other column changes. Foreign keys shift with the
# keys they reference, so copy k is a disjoint replica of the whole dataset:
# every join matches within a copy and never across copies, and a result
# grouped by a non-key column is exactly N times the base result. The int32
# nation and region keys cannot hold k * 10**10; they shift by
# k * NARROW_KEY_OFFSET instead. Residues mod 10 of every key are kept
# (queries that split on ``doc_id % 5`` split each copy alike).
KEY_OFFSET = 10**10
NARROW_KEY_OFFSET = 10**3
TABLE_KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    # exact text copies: each base document gains n - 1 exact duplicates
    "documents": ["doc_id"],
    # exact vector copies: each cell of any quantizer holds n times its rows
    "embeddings": ["vec_id"],
    # ts is copied as stored: the same parquet timestamp type, so
    # registry.load and DuckDB read it as they read the base table
    "events": ["event_id", "user_id"],
}


def multiply_tables(sf_dir: str, n: int, out_dir: str) -> str:
    """Write each table of ``sf_dir`` ``n`` times over into
    ``out_dir/<table>.parquet``, one row group per copy, with the base
    file's exact schema. Returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, keys in TABLE_KEYS.items():
        base = pq.read_table(f"{sf_dir}/{name}.parquet")
        with pq.ParquetWriter(f"{out_dir}/{name}.parquet", base.schema) as w:
            for k in range(n):
                t = base
                for col in keys:
                    i = t.schema.get_field_index(col)
                    typ = t.schema.field(i).type
                    off = k * (NARROW_KEY_OFFSET if typ == pa.int32() else KEY_OFFSET)
                    t = t.set_column(i, col, pc.add_checked(t[col], pa.scalar(off, typ)))
                w.write_table(t)
    return out_dir


# Each check below takes (spark, base_dir, big_dir, n) and returns its
# figures with "ok"; a closed form relates the xN run to the base run.


def linear_scaling(spark, base_dir, big_dir, n):
    """A grouped count over lineitem is exactly n times the base count."""
    from aws_vpc_flow_log_appender_spark.operators.registry import load

    def counts(sf):
        rows = load(spark, sf, "lineitem").groupBy("l_returnflag").count().collect()
        return {r["l_returnflag"]: r["count"] for r in rows}

    base, big = counts(base_dir), counts(big_dir)
    return {"ok": big == {k: v * n for k, v in base.items()},
            "lineitem_rows": sum(big.values()), "base_rows": sum(base.values())}


def fact_fact_join_shuffles(spark, base_dir, big_dir, n):
    """lineitem x orders joins to exactly n times the base rows, and at
    each scale whose orders estimate is past the broadcast threshold AQE
    runs the join as a shuffle join, not a broadcast. Every orders column
    feeds the aggregate, so the build side is the whole table: with only
    the key, AQE may rightly broadcast a pruned column at any scale."""
    from pyspark.sql import functions as F

    from aws_vpc_flow_log_appender_spark.operators.registry import load
    from aws_vpc_flow_log_appender_spark.plan_gates import plan_bytes

    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()

    def run(sf):
        li, orders = load(spark, sf, "lineitem"), load(spark, sf, "orders")
        agg = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy("l_returnflag").agg(
            F.count("*").alias("n"), F.sum(F.hash(*orders.columns)).alias("h"))
        rows = sum(r["n"] for r in agg.collect())
        plan = agg._jdf.queryExecution().executedPlan().toString()
        return {"rows": rows, "orders_bytes": plan_bytes(orders),
                "strategy": "broadcast" if "BroadcastHashJoin" in plan else "shuffle"}

    base, big = run(base_dir), run(big_dir)
    ok = big["rows"] == n * base["rows"] and not any(
        s["strategy"] == "broadcast" and (s["orders_bytes"] or 0) > threshold for s in (base, big)
    )
    return {"ok": ok, "base": base, "big": big, "broadcast_threshold": threshold}


def distributed_cc_matches_union_find(spark, base_dir, big_dir, n):
    """Connected components over the xN LSH candidate graph, forced onto
    the distributed pointer-jumping loop, equals the union-find labelling
    of the base graph lifted to the copies, and converges in O(log d)
    rounds. A copy shares every band with its original, so each xN
    component is a base component with all its copies (or one unpaired
    document with its copies), labelled by its copy-0 minimum id."""
    import math

    from pyspark.sql import functions as F

    from aws_vpc_flow_log_appender_spark.ext.dedup import dedup_minhash_lsh
    from aws_vpc_flow_log_appender_spark.ext.graph import connected_components

    uf = connected_components(dedup_minhash_lsh(spark, base_dir), small_edge_cap=1 << 62)
    stats: dict = {}
    cc = connected_components(
        dedup_minhash_lsh(spark, big_dir), small_edge_cap=0, stats=stats
    ).localCheckpoint()
    base = (cc.doc_id % KEY_OFFSET).alias("base_id")
    want = F.coalesce("uf_label", "base_id")
    lifted = cc.select("doc_id", "cluster_id", base).join(
        F.broadcast(uf.select(F.col("doc_id").alias("base_id"), F.col("cluster_id").alias("uf_label"))),
        "base_id", "left",
    )
    r = lifted.agg(
        F.count("*").alias("nodes"),
        F.count_distinct("base_id").alias("base_nodes"),
        F.sum((F.col("cluster_id") != want).cast("int")).alias("disagree"),
    ).collect()[0]
    largest = cc.groupBy("cluster_id").count().agg(F.max("count")).collect()[0][0]
    # each round does a neighbour-min step and a pointer jump, so the
    # label of any node reaches its component minimum in O(log d) rounds;
    # d < the largest component's size
    bound = 2 * math.ceil(math.log2(max(largest, 2))) + 2
    return {"ok": stats["path"] == "distributed_pointer_jumping" and r["disagree"] == 0
            and r["nodes"] == n * r["base_nodes"] and stats["rounds"] <= bound,
            "path": stats["path"], "rounds": stats["rounds"], "round_bound": bound,
            "sym_edges": stats["sym_edges"], "nodes": r["nodes"],
            "largest_component": largest, "disagreements": r["disagree"]}


def kmeans_closed_form(spark, base_dir, big_dir, n):
    """k-means over n exact copies of every vector trains the base
    codebook: the seeds (the smallest ids) are copy-0 rows and no copy
    moves a cell mean, so each cell's count and integer-scaled inertia are
    exactly n times the base and its centroid norm is bit-identical."""
    from aws_vpc_flow_log_appender_spark.ext.similarity import KM_SCALE, sim_kmeans_cells

    def cells(sf):
        return {r["cluster_id"]: r for r in sim_kmeans_cells(spark, sf).collect()}

    base, big = cells(base_dir), cells(big_dir)
    ok = set(big) == set(base) and all(
        big[c]["n_vecs"] == n * b["n_vecs"]
        and round(big[c]["inertia"] * KM_SCALE) == n * round(b["inertia"] * KM_SCALE)
        and big[c]["centroid_norm"] == b["centroid_norm"]
        for c, b in base.items()
    )
    return {"ok": ok, "cells": len(big), "vectors": sum(r["n_vecs"] for r in big.values())}


CHECKS = [linear_scaling, fact_fact_join_shuffles, distributed_cc_matches_union_find,
          kmeans_closed_form]


def main(argv: list[str]) -> int:
    import json
    import time

    from aws_vpc_flow_log_appender_spark.session import get_spark
    from bench import SF_DIR

    n = int(argv[1]) if len(argv) > 1 else 10
    out_dir = argv[2] if len(argv) > 2 else os.path.join(ROOT, ".scale_smoke", f"x{n}")
    json_out = argv[3] if len(argv) > 3 else None
    t0 = time.perf_counter()
    multiply_tables(SF_DIR, n, out_dir)
    artifact: dict = {"mult": n, "sf_dir": SF_DIR,
                      "t_multiply_s": round(time.perf_counter() - t0, 2)}
    spark = get_spark("scale_smoke")
    ok = True
    for check in CHECKS:
        t0 = time.perf_counter()
        res = check(spark, SF_DIR, out_dir, n)
        res["t_s"] = round(time.perf_counter() - t0, 2)
        artifact[check.__name__] = res
        ok = ok and res["ok"]
        print(f"scale_smoke x{n} {check.__name__}: {'OK' if res['ok'] else 'FAIL'} {json.dumps(res)}")
    artifact["ok"] = ok
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(artifact, fh, indent=2)
    print(f"scale_smoke x{n}: {'ALL OK' if ok else 'FAILURES'}")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
