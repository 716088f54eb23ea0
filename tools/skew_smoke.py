"""Skew stress (r5, VERDICT_r04 ask #5): inject hot keys at 10x scale and
verify the engine's two skew answers both hold:

 1. INPUT-BYTES skew (one user owning ~10% of a 10M-row event stream) on a
    user-keyed fact-fact sort-merge join -> AQE's skew-join must SPLIT the
    hot partition (executed plan shows ``skew=true`` on the SMJ and
    "skewed" AQEShuffleRead legs) and runtime must stay bounded. Broadcast
    is disabled for the probe because at 100 TB neither side of this join
    fits an executor — the smoke exercises the plan shape the real cluster
    would run.

    Two PRECONDITIONS for OptimizeSkewedJoin, found empirically while
    building this smoke (both are load-bearing at real scale):
     - the hot reduce partition must be fed by MULTIPLE map tasks: the
       split boundaries are map-output blocks, so a single-mapper source
       (this fixture's tiny parquet x broadcast crossJoin synthesis) is
       unsplittable — the smoke repartitions the synthesized fact 32 ways
       first, exactly the multi-task scan any real table gives for free;
     - BOTH join children must be raw sort+shuffle legs: a dimension whose
       aggregation shuffle is reused directly by the join (HashAggregate
       feeding the SMJ without its own exchange) does not match the rule,
       so the smoke materializes the dimension first — the plan a real
       pipeline has anyway once the dim is written/cached.

 2. OUTPUT-AMPLIFICATION skew (one document's text duplicated into 1% of
    the corpus): every copy shares every MinHash band signature, so one
    (band_id, band_sig) bucket holds 1% of the corpus and the pair join
    EMITS C(n_hot, 2) pairs from that bucket alone. AQE cannot help here —
    the hot bucket's INPUT bytes are tiny; the blow-up is in the join
    output, which is the dedup semantics itself (those pairs ARE the
    answer). The smoke therefore verifies the honest contract: the hot
    bucket emits exactly C(n_hot, 2) candidate pairs, the join's per-bucket
    key distribution is what the banding math predicts, and wall-clock
    stays bounded. (SimHash's hot-band RE-BANDING — ext/dedup.py — is the
    in-engine mitigation for hot buckets that are collisions rather than
    true duplicates; true-duplicate mass like this must surface as pairs.)

Also demonstrates that the hot-user AGGREGATION path needs no mitigation at
all: partial (map-side) aggregation absorbs the hot key before the shuffle,
so the skewed and uniform groupBys run in comparable time.

Usage: python tools/skew_smoke.py [multiplier] [json_artifact_out]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HOT_USER = -777  # synthetic hot key, outside the fixture's user_id range


def main() -> int:
    from pyspark.sql import functions as F

    from aws_vpc_flow_log_appender_spark import plan_gates
    from aws_vpc_flow_log_appender_spark.operators.registry import load
    from aws_vpc_flow_log_appender_spark.session import get_spark

    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    json_out = sys.argv[2] if len(sys.argv) > 2 else None
    artifact: dict = {"mult": mult, "sf_dir": SF_DIR}
    spark = get_spark("skew_smoke")
    ok = True

    # ---- 1) hot-user events: ~10% of all rows on one user_id ------------
    events = load(spark, SF_DIR, "events")
    skewed = (
        events.crossJoin(spark.range(mult).select(F.col("id").alias("__copy")))
        .withColumn("event_id", F.col("event_id") * mult + F.col("__copy"))
        .withColumn(
            "user_id",
            # ~10% of rows (hash-uniform) collapse onto HOT_USER; the rest
            # keep per-copy-offset keys so the cold tail stays realistic
            F.when(F.abs(F.hash("event_id")) % 10 == 0, F.lit(HOT_USER))
            .otherwise(F.col("user_id") + F.col("__copy") * F.lit(10 ** 10)),
        )
        .drop("__copy")
        # multi-mapper source: skew split works at map-block granularity,
        # so a 1-partition synthesized table is unsplittable (see module
        # docstring); 32 ways models the multi-task scan of a real table
        .repartition(32)
        .localCheckpoint()
    )
    n_events = skewed.count()
    hot_rows = skewed.filter(F.col("user_id") == HOT_USER).count()
    artifact["events"] = {"rows": n_events, "hot_rows": hot_rows,
                          "hot_frac": hot_rows / n_events}
    print(f"skew_smoke: {n_events:,} events, hot user owns {hot_rows:,} "
          f"({hot_rows / n_events:.1%})")

    # 1a) user-keyed SMJ with AQE skew split. Thresholds are lowered so the
    # local[32] fixture's absolute sizes qualify — the RATIO (hot partition
    # ~10% of bytes vs ~1/200th median) is what's being scale-modeled.
    with plan_gates.scoped_conf(spark, {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }):
        # materialized dimension: gives the join its own shuffle legs (see
        # module docstring — an agg-reused shuffle defeats the skew rule)
        latest = skewed.groupBy("user_id").agg(
            F.max("event_id").alias("latest_event")
        ).localCheckpoint()
        j = (
            skewed.join(latest, "user_id")
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.count(F.when(F.col("event_id") == F.col("latest_event"), 1))
                .alias("n_latest"),
            )
        )
        t0 = time.perf_counter()
        jrows = j.collect()
        t_join = time.perf_counter() - t0
        plan = j._jdf.queryExecution().executedPlan().toString()
        skew_lines = [
            ln.strip() for ln in plan.splitlines()
            if "skew" in ln.lower() and ("true" in ln.lower() or "skewed" in ln.lower())
        ]
        engaged = any("skew=true" in ln for ln in skew_lines) or any(
            "skewed" in ln.lower() for ln in skew_lines
        )
        n_total = sum(r["n"] for r in jrows)
        n_latest = sum(r["n_latest"] for r in jrows)
        if not engaged:
            print("FAIL skew-join: no skew=true / skewed reader in plan")
            ok = False
        if n_total != n_events:
            print(f"FAIL skew-join rows: {n_total} != {n_events}")
            ok = False
        # every user contributes exactly one latest event occurrence per
        # (event_id uniqueness), so n_latest == distinct users
        n_users = skewed.select("user_id").distinct().count()
        if n_latest != n_users:
            print(f"FAIL skew-join latest: {n_latest} != {n_users} users")
            ok = False
        print(
            f"skew_smoke join: {n_total:,} rows through SMJ in {t_join:.1f}s; "
            f"AQE skew handling: {'ENGAGED' if engaged else 'MISSING'}"
        )
        for ln in skew_lines[:4]:
            print(f"    plan: {ln[:160]}")
        artifact["hot_user_join"] = {
            "t_s": round(t_join, 2),
            "aqe_skew_engaged": engaged,
            "plan_fragments": skew_lines[:8],
            "rows": n_total,
            "users": n_users,
        }

        # 1b) hot-user aggregation: partial agg absorbs the hot key — the
        # skewed groupBy must stay within ~2x of the uniform one
        uniform = (
            events.crossJoin(
                spark.range(mult).select(F.col("id").alias("__copy"))
            )
            .withColumn("user_id", F.col("user_id") + F.col("__copy") * F.lit(10 ** 10))
            .drop("__copy")
            .repartition(32)  # same physical shape as the skewed twin
            .localCheckpoint()
        )
        uniform.count()

        def agg_time(df) -> float:
            t0 = time.perf_counter()
            df.groupBy("user_id").agg(
                F.count("*").alias("n"), F.sum("value").alias("v")
            ).agg(F.max("n")).collect()
            return time.perf_counter() - t0

        t_skewed = agg_time(skewed)
        t_uniform = agg_time(uniform)
        ratio = t_skewed / max(t_uniform, 1e-9)
        agg_plan = (
            skewed.groupBy("user_id").agg(F.count("*").alias("n"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        # discriminating check: only the partial_* aggregate mode proves
        # map-side combine — a bare "HashAggregate" substring also matches
        # the final stage and can never be false (code-review r5 finding)
        has_partial = "partial_count" in agg_plan
        if not has_partial:
            print("FAIL hot-key agg: no partial (map-side) aggregate in plan")
            ok = False
        if ratio > 3.0:
            print(f"FAIL hot-key agg: skewed/uniform ratio {ratio:.1f}x")
            ok = False
        print(
            f"skew_smoke agg: skewed {t_skewed:.1f}s vs uniform "
            f"{t_uniform:.1f}s ({ratio:.2f}x); partial agg: {has_partial}"
        )
        artifact["hot_user_agg"] = {
            "t_skewed_s": round(t_skewed, 2),
            "t_uniform_s": round(t_uniform, 2),
            "ratio": round(ratio, 2),
            "partial_agg": has_partial,
        }

    # ---- 2) hot LSH bucket: one text duplicated into 1% of the corpus ---
    import shutil
    import tempfile

    from aws_vpc_flow_log_appender_spark.ext.dedup import (
        _minhash_bands_for,
        dedup_minhash_lsh,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hot_text = docs.orderBy("doc_id").limit(1).collect()[0]["text"]
    mdocs = (
        docs.crossJoin(spark.range(mult).select(F.col("id").alias("__copy")))
        .withColumn("doc_id", F.col("doc_id") + F.col("__copy") * F.lit(10 ** 10))
        .withColumn(
            "text",
            # ~1% of docs (hash-uniform) become EXACT copies of one text;
            # the rest are per-copy perturbed so they stay distinct content
            F.when(F.abs(F.hash("doc_id")) % 100 == 0, F.lit(hot_text))
            .otherwise(
                F.concat(F.col("text"), F.lit(" skewword"),
                         (F.col("doc_id") % F.lit(10 ** 9)).cast("string"))
            ),
        )
        .drop("__copy")
    )
    tmpdir = tempfile.mkdtemp(prefix="skew_docs_")
    try:
        mdocs.write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
        stored = spark.read.parquet(f"{tmpdir}/documents.parquet")
        n_docs = stored.count()
        n_hot = stored.filter(F.col("text") == hot_text).count()
        bands = _minhash_bands_for(stored)
        occ = (
            bands.groupBy("band_id", "band_sig")
            .agg(F.count("*").alias("n"))
            .agg(F.max("n").alias("max_bucket"),
                 F.count("*").alias("n_buckets"))
            .collect()[0]
        )
        t0 = time.perf_counter()
        pairs = dedup_minhash_lsh(spark, tmpdir).localCheckpoint()
        n_pairs = pairs.count()
        t_pairs = time.perf_counter() - t0
        # exact contract: the identical-text cohort must emit C(n_hot, 2)
        # pairs among ITSELF (they share every band); count them directly
        hot_ids = stored.filter(F.col("text") == hot_text).select(
            F.col("doc_id").alias("hid")
        )
        hot_pairs = (
            pairs.join(hot_ids, pairs.doc_a == hot_ids.hid, "left_semi")
            .join(hot_ids, pairs.doc_b == hot_ids.hid, "left_semi")
            .count()
        )
        expect_hot = math.comb(n_hot, 2)
        if hot_pairs != expect_hot:
            print(f"FAIL lsh hot pairs: {hot_pairs} != C({n_hot},2)={expect_hot}")
            ok = False
        if occ["max_bucket"] < n_hot:
            print(f"FAIL lsh occupancy: hottest bucket {occ['max_bucket']} "
                  f"< hot cohort {n_hot}")
            ok = False
        print(
            f"skew_smoke lsh: {n_docs:,} docs, hot cohort {n_hot} "
            f"({n_hot / n_docs:.1%}); hottest bucket {occ['max_bucket']} of "
            f"{occ['n_buckets']:,}; {n_pairs:,} pairs in {t_pairs:.1f}s "
            f"(hot cohort emitted {hot_pairs:,} = C({n_hot},2) exactly)"
        )
        artifact["hot_lsh_bucket"] = {
            "n_docs": n_docs,
            "hot_cohort": n_hot,
            "hottest_bucket": occ["max_bucket"],
            "occupied_buckets": occ["n_buckets"],
            "pairs": n_pairs,
            "hot_pairs": hot_pairs,
            "hot_pairs_expected": expect_hot,
            "t_s": round(t_pairs, 2),
        }
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)

    artifact["ok"] = ok
    if json_out:
        import json

        with open(json_out, "w") as fh:
            json.dump(artifact, fh, indent=2)
        print(f"wrote {json_out}")
    print("skew_smoke:", "ALL OK" if ok else "FAILURES")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
