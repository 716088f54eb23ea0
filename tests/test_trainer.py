"""ext/similarity._lloyd_train: the one driver-folded Lloyd trainer.

It runs one seed job plus one merged job per round, whichever codebooks it
trains, and returns codebooks of values only. The codebook reaches every
statement as a bound parameter, so a training over new data compiles no new
classes, and the trainer restores every conf it touches. The codebook
values themselves stay under the DuckDB oracle through the trainer's
consumer queries (tests/test_plan_gates.py and the full sweep)."""

from __future__ import annotations

import os

import pytest

from aws_vpc_flow_log_appender_spark.ext import similarity as sim
from aws_vpc_flow_log_appender_spark.operators.registry import load


def _jobs_of(spark, group, fn):
    """Run ``fn`` under job group ``group``; return (result, its job count)."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "km,pq,want",
    [
        (True, False, 1 + sim.KM_ITERS),
        (False, True, 1 + sim.PQ_ITERS),
        (True, True, 1 + max(sim.KM_ITERS, sim.PQ_ITERS)),
    ],
    ids=["km", "pq", "both"],
)
def test_trainer_job_count(spark, sf_dir, km, pq, want):
    """One seed job, then one UNION ALL job per round over the trained
    sides; an untrained side comes back as None."""
    e = load(spark, sf_dir, "embeddings")
    group = f"test_trainer:{km}:{pq}"
    (cb, pcb), n = _jobs_of(
        spark, group,
        lambda: sim._lloyd_train(e, "t_jobs", sim._km_vecs_body(), km=km, pq=pq),
    )
    assert n == want
    assert (cb is not None) == km and (pcb is not None) == pq
    # per codebook: (cid, values) cells sorted by cid; a cell that loses
    # every member drops out
    books = [(cb, sim.KM_K, sim.EMB_DIM)] if km else []
    if pq:
        assert len(pcb) == sim.PQ_M
        books += [(cells, sim.PQ_K, sim.PQ_SUB) for cells in pcb]
    for cells, k, dim in books:
        cids = [cid for cid, _ in cells]
        assert cids and cids == sorted(set(cids)) and set(cids) <= set(range(k))
        assert all(len(c) == dim and all(isinstance(x, float) for x in c)
                   for _, c in cells)


def test_trainer_compiles_once(spark, sf_dir, tmp_path):
    """A second training over different data (a parquet subset of the
    embeddings: same schema, different codebooks) compiles no new classes:
    the round statements bind the codebook as data, so their text, and the
    generated code codegen caches for it, never changes. The trainer also
    restores every conf it touches."""
    e = load(spark, sf_dir, "embeddings")
    e.filter("vec_id % 3 <> 0").write.parquet(
        os.path.join(str(tmp_path), "embeddings.parquet")
    )
    subset = load(spark, str(tmp_path), "embeddings")
    conf = spark.conf
    before = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
            "spark.sql.codegen.wholeStage",
            "spark.sql.codegen.factoryMode",
        )
    }
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    first = sim._lloyd_train(e, "t_once", sim._km_vecs_body())
    n0 = compiles.METRIC_COMPILATION_TIME().getCount()
    second = sim._lloyd_train(subset, "t_once", sim._km_vecs_body())
    assert compiles.METRIC_COMPILATION_TIME().getCount() - n0 == 0
    assert first[0] != second[0] and first[1] != second[1]
    assert {k: conf.get(k, None) for k in before} == before
