"""ext/similarity._lloyd_train: the one driver-folded Lloyd trainer.

It runs one seed job plus one merged job per round, whichever codebooks it
trains, and both sides of its interpreted-mode size gate reproduce the same
codebooks. The codebook values themselves stay under the DuckDB oracle
through the trainer's consumer queries (tests/test_plan_gates.py and the
full sweep)."""

from __future__ import annotations

import pytest

from aws_vpc_flow_log_appender_spark import plan_gates
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
    if km:
        # sorted by cid; a cell that loses every member drops out
        cids = [cid for cid, _, _ in cb]
        assert cids and cids == sorted(set(cids)) and set(cids) <= set(range(sim.KM_K))
    if pq:
        assert {m for m, _ in pcb} == set(range(sim.PQ_M))


def test_trainer_interp_gate_paths_agree(spark, sf_dir, monkeypatch):
    """The size-gated interpreted trainer mode (codegen.wholeStage off +
    factoryMode NO_CODEGEN below plan_gates.TRAINER_INTERP_BYTES) must
    reproduce the codegen side's codebooks, and the trainer must restore
    every conf it touches on exit. Only each centroid's scaled-integer
    element SQL is compared: that is what downstream statements embed."""
    e = load(spark, sf_dir, "embeddings")
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

    def train(tag):
        cb, pcb = sim._lloyd_train(e, tag, sim._km_vecs_body())
        return ([(cid, sql) for cid, sql, _ in cb],
                {key: sql for key, (sql, _) in pcb.items()})

    # interpreted side (test SF is far below the gate)
    assert not plan_gates.is_large(e, total=plan_gates.TRAINER_INTERP_BYTES)
    interp = train("t_interp")
    monkeypatch.setattr(plan_gates, "is_large", lambda source, **threshold: True)
    assert train("t_codegen") == interp
    after = {k: conf.get(k, None) for k in before}
    assert after == before
