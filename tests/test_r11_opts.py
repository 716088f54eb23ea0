"""Focused tests for the r11 optimization changes: the in-row vs
explode+distinct shingle paths and the interpreted vs codegen trainer must
produce IDENTICAL results on both sides of their size gates, and the merged
dual-Lloyd trainer must reproduce the thread-pooled trainers' codebooks
exactly.

The gates key on Catalyst's source-size estimate, so at the test SF the
small side runs by default; each test forces the large side through
``plan_gates.is_large`` and compares collected rows. tests/test_plan_gates.py
checks both sides of every gate against the DuckDB oracle.
"""

from __future__ import annotations

import pytest

from aws_vpc_flow_log_appender_spark import plan_gates
from aws_vpc_flow_log_appender_spark.ext import textanalysis as ta
from aws_vpc_flow_log_appender_spark.ext import similarity as sim
from aws_vpc_flow_log_appender_spark.operators.registry import load


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _force_large(monkeypatch):
    monkeypatch.setattr(plan_gates, "is_large", lambda source, **threshold: True)


def test_doc_shingles_paths_agree(spark, sf_dir, monkeypatch):
    docs = load(spark, sf_dir, "documents")
    assert not plan_gates.is_large(docs, per_task=plan_gates.INROW_DEDUP_BYTES_PER_TASK)
    small = _rows(ta._doc_shingles(docs, 8, ["doc_id", "source"]))
    # key-less form (the benchmark side): global distinct on both paths
    small0 = _rows(ta._doc_shingles(docs, 8, []))
    _force_large(monkeypatch)
    assert _rows(ta._doc_shingles(docs, 8, ["doc_id", "source"])) == small
    assert _rows(ta._doc_shingles(docs, 8, [])) == small0


def test_dual_literal_train_matches_single_trainers(spark, sf_dir):
    """The merged one-job-per-round dual trainer must reproduce the exact
    codebooks of the independent KM / PQ literal trainers (same seeds, same
    scaled-integer cell sums, same literal SQL)."""
    e = load(spark, sf_dir, "embeddings")
    vck = sim._vecs_ck(e, "t11_dual")
    cb, pcb = sim._dual_literal_train(vck, "t11_dual")
    cb_ref = sim._km_lloyd_literal(vck, "t11_km", sim._VECS_CK_BODY)
    pcb_ref = sim._pq_lloyd_literal(vck, "t11_pq", sim._PQ_CK_BODY)
    assert cb == cb_ref
    assert pcb == pcb_ref


def test_graph_bounded_collects_raise_on_overflow(spark, sf_dir, monkeypatch):
    """The limit(bound+1) guards must fire as errors, not driver OOMs."""
    from aws_vpc_flow_log_appender_spark.operators import graphs as g

    monkeypatch.setattr(g, "_EDGE_BOUND", 0)  # any edge now overflows
    with pytest.raises(RuntimeError, match="circulant bound"):
        g.graph_pagerank(spark, sf_dir)
    with pytest.raises(RuntimeError, match="circulant bound"):
        g.graph_shortest_paths(spark, sf_dir)


def test_trainer_interp_gate_paths_agree(spark, sf_dir, monkeypatch):
    """The size-gated interpreted trainer mode (codegen.wholeStage off +
    factoryMode NO_CODEGEN below plan_gates.TRAINER_INTERP_BYTES) must
    reproduce the codegen side's codebooks, and _trainer_conf must restore
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
    # interpreted side (test SF is far below the gate)
    assert not plan_gates.is_large(e, total=plan_gates.TRAINER_INTERP_BYTES)
    cb_interp = sim._km_lloyd_literal(e, "t11_interp")
    _force_large(monkeypatch)
    cb_codegen = sim._km_lloyd_literal(e, "t11_codegen")
    assert [(cid, sql) for cid, sql, _ in cb_interp] == \
        [(cid, sql) for cid, sql, _ in cb_codegen]
    after = {k: conf.get(k, None) for k in before}
    assert after == before
