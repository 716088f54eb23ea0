"""Focused tests for the r11 optimization changes: the size-gated paths
(eager-checkpoint gating, in-row vs explode+distinct shingles, the SemDeDup
spread+broadcast join) must produce IDENTICAL results on both branches, and
the merged dual-Lloyd trainer must reproduce the thread-pooled trainers'
codebooks exactly.

The gates key on Catalyst's source-size estimate, so at the test SF the
small branch runs by default; each test forces the large branch by
monkeypatching the threshold (or gate frame) and compares collected rows.
"""

from __future__ import annotations

import pytest

from aws_vpc_flow_log_appender_spark.ext import textanalysis as ta
from aws_vpc_flow_log_appender_spark.ext import similarity as sim
from aws_vpc_flow_log_appender_spark.operators.registry import load


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_doc_shingles_paths_agree(spark, sf_dir, monkeypatch):
    docs = load(spark, sf_dir, "documents")
    small = ta._doc_shingles(docs, 8, ["doc_id", "source"])
    monkeypatch.setattr(ta, "_MIN_CK_BYTES_PER_TASK", 0)
    large = ta._doc_shingles(docs, 8, ["doc_id", "source"])
    assert _rows(small) == _rows(large)
    # key-less form (the benchmark side): global distinct on both paths
    small0 = ta._doc_shingles(docs, 8, [])
    large0 = ta._doc_shingles(docs, 8, [])
    assert _rows(small0) == _rows(large0)


def test_tfidf_and_bm25_gate_paths_agree(spark, sf_dir, monkeypatch):
    base_tfidf = _rows(ta.text_tfidf_top_terms(spark, sf_dir))
    base_bm25 = _rows(ta.text_bm25_search(spark, sf_dir))
    monkeypatch.setattr(ta, "_MIN_CK_BYTES_PER_TASK", 0)
    assert _rows(ta.text_tfidf_top_terms(spark, sf_dir)) == base_tfidf
    assert _rows(ta.text_bm25_search(spark, sf_dir)) == base_bm25


def test_semdedup_broadcast_gate_paths_agree(spark, sf_dir):
    # gate=None keeps the unhinted shuffle join; gate=e (embeddings source,
    # small at test SF) engages spread+broadcast — same decisions either way
    e = load(spark, sf_dir, "embeddings")
    shuffled = sim._semantic_decisions(sim._train_mem(e, "t11_a"))
    spread = sim._semantic_decisions(sim._train_mem(e, "t11_b"), gate=e)
    assert _rows(shuffled) == _rows(spread)


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
    factoryMode NO_CODEGEN below _TRAINER_INTERP_MAX_BYTES) must reproduce
    the codegen branch's codebooks exactly, and _trainer_conf must restore
    every conf it touches on exit."""
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
    # interpreted branch (test SF is far below the gate)
    from aws_vpc_flow_log_appender_spark.ext.dedup import _plan_bytes

    size = _plan_bytes(e)
    assert size is not None and size < sim._TRAINER_INTERP_MAX_BYTES
    cb_interp = sim._km_lloyd_literal(e, "t11_interp")
    # codegen branch (gate forced shut)
    monkeypatch.setattr(sim, "_TRAINER_INTERP_MAX_BYTES", 0)
    cb_codegen = sim._km_lloyd_literal(e, "t11_codegen")
    assert cb_interp == cb_codegen
    after = {k: conf.get(k, None) for k in before}
    assert after == before


class _FailingConf:
    """spark.conf stand-in whose ``fail_at``-th ``set`` raises."""

    def __init__(self, values: dict, fail_at: int):
        self.values, self.fail_at, self.sets = dict(values), fail_at, 0

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.sets += 1
        if self.sets == self.fail_at:
            raise RuntimeError("conf.set failed")
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


@pytest.mark.parametrize("fail_at", [1, 2, 3, 4])
def test_trainer_conf_restores_on_a_failing_set(monkeypatch, fail_at):
    """If one of _trainer_conf's four sets raises, the settings made before
    it are undone: none of them outlives the block, and a key that was not
    set before is unset again."""
    import types

    from aws_vpc_flow_log_appender_spark.ext import dedup

    monkeypatch.setattr(dedup, "_plan_bytes", lambda rel: 0)  # interpreted branch: 4 sets
    values = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.codegen.wholeStage": "true",
    }
    conf = _FailingConf(values, fail_at)
    with pytest.raises(RuntimeError, match="conf.set failed"):
        with sim._trainer_conf(types.SimpleNamespace(conf=conf), rel=object()):
            pass
    assert conf.values == values
