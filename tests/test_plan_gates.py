"""plan_gates: both sides of every size gate match the DuckDB oracle, and
scoped_conf restores the session conf on every exit path.

At the test SF most gates take their small side by default, so each query
runs once with every gate forced small and once forced large, through the
one seam the gate sites share (``plan_gates.is_large``)."""

from __future__ import annotations

import os
import sys
import types

import pytest

from aws_vpc_flow_log_appender_spark import plan_gates

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

GATED_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_minhash_est_jaccard",
    "dedup_simhash",
    "text_contamination_check",
    "dedup_semantic",
]
# Their gates were deleted (the tf / per-doc checkpoints, the in-row
# shingle gate, the trainer's interpreted mode); the one shape left stays
# under the oracle here, and must consult no gate.
UNGATED_QUERIES = [
    "text_tfidf_top_terms",
    "text_bm25_search",
    "text_cross_doc_repeats",
    "sim_ivfpq_rerank_topk",
    "sim_kmeans_cells",
    "sim_pq_distortion",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    from verify_local import duck_connect

    return duck_connect(sf_dir)


@pytest.mark.parametrize("name", GATED_QUERIES + UNGATED_QUERIES)
@pytest.mark.parametrize("side", ["small", "large"])
def test_gate_side_matches_oracle(spark, sf_dir, duck, monkeypatch, side, name):
    from verify_local import compare

    import __spark_entry__ as entry

    calls = []

    def forced(source, **threshold):
        calls.append(threshold)
        return side == "large"

    monkeypatch.setattr(plan_gates, "is_large", forced)
    got = entry.queries()[name](spark, sf_dir).toPandas()
    assert bool(calls) == (name in GATED_QUERIES), calls
    want = duck.sql(entry.oracle_sql()[name]).df()
    assert [p for p in compare(name, got, want) if not p.startswith("DTYPE")] == []


def test_doc_shingles_paths_agree(spark, sf_dir):
    """The in-row and explode+distinct shingle shapes of
    ext/textanalysis._doc_shingles give identical rows, keyed and key-less."""
    from aws_vpc_flow_log_appender_spark.ext import textanalysis as ta
    from aws_vpc_flow_log_appender_spark.operators.registry import load

    def rows(df):
        return sorted(map(tuple, df.collect()))

    docs = load(spark, sf_dir, "documents")
    # the key-less form is the benchmark side: a global distinct either way
    for cols in (["doc_id", "source"], []):
        assert rows(ta._doc_shingles(docs, 8, cols, inrow=True)) == rows(
            ta._doc_shingles(docs, 8, cols, inrow=False)
        )


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
def test_scoped_conf_restores_on_a_failing_set(fail_at):
    """If one of four sets raises, the settings made before it are undone:
    none of them outlives the block, and a key that was not set before is
    unset again."""
    values = {"a": "1", "b": "2", "c": "3"}
    conf = _FailingConf(values, fail_at)
    with pytest.raises(RuntimeError, match="conf.set failed"):
        with plan_gates.scoped_conf(types.SimpleNamespace(conf=conf),
                                    {"a": "x", "b": "x", "c": "x", "d": "x"}):
            pass
    assert conf.values == values
