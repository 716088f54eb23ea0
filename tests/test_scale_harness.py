"""tools/scale_smoke.multiply_tables: the xN tables keep their row counts,
keys, types and query results in the closed form the multiplier documents.
Checked at x2 on the test SF."""

import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from scale_smoke import TABLE_KEYS, multiply_tables  # noqa: E402

# the primary key of every table that has one in the fixture
PRIMARY_KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "supplier": "s_suppkey",
    "customer": "c_custkey", "part": "p_partkey", "orders": "o_orderkey",
    "documents": "doc_id", "embeddings": "vec_id", "events": "event_id",
}


@pytest.fixture(scope="module")
def doubled(sf_dir, tmp_path_factory):
    return multiply_tables(sf_dir, 2, str(tmp_path_factory.mktemp("x2")))


def _scalar(sql):
    return duckdb.sql(sql).fetchone()[0]


@pytest.mark.parametrize("name", sorted(TABLE_KEYS))
def test_rows_double_and_keys_stay_distinct(sf_dir, doubled, name):
    base, big = f"'{sf_dir}/{name}.parquet'", f"'{doubled}/{name}.parquet'"
    assert _scalar(f"SELECT count(*) FROM {big}") == 2 * _scalar(f"SELECT count(*) FROM {base}")
    # no key value of one copy reappears in the other
    for col in TABLE_KEYS[name]:
        assert _scalar(f"SELECT count(DISTINCT {col}) FROM {big}") == 2 * _scalar(
            f"SELECT count(DISTINCT {col}) FROM {base}")
    if name in PRIMARY_KEYS:
        pk = PRIMARY_KEYS[name]
        assert _scalar(f"SELECT count(DISTINCT {pk}) = count(*) FROM {big}")


@pytest.mark.parametrize("name", sorted(TABLE_KEYS))
def test_types_read_back_unchanged(spark, sf_dir, doubled, name):
    """Same parquet schema, same DuckDB types, same Spark types through
    registry.load — events.ts included, which must not drift to NTZ or to
    a tz-aware type (tests/test_ntz_drift.py)."""
    from aws_vpc_flow_log_appender_spark.operators.registry import load

    base, big = f"{sf_dir}/{name}.parquet", f"{doubled}/{name}.parquet"
    assert pq.read_schema(big) == pq.read_schema(base)
    assert duckdb.sql(f"DESCRIBE SELECT * FROM '{big}'").fetchall() == duckdb.sql(
        f"DESCRIBE SELECT * FROM '{base}'").fetchall()
    assert load(spark, doubled, name).dtypes == load(spark, sf_dir, name).dtypes
    if name == "events":
        assert dict(load(spark, doubled, name).dtypes)["ts"] == "timestamp"


@pytest.mark.parametrize("name", ["flowlog_enrich", "join_q3_shipping_priority"])
def test_queries_match_oracle_on_doubled_tables(spark, doubled, name):
    from verify_local import compare, duck_connect

    import __spark_entry__ as entry

    got = entry.queries()[name](spark, doubled).toPandas()
    con = duck_connect(doubled)
    want = con.sql(entry.oracle_sql()[name]).df()
    assert len(got) > 0
    assert [p for p in compare(name, got, want) if not p.startswith("DTYPE")] == []
