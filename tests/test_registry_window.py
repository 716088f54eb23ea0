"""Driver-window invariants: the correctness gate checks the FIRST 50
registry entries, so rotation mistakes (unregistered names, a rows-only
query burning a hash-checked slot, duplicates) must fail CI, not the round."""

import __spark_entry__ as entry
from aws_vpc_flow_log_appender_spark.operators.registry import PRIORITY_ORDER

WINDOW = 50


def test_priority_names_unique():
    assert len(PRIORITY_ORDER) == len(set(PRIORITY_ORDER))


def test_window_is_fully_oracle_backed():
    """Every window slot must hash-check. Round 5 promoted the last
    rows-only query (multimodal_feature_extract) to a deterministic oracle
    contract, so a rows-only query in the window is now always a mistake."""
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = list(qs)
    assert len(names) >= WINDOW
    for n in names[:WINDOW]:
        assert n in oracles, f"window slot holds rows-only query {n}"


def test_every_registered_query_has_an_oracle():
    """Every registered query is contract-backed: an oracle-less query is
    always a mistake, never a silent omission."""
    oracles = entry.oracle_sql()
    no_oracle = [n for n in entry.queries() if n not in oracles]
    assert not no_oracle, no_oracle


def test_every_priority_name_is_registered():
    qs = entry.queries()
    missing = [n for n in PRIORITY_ORDER if n not in qs]
    assert not missing
