"""Arbitrary stateful processing via transformWithStateInPandas (Spark 4's
StatefulProcessor API — the successor to applyInPandasWithState with typed
per-key state variables, optional TTL, and timers).

Operator: per-key CUSUM drift detection over a byte stream — the classic
sequential change-point statistic (S+ accumulates positive deviations from
the running mean, S- negative ones; either crossing a threshold flags a
level shift). CUSUM is inherently ORDER-dependent and cross-batch — a
windowed aggregate cannot express it, which is exactly the niche the
stateful-processor API exists for.

Determinism discipline (same as the rest of the engine): all state is
scaled-integer (milli-units, floor division), and rows are processed in an
explicit seq order — so the emitted statistics are a pure function of the
input sequence, never of pandas batch boundaries or float accumulation
order. State is one fixed-width tuple per key: the store grows with key
cardinality only, and a production deployment would pass ``ttlDurationMs``
so abandoned keys age out of the RocksDB store (the provider this API
requires).

Capability gate: the StatefulProcessor wire protocol needs the protobuf
package in the Python workers. When it is absent (as in this container),
``cusum_drift_stream`` raises NotImplementedError at plan time — same
guard discipline as the boto3/es-hadoop/PIL gates — while the BATCH twin
``cusum_drift_batch`` (a partition-fold mapInPandas over the identical
kernel) always works and is pytest-verified against a from-scratch Python
reference.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

CUSUM_OUTPUT = (
    "key string, n long, mean_milli long, cusum_pos_milli long, "
    "cusum_neg_milli long, alert int"
)
_CUSUM_STATE = "n long, mean_milli long, cpos_milli long, cneg_milli long"

# slack k (in milli-units) absorbed before deviations accumulate, and the
# alert threshold h — standard CUSUM tuning knobs, fixed for determinism.
CUSUM_K_MILLI = 500
CUSUM_H_MILLI = 100_000

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _cusum_fold(values_milli, state: tuple[int, int, int, int]) -> tuple[int, int, int, int]:
    """The shared recurrence: fold milli-scaled values into (n, mean, S+, S-).
    Pure integer arithmetic — identical on the driver reference, the batch
    twin's executors, and the streaming processor."""
    n, mean_m, cpos, cneg = state
    for v in values_milli:
        v = int(v)
        n += 1
        mean_m += (v - mean_m) // n
        cpos = max(0, cpos + v - mean_m - CUSUM_K_MILLI)
        cneg = max(0, cneg + mean_m - v - CUSUM_K_MILLI)
    return n, mean_m, cpos, cneg


def _state_row(key: str, state: tuple[int, int, int, int]) -> pd.DataFrame:
    n, mean_m, cpos, cneg = state
    return pd.DataFrame(
        {
            "key": [key],
            "n": [n],
            "mean_milli": [mean_m],
            "cusum_pos_milli": [cpos],
            "cusum_neg_milli": [cneg],
            "alert": [1 if (cpos > CUSUM_H_MILLI or cneg > CUSUM_H_MILLI) else 0],
        }
    )


def stateful_processor_available() -> bool:
    """transformWithStateInPandas needs protobuf in the worker Python."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_processor():
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CusumDrift(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("cusum", _CUSUM_STATE)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            state = self._state.get() if self._state.exists() else (0, 0, 0, 0)
            pdf = pd.concat(list(rows), ignore_index=True)
            # explicit sequence order: statistics must be a function of the
            # logical stream, not of Arrow batch arrival order
            pdf = pdf.sort_values("seq", kind="mergesort")
            state = _cusum_fold(pdf["bytes_milli"].astype("int64"), state)
            self._state.update(state)
            yield _state_row(key[0], state)

        def close(self) -> None:
            pass

    return CusumDrift()


def _prepared(flows: DataFrame, key_col: str) -> DataFrame:
    return flows.selectExpr(
        f"{key_col} as key",
        "seq",
        "CAST(bytes * 1000 AS LONG) as bytes_milli",
    )


def cusum_drift_stream(flows: DataFrame, key_col: str = "`interface-id`") -> DataFrame:
    """flows(``seq``-ordered, with ``bytes``) -> per-key CUSUM drift
    statistics, emitted once per key per micro-batch (update mode).

    Requires the RocksDB state store provider on the running session:
    ``spark.conf.set("spark.sql.streaming.stateStore.providerClass",
    ROCKSDB_PROVIDER)`` — transformWithState only supports RocksDB.
    """
    if not stateful_processor_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package in the "
            "Python workers; it is not installed in this environment. Use "
            "cusum_drift_batch (identical kernel) for batch data."
        )
    return _prepared(flows, key_col).groupBy("key").transformWithStateInPandas(
        statefulProcessor=_make_processor(),
        outputStructType=CUSUM_OUTPUT,
        outputMode="Update",
        timeMode="None",
    )


def cusum_drift_batch(flows: DataFrame, key_col: str = "`interface-id`") -> DataFrame:
    """Batch twin: one CUSUM fold per key over the full seq-ordered history,
    emitting the final state per key with the SAME ``_cusum_fold`` kernel
    the streaming processor uses.

    Shape: explicit hash repartition on key + sort within partitions + one
    ``mapInPandas`` pass per partition, walking contiguous key runs.
    Deliberately not ``groupBy().applyInPandas``: the grouped-map form pays
    a pandas-DataFrame + Python call per key (milliseconds each — ruinous
    at real interface cardinality) and lets AQE coalesce the small shuffle
    into a single serial worker. The kernel streams the partition ONE ARROW
    BATCH AT A TIME, carrying (current key, state tuple) across chunk
    boundaries (sortWithinPartitions guarantees key-contiguous seq order
    across chunks) — worker memory is one Arrow batch, never the whole
    partition (code-review r6: the previous pd.concat of all batches made
    memory O(partition size), contradicting this docstring)."""
    prepared = _prepared(flows, key_col)
    n_parts = int(flows.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def fold_partition(batches) -> "pd.DataFrame":
        cur_key = None
        state = (0, 0, 0, 0)
        for b in batches:
            if not len(b):  # keys << partitions leaves empty tasks
                continue
            keys = b["key"].to_numpy()
            vals = b["bytes_milli"].to_numpy()
            frames = []
            start = 0
            for i in range(1, len(b) + 1):
                if i == len(b) or keys[i] != keys[start]:
                    run_key = keys[start]
                    if cur_key is not None and run_key != cur_key:
                        # previous key's history is complete — emit it
                        frames.append(_state_row(str(cur_key), state))
                        state = (0, 0, 0, 0)
                    state = _cusum_fold(vals[start:i], state)
                    cur_key = run_key
                    start = i
            if frames:
                yield pd.concat(frames, ignore_index=True)
        if cur_key is not None:
            yield _state_row(str(cur_key), state)

    return (
        prepared.repartition(n_parts, "key")
        .sortWithinPartitions("key", "seq")
        .mapInPandas(fold_partition, schema=CUSUM_OUTPUT)
    )


def cusum_drift_stream_legacy(
    flows: DataFrame, key_col: str = "`interface-id`"
) -> DataFrame:
    """Streaming CUSUM on the applyInPandasWithState API (Spark 3.4+), which
    needs no protobuf wire protocol — the form that actually RUNS in this
    container, with cross-batch state carry verified in tests.

    Same ``_cusum_fold`` kernel and scaled-integer state as the
    transformWithState form; per micro-batch the key's rows are sorted by
    ``seq`` before folding, so within-batch Arrow chunking cannot reorder
    the recurrence. (Cross-batch order is the stream's arrival order — the
    semantics every stateful streaming fold has.) State is four integers
    per key; pair with GroupStateTimeout / watermark TTL in deployments
    where keys churn."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        st = tuple(state.get) if state.exists else (0, 0, 0, 0)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("seq", kind="mergesort")
        st = _cusum_fold(pdf["bytes_milli"].astype("int64"), st)
        state.update(st)
        yield _state_row(key[0], st)

    return (
        _prepared(flows, key_col)
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=CUSUM_OUTPUT,
            stateStructType=_CUSUM_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
