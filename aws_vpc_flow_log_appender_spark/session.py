"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); the configs below are chosen so
the same logical plans scale to a multi-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), UTC session timezone so results
are engine-independent, Arrow for the few Pandas-UDF code paths.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict
from typing import Any

from pyspark.sql import SparkSession


def get_spark(app_name: str = "aws_vpc_flow_log_appender_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    ``shuffle_partitions`` defaults to ``SPARK_GRAFT_CPUS`` (or 32): on a real
    cluster this would be ~2-3x total cores; AQE coalesces small post-shuffle
    partitions either way, so the number only needs an upper bound.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    spark = builder.getOrCreate()
    # getOrCreate silently returns ANY pre-existing session with every
    # builder config ignored — including the UTC timezone the oracle
    # comparison requires. Re-apply the runtime-settable subset so a
    # session created elsewhere first still meets the engine's contract
    # (code-review r6); static confs (master, memory) genuinely cannot
    # change post-start and stay as the first creator set them.
    configure_existing(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure_existing(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to a session we did not build.

    The driver passes its own SparkSession to ``queries()`` callables; only
    runtime-mutable confs can be set there (timezone matters for oracle
    comparison against DuckDB's UTC-naive timestamps).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark


class SessionLRU:
    """A bounded LRU memo keyed by a live object's identity — a
    SparkSession or its SparkContext.

    Three guards:
     - BOUND: at most ``maxsize`` entries, oldest evicted first. Cached
       DataFrames hold a strong reference back to their session, so a
       weak-keyed dict never evicts; growth in session-cycling processes is
       O(1) by construction instead.
     - LIVENESS: keys are ``id(obj)`` with a weakref probe, so an id that
       CPython reuses after ``obj`` is collected never serves the dead
       object's value (a DataFrame bound to a stopped context).
     - LOCK: Spark drivers are commonly multi-threaded; each call's
       sweep/lookup/evict sequence is atomic.
    Cache state never affects results, only plan reuse."""

    def __init__(self, maxsize: int) -> None:
        self.maxsize = maxsize
        self._entries: OrderedDict[int, tuple[weakref.ref, Any]] = OrderedDict()
        self._lock = threading.Lock()

    def _sweep(self) -> None:
        dead = [k for k, (ref, _) in self._entries.items() if ref() is None]
        for k in dead:
            del self._entries[k]

    def __len__(self) -> int:
        """The number of entries whose key is still alive."""
        with self._lock:
            self._sweep()
            return len(self._entries)

    def get(self, obj: Any) -> Any:
        """The value cached for ``obj`` (now the most recent), or None."""
        with self._lock:
            return self._lookup(obj)

    def setdefault(self, obj: Any, value: Any) -> Any:
        """The value cached for ``obj``; if there is none, cache ``value`` as
        the most recent entry (evicting the oldest past ``maxsize``) and
        return it. Two racing callers therefore share one value."""
        with self._lock:
            cached = self._lookup(obj)
            if cached is not None:
                return cached
            self._entries[id(obj)] = (weakref.ref(obj), value)
            while len(self._entries) > self.maxsize:
                self._entries.popitem(last=False)
            return value

    def _lookup(self, obj: Any) -> Any:
        self._sweep()
        ent = self._entries.get(id(obj))
        if ent is None or ent[0]() is not obj:
            return None
        self._entries.move_to_end(id(obj))
        return ent[1]

    def clear(self) -> None:
        with self._lock:
            self._entries.clear()
