"""Size gates: the one place the engine picks between two plan shapes from
Catalyst's size estimate, plus the scoped conf some of those shapes run under.

Every gate asks the same question — is the SOURCE relation (usually the
corpus scan, whose estimate comes from parquet footers) at or above a
threshold — and answers "large" when the estimate is unavailable (mocked
sessions, JVM API drift), because the large side is the scale-safe shape.
Both sides of every gate produce identical rows; only the plan differs.
Callers read ``plan_gates.is_large`` as a module attribute, so a test can
force every gate to one side with a single monkeypatch.
"""

from __future__ import annotations

from contextlib import contextmanager

# Input spread (ext/dedup._spread_input): below ~8 KiB of source per core
# the hash work a task would receive is cheaper than its share of the
# repartition shuffle (sf0.01 is below; at sf0.1 — 594 KB, ~5k docs —
# spreading was a profiled 36% win for dedup_minhash_lsh).
SPREAD_BYTES_PER_TASK = 8 << 10

# Derived-table fan-out (ext/dedup._fan_out_derived): buys parallelism only
# for the candidate-expansion join downstream of a frozen checkpoint, and
# that expansion is small exactly when the corpus is small. The
# unconditional repartition put dedup_minhash_lsh at 1.36x on the 594 KB
# sf0.1 corpus (AB_r06_session2.json) and was a 15% win on the 10x smoke
# (5.9 MB): crossover ~2 MB total at 32 cores.
FANOUT_BYTES_PER_TASK = 64 << 10

# In-row shingle dedup (ext/textanalysis._doc_shingles): transform +
# array_distinct evaluate outside whole-stage codegen, so they pay only
# where the corpus-wide DISTINCT Exchange they remove is the bigger term.
# Below ~4 MB/task that Exchange is cheap (r11 interleaved A/B vs r9: the
# unconditional in-row form 1.29x slower at bench scale).
INROW_DEDUP_BYTES_PER_TASK = 4 << 20

# SemDeDup decision join (ext/similarity._sem_spread_broadcast): the
# closer-member side is broadcast only while the source is far below what a
# driver can hold; above it the members are corpus-sized and the unhinted
# shuffle join stands.
SEMDEDUP_BROADCAST_BYTES = 16 << 20

# Interpreted trainer statements (ext/similarity._lloyd_train). Every Lloyd
# round embeds a fresh literal codebook, so its generated code never hits
# the codegen cache and each statement pays a full compile (~0.1 s) that
# interpreted execution skips, at ~2 us/row of interpreted overhead; the two
# cross near ~120k vectors. The gate keys on the estimate of the relation
# handed to the trainer, all of its columns (for a parquet scan, the bytes
# on disk), not on the (vec_id, v, vv) rows the rounds derive from it.
TRAINER_INTERP_BYTES = 64 << 20


def plan_bytes(df):
    """Catalyst's size estimate for a plan, or None when the JVM
    introspection is unavailable (mocked sessions, future API drift).
    Estimation only — used to pick a plan shape, never to change results."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return raw if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return None


def is_large(source, *, per_task: int | None = None,
             total: int | None = None) -> bool:
    """True when ``source``'s estimate is at or above the threshold:
    ``per_task`` bytes for each of ``defaultParallelism`` tasks, or
    ``total`` bytes. A missing source or estimate counts as large."""
    size = plan_bytes(source) if source is not None else None
    if size is None:
        return True
    if per_task is not None:
        total = per_task * source.sparkSession.sparkContext.defaultParallelism
    return size >= total


@contextmanager
def scoped_conf(spark, settings: dict):
    """Set ``settings`` on ``spark.conf`` for the block, then restore every
    key on every exit path — a set that raises included. A key that was
    unset before is unset again."""
    conf = spark.conf
    prev = {k: conf.get(k, None) for k in settings}  # None: not set
    try:
        # inside the try: if a set raises, the ones before it are undone too
        for k, v in settings.items():
            conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
