"""Similarity search over the embeddings table (north-star extension).

Three tiers, trading recall for scan cost:
 - brute-force cosine top-k (exact; the correctness baseline)
 - IVF top-k (label = coarse-quantizer cell; scans one cell per query)
 - random-hyperplane LSH top-k (sign-sketch bucketing, explicit-fold exprs)

Dot products fold left-to-right over doubles in both engines, so the oracle
comparison is stable at 1e-6 rounding.
"""

from __future__ import annotations

import json

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import plan_gates
from ..functions import round_half_up
from ..operators.registry import load, query

N_QUERIES = 10  # vec_id < 10 are the query set
TOP_K = 5

# Cells larger than this get sub-bucketed by a random-hyperplane sign sketch
# before the per-cell join: per-label/IVF-cell all-pairs scales as cell², so
# one hot cell (skewed label, coarse quantizer imbalance) otherwise dominates
# the whole job at corpus scale. The default is far above the fixture cell
# sizes (sf0.1 cells are ~1k rows), so the capped path is semantically
# inactive for the oracle comparison and only engages on genuinely hot cells.
CELL_CAP = 32_768
N_SUB_BITS = 4  # 16 sub-buckets per hot cell


SUB_SEED = 7    # hyperplane seed for the hot-cell sub-bucket sketch
EMB_DIM = 64    # fixture embedding dimensionality (shared with _rp_planes)


def with_capped_cell(e, cell_col: str, cell_cap: int = CELL_CAP,
                     n_sub_bits: int = N_SUB_BITS, seed: int = SUB_SEED,
                     dim: int = EMB_DIM):
    """Add a ``sub_bucket`` column: 0 for rows in cells at/below ``cell_cap``
    (capping inactive -- exact per-cell semantics preserved), a seeded
    random-hyperplane sign-sketch bucket for rows in hot cells. Joining on
    (cell, sub_bucket) then bounds candidate counts by ~(cell/2^bits)^2
    instead of cell^2. The cell-size profile is one tiny aggregate broadcast
    back onto the rows.

    The bucket is the DETERMINISTIC explicit-fold expression shared with
    the DuckDB oracles (_rp_bucket_sql), not a numpy-matmul pandas UDF
    (code-review r6, two findings): (a) Spark hoists Python UDFs out of
    CASE WHEN into an ArrowEvalPython node that runs on EVERY row, so the
    old UDF paid a full-corpus Arrow round trip even with capping inactive
    -- the Column expression stays in whole-stage codegen and CASE WHEN
    short-circuits; (b) the UDF's BLAS fold order made sub_buckets
    engine-irreproducible, so the capped path could never be oracle-checked
    -- now the SAME expression text runs on both engines and the capped
    semantics are part of the correctness contract (_capped_sub_cte below,
    exercised with an ACTIVE cap in tests/test_ext.py)."""
    sizes = e.groupBy(cell_col).agg(F.count("*").alias("__cell_n"))
    # dim must match the embedding column's array length: the generated
    # expression indexes __v[0..dim-1] and an out-of-range index raises
    # under ANSI (tests with synthetic low-dim vectors pass dim explicitly)
    bucket = _rp_bucket_sql(
        "__v", one_based=False, dim=dim, n_bits=n_sub_bits, seed=seed
    )
    return (
        e.join(F.broadcast(sizes), cell_col)
        .withColumn("__v", F.col("embedding").cast("array<double>"))
        .withColumn(
            "sub_bucket",
            F.when(F.col("__cell_n") > cell_cap, F.expr(bucket)).otherwise(
                F.lit(0)
            ),
        )
        .drop("__cell_n", "__v")
    )


def _capped_sub_cte(cell_cap: int = CELL_CAP, n_sub_bits: int = N_SUB_BITS,
                    seed: int = SUB_SEED, dim: int = EMB_DIM) -> str:
    """DuckDB CTE fragment assigning the SAME (label, sub_bucket) key as
    with_capped_cell -- counts per label, explicit-fold sign sketch for rows
    in cells above ``cell_cap``, 0 otherwise. Lets every capped-path oracle
    model the cap instead of silently diverging the moment it engages
    (code-review r6: the old oracles joined on label alone, so the scale
    safety valve broke the correctness gate at exactly the scale where it
    activated)."""
    bucket = _rp_bucket_sql(
        "sv.v", one_based=True, dim=dim, n_bits=n_sub_bits, seed=seed
    )
    return f"""
    __counts AS (
      SELECT label, CAST(count(*) AS BIGINT) AS __n
      FROM embeddings GROUP BY label
    ),
    sub AS (
      SELECT sv.vec_id, sv.label, sv.v,
             CASE WHEN sv.__n > {cell_cap} THEN {bucket} ELSE 0 END AS sub_bucket
      FROM (
        SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) AS v, c.__n
        FROM embeddings e JOIN __counts c ON c.label = e.label
      ) sv
    )"""


def _rp_planes(dim: int = 64, n_bits: int = 6, seed: int = 42):
    """The seeded hyperplanes shared by the Spark query and its oracle."""
    import numpy as np

    return np.random.RandomState(seed).randn(dim, n_bits)


def _rp_bucket_sql(array_expr: str, one_based: bool, dim: int = 64,
                   n_bits: int = 6, seed: int = 42) -> str:
    """The 6-bit sign-sketch bucket as an EXPLICIT left-associated sum of
    products — the same SQL text (modulo indexing base) runs on Spark and
    DuckDB, so both engines execute the identical IEEE operation sequence
    and a plane dot product within ulp of zero cannot flip its sign on one
    engine only. This is deliberately NOT list_dot_product/numpy-matmul for
    the oracle-checked query: BLAS blocking and engine-internal fold order
    are host-dependent, and the determinism contract must not hinge on
    them. repr(float) literals round-trip to the same double in both
    parsers."""
    planes = _rp_planes(dim, n_bits, seed)
    base = 1 if one_based else 0
    terms = []
    for b in range(n_bits):
        dot = " + ".join(
            f"{array_expr}[{i + base}] * {float(planes[i, b])!r}"
            for i in range(dim)
        )
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(terms)



_SQL_COS = """
    floor((list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
      / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
         * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))) * 1000000.0 + 0.5) / 1000000.0
"""


def _cos(qcol, ccol):
    """1e-6-rounded cosine between two embedding columns (names or Column
    expressions — generalized in code-review r6 so sim_ivf_multiprobe's
    local re-implementation could be deleted; a rounding-discipline fix
    here now reaches every caller)."""
    q = (F.col(qcol) if isinstance(qcol, str) else qcol).cast("array<double>")
    c = (F.col(ccol) if isinstance(ccol, str) else ccol).cast("array<double>")
    return round_half_up(
        _fold_dot(q, c) / (F.sqrt(_fold_dot(q, q)) * F.sqrt(_fold_dot(c, c))), 6
    )


def _fold_dot(x, y):
    """The shared sequential left-fold dot (the _km_dot_sql operation order)
    as a Column over two array<double> Columns."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def _emb_norm():
    """sqrt(<embedding, embedding>) as a Column — the per-row norm factor of
    _cos's denominator, computed ONCE PER ROW and checkpointed by the
    embedding pair-join queries instead of once per candidate pair
    (optimization r10: 2 of _cos's 3 fold dots per pair were row
    constants)."""
    v = F.col("embedding").cast("array<double>")
    return F.sqrt(_fold_dot(v, v))


def _cos_prenorm(qcol: str, ccol: str, qn: str, cn: str):
    """_cos with the two self-dot factors precomputed per row: dot/(qn*cn)
    on the same 1e-6 grid. Identical IEEE values — qn/cn hold the very
    sqrt(self-dot) doubles _cos recomputed per pair, multiplied in the same
    (q, c) operand order; the cross dot keeps _cos's fold form (an explicit
    64-term spelling was A/B-measured SLOWER at bench scale: the generated
    code balloons past what the JIT compiles happily, and at 2k vectors the
    fixed codegen cost dominates the per-row win — r10, guide §1.1)."""
    q = F.col(qcol).cast("array<double>")
    c = F.col(ccol).cast("array<double>")
    return round_half_up(_fold_dot(q, c) / (F.col(qn) * F.col(cn)), 6)


@query(
    "sim_bruteforce_topk",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COS} AS cos_sim,
             CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY {_SQL_COS} DESC, c.vec_id) AS INTEGER) AS rank
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "ann"),
)
def sim_bruteforce_topk(spark, sf_dir):
    """Exact cosine top-k: broadcast the (small) query set against the corpus,
    per-query window top-k. One corpus scan regardless of query count."""
    e = load(spark, sf_dir, "embeddings")
    # per-row norms (the _cos_prenorm discipline, r10): the corpus-side
    # sqrt(self-dot) previously re-folded once per (query, corpus) pair —
    # N_QUERIES times per corpus row
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _emb_norm().alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _emb_norm().alias("c_nrm"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos_prenorm("q_emb", "c_emb", "q_nrm", "c_nrm").alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


_SQL_COS_V = """
    floor((list_dot_product(q.v, c.v)
      / (sqrt(list_dot_product(q.v, q.v))
         * sqrt(list_dot_product(c.v, c.v)))) * 1000000.0 + 0.5) / 1000000.0
"""


def _ivf_oracle_sql(cell_cap: int = CELL_CAP) -> str:
    """sim_ivf_topk's oracle, parametric in the cell cap so the capped path
    is oracle-checked too — tests/test_ext.py runs it with a cap small
    enough to ENGAGE on the fixture (code-review r6: the old oracle joined
    on label alone, failing its own gate at exactly the scale where the
    safety valve activated)."""
    return f"""
    WITH {_capped_sub_cte(cell_cap)}
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COS_V} AS cos_sim,
             CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY {_SQL_COS_V} DESC, c.vec_id) AS INTEGER) AS rank
      FROM sub q
      JOIN sub c ON c.label = q.label AND c.sub_bucket = q.sub_bucket
                AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rank <= {TOP_K}
    """


@query(
    "sim_ivf_topk",
    oracle=_ivf_oracle_sql(),
    tags=("similarity", "ann", "ivf"),
)
def sim_ivf_topk(spark, sf_dir):
    """IVF-pruned top-k: probe only the query's own cell (label = coarse
    centroid assignment). At 100 TB this turns a full scan into
    corpus/n_cells per query; recall depends on cell quality, which is the
    standard IVF trade. Cells above CELL_CAP are further split by a seeded
    RP sign sketch (with_capped_cell) so one hot cell can't go quadratic —
    and the oracle models the SAME split (_capped_sub_cte), so the capped
    path is hash-checkable, not just the fixture-inactive one."""
    return _ivf_topk(load(spark, sf_dir, "embeddings"))


def _ivf_topk(e, cell_cap: int = CELL_CAP, n_sub_bits: int = N_SUB_BITS):
    # checkpoint the capped frame: BOTH join branches (query set + corpus)
    # derive from it, and without the materialization each branch re-runs
    # the cell-size aggregate and the sub-bucket projection over the corpus
    # (profiled: the checkpoint beats the double build at sf0.1 and removes
    # a second corpus pass at any scale; corpus-row-bounded, the same
    # discipline as the banded dedup tables)
    e = (
        with_capped_cell(e, "label", cell_cap, n_sub_bits)
        # per-row norm on the checkpoint (the _cos_prenorm discipline, r10)
        .withColumn("__nrm", _emb_norm())
        .localCheckpoint(eager=False)
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("sub_bucket").alias("q_sub"),
        F.col("embedding").alias("q_emb"),
        F.col("__nrm").alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        F.col("sub_bucket").alias("c_sub"),
        F.col("embedding").alias("c_emb"),
        F.col("__nrm").alias("c_nrm"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("c_label") == F.col("q_label"))
            & (F.col("c_sub") == F.col("q_sub"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            _cos_prenorm("q_emb", "c_emb", "q_nrm", "c_nrm").alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


N_PROBE = 2  # cells examined per query in the multi-probe variants


@query(
    "sim_ivf_multiprobe",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent0 AS (
      SELECT label, pos, avg(x) AS cx FROM (
        SELECT label, generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings)
      GROUP BY label, pos
    ),
    cent AS (
      SELECT label,
             list(floor(cx * 1000000.0 + 0.5) / 1000000.0 ORDER BY pos) AS centroid
      FROM cent0 GROUP BY label
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
      SELECT query_id, label FROM (
        SELECT q.query_id, c.label,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 floor((list_dot_product(q.qv, c.centroid)
                   / (sqrt(list_dot_product(q.qv, q.qv))
                      * sqrt(list_dot_product(c.centroid, c.centroid)))) * 1000000.0 + 0.5) / 1000000.0 DESC,
                 c.label) AS rn
        FROM q, cent c)
      WHERE rn <= {N_PROBE}
    ),
    scored AS (
      SELECT p.query_id, e.vec_id AS neighbor_id,
             floor((list_dot_product(q.qv, e.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.v, e.v)))) * 1000000.0 + 0.5) / 1000000.0 AS cos_sim
      FROM probes p
      JOIN q ON q.query_id = p.query_id
      JOIN e ON e.label = p.label AND e.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored) WHERE rank <= {TOP_K}
    """,
    tags=("similarity", "ann", "ivf", "multiprobe"),
)
def sim_ivf_multiprobe(spark, sf_dir):
    """Multi-probe IVF top-k: each query scans its N_PROBE nearest cells by
    centroid cosine instead of only its own — the standard recall fix for
    the single-probe IVF trade (a query near a cell boundary has true
    neighbors in the adjacent cell). Cost scales as N_PROBE/n_cells of the
    corpus per query, still never a full scan.

    Engine-portability discipline: centroid components and every cosine are
    rounded to 1e-6 BEFORE ranking, and cell ranking tiebreaks on label —
    Spark and DuckDB accumulate the per-dimension averages in different
    orders, so ranking on raw floats could flip near-tied cells."""
    e = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    cent = (
        e.select("label", F.posexplode(v).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("cx"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
        .select(
            "label",
            F.transform("pc", lambda s: round_half_up(s["cx"], 6)).alias("centroid"),
        )
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        v.alias("qv"),
        # per-row norm (the _cos_prenorm discipline, r10); the K-row
        # centroid-ranking window below keeps the full _cos (bounded at
        # N_QUERIES x KM-cells rows, not a pair join)
        F.sqrt(_fold_dot(v, v)).alias("q_nrm"),
    )
    ranked = q.crossJoin(F.broadcast(cent)).select(
        "query_id",
        "label",
        "qv",
        "q_nrm",
        F.row_number()
        .over(
            W.partitionBy("query_id").orderBy(
                F.desc(_cos(F.col("qv"), F.col("centroid"))), F.asc("label")
            )
        )
        .alias("rn"),
    )
    probes = ranked.filter(F.col("rn") <= N_PROBE).select(
        "query_id", "label", "qv", "q_nrm"
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("c_label"),
        v.alias("cv"),
        F.sqrt(_fold_dot(v, v)).alias("c_nrm"),
    )
    scored = c.join(
        F.broadcast(probes),
        (F.col("c_label") == F.col("label"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        _cos_prenorm("qv", "cv", "q_nrm", "c_nrm").alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _rp_oracle_sql(dim: int = 64, n_bits: int = 6, seed: int = 42) -> str:
    """Exact DuckDB oracle for sim_rp_lsh_topk: the seeded hyperplanes are
    just numbers, so they inline as SQL literals and the full sign-sketch →
    bucket-join → re-rank pipeline becomes SQL-expressible (promoting the
    query from rows-only to hash-checked, VERDICT_r03 "Next round #6").
    The bucket arithmetic is the shared explicit-fold fragment
    (_rp_bucket_sql), so sign decisions are bit-identical with Spark by
    construction, not by fixture luck."""
    bucket = _rp_bucket_sql("v", one_based=True, dim=dim, n_bits=n_bits,
                            seed=seed)
    cos = (
        "floor((list_dot_product(q.qv, c.v)"
        " / (sqrt(list_dot_product(q.qv, q.qv))"
        " * sqrt(list_dot_product(c.v, c.v)))) * 1000000.0 + 0.5) / 1000000.0"
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
      FROM q JOIN b c ON c.bucket = q.bucket AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT query_id, neighbor_id, cos_sim,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM scored) WHERE rank <= {TOP_K}
    """


@query("sim_rp_lsh_topk", oracle=_rp_oracle_sql(), tags=("similarity", "ann", "lsh"))
def sim_rp_lsh_topk(spark, sf_dir):
    """Random-hyperplane (sign) LSH: 6-bit sketch per vector from seeded
    hyperplanes, candidates = same-sketch-bucket, exact cosine re-rank.

    The oracle-checked sketch is an explicit left-associated fold shared
    textually with the DuckDB oracle (_rp_bucket_sql) — NOT the numpy-matmul
    Pandas UDF, whose BLAS summation order is host-dependent and could flip
    a near-zero plane dot product's sign on one engine only (rp_sketch_udf
    remains the throughput path for hot-cell sub-bucketing, where buckets
    are an internal candidate key and never hash-compared). Recall is
    additionally validated against sim_bruteforce_topk in tests/test_ext.py.
    """
    # 2^6 buckets: occupancy ~n/64 keeps candidates non-empty at small SF.
    # The double-cast array binds once to a named column so the generated
    # 384-term expression indexes it instead of re-casting per term.
    bucket = _rp_bucket_sql("__v", one_based=False)
    e = (
        load(spark, sf_dir, "embeddings")
        .withColumn("__v", F.col("embedding").cast("array<double>"))
        .withColumn("bucket", F.expr(bucket))
        # per-row norm (the _cos_prenorm discipline, r10)
        .withColumn("__nrm", F.sqrt(_fold_dot(F.col("__v"), F.col("__v"))))
        .drop("__v")
    )
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("q_bucket"),
        F.col("embedding").alias("q_emb"),
        F.col("__nrm").alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("c_bucket"),
        F.col("embedding").alias("c_emb"),
        F.col("__nrm").alias("c_nrm"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("c_bucket") == F.col("q_bucket"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            _cos_prenorm("q_emb", "c_emb", "q_nrm", "c_nrm").alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


@query(
    "sim_range_search",
    oracle=f"""
    SELECT query_id, neighbor_id, cos_sim FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COS} AS cos_sim
      FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE cos_sim >= 0.2
    """,
    tags=("similarity", "range"),
)
def sim_range_search(spark, sf_dir):
    """Radius (threshold) similarity search: ALL neighbors with cosine >=
    threshold, not a fixed top-k — the retrieval contract dedup gating and
    recall-sensitive RAG filters need (top-k misses qualifying neighbors
    past k; radius search returns exactly the qualifying set). Same
    broadcast-queries shape as sim_bruteforce_topk but with a narrow filter
    instead of a rank window: no shuffle at all after the scan — at 100 TB
    the scan cost dominates and the same IVF cell pruning as sim_ivf_topk
    composes in front unchanged. The threshold compares ROUNDED cosine on
    both engines so the >= cut is boundary-stable."""
    e = load(spark, sf_dir, "embeddings")
    # per-row norms (the _cos_prenorm discipline, r10)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _emb_norm().alias("q_nrm"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _emb_norm().alias("c_nrm"),
    )
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cos_prenorm("q_emb", "c_emb", "q_nrm", "c_nrm").alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.2)
    )


@query(
    "sim_label_centroids",
    oracle="""
    SELECT label, pos,
           floor((avg(x)) * 10000.0 + 0.5) / 10000.0 AS avg_x,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings)
    GROUP BY label, pos
    """,
    tags=("similarity", "vector", "agg"),
)
def sim_label_centroids(spark, sf_dir):
    """Vector aggregation: per-cluster centroids via posexplode + per-dim avg
    (the IVF coarse-quantizer training step). One shuffle keyed by
    (label, dim) — dimension count bounds the fanout, not corpus size."""
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "x"))
        .select(
            "label",
            (F.col("pos0") + 1).cast("long").alias("pos"),  # 1-based, int64 like generate_subscripts
            F.col("x").cast("double").alias("x"),
        )
        .groupBy("label", "pos")
        .agg(
            round_half_up(F.avg("x"), 4).alias("avg_x"),
            F.count("*").alias("n_vectors"),
        )
    )


@query(
    "embed_l2_normalize",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS norm,
             CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
    )
    SELECT vec_id, label,
           floor(norm * 1000000.0 + 0.5) / 1000000.0 AS norm,
           md5(array_to_string(
               list_transform(e, x -> CAST(floor(x / norm * 1000000.0 + 0.5) AS BIGINT)),
               ',')) AS unit_checksum
    FROM v WHERE norm > 0.0
    """,
    tags=("similarity", "embedding"),
)
def embed_l2_normalize(spark, sf_dir):
    """L2 normalization — the prep step that turns cosine ANN into plain
    dot-product ANN (normalize once at ingest, never per query pair). Narrow
    per-row transform, no shuffle. The output serializes the unit vector as
    an md5 over integer-rounded components (engine-portable: no float
    formatting, no array columns in the compared result); the norm fold is
    left-to-right so Spark's aggregate() and DuckDB's list_dot_product are
    bit-identical."""
    e = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = F.sqrt(dot)
    unit_q = F.transform(
        F.col("v"),
        lambda x: F.floor(x / F.col("norm_raw") * 1000000.0 + 0.5).cast("long"),
    )
    return (
        e.select("vec_id", "label", v.alias("v"), norm.alias("norm_raw"))
        .filter(F.col("norm_raw") > 0.0)
        .select(
            "vec_id",
            "label",
            round_half_up(F.col("norm_raw"), 6).alias("norm"),
            F.md5(
                F.encode(F.array_join(unit_q.cast("array<string>"), ","), "utf-8")
            ).alias("unit_checksum"),
        )
    )


@query(
    "embed_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
             list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS amax
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, label, amax,
             list_transform(e, x -> CAST(floor(x * (127.0 / amax) + 0.5) AS BIGINT)) AS qv
      FROM v WHERE amax > 0.0
    )
    SELECT vec_id, label,
           floor((127.0 / amax) * 1000000.0 + 0.5) / 1000000.0 AS scale,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           CAST(list_min(qv) AS BIGINT) AS q_min,
           md5(array_to_string(qv, ',')) AS q_checksum
    FROM q
    """,
    tags=("similarity", "embedding", "quantize"),
)
def embed_quantize_int8(spark, sf_dir):
    """Symmetric int8 quantization (per-vector absmax scaling) — the storage
    scale path for ANN: 4x smaller than float32, distance error bounded by
    1/127 of the dynamic range. Narrow per-row arithmetic, zero shuffle; at
    100 TB the quantized corpus is what the IVF/LSH index stores, with exact
    re-rank reading the float originals for the shortlist only. All compared
    values are integers or integer-rounded, so the cut is engine-exact."""
    e = load(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    qv = F.transform(
        F.col("v"), lambda x: F.floor(x * (127.0 / F.col("amax")) + 0.5).cast("long")
    )
    return (
        e.select("vec_id", "label", v.alias("v"), amax.alias("amax"))
        .filter(F.col("amax") > 0.0)
        .select(
            "vec_id",
            "label",
            round_half_up(127.0 / F.col("amax"), 6).alias("scale"),
            F.aggregate(qv, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
            F.array_max(qv).alias("q_max"),
            F.array_min(qv).alias("q_min"),
            F.md5(
                F.encode(F.array_join(qv.cast("array<string>"), ","), "utf-8")
            ).alias("q_checksum"),
        )
    )


KNN_GRAPH_K = 3


def _knn_graph_oracle_sql(cell_cap: int = CELL_CAP) -> str:
    """sim_knn_graph's oracle, parametric in the cell cap (same active-cap
    test coverage as _ivf_oracle_sql)."""
    return f"""
    WITH {_capped_sub_cte(cell_cap)},
    knn AS (
      SELECT vec_id, nn_id, cos_sim, rank FROM (
        SELECT q.vec_id, c.vec_id AS nn_id,
               {_SQL_COS_V} AS cos_sim,
               CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 {_SQL_COS_V} DESC, c.vec_id) AS INTEGER) AS rank
        FROM sub q JOIN sub c
          ON c.label = q.label AND c.sub_bucket = q.sub_bucket
         AND c.vec_id <> q.vec_id
      ) WHERE rank <= {KNN_GRAPH_K}
    )
    SELECT a.vec_id, a.nn_id, a.cos_sim, a.rank,
           CASE WHEN b.vec_id IS NOT NULL THEN 1 ELSE 0 END AS is_mutual
    FROM knn a LEFT JOIN knn b
      ON b.vec_id = a.nn_id AND b.nn_id = a.vec_id
    """


@query(
    "sim_knn_graph",
    oracle=_knn_graph_oracle_sql(),
    tags=("similarity", "ann", "graph"),
)
def sim_knn_graph(spark, sf_dir):
    """k-NN graph construction (k = 3) with mutuality marking — the backbone
    step of graph-based ANN indexes (NN-descent seeding, HNSW layers) and
    density clustering, where mutual-kNN edges are the high-precision
    subgraph. Candidates come from the IVF cell (label = coarse-quantizer
    cell), with hot cells sub-bucketed via with_capped_cell HERE too
    (code-review r6: edge generation previously had no skew bound of its
    own and the docstring deferred to the nn-dedup twin), so edge
    generation is per-cell and cap-bounded, never global all-pairs — and
    the oracle models the same split. Mutuality is a
    self-join of the kNN edge list on reversed endpoints — edge-list-sized,
    not corpus-sized. The edge list is checkpointed once so the mutuality
    probe does not re-run the per-cell scoring for its second side."""
    return _knn_graph(load(spark, sf_dir, "embeddings"))


def _knn_graph(e, cell_cap: int = CELL_CAP):
    # checkpointed for the same both-sides reason as _ivf_topk; per-row
    # norm on the checkpoint (the _cos_prenorm discipline, r10)
    e = (
        with_capped_cell(e, "label", cell_cap)
        .withColumn("__nrm", _emb_norm())
        .localCheckpoint(eager=False)
    )
    a = e.alias("a")
    b = e.alias("b")
    scored = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.sub_bucket") == F.col("b.sub_bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("nn_id"),
        _cos_prenorm(
            "a.embedding", "b.embedding", "a.__nrm", "b.__nrm"
        ).alias("cos_sim"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("cos_sim"), F.asc("nn_id"))
    knn = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_GRAPH_K)
        .localCheckpoint(eager=False)
    )
    rev = knn.select(
        F.col("vec_id").alias("r_vec"), F.col("nn_id").alias("r_nn")
    )
    return (
        knn.join(
            rev,
            (F.col("r_vec") == F.col("nn_id")) & (F.col("r_nn") == F.col("vec_id")),
            "left",
        )
        .select(
            "vec_id",
            "nn_id",
            "cos_sim",
            "rank",
            F.when(F.col("r_vec").isNotNull(), 1).otherwise(0).alias("is_mutual"),
        )
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination at the embedding level (r5). The reference has no
# semantic layer at all; this is the SemDeDup-shaped guard every training
# corpus needs: nothing semantically identical to the held-out eval set may
# stay in the training split, even when the surface text differs (which is
# why the n-gram text_contamination_check alone is not enough).
# ---------------------------------------------------------------------------

EVAL_LABEL = 0        # the fixture's held-out probe set (50 vecs at sf0.01)
DECON_TAU = 0.35      # cosine threshold, compared on the ROUNDED value


@query(
    "embed_decontaminate",
    oracle=f"""
    WITH p AS (
      SELECT c.vec_id, c.label, {_SQL_COS} AS cos
      FROM embeddings q JOIN embeddings c
        ON q.label = {EVAL_LABEL} AND c.label <> {EVAL_LABEL}
    )
    SELECT vec_id, label,
           CAST(count(*) AS BIGINT) AS n_eval_hits,
           max(cos) AS max_cos
    FROM p WHERE cos >= {DECON_TAU}
    GROUP BY vec_id, label
    """,
    tags=("similarity", "dedup", "contamination"),
)
def embed_decontaminate(spark, sf_dir):
    """Semantic eval-set contamination: corpus vectors whose cosine to ANY
    eval vector reaches DECON_TAU, with hit count and worst similarity —
    the rows a training pipeline drops (or quarantines) before an epoch.

    Scale shape: the eval set is small by definition (an eval suite, not a
    corpus), so it broadcasts and the corpus is scanned ONCE with no
    shuffle before the per-vector aggregate — the same one-pass
    broadcast-probe layout as text_contamination_check, but in embedding
    space. The threshold compares the micro-rounded cosine (both engines
    round identically first), so boundary vectors cannot flip between
    engines on a last-ulp difference.
    """
    e = load(spark, sf_dir, "embeddings")
    # per-row norms (the _cos_prenorm discipline, r10): the corpus-side
    # self-dot previously re-folded once per (corpus row, eval vector) pair
    eval_set = e.filter(F.col("label") == EVAL_LABEL).select(
        F.col("embedding").alias("q_embedding"),
        _emb_norm().alias("q_nrm"),
    )
    corpus = e.filter(F.col("label") != EVAL_LABEL).withColumn(
        "c_nrm", _emb_norm()
    )
    cos = _cos_prenorm("q_embedding", "embedding", "q_nrm", "c_nrm")
    return (
        corpus.crossJoin(F.broadcast(eval_set))
        .withColumn("cos", cos)
        .filter(F.col("cos") >= DECON_TAU)
        .groupBy("vec_id", "label")
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.max("cos").alias("max_cos"),
        )
    )


# --- k-means coarse-quantizer training (Lloyd's, fixed rounds) --------------

KM_K = 8          # trained cells (a bounded constant, like any codebook size)
KM_ITERS = 2      # fixed Lloyd rounds — unrolled verbatim in the oracle
KM_SCALE = 1000000.0  # 1e-6 rounding/scaling grid (the engine-parity grid)


def _km_dot_sql(x: str, y: str) -> str:
    """Sequential left-fold dot product as Spark-SQL text — the same
    operation order DuckDB's list_dot_product uses, so both engines produce
    bit-identical doubles on identical inputs (the _SQL_COS parity rule,
    shared here by the k-means distance)."""
    return (
        f"aggregate(zip_with({x}, {y}, (xx, yy) -> xx * yy), 0.0D, "
        "(acc, ww) -> acc + ww)"
    )


def _km_assign_sql(cent: str, i: int) -> str:
    """One unrolled Lloyd assignment as DuckDB CTEs: squared-L2 distance to
    every centroid, argmin with (distance, cid) lexicographic tie-break —
    the same total order the Spark side's min(struct(d, cid)) induces.
    The per-vector and per-centroid self-dots are factored out of the
    K-way cross product (computed once per row, not once per pair) —
    identically on the Spark side, so d stays bit-identical."""
    return f"""
    sc{i} AS (
      SELECT v.vec_id, v.v, c.cid,
             (v.vv - 2 * list_dot_product(v.v, c.c) + c.cc) AS d
      FROM vecs v CROSS JOIN (
        SELECT cid, c, list_dot_product(c, c) AS cc FROM {cent}
      ) c
    ),
    a{i} AS (
      SELECT vec_id, v, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM sc{i}
      ) WHERE rn = 1
    )"""


def _km_update_sql(i: int) -> str:
    """Centroid update: per-(cid, position) mean, rounded on the 1e-6 grid
    BEFORE re-assembly — the float-boundary rule: engine-internal summation
    order differs at the last ulp, and rounding far above that noise floor
    (mean components are O(1), fixture sums are thousands of terms, double
    error ~1e-13 << 5e-7 grid) makes the next iteration's inputs identical
    on both engines."""
    return f"""
    ce{i} AS (
      SELECT cid, p, floor(avg(v[p]) * {KM_SCALE} + 0.5) / {KM_SCALE} AS m
      FROM a{i}, pos GROUP BY cid, p
    ),
    c{i + 1} AS (SELECT cid, list(m ORDER BY p) AS c FROM ce{i} GROUP BY cid)"""


def _km_oracle_train_parts(src: str = "embeddings",
                           with_prefix: bool = True) -> list[str]:
    """The unrolled DuckDB training prefix through the final assignment
    ``a{KM_ITERS}`` — shared by the sim_kmeans_cells oracle (which reports
    per-cell stats) and the sim_ivf_trained_topk oracle (which searches
    within the trained cells). ``src`` is the (vec_id, embedding) relation
    to train over (a CTE name for composed pipelines);
    ``with_prefix=False`` emits continuation CTEs (leading comma) so the
    chain can follow an existing WITH list."""
    head = "WITH " if with_prefix else ","
    parts = [f"""
    {head}vecs AS (
      SELECT vec_id, v, list_dot_product(v, v) AS vv
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {src})
    ),
    pos AS (SELECT unnest(generate_series(1, {EMB_DIM})) AS p),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             v AS c
      FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT {KM_K})
    )"""]
    for i in range(KM_ITERS):
        parts.append("," + _km_assign_sql(f"c{i}", i))
        parts.append("," + _km_update_sql(i))
    parts.append("," + _km_assign_sql(f"c{KM_ITERS}", KM_ITERS))
    return parts


def _kmeans_oracle_sql() -> str:
    parts = _km_oracle_train_parts()
    fin = KM_ITERS
    parts.append(f"""
    SELECT a.cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(floor(a.d * {KM_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)
             / {KM_SCALE} AS inertia,
           floor(sqrt(list_dot_product(c.c, c.c)) * {KM_SCALE} + 0.5)
             / {KM_SCALE} AS centroid_norm
    FROM a{fin} a JOIN c{fin} c ON a.cid = c.cid
    GROUP BY a.cid, centroid_norm
    """)
    return "".join(parts)


# --- driver-folded Lloyd training (optimization r10) -------------------------
#
# The unrolled-CTE training shape (the DuckDB oracle's, above), run in
# Spark, pays PER Lloyd round a corpus-keyed Exchange for the min(struct)
# argmin groupBy(vec_id) — 8N rows shuffled — plus a second
# Exchange for the centroid update, and its triple-unrolled plan costs
# seconds of driver-side analysis per query. But the codebook itself is a
# BOUNDED CONSTANT (KM_K x EMB_DIM doubles): the classical distributed
# Lloyd (Spark MLlib's own shape) holds it on the driver, runs ONE
# map-side-combined aggregate job per round (K x EMB_DIM avg cells cross
# the network, never the corpus), and hands the next codebook back to the
# plan as data. That removes every corpus-sized training Exchange (guide
# §2.3/§2.4) and shrinks the analyzed plan ~3x (guide §7.3). Driver-held
# state is exactly what a broadcast join already does — 8 rows, not the
# corpus.
#
# The codebook is data, never statement text: each round and each consumer
# statement binds it as ONE JSON string parameter (``:cb`` for the KM
# cells, ``:pcb`` for the PQ cells, one array per subspace) that Catalyst
# folds to a single array literal. Generated code reads that literal by
# reference, so the text of a round — and the classes codegen compiles for
# it — is the same for every codebook, every round and every consumer.
#
# Engine parity is preserved bit-for-bit:
#  - round >= 1 centroid elements are floor(avg*1e6+0.5) BIGINTs collected
#    exactly and divided by 1e6 in Python floats — the same IEEE division
#    the in-plan form evaluated;
#  - every double crosses as its repr(), the shortest string that
#    round-trips, and from_json parses it correctly-rounded back to the
#    identical bits;
#  - centroid self-dots fold in Python floats (binary64, left fold from
#    0.0 — the _km_dot_sql operation order exactly);
#  - the row-wise argmin array_min over (d, cid) structs induces the
#    identical (d, cid) lexicographic total order min(struct(d, cid)) did.

_CELLS_TYPE = "array<struct<cid:int,c:array<double>,cc:double>>"
_KM_CB = f"from_json(:cb, '{_CELLS_TYPE}')"
_PQ_CB = f"from_json(:pcb, 'array<{_CELLS_TYPE}>')[m]"


def _py_dot(a: list[float], b: list[float]) -> float:
    """Python-float twin of _km_dot_sql's sequential left fold (binary64,
    same operation order -> bit-identical result)."""
    acc = 0.0
    for xx, yy in zip(a, b):
        acc = acc + xx * yy
    return acc


def _cb_args(cb=None, pcb=None) -> dict[str, str]:
    """SQL parameters binding the codebooks _lloyd_train returns: ``cb`` is
    [(cid, [element value])] sorted by cid, ``pcb`` one such list per
    subspace; each cell carries its self-dot ``cc``."""
    def cells(cs):
        return [{"cid": cid, "c": c, "cc": _py_dot(c, c)} for cid, c in cs]

    args = {}
    if cb is not None:
        args["cb"] = json.dumps(cells(cb))
    if pcb is not None:
        args["pcb"] = json.dumps([cells(cs) for cs in pcb])
    return args


def _scores_sql(cells: str, v: str, vv: str) -> str:
    """Every codebook cell's ``named_struct('d', ..., 'cid', ...)`` for one
    vector: the same ``(vv - 2.0D * <fold dot> + cc)`` distance the unrolled
    sc{i} CTE computed. array_min over it is the argmin."""
    return (
        f"transform({cells}, x -> named_struct('d', {vv} - 2.0D * "
        f"{_km_dot_sql(v, 'x.c')} + x.cc, 'cid', x.cid))"
    )


_KM_SCORES = _scores_sql(_KM_CB, "v", "vv")
_PQ_SCORES = _scores_sql(_PQ_CB, "sv", "svv")


def _km_vecs_body(where: str | None = None) -> str:
    inner = "SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM {v}"
    if where:
        inner += f" WHERE {where}"
    return (
        f"SELECT vec_id, v, {_km_dot_sql('v', 'v')} AS vv FROM ({inner})"
    )


# vecs body over an ALREADY-MATERIALIZED (vec_id, v, vv) checkpoint — the
# {v} placeholder binds to the checkpoint instead of the raw embeddings view
_VECS_CK_BODY = "SELECT vec_id, v, vv FROM {v}"


def _vecs_ck(e, tag: str):
    """Materialize the projected training relation (vec_id, v, vv) ONCE
    before the Lloyd rounds (the cache-before-iterate discipline of MLlib's
    own KMeans, guide §5). Used ONLY where a trainer plus a multi-read tail
    (_train_mem's mem derivation, the dual KM+PQ chain) would otherwise
    re-scan/re-fold the same relation — interleaved A/B (r10, 3 rounds x 2
    trials/side): the dual/multi-consumer family measured 0.91-0.94x, but
    the SERIAL single-trainer queries measured 1.00-1.14x (the eager
    materialization job costs more than the 3 avoided re-scans of a
    pushed-filter parquet at bench scale), so those call sites keep the
    inline vecs CTE. Identical values: the checkpoint rows are exactly what
    the inline vecs CTE computed.

    LAZY by default since optimization r11 (guide §5, VERDICT r10 "Next
    round" #2): every consumer chain now starts with ONE strictly-sequential
    seed collect (a TakeOrdered over all partitions), which materializes the
    checkpoint as a side effect — a separate eager count() job paid one
    extra driver-job latency for nothing. The r10 race that forced eager
    materialization (two thread-pooled trainer chains hitting an
    unmaterialized cache concurrently) is gone: _lloyd_train runs both
    trainings inside single merged jobs. Failure-domain note
    for real clusters: localCheckpoint pins partitions to executor-local
    storage without lineage replay — an executor loss makes them
    unrecoverable; acceptable here because every consumer job is
    re-runnable from the source parquet."""
    from .dedup import _sql_over

    return _sql_over(e, f"{tag}_vecs", _km_vecs_body()).localCheckpoint(
        eager=False
    )


def _km_parts_spark(vecs_body: str | None = None,
                    with_sc: bool = False) -> list[str]:
    """Spark twin of _km_oracle_train_parts over the ``:cb`` codebook (bind
    it with _cb_args): emits the same-named CTEs the unrolled form exposes
    — ``vecs``, ``c{KM_ITERS}`` (the cells, with their self-dots ``cc``)
    and ``a{KM_ITERS}`` (row-wise argmin, zero Exchanges), plus
    ``sc{KM_ITERS}`` (the full (vector, centroid, d) pair relation, lazily
    exploded) when ``with_sc`` — so every downstream tail keeps its text
    unchanged."""
    if vecs_body is None:
        vecs_body = _km_vecs_body()
    fin = KM_ITERS
    parts = [f"""
    WITH vecs AS ({vecs_body}),
    c{fin} AS (SELECT inline({_KM_CB})),
    a{fin} AS (
      SELECT vec_id, v, vv, best.cid AS cid, best.d AS d
      FROM (SELECT vec_id, v, vv, array_min({_KM_SCORES}) AS best FROM vecs)
    )"""]
    if with_sc:
        parts.append(f"""
    , sc{fin} AS (
      SELECT vec_id, v, vv, x.cid AS cid, x.d AS d
      FROM vecs LATERAL VIEW explode({_KM_SCORES}) t AS x
    )""")
    return parts


@query(
    "sim_kmeans_cells",
    oracle=_kmeans_oracle_sql(),
    tags=("similarity", "kmeans", "iterative"),
)
def sim_kmeans_cells(spark, sf_dir):
    """Distributed Lloyd's k-means (KM_ITERS fixed rounds, KM_K cells) — the
    TRAINED coarse quantizer behind an IVF index, as pure DataFrame ops.
    sim_ivf_topk consumes a precomputed cell label; this operator is how
    such labels are built from raw vectors at corpus scale.

    Per round: ONE corpus pass. Assignment is a broadcast of the K-row
    centroid table (bounded by the codebook constant, never the corpus)
    against the vectors, reduced per vec_id with min(struct(d, cid)) — a
    partial-aggregable argmin with a deterministic (distance, cid)
    tie-break, no window shuffle. The update is 64 avg() aggregates in one
    groupBy(cid) — map-side partial aggregation of K x 64 cells, NO
    posexplode row multiplication. The round count is a FIXED constant
    (unlike the data-dependent CC/pagerank loops), so the unrolled lazy
    plan is bounded and needs no per-round checkpoint.

    Engine parity for an ITERATIVE float algorithm: distances are
    sequential-fold dot products (bit-identical to DuckDB's
    list_dot_product on identical inputs), and each round's centroid means
    are rounded on the 1e-6 grid before reuse, so per-round drift (engine
    summation order, last-ulp) is squashed at every iteration boundary
    instead of compounding. Inertia is summed as exact scaled integers
    (the EWMA/Holt discipline): per-row rounded distance -> bigint ->
    exact sum -> one final double division.

    Empty cells (a centroid losing every member) simply drop out of the
    next round's codebook on BOTH engines — the standard Lloyd behavior,
    not an error.

    The whole unrolled plan is ONE Spark-SQL string parsed JVM-side: the
    update step is a 64-wide rounded-avg array per round, and composing
    that through the Column API costs hundreds of py4j round trips per
    round (the dedup_simhash lesson, ext/dedup.py:540 — measured there at
    ~6x construction cost; here the Column form took minutes, the SQL form
    milliseconds)."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    cb, _ = _lloyd_train(e, "kmeans", _km_vecs_body(), pq=False)
    parts = _km_parts_spark()
    fin = KM_ITERS
    parts.append(f"""
    SELECT a.cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(floor(a.d * {KM_SCALE}D + 0.5D) AS BIGINT)) AS DOUBLE)
             / {KM_SCALE}D AS inertia,
           cn.centroid_norm
    FROM a{fin} a JOIN (
      SELECT cid, floor(sqrt(cc) * {KM_SCALE}D + 0.5D) / {KM_SCALE}D
               AS centroid_norm
      FROM c{fin}
    ) cn ON a.cid = cn.cid
    GROUP BY a.cid, cn.centroid_norm
    """)
    return _sql_over(e, "kmeans", "".join(parts), _cb_args(cb))


def _ivf_trained_oracle_sql() -> str:
    """sim_ivf_trained_topk's oracle: the shared unrolled k-means training
    prefix, then the standard in-cell top-k (the _ivf_oracle_sql shape)
    over the TRAINED assignment instead of the precomputed label."""
    parts = _km_oracle_train_parts()
    fin = KM_ITERS
    parts.append(f"""
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_SQL_COS_V} AS cos_sim,
             CAST(row_number() OVER (PARTITION BY q.vec_id
                  ORDER BY {_SQL_COS_V} DESC, c.vec_id) AS INTEGER) AS rank
      FROM a{fin} q JOIN a{fin} c ON c.cid = q.cid AND c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rank <= {TOP_K}
    """)
    return "".join(parts)


@query(
    "sim_ivf_trained_topk",
    oracle=_ivf_trained_oracle_sql(),
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def sim_ivf_trained_topk(spark, sf_dir):
    """The full IVF lifecycle composed end-to-end: TRAIN the coarse
    quantizer (the sim_kmeans_cells Lloyd rounds, shared builders), ASSIGN
    every vector its trained cell, then SEARCH top-k within the query's own
    cell — where sim_ivf_topk trusts a precomputed label column, this is
    the index a user builds when no label exists.

    The trained assignment is ONE unrolled lazy SQL plan (per-round
    broadcast of the K-row codebook, partial-aggregable argmin),
    localCheckpoint'ed because BOTH sides of the in-cell join derive from
    it — without the materialization the query branch and the corpus
    branch would each re-run the full training (the _ivf_topk checkpoint
    discipline, one corpus-row-bounded table). The search itself is the
    proven IVF shape: broadcast the N_QUERIES-row query set (bounded by
    the query-batch constant), equi-join on the trained cell, 1e-6-rounded
    fold-order-stable cosine, per-query window top-k.

    At 100 TB: training cost is KM_ITERS corpus passes with K x EMB_DIM
    partial-agg state; search probes corpus/K rows per query instead of
    the corpus. Cell imbalance bounds: the probe side is capped by the
    query-set constant, so a hot trained cell costs N_QUERIES x cell_n
    comparisons (linear in the cell), never cell_n^2 — the quadratic
    hot-cell risk that forces with_capped_cell onto the PAIRWISE queries
    does not arise for a bounded query batch."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    fin = KM_ITERS
    cb, _ = _lloyd_train(e, "kmtrain", _km_vecs_body(), pq=False)
    parts = _km_parts_spark()
    # sqrt(vv) is the per-row norm factor of the pair cosine — one sqrt per
    # row at the checkpoint instead of two 64-element folds per candidate
    # pair (the _cos_prenorm discipline; vv folds in _km_dot_sql order,
    # which is _fold_dot's order, so the doubles are bit-identical)
    parts.append(f" SELECT vec_id, v, sqrt(vv) AS nrm, cid FROM a{fin}")
    assigned = _sql_over(
        e, "kmtrain", "".join(parts), _cb_args(cb)
    ).localCheckpoint(eager=False)
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("cid").alias("q_cid"),
        F.col("v").alias("q_v"),
        F.col("nrm").alias("q_nrm"),
    )
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cid").alias("c_cid"),
        F.col("v").alias("c_v"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = c.join(
        F.broadcast(q),
        (F.col("c_cid") == F.col("q_cid"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        _cos_prenorm("q_v", "c_v", "q_nrm", "c_nrm").alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _ivf_trained_multiprobe_oracle_sql() -> str:
    """sim_ivf_trained_multiprobe's oracle: the shared unrolled training
    prefix, then probe selection straight from the final scoring CTE
    sc{fin} (every query x centroid distance is already there — the
    assignment is just its rn=1 slice), then top-k over the union of the
    N_PROBE probed cells."""
    parts = _km_oracle_train_parts()
    fin = KM_ITERS
    parts.append(f"""
    , probe AS (
      SELECT vec_id AS query_id, v, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY d, cid) AS prank
        FROM sc{fin} WHERE vec_id < {N_QUERIES}
      ) WHERE prank <= {N_PROBE}
    )
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_SQL_COS_V} AS cos_sim,
             CAST(row_number() OVER (PARTITION BY q.query_id
                  ORDER BY {_SQL_COS_V} DESC, c.vec_id) AS INTEGER) AS rank
      FROM probe q JOIN a{fin} c ON c.cid = q.cid AND c.vec_id <> q.query_id
    ) WHERE rank <= {TOP_K}
    """)
    return "".join(parts)


@query(
    "sim_ivf_trained_multiprobe",
    oracle=_ivf_trained_multiprobe_oracle_sql(),
    tags=("similarity", "ann", "ivf", "kmeans"),
)
def sim_ivf_trained_multiprobe(spark, sf_dir):
    """Multi-probe search over the TRAINED quantizer: each query examines
    its N_PROBE nearest trained cells instead of only its own — the
    standard IVF recall lever for queries that land near a cell boundary
    (their true neighbors often sit just across it). sim_ivf_multiprobe
    probes precomputed-label cells; this probes the cells the engine itself
    trained, completing the train/assign/search lifecycle at nprobe > 1.

    The probe ranking is NOT a second distance computation: the training
    plan's final scoring CTE sc{fin} already holds every (vector, centroid,
    distance) pair — the assignment is its argmin — so the query-side probe
    list is just that CTE's rows restricted to the query set, ranked by the
    SAME (d, cid) total order training uses. One unrolled plan therefore
    emits BOTH tables the search needs — the corpus assignment a{fin} and
    the query probe candidates — as a kind-tagged union, localCheckpoint'ed
    ONCE: without the tag trick the two branches would each re-run the full
    KM_ITERS training over the corpus (the sim_ivf_trained_topk checkpoint
    discipline, extended to two heterogeneous consumers).

    At 100 TB: the checkpointed union is corpus + N_QUERIES x KM_K rows —
    the probe side adds a constant-bounded sliver. Search scans N_PROBE
    cells per query (~N_PROBE/KM_K of the corpus across the bounded query
    batch); candidates never duplicate across probes because each corpus
    vector lives in exactly one trained cell. The probe-pair table
    (N_QUERIES x N_PROBE rows) broadcasts by the query-batch-constant
    bound."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    fin = KM_ITERS
    cb, _ = _lloyd_train(e, "kmprobe", _km_vecs_body(), pq=False)
    parts = _km_parts_spark(with_sc=True)
    # sqrt(vv) rides the checkpoint per row (the _cos_prenorm discipline)
    parts.append(f"""
    SELECT 0 AS kind, vec_id, v, sqrt(vv) AS nrm, cid,
           CAST(NULL AS DOUBLE) AS d
    FROM a{fin}
    UNION ALL
    SELECT 1 AS kind, vec_id, v, sqrt(vv) AS nrm, cid, d FROM sc{fin}
    WHERE vec_id < {N_QUERIES}
    """)
    both = _sql_over(
        e, "kmprobe", "".join(parts), _cb_args(cb)
    ).localCheckpoint(eager=False)
    pw = W.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    probes = (
        both.filter(F.col("kind") == 1)
        .withColumn("prank", F.row_number().over(pw))
        .filter(F.col("prank") <= N_PROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("cid").alias("q_cid"),
            F.col("v").alias("q_v"),
            F.col("nrm").alias("q_nrm"),
        )
    )
    c = both.filter(F.col("kind") == 0).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cid").alias("c_cid"),
        F.col("v").alias("c_v"),
        F.col("nrm").alias("c_nrm"),
    )
    scored = c.join(
        F.broadcast(probes),
        (F.col("c_cid") == F.col("q_cid"))
        & (F.col("neighbor_id") != F.col("query_id")),
    ).select(
        "query_id",
        "neighbor_id",
        _cos_prenorm("q_v", "c_v", "q_nrm", "c_nrm").alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


# --- Product quantization (the IVF-PQ storage path) -------------------------
#
# PQ is how a 100 TB ANN index actually fits: each EMB_DIM-double vector
# (512 B here; 3 KB at dim 768) compresses to PQ_M small codes (one byte
# each at PQ_K <= 256) by training an independent tiny codebook per
# contiguous subspace, and search scores compressed codes against an
# UNCOMPRESSED query through a per-query lookup table (asymmetric distance
# computation, ADC) — no decompression, no full-vector reads.

PQ_M = 4                      # subspaces
PQ_SUB = EMB_DIM // PQ_M      # dims per subspace
PQ_K = 4                      # centroids per subspace codebook
PQ_ITERS = 2                  # fixed Lloyd rounds (the KM_ITERS discipline)


def _pq_assign_sql(cent: str, i: int) -> str:
    """One PQ Lloyd assignment as DuckDB CTEs: per (vector, subspace),
    squared-L2 argmin over that subspace's codebook with the (d, cid)
    tie-break — the km shape with the grouping key widened to
    (vec_id, m)."""
    return f"""
    psc{i} AS (
      SELECT s.vec_id, s.m, s.sv, c.cid,
             (s.svv - 2 * list_dot_product(s.sv, c.c) + c.cc) AS d
      FROM sub s JOIN (
        SELECT m, cid, c, list_dot_product(c, c) AS cc FROM {cent}
      ) c ON s.m = c.m
    ),
    pa{i} AS (
      SELECT vec_id, m, sv, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
               ORDER BY d, cid) AS rn
        FROM psc{i}
      ) WHERE rn = 1
    )"""


def _pq_update_sql(i: int) -> str:
    return f"""
    pce{i} AS (
      SELECT m, cid, p, floor(avg(sv[p]) * {KM_SCALE} + 0.5) / {KM_SCALE} AS mu
      FROM pa{i}, ppos GROUP BY m, cid, p
    ),
    pc{i + 1} AS (
      SELECT m, cid, list(mu ORDER BY p) AS c FROM pce{i} GROUP BY m, cid
    )"""


def _pq_oracle_train_parts(include_vecs: bool = True) -> list[str]:
    """Unrolled DuckDB PQ training through the final per-subspace scoring
    CTE psc{PQ_ITERS} and assignment pa{PQ_ITERS} (the codes).

    ``include_vecs=False`` omits the leading WITH + vecs CTE so the chain
    can be appended to another prefix that already defines ``vecs`` with at
    least (vec_id, v) — how sim_ivfpq_topk composes the coarse and PQ
    trainings into one statement (CTE namespaces are disjoint by
    construction: c/sc/a vs pc/psc/pa)."""
    head = f"""
    WITH vecs AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),""" if include_vecs else "\n    ,"
    parts = [head + f"""
    ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
    ppos AS (SELECT unnest(generate_series(1, {PQ_SUB})) AS p),
    sub AS (
      SELECT vec_id, m, sv, list_dot_product(sv, sv) AS svv FROM (
        SELECT vec_id, m,
               list_slice(v, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB}) AS sv
        FROM vecs CROSS JOIN ms
      )
    ),
    pc0 AS (
      SELECT m, CAST(rn - 1 AS INTEGER) AS cid, sv AS c FROM (
        SELECT m, sv, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        FROM sub
      ) WHERE rn <= {PQ_K}
    )"""]
    for i in range(PQ_ITERS):
        parts.append("," + _pq_assign_sql(f"pc{i}", i))
        parts.append("," + _pq_update_sql(i))
    parts.append("," + _pq_assign_sql(f"pc{PQ_ITERS}", PQ_ITERS))
    return parts


_PQ_SUB_BODY = (
    f"SELECT vec_id, m, sv, {_km_dot_sql('sv', 'sv')} AS svv FROM ("
    f"SELECT vec_id, m, slice(v, m * {PQ_SUB} + 1, {PQ_SUB}) AS sv "
    f"FROM vecs LATERAL VIEW explode(sequence(0, {PQ_M - 1})) AS m)"
)
_PQ_VECS_BODY = "SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM {v}"


def _pq_parts_spark(include_vecs: bool = True,
                    vecs_sql: str = _PQ_VECS_BODY) -> list[str]:
    """Spark twin of _pq_oracle_train_parts over the ``:pcb`` codebooks
    (bind them with _cb_args): emits the same-named CTEs — ``sub``,
    ``pa{PQ_ITERS}`` (row-wise argmin) and ``psc{PQ_ITERS}`` (the
    lazily-exploded pair relation) — so every downstream tail keeps its
    text unchanged. ``include_vecs=False`` omits the vecs CTE so the chain
    can follow a prefix that defines it."""
    fin = PQ_ITERS
    head = f"""
    WITH vecs AS ({vecs_sql}),""" if include_vecs else "\n    ,"
    return [head + f"""
    sub AS ({_PQ_SUB_BODY}),
    pa{fin} AS (
      SELECT vec_id, m, sv, best.cid AS cid, best.d AS d FROM (
        SELECT vec_id, m, sv, array_min({_PQ_SCORES}) AS best FROM sub
      )
    ),
    psc{fin} AS (
      SELECT vec_id, m, sv, x.cid AS cid, x.d AS d
      FROM sub LATERAL VIEW explode({_PQ_SCORES}) t AS x
    )"""]


def _lloyd_train(rel, tag: str, vecs_body: str, km: bool = True,
                 pq: bool = True):
    """The driver-folded Lloyd trainer for the coarse (KM) codebook, the
    product (PQ) codebooks, or both, over ``vecs_body`` — a (vec_id, v[, vv])
    derivation of ``rel`` bound at ``{v}``. The codebooks are bounded
    constants, so they are held on the driver and bound back into the one
    round statement as data each round. Returns (cb, pcb): cb is
    [(cid, [element value])] sorted by cid, pcb holds one such list per
    subspace m, and an untrained side is None.

    ONE TakeOrdered job collects the seeds, the first KM_K / PQ_K vectors
    by vec_id. The PQ seeds are exact Python slices of those rows: sub's sv
    is slice(v, m*PQ_SUB+1, PQ_SUB) over the same doubles, and the oracle's
    per-m row_number seeding picks the same PQ_K smallest vec_ids. Each
    round is then ONE job, a UNION ALL of the trained sides' update
    aggregates (a single-element union when one side is trained): rows
    tagged grp 0=KM / 1=PQ, one scaled-integer mean per (cell, position),
    each side map-side combined to KM_K x EMB_DIM / PQ_M x PQ_K x PQ_SUB
    groups, so no corpus-keyed Exchange runs anywhere.
    Total: 1 + max(KM_ITERS, PQ_ITERS) driver jobs over the trained sides.
    Over a lazy _vecs_ck checkpoint the seed job also materializes it."""
    from .dedup import _sql_over

    prefix = f"WITH vecs AS ({vecs_body}), sub AS ({_PQ_SUB_BODY}) "
    km_iters, pq_iters = KM_ITERS if km else 0, PQ_ITERS if pq else 0

    # one output row per (cell, position): the position mean on the 1e-6
    # grid as an exact BIGINT. One avg over posexplode, not 64 avg columns:
    # the 64-column aggregate's generated code ran a KM round ~1.5x slower
    # at sf0.1 (2000 vectors, 4 cores).
    mean = f"CAST(floor(avg(x) * {KM_SCALE}D + 0.5D) AS BIGINT) AS s"
    km_side = (
        f"SELECT 0 AS grp, -1 AS m, best.cid AS cid, p, {mean}"
        f" FROM (SELECT array_min({_KM_SCORES}) AS best, v FROM vecs)"
        " LATERAL VIEW posexplode(v) t AS p, x GROUP BY best.cid, p"
    )
    pq_side = (
        f"SELECT 1 AS grp, m, best.cid AS cid, p, {mean}"
        f" FROM (SELECT m, array_min({_PQ_SCORES}) AS best, sv FROM sub)"
        " LATERAL VIEW posexplode(sv) t AS p, x GROUP BY m, best.cid, p"
    )

    def cells(rows, grp: int, m: int = -1) -> list:
        """A round's (cid, means) cells of one codebook, sorted by cid."""
        means: dict[int, dict[int, float]] = {}
        for r in rows:
            if r.grp == grp and r.m == m:
                means.setdefault(r.cid, {})[r.p] = r.s / KM_SCALE
        return [(cid, [ps[p] for p in sorted(ps)])
                for cid, ps in sorted(means.items())]

    # Scoped execution conf for the tiny bounded statements, restored on
    # exit; queries built outside the block keep their creation-time conf:
    # - adaptive.enabled=false: AQE runs every intermediate shuffle stage as
    #   its own driver job, so a round aggregate pays 2-3 sequential job
    #   latencies where a non-adaptive plan is ONE job. Its output is
    #   bounded by codebook constants: no skew, nothing to re-plan.
    # - shuffle.partitions=1: the reduce side holds at most the codebook
    #   cells at ANY corpus scale (map-side partial aggregation emits <=
    #   codebook rows per mapper) — profiled at 32 inherited partitions the
    #   merged rounds ran 66 tasks for 24 output rows.
    # Values are unaffected: partition-count changes only reorder the avg
    # partial sums, which the 1e-6 grid absorbs (the full oracle sweep pins
    # both the 8-partition test session and the 32-partition bench).
    settings = {"spark.sql.adaptive.enabled": "false",
                "spark.sql.shuffle.partitions": "1"}
    cb = pcb = None
    with plan_gates.scoped_conf(rel.sparkSession, settings):
        seeds = _sql_over(
            rel, f"{tag}_seed",
            prefix + "SELECT vec_id, v FROM vecs ORDER BY vec_id "
            f"LIMIT {max(KM_K if km else 0, PQ_K if pq else 0)}",
        ).collect()
        if km:
            cb = [(j, list(row.v)) for j, row in enumerate(seeds[:KM_K])]
        if pq:
            pcb = [[(j, list(row.v[m * PQ_SUB:(m + 1) * PQ_SUB]))
                    for j, row in enumerate(seeds[:PQ_K])]
                   for m in range(PQ_M)]
        for i in range(max(km_iters, pq_iters)):
            km_on, pq_on = i < km_iters, i < pq_iters
            sides = ([km_side] if km_on else []) + ([pq_side] if pq_on else [])
            rows = _sql_over(
                rel, f"{tag}_lloyd{i}", prefix + " UNION ALL ".join(sides),
                _cb_args(cb if km_on else None, pcb if pq_on else None),
            ).collect()
            if km_on:
                cb = cells(rows, 0)
            if pq_on:
                pcb = [cells(rows, 1, m) for m in range(PQ_M)]
    return cb, pcb


def _pq_adc_oracle_sql() -> str:
    """sim_pq_adc's oracle: unrolled PQ training, then ADC — the per-query
    distance table is the final scoring CTE restricted to the query set
    (every query x subspace x centroid distance is already there), summed
    as exact scaled integers over the corpus codes."""
    parts = _pq_oracle_train_parts()
    fin = PQ_ITERS
    parts.append(f"""
    , lut AS (
      SELECT vec_id, m, cid, d FROM psc{fin} WHERE vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, adc_dist, rank FROM (
      SELECT query_id, neighbor_id,
             CAST(adc_i AS DOUBLE) / {KM_SCALE} AS adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_i, neighbor_id) AS INTEGER) AS rank
      FROM (
        SELECT l.vec_id AS query_id, x.vec_id AS neighbor_id,
               CAST(sum(CAST(floor(l.d * {KM_SCALE} + 0.5) AS BIGINT))
                    AS BIGINT) AS adc_i
        FROM pa{fin} x JOIN lut l
          ON l.m = x.m AND l.cid = x.cid AND x.vec_id <> l.vec_id
        GROUP BY 1, 2
      )
    ) WHERE rank <= {TOP_K}
    """)
    return "".join(parts)


@query(
    "sim_pq_adc",
    oracle=_pq_adc_oracle_sql(),
    tags=("similarity", "ann", "pq", "kmeans"),
)
def sim_pq_adc(spark, sf_dir):
    """Product quantization with asymmetric distance computation — the
    IVF-PQ storage path that makes 100 TB ANN indexes fit: train PQ_M
    independent PQ_K-centroid codebooks (one per contiguous PQ_SUB-dim
    subspace), ENCODE every vector to PQ_M small codes, then score
    compressed codes against uncompressed queries via per-query distance
    lookup tables, never touching a full corpus vector at search time.

    Training is the sim_kmeans_cells Lloyd discipline with the grouping
    key widened to (vec_id, m): ALL PQ_M subspace codebooks train in the
    SAME fixed rounds — per round one pass over the exploded subvector
    table, broadcast of the (PQ_M x PQ_K)-row codebook (bounded constant),
    partial-aggregable min(struct(d, cid)) argmin, per-(m, cid) rounded
    means. Centroid components round on the 1e-6 grid each round and
    distances are factored (svv - 2<sv,c> + cc) sequential folds, so both
    engines see bit-identical inputs at every iteration boundary.

    ADC: the per-query lookup table is NOT a second distance pass — the
    training plan's final scoring CTE psc{fin} already holds every
    (vector, subspace, centroid, distance) row; restricted to the bounded
    query set it IS the table (N_QUERIES x PQ_M x PQ_K rows). One
    kind-tagged union (corpus codes + query LUT) localCheckpoints the
    training once for both consumers (the sim_ivf_trained_multiprobe
    discipline). Approximate distance = sum over subspaces of the LUT
    entry for the stored code, summed as EXACT floor-scaled integers
    (the EWMA/Holt rule: engine summation order can't perturb ranking),
    one final double division for display.

    At 100 TB: the index table is corpus x PQ_M rows of (id, m, code) —
    with PQ_K <= 256 that is PQ_M BYTES of payload per vector vs
    EMB_DIM x 8 raw (64x smaller here; 512x at dim-768/M-96 production
    shapes). The scoring join broadcasts the LUT (query-batch x codebook
    constant) against the code table and partial-aggregates the per-pair
    sums map-side; no shuffle carries a full vector. Recall follows
    codebook quality (the standard PQ trade); this is the honest
    exhaustive-ADC scan — compose with the trained IVF cells to prune
    candidates before scoring (IVF-PQ proper)."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    fin = PQ_ITERS
    _, pcb = _lloyd_train(e, "pqtrain", _PQ_VECS_BODY, km=False)
    parts = _pq_parts_spark()
    parts.append(f"""
    SELECT 0 AS kind, vec_id, m, cid, CAST(NULL AS DOUBLE) AS d FROM pa{fin}
    UNION ALL
    SELECT 1 AS kind, vec_id, m, cid, d FROM psc{fin}
    WHERE vec_id < {N_QUERIES}
    """)
    both = _sql_over(
        e, "pqtrain", "".join(parts), _cb_args(pcb=pcb)
    ).localCheckpoint(eager=False)
    codes = both.filter(F.col("kind") == 0).select(
        F.col("vec_id").alias("neighbor_id"), "m", "cid"
    )
    lut = both.filter(F.col("kind") == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("m").alias("l_m"),
        F.col("cid").alias("l_cid"),
        F.floor(F.col("d") * F.lit(KM_SCALE) + F.lit(0.5))
        .cast("long")
        .alias("term"),
    )
    scored = (
        codes.join(
            F.broadcast(lut),
            (F.col("m") == F.col("l_m"))
            & (F.col("cid") == F.col("l_cid"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("term").alias("adc_i"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_i"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("adc_i").cast("double") / F.lit(KM_SCALE)).alias("adc_dist"),
            "rank",
        )
    )


def _ivfpq_oracle_search_ctes() -> str:
    """The IVF-PQ search tail as DuckDB CTEs appended to the combined
    km + pq training prefix: probe selection from sc{kfin}, code attachment
    from pa{pfin}, the exact scaled-integer ADC sum over probed-cell
    candidates only, and the ranked result ``ivfpq_ranked`` — shared by
    sim_ivfpq_topk's oracle (which selects the top-k) and
    sim_recall_eval's (which joins the top-k against the exact scan)."""
    kfin, pfin = KM_ITERS, PQ_ITERS
    return f"""
    , probe AS (
      SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
               ORDER BY d, cid) AS pr
        FROM sc{kfin} WHERE vec_id < {N_QUERIES}
      ) WHERE pr <= {N_PROBE}
    ),
    corpusx AS (
      SELECT a.vec_id, a.cid AS cell, p.m, p.cid AS code
      FROM a{kfin} a JOIN pa{pfin} p ON a.vec_id = p.vec_id
    ),
    adc AS (
      SELECT pr.query_id, x.vec_id AS neighbor_id,
             CAST(sum(CAST(floor(l.d * {KM_SCALE} + 0.5) AS BIGINT))
                  AS BIGINT) AS adc_i
      FROM probe pr
      JOIN corpusx x ON x.cell = pr.cell AND x.vec_id <> pr.query_id
      JOIN (SELECT vec_id, m, cid, d FROM psc{pfin}
            WHERE vec_id < {N_QUERIES}) l
        ON l.vec_id = pr.query_id AND l.m = x.m AND l.cid = x.code
      GROUP BY 1, 2
    ),
    ivfpq_ranked AS (
      SELECT query_id, neighbor_id, adc_i,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY adc_i, neighbor_id) AS INTEGER) AS rank
      FROM adc
    )"""


def _ivfpq_oracle_sql() -> str:
    """sim_ivfpq_topk's oracle: BOTH unrolled trainings in one statement
    (the coarse km chain defines vecs/pos/c*/sc*/a*; the PQ chain appended
    with include_vecs=False reuses that vecs and owns ms/ppos/pc*/psc*/
    pa*), then the shared search tail (_ivfpq_oracle_search_ctes)."""
    parts = _km_oracle_train_parts()
    parts.extend(_pq_oracle_train_parts(include_vecs=False))
    parts.append(_ivfpq_oracle_search_ctes())
    parts.append(f"""
    SELECT query_id, neighbor_id,
           CAST(adc_i AS DOUBLE) / {KM_SCALE} AS adc_dist, rank
    FROM ivfpq_ranked WHERE rank <= {TOP_K}
    """)
    return "".join(parts)


@query(
    "sim_ivfpq_topk",
    oracle=_ivfpq_oracle_sql(),
    tags=("similarity", "ann", "ivf", "pq", "kmeans"),
)
def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ proper — the production 100 TB ANN index, composed from the
    two trained structures this engine already builds: the coarse
    quantizer PRUNES (each query examines only its N_PROBE nearest trained
    cells) and the product quantizer SCORES (ADC over PQ_M-byte codes, no
    full vector reads at search time). sim_ivf_trained_multiprobe scores
    raw vectors inside probed cells; sim_pq_adc scores codes exhaustively;
    this does both halves of the real thing.

    BOTH trainings unroll into ONE Spark-SQL statement over one corpus
    view (disjoint CTE namespaces; the PQ chain reuses the coarse chain's
    vecs), and ONE kind-tagged union checkpoints everything search needs:
      kind 0 — corpus rows (vec_id, coarse cell, m, code): the a{kfin} ⋈
               pa{pfin} attachment, the statement's only corpus-x-corpus
               join (co-keyed on vec_id; bucket both by vec_id at scale).
      kind 1 — query-to-centroid distances from sc{kfin} (probe ranking).
      kind 2 — query LUT rows from psc{pfin} (ADC terms).
    Probe pairs ⋈ LUT compose driver-free into the broadcast table P of
    N_QUERIES x N_PROBE x PQ_M x PQ_K rows (320 here — bounded by query
    batch x codebook constants). Search is corpus ⋈ broadcast(P) on
    (cell, m, code): each corpus vector in a probed cell contributes its
    PQ_M exact scaled-integer terms, partial-aggregated map-side into the
    per-(query, neighbor) sum, then the per-query window top-k.

    At 100 TB: search touches ~N_PROBE/KM_K of the corpus per query batch
    and reads only the (id, cell, m, code) index table — PQ_M bytes of
    payload per vector. The two training costs are the documented km/pq
    passes; everything downstream of the checkpoint is one broadcast
    join + one partial agg + one bounded window."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    kfin, pfin = KM_ITERS, PQ_ITERS
    vck = _vecs_ck(e, "ivfpq")
    cb, pcb = _lloyd_train(vck, "ivfpq", _VECS_CK_BODY)
    parts = _km_parts_spark(_VECS_CK_BODY, with_sc=True)
    parts.extend(_pq_parts_spark(include_vecs=False))
    parts.append(f"""
    SELECT 0 AS kind, a.vec_id, a.cid AS cell, p.m, p.cid AS code,
           CAST(NULL AS DOUBLE) AS d
    FROM a{kfin} a JOIN pa{pfin} p ON a.vec_id = p.vec_id
    UNION ALL
    SELECT 1 AS kind, vec_id, cid AS cell, CAST(NULL AS INT) AS m,
           CAST(NULL AS INT) AS code, d
    FROM sc{kfin} WHERE vec_id < {N_QUERIES}
    UNION ALL
    SELECT 2 AS kind, vec_id, CAST(NULL AS INT) AS cell, m, cid AS code, d
    FROM psc{pfin} WHERE vec_id < {N_QUERIES}
    """)
    both = _sql_over(
        vck, "ivfpq", "".join(parts), _cb_args(cb, pcb)
    ).localCheckpoint(eager=False)
    return _ivfpq_search(both).select(
        "query_id",
        "neighbor_id",
        (F.col("adc_i").cast("double") / F.lit(KM_SCALE)).alias("adc_dist"),
        "rank",
    )


def _ivfpq_search(both, k: int = TOP_K):
    """The IVF-PQ search over a checkpointed kind-tagged union carrying at
    least (kind, vec_id, cell, m, code, d): probe ranking from the kind-1
    query-to-centroid distances, LUT from the kind-2 query scoring rows,
    corpus codes from kind 0; returns the top-``k`` (query_id, neighbor_id,
    adc_i, rank) frame — shared by sim_ivfpq_topk (which formats the
    distance), sim_recall_eval (which joins it against the exact scan),
    and the re-rank queries (which widen k to the RERANK_C candidate
    pool)."""
    pw = W.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cell"))
    probes = (
        both.filter(F.col("kind") == 1)
        .withColumn("pr", F.row_number().over(pw))
        .filter(F.col("pr") <= N_PROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("cell").alias("q_cell"))
    )
    lut = both.filter(F.col("kind") == 2).select(
        F.col("vec_id").alias("l_query"),
        F.col("m").alias("l_m"),
        F.col("code").alias("l_code"),
        F.floor(F.col("d") * F.lit(KM_SCALE) + F.lit(0.5))
        .cast("long")
        .alias("term"),
    )
    p_tbl = probes.join(lut, F.col("query_id") == F.col("l_query")).select(
        "query_id", "q_cell", "l_m", "l_code", "term"
    )
    corpus = both.filter(F.col("kind") == 0).select(
        F.col("vec_id").alias("neighbor_id"), "cell", "m", "code"
    )
    scored = (
        corpus.join(
            F.broadcast(p_tbl),
            (F.col("cell") == F.col("q_cell"))
            & (F.col("m") == F.col("l_m"))
            & (F.col("code") == F.col("l_code"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("term").alias("adc_i"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_i"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _pq_distortion_oracle_sql() -> str:
    parts = _pq_oracle_train_parts()
    fin = PQ_ITERS
    parts.append(f"""
    SELECT CAST(m AS INTEGER) AS m,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(floor(d * {KM_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)
             / {KM_SCALE} AS total_distortion,
           CAST(sum(CAST(floor(d * {KM_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)
             / count(*) / {KM_SCALE} AS avg_distortion,
           CAST(max(CAST(floor(d * {KM_SCALE} + 0.5) AS BIGINT)) AS DOUBLE)
             / {KM_SCALE} AS max_distortion
    FROM pa{fin} GROUP BY m
    """)
    return "".join(parts)


@query(
    "sim_pq_distortion",
    oracle=_pq_distortion_oracle_sql(),
    tags=("similarity", "ann", "pq", "kmeans", "quality"),
)
def sim_pq_distortion(spark, sf_dir):
    """Per-subspace PQ quantization distortion — the codebook-quality
    metric an operator checks BEFORE deploying a PQ index over 100 TB:
    pa{fin}.d is each subvector's squared-L2 distance to its assigned
    centroid (the reconstruction error PQ will bake into every ADC score),
    so per subspace m this reports member count, total/average/max
    distortion. A subspace whose avg_distortion dwarfs the others means
    its slice of the embedding carries structure PQ_K centroids can't
    capture (raise PQ_K or re-split subspaces); a max >> avg flags outlier
    vectors that will silently mis-rank at search time.

    Zero cost beyond training: the distances are the training plan's own
    final assignment CTE — this is ONE partial-aggregable groupBy over it
    (PQ_M output rows), no second corpus pass, no join. Sums are exact
    floor-scaled integers (the inertia discipline from sim_kmeans_cells),
    one final double division per displayed column."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    fin = PQ_ITERS
    _, pcb = _lloyd_train(e, "pqdist", _PQ_VECS_BODY, km=False)
    parts = _pq_parts_spark()
    parts.append(f"""
    SELECT CAST(m AS INTEGER) AS m,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CAST(floor(d * {KM_SCALE}D + 0.5D) AS BIGINT)) AS DOUBLE)
             / {KM_SCALE}D AS total_distortion,
           CAST(sum(CAST(floor(d * {KM_SCALE}D + 0.5D) AS BIGINT)) AS DOUBLE)
             / count(*) / {KM_SCALE}D AS avg_distortion,
           CAST(max(CAST(floor(d * {KM_SCALE}D + 0.5D) AS BIGINT)) AS DOUBLE)
             / {KM_SCALE}D AS max_distortion
    FROM pa{fin} GROUP BY m
    """)
    return _sql_over(e, "pqdist", "".join(parts), _cb_args(pcb=pcb))


def _recall_eval_oracle_sql() -> str:
    """sim_recall_eval's oracle: the combined km + pq training prefix, the
    shared IVF-PQ search tail, an exact squared-L2 top-k over the same
    vecs CTE (factored fold-order distances on the scaled-integer grid,
    neighbor_id tie-break), and the per-query hit count between the two."""
    parts = _km_oracle_train_parts()
    parts.extend(_pq_oracle_train_parts(include_vecs=False))
    parts.append(_ivfpq_oracle_search_ctes())
    parts.append(f"""
    , exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(floor((c.vv - 2 * list_dot_product(q.v, c.v) + q.vv)
                      * {KM_SCALE} + 0.5) AS BIGINT),
                 c.vec_id) AS rnk
        FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           floor(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / {float(TOP_K)} * {KM_SCALE} + 0.5) / {KM_SCALE}
             AS recall_at_k
    FROM exact e
    LEFT JOIN (SELECT query_id, neighbor_id FROM ivfpq_ranked
               WHERE rank <= {TOP_K}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """)
    return "".join(parts)


@query(
    "sim_recall_eval",
    oracle=_recall_eval_oracle_sql(),
    tags=("similarity", "ann", "ivf", "pq", "quality"),
)
def sim_recall_eval(spark, sf_dir):
    """Recall@k of the IVF-PQ index against the exact scan — the number
    that decides whether an ANN index is deployable at all: per query,
    how many of the true top-k nearest neighbors (exact squared-L2 over
    raw vectors) the compressed, cell-pruned search actually returned.
    Production ANN tuning is a loop over (KM_K, N_PROBE, PQ_M, PQ_K)
    driven by exactly this measurement on a sampled query batch; an
    engine that can build the index but not grade it leaves the user
    flying blind.

    ONE unrolled plan trains both quantizers (the sim_ivfpq_topk
    statement) and its kind-tagged checkpoint grows a kind-3 slice:
    the raw vectors with their self-dots (vv rides in the d column) —
    so the exact baseline, the probe ranking, the LUT, and the corpus
    codes all come from a single corpus-rows-bounded materialization.
    The exact side is the brute-force discipline (broadcast the bounded
    query batch, one corpus scan) with squared-L2 on the scaled-integer
    grid: d_i = floor((c.vv - 2<q,c> + q.vv) * 1e6 + 0.5) — factored
    fold-order dots, integer ranking, neighbor_id tie-break — so the
    ground truth itself is engine-reproducible. Recall joins the two
    bounded top-k sets (N_QUERIES x TOP_K rows each) and counts hits
    per query; at 100 TB the exact baseline costs one corpus scan over
    the sampled query batch — the standard price of ground truth, paid
    once per tuning run, while the index under test reads only codes."""
    both = _ivfpq_vec_checkpoint(spark, sf_dir, "recall")
    exact = _exact_topk(both)
    approx = _ivfpq_search(both).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return _recall_agg(exact, approx)


def _ivfpq_vec_union_sql() -> str:
    """The kind-tagged union tail carrying everything BOTH the index search
    and an exact raw-vector scan need (sim_recall_eval's checkpoint shape,
    factored for the re-rank queries): kind 0 corpus codes, kind 1 probe
    distances, kind 2 query LUT rows, kind 3 the raw vectors with their
    self-dots riding in d."""
    kfin, pfin = KM_ITERS, PQ_ITERS
    return f"""
    SELECT 0 AS kind, a.vec_id, a.cid AS cell, p.m, p.cid AS code,
           CAST(NULL AS DOUBLE) AS d, CAST(NULL AS ARRAY<DOUBLE>) AS v
    FROM a{kfin} a JOIN pa{pfin} p ON a.vec_id = p.vec_id
    UNION ALL
    SELECT 1 AS kind, vec_id, cid AS cell, CAST(NULL AS INT) AS m,
           CAST(NULL AS INT) AS code, d, CAST(NULL AS ARRAY<DOUBLE>) AS v
    FROM sc{kfin} WHERE vec_id < {N_QUERIES}
    UNION ALL
    SELECT 2 AS kind, vec_id, CAST(NULL AS INT) AS cell, m, cid AS code, d,
           CAST(NULL AS ARRAY<DOUBLE>) AS v
    FROM psc{pfin} WHERE vec_id < {N_QUERIES}
    UNION ALL
    SELECT 3 AS kind, vec_id, CAST(NULL AS INT) AS cell,
           CAST(NULL AS INT) AS m, CAST(NULL AS INT) AS code, vv AS d, v
    FROM vecs
    """


def _ivfpq_vec_checkpoint(spark, sf_dir, tag: str):
    """Train both quantizers and checkpoint the vectors-included kind union
    (one corpus-rows-bounded materialization feeding index search AND exact
    scoring)."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    vck = _vecs_ck(e, tag)
    cb, pcb = _lloyd_train(vck, tag, _VECS_CK_BODY)
    parts = _km_parts_spark(_VECS_CK_BODY, with_sc=True)
    parts.extend(_pq_parts_spark(include_vecs=False))
    parts.append(_ivfpq_vec_union_sql())
    return _sql_over(
        vck, tag, "".join(parts), _cb_args(cb, pcb)
    ).localCheckpoint(eager=False)


def _vec_slices(both):
    """(query, corpus) raw-vector frames off the kind-3 checkpoint slice."""
    vec3 = both.filter(F.col("kind") == 3).select(
        "vec_id", "v", F.col("d").alias("vv")
    )
    q = vec3.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("q_v"),
        F.col("vv").alias("q_vv"),
    )
    c = vec3.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("c_v"),
        F.col("vv").alias("c_vv"),
    )
    return q, c


def _exact_d_i():
    """Squared-L2 on the scaled-integer grid with factored fold-order dots —
    the engine-parity distance shared by the exact baseline and the exact
    re-rank: d_i = floor((c.vv - 2<q,c> + q.vv) * 1e6 + 0.5)."""
    return (
        F.floor(
            (
                F.col("c_vv")
                - F.lit(2.0) * F.expr(_km_dot_sql("q_v", "c_v"))
                + F.col("q_vv")
            )
            * F.lit(KM_SCALE)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("d_i")
    )


def _exact_topk(both):
    """The brute-force ground truth: broadcast the bounded query batch, one
    corpus scan, integer ranking with neighbor_id tie-break."""
    q, c = _vec_slices(both)
    we = W.partitionBy("query_id").orderBy(F.asc("d_i"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _exact_d_i())
        .withColumn("rnk", F.row_number().over(we))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )


def _recall_agg(exact, approx):
    """recall@k: left-join the exact top-k against an approximate top-k
    (carrying a literal ``hit`` column) and count hits per query."""
    n_hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            n_hits.cast("long").alias("n_hits"),
            round_half_up(
                n_hits.cast("double") / F.lit(float(TOP_K)), 6
            ).alias("recall_at_k"),
        )
    )


# ADC candidate pool widened past TOP_K for the exact re-rank stage: the
# production two-stage shape fetches the top-C compressed-score candidates'
# raw vectors and re-scores them exactly. 3x the final k is a standard
# starting ratio; the win is bounded by what N_PROBE cells contain.
RERANK_C = 3 * TOP_K


def _rerank_exact(both, cand):
    """Exact re-rank of an ADC candidate set: join the bounded candidate
    pairs (N_QUERIES x RERANK_C rows — broadcast) back to raw vectors on
    BOTH sides, score with the exact-grid distance, re-rank per query.

    At 100 TB this is the stage that recovers recall lost to PQ
    compression: the corpus-side vector fetch touches only candidate ids
    (a broadcast-semi-join against the vector store, never a scan), and
    everything downstream is bounded by the query batch."""
    q, c = _vec_slices(both)
    wr = W.partitionBy("query_id").orderBy(F.asc("d_i"), F.asc("neighbor_id"))
    return (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", _exact_d_i())
        .withColumn("rank", F.row_number().over(wr))
    )


def _rerank_oracle_ctes() -> str:
    """The exact re-rank tail appended to the combined training prefix +
    IVF-PQ search CTEs: candidate pool from ivfpq_ranked, exact-grid
    distances against the vecs CTE, per-query re-ranking —
    ``rerank_ranked`` feeds sim_ivfpq_rerank_topk's top-k and
    sim_rerank_recall_eval's hit count."""
    return f"""
    , cand AS (
      SELECT query_id, neighbor_id FROM ivfpq_ranked WHERE rank <= {RERANK_C}
    ),
    rer AS (
      SELECT cand.query_id, cand.neighbor_id,
             CAST(floor((c.vv - 2 * list_dot_product(q.v, c.v) + q.vv)
                  * {KM_SCALE} + 0.5) AS BIGINT) AS d_i
      FROM cand
      JOIN vecs q ON q.vec_id = cand.query_id
      JOIN vecs c ON c.vec_id = cand.neighbor_id
    ),
    rerank_ranked AS (
      SELECT query_id, neighbor_id, d_i,
             CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY d_i, neighbor_id) AS INTEGER) AS rank
      FROM rer
    )"""


def _ivfpq_rerank_oracle_sql() -> str:
    parts = _km_oracle_train_parts()
    parts.extend(_pq_oracle_train_parts(include_vecs=False))
    parts.append(_ivfpq_oracle_search_ctes())
    parts.append(_rerank_oracle_ctes())
    parts.append(f"""
    SELECT query_id, neighbor_id,
           CAST(d_i AS DOUBLE) / {KM_SCALE} AS exact_dist, rank
    FROM rerank_ranked WHERE rank <= {TOP_K}
    """)
    return "".join(parts)


@query(
    "sim_ivfpq_rerank_topk",
    oracle=_ivfpq_rerank_oracle_sql(),
    tags=("similarity", "ann", "ivf", "pq", "rerank"),
)
def sim_ivfpq_rerank_topk(spark, sf_dir):
    """Two-stage retrieval — the missing piece of the production ANN shape
    (VERDICT r6 "Next round" #4): sim_ivfpq_topk scores COMPRESSED codes
    only, baking PQ reconstruction error into every returned distance;
    real pipelines take the ADC top-C, fetch those C raw vectors, and
    re-rank EXACTLY to recover the recall compression lost.

    Stage 1 is sim_ivfpq_topk's search widened to the RERANK_C candidate
    pool (coarse prune -> ADC over codes). Stage 2 joins the bounded
    candidate pairs (query batch x RERANK_C — broadcast) back to raw
    vectors on both sides and scores on the exact scaled-integer grid
    (the sim_recall_eval ground-truth distance, shared helper), then
    re-ranks per query. Output distances are EXACT squared-L2, not ADC
    approximations — what a user of two-stage retrieval actually gets.

    At 100 TB: stage 1 reads only the (id, cell, codes) index table;
    stage 2's raw-vector reads are candidate-bounded (a broadcast join
    against the vector store, never a corpus scan). Within any candidate
    pool, a true exact-top-k member can be outranked only by other true
    members, so recall@k is monotonically >= the un-reranked index's —
    measured in-engine by sim_rerank_recall_eval and pinned by
    tests/test_ext.py."""
    both = _ivfpq_vec_checkpoint(spark, sf_dir, "rerank")
    cand = _ivfpq_search(both, k=RERANK_C).select("query_id", "neighbor_id")
    return (
        _rerank_exact(both, cand)
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            (F.col("d_i").cast("double") / F.lit(KM_SCALE)).alias("exact_dist"),
            "rank",
        )
    )


def _rerank_recall_oracle_sql() -> str:
    """sim_rerank_recall_eval's oracle: the recall harness with the
    re-ranked top-k as the approximate side — the exact CTE and hit-count
    tail are sim_recall_eval's verbatim."""
    parts = _km_oracle_train_parts()
    parts.extend(_pq_oracle_train_parts(include_vecs=False))
    parts.append(_ivfpq_oracle_search_ctes())
    parts.append(_rerank_oracle_ctes())
    parts.append(f"""
    , exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 CAST(floor((c.vv - 2 * list_dot_product(q.v, c.v) + q.vv)
                      * {KM_SCALE} + 0.5) AS BIGINT),
                 c.vec_id) AS rnk
        FROM vecs q JOIN vecs c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
      ) WHERE rnk <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           floor(CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / {float(TOP_K)} * {KM_SCALE} + 0.5) / {KM_SCALE}
             AS recall_at_k
    FROM exact e
    LEFT JOIN (SELECT query_id, neighbor_id FROM rerank_ranked
               WHERE rank <= {TOP_K}) a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """)
    return "".join(parts)


@query(
    "sim_rerank_recall_eval",
    oracle=_rerank_recall_oracle_sql(),
    tags=("similarity", "ann", "ivf", "pq", "rerank", "quality"),
)
def sim_rerank_recall_eval(spark, sf_dir):
    """Recall@k of the TWO-STAGE (IVF-PQ + exact re-rank) retrieval against
    the exact scan — the measurement that justifies paying for stage 2:
    compared per query with sim_recall_eval's un-reranked number, the
    delta is exactly the recall PQ compression was costing. The guarantee
    (re-rank can never lose a hit the ADC top-k had, because a true
    top-k member in the candidate pool can be outranked only by other
    true members) is pinned as an inequality test in tests/test_ext.py;
    this query reports the measured values through the driver gate.

    Same single-materialization discipline as sim_recall_eval: one
    checkpoint feeds the index search, the candidate re-rank, and the
    exact ground truth."""
    both = _ivfpq_vec_checkpoint(spark, sf_dir, "rerank_recall")
    exact = _exact_topk(both)
    cand = _ivfpq_search(both, k=RERANK_C).select("query_id", "neighbor_id")
    approx = (
        _rerank_exact(both, cand)
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    return _recall_agg(exact, approx)


# SemDeDup cosine threshold: a pair above this within one trained cell is a
# semantic duplicate. Compared on the 1e-6-rounded cosine (the engine-parity
# grid); 0.35 sits in the fixture's near-dup band at every SF (several
# hundred qualifying pairs at sf0.01) with both kept classes populated.
SEMDEDUP_TAU = 0.35


def _semantic_decision_ctes(spark_dialect: bool) -> str:
    """The SemDeDup decision as continuation CTEs after the unrolled
    k-means training prefix — same text on both engines modulo the
    dot-product spelling and Spark's D-suffixed double literals. ``mem``
    ranks each cell's members by centroid distance on the scaled-integer
    grid; a member is DROPPED iff some STRICTLY CLOSER member (d_i, vec_id
    lexicographic — the total order both engines share) has rounded cosine
    >= SEMDEDUP_TAU with it, so every duplicate group keeps exactly its
    centroid-closest representative and the decision needs no iteration.
    Exposes ``semdecision`` (vec_id, cluster_id, kept, max_closer_sim) for
    the standalone query and the curation capstone alike."""
    fin = KM_ITERS
    d = "D" if spark_dialect else ""
    dot = (_km_dot_sql("x.v", "y.v") if spark_dialect
           else "list_dot_product(x.v, y.v)")
    cosr = (f"floor({dot} / (sqrt(x.vv) * sqrt(y.vv)) * {KM_SCALE}{d}"
            f" + 0.5{d}) / {KM_SCALE}{d}")
    int_t = "INT" if spark_dialect else "INTEGER"
    return f"""
    , mem AS (
      SELECT a.vec_id, a.cid, a.v, v2.vv,
             CAST(floor(a.d * {KM_SCALE}{d} + 0.5{d}) AS BIGINT) AS d_i
      FROM a{fin} a JOIN vecs v2 ON v2.vec_id = a.vec_id
    ),
    semdecision AS (
      SELECT x.vec_id, x.cid AS cluster_id,
             CAST(CASE WHEN max({cosr}) >= {SEMDEDUP_TAU}{d} THEN 0 ELSE 1 END
                  AS {int_t}) AS kept,
             max({cosr}) AS max_closer_sim
      FROM mem x LEFT JOIN mem y
        ON y.cid = x.cid
       AND (y.d_i < x.d_i OR (y.d_i = x.d_i AND y.vec_id < x.vec_id))
      GROUP BY x.vec_id, x.cid
    )"""


def _train_mem(e, tag: str):
    """Train the coarse quantizer over ``e`` (a (vec_id, embedding) frame)
    and CHECKPOINT the per-member rows (vec_id, cid, v, vv, d_i) — the
    SemDeDup decision self-joins this relation, and without the
    materialization Spark recomputes the whole unrolled training once per
    join side (plan-read r7: the training subtree appeared twice under the
    SortMergeJoin). One lazy localCheckpoint makes the self-join read the
    trained assignment instead of re-deriving it."""
    from .dedup import _sql_over

    fin = KM_ITERS
    vck = _vecs_ck(e, tag)
    cb, _ = _lloyd_train(vck, tag, _VECS_CK_BODY, pq=False)
    parts = _km_parts_spark(_VECS_CK_BODY)
    # a{fin} carries vv directly (r10) — the old `JOIN vecs v2 ON vec_id`
    # existed only to re-attach the self-dot and cost a corpus-sized join
    # per training; the oracle keeps its join text (same values either way)
    parts.append(f"""
    SELECT vec_id, cid, v, vv,
           CAST(floor(d * {KM_SCALE}D + 0.5D) AS BIGINT) AS d_i
    FROM a{fin}
    """)
    # No fan-out repartition despite the checkpoint now being scan-
    # partitioned (the driver-folded training removed the corpus-keyed
    # Exchange the old checkpoint froze): the SemDeDup pair join re-keys
    # both sides by cid regardless, so a round-robin here adds an
    # exchange without changing the join's parallelism (A/B-measured
    # neutral-to-negative, r10).
    return _sql_over(
        vck, tag, "".join(parts), _cb_args(cb)
    ).localCheckpoint(eager=False)


# The SemDeDup decision join is keyed on cid alone — KM_K (8) distinct join
# keys, so a shuffle join runs on at most KM_K tasks however many cores
# exist, and AQE's byte-based coalescing shrinks the ~MB member exchanges
# to ~1 partition while the pair EXPANSION (quadratic in cell occupancy)
# is orders of magnitude larger than the input bytes — exactly the
# _fan_out_derived hazard (ext/dedup.py), now fixed at the decision join
# (optimization r11, guide §2.5/§3.1). When the member relation's SOURCE
# is provably broadcast-small (below plan_gates.SEMDEDUP_BROADCAST_BYTES of
# parquet-footer-accurate scan estimate), the probe side is round-robined
# to cluster parallelism and the closer-member side broadcast: the cid
# Exchanges disappear and the per-pair dot/cosine work spreads over every
# core instead of <= KM_K coalesced tasks. Above the cap (real corpora,
# where members are corpus-sized and a broadcast would OOM — the
# sample_dedup_weights lesson) the original unhinted shuffle join stands.
# Values are identical either way: same pairs, same aggregate.
def _sem_spread_broadcast(x, y, mem, gate):
    """(x, y) spread and broadcast per the gate above, or None when the
    gate keeps the shuffle join."""
    if plan_gates.is_large(gate, total=plan_gates.SEMDEDUP_BROADCAST_BYTES):
        return None
    par = mem.sparkSession.sparkContext.defaultParallelism
    return x.repartition(par), F.broadcast(y)


def _semantic_decisions(mem, gate=None):
    """The SemDeDup decision over a checkpointed member relation — the
    Column-API twin of _semantic_decision_ctes's ``semdecision`` (same
    left-assoc expression order, same sequential-fold dot, same rounded
    grid, same (d_i, vec_id) closer-member total order), returning
    (vec_id, cluster_id, kept, max_closer_sim). ``gate``: a frame whose
    plan-size estimate bounds the member relation's source, enabling the
    spread+broadcast join shape (see _sem_spread_broadcast)."""
    x = mem.select(
        "vec_id", "cid",
        F.col("v").alias("x_v"), F.col("vv").alias("x_vv"),
        F.col("d_i").alias("x_d"),
    )
    y = mem.select(
        F.col("vec_id").alias("y_id"), F.col("cid").alias("y_cid"),
        F.col("v").alias("y_v"), F.col("vv").alias("y_vv"),
        F.col("d_i").alias("y_d"),
    )
    sb = _sem_spread_broadcast(x, y, mem, gate)
    if sb is not None:
        x, y = sb
    cond = (F.col("y_cid") == F.col("cid")) & (
        (F.col("y_d") < F.col("x_d"))
        | ((F.col("y_d") == F.col("x_d")) & (F.col("y_id") < F.col("vec_id")))
    )
    cosr = (
        F.floor(
            F.expr(_km_dot_sql("x_v", "y_v"))
            / (F.sqrt("x_vv") * F.sqrt("y_vv"))
            * F.lit(KM_SCALE)
            + F.lit(0.5)
        )
        / F.lit(KM_SCALE)
    )
    return (
        x.join(y, cond, "left")
        .groupBy(F.col("vec_id"), F.col("cid").alias("cluster_id"))
        .agg(
            F.when(F.max(cosr) >= F.lit(SEMDEDUP_TAU), 0)
            .otherwise(1)
            .cast("int")
            .alias("kept"),
            F.max(cosr).alias("max_closer_sim"),
        )
    )


def _semantic_oracle_sql() -> str:
    parts = _km_oracle_train_parts()
    parts.append(_semantic_decision_ctes(spark_dialect=False))
    parts.append("""
    SELECT vec_id, cluster_id, kept, max_closer_sim FROM semdecision
    """)
    return "".join(parts)


@query(
    "dedup_semantic",
    oracle=_semantic_oracle_sql(),
    tags=("dedup", "semantic", "kmeans", "embedding"),
)
def dedup_semantic(spark, sf_dir):
    """SemDeDup-style semantic pruning (VERDICT r6 "Next round" #5) — the
    embedding-space analogue of dedup_clusters, and the documented next
    rung for 100 TB curation after MinHash: cluster the corpus with the
    trained coarse quantizer (the sim_kmeans_cells plan, reused verbatim),
    then within each cell drop cosine-near-duplicates, keeping each
    duplicate group's centroid-closest member.

    The keep/drop rule is CLOSED-FORM, not iterative: members of a cell
    are totally ordered by (scaled-integer centroid distance, vec_id);
    a member is dropped iff a STRICTLY CLOSER member is within
    SEMDEDUP_TAU rounded cosine. The centroid-closest member of any
    duplicate group survives by construction, duplicates-of-duplicates
    collapse to that one representative in a single pass, and the whole
    decision is one within-cell pair join + groupBy — no union-find.
    Output is the full per-vector audit row (cluster, kept flag, the
    similarity that killed it — NULL for unchallenged members), which is
    what a curation pipeline joins back against the documents table.

    At 100 TB: the k-means training is the documented per-round
    single-pass cost; the pair join is PER-CELL all-pairs, so the
    codebook size is the work bound — KM_K is sized so cells hold ~√N
    rows (SemDeDup's own prescription), making within-cell pairs ~N per
    cell batch rather than N². Hot-cell overflow at real scale composes
    with the same capped-cell sub-bucketing the IVF family uses
    (with_capped_cell); on the fixture the cells are hundreds of rows
    and the exact semantics are oracle-checked end-to-end. Engine
    parity: distances and cosines compare on the 1e-6 floor grid with
    sequential-fold dots — tools/scale_smoke.py carries a per-cell
    occupancy/work section for the 10-100x fixtures.

    The trained member relation is CHECKPOINTED before the decision
    self-join (plan-read r7: the unrolled training otherwise executes
    once per join side)."""
    e = load(spark, sf_dir, "embeddings")
    return _semantic_decisions(_train_mem(e, "semdedup"), gate=e)


# --- capped-cell SemDeDup (VERDICT r7 "Next round" #2) -----------------------

# Engages at EVERY fixture SF (trained cells run 49-71 members at sf<=0.01,
# 226-262 at sf0.1) while leaving both branches populated at grading scale:
# sf0.01 trains 3 cells at/below the cap (exact per-cell semantics) and 5
# above it (sub-bucketed) — the oracle models both, so the scale safety
# valve is part of the correctness contract, not an untested assertion.
SEMDEDUP_CELL_CAP = 60


def _with_mem_sub_bucket(mem, cell_cap: int = SEMDEDUP_CELL_CAP):
    """Append with_capped_cell's (cell, sub_bucket) key to a trained member
    relation: 0 for members of cells at/below ``cell_cap`` (capping
    inactive), the seeded RP sign-sketch bucket over the member vector for
    hot cells — the same deterministic explicit-fold expression
    (_rp_bucket_sql, shared constants N_SUB_BITS/SUB_SEED) the IVF family
    caps with, applied to the ``v`` column mem already carries. The cell
    profile is one tiny aggregate broadcast back onto the members; the
    augmented relation is checkpointed because the decision self-joins it
    (without the cut the sizes join + 256-term bucket fold would run once
    per join side)."""
    sizes = mem.groupBy("cid").agg(F.count("*").alias("__cell_n"))
    bucket = _rp_bucket_sql(
        "v", one_based=False, dim=EMB_DIM, n_bits=N_SUB_BITS, seed=SUB_SEED
    )
    return (
        mem.join(F.broadcast(sizes), "cid")
        .withColumn(
            "sub_bucket",
            F.when(F.col("__cell_n") > cell_cap, F.expr(bucket))
            .otherwise(F.lit(0))
            .cast("int"),
        )
        .drop("__cell_n")
        .localCheckpoint(eager=False)
    )


def _semantic_decisions_capped(memc, gate=None):
    """_semantic_decisions with the pair join restricted to (cell,
    sub_bucket) — the capped decision: a member is dropped iff a strictly
    closer member WITHIN ITS SUB-BUCKET is within SEMDEDUP_TAU. Capping
    trades recall (cross-sub-bucket duplicates in a hot cell are not
    compared — the standard LSH-style miss class) for the per-task pair
    bound (cell/2^bits)^2; the oracle models the identical restriction so
    the trade is hash-checked, not asserted. ``gate`` enables the same
    spread+broadcast join shape as _semantic_decisions (the key space is
    wider — (cell, sub_bucket) — but still codebook-bounded, far below
    cluster parallelism)."""
    x = memc.select(
        "vec_id", "cid", "sub_bucket",
        F.col("v").alias("x_v"), F.col("vv").alias("x_vv"),
        F.col("d_i").alias("x_d"),
    )
    y = memc.select(
        F.col("vec_id").alias("y_id"), F.col("cid").alias("y_cid"),
        F.col("sub_bucket").alias("y_sub"),
        F.col("v").alias("y_v"), F.col("vv").alias("y_vv"),
        F.col("d_i").alias("y_d"),
    )
    sb = _sem_spread_broadcast(x, y, memc, gate)
    if sb is not None:
        x, y = sb
    cond = (
        (F.col("y_cid") == F.col("cid"))
        & (F.col("y_sub") == F.col("sub_bucket"))
        & (
            (F.col("y_d") < F.col("x_d"))
            | ((F.col("y_d") == F.col("x_d")) & (F.col("y_id") < F.col("vec_id")))
        )
    )
    cosr = (
        F.floor(
            F.expr(_km_dot_sql("x_v", "y_v"))
            / (F.sqrt("x_vv") * F.sqrt("y_vv"))
            * F.lit(KM_SCALE)
            + F.lit(0.5)
        )
        / F.lit(KM_SCALE)
    )
    return (
        x.join(y, cond, "left")
        .groupBy(
            F.col("vec_id"),
            F.col("cid").alias("cluster_id"),
            F.col("sub_bucket"),
        )
        .agg(
            F.when(F.max(cosr) >= F.lit(SEMDEDUP_TAU), 0)
            .otherwise(1)
            .cast("int")
            .alias("kept"),
            F.max(cosr).alias("max_closer_sim"),
        )
    )


def _semantic_capped_oracle_sql(cell_cap: int = SEMDEDUP_CELL_CAP) -> str:
    """The capped decision as DuckDB CTEs after the unrolled training: the
    SAME mem relation, the cell-size profile, with_capped_cell's
    sub-bucket CASE over the member vector (one-based indexing), and the
    semdecision join carrying the sub_bucket equality — textually the
    restriction _semantic_decisions_capped applies."""
    fin = KM_ITERS
    bucket = _rp_bucket_sql(
        "m.v", one_based=True, dim=EMB_DIM, n_bits=N_SUB_BITS, seed=SUB_SEED
    )
    cosr = (f"floor(list_dot_product(x.v, y.v) / (sqrt(x.vv) * sqrt(y.vv))"
            f" * {KM_SCALE} + 0.5) / {KM_SCALE}")
    parts = _km_oracle_train_parts()
    parts.append(f"""
    , mem AS (
      SELECT a.vec_id, a.cid, a.v, v2.vv,
             CAST(floor(a.d * {KM_SCALE} + 0.5) AS BIGINT) AS d_i
      FROM a{fin} a JOIN vecs v2 ON v2.vec_id = a.vec_id
    ),
    cellsz AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n FROM mem GROUP BY cid
    ),
    memc AS (
      SELECT m.vec_id, m.cid, m.v, m.vv, m.d_i,
             CAST(CASE WHEN s.n > {cell_cap} THEN {bucket} ELSE 0 END
                  AS INTEGER) AS sub_bucket
      FROM mem m JOIN cellsz s ON s.cid = m.cid
    ),
    semdecision AS (
      SELECT x.vec_id, x.cid AS cluster_id, x.sub_bucket,
             CAST(CASE WHEN max({cosr}) >= {SEMDEDUP_TAU} THEN 0 ELSE 1 END
                  AS INTEGER) AS kept,
             max({cosr}) AS max_closer_sim
      FROM memc x LEFT JOIN memc y
        ON y.cid = x.cid AND y.sub_bucket = x.sub_bucket
       AND (y.d_i < x.d_i OR (y.d_i = x.d_i AND y.vec_id < x.vec_id))
      GROUP BY x.vec_id, x.cid, x.sub_bucket
    )
    SELECT vec_id, cluster_id, sub_bucket, kept, max_closer_sim
    FROM semdecision
    """)
    return "".join(parts)


@query(
    "dedup_semantic_capped",
    oracle=_semantic_capped_oracle_sql(),
    tags=("dedup", "semantic", "kmeans", "embedding", "capped"),
)
def dedup_semantic_capped(spark, sf_dir):
    """dedup_semantic with the hot-cell safety valve EXECUTED, not asserted
    (VERDICT r7 "Next round" #2): members of cells above SEMDEDUP_CELL_CAP
    carry with_capped_cell's RP sign-sketch sub-bucket, and the
    closer-member pair join runs within (cell, sub_bucket) — bounding the
    hottest cell's pair work by ~(cell/2^N_SUB_BITS)^2 instead of cell^2,
    the same composition the IVF family uses. Cells at/below the cap keep
    sub_bucket 0 and dedup_semantic's exact per-cell semantics.

    The cap is ACTIVE at every fixture SF (see SEMDEDUP_CELL_CAP note), so
    the driver row proves the capped decision itself: the oracle restricts
    its pair join by the identical sub_bucket CASE, making the documented
    recall trade (cross-sub-bucket duplicates in a hot cell are not
    compared) part of the hash contract. The per-task pair bound at scale
    is measured by tools/scale_smoke.py's semdedup-capped section; kept
    counts are monotone vs dedup_semantic (capping only removes
    challengers), pinned in tests/test_r8_queries.py."""
    e = load(spark, sf_dir, "embeddings")
    memc = _with_mem_sub_bucket(_train_mem(e, "semdedup_capped"))
    return _semantic_decisions_capped(memc, gate=e)


# --- incremental index maintenance (VERDICT r8 "Next round" #6) --------------

# The already-indexed corpus trains the quantizer; vec_id % 4 == 1 is the
# NEW batch arriving after training — the recurring-ingest twin of
# dedup_incremental_snapshot's snapshot/batch split.
_INC_BATCH_PRED = "vec_id % 4 = 1"


def _ivf_incremental_oracle_sql() -> str:
    """sim_ivf_incremental_assign's oracle: the unrolled k-means training
    CTEs over the TRAIN subset only, then one assignment pass of the NEW
    batch against the FINAL codebook (no further Lloyd update — that is the
    point), then per-cell occupancy + mean-distance drift via the exact
    scaled-integer-sum discipline."""
    parts = _km_oracle_train_parts(
        src=f"(SELECT vec_id, embedding FROM embeddings"
            f" WHERE NOT ({_INC_BATCH_PRED}))"
    )
    fin = KM_ITERS
    parts.append(f"""
    , nvecs AS (
      SELECT vec_id, v, list_dot_product(v, v) AS vv
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            WHERE {_INC_BATCH_PRED})
    ),
    nsc AS (
      SELECT n.vec_id, c.cid,
             (n.vv - 2 * list_dot_product(n.v, c.c) + c.cc) AS d
      FROM nvecs n CROSS JOIN (
        SELECT cid, c, list_dot_product(c, c) AS cc FROM c{fin}
      ) c
    ),
    na AS (
      SELECT vec_id, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY d, cid) AS rn
        FROM nsc
      ) WHERE rn = 1
    ),
    ts AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_train,
             sum(CAST(floor(d * {KM_SCALE} + 0.5) AS BIGINT)) AS sd
      FROM a{fin} GROUP BY cid
    ),
    ns AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_new,
             sum(CAST(floor(d * {KM_SCALE} + 0.5) AS BIGINT)) AS sd
      FROM na GROUP BY cid
    )
    SELECT COALESCE(ts.cid, ns.cid) AS cluster_id,
           COALESCE(ts.n_train, 0) AS n_train,
           COALESCE(ns.n_new, 0) AS n_new,
           COALESCE(ts.n_train, 0) + COALESCE(ns.n_new, 0) AS n_total,
           floor(CAST(ts.sd AS DOUBLE) / ts.n_train + 0.5)
             / {KM_SCALE} AS train_mean_d,
           floor(CAST(ns.sd AS DOUBLE) / ns.n_new + 0.5)
             / {KM_SCALE} AS new_mean_d,
           (floor(CAST(ns.sd AS DOUBLE) / ns.n_new + 0.5)
            - floor(CAST(ts.sd AS DOUBLE) / ts.n_train + 0.5))
             / {KM_SCALE} AS drift_d
    FROM ts FULL OUTER JOIN ns ON ts.cid = ns.cid
    """)
    return "".join(parts)


@query(
    "sim_ivf_incremental_assign",
    oracle=_ivf_incremental_oracle_sql(),
    tags=("similarity", "ann", "ivf", "incremental", "drift"),
)
def sim_ivf_incremental_assign(spark, sf_dir):
    """Incremental IVF index maintenance — the ANN twin of
    dedup_incremental_snapshot (VERDICT r8 "Next round" #6): a NEW batch of
    vectors is assigned to the ALREADY-TRAINED coarse-quantizer centroids
    in one broadcast pass (no retraining), and the per-cell report carries
    what an index operator actually watches — updated occupancy
    (n_train/n_new/n_total) and a DRIFT statistic (the new batch's mean
    distance-to-centroid minus the training run's) that tells the pipeline
    when the codebook has gone stale and retraining is due.

    The trained state is materialized ONCE as a kind-tagged union (the
    sim_ivf_trained_multiprobe checkpoint discipline): kind 0 = the
    training assignment's (cid, d) rows, kind 1 = the final codebook rows
    with their precomputed self-dots. Everything downstream — training
    stats, the codebook broadcast, the batch assignment — consumes the
    checkpoint, so the executed plan contains NO Lloyd stage above it: the
    batch side is exactly ONE parquet scan cross-joined against the
    broadcast KM_K-row codebook, reduced by the partial-aggregable
    min(struct(d, cid)) argmin (pinned in tests/test_plan_pins.py). In
    production the codebook and training stats are read from the stored
    index instead of derived in-plan; the batch pass — the part that runs
    on every ingest — is the plan this query pins.

    At 100 TB: assignment cost is ONE batch pass with a KM_K x EMB_DIM
    broadcast (bounded by the codebook constant, never the corpus); the
    drift report is two tiny aggregates full-outer-joined on cid. Engine
    parity follows the kmeans family rules: sequential-fold dot products,
    means via exact scaled-integer sums (per-row 1e-6-rounded distance ->
    bigint -> exact sum -> one double division, rounded back to the grid),
    drift as the difference of the two integer-scaled means."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    fin = KM_ITERS
    # training head over the filtered vecs (the new batch excluded),
    # driver-folded (_lloyd_train)
    train_body = _km_vecs_body(f"NOT ({_INC_BATCH_PRED})")
    cb, _ = _lloyd_train(e, "ivfinc", train_body, pq=False)
    parts = _km_parts_spark(train_body)
    parts.append(f"""
    SELECT 0 AS kind, cid, d,
           CAST(NULL AS ARRAY<DOUBLE>) AS c, CAST(NULL AS DOUBLE) AS cc
    FROM a{fin}
    UNION ALL
    SELECT 1 AS kind, cid, CAST(NULL AS DOUBLE) AS d, c, cc FROM c{fin}
    """)
    trained = _sql_over(
        e, "ivfinc", "".join(parts), _cb_args(cb)
    ).localCheckpoint(eager=False)

    scaled_d = F.floor(F.col("d") * F.lit(KM_SCALE) + F.lit(0.5)).cast("long")
    train_stats = (
        trained.filter(F.col("kind") == 0)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(scaled_d).alias("tsd"),
        )
    )

    codebook = trained.filter(F.col("kind") == 1).select("cid", "c", "cc")
    batch = e.filter(F.expr(_INC_BATCH_PRED)).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scored = (
        batch.withColumn("vv", F.expr(_km_dot_sql("v", "v")))
        .crossJoin(F.broadcast(codebook))
        .withColumn(
            "d", F.expr(f"(vv - 2.0D * {_km_dot_sql('v', 'c')} + cc)")
        )
    )
    na = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("best"))
        .select(F.col("best.cid").alias("cid"), F.col("best.d").alias("d"))
    )
    new_stats = na.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(scaled_d).alias("nsd"),
    )

    out = train_stats.join(new_stats, ["cid"], "full_outer")
    tms = F.floor(F.col("tsd").cast("double") / F.col("n_train") + F.lit(0.5))
    nms = F.floor(F.col("nsd").cast("double") / F.col("n_new") + F.lit(0.5))
    zero = F.lit(0).cast("long")
    return out.select(
        F.col("cid").cast("int").alias("cluster_id"),
        F.coalesce(F.col("n_train"), zero).alias("n_train"),
        F.coalesce(F.col("n_new"), zero).alias("n_new"),
        (F.coalesce(F.col("n_train"), zero) + F.coalesce(F.col("n_new"), zero))
        .alias("n_total"),
        (tms / F.lit(KM_SCALE)).alias("train_mean_d"),
        (nms / F.lit(KM_SCALE)).alias("new_mean_d"),
        ((nms - tms) / F.lit(KM_SCALE)).alias("drift_d"),
    )


# --- mini-batch codebook update (VERDICT r9 #8) ------------------------------


def _minibatch_oracle_sql() -> str:
    """sim_ivf_minibatch_update's oracle: train over the indexed subset
    (unrolled Lloyd CTEs), assign ALL vectors (train + arriving batch) to
    the final codebook in one pass, rebuild each cell's centroid as the
    exact scaled-integer running mean over its members, and report the
    per-cell before/after distortion plus the updated centroid's norm."""
    parts = _km_oracle_train_parts(
        src="(SELECT vec_id, embedding FROM embeddings"
            " WHERE NOT (vec_id % 4 = 1))"
    )
    fin = KM_ITERS
    ssum = ", ".join(
        f"sum(CAST(floor(v[{p}] * {KM_SCALE} + 0.5) AS BIGINT)) AS s{p}"
        for p in range(1, EMB_DIM + 1)
    )
    cterms = ", ".join(
        f"floor(CAST(s{p} AS DOUBLE) / (n_train + n_new) + 0.5) / {KM_SCALE}"
        for p in range(1, EMB_DIM + 1)
    )
    parts.append(f"""
    , allv AS (
      SELECT vec_id, (vec_id % 4 = 1) AS is_new, v,
             list_dot_product(v, v) AS vv
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    ),
    cbo AS (SELECT cid, c, list_dot_product(c, c) AS cc FROM c{fin}),
    msc AS (
      SELECT a.vec_id, a.is_new, a.v, a.vv, c.cid,
             (a.vv - 2 * list_dot_product(a.v, c.c) + c.cc) AS d
      FROM allv a CROSS JOIN cbo c
    ),
    mem AS (
      SELECT vec_id, is_new, v, vv, cid, d FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY d, cid) AS rn
        FROM msc
      ) WHERE rn = 1
    ),
    cell AS (
      SELECT cid,
             CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
               AS n_train,
             CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_new,
             sum(CAST(floor(d * {KM_SCALE} + 0.5) AS BIGINT)) AS sdb,
             {ssum}
      FROM mem GROUP BY cid
    ),
    cnew AS (
      SELECT cid, n_train, n_new, sdb, [{cterms}] AS c
      FROM cell
    ),
    aft AS (
      SELECT m.cid,
             sum(CAST(floor((m.vv - 2 * list_dot_product(m.v, cn.c)
                             + list_dot_product(cn.c, cn.c))
                            * {KM_SCALE} + 0.5) AS BIGINT)) AS sda
      FROM mem m JOIN cnew cn ON m.cid = cn.cid
      GROUP BY m.cid
    )
    SELECT CAST(cn.cid AS INTEGER) AS cluster_id,
           cn.n_train, cn.n_new, cn.n_train + cn.n_new AS n_total,
           floor(CAST(cn.sdb AS DOUBLE) / (cn.n_train + cn.n_new) + 0.5)
             / {KM_SCALE} AS d_before,
           floor(CAST(a.sda AS DOUBLE) / (cn.n_train + cn.n_new) + 0.5)
             / {KM_SCALE} AS d_after,
           floor(sqrt(list_dot_product(cn.c, cn.c)) * {KM_SCALE} + 0.5)
             / {KM_SCALE} AS centroid_norm_new
    FROM cnew cn JOIN aft a ON cn.cid = a.cid
    """)
    return "".join(parts)


@query(
    "sim_ivf_minibatch_update",
    oracle=_minibatch_oracle_sql(),
    tags=("similarity", "ann", "ivf", "incremental", "minibatch"),
)
def sim_ivf_minibatch_update(spark, sf_dir):
    """Mini-batch codebook update — the retrain rung
    sim_ivf_incremental_assign's drift report calls for: the arriving
    batch is APPLIED to the centroids instead of merely measured against
    them. Each cell's new centroid is the exact scaled-integer RUNNING
    mean over its members (train + batch): per-coordinate sums of
    1e-6-rounded values as BIGINTs — order-insensitive, overflow-safe at
    corpus scale (|v| <= O(1) -> micro-units ~1e6/row -> ~9e12 rows to
    saturate int64 per cell-coordinate), and MERGEABLE, which is the
    100 TB property: per-cell (count, 64 coordinate sums) is constant-size
    state a streaming ingest can fold batch after batch (Sculley's
    mini-batch k-means update in closed form) without revisiting history.
    One double division per coordinate at the end, rounded back to the
    1e-6 grid — the kmeans family's engine-parity rules throughout.

    Emitted per cell: occupancy split (n_train/n_new/n_total), the
    distortion BEFORE (members' mean distance to the old centroid) and
    AFTER (to the updated centroid), and the updated centroid's norm (a
    64-coordinate witness of the new codebook). For fixed membership the
    mean minimizes summed squared distance, so d_after <= d_before up to
    the 1e-6 rounding grid — asserted per-cell in tests and watched by the
    scale smoke (distortion non-increasing on the training slice).

    Plan: the membership relation ``mem`` (vec_id, v, cid, d over ALL
    vectors) is materialized ONCE as a localCheckpoint — it feeds both the
    cell aggregate and the after-distortion pass, and Spark inlines CTEs,
    so without the checkpoint the entire Lloyd training + assignment
    upstream executed once per consumer (caught in the r10 plan audit).
    Downstream is checkpoint-bounded: one 64+3-column cell aggregate, the
    8-row updated codebook (itself checkpointed — two tiny consumers), one
    broadcast join back over mem for the after-distortion — no second
    Lloyd loop, no window over the corpus."""
    from .dedup import _sql_over

    e = load(spark, sf_dir, "embeddings")
    fin = KM_ITERS
    train_body = _km_vecs_body("NOT (vec_id % 4 = 1)")
    cb, _ = _lloyd_train(e, "ivfmb", train_body, pq=False)
    parts = _km_parts_spark(train_body)
    cterms = ", ".join(
        f"floor(CAST(s{p} AS DOUBLE) / (n_train + n_new) + 0.5D)"
        f" / {KM_SCALE}D"
        for p in range(EMB_DIM)
    )
    # the full-corpus assignment is row-wise against the bound codebook
    # (the same (d, cid) array_min argmin the training uses) — no corpus
    # crossJoin + groupBy(vec_id) Exchange (optimization r10; identical
    # values: d = vv - 2<v,c> + cc over the same centroids)
    parts.append(f"""
    , allv AS (
      SELECT vec_id, (vec_id % 4 = 1) AS is_new, v,
             {_km_dot_sql("v", "v")} AS vv
      FROM (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM {{v}})
    )
    SELECT vec_id, is_new, v, vv, best.cid AS cid, best.d AS d FROM (
      SELECT vec_id, is_new, v, vv, array_min({_KM_SCORES}) AS best FROM allv
    )
    """)
    # mem feeds two consumers (cell aggregate, after-distortion pass);
    # checkpoint so the Lloyd training above runs once, not per consumer
    mem = _sql_over(
        e, "ivf_minibatch_mem", "".join(parts), _cb_args(cb)
    ).localCheckpoint(eager=False)
    cell_aggs = [
        F.expr("CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)")
        .alias("n_train"),
        F.expr("CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)")
        .alias("n_new"),
        F.expr(f"sum(CAST(floor(d * {KM_SCALE}D + 0.5D) AS BIGINT))")
        .alias("sdb"),
    ] + [
        F.expr(f"sum(CAST(floor(v[{p}] * {KM_SCALE}D + 0.5D) AS BIGINT))")
        .alias(f"s{p}")
        for p in range(EMB_DIM)
    ]
    cell = mem.groupBy("cid").agg(*cell_aggs)
    # the 8-row updated codebook, also two consumers — checkpoint
    cnew = cell.select(
        "cid", "n_train", "n_new", "sdb",
        F.expr(f"array({cterms})").alias("c"),
    ).withColumn("ccn", F.expr(_km_dot_sql("c", "c"))).localCheckpoint(
        eager=False
    )
    codebook = cnew.select("cid", "c", "ccn")
    aft = (
        mem.join(F.broadcast(codebook), "cid")
        .select(
            "cid",
            F.expr(
                f"CAST(floor((vv - 2.0D * {_km_dot_sql('v', 'c')} + ccn)"
                f" * {KM_SCALE}D + 0.5D) AS BIGINT)"
            ).alias("sd"),
        )
        .groupBy("cid")
        .agg(F.sum("sd").alias("sda"))
    )
    n_tot = F.col("n_train") + F.col("n_new")
    return cnew.join(aft, "cid").select(
        F.col("cid").cast("int").alias("cluster_id"),
        "n_train",
        "n_new",
        n_tot.alias("n_total"),
        (F.floor(F.col("sdb").cast("double") / n_tot + F.lit(0.5))
         / F.lit(KM_SCALE)).alias("d_before"),
        (F.floor(F.col("sda").cast("double") / n_tot + F.lit(0.5))
         / F.lit(KM_SCALE)).alias("d_after"),
        (F.floor(F.sqrt(F.col("ccn")) * F.lit(KM_SCALE) + F.lit(0.5))
         / F.lit(KM_SCALE)).alias("centroid_norm_new"),
    )
