"""Similarity search over the ``embeddings`` table (64-dim float
vectors) — SURVEY.md §2.5 north-star extensions.

Numeric determinism strategy for the oracle compare: all dot products
are computed as left-to-right sequential folds over float32 values
cast to float64 (``aggregate`` in Spark, ``list_dot_product`` over
``DOUBLE[]`` in DuckDB), cosines are rounded to 6 decimals on both
sides, and rankings order by the *rounded* cosine with the neighbor id
as tiebreak — so rank boundaries cannot flip on last-bit differences.

Scale design: brute-force top-k is the correctness baseline and is
linear in corpus size per query (queries × corpus, broadcast query
side). The scale path is the LSH variant: random-hyperplane signatures
bucket the corpus, the join is an equality join on the bucket key, and
only in-bucket candidates are scored — O(corpus/2^bits) work per
query. Hyperplanes are a fixed seeded literal so both engines use the
identical projection.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rs_streamloader_spark.functions.moments import (
    nano_moment_aggs,
    nano_moment_aggs_sql,
    nano_mu,
    nano_mu_sql,
    nano_sigma_samp,
    nano_sigma_samp_sql,
)
from rs_streamloader_spark.functions.vector import dot_expr, nano_mean, nano_mean_sql, norm_expr
from rs_streamloader_spark.functions.wasserstein import (
    w1_pair_cte_sql,
    w1_pair_micro,
)
from rs_streamloader_spark.operators.registry import REGISTRY, register
from rs_streamloader_spark.session import load_tables, spread, stage_cached

N_QUERIES = 20  # vec_id < 20 are the query set
TOP_K = 5
COSINE_THRESHOLD = 0.35
EMB_DIM = 64
N_HYPERPLANES = 8

# deterministic hyperplanes, shared verbatim by Spark and the oracle
_rng = np.random.RandomState(42)
HYPERPLANES: list[list[float]] = [
    [round(float(x), 6) for x in _rng.randn(EMB_DIM)] for _ in range(N_HYPERPLANES)
]

# the near-dup banding needs its own (larger) hyperplane set: recall at
# a LOW cosine threshold is governed by 1-(1-p^r)^b with p = 1-θ/π, and
# θ(0.35) ≈ 69.5° gives p ≈ 0.614 — so 10 bands × 3 rows (30 planes)
# puts boundary recall at ~0.89 and measured recall ≥ 0.9 (the pair
# distribution sits above the boundary), where the old 2 × 4 structure
# measured only 0.30. Independent seed so the ANN bucket/IVF structures
# (8 planes, seed 42) are untouched.
NEARDUP_BANDS = 10
NEARDUP_ROWS = 3
_nd_rng = np.random.RandomState(4242)
NEARDUP_HYPERPLANES: list[list[float]] = [
    [round(float(x), 6) for x in _nd_rng.randn(EMB_DIM)]
    for _ in range(NEARDUP_BANDS * NEARDUP_ROWS)
]


_dot = dot_expr  # shared deterministic fold (functions/vector.py)


def _with_norm(df: DataFrame, emb: str = "embedding") -> DataFrame:
    return df.withColumn("norm", norm_expr(emb))


def _proj_expr(emb: str, hp: list[float]) -> str:
    lit = "array(" + ", ".join(f"{v}D" for v in hp) + ")"
    return (
        f"aggregate(zip_with({emb}, {lit}, (x, y) -> CAST(x AS DOUBLE) * y),"
        f" 0D, (acc, v) -> acc + v)"
    )


def _emb_norm_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached stage for the similarity family: the spread
    embeddings table with the vector norm AND the {N_HYPERPLANES}
    hyperplane/centroid projections precomputed — LSH buckets, near-dup
    bands, and IVF cells are all sign/argmax views over the same
    ``projs`` column, so the 64-dim folds run once per vector for the
    whole family (and once per vector ever, on a warm cache)."""
    def build() -> DataFrame:
        t = spread(load_tables(spark, sf_dir, "embeddings")["embeddings"])
        projs = F.expr(
            "array(" + ", ".join(_proj_expr("embedding", hp) for hp in HYPERPLANES) + ")"
        )
        nd_projs = F.expr(
            "array("
            + ", ".join(_proj_expr("embedding", hp) for hp in NEARDUP_HYPERPLANES)
            + ")"
        )
        return (
            _with_norm(t)
            .withColumn("projs", projs)
            .withColumn("nd_projs", nd_projs)
        )

    return stage_cached(spark, sf_dir, "emb_norm", build)


_DUCK_COS = (
    "LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
    " / (SQRT(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
    " * SQRT(LIST_DOT_PRODUCT(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
)


@register(
    "ann_topk_bruteforce",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_COS}, 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id
             ) AS rn
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ) WHERE rn <= {TOP_K}
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    full corpus — scored corpus-side in parallel, ranked per query.
    Linear in corpus size; this is the correctness baseline for the
    LSH variant."""
    t = _emb_norm_cached(spark, sf_dir)
    corpus = t.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    queries = t.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    cos = F.round(
        _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(queries)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


# Count-adaptive blocking for the all-pairs scorer: the number of
# blocks grows with the corpus so each (block_i, block_j) task scores
# at most a BLOCK_TARGET × BLOCK_TARGET matrix — per-task memory is a
# CONSTANT (~2048² doubles ≈ 33 MB for the cosine matrix) at any
# corpus size, instead of (corpus/8)² with the old fixed 8 blocks
# (which OOMs a task somewhere past ~10⁵ vectors).  Total replicated
# rows are n·n_blocks ≈ n²/BLOCK_TARGET — inherent to exact all-pairs
# work, spread over n_blocks² bounded tasks.  Blocking never changes
# results: every unordered pair is scored in exactly one group.
BLOCK_TARGET = 2048
MIN_BLOCKS = 1

#: embeddings-count memo per (applicationId, sf_dir) — see
#: _block_exact_pairs. ASSUMES sf_dir contents are immutable for the
#: lifetime of the Spark application (true for the driver's testdata
#: and every tool in this repo; same assumption the stage_cached
#: DataFrames make). If data at sf_dir were regenerated mid-session,
#: results would stay CORRECT — blocking is count-invariant — but a
#: stale n could size n_blocks under the new corpus and let a block
#: pair exceed the BLOCK_TARGET² per-task memory bound. Tests that
#: monkeypatch blocking clear this dict explicitly (ADVICE r7).
_COUNT_CACHE: dict = {}


def _n_blocks(n: int) -> int:
    import math

    return max(MIN_BLOCKS, math.ceil(n / float(BLOCK_TARGET)))


def _block_pair_scores(pdf):
    """One (block_i, block_j) group: numpy matmul over the two blocks'
    matrices, emit id-ordered pairs above threshold. Memory is bounded
    by 2·BLOCK_TARGET vectors per group."""
    import numpy as np
    import pandas as pd

    within = bool(pdf["bi"].iloc[0] == pdf["bj"].iloc[0])
    a_rows = pdf[pdf["side"] == "a"]
    b_rows = a_rows if within else pdf[pdf["side"] == "b"]
    if a_rows.empty or b_rows.empty:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
        )
    ma = np.vstack(a_rows["embedding"].to_numpy()).astype("float64")
    mb = np.vstack(b_rows["embedding"].to_numpy()).astype("float64")
    ids_a = a_rows["vec_id"].to_numpy()
    ids_b = b_rows["vec_id"].to_numpy()
    cos = (ma @ mb.T) / np.outer(
        np.sqrt((ma * ma).sum(1)), np.sqrt((mb * mb).sum(1))
    )
    # round half-AWAY-from-zero like SQL ROUND (np.round is half-even,
    # which can disagree with the oracle exactly on a .5e-6 boundary);
    # residual risk is BLAS summation order vs the oracle's sequential
    # fold flipping a last bit within ~1e-13 of a boundary — noted in
    # the operator docstring
    cos = np.copysign(np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6, cos)
    hot = cos >= COSINE_THRESHOLD
    lt = ids_a[:, None] < ids_b[None, :]
    i1, j1 = np.nonzero(hot & lt)  # a-side id smaller → (a, b)
    out = [pd.DataFrame({"vec_a": ids_a[i1], "vec_b": ids_b[j1], "cosine": cos[i1, j1]})]
    if not within:  # b-side id smaller → orient as (b, a)
        i2, j2 = np.nonzero(hot & ~lt)
        out.append(
            pd.DataFrame({"vec_a": ids_b[j2], "vec_b": ids_a[i2], "cosine": cos[i2, j2]})
        )
    return pd.concat(out, ignore_index=True)


@register(
    "embedding_near_dup",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_DUCK_COS}, 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND({_DUCK_COS}, 6) >= {COSINE_THRESHOLD}
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold, via
    block-partitioned pairwise scoring: vectors hash into a
    count-adaptive number of blocks (ceil(n / BLOCK_TARGET)), each row
    is replicated to its (min(b,k), max(b,k)) block pairs, and each
    pair group scores a bounded numpy matrix product (Arrow-batched
    ``applyInPandas``).

    This is the 100 TB shape of exact all-pairs similarity: work and
    memory per task are bounded by BLOCK_TARGET² regardless of corpus
    size, replication factor is n_blocks, no driver involvement
    (the one driver-side value is the corpus COUNT, which sizes the
    blocking). Each unordered pair is
    scored in exactly one group. Results match the all-pairs oracle
    (cosines rounded half-away to 6dp on both sides); the one caveat
    is numpy's BLAS summation order vs the oracle's sequential fold —
    a pair whose cosine sits within ~1e-13 of a rounding or threshold
    boundary could in principle flip, which the exact fold-based
    queries (ann_*) do not risk."""
    return _block_exact_pairs(spark, sf_dir)


def _block_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked all-pairs threshold scorer (the body of
    ``embedding_near_dup``; also the scoring stage of the LSH variant
    — see its docstring for why scoring everything beats a candidate
    join at this threshold)."""
    t = _emb_norm_cached(spark, sf_dir)
    # the corpus count sizes the blocking; memoized per (app, sf_dir)
    # so constructing this plan repeatedly (catalog sweeps, explain
    # tooling) triggers the count job once, not per construction
    ck = (spark.sparkContext.applicationId, sf_dir)
    n = _COUNT_CACHE.get(ck)
    if n is None:
        n = t.count()
        _COUNT_CACHE[ck] = n
    n_blocks = _n_blocks(n)
    base = t.select("vec_id", "embedding", (F.col("vec_id") % n_blocks).alias("blk"))
    replicated = base.select(
        "vec_id",
        "embedding",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}), k -> struct("
                f" least(blk, k) AS bi, greatest(blk, k) AS bj,"
                f" CASE WHEN blk <= k THEN 'a' ELSE 'b' END AS side))"
            )
        ).alias("p"),
    ).select("vec_id", "embedding", "p.bi", "p.bj", "p.side")
    return replicated.groupBy("bi", "bj").applyInPandas(
        _block_pair_scores, schema="vec_a bigint, vec_b bigint, cosine double"
    )


def _duck_band(alias: str, hps: list[list[float]]) -> str:
    """Random-hyperplane sign bucket over a subset of hyperplanes for
    the oracle (same literal hyperplanes as the Spark side)."""
    terms = []
    for i, hp in enumerate(hps):
        lit = "[" + ", ".join(repr(v) for v in hp) + "]"
        terms.append(
            f"CASE WHEN LIST_DOT_PRODUCT(CAST({alias}.embedding AS DOUBLE[]),"
            f" CAST({lit} AS DOUBLE[])) > 0 THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def _duck_bucket(alias: str) -> str:
    return _duck_band(alias, HYPERPLANES)


def _spark_band(first_hp: int, n_hp: int, col: str = "projs"):
    """Sign bucket over ``n_hp`` consecutive precomputed projections
    (a cached projection-array column), starting at index ``first_hp``."""
    total = F.lit(0)
    for i in range(n_hp):
        proj = F.element_at(col, first_hp + i + 1)
        total = total + F.when(proj > 0, F.lit(1 << i)).otherwise(0)
    return total


def _spark_bucket():
    return _spark_band(0, N_HYPERPLANES)


def _duck_cell(alias: str, k: int = 1) -> str:
    """IVF cell for the oracle: 1-based position of the k-th largest
    fixed-centroid projection (k=1 ⟺ argmax — the assignment cell;
    k=2 — the second probe). First occurrence on exact-equality ties —
    both engines compute the identical sequential-fold dots, so ties
    agree on both sides."""
    dots = ", ".join(
        f"LIST_DOT_PRODUCT(CAST({alias}.embedding AS DOUBLE[]),"
        f" CAST([{', '.join(repr(v) for v in hp)}] AS DOUBLE[]))"
        for hp in HYPERPLANES
    )
    return f"LIST_POSITION([{dots}], LIST_SORT([{dots}], 'DESC')[{k}])"


def _spark_cell(k: int = 1):
    """1-based position of the k-th largest precomputed centroid
    projection (cached ``projs`` column)."""
    return F.expr(
        f"array_position(projs, element_at(sort_array(projs, false), {k}))"
    ).cast("int")


IVF_NPROBE = 2


def _duck_probe_cells(alias: str) -> str:
    """Oracle IN-list of the anchor's nprobe={IVF_NPROBE} probe cells,
    rendered from the SAME constant the Spark side uses — a hand-typed
    2-cell list would silently desync the engines if IVF_NPROBE ever
    changed (the one-side-edit failure class fuzzy_name_match hit)."""
    return ", ".join(_duck_cell(alias, k) for k in range(1, IVF_NPROBE + 1))


@register(
    "ann_ivf_cells",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_COS}, 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id
             ) AS rn
      FROM embeddings a JOIN embeddings b
        ON b.vec_id <> a.vec_id
       AND {_duck_cell('b')} IN ({_duck_probe_cells('a')})
      WHERE a.vec_id < {N_QUERIES}
    ) WHERE rn <= {TOP_K}
    """,
)
def ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a fixed deterministic coarse quantizer (argmax
    over {N_HYPERPLANES} centroid directions ≈ spherical k-means cells
    with frozen centroids) partitions the corpus; each query probes its
    nprobe={IVF_NPROBE} nearest cells and ranks exact cosine within
    them — probing the second-best cell recovers most boundary-vector
    recall loss (the classic IVF recall/latency dial); remaining misses
    are neighbors assigned to cells ranked below nprobe for the query.

    vs ``ann_lsh_bucketed``: IVF cells are data-direction-aligned
    (coarser, {N_HYPERPLANES} cells) while LSH gives 2^{N_HYPERPLANES}
    sign buckets — the two standard serving layouts. At scale the
    corpus is written partitioned by cell, so a probe is one partition
    read per probed cell; a trained k-means quantizer drops in by
    replacing the centroid literals. The oracle replicates the
    identical assignment + probe set, so recall misses compare
    exactly. The probe-cell explode replicates only the tiny query
    side; corpus rows stay single-copy."""
    base = _emb_norm_cached(spark, sf_dir)
    corpus = base.withColumn("cell", _spark_cell()).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        "cell",
    )
    probe_cells = F.array_distinct(
        F.array(*[_spark_cell(k) for k in range(1, IVF_NPROBE + 1)])
    )
    queries = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("emb_a"),
            F.col("norm").alias("norm_a"),
            F.explode(probe_cells).alias("cell"),
        )
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(queries)
        .join(corpus, ["cell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def _ivf_kmeans_oracle() -> str:
    """Replicates the one-Lloyd-step trained quantizer exactly: fixed-
    direction assignment → per-cell per-dim means rounded to 6dp →
    L2-normalized centroids rounded to 6dp → re-assignment by argmax
    projection → nprobe=2 probe → exact cosine rank."""
    top = "LIST_POSITION({p}.ps, LIST_SORT({p}.ps, 'DESC')[{k}])"
    return f"""
    WITH assigned AS (
      SELECT e.vec_id, e.embedding, {_duck_cell('e')} AS cell FROM embeddings e
    ),
    dims AS (
      SELECT cell, i, {nano_mean_sql("v")} AS m
      FROM (
        SELECT cell,
               UNNEST(CAST(embedding AS DOUBLE[])) AS v,
               UNNEST(range(1, len(embedding) + 1)) AS i
        FROM assigned
      ) GROUP BY cell, i
    ),
    cent AS (SELECT cell, LIST(m ORDER BY i) AS c FROM dims GROUP BY cell),
    cnorm AS (
      SELECT cell,
             list_transform(c, x -> ROUND(x / SQRT(LIST_DOT_PRODUCT(c, c)), 6)) AS cn
      FROM cent
    ),
    ps AS (
      SELECT e.vec_id,
             LIST(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), n.cn)
                  ORDER BY n.cell) AS ps
      FROM embeddings e CROSS JOIN cnorm n GROUP BY e.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_COS}, 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id
             ) AS rn
      FROM embeddings a
      JOIN ps pa ON pa.vec_id = a.vec_id
      JOIN embeddings b ON b.vec_id <> a.vec_id
      JOIN ps pb ON pb.vec_id = b.vec_id
      WHERE a.vec_id < {N_QUERIES}
        AND {top.format(p='pb', k=1)}
            IN ({top.format(p='pa', k=1)}, {top.format(p='pa', k=2)})
    ) WHERE rn <= {TOP_K}
    """


def _ivf_codebook_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row trained-codebook stage shared by ann_ivf_kmeans and the
    bench's stage pre-materialization (see ann_ivf_kmeans for the
    training recipe and determinism rules)."""

    def train() -> DataFrame:
        assigned = _emb_norm_cached(spark, sf_dir).withColumn("cell", _spark_cell())
        dims = (
            assigned.select(
                "cell",
                F.posexplode(
                    F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
                ).alias("i", "v"),
            )
            .groupBy("cell", "i")
            .agg(nano_mean("v").alias("m"))
        )
        cent = (
            dims.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("sm"))
            .select("cell", F.expr("transform(sm, s -> s.m)").alias("c"))
            .select(
                "cell",
                F.expr(
                    "transform(c, x -> round(x / sqrt(aggregate("
                    "transform(c, y -> y * y), 0D, (acc, v) -> acc + v)), 6))"
                ).alias("cn"),
            )
        )
        return cent.groupBy().agg(
            F.array_sort(F.collect_list(F.struct("cell", "cn"))).alias("cents")
        )

    return stage_cached(spark, sf_dir, "ivf_kmeans_codebook", train)


@register("ann_ivf_kmeans", oracle=_ivf_kmeans_oracle())
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer: one spherical Lloyd step
    from the fixed-direction initialization — vectors are assigned by
    the {N_HYPERPLANES} fixed directions (``ann_ivf_cells``'s
    quantizer), each cell's centroid is the per-dimension mean,
    L2-normalized; the corpus is then re-assigned by argmax projection
    onto the trained centroids, queries probe their top-{IVF_NPROBE}
    trained cells, and candidates rank by exact cosine.

    This is the standard IVF build pipeline (train on data → broadcast
    the codebook → partition the corpus by cell): training is two
    narrow shuffles (cell+dim mean, {N_HYPERPLANES}×{EMB_DIM} doubles
    total), the codebook rides a one-row broadcast, and the corpus is
    never replicated — at 100 TB you train on a sample with more
    Lloyd steps (e.g. k-means||) and write the corpus partitioned by
    cell, same plan shape. Data-trained cells follow the density of
    the corpus, which is what makes IVF recall/probe tradeoffs beat
    fixed random directions on clustered data — MEASURED recall@5 vs
    the exact ``ann_topk_bruteforce``: 0.50 at sf0.01 / 0.49 at
    sf0.1, vs 0.40 / 0.43 for the fixed-direction ``ann_ivf_cells``
    at the same nprobe=2 (asserted in tests/test_lsh_recall.py).

    Determinism across engines: centroid means and normalized
    components are rounded to 6dp on BOTH sides before any
    projection, so the only cross-engine float risk is a mean whose
    unrounded value sits within the engines' summation-order delta
    (~1e-15) of a .5e-6 rounding boundary — the same accepted-and-
    documented risk class as the cosine rounding itself. All
    projections and cosines are sequential folds on both sides."""
    base = _emb_norm_cached(spark, sf_dir)
    assigned = base.withColumn("cell", _spark_cell())
    cents_row = _ivf_codebook_cached(spark, sf_dir)
    scored = assigned.crossJoin(F.broadcast(cents_row)).withColumn(
        "ps",
        F.expr(
            "transform(cents, cc -> aggregate(zip_with(embedding, cc.cn,"
            " (x, y) -> CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v))"
        ),
    )

    def pos(k: int):
        return F.expr(
            f"array_position(ps, element_at(sort_array(ps, false), {k}))"
        ).cast("int")

    corpus = scored.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        pos(1).alias("tcell"),
    )
    queries = scored.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.explode(F.array_distinct(F.array(pos(1), pos(2)))).alias("tcell"),
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(queries)
        .join(corpus, ["tcell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "ann_lsh_bucketed",
    oracle=f"""
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_COS}, 6) AS cosine,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id
             ) AS rn
      FROM embeddings a JOIN embeddings b
        ON b.vec_id <> a.vec_id
       AND {_duck_bucket('a')} = {_duck_bucket('b')}
      WHERE a.vec_id < {N_QUERIES}
    ) WHERE rn <= {TOP_K}
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH (8 fixed seeded
    hyperplanes → 256 buckets), equality join on the bucket key, exact
    cosine rank within bucket. The oracle replicates the identical
    bucketing, so the compare is exact including LSH misses.

    At scale this is the serving plan: the corpus is hash-partitioned
    by bucket (a single shuffle, reusable across query batches) and
    each query touches ~corpus/256 candidates."""
    with_b = _emb_norm_cached(spark, sf_dir).withColumn("bucket", _spark_bucket())
    corpus = with_b.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        "bucket",
    )
    queries = with_b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        "bucket",
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        F.broadcast(queries)
        .join(corpus, ["bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


def _neardup_band_planes() -> list[list[list[float]]]:
    return [
        NEARDUP_HYPERPLANES[b * NEARDUP_ROWS : (b + 1) * NEARDUP_ROWS]
        for b in range(NEARDUP_BANDS)
    ]


#: Per-vector neighbor bound for ``embedding_near_dup_lsh`` — the
#: production near-dup query shape.  An UNBOUNDED threshold-pair set
#: at θ=0.35 on a corpus with a random cosine tail is intrinsically
#: quadratic: ~2.2‰ of RANDOM 64-dim pairs exceed 0.35 (≈2.8σ of the
#: N(0, 1/64) cosine distribution), and any LSH structure with ≥0.9
#: recall AT the threshold boundary must, by definition, emit ≥90% of
#: that quadratic tail — recall and sub-quadratic output are mutually
#: exclusive for the all-pairs semantics (more planes per band cuts
#: output only by cutting boundary recall below the tested 0.9).  The
#: per-vector top-K cut is how a 100 TB dedup pipeline actually
#: consumes near-dups ("for each doc, its closest duplicates") and
#: bounds output at K·n — linear in the corpus by construction.  The
#: unrestricted threshold-pair semantics remain available as
#: ``embedding_near_dup``.
NEARDUP_TOP_K = 3


def _neardup_lsh_oracle() -> str:
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {bi} AS band_idx,"
        f" {_duck_band('e', hps)} AS band_val FROM embeddings e"
        for bi, hps in enumerate(_neardup_band_planes())
    )
    return f"""
    WITH bands AS (
      {band_selects}
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.vec_id < b.vec_id
    ),
    scored AS (
      SELECT va AS vec_a, vb AS vec_b, ROUND({_DUCK_COS}, 6) AS cosine
      FROM cand
      JOIN embeddings a ON a.vec_id = va
      JOIN embeddings b ON b.vec_id = vb
      WHERE ROUND({_DUCK_COS}, 6) >= {COSINE_THRESHOLD}
    ),
    directed AS (
      SELECT vec_a AS vec_id, vec_b AS neighbor_id, cosine FROM scored
      UNION ALL
      SELECT vec_b AS vec_id, vec_a AS neighbor_id, cosine FROM scored
    )
    SELECT vec_id, neighbor_id, cosine, CAST(rn AS INTEGER) AS rank
    FROM (
      SELECT vec_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id
             ) AS rn
      FROM directed
    ) WHERE rn <= {NEARDUP_TOP_K}
    """


def _neardup_banded_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-colliding qualifying pairs (vec_a < vec_b, cosine ≥ θ,
    sharing ≥1 of the NEARDUP_BANDS sign buckets) — the pair stage
    under ``embedding_near_dup_lsh``, cached because the directed
    top-K cut reads it twice (once per orientation)."""

    def build() -> DataFrame:
        pairs = _block_exact_pairs(spark, sf_dir)
        bvals = F.array(
            *[
                _spark_band(bi * NEARDUP_ROWS, NEARDUP_ROWS, "nd_projs")
                for bi in range(NEARDUP_BANDS)
            ]
        )
        sigs = _emb_norm_cached(spark, sf_dir).select("vec_id", bvals.alias("bvals"))
        return (
            pairs.join(
                F.broadcast(
                    sigs.select(
                        F.col("vec_id").alias("vec_a"), F.col("bvals").alias("ba")
                    )
                ),
                "vec_a",
            )
            .join(
                F.broadcast(
                    sigs.select(
                        F.col("vec_id").alias("vec_b"), F.col("bvals").alias("bb")
                    )
                ),
                "vec_b",
            )
            .filter(F.expr("exists(zip_with(ba, bb, (x, y) -> x = y), p -> p)"))
            .select("vec_a", "vec_b", "cosine")
        )

    return stage_cached(spark, sf_dir, "neardup_lsh_banded", build)


@register("embedding_near_dup_lsh", oracle=_neardup_lsh_oracle())
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector top-K near-duplicate neighbors among banded
    hyperplane-LSH candidates (pairs sharing ≥1 of NEARDUP_BANDS sign
    buckets, each over NEARDUP_ROWS hyperplanes, cosine ≥ θ) — the
    bounded production twin of the unrestricted threshold-pair
    operator ``embedding_near_dup``.

    OUTPUT IS LINEAR BY CONSTRUCTION (≤ NEARDUP_TOP_K rows per
    vector; see the NEARDUP_TOP_K note for why the unbounded pair
    semantics can never be — at this threshold, ≥0.9 recall forces
    emitting ≥90% of a quadratic random tail).

    PHYSICAL STRATEGY — score-then-band-filter, not candidate-join.
    The textbook plan (band equality self-join → DISTINCT → verify)
    is only sublinear when the banding is SELECTIVE. At this LOW
    threshold (0.35, boundary collision p = 1-θ/π ≈ 0.614) the 10×3
    structure needed for 0.9 recall is not: measured at a 20k-vector
    corpus, 73% of ALL pairs are candidates (145.5M of 200M; 253M
    pre-distinct band-pair rows), so the candidate join + distinct +
    per-pair verify ran 89s where the blocked-BLAS exact twin scores
    every pair in 7s. This plan therefore reuses the blocked matmul
    scorer and applies the band predicate as a post-filter on the
    (tiny) above-threshold output — the oracle still replicates the
    banded candidate semantics — then one row_number window on
    vec_id takes the top-K cut. The banded pair stage is
    stage_cached: the two orientation reads cost one scorer run.
    The candidate-join strategy remains the right one where banding
    IS selective: high thresholds, or set-similarity shingle bands —
    see ``dedup_minhash_lsh``, whose measured 10× scale ratio is 1.7.

    The signature join broadcasts the 10-int band arrays; above a
    few hundred million vectors flip it to a shuffle hash join on
    vec_id (the scored-pairs side is post-threshold and small).

    MEASURED top-K recall vs the exact twin's per-vector top-K lists:
    ≥ the per-pair band recall (0.941 at sf0.01) — a band-surviving
    entry of the exact top-K can only move UP in rank when competitors
    are band-missed — asserted ≥ 0.9 by tests/test_lsh_recall.py,
    with every emitted neighbor a true qualifying pair (precision 1.0
    by construction). Scoring shares the exact twin's documented
    BLAS-vs-sequential-fold 1e-13 rounding caveat (never observed to
    fire)."""
    banded = _neardup_banded_pairs(spark, sf_dir)
    directed = banded.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("neighbor_id"),
        "cosine",
    ).unionByName(
        banded.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("neighbor_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= NEARDUP_TOP_K)
        .select("vec_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: within-cluster embedding pruning)
# ---------------------------------------------------------------------------

SEMDEDUP_THRESHOLD = 0.3
# adaptive cell refinement: subdivide each argmax cell by sign bits of
# the (independent-seed) near-dup hyperplane projections until the
# AVERAGE refined-cell size is ~SEMDEDUP_TARGET_CELL, so the per-cell
# quadratic candidate work stays bounded as the corpus grows —
# bits = clamp(ceil(log2(n / (N_HYPERPLANES · target))), 0, max_bits).
# Identical integer inputs → identical bits in both engines.
SEMDEDUP_TARGET_CELL = 64
SEMDEDUP_MAX_BITS = 12  # ≤ len(NEARDUP_HYPERPLANES) sign planes


def _semdedup_bits(n: int) -> int:
    import math

    if n <= 0:
        return 0
    raw = math.ceil(math.log2(n / (N_HYPERPLANES * float(SEMDEDUP_TARGET_CELL))))
    return max(0, min(SEMDEDUP_MAX_BITS, int(raw)))


def _duck_adaptive_sign(alias: str) -> str:
    """Sign bits of the first ``p.bits`` near-dup-hyperplane
    projections (static SQL over all SEMDEDUP_MAX_BITS planes; the
    runtime ``p.bits`` value gates each term)."""
    terms = []
    for i, hp in enumerate(NEARDUP_HYPERPLANES[:SEMDEDUP_MAX_BITS]):
        lit = "[" + ", ".join(repr(v) for v in hp) + "]"
        terms.append(
            f"CASE WHEN {i} < p.bits AND"
            f" LIST_DOT_PRODUCT(CAST({alias}.embedding AS DOUBLE[]),"
            f" CAST({lit} AS DOUBLE[])) > 0 THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def _semdedup_oracle() -> str:
    return f"""
    WITH p AS (
      SELECT GREATEST(0, LEAST({SEMDEDUP_MAX_BITS},
               CAST(CEIL(LOG2(COUNT(*)
                    / ({N_HYPERPLANES} * {SEMDEDUP_TARGET_CELL}.0))) AS INTEGER)
             )) AS bits
      FROM embeddings
    ),
    cells AS (
      SELECT e.vec_id, {_duck_cell('e')} AS cell,
             {_duck_cell('e')} * {1 << SEMDEDUP_MAX_BITS}
               + {_duck_adaptive_sign('e')} AS rcell,
             e.embedding
      FROM embeddings e CROSS JOIN p
    ),
    dominated AS (
      SELECT DISTINCT a.vec_id
      FROM cells a JOIN cells b ON a.rcell = b.rcell AND b.vec_id < a.vec_id
      WHERE ROUND({_DUCK_COS}, 6) >= {SEMDEDUP_THRESHOLD}
    )
    SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
           CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
    FROM cells c LEFT JOIN dominated d ON d.vec_id = c.vec_id
    """


@register("dedup_semantic", oracle=_semdedup_oracle())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: partition the corpus by
    coarse-quantizer cell (argmax over the fixed centroid directions —
    the same cells as ``ann_ivf_cells``), then within each cell drop
    every vector that has a lower-id cell-mate with cosine ≥
    {SEMDEDUP_THRESHOLD}; one representative (the lowest id) survives
    per semantic group. Output is one row per vector with its cell and
    a 0/1 ``kept`` flag.

    100 TB posture: this is the published SemDeDup recipe precisely
    BECAUSE it scales — candidate generation is an equality self-join
    on a cell id, never a global cross join, and the per-cell
    quadratic work is bounded by cell size. With a FIXED cell count
    that bound breaks: 10× corpus → 10× rows per cell → 100×/10 = 10×
    extra pair work per input row (measured x14 elapsed at k=10 before
    this refinement). The candidate key is therefore ADAPTIVE: each
    argmax cell is subdivided by ``bits`` sign bits of independent
    hyperplane projections, with ``bits`` sized from the corpus count
    so the average refined cell stays ~{SEMDEDUP_TARGET_CELL} vectors
    — per-row candidate work is then ~constant at any scale (the
    production-scale analogue is a k-means codebook whose k grows
    n/target, see ``ann_ivf_kmeans``). The corpus count is one scalar
    aggregate (bounded driver data, like the replay sentinel);
    boundary pairs whose members split across refined cells are the
    recall cost of any partitioned dedup — each extra bit keeps a
    ≥-threshold pair together with probability 1-θ/π per plane. The
    dominated-id set joins back as a plain equi-join on vec_id (AQE
    picks broadcast when it is small). The published ``cell`` column
    stays the argmax cell; refinement only narrows candidate
    generation, identically in both engines.

    Pinned-shape trade, measured (r11, VERDICT r10 "what's wrong" #1):
    with warm stage caches the shuffle_hash pins cost ≤0.04s at BOTH
    sf0.1 (0.47s pinned vs 0.43s hint-stripped) and the k=100 replica
    (0.44s vs 0.42s) — the r10 bench delta (0.86→2.05s) was cache
    -order noise, not the pin. The pin stays: it buys one shape at
    every scale (the unpinned plan AQE-flipped broadcast→shuffle at
    k=100, SCALE_STRESS_r10_k100) for a cost within run-to-run noise.

    Reference surface: none (novel extension operator, SURVEY.md
    §2.5 near-dup family)."""
    base = _emb_norm_cached(spark, sf_dir)
    bits = _semdedup_bits(base.count())
    rcell = (
        _spark_cell(1).cast("bigint") * (1 << SEMDEDUP_MAX_BITS)
        + _spark_band(0, bits, "nd_projs").cast("bigint")
    )
    e = base.select(
        "vec_id",
        _spark_cell(1).alias("cell"),
        rcell.alias("rcell"),
        "embedding",
        "norm",
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        F.col("rcell").alias("rcell_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        F.col("rcell").alias("rcell_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)
    dominated = (
        # shuffle-hash pinned: both sides of the refined-cell self-join
        # are the full corpus — AQE broadcast it below ~10× and flipped
        # at the k=100 rehearsal (SCALE_STRESS_r10_k100); one shape at
        # every scale, build on the (identical-size) right side
        a.join(
            b.hint("shuffle_hash"),
            (F.col("rcell_a") == F.col("rcell_b"))
            & (F.col("vec_b") < F.col("vec_a")),
        )
        .filter(cos >= SEMDEDUP_THRESHOLD)
        .select(F.col("vec_a").alias("vec_id"))
        .distinct()
        .withColumn("dom", F.lit(1))
    )
    return (
        # dominated is O(duplicate vectors) — a large corpus fraction on
        # replica-heavy data, so the flag join-back is pinned shuffle too
        # (hint sits on the non-preserved side; Spark ignores build
        # hints on the preserved side of an outer join)
        e.select("vec_id", "cell")
        .join(dominated.hint("shuffle_hash"), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("dom").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# Per-label embedding centroids (vector aggregation)
# ---------------------------------------------------------------------------

@register(
    "embedding_label_centroids",
    oracle=f"""
    SELECT label, CAST(pos AS INTEGER) AS dim,
           -- nano-unit mean policy, single-sourced (functions/vector.py)
           {nano_mean_sql("embedding[pos]")} AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) g(pos)
    WHERE LEN(embedding) = {EMB_DIM}
    GROUP BY 1, 2
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the class-mean
    vector a classifier prototype / clustering / drift monitor needs.
    One row per (label, dimension) with the mean component and the
    vector count.

    Scale posture: posexplode flattens to (label, dim, component) and
    the mean is a map-side-combinable aggregate on the (label, dim)
    key — partials shrink each task's contribution to labels×{EMB_DIM}
    rows regardless of input size, so the shuffle is constant-width at
    any corpus scale. No collect, no pivot, no per-label filtering
    pass."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return (
        # explicit width guard: posexplode yields size(embedding) rows
        # while the oracle's generate_series yields EMB_DIM — identical
        # only for exactly-EMB_DIM vectors, so enforce the contract on
        # BOTH sides instead of assuming it
        spread(t)
        .filter(F.size("embedding") == EMB_DIM)
        .select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", (F.col("pos0") + 1).cast("int").alias("dim"))
        .agg(
            nano_mean("v").alias("centroid_val"),
            F.count("*").cast("bigint").alias("n_vectors"),
        )
    )


# ---------------------------------------------------------------------------
# kNN majority-vote classification (label propagation over the index)
# ---------------------------------------------------------------------------

@register(
    "knn_classify_majority",
    oracle=f"""
    WITH topk AS (
      SELECT query_id, true_label, neighbor_label FROM (
        SELECT a.vec_id AS query_id, a.label AS true_label,
               b.label AS neighbor_label,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id
               ) AS rn
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {N_QUERIES}
      ) WHERE rn <= {TOP_K}
    ),
    votes AS (
      SELECT query_id, true_label, neighbor_label, COUNT(*) AS n_votes
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT query_id, true_label,
           neighbor_label AS predicted_label, n_votes,
           CASE WHEN neighbor_label = true_label THEN 1 ELSE 0 END AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY n_votes DESC, neighbor_label
             ) AS vr
      FROM votes
    ) WHERE vr = 1
    """,
)
def knn_classify_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification by majority vote of the {TOP_K} nearest
    neighbors (cosine) — the label-propagation / weak-labeling pass a
    training pipeline runs to impute labels or audit label quality.

    Scale posture: identical cost shape to ``ann_topk_bruteforce``
    (broadcast query side, corpus scored in parallel, rounded-cosine
    ranking so the k-cut is cross-engine stable); the vote count and
    the majority pick are windows over the k·|queries| row result,
    not over the corpus. Vote ties break deterministically by label."""
    t = _emb_norm_cached(spark, sf_dir)
    corpus = t.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    queries = t.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    topk = (
        F.broadcast(queries)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "true_label", "neighbor_id", "neighbor_label", cos.alias("cosine"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= TOP_K)
    )
    votes = topk.groupBy("query_id", "true_label", "neighbor_label").agg(
        F.count("*").alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.col("n_votes").desc(), "neighbor_label")
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("neighbor_label").alias("predicted_label"),
            "n_votes",
            F.when(F.col("neighbor_label") == F.col("true_label"), 1)
            .otherwise(0)
            .alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Symmetric int8 vector quantization (index compression)
# ---------------------------------------------------------------------------

@register(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    s AS (
      SELECT vec_id, emb,
             CASE WHEN LIST_MAX(LIST_TRANSFORM(emb, x -> ABS(x))) = 0 THEN 1.0
                  ELSE LIST_MAX(LIST_TRANSFORM(emb, x -> ABS(x))) / 127.0
             END AS scale
      FROM e
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           ARRAY_TO_STRING(LIST_TRANSFORM(emb, x -> CAST(ROUND(x / scale) AS INT)), ',')
             AS q_embedding,
           ROUND(SQRT(LIST_REDUCE(
             LIST_TRANSFORM(emb, x -> POW(x - ROUND(x / scale) * scale, 2)),
             (a, b) -> a + b)), 6) AS recon_err
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization (scale = max|x|/127) with
    the L2 reconstruction error — the standard 4× index-compression
    step before serving or shipping an ANN index.

    Scale posture: pure per-row array arithmetic inside codegen — no
    shuffle, no Python, embarrassingly parallel at any corpus size.
    Determinism: float→double widening is exact, the scale and every
    quantized component are single IEEE ops in identical order in both
    engines, and the error sum is a sequential left fold on both sides
    (Spark ``aggregate``, DuckDB ``list_reduce``) so not even the
    summation order differs. Zero vectors take scale=1.0 on both sides
    rather than dividing by zero."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return (
        spread(t)
        .withColumn(
            "maxabs", F.expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")
        )
        .withColumn("scale", F.expr("IF(maxabs = 0D, 1.0D, maxabs / 127.0D)"))
        .select(
            "vec_id",
            F.round("scale", 6).alias("scale"),
            # CSV string, not array<int>: the driver's value hash (and
            # the local harness) compares scalars; the int CSV is the
            # same information with a total-order-comparable encoding
            F.expr(
                "array_join(transform(embedding, x ->"
                " CAST(CAST(round(CAST(x AS DOUBLE) / scale) AS INT) AS STRING)), ',')"
            ).alias("q_embedding"),
            F.round(
                F.expr(
                    "sqrt(aggregate("
                    " transform(embedding, x ->"
                    "   pow(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale) * scale, 2)),"
                    " 0D, (acc, v) -> acc + v))"
                ),
                6,
            ).alias("recon_err"),
        )
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding distribution audit (the drift / collapse
# check run before training on a new embedding batch)
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_stats",
    oracle=f"""
    WITH comp AS (
      SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS v,
             CAST(UNNEST(range(0, len(embedding))) AS INT) AS dim
      FROM embeddings
    ),
    mom AS (
      -- exact integer nano-unit moments (functions/moments.py — the
      -- single-sourced policy shared with anomaly_zscore)
      SELECT dim, {nano_moment_aggs_sql("v")},
             ROUND(MIN(v), 6) AS min_v,
             ROUND(MAX(v), 6) AS max_v,
             CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
      FROM comp GROUP BY dim
    )
    SELECT dim, n,
           ROUND({nano_mu_sql()}, 6) AS mean,
           ROUND({nano_sigma_samp_sql()}, 6) AS std,
           min_v, max_v, n_zero
    FROM mom
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution profile (mean / std / min
    / max / zero count) — the drift and dimensional-collapse audit
    (a dead dimension shows std≈0, a scale bug shows outlier max)
    run before any similarity index is built on a new batch.

    Scale posture: one posexplode fans each vector into (dim, value)
    pairs and a single combinable dim-keyed aggregate reduces them —
    the shuffle carries exactly |dims| keys with partial aggregates
    already merged map-side. Mean and stddev derive from exact
    integer nano-unit moments (sx, sxx — order-independent sums, the
    embedding-centroid policy) through one fixed double expression on
    both engines; min/max/zero-count are exact."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    comp = spread(t).select(
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "dim", "v"
        )
    )
    mom = comp.groupBy("dim").agg(
        *nano_moment_aggs("v"),
        F.round(F.min("v"), 6).alias("min_v"),
        F.round(F.max("v"), 6).alias("max_v"),
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).alias("n_zero"),
    )
    return mom.select(
        "dim",
        "n",
        F.round(nano_mu(), 6).alias("mean"),
        F.round(nano_sigma_samp(), 6).alias("std"),
        "min_v",
        "max_v",
        "n_zero",
    )


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance diverse top-k selection
# ---------------------------------------------------------------------------

_MMR_K = 8
_MMR_CAND = 32
_MMR_QUERY_ID = 0  # deterministic query vector
# score = 0.7·relevance − 0.3·max-similarity-to-selected


@register(
    "mmr_diverse_topk",
    oracle=f"""
    WITH RECURSIVE
    cand AS (
      SELECT b.vec_id, ROUND({_DUCK_COS}, 6) AS rel, b.embedding
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id = {_MMR_QUERY_ID}
      ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id LIMIT {_MMR_CAND}
    ),
    sim AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, ROUND({_DUCK_COS}, 6) AS s
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
    ),
    mmr AS (
      SELECT 1 AS step, [f.vec_id] AS picked,
             f.vec_id AS vec_id, f.rel AS rel, ROUND(0.7 * f.rel, 6) AS score
      FROM (SELECT vec_id, rel FROM cand ORDER BY rel DESC, vec_id LIMIT 1) f
      UNION ALL
      SELECT mmr.step + 1, LIST_APPEND(mmr.picked, nxt.vec_id),
             nxt.vec_id, nxt.rel, nxt.score
      FROM mmr, LATERAL (
        SELECT c.vec_id, c.rel,
               ROUND(0.7 * c.rel - 0.3 * (
                 SELECT MAX(s.s) FROM sim s
                 WHERE s.ia = c.vec_id AND LIST_CONTAINS(mmr.picked, s.ib)
               ), 6) AS score
        FROM cand c
        WHERE NOT LIST_CONTAINS(mmr.picked, c.vec_id)
        ORDER BY score DESC, c.vec_id LIMIT 1
      ) nxt
      WHERE mmr.step < {_MMR_K}
    )
    SELECT CAST(step AS INT) AS step, vec_id, rel, score FROM mmr
    """,
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: greedily select {k} results for a
    query that trade relevance against redundancy — score =
    0.7·cos(query, c) − 0.3·max cos(c, already-selected) — the
    diversity re-ranker behind search results and RAG context
    selection (and, at corpus scale, diverse training-sample
    selection). The DuckDB oracle replicates the greedy recursion as
    a recursive CTE, so every pick (including tiebreaks) compares
    exactly.

    Scale posture: the expensive part — relevance scoring over the
    full corpus and the top-{cand} candidate cut — is fully
    distributed (broadcast 1-row query, TakeOrderedAndProject cut on
    the ROUNDED score). The greedy loop is inherently sequential
    (pick t depends on picks 1..t−1) and runs over a CONSTANT-bounded
    set (≤{cand} candidates, ≤{cand}² sims — corpus-size-independent
    by construction), so both tables are collected ONCE and the
    recursion runs driver-side: 2 jobs total instead of 2 per pick
    (r15: the per-step distributed argmax was pure scheduler
    overhead — the argmax input was the same ≤{cand}-row cached
    table every step). Relevance and pairwise sims are rounded to
    6dp IN SPARK before collection; the driver combines those
    identical doubles with the same 0.7/0.3 IEEE arithmetic and a
    BigDecimal-equivalent HALF_UP 6dp round, so every pick
    (including tiebreaks) still compares exactly against the
    oracle's recursive CTE."""
    base = _emb_norm_cached(spark, sf_dir)
    q = base.filter(F.col("vec_id") == _MMR_QUERY_ID).select(
        F.col("embedding").alias("emb_q"), F.col("norm").alias("norm_q")
    )
    rel = F.round(
        dot_expr("embedding", "emb_q") / (F.col("norm") * F.col("norm_q")), 6
    )
    cand = (
        base.filter(F.col("vec_id") != _MMR_QUERY_ID)
        .join(F.broadcast(q))
        .select("vec_id", "embedding", "norm", rel.alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_CAND)
        .cache()
    )
    a = cand.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = cand.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    sim = a.join(b, F.col("ia") != F.col("ib")).select(
        "ia",
        "ib",
        F.round(
            dot_expr("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6
        ).alias("s"),
    )
    # Collect the two constant-bounded tables once (≤ _MMR_CAND rels,
    # ≤ _MMR_CAND² pre-rounded sims) and run the greedy recursion on
    # the driver — every double below was produced and 6dp-rounded by
    # Spark, so pick arithmetic matches the old per-step distributed
    # argmax bit for bit.
    try:
        rel_of = {r["vec_id"]: r["rel"] for r in cand.select("vec_id", "rel").collect()}
        s_of: dict[tuple, float] = {
            (r["ia"], r["ib"]): r["s"] for r in sim.collect()
        }
    finally:
        cand.unpersist()

    def _r6(x: float) -> float:
        # Spark's round(double, 6): BigDecimal.valueOf(x) (shortest
        # decimal repr — identical to Python repr) + HALF_UP at 6dp
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    first_id = min(rel_of, key=lambda v: (-rel_of[v], v))
    picked = [first_id]
    out = [(1, first_id, rel_of[first_id], _r6(0.7 * rel_of[first_id]))]
    for step in range(2, _MMR_K + 1):
        best = None
        for v, rel_v in rel_of.items():
            if v in picked:
                continue
            max_s = max(s_of[(v, p)] for p in picked)
            score = _r6(0.7 * rel_v - 0.3 * max_s)
            if best is None or (-score, v) < (-best[0], best[1]):
                best = (score, v, rel_v)
        picked.append(best[1])
        out.append((step, best[1], best[2], best[0]))
    return spark.createDataFrame(
        out, "step int, vec_id bigint, rel double, score double"
    )


# ---------------------------------------------------------------------------
# Product-quantization ADC search (PQ codes + asymmetric distance)
# ---------------------------------------------------------------------------

_PQ_M = 4        # subspaces
_PQ_SUBDIM = 16  # dims per subspace (4 x 16 = 64)
# 16 cells per subspace from a 4-sign-bit init + one Lloyd step


def _pq_duck_cells(src: str = "embeddings") -> str:
    """Shared oracle prefix: per (vector, subspace) subvectors with
    their sign-bit init cell, trained centroids, and all
    vector-centroid distances."""
    return f"""
    mm AS (SELECT UNNEST(range(0, {_PQ_M})) AS m),
    sub AS (
      SELECT e.vec_id, mm.m,
             LIST_TRANSFORM(e.embedding[mm.m*{_PQ_SUBDIM}+1 : mm.m*{_PQ_SUBDIM}+{_PQ_SUBDIM}],
                            x -> CAST(x AS DOUBLE)) AS sub
      FROM {src} e CROSS JOIN mm
    ),
    cells AS (
      SELECT vec_id, m, sub,
               (CASE WHEN sub[1]  >= 0 THEN 1 ELSE 0 END)
             + (CASE WHEN sub[5]  >= 0 THEN 2 ELSE 0 END)
             + (CASE WHEN sub[9]  >= 0 THEN 4 ELSE 0 END)
             + (CASE WHEN sub[13] >= 0 THEN 8 ELSE 0 END) AS cell
      FROM sub
    ),
    cdims AS (
      SELECT m, cell, i, {nano_mean_sql("v")} AS c FROM (
        SELECT m, cell, UNNEST(sub) AS v,
               UNNEST(range(1, {_PQ_SUBDIM} + 1)) AS i
        FROM cells
      ) GROUP BY m, cell, i
    ),
    cb AS (SELECT m, cell, LIST(c ORDER BY i) AS c FROM cdims GROUP BY m, cell),
    dists AS (
      SELECT s.vec_id, s.m, cb.cell,
             ROUND(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, {_PQ_SUBDIM} + 1),
                   i -> (s.sub[i] - cb.c[i]) * (s.sub[i] - cb.c[i])), 'sum'), 6) AS d
      FROM cells s JOIN cb ON cb.m = s.m
    ),
    codes AS (
      SELECT vec_id, m, cell AS code FROM (
        SELECT vec_id, m, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rn
        FROM dists
      ) WHERE rn = 1
    )
    """


def _pq_codebook_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained PQ codebook stage: (subspace, cell) -> 16-dim centroid,
    ~64 rows (see ann_pq_adc for the training recipe). Cached and
    pre-materialized by bench.py like the IVF codebook."""

    def build() -> DataFrame:
        base = _emb_norm_cached(spark, sf_dir)
        bit = lambda m, j: (
            f"(CASE WHEN CAST(element_at(embedding, {m * _PQ_SUBDIM + j * 4 + 1})"
            f" AS DOUBLE) >= 0D THEN {1 << j} ELSE 0 END)"
        )
        structs = F.array(
            *[
                F.struct(
                    F.lit(m).alias("m"),
                    F.expr(
                        f"transform(slice(embedding, {m * _PQ_SUBDIM + 1},"
                        f" {_PQ_SUBDIM}), x -> CAST(x AS DOUBLE))"
                    ).alias("sub"),
                    F.expr(" + ".join(bit(m, j) for j in range(4))).alias("cell"),
                )
                for m in range(_PQ_M)
            ]
        )
        exploded = base.select(F.explode(structs).alias("s")).select(
            "s.m", "s.cell", "s.sub"
        )
        cdims = (
            exploded.select("m", "cell", F.posexplode("sub").alias("i", "v"))
            .groupBy("m", "cell", "i")
            .agg(nano_mean("v").alias("c"))
        )
        return (
            cdims.groupBy("m", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("i", "c"))).alias("sc"))
            .select("m", "cell", F.expr("transform(sc, s -> s.c)").alias("c"))
        )

    return stage_cached(spark, sf_dir, "pq_codebook", build)


@register(
    "ann_pq_adc",
    oracle=f"""
    WITH {_pq_duck_cells()},
    cw AS (
      SELECT vec_id,
             MAX(CASE WHEN m = 0 THEN code END) AS c0,
             MAX(CASE WHEN m = 1 THEN code END) AS c1,
             MAX(CASE WHEN m = 2 THEN code END) AS c2,
             MAX(CASE WHEN m = 3 THEN code END) AS c3
      FROM codes GROUP BY vec_id
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             ROUND(p0.d + p1.d + p2.d + p3.d, 6) AS adc_dist
      FROM (SELECT vec_id FROM embeddings WHERE vec_id < {N_QUERIES}) q
      JOIN cw x ON x.vec_id <> q.vec_id
      JOIN dists p0 ON p0.vec_id = q.vec_id AND p0.m = 0 AND p0.cell = x.c0
      JOIN dists p1 ON p1.vec_id = q.vec_id AND p1.m = 1 AND p1.cell = x.c1
      JOIN dists p2 ON p2.vec_id = q.vec_id AND p2.m = 2 AND p2.cell = x.c2
      JOIN dists p3 ON p3.vec_id = q.vec_id AND p3.m = 3 AND p3.cell = x.c3
    )
    SELECT query_id, neighbor_id, adc_dist, CAST(rn AS INT) AS rank FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn
      FROM pairs
    ) WHERE rn <= {TOP_K}
    """,
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011): split the
    64-dim space into {m} 16-dim subspaces, train 16 centroids per
    subspace (4-sign-bit initial cells + one Lloyd step — the same
    deterministic training recipe as ``ann_ivf_kmeans``), encode every
    corpus vector as {m} one-byte codes, and rank queries by
    ASYMMETRIC distance: the exact query-to-centroid table ({m}×16
    entries per query) summed along each corpus vector's codes. This
    is the memory-side scale story the IVF family doesn't cover: the
    corpus compresses 64 floats → {m} bytes and search never touches
    raw corpus vectors.

    Scale posture: training reduces the corpus to a 64-row codebook
    (combinable per-(subspace, cell, dim) means), which collects to
    the driver and inlines as LITERAL centroid arrays — so corpus
    ENCODING is a pure zero-shuffle projection (argmin over 16
    rounded fold-distances per subspace; first-position tiebreak =
    lowest cell, matching the oracle's ORDER BY d, cell), exactly how
    a production PQ index writes codes on ingest. The ADC scan
    broadcasts the {nq}-query partial-distance maps and streams the
    encoded corpus through one map-side lookup join; the only
    shuffle is the per-query top-{k} ranking window. Distances fold
    sequentially in both engines and round to 6dp before every
    comparison; the 4 partials add in explicit m-order on both
    sides."""
    base = _emb_norm_cached(spark, sf_dir)
    cb_rows = _pq_codebook_cached(spark, sf_dir).collect()
    cb = {(r["m"], r["cell"]): list(r["c"]) for r in cb_rows}
    cells = {m: sorted(c for (mm, c) in cb if mm == m) for m in range(_PQ_M)}

    def dist_expr(m: int, cell: int, emb: str = "embedding") -> str:
        lit = "array(" + ", ".join(f"{v!r}D" for v in cb[(m, cell)]) + ")"
        return (
            f"round(aggregate(zip_with(slice({emb}, {m * _PQ_SUBDIM + 1},"
            f" {_PQ_SUBDIM}), {lit},"
            f" (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),"
            f" 0D, (acc, v) -> acc + v), 6)"
        )

    def darr(m: int) -> str:
        return "array(" + ", ".join(dist_expr(m, c) for c in cells[m]) + ")"

    def cellarr(m: int) -> str:
        return "array(" + ", ".join(str(c) for c in cells[m]) + ")"

    def code_expr(m: int) -> str:
        d = darr(m)
        return (
            f"element_at({cellarr(m)},"
            f" CAST(array_position({d}, array_min({d})) AS INT))"
        )

    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.expr(code_expr(m)).alias(f"c{m}") for m in range(_PQ_M)],
    )
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[
            F.expr(f"map_from_arrays({cellarr(m)}, {darr(m)})").alias(f"p{m}")
            for m in range(_PQ_M)
        ],
    )
    total = F.round(
        sum(F.expr(f"element_at(p{m}, CAST(c{m} AS INT))") for m in range(_PQ_M)), 6
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        F.broadcast(queries)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", total.alias("adc_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# Per-label centroid-distance outliers (embedding quality audit)
# ---------------------------------------------------------------------------

_OUTLIER_TOPK = 3


@register(
    "embedding_outlier_topk",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, label, CAST(pos AS INTEGER) AS dim,
             CAST(embedding[pos] AS DOUBLE) AS v
      FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) g(pos)
      WHERE LEN(embedding) = {EMB_DIM}
    ),
    cent AS (
      -- components accumulate as exact integer NANO-units (order-
      -- independent), one division + one 6dp round at the end: an
      -- order-dependent AVG could round a half-boundary centroid
      -- differently across engines/partitionings
      SELECT label, dim, {nano_mean_sql("v")} AS c
      FROM comp GROUP BY 1, 2
    ),
    terms AS (
      SELECT comp.vec_id, comp.label,
             CAST(ROUND((comp.v - cent.c) * (comp.v - cent.c) * 1000000000000)
                  AS BIGINT) AS t_pico
      FROM comp JOIN cent ON cent.label = comp.label AND cent.dim = comp.dim
    ),
    d AS (
      SELECT vec_id, label,
             ROUND(SQRT(SUM(t_pico) / 1000000000000.0), 6) AS dist
      FROM terms GROUP BY 1, 2
    )
    SELECT vec_id, label, dist FROM (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY label ORDER BY dist DESC, vec_id
             ) AS rn
      FROM d
    ) WHERE rn <= {_OUTLIER_TOPK}
    """,
)
def embedding_outlier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality audit: the top-{k} vectors FARTHEST from
    their label's centroid — mislabeled / out-of-distribution
    candidates, the audit a curation pass runs before trusting labels
    (consumes the same class-mean view as
    ``embedding_label_centroids``).

    Scale posture: centroids are a constant-width (labels×{dim})
    combinable aggregate that broadcasts back onto the exploded
    components; per-vector distances are keyed aggregates on vec_id.
    Cross-engine determinism: centroid components accumulate as
    exact integer nano-units and divide once before the 6dp round
    (order-independent — no AVG), each
    squared deviation scales to integer PICO-units before the per-
    vector sum (exact integer addition in any order — the
    ``source_token_entropy`` policy), sqrt last. The per-label top-{k}
    is a WindowGroupLimit-eligible ranking window."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    comp = (
        spread(t)
        .filter(F.size("embedding") == EMB_DIM)
        .select(
            "vec_id", "label", F.posexplode("embedding").alias("pos0", "v0")
        )
        .select(
            "vec_id",
            "label",
            (F.col("pos0") + 1).cast("int").alias("dim"),
            F.col("v0").cast("double").alias("v"),
        )
    )
    cent = comp.groupBy("label", "dim").agg(nano_mean("v").alias("c"))
    terms = comp.join(F.broadcast(cent), ["label", "dim"]).select(
        "vec_id",
        "label",
        F.round((F.col("v") - F.col("c")) * (F.col("v") - F.col("c")) * 1_000_000_000_000)
        .cast("bigint")
        .alias("t_pico"),
    )
    d = terms.groupBy("vec_id", "label").agg(
        F.round(F.sqrt(F.sum("t_pico") / 1_000_000_000_000.0), 6).alias("dist")
    )
    w = Window.partitionBy("label").orderBy(F.col("dist").desc(), "vec_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _OUTLIER_TOPK)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Per-dimension quantile profile (embedding distribution audit)
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_quantiles",
    oracle=f"""
    SELECT CAST(pos AS INTEGER) AS dim,
           ROUND(QUANTILE_CONT(CAST(embedding[pos] AS DOUBLE), 0.25), 6)
             AS p25,
           ROUND(QUANTILE_CONT(CAST(embedding[pos] AS DOUBLE), 0.50), 6)
             AS p50,
           ROUND(QUANTILE_CONT(CAST(embedding[pos] AS DOUBLE), 0.75), 6)
             AS p75
    FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) g(pos)
    WHERE LEN(embedding) = {EMB_DIM}
    GROUP BY 1
    """,
)
def embedding_dim_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quartile profile of the embedding distribution —
    the drift/debug companion to ``embedding_dim_stats``' moment view:
    quartiles catch the skew and clipping that mean/std smooth over
    (e.g. a dimension stuck at a quantized ceiling).

    Scale posture: posexplode to (dim, component), then one exact
    interpolated-percentile aggregate per dimension key ({dim}
    groups). Identical interpolation (percentile ≡ QUANTILE_CONT) at
    6dp."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    comp = (
        spread(t)
        .filter(F.size("embedding") == EMB_DIM)
        .select(F.posexplode("embedding").alias("pos0", "v"))
        .select(
            (F.col("pos0") + 1).cast("int").alias("dim"),
            F.col("v").cast("double").alias("v"),
        )
    )
    return comp.groupBy("dim").agg(
        F.round(F.percentile("v", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("v", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("v", F.lit(0.75)), 6).alias("p75"),
    )


# ---------------------------------------------------------------------------
# Matrix-free power-iteration step (principal direction estimate)
# ---------------------------------------------------------------------------


@register(
    "embedding_principal_direction",
    oracle=f"""
    WITH comp AS (
      SELECT vec_id, CAST(pos AS INTEGER) AS dim,
             CAST(embedding[pos] AS DOUBLE) AS x
      FROM embeddings CROSS JOIN generate_series(1, {EMB_DIM}) g(pos)
      WHERE LEN(embedding) = {EMB_DIM}
    ),
    dot AS (
      SELECT vec_id, SUM(CAST(ROUND(x * 1000000000) AS BIGINT)) AS d_nano
      FROM comp GROUP BY vec_id
    ),
    t AS (
      SELECT comp.dim,
             SUM(CAST(ROUND((dot.d_nano / 1000000000.0) * comp.x * 1000000)
                      AS BIGINT)) AS s_micro
      FROM comp JOIN dot ON dot.vec_id = comp.vec_id
      GROUP BY comp.dim
    ),
    nrm AS (
      SELECT SQRT(SUM(CAST(s_micro AS HUGEINT) * s_micro)) AS nrm FROM t
    )
    SELECT t.dim,
           ROUND(t.s_micro / nrm.nrm, 6) AS loading
    FROM t CROSS JOIN nrm
    """,
)
def embedding_principal_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One matrix-free power-iteration step toward the embedding
    corpus's principal direction: v₁ ∝ Xᵀ(X·v₀) from the uniform seed
    v₀ = 1 — the building block of distributed PCA (each further step
    repeats the same two aggregations; the loading vector after one
    step already exposes the dominant variance axis for drift and
    anisotropy audits, cf. the IVF/PQ quantizer ops).

    Scale posture: the step is two combinable aggregations — per-row
    dot products (one shuffle on vec_id... actually none: the dot is
    row-local over the array; only the dim rollup shuffles into {dim}
    keys). Cross-engine determinism: the row dot folds to integer
    NANO-units (v₀ = 1 makes it the component sum), each (dot·xᵢ)
    term rounds to MICRO-units before the per-dim sum, and the final
    normalization is one sqrt of an exact integer sum."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    rows = spread(t).filter(F.size("embedding") == EMB_DIM)
    # v0 = (1,...,1): X·v0 is the per-row component sum — fold to
    # exact nano-units row-locally (sequential array fold, identical
    # index order in both engines)
    d_nano = F.aggregate(
        "embedding",
        F.lit(0).cast("bigint"),
        lambda acc, x: acc
        + F.round(x.cast("double") * 1_000_000_000).cast("bigint"),
    )
    comp = rows.select(
        d_nano.alias("d_nano"), F.posexplode("embedding").alias("pos0", "x0")
    ).select(
        "d_nano",
        (F.col("pos0") + 1).cast("int").alias("dim"),
        F.col("x0").cast("double").alias("x"),
    )
    term = F.round(
        (F.col("d_nano") / 1_000_000_000.0) * F.col("x") * 1_000_000
    ).cast("bigint")
    tt = comp.groupBy("dim").agg(F.sum(term).alias("s_micro"))
    nrm = tt.agg(
        F.sqrt(
            F.sum(
                F.col("s_micro").cast("decimal(19,0)") * F.col("s_micro")
            ).cast("double")
        ).alias("nrm")
    )
    return tt.crossJoin(F.broadcast(nrm)).select(
        "dim",
        F.round(F.col("s_micro") / F.col("nrm"), 6).alias("loading"),
    )


# ---------------------------------------------------------------------------
# Matryoshka truncation audit (retrieval overlap at half dimensions)
# ---------------------------------------------------------------------------

_MRL_DIMS = 32  # truncated prefix length (full vectors are 64-d)

_DUCK_COS32 = (
    "LIST_DOT_PRODUCT((CAST(a.embedding AS DOUBLE[]))[1:32],"
    " (CAST(b.embedding AS DOUBLE[]))[1:32])"
    " / (SQRT(LIST_DOT_PRODUCT((CAST(a.embedding AS DOUBLE[]))[1:32],"
    " (CAST(a.embedding AS DOUBLE[]))[1:32]))"
    " * SQRT(LIST_DOT_PRODUCT((CAST(b.embedding AS DOUBLE[]))[1:32],"
    " (CAST(b.embedding AS DOUBLE[]))[1:32])))"
)


@register(
    "matryoshka_truncate_audit",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id
             ) AS rn_full,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND({_DUCK_COS32}, 6) DESC, b.vec_id
             ) AS rn_trunc
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN rn_full <= {TOP_K} AND rn_trunc <= {TOP_K}
                         THEN 1 ELSE 0 END) AS INT) AS overlap_at_k,
           {TOP_K} AS k
    FROM scored GROUP BY query_id
    """,
)
def matryoshka_truncate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation audit: per query, how many of the
    exact top-{k} cosine neighbors survive when vectors are truncated
    to their first {d} of 64 dimensions — the measurement behind
    MRL-style "store half the floats, keep most of the recall"
    dimension-budget decisions.

    Scale posture: one broadcast of the bounded query set against the
    corpus scores BOTH metrics in a single pass (no second scan or
    join); the two ranking windows partition per query (state bounded
    to one query's candidate list per task — both ranks must see the
    full corpus before any cut, so no WindowGroupLimit applies; the
    rn_full filter then bounds what reaches the overlap aggregate).
    Cross-engine determinism: both
    cosines are sequential-fold dot products rounded to 6dp before
    ranking (ties by neighbor id), and the overlap is an integer
    count."""
    t = _emb_norm_cached(spark, sf_dir)
    corpus = t.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.slice("embedding", 1, _MRL_DIMS).alias("emb_b32"),
    )
    queries = t.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.slice("embedding", 1, _MRL_DIMS).alias("emb_a32"),
    )
    from rs_streamloader_spark.functions.vector import norm_expr

    cos_full = F.round(
        _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6
    )
    cos_trunc = F.round(
        _dot("emb_a32", "emb_b32") / (norm_expr("emb_a32") * norm_expr("emb_b32")),
        6,
    )
    scored = (
        F.broadcast(queries)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cos_full.alias("cf"),
            cos_trunc.alias("ct"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("cf").desc(), "neighbor_id")
    wt = Window.partitionBy("query_id").orderBy(F.col("ct").desc(), "neighbor_id")
    # keep only the full-metric top-k: overlap counts rows in BOTH
    # top-k sets, and every query retains exactly TOP_K rows, so no
    # query_id group can vanish
    ranked = scored.select(
        "query_id",
        F.row_number().over(wf).alias("rn_full"),
        F.row_number().over(wt).alias("rn_trunc"),
    ).filter(F.col("rn_full") <= TOP_K)
    return ranked.groupBy("query_id").agg(
        F.sum(
            F.when((F.col("rn_full") <= TOP_K) & (F.col("rn_trunc") <= TOP_K), 1)
            .otherwise(0)
        )
        .cast("int")
        .alias("overlap_at_k"),
        F.lit(TOP_K).alias("k"),
    )


# ---------------------------------------------------------------------------
# Late-interaction (ColBERT-style) MaxSim scoring over label groups
# ---------------------------------------------------------------------------


@register(
    "colbert_maxsim_labels",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT b.label, q.qid,
             MAX(CAST(ROUND(({_DUCK_COS.replace("a.embedding", "q.embedding")})
                            * 1000000) AS BIGINT)) AS best_micro
      FROM q JOIN embeddings b ON b.vec_id >= {N_QUERIES}
      GROUP BY b.label, q.qid
    )
    SELECT label, COUNT(*) AS n_query_vecs,
           CAST(SUM(best_micro) AS BIGINT) AS maxsim_micro
    FROM scored GROUP BY label
    """,
)
def colbert_maxsim_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (ColBERT-style) MaxSim retrieval scoring: the
    query is a SET of vectors (the {n} query embeddings) and each
    candidate "document" is the multi-vector set of a label group;
    score = Σ over query vectors of the best cosine against any
    group member — the multi-vector retrieval semantics single-vector
    ANN cannot express, reduced entirely to built-in aggregates.

    Scale posture: the bounded query set broadcasts against the
    corpus; the (label, query) MAX and per-label SUM are stacked
    combinable aggregates — no pairwise materialization survives past
    the map side. Cross-engine determinism: each cosine rounds to
    integer micro-units BEFORE the MAX, so the max/sum pipeline is
    exact integer arithmetic."""
    t = _emb_norm_cached(spark, sf_dir)
    queries = t.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    corpus = t.filter(F.col("vec_id") >= N_QUERIES).select(
        "label",
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos_micro = (
        F.round(
            _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b"))
            * 1_000_000
        )
        .cast("bigint")
    )
    scored = (
        F.broadcast(queries)
        .join(corpus)
        .groupBy("label", "qid")
        .agg(F.max(cos_micro).alias("best_micro"))
    )
    return scored.groupBy("label").agg(
        F.count("*").alias("n_query_vecs"),
        F.sum("best_micro").alias("maxsim_micro"),
    )


# ---------------------------------------------------------------------------
# IVF recall@k curve vs the exact brute-force baseline
# ---------------------------------------------------------------------------

_RECALL_KS = (1, 5)


def _ivf_recall_oracle() -> str:
    exact_sql = REGISTRY["ann_topk_bruteforce"].oracle
    ivf_sql = REGISTRY["ann_ivf_kmeans"].oracle
    ks = ", ".join(str(k) for k in _RECALL_KS)
    return f"""
    WITH exact AS ({exact_sql}),
    ivf AS ({ivf_sql}),
    nq AS (SELECT COUNT(DISTINCT query_id) AS n_queries FROM exact),
    hits AS (
      SELECT e.query_id, e.neighbor_id, e.rank AS r_exact, i.rank AS r_ivf
      FROM exact e
      JOIN ivf i ON i.query_id = e.query_id
                AND i.neighbor_id = e.neighbor_id
    ),
    ks AS (SELECT UNNEST(ARRAY[{ks}]) AS k)
    SELECT ks.k,
           CAST(COALESCE(SUM(CASE WHEN h.r_exact <= ks.k AND h.r_ivf <= ks.k
                             THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
           MIN(nq.n_queries) AS n_queries,
           CAST(COALESCE(SUM(CASE WHEN h.r_exact <= ks.k AND h.r_ivf <= ks.k
                                  THEN 1 ELSE 0 END), 0)
                * CAST(1000000 AS HUGEINT)
                // (MIN(nq.n_queries) * ks.k) AS BIGINT) AS recall_ppm
    FROM ks CROSS JOIN nq LEFT JOIN hits h ON TRUE
    GROUP BY ks.k
    """


@register("ivf_recall_curve", oracle=_ivf_recall_oracle())
def ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k curve of the trained-IVF index against the exact
    brute-force baseline, at k ∈ {ks} — the tuning chart an ANN
    deployment reads to pick nprobe (``lsh_recall_report`` audits the
    dedup path; this audits retrieval). Both sides are deterministic
    catalog operators, so the oracle replicates BOTH pipelines and
    the measurement compares bit-for-bit.

    Scale posture: rides the shared cached embedding/codebook stages
    of its two constituent queries; the audit itself is a join of two
    (queries × k)-bounded rank lists. Cross-engine determinism: ranks
    are integers from 6dp-rounded-cosine windows with id tiebreaks;
    recall leaves as integer PPM."""
    exact = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_exact")
    )
    ivf = ann_ivf_kmeans(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_ivf")
    )
    nq = exact.agg(F.countDistinct("query_id").alias("n_queries"))
    hits = exact.join(ivf, ["query_id", "neighbor_id"])
    ks = spark.createDataFrame([(k,) for k in _RECALL_KS], "k int")
    return (
        ks.crossJoin(F.broadcast(nq))
        .join(F.broadcast(hits), F.lit(True), "left")
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("r_exact") <= F.col("k"))
                        & (F.col("r_ivf") <= F.col("k")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).alias("n_hits"),
            F.min("n_queries").alias("n_queries"),
            F.expr(
                "CAST(COALESCE(SUM(CASE WHEN r_exact <= k AND r_ivf <= k"
                " THEN 1 ELSE 0 END), 0) * CAST(1000000 AS DECIMAL(38,0))"
                " div (MIN(n_queries) * k) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# NDCG@5 audit of the IVF ranking (graded companion to recall@k)
# ---------------------------------------------------------------------------

# 1/log2(pos+1) discount weights, frozen to 9dp so BOTH engines use
# the same literal (the one transcendental becomes a shared constant)
_NDCG_W = (1.0, 0.630929754, 0.5, 0.430676558, 0.386852807)
_NDCG_IDCG_NANO = sum(round((5 - i) * w * 1_000_000_000) for i, w in enumerate(_NDCG_W))


def _ndcg_oracle() -> str:
    exact_sql = REGISTRY["ann_topk_bruteforce"].oracle
    ivf_sql = REGISTRY["ann_ivf_kmeans"].oracle
    w_case = " ".join(
        f"WHEN {i + 1} THEN {w!r}" for i, w in enumerate(_NDCG_W)
    )
    return f"""
    WITH exact AS ({exact_sql}),
    ivf AS ({ivf_sql}),
    terms AS (
      SELECT i.query_id,
             CAST(ROUND(COALESCE(6 - e.rank, 0)
                        * CAST((CASE i.rank {w_case} END) AS DOUBLE)
                        * 1000000000) AS BIGINT) AS term_nano
      FROM ivf i
      LEFT JOIN exact e ON e.query_id = i.query_id
                       AND e.neighbor_id = i.neighbor_id
      WHERE i.rank <= 5
    ),
    per_query AS (
      SELECT query_id,
             CAST(CAST(SUM(term_nano) AS HUGEINT) * 1000000
                  // {_NDCG_IDCG_NANO} AS BIGINT) AS ndcg_ppm
      FROM terms GROUP BY query_id
    )
    SELECT COUNT(*) AS n_queries,
           CAST(SUM(ndcg_ppm) // COUNT(*) AS BIGINT) AS mean_ndcg_ppm
    FROM per_query
    """


@register("ivf_ndcg_audit", oracle=_ndcg_oracle())
def ivf_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the trained-IVF ranking against brute-force graded
    relevance (rel = 6 − exact rank for true top-5 neighbors) — the
    position-sensitive companion to ``ivf_recall_curve``: recall says
    WHETHER the right neighbors surface, NDCG says whether they
    surface in the right ORDER.

    Scale posture: rides the same cached stages; the audit joins two
    (queries × 5)-bounded rank lists. Cross-engine determinism: the
    log2 discounts are FROZEN 9dp literals shared by both engines, so
    every DCG term is an exact integer nano-unit product; per-query
    NDCG and the mean are integer floor-divisions."""
    exact = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", F.col("rank").alias("r_exact")
    )
    ivf = (
        ann_ivf_kmeans(spark, sf_dir)
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.col("rank").alias("r_ivf"))
    )
    w_case = F.expr(
        "CASE r_ivf "
        + " ".join(f"WHEN {i + 1} THEN {w!r}" for i, w in enumerate(_NDCG_W))
        + " END"
    )
    terms = ivf.join(exact, ["query_id", "neighbor_id"], "left").select(
        "query_id",
        F.round(
            F.coalesce(F.lit(6) - F.col("r_exact"), F.lit(0)) * w_case * 1_000_000_000
        )
        .cast("bigint")
        .alias("term_nano"),
    )
    per_query = terms.groupBy("query_id").agg(
        F.expr(
            f"CAST(CAST(SUM(term_nano) AS DECIMAL(38,0)) * 1000000"
            f" div {_NDCG_IDCG_NANO} AS BIGINT)"
        ).alias("ndcg_ppm")
    )
    return per_query.agg(
        F.count("*").alias("n_queries"),
        F.expr("CAST(SUM(ndcg_ppm) div COUNT(*) AS BIGINT)").alias(
            "mean_ndcg_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Binary (sign) quantization recall audit: 64-bit Hamming vs exact cosine
# ---------------------------------------------------------------------------


def _binary_recall_oracle() -> str:
    def word(alias: str, lo: int, hi: int) -> str:
        # bits lo..hi-1 of the sign pattern packed into one BIGINT
        return (
            f"LIST_AGGREGATE(LIST_TRANSFORM(RANGE({lo + 1}, {hi + 1}),"
            f" i -> CASE WHEN {alias}.embedding[i] > 0"
            f" THEN CAST(POWER(2, i - {lo + 1}) AS BIGINT) ELSE 0 END), 'sum')"
        )

    ham = (
        f"bit_count(xor({word('a', 0, 32)}, {word('b', 0, 32)}))"
        f" + bit_count(xor({word('a', 32, 64)}, {word('b', 32, 64)}))"
    )
    return f"""
    WITH pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_COS}, 6) AS cosine,
             {ham} AS hamming
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS r_exact,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY hamming ASC, neighbor_id) AS r_bin
      FROM pairs
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN r_exact <= {TOP_K} AND r_bin <= {TOP_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           ROUND(SUM(CASE WHEN r_exact <= {TOP_K} AND r_bin <= {TOP_K}
                          THEN 1 ELSE 0 END) / {TOP_K}.0, 4) AS recall
    FROM ranked GROUP BY query_id
    """


@register("binary_quantize_recall", oracle=_binary_recall_oracle())
def binary_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} audit of 1-bit (sign) embedding quantization: each
    vector compresses 64 floats into a 64-bit sign word, retrieval
    ranks by Hamming distance, and the audit counts how many of the
    exact cosine top-{k} survive per query — pricing the 256×
    compression the way ``ivf_recall_curve`` prices IVF probes and
    ``minhash_estimate_audit`` prices the MinHash sketch.

    Scale posture: sign words pack per row in codegen (two BIGINT
    words — no bit-63 sign trap), the query side broadcasts, the
    corpus is scanned once, and both rankings are per-query
    WindowGroupLimit-eligible windows. Cross-engine determinism:
    sign bits and Hamming distances are exact integers, the exact
    ranking orders by the 6dp-rounded fold cosine with neighbor-id
    tiebreak, and recall is an exact multiple of 1/{k}."""
    t = _emb_norm_cached(spark, sf_dir)

    def word(col: str, lo: int) -> Column:
        return F.expr(
            f"aggregate(transform(slice({col}, {lo + 1}, 32),"
            f" (x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)),"
            f" 0L, (acc, v) -> acc + v)"
        )

    base = t.select(
        "vec_id",
        "embedding",
        "norm",
        word("embedding", 0).alias("w_lo"),
        word("embedding", 32).alias("w_hi"),
    )
    corpus = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.col("w_lo").alias("b_lo"),
        F.col("w_hi").alias("b_hi"),
    )
    queries = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.col("w_lo").alias("a_lo"),
        F.col("w_hi").alias("a_hi"),
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)
    ham = F.bit_count(
        F.col("a_lo").bitwiseXOR(F.col("b_lo"))
    ) + F.bit_count(F.col("a_hi").bitwiseXOR(F.col("b_hi")))
    pairs = (
        F.broadcast(queries)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"), ham.alias("hamming"))
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    w_bin = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id")
    )
    ranked = pairs.select(
        "query_id",
        F.row_number().over(w_exact).alias("r_exact"),
        F.row_number().over(w_bin).alias("r_bin"),
    )
    hit = F.when((F.col("r_exact") <= TOP_K) & (F.col("r_bin") <= TOP_K), 1).otherwise(0)
    return ranked.groupBy("query_id").agg(
        F.sum(hit).cast("bigint").alias("n_hits"),
        F.round(F.sum(hit) / float(TOP_K), 4).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training (IVF-cell candidate set)
# ---------------------------------------------------------------------------

_HN_POS_T = 0.35  # positive-pair cosine threshold (task config; see docstring)
_HN_K = 4  # hard negatives kept per anchor


@register(
    "hard_negative_mining",
    oracle=f"""
    SELECT anchor_id, n_positives, neg_id, neg_cosine, CAST(rn AS INTEGER) AS neg_rank
    FROM (
      SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
             ROUND({_DUCK_COS}, 6) AS neg_cosine,
             CAST(SUM(CASE WHEN ROUND({_DUCK_COS}, 6) >= {_HN_POS_T}
                           THEN 1 ELSE 0 END)
                  OVER (PARTITION BY a.vec_id) AS BIGINT) AS n_positives,
             CASE WHEN ROUND({_DUCK_COS}, 6) < {_HN_POS_T} THEN
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id, (ROUND({_DUCK_COS}, 6) >= {_HN_POS_T})
                 ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id
               ) END AS rn
      FROM embeddings a JOIN embeddings b
        ON b.vec_id <> a.vec_id
       AND {_duck_cell('b')} IN ({_duck_probe_cells('a')})
      WHERE a.vec_id < {N_QUERIES}
    ) WHERE rn <= {_HN_K}
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the
    top-{_HN_K} most-similar candidates BELOW the positive-pair
    threshold — the near-misses that make the strongest contrastive
    negatives (Karpukhin et al.'s DPR recipe; random negatives are too
    easy, positives must be excluded) — plus the in-probe positive
    count the curriculum uses to drop anchors with no positive pair.
    Candidates come from the anchor's nprobe={IVF_NPROBE} IVF cells
    (the ``ann_ivf_cells`` quantizer), which is exactly how production
    miners bound the candidate set: mining against the FULL corpus is
    quadratic; mining within the ANN index's own cells is the
    industry-standard approximation.

    θ_pos={_HN_POS_T} is task config (the dup/positive threshold of
    the downstream task); on this corpus it deliberately splits both
    ways — some anchors have in-probe positives, some have none — so
    neither branch is vacuous. Scale posture: rides the family's
    cached norm+projection stage; the tiny anchor side explodes per
    probe cell and broadcasts; corpus rows stay single-copy,
    partitioned by cell; both the positive count and the negative
    ranking are windows over the bounded per-anchor candidate set
    (WindowGroupLimit cuts the rank at {_HN_K}). Cross-engine
    determinism: identical sequential-fold dots, 6dp-rounded cosine
    compared/ordered on both engines, vec_id tiebreak."""
    base = _emb_norm_cached(spark, sf_dir)
    corpus = base.withColumn("cell", _spark_cell()).select(
        F.col("vec_id").alias("neg_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        "cell",
    )
    probe_cells = F.array_distinct(
        F.array(*[_spark_cell(k) for k in range(1, IVF_NPROBE + 1)])
    )
    anchors = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("embedding").alias("emb_a"),
            F.col("norm").alias("norm_a"),
            F.explode(probe_cells).alias("cell"),
        )
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)
    cand = (
        F.broadcast(anchors)
        .join(corpus, ["cell"])
        .filter(F.col("neg_id") != F.col("anchor_id"))
        .select("anchor_id", "neg_id", cos.alias("neg_cosine"))
    )
    is_pos = F.col("neg_cosine") >= _HN_POS_T
    wa = Window.partitionBy("anchor_id")
    wr = Window.partitionBy("anchor_id", is_pos).orderBy(
        F.col("neg_cosine").desc(), F.col("neg_id")
    )
    return (
        cand.withColumn(
            "n_positives",
            F.sum(F.when(is_pos, 1).otherwise(0)).over(wa).cast("bigint"),
        )
        .withColumn(
            "neg_rank", F.when(~is_pos, F.row_number().over(wr)).cast("int")
        )
        .filter(F.col("neg_rank") <= _HN_K)
        .select("anchor_id", "n_positives", "neg_id", "neg_cosine", "neg_rank")
    )


# ---------------------------------------------------------------------------
# Per-source centroid drift matrix (embedding-space domain-shift audit)
# ---------------------------------------------------------------------------


@register(
    "embedding_source_drift",
    oracle=f"""
    WITH e AS (
      SELECT d.source, em.embedding
      FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
    ),
    dims AS (
      SELECT source, i, {nano_mean_sql("v")} AS m
      FROM (
        SELECT source,
               UNNEST(CAST(embedding AS DOUBLE[])) AS v,
               UNNEST(range(1, len(embedding) + 1)) AS i
        FROM e
      ) GROUP BY source, i
    ),
    cent AS (SELECT source, LIST(m ORDER BY i) AS c FROM dims GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           ROUND(LIST_DOT_PRODUCT(a.c, b.c)
                 / (SQRT(LIST_DOT_PRODUCT(a.c, a.c))
                    * SQRT(LIST_DOT_PRODUCT(b.c, b.c))), 6) AS centroid_cosine
    FROM cent a JOIN cent b ON a.source < b.source
    """,
)
def embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space domain-shift audit: the cosine between every
    pair of per-SOURCE embedding centroids — the matrix that flags a
    feed whose content drifted away from the rest of the mix (a
    centroid pair well below the others means those two sources no
    longer sample the same distribution; the monitoring complement of
    ``cross_source_dup_matrix``, which watches OVERLAP).

    Scale posture: the corpus reduces to (source × dim) nano-mean
    cells FIRST — a combinable aggregate whose output is bounded by
    #sources·dims, not rows; centroids assemble from that bounded
    table and the pair matrix is ≤ sources² rows. The doc→embedding id
    join is key-to-key on two O(SF) tables (never broadcast — pinned
    shuffle-hash). Cross-engine determinism: centroid components go
    through the shared nano-mean policy (order-independent exact
    integer accumulation, 6dp out); the pair cosine is the sequential
    fold over the SAME 6dp components in dim order on both engines,
    rounded to 6dp."""
    t = load_tables(spark, sf_dir, "embeddings", "documents")
    e = t["embeddings"].join(
        t["documents"].select("doc_id", "source").hint("shuffle_hash"),
        F.col("vec_id") == F.col("doc_id"),
    )
    dims = (
        e.select("source", F.posexplode("embedding").alias("i0", "v"))
        .groupBy("source", (F.col("i0") + 1).alias("i"))
        .agg(nano_mean("v").alias("m"))
    )
    cent = dims.groupBy("source").agg(
        F.expr("transform(sort_array(collect_list(struct(i, m))), x -> x.m)").alias(
            "c"
        )
    )
    a = cent.select(F.col("source").alias("source_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("source").alias("source_b"), F.col("c").alias("cb"))
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.round(
                dot_expr("ca", "cb") / (norm_expr("ca") * norm_expr("cb")), 6
            ).alias("centroid_cosine"),
        )
    )


# ---------------------------------------------------------------------------
# IVF nprobe recall curve (the ANN latency/recall dial, measured)
# ---------------------------------------------------------------------------

_NPROBE_SWEEP = (1, 2, 4)


def _nprobe_oracle() -> str:
    exact = f"""
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY ROUND({_DUCK_COS}, 6) DESC, b.vec_id
               ) AS rn
        FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {N_QUERIES}
      ) WHERE rn <= {TOP_K}
    )"""
    blocks = []
    for p in _NPROBE_SWEEP:
        blocks.append(f"""
    SELECT {p} AS nprobe,
           CAST({N_QUERIES} AS BIGINT) AS n_queries,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand_{p}) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY query_id
                         ORDER BY cosine DESC, neighbor_id) AS rn
                FROM cand_{p}
              ) WHERE rn <= {TOP_K}
           ) ap JOIN exact e
             ON e.query_id = ap.query_id AND e.neighbor_id = ap.neighbor_id)
             AS n_hits""")
    cands = []
    for p in _NPROBE_SWEEP:
        probe_set = ", ".join(_duck_cell("a", k) for k in range(1, p + 1))
        cands.append(f"""cand_{p} AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_DUCK_COS}, 6) AS cosine
      FROM embeddings a JOIN embeddings b
        ON b.vec_id <> a.vec_id
       AND {_duck_cell('b')} IN ({probe_set})
      WHERE a.vec_id < {N_QUERIES}
    )""")
    body = " UNION ALL ".join(blocks)
    return f"""
    WITH {exact.strip().lstrip()},
    {", ".join(cands)},
    raw AS ({body})
    SELECT nprobe, n_queries, n_candidates, n_hits,
           CAST(CAST(n_hits AS HUGEINT) * 1000000
                // GREATEST({N_QUERIES} * {TOP_K}, 1) AS BIGINT) AS recall_ppm
    FROM raw
    """


@register("ann_nprobe_recall_curve", oracle=_nprobe_oracle())
def ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF latency/recall dial as a measured table: for nprobe ∈
    {_NPROBE_SWEEP}, the candidate volume and recall@{TOP_K} of
    probing the query's nprobe best cells of the fixed coarse
    quantizer, against the brute-force top-{TOP_K} ground truth — the
    ANN twin of ``minhash_band_tuning_curve`` (every approximate
    family ships its tuning curve, not just its shipped-config audit
    ``ivf_recall_curve``). Candidate volume grows ~linearly with
    nprobe while recall saturates; where the curve flattens is the
    nprobe worth paying for at 100 TB.

    Scale posture: every sweep point rides the family's cached
    norm+projection stage (the per-vector folds run once); the tiny
    query side explodes per probed cell and broadcasts; corpus rows
    stay single-copy partitioned by cell; rankings are per-query
    windows over the bounded candidate sets. Cross-engine
    determinism: identical sequential-fold dots, 6dp-rounded cosine
    ordering with vec_id tiebreaks, integer counts and HUGEINT floor
    ppm."""
    base = _emb_norm_cached(spark, sf_dir)
    corpus = base.withColumn("cell", _spark_cell()).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        "cell",
    )
    exact = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 6)

    out = None
    for p in _NPROBE_SWEEP:
        probe_cells = F.array_distinct(
            F.array(*[_spark_cell(k) for k in range(1, p + 1)])
        )
        queries = (
            base.filter(F.col("vec_id") < N_QUERIES)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("emb_a"),
                F.col("norm").alias("norm_a"),
                F.explode(probe_cells).alias("cell"),
            )
        )
        cand = (
            F.broadcast(queries)
            .join(corpus, ["cell"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", cos.alias("cosine"))
            # consumed twice (candidate count + the ranked hit join) —
            # checkpoint so the cell join runs once per sweep point
            .localCheckpoint()
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("cosine").desc(), F.col("neighbor_id")
        )
        approx = cand.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= TOP_K
        )
        n_cand = cand.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates")
        )
        n_hits = (
            approx.join(exact.hint("shuffle_hash"), ["query_id", "neighbor_id"], "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        )
        row = (
            n_cand.crossJoin(F.broadcast(n_hits))
            .select(
                F.lit(p).alias("nprobe"),
                F.lit(N_QUERIES).cast("bigint").alias("n_queries"),
                "n_candidates",
                "n_hits",
                F.expr(
                    f"CAST(CAST(n_hits AS DECIMAL(38,0)) * 1000000"
                    f" div GREATEST({N_QUERIES * TOP_K}, 1) AS BIGINT)"
                ).alias("recall_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# MRR / hit-rate retrieval audit over the exact top-k
# ---------------------------------------------------------------------------


def _mrr_oracle() -> str:
    exact_sql = REGISTRY["ann_topk_bruteforce"].oracle
    return f"""
    WITH exact AS ({exact_sql}),
    rel AS (
      SELECT e.query_id, e.rank
      FROM exact e
      JOIN embeddings q ON q.vec_id = e.query_id
      JOIN embeddings n ON n.vec_id = e.neighbor_id
      WHERE q.label = n.label
    ),
    per_q AS (
      SELECT q.query_id, MIN(r.rank) AS first_rel
      FROM (SELECT DISTINCT query_id FROM exact) q
      LEFT JOIN rel r ON r.query_id = q.query_id
      GROUP BY q.query_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_hit,
           CAST(SUM(CASE WHEN first_rel = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hits_at_1,
           CAST(SUM(COALESCE(1000000 // first_rel, 0)) // COUNT(*) AS BIGINT)
             AS mrr_micro
    FROM per_q
    """


@register("retrieval_mrr_audit", oracle=_mrr_oracle())
def retrieval_mrr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Reciprocal Rank + hit-rate of the exact top-{TOP_K}
    neighbor ranking against the label-match relevance proxy — the
    first-relevant-position companion to ``ivf_ndcg_audit`` (NDCG
    grades the whole list, MRR grades where the FIRST relevant result
    lands — the metric RAG/retrieval pipelines actually page on) over
    the same {N_QUERIES}-query set.

    Scale posture: rides ``ann_topk_bruteforce``'s cached norm stage;
    the audit works on a (queries × {TOP_K})-bounded rank list, and
    the BOUNDED sides broadcast (the rank list and the vec_id-filtered
    query labels) while the O(corpus) label table streams.
    Cross-engine determinism: ranks are integers, reciprocal
    ranks are 1e6-unit integer floor-divisions, the mean is one more
    floor-division — no floating point anywhere in the metric.

    Reference surface: none (novel extension, SURVEY.md §2.5
    similarity family)."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    labels = t.select("vec_id", "label")
    # the bounded sides get broadcast: query labels ({N_QUERIES} rows by
    # the vec_id filter) and the exact rank list ({N_QUERIES}×{TOP_K}
    # rows); the O(corpus) label table streams — broadcasting IT would
    # grow with every replica until the broadcast limit kills the query
    q_labels = labels.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    # consumed once (the rel join) now that per_q derives its query-id
    # set from the bounded vec_id filter instead of a second pass
    exact = ann_topk_bruteforce(spark, sf_dir)
    rel = (
        labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "n_label")
        .join(F.broadcast(exact), "neighbor_id")
        .join(F.broadcast(q_labels), "query_id")
        .where(F.col("q_label") == F.col("n_label"))
        .select("query_id", "rank")
    )
    per_q = (
        q_labels.select("query_id")
        .join(rel.groupBy("query_id").agg(F.min("rank").alias("first_rel")),
              "query_id", "left")
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("first_rel").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_with_hit"),
        F.sum(F.when(F.col("first_rel") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("hits_at_1"),
        F.expr(
            "CAST(SUM(COALESCE(1000000 div first_rel, 0)) div COUNT(*)"
            " AS BIGINT)"
        ).alias("mrr_micro"),
    )


# ---------------------------------------------------------------------------
# JL / random-projection distortion audit (8-dim sketch vs exact cosine)
# ---------------------------------------------------------------------------

_JL_BIN_MICRO = 50_000  # distortion histogram bin width: 0.05 in micro-units


def _jl_oracle() -> str:
    p_exprs = []
    for i, hp in enumerate(HYPERPLANES):
        lit = "[" + ", ".join(repr(v) for v in hp) + "]"
        p_exprs.append(
            f"LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),"
            f" CAST({lit} AS DOUBLE[])) AS p{i}"
        )
    dotp = " + ".join(f"a.p{i} * b.p{i}" for i in range(N_HYPERPLANES))
    norm = lambda al: " + ".join(
        f"{al}.p{i} * {al}.p{i}" for i in range(N_HYPERPLANES)
    )
    return f"""
    WITH pr AS (
      SELECT vec_id, embedding,
             SQRT(LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm,
             {', '.join(p_exprs)}
      FROM embeddings
    ),
    pairs AS (
      SELECT CAST(ROUND(LIST_DOT_PRODUCT(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[]))
                        / (a.nrm * b.nrm) * 1000000) AS BIGINT) AS full_micro,
             CAST(ROUND(({dotp}) / (SQRT({norm('a')}) * SQRT({norm('b')}))
                        * 1000000) AS BIGINT) AS proj_micro
      FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1
      WHERE a.nrm > 0 AND b.nrm > 0
        AND ({norm('a')}) > 0 AND ({norm('b')}) > 0
    ),
    d AS (SELECT proj_micro - full_micro AS d_micro FROM pairs)
    SELECT CAST(d_micro // {_JL_BIN_MICRO} AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(d_micro) // COUNT(*) AS BIGINT) AS mean_signed_micro,
           CAST(MIN(d_micro) AS BIGINT) AS min_micro,
           CAST(MAX(d_micro) AS BIGINT) AS max_micro
    FROM d GROUP BY 1
    """


@register("jl_projection_distortion_audit", oracle=_jl_oracle())
def jl_projection_distortion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss distortion audit of the family's shared
    8-hyperplane sketch: for a deterministic linear pair sample
    (vec_id, vec_id+1), compare the EXACT 64-dim cosine against the
    cosine of the 8-dim random projections and histogram the signed
    error (0.05-wide bins) — the measurement that justifies (or
    indicts) every downstream consumer of those projections
    (``ann_lsh_bucketed`` buckets, near-dup bands, IVF cells): an 8×
    compression that keeps |distortion| inside ±0.3 for most pairs is
    why sign-bucket recall works at all, and the bin tails show
    exactly how often it lies.

    Scale posture: the pair sample is an equality self-join on
    vec_id+1 (one shuffle, exactly n−1 pairs — NEVER all-pairs);
    projections come from the family's CACHED ``projs`` stage so the
    64-dim folds are not recomputed; the histogram is a bounded keyed
    aggregate (|bins| ≤ 81 by construction of cosine ∈ [−1,1]).
    Cross-engine determinism: both cosines round to integer
    MICRO-units before the subtraction, bins via truncating division
    (identical both engines, documented trunc-toward-zero), all
    outputs integer.

    Reference surface: none (novel extension, SURVEY.md §2.5
    similarity family)."""
    t = _emb_norm_cached(spark, sf_dir)
    proj_dot = (
        "aggregate(zip_with(projs_a, projs_b, (x, y) -> x * y),"
        " 0D, (acc, v) -> acc + v)"
    )
    proj_sq = lambda c: (
        f"aggregate(zip_with({c}, {c}, (x, y) -> x * y),"
        " 0D, (acc, v) -> acc + v)"
    )
    a = t.select(
        F.col("vec_id").alias("ka"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.col("projs").alias("projs_a"),
    )
    b = t.select(
        (F.col("vec_id") - 1).alias("ka"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
        F.col("projs").alias("projs_b"),
    )
    pairs = (
        a.join(b, "ka")
        .where(
            (F.col("norm_a") > 0)
            & (F.col("norm_b") > 0)
            & (F.expr(proj_sq("projs_a")) > 0)
            & (F.expr(proj_sq("projs_b")) > 0)
        )
        .select(
            F.expr(
                "CAST(ROUND("
                + "aggregate(zip_with(emb_a, emb_b, (x, y) ->"
                " CAST(x AS DOUBLE) * y), 0D, (acc, v) -> acc + v)"
                + " / (norm_a * norm_b) * 1000000) AS BIGINT)"
            ).alias("full_micro"),
            F.expr(
                f"CAST(ROUND(({proj_dot})"
                f" / (SQRT({proj_sq('projs_a')}) * SQRT({proj_sq('projs_b')}))"
                " * 1000000) AS BIGINT)"
            ).alias("proj_micro"),
        )
    )
    d = pairs.select((F.col("proj_micro") - F.col("full_micro")).alias("d_micro"))
    return d.groupBy(
        F.expr(f"CAST(d_micro div {_JL_BIN_MICRO} AS BIGINT)").alias("bin_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("CAST(SUM(d_micro) div COUNT(*) AS BIGINT)").alias(
            "mean_signed_micro"
        ),
        F.min("d_micro").cast("bigint").alias("min_micro"),
        F.max("d_micro").cast("bigint").alias("max_micro"),
    )


# ---------------------------------------------------------------------------
# Embedding anisotropy audit (Ethayarajh-style cone concentration)
# ---------------------------------------------------------------------------


@register(
    "embedding_anisotropy_audit",
    oracle="""
    WITH comp AS (
      SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS v,
             CAST(UNNEST(range(0, len(embedding))) AS INT) AS dim
      FROM embeddings
    ),
    mom AS (
      SELECT dim, COUNT(*) AS n,
             SUM(CAST(ROUND(v * 1000000000) AS BIGINT)) AS sx,
             SUM(CAST(CAST(ROUND(v * 1000000000) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(v * 1000000000) AS BIGINT)) AS sxx
      FROM comp GROUP BY dim
    ),
    terms AS (
      SELECT n,
             CAST(ROUND((CAST(sx AS DOUBLE) / 1e9 / n)
                        * (CAST(sx AS DOUBLE) / 1e9 / n)
                        * 1000000000) AS BIGINT) AS mu2_nano,
             CAST(ROUND((CAST(sxx AS DOUBLE) / 1e18 / n)
                        * 1000000000) AS BIGINT) AS e2_nano,
             CAST(ROUND((CAST(sxx AS DOUBLE) / 1e18
                         - (CAST(sx AS DOUBLE) / 1e9)
                           * (CAST(sx AS DOUBLE) / 1e9) / n) / n
                        * 1000000000) AS BIGINT) AS var_nano
      FROM mom
    ),
    agg AS (
      SELECT CAST(MIN(n) AS BIGINT) AS n_vectors,
             CAST(COUNT(*) AS BIGINT) AS n_dims,
             CAST(SUM(mu2_nano) AS HUGEINT) AS mu_norm2,
             CAST(SUM(e2_nano) AS HUGEINT) AS mean_norm2,
             CAST(SUM(var_nano) AS HUGEINT) AS total_var,
             CAST(MAX(var_nano) AS BIGINT) AS max_var
      FROM terms
    )
    SELECT n_vectors, n_dims,
           ROUND(mean_norm2 / 1e9, 6) AS mean_norm2,
           ROUND(mu_norm2 / 1e9, 6) AS mu_norm2,
           ROUND(CAST(mu_norm2 AS DOUBLE) / mean_norm2, 6)
             AS anisotropy_ratio,
           ROUND(CAST(max_var AS DOUBLE) / total_var, 6)
             AS top_dim_var_share
    FROM agg WHERE mean_norm2 > 0 AND total_var > 0
    """,
)
def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anisotropy audit of the embedding space: ||μ||²/E[‖x‖²] — the
    fraction of vector energy living in the COMMON direction
    (Ethayarajh's cone effect). Near 0 = isotropic (cosine behaves);
    large = all vectors share a dominant component, which inflates
    every cosine similarity and quietly poisons ``dedup_semantic`` /
    ANN thresholds — the do-I-need-to-center check run before any
    cosine-threshold pipeline. top_dim_var_share adds the
    dimensional-collapse signal (one dimension carrying most of the
    variance).

    Scale posture: ONE posexplode pass into the bounded per-dim
    moment table (the ``embedding_dim_stats`` shuffle: |dims| keys,
    map-side combined); per-dim μ²/E[v²]/Var terms are nano-rounded
    before the cross-dim exact sums (order immunity over dims); one
    output row. No pairwise anything — the mean-vector identity
    replaces the O(n²) average pairwise cosine.

    Reference surface: none (novel extension, SURVEY.md §2.5
    similarity family)."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    comp = spread(t).select(
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("dim", "v")
    )
    d38 = "DECIMAL(38,0)"
    mom = comp.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"SUM(CAST(CAST(ROUND(v * 1000000000) AS BIGINT) AS {d38}))"
        ).alias("sx"),
        F.expr(
            f"SUM(CAST(CAST(ROUND(v * 1000000000) AS BIGINT) AS {d38})"
            " * CAST(ROUND(v * 1000000000) AS BIGINT))"
        ).alias("sxx"),
    )
    terms = mom.select(
        "n",
        F.expr(
            "CAST(ROUND((CAST(sx AS DOUBLE) / 1e9 / n)"
            " * (CAST(sx AS DOUBLE) / 1e9 / n) * 1000000000) AS BIGINT)"
        ).alias("mu2_nano"),
        F.expr(
            "CAST(ROUND((CAST(sxx AS DOUBLE) / 1e18 / n) * 1000000000)"
            " AS BIGINT)"
        ).alias("e2_nano"),
        F.expr(
            "CAST(ROUND((CAST(sxx AS DOUBLE) / 1e18"
            " - (CAST(sx AS DOUBLE) / 1e9)"
            " * (CAST(sx AS DOUBLE) / 1e9) / n) / n * 1000000000)"
            " AS BIGINT)"
        ).alias("var_nano"),
    )
    agg = terms.agg(
        F.min("n").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.expr(f"CAST(SUM(CAST(mu2_nano AS {d38})) AS {d38})").alias(
            "mu_norm2"
        ),
        F.expr(f"CAST(SUM(CAST(e2_nano AS {d38})) AS {d38})").alias(
            "mean_norm2"
        ),
        F.expr(f"CAST(SUM(CAST(var_nano AS {d38})) AS {d38})").alias(
            "total_var"
        ),
        F.max("var_nano").alias("max_var"),
    )
    return agg.where("mean_norm2 > 0 AND total_var > 0").select(
        "n_vectors",
        "n_dims",
        F.expr("ROUND(mean_norm2 / 1e9, 6)").alias("mean_norm2"),
        F.expr("ROUND(mu_norm2 / 1e9, 6)").alias("mu_norm2"),
        F.expr(
            "ROUND(CAST(mu_norm2 AS DOUBLE) / mean_norm2, 6)"
        ).alias("anisotropy_ratio"),
        F.expr(
            "ROUND(CAST(max_var AS DOUBLE) / total_var, 6)"
        ).alias("top_dim_var_share"),
    )


# ---------------------------------------------------------------------------
# Simplified silhouette per label (centroid-based)
# ---------------------------------------------------------------------------

_SIL_COMP_SQL = """
      SELECT vec_id, label,
             CAST(UNNEST(range(0, len(embedding))) AS INT) AS dim,
             UNNEST(CAST(embedding AS DOUBLE[])) AS v
      FROM embeddings
"""

_SIL_CENT_SQL = """
      SELECT label AS clabel, dim,
             CAST(SUM(CAST(ROUND(v * 1000000000) AS BIGINT)) AS HUGEINT)
               AS sxn,
             COUNT(*) AS n
      FROM comp GROUP BY 1, 2
"""


@register(
    "silhouette_simplified_labels",
    oracle=f"""
    WITH comp AS ({_SIL_COMP_SQL}),
    cent AS ({_SIL_CENT_SQL}),
    d2 AS (
      SELECT c.vec_id, c.label, ct.clabel,
             CAST(SUM(CAST(ROUND(
               (c.v - CAST(ct.sxn AS DOUBLE) / 1e9 / ct.n)
               * (c.v - CAST(ct.sxn AS DOUBLE) / 1e9 / ct.n)
               * 1000000000) AS BIGINT)) AS HUGEINT) AS ss_nano
      FROM comp c JOIN cent ct ON ct.dim = c.dim
      GROUP BY 1, 2, 3
    ),
    ab AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label
                      THEN SQRT(CAST(ss_nano AS DOUBLE) / 1e9) END) AS a,
             MIN(CASE WHEN clabel <> label
                      THEN SQRT(CAST(ss_nano AS DOUBLE) / 1e9) END) AS b
      FROM d2 GROUP BY 1, 2
    ),
    s AS (
      SELECT label,
             CAST(ROUND(CASE WHEN GREATEST(a, b) > 0
                             THEN (b - a) / GREATEST(a, b) ELSE 0e0 END
                        * 1000000000) AS BIGINT) AS s_nano
      FROM ab WHERE a IS NOT NULL AND b IS NOT NULL
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(SUM(s_nano) / (COUNT(*) * 1e9), 6) AS mean_silhouette
    FROM s GROUP BY label ORDER BY label
    """,
)
def silhouette_simplified_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label: a = distance
    to the OWN label centroid, b = distance to the nearest OTHER
    centroid, s = (b−a)/max(a,b), averaged per label — the
    separability report card for the embedding labels that
    ``embedding_label_centroids`` summarizes and ``knn_classify``
    consumes, at O(n·k) instead of the O(n²) full silhouette.

    Scale posture: one posexplode; centroids are a bounded
    (labels×dims) aggregate BROADCAST back; the per-point×centroid
    distance stage is a k-fan dim join reduced map-side; per-dim
    squared diffs and the final s are nano-rounded before every exact
    integer sum (order immunity). Output: one row per label.

    Reference surface: none (novel extension, SURVEY.md §2.5
    similarity family)."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    comp = spread(t).select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("dim", "v"),
    )
    d38 = "DECIMAL(38,0)"
    cent = comp.groupBy(
        F.col("label").alias("clabel"), "dim"
    ).agg(
        F.expr(
            f"CAST(SUM(CAST(ROUND(v * 1000000000) AS BIGINT)) AS {d38})"
        ).alias("sxn"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = "(CAST(sxn AS DOUBLE) / 1e9 / n)"
    d2 = (
        comp.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.expr(
                f"CAST(SUM(CAST(ROUND((v - {mu}) * (v - {mu})"
                f" * 1000000000) AS BIGINT)) AS {d38})"
            ).alias("ss_nano")
        )
    )
    ab = d2.groupBy("vec_id", "label").agg(
        F.expr(
            "MAX(CASE WHEN clabel = label"
            " THEN SQRT(CAST(ss_nano AS DOUBLE) / 1e9) END)"
        ).alias("a"),
        F.expr(
            "MIN(CASE WHEN clabel <> label"
            " THEN SQRT(CAST(ss_nano AS DOUBLE) / 1e9) END)"
        ).alias("b"),
    )
    s = ab.where("a IS NOT NULL AND b IS NOT NULL").select(
        "label",
        F.expr(
            "CAST(ROUND(CASE WHEN GREATEST(a, b) > 0"
            " THEN (b - a) / GREATEST(a, b) ELSE 0e0 END"
            " * 1000000000) AS BIGINT)"
        ).alias("s_nano"),
    )
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.expr(
                "ROUND(SUM(s_nano) / (COUNT(*) * 1e9), 6)"
            ).alias("mean_silhouette"),
        )
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n_vectors",
            "mean_silhouette",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin index of the label clustering
# ---------------------------------------------------------------------------


@register(
    "davies_bouldin_labels",
    oracle=f"""
    WITH comp AS ({_SIL_COMP_SQL}),
    cent AS ({_SIL_CENT_SQL}),
    d2own AS (
      SELECT c.vec_id, c.label,
             CAST(SUM(CAST(ROUND(
               (c.v - CAST(ct.sxn AS DOUBLE) / 1e9 / ct.n)
               * (c.v - CAST(ct.sxn AS DOUBLE) / 1e9 / ct.n)
               * 1000000000) AS BIGINT)) AS HUGEINT) AS ss_nano
      FROM comp c JOIN cent ct ON ct.dim = c.dim AND ct.clabel = c.label
      GROUP BY 1, 2
    ),
    disp AS (
      SELECT label,
             CAST(SUM(CAST(ROUND(SQRT(CAST(ss_nano AS DOUBLE) / 1e9)
                                 * 1000000000) AS BIGINT)) AS HUGEINT)
               AS sd_nano,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM d2own GROUP BY label
    ),
    cd AS (
      SELECT a.clabel AS li, b.clabel AS lj,
             SQRT(CAST(SUM(CAST(ROUND(
               (CAST(a.sxn AS DOUBLE) / 1e9 / a.n
                - CAST(b.sxn AS DOUBLE) / 1e9 / b.n)
               * (CAST(a.sxn AS DOUBLE) / 1e9 / a.n
                  - CAST(b.sxn AS DOUBLE) / 1e9 / b.n)
               * 1000000000) AS BIGINT)) AS DOUBLE) / 1e9) AS d
      FROM cent a JOIN cent b ON b.dim = a.dim AND a.clabel < b.clabel
      GROUP BY 1, 2
    ),
    ratios AS (
      SELECT li AS i, lj AS j,
             (CAST(di.sd_nano AS DOUBLE) / di.n
              + CAST(dj.sd_nano AS DOUBLE) / dj.n) / 1e9 / d AS r
      FROM cd
      JOIN disp di ON di.label = li
      JOIN disp dj ON dj.label = lj
      WHERE d > 0
    ),
    dirs AS (
      SELECT i, j, r FROM ratios
      UNION ALL
      SELECT j, i, r FROM ratios
    ),
    worst AS (
      SELECT i, CAST(ROUND(MAX(r) * 1000000000) AS BIGINT) AS mx_nano
      FROM dirs GROUP BY i
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_labels,
           ROUND(SUM(mx_nano) / (COUNT(*) * 1e9), 6) AS db_index
    FROM worst
    """,
)
def davies_bouldin_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin index of the label clustering: for each label
    the worst (S_i + S_j)/d(c_i, c_j) over the other labels, averaged
    — lower is better-separated. The one-number companion to
    ``silhouette_simplified_labels`` (which grades per label): DB
    penalizes the single most-confusable neighbor pair, so it reacts
    first when two labels start to merge — the drift alarm for a
    labeled embedding space.

    Scale posture: one posexplode; dispersions reduce per label with
    per-point sqrt distances nano-rounded before the exact sums; the
    centroid-pair distance table is bounded labels² computed entirely
    from the broadcast (labels×dims) centroid aggregate; the final
    max/mean runs over bounded rows with nano-rounded ratios
    (deterministic ties). One output row.

    Reference surface: none (novel extension, SURVEY.md §2.5
    similarity family)."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    comp = spread(t).select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("dim", "v"),
    )
    d38 = "DECIMAL(38,0)"
    cent = comp.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.expr(
            f"CAST(SUM(CAST(ROUND(v * 1000000000) AS BIGINT)) AS {d38})"
        ).alias("sxn"),
        F.count(F.lit(1)).alias("n"),
    )
    mu = "(CAST(sxn AS DOUBLE) / 1e9 / n)"
    cent_r = cent.select(
        "clabel", F.col("dim").alias("cdim"), "sxn", "n"
    )
    d2own = (
        comp.join(
            F.broadcast(cent_r),
            (F.col("dim") == F.col("cdim"))
            & (F.col("label") == F.col("clabel")),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.expr(
                f"CAST(SUM(CAST(ROUND((v - {mu}) * (v - {mu})"
                f" * 1000000000) AS BIGINT)) AS {d38})"
            ).alias("ss_nano")
        )
    )
    disp = d2own.groupBy("label").agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(SQRT(CAST(ss_nano AS DOUBLE) / 1e9)"
            f" * 1000000000) AS BIGINT)) AS {d38})"
        ).alias("sd_nano"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = cent.select(
        F.col("clabel").alias("li"), F.col("dim").alias("da"),
        F.col("sxn").alias("sxa"), F.col("n").alias("na"),
    )
    b = cent.select(
        F.col("clabel").alias("lj"), F.col("dim").alias("db"),
        F.col("sxn").alias("sxb"), F.col("n").alias("nb"),
    )
    mua = "(CAST(sxa AS DOUBLE) / 1e9 / na)"
    mub = "(CAST(sxb AS DOUBLE) / 1e9 / nb)"
    cd = (
        a.join(
            F.broadcast(b),
            (F.col("da") == F.col("db")) & (F.col("li") < F.col("lj")),
        )
        .groupBy("li", "lj")
        .agg(
            F.expr(
                f"SQRT(CAST(SUM(CAST(ROUND(({mua} - {mub})"
                f" * ({mua} - {mub}) * 1000000000) AS BIGINT))"
                f" AS DOUBLE) / 1e9)"
            ).alias("d")
        )
    )
    di = disp.select(
        F.col("label").alias("li"),
        F.col("sd_nano").alias("sdi"),
        F.col("n").alias("ni"),
    )
    dj = disp.select(
        F.col("label").alias("lj"),
        F.col("sd_nano").alias("sdj"),
        F.col("n").alias("nj"),
    )
    ratios = (
        cd.join(F.broadcast(di), "li")
        .join(F.broadcast(dj), "lj")
        .where("d > 0")
        .select(
            "li",
            "lj",
            F.expr(
                "(CAST(sdi AS DOUBLE) / ni + CAST(sdj AS DOUBLE) / nj)"
                " / 1e9 / d"
            ).alias("r"),
        )
    )
    both = ratios.select(
        F.col("li").alias("i"), F.col("r")
    ).unionByName(ratios.select(F.col("lj").alias("i"), F.col("r")))
    worst = both.groupBy("i").agg(
        F.expr("CAST(ROUND(MAX(r) * 1000000000) AS BIGINT)").alias(
            "mx_nano"
        )
    )
    return worst.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
        F.expr("ROUND(SUM(mx_nano) / (COUNT(*) * 1e9), 6)").alias(
            "db_index"
        ),
    )


# ---------------------------------------------------------------------------
# Effective rank (participation ratio) of the embedding variance
# ---------------------------------------------------------------------------


@register(
    "embedding_effective_rank",
    oracle="""
    WITH comp AS (
      SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS v,
             CAST(UNNEST(range(0, len(embedding))) AS INT) AS dim
      FROM embeddings
    ),
    mom AS (
      SELECT dim, COUNT(*) AS n,
             SUM(CAST(ROUND(v * 1000000000) AS BIGINT)) AS sx,
             SUM(CAST(CAST(ROUND(v * 1000000000) AS BIGINT) AS HUGEINT)
                 * CAST(ROUND(v * 1000000000) AS BIGINT)) AS sxx
      FROM comp GROUP BY dim
    ),
    vars_ AS (
      SELECT CAST(ROUND((CAST(sxx AS DOUBLE) / 1e18
                         - (CAST(sx AS DOUBLE) / 1e9)
                           * (CAST(sx AS DOUBLE) / 1e9) / n) / n
                        * 1000000000000) AS BIGINT) AS var_pico
      FROM mom
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
             CAST(SUM(var_pico) AS HUGEINT) AS sv,
             CAST(SUM(CAST(var_pico AS HUGEINT) * var_pico) AS HUGEINT)
               AS svv
      FROM vars_
    )
    SELECT n_dims,
           ROUND(CAST(sv AS DOUBLE) / 1e12, 6) AS total_variance,
           ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                 / CAST(svv AS DOUBLE), 6) AS participation_ratio,
           ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                 / CAST(svv AS DOUBLE) / n_dims, 6) AS pr_normalized
    FROM agg WHERE svv > 0
    """,
)
def embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective rank of the embedding variance via the participation
    ratio PR = (Σσ²_d)²/Σσ⁴_d — "how many dimensions actually carry
    variance": PR = d for perfectly isotropic spread, PR → 1 under
    dimensional collapse. The closed-form no-eigendecomposition
    companion to ``embedding_principal_direction`` (which finds the
    top axis) and ``embedding_anisotropy_audit`` (mean-offset energy):
    diagonal variances bound the spectrum's participation without any
    iteration. pr_normalized = PR/d is the scale-free health number
    (matryoshka/truncation decisions read it directly).

    Scale posture: one posexplode into the bounded per-dim moment
    aggregate; per-dim variances are pico-rounded to integers before
    the cross-dim exact sums (order immunity); PR is one fixed double
    expression. One output row.

    Reference surface: none (novel extension, SURVEY.md §2.5
    similarity family)."""
    t = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    comp = spread(t).select(
        F.posexplode(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        ).alias("dim", "v")
    )
    d38 = "DECIMAL(38,0)"
    mom = comp.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"SUM(CAST(CAST(ROUND(v * 1000000000) AS BIGINT) AS {d38}))"
        ).alias("sx"),
        F.expr(
            f"SUM(CAST(CAST(ROUND(v * 1000000000) AS BIGINT) AS {d38})"
            " * CAST(ROUND(v * 1000000000) AS BIGINT))"
        ).alias("sxx"),
    )
    vars_ = mom.select(
        F.expr(
            "CAST(ROUND((CAST(sxx AS DOUBLE) / 1e18"
            " - (CAST(sx AS DOUBLE) / 1e9)"
            " * (CAST(sx AS DOUBLE) / 1e9) / n) / n"
            " * 1000000000000) AS BIGINT)"
        ).alias("var_pico")
    )
    agg = vars_.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.expr(f"CAST(SUM(var_pico) AS {d38})").alias("sv"),
        F.expr(
            f"CAST(SUM(CAST(var_pico AS {d38}) * var_pico) AS {d38})"
        ).alias("svv"),
    )
    return agg.where("svv > 0").select(
        "n_dims",
        F.expr("ROUND(CAST(sv AS DOUBLE) / 1e12, 6)").alias(
            "total_variance"
        ),
        F.expr(
            "ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)"
            " / CAST(svv AS DOUBLE), 6)"
        ).alias("participation_ratio"),
        F.expr(
            "ROUND(CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)"
            " / CAST(svv AS DOUBLE) / n_dims, 6)"
        ).alias("pr_normalized"),
    )


# ---------------------------------------------------------------------------
# Sliced Wasserstein distance between source embedding distributions
# ---------------------------------------------------------------------------

_SW_SLICES = 4
_SW_BIN_NANO = 50_000_000  # 0.05 projection units per bin
_SW_OFFSET = 64_000_000_000  # |p_nano| <= 64e9, so buckets stay >= 0


def _sw_sign_sql(k: str, i: str) -> str:
    """DuckDB ±1 from the first md5 hex digit's parity of 'sw|k:i' —
    mirrors Spark's conv(substring(md5(...), 1, 1), 16, 10) % 2."""
    h = f"MD5('sw|' || CAST({k} AS VARCHAR) || ':' || CAST({i} AS VARCHAR))"
    return (
        f"(CASE WHEN (STRPOS('0123456789abcdef', SUBSTR({h}, 1, 1)) - 1)"
        f" % 2 = 0 THEN 1 ELSE -1 END)"
    )


@register(
    "sliced_wasserstein_embeddings",
    oracle=f"""
    WITH e AS (
      SELECT em.vec_id, d.source,
             UNNEST(list_transform(
               range(1, len(em.embedding) + 1),
               i -> {{'i': i,
                     'v': CAST(ROUND(em.embedding[i] * 1000000000)
                               AS BIGINT)}})) AS u
      FROM embeddings em
      JOIN documents d ON d.doc_id = em.vec_id
    ),
    sl AS (SELECT UNNEST(range({_SW_SLICES})) AS k),
    p AS (
      SELECT e.vec_id, e.source, sl.k,
             SUM({_sw_sign_sql('sl.k', 'u.i')} * u.v) AS p_nano
      FROM e CROSS JOIN sl
      GROUP BY 1, 2, 3
    ),
    h AS (
      SELECT source, k,
             CAST((p_nano + {_SW_OFFSET}) // {_SW_BIN_NANO} AS BIGINT)
               AS v,
             COUNT(*) AS cnt
      FROM p GROUP BY 1, 2, 3
    ),
    n AS (SELECT source, SUM(cnt) // {_SW_SLICES} AS n_s
          FROM h GROUP BY source),
"""
    + w1_pair_cte_sql(["k"], scale_div=_SW_SLICES).replace(
        "AS w1_micro", "AS sw_micro"
    ),
)
def sliced_wasserstein_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sliced Wasserstein distance between every source pair's
    EMBEDDING distributions — the distribution-level drift metric the
    centroid-cosine matrix cannot see (two sources with identical
    centroids but different spreads read 0 there; sliced-W1 sees the
    shape). Each of {_SW_SLICES} fixed Rademacher directions (signs
    from md5 parity, identical in both engines) projects every vector
    to an EXACT nano-integer scalar (signed sum of nano-rounded
    components — integer accumulation, so no float summation-order
    hazard exists); projections bin at 0.05 width (the documented
    resolution bound: |SW − binned-SW| ≤ bin width) and the exact 1-D
    W1 runs per slice via the SHARED pair machinery in
    functions/wasserstein.py (single-sourced with the doclen W1 on
    both engine sides), averaged over slices in one integer division.

    Scale posture: the per-vector work is {_SW_SLICES} per-ROW integer
    fold expressions (zip_with against driver-computed ±1 sign
    literals — the md5 parity grid depends only on (slice, dim index),
    a ≤ slices×dim constant, so evaluating md5 per data row was pure
    redundancy; the Python hashlib bytes are identical to both
    engines' md5), then one bounded {_SW_SLICES}-wide explode straight
    into the histogram aggregate — no per-element explode and one
    fewer exchange than the groupBy-reassembly formulation (r15 opt:
    2.26→1.97s at sf0.1, plan loses the (vec,source,k) Exchange). The
    histogram is a bounded (source × slice × ~200-bucket) grid and
    everything downstream — densify, cumsum, pair join — runs on that
    grid, never on vectors. The per-row fold relies on vec_id being
    unique in embeddings (its PK — the scale generator offsets it per
    replica), exactly as the oracle's per-vec_id GROUP BY does. The
    sign arrays are EMB_DIM wide and every vector is checked to be
    exactly that wide inside the projection, so no probe job runs and
    a wider or narrower row fails the query instead of projecting to
    NULL. The doc→embedding join is key-to-key shuffle-hash
    (never broadcast). numpy definitional pin in
    tests/test_statistics_sanity.py."""
    import hashlib

    t = load_tables(spark, sf_dir, "embeddings", "documents")
    # empty/NULL vectors contribute no projection on either engine
    # (the oracle's UNNEST of an empty list yields no rows) — the
    # guard keeps parity if a generator ever emits one (ADVICE r15)
    emb = t["embeddings"].where(F.size("embedding") > 0)
    # the sign arrays are EMB_DIM wide, the generator's fixed width
    # (no probe job). A row of any other width would zip against a
    # short or long sign array and project to a silent NULL or a
    # truncated sum, so the width is checked per row in the same
    # projection and a violating row fails the query.
    emb = emb.withColumn(
        "embedding",
        F.when(F.size("embedding") == EMB_DIM, F.col("embedding")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"embedding width is not {EMB_DIM} for vec_id "),
                    F.col("vec_id").cast("string"),
                )
            )
        ),
    )
    sign_arrays = []
    for k in range(_SW_SLICES):
        signs = [
            1
            if int(hashlib.md5(f"sw|{k}:{i}".encode()).hexdigest()[0], 16) % 2
            == 0
            else -1
            for i in range(1, EMB_DIM + 1)
        ]
        sign_arrays.append(
            "array(" + ",".join(f"{s}L" for s in signs) + ")"
        )
    e = emb.join(
        t["documents"].select("doc_id", "source").hint("shuffle_hash"),
        F.col("vec_id") == F.col("doc_id"),
    )
    proj = [
        F.expr(
            f"aggregate(zip_with(embedding, {sign_arrays[k]}, (x, s) ->"
            " CAST(ROUND(x * 1000000000) AS BIGINT) * s),"
            " 0L, (a, b) -> a + b)"
        ).alias(f"p{k}")
        for k in range(_SW_SLICES)
    ]
    p = e.select("source", *proj)
    h = (
        p.select(
            "source",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("bigint").alias("k"),
                            F.expr(
                                f"CAST((p{k} + {_SW_OFFSET}) DIV"
                                f" {_SW_BIN_NANO} AS BIGINT)"
                            ).alias("v"),
                        )
                        for k in range(_SW_SLICES)
                    ]
                )
            ).alias("s"),
        )
        .select("source", "s.k", "s.v")
        .groupBy("source", "k", "v")
        .agg(F.count("*").alias("cnt"))
    )
    n = h.groupBy("source").agg(
        F.expr(f"sum(cnt) DIV {_SW_SLICES}").alias("n_s")
    )
    return w1_pair_micro(
        h, n, part_cols=["k"], scale_div=_SW_SLICES
    ).withColumnRenamed("w1_micro", "sw_micro")
