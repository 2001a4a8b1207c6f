"""Deduplication operators (SURVEY.md §2.5): exact, keyed
latest-wins, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (100 TB posture):

- exact dedup groups on a content hash, never on the raw text — the
  shuffle moves 32-byte keys, not documents;
- keyed latest-wins is a ranking window (single shuffle on the key) —
  the same plan the Loader's ``dedupe='last'`` upsert mode uses
  (reference semantics discussion: SURVEY.md §2 M3);
- n-gram Jaccard joins on shingles (inverted-index join), never a
  cross join;
- MinHash-LSH banding reduces candidate generation to equality joins
  on (band_index, band_hash) — O(near-duplicates), not O(n²);
- SimHash banding (4×8-bit bands over a 32-bit fingerprint) has
  guaranteed recall for Hamming distance ≤ 3 by pigeonhole, so the
  banded plan is exactly equivalent to the all-pairs oracle.

Everything is md5-based so the DuckDB oracles replicate the exact
algorithm (same hashes, same candidates, same output).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rs_streamloader_spark.operators.registry import register
from rs_streamloader_spark.functions import n_tokens, quality_score
from rs_streamloader_spark.session import load_tables, spread, stage_cached

JACCARD_THRESHOLD = 0.2
N_MINHASH = 16
N_BANDS = 4  # 4 bands × 4 rows
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 3


# The dedup family (ngram_jaccard, cluster, minhash_lsh) all start
# from the same shingle table, and cluster additionally consumes
# jaccard's pair output — both are shared via session.stage_cached.


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT MD5(text) AS content_hash,
           COUNT(*) AS n_copies,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM documents
    GROUP BY MD5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash; keeps the lowest doc_id per group."""
    t = load_tables(spark, sf_dir, "documents")["documents"]
    return (
        t.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


@register(
    "dedup_keyed_latest",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def dedup_keyed_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed latest-wins dedup — the sane-default upsert batch-dedup
    variant (``dedupe='last'``), vs the reference's keep-all-rows
    DELETE-then-INSERT (lib/RedshiftLoader.ts:369-384)."""
    t = load_tables(spark, sf_dir, "events")["events"]
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        t.select("user_id", "event_id", "ts", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Shingles + exact n-gram Jaccard
# ---------------------------------------------------------------------------

_SHINGLE_SQL = """
      SELECT doc_id, UNNEST(LIST_DISTINCT(
               LIST_TRANSFORM(RANGE(1, LEN(ws) - 1),
                              i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
             )) AS sh
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents)
"""


def _shingles(t: DataFrame) -> DataFrame:
    """Distinct word-trigram shingles per doc (explode-based), with the
    doc's shingle count ``n`` denormalized onto every row — computed
    from the pre-explode array size, so it costs a column, not a
    shuffle, and saves the per-doc-count join in every consumer.

    ``explode_outer`` + post-explode null filter instead of plain
    ``explode``, deliberately: for ``explode``, Catalyst's
    InferFiltersFromGenerate synthesizes a ``size(gs) > 0 AND
    isnotnull(gs)`` pre-filter, CollapseProject inlines the whole
    shingle expression into BOTH predicates with ``split(text)``
    re-executed per lambda element access, and pushdown evaluates
    that interpreted (higher-order-fn, non-codegen) monster below the
    spread Exchange — i.e. on the unparallelized scan. Measured at
    sf0.1: 7.4s → 0.4s for the identical 260k-row output. The null
    filter runs post-Exchange on materialized ``gs`` and keeps the
    semantics exactly (docs with < 3 words produce no shingles)."""
    ws = F.split(F.col("text"), " ")
    # guard: sequence(0, n) descends for n<0, so gate on size>=3
    grams = F.expr(
        "CASE WHEN size(ws) >= 3 THEN"
        " transform(sequence(0, size(ws) - 3),"
        "           i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"
        " ELSE array() END"
    )
    return (
        spread(t).select("doc_id", ws.alias("ws"))
        .select("doc_id", F.array_distinct(grams).alias("gs"))
        .select(
            "doc_id",
            F.size("gs").cast("bigint").alias("n"),
            F.explode_outer("gs").alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
    )


def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared, cached shingle stage for the whole dedup family."""
    return stage_cached(
        spark,
        sf_dir,
        "shingles",
        lambda: _shingles(load_tables(spark, sf_dir, "documents")["documents"]),
    )


_JACCARD_ORACLE = f"""
    WITH s AS ({_SHINGLE_SQL}),
    n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
    FROM inter
    JOIN n na ON na.doc_id = doc_a
    JOIN n nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}
"""


def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard pairs ≥ threshold — shared by the pair
    query and the cluster-resolution operator (cached: the pair join is
    the family's most expensive stage, and cluster re-reads it)."""
    return stage_cached(
        spark, sf_dir, "jaccard_pairs", lambda: _jaccard_pairs_plan(spark, sf_dir)
    )


#: Posting-list (document-frequency) cap for the shared Jaccard pair
#: stage: shingles shared by more than this many documents are dropped
#: BEFORE pair generation.  A shingle in k docs contributes k·(k-1)/2
#: candidate rows, so one boilerplate trigram ("all rights reserved")
#: shared by millions of pages makes the stage quadratic at corpus
#: scale; capping df bounds the per-shingle fan-out at ~2M pairs and
#: drops only shingles that carry ~zero Jaccard signal (standard
#: near-dup practice; intersections shrink, unions don't, so capped
#: jaccard is a lower bound).  The cap is far above every test scale's
#: max df (9 / 7 / 25 at sf0.001/0.01/0.1; ~250 at the 10× stress
#: replicas), so oracle results are bit-identical there.
_JACCARD_DF_CAP = 2000


def _coshingle_counts_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pair shared-shingle counts (doc_a, doc_b, i, na, nb) for
    every co-shingled doc pair — the shared candidate stage under both
    Jaccard and containment dedup.

    Basket-array pair generation instead of a shingle self-join: one
    groupBy(sh) collects the (bounded, df-capped) posting list sorted
    by doc_id, and in-array combos emit each co-shingled ordered pair
    exactly once — 2 exchanges total (sh, then pair) vs the join's 3.

    The df cap is enforced BEFORE the posting list is collected: a
    window count over the sh partition (spill-safe — WindowExec
    buffers oversized partitions through the external row array, it
    never holds them in an aggregation buffer) tags every row with
    its shingle's df, the filter drops singleton and over-cap
    shingles, and only then does collect_list build arrays — so the
    aggregation buffer never materializes a mega-hot posting list
    (a post-collect size() filter would OOM on exactly the
    boilerplate shingle the cap exists for). The window and the
    collect share one hash partitioning on sh, so the pre-filter
    costs no extra exchange — and dropping the (majority) df=1
    shingles before collection shrinks the collect input. n rides
    along in the struct, so the per-pair aggregate picks it up with
    min() instead of two post-agg count joins."""
    s = _shingles_cached(spark, sf_dir)
    w = Window.partitionBy("sh")
    capped = s.withColumn("df", F.count(F.lit(1)).over(w)).filter(
        (F.col("df") >= 2) & (F.col("df") <= _JACCARD_DF_CAP)
    )
    postings = capped.groupBy("sh").agg(
        F.array_sort(F.collect_list(F.struct("doc_id", "n"))).alias("docs")
    )
    pairs = postings.select(
        F.explode(
            F.expr(
                "flatten(transform(docs, (a, i) ->"
                " transform(slice(docs, i + 2, size(docs) - i - 1), b ->"
                "   struct(a.doc_id AS doc_a, b.doc_id AS doc_b,"
                "          a.n AS na, b.n AS nb))))"
            )
        ).alias("p")
    ).select("p.*")
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("i"),
        F.min("na").alias("na"),
        F.min("nb").alias("nb"),
    )


def _coshingle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached shared-shingle pair counts — consumed by the Jaccard
    family AND ``dedup_containment`` (mining.py), so the expensive
    pair stage materializes once per sf_dir."""
    return stage_cached(
        spark, sf_dir, "coshingle_counts",
        lambda: _coshingle_counts_plan(spark, sf_dir),
    )


def _jaccard_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    inter = _coshingle_counts(spark, sf_dir)
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard near-dup pairs (inverted-index join
    on shingles — O(co-shingled pairs), no cross join; hot shingles are
    the skew risk, handled by AQE skew-join at scale)."""
    return _jaccard_pairs(spark, sf_dir)


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution (connected components over near-dup pairs)
# ---------------------------------------------------------------------------

_CLUSTER_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ),
    labeled AS (
      SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u
    )
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_keeper
    FROM labeled
"""


def propagate_min_labels(edges: DataFrame, max_steps: int = 10) -> DataFrame:
    """Connected components by iterative min-label propagation over a
    symmetric edge list ``(u, v)`` → one row ``(u, label)`` per vertex,
    label = component minimum. Two propagation hops are FUSED per
    materialized step — label(u) ← min over the 2-hop neighborhood —
    the same round-halving a large-star/small-star alternation buys,
    with one driver sync per step instead of two; ``localCheckpoint``
    truncates lineage each step.

    Convergence is detected by counting labels that changed in the
    step (``sum(label != old)``) — NOT by comparing ``sum(label)``
    across steps, which on a multi-billion-vertex graph could overflow
    int64 and (astronomically unlikely) alias two different label
    assignments. The changed-count is the same single tiny aggregate
    per step and is overflow-proof. Raises on non-convergence: a
    silent partial result would split one component into several
    clusters with several keepers — data corruption for a dedup
    decision."""
    # round 0 folded into init: label(u) = min(u, min neighbor)
    labels = (
        edges.groupBy("u")
        .agg(F.least(F.first("u"), F.min("v")).alias("label"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(max_steps):  # converges in ≤ diameter/2 steps
        cur = labels.withColumn("__old", F.col("label"))
        # two hops fused into one lineage before materializing
        for _hop in range(2):
            neighbor_min = (
                edges.join(
                    cur.select(F.col("u").alias("v"), "label"), "v"
                )
                .groupBy("u")
                .agg(F.min("label").alias("nbr_label"))
            )
            cur = (
                cur.join(neighbor_min, "u", "left")
                .select(
                    "u",
                    "__old",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                    ).alias("label"),
                )
            )
        cur = cur.localCheckpoint()
        n_changed = cur.agg(
            F.sum((F.col("label") != F.col("__old")).cast("int"))
        ).first()[0]
        labels = cur.drop("__old")
        if not n_changed:  # 0, or None on an empty vertex set
            converged = True
            break
    if not converged:
        # Chain-shaped components longer than the hop cap are
        # pathological for threshold-pair graphs but must fail loudly,
        # not wrong.
        raise RuntimeError(
            "propagate_min_labels: label propagation did not converge "
            f"within {2 * max_steps} hops — component diameter exceeds "
            "the cap; raise max_steps for this dataset"
        )
    return labels


@register("dedup_cluster", oracle=_CLUSTER_ORACLE)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components over the
    near-dup pair graph, cluster id = min doc_id in the component,
    keeper = that doc. This is the operator a training-data pipeline
    actually runs — pairs alone don't say which docs to drop.

    Implementation is iterative min-label propagation over the
    symmetric edge list (each round: one join + one groupBy;
    ``localCheckpoint`` truncates lineage), converging in ≤ graph
    diameter rounds. The oracle computes the same components with a
    recursive CTE. Two propagation rounds are FUSED per materialized
    step — label(u) ← min over the 2-hop neighborhood — which is the
    same round-halving a large-star/small-star alternation buys, with
    one driver sync per step instead of two; pair graphs from a
    Jaccard threshold are near-cliques (diameter ~2), so one fused
    step typically converges."""
    labels = _cluster_labels(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return (
        labels.withColumn("cluster_size", F.count("*").over(w))
        .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))
    )


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared cached component-label stage (doc_id, cluster_id) over
    the Jaccard pair graph — propagate_min_labels runs EAGERLY
    (per-step driver sync), so every consumer beyond the first
    (dedup_cluster, dedup_keep_best_quality, catalog sweeps) must read
    the cache, not re-propagate."""

    def build() -> DataFrame:
        pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
        edges = pairs.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        ).unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        return propagate_min_labels(edges).select(
            F.col("u").alias("doc_id"), F.col("label").alias("cluster_id")
        )

    return stage_cached(spark, sf_dir, "cluster_labels", build)


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

def _sigs_of_shingles(sh: DataFrame) -> DataFrame:
    """Minhash signature aggregate (16 seeded-md5 min columns per doc)
    over a (doc_id, sh) shingle frame — the one formula shared by the
    corpus-level cached stage and the per-micro-batch signatures of the
    streaming incremental-dedup replay."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("sh")))).alias(f"h{k}")
            for k in range(N_MINHASH)
        ]
    )


def _minhash_sig_cached(spark: SparkSession, sf_dir: str):
    """Shared, cached minhash signature aggregate (16 seeded-md5 min
    columns per doc) — consumed by both ``dedup_minhash_lsh`` and
    ``minhash_estimate_audit``, so the shingle->signature reduction
    runs once per (session, sf_dir)."""

    def build():
        return _sigs_of_shingles(_shingles_cached(spark, sf_dir))

    return stage_cached(spark, sf_dir, "minhash_sig", build)


def _minhash_oracle() -> str:
    mins = ",\n             ".join(
        f"MIN(MD5('{k}|' || sh)) AS h{k}" for k in range(N_MINHASH)
    )
    bands = []
    rows = N_MINHASH // N_BANDS
    for b in range(N_BANDS):
        cat = " || ".join(f"h{b * rows + r}" for r in range(rows))
        bands.append(f"SELECT doc_id, {b} AS band_idx, MD5({cat}) AS band_val FROM sig")
    bands_sql = "\n      UNION ALL\n      ".join(bands)
    return f"""
    WITH s AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id),
    bands AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ),
    n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN s sa ON sa.doc_id = c.doc_a
      JOIN s sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard
    FROM inter
    JOIN n na ON na.doc_id = doc_a
    JOIN n nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 permutations via seeded md5, min over lexicographic
    hex) + LSH banding (4 bands × 4 rows) → equality-join candidate
    pairs (each pair emitted from its first matching band only) →
    exact-Jaccard verification.

    The oracle replicates the identical algorithm, so the compare is
    exact including any LSH false negatives. At 100 TB the only
    shuffles are: shingle→signature agg, band self-join (tiny keys),
    and the candidate verification join — the first-matching-band
    filter replaces the candidate DISTINCT, so exactly-once emission
    costs a map-side 4-key comparison instead of a full shuffle of
    the candidate set. Unlike the embedding twin (see
    ``embedding_near_dup_lsh`` for the measured counter-case), shingle
    banding IS selective — near-identical shingle sets are rare — so
    the candidate join beats scoring all pairs: measured 1.7× elapsed
    at 10× corpus.

    MEASURED recall vs the exact twin ``dedup_ngram_jaccard``: 1.0 at
    sf0.01 (25/25 pairs), 0.992 at sf0.1 (254/256) — asserted ≥ 0.9 by
    tests/test_lsh_recall.py. Precision is 1.0 by construction (every
    candidate is exact-Jaccard-verified)."""
    s = _shingles_cached(spark, sf_dir)

    sig = _minhash_sig_cached(spark, sf_dir)
    rows = N_MINHASH // N_BANDS
    bvals = F.array(
        *[
            F.md5(F.concat(*[F.col(f"h{b * rows + r}") for r in range(rows)]))
            for b in range(N_BANDS)
        ]
    )
    # cache: the band table is tiny (4 rows/doc of 32-byte keys + the
    # 4-key array) and the self-join below would otherwise recompute
    # the whole shingle→minhash lineage for each side
    bands = (
        sig.select("doc_id", bvals.alias("bvals"))
        .select(
            "doc_id", "bvals", F.posexplode("bvals").alias("band_idx", "band_val")
        )
        .cache()
    )

    a = bands.alias("a")
    b = bands.alias("b")
    # each pair emits from its FIRST matching band only (no earlier
    # band agrees) — exactly-once without the DISTINCT's extra shuffle
    # over the candidate set; slice(…, 1, band_idx) is empty at
    # band_idx=0, so band-0 matches always pass
    first_match = F.expr(
        "NOT exists(zip_with(slice(a.bvals, 1, a.band_idx),"
        " slice(b.bvals, 1, b.band_idx), (x, y) -> x = y), p -> p)"
    )
    cand = (
        # shuffle-hash pinned: both band-join sides are O(4·docs), so
        # the base-scale AQE broadcast is not the 100 TB shape (it
        # flipped at the k=100 rehearsal, SCALE_STRESS_r10_k100)
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )

    # shuffle-hash pinned on the candidate side: AQE flips this verify
    # join between broadcast and shuffle right at the 10× stress scale
    # (SCALE_STRESS_r06 shape_stable: false); the shuffle-hash shape
    # with the candidate list as build side is the one that holds at
    # 100 TB (candidates are O(near-dups) — small relative to shingles
    # but not provably broadcastable), so choose it, don't luck into it.
    inter = (
        cand.hint("shuffle_hash")
        .join(s.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .hint("shuffle_hash")  # 2nd verify join: build on the pair side,
        # never broadcast the O(corpus) shingle table (1× AQE did)
        .join(
            s.alias("sb"),
            (F.col("doc_b") == F.col("sb.doc_id")) & (F.col("sb.sh") == F.col("sa.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("i"),
            F.min("sa.n").alias("na"),
            F.min("sb.n").alias("nb"),
        )
    )
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_SQL = f"""
      SELECT doc_id,
             CAST(SUM(CASE WHEN sgn > 0 THEN CAST(POWER(2, bit) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS fp
      FROM (
        SELECT doc_id, bit, SUM(CASE WHEN hexbit = 1 THEN 1 ELSE -1 END) AS sgn
        FROM (
          SELECT doc_id, bit,
                 (STRPOS('0123456789abcdef',
                         SUBSTR(MD5(tok), CAST(1 + bit // 4 AS INTEGER), 1)) - 1)
                 // CAST(POWER(2, bit % 4) AS INTEGER) % 2 AS hexbit
          FROM (
            SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS tok
            FROM documents
          ), (SELECT UNNEST(RANGE(0, {SIMHASH_BITS})) AS bit)
        )
        GROUP BY doc_id, bit
      )
      GROUP BY doc_id
"""


def _simhash_fps_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One 32-bit fingerprint per doc — the cached stage the banded
    self-join reads from both sides. One row per token (NOT token ×
    bit): the 8 hex digits of the md5 prefix become 8 int columns, and
    the 32 per-bit ±1 sums are 32 aggregate expressions — all inside
    whole-stage codegen, cutting the pre-shuffle row count 32× vs. a
    bit-explode formulation."""
    t = load_tables(spark, sf_dir, "documents")["documents"]
    # explode_outer + null filter: plain explode makes Catalyst infer a
    # size/isnotnull pre-filter that re-evaluates array_distinct(split)
    # twice per row below the spread Exchange (see _shingles)
    toks = (
        spread(t)
        .select(
            "doc_id",
            F.explode_outer(F.array_distinct(F.split("text", " "))).alias("tok"),
        )
        .filter(F.col("tok").isNotNull())
    )
    h = F.md5("tok")
    tok_v = toks.select(
        "doc_id",
        *[
            (F.instr(F.lit("0123456789abcdef"), F.substring(h, d + 1, 1)) - 1).alias(
                f"v{d}"
            )
            for d in range(SIMHASH_BITS // 4)
        ],
    )
    sgn_cols = [
        F.sum(
            F.shiftright(F.col(f"v{b // 4}"), b % 4).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    sgns = tok_v.groupBy("doc_id").agg(*sgn_cols)
    fp_expr = sgns["s0"] * 0  # typed zero accumulator
    for b in range(SIMHASH_BITS):
        fp_expr = fp_expr + F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(0)
    return sgns.select("doc_id", fp_expr.cast("bigint").alias("fp"))


@register(
    "dedup_simhash",
    oracle=f"""
    WITH fps AS ({_SIMHASH_SQL})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(BIT_COUNT(XOR(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.fp, b.fp)) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over distinct word tokens (bit i of token hash
    from the md5 hex digits), near-dup = Hamming distance ≤ 3.

    Candidate generation uses 4×8-bit band equality joins — pigeonhole
    guarantees recall for distance ≤ 3, so the banded plan returns
    exactly the all-pairs oracle result without an O(n²) join."""
    fps = stage_cached(
        spark, sf_dir, "simhash_fps", lambda: _simhash_fps_plan(spark, sf_dir)
    )
    # banded candidate join: 4 bands of 8 bits each
    band_cols = [
        (F.shiftright(F.col("fp"), b * 8) % 256).alias(f"band{b}") for b in range(4)
    ]
    banded = fps.select("doc_id", "fp", *band_cols)
    bands = banded.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("bi"), F.col(f"band{b}").alias("bv"))
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "fp", "band.bi", "band.bv")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).cast("int")
    # hamming filter runs map-side on the join output — the survivors
    # are the (small) true near-dup set, not every in-bucket candidate;
    # candidates in dense buckets dominate the join output. Each pair
    # then emits from its FIRST matching band only (all lower bands'
    # bytes of fp⊕fp differ): exactly-once without a DISTINCT shuffle.
    xf = "(a.fp ^ b.fp)"
    first_match = F.expr(
        f"CASE a.bi WHEN 0 THEN true"
        f" WHEN 1 THEN ({xf} & 255) != 0"
        f" WHEN 2 THEN ({xf} & 255) != 0 AND (shiftright({xf}, 8) & 255) != 0"
        f" ELSE ({xf} & 255) != 0 AND (shiftright({xf}, 8) & 255) != 0"
        f" AND (shiftright({xf}, 16) & 255) != 0 END"
    )
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# Decontamination (train/eval n-gram overlap)
# ---------------------------------------------------------------------------

EVAL_SET_MAX_DOC_ID = 50  # doc_id < 50 plays the held-out eval set


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH s AS ({_SHINGLE_SQL}),
    eval_s AS (
      SELECT DISTINCT sh FROM s WHERE doc_id < {EVAL_SET_MAX_DOC_ID}
    )
    SELECT s.doc_id, COUNT(*) AS n_shared_shingles
    FROM s JOIN eval_s ON s.sh = eval_s.sh
    WHERE s.doc_id >= {EVAL_SET_MAX_DOC_ID}
    GROUP BY s.doc_id
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word-trigram shingle with the held-out eval set (doc_id <
    {EVAL_SET_MAX_DOC_ID} stands in for the benchmark corpus) — the
    n-gram-overlap contamination check every LLM training pipeline
    runs before a data release.

    Plan shape at 100 TB: the eval side reduces to a DISTINCT shingle
    set (tiny vs the corpus → broadcast), the train side streams
    through one broadcast-hash semi-join-then-count — the corpus is
    never self-joined and never shuffled on the shingle. Shares the
    cached shingle stage with the dedup family."""
    s = _shingles_cached(spark, sf_dir)
    eval_sh = (
        s.filter(F.col("doc_id") < EVAL_SET_MAX_DOC_ID).select("sh").distinct()
    )
    return (
        s.filter(F.col("doc_id") >= EVAL_SET_MAX_DOC_ID)
        .join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus via a distributed Bloom
# filter (the reference only ever appends or key-upserts — this is the
# content-level guard a training-data ingest runs before accepting a batch)
# ---------------------------------------------------------------------------

BLOOM_BITS = 1 << 16          # 2^16 bits → 1024 64-bit words
BLOOM_WORDS = BLOOM_BITS // 64
PREFIX_WORDS = 4              # boilerplate fingerprint = first 4 words


def _prefix_hash(col):
    """md5 of the first PREFIX_WORDS tokens — a boilerplate-prefix
    fingerprint (exact-text md5 would also work; the prefix key is
    what yields non-trivial duplicates in the synthetic corpus and is
    the realistic boilerplate-dedup key)."""
    return F.md5(F.array_join(F.slice(F.split(col, " "), 1, PREFIX_WORDS), " "))


@register(
    "dedup_incremental_bloom",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, source,
             MD5(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:{PREFIX_WORDS}], ' ')) AS prefix_hash
      FROM documents
    )
    SELECT doc_id, prefix_hash FROM p
    WHERE source = 'src0'
      AND prefix_hash IN (SELECT prefix_hash FROM p WHERE source <> 'src0')
    """,
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: which docs of an incoming batch
    (source='src0') duplicate the existing corpus (every other
    source), on a boilerplate-prefix fingerprint. The oracle is the
    plain semi-join; the engine path is the one that survives 100 TB:

    1. The corpus is compressed into a {BLOOM_BITS}-bit Bloom filter
       (k=2, positions = two 16-bit slices of the md5) built
       DISTRIBUTEDLY: each hash explodes to (word_idx, bit) pairs and
       bit_or-aggregates into {BLOOM_WORDS} 64-bit words. Partial
       aggregation collapses every task to ≤{BLOOM_WORDS} rows before
       the exchange, so the only corpus-wide shuffle moves
       tasks×{BLOOM_WORDS} tiny rows — never the corpus.
    2. The batch probes the bitmap via two broadcast joins on
       word_idx ({BLOOM_WORDS}-row build side) — a map-only filter
       that discards non-duplicates at ~2e-4 false-positive rate for
       the test fill factor.
    3. Bloom hits are exact-verified: the surviving candidate keys
       broadcast back against the corpus (semi), and the confirmed
       keys broadcast against the candidates — two broadcast semis,
       no sort-merge join anywhere, so neither the batch nor the
       corpus is ever shuffled on the key.

    Scale: the bitmap size is a constant; for a real trillion-doc
    corpus BLOOM_BITS grows to keep fill ≲50% and the same plan holds
    (the bitmap build's exchange is tasks×words rows regardless of
    corpus size). Correctness never depends on the filter — step 3
    removes false positives, and false negatives are impossible."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    keyed = docs.select("doc_id", "source", _prefix_hash(F.col("text")).alias("prefix_hash"))
    corpus = keyed.filter(F.col("source") != "src0")
    batch = keyed.filter(F.col("source") == "src0")

    def positions(df):
        p1 = F.conv(F.substring("prefix_hash", 1, 4), 16, 10).cast("long")
        p2 = F.conv(F.substring("prefix_hash", 5, 4), 16, 10).cast("long")
        return df.withColumn("p1", p1).withColumn("p2", p2)

    bitmap = (
        positions(corpus)
        .select(F.explode(F.array("p1", "p2")).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            (F.col("pos") % 64).cast("int").alias("bitpos"),
        )
        .select("word_idx", F.expr("shiftleft(CAST(1 AS BIGINT), bitpos)").alias("bit"))
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )
    probed = positions(batch)
    for i, pos in enumerate(["p1", "p2"], start=1):
        bm = bitmap.select(
            F.col("word_idx").alias(f"w{i}"), F.col("bits").alias(f"bits{i}")
        )
        probed = (
            probed.withColumn(f"b{i}", (F.col(pos) % 64).cast("int"))
            .join(
                F.broadcast(bm), (F.col(pos) / 64).cast("int") == F.col(f"w{i}"), "left"
            )
            .filter(
                F.col(f"bits{i}").bitwiseAND(
                    F.expr(f"shiftleft(CAST(1 AS BIGINT), b{i})")
                )
                != 0
            )
        )
    candidates = probed.select("doc_id", "prefix_hash")
    confirmed_keys = (
        corpus.join(
            F.broadcast(candidates.select("prefix_hash").distinct()),
            "prefix_hash",
            "left_semi",
        )
        .select("prefix_hash")
        .distinct()
    )
    return candidates.join(F.broadcast(confirmed_keys), "prefix_hash", "left_semi").select(
        "doc_id", "prefix_hash"
    )


# ---------------------------------------------------------------------------
# Contrastive triplet mining (anchor / positive / hash-derived negative)
# ---------------------------------------------------------------------------

@register(
    "contrastive_triplets",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    rim AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rk
      FROM documents
    ),
    ranked AS (
      SELECT p.doc_a, p.doc_b, p.jaccard,
             ra.rk AS rank_a, rb.rk AS rank_b, c.n_docs
      FROM pairs p
        JOIN rim ra ON p.doc_a = ra.doc_id
        JOIN rim rb ON p.doc_b = rb.doc_id
        CROSS JOIN (SELECT COUNT(*) AS n_docs FROM documents) c
    ),
    s1 AS (
      SELECT *, (rank_a * 31 + rank_b * 17 + 7) % n_docs AS neg0 FROM ranked
    ),
    s2 AS (
      SELECT *, CASE WHEN neg0 = rank_a OR neg0 = rank_b
                     THEN (neg0 + 1) % n_docs ELSE neg0 END AS neg1
      FROM s1
    ),
    s3 AS (
      SELECT *, CASE WHEN neg1 = rank_a OR neg1 = rank_b
                     THEN (neg1 + 1) % n_docs ELSE neg1 END AS neg2
      FROM s2
    )
    SELECT s3.doc_a AS anchor_id, s3.doc_b AS positive_id,
           CAST(rn.doc_id AS BIGINT) AS negative_id,
           ROUND(s3.jaccard, 6) AS pos_jaccard
    FROM s3 JOIN rim rn ON s3.neg2 = rn.rk
    """,
)
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining: every near-dup pair (the
    cached Jaccard stage) becomes an (anchor, positive, negative)
    triplet, with the negative drawn deterministically by modular
    hashing in RANK space over a dense 0..n-1 rim of the corpus ids —
    double-bumped past collisions with the anchor/positive ranks
    (anchor ≠ positive, so two +1 steps always suffice). Rank space,
    not id space: the draw names a real document even when doc_ids
    are sparse or offset (id-space modular arithmetic silently lands
    on nonexistent ids the moment the corpus isn't contiguous).

    Scale posture: beyond the shared pair stage, three broadcast
    equi-joins against the rank rim (the dictionary-encode table a
    corpus builds once) and pure arithmetic — no sampling shuffle. A
    real pipeline would swap the modular draw for hash(anchor, epoch)
    to resample negatives per epoch; the plan shape is identical."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, "documents")["documents"]
    n_docs = t.agg(F.count("*").alias("n_docs"))
    # dense rank rim 0..n-1 over doc_id order: the modular draw happens
    # in RANK space so a negative always names a real document even
    # when doc_ids are sparse/offset (the scaled stress corpus offsets
    # replicas by 50M). The rim is the dictionary-encode step a corpus
    # builds once; its global row_number is the sort-once cost (or the
    # two-pass prefix-sum pattern, see interval_concurrency, at 100 TB).
    rim = t.select("doc_id").withColumn(
        "rk", F.row_number().over(Window.orderBy("doc_id")) - 1
    )
    pairs = _jaccard_pairs(spark, sf_dir)
    ranked = (
        pairs.join(
            F.broadcast(rim.select(F.col("doc_id").alias("doc_a"), F.col("rk").alias("rank_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(rim.select(F.col("doc_id").alias("doc_b"), F.col("rk").alias("rank_b"))),
            "doc_b",
        )
        .join(F.broadcast(n_docs))
    )
    neg0 = (F.col("rank_a") * 31 + F.col("rank_b") * 17 + 7) % F.col("n_docs")
    ranked = ranked.withColumn("neg0", neg0)
    neg1 = F.when(
        (F.col("neg0") == F.col("rank_a")) | (F.col("neg0") == F.col("rank_b")),
        (F.col("neg0") + 1) % F.col("n_docs"),
    ).otherwise(F.col("neg0"))
    ranked = ranked.withColumn("neg1", neg1)
    neg2 = F.when(
        (F.col("neg1") == F.col("rank_a")) | (F.col("neg1") == F.col("rank_b")),
        (F.col("neg1") + 1) % F.col("n_docs"),
    ).otherwise(F.col("neg1"))
    ranked = ranked.withColumn("neg2", neg2)
    return ranked.join(
        F.broadcast(rim.select(F.col("rk").alias("neg2"), F.col("doc_id").alias("negative_id"))),
        "neg2",
    ).select(
        F.col("doc_a").alias("anchor_id"),
        F.col("doc_b").alias("positive_id"),
        F.col("negative_id").cast("bigint"),
        F.round("jaccard", 6).alias("pos_jaccard"),
    )


# ---------------------------------------------------------------------------
# Near-dup graph degree distribution (cluster-health diagnostics)
# ---------------------------------------------------------------------------

@register(
    "graph_degree_stats",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs
      ) GROUP BY doc_id
    )
    SELECT degree, COUNT(*) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph — the health
    check run before trusting connected-components dedup (a fat-tailed
    degree histogram means a boilerplate/template cluster is about to
    glue unrelated documents together).

    Scale posture: consumes the CACHED Jaccard pair stage (shared with
    ``dedup_ngram_jaccard``/``dedup_cluster``), so the expensive join
    never re-runs; both aggregates are keyed and combinable, and the
    histogram output is bounded by the max degree, not the corpus."""
    pairs = _jaccard_pairs(spark, sf_dir)
    deg = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_docs"))


# ---------------------------------------------------------------------------
# N-gram novelty (per-doc fraction of first-seen shingles)
# ---------------------------------------------------------------------------

@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH s AS ({_SHINGLE_SQL}),
    first_seen AS (
      SELECT sh, MIN(doc_id) AS first_doc FROM s GROUP BY sh
    )
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
    FROM s JOIN first_seen f ON s.sh = f.sh
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's trigram
    shingles whose FIRST appearance (lowest doc_id) is this doc — low
    novelty flags boilerplate/recombined content that pairwise near-dup
    scores can miss when the copying is many-to-one.

    Scale posture: reuses the cached shared shingle stage; first-seen
    is a combinable min aggregate on the shingle key, joined back on
    that same key, and the per-doc rollup is a keyed aggregate of
    exact integers. The join-back is PINNED to a shuffle-hash join
    (build = the aggregated first-seen side): the first-seen table is
    O(distinct shingles) — it only fits in a broadcast at toy scale,
    so letting AQE broadcast it at sf0.1 and shuffle at 10× (the r9
    stress drift) meant the tested shape was not the 100 TB shape.
    One plan at every scale; both join inputs shuffle on sh."""
    s = _shingles_cached(spark, sf_dir)
    first = s.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        s.join(first.hint("shuffle_hash"), "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.alias("n_novel"),
            F.round(novel / F.count("*").cast("double"), 6).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# PageRank centrality over the near-dup graph (boilerplate-hub scoring)
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000_000  # rank mass in integer "micro-rank" units
_PR_ITERS = 3


def _pr_oracle() -> str:
    base = f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (
      SELECT deg.u, {_PR_SCALE} // nn.n AS r FROM deg CROSS JOIN nn
    )
    """
    step = """,
    r{next} AS (
      SELECT deg.u,
             (15 * {scale}) // (100 * nn.n)
             + (85 * COALESCE(s.contrib, 0)) // 100 AS r
      FROM deg CROSS JOIN nn
      LEFT JOIN (
        SELECT e.v AS u, SUM(r{cur}.r // deg.d) AS contrib
        FROM edges e
        JOIN r{cur} ON r{cur}.u = e.u
        JOIN deg ON deg.u = e.u
        GROUP BY e.v
      ) s ON s.u = deg.u
    )
    """
    steps = "".join(
        step.format(cur=i, next=i + 1, scale=_PR_SCALE) for i in range(_PR_ITERS)
    )
    return (
        base
        + steps
        + f"""
    SELECT deg.u AS doc_id, deg.d AS degree,
           CAST(r{_PR_ITERS}.r AS BIGINT) AS pr_micro
    FROM deg JOIN r{_PR_ITERS} ON r{_PR_ITERS}.u = deg.u
    """
    )


@register("pagerank_neardup", oracle=_pr_oracle())
def pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, {iters} synchronous iterations) over the
    undirected near-dup pair graph — ranks the template/boilerplate
    HUBS that glue unrelated documents together (the docs
    ``graph_degree_stats`` flags by degree, now weighted by the rank
    mass flowing through them). All arithmetic is INTEGER: rank mass
    lives in micro-rank units of 1e-12, per-edge contributions use
    exact integer division, and the damping update is
    ``(15·S)//(100·N) + (85·Σ)//100`` — so both engines agree
    bit-for-bit regardless of summation order (no rounded-double
    boundary risk anywhere; the floor leak of < 1 unit/edge/round is
    deterministic and identical cross-engine).

    Scale posture: consumes the CACHED Jaccard pair stage (shared
    with the whole dedup family); each iteration is one shuffle —
    contributions group by destination — over the edge list, the
    classic distributed PageRank layout. Iteration count is FIXED
    (no driver sync at all); the degree table and the degree-carrying
    edge list are lazily localCheckpoint-ed: every iteration (and the
    final join) re-references them, and without the checkpoint the
    physical plan re-derived deg from the edge union once per
    reference (0 ReusedExchange in the measured plan — 3 redundant
    edge-list aggregations+joins, which at 100 TB are redundant full
    shuffles of the graph). Materializing the link structure once and
    iterating rank against it is the canonical distributed PageRank
    layout (r15 opt: 3.86 → 1.16s at sf0.1, rows equal); degrees and
    N ride broadcast joins."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = (
        edges.groupBy("u")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    # degree rides the edge list once; each iteration then needs only
    # edges ⋈ rank + the destination aggregate
    edges_deg = edges.join(deg, "u").localCheckpoint(eager=False)
    nn = deg.agg(F.count("*").alias("n"))
    r = deg.join(F.broadcast(nn)).select(
        "u", F.expr(f"{_PR_SCALE} DIV n").alias("r")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            edges_deg.join(r, "u")
            .select(F.col("v").alias("dst"), F.expr("r DIV d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        r = (
            deg.join(F.broadcast(nn))
            .join(contrib, F.col("u") == F.col("dst"), "left")
            .select(
                "u",
                (
                    F.expr(f"(15 * {_PR_SCALE}) DIV (100 * n)")
                    + F.expr("(85 * COALESCE(contrib, 0)) DIV 100")
                ).alias("r"),
            )
        )
    return (
        deg.join(r, "u")
        .select(
            F.col("u").alias("doc_id"),
            F.col("d").alias("degree"),
            F.col("r").cast("bigint").alias("pr_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle participation over the near-dup graph
# ---------------------------------------------------------------------------

_TRI_TOPK = 10


@register(
    "triangle_count_neardup",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    p AS (SELECT doc_a AS a, doc_b AS b FROM pairs),
    tri AS (
      SELECT p1.a AS x, p1.b AS y, p2.b AS z
      FROM p p1
      JOIN p p2 ON p2.a = p1.b
      JOIN p p3 ON p3.a = p1.a AND p3.b = p2.b
    ),
    nodes AS (
      SELECT x AS doc_id FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT doc_id, COUNT(*) AS n_triangles
    FROM nodes GROUP BY doc_id
    ORDER BY n_triangles DESC, doc_id
    LIMIT {_TRI_TOPK}
    """,
)
def triangle_count_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation in the near-dup graph (top-{k}
    by triangle count): dense triangle neighbourhoods mark template
    families (mutually-similar cliques) vs chain-shaped incidental
    overlaps — the standard graph signal next to degree
    (``graph_degree_stats``) and PageRank (``pagerank_neardup``).

    Scale posture: the compact-forward enumeration — edges stored only
    as (a<b), each triangle found exactly once via two equi-joins on
    edge endpoints — is the distributed standard (no neighborhood
    intersection with unbounded per-row arrays). All joins key on doc
    ids of the (sparse) near-dup edge list, which reuses the family's
    cached pair stage; the explode is 3 rows per found triangle. The
    top-{k} compiles to TakeOrderedAndProject."""
    p = _jaccard_pairs(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    p1, p2, p3 = p.alias("p1"), p.alias("p2"), p.alias("p3")
    tri = (
        p1.join(p2, F.col("p2.a") == F.col("p1.b"))
        .join(
            p3,
            (F.col("p3.a") == F.col("p1.a")) & (F.col("p3.b") == F.col("p2.b")),
        )
        .select(
            F.col("p1.a").alias("x"), F.col("p1.b").alias("y"), F.col("p2.b").alias("z")
        )
    )
    nodes = tri.select(
        F.explode(F.array("x", "y", "z")).alias("doc_id")
    )
    return (
        nodes.groupBy("doc_id")
        .agg(F.count("*").alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "doc_id")
        .limit(_TRI_TOPK)
    )


# ---------------------------------------------------------------------------
# Link prediction on the near-dup graph (neighborhood Jaccard)
# ---------------------------------------------------------------------------

_LINKPRED_TOPK = 20


@register(
    "link_prediction_jaccard",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    cand AS (
      SELECT e1.u AS u, e2.v AS v, COUNT(*) AS common
      FROM edges e1 JOIN edges e2 ON e2.u = e1.v AND e1.u < e2.v
      GROUP BY e1.u, e2.v
    ),
    miss AS (
      SELECT c.u, c.v, c.common
      FROM cand c
      LEFT JOIN pairs p ON p.doc_a = c.u AND p.doc_b = c.v
      WHERE p.doc_a IS NULL
    )
    SELECT m.u AS doc_a, m.v AS doc_b, m.common AS common_neighbors,
           ROUND(CAST(m.common AS DOUBLE)
                 / (du.d + dv.d - m.common), 6) AS nbr_jaccard
    FROM miss m
    JOIN deg du ON du.u = m.u
    JOIN deg dv ON dv.u = m.v
    ORDER BY nbr_jaccard DESC, doc_a, doc_b
    LIMIT {_LINKPRED_TOPK}
    """,
)
def link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the near-dup graph: non-adjacent doc pairs
    ranked by neighborhood Jaccard |N(a)∩N(b)| / |N(a)∪N(b)| — pairs
    whose similarity the pairwise threshold missed but whose shared
    near-dup neighborhoods imply (the "transitive near-dup" audit for
    a cluster-merge decision).

    Scale posture: the wedge join (e1.v = e2.u, u<v) enumerates
    common-neighbor paths through each hub node — O(Σ deg²), bounded
    on a sparse near-dup graph and skew-handled by AQE on the hub key;
    no per-node neighbor arrays materialize. Existing edges drop via a
    LEFT-null anti join on the pair key; degrees attach by joining the
    tiny degree aggregate. Reuses the family's cached pair stage; the
    top-{k} compiles to TakeOrderedAndProject."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = edges.groupBy("u").agg(F.count("*").alias("d"))
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    cand = (
        e1.join(e2, (F.col("e2.u") == F.col("e1.v")) & (F.col("e1.u") < F.col("e2.v")))
        .groupBy(F.col("e1.u").alias("u"), F.col("e2.v").alias("v"))
        .agg(F.count("*").alias("common"))
    )
    miss = cand.join(
        pairs,
        (F.col("doc_a") == F.col("u")) & (F.col("doc_b") == F.col("v")),
        "left_anti",
    )
    du = deg.select(F.col("u").alias("_u"), F.col("d").alias("du"))
    dv = deg.select(F.col("u").alias("_v"), F.col("d").alias("dv"))
    return (
        miss.join(du, F.col("u") == F.col("_u"))
        .join(dv, F.col("v") == F.col("_v"))
        .select(
            F.col("u").alias("doc_a"),
            F.col("v").alias("doc_b"),
            F.col("common").alias("common_neighbors"),
            F.round(
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common")),
                6,
            ).alias("nbr_jaccard"),
        )
        .orderBy(F.col("nbr_jaccard").desc(), "doc_a", "doc_b")
        .limit(_LINKPRED_TOPK)
    )


# ---------------------------------------------------------------------------
# MinHash estimator audit (estimated vs exact Jaccard on candidates)
# ---------------------------------------------------------------------------


def _minhash_audit_oracle() -> str:
    mins = ", ".join(
        f"MIN(MD5('{k}|' || sh)) AS h{k}" for k in range(N_MINHASH)
    )
    rows = N_MINHASH // N_BANDS
    bands = []
    for b in range(N_BANDS):
        cat = " || ".join(f"h{b * rows + r}" for r in range(rows))
        bands.append(
            f"SELECT doc_id, {b} AS band_idx, MD5({cat}) AS band_val FROM sig"
        )
    bands_sql = "\n      UNION ALL\n      ".join(bands)
    matches = " + ".join(
        f"CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END" for k in range(N_MINHASH)
    )
    return f"""
    WITH s AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id),
    bands AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    ),
    est AS (
      SELECT c.doc_a, c.doc_b, ({matches}) AS n_match
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    ),
    n AS (SELECT doc_id, COUNT(*) AS n FROM s GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      FROM cand c
      JOIN s sa ON sa.doc_id = c.doc_a
      JOIN s sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT est.doc_a, est.doc_b,
           ROUND(CAST(est.n_match AS DOUBLE) / {N_MINHASH}, 4) AS est_jaccard,
           ROUND(CAST(COALESCE(inter.i, 0) AS DOUBLE)
                 / (na.n + nb.n - COALESCE(inter.i, 0)), 6) AS exact_jaccard,
           ROUND(ABS(CAST(est.n_match AS DOUBLE) / {N_MINHASH}
                 - CAST(COALESCE(inter.i, 0) AS DOUBLE)
                   / (na.n + nb.n - COALESCE(inter.i, 0))), 6) AS abs_err
    FROM est
    LEFT JOIN inter ON inter.doc_a = est.doc_a AND inter.doc_b = est.doc_b
    JOIN n na ON na.doc_id = est.doc_a
    JOIN n nb ON nb.doc_id = est.doc_b
    """


@register("minhash_estimate_audit", oracle=_minhash_audit_oracle())
def minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit: for every LSH candidate pair, the
    sketch's Jaccard estimate (matching minhashes / {m}) next to the
    exact shingle Jaccard and the absolute error — pricing the
    16-permutation sketch exactly as ``heavy_hitters_cms`` prices CMS
    and ``distinct_kmv_estimate`` prices KMV; with this, every sketch
    family in the engine ships with its own audit query.

    Scale posture: same stage shapes as ``dedup_minhash_lsh`` (cached
    shingle stage → signature aggregate → band equality join), plus
    one signature join pair for the match count (16 column equality
    checks, codegen) and the candidate-scoped exact verification join.
    Estimates are exact multiples of 1/{m}; the exact side reuses the
    denormalized shingle counts."""
    s = _shingles_cached(spark, sf_dir)
    sig = _minhash_sig_cached(spark, sf_dir)
    rows = N_MINHASH // N_BANDS
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(F.concat(*[F.col(f"h{b * rows + r}") for r in range(rows)]))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        # shuffle-hash pinned for the same reason as dedup_minhash_lsh:
        # the band table is O(4·docs), never broadcastable at scale
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"h{k}").alias(f"a{k}") for k in range(N_MINHASH)]
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"h{k}").alias(f"b{k}") for k in range(N_MINHASH)]
    )
    n_match = sum(
        F.when(F.col(f"a{k}") == F.col(f"b{k}"), 1).otherwise(0)
        for k in range(N_MINHASH)
    )
    # shuffle-hash pinned throughout: the signature table is O(docs)
    # and the shingle table O(corpus) — neither is broadcastable at
    # scale, and AQE was flipping these joins at 10x (shape_stable:
    # false, SCALE_STRESS_r06); build on the candidate/pair side
    est = cand.hint("shuffle_hash").join(sa, "doc_a").hint("shuffle_hash").join(
        sb, "doc_b"
    ).select("doc_a", "doc_b", n_match.alias("n_match"))
    ss_a = s.select(F.col("doc_id").alias("doc_a"), F.col("sh"), F.col("n").alias("na"))
    ss_b = s.select(F.col("doc_id").alias("doc_b"), F.col("sh"), F.col("n").alias("nb"))
    inter = (
        cand.hint("shuffle_hash")
        .join(ss_a.drop("na"), "doc_a")
        .hint("shuffle_hash")
        .join(ss_b.drop("nb"), ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    # candidates with zero shared shingles (possible in principle)
    # zero-fill via a left join plus the per-doc counts
    nd = s.groupBy("doc_id").agg(F.min("n").alias("n"))
    est_n = (
        est.hint("shuffle_hash").join(inter, ["doc_a", "doc_b"], "left")
        .hint("shuffle_hash")
        .join(nd.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .hint("shuffle_hash")
        .join(nd.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .withColumn("i0", F.coalesce(F.col("i"), F.lit(0)))
    )
    exact = F.col("i0").cast("double") / (F.col("na") + F.col("nb") - F.col("i0"))
    est_j = F.col("n_match").cast("double") / N_MINHASH
    return est_n.select(
        "doc_a",
        "doc_b",
        F.round(est_j, 4).alias("est_jaccard"),
        F.round(exact, 6).alias("exact_jaccard"),
        F.round(F.abs(est_j - exact), 6).alias("abs_err"),
    )


# ---------------------------------------------------------------------------
# Cluster-size distribution over the resolved duplicate clusters
# ---------------------------------------------------------------------------


@register(
    "dup_cluster_size_stats",
    oracle=f"""
    WITH clusters AS ({_CLUSTER_ORACLE}),
    per_cluster AS (
      SELECT cluster_id, COUNT(*) AS cluster_size
      FROM clusters GROUP BY cluster_id
    ),
    docs AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT p.cluster_size,
           COUNT(*) AS n_clusters,
           CAST(COUNT(*) * p.cluster_size AS BIGINT) AS n_docs_in_size,
           CAST(CAST(COUNT(*) * p.cluster_size AS HUGEINT) * 1000000
                // MIN(d.n_docs) AS BIGINT) AS corpus_ppm
    FROM per_cluster p CROSS JOIN docs d
    GROUP BY p.cluster_size
    """,
)
def dup_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: how many near-dup clusters
    exist at each size, how many documents they tie up, and what
    fraction of the corpus that is — the report a dedup run actually
    ships (how much of the corpus is duplicated, and is it many small
    clusters or a few giant ones).

    Scale posture: sits entirely on ``dedup_cluster``'s resolved
    labels (shared cached pair graph + label propagation); everything
    after is two stacked map-side-combinable aggregates (cluster →
    size, size → histogram) plus a broadcast 1-row corpus count.
    Cross-engine determinism: all integers; the corpus share leaves as
    integer PPM via HUGEINT/DECIMAL floor-division."""
    clusters = dedup_cluster(spark, sf_dir)
    per_cluster = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size")
    )
    docs = load_tables(spark, sf_dir, "documents")["documents"].agg(
        F.count("*").alias("n_docs")
    )
    return (
        per_cluster.join(F.broadcast(docs))
        .groupBy("cluster_size")
        .agg(
            F.count("*").alias("n_clusters"),
            (F.count("*") * F.col("cluster_size")).cast("bigint").alias("n_docs_in_size"),
            F.expr(
                "CAST(CAST(COUNT(*) * cluster_size AS DECIMAL(38,0)) * 1000000"
                " div MIN(n_docs) AS BIGINT)"
            ).alias("corpus_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus shrinkage report: per-source doc/token retention after dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_shrinkage_report",
    oracle=f"""
    WITH clusters AS ({_CLUSTER_ORACLE}),
    tagged AS (
      SELECT d.source,
             CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tok,
             CASE WHEN c.doc_id IS NULL OR c.is_keeper THEN 1 ELSE 0 END
               AS kept
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_docs_kept,
           CAST(SUM(n_tok) AS BIGINT) AS tokens_total,
           CAST(SUM(kept * n_tok) AS BIGINT) AS tokens_kept,
           CAST(CAST(SUM(n_tok) - SUM(kept * n_tok) AS HUGEINT) * 1000000
                // GREATEST(SUM(n_tok), 1) AS BIGINT) AS token_drop_ppm
    FROM tagged GROUP BY source
    """,
)
def dedup_shrinkage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The number a dedup run actually ships: per-source document and
    token retention after keep-one-per-cluster resolution — docs /
    tokens before, docs / tokens surviving (cluster keepers plus
    untouched singletons), and the token drop in integer PPM. The
    per-SOURCE grain is the point: boilerplate-heavy sources shrink
    hardest, and this is the table that reallocates the sampling mix
    afterwards (``dup_cluster_size_stats`` describes the clusters;
    this prices the decision).

    Scale posture: rides ``dedup_cluster``'s resolved labels (shared
    cached pair graph + label propagation). The labels table is
    O(near-dup docs) — far smaller than the corpus — but not provably
    broadcastable, so the enrichment is a shuffle-hash join on doc_id
    with the labels as build side (pinned; AQE may only narrow it to
    broadcast, never widen the build). Everything after is one
    combinable source-keyed aggregate. Cross-engine determinism: all
    integers; the drop rate leaves as PPM via HUGEINT/DECIMAL
    floor-division."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    clusters = dedup_cluster(spark, sf_dir).select("doc_id", "is_keeper")
    tagged = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    ).join(clusters.hint("shuffle_hash"), "doc_id", "left")
    kept = F.when(F.col("is_keeper").isNull() | F.col("is_keeper"), 1).otherwise(0)
    per = tagged.select("source", "n_tok", kept.alias("kept"))
    return per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("kept").alias("n_docs_kept"),
        F.sum("n_tok").alias("tokens_total"),
        F.sum(F.col("kept") * F.col("n_tok")).alias("tokens_kept"),
        F.expr(
            "CAST(CAST(sum(n_tok) - sum(kept * n_tok) AS DECIMAL(38,0))"
            " * 1000000 div GREATEST(sum(n_tok), 1) AS BIGINT)"
        ).alias("token_drop_ppm"),
    )


# ---------------------------------------------------------------------------
# LSH recall audit: minhash-LSH verified pairs vs the exact pair set
# ---------------------------------------------------------------------------


@register(
    "lsh_recall_report",
    oracle=f"""
    WITH exact AS ({_JACCARD_ORACLE}),
    lsh AS ({_minhash_oracle()}),
    missed AS (
      SELECT e.doc_a, e.doc_b FROM exact e
      LEFT JOIN lsh l ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b
      WHERE l.doc_a IS NULL
    )
    SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM lsh) AS n_lsh,
           (SELECT COUNT(*) FROM missed) AS n_missed,
           CAST((SELECT COUNT(*) FROM lsh) * CAST(1000000 AS HUGEINT)
                // GREATEST((SELECT COUNT(*) FROM exact), 1) AS BIGINT)
             AS recall_ppm
    """,
)
def lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the minhash-LSH dedup path against the exact
    Jaccard pair set: counts of exact near-dup pairs, LSH-recovered
    pairs, and pairs the banding missed, plus recall in PPM — the
    quality gate you run before trusting the approximate path at
    scale (precision is 1.0 by construction: every LSH candidate is
    exact-verified before emission).

    Scale posture: both pair sets come from the family's shared cached
    stages (shingles, signature aggregate, pair graph), so the audit
    adds one anti-join of two already-reduced pair lists and three
    1-row counts. Cross-engine determinism: the oracle replicates BOTH
    algorithms (same md5 minhashes → same bands → same candidates), so
    the compare is exact — this is a measurement the two engines must
    agree on bit-for-bit, not a statistical estimate."""
    exact = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lsh = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    # shuffle-hash pinned: both pair lists are O(near-dups) — the same
    # magnitude, so neither is a safe broadcast at corpus scale; AQE
    # was flipping this anti-join's shape at 10× (shape_stable: false)
    missed = exact.join(lsh.hint("shuffle_hash"), ["doc_a", "doc_b"], "left_anti")
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    n_lsh = lsh.agg(F.count("*").alias("n_lsh"))
    n_missed = missed.agg(F.count("*").alias("n_missed"))
    return (
        n_exact.join(F.broadcast(n_lsh))
        .join(F.broadcast(n_missed))
        .select(
            "n_exact",
            "n_lsh",
            "n_missed",
            F.expr(
                "CAST(n_lsh * CAST(1000000 AS DECIMAL(38,0))"
                " div GREATEST(n_exact, 1) AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Train/test leakage audit: near-dup pairs crossing the dataset split
# ---------------------------------------------------------------------------

from rs_streamloader_spark.operators.analytic import split_case_sql, split_col


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    sp AS (
      SELECT doc_id, {split_case_sql("doc_id")} AS split
      FROM documents
    ),
    tagged AS (
      SELECT sa.split AS split_a, sb.split AS split_b
      FROM pairs p
      JOIN sp sa ON sa.doc_id = p.doc_a
      JOIN sp sb ON sb.doc_id = p.doc_b
    )
    SELECT COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_split,
           CAST(SUM(CASE WHEN (split_a = 'train' AND split_b = 'test')
                      OR (split_a = 'test' AND split_b = 'train')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_train_test,
           CAST(CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)
                     AS HUGEINT) * 1000000
                // GREATEST(COUNT(*), 1) AS BIGINT) AS leak_ppm
    FROM tagged
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: how many near-duplicate pairs (the
    exact Jaccard pair set) STRADDLE the deterministic 80/10/10
    dataset split — each such pair is an eval answer sitting in the
    training set. This is the audit run after ``dataset_split`` and
    before training; ``decontaminate_ngram_overlap`` checks a known
    eval set, this checks the split of the corpus against itself.

    Scale posture: rides the family's shared cached pair graph (no
    new pair computation); split assignment is the same stateless
    md5-bucket expression as ``dataset_split`` (row-local codegen)
    joined onto the two pair endpoints; the verdict is one combinable
    rollup. Cross-engine determinism: identical md5-bucket walk both
    sides, integer PPM out."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    sp = docs.select("doc_id", split_col(F.col("doc_id")).alias("split"))
    tagged = (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")),
            "doc_b",
        )
    )
    cross = F.when(F.col("split_a") != F.col("split_b"), 1).otherwise(0)
    tt = F.when(
        ((F.col("split_a") == "train") & (F.col("split_b") == "test"))
        | ((F.col("split_a") == "test") & (F.col("split_b") == "train")),
        1,
    ).otherwise(0)
    return tagged.agg(
        F.count("*").alias("n_pairs"),
        F.sum(cross).alias("n_cross_split"),
        F.sum(tt).alias("n_train_test"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN split_a <> split_b THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000"
            " div GREATEST(COUNT(*), 1) AS BIGINT)"
        ).alias("leak_ppm"),
    )


# ---------------------------------------------------------------------------
# SimHash tuning diagnostic: Hamming histogram over band candidates
# ---------------------------------------------------------------------------


@register(
    "simhash_hamming_histogram",
    oracle=f"""
    WITH fps AS ({_SIMHASH_SQL}),
    cand AS (
      SELECT CAST(BIT_COUNT(XOR(a.fp, b.fp)) AS INTEGER) AS hamming
      FROM fps a JOIN fps b ON a.doc_id < b.doc_id
      WHERE (XOR(a.fp, b.fp) & 255) = 0
         OR ((XOR(a.fp, b.fp) >> 8) & 255) = 0
         OR ((XOR(a.fp, b.fp) >> 16) & 255) = 0
         OR ((XOR(a.fp, b.fp) >> 24) & 255) = 0
    )
    SELECT hamming, COUNT(*) AS n_pairs,
           hamming <= {SIMHASH_MAX_HAMMING} AS is_near
    FROM cand GROUP BY hamming
    """,
)
def simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash threshold-tuning diagnostic: the Hamming-distance
    histogram of every band-colliding candidate pair — the curve an
    operator reads to pick the near-dup cutoff (a clean corpus shows
    a gap between the near-dup mass at small distances and the random
    background around 16) and to see how much candidate volume the
    banding admits beyond the survivors ``dedup_simhash`` keeps.

    Scale posture: reuses the cached fingerprint stage and the same
    4×8-bit band equality join with first-matching-band exactly-once
    emission (no DISTINCT shuffle); the histogram is a ≤33-key
    combinable aggregate. The oracle generates the identical candidate
    set by testing the four XOR bytes directly. Cross-engine
    determinism: pure bit arithmetic and integer counts."""
    fps = stage_cached(
        spark, sf_dir, "simhash_fps", lambda: _simhash_fps_plan(spark, sf_dir)
    )
    band_cols = [
        (F.shiftright(F.col("fp"), b * 8) % 256).alias(f"band{b}") for b in range(4)
    ]
    banded = fps.select("doc_id", "fp", *band_cols)
    bands = banded.select(
        "doc_id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("bi"), F.col(f"band{b}").alias("bv"))
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "fp", "band.bi", "band.bv")
    a = bands.alias("a")
    b = bands.alias("b")
    hamming = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))).cast("int")
    xf = "(a.fp ^ b.fp)"
    first_match = F.expr(
        f"CASE a.bi WHEN 0 THEN true"
        f" WHEN 1 THEN ({xf} & 255) != 0"
        f" WHEN 2 THEN ({xf} & 255) != 0 AND (shiftright({xf}, 8) & 255) != 0"
        f" ELSE ({xf} & 255) != 0 AND (shiftright({xf}, 8) & 255) != 0"
        f" AND (shiftright({xf}, 16) & 255) != 0 END"
    )
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(first_match)
        .select(hamming.alias("hamming"))
        .groupBy("hamming")
        .agg(F.count("*").alias("n_pairs"))
        .withColumn("is_near", F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )


# ---------------------------------------------------------------------------
# Exact verbatim-span dedup (RefinedWeb-style substring duplication)
# ---------------------------------------------------------------------------

_SPAN_TOKENS = 16  # verbatim window width in tokens


@register(
    "exact_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents
    ),
    wins AS (
      SELECT doc_id, i,
             MD5(ARRAY_TO_STRING(ws[i + 1:i + {_SPAN_TOKENS}], ' ')) AS h,
             LEN(ws) AS n_tok
      FROM toks, UNNEST(RANGE(0, GREATEST(LEN(ws) - {_SPAN_TOKENS} + 1, 0)))
           AS t(i)
    ),
    dup_h AS (
      SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (
      SELECT w.doc_id, w.i AS s, w.i + {_SPAN_TOKENS} AS e, w.n_tok
      FROM wins w JOIN dup_h d ON d.h = w.h
    ),
    merged AS (
      SELECT doc_id, n_tok, island, MIN(s) AS ms, MAX(e) AS me
      FROM (
        SELECT doc_id, n_tok, s, e,
               SUM(new_iv) OVER (PARTITION BY doc_id ORDER BY s, e
                                 ROWS UNBOUNDED PRECEDING) AS island
        FROM (
          SELECT doc_id, n_tok, s, e,
                 CASE WHEN MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) >= s
                      THEN 0 ELSE 1 END AS new_iv
          FROM flagged
        )
      ) GROUP BY doc_id, n_tok, island
    )
    SELECT doc_id,
           CAST(MAX(n_tok) AS BIGINT) AS n_tok,
           COUNT(*) AS n_dup_spans,
           CAST(SUM(me - ms) AS BIGINT) AS dup_tokens,
           CAST(CAST(SUM(me - ms) AS HUGEINT) * 1000000 // MAX(n_tok)
                AS BIGINT) AS dup_ppm
    FROM merged GROUP BY doc_id
    """,
)
def exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact verbatim-substring duplication report (the
    RefinedWeb/C4 "exact substring dedup" signal): every {w}-token
    window whose text appears verbatim in ANOTHER document flags its
    span, overlapping flagged spans merge per document, and each
    affected document reports its duplicated-token count and share —
    the per-doc evidence used to cut boilerplate and syndicated text
    that document-level near-dup (Jaccard/minhash) scores too low to
    catch.

    Scale posture: windows shuffle as 32-byte md5 keys (never the
    text); the cross-corpus duplicate test is a combinable
    distinct-doc count per hash; span consolidation is the
    running-max interval-UNION sweep partitioned per document
    (``merge_user_intervals`` machinery — bounded by doc length).
    Cross-engine determinism: hashes, positions, and PPM shares are
    exact integers; interval order pins by (start, end)."""
    def build_wins() -> DataFrame:
        docs = load_tables(spark, sf_dir, "documents")["documents"]
        toks = spread(docs).select("doc_id", F.split("text", " ").alias("ws"))
        return toks.select(
            "doc_id",
            F.size("ws").alias("n_tok"),
            F.explode(
                F.expr(
                    f"CASE WHEN size(ws) >= {_SPAN_TOKENS} THEN"
                    f" transform(sequence(0, size(ws) - {_SPAN_TOKENS}),"
                    f" i -> struct(i AS i,"
                    f" md5(array_join(slice(ws, i + 1, {_SPAN_TOKENS}), ' ')) AS h))"
                    f" ELSE array() END"
                )
            ).alias("w"),
        ).select("doc_id", "n_tok", "w.i", "w.h")

    # cached: the window table feeds BOTH the duplicate-hash aggregate
    # and the flagged join — uncached, the corpus-wide explode+md5 map
    # work would run twice
    wins = stage_cached(spark, sf_dir, "substring_windows", build_wins)
    dup_h = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    # shuffle-hash pinned: dup_h is O(duplicated windows) — grows with
    # the corpus, so the base-scale AQE broadcast is not the 100 TB
    # shape (flipped at the k=100 rehearsal, SCALE_STRESS_r10_k100);
    # both sides are already hash-clustered on h from the aggregate
    flagged = wins.join(dup_h.hint("shuffle_hash"), "h").select(
        "doc_id",
        "n_tok",
        F.col("i").alias("s"),
        (F.col("i") + _SPAN_TOKENS).alias("e"),
    )
    wd = Window.partitionBy("doc_id").orderBy("s", "e")
    sweep = flagged.select(
        "doc_id",
        "n_tok",
        "s",
        "e",
        F.when(
            F.max("e").over(wd.rowsBetween(Window.unboundedPreceding, -1))
            >= F.col("s"),
            0,
        )
        .otherwise(1)
        .alias("new_iv"),
    ).select(
        "doc_id",
        "n_tok",
        "s",
        "e",
        F.sum("new_iv")
        .over(wd.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    merged = sweep.groupBy("doc_id", "n_tok", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return merged.groupBy("doc_id").agg(
        F.max("n_tok").cast("bigint").alias("n_tok"),
        F.count("*").alias("n_dup_spans"),
        F.sum(F.col("me") - F.col("ms")).alias("dup_tokens"),
        F.expr(
            "CAST(CAST(SUM(me - ms) AS DECIMAL(38,0)) * 1000000"
            " div MAX(n_tok) AS BIGINT)"
        ).alias("dup_ppm"),
    )


# ---------------------------------------------------------------------------
# Cross-source duplication matrix: which sources copy from each other
# ---------------------------------------------------------------------------


@register(
    "cross_source_dup_matrix",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    tagged AS (
      SELECT LEAST(da.source, db.source) AS source_x,
             GREATEST(da.source, db.source) AS source_y
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_x, source_y, COUNT(*) AS n_dup_pairs
    FROM tagged GROUP BY source_x, source_y
    """,
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per unordered SOURCE pair — the
    provenance matrix that shows which sources mirror each other's
    content (diagonal = within-source duplication, off-diagonal =
    cross-source copying), the report that decides which source to
    drop when two feeds overlap (``dedup_shrinkage_report`` prices
    how much survives; this shows WHERE the duplication comes from).

    Scale posture: rides the shared cached Jaccard pair stage; the
    doc→source enrichment is a shuffle-hash join with the O(near-dup)
    pair list as build side (pinned — the documents side is the
    corpus), then one combinable aggregate over the bounded
    source-pair grid. Cross-engine determinism: all integers, pair
    orientation canonicalized by LEAST/GREATEST on the source
    label."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "source"
    )
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    tagged = (
        pairs.hint("shuffle_hash")
        .join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .hint("shuffle_hash")
        .join(docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
    )
    return (
        tagged.select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
        )
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    )


# ---------------------------------------------------------------------------
# Canonical-copy selection: keep the BEST-quality member per dup cluster
# ---------------------------------------------------------------------------

_KEEPQ_SQL = (
    "CASE WHEN LENGTH(text) >= 200 THEN 1 ELSE 0 END"
    " + CASE WHEN (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) >= 40"
    "        THEN 1 ELSE 0 END"
    " + CASE WHEN LENGTH(REPLACE(text, ' ', '')) * 1.0"
    "             / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)"
    "             BETWEEN 3 AND 8 THEN 1 ELSE 0 END"
)


@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, label) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.label FROM edges e JOIN reach r ON e.v = r.u
    ),
    labeled AS (
      SELECT u AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY u
    ),
    scored AS (
      SELECT l.cluster_id, l.doc_id,
             CAST({_KEEPQ_SQL} AS INTEGER) AS q,
             CAST(LENGTH(d.text) - LENGTH(REPLACE(d.text, ' ', '')) + 1
                  AS BIGINT) AS n_tok
      FROM labeled l JOIN documents d ON d.doc_id = l.doc_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS rn
      FROM scored
    )
    SELECT cluster_id,
           CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS kept_doc,
           CAST(MIN(CASE WHEN rn = 1 THEN q END) AS INTEGER) AS kept_quality,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           (MIN(CASE WHEN rn = 1 THEN doc_id END)
            <> MIN(cluster_id)) AS keeper_differs_from_min_id,
           CAST(SUM(CASE WHEN rn > 1 THEN n_tok ELSE 0 END) AS BIGINT)
             AS dropped_tokens
    FROM ranked GROUP BY cluster_id
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-copy selection within near-dup clusters: instead of
    ``dedup_cluster``'s keep-min-id rule, keep the HIGHEST-QUALITY
    member (the shared 0-3 heuristic score, doc_id tiebreak) — the
    curation policy real pipelines use, since duplicate groups often
    mix a clean original with truncated/boilerplate copies and min-id
    keeps an arbitrary one. Per cluster: the kept doc, its score, the
    member count, whether quality-keep disagreed with min-id-keep
    (the rows that justify this operator), and the token mass dropped.

    Scale posture: rides the SAME cached Jaccard pair stage and fused
    min-label propagation as the rest of the graph family (bounded
    df-capped candidate generation, one ranking window per cluster
    partition); the quality join streams the corpus projection
    against a shuffle-hash BUILD on the near-dup-sized labels subset
    (build-on-candidate convention).
    Cross-engine determinism: the quality heuristic is the
    integer-valued shared definition (text_quality_score), ranking
    ties break on doc_id, all counts BIGINT."""
    labels = _cluster_labels(spark, sf_dir)
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # build side = the near-dup-sized LABELS subset, never the O(SF)
    # documents projection (build-on-candidate convention)
    scored = docs.select(
        "doc_id", quality_score().alias("q"), n_tokens().alias("n_tok")
    ).join(labels.hint("shuffle_hash"), "doc_id")
    wr = Window.partitionBy("cluster_id").orderBy(F.col("q").desc(), "doc_id")
    ranked = scored.withColumn("rn", F.row_number().over(wr))
    return ranked.groupBy("cluster_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
        .cast("bigint")
        .alias("kept_doc"),
        F.min(F.when(F.col("rn") == 1, F.col("q"))).cast("int").alias("kept_quality"),
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        (
            F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
            != F.min("cluster_id")
        ).alias("keeper_differs_from_min_id"),
        F.sum(F.when(F.col("rn") > 1, F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("dropped_tokens"),
    )


# ---------------------------------------------------------------------------
# Bounded k-core peeling over the near-dup pair graph
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3  # fixed peel rounds (spec'd, like pagerank's 3 iterations)


def _kcore_oracle() -> str:
    ctes = [
        f"""e0 AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    )"""
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        ctes.append(
            f"""k{r} AS (
      SELECT u FROM (SELECT u, COUNT(*) AS c FROM e{r - 1} GROUP BY u)
      WHERE c >= {_KCORE_K}
    ),
    e{r} AS (
      SELECT e.u, e.v FROM e{r - 1} e
      JOIN k{r} a ON a.u = e.u
      JOIN k{r} b ON b.u = e.v
    )"""
        )
    selects = " UNION ALL ".join(
        f"""SELECT {r} AS round,
           CAST((SELECT COUNT(DISTINCT u) FROM e{r}) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e{r}) // 2 AS BIGINT) AS n_edges"""
        for r in range(1, _KCORE_ROUNDS + 1)
    )
    return (
        f"WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),\n    "
        + ",\n    ".join(ctes)
        + "\n    "
        + selects
    )


@register("kcore_graph_trim", oracle=_kcore_oracle())
def kcore_graph_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded {_KCORE_K}-core peeling over the near-dup pair graph:
    {_KCORE_ROUNDS} fixed rounds of drop-degree-<{_KCORE_K} nodes,
    reporting surviving node/edge counts per round — the graph-
    densification screen that separates incidental pairwise matches
    (2-node chains, peeled in round 1) from genuinely replicated
    content (cliques survive every round). Convergence is visible as
    consecutive equal rows; a fixed round count keeps the spec
    engine-replayable (the pagerank_neardup precedent — the oracle
    unrolls the identical rounds).

    Scale posture: rides the cached df-capped Jaccard pair stage; each
    round is one combinable degree aggregate + two semi-join trims on
    the (shrinking) edge list, and the emitted table is
    {_KCORE_ROUNDS} summary rows; each round's (shrinking) edge list is
    localCheckpoint-ed so later rounds never re-run earlier trims
    (counts never touch the driver).
    Cross-engine determinism: pure integer counts; the symmetric edge
    list double-counts each undirected edge, halved by exact integer
    division on both engines."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))

    out = None
    cur = edges
    for r in range(1, _KCORE_ROUNDS + 1):
        keep = (
            cur.groupBy("u")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select("u")
        )
        cur = (
            cur.join(keep.hint("shuffle_hash"), "u", "left_semi")
            .join(
                keep.withColumnRenamed("u", "v").hint("shuffle_hash"),
                "v",
                "left_semi",
            )
            # truncate lineage per round (propagate_min_labels
            # precedent): without this, round r's summary re-runs
            # every earlier round's trim AND the pair stage again
            .localCheckpoint()
        )
        summary = cur.agg(
            F.lit(r).alias("round"),
            F.countDistinct("u").cast("bigint").alias("n_nodes"),
            F.expr("CAST(COUNT(*) div 2 AS BIGINT)").alias("n_edges"),
        ).select("round", "n_nodes", "n_edges")
        out = summary if out is None else out.unionByName(summary)
    return out


# ---------------------------------------------------------------------------
# MinHash banding tuning curve (b x r trade-off table)
# ---------------------------------------------------------------------------

_TUNE_CONFIGS = ((16, 1), (8, 2), (4, 4), (2, 8))  # (bands, rows/band)
_TUNE_GROUP_CAP = 512  # drop degenerate band groups, REPORTED per config


def _tuning_oracle() -> str:
    mins = ",\n             ".join(
        f"MIN(MD5('{k}|' || sh)) AS h{k}" for k in range(N_MINHASH)
    )
    blocks = []
    for nb, rows in _TUNE_CONFIGS:
        band_sel = "\n      UNION ALL\n      ".join(
            f"SELECT doc_id, {b} AS band_idx,"
            f" MD5({' || '.join(f'h{b * rows + r}' for r in range(rows))}) AS band_val"
            f" FROM sig"
            for b in range(nb)
        )
        blocks.append(f"""
    SELECT {nb} AS bands, {rows} AS rows_per_band,
           n_candidate_pairs, n_hit_pairs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_exact_pairs,
           CAST(CAST(n_hit_pairs AS HUGEINT) * 1000000
                // GREATEST((SELECT COUNT(*) FROM pairs), 1) AS BIGINT)
             AS recall_ppm,
           CAST(CAST(n_hit_pairs AS HUGEINT) * 1000000
                // GREATEST(n_candidate_pairs, 1) AS BIGINT) AS precision_ppm,
           n_capped_groups
    FROM (
      WITH bands_{nb} AS (
        SELECT *, COUNT(*) OVER (PARTITION BY band_idx, band_val) AS g
        FROM ({band_sel})
      ),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT * FROM bands_{nb} WHERE g <= {_TUNE_GROUP_CAP}) a
        JOIN (SELECT * FROM bands_{nb} WHERE g <= {_TUNE_GROUP_CAP}) b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
      )
      SELECT
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidate_pairs,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cand c
         JOIN pairs p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b)
          AS n_hit_pairs,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM (
           SELECT DISTINCT band_idx, band_val FROM bands_{nb}
           WHERE g > {_TUNE_GROUP_CAP})) AS n_capped_groups
    )""")
    return f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    s AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id)
    {" UNION ALL ".join(blocks)}
    """


@register("minhash_band_tuning_curve", oracle=_tuning_oracle())
def minhash_band_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH banding s-curve as a measured trade-off table: for each
    (bands × rows-per-band) split of the {N_MINHASH}-hash signature —
    {_TUNE_CONFIGS} — the candidate-pair volume, how many candidates
    are true ≥θ near-dups, and recall/precision vs the exact Jaccard
    pair set. This is the table you read before PICKING a banding
    config (``lsh_recall_report`` audits the one shipped config; this
    sweeps the dial): more bands with shorter rows → higher recall but
    a flood of low-precision candidates to verify, and at 10×/100×
    the r=1 candidate column is the cost of choosing wrong.

    Scale posture: every config reads the SAME cached signature
    aggregate (one shingle→minhash reduction for the whole sweep), and
    the whole sweep is ONE banding pass — a single per-doc explode
    emits (bands, band_idx, band_val) rows for ALL {len(_TUNE_CONFIGS)}
    configs at once, so there is one window count and one capped
    self-join keyed by (bands, band_idx, band_val) instead of one of
    each per config (the r10 shape ran 4× the shuffles for the same
    answer). Band groups above {_TUNE_GROUP_CAP} members are dropped
    BEFORE the self-join via the window count (the spill-safe df-cap
    pattern) and REPORTED per config in n_capped_groups — a silent cap
    would make the candidate counts lie. Cross-engine determinism:
    identical md5 band keys, identical cap rule, pure integer counts
    with HUGEINT/DECIMAL(38,0) ppm floor divisions."""
    sig = _minhash_sig_cached(spark, sf_dir)
    exact = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact_pairs"))

    # One explode covers every (config, band): 16+8+4+2 = 30 entries/doc.
    entries = [
        F.struct(
            F.lit(nb).alias("bands"),
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat(*[F.col(f"h{b * rows + r}") for r in range(rows)])
            ).alias("band_val"),
        )
        for nb, rows in _TUNE_CONFIGS
        for b in range(nb)
    ]
    bands = sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("e")
    ).select("doc_id", "e.bands", "e.band_idx", "e.band_val")

    wg = Window.partitionBy("bands", "band_idx", "band_val")
    flagged = bands.withColumn("g", F.count(F.lit(1)).over(wg))
    kept = flagged.filter(F.col("g") <= _TUNE_GROUP_CAP).select(
        "doc_id", "bands", "band_idx", "band_val"
    )
    capped = (
        flagged.filter(F.col("g") > _TUNE_GROUP_CAP)
        .select("bands", "band_idx", "band_val")
        .distinct()
        .groupBy("bands")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_capped_groups"))
    )
    cand = (
        kept.alias("a")
        .join(
            kept.alias("b").hint("shuffle_hash"),
            (F.col("a.bands") == F.col("b.bands"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.bands").alias("bands"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        # consumed twice (count + hit semi-join) — checkpoint so the
        # banded self-join runs once for the whole sweep, not twice
        .localCheckpoint()
    )
    n_cand = cand.groupBy("bands").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidate_pairs")
    )
    n_hit = (
        cand.join(exact.hint("shuffle_hash"), ["doc_a", "doc_b"], "left_semi")
        .groupBy("bands")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_pairs"))
    )
    # 4-row config spine: a config whose candidate set is empty (or
    # uncapped) still gets its row, with explicit zeros.
    cfg = spark.createDataFrame(
        list(_TUNE_CONFIGS), "bands INT, rows_per_band INT"
    )
    return (
        cfg.join(F.broadcast(n_cand), "bands", "left")
        .join(F.broadcast(n_hit), "bands", "left")
        .join(F.broadcast(capped), "bands", "left")
        .crossJoin(F.broadcast(n_exact))
        .select(
            "bands",
            "rows_per_band",
            F.coalesce("n_candidate_pairs", F.lit(0).cast("bigint")).alias(
                "n_candidate_pairs"
            ),
            F.coalesce("n_hit_pairs", F.lit(0).cast("bigint")).alias(
                "n_hit_pairs"
            ),
            "n_exact_pairs",
            F.coalesce("n_capped_groups", F.lit(0).cast("bigint")).alias(
                "n_capped_groups"
            ),
        )
        .select(
            "bands",
            "rows_per_band",
            "n_candidate_pairs",
            "n_hit_pairs",
            "n_exact_pairs",
            F.expr(
                "CAST(CAST(n_hit_pairs AS DECIMAL(38,0)) * 1000000"
                " div GREATEST(n_exact_pairs, 1) AS BIGINT)"
            ).alias("recall_ppm"),
            F.expr(
                "CAST(CAST(n_hit_pairs AS DECIMAL(38,0)) * 1000000"
                " div GREATEST(n_candidate_pairs, 1) AS BIGINT)"
            ).alias("precision_ppm"),
            "n_capped_groups",
        )
    )


# ---------------------------------------------------------------------------
# Degree assortativity of the near-dup graph (Newman r over edge endpoints)
# ---------------------------------------------------------------------------


def _assortativity_oracle() -> str:
    from rs_streamloader_spark.functions.moments import pearson_from_moments_sql

    r_sql = pearson_from_moments_sql("m", "sx", "sy", "sxx", "syy", "sxy")
    return f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY u),
    ee AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM edges e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(dx) AS HUGEINT) AS sx,
             CAST(SUM(dy) AS HUGEINT) AS sy,
             CAST(SUM(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy,
             CAST(SUM(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy
      FROM ee
    )
    SELECT m AS n_directed_edges,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           {r_sql} AS assortativity_r
    FROM mom WHERE m > 1
    """


@register("graph_assortativity", oracle=_assortativity_oracle())
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup pair graph (Newman's r:
    Pearson correlation of endpoint degrees over every directed edge)
    — the one-number summary of whether near-dup hubs link to other
    hubs (assortative templates gluing into super-clusters, r > 0) or
    to leaves (star-shaped boilerplate radiating from one canonical
    doc, r < 0). Read next to ``graph_degree_stats`` (the marginal
    distribution) and ``pagerank_neardup`` (per-node centrality); a
    strongly negative r is the advance warning that
    ``dedup_cluster``'s components are stars whose removal decision
    should key on the hub.

    Scale posture: reuses the family's CACHED pair stage; degrees are
    one keyed aggregate; the two degree joins key on doc ids of the
    sparse edge list; the final Pearson is a 1-row exact-integer
    moment reduction through the SHARED functions/moments policy
    (fifth consumer). Cross-engine determinism: all moments in
    HUGEINT/DECIMAL(38); the single double expression is the shared
    rendering, rounded at 6dp, NULL-guarded for zero-variance
    (regular) graphs.

    Reference surface: none (novel extension, SURVEY.md §2.5 dedup
    family)."""
    from rs_streamloader_spark.functions.moments import pearson_from_moments

    pairs = _jaccard_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = edges.groupBy("u").agg(F.count("*").cast("bigint").alias("d"))
    ee = (
        edges.join(deg.withColumnRenamed("d", "dx"), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("d").alias("dy")), "v"
        )
        .select("dx", "dy")
    )
    d38 = "DECIMAL(38,0)"
    mom = ee.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.expr(f"CAST(SUM(dx) AS {d38})").alias("sx"),
        F.expr(f"CAST(SUM(dy) AS {d38})").alias("sy"),
        F.expr(f"CAST(SUM(CAST(dx AS {d38}) * dx) AS {d38})").alias("sxx"),
        F.expr(f"CAST(SUM(CAST(dy AS {d38}) * dy) AS {d38})").alias("syy"),
        F.expr(f"CAST(SUM(CAST(dx AS {d38}) * dy) AS {d38})").alias("sxy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return (
        mom.where("m > 1")
        .join(F.broadcast(n_nodes))
        .select(
            F.col("m").alias("n_directed_edges"),
            "n_nodes",
            pearson_from_moments("m", "sx", "sy", "sxx", "syy", "sxy").alias(
                "assortativity_r"
            ),
        )
    )


# ---------------------------------------------------------------------------
# ROUGE-1 unigram overlap over the near-dup pair graph
# ---------------------------------------------------------------------------

_ROUGE_TOK_SQL = """
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
      ) WHERE tok <> '' GROUP BY doc_id, tok
"""


@register(
    "rouge_overlap_neardup",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    tok AS ({_ROUGE_TOK_SQL}),
    lens AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS len FROM tok GROUP BY 1),
    ov AS (
      SELECT p.doc_a, p.doc_b,
             CAST(SUM(LEAST(ta.cnt, tb.cnt)) AS BIGINT) AS overlap
      FROM pairs p
      JOIN tok ta ON ta.doc_id = p.doc_a
      JOIN tok tb ON tb.doc_id = p.doc_b AND tb.tok = ta.tok
      GROUP BY 1, 2
    )
    SELECT ov.doc_a, ov.doc_b, overlap, la.len AS len_a, lb.len AS len_b,
           CAST(overlap * 1000000 // la.len AS BIGINT) AS precision_ppm,
           CAST(overlap * 1000000 // lb.len AS BIGINT) AS recall_ppm,
           CAST(overlap * 2000000 // (la.len + lb.len) AS BIGINT) AS f1_ppm
    FROM ov
    JOIN lens la ON la.doc_id = ov.doc_a
    JOIN lens lb ON lb.doc_id = ov.doc_b
    """,
)
def rouge_overlap_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 multiset unigram overlap (precision / recall / F1, ppm)
    for every near-dup candidate pair: the summarization-eval metric
    repurposed as a dedup second opinion — a pair with high trigram
    Jaccard but low unigram F1 is a template (same scaffolding,
    different content words), while high-F1 pairs are true rewrites.
    Read next to ``dedup_ngram_jaccard`` (the pair source) and
    ``dedup_containment`` (directional subset overlap).

    Scale posture: rides the family's CACHED pair stage (sparse edge
    list); token counts are one combinable per-(doc, token) aggregate;
    the two overlap joins key on (doc, token) with the pair side
    hinted shuffle_hash (it grows with the corpus — broadcasting it is
    the r10 flip class); output is one row per candidate pair (≤ the
    pair stage's own bounded size). Cross-engine determinism: pure
    integer token counts and ppm truncating division; multiset overlap
    via LEAST of exact counts.

    Reference surface: none (novel extension, SURVEY.md §2.5 dedup
    family)."""
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    lens = tok.groupBy("doc_id").agg(F.sum("cnt").cast("bigint").alias("len"))
    ta = tok.select(
        F.col("doc_id").alias("doc_a"), "tok", F.col("cnt").alias("cnt_a")
    )
    tb = tok.select(
        F.col("doc_id").alias("doc_b"), "tok", F.col("cnt").alias("cnt_b")
    )
    ov = (
        pairs.hint("shuffle_hash")
        .join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.least("cnt_a", "cnt_b")).cast("bigint").alias("overlap")
        )
    )
    la = lens.select(F.col("doc_id").alias("doc_a"), F.col("len").alias("len_a"))
    lb = lens.select(F.col("doc_id").alias("doc_b"), F.col("len").alias("len_b"))
    return (
        ov.join(la, "doc_a")
        .join(lb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "overlap",
            "len_a",
            "len_b",
            F.expr("CAST(overlap * 1000000 div len_a AS BIGINT)").alias(
                "precision_ppm"
            ),
            F.expr("CAST(overlap * 1000000 div len_b AS BIGINT)").alias(
                "recall_ppm"
            ),
            F.expr(
                "CAST(overlap * 2000000 div (len_a + len_b) AS BIGINT)"
            ).alias("f1_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Newman modularity of the source partition on the near-dup graph
# ---------------------------------------------------------------------------


@register(
    "graph_modularity_by_source",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    lab AS (SELECT doc_id, source FROM documents),
    edges AS (
      SELECT la.source AS sa, lb.source AS sb
      FROM pairs p
      JOIN lab la ON la.doc_id = p.doc_a
      JOIN lab lb ON lb.doc_id = p.doc_b
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    deg AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS d FROM (
        SELECT sa AS source, COUNT(*) AS c FROM edges GROUP BY 1
        UNION ALL
        SELECT sb AS source, COUNT(*) AS c FROM edges GROUP BY 1
      ) GROUP BY source
    ),
    within AS (
      SELECT sa AS source, CAST(COUNT(*) AS BIGINT) AS e_in
      FROM edges WHERE sa = sb GROUP BY 1
    ),
    terms AS (
      SELECT d.source,
             COALESCE(w.e_in, 0) AS e_in, d.d,
             CAST(ROUND((CAST(COALESCE(w.e_in, 0) AS DOUBLE) / m.m
                         - (CAST(d.d AS DOUBLE) / (2 * m.m))
                           * (CAST(d.d AS DOUBLE) / (2 * m.m)))
                        * 1000000000) AS BIGINT) AS q_nano
      FROM deg d LEFT JOIN within w ON w.source = d.source
      CROSS JOIN m
    )
    SELECT (SELECT m FROM m) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_sources_touched,
           CAST(SUM(CASE WHEN e_in > 0 THEN e_in ELSE 0 END) AS BIGINT)
             AS within_edges,
           ROUND(SUM(q_nano) / 1e9, 6) AS modularity
    FROM terms
    """,
)
def graph_modularity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the SOURCE partition over the near-dup
    pair graph: Q = Σ_s [e_ss/m − (d_s/2m)²]. Q near its maximum means
    duplication stays inside sources (mirror-heavy crawl, safe to
    dedup per-source); Q ≈ 0 means near-dups cross source boundaries
    as much as chance predicts — the one-number companion to
    ``cross_source_dup_matrix`` (which shows WHICH pairs) and
    ``graph_assortativity`` (degree mixing, not label mixing).

    Scale posture: rides the shared Jaccard pair stage; two broadcast
    label joins put a source pair on every edge; everything reduces to
    the bounded per-source degree/within tables; per-source terms are
    nano-rounded before the exact cross-source sum (order immunity).
    One output row.

    Reference surface: none (novel extension, SURVEY.md §2.5 dedup
    family)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = _jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lab = docs.select("doc_id", "source")
    edges = (
        pairs.join(
            F.broadcast(
                lab.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("source").alias("sa"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                lab.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("source").alias("sb"),
                )
            ),
            "doc_b",
        )
        .select("sa", "sb")
    )
    m = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    deg = (
        edges.select(F.col("sa").alias("source"))
        .unionByName(edges.select(F.col("sb").alias("source")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    within = (
        edges.where("sa = sb")
        .groupBy(F.col("sa").alias("source"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
    )
    terms = (
        deg.join(F.broadcast(within), "source", "left")
        .join(F.broadcast(m))
        .select(
            "source",
            F.coalesce("e_in", F.lit(0)).alias("e_in"),
            "d",
            F.expr(
                "CAST(ROUND((CAST(COALESCE(e_in, 0) AS DOUBLE) / m"
                " - (CAST(d AS DOUBLE) / (2 * m))"
                " * (CAST(d AS DOUBLE) / (2 * m))) * 1000000000)"
                " AS BIGINT)"
            ).alias("q_nano"),
        )
    )
    return terms.join(F.broadcast(m)).groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sources_touched"),
        F.expr(
            "CAST(SUM(CASE WHEN e_in > 0 THEN e_in ELSE 0 END) AS BIGINT)"
        ).alias("within_edges"),
        F.expr("ROUND(SUM(q_nano) / 1e9, 6)").alias("modularity"),
    ).select(
        F.col("m").alias("n_edges"),
        "n_sources_touched",
        "within_edges",
        "modularity",
    )


# ---------------------------------------------------------------------------
# Cross-run incremental dedup through the native sink (r13)
# ---------------------------------------------------------------------------

# incoming doc is a duplicate when at least half the minhash
# components agree with a store doc (estimated Jaccard ≥ 0.5)
_INC_MATCH_MIN = N_MINHASH // 2


def _minhash_mins_sql() -> str:
    """The signature-aggregate SQL fragment (MIN(MD5('k|'||sh)) AS hk)
    — single-sourced for every oracle that builds signatures, so a
    signature-scheme change cannot silently diverge between them."""
    return ",\n             ".join(
        f"MIN(MD5('{k}|' || sh)) AS h{k}" for k in range(N_MINHASH)
    )


def _sig_match_sql(a: str = "i", b: str = "t") -> str:
    """The component-agreement count fragment shared by the
    incremental-dedup oracles (operators + streaming replay)."""
    return " + ".join(
        f"(CASE WHEN {a}.h{k} = {b}.h{k} THEN 1 ELSE 0 END)"
        for k in range(N_MINHASH)
    )


def _inc_minhash_oracle() -> str:
    rows = N_MINHASH // N_BANDS
    mins = _minhash_mins_sql()

    def bands(src: str) -> str:
        parts = []
        for b in range(N_BANDS):
            cat = " || ".join(f"h{b * rows + r}" for r in range(rows))
            parts.append(
                f"SELECT doc_id, {b} AS band_idx, MD5({cat}) AS band_val FROM {src}"
            )
        return "\n      UNION ALL\n      ".join(parts)

    n_match = _sig_match_sql()
    return f"""
    WITH s AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc_id, {mins} FROM s GROUP BY doc_id),
    store AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
    inc AS (SELECT * FROM sig WHERE doc_id % 2 = 1),
    sb AS (
      {bands("store")}
    ),
    ib AS (
      {bands("inc")}
    ),
    cand AS (
      SELECT DISTINCT i.doc_id AS inc_doc, t.doc_id AS store_doc
      FROM ib i JOIN sb t
        ON i.band_idx = t.band_idx AND i.band_val = t.band_val
    ),
    scored AS (
      SELECT c.inc_doc, c.store_doc, {n_match} AS n_match
      FROM cand c
      JOIN inc i ON i.doc_id = c.inc_doc
      JOIN store t ON t.doc_id = c.store_doc
    ),
    best AS (
      SELECT inc_doc, store_doc, n_match,
             ROW_NUMBER() OVER (PARTITION BY inc_doc
                                ORDER BY n_match DESC, store_doc) AS rn
      FROM scored
    )
    SELECT i.doc_id,
           b.store_doc AS matched_doc,
           CAST(COALESCE(b.n_match, 0) AS INTEGER) AS n_match,
           ROUND(COALESCE(b.n_match, 0) / {N_MINHASH}.0, 6) AS est_jaccard,
           COALESCE(b.n_match, 0) >= {_INC_MATCH_MIN} AS is_dup
    FROM inc i
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.inc_doc = i.doc_id
    """


def _band_view(df: DataFrame) -> DataFrame:
    """(doc_id, h0..h15, bvals, band_idx, band_val) — the exploded
    banding view carrying the full signature through, so candidate
    scoring needs no second signature join."""
    rows = N_MINHASH // N_BANDS
    hcols = [f"h{k}" for k in range(N_MINHASH)]
    bvals = F.array(
        *[
            F.md5(F.concat(*[F.col(f"h{b * rows + r}") for r in range(rows)]))
            for b in range(N_BANDS)
        ]
    )
    return df.select("doc_id", *hcols, bvals.alias("bvals")).select(
        "doc_id",
        *hcols,
        "bvals",
        F.posexplode("bvals").alias("band_idx", "band_val"),
    )


def _incremental_decision(inc_sigs: DataFrame, store: DataFrame) -> DataFrame:
    """Batch-vs-store decision table: LSH band candidates against the
    persisted store (first-matching-band emission), scored by agreeing
    minhash components, best match per incoming doc, left-joined back
    so novel docs report n_match = 0. Split out so the plan guard can
    assert the shuffle-hash pin on the pre-checkpoint plan."""
    ib = _band_view(inc_sigs).alias("i")
    tb = _band_view(store).alias("t")
    first_match = F.expr(
        "NOT exists(zip_with(slice(i.bvals, 1, i.band_idx),"
        " slice(t.bvals, 1, t.band_idx), (x, y) -> x = y), p -> p)"
    )
    n_match = None
    for k in range(N_MINHASH):
        term = (F.col(f"i.h{k}") == F.col(f"t.h{k}")).cast("int")
        n_match = term if n_match is None else n_match + term
    scored = (
        # shuffle-hash pinned: the store side grows with the corpus, so
        # the base-scale AQE broadcast is never the 100 TB shape (the
        # r10 k=100 flip class)
        ib.join(
            tb.hint("shuffle_hash"),
            (F.col("i.band_idx") == F.col("t.band_idx"))
            & (F.col("i.band_val") == F.col("t.band_val")),
        )
        .filter(first_match)
        .select(
            F.col("i.doc_id").alias("inc_doc"),
            F.col("t.doc_id").alias("store_doc"),
            n_match.alias("n_match"),
        )
    )
    best = (
        scored.groupBy("inc_doc")
        .agg(
            F.max(
                F.struct(
                    F.col("n_match"), (-F.col("store_doc")).alias("neg_doc")
                )
            ).alias("m")
        )
        .select(
            "inc_doc",
            (-F.col("m.neg_doc")).cast("bigint").alias("matched_doc"),
            F.col("m.n_match").alias("best_match"),
        )
    )
    return (
        inc_sigs.select("doc_id")
        .join(best, F.col("doc_id") == F.col("inc_doc"), "left")
        .select(
            "doc_id",
            "matched_doc",
            F.coalesce("best_match", F.lit(0)).cast("int").alias("n_match"),
            F.round(
                F.coalesce("best_match", F.lit(0)).cast("double")
                / F.lit(float(N_MINHASH)),
                6,
            ).alias("est_jaccard"),
            (F.coalesce("best_match", F.lit(0)) >= _INC_MATCH_MIN).alias(
                "is_dup"
            ),
        )
    )


@register("dedup_incremental_minhash", oracle=_inc_minhash_oracle())
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-RUN incremental dedup through the native sink — the
    production shape for continuous ingestion that single-run dedup
    never exercises (VERDICT r12 next-round #2): batch 1's minhash
    signature store is PERSISTED via the ``Loader`` staged-upsert path
    into a bucketed native table (the reference's keyed-upsert load
    mode, RedshiftLoader.ts:369-384, applied to signatures instead of
    rows), then batch 2 lands and is deduped against the table READ
    BACK FROM DISK — not against an in-session DataFrame — and its own
    signatures are upserted into the store afterwards, leaving the
    state the next run needs.

    Batches are the deterministic doc_id-parity split (even → already
    ingested store, odd → incoming). An incoming doc's candidates come
    from LSH band equality against the persisted store (first-matching
    -band emission, no DISTINCT shuffle), scored by the number of
    agreeing minhash components (estimated Jaccard = n_match/16 — at
    ingestion time the store holds ONLY signatures, never the original
    shingles, which is what makes the state O(docs), not O(tokens));
    best match per doc = max agreement, min store doc on ties; a doc
    with agreement ≥ {_INC_MATCH_MIN}/16 is a duplicate.

    The oracle replays the identical protocol declaratively (split,
    band, candidate, score, rank), so the staged write, the bucketed
    read-back, and the decision math are all load-bearing.

    Scale posture: the store table is hash-bucketed on doc_id, so each
    run's signature upsert rewrites only the buckets its batch touches
    (bytes track batch size, not store size — measured in
    SCALE_STRESS_r12_loader.json); the band join is shuffle-hash
    pinned (both sides corpus-sized here; at production the incoming
    side is one batch). The decision table reads the store under a
    SNAPSHOT PIN (sink.snapshot(), VERDICT r13 #4): batch 2's upsert
    commits version N+1 but defers pruning version N's files while
    the pin is live, so the lazy decision plan stays valid with no
    caller-side checkpointing — the sink-level contract is pinned by
    tests/test_snapshot_read.py."""
    import os

    from rs_streamloader_spark.loader import Loader
    from rs_streamloader_spark.session import scratch_dir
    from rs_streamloader_spark.sinks.native import NativeTableSink

    sig = _minhash_sig_cached(spark, sf_dir)
    store_sigs = sig.where(F.col("doc_id") % 2 == 0)
    inc_sigs = sig.where(F.col("doc_id") % 2 == 1)

    base = scratch_dir(spark, "incdedup", sf_dir)
    sink = NativeTableSink(
        spark,
        os.path.join(base, "sig_store"),
        num_buckets=16,
        bucket_by="doc_id",
    )

    def land(df: DataFrame, stage: str) -> None:
        loader = Loader(
            spark,
            options={
                "table": "wh.sig_store",
                "id_field": "doc_id",
                "staging_format": "parquet",
                "copy_settings": {"format": "PARQUET"},
            },
            sink=sink,
            staging_root=os.path.join(base, stage),
        )
        loader.add_source(df)
        loader.upsert()

    # run 1: the already-ingested corpus half becomes the persisted store
    land(store_sigs, "stage_run1")

    # snapshot-pin the store version the decision reads: run 2's
    # upsert below commits the next version but defers pruning this
    # one while the pin is live, so the returned lazy plan stays
    # valid — no localCheckpoint materialization needed. (No further
    # writes touch this per-invocation scratch table after the pin
    # releases, so execution any time later resolves the same files.)
    with sink.snapshot() as snap:
        store = snap.read()  # the state batch 2 sees: disk, not lineage
        out = _incremental_decision(inc_sigs, store)

        # heartbeat before the long write: at 100 TB the decision plan
        # can outlive the pin TTL — renew() resets the marker's mtime
        # so a concurrent writer never sweeps it as crashed
        snap.renew()
        # run 2: the incoming batch's signatures join the store — the
        # state handoff that makes the next run incremental
        land(inc_sigs, "stage_run2")
    return out
