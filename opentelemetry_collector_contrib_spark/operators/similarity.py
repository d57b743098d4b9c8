"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how a 100 TB pipeline would actually run:

- ``brute_force_topk``: exact cosine top-k via a broadcast join of the
  (small) query set against the corpus. Correctness baseline; O(n*q).
- ``lsh_bucket_topk``: random-hyperplane LSH — bucket by the sign
  pattern of projections onto deterministic pseudo-random hyperplanes,
  equi-join on bucket, rank within bucket. The shuffle carries
  O(n) bucket rows, never n^2; recall is tunable via planes/tables.
- ``ivf_topk``: IVF-style coarse quantization — assign every vector to
  its nearest centroid (broadcast centroids), search only within the
  probe cell(s).

Determinism: hyperplane components derive from md5 hex (char >= '8'
=> +1 else -1) so Spark and any oracle engine generate bit-identical
hyperplanes; cosine math is double-precision with fixed (sequential)
summation order in both engines; outputs round to 6 dp with id
tiebreaks.

Everything is pure Column exprs (zip_with/aggregate run in codegen).
A Pandas-UDF matmul variant would batch better on very wide vectors,
but at 64-dim the JVM expression path wins (no Arrow transfer).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-order double dot product (portable across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def normalized(vec: Column) -> Column:
    """Unit-normalize once per vector so the per-pair work is a single
    dot product (norms are NOT recomputed per pair — at n^2 pairs that
    is a 3x saving on the dominant cost)."""
    n = norm(vec)
    return F.transform(vec, lambda x: x.cast("double") / n)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 1,
    max_broadcast_rows: int | None = 100_000,
) -> DataFrame:
    """Exact top-k neighbors of every query vector (self-join when
    queries IS corpus; excludes self-matches by id).

    **Correctness baseline ONLY.** The query side broadcasts and every
    (query, corpus) pair is scored — O(n*q). A self-ANN call
    (queries IS corpus) is O(n^2) and broadcasts the entire corpus:
    it cannot survive 100 TB (driver/executor OOM before the n^2 work
    starts). The scale paths are ``lsh_bucket_topk`` /
    ``lsh_bucket_topk_multi`` / ``ivf_topk`` — bucket equi-joins with
    O(n) shuffle. ``max_broadcast_rows`` enforces the fence: the call
    fails fast (one cheap count of the small side) instead of OOMing
    an executor mid-broadcast. Pass None to bypass for tests.

    Ranking ties break on (rounded sim desc, neighbor id asc) so
    results are engine-portable.
    """
    if max_broadcast_rows is not None:
        n_q = queries.select("vec_id").limit(max_broadcast_rows + 1).count()
        if n_q > max_broadcast_rows:
            raise ValueError(
                f"brute_force_topk: query side has >{max_broadcast_rows} rows; "
                "broadcasting it would OOM at scale — use lsh_bucket_topk/"
                "ivf_topk for self-ANN, or raise max_broadcast_rows explicitly"
            )
    q = queries.select(
        F.col("vec_id").alias("query_id"), normalized(F.col("embedding")).alias("__qv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), normalized(F.col("embedding")).alias("__cv")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(dot(F.col("__qv"), F.col("__cv")), 6))
        .drop("__qv", "__cv")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH
# ---------------------------------------------------------------------------

def hyperplane(plane_idx: int, dim: int) -> Column:
    """Deterministic pseudo-random ±1 hyperplane: component d of plane
    p = +1 iff first hex char of md5('p-d') >= '8'. Portable: any
    engine with md5 generates the same plane."""
    return F.array(
        *[
            F.when(
                F.substring(F.md5(F.lit(f"{plane_idx}-{d}")), 1, 1) >= "8", F.lit(1.0)
            ).otherwise(F.lit(-1.0))
            for d in range(dim)
        ]
    )


def lsh_bucket(vec: Column, num_planes: int, dim: int) -> Column:
    """Sign-pattern bucket key: one bit per hyperplane."""
    bits = [
        F.when(dot(vec, hyperplane(p, dim)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(num_planes)
    ]
    return F.concat(*bits)


def lsh_bucket_topk(
    corpus: DataFrame,
    dim: int = 64,
    num_planes: int = 6,
    k: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket.

    2^num_planes buckets; expected bucket size n/2^planes. The join is
    a bucket equi-join (shuffle O(n)); within-bucket ranking is exact
    cosine. Vectors alone in their bucket yield no row (the recall
    trade; add more tables to recover).
    """
    withb = corpus.select(
        F.col("vec_id"),
        normalized(F.col("embedding")).alias("__nv"),
        lsh_bucket(F.col("embedding"), num_planes, dim).alias("bucket"),
    )
    a = withb.select(
        F.col("vec_id").alias("query_id"), F.col("__nv").alias("__qv"), "bucket"
    )
    b = withb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("__nv").alias("__cv"), "bucket"
    )
    scored = (
        a.join(b, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(dot(F.col("__qv"), F.col("__cv")), 6))
        .drop("__qv", "__cv", "bucket")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def lsh_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, LSH-bucketed.

    The dedup sibling of lsh_bucket_topk: candidate pairs share a
    bucket (O(n) shuffle, never all-pairs), exact cosine verifies, and
    each duplicate maps to its smallest-id near-neighbor as the
    canonical representative (same min-id convention as exact_dedup /
    minhash_lsh in operators/text.py).  Output: (doc_id, dup_of,
    cosine_sim) — one row per detected duplicate.
    """
    withb = corpus.select(
        F.col("vec_id"),
        normalized(F.col("embedding")).alias("__nv"),
        lsh_bucket(F.col("embedding"), 6, 64).alias("bucket"),
    )
    a = withb.select(
        F.col("vec_id").alias("dup_of"), F.col("__nv").alias("__qv"), "bucket"
    )
    b = withb.select(
        F.col("vec_id").alias("doc_id"), F.col("__nv").alias("__cv"), "bucket"
    )
    pairs = (
        a.join(b, on="bucket")
        .filter(F.col("dup_of") < F.col("doc_id"))
        .withColumn(
            "cosine_sim", F.round(dot(F.col("__qv"), F.col("__cv")), 6)
        )
        .filter(F.col("cosine_sim") >= threshold)
    )
    return pairs.groupBy("doc_id").agg(
        F.min("dup_of").alias("dup_of"),
        F.round(F.min_by("cosine_sim", F.col("dup_of")), 6).alias(
            "cosine_sim"
        ),
    ).select("doc_id", "dup_of", "cosine_sim")


def lsh_bucket_topk_multi(
    corpus: DataFrame,
    dim: int = 64,
    num_planes: int = 6,
    num_tables: int = 2,
    k: int = 1,
) -> DataFrame:
    """Multi-table LSH (OR-amplification): a candidate pair qualifies
    if it collides in ANY of ``num_tables`` independent plane sets —
    recall ~1-(1-p^planes)^tables instead of p^planes, the standard
    fix for single-table misses. Each table t uses planes
    [t*num_planes, (t+1)*num_planes); pairs are deduped across tables
    BEFORE the exact-cosine ranking so each survives once.

    Scale shape: num_tables bucket equi-joins (each O(n) shuffle) +
    one dedup shuffle — still never O(n^2)."""
    per_table = []
    nv = corpus.select(F.col("vec_id"), normalized(F.col("embedding")).alias("__nv"))
    for t in range(num_tables):
        withb = corpus.select(
            F.col("vec_id"),
            lsh_bucket_offset(F.col("embedding"), num_planes, dim, t * num_planes).alias("bucket"),
        )
        a = withb.select(F.col("vec_id").alias("query_id"), "bucket")
        b = withb.select(F.col("vec_id").alias("neighbor_id"), "bucket")
        per_table.append(
            a.join(b, on="bucket")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
        )
    cands = per_table[0]
    for extra in per_table[1:]:
        cands = cands.unionByName(extra)
    cands = cands.dropDuplicates(["query_id", "neighbor_id"])
    scored = (
        cands.join(nv.select(F.col("vec_id").alias("query_id"), F.col("__nv").alias("__qv")), on="query_id")
        .join(nv.select(F.col("vec_id").alias("neighbor_id"), F.col("__nv").alias("__cv")), on="neighbor_id")
        .withColumn("cosine_sim", F.round(dot(F.col("__qv"), F.col("__cv")), 6))
        .drop("__qv", "__cv")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def lsh_bucket_offset(vec: Column, num_planes: int, dim: int, offset: int) -> Column:
    """Sign-pattern bucket with a plane-index offset (one plane family
    per LSH table)."""
    bits = [
        F.when(dot(vec, hyperplane(p, dim)) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for p in range(offset, offset + num_planes)
    ]
    return F.concat(*bits)


# ---------------------------------------------------------------------------
# IVF-style coarse quantization
# ---------------------------------------------------------------------------

def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """Assign each vector to its nearest centroid (broadcast join +
    rank). Centroids are a tiny DataFrame (id, vector) — e.g. a sampled
    or k-means'd codebook computed offline."""
    c = centroids.select(
        F.col("centroid_id"), F.col("centroid").alias("__ctr")
    )
    scored = corpus.join(F.broadcast(c)).withColumn(
        # round 12dp so cell assignment is identical across engines
        "__sim", F.round(cosine(F.col("embedding"), F.col("__ctr")), 12)
    )
    w = W.partitionBy("vec_id").orderBy(F.col("__sim").desc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__sim", "__ctr")
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 1,
) -> DataFrame:
    """Search within each vector's own IVF cell (nprobe=1): assign,
    then bucket-join on the cell id, rank by exact cosine."""
    assigned = ivf_assign(corpus, centroids)
    a = assigned.select(
        F.col("vec_id").alias("query_id"),
        normalized(F.col("embedding")).alias("__qv"),
        "centroid_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("neighbor_id"),
        normalized(F.col("embedding")).alias("__cv"),
        "centroid_id",
    )
    scored = (
        a.join(b, on="centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", F.round(dot(F.col("__qv"), F.col("__cv")), 6))
        .drop("__qv", "__cv", "centroid_id")
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


# ---------------------------------------------------------------------------
# in-engine IVF codebook training: Lloyd k-means over the embedding
# column (spherical / cosine). Completes the similarity scale path —
# ivf_assign/ivf_topk above assume a codebook; this trains one without
# leaving the engine.
# ---------------------------------------------------------------------------

def argmax_cosine_cell(vec: Column, cents: list[list[float]]) -> Column:
    """Index of the max-cosine literal centroid (ties -> lowest index;
    sims rounded to 12 dp for oracle parity). The zero-shuffle
    assignment idiom shared by kmeans_lloyd and pq_encode — both SQL
    oracles replay it as ``ORDER BY cos DESC, cell``; keep the
    tie-break and rounding in lockstep here only."""
    scored = [
        F.struct(
            F.round(cosine(vec, F.array(*[F.lit(x) for x in c])), 12).alias("s"),
            F.lit(-j).alias("nc"),
        )
        for j, c in enumerate(cents)
    ]
    return (-F.array_max(F.array(*scored))["nc"]).cast("int")


def kmeans_lloyd(
    corpus: DataFrame,
    k: int = 6,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[float]]]:
    """Deterministic spherical k-means: ``iters`` assignment passes
    with a mean-update between consecutive passes.

    - Seeds are the ``k`` smallest-id vectors (deterministic, and —
      because every seed is a real corpus vector — each seed cell
      starts non-empty: the seed's own vector has cosine 1 with it).
    - Assignment is ONE projection, zero shuffles: the centroids are
      literal arrays, so the argmax over k cosines is an
      ``array_max`` over (sim, -cell) structs. No window, no join.
    - Update is one map-side-combined shuffle (posexplode ->
      groupBy(cell, dim).avg) followed by a bounded k x dim driver
      collect (exactly what MLlib's Lloyd does per round).
    - Cross-engine portability: sims round to 12 dp, updated
      centroid components to 9 dp, so a SQL oracle running
      the same recursion stays bit-identical.

    Returns (assignments DataFrame with ``cell`` added, final
    centroids as Python lists). A cell that empties mid-run keeps its
    stale centroid (unreachable with seed-vector init on distinct
    data: each seed's own vector has cosine 1 with it; a SQL oracle
    replaying the recursion need not model it).
    """
    seed_rows = (
        corpus.orderBy(id_col).limit(k)
        .select(F.col(vec_col).cast("array<double>"))
        .collect()
    )
    centroids = [list(r[0]) for r in seed_rows]
    # fewer rows than k: every row is its own cluster (range(k) below
    # would otherwise IndexError on the missing seeds)
    k = len(centroids)

    def assign(cents: list[list[float]]) -> DataFrame:
        return corpus.withColumn(
            "cell", argmax_cosine_cell(F.col(vec_col), cents)
        )

    assigned = assign(centroids)
    for _ in range(iters - 1):
        means = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 9).alias("m"))
            .collect()
        )
        upd: dict[int, dict[int, float]] = {}
        for r in means:
            upd.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        centroids = [
            [upd[j][p] for p in sorted(upd[j])] if j in upd else centroids[j]
            for j in range(k)
        ]
        assigned = assign(centroids)
    return assigned, centroids


# ---------------------------------------------------------------------------
# semantic deduplication (SemDeDup, Abbas et al. 2023: cluster the
# embedding space, then drop near-duplicate pairs WITHIN each cluster —
# the cluster step is what bounds the pair join at web scale)
# ---------------------------------------------------------------------------

def semantic_dedup(
    corpus: DataFrame,
    k: int = 6,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """SemDeDup over an embedding column: spherical k-means partitions
    the space (kmeans_lloyd — deterministic seed-vector init), then a
    within-cell pair join drops every vector whose cosine to a
    SMALLER-id cell-mate is >= ``threshold`` (min-id representative,
    the same convention as exact_dedup / lsh_near_duplicates).

    Scale story: the pair join is equi on ``cell``, so the candidate
    set is sum_c |c|^2, not n^2 — at 100 TB pick k so the expected
    cell is ~10-100k vectors (SemDeDup uses k=50k clusters for LAION),
    and cap stragglers with ``max_cell_size``: cells whose population
    exceeds it are sub-split on a 4-bit LSH sign bucket
    of the vector BEFORE the pair join, so the worst cell's candidate
    count drops from |c|^2 to ~sum_b |c_b|^2 and no single task can
    straggle the stage.  The salt is a finer partition of the same
    similarity space, so near-identical vectors (the >= threshold
    pairs SemDeDup hunts) share a bucket with high probability — the
    same approximation the cluster boundary itself already makes; a
    pair split across salt buckets is missed exactly like a pair split
    across cells. Requires ``dim``.  Cell sizes come from one map-side
    combined count (k rows to the driver), so the salt adds NO join —
    oversized cell ids become a literal isin() in the projection.
    Assignment itself is a zero-shuffle projection (literal
    centroids); the only shuffles are k-means' update and the cell-key
    exchange for the pair join.

    Output: one row per vector — (vec_id, cell, keep, dup_of) where
    dup_of is the smallest qualifying cell-mate (NULL when kept).
    """
    assigned, _ = kmeans_lloyd(
        corpus, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    # pre-normalize ONCE per row (norm materialized as a column first —
    # an expression captured inside the transform lambda would re-run
    # per element): the pair join then pays one dot product per
    # candidate instead of dot + two norms, a 3x on the dominant
    # sum_c |c|^2 stage. The SQL oracle normalizes identically, so the
    # rounded-to-12 sims stay bit-equal.
    assigned = (
        assigned.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v"), "cell"
        )
        .withColumn("__n", norm(F.col("__v")))
        .select(
            F.col(id_col),
            "cell",
            F.transform(F.col("__v"), lambda x: x / F.col("__n")).alias("__v"),
        )
    )
    join_keys = ["cell"]
    if max_cell_size is not None:
        if dim is None:
            raise ValueError("semantic_dedup max_cell_size salting requires dim")
        # one bounded agg (k rows) -> oversized ids as a literal isin;
        # only rows of oversized cells pay the salt-bit projection
        sizes = assigned.groupBy("cell").count().collect()
        oversized = [int(r["cell"]) for r in sizes if r["count"] > max_cell_size]
        if oversized:
            assigned = assigned.withColumn(
                "__salt",
                F.when(
                    F.col("cell").isin(oversized),
                    lsh_bucket(F.col("__v"), 4, dim),
                ).otherwise(F.lit("")),
            )
            join_keys = ["cell", "__salt"]
    a = assigned.select(
        F.col(id_col).alias("__aid"), F.col("__v").alias("__av"), *join_keys
    )
    b = assigned.select(
        F.col(id_col).alias("__bid"), F.col("__v").alias("__bv"), *join_keys
    )
    dups = (
        a.join(b, join_keys)
        .filter(F.col("__aid") < F.col("__bid"))
        .withColumn("__sim", F.round(dot(F.col("__av"), F.col("__bv")), 12))
        .filter(F.col("__sim") >= threshold)
        .groupBy(F.col("__bid").alias(id_col))
        .agg(F.min("__aid").alias("dup_of"))
    )
    return (
        assigned.join(dups, id_col, "left")
        .select(
            id_col,
            "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ: Jegou et al. 2011 "Product Quantization
# for Nearest Neighbor Search") — split the vector into m subspaces,
# train a small codebook per subspace, store each vector as m codes.
# Spherical variant (cosine per subspace) to match the engine's other
# embedding ops; the codebook trainer is kmeans_lloyd per block.
# ---------------------------------------------------------------------------

def pq_train(
    corpus: DataFrame,
    dim: int = 64,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Train per-subspace codebooks — the exact kmeans_lloyd recursion
    per block (same seeds: the ksub smallest-id vectors' block slices;
    same 12/9 dp rounding; empty cells keep stale
    centroids), but FUSED: the m blocks train in lockstep so each
    Lloyd round is ONE zero-shuffle assignment projection (all m
    argmaxes in one select) and ONE map-side-combined shuffle for all
    m mean updates (posexplode the full vector once; block = pos/sub)
    with a bounded m*ksub*sub driver collect. The round-3 sequential
    form paid m separate update shuffles and m*(2*iters-1) corpus
    scans; fused is (iters-1) shuffles and iters-ish scans — at 100 TB
    the training cost no longer multiplies by the block count.
    Returns codebooks[b][code] = centroid, bit-identical to the
    sequential form (the DuckDB oracles replaying per-block Lloyd
    still match).

    Precondition (spherical quantizer): no sub-vector block may be
    all-zero — cosine against a zero block is undefined (ANSI
    division by zero). Real embedding corpora satisfy this; L2-PQ is
    the variant for data that doesn't."""
    sub = dim // m
    v = F.col("embedding").cast("array<double>")
    seed_rows = corpus.orderBy("vec_id").limit(ksub).select(v.alias("__v")).collect()
    # fewer rows than ksub: every row seeds its own codeword, exactly
    # kmeans_lloyd's k-shrink behavior per block
    books: list[list[list[float]]] = [
        [list(r["__v"][b * sub : (b + 1) * sub]) for r in seed_rows]
        for b in range(m)
    ]
    k = len(seed_rows)
    for _ in range(iters - 1):
        assigned = corpus.select(
            v.alias("__v"),
            *[
                argmax_cosine_cell(
                    F.slice(v, b * sub + 1, sub), books[b]
                ).alias(f"__c{b}")
                for b in range(m)
            ],
        )
        cells = F.array(*[F.col(f"__c{b}") for b in range(m)])
        exploded = assigned.select(
            F.posexplode(F.col("__v")).alias("gpos", "x"), cells.alias("__cells")
        ).select(
            (F.col("gpos") / sub).cast("int").alias("block"),
            F.pmod(F.col("gpos"), F.lit(sub)).cast("int").alias("pos"),
            F.element_at(
                F.col("__cells"), ((F.col("gpos") / sub).cast("int") + 1)
            ).alias("cell"),
            F.col("x"),
        )
        means = (
            exploded.groupBy("block", "cell", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 9).alias("mn"))
            .collect()
        )
        upd: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            upd.setdefault((r["block"], r["cell"]), {})[r["pos"]] = r["mn"]
        for b in range(m):
            books[b] = [
                [upd[(b, j)][p] for p in sorted(upd[(b, j)])]
                if (b, j) in upd
                else books[b][j]
                for j in range(k)
            ]
    return books


def pq_encode(
    corpus: DataFrame,
    dim: int = 64,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ-encode every vector: one row per vector with ``m`` code
    columns (c0..c{m-1}), each the argmax-cosine codeword of that
    block's codebook.

    Scale story: after training (m narrow kmeans passes), encoding is
    a ZERO-shuffle projection — the codebooks are literal arrays, so
    all m argmaxes fold into one whole-stage-codegen'd select over the
    scan. 100 TB of embeddings encode in one map pass; the 64-dim
    float vector (256 B) compresses to m bytes, which is what makes
    billion-scale ANN indexes RAM-resident (IVFADC).
    """
    sub = dim // m
    if books is None:
        books = pq_train(corpus, dim, m, ksub, iters)
    v = F.col("embedding").cast("array<double>")
    cols = [F.col("vec_id")]
    for b, cents in enumerate(books):
        bv = F.slice(v, b * sub + 1, sub)
        cols.append(argmax_cosine_cell(bv, cents).alias(f"c{b}"))
    return corpus.select(*cols)


def pq_adc_top1(
    corpus: DataFrame,
    dim: int = 64,
    m: int = 4,
    ksub: int = 4,
    iters: int = 2,
    n_queries: int = 5,
    max_scan_rows: int | None = 1_000_000,
) -> DataFrame:
    """PQ asymmetric-distance search (the ADC of IVFADC, Jegou et al.
    2011): base vectors live only as m codes; each query scores a
    candidate by summing, per block, the inner product between the
    query sub-vector and the candidate's CODEWORD (codebook lookup) —
    the query side stays exact, the base side is quantized, and the
    scan never touches the original base vectors.

    **Exact-recall oracle twin ONLY.** This is the FLAT scan: every
    query scores every code — O(n·q) rows through the top-k window.
    The scale path is ``ivfadc_topk`` below, which prepends the IVF
    coarse quantizer so each query probes only ``nprobe`` cells via a
    broadcast equi-join on the cell id. ``max_scan_rows`` is the same
    fail-fast fence as ``brute_force_topk``'s: one cheap bounded
    count instead of a cluster-melting full scan when someone grabs
    the flat form at 100 TB. Pass None to bypass for tests.

    Scale story: scoring is a zero-shuffle projection — codebooks are
    literal arrays, so each block's contribution is one element_at
    over a literal array-of-arrays indexed by the stored code, and
    the query set broadcasts. At billion-vector scale this is the
    reason PQ exists: the scored table is m bytes/vector wide. The
    only shuffle is the final per-query top-k window over candidates.

    Output: one row per query — (query_id, neighbor_id, adc_score),
    neighbor = argmax rounded score, ties to the smaller id, self
    excluded.
    """
    if max_scan_rows is not None:
        n_c = corpus.select("vec_id").limit(max_scan_rows + 1).count()
        if n_c > max_scan_rows:
            raise ValueError(
                f"pq_adc_top1: corpus has >{max_scan_rows} rows; the flat "
                "ADC scan scores every code per query — use ivfadc_topk "
                "(IVF-probed candidates) at scale, or raise max_scan_rows "
                "explicitly"
            )
    sub = dim // m
    books = pq_train(corpus, dim, m, ksub, iters)
    enc = pq_encode(
        corpus, dim, m, ksub, iters, books=books
    )
    queries = (
        corpus.orderBy("vec_id")
        .limit(n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("__qv"),
        )
    )
    score = None
    for b, cents in enumerate(books):
        book_lit = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
        qb = F.slice(F.col("__qv"), b * sub + 1, sub)
        term = dot(qb, F.element_at(book_lit, F.col(f"c{b}") + 1))
        score = term if score is None else score + term
    scored = (
        enc.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc_score", F.round(score, 12))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("vec_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_score")
    )


def ivfadc_topk(
    corpus: DataFrame,
    dim: int = 64,
    m: int = 4,
    ksub: int = 4,
    kc: int = 6,
    iters: int = 2,
    nprobe: int = 2,
    n_queries: int = 5,
    k: int = 1,
) -> DataFrame:
    """True IVFADC (Jegou et al. 2011 §IV): the composition of the
    coarse quantizer and ADC that ``pq_adc_top1`` lacks — instead of
    scanning every code per query (flat ADC's per-query full pass),
    base vectors are assigned ONCE to ``kc`` coarse k-means cells and
    each query scores only the candidates in its ``nprobe`` nearest
    cells.

    Plan shape (the point of the exercise):

    - index build = ONE zero-shuffle projection over the corpus scan —
      the coarse cell (argmax over literal centroids) and the m PQ
      codes fold into the same whole-stage-codegen'd select; training
      (kc-means + m sub-kmeans) is the documented Lloyd shape.
    - probing is per-QUERY work on a tiny broadcast side: each query
      expands to ``nprobe`` (query, cell) rows.
    - candidate generation is a broadcast EQUI-join on ``cell`` — a
      BroadcastHashJoin, not the flat scan's
      BroadcastNestedLoopJoin Cross.  Per-query scored rows drop from
      n to ~nprobe*n/kc; at billion-vector scale with kc~2^16 and
      nprobe~32 that is the ~2000x candidate cut that makes ADC
      serviceable (recall traded via nprobe, exactly the paper's
      knob).
    - ADC scoring stays a zero-shuffle projection (literal codebooks,
      element_at by stored code); the only shuffle after the join is
      the per-query top-k window, and WindowGroupLimit prunes it.

    This spherical variant quantizes raw vectors per block (not the
    residual r = x - centroid of the paper's L2 formulation) so the
    exact-recall twin ``pq_adc_top1`` remains its oracle on any query
    whose true neighbor lands in a probed cell.

    Output: (query_id, neighbor_id, adc_score, rank), rank <= k, ties
    to the smaller neighbor id, self excluded.
    """
    sub = dim // m
    _, coarse = kmeans_lloyd(corpus, k=kc, iters=iters)
    books = pq_train(corpus, dim, m, ksub, iters)

    # index build: coarse cell + m codes in ONE projection
    v = F.col("embedding").cast("array<double>")
    enc_cols = [
        F.col("vec_id"),
        argmax_cosine_cell(v, coarse).alias("cell"),
    ]
    for b, cents in enumerate(books):
        bv = F.slice(v, b * sub + 1, sub)
        enc_cols.append(argmax_cosine_cell(bv, cents).alias(f"c{b}"))
    enc = corpus.select(*enc_cols)

    # queries probe their nprobe nearest coarse cells (tiny side):
    # reverse(array_sort) of (sim, -cell) structs = sim DESC, cell ASC
    queries = (
        corpus.orderBy("vec_id")
        .limit(n_queries)
        .select(F.col("vec_id").alias("query_id"), v.alias("__qv"))
    )
    cell_sims = F.array(
        *[
            F.struct(
                F.round(
                    cosine(F.col("__qv"), F.array(*[F.lit(x) for x in c])), 12
                ).alias("s"),
                F.lit(-j).alias("nc"),
            )
            for j, c in enumerate(coarse)
        ]
    )
    probes = queries.withColumn(
        "cell",
        F.explode(
            F.transform(
                F.slice(F.reverse(F.array_sort(cell_sims)), 1, nprobe),
                lambda e: (-e["nc"]).cast("int"),
            )
        ),
    )

    # candidate generation: broadcast equi-join on cell
    score = None
    for b, cents in enumerate(books):
        book_lit = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
        qb = F.slice(F.col("__qv"), b * sub + 1, sub)
        term = dot(qb, F.element_at(book_lit, F.col(f"c{b}") + 1))
        score = term if score is None else score + term
    scored = (
        enc.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("adc_score", F.round(score, 12))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("adc_score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "adc_score", "rank"
        )
    )
