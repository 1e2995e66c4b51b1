"""Similarity search over embedding columns: LSH-bucketed ANN + near-dup.

The brute-force baseline (gate ``sim_cosine_topk``) is O(|queries| x n);
this module is the scale path: random-hyperplane LSH assigns each vector
a small bucket id, and both top-k search and near-dup pairing become
equi-joins on the bucket — the same shape that keeps MinHash-LSH linear
(gate ``dd_lsh_verified_pairs``).  At 100 TB the bucket column is
computed once at ingest (narrow projection, no shuffle), the table is
clustered by bucket, and every probe touches one bucket's partitions.

Determinism contract (so a DuckDB oracle can replay it bit-for-bit):

- hyperplanes are pseudo-random +-1 vectors derived from
  ``md5(plane || '_' || dim)`` — no RNG state, same on any engine;
- the hyperplane dot product runs on embeddings quantized to integers
  (``floor(x * 1000)``), so the bucket bit is exact integer arithmetic —
  float summation order can never flip a sign at the boundary;
- cosine is computed in double in index order (``zip_with``/``list_zip``
  both fold left-to-right), rounded to 6 dp, ties broken by vec_id.

Everything is JVM-side Catalyst higher-order functions — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: portable 60-bit md5 hash (same value via ('0x'||substr(md5(x),1,15))::BIGINT)
_H = "cast(conv(substr(md5({x}), 1, 15), 16, 10) as bigint)"


def hyperplane_signs(
    n_planes: int, dim: int, plane_offset: int = 0
) -> list[list[int]]:
    """The +-1 hyperplane matrix, derived from md5 parity of (plane, dim).

    Computed ONCE driver-side (hashlib.md5 == SQL md5) and embedded as a
    literal in the bucket expression — recomputing 512 md5s per ROW kept
    the old expression ~10x slower; a DuckDB oracle replays the same
    parity in SQL and lands on identical signs.  ``plane_offset`` selects
    a disjoint slice of the hash family — band b of a multi-band scheme
    uses planes [b*n_planes, (b+1)*n_planes), statistically independent
    of every other band's.
    """
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:15], 16) % 2 else -1
            for d in range(dim)
        ]
        for p in range(plane_offset, plane_offset + n_planes)
    ]


def hyperplane_bucket_expr(
    emb: str = "embedding", n_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Bucket id in [0, 2^n_planes): bit p = sign of the dot product with
    pseudo-random hyperplane ``plane_offset + p``.  The dot runs on
    integer-quantized components (floor(x*1000)) so the sign is exact on
    any engine."""
    signs = hyperplane_signs(n_planes, dim, plane_offset)
    signs_lit = (
        "array("
        + ",".join("array(" + ",".join(f"{v}L" for v in row) + ")" for row in signs)
        + ")"
    )
    dot = (
        f"aggregate(sequence(0, size({emb}) - 1), 0L,"
        f" (a, d) -> a + cast(floor(cast({emb}[d] as double) * 1000) as bigint)"
        f" * element_at(element_at({signs_lit}, p + 1), d + 1))"
    )
    return F.expr(
        f"aggregate(sequence(0, {n_planes - 1}), 0L,"
        f" (acc, p) -> acc + case when ({dot}) > 0 then shiftleft(1L, p) else 0L end)"
    )


def with_lsh_buckets(
    df: DataFrame, emb: str = "embedding", n_planes: int = 8, dim: int = 64
) -> DataFrame:
    return df.withColumn("bucket", hyperplane_bucket_expr(emb, n_planes, dim))


def cosine_expr(a: str, b: str, dp: int = 6) -> Column:
    """Rounded cosine similarity of two array<float> columns (double math,
    index-ordered fold)."""
    dot = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )
    norm = "sqrt(aggregate(transform({e}, x -> cast(x as double) * cast(x as double)), 0D, (acc, v) -> acc + v))"
    return F.round(
        F.expr(dot) / (F.expr(norm.format(e=a)) * F.expr(norm.format(e=b))), dp
    )


def norm_sq_expr(e: str = "embedding") -> Column:
    """Sum of squared components (double math, index-ordered fold) — the
    SAME fold ``cosine_expr`` runs under its sqrt, exposed so pair joins
    can precompute it per VECTOR instead of per PAIR."""
    return F.expr(
        f"aggregate(transform({e}, x -> cast(x as double) * cast(x as double)),"
        " 0D, (acc, v) -> acc + v)"
    )


def cosine_from_parts(a: str, b: str, nsq_a: str, nsq_b: str, dp: int = 6) -> Column:
    """``cosine_expr`` with the norm folds hoisted: identical operation
    tree (dot / (sqrt(ssq_a) * sqrt(ssq_b)), then round), so the result
    is BIT-IDENTICAL to ``cosine_expr`` — but each vector's squared norm
    is computed once per row instead of once per candidate pair, which
    is ~3x on the pair-scoring stage (the norms are 2 of the 3 in-row
    array folds)."""
    dot = (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )
    return F.round(
        F.expr(dot) / (F.sqrt(F.col(nsq_a)) * F.sqrt(F.col(nsq_b))), dp
    )


def ann_topk_lsh(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.

    ``emb``: (vec_id, embedding); ``queries``: same schema, small (broadcast).
    Returns (q_id, vec_id, cosine_sim).  Recall is bounded by bucket
    collisions — the standard trade; multi-probe = union over neighboring
    buckets if needed.
    """
    c = with_lsh_buckets(emb, n_planes=n_planes, dim=dim).select(
        "vec_id", F.col("embedding").alias("c_emb"), "bucket"
    )
    q = with_lsh_buckets(queries, n_planes=n_planes, dim=dim).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    sims = (
        c.join(F.broadcast(q), (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")))
        .withColumn("cosine_sim", cosine_expr("q_emb", "c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine_sim")
    )


def lsh_probe_buckets_expr(
    emb: str = "embedding", n_planes: int = 8, dim: int = 64, n_probe: int = 2
) -> Column:
    """array<bigint> of ``n_probe`` bucket ids to probe for one vector:
    its exact bucket plus the buckets reached by flipping the
    ``n_probe - 1`` LOWEST-MARGIN bits (the planes whose integer dot
    product is closest to zero — the standard multi-probe LSH heuristic:
    a near neighbor most likely lands just across the weakest plane).

    Margins are exact integer dots (same quantization as the bucket), so
    the probe set is deterministic on any engine; ties break on the
    plane index.  Query-side only — the candidate table keeps ONE bucket
    per vector, so each (query, candidate) pair matches at most one
    probe and needs no dedup.
    """
    signs = hyperplane_signs(n_planes, dim)
    signs_lit = (
        "array("
        + ",".join("array(" + ",".join(f"{v}L" for v in row) + ")" for row in signs)
        + ")"
    )
    dot = (
        f"aggregate(sequence(0, size({emb}) - 1), 0L,"
        f" (a, d) -> a + cast(floor(cast({emb}[d] as double) * 1000) as bigint)"
        f" * element_at(element_at({signs_lit}, p + 1), d + 1))"
    )
    dots = f"transform(sequence(0, {n_planes - 1}), p -> struct(({dot}) as s, p as p))"
    bucket = (
        f"aggregate({dots}, 0L,"
        " (acc, x) -> acc + if(x.s > 0, shiftleft(1L, x.p), 0L))"
    )
    flips = (
        f"slice(array_sort(transform({dots},"
        f" x -> struct(abs(x.s) as a, x.p as p))), 1, {n_probe - 1})"
    )
    return F.expr(
        f"concat(array({bucket}),"
        f" transform({flips}, f -> ({bucket}) ^ shiftleft(1L, f.p)))"
    )


def ann_topk_lsh_multiprobe(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    n_probe: int = 2,
) -> DataFrame:
    """Multi-probe variant of ``ann_topk_lsh``: each query probes its own
    bucket plus the ``n_probe - 1`` neighboring buckets across its
    weakest hyperplanes, recovering the recall a single bucket loses at
    the boundary.  Cost scales with ``n_probe`` on the (small, broadcast)
    query side only — the candidate table is still hit by equi-join."""
    c = with_lsh_buckets(emb, n_planes=n_planes, dim=dim).select(
        "vec_id", F.col("embedding").alias("c_emb"), "bucket"
    )
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(
            lsh_probe_buckets_expr("embedding", n_planes, dim, n_probe)
        ).alias("q_bucket"),
    )
    sims = (
        c.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .withColumn("cosine_sim", cosine_expr("q_emb", "c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine_sim")
    )


def ann_recall_at_k(ann: DataFrame, truth: DataFrame, k: int) -> DataFrame:
    """(q_id, n_hit, recall): fraction of the exact top-k recovered by the
    ANN result.  ``truth`` must be the brute-force (q_id, vec_id) top-k.

    ``k`` is enforced, not decorative: a truth frame whose per-query group
    size differs from ``k`` would silently produce a recall@<something-
    else> labeled recall@k, so the denominator raises (JVM-side, lazily,
    no extra job) on the first mismatched group.
    """
    t = truth.select("q_id", "vec_id")
    hits = (
        t.join(ann.select("q_id", "vec_id"), ["q_id", "vec_id"], "leftsemi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    checked_denom = F.when(F.col("n_true") == F.lit(k), F.col("n_true")).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"ann_recall_at_k: truth group size != k={k} for q_id="),
                F.col("q_id").cast("string"),
            )
        )
    )
    return (
        t.groupBy("q_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(
                F.coalesce("n_hit", F.lit(0)) / checked_denom, 6
            ).alias("recall"),
        )
    )


def bucket_rows(
    emb: DataFrame, n_planes: int = 8, dim: int = 64, n_bands: int = 1
) -> DataFrame:
    """(vec_id, embedding, band, bucket): each vector's LSH bucket per
    band — a narrow per-row projection (no shuffle), the frame a
    warehouse persists at ingest as the embedding near-dup index."""
    bucket_cols = [
        hyperplane_bucket_expr("embedding", n_planes, dim, plane_offset=band * n_planes)
        for band in range(n_bands)
    ]
    return emb.select(
        "vec_id",
        "embedding",
        F.posexplode(F.array(*bucket_cols)).alias("band", "bucket"),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.3,
    n_planes: int = 8,
    dim: int = 64,
    n_bands: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucket pre-filtered.

    Only pairs that collide in a bucket are scored (the linear-cost scale
    shape); the exact cosine then gates on ``threshold``.  With real
    near-duplicate corpora the threshold is ~0.95; the synthetic testdata
    is near-orthogonal so gates exercise the path at a lower cut.

    SCALE KNOBS: expected candidate pairs ~ n_bands * n^2 / 2^n_planes,
    so ``n_planes`` must GROW with the corpus (more planes = exponentially
    more buckets = a smaller quadratic term) — and since each extra plane
    also halves per-pair collision probability, ``n_bands`` restores
    recall the standard LSH way: b independent bands of r planes each,
    candidates = union over bands (P[candidate] = 1-(1-p^r)^b).  The
    default 1x8 matches the small-corpus gate oracle; a 100 TB corpus
    wants something like 4 bands x 16 planes.
    """
    # Materialize the bucketed table once: the self-join would otherwise
    # evaluate the per-band 512-term hyperplane folds on BOTH sides
    # (measured 2.7x at sf0.1). At warehouse scale the (band, bucket)
    # columns are persisted at ingest (operators/incremental.py's
    # embedding index does exactly that); cache() is the same
    # compute-once decision for the ad-hoc path.
    # _nsq rides the cached bucket table: each vector's squared norm is
    # computed once at materialization, so the per-pair cosine pays only
    # the dot fold (cosine_from_parts — bit-identical to cosine_expr)
    b = (
        bucket_rows(emb, n_planes, dim, n_bands)
        .withColumn("_nsq", norm_sq_expr("embedding"))
        .cache()
    )
    a = b.alias("a")
    c = b.alias("b")
    collide = (
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    if n_bands > 1:
        # the same pair can collide in several bands — dedup BEFORE the
        # cosine so each candidate is scored once.  The dedup shuffles
        # IDS ONLY (two longs per row, not two full embedding arrays);
        # the vectors are re-fetched from the cached bucketed table
        # afterwards, so the wide arrays move once per surviving pair
        # instead of once per (pair x colliding band).
        cand_ids = (
            a.join(c, collide)
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
            )
            .dropDuplicates(["vec_a", "vec_b"])
        )
        vecs = b.select("vec_id", "embedding", "_nsq").dropDuplicates(["vec_id"])
        pairs = (
            cand_ids.join(vecs.alias("va"), F.col("vec_a") == F.col("va.vec_id"))
            .join(vecs.alias("vb"), F.col("vec_b") == F.col("vb.vec_id"))
            .select(
                "vec_a",
                "vec_b",
                F.col("va.embedding").alias("emb_a"),
                F.col("vb.embedding").alias("emb_b"),
                F.col("va._nsq").alias("nsq_a"),
                F.col("vb._nsq").alias("nsq_b"),
            )
        )
    else:
        # single band: no dedup shuffle exists, so carrying the vectors
        # straight out of the self-join is the cheaper path
        pairs = a.join(c, collide).select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("emb_a"),
            F.col("b.embedding").alias("emb_b"),
            F.col("a._nsq").alias("nsq_a"),
            F.col("b._nsq").alias("nsq_b"),
        )
    return (
        pairs.select(
            "vec_a",
            "vec_b",
            cosine_from_parts("emb_a", "emb_b", "nsq_a", "nsq_b").alias(
                "cosine_sim"
            ),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def quantized_expr(emb: str = "embedding") -> Column:
    """array<bigint> of floor(component * 1000) — the integer quantization
    both the LSH and IVF coarse steps rank on, so cell/bucket assignment is
    exact integer math on any engine (float fold order can never flip it)."""
    return F.expr(
        f"transform({emb}, x -> cast(floor(cast(x as double) * 1000) as bigint))"
    )


def _cents_row(cent: DataFrame) -> DataFrame:
    """Fold the (cell_id, cq) codebook into ONE row holding a sorted array —
    broadcast-joined onto the vector table so scoring needs no shuffle and
    no n_cells-fold row blow-up."""
    return cent.agg(F.array_sort(F.collect_list(F.struct("cell_id", "cq"))).alias("cents"))


#: per-row scores against every centroid: array<struct<dot bigint, cell bigint>>
_SCORES = (
    "transform(cents, c -> struct("
    "aggregate(zip_with(q, c.cq, (x, y) -> x * y), 0L, (a, v) -> a + v) as dot,"
    " c.cell_id as cell))"
)


def assign_cells(
    vq: DataFrame, cent: DataFrame, keep: tuple[str, ...] = ()
) -> DataFrame:
    """(vec_id, *keep, cell_id): nearest-centroid assignment as a PURE MAP.

    ``vq`` must carry the quantized vector as column ``q``.  The argmax
    (tie -> lowest cell, matching ORDER BY dot DESC, cell_id) folds over
    the in-row score array — zero shuffle, no window, no per-centroid row
    explosion; the only exchange anywhere is the 16-row codebook fold.
    ``keep`` carries extra columns through (e.g. ``q`` itself, so callers
    never need to join the assignment back to the vectors)."""
    best = (
        f"aggregate({_SCORES},"
        " struct(cast(-9223372036854775807 as bigint) as dot, cast(-1 as bigint) as cell),"
        " (b, s) -> if(s.dot > b.dot, s, b)).cell"
    )
    return vq.crossJoin(F.broadcast(_cents_row(cent))).select(
        "vec_id", *keep, F.expr(best).alias("cell_id")
    )


def probe_cells(vq: DataFrame, cent: DataFrame, n_probe: int) -> DataFrame:
    """(vec_id, cell_id): each vector's top ``n_probe`` cells, ranked by
    (dot DESC, cell ASC) via an in-row sort of the score array — same
    zero-shuffle shape as ``assign_cells``."""
    ranked = (
        f"slice(array_sort(transform({_SCORES},"
        f" s -> struct(-s.dot as ndot, s.cell as cell))), 1, {n_probe})"
    )
    return (
        vq.crossJoin(F.broadcast(_cents_row(cent)))
        .select("vec_id", F.explode(F.expr(ranked)).alias("s"))
        .select("vec_id", F.col("s.cell").alias("cell_id"))
    )


def ann_topk_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-flat ANN: coarse quantizer -> probe n cells -> exact re-rank.

    ``centroids``: an optional trained codebook (cell_id, cq array<bigint>)
    — pass ``train_ivf_centroids(emb)[0]`` for the full train -> index ->
    search composition (tests/test_similarity_kmeans.py pins it).  Default
    is the seed vectors ``vec_id < n_cells`` (deterministic zero-training
    quantizer, what the sim_ann_ivf_topk gate oracles); the query-path
    plan is identical either way.  Every vector is assigned
    to the centroid maximizing the integer-quantized inner product
    (tie-break: lowest cell id); a query probes its ``n_probe`` best cells
    and re-ranks candidates by exact double cosine.

    The 100 TB shape: ``cell_id`` is computed once at ingest (narrow, no
    shuffle), the table is partitioned/clustered by cell, and each probe
    reads ``n_probe``/``n_cells`` of the data instead of all of it.  The
    brute-force baseline is gate ``sim_cosine_topk``; the hyperplane
    alternative is ``ann_topk_lsh``.
    """
    cent = centroids
    if cent is None:
        cent = (
            emb.filter(F.col("vec_id") < n_cells)
            .select(F.col("vec_id").alias("cell_id"), quantized_expr().alias("cq"))
        )
    vq = emb.select("vec_id", quantized_expr().alias("q"))
    assign = assign_cells(vq, cent)
    probe = probe_cells(
        queries.select("vec_id", quantized_expr().alias("q")), cent, n_probe
    ).withColumnRenamed("vec_id", "q_id")
    q_emb = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c_emb = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    sims = (
        F.broadcast(probe)
        .join(assign, "cell_id")
        .filter(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(q_emb), "q_id")
        .join(c_emb, "vec_id")
        .withColumn("cosine_sim", cosine_expr("q_emb", "c_emb"))
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine_sim")
    )


def train_ivf_centroids(
    emb: DataFrame, n_cells: int = 16, iters: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means over integer-quantized vectors — the IVF codebook
    trainer behind ``ann_topk_ivf``'s coarse quantizer.

    Returns ``(centroids, assignment)``: ``centroids`` is
    (cell_id, cq array<bigint>), ``assignment`` is (vec_id, cell_id) for
    the final iteration.

    Every step is exact integer arithmetic, so the result is bit-stable
    under any partitioning or execution order (float means would drift
    with partition-combine order):

    - init: seed centroids = quantized vectors with ``vec_id < n_cells``;
    - assign: argmax integer dot product, ties to the lowest cell;
    - update: per-dimension floor(sum/count) over members (sums of
      quantized components stay far below 2^53, so the double division
      inside ``floor`` is exact).

    Scale shape per iteration: assignment is a pure map (in-row argmax
    against the broadcast codebook — no window, no join-back, because
    ``assign_cells`` carries ``q`` through); the update is one shuffle
    keyed (cell_id, dim) with map-side partial sums — 16x64 groups
    regardless of corpus size — and a 16-row fold into the next
    broadcast.  Cells that lose all members drop out (their bucket
    simply stops matching).  Although genuinely iterative, the gate is
    FULLY value-oracled: the fixed 2-iteration training unrolls into two
    DuckDB CTE rounds (gate/llm.py sim_ivf_train_kmeans) — the integer
    math replays bit-for-bit — and tests additionally pin exact values
    against an independent NumPy replica.
    """
    vq = emb.select("vec_id", quantized_expr().alias("q"))
    cent = vq.filter(F.col("vec_id") < n_cells).select(
        F.col("vec_id").alias("cell_id"), F.col("q").alias("cq")
    )
    assign = None
    for _ in range(iters):
        assigned = assign_cells(vq, cent, keep=("q",))
        assign = assigned.select("vec_id", "cell_id")
        sums = (
            assigned.select("cell_id", F.posexplode("q").alias("d", "v"))
            .groupBy("cell_id", "d")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        )
        cent = (
            sums.withColumn("c", F.floor(F.col("s") / F.col("n")).cast("bigint"))
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("d", "c"))).alias("dc"))
            .select("cell_id", F.expr("transform(dc, x -> x.c)").alias("cq"))
        )
    return cent, assign


def ivf_codebook_stats(emb: DataFrame, n_cells: int = 16, iters: int = 2) -> DataFrame:
    """(cell_id, n_members, centroid_checksum): trained-codebook summary —
    the deterministic, hashable face of ``train_ivf_centroids``."""
    cent, assign = train_ivf_centroids(emb, n_cells=n_cells, iters=iters)
    sizes = assign.groupBy("cell_id").agg(F.count("*").alias("n_members"))
    checks = cent.select(
        "cell_id",
        F.expr("aggregate(cq, 0L, (a, v) -> a + v)").alias("centroid_checksum"),
    )
    return sizes.join(checks, "cell_id").select(
        "cell_id", "n_members", "centroid_checksum"
    )


def _cell_pairs(assign: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cosine_sim): within-cell cosine pairs at or above
    ``threshold`` over an assignment frame carrying (vec_id, cell_id,
    embedding) — the cell-scoped self-join both SemDeDup entry points
    share.  Quadratic only WITHIN a cell; ``n_cells`` bounds cell size."""
    sided = assign.withColumn("_nsq", norm_sq_expr("embedding"))
    a = sided.alias("a")
    b = sided.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine_from_parts(
                "a.embedding", "b.embedding", "a._nsq", "b._nsq"
            ).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_near_dup_pairs(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    n_cells: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    target_cell_size: int | None = None,
    train_cap: int | None = None,
) -> DataFrame:
    """(vec_a, vec_b, cosine_sim): the SemDeDup candidate-pair set —
    k-means-cell-scoped exact cosine at or above ``threshold`` (Abbas et
    al. 2023).  The pair-generation half of ``semantic_dedup``, exposed
    so pipelines (and the driver gate) can compare it side-by-side with
    the hyperplane-bucket path (``embedding_near_dup_pairs``): both turn
    the O(n^2) cosine problem into a partition-scoped self-join, one via
    random-hyperplane buckets, one via trained k-means cells.

    THE SCALE KNOBS (the 10x smoke flagged the fixed-16-cell version at
    a quadratic 10.2x for 10x data — cells MUST grow with the corpus,
    which is the paper's own stance: ~11k clusters at web scale):

    - ``target_cell_size``: derive ``n_cells = max(n_cells, n_vec //
      target_cell_size)`` from one count() job, holding expected cell
      population (hence per-vector join fan-out) CONSTANT as the corpus
      grows — the pair join becomes linear in n;
    - ``train_cap``: fit the codebook on a deterministic md5-bucket
      sample of at most ~this many vectors (Lloyd iterations over a
      bounded frame instead of the corpus), then assign everything —
      standard k-means-on-a-sample.  Corpora at or below the cap train
      on every vector, so small-corpus results (and the driver oracle)
      are bit-identical to unsampled training.

    Remaining scale shape: codebook training is the bounded (cell, dim)
    shuffle of ``train_ivf_centroids``; assignment is a zero-shuffle
    broadcast-codebook map (in-row argmax — its cost is n x n_cells,
    the term to watch if cells grow very large); the self-join is keyed
    by cell_id."""
    if centroids is None:
        train_src = emb
        if target_cell_size is not None or train_cap is not None:
            n_vec = emb.count()
            if target_cell_size is not None:
                n_cells = max(n_cells, n_vec // target_cell_size)
            if train_cap is not None and n_vec > train_cap:
                frac_bp = min(10_000, round(10_000 * train_cap / n_vec))
                bucket = F.expr(
                    "pmod(cast(conv(substr(md5(concat('kmsmp|',"
                    " cast(vec_id as string))), 1, 15), 16, 10) as bigint),"
                    " 10000)"
                )
                # the seed vectors (vec_id < n_cells) MUST survive the
                # sample — train_ivf_centroids initializes from them, and
                # a sample that drops most of them would collapse the
                # codebook to a handful of live cells
                train_src = emb.filter(
                    (bucket < F.lit(frac_bp)) | (F.col("vec_id") < n_cells)
                )
        centroids, _ = train_ivf_centroids(train_src, n_cells=n_cells, iters=iters)
        # both sides of the cell self-join reference the assignment;
        # without this the WHOLE training DAG (2 Lloyd shuffles) would
        # execute once per side.  The codebook is n_cells rows —
        # materializing it costs nothing and is GC-reclaimed.
        centroids = centroids.localCheckpoint(eager=True)
    assign = assign_cells(
        emb.select("vec_id", "embedding", quantized_expr("embedding").alias("q")),
        centroids,
        keep=("embedding",),
    )
    return _cell_pairs(assign, threshold)


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame | None = None,
    n_cells: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    max_iter: int = 20,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): k-means-cluster the embedding space, score cosine
    similarity ONLY within each cluster, and keep one representative of
    every semantic-duplicate group.

    Output: (vec_id, cell_id, keep) for every input vector — ``keep`` is
    false for all but the minimum-id member of each duplicate group
    (deterministic engine-independent choice; the paper keeps the member
    farthest from the centroid, an arbitrary-but-fixed policy either
    way).  Duplicate groups are the connected components of the
    within-cell threshold graph, so transitive near-dups collapse to one
    survivor like the text-side ``dup_clusters``.

    Scale shape: assignment is the zero-shuffle broadcast-codebook map
    (``assign_cells``); the pairwise score is a self-join keyed by
    ``cell_id`` — quadratic only WITHIN a cell, which is the whole point
    of the clustering, and ``n_cells`` is the knob that bounds cell size
    (the paper uses ~11k clusters at web scale; grow it with the
    corpus).  A pathologically hot cell shows up as one oversized join
    partition — re-train with more cells or pre-split on an extra
    hash.
    """
    from jobcan_data_integrator_spark.operators.dedup import dup_clusters

    if centroids is None:
        centroids, _ = train_ivf_centroids(emb, n_cells=n_cells, iters=iters)
    assign = assign_cells(
        emb.select("vec_id", "embedding", quantized_expr("embedding").alias("q")),
        centroids,
        keep=("embedding",),
    ).cache()
    pairs = _cell_pairs(assign, threshold).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        "cosine_sim",
    )
    try:
        # dup_clusters is EAGER and fully materializes its labels off the
        # pair join, so the cache can be dropped before returning — the
        # final id+cell projection recomputes from source (one cheap
        # narrow pass) instead of pinning the vectors in executor storage
        cc = dup_clusters(pairs, max_iter=max_iter)
    finally:
        assign.unpersist()
    return (
        assign.select("vec_id", "cell_id")
        .join(cc.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            "cell_id",
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )
