"""Vector similarity operators over an ``array<float>`` embedding column.

Design for 100 TB:
* All element math stays JVM-side — ``zip_with``/``aggregate`` higher-order
  functions inside whole-stage codegen; no Python UDF in the hot path.
* The dot product is an explicit sequential left-to-right fold in DOUBLE,
  so results are bit-deterministic and reproducible across engines and
  partitionings (each per-row fold sees the same operand order).
* Brute-force top-k is the correctness baseline: |Q| x |C| pairs.  The
  scale path is ``sign_lsh_bucket`` — axis-aligned random-hyperplane LSH:
  candidates only meet within a bucket, turning the cross join into a
  bucket-keyed equi-join (shuffle on bucket, linear in bucket sizes).
  Skewed buckets are handled by AQE skew-join splitting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in DOUBLE (bit-deterministic)."""
    products = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(products, F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, norm_a: Column | None = None, norm_b: Column | None = None) -> Column:
    na = l2_norm(a) if norm_a is None else norm_a
    nb = l2_norm(b) if norm_b is None else norm_b
    return dot(a, b) / (na * nb)


def sign_lsh_bucket(a: Column, n_bits: int = 8) -> Column:
    """Axis-aligned hyperplane LSH: the sign pattern of the first
    ``n_bits`` dimensions as a bucket id string.  Two vectors with high
    cosine similarity agree on most signs, so near-neighbors collide with
    high probability; at scale this is the pre-filter before exact
    re-scoring."""
    bits = [F.when(a[i] >= 0, F.lit("1")).otherwise(F.lit("0")) for i in range(n_bits)]
    return F.concat(*bits)


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: every query scored against every candidate.

    Output: (query_id, neighbor_id, cos_sim, rk).  Deterministic: rank
    orders by (cos_sim DESC, neighbor_id ASC).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    pairs = q.crossJoin(F.broadcast(c)).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", F.col("rk").cast("int").alias("rk"))
    )


def lsh_bucket_histogram(
    vectors: DataFrame, n_bits: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Bucket occupancy of the sign-LSH partitioning — the planning view
    for the bucketed ANN join (bucket sizes bound the join cost)."""
    return (
        vectors.select(
            F.col(id_col), sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min(id_col).alias("min_vec_id"),
            F.max(id_col).alias("max_vec_id"),
        )
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n_probes: int = 1,
) -> DataFrame:
    """IVF coarse quantizer: assign every vector to its ``n_probes``
    nearest centroids (highest cosine; ties -> lowest centroid id).
    Storage uses n_probes=1 (a vector lives in ONE cell); queries may
    use n_probes>1 to widen the search — the recall lever.

    The centroid set is tiny (k ~ sqrt(N) cells, kept well under the
    broadcast threshold), so scoring is a broadcast nested-loop over k
    candidates per row.  The n_probes=1 argmax is a MAP-SIDE-COMBINABLE
    ``min(struct(neg_sim, cell, vec, nrm))`` aggregate — exactly the
    (cosine DESC, cell ASC) tie rule, with the payload columns riding
    the struct (they can never influence the winner: (neg, cell) is
    unique per group).  The k scored copies of a row are born in ONE
    map task, so the partial aggregate collapses k -> 1 before the
    exchange: the shuffle carries N rows, not N*k, and nothing is ever
    sorted — the row_number-window alternative shuffles AND sorts all
    N*k rows on every assignment pass (every IVF query, every k-means
    iteration, every storage-partitioning job).  n_probes>1 (query-side
    only; the probe set is small) keeps the per-vector top-p window.
    Output: (id, vec, norm, cell), one row per probed cell.
    """
    c = centroids.select(
        F.col(centroid_id_col).alias("cell"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("nrm"),
    )
    neg = -(
        dot(F.col("vec"), F.col("c_vec")) / (F.col("nrm") * F.col("c_norm"))
    )
    if n_probes == 1:
        scored = v.crossJoin(F.broadcast(c)).select(
            "vid",
            F.struct(
                neg.alias("neg"),
                F.col("cell").alias("cell"),
                F.col("vec").alias("vec"),
                F.col("nrm").alias("nrm"),
            ).alias("sc"),
        )
        return (
            scored.groupBy("vid")
            .agg(F.min("sc").alias("b"))
            .select(
                "vid",
                F.col("b.vec").alias("vec"),
                F.col("b.nrm").alias("nrm"),
                F.col("b.cell").alias("cell"),
            )
        )
    from pyspark.sql import Window

    scored = v.crossJoin(F.broadcast(c)).select(
        "vid", "vec", "nrm", "cell", (-neg).alias("c_sim")
    )
    w = Window.partitionBy("vid").orderBy(F.desc("c_sim"), F.asc("cell"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_probes)
        .select("vid", "vec", "nrm", "cell")
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    n_probes: int = 1,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``n_probes`` nearest
    centroid cells (default 1), scoring exact cosine against those
    cells' inverted lists.  Probed cells are disjoint, so no neighbor
    dedup is needed; raising n_probes multiplies probe cost by p and
    buys recall (tests pin the recall@k monotonicity).

    vs. brute force: the |Q| x |C| cross join becomes a (cell)-keyed
    equi-join — per-query work drops from N to N/k on balanced cells, and
    the shuffle key (cell) is the partitioning a 100 TB vector table would
    be *stored* in (one parquet partition per cell), so at scale the probe
    is a partition-pruned scan, not a shuffle.  Recall is traded for
    speed; raise nprobe (probe the p nearest cells) to buy recall back.

    Output: (query_id, cell, neighbor_id, cos_sim, rk).
    """
    from pyspark.sql import Window

    qa = ivf_assign(
        queries, centroids, id_col, vec_col, centroid_id_col, n_probes=n_probes
    ).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("q_vec"),
        F.col("nrm").alias("q_norm"),
        "cell",
    )
    ca = ivf_assign(candidates, centroids, id_col, vec_col, centroid_id_col).select(
        F.col("vid").alias("neighbor_id"),
        F.col("vec").alias("c_vec"),
        F.col("nrm").alias("c_norm"),
        "cell",
    )
    pairs = qa.join(ca, "cell").filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "cell",
        "neighbor_id",
        (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias(
            "cos_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cell", "neighbor_id", "cos_sim", F.col("rk").cast("int").alias("rk"))
    )


def kmeans_lloyd(
    vectors: DataFrame,
    k: int = 8,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_sample_mod: int | None = None,
) -> DataFrame:
    """Lloyd's k-means over the embedding column — the coarse-quantizer
    trainer for IVF (``ivf_topk``): returns (centroid_id, embedding)
    with centroid_id densely 0..k-1.

    Deterministic by construction: seeds are the first k vectors by id
    (no RNG), assignment ties break on lowest centroid id, and each
    update is a FIXED-POINT per-dimension mean computed distributed
    (posexplode → per-(cell, dim) exact integer sum → re-assembled
    array): each component is truncated to an integer at scale 1e-9
    (``trunc(val * 1e9)``), summed exactly in DECIMAL(38, 0)
    (order-insensitive — bit-identical across partitionings, and ~1e19
    rows of headroom per cell at 100 TB where a LONG sum would wrap),
    and the mean is one well-defined IEEE double division
    ``sum / (n * 1e9)`` — so the trained centroids are reproducible
    bit-for-bit by any engine (the DuckDB oracle replays them; a
    double ``avg`` would drift with shuffle order).  Quantization
    perturbs each mean by <1e-9, far below the coordinate scale.  Per
    iteration: one broadcast assignment pass + one aggregation whose
    output is k×dim rows — the centroids themselves live on the driver
    between iterations (k*dim floats, trivially small), which is the
    standard Spark k-means shape (same as MLlib's): the DATA never
    leaves executors, only centroids move.

    Empty cells keep their previous centroid (no respawn), so the cell
    count is stable for downstream storage partitioning.

    ``train_sample_mod=m`` trains on the deterministic ~1/m hash sample
    ``xxhash64(id) % m == 0`` — the 100 TB discipline: centroid QUALITY
    needs a representative sample, not the corpus, and every iteration's
    assignment pass costs O(rows·k·dim), so sampling cuts training m×
    while the full corpus is still assigned downstream.  Content-stable:
    the same rows train on every rerun/partitioning.  Raises if the
    sample holds fewer than k vectors.
    """
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    spark = vectors.sparkSession
    if train_sample_mod is not None and train_sample_mod > 1:
        vectors = vectors.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(train_sample_mod)) == 0
        )
    seeds = (
        vectors.orderBy(id_col)
        .limit(k)
        .select(F.col(vec_col))
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"need >= {k} training vectors, got {len(seeds)}"
            + (
                " (lower train_sample_mod to grow the sample)"
                if train_sample_mod
                else ""
            )
        )
    centroids = [
        (i, [float(x) for x in row[vec_col]]) for i, row in enumerate(seeds)
    ]
    schema = StructType(
        [
            StructField("centroid_id", LongType()),
            StructField(vec_col, ArrayType(DoubleType())),
        ]
    )
    v = vectors.select(id_col, vec_col)
    for _ in range(iterations):
        cdf = spark.createDataFrame(centroids, schema)
        assigned = ivf_assign(v, cdf, id_col=id_col, vec_col=vec_col)
        new_means = (
            assigned.select("cell", F.posexplode("vec").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(
                F.sum(
                    (F.col("val").cast("double") * F.lit(1.0e9))
                    .cast("long")
                    .cast("decimal(38,0)")
                ).alias("qs"),
                F.count("*").alias("n"),
            )
            .withColumn(
                "m",
                F.col("qs").cast("double")
                / (F.col("n").cast("double") * F.lit(1.0e9)),
            )
            .groupBy("cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("mean_vec")
            )
            .collect()
        )
        updated = dict(centroids)
        for row in new_means:
            updated[row["cell"]] = [float(x) for x in row["mean_vec"]]
        centroids = sorted(updated.items())
    return spark.createDataFrame(centroids, schema)


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    tau: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space, then inside each cluster drop every vector that has
    a SMALLER-id cluster-mate with cosine >= ``tau`` — the third dedup
    tier (exact -> fuzzy-text -> semantic) of an LLM-corpus pipeline,
    catching paraphrases and re-renders that share no n-grams.

    Determinism: the keep rule is id-ordered (the paper keeps a
    cluster-random representative; we keep the lowest id of every
    near-dup relation), each pairwise cosine is the shared sequential-
    fold dot (bit-identical across engines), and ``max`` over doubles is
    order-independent — so the verdict column is exactly replayable.
    Note the rule is per-PAIR, not transitive: c survives when
    cos(c, b) < tau even if b was itself dropped via a — documented
    SemDeDup semantics (each item is compared against all cluster
    peers, not against survivors only).

    Scale shape: assignment is the broadcast IVF pass (map-side only);
    candidate pairs meet ONLY inside a cell via a cell-keyed equi-join —
    never a global cross join — so per-cell pair cost is (N/k)^2 and k
    must grow with the corpus (SemDeDup used 50k clusters for LAION;
    size k so cells stay ~10^4).  The per-vector verdict is a map-side-
    combinable max aggregate; AQE splits skewed cells.

    Output: (vec_id, cell, max_sim_prior, kept) for EVERY input vector —
    max_sim_prior is the max cosine to any smaller-id cluster-mate
    (null for the cell's lowest id), kept = max_sim_prior is null or
    < tau.
    """
    assigned = ivf_assign(
        vectors, centroids, id_col, vec_col, centroid_id_col
    ).transform(share)
    later = assigned.select(
        F.col("vid"), F.col("vec"), F.col("nrm"), "cell"
    )
    prior = assigned.select(
        F.col("vid").alias("p_vid"),
        F.col("vec").alias("p_vec"),
        F.col("nrm").alias("p_nrm"),
        "cell",
    )
    sims = (
        later.join(prior, "cell")
        .filter(F.col("p_vid") < F.col("vid"))
        .groupBy("vid")
        .agg(
            F.max(
                dot(F.col("vec"), F.col("p_vec")) / (F.col("nrm") * F.col("p_nrm"))
            ).alias("max_sim_prior")
        )
    )
    return (
        assigned.join(sims, "vid", "left")
        .select(
            F.col("vid").alias(id_col),
            "cell",
            "max_sim_prior",
            (
                F.col("max_sim_prior").isNull()
                | (F.col("max_sim_prior") < F.lit(tau))
            ).alias("kept"),
        )
    )


def semantic_dedup_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    tau: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    block_rows: int = 1024,
) -> DataFrame:
    """:func:`semantic_dedup` for corpus-sized k — same output, same
    values bit-for-bit (pinned by
    test_semantic_dedup_cells_bit_equals_jvm), computed SIMD-side.

    Why it exists: the JVM form's per-pair cosine is a higher-order
    ``aggregate`` fold that Catalyst evaluates by per-element lambda
    dispatch (~0.7 µs/pair measured in the r13 streaming profile), and
    unrolling the fold de-optimizes (HotSpot JIT size limits —
    streaming/similarity.py:202).  At production sizing (k grown with
    the corpus so cells stay ~10^3-10^4, the SemDeDup/LAION discipline)
    the assignment pass is rows x k dots and the pair pass is
    cells x (N/k)^2/2 dots — both pure arithmetic, both ~100x faster
    vectorized.  The r13 sf10 audit measured the difference: 200k
    vectors, k=8 (suite sizing) TIMED OUT at 300 s in the JVM form;
    this form at k=400 finishes in seconds.

    Shape: one Arrow ``mapInPandas`` stage assigns cells (numpy probe
    loop, vectorized across rows, sequential across dimensions), then
    one ``applyInPandas`` per cell sorts by id and takes each row's max
    cosine over SMALLER-id cell-mates via a blocked lower-triangle
    matrix pass (``block_rows`` bounds peak memory at
    block_rows x cell_size doubles).  Exactly two shuffles: none in
    assignment (map-side), one hash exchange on cell for the pair pass.

    Bit-exactness (the semantic_dedup_local doctrine,
    streaming/similarity.py:208): every reduction is vectorized ACROSS
    rows/pairs but sequential ACROSS dimensions in float64 after exact
    float32 widening, so each scalar accumulator evolves through the
    identical IEEE-754 sequence as ``dot``'s left-to-right fold; the
    assignment tie-break (ascending cell id, strict improvement)
    replicates ``ivf_assign``'s ``min(struct(neg, cell))``; ``max``
    over doubles is order-independent.  Same non-zero-norm
    precondition as the JVM path.

    Scale bound: centroids are collected and broadcast (k x dim doubles
    — broadcast-sized by the same contract as ``ivf_assign``); the
    corpus itself never leaves executors.  Cell size is bounded by
    k-sizing, so the per-group pandas frame is ~10^4 rows, and AQE's
    skew handling is unnecessary (cells are quantizer-balanced).

    Broadcast lifetime: the centroid broadcast is created per call and
    stays registered for the session lifetime (it must outlive the
    returned LAZY DataFrame, so eager unpersist would be wrong).  Each
    is k x (dim+2) doubles — model-sized, so even hundreds of calls in
    a long session hold ~MBs; callers looping over taus on one centroid
    set should hoist this call, not the action, if that ever matters.
    """
    import math

    if block_rows < 1:
        raise ValueError(f"block_rows must be >= 1, got {block_rows}")

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    crows = sorted(
        (int(r[centroid_id_col]), [float(x) for x in r[vec_col]])
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    cell_ids = [cid for cid, _ in crows]
    cmat = np.array([c for _, c in crows], dtype=np.float64)
    cnorms_l = []
    for _, comps in crows:
        acc = 0.0
        for c in comps:
            acc = acc + float(c) * float(c)
        cnorms_l.append(math.sqrt(acc))
    cnorms = np.array(cnorms_l, dtype=np.float64)
    bc = vectors.sparkSession.sparkContext.broadcast((cell_ids, cmat, cnorms))
    dim = cmat.shape[1]
    tau_f = float(tau)
    vc, idc = vec_col, id_col

    def assign(batches):
        b_cell_ids, b_cmat, b_cnorms = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                # Reuse the incoming (empty) id/vec columns so the id
                # dtype matches whatever type the source column carries.
                yield pd.DataFrame(
                    {idc: pdf[idc],
                     "nrm": pd.Series([], dtype="float64"),
                     vc: pdf[vc],
                     "cell": pd.Series([], dtype="int64")}
                )
                continue
            v = np.stack(
                [np.asarray(x, dtype=np.float32).astype(np.float64) for x in pdf[vc]]
            )
            nrm_sq = np.zeros(n)
            for i in range(dim):
                nrm_sq = nrm_sq + v[:, i] * v[:, i]
            nrm = np.sqrt(nrm_sq)
            best_neg = np.full(n, np.inf)
            # Seed with the LOWEST centroid id (not literal 0) so an
            # all-NaN cosine row (zero-norm vector, outside the stated
            # precondition) degrades to the same cell the JVM
            # min(struct(neg, cell)) path picks for any id set.
            best_cell = np.full(n, b_cell_ids[0], dtype=np.int64)
            for j, cid in enumerate(b_cell_ids):
                acc = np.zeros(n)
                for i in range(dim):
                    acc = acc + v[:, i] * b_cmat[j, i]
                neg = -(acc / (nrm * b_cnorms[j]))
                upd = neg < best_neg  # strict: ties keep the lower cell
                best_neg = np.where(upd, neg, best_neg)
                best_cell = np.where(upd, cid, best_cell)
            yield pd.DataFrame(
                {idc: pdf[idc].to_numpy(), "nrm": nrm, vc: pdf[vc].to_numpy(),
                 "cell": best_cell}
            )

    # Derive the id field from the source schema (mirrors the vector
    # column) — the JVM semantic_dedup accepts any orderable id type,
    # so hardcoding LongType here would silently assume bigint ids.
    id_field = StructField(idc, vectors.schema[idc].dataType)
    assign_schema = StructType(
        [
            id_field,
            StructField("nrm", DoubleType()),
            vectors.schema[vc],
            StructField("cell", LongType()),
        ]
    )
    assigned = vectors.select(idc, vc).mapInPandas(assign, assign_schema)

    out_schema = StructType(
        [
            id_field,
            StructField("cell", LongType()),
            StructField("max_sim_prior", DoubleType()),
            StructField("kept", BooleanType()),
        ]
    )

    def per_cell(pdf):
        pdf = pdf.sort_values(idc, kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        v = np.stack(
            [np.asarray(x, dtype=np.float32).astype(np.float64) for x in pdf[vc]]
        )
        nrm = pdf["nrm"].to_numpy()
        best = np.full(n, np.nan)
        for lo in range(1, n, block_rows):
            hi = min(lo + block_rows, n)
            b = hi - lo
            m = hi - 1  # priors for row r are rows [0, r); max prior index hi-2
            acc = np.zeros((b, m))
            tmp = np.empty((b, m))
            vb = v[lo:hi]
            for i in range(dim):
                np.multiply.outer(vb[:, i], v[:m, i], out=tmp)
                acc += tmp
            cos = acc / np.multiply.outer(nrm[lo:hi], nrm[:m])
            mask = np.arange(m)[None, :] < np.arange(lo, hi)[:, None]
            best[lo:hi] = np.where(mask, cos, -np.inf).max(axis=1)
        msp = pd.array(best, dtype="Float64")
        if n:
            msp[0] = pd.NA  # the cell's lowest id has no prior
        kept = msp.isna() | (msp < tau_f)
        return pd.DataFrame(
            {idc: pdf[idc].to_numpy(), "cell": pdf["cell"].to_numpy(),
             "max_sim_prior": msp, "kept": kept}
        )

    return assigned.groupBy("cell").applyInPandas(per_cell, out_schema)


def inertia(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Sum over vectors of (1 - cosine to assigned centroid) — the
    objective Lloyd minimizes here (cosine form).  Diagnostic for tests
    and convergence monitoring."""
    assigned = ivf_assign(vectors, centroids, id_col=id_col, vec_col=vec_col)
    c = centroids.select(
        F.col("centroid_id").alias("cell"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = assigned.join(F.broadcast(c), "cell").select(
        (
            1
            - dot(F.col("vec"), F.col("c_vec")) / (F.col("nrm") * F.col("c_norm"))
        ).alias("d")
    )
    return scored.agg(F.sum("d")).first()[0]


def power_iteration_top_component(
    vectors: DataFrame,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top principal direction of the (uncentered) Gram operator by
    power iteration — the PCA primitive behind embedding whitening,
    drift monitoring, and spectral outlier scoring.  v_{t+1} =
    normalize(X^T X v_t), computed WITHOUT materializing the d x d Gram
    matrix: each row contributes (x_i . v) * x_i, so a round is one
    broadcast-v map pass + one d-row aggregate (the kmeans_lloyd shape —
    data never leaves executors, only the d-vector moves).

    Determinism (the k-means fixed-point technique, similarity.py:212):
    per-row scalars are sequential-fold dots; each per-dimension
    contribution is truncated to an integer at scale 1e9 and summed
    EXACTLY in DECIMAL(38,0) (order-insensitive across partitionings);
    the only FP steps are one int->double conversion + division per
    dimension and the driver-side normalization (fixed-order fold,
    sqrt/div correctly rounded IEEE) — so the trained component is
    bit-reproducible and the DuckDB oracle replays it as unrolled SQL.
    Start vector: the min-id embedding, normalized (no RNG).

    Output: (dim, loading, eigenvalue) — the unit top component and
    ||X^T X v|| from the final round (the Rayleigh-quotient eigenvalue
    estimate for a unit v).
    """
    spark = vectors.sparkSession
    seed = (
        vectors.orderBy(id_col).limit(1).select(vec_col).collect()[0][vec_col]
    )
    v = [float(x) for x in seed]

    import math

    def _normalize(u: list[float]) -> tuple[list[float], float]:
        acc = 0.0
        for x in u:  # fixed left-to-right fold, replayed by _sql_dot
            acc += x * x
        nrm = math.sqrt(acc)  # correctly-rounded IEEE, same as SQL sqrt()
        return [x / nrm for x in u], nrm

    v, _ = _normalize(v)
    lam = 0.0
    d = len(v)
    for _ in range(iterations):
        # ONE array literal, not CreateArray of d double literals (r15):
        # primitive literals are INLINED into the generated code, so a
        # per-round v produced a brand-new codegen source every round —
        # d fresh Janino compilations' worth of fixed cost per query.
        # An ArrayType literal is attached as a REFERENCE object, the
        # generated source is byte-identical across rounds, and Spark's
        # codegen cache (keyed on source) reuses the compiled class.
        # Same values, same sequential fold, bit-identical result.
        varr = F.lit(v)
        s = dot(F.col(vec_col), varr)
        sums = (
            vectors.select(s.alias("s"), F.posexplode(vec_col).alias("dim", "val"))
            .groupBy("dim")
            .agg(
                F.sum(
                    (F.col("s") * F.col("val").cast("double") * F.lit(1.0e9))
                    .cast("long")
                    .cast("decimal(38,0)")
                ).alias("qs")
            )
            .collect()
        )
        u = [0.0] * d
        for row in sums:
            u[row["dim"]] = int(row["qs"]) / 1.0e9
        v, lam = _normalize(u)
    return spark.createDataFrame(
        [(j, v[j], lam) for j in range(d)], "dim int, loading double, eigenvalue double"
    )


def quantized_dedup_groups(
    vectors: DataFrame,
    scale: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup groups by quantization: round each component to
    the nearest 1/``scale`` and group on the integer-grid key.  Vectors
    whose components all round to the same grid cell are near-duplicates.

    This is the cheap tier of embedding dedup — one map + one hash
    aggregate, no pairwise work at all; the LSH pair path
    (``lsh_candidate_pairs``) is the finer tier.  Output:
    (vec_id = group representative, qkey, n_dups).
    """
    qkey = F.array_join(
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * scale).cast("int").cast("string"),
        ),
        ",",
    )
    return (
        vectors.select(F.col(id_col), qkey.alias("qkey"))
        .groupBy("qkey")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "qkey", "n_dups")
    )


def lsh_candidate_pairs(
    vectors: DataFrame,
    n_bits: int = 16,
    min_cosine: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_df: int | None = None,
) -> DataFrame:
    """ANN candidate pairs: bucket-keyed self-join + exact cosine
    re-score.  Output (id_a, id_b, cos_sim), id_a < id_b.

    Scale shape: the bucket key space is 2**n_bits, FIXED — bucket
    occupancy grows linearly with the corpus by construction, so the
    in-bucket pair fan-out is quadratic at any real scale unless both
    levers are used: (1) size ``n_bits`` to the corpus (default 16 =
    65 536 buckets; at billion-vector scale compose with IVF cells —
    ``ivf_topk`` — instead of stretching one flat key), and (2)
    ``max_bucket_df`` drops buckets hotter than the cap BEFORE pair
    generation (a bucket holding a constant fraction of the corpus is a
    degenerate region — near-dup mass that the cheaper exact tier
    ``embedding_quantize_dedup`` collapses first), bounding fan-out at
    max_bucket_df²/2 per bucket.  The hot-bucket count is a map-side-
    combinable groupBy, never a per-key window."""
    v = vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("nrm"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    if max_bucket_df is not None:
        # Third consumer of the bucketed projection (df count + the two
        # self-join sides) — checkpoint so norms/buckets compute once.
        # Hot buckets leave via a hint-free ANTI join (tiny hot set →
        # AQE broadcast; see lsh_band_pairs for the shape rationale).
        v = share(v)
        hot = (
            v.groupBy("bucket")
            .agg(F.count("*").alias("bdf"))
            .filter(F.col("bdf") > max_bucket_df)
            .select("bucket")
        )
        v = v.join(hot, "bucket", "left_anti")
    a, b = v.alias("a"), v.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vid") < F.col("b.vid")),
    )
    return pairs.select(
        F.col("a.vid").alias("id_a"),
        F.col("b.vid").alias("id_b"),
        (
            dot(F.col("a.vec"), F.col("b.vec")) / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= min_cosine)


def rp_bucket_topk_pairs(
    vectors: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    limit: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "rp",
    max_bucket_df: int | None = None,
) -> DataFrame:
    """JL-reduced sign-bucket ANN join with full-space exact-cosine
    verify: bucket in the reduced space, pair within buckets, then
    re-score candidates against the ORIGINAL vectors and keep the global
    top ``limit`` pairs.

    100 TB shape: the corpus-sized ``vectors`` table is never broadcast
    and never shuffled whole.  ``max_bucket_df`` drops buckets hotter
    than the cap BEFORE pair generation (the same df-cap doctrine as
    ``lsh_candidate_pairs`` — with 2**out_dim fixed bucket keys,
    occupancy grows linearly with the corpus and the pair fan-out
    quadratically; the cap bounds it at max_bucket_df²/2 per bucket).
    The candidate-id reduction and verify joins carry NO broadcast
    hint: AQE broadcasts them when the runtime candidate set is small
    and falls back to a shuffled equi-join when a hot bucket blows it
    up — either is fine, a MANDATORY broadcast is not (on a near-dup-
    heavy corpus most docs have a bucket-mate, so the candidate-id set
    approaches corpus size → driver/executor OOM).  The plan pin
    (test_plan_shapes) accepts both shapes but forbids cartesian/nested
    -loop, any broadcast sitting directly over the corpus scan, and any
    explicit broadcast hint in the logical plan.
    """
    rp = random_projection(vectors, in_dim=in_dim, out_dim=out_dim, seed=seed).select(
        F.col(id_col), "rp_bucket"
    )
    if max_bucket_df is not None:
        # Checkpoint: the 8-dot projection feeds the df count plus both
        # self-join sides — materialize the slim (id, bucket) frame once.
        # Hot buckets leave via a hint-free ANTI join (AQE broadcast).
        rp = share(rp)
        hot = (
            rp.groupBy("rp_bucket")
            .agg(F.count("*").alias("bdf"))
            .filter(F.col("bdf") > max_bucket_df)
            .select("rp_bucket")
        )
        rp = rp.join(hot, "rp_bucket", "left_anti")
    a = rp.select(F.col(id_col).alias("id_a"), "rp_bucket")
    b = rp.select(F.col(id_col).alias("id_b"), "rp_bucket")
    pairs = (
        a.join(b, "rp_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        # Pair-count sized, but feeds the candidate-id derivation AND the
        # verify join below — checkpoint so the bucket pipeline runs once.
        .transform(share)
    )
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    emb_c = vectors.join(cand_ids, id_col, "left_semi").select(id_col, vec_col)
    ea = emb_c.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    eb = emb_c.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    scored = (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("va"), F.col("vb"))
                / (l2_norm(F.col("va")) * l2_norm(F.col("vb")))
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b")).limit(limit)


def rademacher_matrix(in_dim: int, out_dim: int, seed: str = "rp") -> list[list[float]]:
    """Deterministic ±1 projection matrix: sign of the first md5 nibble
    of '<seed>:<j>:<i>'.  No RNG state — the same (seed, dims) gives the
    same matrix in any process, so an oracle can embed the literals.
    Rademacher entries satisfy the Johnson-Lindenstrauss lemma like
    Gaussians do (Achlioptas 2001), and ±1 multiplication is EXACT in
    floating point — the projection is a pure sequential-fold sum, which
    both engines can reproduce bit-identically."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    vec_col: str = "embedding",
    seed: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    vector onto ``out_dim`` fixed ±1 directions, appending columns
    ``y0..y{out_dim-1}`` and ``rp_bucket`` (the sign-bit integer — a
    ready-made LSH key over the REDUCED space).

    The 100 TB role: distances survive the projection within (1±ε), so
    downstream ANN (sign-LSH / IVF over 8-64 dims instead of 1000+)
    shuffles an order of magnitude fewer bytes.  Map-side only — the
    matrix is a plan literal (broadcast-free, k·d doubles of codegen
    constants), no shuffle, no UDF; each y_j is a strict left-to-right
    fold so results are partitioning- and engine-independent."""
    mat = rademacher_matrix(in_dim, out_dim, seed)
    ys = []
    for j in range(out_dim):
        row = F.array(*[F.lit(v) for v in mat[j]])
        y = F.aggregate(
            F.zip_with(
                F.col(vec_col), row, lambda x, r: x.cast("double") * r
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        ys.append(y.alias(f"y{j}"))
    out = df.select("*", *ys)
    bucket = F.lit(0)
    for j in range(out_dim):
        bucket = bucket * 2 + F.when(F.col(f"y{j}") >= 0, 1).otherwise(0)
    return out.withColumn("rp_bucket", bucket.cast("int"))


def pq_train_codebooks(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    codes: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebook trainer (Jégou et al. 2011): split
    the ``dim``-dimensional embedding into ``m`` contiguous subspaces of
    dim/m components and train an independent ``codes``-centroid
    codebook per subspace with the deterministic :func:`kmeans_lloyd`
    (first-``codes`` seeds, cosine assignment with lowest-code ties,
    fixed-point DECIMAL(38,0) mean updates) — so the trained codebooks
    are bit-reproducible and an oracle can replay them as unrolled SQL,
    the ``sim_ivf_kmeans_topk`` technique.

    Scale: ALL m subspace trains advance together — one scan of the
    (checkpointed) exploded (id, sub, subvector) frame per iteration,
    one combinable fixed-point aggregate keyed by (sub, code, dim), and
    ONE driver collect of m*codes*(dim/m) doubles per round (the
    kmeans_lloyd shape, m-way batched; training m subspaces is not m
    jobs).  At corpus scale feed a ``hash_sample`` of the vectors — PQ
    codebooks need ~10^5 training vectors, not the full 10^10 (the
    standard recipe); the codebook table is m*codes rows either way.
    Semantics are exactly m independent :func:`kmeans_lloyd` runs on
    the slices (seeds = first ``codes`` vectors' slices, cosine
    assignment with lowest-code ties, DECIMAL(38,0) fixed-point means,
    empty cells keep their centroid) — the unrolled-SQL oracle replays
    the per-slice form and matches bit-for-bit.

    Output: (sub, code, c_vec) with code densely 0..codes-1 per sub.
    """
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    spark = vectors.sparkSession
    sub_d = dim // m
    seed_rows = (
        vectors.orderBy(id_col).limit(codes).select(F.col(vec_col)).collect()
    )
    books: dict[tuple[int, int], list[float]] = {
        (s, i): [float(x) for x in row[vec_col][s * sub_d : (s + 1) * sub_d]]
        for i, row in enumerate(seed_rows)
        for s in range(m)
    }
    schema = StructType(
        [
            StructField("sub", IntegerType()),
            StructField("code", IntegerType()),
            StructField("c_vec", ArrayType(DoubleType())),
        ]
    )
    parts = vectors.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col(vec_col), s * sub_d + 1, sub_d),
            )
        ).alias("sub", "sv"),
    ).withColumn("nrm", l2_norm(F.col("sv")))
    if iterations > 1:
        # Re-read per iteration; materialize the explode once.
        parts = share(parts)
    for _ in range(iterations):
        cdf = spark.createDataFrame(
            [(s, c, v) for (s, c), v in sorted(books.items())], schema
        )
        c = cdf.select(
            "sub", "code", "c_vec", l2_norm(F.col("c_vec")).alias("c_norm")
        )
        scored = parts.join(F.broadcast(c), "sub").select(
            F.col(id_col),
            "sub",
            "sv",
            (
                dot(F.col("sv"), F.col("c_vec")) / (F.col("nrm") * F.col("c_norm"))
            ).alias("cs"),
            "code",
        )
        # Ties on cs break to the lowest code (ivf_assign semantics) via
        # a combinable min(struct); sv rides along (constant per group,
        # so it never influences which row wins).
        best = (
            scored.groupBy(id_col, "sub")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("cs")).alias("neg"),
                        F.col("code").alias("code"),
                        F.col("sv").alias("sv"),
                    )
                ).alias("b")
            )
            .select("sub", F.col("b.code").alias("code"), F.col("b.sv").alias("sv"))
        )
        new_means = (
            best.select("sub", "code", F.posexplode("sv").alias("dim", "val"))
            .groupBy("sub", "code", "dim")
            .agg(
                F.sum(
                    (F.col("val").cast("double") * F.lit(1.0e9))
                    .cast("long")
                    .cast("decimal(38,0)")
                ).alias("qs"),
                F.count("*").alias("n"),
            )
            .withColumn(
                "mv",
                F.col("qs").cast("double")
                / (F.col("n").cast("double") * F.lit(1.0e9)),
            )
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mv"))),
                    lambda x: x["mv"],
                ).alias("mean_vec")
            )
            .collect()
        )
        for row in new_means:
            books[(row["sub"], row["code"])] = [float(x) for x in row["mean_vec"]]
    return spark.createDataFrame(
        [(s, c, v) for (s, c), v in sorted(books.items())], schema
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ encoder: each vector becomes ``m`` small code ids — the
    compressed representation ADC scores against (m*log2(codes) bits
    instead of dim floats; at (m, codes) = (8, 256) that is 64 floats ->
    8 bytes, the memory-bandwidth win that makes billion-vector search
    feasible).  Assignment per subspace is nearest codebook entry by
    cosine, ties -> lowest code — :func:`ivf_assign` semantics, but the
    per-(vector, sub) argmax is a map-side-combinable ``min(struct)``
    aggregate, not a window (no per-key sort task).

    Scale: one scan of the vectors; the codebook join is an explicit
    tiny-side broadcast; two combinable aggregates keyed by (id, sub)
    then id — skew-free (every key has exactly codes, then m rows).

    Output: (id, codes: array<int> of length m, sub-ordered).
    """
    sub_d = dim // m
    parts = vectors.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col(vec_col), s * sub_d + 1, sub_d),
            )
        ).alias("sub", "sv"),
    )
    c = codebooks.select(
        "sub", "code", "c_vec", l2_norm(F.col("c_vec")).alias("c_norm")
    )
    scored = parts.join(F.broadcast(c), "sub").select(
        F.col(id_col),
        "sub",
        "code",
        (dot(F.col("sv"), F.col("c_vec")) / (l2_norm(F.col("sv")) * F.col("c_norm"))).alias(
            "cs"
        ),
    )
    best = (
        scored.groupBy(id_col, "sub")
        .agg(
            F.min(
                F.struct((-F.col("cs")).alias("neg"), F.col("code").alias("code"))
            ).alias("b")
        )
        .select(F.col(id_col), "sub", F.col("b.code").alias("code"))
    )
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "code"))), lambda s: s["code"]
        ).alias("codes")
    )


def pq_adc_topk(
    queries: DataFrame,
    codebooks: DataFrame,
    encoded: DataFrame,
    dim: int,
    m: int = 4,
    codes: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: score every encoded candidate
    against each EXACT query vector using per-query lookup tables —
    cos(q, x) is approximated by cos(q, x_hat) where x_hat is the
    concatenation of x's assigned sub-centroids, and both dot(q, x_hat)
    = sum_s dot(q_s, c_s[code_s]) and |x_hat|^2 = sum_s |c_s[code_s]|^2
    decompose over subspaces — so per candidate the scorer does m array
    lookups + m adds instead of dim multiplies, reading only the m-byte
    code, not the vector.

    Determinism: the per-query LUT rows are folded in FIXED sub order
    (collect_list -> array_sort -> sequential fold; a plain SUM over the
    m doubles would be partition-order-dependent), every dot is the
    shared sequential fold, and ranking ties break on neighbor id — so
    the result is bit-replayable by the SQL oracle.

    Scale: the LUT side is |Q| rows of m*codes doubles — an explicit
    broadcast; candidates are scanned once, map-side only, then the
    per-query top-k window (AQE splits a hot query's partition).  Like
    exact brute force this scans all candidates per query — PQ's win is
    constant-factor (compressed reads, LUT adds); compose with the IVF
    cell confinement (``ivf_topk``) for the sublinear candidate set.

    Output: (query_id, neighbor_id, approx_cos, rk).
    """
    from pyspark.sql import Window

    sub_d = dim // m
    entries = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            l2_norm(F.col(vec_col)).alias("q_norm"),
        )
        .crossJoin(F.broadcast(codebooks))
        .select(
            "query_id",
            "q_norm",
            "sub",
            "code",
            dot(
                F.slice(F.col("q_vec"), F.col("sub") * sub_d + 1, sub_d),
                F.col("c_vec"),
            ).alias("pdot"),
            dot(F.col("c_vec"), F.col("c_vec")).alias("csq"),
        )
    )
    sorted_entries = F.array_sort(
        F.collect_list(F.struct("sub", "code", "pdot", "csq"))
    )
    luts = entries.groupBy("query_id").agg(
        F.max("q_norm").alias("q_norm"),
        F.transform(sorted_entries, lambda s: s["pdot"]).alias("lut"),
        F.transform(sorted_entries, lambda s: s["csq"]).alias("csqs"),
    )

    def fold(arr_name: str):
        # acc + flat_lut[sub*codes + codes_arr[sub]] in sub order 0..m-1
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.col(arr_name), s * codes + F.element_at(F.col("codes"), s + 1) + 1
            ),
        )

    scored = (
        encoded.select(F.col(id_col).alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(luts))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (fold("lut") / (F.col("q_norm") * F.sqrt(fold("csqs")))).alias(
                "approx_cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "approx_cos",
            F.col("rk").cast("int").alias("rk"),
        )
    )


def pq_rerank_topk(
    queries: DataFrame,
    codebooks: DataFrame,
    encoded: DataFrame,
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    codes: int = 4,
    shortlist: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ shortlist + EXACT rerank — the standard production ANN
    retrieval pattern (FAISS's ``IndexRefineFlat`` shape): the ADC
    scorer scans only compressed codes to produce a ``shortlist`` of
    candidates per query, then the full float vectors of JUST those
    candidates are fetched and rescored with exact cosine; the final
    top-``k`` ranks by the exact score.  Buys back most of the
    quantization error at the cost of re-reading |Q| x shortlist full
    vectors instead of the whole corpus.

    Scale: the expensive stage (ADC scan) reads m-int codes only; the
    rerank join touches ``shortlist`` vectors per query — with |Q|
    broadcast, the fetch is one semi-join-shaped probe of the vector
    table, never a second full scan's worth of float I/O.

    Output: (query_id, neighbor_id, cos_sim, rk) — cos_sim is EXACT,
    so the same (query, neighbor) row is directly comparable to
    ``brute_force_topk``; recall@k vs brute force measures what the
    shortlist missed.
    """
    from pyspark.sql import Window

    short = pq_adc_topk(
        queries, codebooks, encoded, dim=dim, m=m, codes=codes,
        k=shortlist, id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    cand = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    exact = (
        short.join(cand, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rk").cast("int").alias("rk"),
        )
    )


def semantic_decontaminate(
    train: DataFrame,
    evals: DataFrame,
    tau: float = 0.9,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination: flag every TRAIN vector whose
    cosine to some EVAL vector reaches ``tau`` — the semantic tier of
    benchmark decontamination (catches paraphrased/reformatted eval
    leakage that the shingle-overlap tier in ``operators/dedup.py``
    cannot see, because a paraphrase shares no n-grams).

    Scale shape mirrors the shingle decontaminator: the eval side is
    benchmark-sized (thousands), so it rides an explicit broadcast and
    the 100 TB train corpus is scanned ONCE, map-side only — never
    shuffled, never joined at scale.  Candidates are confined to
    sign-LSH bucket mates (bucket equality checked inside the broadcast
    join); like every LSH tier this trades recall near the bucket
    boundary for linear cost — widen with multi-probe (flip one sign)
    when the eval set demands higher recall.  The per-train verdict is
    a map-side-combinable max.

    Output: one row per train vector — (vec_id, bucket, max_eval_cos
    NULL when no eval bucket-mate exists, contaminated).
    """
    t = train.select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        l2_norm(F.col(vec_col)).alias("nrm"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    e = evals.select(
        F.col(vec_col).alias("e_vec"),
        l2_norm(F.col(vec_col)).alias("e_nrm"),
        sign_lsh_bucket(F.col(vec_col), n_bits).alias("bucket"),
    )
    sims = (
        t.join(F.broadcast(e), "bucket")
        .groupBy(id_col)
        .agg(
            F.max(
                dot(F.col("vec"), F.col("e_vec")) / (F.col("nrm") * F.col("e_nrm"))
            ).alias("max_eval_cos")
        )
    )
    return t.join(sims, id_col, "left").select(
        F.col(id_col),
        "bucket",
        "max_eval_cos",
        F.coalesce(F.col("max_eval_cos") >= F.lit(tau), F.lit(False)).alias(
            "contaminated"
        ),
    )


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int = 4,
    codes: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ (the Jégou et al. composition, and the layout every
    billion-scale ANN service runs): the coarse quantizer confines each
    query's candidates to ONE cell's inverted list, and within the cell
    candidates are scored from their m-code PQ representation via ADC
    lookup tables — sublinear candidate count AND compressed candidate
    reads.  At 100 TB the vector table is *stored* partitioned by cell
    with only (id, codes) columns hot, so a probe is a partition-pruned
    scan of a few-byte-per-vector file, never a full-vector shuffle.

    Determinism is pq_adc_topk's: fixed sub-order folds, sequential-fold
    dots, id tiebreaks — replayed by the composed SQL oracle (coarse
    k-means chain + m subspace chains).

    Scale shape: both assignment passes are broadcast map-side stages;
    the candidate assignment feeds two consumers (encoder, cell map) so
    it is checkpointed; the LUT side is |Q| rows broadcast into a
    cell-keyed equi-join (never cartesian); the only window partitions
    by query.

    Output: (query_id, cell, neighbor_id, approx_cos, rk).
    """
    from pyspark.sql import Window

    sub_d = dim // m
    ca = share(ivf_assign(candidates, centroids, id_col, vec_col))
    enc = pq_encode(
        ca.select(F.col("vid").alias(id_col), F.col("vec").alias(vec_col)),
        codebooks,
        dim,
        m,
        id_col=id_col,
        vec_col=vec_col,
    )
    enc_cells = enc.join(ca.select(F.col("vid").alias(id_col), "cell"), id_col)
    qa = ivf_assign(queries, centroids, id_col, vec_col)
    entries = (
        qa.select(
            F.col("vid").alias("query_id"),
            F.col("vec").alias("q_vec"),
            F.col("nrm").alias("q_norm"),
            "cell",
        )
        .crossJoin(F.broadcast(codebooks))
        .select(
            "query_id",
            "q_norm",
            "cell",
            "sub",
            "code",
            dot(
                F.slice(F.col("q_vec"), F.col("sub") * sub_d + 1, sub_d),
                F.col("c_vec"),
            ).alias("pdot"),
            dot(F.col("c_vec"), F.col("c_vec")).alias("csq"),
        )
    )
    sorted_entries = F.array_sort(
        F.collect_list(F.struct("sub", "code", "pdot", "csq"))
    )
    luts = entries.groupBy("query_id", "cell").agg(
        F.max("q_norm").alias("q_norm"),
        F.transform(sorted_entries, lambda s: s["pdot"]).alias("lut"),
        F.transform(sorted_entries, lambda s: s["csq"]).alias("csqs"),
    )

    def fold(arr_name: str):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, s: acc
            + F.element_at(
                F.col(arr_name), s * codes + F.element_at(F.col("codes"), s + 1) + 1
            ),
        )

    scored = (
        enc_cells.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(luts), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "cell",
            "neighbor_id",
            (fold("lut") / (F.col("q_norm") * F.sqrt(fold("csqs")))).alias(
                "approx_cos"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id",
            "cell",
            "neighbor_id",
            "approx_cos",
            F.col("rk").cast("int").alias("rk"),
        )
    )
