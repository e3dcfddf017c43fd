"""Streaming twin of the SEMANTIC dedup tier (VERDICT r5 #7): score an
embedding ingest stream against a batch-trained k-means index and drop
semantic near-duplicates of the historical corpus AT INGEST — the
train-batch / score-stream split of ``operators/similarity.py::
semantic_dedup`` (the ``anomaly_flag_stream`` pattern applied to the
SemDeDup tier).

Why the split: SemDeDup's trainer (``kmeans_lloyd``) needs global
passes and cannot stream; its verdict ("does this vector have a
cluster-mate at cosine >= tau?") needs only (a) a cell assignment and
(b) a lookup against the at-rest corpus — both stateless per row.  So
the batch side trains centroids and materializes the cell-keyed corpus
index, and the stream pays:

1. a STATELESS cell assignment — the k trained centroids are collected
   driver-side (k x d floats, the "centroids live on the driver" bound
   of kmeans_lloyd) and embedded as array literals; per-row cosine to
   each is the same sequential-fold ``dot`` as the batch path, and the
   argmax-with-lowest-cell-tie is ``F.least`` over (neg_sim, cell)
   structs — bit-identical to ivf_assign's ``min(struct(neg, cell))``
   aggregate without its (stateful-on-a-stream) groupBy;
2. a stream-static LEFT ANTI join against the index on (same cell AND
   cosine >= tau) — stateless, re-reads the static side per micro-batch
   so a refreshed index is picked up between batches.

Semantics note (matches batch SemDeDup's per-pair rule): the stream
compares against the HISTORICAL corpus only, not against other streamed
rows — two near-identical vectors arriving in the same micro-batch both
survive if neither has a corpus mate.  Cross-batch self-dedup is the
(signature-keyed) ``neardup_stream`` tier's job; the semantic tier's
state is the index, maintained in batch.

At 100 TB: the index is cell-partitioned storage (one parquet partition
per cell — the same layout ``ivf_topk`` queries), the anti join is
cell-keyed so each micro-batch row probes one cell's list, and k grows
with the corpus to keep cells bounded (SemDeDup used 50k cells for
LAION).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.operators.similarity import dot, ivf_assign, l2_norm


def semantic_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cell-keyed corpus index for streaming semantic dedup: one row per
    historical vector, (cell, p_vid, p_vec, p_nrm).  Built with the
    batch broadcast-IVF pass; write it partitioned by cell for
    partition-pruned probes."""
    return ivf_assign(corpus, centroids, id_col, vec_col).select(
        "cell",
        F.col("vid").alias("p_vid"),
        F.col("vec").alias("p_vec"),
        F.col("nrm").alias("p_nrm"),
    )


def _dot_literal(vec: Column, comps: list[float]) -> Column:
    """Dot product against a LITERAL vector as an explicit left-to-left
    addition chain: 0.0 + v[1]*c1 + v[2]*c2 + ... — the exact same
    operand order and casts as the batch ``dot``'s sequential
    ``F.aggregate`` fold (acc + x*y from index 1), so the result is
    bit-identical, but as straight-line whole-stage-codegen arithmetic
    instead of k*d HOF lambda dispatches per row.  Measured on the
    sf0.1 semantic stream bench (50k rows, 2k-vector index): k=8
    1,638 rows/s (vs 1,413 with the HOF form), k=16 1,536, k=32 1,096
    — the k*d expression cost grows linearly with k and overtakes the
    per-probe join savings at this toy corpus size, so k stays a
    CORPUS-size lever (mates-per-cell ~N/k dominates when N is large),
    not a free knob; past k*d ≈ 1-2k terms the generated method also
    outgrows whole-stage codegen's split threshold."""
    acc: Column = F.lit(0.0)
    for i, c in enumerate(comps):
        acc = acc + F.element_at(vec, i + 1).cast("double") * F.lit(float(c))
    return acc


def assign_cell_stateless(
    vec: Column, centroid_rows: list[tuple[int, list[float]]],
    nrm: Column | None = None,
) -> Column:
    """Nearest-centroid cell id as ONE stateless projection — the
    streaming form of ``ivf_assign``'s n_probes=1 argmax (highest
    cosine, ties -> lowest cell id), for use where a groupBy would make
    the query stateful.  ``centroid_rows`` = [(cell_id, components)];
    each per-cell cosine is the same sequential-fold arithmetic as the
    batch broadcast join computes (see :func:`_dot_literal`), and
    ``F.least`` over (neg_sim, cell) structs is exactly
    ``min(struct(neg, cell))`` — so stream and batch assignments agree
    bit-for-bit.  Pass a precomputed ``nrm`` column to evaluate the
    row norm once instead of once per cell."""
    import math

    if nrm is None:
        nrm = l2_norm(vec)
    scored = []
    for cell_id, comps in sorted(centroid_rows, key=lambda r: r[0]):
        # Centroid norm is a Python-side constant — but it must equal
        # the JVM's own sqrt(fold) bit-for-bit, so compute the fold in
        # the same sequence here (Python float ops are the same IEEE
        # doubles).
        cn = 0.0
        for c in comps:
            cn = cn + float(c) * float(c)
        cnorm = math.sqrt(cn)
        sim = _dot_literal(vec, comps) / (nrm * F.lit(cnorm))
        scored.append(
            F.struct(
                (-sim).alias("neg"), F.lit(int(cell_id)).alias("cell")
            )
        )
    return F.least(*scored)["cell"]


def semantic_dedup_stream(
    vectors: DataFrame,
    centroids: DataFrame,
    index: DataFrame,
    tau: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Emit only the streamed vectors with NO semantic near-duplicate in
    the historical corpus: assign each arriving vector to its trained
    cell statelessly, then LEFT ANTI join the cell-keyed ``index``
    (from :func:`semantic_index`) on (same cell AND cosine >= tau).

    Works identically on a batch frame — the twin the contract test
    pins (stream == batch exactly: the whole pipeline is a pure per-row
    filter against static state, no arrival-order dependence).

    Join-strategy note: AQE does not re-plan streaming micro-batches, so
    a hint-free ``index`` joins as a cell-keyed sort-merge join — BOTH
    sides shuffled and sorted EVERY micro-batch.  When the index fits an
    executor, pass ``F.broadcast(index)`` and the anti join becomes a
    per-batch broadcast hash probe with zero shuffle (measured 2× on the
    sf0.1 bench feed; results identical).  Hint-free stays the default
    because the index is the historical corpus: at 100 TB it is
    cell-partitioned storage, not a broadcast.

    Trigger-size doctrine (measured, SCALE.md round-9 "trigger-size
    curve"): this stream is micro-batch-cost-bound below ~25k
    rows/trigger — fixed cost ~1.3 s per micro-batch vs an asymptotic
    ~7.5k rows/s row-bound rate.  In production, size the source
    trigger (``maxFilesPerTrigger`` / ``maxBytesPerTrigger``) so each
    micro-batch carries >=25k rows (>=5.3k rows/s at <=5 s batch
    latency on the reference box); go to ~50k rows/trigger when
    minute-scale latency is acceptable.

    Output: the input columns plus ``cell``.
    """
    rows = [
        (r[centroid_id_col], list(r[vec_col]))
        for r in centroids.select(centroid_id_col, vec_col).collect()
    ]
    # Row norm computed ONCE per row (it feeds all k assignment cosines
    # and every anti-join probe), then dropped from the output.
    assigned = vectors.withColumn("__nrm", l2_norm(F.col(vec_col)))
    assigned = assigned.withColumn(
        "cell",
        assign_cell_stateless(F.col(vec_col), rows, nrm=F.col("__nrm")),
    )
    is_dup = (
        dot(F.col(vec_col), F.col("p_vec"))
        / (F.col("__nrm") * F.col("p_nrm"))
        >= F.lit(float(tau))
    )
    return assigned.join(
        index, on=(assigned["cell"] == index["cell"]) & is_dup, how="left_anti"
    ).drop("__nrm")


def semantic_dedup_local(
    vectors: DataFrame,
    centroids: DataFrame,
    index: DataFrame,
    tau: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """:func:`semantic_dedup_stream` for the BROADCAST-INDEX regime,
    probed in numpy instead of a JVM join — same survivors, bit-for-bit
    (pinned by test_semantic_dedup_local_bit_equals_jvm), at ~10x the
    per-batch throughput.

    Why: the r13 profile of the JVM form showed addBatch dominating
    (~1.1 s per 6.25k-row micro-batch; queryPlanning/commit are <0.2 s)
    — and inside addBatch the cost is the per-PAIR ``dot`` in the anti
    join condition: each probe row scores ~corpus/k cell-mates through
    the higher-order ``aggregate`` fold, which Catalyst evaluates by
    per-element lambda dispatch (~100M interpreted ops per batch here).
    Unrolling the fold into 64 explicit multiply-adds made it 3x WORSE
    (the generated join-loop method blows past HotSpot's JIT limits and
    runs as interpreted bytecode).  The remaining lever is SIMD: one
    Arrow ``mapInPandas`` stage that assigns cells and probes the
    cell's candidate matrix in numpy.

    Bit-exactness: every reduction is vectorized ACROSS rows/pairs but
    sequential ACROSS dimensions — ``acc = acc + V[:,i]*M[:,i]`` from
    i=0 in float64 after exact float32 widening — so each scalar
    accumulator evolves through the identical IEEE-754 operation
    sequence as ``dot``'s left-to-right fold, and the tie-break
    (ascending cell id, strict improvement) replicates
    ``assign_cell_stateless``'s ``least(struct(neg, cell))``.  Same
    non-zero-norm precondition as the JVM path.

    Scale bound: centroids AND index are collected to the driver and
    shipped once per executor as a broadcast — valid exactly when you
    would have passed ``F.broadcast(index)`` to the JVM form (the
    sf-bench regime).  At 100 TB the index is cell-partitioned storage
    and the stream-static join form is the right tool; this is the
    small-index fast path, the FAISS-on-every-executor pattern.

    Works identically on batch and streaming frames (stateless map).
    Output: the input columns plus ``cell`` (int).
    """
    import math

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    crows = sorted(
        (r[centroid_id_col], list(r[vec_col]))
        for r in centroids.select(centroid_id_col, vec_col).collect()
    )
    cell_ids = [int(cid) for cid, _ in crows]
    cmat = np.array([c for _, c in crows], dtype=np.float64)
    # Centroid norms via the same Python-float sequential fold as
    # assign_cell_stateless (IEEE doubles; bit-identical to the JVM's).
    cnorms = []
    for _, comps in crows:
        acc = 0.0
        for c in comps:
            acc = acc + float(c) * float(c)
        cnorms.append(math.sqrt(acc))
    cnorms = np.array(cnorms, dtype=np.float64)

    by_cell: dict[int, list] = {}
    for r in index.select("cell", "p_vec", "p_nrm").collect():
        by_cell.setdefault(int(r["cell"]), []).append(r)
    cell_mats = {
        cid: (
            np.array([list(r["p_vec"]) for r in rows], dtype=np.float64),
            np.array([float(r["p_nrm"]) for r in rows], dtype=np.float64),
        )
        for cid, rows in by_cell.items()
    }
    bc = vectors.sparkSession.sparkContext.broadcast(
        (cell_ids, cmat, cnorms, cell_mats)
    )
    dim = cmat.shape[1]
    tau_f = float(tau)
    vc = vec_col

    def probe(batches):
        b_cell_ids, b_cmat, b_cnorms, b_mats = bc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                out = pdf.copy()
                out["cell"] = pd.Series([], dtype="int32")
                yield out
                continue
            v = np.stack(
                [
                    np.asarray(x, dtype=np.float32).astype(np.float64)
                    for x in pdf[vc]
                ]
            )
            nrm_sq = np.zeros(n)
            for i in range(dim):
                nrm_sq = nrm_sq + v[:, i] * v[:, i]
            nrm = np.sqrt(nrm_sq)
            best_neg = np.full(n, np.inf)
            best_cell = np.zeros(n, dtype=np.int64)
            for j, cid in enumerate(b_cell_ids):
                acc = np.zeros(n)
                for i in range(dim):
                    acc = acc + v[:, i] * b_cmat[j, i]
                neg = -(acc / (nrm * b_cnorms[j]))
                upd = neg < best_neg  # strict: ties keep the lower cell
                best_neg = np.where(upd, neg, best_neg)
                best_cell = np.where(upd, cid, best_cell)
            keep = np.ones(n, dtype=bool)
            for cid, (mat, pnrm) in b_mats.items():
                sel = best_cell == cid
                if not sel.any():
                    continue
                vs = v[sel]
                acc = np.zeros((vs.shape[0], mat.shape[0]))
                for i in range(dim):
                    acc = acc + np.multiply.outer(vs[:, i], mat[:, i])
                cos = acc / np.multiply.outer(nrm[sel], pnrm)
                keep[sel] = ~(cos >= tau_f).any(axis=1)
            out = pdf[keep].copy()
            out["cell"] = best_cell[keep].astype("int32")
            yield out

    out_schema = StructType(
        vectors.schema.fields + [StructField("cell", IntegerType())]
    )
    return vectors.mapInPandas(probe, out_schema)


def semantic_ingest_sink(
    stream: DataFrame,
    centroids: DataFrame,
    path: str,
    checkpoint: str,
    tau: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    seed_index: DataFrame | None = None,
    keep_manifests: int = 1,
):
    """SELF-MAINTAINING semantic dedup at ingest: each micro-batch is
    scored against the stored index (``semantic_dedup_stream``'s anti
    join), and the batch's SURVIVORS are appended to the index so later
    batches dedup against them too — the production form, where the
    index is not a frozen snapshot but the set of everything admitted
    so far.

    Within one micro-batch rows are scored against the PRIOR index
    only (two near-identical vectors arriving in the same batch are
    both admitted — the same per-pair, non-transitive contract as batch
    SemDeDup); across batches the first admitted copy suppresses the
    rest.  For exact-duplicate relations this makes the admitted
    QUANTIZED-KEY set independent of batch boundaries — the contract
    the test pins.

    Storage is APPEND-ONLY DELTAS, not a rewritten snapshot: each
    commit writes only the batch's admitted rows to ``d{batch_id}``
    (the seed corpus lands once as ``dseed``) and swings the CURRENT
    pointer to a new immutable manifest listing the live delta dirs —
    so per-commit write cost is survivor-sized at ANY index size (a
    full-index rewrite per batch would be O(index), unusable at
    100 TB).  The index at any moment is the union of the manifest's
    deltas; compaction (folding many small deltas into one, bucketed by
    cell for pruned probes) is an offline job against an immutable
    prefix, exactly like parquet table compaction.

    Exactly-once: the manifest records applied batch ids; a replayed id
    is skipped (the CMS/HLL sink doctrine — state lives in storage).
    ``path`` may be a local dir or any warehouse URI: manifest/pointer
    I/O goes through the Hadoop FileSystem API (streaming/statefs.py;
    atomic rename on hdfs/local, atomic PUT on object stores).
    ``keep_manifests`` = prior manifests retained for in-flight readers
    (delta dirs are never GC'd — they ARE the index).
    """
    from fotmobdatapipeline_spark.streaming.statefs import StateFs

    rows = [
        (r[centroid_id_col], list(r[vec_col]))
        for r in centroids.select(centroid_id_col, vec_col).collect()
    ]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sfs = StateFs(spark, path)
        deltas, applied = _read_manifest(spark, path)
        if deltas is None:
            # First commit: persist the seed corpus as the base delta
            # (schema normalized so every delta dir unions cleanly).
            if seed_index is not None:
                _norm_index_schema(seed_index).write.mode("overwrite").parquet(
                    f"{path}/dseed"
                )
                deltas = ["dseed"]
            else:
                deltas = []
            applied = set()
        if batch_id in applied:
            return  # replayed batch: already admitted
        index = _read_deltas(spark, path, deltas)
        assigned = batch_df.withColumn("__nrm", l2_norm(F.col(vec_col)))
        assigned = assigned.withColumn(
            "cell", assign_cell_stateless(F.col(vec_col), rows, nrm=F.col("__nrm"))
        )
        if index is not None:
            is_dup = (
                dot(F.col(vec_col), F.col("p_vec"))
                / (F.col("__nrm") * F.col("p_nrm"))
                >= F.lit(float(tau))
            )
            survivors = assigned.join(
                index, on=(assigned["cell"] == index["cell"]) & is_dup,
                how="left_anti",
            )
        else:
            survivors = assigned
        admitted = _norm_index_schema(
            survivors.select(
                "cell",
                F.col(id_col).alias("p_vid"),
                F.col(vec_col).alias("p_vec"),
                F.col("__nrm").alias("p_nrm"),
            )
        )
        new_delta = f"d{batch_id}"
        admitted.write.mode("overwrite").parquet(f"{path}/{new_delta}")
        new_manifest = f"m{batch_id}"
        # Carry forward applied ids that are NOT derivable from a delta
        # dir name (a compaction folds per-batch dirs into dcompact{N}
        # and preserves their ids as #applied annotations — dropping
        # them here would erase the replay guard for every compacted
        # batch, breaking the exactly-once contract).
        derivable = {
            int(d[1:]) for d in deltas
            if d != "dseed" and not d.startswith("dcompact")
        }
        notes = [f"#applied d{b}" for b in sorted(applied - derivable)]
        sfs.write_text_atomic(
            new_manifest, "\n".join(deltas + [new_delta] + notes)
        )
        sfs.write_text_atomic("CURRENT", new_manifest)
        manifests = sorted(
            (
                m
                for m in sfs.listdir()
                if m.startswith("m")
                and m != new_manifest
                and not m.endswith(".tmp")
            ),
            # m{N} and compaction's m{N}c both GC'able; the c-suffixed
            # manifest is newer than its same-numbered plain sibling.
            key=lambda m: (int(m[1:].rstrip("c")), m.endswith("c")),
            reverse=True,
        )
        for m in manifests[keep_manifests:]:
            sfs.delete(m)

    StateFs(stream.sparkSession, path).mkdirs()
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _norm_index_schema(df: DataFrame) -> DataFrame:
    """One storage schema for every delta dir (seed and per-batch
    admissions union cleanly): cell int, p_vid long, p_vec as-is,
    p_nrm double."""
    return df.select(
        F.col("cell").cast("int").alias("cell"),
        F.col("p_vid").cast("long").alias("p_vid"),
        F.col("p_vec"),
        F.col("p_nrm").cast("double").alias("p_nrm"),
    )


def _read_deltas(spark, path: str, deltas) -> DataFrame | None:
    """Union the manifest's delta dirs into one index DataFrame with
    columns (cell, p_vid, p_vec, p_nrm).  Per-batch deltas are FLAT
    parquet dirs while compaction's ``dcompact{N}`` is partitioned by
    cell (hive layout) — Spark refuses to mix the two layouts in one
    multi-path read ([CONFLICTING_DIRECTORY_STRUCTURES]), so each
    layout is read in its own scan and unioned by name.  Partition
    pruning on ``cell`` still applies to the compacted scan."""
    import os

    if not deltas:
        return None
    flat = [d for d in deltas if not d.startswith("dcompact")]
    parts = [d for d in deltas if d.startswith("dcompact")]
    cols = ["cell", "p_vid", "p_vec", "p_nrm"]
    pieces = []
    if flat:
        pieces.append(
            spark.read.parquet(*[os.path.join(path, d) for d in flat]).select(*cols)
        )
    for d in parts:
        pieces.append(
            spark.read.parquet(os.path.join(path, d))
            .withColumn("cell", F.col("cell").cast("int"))
            .select(*cols)
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _read_manifest(spark, path: str):
    """(delta dir list, applied batch-id set) from the CURRENT manifest,
    or (None, None) before the first commit.  Lines starting with
    ``#applied d{N}`` are annotations a compaction writes to preserve
    the applied-id set after folding the per-batch dirs away — they are
    parsed into ``applied`` but are NOT delta dirs.  Reads go through
    the Hadoop FileSystem API (any warehouse scheme)."""
    from fotmobdatapipeline_spark.streaming.statefs import StateFs

    sfs = StateFs(spark, path)
    manifest = sfs.read_text("CURRENT")
    if manifest is None:
        return None, None
    body = sfs.read_text(manifest.strip()) or ""
    lines = [ln for ln in body.splitlines() if ln]
    deltas = [ln for ln in lines if not ln.startswith("#")]
    applied = set()
    for d in deltas:
        if d != "dseed" and not d.startswith("dcompact"):
            applied.add(int(d[1:]))
    for ln in lines:
        if ln.startswith("#applied d"):
            applied.add(int(ln.split("#applied d", 1)[1]))
    return deltas, applied


def read_semantic_index(spark, path: str) -> DataFrame | None:
    """The admitted-vector index = union of the CURRENT manifest's
    delta dirs, or None before the first commit."""
    deltas, _ = _read_manifest(spark, path)
    if not deltas:
        return None
    return _read_deltas(spark, path, deltas)


def compact_semantic_index(spark, path: str) -> int:
    """OFFLINE compaction of the ingest index: fold the CURRENT
    manifest's delta dirs into ONE cell-partitioned dir and swing the
    manifest to it — the parquet-table compaction pattern the sink's
    docstring promises.  Partitioning by cell buys pruned probes
    (pinned by test_semantic_index_cell_layout_prunes_partitions) and
    many-small-files consolidation; the folded dir name encodes the
    max applied batch id so the replay guard still holds after
    compaction.  Safe against concurrent readers (old deltas are left
    on disk for ``keep_manifests`` generations of readers; a follow-up
    GC may remove dirs no live manifest references) but must not run
    concurrently with the SINK itself (both swing CURRENT — coordinate
    like any table-maintenance job).

    Returns the number of delta dirs folded (0 = nothing to do)."""
    from fotmobdatapipeline_spark.streaming.statefs import StateFs

    deltas, applied = _read_manifest(spark, path)
    if not deltas or len(deltas) <= 1:
        return 0
    max_batch = max(applied) if applied else 0
    folded = _read_deltas(spark, path, deltas)
    new_delta = f"dcompact{max_batch}"
    folded.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/{new_delta}"
    )
    # The compacted dir carries every applied id; encode them in the
    # manifest as explicit lines so _read_manifest's applied-set parse
    # keeps working (one synthetic d{batch} marker per applied id,
    # pointing at no dir — only the first line is read as data).
    sfs = StateFs(spark, path)
    new_manifest = f"m{max_batch}c"
    sfs.write_text_atomic(
        new_manifest,
        "\n".join([new_delta] + [f"#applied d{b}" for b in sorted(applied)]),
    )
    sfs.write_text_atomic("CURRENT", new_manifest)
    return len(deltas)
