"""Count-min sketch as a DataFrame-native distributed sketch.

Spark ships a ``count_min_sketch`` aggregate, but it returns an opaque
engine-specific binary — unusable for cross-engine verification and not
queryable from the DataFrame API.  This implementation keeps the sketch
AS a DataFrame (``(sketch_row, bucket, cnt)``, depth x width rows), with
portable md5 bucket hashing, so:

* the build is one map-side-combining groupBy over the keyed stream —
  shuffle volume is bounded by depth x width per map task, NOT by the
  number of input rows (the whole point of a sketch at 100 TB);
* the finished sketch is tiny (depth x width rows, ~1k for 4x256) and
  broadcast-joins to any probe set;
* every number is reproducible in ANSI SQL (DuckDB oracle hash-exact),
  unlike the JVM binary.

Estimates carry the classic CMS guarantee: never an undercount, and
overcount <= e/width * N with probability 1 - (1/2)^depth per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share

CMS_DEPTH = 4
CMS_WIDTH = 256


def _bucket(key: Column, sketch_row: Column, width: int, salt: str) -> Column:
    """Portable bucket hash: first 32 bits of md5('<salt><row>:<key>')
    mod width — reproducible with strpos arithmetic in SQL engines that
    lack conv()."""
    h = F.md5(
        F.concat(F.lit(salt), sketch_row.cast("string"), F.lit(":"), key.cast("string"))
    )
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % width).cast("int")


def _with_rows(df: DataFrame, depth: int) -> DataFrame:
    return df.select(
        "*", F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("sketch_row")
    )


def count_min_table(
    df: DataFrame,
    key_col: str = "k",
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    salt: str = "cms",
    weight_col: str | None = None,
) -> DataFrame:
    """Build the sketch: (sketch_row, bucket, cnt) with cnt = number of
    input rows whose key hashes to that bucket in that row.  One hash
    aggregate; the partial/final pair caps the shuffle at depth*width
    rows per map task regardless of input size.

    ``weight_col`` (r14): build from PRE-AGGREGATED (key, weight) rows —
    cnt becomes SUM(weight), bit-identical to hashing the raw rows (a
    bucket's count is the sum of its keys' counts) while paying the
    depth x md5 hashing per DISTINCT key instead of per raw row."""
    # NULL keys are ignored across the whole sketch family (matching the
    # null semantics of Spark's native sketch aggregates) — a NULL would
    # otherwise hash to a NULL bucket/register row and corrupt estimates.
    cols = [F.col(key_col).cast("string").alias("__k")]
    if weight_col is not None:
        cols.append(F.col(weight_col).alias("__w"))
    keyed = _with_rows(
        df.select(*cols).filter(F.col("__k").isNotNull()),
        depth,
    )
    return (
        keyed.withColumn(
            "bucket", _bucket(F.col("__k"), F.col("sketch_row"), width, salt)
        )
        .groupBy("sketch_row", "bucket")
        .agg(
            F.count("*").alias("cnt")
            if weight_col is None
            else F.sum("__w").alias("cnt")
        )
    )


def hex32(col: Column) -> Column:
    """First 32 bits of the md5 hex digest as a bigint — the same
    portable hash the CMS buckets use, without the modulo."""
    return F.conv(F.substring(col, 1, 8), 16, 10).cast("bigint")


def kmv_sketch(
    df: DataFrame, key_col: str, k: int = 64, salt: str = "kmv"
) -> DataFrame:
    """K-minimum-values distinct-count sketch: the k smallest 32-bit
    hash values over the distinct keys, as a DataFrame of ``h`` rows.

    The 100 TB shape: map-side hash + a distributed bottom-k
    (TakeOrderedAndProject — each task keeps its local k, the driver
    merges k-sized heaps; no global sort, no full shuffle of the key
    set).  Sketches are MERGEABLE: the bottom-k of a union of sketches
    is the sketch of the union — per-partition / per-day sketches
    compose without rescanning.  Like the CMS, the sketch is a plain
    DataFrame with portable md5 hashing, so estimates are reproducible
    cross-engine (no opaque HLL binary)."""
    h = hex32(F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))))
    return (
        df.filter(F.col(key_col).isNotNull())  # null-ignoring, like the family
        .select(h.alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def kmv_estimate(sketch: DataFrame, k: int = 64) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: with the k-th smallest
    hash at fraction ``kth / 2^32`` of the hash space, the unbiased
    estimator is ``(k-1) / fraction``; a sketch with fewer than k rows
    saw every distinct hash, so its row count IS the (collision-bounded)
    exact answer.  All arithmetic is one IEEE double division of exact
    integers — bit-identical across engines."""
    agg = sketch.agg(F.count("*").alias("n_sketch"), F.max("h").alias("kth_hash"))
    est = F.when(F.col("n_sketch") < k, F.col("n_sketch").cast("double")).otherwise(
        F.lit(float((k - 1) * 2**32)) / F.col("kth_hash")
    )
    return agg.select("n_sketch", "kth_hash", est.alias("est_distinct"))


def kmv_join_overlap(
    a: DataFrame,
    key_a: str,
    b: DataFrame,
    key_b: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """KMV set-operation estimator (the K-minimum-values construction of
    Beyer et al., SIGMOD 2007 — public algorithm): estimate the distinct
    UNION and INTERSECTION of two key sets from their k-sized sketches —
    the pre-join cardinality question ("how many keys will actually
    match?") answered without joining the tables.

    Mechanics: sketch each side, take the bottom-k of the union of
    sketches (= the sketch of the union), count how many of those hashes
    appear in BOTH side sketches (rho = n_both / n_sketch), then
    est_intersect = rho * est_union.  Everything is sketch-sized (<= k
    rows) after the two bottom-k passes; each side's table is scanned
    once (the k-row sketches are lineage-checkpointed because each feeds
    two consumers).  Exact integers until the final two IEEE divisions —
    value-exact cross-engine.

    Output (one row): n_sketch, kth_hash, n_both, est_union,
    est_intersect.
    """
    ka = share(kmv_sketch(a, key_a, k, salt))
    kb = share(kmv_sketch(b, key_b, k, salt))
    comb = share(ka.unionByName(kb).distinct().orderBy("h").limit(k))
    n_both_df = (
        comb.join(ka, "h", "left_semi")
        .join(kb, "h", "left_semi")
        .agg(F.count("*").alias("n_both"))
    )
    agg = comb.agg(F.count("*").alias("n_sketch"), F.max("h").alias("kth_hash"))
    est_union = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise(F.lit(float((k - 1) * 2**32)) / F.col("kth_hash"))
    rho = F.col("n_both").cast("double") / F.col("n_sketch").cast("double")
    return (
        agg.crossJoin(n_both_df)
        .withColumn("est_union", est_union)
        .select(
            "n_sketch",
            "kth_hash",
            "n_both",
            "est_union",
            (rho * F.col("est_union")).alias("est_intersect"),
        )
    )


HLL_M = 64
HLL_ALPHA_64 = 0.709  # Flajolet et al. 2007 constant for m=64


def _rho_trailing(w: Column, w_bits: int) -> Column:
    """Portable geometric rank: trailing zeros + 1 of ``w`` (0 < w <
    2^w_bits), ``w_bits + 1`` for w = 0.  P(rho = k) = 2^-k, the same
    distribution as the HLL paper's leading-zero rank, computed with
    pure integer modulus (log2/bit-scan builtins aren't bit-portable
    across engines; a 27-way CASE chain is)."""
    expr = F.when(w == 0, F.lit(w_bits + 1))
    for k in range(1, w_bits + 1):
        expr = expr.when(w % (2**k) == 2 ** (k - 1), F.lit(k))
    return expr


def hll_registers(
    df: DataFrame,
    key_col: str,
    m: int = HLL_M,
    salt: str = "hll",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """HyperLogLog register table: (reg_idx, max_rho) — max over keys of
    the geometric rank of the key's hash suffix, register chosen by the
    hash's low bits.  Kept as a DataFrame (m rows) for the same reasons
    as the CMS/KMV/Bloom family: Spark's approx_count_distinct hides an
    engine-specific HLL binary; this one is queryable, MERGEABLE
    (per-register max of two tables = table of the union — max is
    map-side combinable, so the shuffle is bounded by m rows per task),
    and bit-reproducible in ANSI SQL.

    ``group_cols`` builds one sketch per group (e.g. per day): the
    rollup pattern — re-merging the grouped sketches (per-register max
    across groups) gives the whole-input sketch without a rescan.

    Registers no key touched are ABSENT (estimators coalesce rho=0).
    NULL keys are ignored, like approx_count_distinct — they would
    otherwise emit a (reg_idx=NULL, max_rho=NULL) row that breaks any
    consumer doing int(reg_idx) (e.g. per-micro-batch ANALYZE)."""
    if m & (m - 1):
        raise ValueError("m must be a power of two")
    w_bits = 32 - m.bit_length() + 1
    h = hex32(F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string"))))
    idx = (h % m).cast("int")
    w = F.floor(h / m).cast("bigint")
    g = list(group_cols)
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(
            *g, idx.alias("reg_idx"), _rho_trailing(w, w_bits).alias("rho")
        )
        .groupBy(*g, "reg_idx")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(
    registers: DataFrame,
    m: int = HLL_M,
    alpha: float = HLL_ALPHA_64,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Raw HLL estimate: alpha_m * m^2 / sum_j 2^(-M_j), with absent
    registers contributing 2^0 = 1 each.  Every term is an exact power
    of two (1.0 / (1::BIGINT << rho) — exact FP division, no pow()),
    summed over touched registers in FIXED reg_idx order via a
    sequential fold, then the absent-register mass added as one exact
    product; with rho <= 27 and m = 64 the sum's exponent spread stays
    under 53 bits, so it never rounds and the estimate is bit-identical
    across engines.  Deliberately NO small/large-range correction: the
    correction needs ln (not bit-portable); the KMV sketch covers the
    small range exactly.

    Output (one row per group; one row total without ``group_cols``):
    n_touched, sum_inv, est_distinct."""
    g = list(group_cols)
    inv = F.lit(1.0) / F.expr(
        "shiftleft(CAST(1 AS BIGINT), max_rho)"
    ).cast("double")
    per_reg = registers.select(*g, "reg_idx", inv.alias("inv"))
    aggs = [
        F.count("*").alias("n_touched"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("reg_idx", "inv"))),
                lambda s: s["inv"],
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("sum_touched"),
    ]
    folded = per_reg.groupBy(*g).agg(*aggs) if g else per_reg.agg(*aggs)
    sum_inv = F.col("sum_touched") + (F.lit(m) - F.col("n_touched")).cast("double")
    return folded.select(
        *g,
        "n_touched",
        sum_inv.alias("sum_inv"),
        (F.lit(alpha * m * m) / sum_inv).alias("est_distinct"),
    )


BLOOM_BITS = 1024
BLOOM_HASHES = 3


def _bloom_positions(key: Column, m_bits: int, n_hashes: int, salt: str) -> list[Column]:
    """Bit positions for ``key``: 32-bit chunk j of md5('<salt>:<key>')
    mod m — the same one-md5-many-chunks family as minhash (chunks are
    independent; n_hashes <= 4 per md5)."""
    if n_hashes > 4:
        raise ValueError("n_hashes > 4 needs extra salts; 3 is the standard choice")
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return [
        F.conv(F.substring(h, j * 8 + 1, 8), 16, 10).cast("bigint") % m_bits
        for j in range(n_hashes)
    ]


def bloom_filter_table(
    df: DataFrame,
    key_col: str,
    m_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    salt: str = "bloom",
) -> DataFrame:
    """Bloom filter AS a DataFrame: (word_idx, bits) rows — 32-bit words
    in a BIGINT, OR-ed together — the membership primitive behind
    pre-join pruning and fast decontamination probes ("might this key be
    in the 100 TB corpus?" without touching it).

    Same doctrine as the CMS: Spark's own ``bloom_filter_agg`` returns an
    opaque engine binary; this keeps the filter queryable, mergeable
    (bit_or of two filters' words = filter of the union — the aggregate
    is map-side combinable, so the shuffle is bounded by m/32 rows per
    task regardless of input size), and bit-reproducible in ANSI SQL.
    Classic guarantee: no false negatives; false-positive rate
    ~ (1 - e^(-kn/m))^k.

    Output: one row per word that has at least one bit set (absent word
    = 0 bits; probes coalesce).  NULL keys are ignored, matching
    bloom_filter_agg (a NULL inserts nothing; a NULL probe returns
    false)."""
    pos = df.filter(F.col(key_col).isNotNull()).select(
        F.explode(
            F.array(*_bloom_positions(F.col(key_col), m_bits, n_hashes, salt))
        ).alias("p")
    )
    return (
        pos.select(
            (F.col("p") / 32).cast("int").alias("word_idx"),
            # shiftleft's Python wrapper only takes an int literal, so the
            # column-shift goes through the SQL expression form.
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    bloom: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    salt: str = "bloom",
) -> DataFrame:
    """Probe the filter for every distinct probe key: maybe_member = all
    ``n_hashes`` bits set.  The filter is m/32 rows — always broadcast;
    cost is O(probes), never a pass over the sketched data.  Guarantees:
    a key that was inserted ALWAYS probes true; a true verdict may be a
    false positive (rate set by m, k, n).

    Output: (key_col, maybe_member)."""
    p = probes.select(F.col(key_col)).distinct()
    hits = p.select(
        key_col,
        F.posexplode(
            F.array(*_bloom_positions(F.col(key_col), m_bits, n_hashes, salt))
        ).alias("j", "p"),
    ).select(
        key_col,
        (F.col("p") / 32).cast("int").alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias(
            "mask"
        ),
    )
    joined = hits.join(F.broadcast(bloom), "word_idx", "left")
    bit_set = (
        F.coalesce(F.col("bits"), F.lit(0).cast("bigint")).bitwiseAND(F.col("mask"))
        == F.col("mask")
    )
    return joined.groupBy(key_col).agg(
        # NULL probe key → NULL mask → NULL bit test; coalesce to "not a
        # member" (a NULL was never inserted) instead of a NULL verdict.
        F.min(F.coalesce(bit_set.cast("int"), F.lit(0)))
        .cast("boolean")
        .alias("maybe_member")
    )


def cms_estimate(
    cms: DataFrame,
    probes: DataFrame,
    key_col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    salt: str = "cms",
) -> DataFrame:
    """Point-query the sketch for every probe key: estimate = min over
    the depth rows of the probed bucket's count.  The sketch side is
    depth*width rows -> always broadcast; cost is O(probes), never a
    second pass over the sketched data.  Unseen keys estimate 0 (their
    buckets may be absent from the sketch table).

    Probes are made DISTINCT first: the estimate groups back by every
    probe column, so duplicate probe rows would silently collapse to one
    output row — distinct makes that contract explicit (one output row
    per distinct probe row).  Sketch internals are joined under
    ``__cms_``-prefixed names so a probe column named ``sketch_row``,
    ``bucket`` or ``cnt`` can't collide with them."""
    clash = [c for c in probes.columns if c.startswith("__cms_") or c == "cms_est"]
    if clash:
        raise ValueError(
            f"probe columns {clash} collide with cms_estimate's internals "
            "(__cms_* and cms_est are reserved)"
        )
    probes = probes.distinct()
    p = probes.select(
        "*",
        F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("__cms_row"),
    ).withColumn(
        "__cms_bucket",
        _bucket(F.col(key_col).cast("string"), F.col("__cms_row"), width, salt),
    )
    sk = cms.select(
        F.col("sketch_row").alias("__cms_row"),
        F.col("bucket").alias("__cms_bucket"),
        F.col("cnt").alias("__cms_cnt"),
    )
    joined = p.join(F.broadcast(sk), ["__cms_row", "__cms_bucket"], "left")
    return joined.groupBy(*probes.columns).agg(
        F.min(F.coalesce(F.col("__cms_cnt"), F.lit(0))).alias("cms_est")
    )


def bloom_prefilter(
    df: DataFrame,
    key_col: str,
    bloom: DataFrame,
    m_bits: int = BLOOM_BITS,
    n_hashes: int = BLOOM_HASHES,
    salt: str = "bloom",
    out_col: str = "maybe_member",
) -> DataFrame:
    """Append ``out_col`` to EVERY row of ``df``: does ``key_col`` pass
    the (broadcast) bloom filter?  This is the pre-shuffle join-pruning
    shape: :func:`bloom_probe` groups by distinct key, so joining its
    verdicts back to a 100 TB fact would itself be a data-scale shuffle
    — the very cost the bloom exists to avoid.  Here the fact instead
    takes ``n_hashes`` BROADCAST hash-joins against the m/32-row word
    table: map-side only, zero fact shuffle.  No false negatives; false
    positives at the standard (1 - e^(-kn/m))^k rate — callers follow
    with the exact join on the surviving rows.  NULL keys get ``false``
    (a NULL was never inserted)."""
    clash = [c for c in df.columns if c.startswith("__bp_") or c == out_col]
    if clash:
        raise ValueError(
            f"input columns {clash} collide with bloom_prefilter internals"
        )
    if n_hashes > 4:
        # md5 yields only four 8-hex chunks; a fifth substring would be
        # empty -> conv('') is NULL -> every row silently reads
        # maybe_member=false (false NEGATIVES).  Same guard as
        # _bloom_positions; fail loudly instead (ADVICE r14).
        raise ValueError("n_hashes > 4 not supported (md5 has 4 chunks)")
    # One md5 per row (r14): the per-position chunks below all slice the
    # SAME digest, but building each position from _bloom_positions would
    # re-evaluate md5 once per hash inside separate projections (the
    # joins break whole-stage subexpression elimination) — 3x the hash
    # cost on the fact side for identical bits.
    out = df.withColumn(
        "__bp_h", F.md5(F.concat(F.lit(f"{salt}:"), F.col(key_col).cast("string")))
    )
    hits = []
    positions = [
        F.conv(F.substring(F.col("__bp_h"), j * 8 + 1, 8), 16, 10)
        .cast("bigint") % m_bits
        for j in range(n_hashes)
    ]
    for j, p in enumerate(positions):
        out = (
            out.withColumn(f"__bp_p{j}", p)
            .withColumn(f"__bp_w{j}", (F.col(f"__bp_p{j}") / 32).cast("int"))
            .withColumn(
                f"__bp_m{j}",
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), CAST(__bp_p{j} % 32 AS INT))"
                ),
            )
        )
        words = bloom.select(
            F.col("word_idx").alias(f"__bp_w{j}"),
            F.col("bits").alias(f"__bp_b{j}"),
        )
        out = out.join(F.broadcast(words), f"__bp_w{j}", "left")
        hits.append(
            F.coalesce(F.col(f"__bp_b{j}"), F.lit(0).cast("bigint")).bitwiseAND(
                F.col(f"__bp_m{j}")
            )
            == F.col(f"__bp_m{j}")
        )
    verdict = hits[0]
    for h in hits[1:]:
        verdict = verdict & h
    out = out.withColumn(
        out_col, F.coalesce(verdict.cast("boolean"), F.lit(False))
    )
    drop = [
        f"__bp_{t}{j}" for j in range(n_hashes) for t in ("p", "w", "m", "b")
    ] + ["__bp_h"]
    return out.drop(*drop)

AMS_DEPTH = 5


def ams_sign(i: int, key: Column) -> Column:
    """+/-1 four-wise-ish sign hash for AMS row ``i``: parity of the
    first 32-bit chunk of md5('ams<i>:' || key) — the md5-chunk family
    every sketch in this module rides (SQL twin:
    plans/llmdata.py::_sql_ams_sign)."""
    h = F.md5(F.concat(F.lit(f"ams{i}:"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 2) * 2 - 1


def ams_counters(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """One-row AMS F2 sketch of ``df``'s ``key_col`` frequency
    distribution: columns sketch='ams', z0..z{AMS_DEPTH-1}.  By
    linearity z_i = SUM over ROWS of sign_i(key) — no per-key
    aggregation, one map-side-combinable pass, and counters of disjoint
    inputs merge by plain addition (the streaming maintenance sink's
    contract).  Estimate = median of z_i^2 (:func:`ams_estimate`)."""
    return df.agg(
        *[
            F.sum(ams_sign(i, F.col(key_col))).cast("bigint").alias(f"z{i}")
            for i in range(AMS_DEPTH)
        ]
    ).select(F.lit("ams").alias("sketch"), *[f"z{i}" for i in range(AMS_DEPTH)])


def ams_estimate(counters: DataFrame) -> DataFrame:
    """F2 estimate from a (merged) counters row: median of the
    DECIMAL(38,0)-exact squares, cast to double last."""
    sq = F.array_sort(
        F.array(
            *[
                (F.col(f"z{i}").cast("decimal(38,0)") * F.col(f"z{i}"))
                for i in range(AMS_DEPTH)
            ]
        )
    )
    return counters.select(
        *[f"z{i}" for i in range(AMS_DEPTH)],
        F.element_at(sq, AMS_DEPTH // 2 + 1).cast("double").alias("f2_est"),
    )


def kmv_anotb(
    a: DataFrame,
    key_a: str,
    b: DataFrame,
    key_b: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """KMV set-DIFFERENCE estimator (the theta-sketch A-not-B shape on
    the same Beyer et al. construction as :func:`kmv_join_overlap`):
    estimate |A \\ B| from two k-row sketches without joining the
    tables.  rho = (#union-sketch hashes present in A's sketch but NOT
    B's) / n_sketch; est = rho * est_union.  Everything after the two
    bottom-k passes is sketch-sized; exact integers until the final
    IEEE divisions.

    Output (one row): n_sketch, kth_hash, n_anotb, est_union,
    est_anotb."""
    ka = share(kmv_sketch(a, key_a, k, salt))
    kb = share(kmv_sketch(b, key_b, k, salt))
    comb = share(ka.unionByName(kb).distinct().orderBy("h").limit(k))
    n_anotb_df = (
        comb.join(ka, "h", "left_semi")
        .join(kb, "h", "left_anti")
        .agg(F.count("*").alias("n_anotb"))
    )
    agg = comb.agg(F.count("*").alias("n_sketch"), F.max("h").alias("kth_hash"))
    est_union = F.when(
        F.col("n_sketch") < k, F.col("n_sketch").cast("double")
    ).otherwise(F.lit(float((k - 1) * 2**32)) / F.col("kth_hash"))
    rho = F.col("n_anotb").cast("double") / F.col("n_sketch").cast("double")
    return (
        agg.crossJoin(n_anotb_df)
        .withColumn("est_union", est_union)
        .select(
            "n_sketch",
            "kth_hash",
            "n_anotb",
            "est_union",
            (rho * F.col("est_union")).alias("est_anotb"),
        )
    )
