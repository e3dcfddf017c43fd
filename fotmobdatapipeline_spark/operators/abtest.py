"""Shared A/B-experimentation primitives used by BOTH the batch
catalog entries (plans/events.py) and their streaming twins
(streaming/abtest.py) — one definition of the hash split and of each
statistic, so stream and batch cannot silently diverge.

Bit-exactness rules follow plans/events.py: exact integer sufficient
statistics, fixed IEEE expression trees, transcendental readouts
rounded per the DSIR precedent (ln is not bit-portable across libm
implementations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.lineage import share

MSPRT_TAU2 = 0.01
MSPRT_LN20 = 2.9957322735539909  # ln(1/0.05)


def ab_variant():
    """Portable md5 user->variant assignment shared by every A/B entry
    (the SQL twin is plans/events.py::_sql_hex32_ab): ONE definition of
    the split, so a salt or width change cannot silently diverge
    between entries of the same experiment family."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )


def msprt_hourly_counts(events: DataFrame) -> DataFrame:
    """Per-hour (na, xa, nb, xb) big-purchase conversion counts — the
    MERGEABLE sufficient statistics of the mSPRT monitor: plain sums,
    so a streaming sink can fold micro-batch increments and stay
    cell-identical to a batch build over the whole feed."""
    p = events.filter(F.col("event_type") == "purchase").select(
        F.expr("unix_micros(ts) div 3600000000").alias("hour"),
        ab_variant().alias("variant"),
        (F.col("value") > 150).cast("int").alias("conv"),
    )
    is_a, is_b = F.col("variant") == 0, F.col("variant") == 1
    return p.groupBy("hour").agg(
        F.sum(is_a.cast("int")).cast("bigint").alias("na"),
        F.sum(F.when(is_a, F.col("conv")).otherwise(0)).cast("bigint").alias("xa"),
        F.sum(is_b.cast("int")).cast("bigint").alias("nb"),
        F.sum(F.when(is_b, F.col("conv")).otherwise(0)).cast("bigint").alias("xb"),
    )


def msprt_report(hourly: DataFrame) -> DataFrame:
    """The always-valid monitoring readout from the hourly counts
    table: exact integer CUMULATIVE counts per hour (prefix folds over
    the broadcast calendar-bounded hour list — never a partition-less
    window), then the mixture-SPRT log likelihood ratio per hour in one
    fixed IEEE tree, rounded to 9 dp (ln portability)."""
    h = share(hourly)  # two consumers: rows + steps
    steps = h.agg(
        F.array_sort(F.collect_list(F.struct("hour", "na", "xa", "nb", "xb"))).alias(
            "steps"
        )
    )
    zero4 = F.struct(
        F.lit(0).cast("bigint").alias("na"),
        F.lit(0).cast("bigint").alias("xa"),
        F.lit(0).cast("bigint").alias("nb"),
        F.lit(0).cast("bigint").alias("xb"),
    )
    c = (
        h.crossJoin(F.broadcast(steps))
        .withColumn(
            "cum",
            F.aggregate(
                F.filter("steps", lambda s: s["hour"] <= F.col("hour")),
                zero4,
                lambda a, s: F.struct(
                    (a["na"] + s["na"]).alias("na"),
                    (a["xa"] + s["xa"]).alias("xa"),
                    (a["nb"] + s["nb"]).alias("nb"),
                    (a["xb"] + s["xb"]).alias("xb"),
                ),
            ),
        )
        .select(
            "hour",
            F.col("cum")["na"].alias("n_a"),
            F.col("cum")["xa"].alias("x_a"),
            F.col("cum")["nb"].alias("n_b"),
            F.col("cum")["xb"].alias("x_b"),
        )
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    pooled = (F.col("x_a") + F.col("x_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    theta = (
        F.col("x_a").cast("double") / F.col("n_a").cast("double")
        - F.col("x_b").cast("double") / F.col("n_b").cast("double")
    )
    v = (
        pooled
        * (F.lit(1.0) - pooled)
        * (
            F.lit(1.0) / F.col("n_a").cast("double")
            + F.lit(1.0) / F.col("n_b").cast("double")
        )
    )
    m = c.select(
        "hour", "n_a", "x_a", "n_b", "x_b", theta.alias("theta_hat"), v.alias("v")
    )
    tau2 = F.lit(MSPRT_TAU2)
    log_lambda = F.when(
        F.col("v") > 0,
        F.round(
            F.lit(0.5) * F.log(F.col("v") / (F.col("v") + tau2))
            + F.col("theta_hat")
            * F.col("theta_hat")
            * tau2
            / (F.lit(2.0) * F.col("v") * (F.col("v") + tau2)),
            9,
        ),
    )
    return m.select(
        "hour",
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        "theta_hat",
        log_lambda.alias("log_lambda"),
        (log_lambda >= F.lit(MSPRT_LN20)).alias("crossed"),
    )


# Canonical event-type enumeration for the events table.  ONE
# definition (plans/events.py imports it): the chi2 batch entry's
# oracle, the Spark-side report, and the streaming sink all enumerate
# cells in this order, so the tuple's contents AND order are part of
# the bit-identity contract (the ab_variant doctrine).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def chi2_counts(events: DataFrame) -> DataFrame:
    """The variant x event_type contingency cells — the MERGEABLE
    sufficient statistics of the independence test: plain integer
    counts per (variant, event_type), so a streaming sink can fold
    micro-batch increments by cell-wise SUM and stay cell-identical to
    a batch build over the whole feed (the msprt_hourly_counts
    doctrine).  At most 2 x |event types| rows."""
    return (
        events.select("event_type", ab_variant().alias("variant"))
        .groupBy("variant", "event_type")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def chi2_report(counts: DataFrame) -> DataFrame:
    """Chi-square independence statistic from the contingency-cell
    table: one conditional aggregate pivots the (<= 10)-row cell table
    to a single wide row of exact integers, then the statistic is
    assembled in FIXED expression order (variant-major, event types in
    EVENT_TYPES order) — bit-identical across engines and across
    the batch/stream split.  Missing cells count 0."""
    k = len(EVENT_TYPES)
    s = counts.agg(
        F.sum("n").cast("bigint").alias("n"),
        *[
            F.sum(
                F.when(
                    (F.col("variant") == a) & (F.col("event_type") == t),
                    F.col("n"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"o_{a}_{j}")
            for a in (0, 1)
            for j, t in enumerate(EVENT_TYPES)
        ],
        *[
            F.sum(F.when(F.col("variant") == a, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias(f"r_{a}")
            for a in (0, 1)
        ],
        *[
            F.sum(F.when(F.col("event_type") == t, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias(f"k_{j}")
            for j, t in enumerate(EVENT_TYPES)
        ],
    )
    nd = F.col("n").cast("double")
    chi2 = None
    for a in (0, 1):
        for j in range(k):
            e = F.col(f"r_{a}").cast("double") * F.col(f"k_{j}").cast("double") / nd
            d = F.col(f"o_{a}_{j}").cast("double") - e
            # Zero marginal => the observed cell is necessarily 0 too;
            # the 0/0 term is defined as 0 (and guarded identically in
            # the oracle) — without the guard a degenerate corpus (or a
            # first micro-batch missing one event type in the streaming
            # twin) raises ANSI divide-by-zero instead of reporting.
            cell = F.when(
                F.col(f"r_{a}") * F.col(f"k_{j}") == 0, F.lit(0.0)
            ).otherwise(d * d / e)
            chi2 = cell if chi2 is None else chi2 + cell
    # Cramér's V effect size: min(rows-1, cols-1) = min(1, k-1) = 1
    # for the 2 x k table, so V = sqrt(chi2 / n).
    return s.select(
        "n",
        F.lit(4).alias("dof"),
        chi2.alias("chi2"),
        F.sqrt(chi2 / F.col("n").cast("double")).alias("cramers_v"),
    )
