"""Linear quality-probe training on hashed token features.

The classifier-filtering step of the public LLM-corpus recipes (GPT-3's
quality filter, CCNet, Gopher): train a tiny linear model that separates
a "quality" slice from the rest of the corpus, then score every raw
document with it.  Reference scope: the reference pipeline has no
trainable operator at all (its closest analogue is the fixed-weight SGA
metric, /root/reference/fotmob-dag.py:150-156); this module is part of
the mandated LLM-data-pipeline extension surface.

Why a LINEAR probe with squared loss (ridge), not logistic: the training
loop becomes pure rational arithmetic — no sigmoid/exp/ln anywhere — so
the trained weights and every downstream score are BIT-IDENTICAL across
engines (IEEE +,-,*,/ are exactly-rounded and engine-independent; only
transcendentals and summation ORDER are hazards, and both are eliminated
here).  For corpus filtering a monotone score is all that is used.

The 100 TB shape — ONE corpus scan, ZERO data shuffles:

1. Featurize per row with higher-order functions (no explode): token ->
   md5 bucket in [0, d), x_j = occurrence count of bucket j.  Append a
   bias 1 and the 0/1 label y, giving z = [x_0..x_{d-1}, 1, y].
2. Aggregate the Gram matrix G = sum_rows(z z^T) — (d+2)(d+3)/2 integer
   SUM expressions, map-side combined, one global (single-row) reduce.
   G holds every sufficient statistic of ridge regression: S = G[:d+1,
   :d+1] (features x features, bias included), b_j = G[j, d+1] (feature
   x label), N = G[d, d], and the class total sum(y) = G[d+1, d+1].
3. Gradient descent runs DRIVER-SIDE on the (d+2)^2 matrix — the data
   is never rescanned, and the per-step cost is O(d^2) regardless of
   corpus size.  grad_j = (S w - b)_j / N + lam * w_j.

Exactness budget: token counts are small ints, so every Gram cell is an
exact integer (BIGINT holds 10^12 docs x 10^4 per-doc product; beyond
that cast the sums to DECIMAL(38,0)).  GD then runs in doubles with a
PINNED evaluation order (ascending-k left fold seeded with the k=0
term), mirrored token-for-token by the SQL oracle — see
:func:`gd_weights`.  Learning rate and lam must be exact binary
fractions (2^-k) so the literal parses identically everywhere.

Mergeability: G is a plain sum over rows, so per-shard / per-micro-batch
Gram matrices fold by cell-wise addition into exactly the whole-corpus
matrix — the property the streaming model-maintenance sink
(streaming/sketches.py, a statefs fold) is built on, same as the
CMS/DSIR sinks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fotmobdatapipeline_spark.functions.hof import bind_once as _bind_once
from fotmobdatapipeline_spark.operators.sketches import hex32

PROBE_BUCKETS = 8
PROBE_LR = 1.0 / 1024  # 2^-10: exact binary, below 2/lambda_max for
#                        count-scale features (~60-token docs)
PROBE_LAM = 1.0 / 16
PROBE_ITERS = 4


def token_bucket_expr(text: Column, d: int, salt: str = "clf") -> Column:
    """array<int> of the md5 bucket of every whitespace token (every
    occurrence, not distinct).  Portable: bucket = first-32-md5-bits of
    '<salt>:<token>' mod d, the sketch family's convention."""
    toks = F.split(text, " ")
    return F.transform(
        toks,
        lambda t: (hex32(F.md5(F.concat(F.lit(f"{salt}:"), t))) % d).cast("int"),
    )


def feature_counts_expr(text: Column, d: int, salt: str = "clf") -> Column:
    """array<bigint> length d: x_j = count of tokens in bucket j.
    Pure higher-order functions — map-side, no explode, no shuffle.
    The bucket scan is bound once per row (not once per feature)."""
    bks = token_bucket_expr(text, d, salt)
    return _bind_once(
        bks,
        lambda bk: F.transform(
            F.sequence(F.lit(0), F.lit(d - 1)),
            lambda j: F.size(F.filter(bk, lambda b: b == j)).cast("bigint"),
        ),
    )


def _gram_cols(d: int) -> list[tuple[int, int]]:
    """Upper-triangle (j, k) index pairs of the (d+2)x(d+2) Gram."""
    return [(j, k) for j in range(d + 2) for k in range(j, d + 2)]


def probe_gram(
    docs: DataFrame,
    is_positive: Column,
    text_col: str = "text",
    d: int = PROBE_BUCKETS,
    salt: str = "clf",
) -> DataFrame:
    """ONE-row DataFrame of the Gram matrix G = sum(z z^T) over
    z = [x_0..x_{d-1}, 1, y], as columns ``g_{j}_{k}`` (j <= k, all
    BIGINT-exact).  Map-side partial aggregation; the only shuffle is
    the single-row final reduce.  This is the entire training I/O for
    any corpus size."""
    z = F.concat(
        feature_counts_expr(F.col(text_col), d, salt),
        F.array(
            F.lit(1).cast("bigint"),
            F.when(is_positive, F.lit(1)).otherwise(F.lit(0)).cast("bigint"),
        ),
    )
    pairs = _gram_cols(d)
    # bind z once per row, emit the 55 products as one array — the
    # aggregate then sums positions of a single materialized column
    prods = _bind_once(
        z,
        lambda zz: F.array(
            *[
                (F.element_at(zz, j + 1) * F.element_at(zz, k + 1)).cast("bigint")
                for j, k in pairs
            ]
        ),
    )
    zd = docs.select(prods.alias("p"))
    aggs = [
        F.sum(F.element_at("p", i + 1)).alias(f"g_{j}_{k}")
        for i, (j, k) in enumerate(pairs)
    ]
    return zd.agg(*aggs)


def gram_matrices(row, d: int) -> tuple[list[list[float]], list[float], float]:
    """Unpack a :func:`probe_gram` row into (S, b, n): S the
    (d+1)x(d+1) feature Gram (bias included), b the feature-label
    cross vector, n the row count.  Values converted once to float
    (exact below 2^53)."""
    g = {}
    for j, k in _gram_cols(d):
        v = row[f"g_{j}_{k}"]
        g[(j, k)] = g[(k, j)] = float(v if v is not None else 0)
    s = [[g[(j, k)] for k in range(d + 1)] for j in range(d + 1)]
    b = [g[(j, d + 1)] for j in range(d + 1)]
    return s, b, g[(d, d)]


def gd_weights(
    s: list[list[float]],
    b: list[float],
    n: float,
    lr: float = PROBE_LR,
    lam: float = PROBE_LAM,
    iters: int = PROBE_ITERS,
) -> list[float]:
    """Ridge-regression gradient descent from sufficient statistics:
    w <- w - lr * ((S w - b)/n + lam*w), w0 = 0.  O(iters * d^2),
    driver-side, data-free.

    The float program is PINNED for cross-engine replay: the S w fold
    is seeded with the k=0 term and accumulates ascending k (matching a
    left-associated ``s0*w0 + s1*w1 + ...`` SQL chain), and the update
    is literally ``w[j] - lr * ((acc - b[j]) / n + lam * w[j])``.  Any
    SQL oracle must unroll the SAME shape."""
    dd = len(b)
    w = [0.0] * dd
    for _ in range(iters):
        nxt = []
        for j in range(dd):
            acc = s[j][0] * w[0]
            for k in range(1, dd):
                acc = acc + s[j][k] * w[k]
            nxt.append(w[j] - lr * ((acc - b[j]) / n + lam * w[j]))
        w = nxt
    return w


def train_linear_probe(
    docs: DataFrame,
    is_positive: Column,
    text_col: str = "text",
    d: int = PROBE_BUCKETS,
    salt: str = "clf",
    lr: float = PROBE_LR,
    lam: float = PROBE_LAM,
    iters: int = PROBE_ITERS,
) -> list[float]:
    """End-to-end trainer: one Gram scan + driver GD.  Returns the
    d+1 weights (bias last).  Only the (d+2)^2/2-cell Gram row crosses
    the driver — the model, never the data (the k-means trainer's
    contract, operators/similarity.py)."""
    row = probe_gram(docs, is_positive, text_col, d, salt).first()
    s, b, n = gram_matrices(row, d)
    return gd_weights(s, b, n, lr, lam, iters)


def probe_score_expr(
    text: Column, weights: list[float], d: int, salt: str = "clf"
) -> Column:
    """Per-row score x . w + bias with the trained weights embedded as
    literals — stateless, map-only, streaming-safe (the
    ``dsir_score_expr`` deployment shape).

    Pinned order: left-associated ascending-j chain ``x0*w0 + x1*w1 +
    ... + x_{d-1}*w_{d-1} + w_bias`` — bit-equal to the oracle's
    unrolled SQL chain and to any batch scorer using this expr.  The
    feature vector is bound once per row (the chain references it d
    times)."""
    xs = feature_counts_expr(text, d, salt)

    def chain(xx: Column) -> Column:
        e = F.element_at(xx, 1).cast("double") * F.lit(weights[0])
        for j in range(1, d):
            e = e + F.element_at(xx, j + 1).cast("double") * F.lit(weights[j])
        return e + F.lit(weights[d])

    return _bind_once(xs, chain)
