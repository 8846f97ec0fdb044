"""Embedding k-means for corpus curation (round 14, built ahead for
the r15 driver window).

Why Lloyd's algorithm here: semantic bucketing of a corpus — domain
balancing, semantic dedup beyond sign-LSH, IVF coarse-quantizer
TRAINING (llm/similarity.py ann_topk_ivf currently uses the first-k
deterministic bank; these trained centroids drop straight into its
``cents`` contract) — all want k centers learned from the data at
corpus scale.

One driver loop at every size: kmeans_train makes one bounded collect
of (id, vector, md5 init key) — LIMIT MAX_TRAIN_ROWS + 1; more rows
raise ValueError — and runs Lloyd's rounds in numpy on the driver.
Only the k × dim centroid bank leaves the trainer; assignment over the
full corpus (kmeans_fit_assign, semantic_dedup_pairs) stays a map-side
Arrow pass against the broadcast bank.

Determinism (the engine's cross-engine discipline, queries/base.py):
double summation is order-dependent, so a plain mean would make
centroids — and downstream assignments near ties — vary with input
order.  Component sums therefore run over the units of the engine's
``CAST(x AS DECIMAL(30,10))`` as exact integers (order-free;
embeddings are float32 ≪ 10 fractional digits), and each new centroid
component rounds at 9 decimals before going back to DOUBLE.  The
engine's cast defines the units (_quantized_units reproduces it and
asks the engine for the values it cannot prove), so the same input
gives bit-identical centroids on any partition layout, which is what
lets a SQL oracle replay whole training runs.

Empty clusters keep their previous centroid (the standard Lloyd
fallback; deterministic).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ROUND = 9


def _np_dists(X, C):
    """Squared-L2 distance matrix (n x k) with the ENGINE's summation
    order: per (row, centroid) the fold is acc + (x_j - c_j)^2 in dim
    order, left to right — a dim loop of vectorized float64 ops issues
    the identical IEEE add sequence per cell, so every distance is
    bit-equal to a SQL ``aggregate(zip_with(...))`` fold and to the
    DuckDB list_reduce replay.  The r15 optimization-round change
    (guide §4.2): the interpreted-HOF fold cost ~µs per (row,
    centroid, dim) element; this runs the same arithmetic through
    numpy at C speed."""
    import numpy as np

    D = np.zeros((X.shape[0], C.shape[0]), dtype=np.float64)
    for j in range(C.shape[1]):
        t = X[:, j, None] - C[None, :, j]
        D += t * t
    return D


def _np_l2_normalize(X):
    """Row-wise L2 normalization matching similarity.l2_normalize
    bit-for-bit: norm = sqrt(fold acc + v*v in dim order), then each
    component divided by it; zero vectors pass through unchanged."""
    import numpy as np

    acc = np.zeros(X.shape[0], dtype=np.float64)
    for j in range(X.shape[1]):
        acc += X[:, j] * X[:, j]
    n = np.sqrt(acc)
    safe = np.where(n == 0.0, 1.0, n)
    out = X / safe[:, None]
    out[n == 0.0] = X[n == 0.0]
    return out


def _np_mat(col) -> "object":
    """pandas Series of float sequences -> (n x d) float64 matrix
    (exact widening, same as transform(x -> cast(x as double)))."""
    import numpy as np

    return np.array([np.asarray(v, dtype=np.float64) for v in col])


# The training collect is LIMIT n+1; a larger corpus raises ValueError.
# 100k rows x 64 dims x 8 B = ~50 MB on the driver.
MAX_TRAIN_ROWS = 100_000
# Fast-tier band (in fractional units of 1e-10) around a .5 rounding
# boundary, for |x| <= 8; it widens in proportion to |x| above that.
# Values outside it quantize vectorized; values inside go through the
# exact per-value tier below.
_HALF_GUARD = 1e-4


def _quantize_one_exact(x: float):
    """Exact HALF_UP unit count for one double near a .5 boundary, or
    None when the engine's string-mediated cast is not provably equal.

    Spark's cast is double -> Double.toString -> BigDecimal ->
    setScale(10, HALF_UP).  Any round-trip string parses to a decimal
    within ulp(x)/2 of the exact binary value, so the cast result is
    determined by the exact value UNLESS that half-ulp interval
    straddles a .5 boundary.  Two provably-safe cases:

    * the exact fraction IS .5 and repr(x) is the exact decimal
      expansion (common for float32-origin values: short binary
      fractions) — every shortest-unique string is then the exact
      digits (possibly zero-padded), and HALF_UP rounds away from
      zero;
    * the exact fraction is farther from .5 than half an ulp — no
      valid string can flip the rounding.

    Anything else, NaN and infinities included, returns None and the
    caller asks the engine."""
    import math
    from decimal import Decimal
    from fractions import Fraction

    if not math.isfinite(x):
        return None
    p, q = abs(x).as_integer_ratio()
    n_, r = divmod(p * 10 ** 10, q)
    if 2 * r == q:
        if Decimal(repr(x)) == Decimal(x):
            return n_ + 1  # exact .5: HALF_UP rounds away from zero
        return None
    # half-ulp interval around the exact value, in 1e-10 units
    w = Fraction(math.ulp(x)) / 2 * 10 ** 10
    d = abs(Fraction(r, q) - Fraction(1, 2))
    if d <= w:
        return None
    return n_ + (1 if 2 * r > q else 0)


def _quantized_units(spark, X):
    """Signed int64 units of 1e-10 for every value of X, equal to the
    engine's ``CAST(x AS DECIMAL(30,10))`` (HALF_UP; NULL, for NaN and
    infinities, counts as 0 — SQL sum skips it).

    Fast tier: for values whose fractional part at the 10th digit is
    at least ``_HALF_GUARD * max(1, |x|/8)`` away from .5,
    ``floor(|x|*1e10 + 0.5)`` in float64 is exact for any round-trip
    string: the float error, ulp(|x|*1e10)/2, and the string-parse
    slack, ulp(x)/2 * 1e10, both grow in proportion to |x| and stay
    5x inside the band.  Values inside the band take the exact
    integer tier (_quantize_one_exact); the few it cannot prove get
    their units from the engine's own cast, in one query over only
    those values.

    Raises ValueError when ``len(X) * max|unit| >= 2**62``: the
    component sums would leave int64 headroom."""
    import numpy as np

    ax = np.abs(X)
    u = ax * 1e10
    top = np.floor(np.where(np.isfinite(u), u, 0.0).max(initial=0.0) + 0.5)
    if len(X) * top >= 2 ** 62:
        raise ValueError(
            "kmeans_train: component sums exceed int64 headroom "
            f"(rows x max|unit| >= 2**62; max |x| = {float(ax.max())})")
    band = _HALF_GUARD * np.maximum(1.0, ax / 8)
    fast = np.abs(u - np.floor(u) - 0.5) >= band
    units = np.copysign(np.where(fast, np.floor(u + 0.5), 0.0), X)
    units = units.astype(np.int64)
    flat, xs = units.reshape(-1), X.reshape(-1)
    ask = []
    for i in np.flatnonzero(~fast):
        x = float(xs[i])
        exact = _quantize_one_exact(x)
        if exact is None:
            ask.append(i)
        else:
            flat[i] = exact if x > 0 else -exact
    if ask:
        cast = spark.createDataFrame(
            [(float(xs[i]),) for i in ask], "x double"
        ).select(F.col("x").cast("decimal(30,10)").alias("d")).collect()
        for i, r in zip(ask, cast):
            flat[i] = 0 if r.d is None else int(r.d.scaleb(10))
    return units


def kmeans_train(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iters: int = 5,
) -> list[list[float]]:
    """Lloyd's k-means with deterministic hash-spread init and a
    FIXED iteration count (engine-replayable: a convergence test on
    doubles would couple the round count to float noise).  Returns the
    k × dim centroid bank (driver-side — small by construction).

    Init picks the k vectors that sort first by (md5(CAST(id AS
    STRING)), id, vector) — the deterministic_split trick.  Replayable
    like first-k-by-id (the engine computes the key, and the DuckDB
    replay hashes the same decimal string) but without its degeneracy:
    the first k rows of a corpus are often CLUSTERED (one crawl batch,
    one domain), while an md5 order is a uniform sample of the id
    space (VERDICT r14 What's-wrong #4).  The vector only breaks ties
    between duplicate ids.

    Each round: argmin assignment through _np_dists (first minimum,
    so the lowest cluster id wins ties), exact integer sums of the
    DECIMAL(30,10) units per (cluster, component), then
    ``round(float(S / 1e10) / n, 9)`` — float(S / 1e10) is the double
    the engine's collect of the DECIMAL sum returns.

    Raises ValueError for a NULL id; a NULL, empty or ragged vector;
    more than MAX_TRAIN_ROWS rows; fewer than k rows; and component
    sums past int64 headroom (see _quantized_units)."""
    from decimal import Decimal, localcontext

    import numpy as np

    if k <= 0 or n_iters <= 0:
        raise ValueError(f"k and n_iters must be positive: {k}, {n_iters}")
    rows = (
        df.select(id_col, vec_col, F.md5(F.col(id_col).cast("string")))
        .limit(MAX_TRAIN_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_TRAIN_ROWS:
        raise ValueError(
            f"kmeans_train: the corpus exceeds MAX_TRAIN_ROWS "
            f"({MAX_TRAIN_ROWS}) rows")
    if len(rows) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(rows)}")
    if any(r[0] is None for r in rows):
        raise ValueError(f"kmeans_train: NULL {id_col}")
    dim = len(rows[0][1] or ())
    if dim == 0 or any(r[1] is None or len(r[1]) != dim for r in rows):
        raise ValueError(
            f"kmeans_train: every {vec_col} must be a non-NULL vector "
            f"of one non-zero length (NULL, empty or ragged vector)")
    X = np.array([r[1] for r in rows], dtype=np.float64)
    units = _quantized_units(df.sparkSession, X)
    vecs = X.tolist()
    order = sorted(
        range(len(rows)), key=lambda i: (rows[i][2], rows[i][0], vecs[i]))
    C = X[order[:k]]
    with localcontext() as ctx:
        ctx.prec = 50
        ten10 = Decimal(10) ** 10
        for _ in range(n_iters):
            cid = np.argmin(_np_dists(X, C), axis=1)
            counts = np.bincount(cid, minlength=k)
            sums = np.zeros((k, dim), dtype=np.int64)
            np.add.at(sums, cid, units)
            new = C.copy()
            for c in range(k):
                n = int(counts[c])
                if n == 0:
                    continue  # empty clusters keep the old centroid
                new[c] = [
                    round(float(Decimal(int(sums[c, j])) / ten10) / n, _ROUND)
                    for j in range(dim)
                ]
            C = new
    return C.tolist()


def kmeans_fit_assign(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iters: int = 5,
) -> DataFrame:
    """Train + final assignment in one call:
    (id, cluster_id, dist) rows, dist rounded at 6 for cross-engine
    comparison."""
    import numpy as np

    centroids = kmeans_train(df, k, vec_col, id_col, n_iters)
    bank = [list(map(float, c)) for c in centroids]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        C = np.asarray(bank, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np_mat(pdf[vec_col])
            D = _np_dists(X, C)
            cid = np.argmin(D, axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "cluster_id": cid.astype("int32"),
                "__dist": D[np.arange(len(cid)), cid],
            })

    # ADVICE r15: derive the id type from the input schema (the
    # replaced Column form preserved any id type; hardcoding long broke
    # string/decimal ids and silently widened int ids).
    id_type = df.schema[id_col].dataType.simpleString()
    raw = df.select(id_col, vec_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, cluster_id int, __dist double")
    # Rounding stays a JVM expression so HALF_UP semantics are the
    # engine's own (numpy would bankers-round); the raw distance out
    # of the Arrow pass is bit-equal to the Column-fold value.
    return raw.select(
        id_col, "cluster_id", F.round(F.col("__dist"), 6).alias("dist"))


def semantic_dedup_pairs(
    df: DataFrame,
    k: int,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_iters: int = 5,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication" — public recipe): cluster the embedding
    space with k-means, then compare cosine similarity ONLY within
    each cluster and report unordered pairs at or above ``threshold``
    (the caller drops the higher id per pair, or feeds the pairs to
    dedup_clusters for transitive groups).

    Scale: this is the paper's own answer to all-pairs cosine being
    quadratic — the join is an equi-join on cluster_id, so compare
    volume is Σ_c |c|², bounded by choosing k ~ n/target_cluster_size
    (SemDeDup uses ~50k clusters at web scale).  Embeddings ride the
    cluster-keyed shuffle once; no corpus broadcast, no NL join
    (AQE keeps the equi-join hashed).  Each side L2-normalizes ONCE
    before the join, so the per-pair work is a single dot fold
    instead of dot + two norms — 3x less arithmetic on the quadratic
    stage (zero vectors pass through normalization and score 0
    instead of NULL-cosine; they never reach a positive threshold
    either way).  Cross-cluster near-duplicates at the Voronoi
    boundary are missed by construction — the paper's documented
    recall trade; raise k recall via the sign-LSH tier
    (embedding_near_dup_pairs) when boundary recall matters.
    """
    import numpy as np

    centroids = kmeans_train(df, k, vec_col, id_col, n_iters)
    bank = [list(map(float, c)) for c in centroids]

    # Stage 1 (map-side, one Arrow crossing): assignment + per-row L2
    # normalization fused into a single pass over (id, vector) — the
    # r14 shape re-joined the corpus against the assignment output and
    # re-derived the normalized vector in interpreted HOF folds; both
    # the join and the folds are gone (guide §2.4, §4.2).
    def stage1(batches: Iterator) -> Iterator:
        import pandas as pd

        C = np.asarray(bank, dtype=np.float64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np_mat(pdf[vec_col])
            cid = np.argmin(_np_dists(X, C), axis=1).astype("int32")
            yield pd.DataFrame({
                "cluster_id": cid,
                "_id": pdf[id_col],
                "_e": list(_np_l2_normalize(X)),
            })

    # ADVICE r15: the id rides through both Python stages with its
    # input type instead of a hardcoded long.
    id_type = df.schema[id_col].dataType.simpleString()
    v = df.select(id_col, vec_col).mapInPandas(
        stage1, schema=f"cluster_id int, _id {id_type}, _e array<double>")

    # Stage 2: pairwise cosine ONLY inside each cluster.  The r14 form
    # was a cluster-keyed self-join whose per-pair dot ran as an
    # interpreted 64-step fold — the quadratic stage at interpreter
    # speed, and the dominant cost of the row (~8 s at sf0.1).  Each
    # cluster's rows now ship ONCE (n rows instead of the join's 2n),
    # and the same left-to-right dot runs vectorized over pair blocks
    # (bit-equal per pair; np.triu over id-sorted rows yields exactly
    # the id_a < id_b pair set).  Compare volume is unchanged —
    # Σ_c |c|², bounded by k (the SemDeDup recipe); one task per
    # cluster is the same placement the equi-join's shuffle produced.
    def pairs(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_id", kind="mergesort")
        m = len(pdf)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        if m > 1:
            N = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf["_e"]])
            # Transposed cluster matrix: each dim row is contiguous
            # and cache-resident, so the per-dim pair gathers below
            # never touch main memory for the source side (the
            # gather-whole-pair-matrices form moved ~100 MB/cluster
            # and was memory-bandwidth-bound; this form is ~30x
            # faster at identical op order).
            NT = np.ascontiguousarray(N.T)
            ids = pdf["_id"].to_numpy()
            ii, jj = np.triu_indices(m, 1)
            # Block the pair stream so peak memory stays bounded for
            # oversized clusters (the skew case k is meant to bound).
            step = 1 << 20
            for s in range(0, len(ii), step):
                a, b = ii[s:s + step], jj[s:s + step]
                # ADVICE r15: the old self-join's strict id_a < id_b
                # filter excluded pairs of DUPLICATE ids; mask them so
                # the triu enumeration matches it exactly.
                keep = ids[a] != ids[b]
                a, b = a[keep], b[keep]
                acc = np.zeros(len(a), dtype=np.float64)
                for j in range(NT.shape[0]):
                    acc += NT[j][a] * NT[j][b]
                out_a.append(ids[a])
                out_b.append(ids[b])
                out_c.append(acc)
        cid = pdf["cluster_id"].iloc[0] if m else None
        return pd.DataFrame({
            "cluster_id": np.repeat(cid, sum(map(len, out_a))),
            "id_a": np.concatenate(out_a) if out_a else [],
            "id_b": np.concatenate(out_b) if out_b else [],
            "_cos": np.concatenate(out_c) if out_c else [],
        })

    raw = v.groupBy("cluster_id").applyInPandas(
        pairs,
        schema=f"cluster_id int, id_a {id_type}, id_b {id_type}, "
               "_cos double")
    # Rounding + threshold stay JVM expressions: HALF_UP round at 6,
    # then the filter against the ROUNDED value — the engine's filter
    # order, which the oracle replays.
    return raw.select(
        "cluster_id", "id_a", "id_b",
        F.round(F.col("_cos"), 6).alias("cosine"),
    ).where(F.col("cosine") >= threshold)
