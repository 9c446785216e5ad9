"""Distributed k-means + semantic (embedding-cluster) dedup (SURVEY.md §2.11
north-star: LLM-data-pipeline operators over the embeddings table).

Design (100 TB):

- **Assignment is a NARROW pass.** The k current centroids are bounded
  driver-side metadata (k × dim doubles — same class as a broadcast dim
  table), embedded as a literal array-of-arrays column; each vector computes
  its distances with ``transform`` + ``aggregate`` (pure JVM higher-order
  functions, codegen-fused) and takes the argmin. Zero shuffle, zero Python.
- **The update step is ONE partial-agg shuffle per iteration.**
  ``posexplode`` to (cluster, dim, val) then hash-aggregate: map-side
  combine reduces each task's contribution to ≤ k × dim rows before the
  exchange, so shuffle volume is O(partitions × k × dim) — independent of
  row count. The driver folds the k × dim sums into new centroids (the same
  driver-sized reduce Spark MLlib's KMeans performs).
- **Determinism.** Seeds are the k corpus vectors with smallest
  ``xxhash64(id)`` (TakeOrderedAndProject — per-partition top-k, no global
  sort); ties in assignment break to the lowest centroid id
  (``array_position`` returns the FIRST minimum). Float partial-sum order
  across partitions is the only nondeterminism — the classic distributed
  k-means caveat, harmless at double precision for well-separated clusters
  (asserted against a NumPy reference in tests/test_clustering.py).

Semantic dedup (SemDeDup-shaped): cluster first, then compare pairs ONLY
within a cluster — turns the O(n²) embedding near-dup pair join into
O(Σ cluster²). Choose k ≈ n / target_cluster_size so per-cluster work stays
bounded as the corpus grows; the within-cluster join shuffles on cluster id
(skew-safe for balanced k-means cells; a degenerate mega-cluster is itself
the signal that k is too small).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays (no sqrt — monotone,
    so argmin is unchanged and we skip n × k square roots)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _lit_centroids(cents: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])


def _seed_centroids(df: DataFrame, vec_col: str, id_col: str, k: int) -> list[list[float]]:
    """k seeds = vectors of smallest xxhash64(id): a deterministic uniform
    pseudo-sample, one linear pass (TakeOrderedAndProject)."""
    rows = (
        df.select(
            F.xxhash64(F.col(id_col)).alias("_rk"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        .orderBy("_rk")
        .limit(k)
        .collect()
    )
    return [list(r["v"]) for r in rows]


def kmeans_centroids(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int,
    *,
    n_iter: int = 10,
    tol: float = 1e-6,
) -> list[list[float]]:
    """Lloyd's algorithm, distributed as described in the module docstring.

    Runs at most ``n_iter`` update steps, stopping early when the max
    squared centroid shift drops below ``tol`` (deterministic given the
    data). Empty clusters keep their previous centroid. Returns the final
    centroids as a plain list (bounded k × dim metadata).
    """
    vecs = df.select(
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v")
    ).persist()  # one cache, n_iter linear passes; released below
    try:
        cents = _seed_centroids(df, vec_col, id_col, k)
        if len(cents) < k:
            raise ValueError(
                f"k-means needs >= {k} input rows to seed {k} centroids, "
                f"got {len(cents)} — lower k or supply more data"
            )
        dim = len(cents[0])
        for _ in range(n_iter):
            lit = _lit_centroids(cents)
            # r12: the k-distance array is aliased in its OWN projection so
            # it is evaluated once per row — inlined, argmin-by-position
            # referenced it twice and Catalyst does not collapse projects
            # that would duplicate a non-cheap HOF fold (2·k·dim work per
            # row for the same doubles)
            assigned = vecs.select(
                F.transform(lit, lambda c: _l2sq(F.col("v"), c)).alias("_d"),
                F.col("v"),
            ).select(
                (
                    F.array_position(F.col("_d"), F.array_min("_d")) - 1
                ).alias("cluster"),
                F.col("v"),
            )
            # sums: partial hash-agg lifts the reduce map-side; ≤ k*dim rows
            # (plus k counts) ever cross the wire or reach the driver
            sums = (
                assigned.select("cluster", F.posexplode("v").alias("pos", "val"))
                .groupBy("cluster", "pos")
                .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            acc = {}  # cluster -> (sum vector, count)
            for r in sums:
                vec, _ = acc.setdefault(int(r["cluster"]), ([0.0] * dim, int(r["n"])))
                vec[int(r["pos"])] = float(r["s"])
            new_cents = [
                [x / acc[c][1] for x in acc[c][0]] if c in acc else cents[c]
                for c in range(k)
            ]
            shift = max(
                sum((a - b) * (a - b) for a, b in zip(old, new))
                for old, new in zip(cents, new_cents)
            )
            cents = new_cents
            if shift < tol:
                break
        return cents
    finally:
        vecs.unpersist()


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str, id_col: str
) -> DataFrame:
    """Final narrow assignment pass: (id, vec, cluster, dist_sq). No shuffle —
    safe to compose under any downstream partitioning."""
    lit = _lit_centroids(centroids)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # r12: distances evaluated ONCE per row (own projection — inlined, the
    # expression appeared three times: argmin position, its target min,
    # and dist_sq, i.e. 3·k·dim folds per row for identical doubles)
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.transform(lit, lambda c: _l2sq(v, c)).alias("_d"),
    ).select(
        F.col(id_col),
        F.col(vec_col),
        (F.array_position(F.col("_d"), F.array_min("_d")) - 1)
        .cast("int")
        .alias("cluster"),
        F.array_min("_d").alias("dist_sq"),
    )


def kmeans_summary(
    df: DataFrame, vec_col: str, id_col: str, k: int, *, n_iter: int = 10
) -> DataFrame:
    """Per-cluster size + inertia contribution — the cluster-quality report
    (k rows; inertia = Σ dist² is THE Lloyd objective, so the test that it
    decreases with more iterations is a direct correctness check)."""
    cents = kmeans_centroids(df, vec_col, id_col, k, n_iter=n_iter)
    a = assign_clusters(df, cents, vec_col, id_col)
    return (
        a.groupBy("cluster")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum("dist_sq").alias("inertia"),
        )
        .orderBy("cluster")
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    *,
    k: int,
    threshold: float,
    n_iter: int = 10,
) -> DataFrame:
    """SemDeDup-shaped semantic dedup: k-means first, then embedding-cosine
    near-dup pairs ONLY within each cluster; a document is dropped when a
    τ-similar document with a smaller id exists in its cluster (the greedy
    deterministic keep rule — min-id survives; chains over-drop slightly vs
    connected components, which is the conservative direction for training
    data). Returns (id, cluster, keep).

    Scale: the pair join shuffles on (cluster) and compares O(Σ cluster²)
    pairs instead of O(n²) — pick k ≈ n / target_cluster_size. The verify
    expression is the same exact cosine used by q_dedup_embedding, so the
    within-cluster form can be recall-checked against the brute-force anchor
    (tests/test_clustering.py does, on the fixture).
    """
    cents = kmeans_centroids(df, vec_col, id_col, k, n_iter=n_iter)
    a = assign_clusters(df, cents, vec_col, id_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        "cluster",
        V.norm(F.col(vec_col)).alias("_n"),
    )
    b = a.select(
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.col("cluster"),
        F.col("_n").alias("_nb"),
    )
    dropped = (
        a.join(b, "cluster")
        .filter(F.col("_idb") > F.col("_id"))
        .filter(
            V.safe_cosine_from(V.dot(F.col("_v"), F.col("_vb")), F.col("_n"), F.col("_nb"))
            >= threshold
        )
        .select(F.col("_idb").alias("_dropped"))
        .distinct()
    )
    return a.join(
        dropped, a["_id"] == dropped["_dropped"], "left"
    ).select(
        F.col("_id").alias(id_col),
        "cluster",
        F.col("_dropped").isNull().alias("keep"),
    )


def kcenter_select(
    df: DataFrame, vec_col: str, id_col: str, k: int
) -> list[tuple[int, float]]:
    """Greedy k-center (farthest-point) coreset selection — the diverse-
    subset primitive for training-data curation (pick the k most mutually
    distant examples; 2-approximation of the optimal k-center cover).
    Deterministic: seed = the vector with the smallest id; each round adds
    the point with the MAXIMUM distance to its nearest selected center,
    ties broken by id. Returns [(id, dist_sq_at_selection), ...] — the
    first entry's distance is 0.0 by convention.

    Scale: each round is ONE narrow pass — selected centers travel as
    literal arrays (metadata, like kmeans), the per-row min-distance is a
    codegen fold, and the argmax is TakeOrderedAndProject(1); driver
    traffic is k rows total. k rounds = k scans; for large k switch to
    the classic two-level variant (pre-cluster with k-means, run k-center
    on cell representatives)."""
    n_rows = df.limit(k).count()  # bounded probe — never a full count at scale
    if n_rows < k:
        raise ValueError(
            f"k-center needs >= {k} input rows to pick {k} distinct centers, "
            f"got {n_rows} — lower k or supply more data"
        )
    first = (
        df.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
        .orderBy(id_col)
        .limit(1)
        .collect()[0]
    )
    selected = [(int(first[id_col]), 0.0)]
    cents = [list(first["v"])]
    for _ in range(1, k):
        lit = _lit_centroids(cents)
        v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        min_d = F.array_min(F.transform(lit, lambda c: _l2sq(v, c)))
        far = (
            df.select(F.col(id_col), F.col(vec_col), min_d.alias("d"))
            .orderBy(F.col("d").desc(), F.col(id_col))
            .limit(1)
            .collect()[0]
        )
        selected.append((int(far[id_col]), float(far["d"])))
        cents.append([float(x) for x in far[vec_col]])
    return selected


def gmm_em_1d(
    values, n_iter: int = 10
) -> list[tuple[int, float, float, float]]:
    """Two-component 1-D Gaussian mixture by EM over a DataFrame of exact
    integer cents (column ``c``) — the probabilistic sibling of k-means
    (SURVEY §2.11 clustering tier): soft responsibilities instead of hard
    assignment, giving overlap-aware price/latency band models.

    Determinism without RNG: initial means are the rank-picked 25th/75th
    percentile values (integer rank positions, no interpolation),
    weights start 0.5/0.5, and both variances start at the population
    variance; EM then runs a FIXED n_iter iterations. Each iteration is
    ONE aggregation: per-row responsibilities are codegen arithmetic
    against 5 broadcast scalars, and the new (weight, mean, variance)
    triples come from responsibility-weighted moment sums — the driver
    collects exactly one 1-row parameter frame per iteration (sanctioned:
    parameters are k·3 scalars, never data).

    At 100 TB each iteration is a full scan + one partial/final agg —
    identical shape to k-means; cache the cents column once upstream.
    Returns [(comp, weight, mean_cents, var_cents)] after n_iter rounds."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    r = values.select(
        "c",
        F.row_number().over(W.orderBy("c")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("n"),
    )
    q1 = r.filter(F.col("rn") == F.expr("(n + 3) div 4")).select("c")
    q3 = r.filter(F.col("rn") == F.expr("(3 * n + 3) div 4")).select("c")
    tot = values.agg(
        F.count("*").alias("n"),
        F.avg("c").alias("mu"),
        F.var_pop("c").alias("var"),
    )
    mu1 = float(q1.first()[0])
    mu2 = float(q3.first()[0])
    trow = tot.first()
    n_rows, var0 = int(trow["n"]), max(float(trow["var"]), 1.0)
    w1 = w2 = 0.5
    v1 = v2 = var0
    for _ in range(n_iter):
        c = F.col("c").cast("double")
        # responsibilities via the log-space-stable ratio of two pdfs
        d1 = (c - mu1) * (c - mu1) / (2.0 * v1)
        d2 = (c - mu2) * (c - mu2) / (2.0 * v2)
        # r1 = w1·pdf1 / (w1·pdf1 + w2·pdf2), pdfs share the 1/sqrt(2π) factor
        num1 = w1 / math.sqrt(v1) * F.exp(-d1)
        num2 = w2 / math.sqrt(v2) * F.exp(-d2)
        r1 = num1 / (num1 + num2)
        m = values.agg(
            F.sum(r1).alias("s1"),
            F.sum(r1 * c).alias("sx1"),
            F.sum(r1 * c * c).alias("sxx1"),
            F.sum(1.0 - r1).alias("s2"),
            F.sum((1.0 - r1) * c).alias("sx2"),
            F.sum((1.0 - r1) * c * c).alias("sxx2"),
        ).first()
        s1, s2 = max(m["s1"], 1e-9), max(m["s2"], 1e-9)
        mu1, mu2 = m["sx1"] / s1, m["sx2"] / s2
        v1 = max(m["sxx1"] / s1 - mu1 * mu1, 1.0)
        v2 = max(m["sxx2"] / s2 - mu2 * mu2, 1.0)
        w1, w2 = s1 / n_rows, s2 / n_rows
    return [(1, w1, mu1, v1), (2, w2, mu2, v2)]
