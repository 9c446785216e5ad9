"""Bounded-iteration graph algorithms over edge DataFrames (SURVEY.md §2.9's
batch iterative-algorithm family, next to ``dedup.connected_components``).

PageRank here is the weighted, damped power iteration in its distributed
shape: the edge table stays partitioned (by ``src`` — bucket it at scale so
every iteration's join is exchange-free), the rank vector is a DataFrame
joined against it each round, and ``session.checkpoint`` truncates lineage so
round N never replays rounds 1..N-1 (same discipline as
``connected_components``; localCheckpoint locally, durable parquet
write-through under ``SPARK_GRAFT_DURABLE_CHECKPOINT``). On the fixture graph the rank vector is tiny and
broadcast; at web scale (rank vector ≫ broadcast threshold) drop the
``broadcast`` hints and co-bucket ranks with edges on the node key — the
loop structure is unchanged.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import checkpoint

#: node-id types the bounded kernels accept: the kernels never do
#: arithmetic on ids (only dictionary-encode them), but the id ordering a
#: kernel relies on (np.unique / Python ``<``) must MATCH Spark's ordering.
#: Integral: trivially identical. String: Python compares code points and
#: Spark compares UTF-8 bytes — equivalent orders, because UTF-8 byte order
#: preserves code-point order. Anything else (decimal, timestamp, binary,
#: struct) falls through to the distributed loop (ADVICE r11 #2).
_KERNEL_ID_TYPES = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.StringType,
)

#: The driver kernels' size gates, one per memory class. Every node is an
#: endpoint of a fetched row, so n ≤ 2·rows and each cap bounds the
#: driver's memory by construction; no caller can raise one.
#:
#: Dense kernels hold n×n matrices (hop_distances, closure_census,
#: lpa_labels): 2048 edges ⇒ n ≤ 4096. Peak at that size (2048 disjoint
#: edges, tracemalloc): 352 MiB in hop_distances (an int64 distance
#: matrix and three float32 products), 256 MiB in lpa_labels, 224 MiB in
#: closure_census.
_DENSE_MAX_EDGES = 2048
#: Sparse kernels hold O(n + e) arrays (kcore_census, dag_depths,
#: connected_components, pagerank): 2^20 rows ⇒ n ≤ 2^21. Peak at that
#: size (2^20 random rows, tracemalloc): 102–114 MiB in each.
_SPARSE_MAX_ROWS = 1 << 20

#: ``pagerank`` sums each node's in-edge contributions ``r·p`` as integers
#: in units of 1/_CON_UNITS (one per dst is at most the rank mass, ~1, so
#: the sum stays far inside int64)
_CON_UNITS = 1e18


def _kernel_id_type(*cols: tuple[DataFrame, str]) -> str | None:
    """The DDL type the id columns share, which a kernel's ids pass through
    in; None (run the loop) when they differ or when the type's kernel
    ordering could differ from Spark's."""
    types = {
        {f.name: f.dataType for f in df.schema.fields}[c] for df, c in cols
    }
    t = types.pop()
    if types or not isinstance(t, _KERNEL_ID_TYPES):
        return None
    return t.simpleString()


def _encode_ids(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Dictionary-encode a kernel's ``(ku, kv)`` edge frame: the sorted
    node array and each edge's endpoint indices into it."""
    nodes, inv = np.unique(
        np.concatenate([pdf["ku"].to_numpy(), pdf["kv"].to_numpy()]),
        return_inverse=True,
    )
    return nodes, inv[: len(pdf)], inv[len(pdf) :]


def driver_kernel(
    df: DataFrame,
    max_rows: int,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame | None:
    """Run a size-gated graph kernel on the DRIVER; None means "over the
    gate, run the distributed loop".

    One bounded Arrow action — ``limit(max_rows + 1)`` then toArrow — is
    both the gate and the data load, so a caller that used to count the
    kernel's input and then read it again pays one Spark action instead
    of two. Over ``max_rows`` rows the result is None. Otherwise
    ``kernel`` gets the rows as one pandas frame and returns the result
    in ``schema``'s column order. An empty input gives an empty result
    without calling the kernel, as zero ``applyInPandas`` groups did.

    Why the driver: the bounded kernels used to run as one
    ``groupBy(lit(1)).applyInPandas`` task, which starts a Python daemon
    and worker. On a cold session that costs ~2 s and ~180 MB RSS to run
    a kernel of well under a second. The driver already holds numpy,
    pandas and pyarrow, and ``max_rows`` is one of the two memory-class
    caps above, so the driver's share is bounded. The kernel runs while
    the query is built, where the gate count used to run.
    """
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        return None
    spark = df.sparkSession
    if table.num_rows == 0:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(kernel(table.to_pandas()), schema)


def _edge_kernel(
    e: DataFrame,
    src: str,
    dst: str,
    max_rows: int,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
) -> DataFrame | None:
    """``driver_kernel`` over an edge list as ``(ku, kv)``; ``{id}`` in
    ``schema`` stands for the id columns' type, which passes through. None
    (run the loop) past the gate, or for ids ``_kernel_id_type`` refuses."""
    id_type = _kernel_id_type((e, src), (e, dst))
    if id_type is None:
        return None
    return driver_kernel(
        e.select(F.col(src).alias("ku"), F.col(dst).alias("kv")),
        max_rows,
        kernel,
        schema.format(id=id_type),
    )


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    node: str = "node",
    damping: float = 0.85,
    iterations: int = 10,
    round_dp: int = 9,
) -> DataFrame:
    """Weighted PageRank with dangling-mass redistribution, fixed iteration
    count. Returns ``(node, r)``.

    Determinism contract (what makes the kernel and the loop agree to the
    bit): out-edge probabilities are exact integer ratios evaluated in
    double; each iteration's rank is rounded half-away to ``round_dp``
    decimals; the round's two sums are exact integer sums — each in-edge
    contribution ``r·p`` in units of 1/``_CON_UNITS``, each dangling rank
    in units of 10^-``round_dp`` — so neither depends on the order the
    rows arrive in. A double sum's order drift is ~1e-16 relative, which
    the 9-dp round swallows except on an exact tie: with 8 dangling nodes
    out of 12, a rank with no in-edge is 0.0125 + 0.85·dm/12, and dm =
    K·1e-9 with K ≡ 120 (mod 240) puts it exactly on a half. Identical
    inputs to round N+1 keep both paths identical. The teleport term is
    computed as ``1.0 - damping`` in double on both sides. The DuckDB
    oracle keeps plain double sums; on a tie it may differ by 1e-9, below
    the 6-dp result ``q_pagerank`` compares.

    Per iteration: one broadcast join (edges ⋈ ranks) + one partial/final
    agg on ``dst``, one LEFT ANTI for dangling mass (1-row broadcast), one
    rebuild against the node list. ``iterations`` is fixed rather than
    convergence-tested so the oracle can unroll the same count.

    r11 (VERDICT r10 #5): the sf0.1 cost (~3.9 s) was ~10× fixed
    per-round scheduler/broadcast overhead, not data — the AGGREGATED
    graph is metadata-sized (|nations|² ≤ 625 weighted edges, 25-entry
    rank vector). Two levers were same-session A/B'd: checkpointing
    every 3 rounds instead of every round measured ≈ 1.02× (the eager
    jobs were not the cost; a 3-deep lazy plan pays it back in planning
    + nested broadcasts), and is NOT kept. What IS kept: when the node
    and edge rows are bounded (``_SPARSE_MAX_ROWS``), the whole
    recurrence runs on the driver (``driver_kernel`` with
    ``_pagerank_kernel``, identical per-round half-away 9-dp rounding) —
    the heavy, data-sized work (the edge aggregation) stays distributed,
    and iterating a metadata-sized vector through 10 scheduler waves was
    the anti-pattern. At web scale the distributed loop below runs
    unchanged: bucket edges by ``src``, co-bucket the rank table,
    exchange-free rounds. Both paths return ``node`` in the input's type.
    """
    en = edges.withColumn(
        "p", F.col(weight) / F.sum(weight).over(Window.partitionBy(src))
    ).select(src, dst, "p")
    # the kernel fetches node rows ∪ edge rows, tagged by ``edge``, under
    # one gate; no id column may hold nulls (pandas would turn the ids to
    # float64), so a node row repeats its id and an edge with a null dst
    # points at its own src with p = 0: it marks src non-dangling, as in
    # the loop, and adds nothing. No checkpoint on this path (r11b): the
    # kernel reads `en` once
    id_type = _kernel_id_type((nodes, node), (en, src), (en, dst))
    if id_type is not None:
        rows = nodes.select(
            F.lit(False).alias("edge"),
            F.col(node).alias("ku"),
            F.col(node).alias("kv"),
            F.lit(0.0).alias("p"),
        ).unionByName(
            en.filter(F.col(src).isNotNull()).select(
                F.lit(True).alias("edge"),
                F.col(src).alias("ku"),
                F.coalesce(dst, src).alias("kv"),
                F.coalesce(
                    F.when(F.col(dst).isNotNull(), F.col("p")), F.lit(0.0)
                ).alias("p"),
            )
        )
        small = driver_kernel(
            rows,
            _SPARSE_MAX_ROWS,
            lambda pdf: _pagerank_kernel(
                pdf, float(damping), int(iterations), int(round_dp)
            ),
            f"{node} {id_type}, r double",
        )
        if small is not None:
            return small
    en = checkpoint(en)
    srcs = checkpoint(en.select(src).distinct())
    nn = nodes.agg(F.count("*").alias("n"))
    base = checkpoint(nodes.select(node).crossJoin(F.broadcast(nn)))
    teleport = F.lit(1.0) - F.lit(damping)
    scale = F.lit(10.0 ** round_dp)
    con_units = F.lit(_CON_UNITS)
    ranks = base.select(node, (F.lit(1.0) / F.col("n")).alias("r"))
    for i in range(iterations):
        contrib = (
            en.join(F.broadcast(ranks), F.col(src) == F.col(node))
            .groupBy(dst)
            .agg(
                (
                    F.sum(_fixed(F.col("r") * F.col("p"), con_units))
                    / con_units
                ).alias("con")
            )
        )
        dang = ranks.join(
            srcs, ranks[node] == srcs[src], "left_anti"
        ).agg(
            (
                F.coalesce(F.sum(_fixed(F.col("r"), scale)), F.lit(0))
                / scale
            ).alias("dm")
        )
        ranks = (
            base.join(F.broadcast(contrib), F.col(node) == F.col(dst), "left")
            .crossJoin(F.broadcast(dang))
            .select(
                node,
                # the kernel's half-away rounding of the binary value:
                # F.round rounds the shortest decimal repr instead and
                # disagrees on ties it only appears to hit (0.1290341755
                # is 129034175.49999999 × 1e-9, an 8-edge chain's rank)
                (
                    F.floor(
                        (
                            teleport / F.col("n")
                            + F.lit(damping)
                            * (
                                F.coalesce(F.col("con"), F.lit(0.0))
                                + F.col("dm") / F.col("n")
                            )
                        )
                        * scale
                        + F.lit(0.5)
                    )
                    / scale
                ).alias("r"),
            )
        )
        ranks = checkpoint(ranks)
    return ranks


def _fixed(x: F.Column, units: F.Column) -> F.Column:
    """``x`` as a long count of 1/``units``, rounded half-away on the
    binary value: ``_pagerank_kernel``'s ``floor(x·units + 0.5)``."""
    return F.floor(x * units + F.lit(0.5))


def _pagerank_kernel(
    pdf: pd.DataFrame, damping: float, iterations: int, round_dp: int
) -> pd.DataFrame:
    """The distributed loop's arithmetic on the driver: out-edge
    probabilities arrive precomputed; each round is teleport/n + d·(Σ r·p
    per dst + dangling_mass/n), rounded HALF-AWAY to ``round_dp`` decimals
    (``floor(x·10^k + 0.5)`` — ranks are positive — the expression the
    loop evaluates, and the decision DuckDB's round makes on the binary
    value). Both sums are int64 sums of the loop's fixed-point units, so
    numpy's order and Spark's cannot part on a rounding tie. Edges with
    an endpoint outside the node list add nothing, as in the loop's
    joins."""
    ids, ku, kv = _encode_ids(pdf)
    edge = pdf["edge"].to_numpy(dtype=bool)
    is_node = np.zeros(len(ids), dtype=bool)
    is_node[ku[~edge]] = True
    n = max(int(is_node.sum()), 1)  # no node rows: an empty result
    # dangling mask from ALL edge srcs (r12, VERDICT r11 #7): the loop
    # derives non-dangling from en.select(src).distinct() BEFORE any dst
    # filtering — a node whose only out-edge points outside the node list
    # is NOT dangling there, so not here either
    dangling = is_node.copy()
    dangling[ku[edge]] = False
    keep = edge & is_node[ku] & is_node[kv]
    si, di = ku[keep], kv[keep]
    p = pdf["p"].to_numpy(dtype="float64")[keep]
    scale = 10.0 ** round_dp
    teleport = 1.0 - damping
    r = np.full(len(ids), 1.0 / n)
    for _ in range(iterations):
        con = np.zeros(len(ids), dtype=np.int64)
        np.add.at(con, di, _fixed_np(r[si] * p, _CON_UNITS))
        con = con / _CON_UNITS
        dm = int(_fixed_np(r[dangling], scale).sum()) / scale
        r = (
            np.floor((teleport / n + damping * (con + dm / n)) * scale + 0.5)
            / scale
        )
    return pd.DataFrame({"node": ids[is_node], "r": r[is_node]})


def _fixed_np(x: np.ndarray, units: float) -> np.ndarray:
    """``_fixed`` in numpy: the same long counts of 1/``units``."""
    return np.floor(x * units + 0.5).astype(np.int64)


def dag_depths(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """Longest-path (topological-layer) depth per node of a DAG — the
    distributed Bellman-Ford specialization q_dag_layers runs: depth
    relaxes d(v) ← max(d(v), d(u)+1) over incoming edges until a
    fixpoint, capped at ``max_rounds``. Returns ``(node, d)``. Nodes are
    src ∪ dst of the edge list.

    r11 (the q_pagerank kernel pattern): when the edge list is bounded
    (``_SPARSE_MAX_ROWS``) the whole fixpoint runs on the driver
    (``driver_kernel`` with ``_dag_depths_kernel``) — each distributed
    round costs a broadcast join + union + max-groupBy + eager checkpoint
    + a Σd convergence action, ~10 scheduler waves to advance a ≤|V|-row
    table.
    The relaxation is integer and order-free, so both paths reach the
    IDENTICAL fixpoint by construction (pinned in
    tests/test_dag_layers_paths.py). Past the threshold the distributed
    loop runs unchanged: bucket edges by ``src`` at scale and the
    per-round join is exchange-free; depth tables shuffle on the node
    key with map-side max partials."""
    e = checkpoint(edges.select(src, dst), eager=False)
    small = _edge_kernel(
        e, src, dst, _SPARSE_MAX_ROWS,
        lambda pdf: _dag_depths_kernel(pdf, int(max_rounds)),
        "node {id}, d long",
    )
    if small is not None:
        return small
    nodes = (
        e.select(F.col(src).alias("v")).union(e.select(F.col(dst))).distinct()
    )
    depth = nodes.select("v", F.lit(0).cast("long").alias("d"))
    prev = -1
    # terminates in ≤ diameter ≤ |V| rounds on a DAG; the cap is a backstop
    for _ in range(max_rounds):
        nd = e.join(F.broadcast(depth), F.col(src) == depth.v).select(
            F.col(dst).alias("v"), (F.col("d") + 1).alias("d")
        )
        depth = checkpoint(
            depth.union(nd).groupBy("v").agg(F.max("d").alias("d"))
        )
        cur = depth.agg(F.sum("d")).first()[0]
        if cur == prev:
            break
        prev = cur
    return depth.select(F.col("v").alias("node"), "d")


def _dag_depths_kernel(pdf: pd.DataFrame, rounds: int) -> pd.DataFrame:
    """The loop's simultaneous relaxation d(v) ← max(d(v), d(u)+1) until a
    fixpoint or ``rounds`` (its backstop): integers, order-free, so the
    fixpoint is identical by construction. Nodes are src ∪ dst."""
    nodes_a, si, di = _encode_ids(pdf)
    d = np.zeros(len(nodes_a), dtype="int64")
    for _ in range(rounds):
        nd = d.copy()
        np.maximum.at(nd, di, d[si] + 1)
        if (nd == d).all():
            break
        d = nd
    return pd.DataFrame({"node": nodes_a, "d": d})


# --------------------------------------------------------------------------
# r12 (VERDICT r11 #1): the remaining bounded-round graph loops, kerneled.
# Same pattern as pagerank/dag_depths above — the heavy, data-sized work
# (the 4-table edge aggregation) stays distributed; iterating a
# metadata-sized node/pair table through scheduler waves was the
# anti-pattern. Every kernel below is exact counting or set algebra over
# dictionary-encoded ids (no id arithmetic), so the fixpoint / census is
# identical to the distributed loop by construction; node ids
# pass through with their input dtype (schema-preserving), gated on types
# whose kernel ordering matches Spark's (_KERNEL_ID_TYPES). The gate is
# the memory-class cap of each kernel (_DENSE_MAX_EDGES or
# _SPARSE_MAX_ROWS). Past it the distributed loops run unchanged: edges
# bucketed by src at scale, per-round joins exchange-free, node-keyed
# state shuffles with map-side partials.
# --------------------------------------------------------------------------


def hop_distances(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_d: int = 9,
) -> DataFrame:
    """All-pairs shortest hop distances over the UNDIRECTED graph of a
    DIRECTED distinct edge list (symmetrized internally), bounded at
    ``max_d`` hops, source excluded. Returns ``(src, node, d)`` — one row
    per ordered pair with 1 ≤ d = shortest distance ≤ ``max_d``.

    This is q_closeness_centrality's multi-source BFS: BFS level k IS the
    distance-k class, so closeness (n / Σ d) and harmonic (Σ 1/d)
    centrality both read off one run. Distributed shape per round:
    frontier ⋈ edges, anti-join visited, checkpoint, empty-probe — ~5
    scheduler waves to advance a ≤|V|²-row pair table one hop. Small
    graphs run the whole BFS on the driver (``driver_kernel``) on boolean
    adjacency matrices: frontier expansion is set algebra on exact
    integers, so visited/(src,node,d) is identical by construction
    (pinned in tests/test_graph_kernels.py).
    """
    e0 = checkpoint(edges.select(src, dst), eager=False)
    small = _edge_kernel(
        e0, src, dst, _DENSE_MAX_EDGES,
        lambda pdf: _hop_distances_kernel(pdf, int(max_d)),
        "src {id}, node {id}, d long NOT NULL",
    )
    if small is not None:
        return small
    e = (
        e0.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(e0.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .transform(checkpoint, eager=False)
    )
    frontier = e.select(
        F.col("u").alias("src"), F.col("v").alias("node")
    ).withColumn("d", F.lit(1).cast("long"))
    visited = frontier
    for _ in range(max_d - 1):
        nxt = (
            frontier.join(e, frontier.node == e.u)
            .filter(F.col("v") != F.col("src"))
            .select(
                "src", F.col("v").alias("node"), (F.col("d") + 1).alias("d")
            )
            .distinct()
            .join(
                visited.select(
                    F.col("src").alias("vs"), F.col("node").alias("vn")
                ),
                (F.col("src") == F.col("vs")) & (F.col("node") == F.col("vn")),
                "left_anti",
            )
        )
        nxt = checkpoint(nxt)
        if nxt.limit(1).count() == 0:
            break
        visited = checkpoint(visited.unionByName(nxt))
        frontier = nxt
    return visited


def _reaches(frontier: np.ndarray, adj_f: np.ndarray) -> np.ndarray:
    """One-step reachability ``frontier · adj > 0`` as a float32 BLAS
    product: numpy multiplies bool (or uint8) matrices in a non-BLAS O(n³)
    loop, ~150× slower at n = 2580. Exact: every term is 0 or 1, so a
    positive sum cannot round to 0 (and a uint8 product, which counted
    paths mod 256, lost pairs joined by 256·k of them)."""
    return (frontier.astype(np.float32) @ adj_f) > 0


def _hop_distances_kernel(pdf: pd.DataFrame, cap: int) -> pd.DataFrame:
    nodes_a, si, di = _encode_ids(pdf)
    n = len(nodes_a)
    adj = np.zeros((n, n), dtype=bool)
    adj[si, di] = True
    adj[di, si] = True  # symmetrize (the distributed union ∪ reverse)
    np.fill_diagonal(adj, False)  # no self loops in a distinct src≠dst list
    dist = np.zeros((n, n), dtype="int64")
    dist[adj] = 1
    reached = adj | np.eye(n, dtype=bool)  # v == src never enters visited
    adj_f = adj.astype(np.float32)
    frontier = adj
    for d in range(2, cap + 1):
        nxt = _reaches(frontier, adj_f) & ~reached
        if not nxt.any():
            break
        dist[nxt] = d
        reached |= nxt
        frontier = nxt
    srcs, nodes = np.nonzero(dist)
    return pd.DataFrame(
        {"src": nodes_a[srcs], "node": nodes_a[nodes], "d": dist[srcs, nodes]}
    )


def closure_census(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
) -> DataFrame:
    """Directed transitive-closure census: per node of ``src ∪ dst``, the
    size of its reachable set (≥1 step) and whether it can reach itself
    (cycle membership). Returns ``(node, n_reachable long, on_cycle bool)``
    — q_cycle_nodes' computation.

    Distributed shape per round: pair-set ⋈ edges, union, distinct,
    checkpoint, count-stall probe. Small graphs run the closure on the
    driver (``driver_kernel``) on a boolean reachability matrix
    (reach ∪= reach·adj — the same one-edge-extension recurrence, same
    ``max_rounds`` backstop); row sums and the diagonal are the census.
    Exact set algebra ⇒ identical fixpoint by construction."""
    e = checkpoint(edges.select(src, dst), eager=False)
    small = _edge_kernel(
        e, src, dst, _DENSE_MAX_EDGES,
        lambda pdf: _closure_census_kernel(pdf, int(max_rounds)),
        "node {id}, n_reachable long NOT NULL, on_cycle boolean NOT NULL",
    )
    if small is not None:
        return small
    paths = e.select(F.col(src).alias("s"), F.col(dst).alias("v"))
    prev = -1
    for _ in range(max_rounds):  # ≤ diameter rounds; |V|² cap keeps each tiny
        ext = paths.join(e, paths.v == F.col(src)).select(
            "s", F.col(dst).alias("v")
        )
        paths = checkpoint(paths.union(ext).distinct())
        cur = paths.count()
        if cur == prev:
            break
        prev = cur
    nodes = (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst)))
        .distinct()
    )
    reach = paths.groupBy("s").agg(F.count("*").alias("cnt"))
    cyc = paths.filter(F.col("s") == F.col("v")).select("s").distinct()
    return (
        nodes.join(reach, nodes.node == reach.s, "left")
        .drop("s")
        .join(
            cyc.withColumn("on_cycle", F.lit(True)),
            nodes.node == cyc.s,
            "left",
        )
        .select(
            "node",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n_reachable"),
            F.coalesce(F.col("on_cycle"), F.lit(False)).alias("on_cycle"),
        )
    )


def _closure_census_kernel(pdf: pd.DataFrame, rounds: int) -> pd.DataFrame:
    nodes_a, si, di = _encode_ids(pdf)
    n = len(nodes_a)
    adj = np.zeros((n, n), dtype=bool)
    adj[si, di] = True
    adj_f = adj.astype(np.float32)
    reach = adj.copy()
    for _ in range(rounds):
        nxt = reach | _reaches(reach, adj_f)
        if (nxt == reach).all():
            break
        reach = nxt
    return pd.DataFrame(
        {
            "node": nodes_a,
            "n_reachable": reach.sum(axis=1).astype("int64"),
            "on_cycle": reach.diagonal().copy(),
        }
    )


def kcore_census(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 3,
) -> DataFrame:
    """Bounded k-core peel over the UNDIRECTED graph of a DIRECTED
    distinct edge list (symmetrized + deduped internally): ``rounds``
    unrolled peels of degree-< k nodes, returning the final survivors
    ``(node, core_degree long)`` — q_kcore's computation.

    Distributed shape per round: two semi-join filters against the
    survivor set + one degree groupBy. Small graphs peel on the driver
    (``driver_kernel``) with bincount degrees — integer counting over the
    identical edge/survivor sets, so every round's degree table matches
    the distributed one exactly."""
    e0 = checkpoint(edges.select(src, dst), eager=False)
    small = _edge_kernel(
        e0, src, dst, _SPARSE_MAX_ROWS,
        lambda pdf: _kcore_census_kernel(pdf, int(k), int(rounds)),
        "node {id}, core_degree long NOT NULL",
    )
    if small is not None:
        return small
    e = (
        e0.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(e0.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .transform(checkpoint, eager=False)
    )
    surv = None
    deg = None
    for _ in range(rounds):
        cur = e
        if surv is not None:
            cur = e.join(
                F.broadcast(surv), e.u == surv.node, "left_semi"
            ).join(
                F.broadcast(surv.select(F.col("node").alias("vn"))),
                F.col("v") == F.col("vn"),
                "left_semi",
            )
        deg = cur.groupBy("u").agg(F.count("*").alias("deg"))
        surv = deg.filter(F.col("deg") >= k).select(F.col("u").alias("node"))
    return deg.filter(F.col("deg") >= k).select(
        F.col("u").alias("node"), F.col("deg").cast("long").alias("core_degree")
    )


def _kcore_census_kernel(pdf: pd.DataFrame, kk: int, rr: int) -> pd.DataFrame:
    nodes_a, si0, di0 = _encode_ids(pdf)
    n = len(nodes_a)
    # symmetrize + dedupe (the distributed union ∪ reverse + distinct)
    pair = np.unique(np.concatenate([si0 * n + di0, di0 * n + si0]))
    su, sv = pair // n, pair % n
    alive = np.ones(n, dtype=bool)
    deg = np.zeros(n, dtype="int64")
    for _ in range(rr):
        m = alive[su] & alive[sv]
        deg = np.bincount(su[m], minlength=n).astype("int64")
        alive = deg >= kk
    keep = deg >= kk
    return pd.DataFrame({"node": nodes_a[keep], "core_degree": deg[keep]})


def lpa_labels(
    edges: DataFrame,
    *,
    src: str = "u",
    dst: str = "v",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation over the UNDIRECTED graph of an
    ORIENTED (u < v) distinct edge list: every node starts as its own
    label; each round it adopts the most frequent label among its
    neighbors, ties toward the SMALLEST label. Returns ``(node, label)``
    — q_communities_lpa's loop.

    Distributed shape per round: und ⋈ labels, (node,label) count,
    row_number argmax, checkpoint. Small graphs run all rounds on the
    driver (``driver_kernel``): labels dictionary-encode to indices of the
    SORTED node array, so "smallest label" is "smallest index" and
    np.argmax's first-max-wins IS the tie-break; counting is exact integer
    scatter. String ids are safe here: the kernel orders via np.unique
    (code-point order) and Spark orders UTF-8 bytes — identical orders,
    since UTF-8 byte order preserves code points."""
    e0 = checkpoint(edges.select(src, dst), eager=False)
    small = _edge_kernel(
        e0, src, dst, _DENSE_MAX_EDGES,
        lambda pdf: _lpa_labels_kernel(pdf, int(rounds)),
        "node {id}, label {id}",
    )
    if small is not None:
        return small
    und = (
        e0.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(
            e0.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .transform(checkpoint)
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    wl = Window.partitionBy("node").orderBy(F.col("cnt").desc(), "label")
    for _ in range(rounds):
        cnt = (
            und.join(
                labels.select(F.col("node").alias("v"), F.col("label")), "v"
            )
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(wl))
            .filter(F.col("rn") == 1)
            .select("node", "label")
            .transform(checkpoint)
        )
    return labels


def _lpa_labels_kernel(pdf: pd.DataFrame, rr: int) -> pd.DataFrame:
    nodes_a, si, di = _encode_ids(pdf)
    n = len(nodes_a)
    # und = oriented ∪ reversed (u < v ⇒ no dupes to dedupe)
    su = np.concatenate([si, di])
    sv = np.concatenate([di, si])
    lab = np.arange(n, dtype="int64")
    for _ in range(rr):
        cnt = np.zeros((n, n), dtype="int64")
        np.add.at(cnt, (su, lab[sv]), 1)
        # first max = smallest label index = smallest label (sorted ids)
        lab = cnt.argmax(axis=1)
    return pd.DataFrame({"node": nodes_a, "label": nodes_a[lab]})
