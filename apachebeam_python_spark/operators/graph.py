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


def _kernel_ids_ok(df: DataFrame, *cols: str) -> bool:
    by_name = {f.name: f.dataType for f in df.schema.fields}
    return all(isinstance(by_name[c], _KERNEL_ID_TYPES) for c in cols)


def _integral_ids(df: DataFrame, *cols: str) -> bool:
    """Stricter gate for kernels that CAST ids to long (the pagerank /
    dag-depths carriers): integral input only (ADVICE r11 #2)."""
    by_name = {f.name: f.dataType for f in df.schema.fields}
    return all(
        isinstance(by_name[c], _KERNEL_ID_TYPES[:-1]) for c in cols
    )


def _id_ddl(df: DataFrame, col: str) -> str:
    """DDL type name of an id column, for pass-through kernel schemas."""
    return {f.name: f.dataType for f in df.schema.fields}[col].simpleString()


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
    kernel: Callable[[pd.DataFrame], pd.DataFrame | None],
    schema: str,
) -> DataFrame | None:
    """Run a size-gated graph kernel on the DRIVER; None means "over the
    gate, run the distributed loop".

    One bounded Arrow action — ``limit(max_rows + 1)`` then toArrow — is
    both the gate and the data load, so a caller that used to count the
    kernel's input and then read it again pays one Spark action instead
    of two. Over ``max_rows`` rows the result is None. Otherwise
    ``kernel`` gets the rows as one pandas frame and returns the result
    in ``schema``'s column order, or None to decline on a size it derives
    from the rows (``dag_depths``' node count). An empty input gives an
    empty result without calling the kernel, as zero ``applyInPandas``
    groups did.

    Why the driver: the bounded kernels used to run as one
    ``groupBy(lit(1)).applyInPandas`` task, which starts a Python daemon
    and worker. On a cold session that costs ~2 s and ~180 MB RSS to run
    a kernel of well under a second. The driver already holds numpy,
    pandas and pyarrow, and the fetch is capped at ``max_rows + 1`` rows,
    so the driver's share is bounded by the gate. The kernel runs while
    the query is built, where the gate count used to run.
    """
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        return None
    spark = df.sparkSession
    if table.num_rows == 0:
        return spark.createDataFrame([], schema)
    out = kernel(table.to_pandas())
    return None if out is None else spark.createDataFrame(out, schema)


def _edge_kernel(
    e: DataFrame,
    src: str,
    dst: str,
    max_edges: int,
    kernel: Callable[[pd.DataFrame], pd.DataFrame | None],
    schema: str,
    ids_ok: Callable[..., bool] = _kernel_ids_ok,
) -> DataFrame | None:
    """``driver_kernel`` over an edge list as ``(ku, kv)``; ``{id}`` in
    ``schema`` stands for the id columns' type, which passes through. None
    (run the loop) past the gate, or for an id type whose kernel ordering
    could differ from Spark's (``ids_ok``)."""
    if not ids_ok(e, src, dst):
        return None
    return driver_kernel(
        e.select(F.col(src).alias("ku"), F.col(dst).alias("kv")),
        max_edges,
        kernel,
        schema.format(id=_id_ddl(e, src)),
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
    small_graph_max_nodes: int = 65536,
) -> DataFrame:
    """Weighted PageRank with dangling-mass redistribution, fixed iteration
    count. Returns ``(node, r)``.

    Determinism contract (what makes this oracle-replayable): out-edge
    probabilities are exact integer ratios evaluated in double; each
    iteration's rank is rounded to ``round_dp`` decimals — double-sum order
    drift is ~1e-16 relative, so a 1e-9 round makes both engines' per-round
    vectors IDENTICAL, and identical inputs to round N+1 keep them so. The
    teleport term is computed as ``1.0 - damping`` in double on both sides.

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
    count is bounded (``small_graph_max_nodes``), the whole recurrence
    runs on the driver (``driver_kernel``: a numpy kernel with identical
    per-round half-away 9-dp rounding) — the heavy, data-sized work
    (the edge aggregation) stays distributed, and iterating a
    metadata-sized vector through 10 scheduler waves was the
    anti-pattern. At web scale (nodes ≫ threshold) the distributed
    loop below runs unchanged: bucket edges by ``src``, co-bucket the
    rank table, exchange-free rounds.
    """
    en = edges.withColumn(
        "p", F.col(weight) / F.sum(weight).over(Window.partitionBy(src))
    ).select(src, dst, "p")
    # small-graph kernel (r11): the aggregated (src, dst, p) table and the
    # rank vector are metadata-sized here. No checkpoint on this path
    # (r11b): the kernel reads `en` exactly once, so the eager parquet
    # write+read that cuts lineage for the ITERATING path below is pure
    # overhead here
    small = _pagerank_small_graph(
        en, nodes, src=src, dst=dst, node=node, damping=damping,
        iterations=iterations, round_dp=round_dp,
        max_nodes=small_graph_max_nodes,
    )
    if small is not None:
        return small
    en = checkpoint(en)
    srcs = checkpoint(en.select(src).distinct())
    nn = nodes.agg(F.count("*").alias("n"))
    base = checkpoint(nodes.select(node).crossJoin(F.broadcast(nn)))
    teleport = F.lit(1.0) - F.lit(damping)
    scale = F.lit(10.0 ** round_dp)
    ranks = base.select(node, (F.lit(1.0) / F.col("n")).alias("r"))
    for i in range(iterations):
        contrib = (
            en.join(F.broadcast(ranks), F.col(src) == F.col(node))
            .groupBy(dst)
            .agg(F.sum(F.col("r") * F.col("p")).alias("con"))
        )
        dang = ranks.join(
            srcs, ranks[node] == srcs[src], "left_anti"
        ).agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dm"))
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


def _pagerank_small_graph(
    en: DataFrame,
    nodes: DataFrame,
    *,
    src: str,
    dst: str,
    node: str,
    damping: float,
    iterations: int,
    round_dp: int,
    max_nodes: int,
) -> DataFrame | None:
    """The metadata-sized fast path: the full power iteration on the
    driver (``driver_kernel``), or None past ``max_nodes`` node rows. The
    fetched table is the node list with each node's out-edges attached
    as one list, so its row count IS the node count the gate has always
    counted, and one fetch both gates and loads the graph. Arithmetic
    contract mirrors the distributed loop exactly — out-edge
    probabilities arrive precomputed in ``en``; each round is
    teleport/n + d·(Σ r·p per dst + dangling_mass/n), rounded HALF-AWAY to
    ``round_dp`` decimals (``floor(x·10^k + 0.5)`` — ranks are positive —
    the same expression the distributed loop evaluates, and the decision
    DuckDB's round makes on the binary value; the per-round 1e-9 round
    swallows numpy-vs-SQL sum-order drift exactly as it swallows
    Spark-vs-DuckDB drift in the distributed path). Edges whose endpoints
    are not in the node list are ignored, matching the distributed joins'
    semantics."""
    damping_f, iters, dp = float(damping), int(iterations), int(round_dp)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes_a = np.sort(pdf["ksrc"].to_numpy(dtype="int64"))
        idx = {int(v): i for i, v in enumerate(nodes_a)}
        n = len(nodes_a)
        out = pdf.explode("out").dropna(subset=["out"])
        e_all = pd.DataFrame(
            {
                "ksrc": out["ksrc"].to_numpy(),
                "kdst": [o["kdst"] for o in out["out"]],
                "kp": [o["kp"] for o in out["out"]],
            }
        )
        # dangling mask from ALL edge srcs (r12, VERDICT r11 #7): the
        # distributed loop derives non-dangling from en.select(src).distinct()
        # BEFORE any dst filtering — a node whose only out-edge points
        # outside the node list is NOT dangling there, so not here either
        dangling = np.ones(n, dtype=bool)
        src_in = e_all.loc[e_all["ksrc"].isin(idx), "ksrc"]
        dangling[src_in.map(idx).to_numpy(dtype="int64")] = False
        e = e_all[e_all["ksrc"].isin(idx) & e_all["kdst"].isin(idx)]
        si = e["ksrc"].map(idx).to_numpy(dtype="int64")
        di = e["kdst"].map(idx).to_numpy(dtype="int64")
        p = e["kp"].to_numpy(dtype="float64")
        scale = 10.0 ** dp
        teleport = 1.0 - damping_f
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            con = np.zeros(n)
            np.add.at(con, di, r[si] * p)
            dm = float(r[dangling].sum())
            r = (
                np.floor(
                    (teleport / n + damping_f * (con + dm / n)) * scale + 0.5
                )
                / scale
            )
        return pd.DataFrame({"node": nodes_a, "r": r})

    out_edges = en.groupBy(F.col(src).cast("long").alias("ksrc")).agg(
        F.collect_list(
            F.struct(
                F.col(dst).cast("long").alias("kdst"),
                F.col("p").cast("double").alias("kp"),
            )
        ).alias("out")
    )
    rows = nodes.select(F.col(node).cast("long").alias("ksrc")).join(
        out_edges, "ksrc", "left"
    )
    return driver_kernel(rows, max_nodes, kernel, f"{node} long, r double")


def dag_depths(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 64,
    small_graph_max_nodes: int = 65536,
    small_graph_max_edges: int = 1 << 22,
) -> DataFrame:
    """Longest-path (topological-layer) depth per node of a DAG — the
    distributed Bellman-Ford specialization q_dag_layers runs: depth
    relaxes d(v) ← max(d(v), d(u)+1) over incoming edges until a
    fixpoint, capped at ``max_rounds``. Returns ``(node, d)``. Nodes are
    src ∪ dst of the edge list.

    r11 (the q_pagerank kernel pattern): when the edge and node counts
    are bounded (one bounded fetch of the edges decides both) the whole
    fixpoint runs on the driver (``driver_kernel``) — each distributed
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
    # kernel gate (r12, ADVICE r11 #2/#3): ids must be integral (the kernel
    # casts them to long — strings/decimals fall through to the distributed
    # loop, which handles any type), and BOTH dimensions must be bounded —
    # node count caps the depth vector, edge count caps the fetched
    # payload (a dense small-node DAG could otherwise funnel ~|V|² edges
    # onto the driver). One bounded fetch of the edges decides both: the
    # node set is src ∪ dst of the fetched rows
    small = _dag_depth_small_graph(
        e, src=src, dst=dst, max_rounds=max_rounds,
        max_nodes=small_graph_max_nodes, max_edges=small_graph_max_edges,
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
    # cast node to long for schema parity with the kernel path (ADVICE
    # r11 #2) — the kernel always emits long node ids
    return depth.select(
        F.col("v").cast("long").alias("node"), F.col("d").alias("d")
    )


def _dag_depth_small_graph(
    edges: DataFrame,
    *,
    src: str,
    dst: str,
    max_rounds: int,
    max_nodes: int,
    max_edges: int,
) -> DataFrame | None:
    """Longest-path (topological-layer) depth per node for a
    METADATA-SIZED DAG, computed on the driver (``driver_kernel``), or
    None past ``max_edges`` edges or ``max_nodes`` nodes or for
    non-integral ids (the kernel casts them to long) — the r11
    q_pagerank kernel pattern applied to q_dag_layers' relaxation loop
    (each distributed round there was a broadcast join + union +
    max-groupBy + eager checkpoint + a Σd convergence action, all to
    advance a ≤|V|-row table one hop). Arithmetic contract mirrors the
    distributed loop exactly: simultaneous relaxation
    d(v) ← max(d(v), d(u)+1) over incoming edges until a fixpoint, capped
    at ``max_rounds`` (the loop's backstop) — integers, order-free, so
    the fixpoint is identical by construction. The node list is src ∪ dst
    of the edges, as the loop's."""
    rounds = int(max_rounds)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame | None:
        nodes_a, si, di = _encode_ids(pdf.astype("int64"))
        if len(nodes_a) > max_nodes:
            return None
        d = np.zeros(len(nodes_a), dtype="int64")
        for _ in range(rounds):
            nd = d.copy()
            np.maximum.at(nd, di, d[si] + 1)
            if (nd == d).all():
                break
            d = nd
        return pd.DataFrame({"node": nodes_a, "d": d})

    return _edge_kernel(
        edges, src, dst, max_edges, kernel, "node long, d long",
        ids_ok=_integral_ids,
    )


# --------------------------------------------------------------------------
# r12 (VERDICT r11 #1): the remaining bounded-round graph loops, kerneled.
# Same pattern as pagerank/dag_depths above — the heavy, data-sized work
# (the 4-table edge aggregation) stays distributed; iterating a
# metadata-sized node/pair table through scheduler waves was the
# anti-pattern. Every kernel below is INTEGER counting over
# dictionary-encoded ids (no id arithmetic, no doubles), so the fixpoint /
# census is identical to the distributed loop by construction; node ids
# pass through with their input dtype (schema-preserving), gated on types
# whose kernel ordering matches Spark's (_KERNEL_ID_TYPES).
#
# Gate: ONE bounded fetch of the (distinct, checkpointed) edge list —
# |E| ≤ small_graph_max_edges — through _edge_kernel / driver_kernel, which
# also loads the kernel's input. Distinct edges imply |V| ≤ 2·|E|, so the
# default gate (2048 edges ⇒ ≤4096 nodes) bounds the kernels' dense n×n
# work matrices at ~134 MB on the driver (ADVICE r11 #3's
# both-dimensions rule, collapsed to one fetch because the input is
# distinct by construction). Past the gate the distributed loops run
# unchanged: edges bucketed by src at scale, per-round joins exchange-free,
# node-keyed state shuffles with map-side partials.
# --------------------------------------------------------------------------


def hop_distances(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_d: int = 9,
    small_graph_max_edges: int = 2048,
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
        e0, src, dst, small_graph_max_edges,
        lambda pdf: _hop_distances_kernel(pdf, int(max_d)),
        "src {id}, node {id}, d long",
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
    frontier = adj
    for d in range(2, cap + 1):
        # bool @ bool is logical OR over AND: a uint8 product counted
        # paths mod 256 and lost pairs joined by 256·k of them
        nxt = (frontier @ adj) & ~reached
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
    small_graph_max_edges: int = 2048,
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
        e, src, dst, small_graph_max_edges,
        lambda pdf: _closure_census_kernel(pdf, int(max_rounds)),
        "node {id}, n_reachable long, on_cycle boolean",
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
    reach = adj.copy()
    for _ in range(rounds):
        nxt = reach | (reach @ adj)  # bool matmul: OR over AND, no overflow
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
    small_graph_max_edges: int = 2048,
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
        e0, src, dst, small_graph_max_edges,
        lambda pdf: _kcore_census_kernel(pdf, int(k), int(rounds)),
        "node {id}, core_degree long",
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
    small_graph_max_edges: int = 2048,
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
        e0, src, dst, small_graph_max_edges,
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
