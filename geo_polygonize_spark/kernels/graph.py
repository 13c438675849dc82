"""SoA planar half-edge graph, vectorized with numpy.

Re-derives the reference ``PlanarGraph``
(reference: ``src/graph/planar_graph.rs:40-561``) as flat numpy
arrays — the direct analog of its Structure-of-Arrays layout
(``nodes_x/nodes_y/...``, ``planar_graph.rs:41-59``), which is also
exactly what Arrow hands a pandas UDF.

Stages (each cites the reference semantics it reproduces):
* build:      endpoint dedup + node ids + twin half-edges
              (``bulk_load``, planar_graph.rs:104-319)
* sort_edges: CCW angular adjacency order, quadrant-first then robust
              orient2d, collinear ties by squared distance
              (planar_graph.rs:382-423, utils/mod.rs:46-95)
* prune_dangles: iterative degree-1 peeling to fixpoint
              (planar_graph.rs:426-472), vectorized by rounds
* edge_rings: next-CCW minimal ring tracing via a successor
              permutation over unmarked half-edges
              (planar_graph.rs:475-561)

Half-edge layout: segment k yields directed edges 2k (u→v) and 2k+1
(v→u); ``sym(e) = e ^ 1``.
"""

from __future__ import annotations

import numpy as np

from .intersect import orient2d_sign


class PlanarGraph:
    __slots__ = (
        "nx",
        "ny",
        "de_src",
        "de_dst",
        "degree",
        "de_marked",
        "adj_de",
        "adj_offsets",
        "n_edges",
    )

    def __init__(self, nx, ny, de_src, de_dst):
        self.nx = nx
        self.ny = ny
        self.de_src = de_src
        self.de_dst = de_dst
        self.n_edges = de_src.size // 2
        self.degree = np.bincount(de_src, minlength=nx.size).astype(np.int64)
        self.de_marked = np.zeros(de_src.size, dtype=bool)
        self.adj_de = None
        self.adj_offsets = None

    @property
    def n_nodes(self) -> int:
        return self.nx.size


def build_graph(x1, y1, x2, y2) -> PlanarGraph:
    """Bulk graph construction (reference planar_graph.rs:104-319).

    Nodes are the exact-deduplicated endpoints; segments with both
    coordinate deltas < 1e-12 are dropped (planar_graph.rs:211-213)
    *after* node creation, like the reference (their endpoints still
    become isolated nodes with degree 0).
    """
    x1, y1, x2, y2 = (np.asarray(a, dtype=np.float64) + 0.0 for a in (x1, y1, x2, y2))
    ex = np.concatenate([x1, x2])
    ey = np.concatenate([y1, y2])
    # exact-pair dedup via complex view (lexicographic (x, y) sort)
    key = ex + 1j * ey
    uniq, inv = np.unique(key, return_inverse=True)
    nx = uniq.real
    ny = uniq.imag

    n = x1.size
    u = inv[:n]
    v = inv[n:]
    valid = ~((np.abs(x1 - x2) < 1e-12) & (np.abs(y1 - y2) < 1e-12))
    u = u[valid]
    v = v[valid]

    m = u.size
    de_src = np.empty(2 * m, dtype=np.int64)
    de_dst = np.empty(2 * m, dtype=np.int64)
    de_src[0::2] = u
    de_dst[0::2] = v
    de_src[1::2] = v
    de_dst[1::2] = u
    return PlanarGraph(nx, ny, de_src, de_dst)


def _quadrant(dx, dy):
    """CCW quadrant from +X axis (reference utils/mod.rs:87-95)."""
    q = np.full(dx.shape, 3, dtype=np.int8)
    q[(dx > 0) & (dy >= 0)] = 0
    q[(dx <= 0) & (dy > 0)] = 1
    q[(dx < 0) & (dy <= 0)] = 2
    return q


def sort_edges(g: PlanarGraph) -> None:
    """Build CCW-sorted adjacency CSR (reference planar_graph.rs:382-423).

    Fast path: lexsort by (src, quadrant, atan2, dist²). atan2 is
    monotonic with true angle within a quadrant but can misorder
    nearly-collinear distinct directions; a verification pass checks
    every adjacent pair with the exact orient2d predicate
    (utils/mod.rs:46-95) and locally re-sorts the rare offending node
    fans with an exact comparator.
    """
    dx = g.nx[g.de_dst] - g.nx[g.de_src]
    dy = g.ny[g.de_dst] - g.ny[g.de_src]
    quad = _quadrant(dx, dy)
    ang = np.arctan2(dy, dx)
    d2 = dx * dx + dy * dy
    order = np.lexsort((d2, ang, quad, g.de_src)).astype(np.int64)

    src_sorted = g.de_src[order]
    counts = np.bincount(src_sorted, minlength=g.n_nodes)
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)

    # --- exact verification of adjacent pairs within each node fan ---
    same_node = src_sorted[1:] == src_sorted[:-1]
    a = order[:-1][same_node]
    b = order[1:][same_node]
    same_quad = quad[a] == quad[b]
    if np.any(same_quad):
        aa = a[same_quad]
        bb = b[same_quad]
        s = orient2d_sign(
            g.nx[g.de_dst[aa]],
            g.ny[g.de_dst[aa]],
            g.nx[g.de_dst[bb]],
            g.ny[g.de_dst[bb]],
            g.nx[g.de_src[aa]],
            g.ny[g.de_src[aa]],
        )
        # orient2d_sign(a, b, center) = cross(a-c, b-c); > 0 means a
        # strictly before b in CCW order. s < 0 → pair misordered;
        # s == 0 (collinear) must be ordered by ascending dist².
        bad = (s < 0) | ((s == 0) & (d2[aa] > d2[bb]))
        bad_nodes = np.unique(g.de_src[aa[bad]])
        if bad_nodes.size:
            _exact_resort(g, order, offsets, bad_nodes, quad, d2)

    g.adj_de = order
    g.adj_offsets = offsets


def _exact_resort(g, order, offsets, bad_nodes, quad, d2):
    """Comparison re-sort of specific node fans with the exact
    angular comparator (reference utils/mod.rs:46-85)."""
    import functools

    cx_arr, cy_arr = g.nx, g.ny

    for node in bad_nodes:
        lo, hi = offsets[node], offsets[node + 1]
        fan = order[lo:hi].copy()
        cx = cx_arr[node]
        cy = cy_arr[node]

        def cmp(e1, e2):
            if e1 == e2:
                return 0
            q1, q2 = int(quad[e1]), int(quad[e2])
            if q1 != q2:
                return -1 if q1 < q2 else 1
            tx1, ty1 = g.nx[g.de_dst[e1]], g.ny[g.de_dst[e1]]
            tx2, ty2 = g.nx[g.de_dst[e2]], g.ny[g.de_dst[e2]]
            if tx1 == tx2 and ty1 == ty2:
                return 0
            # orient2d(center, a, b) > 0 → a < b (utils/mod.rs:70-75);
            # orient2d_sign(a, b, center) computes cross(a-c, b-c) = same.
            s = int(
                orient2d_sign(
                    np.array([tx1]),
                    np.array([ty1]),
                    np.array([tx2]),
                    np.array([ty2]),
                    np.array([cx]),
                    np.array([cy]),
                )[0]
            )
            if s > 0:
                return -1
            if s < 0:
                return 1
            da = d2[e1]
            db = d2[e2]
            return -1 if da < db else (1 if da > db else 0)

        fan_sorted = sorted(fan.tolist(), key=functools.cmp_to_key(cmp))
        order[lo:hi] = fan_sorted


def prune_dangles(g: PlanarGraph) -> int:
    """Iterative degree-1 peeling to fixpoint
    (reference planar_graph.rs:426-472), vectorized by rounds.

    Each round removes every current degree-1 node's single unmarked
    edge and decrements the neighbor — the same fixpoint as the
    reference's worklist. Returns the number of edges removed, which
    equals the reference's processed-dangle count."""
    if g.adj_de is None:
        raise RuntimeError("sort_edges must run before prune_dangles")
    adj = g.adj_de
    offsets = g.adj_offsets
    adj_src = g.de_src[adj]
    removed = 0
    degree = g.degree
    marked = g.de_marked
    while True:
        d1 = np.flatnonzero(degree == 1)
        if d1.size == 0:
            break
        node_is_d1 = np.zeros(g.n_nodes, dtype=bool)
        node_is_d1[d1] = True
        sel = node_is_d1[adj_src] & ~marked[adj]
        cand_de = adj[sel]
        cand_src = adj_src[sel]
        # first unmarked outgoing half-edge per degree-1 node
        _, first_idx = np.unique(cand_src, return_index=True)
        chosen = cand_de[first_idx]
        marked[chosen] = True
        marked[chosen ^ 1] = True
        removed += int(np.unique(chosen >> 1).size)
        degree[d1] = 0
        dec = np.bincount(g.de_dst[chosen], minlength=g.n_nodes)
        degree = np.maximum(degree - dec, 0)
        degree[d1] = 0
    g.degree = degree
    return removed


def successor_permutation(g: PlanarGraph) -> np.ndarray:
    """The raw next-CCW successor permutation over ALL half-edges —
    ``succ[e] = next_ccw[sym(e)]`` with NO dangle pruning and no mark
    filtering (the face walk of the full multigraph, dangles included
    as zero-width spur excursions). Used by the boundary-chain stitch,
    whose per-tile kernels must agree on successors WITHOUT any
    tile-local pruning decision (pruning depends on the window, so two
    tiles could disagree; spur excursions are instead cancelled after
    ring closure, which is window-independent)."""
    if g.adj_de is None:
        raise RuntimeError("sort_edges must run before successor_permutation")
    n_de = g.de_src.size
    next_ptr = np.full(n_de, -1, dtype=np.int64)
    va = g.adj_de
    vsrc = g.de_src[va]
    if va.size:
        is_first = np.concatenate(([True], vsrc[1:] != vsrc[:-1]))
        is_last = np.concatenate((vsrc[:-1] != vsrc[1:], [True]))
        nxt = np.empty(va.size, dtype=np.int64)
        nxt[:-1] = va[1:]
        nxt[np.flatnonzero(is_last)] = va[np.flatnonzero(is_first)]
        next_ptr[va] = nxt
    return next_ptr[np.arange(n_de) ^ 1]


def edge_rings(g: PlanarGraph):
    """Next-CCW minimal ring tracing (reference planar_graph.rs:475-561).

    Builds circular "next unmarked CCW" pointers per node fan, then
    follows ``succ[e] = next_ccw[sym(e)]``. Over unmarked half-edges
    ``succ`` is a permutation, so every orbit closes — identical ring
    set to the reference's visited-flag traversal.

    Returns (ring_xs, ring_ys): lists of closed coordinate arrays
    (first == last), one per ring, in deterministic order (smallest
    half-edge id first).
    """
    if g.adj_de is None:
        raise RuntimeError("sort_edges must run before edge_rings")
    n_de = g.de_src.size
    next_ptr = np.full(n_de, -1, dtype=np.int64)

    valid_mask = ~g.de_marked[g.adj_de]
    # also skip fans of degree-0 nodes (planar_graph.rs:486)
    deg_ok = g.degree[g.de_src[g.adj_de]] > 0
    vm = valid_mask & deg_ok
    va = g.adj_de[vm]
    vsrc = g.de_src[va]
    if va.size:
        # circular next within each node group (groups are contiguous:
        # adj_de is sorted by src)
        is_last = np.concatenate((vsrc[:-1] != vsrc[1:], [True]))
        is_first = np.concatenate(([True], vsrc[1:] != vsrc[:-1]))
        nxt = np.empty(va.size, dtype=np.int64)
        nxt[:-1] = va[1:]
        first_pos = np.flatnonzero(is_first)
        last_pos = np.flatnonzero(is_last)
        nxt[last_pos] = va[first_pos]
        next_ptr[va] = nxt

    succ = np.full(n_de, -1, dtype=np.int64)
    live = np.flatnonzero(~g.de_marked)
    succ[live] = next_ptr[live ^ 1]

    if live.size == 0:
        return [], []
    if np.any(succ[live] < 0):
        # degenerate bookkeeping (should not happen for live edges) —
        # fall back to the sequential chase
        return _edge_rings_chase(g, succ, live)

    # ``succ`` restricted to live edges is a permutation → extract all
    # cycles with pointer-doubling list ranking (O(n log n) fully
    # vectorized instead of an O(n) Python pointer chase):
    #   rep[i]  = min edge id on i's cycle (== the chase's ring start)
    #   rank[i] = distance from rep to i along succ
    idx = live
    pos = np.full(n_de, -1, dtype=np.int64)
    pos[idx] = np.arange(idx.size)
    nxt = pos[succ[idx]]  # permutation over 0..len(live)-1

    rep = np.arange(idx.size)
    jump = nxt.copy()
    for _ in range(int(np.ceil(np.log2(max(idx.size, 2)))) + 1):
        rep = np.minimum(rep, rep[jump])
        jump = jump[jump]

    # predecessor pointers; anchor each cycle at its representative
    pred = np.empty(idx.size, dtype=np.int64)
    pred[nxt] = np.arange(idx.size)
    is_rep = rep == np.arange(idx.size)
    ptr = pred.copy()
    ptr[is_rep] = np.flatnonzero(is_rep)  # self-loop at anchors
    rank = (~is_rep).astype(np.int64)
    for _ in range(int(np.ceil(np.log2(max(idx.size, 2)))) + 1):
        rank = rank + rank[ptr]
        ptr = ptr[ptr]

    order = np.lexsort((rank, rep))
    des = idx[order]
    reps = rep[order]
    starts = np.flatnonzero(np.concatenate(([True], reps[1:] != reps[:-1])))
    bounds = np.concatenate((starts, [des.size]))

    ring_xs: list[np.ndarray] = []
    ring_ys: list[np.ndarray] = []
    src = g.de_src
    dst = g.de_dst
    for s, e in zip(bounds[:-1], bounds[1:]):
        ring_des = des[s:e]
        nodes = np.empty(ring_des.size + 1, dtype=np.int64)
        nodes[0] = src[ring_des[0]]
        nodes[1:] = dst[ring_des]
        ring_xs.append(g.nx[nodes])
        ring_ys.append(g.ny[nodes])
    return ring_xs, ring_ys


def _edge_rings_chase(g: PlanarGraph, succ: np.ndarray, live: np.ndarray):
    """Sequential fallback chase (original formulation)."""
    visited = np.zeros(succ.size, dtype=bool)
    ring_xs: list[np.ndarray] = []
    ring_ys: list[np.ndarray] = []
    for start in live:
        if visited[start] or succ[start] < 0:
            continue
        ring = [start]
        visited[start] = True
        cur = succ[start]
        ok = True
        while cur != start:
            if cur < 0 or visited[cur]:
                ok = False
                break
            visited[cur] = True
            ring.append(cur)
            cur = succ[cur]
        if not ok or not ring:
            continue
        ring_arr = np.asarray(ring, dtype=np.int64)
        nodes = np.empty(ring_arr.size + 1, dtype=np.int64)
        nodes[0] = g.de_src[ring_arr[0]]
        nodes[1:] = g.de_dst[ring_arr]
        ring_xs.append(g.nx[nodes])
        ring_ys.append(g.ny[nodes])
    return ring_xs, ring_ys
