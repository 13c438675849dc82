"""Boundary-chain stitched polygonize: exact distributed polygonize with
no maximum polygon size (the engine behind ``stitch.stitched_polygonize``).

The segment data is noded and traced EXACTLY ONCE (one grouped-map
pass); everything that crosses a tile boundary leaves the kernel as an
open boundary CHAIN — perimeter-scale data — and only chains flow
through the merge shuffles.

Protocol (each step local and deterministic):

1. **Claiming.** After windowed noding (global snap grid), every
   half-edge ``g`` is CLAIMED by exactly one tile: the tile whose core
   (half-open ``[x0+i·ts, x0+(i+1)·ts)`` cell) contains ``tail(g)``
   (the half-edge's origin node). Cores partition the plane and
   coordinates are snapped, so ownership is bit-deterministic across
   tiles.
2. **Exactness window.** The tile's buffered window must contain every
   claimed half-edge and its immediate predecessor, with complete
   fans at their heads. A noded sub-segment is never longer than its
   input segment, so ``buffer ≥ max input segment length`` guarantees
   one full step out of the core stays inside the window; the operator
   enforces ``buffer_eff = max(buffer, L_max + 4·snap_grid)`` (one
   narrow aggregate). Within the window, sub-segmentation equals the
   global noding: any segment incident to a node inside the window
   touches the window, so it is present, and every splitter of an
   in-window span touches the window too — identical
   sub-segmentation in every tile that contains the span.
3. **Tracing.** The next-CCW successor permutation runs over the FULL
   multigraph with NO dangle pruning (pruning is window-dependent, so
   two tiles could disagree near a window edge; instead dangles ride
   through as zero-width spur excursions and are cancelled exactly
   after ring closure — reduction of adjacent reverse edge pairs on
   the cyclic edge word, which is window-independent). Claimed edges
   decompose under the successor permutation into
   * complete cycles (every edge claimed here) → rings, emitted now;
   * maximal open chains → rows ``(head_key, tail_key, coords)``.
4. **Linking keys.** A chain's ``tail_key`` is the identity hash of
   its LAST claimed half-edge (both endpoints snapped, bit-exact in
   every window that contains them); the FOLLOWING chain — claimed by
   the neighbor tile that owns the next core — computed its first edge
   as ``succ`` of that same half-edge and stamps the same hash as its
   ``head_key``. So the chain graph's successor pointer IS
   ``tail_key``; no discovery join is needed.
5. **Cycle closure.** ``connected_keepers`` (operators/dedup.py — the
   same pointer-doubling min-label CC used for dedup keepers) labels
   each chain with its cycle id in O(log cycle length) rounds over
   narrow (id, id) rows; one ``groupBy(cycle)`` gathers each ring's
   chains (a ring's chain count is perimeter/tile_size — one task
   holds one polygon boundary, the same row-size assumption as
   POLYGON_SCHEMA), and a kernel walks the key links, concatenates
   coordinates, cancels spurs, and emits the closed ring. A dangling
   link (tail with no matching head) is topologically impossible under
   (1)+(2), so the kernel RAISES on it rather than dropping data.
6. **Assembly.** The ring set (local + merged) feeds the
   classification / twin-promotion / hole-assignment rule of
   ``kernels/rings.py``, run by ``assembly.py`` either as one task over
   the whole ring set or per claim core (the fused assembly) —
   semantics identical to the reference polygonizer
   (polygonizer.rs:124-261).

Scale shape: one wide shuffle of segment data (the tile repartition),
then shuffles over chain rows only: for a W×W-tile lattice the chain
stages move O(W·tiles_crossed) rows. Skew: tiles whose window draws
more than ``max_segments_per_tile`` segments sub-split into f×f
claiming cells (a finer claiming partition — chains crossing sub-cell
boundaries merge exactly like tile-crossing ones).
"""

from __future__ import annotations

import atexit
import collections
import os
import shutil
import tempfile
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels.graph import build_graph, sort_edges, successor_permutation
from ..kernels.noding import node_segments
from ..kernels.polygonize import DEFAULT_SNAP_GRID
from ..kernels.rings import batch_ring_stats
from .assembly import _assemble_rings_local, assemble_rings_fused
from .polygonize_op import _bbox_of_segments, segmentize_df
from .tiling import (
    TILE_KEY,
    assign_windows,
    claim_cores,
    factors_frame,
    grid_shape,
    hot_tile_factors,
    repartition_tiles,
    split_hot_tiles,
)

# ``assembly="auto"`` assembles up to this many rings (an upper bound
# from the trace counts) in one task, more with the fused assembly
LOCAL_ASSEMBLY_MAX_RINGS = 100_000
# the chain engine halves a coarse tile while the average segment count
# per tile stays above this (see chain_stitched_polygonize)
TARGET_SEGMENTS_PER_TILE = 8000
# chain sets up to this size merge in one coalesced task (a dict walk
# over perimeter-scale rows, far below the per-round latency of the
# distributed CC path); larger sets take the pointer-doubling CC +
# partition-local walk
LOCAL_CHAIN_MERGE_MAX = 200_000
# inputs up to this many segments run the long-segment pre-split on the
# driver (see _presplit_long_segments)
PRESPLIT_DRIVER_MAX_SEGMENTS = 4096

RING_SCHEMA = T.StructType(
    [
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
        T.StructField("area", T.DoubleType()),  # signed
        T.StructField("bx1", T.DoubleType()),
        T.StructField("by1", T.DoubleType()),
        T.StructField("bx2", T.DoubleType()),
        T.StructField("by2", T.DoubleType()),
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
    ]
)

CHAIN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.IntegerType()),  # 0 ring, 1 chain
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
        T.StructField("head_key", T.LongType()),
        T.StructField("tail_key", T.LongType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("bx1", T.DoubleType()),
        T.StructField("by1", T.DoubleType()),
        T.StructField("bx2", T.DoubleType()),
        T.StructField("by2", T.DoubleType()),
        T.StructField("cx", T.DoubleType()),
        T.StructField("cy", T.DoubleType()),
    ]
)



_PRESPLIT_TMPDIR: str | None = None


def _presplit_tmpdir() -> str:
    """Process-scoped temp dir for driver pre-split parquet handoffs,
    removed at interpreter exit (the files back lazy DataFrames, so
    they must outlive the call that wrote them)."""
    global _PRESPLIT_TMPDIR
    if _PRESPLIT_TMPDIR is None:
        _PRESPLIT_TMPDIR = tempfile.mkdtemp(prefix="gp_presplit_")
        atexit.register(shutil.rmtree, _PRESPLIT_TMPDIR, ignore_errors=True)
    return _PRESPLIT_TMPDIR


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized (uint64 wrap-around)."""
    h ^= h >> 30
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> 27
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> 31
    return h


def _edge_keys(sx, sy, dx, dy) -> np.ndarray:
    """Deterministic int64 identity of directed half-edges from their
    snapped endpoint coordinates (bit-exact across tiles): the four
    float64 bit patterns chained through the splitmix64 finalizer —
    fully vectorized (a per-edge digest call was a measured hot spot)."""
    with np.errstate(over="ignore"):
        h = np.full(np.shape(sx), 0x9E3779B97F4A7C15, dtype=np.uint64)
        for a in (sx, sy, dx, dy):
            h = _mix64(h ^ np.asarray(a, np.float64).view(np.uint64))
    return h.view(np.int64)


def _strip_spurs(xs: np.ndarray, ys: np.ndarray):
    """Cancel zero-width spur excursions on a CLOSED ring (first ==
    last): reduce adjacent reverse directed-edge pairs on the cyclic
    edge word to its (unique) reduced form. Returns the cleaned closed
    ring, or (None, None) if everything cancels (a pure dangle tree's
    face walk). Exact float comparisons — coordinates are snapped."""
    pts = list(zip(xs[:-1].tolist(), ys[:-1].tolist()))
    n = len(pts)
    if n < 2:
        return None, None
    edges = [(pts[i], pts[(i + 1) % n]) for i in range(n)]
    stack: collections.deque = collections.deque()
    for e in edges:
        if stack and stack[-1][0] == e[1] and stack[-1][1] == e[0]:
            stack.pop()
        else:
            stack.append(e)
    # wrap-around cancellation on the cyclic word (deque: a long spur
    # chain straddling the walk origin cancels in O(n), not O(n²))
    while len(stack) >= 2 and stack[0][0] == stack[-1][1] and stack[0][1] == stack[-1][0]:
        stack.pop()
        stack.popleft()
    if len(stack) < 3:
        return None, None
    out_x = np.fromiter((e[0][0] for e in stack), np.float64, len(stack))
    out_y = np.fromiter((e[0][1] for e in stack), np.float64, len(stack))
    return (
        np.concatenate((out_x, out_x[:1])),
        np.concatenate((out_y, out_y[:1])),
    )


def _rings_have_spurs(ring_xs: list, ring_ys: list) -> np.ndarray:
    """Per-ring spur test over CLOSED ring arrays, one vectorized pass
    over the flattened layout: ring i has a spur iff some vertex's
    cyclic predecessor equals its successor. Returns bool per ring."""
    n = len(ring_xs)
    lens = np.fromiter((a.size - 1 for a in ring_xs), np.int64, n)  # open lengths
    off = np.concatenate(([0], np.cumsum(lens)))
    total = int(off[-1])
    xr = np.empty(total)
    yr = np.empty(total)
    for i in range(n):
        xr[off[i] : off[i + 1]] = ring_xs[i][:-1]
        yr[off[i] : off[i + 1]] = ring_ys[i][:-1]
    idx = np.arange(total)
    ring_of = np.repeat(np.arange(n), lens)
    starts = off[ring_of]
    ends = off[ring_of + 1]
    prv = idx - 1
    prv[idx == starts] = ends[idx == starts] - 1
    nxt = idx + 1
    nxt[idx == ends - 1] = starts[idx == ends - 1]
    spur_pos = (xr[prv] == xr[nxt]) & (yr[prv] == yr[nxt])
    flags = np.zeros(n, dtype=bool)
    np.logical_or.at(flags, ring_of[spur_pos], True)
    return flags


def _make_chain_kernel(x0, y0, ts, snap_grid, cols, rows, fmap):
    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        tile_i, tile_j, f, sub_i, sub_j = (int(v) for v in key)

        x1, y1, x2, y2 = node_segments(
            pdf["x1"].to_numpy(),
            pdf["y1"].to_numpy(),
            pdf["x2"].to_numpy(),
            pdf["y2"].to_numpy(),
            snap_grid,
        )
        empty = pd.DataFrame(
            {
                "kind": np.empty(0, np.int32),
                "xs": pd.Series([], dtype=object),
                "ys": pd.Series([], dtype=object),
                "head_key": np.empty(0, np.int64),
                "tail_key": np.empty(0, np.int64),
                "area": np.empty(0, np.float64),
                "bx1": np.empty(0, np.float64),
                "by1": np.empty(0, np.float64),
                "bx2": np.empty(0, np.float64),
                "by2": np.empty(0, np.float64),
                "cx": np.empty(0, np.float64),
                "cy": np.empty(0, np.float64),
            }
        )
        if x1.size == 0:
            return empty
        g = build_graph(x1, y1, x2, y2)
        sort_edges(g)
        succ = successor_permutation(g)
        m = succ.size
        if m == 0:
            return empty

        # claim: tail node inside this (sub-)tile's core cell. The
        # owner index is CLIPPED to the tile grid so nodes exactly on
        # the global bbox max edge belong to the last tile instead of to
        # nobody — every half-edge must have exactly one claimant or
        # chain links dangle. The factor map is closed over so every
        # kernel derives the same owner for any node.
        ci, cj, f_arr, osi, osj = claim_cores(
            g.nx[g.de_src], g.ny[g.de_src], x0, y0, ts, cols, rows, fmap
        )
        claimed = (
            (ci == tile_i)
            & (cj == tile_j)
            & (f_arr == f)
            & (osi == sub_i)
            & (osj == sub_j)
        )
        idx = np.flatnonzero(claimed)
        k = idx.size
        if k == 0:
            return empty
        pred = np.empty(m, dtype=np.int64)
        pred[succ] = np.arange(m)

        pos = np.full(m, -1, dtype=np.int64)
        pos[idx] = np.arange(k)
        s_g = succ[idx]
        s_in = claimed[s_g]
        nxt = np.where(s_in, pos[s_g], np.arange(k))  # self-loop at tails
        is_tail = ~s_in
        p_g = pred[idx]
        is_head = ~claimed[p_g]

        rounds = int(np.ceil(np.log2(max(k, 2)))) + 1
        # terminal (tail) of each path via pointer doubling; cycle
        # elements land on an arbitrary in-cycle position instead
        jump = nxt.copy()
        for _ in range(rounds):
            jump = jump[jump]
        on_path = is_tail[jump]
        # cycle id: min compact-index over the forward closure
        lab = np.arange(k)
        j2 = nxt.copy()
        for _ in range(rounds):
            lab = np.minimum(lab, lab[j2])
            j2 = j2[j2]
        # distance to terminal (paths) — orders a path head-first
        dist = (~is_tail).astype(np.int64)
        j3 = nxt.copy()
        for _ in range(rounds):
            dist = dist + dist[j3]
            j3 = j3[j3]

        src = g.de_src
        dst = g.de_dst
        gx = g.nx
        gy = g.ny

        out_rows = {  # open chains (kind 1)
            "xs": [],
            "ys": [],
            "head_key": [],
            "tail_key": [],
        }

        # ---- complete local cycles → rings ----------------------------
        cyc = np.flatnonzero(~on_path)
        ring_xs: list = []
        ring_ys: list = []
        if cyc.size:
            # order within each cycle: rank from the min-label anchor
            # (predecessor-doubling, as in graph.edge_rings)
            cpos = np.full(k, -1, dtype=np.int64)
            cpos[cyc] = np.arange(cyc.size)
            cn = cpos[nxt[cyc]]  # permutation over cycle elements
            cpred = np.empty(cyc.size, dtype=np.int64)
            cpred[cn] = np.arange(cyc.size)
            rep = lab[cyc]
            # anchor = element whose global compact index equals rep
            is_rep = cyc == rep
            ptr = cpred.copy()
            ptr[is_rep] = np.flatnonzero(is_rep)
            rank = (~is_rep).astype(np.int64)
            for _ in range(int(np.ceil(np.log2(max(cyc.size, 2)))) + 1):
                rank = rank + rank[ptr]
                ptr = ptr[ptr]
            order = np.lexsort((rank, rep))
            des = idx[cyc[order]]
            reps = rep[order]
            starts = np.flatnonzero(np.concatenate(([True], reps[1:] != reps[:-1])))
            bounds = np.concatenate((starts, [des.size]))
            for a, b in zip(bounds[:-1], bounds[1:]):
                ring_des = des[a:b]
                nodes = np.empty(ring_des.size + 1, dtype=np.int64)
                nodes[0] = src[ring_des[0]]
                nodes[1:] = dst[ring_des]
                ring_xs.append(gx[nodes])
                ring_ys.append(gy[nodes])

        # ---- open chains ---------------------------------------------
        pth = np.flatnonzero(on_path)
        if pth.size:
            term = jump[pth]
            order = np.lexsort((-dist[pth], term))
            p_sorted = pth[order]
            t_sorted = term[order]
            starts = np.flatnonzero(
                np.concatenate(([True], t_sorted[1:] != t_sorted[:-1]))
            )
            bounds = np.concatenate((starts, [p_sorted.size]))
            head_seq = idx[p_sorted[starts]]
            tail_seq = idx[p_sorted[bounds[1:] - 1]]
            if not np.all(is_head[p_sorted[starts]]):
                raise RuntimeError(
                    "chain_stitch: path does not start at a head "
                    f"(tile {tile_i},{tile_j}) — claim decomposition bug"
                )
            pe = pred[head_seq]  # link edges into each chain (exact here)
            hks = _edge_keys(gx[src[pe]], gy[src[pe]], gx[dst[pe]], gy[dst[pe]])
            tks = _edge_keys(
                gx[src[tail_seq]], gy[src[tail_seq]],
                gx[dst[tail_seq]], gy[dst[tail_seq]],
            )
            for ci, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
                seq = idx[p_sorted[a:b]]  # head-first half-edge ids
                nodes = np.empty(seq.size + 1, dtype=np.int64)
                nodes[0] = src[seq[0]]
                nodes[1:] = dst[seq]
                out_rows["xs"].append(gx[nodes])
                out_rows["ys"].append(gy[nodes])
                out_rows["head_key"].append(hks[ci])
                out_rows["tail_key"].append(tks[ci])

        # ---- local ring rows (spur-cancelled) -------------------------
        # spurs can only arise from degree-1 nodes (a U-turn in the
        # face walk happens exactly at a fan of one edge); dangle-free
        # tiles — the entire lattice benchmark — skip the machinery
        if ring_xs and np.any(g.degree == 1):
            spurs = _rings_have_spurs(ring_xs, ring_ys)
            cleaned_x: list = []
            cleaned_y: list = []
            for i in range(len(ring_xs)):
                if spurs[i]:
                    cx_, cy_ = _strip_spurs(ring_xs[i], ring_ys[i])
                    if cx_ is None:
                        continue
                    cleaned_x.append(cx_)
                    cleaned_y.append(cy_)
                else:
                    cleaned_x.append(ring_xs[i])
                    cleaned_y.append(ring_ys[i])
            ring_xs, ring_ys = cleaned_x, cleaned_y
        rings = _rings_pdf(ring_xs, ring_ys)
        n_chains = len(out_rows["xs"])
        z = np.zeros(n_chains)
        zi = np.zeros(len(rings), np.int64)
        obj = lambda v: pd.Series(v, dtype=object)
        return pd.DataFrame(
            {
                "kind": np.repeat(np.array([1, 0], np.int32), (n_chains, len(rings))),
                "xs": obj(out_rows["xs"] + list(rings["xs"])),
                "ys": obj(out_rows["ys"] + list(rings["ys"])),
                "head_key": np.concatenate((np.asarray(out_rows["head_key"], np.int64), zi)),
                "tail_key": np.concatenate((np.asarray(out_rows["tail_key"], np.int64), zi)),
                **{
                    c: np.concatenate((z, rings[c].to_numpy()))
                    for c in ("area", "bx1", "by1", "bx2", "by2", "cx", "cy")
                },
            }
        )

    return kernel


def _merge_walk(rows) -> tuple[list, list]:
    """Walk chain links and close every cycle in one dict pass.
    ``rows``: iterable of (head_key, tail_key, xs, ys). Returns closed
    (ring_xs, ring_ys) with spurs cancelled. Raises on a broken link
    (topologically impossible under the claiming protocol)."""
    by_head: dict = {}
    for hk, tk, xs, ys in rows:
        by_head[int(hk)] = (int(tk), np.asarray(xs, np.float64), np.asarray(ys, np.float64))
    out_xs: list = []
    out_ys: list = []
    done: set = set()
    for start in by_head:
        if start in done:
            continue
        xs_parts = []
        ys_parts = []
        cur_key = start
        n_seen = 0
        while True:
            tk, xs, ys = by_head[cur_key]
            # absolute link validation: the followed chain must begin
            # at the previous chain's end VERTEX. Link keys are 64-bit
            # hashes; at ~10^12 half-edges birthday collisions become
            # plausible, and a collided link would otherwise splice two
            # unrelated rings SILENTLY. Coordinates are snapped, so
            # exact float equality is the correct test. (For runs
            # beyond ~10^11 edges, widen _edge_keys to two mixes —
            # this check turns any collision into a loud error first.)
            if xs_parts and (xs[0] != xs_parts[-1][-1] or ys[0] != ys_parts[-1][-1]):
                raise RuntimeError(
                    "chain_stitch: link key matched but chain geometry is "
                    "discontinuous — 64-bit edge-key collision; widen "
                    "_edge_keys for this input size"
                )
            done.add(cur_key)
            n_seen += 1
            xs_parts.append(xs)
            ys_parts.append(ys)
            if tk == start:
                break
            if tk not in by_head or n_seen > len(by_head):
                raise RuntimeError(
                    f"chain_stitch: broken chain cycle: link {tk} missing "
                    "— topology/claiming bug"
                )
            cur_key = tk
        xs = np.concatenate([p if i == 0 else p[1:] for i, p in enumerate(xs_parts)])
        ys = np.concatenate([p if i == 0 else p[1:] for i, p in enumerate(ys_parts)])
        if xs[0] != xs[-1] or ys[0] != ys[-1]:
            raise RuntimeError("chain_stitch: merged cycle is not closed")
        xs2, ys2 = _strip_spurs(xs, ys)
        if xs2 is not None:
            out_xs.append(xs2)
            out_ys.append(ys2)
    return out_xs, out_ys


def _rings_pdf(ring_xs: list, ring_ys: list) -> pd.DataFrame:
    """Closed rings → RING_SCHEMA rows (canonicalized, degenerates
    dropped)."""
    if not ring_xs:
        return pd.DataFrame(
            {f.name: pd.Series([], dtype=object) if f.name in ("xs", "ys")
             else np.empty(0, np.float64)
             for f in RING_SCHEMA.fields}
        )
    xr, yr, off, L, bx1, by1, bx2, by2, area, cxs, cys = batch_ring_stats(
        ring_xs, ring_ys
    )
    keep = np.flatnonzero(np.abs(area) >= 1e-9)
    xs_out = []
    ys_out = []
    for i in keep:
        o, l = off[i], L[i]
        xs_out.append(np.concatenate((xr[o : o + l], xr[o : o + 1])))
        ys_out.append(np.concatenate((yr[o : o + l], yr[o : o + 1])))
    return pd.DataFrame(
        {
            "xs": pd.Series(xs_out, dtype=object),
            "ys": pd.Series(ys_out, dtype=object),
            "area": area[keep],
            "bx1": bx1[keep],
            "by1": by1[keep],
            "bx2": bx2[keep],
            "by2": by2[keep],
            "cx": cxs[keep],
            "cy": cys[keep],
        }
    )


def _merge_chain_cycles_local(chains: DataFrame) -> DataFrame:
    """One-task merge for perimeter-scale chain sets: coalesce(1)
    narrowly gathers the cached chain rows (no shuffle exchange) and a
    single dict walk closes every cycle — no CC driver rounds, no
    per-cycle grouped-map overhead. The same latency-vs-scale trade as
    assembly._assemble_rings_local, gated by the same kind of row-count
    threshold."""

    def merge_all(batches):
        rows = []
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                rows.append((r.head_key, r.tail_key, r.xs, r.ys))
        xs, ys = _merge_walk(rows)
        yield _rings_pdf(xs, ys)

    return chains.select("head_key", "tail_key", "xs", "ys").coalesce(1).mapInPandas(
        merge_all, RING_SCHEMA
    )


def _merge_chain_cycles_distributed(chains: DataFrame) -> DataFrame:
    """Scale-path merge: pointer-doubling CC (connected_keepers) labels
    each chain's cycle in O(log cycle length) rounds over narrow
    (id, id) rows; chains then hash-partition by label and every cycle
    is walked WITHIN its partition (one kernel call per partition, many
    cycles per call — cycles never straddle partitions because the
    partitioner keys on the label)."""
    from ..operators.dedup import connected_keepers

    pairs = chains.select(
        F.col("head_key").alias("id_a"), F.col("tail_key").alias("id_b")
    )
    labels = connected_keepers(pairs, id_col="hk")
    labeled = chains.join(
        labels.withColumnRenamed("hk", "head_key"), "head_key"
    )
    n_parts = max(
        int(chains.sparkSession.sparkContext.defaultParallelism), 8
    )
    part = labeled.repartition(n_parts, "keeper")

    def merge_part(batches):
        by_label: dict = {}
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                by_label.setdefault(r.keeper, []).append(
                    (r.head_key, r.tail_key, r.xs, r.ys)
                )
        all_xs: list = []
        all_ys: list = []
        for rows in by_label.values():
            xs, ys = _merge_walk(rows)
            all_xs.extend(xs)
            all_ys.extend(ys)
        yield _rings_pdf(all_xs, all_ys)

    return part.select("keeper", "head_key", "tail_key", "xs", "ys").mapInPandas(
        merge_part, RING_SCHEMA
    )


SPLIT_SCHEMA = T.StructType(
    [
        T.StructField("seg_id", T.LongType()),
        T.StructField("px", T.DoubleType()),
        T.StructField("py", T.DoubleType()),
    ]
)

SEG_SCHEMA = T.StructType(
    [
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
        T.StructField("x2", T.DoubleType()),
        T.StructField("y2", T.DoubleType()),
    ]
)


def _presplit_long_segments(
    segments: DataFrame,
    tile_size: float,
    bbox: tuple[float, float, float, float],
    snap_grid: float,
    n_segments: int | None = None,
) -> DataFrame:
    """One DISTRIBUTED round of snap-round noding (snap → find_splits →
    apply — exactly round 1 of ``node_segments`` on the same snapped,
    normalized, deduplicated input, so the downstream per-tile noding
    converges to the identical global noding). Purpose: inputs whose
    segments span many tiles (the reference's full-extent grid lines)
    force ``buffer_eff ≈ max segment length`` — every tile's window
    covers everything and each tile re-nodes the whole input. Splitting
    long segments at their (snapped) intersections first shortens them
    to feature scale, collapsing buffer_eff back to the user's buffer
    and the per-tile work back to per-tile volume.

    Exactness: per-tile ``find_splits`` over plain-bbox tile subsets
    computes, in union, exactly the global round-1 split set — every
    intersecting pair is co-present in the tile containing its
    intersection point (ε = 2·snap_grid boundary margin), and the
    split for a pair is pair-deterministic, so extra co-presences only
    produce duplicates (dropped). Cost: two narrow shuffles of segment
    rows; triggered only when max segment length > tile_size.

    Driver fast path (r5): when the INPUT is tiny (``n_segments`` ≤
    ``PRESPLIT_DRIVER_MAX_SEGMENTS``, e.g. a few thousand full-extent construction
    lines — the reference's lattice benches are 802–1602 segments),
    the distributed replica's ~6 stage waves are pure scheduling
    latency (~2 s measured at grid-400 with warm workers for ~50 ms
    of numpy). Run round 1 VERBATIM on the driver instead — same
    snap → normalize+dedup → find_splits → _apply_splits kernels as
    ``node_segments``, global, so bit-exactness is by definition
    rather than by the tile-union argument — and parallelize the
    split output (bounded by the split count the distributed path
    would also materialize). Worst-case driver work is gate² pair
    candidates (vectorized, grid-binned); 4096 keeps that trivial."""
    if n_segments is not None and n_segments <= PRESPLIT_DRIVER_MAX_SEGMENTS:
        from ..kernels.noding import (
            _apply_splits,
            _normalize_dedup,
            find_splits,
            snap as _snap,
        )

        pdf = segments.select("x1", "y1", "x2", "y2").toPandas()
        x1 = _snap(pdf["x1"].to_numpy(np.float64), snap_grid)
        y1 = _snap(pdf["y1"].to_numpy(np.float64), snap_grid)
        x2 = _snap(pdf["x2"].to_numpy(np.float64), snap_grid)
        y2 = _snap(pdf["y2"].to_numpy(np.float64), snap_grid)
        keep = ~((x1 == x2) & (y1 == y2))
        x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
        x1, y1, x2, y2 = _normalize_dedup(x1, y1, x2, y2)
        si, px, py = find_splits(x1, y1, x2, y2, snap_grid)
        if si.size:
            x1, y1, x2, y2 = _apply_splits(x1, y1, x2, y2, si, px, py)
        # hand the split set back through a session temp parquet: a few
        # thousand full-extent lines can split into millions of pieces,
        # and a parallel parquet scan ships them ~5× cheaper than
        # createDataFrame's driver-serialized local relation (measured
        # at 1.28M rows: 1.1 s write+scan vs 5.9 s construct+scan)
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = os.path.join(
            _presplit_tmpdir(), f"presplit_{uuid.uuid4().hex}.parquet"
        )
        pq.write_table(
            pa.table({"x1": x1, "y1": y1, "x2": x2, "y2": y2}),
            path,
            row_group_size=65536,  # enough row groups to split the scan
        )
        out = segments.sparkSession.read.schema(SEG_SCHEMA).parquet(path)
        # stats are free on the driver — hand them back so the caller
        # skips its post-split agg job entirely. The parquet path rides
        # back too (r6, ADVICE r5): the caller deletes it once the
        # trace is materialized, so a long-lived driver issuing many
        # tiny-input polygonize calls no longer accumulates
        # multi-million-row handoff files until interpreter exit
        # (the atexit tmpdir removal stays as the backstop).
        l_new = float(np.sqrt((x2 - x1) ** 2 + (y2 - y1) ** 2).max()) if x1.size else 0.0
        return out, (l_new, int(x1.size)), None, path
    eps = 2.0 * max(snap_grid, 1e-300)
    x0, y0 = bbox[0], bbox[1]
    cols, rows = grid_shape(bbox, tile_size)

    def snap_norm(batches):
        from ..kernels.noding import snap

        for pdf in batches:
            x1 = snap(pdf["x1"].to_numpy(), snap_grid)
            y1 = snap(pdf["y1"].to_numpy(), snap_grid)
            x2 = snap(pdf["x2"].to_numpy(), snap_grid)
            y2 = snap(pdf["y2"].to_numpy(), snap_grid)
            keep = ~((x1 == x2) & (y1 == y2))
            x1, y1, x2, y2 = x1[keep], y1[keep], x2[keep], y2[keep]
            # orient start <= end (snap.rs:88-101 quirk incl. 1e-12 tie)
            swap = (x1 > x2) | ((np.abs(x1 - x2) < 1e-12) & (y1 > y2))
            nx1 = np.where(swap, x2, x1)
            ny1 = np.where(swap, y2, y1)
            nx2 = np.where(swap, x1, x2)
            ny2 = np.where(swap, y1, y2)
            yield pd.DataFrame({"x1": nx1, "y1": ny1, "x2": nx2, "y2": ny2})

    snapped = (
        segments.select("x1", "y1", "x2", "y2")
        .mapInPandas(snap_norm, SEG_SCHEMA)
        .dropDuplicates(["x1", "y1", "x2", "y2"])
    )
    seg_keyed = snapped.withColumn(
        "seg_id", F.xxhash64("x1", "y1", "x2", "y2")
    ).persist()

    sbx1 = F.least("x1", "x2") - F.lit(eps)
    sbx2 = F.greatest("x1", "x2") + F.lit(eps)
    sby1 = F.least("y1", "y2") - F.lit(eps)
    sby2 = F.greatest("y1", "y2") + F.lit(eps)
    # eps-padded plain-floor ranges, NOT the buffered windows of
    # tiling.assign_windows: a split pair must share the tile holding
    # its intersection point. Two-sided clamps as in tiling
    # (descending-sequence hazard — out-of-grid segments collapse into
    # the edge tile, where every mutually-intersecting out-of-grid pair
    # still meets because clamping is monotone)
    i_lo = F.least(F.greatest(F.floor((sbx1 - F.lit(x0)) / F.lit(tile_size)), F.lit(0)), F.lit(cols - 1)).cast("int")
    i_hi = F.greatest(F.least(F.floor((sbx2 - F.lit(x0)) / F.lit(tile_size)), F.lit(cols - 1)), F.lit(0)).cast("int")
    j_lo = F.least(F.greatest(F.floor((sby1 - F.lit(y0)) / F.lit(tile_size)), F.lit(0)), F.lit(rows - 1)).cast("int")
    j_hi = F.greatest(F.least(F.floor((sby2 - F.lit(y0)) / F.lit(tile_size)), F.lit(rows - 1)), F.lit(0)).cast("int")
    assigned = seg_keyed.withColumn("tile_i", F.explode(F.sequence(i_lo, i_hi))).withColumn(
        "tile_j", F.explode(F.sequence(j_lo, j_hi))
    )

    def split_kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..kernels.noding import find_splits

        sid = pdf["seg_id"].to_numpy(np.int64)
        si, px, py = find_splits(
            pdf["x1"].to_numpy(),
            pdf["y1"].to_numpy(),
            pdf["x2"].to_numpy(),
            pdf["y2"].to_numpy(),
            snap_grid,
        )
        return pd.DataFrame({"seg_id": sid[si], "px": px, "py": py})

    # no dropDuplicates stage: cross-tile duplicate split points ride
    # into the collect and the apply kernel's post-sort dedup removes
    # them — one fewer 2×-split-row shuffle
    splits = (
        assigned.groupBy("tile_i", "tile_j")
        .applyInPandas(split_kernel, SPLIT_SCHEMA)
        .groupBy("seg_id")
        .agg(F.collect_list("px").alias("pxs"), F.collect_list("py").alias("pys"))
    )
    joined = seg_keyed.join(splits, "seg_id", "left")

    def apply_kernel(batches):
        # the noder's own vectorized split application over the whole
        # Arrow batch (kernels.noding._apply_splits — literally the
        # function the global noder runs in round 1, so the pre-split
        # output is its exact distributed replica; no per-segment
        # Python)
        from ..kernels.noding import _apply_splits

        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x1 = pdf["x1"].to_numpy(np.float64)
            y1 = pdf["y1"].to_numpy(np.float64)
            x2 = pdf["x2"].to_numpy(np.float64)
            y2 = pdf["y2"].to_numpy(np.float64)
            lens = np.fromiter(
                (0 if v is None else len(v) for v in pdf["pxs"]), np.int64, n
            )
            if lens.sum():
                seg_idx = np.repeat(np.arange(n), lens)
                px = np.concatenate(
                    [np.asarray(v, np.float64) for v in pdf["pxs"] if v is not None and len(v)]
                )
                py = np.concatenate(
                    [np.asarray(v, np.float64) for v in pdf["pys"] if v is not None and len(v)]
                )
                # hash-collision insurance: a foreign split point falls
                # off its segment's bbox
                bx1 = np.minimum(x1, x2)[seg_idx]
                bx2 = np.maximum(x1, x2)[seg_idx]
                by1 = np.minimum(y1, y2)[seg_idx]
                by2 = np.maximum(y1, y2)[seg_idx]
                ok = (px >= bx1) & (px <= bx2) & (py >= by1) & (py <= by2)
                nx1, ny1, nx2, ny2 = _apply_splits(
                    x1, y1, x2, y2, seg_idx[ok], px[ok], py[ok]
                )
            else:
                nx1, ny1, nx2, ny2 = x1, y1, x2, y2
            yield pd.DataFrame({"x1": nx1, "y1": ny1, "x2": nx2, "y2": ny2})

    # seg_keyed rides back so the caller can drop its cache once the
    # split output is materialized (it feeds both the tile groups and
    # the split join; nothing reads it after the apply)
    return joined.mapInPandas(apply_kernel, SEG_SCHEMA), None, seg_keyed, None


def chain_stitched_polygonize(
    lines_df: DataFrame,
    tile_size: float,
    buffer: float = 1.0,
    bbox: tuple[float, float, float, float] | None = None,
    snap_grid: float = DEFAULT_SNAP_GRID,
    drop_collapsed: bool = False,
    assembly: str = "auto",
    max_segments_per_tile: int | None = 200_000,
    max_split_factor: int = 16,
) -> DataFrame:
    """Exact distributed polygonize via boundary-chain stitching (module
    docstring). Output semantics match ``stitched_polygonize`` /
    single-group ``polygonize`` exactly. Chain sets up to
    ``LOCAL_CHAIN_MERGE_MAX`` merge in one task, larger ones
    distributed."""
    if assembly not in ("auto", "local", "fused"):
        raise ValueError(f"assembly must be auto|local|fused, got {assembly!r}")
    _presplit_file: str | None = None
    segments = segmentize_df(lines_df).persist()
    _to_unpersist = [segments]  # cache hygiene: dropped once consumed
    if bbox is None:
        bbox = _bbox_of_segments(segments)
    bbox = tuple(float(v) for v in bbox)
    x0, y0 = bbox[0], bbox[1]

    seg_len = F.sqrt(
        (F.col("x2") - F.col("x1")) ** 2 + (F.col("y2") - F.col("y1")) ** 2
    )
    _st = segments.agg(
        F.max(seg_len).alias("l"), F.count("*").alias("n")
    ).collect()[0]
    l_max = _st["l"] or 0.0
    n_segments = int(_st["n"])
    if (l_max / tile_size) ** 2 >= 32.0:
        # long-segment regime (full-extent lattice lines): buffer_eff
        # balloons to l_max, so a segment replicates to
        # O((l_max/tile_size)²) windows and every tile re-nodes far
        # beyond its share. One distributed pre-split round shortens
        # segments to feature scale first (exactness argument in
        # _presplit_long_segments). Gated on the replication factor:
        # below ~32 extra windows the two pre-split shuffles cost more
        # than the redundancy they remove (measured: grid-100/tile-25
        # regressed ~0.3 s, grid-400/tile-25 improved ~2.4 s).
        segments, _split_stats, _aux_cache, _presplit_file = _presplit_long_segments(
            segments, tile_size, bbox, snap_grid,
            n_segments=n_segments,
        )
        if _aux_cache is not None:
            _to_unpersist.append(_aux_cache)
        if _split_stats is not None:
            # driver fast path: stats came back with the frame — no
            # post-split agg job. The handoff scan is not persisted: the
            # trace kernel reads it once and later stages read the
            # trace's checkpoint, and under AQE a persisted frame's
            # first read is a cache-stage job of its own
            l_max, n_segments = _split_stats
        else:
            segments = segments.persist()
            _to_unpersist.append(segments)
            _st = segments.agg(
                F.max(seg_len).alias("l"), F.count("*").alias("n")
            ).collect()[0]
            l_max = _st["l"] or 0.0
            n_segments = int(_st["n"])
        # the raw segment cache is no longer read by anything downstream
        _to_unpersist.pop(0).unpersist()
    buffer_eff = max(float(buffer), float(l_max) * (1 + 1e-9) + 4 * snap_grid)

    # Unlike tiled_polygonize (where tile_size defines output
    # ownership), the chain engine's tile grid is purely an INTERNAL
    # claiming partition — output is the global ring set for any tile
    # size, and exactness needs only buffer_eff ≥ max segment length.
    # So refine an overly coarse caller tile while the average per-tile
    # noding volume stays above ``TARGET_SEGMENTS_PER_TILE`` (coarse
    # tiles re-node quadratically more than their share on dense
    # linework). r5 re-tune with the fused assembly: 8k/tile (grid-400
    # stays at tile 50 / 64 tasks) beats the r4 4k (tile 25 / 256
    # tasks, which paid more in boundary chains + merged residue than
    # the finer windows saved) 7.7 s vs 9.9 s interleaved; 20k (16
    # tasks) under-parallelizes 32 cores. The ≥8×buffer_eff floor
    # keeps window replication bounded.
    tile_eff = float(tile_size)
    while True:
        cand = tile_eff / 2.0
        if cand < 8.0 * buffer_eff:
            break
        n_cols, n_rows = grid_shape(bbox, tile_eff)
        if n_segments / (n_cols * n_rows) <= TARGET_SEGMENTS_PER_TILE:
            break
        tile_eff = cand
    tile_size = tile_eff

    cols, rows = grid_shape(bbox, tile_size)
    assigned = assign_windows(segments, x0, y0, tile_size, buffer_eff, cols, rows)
    spark = lines_df.sparkSession

    # hot-tile skew sub-split (north_rule explicit salting): tiles
    # whose window draws more than max_segments_per_tile segments
    # shatter into f×f claiming sub-cells. This is ONLY a finer
    # claiming partition — link keys are half-edge identities, so
    # chains crossing sub-cell boundaries merge exactly like
    # tile-crossing ones. The kernels claim through the driver-side
    # factor map, so the factors are collected.
    fmap: dict[tuple[int, int], int] = {}
    # a tile's window count is bounded by the total segment count, so
    # when the whole input fits one kernel task no tile can be hot —
    # skip the per-tile count job entirely (the common small case)
    if max_segments_per_tile is not None and n_segments > max_segments_per_tile:
        fmap = {
            (r["tile_i"], r["tile_j"]): r["f"]
            for r in hot_tile_factors(
                assigned, max_segments_per_tile, max_split_factor
            ).collect()
        }
    assigned = repartition_tiles(
        split_hot_tiles(assigned, factors_frame(spark, fmap), x0, y0, tile_size, buffer_eff)
    )

    kernel = _make_chain_kernel(x0, y0, float(tile_size), snap_grid, cols, rows, fmap)
    # r6: self-GC'd localCheckpoint instead of persist — blocks are
    # ContextCleaner-freed when the returned plan drops (no
    # CacheManager entry to leak or to plan-match a later run), and
    # the final plan may legitimately keep reading it
    out = (
        assigned.groupBy(*TILE_KEY)
        .applyInPandas(kernel, CHAIN_SCHEMA)
        .localCheckpoint(eager=False)
    )

    chains = out.where(F.col("kind") == 1)
    # ONE job over the checkpointed kernel output supplies both
    # decisions (merge strategy + assembly strategy): n_chains exactly,
    # and n_local + n_chains as an upper bound on the final ring count
    # (each chain cycle yields ≤ its chain count in rings)
    kc = {
        int(r["kind"]): int(r["n"])
        for r in out.groupBy("kind").agg(F.count("*").alias("n")).collect()
    }
    n_chains = kc.get(1, 0)
    n_rings_upper = kc.get(0, 0) + n_chains
    # the counts job materialized the kernel output cache — the segment
    # cache behind it (and the driver pre-split parquet handoff, if
    # any) is dead weight from here on
    for df_ in _to_unpersist:
        df_.unpersist()
    if _presplit_file is not None:
        try:
            os.remove(_presplit_file)
        except OSError:
            pass
    if n_chains == 0:
        merged = None
    elif n_chains <= LOCAL_CHAIN_MERGE_MAX:
        merged = _merge_chain_cycles_local(chains)
    else:
        merged = _merge_chain_cycles_distributed(chains)

    if assembly == "auto":
        # r5: large ring sets take the FUSED per-core assembly (zero
        # extra shuffles of ring data). Crossover measured on
        # the lattice sweep (BENCH.md r5): one-task local assembly wins
        # to ~40k rings (fused pays ~4 fixed job latencies), fused wins
        # by 160k (serial assembly of 10⁵ rings loses to 64-way tasks)
        # — and only fused survives 100×, so the tie goes to it.
        assembly = (
            "local"
            if n_rings_upper <= LOCAL_ASSEMBLY_MAX_RINGS
            else "fused"
        )
    if assembly == "fused":
        # fused phase-2: maps over the checkpointed trace output (no
        # ring reshuffle — every trace-local ring's core is derived
        # from its bbox corner, bit-exactly the claiming core)
        return assemble_rings_fused(
            out, merged, x0, y0, float(tile_size), cols, rows, fmap,
            drop_collapsed=drop_collapsed,
        )

    # single consumer, one coalesced task — reads the trace checkpoint
    # narrowly, no intermediate ring copy needed
    rings = out.where(F.col("kind") == 0).select(*RING_SCHEMA.names)
    if merged is not None:
        rings = rings.unionByName(merged)
    return _assemble_rings_local(rings, drop_collapsed=drop_collapsed)
