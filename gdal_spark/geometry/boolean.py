"""General polygon intersection AREAS — concave, holes, multipolygon.

Replaces the reference's GEOS-backed OGRGeometry::Intersection area
semantics (ogr/ogrgeometry.cpp:4895) without a polygon-clipping topology
library, via a measure-theoretic decomposition that needs no topological
surgery (so no degenerate-case branches):

  * An OGC-valid polygon's indicator function is a signed sum of its
    rings' indicators (shell +1, holes -1); a MULTIPOLYGON adds its
    parts (parts disjoint by validity).
  * A simple ring's indicator is the signed sum of its FAN TRIANGLES
    (p0, v_i, v_i+1) — winding numbers are additive because the fan's
    interior edges cancel pairwise (the same identity behind the
    shoelace formula).
  * Therefore  area(A ∩ B) = Σ_ra Σ_rb w_ra w_rb Σ_i Σ_j s_i s_j
    area(t_i ∩ t_j), and every remaining term is CONVEX ∩ CONVEX —
    exactly computable with Sutherland–Hodgman.

The triangle-pair terms are evaluated with a VECTORIZED fixed-width
Sutherland–Hodgman: all pending (subject, clip-edge) jobs live in one
padded (M, W, 2) vertex tensor and every clip plane is one numpy pass,
so cost is O(planes) numpy ops regardless of how many candidate pairs
are in the Arrow batch — no per-row Python in the hot path.

Also here: ``rectilinear_rects`` — exact decomposition of an
axis-parallel polygon (any concavity, holes) into disjoint rectangles,
the building block for union-of-B semantics (Clip/Erase against an
OVERLAPPING method layer) via per-key coordinate compression.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from gdal_spark.geometry.clip import shoelace_area
from gdal_spark.geometry.pip import chunk_bounds, expand_counts

__all__ = [
    "fan_triangles",
    "weighted_triangles",
    "clip_convex_areas",
    "rects_polys_intersection_area",
    "TriangleTable",
    "triangle_table",
    "rects_geoms_intersection_area",
    "polys_pair_intersection_area",
    "polys_area",
    "segment_intersections",
    "is_rectilinear",
    "rectilinear_rects",
]


def _ccw(ring: np.ndarray) -> np.ndarray:
    return ring if shoelace_area(ring) >= 0 else ring[::-1]


def fan_triangles(ring: np.ndarray):
    """Closed simple ring -> (T,3,2) CCW triangles + (T,) signs with
    χ_ring = Σ s_i χ_tri_i (ring normalized CCW first)."""
    r = _ccw(np.asarray(ring, dtype=np.float64))
    p0 = r[0]
    v1 = r[1:-2]
    v2 = r[2:-1]
    tris = np.stack(
        [np.broadcast_to(p0, v1.shape), v1, v2], axis=1
    )  # (T, 3, 2)
    cross = (v1[:, 0] - p0[0]) * (v2[:, 1] - p0[1]) - (v1[:, 1] - p0[1]) * (
        v2[:, 0] - p0[0]
    )
    signs = np.sign(cross)
    keep = signs != 0  # collinear fans contribute zero area
    tris = tris[keep]
    signs = signs[keep]
    # orient each triangle CCW so S-H "left of edge" works uniformly
    cw = signs < 0
    tris[cw] = tris[cw, ::-1, :]
    return tris, signs.astype(np.float64)


def weighted_triangles(polys: list) -> tuple[np.ndarray, np.ndarray]:
    """Multipolygon payload (list of polygons, each list of closed rings,
    ring0 = shell, rest holes) -> all fan triangles with combined weights
    (shell rings weight +1, hole rings -1, times the fan sign)."""
    all_t, all_w = [], []
    for poly in polys:
        for k, ring in enumerate(poly):
            t, s = fan_triangles(ring)
            if len(t):
                all_t.append(t)
                all_w.append(s * (1.0 if k == 0 else -1.0))
    if not all_t:
        return np.empty((0, 3, 2)), np.empty((0,))
    return np.concatenate(all_t), np.concatenate(all_w)


def polys_area(polys: list) -> float:
    """Exact area of a multipolygon payload (holes subtract)."""
    total = 0.0
    for poly in polys:
        for k, ring in enumerate(poly):
            a = abs(shoelace_area(np.asarray(ring, dtype=np.float64)))
            total += a if k == 0 else -a
    return total


# ---------------------------------------------------- vectorized S-H core

def _sh_clip(V, count, ax, ay, bx, by):
    """One Sutherland–Hodgman step on M padded polygons against per-row
    directed edges a->b (keep left).  V: (M, W, 2); count: (M,) valid
    prefix lengths.  Returns (V', count') with W' = W + 1 (convex
    subjects gain at most one vertex per plane)."""
    M, W, _ = V.shape
    cols = np.arange(W)[None, :]
    alive = cols < count[:, None]
    px, py = V[..., 0], V[..., 1]
    side = (bx - ax)[:, None] * (py - ay[:, None]) - (by - ay)[:, None] * (
        px - ax[:, None]
    )
    inside = (side >= 0) & alive
    nxt = np.where(cols + 1 < count[:, None], cols + 1, 0)
    sx = np.take_along_axis(px, nxt, 1)
    sy = np.take_along_axis(py, nxt, 1)
    nside = np.take_along_axis(side, nxt, 1)
    ninside = np.take_along_axis(inside, nxt, 1)
    crossing = alive & (inside != ninside)
    denom = side - nside
    t = np.divide(side, denom, out=np.zeros_like(side), where=denom != 0)
    ix = px + t * (sx - px)
    iy = py + t * (sy - py)
    # slot 2j = vertex j (if inside), slot 2j+1 = crossing point
    keepv = inside
    out_valid = np.empty((M, 2 * W), dtype=bool)
    out_valid[:, 0::2] = keepv
    out_valid[:, 1::2] = crossing
    ox = np.empty((M, 2 * W))
    oy = np.empty((M, 2 * W))
    ox[:, 0::2], oy[:, 0::2] = px, py
    ox[:, 1::2], oy[:, 1::2] = ix, iy
    # compact valid slots to the front, preserving order
    order = np.argsort(~out_valid, axis=1, kind="stable")
    Wn = W + 1
    take = order[:, :Wn]
    cx = np.take_along_axis(ox, take, 1)
    cy = np.take_along_axis(oy, take, 1)
    new_count = out_valid.sum(axis=1)
    np.minimum(new_count, Wn, out=new_count)
    return np.stack([cx, cy], axis=-1), new_count


def _padded_shoelace(V, count):
    """Signed areas of padded polygons (vertices beyond count ignored)."""
    M, W, _ = V.shape
    cols = np.arange(W)[None, :]
    alive = cols < count[:, None]
    nxt = np.where(cols + 1 < count[:, None], cols + 1, 0)
    x, y = V[..., 0], V[..., 1]
    xn = np.take_along_axis(x, nxt, 1)
    yn = np.take_along_axis(y, nxt, 1)
    terms = np.where(alive, x * yn - xn * y, 0.0)
    return 0.5 * terms.sum(axis=1)


def clip_convex_areas(subject: np.ndarray, clip_edges) -> np.ndarray:
    """Areas of (CCW convex subject_i) ∩ (CCW convex clip_i), both given
    per row.  subject: (M, S, 2); clip_edges: list of per-plane
    ((M,) ax, ay, bx, by) tuples.  Degenerate rows come back 0."""
    M, S, _ = subject.shape
    V = subject.astype(np.float64, copy=True)
    count = np.full(M, S, dtype=np.int64)
    for ax, ay, bx, by in clip_edges:
        V, count = _sh_clip(V, count, ax, ay, bx, by)
        if not count.any():
            break
    areas = _padded_shoelace(V, count)
    areas[count < 3] = 0.0
    return np.maximum(areas, 0.0)


# ------------------------------------------------------- public entry pts

def rects_polys_intersection_area(
    rects: np.ndarray, tris: np.ndarray, weights: np.ndarray
) -> np.ndarray:
    """area(rect_i ∩ P) for N axis-aligned rects against ONE weighted
    triangle soup (from :func:`weighted_triangles`).  Fully vectorized:
    the N x T job cross-product is flattened into one padded S-H pass.

    rects: (N, 4) xmin,ymin,xmax,ymax.  Returns (N,) areas."""
    N = len(rects)
    T = len(tris)
    if N == 0 or T == 0:
        return np.zeros(N)
    # bbox prefilter on the T x N pair grid: a (triangle, rect) pair
    # whose bboxes don't overlap contributes EXACTLY 0.0, so only the
    # surviving pairs go through the padded S-H passes.  Results are
    # scattered back into the full (T, N) zero matrix and summed with
    # the SAME reshape(T, N).sum(axis=0) as the unfiltered path, so the
    # output is bit-identical (omitted terms are exact zeros in the
    # same summation slots).
    tx0 = tris[:, :, 0].min(axis=1)
    tx1 = tris[:, :, 0].max(axis=1)
    ty0 = tris[:, :, 1].min(axis=1)
    ty1 = tris[:, :, 1].max(axis=1)
    rx0, ry0, rx1, ry1 = rects[:, 0], rects[:, 1], rects[:, 2], rects[:, 3]
    live = (
        (tx0[:, None] < rx1[None, :])
        & (tx1[:, None] > rx0[None, :])
        & (ty0[:, None] < ry1[None, :])
        & (ty1[:, None] > ry0[None, :])
    )  # (T, N), triangle-major like the job layout below
    flat = live.ravel()
    weighted = np.zeros(T * N)
    if flat.any():
        ti, ni = np.nonzero(live)
        subj = tris[ti]  # (K, 3, 2)
        x0, y0, x1, y1 = rx0[ni], ry0[ni], rx1[ni], ry1[ni]
        edges = [  # CCW rect boundary as 4 directed clip edges
            (x0, y0, x1, y0),
            (x1, y0, x1, y1),
            (x1, y1, x0, y1),
            (x0, y1, x0, y0),
        ]
        areas = clip_convex_areas(subj, edges)
        weighted[flat] = areas * weights[ti]
    return weighted.reshape(T, N).sum(axis=0)


# ---------------------------------------------------- grouped batch kernel
# One clip batch holds candidates against thousands of DISTINCT zones;
# the grouped kernel stacks their triangle soups and expands every
# (rect, triangle) pair of the batch with np.repeat + offsets, so the
# padded S-H passes run once per chunk instead of once per zone.

# (rect, triangle) pairs clipped at once: the padded S-H temporaries
# cost ~2 KB per pair, so this bounds them at ~10 MB
CLIP_CHUNK_PAIRS = 1 << 12


class TriangleTable(NamedTuple):
    """Weighted triangle soups of G geometries: geometry g owns
    triangles ``geom_tri[g]:geom_tri[g+1]``, in soup order."""

    geom_tri: np.ndarray  # (G+1,) int64
    tris: np.ndarray  # (T, 3, 2) CCW triangles
    weights: np.ndarray  # (T,)
    bbox: np.ndarray  # (T, 4) xmin, ymin, xmax, ymax


def triangle_table(soups: list) -> TriangleTable:
    """Stack (tris, weights) soups from :func:`weighted_triangles`; the
    geometry index is the list position."""
    counts = np.array([len(w) for _, w in soups], dtype=np.int64)
    tris = np.concatenate([t for t, _ in soups]).reshape(-1, 3, 2)
    return TriangleTable(
        geom_tri=np.concatenate([[0], np.cumsum(counts)]).astype(np.int64),
        tris=tris,
        weights=np.concatenate([w for _, w in soups]).astype(np.float64),
        bbox=np.column_stack(
            [
                tris[:, :, 0].min(axis=1),
                tris[:, :, 1].min(axis=1),
                tris[:, :, 0].max(axis=1),
                tris[:, :, 1].max(axis=1),
            ]
        ),
    )


def rects_geoms_intersection_area(
    rects: np.ndarray, gidx: np.ndarray, table: TriangleTable
) -> np.ndarray:
    """area(rect_i ∩ geometry gidx[i]) for N rects against the stacked
    soups of ``table`` — the batch-grouped twin of
    :func:`rects_polys_intersection_area`, bit-identical to calling it
    once per geometry: same bbox ``live`` filter, same clip arithmetic,
    and ``np.bincount`` adds each rect's weighted areas in triangle
    order, as the reference's column sum does (its extra terms are
    exact zeros).  rects: (N, 4); returns (N,) areas."""
    rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
    gidx = np.asarray(gidx, dtype=np.int64)
    out = np.zeros(len(rects))
    if len(rects) == 0:
        return out
    ntri = table.geom_tri[gidx + 1] - table.geom_tri[gidx]
    b = chunk_bounds(ntri, CLIP_CHUNK_PAIRS)
    for lo, hi in zip(b[:-1], b[1:]):
        out[lo:hi] = _clip_chunk(rects[lo:hi], gidx[lo:hi], ntri[lo:hi], table)
    return out


def _clip_chunk(rects, g, ntri, t: TriangleTable) -> np.ndarray:
    row, k = expand_counts(ntri)
    tri = t.geom_tri[g][row] + k
    rx0, ry0, rx1, ry1 = (rects[row, j] for j in range(4))
    tb = t.bbox[tri]
    live = (
        (tb[:, 0] < rx1) & (tb[:, 2] > rx0) & (tb[:, 1] < ry1) & (tb[:, 3] > ry0)
    )
    row = row[live]
    tri = tri[live]
    if row.size == 0:
        return np.zeros(len(rects))
    x0, y0, x1, y1 = rx0[live], ry0[live], rx1[live], ry1[live]
    edges = [  # CCW rect boundary as 4 directed clip edges
        (x0, y0, x1, y0),
        (x1, y0, x1, y1),
        (x1, y1, x0, y1),
        (x0, y1, x0, y0),
    ]
    areas = clip_convex_areas(t.tris[tri], edges)
    return np.bincount(row, weights=areas * t.weights[tri], minlength=len(rects))


def polys_pair_intersection_area(polys_a: list, polys_b: list) -> float:
    """Exact area(A ∩ B) for two multipolygon payloads — any concavity,
    holes, multiple parts, any ring orientation."""
    ta, wa = weighted_triangles(polys_a)
    tb, wb = weighted_triangles(polys_b)
    if not len(ta) or not len(tb):
        return 0.0
    A = len(ta)
    B = len(tb)
    subj = np.repeat(ta, B, axis=0)  # (A*B, 3, 2)
    clip = np.tile(tb, (A, 1, 1))
    edges = [
        (clip[:, i, 0], clip[:, i, 1], clip[:, (i + 1) % 3, 0], clip[:, (i + 1) % 3, 1])
        for i in range(3)
    ]
    areas = clip_convex_areas(subj, edges)
    w = np.repeat(wa, B) * np.tile(wb, A)
    return float((areas * w).sum())


# --------------------------------------------- constructors + predicates

def convex_hull(pts: np.ndarray) -> np.ndarray:
    """Closed CCW convex hull ring of a point set (Andrew's monotone
    chain; reference OGRGeometry::ConvexHull, ogrgeometry.cpp:4188)."""
    p = np.unique(np.asarray(pts, dtype=np.float64), axis=0)  # sorted (x, y)
    if len(p) == 1:
        return np.vstack([p, p])
    if len(p) == 2:
        return np.vstack([p, p[0]])

    def half(points):
        out: list[np.ndarray] = []
        for q in points:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (q[1] - o[1]) - (a[1] - o[1]) * (q[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(q)
        return out

    lower = half(p)
    upper = half(p[::-1])
    ring = np.array(lower[:-1] + upper[:-1] + [lower[0]])
    return ring


def douglas_peucker(line: np.ndarray, tol: float) -> np.ndarray:
    """Ramer–Douglas–Peucker polyline simplification (reference
    OGRGeometry::Simplify → GEOS DouglasPeuckerSimplifier,
    ogrgeometry.cpp:6362).  Iterative stack, vectorized distance."""
    pts = np.asarray(line, dtype=np.float64)
    n = len(pts)
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        s, e = stack.pop()
        if e <= s + 1:
            continue
        seg = pts[e] - pts[s]
        mid = pts[s + 1 : e]
        L2 = seg @ seg
        if L2 == 0:
            d2 = ((mid - pts[s]) ** 2).sum(axis=1)
        else:
            t = np.clip(((mid - pts[s]) @ seg) / L2, 0.0, 1.0)
            proj = pts[s] + t[:, None] * seg
            d2 = ((mid - proj) ** 2).sum(axis=1)
        imax = int(np.argmax(d2))
        if d2[imax] > tol * tol:
            k = s + 1 + imax
            keep[k] = True
            stack.append((s, k))
            stack.append((k, e))
    return pts[keep]


def buffer_point(x: float, y: float, r: float, segs: int = 32) -> np.ndarray:
    """Circular buffer of a point as a closed CCW ``segs``-gon (GEOS
    default 8 quadrant segments = 32 vertices; ogrgeometry.cpp:4528)."""
    th = 2.0 * np.pi * np.arange(segs) / segs
    ring = np.c_[x + r * np.cos(th), y + r * np.sin(th)]
    return np.vstack([ring, ring[:1]])


def segments_intersect_any(ea: np.ndarray, eb: np.ndarray) -> bool:
    """True if ANY segment of ea (N,2,2) intersects any of eb (M,2,2),
    including endpoint touches and collinear overlap — the boundary-
    contact test behind Touches/Intersects."""
    a1 = ea[:, None, 0]
    a2 = ea[:, None, 1]
    b1 = eb[None, :, 0]
    b2 = eb[None, :, 1]

    def cross(o, p, q):
        return (p[..., 0] - o[..., 0]) * (q[..., 1] - o[..., 1]) - (
            p[..., 1] - o[..., 1]
        ) * (q[..., 0] - o[..., 0])

    d1 = cross(b1, b2, a1)
    d2 = cross(b1, b2, a2)
    d3 = cross(a1, a2, b1)
    d4 = cross(a1, a2, b2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0)) & (d1 != d2) & (d3 != d4)
    if proper.any():
        return True

    def on_seg(o, p, q):  # q collinear with o-p: is q within the bbox?
        return (
            (np.minimum(o[..., 0], p[..., 0]) <= q[..., 0])
            & (q[..., 0] <= np.maximum(o[..., 0], p[..., 0]))
            & (np.minimum(o[..., 1], p[..., 1]) <= q[..., 1])
            & (q[..., 1] <= np.maximum(o[..., 1], p[..., 1]))
        )

    touch = (
        ((d1 == 0) & on_seg(b1, b2, a1))
        | ((d2 == 0) & on_seg(b1, b2, a2))
        | ((d3 == 0) & on_seg(a1, a2, b1))
        | ((d4 == 0) & on_seg(a1, a2, b2))
    )
    return bool(touch.any())


def segment_intersections(ea: np.ndarray, eb: np.ndarray, eps: float = 1e-9):
    """All 0-dim intersections between segment sets ea (N,2,2) and
    eb (M,2,2), plus collinear-overlap spans — the exact-arithmetic
    substrate of the Crosses predicate (DE-9IM dim(I∩I) tests,
    ogr/ogrgeometry.cpp:5711 via GEOSCrosses_r).

    Returns ``(pts, ai, t, spans)``:

      * ``pts`` (K,2): point intersections (proper crossings AND
        endpoint touches — the caller classifies interior vs boundary);
      * ``ai`` (K,): index of the ea segment each point lies on;
      * ``t``  (K,): parameter of the point along that ea segment;
      * ``spans``: list of ``(ai, s0, s1)`` collinear overlaps of
        POSITIVE length (s-params along the ea segment, clipped to
        [0,1]).  A degenerate overlap (segments collinear, touching at
        one point) is emitted as a point, not a span.
    """
    if not len(ea) or not len(eb):
        return np.empty((0, 2)), np.empty(0, np.int64), np.empty(0), []
    a0 = ea[:, None, 0]
    a1 = ea[:, None, 1]
    b0 = eb[None, :, 0]
    b1 = eb[None, :, 1]
    d1 = a1 - a0
    d2 = b1 - b0
    den = d1[..., 0] * d2[..., 1] - d1[..., 1] * d2[..., 0]
    r = b0 - a0
    c1 = r[..., 0] * d2[..., 1] - r[..., 1] * d2[..., 0]
    c2 = r[..., 0] * d1[..., 1] - r[..., 1] * d1[..., 0]
    nonpar = np.abs(den) > eps
    with np.errstate(divide="ignore", invalid="ignore"):
        t = np.where(nonpar, c1 / np.where(nonpar, den, 1.0), np.nan)
        u = np.where(nonpar, c2 / np.where(nonpar, den, 1.0), np.nan)
    hit = nonpar & (t >= -eps) & (t <= 1 + eps) & (u >= -eps) & (u <= 1 + eps)
    ai_h, bi_h = np.nonzero(hit)
    th = np.clip(t[ai_h, bi_h], 0.0, 1.0)
    pts = [ea[ai_h, 0] + th[:, None] * (ea[ai_h, 1] - ea[ai_h, 0])]
    ais = [ai_h]
    ts = [th]
    # collinear pairs: parallel AND b0 on the a-line
    col = (~nonpar) & (np.abs(c2) <= eps)
    spans: list[tuple[int, float, float]] = []
    if col.any():
        L2 = (d1[..., 0] ** 2 + d1[..., 1] ** 2)
        for i, j in zip(*np.nonzero(col)):
            if L2[i, 0] <= eps:
                continue
            s0 = float(((eb[j, 0] - ea[i, 0]) * (ea[i, 1] - ea[i, 0])).sum() / L2[i, 0])
            s1 = float(((eb[j, 1] - ea[i, 0]) * (ea[i, 1] - ea[i, 0])).sum() / L2[i, 0])
            lo, hi = max(0.0, min(s0, s1)), min(1.0, max(s0, s1))
            if hi - lo > eps:
                spans.append((int(i), lo, hi))
            elif -eps <= lo <= 1 + eps and hi >= lo - eps:
                tt = np.clip((lo + hi) / 2.0, 0.0, 1.0)
                pts.append((ea[i, 0] + tt * (ea[i, 1] - ea[i, 0]))[None, :])
                ais.append(np.array([i]))
                ts.append(np.array([tt]))
    return np.vstack(pts), np.concatenate(ais), np.concatenate(ts), spans


def ring_edges(polys: list) -> np.ndarray:
    """(E, 2, 2) segment array of every ring edge of a multipolygon."""
    segs = []
    for poly in polys:
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            segs.append(np.stack([r[:-1], r[1:]], axis=1))
    return np.concatenate(segs) if segs else np.empty((0, 2, 2))


def min_distance(polys_a: list, polys_b: list) -> float:
    """Min euclidean distance between two multipolygons' boundaries
    (0 if they intersect or one contains the other) — OGRGeometry::
    Distance (ogrgeometry.cpp:3564).  For valid polygons the minimum is
    attained vertex-to-edge, checked both directions, vectorized."""
    if polys_pair_intersection_area(polys_a, polys_b) > 0:
        return 0.0
    ea = ring_edges(polys_a)
    eb = ring_edges(polys_b)
    if segments_intersect_any(ea, eb):
        return 0.0

    def pts(polys):
        return np.vstack([np.asarray(r) for poly in polys for r in poly])

    def v2e(P, E):  # min distance points -> edges
        s = E[None, :, 0]
        d = (E[:, 1] - E[:, 0])[None, :]
        L2 = (d**2).sum(axis=2)
        diff = P[:, None] - s
        num = (diff * d).sum(axis=2)
        t = np.zeros_like(num)
        np.divide(num, np.broadcast_to(L2, num.shape), out=t, where=L2 != 0)
        t = np.clip(t, 0.0, 1.0)
        proj = s + t[..., None] * d
        return np.sqrt(((P[:, None] - proj) ** 2).sum(axis=2)).min()

    return float(min(v2e(pts(polys_a), eb), v2e(pts(polys_b), ea)))


# ------------------------------------------------- rectilinear decompose

def is_rectilinear(polys: list) -> bool:
    """True if every edge of every ring is axis-parallel."""
    for poly in polys:
        for ring in poly:
            r = np.asarray(ring, dtype=np.float64)
            dx = r[1:, 0] - r[:-1, 0]
            dy = r[1:, 1] - r[:-1, 1]
            if not bool(np.all((dx == 0) | (dy == 0))):
                return False
    return True


def rectilinear_rects(polys: list) -> np.ndarray:
    """Decompose a rectilinear multipolygon (holes, concavity OK) into
    DISJOINT axis-aligned rects (R, 4) covering exactly its interior.

    Coordinate-compress on the polygon's own vertex coordinates; a grid
    cell is inside iff its center is (even-odd over all rings — shell
    minus holes).  Cell centers never touch edges, so the test is exact.
    Adjacent cells in the same row are merged into strips."""
    xs = np.unique(
        np.concatenate([np.asarray(r)[:, 0] for poly in polys for r in poly])
    )
    ys = np.unique(
        np.concatenate([np.asarray(r)[:, 1] for poly in polys for r in poly])
    )
    if len(xs) < 2 or len(ys) < 2:
        return np.empty((0, 4))
    cx = (xs[:-1] + xs[1:]) / 2.0
    cy = (ys[:-1] + ys[1:]) / 2.0
    gx, gy = np.meshgrid(cx, cy, indexing="ij")  # (nx, ny)
    from gdal_spark.geometry.pip import points_in_polygon

    inside = np.zeros(gx.shape, dtype=bool)
    for poly in polys:
        shell = points_in_polygon(gx.ravel(), gy.ravel(), [poly[0]]).reshape(gx.shape)
        for hole in poly[1:]:
            shell &= ~points_in_polygon(gx.ravel(), gy.ravel(), [hole]).reshape(
                gx.shape
            )
        inside |= shell
    rects = []
    for j in range(inside.shape[1]):  # per row, merge runs into strips
        col = inside[:, j]
        run = None
        for i in range(len(col) + 1):
            on = i < len(col) and col[i]
            if on and run is None:
                run = i
            elif not on and run is not None:
                rects.append((xs[run], ys[j], xs[i], ys[j + 1]))
                run = None
    return np.asarray(rects, dtype=np.float64).reshape(-1, 4)
