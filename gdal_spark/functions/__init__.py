"""ST_* scalar function surface over WKT columns.

Mirrors the SQLite-dialect spatial function family the reference
registers when Spatialite is absent
(ogr/ogrsf_frmts/sqlite/ogrsqlitesqlfunctions.cpp:1188-1240:
ST_Area/Envelope/Intersects/Contains/... over geometry blobs), exposed
two ways:

  * column helpers (``st_area(col)``) — Arrow-batched pandas UDFs;
  * ``register_sql_functions(spark)`` — same kernels as SQL functions
    (``SELECT st_area(geom_wkt) FROM ...``), the ``spark.udf.register``
    analog of the reference's custom-function registrar
    (ogr/ogr_swq.h:415-423).

Execution shape: each batch is grouped by UNIQUE geometry text (method
layers repeat geometries heavily), each unique WKT is parsed at most
once per executor process (module-level cache), and the scalar is
computed once per unique geometry then scattered back with a numpy
take — the only Python-level loop is over distinct geometries, the same
granularity as the PIP refine kernel.  Engine operators still use the
specialized join kernels, not these scalar forms — exactly like the
reference, where layer algebra never goes through the SQL functions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
)

from gdal_spark.geometry.boolean import (
    buffer_point,
    convex_hull,
    douglas_peucker,
    min_distance,
    polys_pair_intersection_area,
    ring_edges,
    segment_intersections,
    segments_intersect_any,
)
from gdal_spark.geometry.clip import shoelace_area
from gdal_spark.geometry.pip import RingTable, points_in_polygon, ring_table
from gdal_spark.geometry.wkb import wkb_to_payload, wkt_payload_to_wkb
from gdal_spark.geometry.wkt import parse_wkt, payload_to_wkt, polygon_wkt
from gdal_spark.operators.pip_join import factorize_geometry, grouped_pip

__all__ = [
    "st_area",
    "st_envelope",
    "st_intersects_bbox",
    "st_contains_point",
    "st_centroid_x",
    "st_centroid_y",
    "st_intersects",
    "st_contains",
    "st_within",
    "st_overlaps",
    "st_touches",
    "st_equals",
    "st_disjoint",
    "st_distance",
    "st_convexhull",
    "st_simplify",
    "st_makevalid",
    "st_boundary",
    "st_buffer",
    "st_setprecision",
    "st_normalize",
    "st_pointonsurface_x",
    "st_pointonsurface_y",
    "st_vertex_x",
    "st_vertex_y",
    "st_signed_shell_area",
    "st_isvalid",
    "st_issimple",
    "st_isring",
    "st_distance3d",
    "st_crosses",
    "st_astext",
    "st_geomfromtext",
    "st_asbinary",
    "st_geomfromwkb",
    "st_isempty",
    "st_makepoint",
    "st_srid",
    "st_intersection",
    "st_difference",
    "st_union2",
    "st_symdifference",
    "register_sql_functions",
]

# predicate tolerance: areas below this are clip-plane roundoff, not
# geometry (same constant as operators.overlay.AREA_EPS)
_TOL = 1.0e-9

# executor-level parse cache: WKT text -> (type, payload).  Bounded so a
# high-cardinality geometry column can't grow it without limit.
_PARSE_CACHE: dict[str, tuple] = {}
_PARSE_CACHE_MAX = 8192


def _parsed(wkt: str):
    v = _PARSE_CACHE.get(wkt)
    if v is None:
        v = parse_wkt(wkt)
        if len(_PARSE_CACHE) >= _PARSE_CACHE_MAX:
            _PARSE_CACHE.clear()
        _PARSE_CACHE[wkt] = v
    return v


def _as_polys(wkt: str) -> list:
    """Parsed WKT -> list of ring-lists (multipolygon form)."""
    typ, payload = _parsed(wkt)
    if typ == "POLYGON":
        return [payload]
    if typ == "MULTIPOLYGON":
        return payload
    return []


def _per_unique(fn, out_np):
    """Lift a per-geometry scalar to a batch kernel: evaluate once per
    UNIQUE wkt in the batch, scatter results back via numpy take."""

    def wrapped(col: pd.Series) -> pd.Series:
        uniq, inv = np.unique(col.to_numpy(dtype=object), return_inverse=True)
        vals = np.array([fn(w) for w in uniq], dtype=out_np)
        return pd.Series(vals[inv])

    return wrapped


def _area(wkt: str) -> float:
    total = 0.0
    for poly in _as_polys(wkt):
        for k, ring in enumerate(poly):
            a = abs(shoelace_area(ring))
            total += a if k == 0 else -a  # holes subtract
    return total


def _geom_envelope(wkt: str):
    typ, payload = _parsed(wkt)
    if typ == "MULTIPOLYGON":
        rings = [r for poly in payload for r in poly]
    else:
        rings = payload
    pts = np.vstack(rings)
    return (
        float(pts[:, 0].min()),
        float(pts[:, 1].min()),
        float(pts[:, 0].max()),
        float(pts[:, 1].max()),
    )


def _envelope_wkt(wkt: str) -> str:
    x0, y0, x1, y1 = _geom_envelope(wkt)
    return (
        f"POLYGON (({x0!r} {y0!r},{x1!r} {y0!r},{x1!r} {y1!r},"
        f"{x0!r} {y1!r},{x0!r} {y0!r}))"
    )


def _centroid(wkt: str) -> tuple[float, float]:
    """Area-weighted centroid (reference: OGRGeometry::Centroid,
    ogrgeometry.cpp:6108 — GEOS area centroid): EVERY ring contributes
    its signed shoelace terms, holes normalized to NEGATIVE area so
    they subtract mass (round-3 fix — the previous version ignored
    holes, shifting the centroid of any holed polygon)."""
    typ, payload = _parsed(wkt)
    polys = [payload] if typ == "POLYGON" else payload if typ == "MULTIPOLYGON" else []
    if not polys:
        if typ == "POINT":
            return float(payload[0][0, 0]), float(payload[0][0, 1])
        return float("nan"), float("nan")
    ax = ay = aa = 0.0
    for poly in polys:
        for k, ring in enumerate(poly):
            x = ring[:-1, 0]
            y = ring[:-1, 1]
            xn = ring[1:, 0]
            yn = ring[1:, 1]
            cross = x * yn - xn * y
            a = cross.sum() / 2.0
            if a == 0:
                continue
            # shell mass positive, hole mass negative, regardless of
            # the input ring's winding
            if (a > 0) != (k == 0):
                cross = -cross
                a = -a
            ax += ((x + xn) * cross).sum() / 6.0
            ay += ((y + yn) * cross).sum() / 6.0
            aa += a
    if aa == 0:
        return float("nan"), float("nan")
    return ax / aa, ay / aa


def _envelopes_for(col: pd.Series) -> np.ndarray:
    """(n, 4) envelope matrix for a WKT column, one parse per unique."""
    uniq, inv = np.unique(col.to_numpy(dtype=object), return_inverse=True)
    envs = np.array([_geom_envelope(w) for w in uniq], dtype=np.float64)
    return envs[inv]


def _bbox_intersects_batch(a: pd.Series, b: pd.Series) -> pd.Series:
    ea = _envelopes_for(a)
    eb = _envelopes_for(b)
    hit = (
        (ea[:, 0] <= eb[:, 2])
        & (eb[:, 0] <= ea[:, 2])
        & (ea[:, 1] <= eb[:, 3])
        & (eb[:, 1] <= ea[:, 3])
    )
    return pd.Series(hit)


# executor-level edge-table cache for ST_Contains (same bound as parsing)
_RING_CACHE: dict[str, RingTable] = {}


def _ring_table_of(wkt: str) -> RingTable:
    t = _RING_CACHE.get(wkt)
    if t is None:
        t = ring_table(_as_polys(wkt))
        if len(_RING_CACHE) >= _PARSE_CACHE_MAX:
            _RING_CACHE.clear()
        _RING_CACHE[wkt] = t
    return t


def _contains_point_batch(poly: pd.Series, x: pd.Series, y: pd.Series) -> pd.Series:
    codes, uniq = factorize_geometry(poly)
    return pd.Series(
        grouped_pip(
            x.to_numpy(np.float64), y.to_numpy(np.float64), codes, uniq,
            _ring_table_of,
        )
    )


_st_area_udf = F.pandas_udf(_per_unique(_area, np.float64), DoubleType())
_st_env_udf = F.pandas_udf(_per_unique(_envelope_wkt, object), StringType())
_st_bbox_udf = F.pandas_udf(_bbox_intersects_batch, BooleanType())
_st_contains_udf = F.pandas_udf(_contains_point_batch, BooleanType())
_st_cx_udf = F.pandas_udf(
    _per_unique(lambda w: _centroid(w)[0], np.float64), DoubleType()
)
_st_cy_udf = F.pandas_udf(
    _per_unique(lambda w: _centroid(w)[1], np.float64), DoubleType()
)


def st_area(col) -> Column:
    return _st_area_udf(col)


def st_envelope(col) -> Column:
    return _st_env_udf(col)


def st_intersects_bbox(a, b) -> Column:
    return _st_bbox_udf(a, b)


def st_contains_point(poly, x, y) -> Column:
    return _st_contains_udf(poly, x, y)


def st_centroid_x(col) -> Column:
    return _st_cx_udf(col)


def st_centroid_y(col) -> Column:
    return _st_cy_udf(col)


# ------------------------------------------------ pairwise predicates
# Semantics (valid polygons): interiors meet <=> intersection area > 0;
# boundary contact via exact segment tests — together these reproduce
# the GEOS predicate matrix the reference exposes
# (OGRGeometry Intersects/Contains/Within/Overlaps/Touches/Equals,
# ogrgeometry.cpp:1273,5663-5991; Distance :3564).


def _pairwise(fn, out_np):
    """Lift a per-(geomA, geomB) scalar to a batch kernel — one
    evaluation per UNIQUE pair (vectorized key building, numpy scatter)."""

    def wrapped(a: pd.Series, b: pd.Series) -> pd.Series:
        key = (a + "\x00" + b).to_numpy(dtype=object)
        uniq, first, inv = np.unique(key, return_index=True, return_inverse=True)
        vals = np.array(
            [fn(a.iat[i], b.iat[i]) for i in first], dtype=out_np
        )
        return pd.Series(vals[inv])

    return wrapped


def _inter_area(aw: str, bw: str) -> float:
    return polys_pair_intersection_area(_as_polys(aw), _as_polys(bw))


def _boundaries_touch(aw: str, bw: str) -> bool:
    ea = ring_edges(_as_polys(aw))
    eb = ring_edges(_as_polys(bw))
    if not len(ea) or not len(eb):
        return False
    return segments_intersect_any(ea, eb)


def _intersects(aw, bw):
    return _inter_area(aw, bw) > _TOL or _boundaries_touch(aw, bw)


def _contains(aw, bw):
    ab = _area(bw)
    return ab > _TOL and abs(_inter_area(aw, bw) - ab) <= _TOL


def _overlaps(aw, bw):
    ia = _inter_area(aw, bw)
    return _TOL < ia < min(_area(aw), _area(bw)) - _TOL


def _touches(aw, bw):
    return _inter_area(aw, bw) <= _TOL and _boundaries_touch(aw, bw)


def _equals(aw, bw):
    ia = _inter_area(aw, bw)
    return abs(ia - _area(aw)) <= _TOL and abs(ia - _area(bw)) <= _TOL


def _line_edges(V: np.ndarray) -> np.ndarray:
    return np.stack([V[:-1], V[1:]], axis=1)


def _interior_line_pt(p: np.ndarray, V: np.ndarray, eps: float = 1e-9) -> bool:
    """Is p in the INTERIOR of linestring V (everything but the two
    terminal endpoints; a closed line has no boundary)?"""
    if np.abs(V[0] - V[-1]).max() <= eps:
        return True
    return not (
        np.abs(p - V[0]).max() <= eps or np.abs(p - V[-1]).max() <= eps
    )


def _pt_edges_mindist(p: np.ndarray, E: np.ndarray) -> float:
    s = E[:, 0]
    d = E[:, 1] - E[:, 0]
    L2 = (d**2).sum(axis=1)
    num = ((p - s) * d).sum(axis=1)
    t = np.zeros_like(num)
    np.divide(num, L2, out=t, where=L2 != 0)
    proj = s + np.clip(t, 0, 1)[:, None] * d
    return float(np.sqrt(((p - proj) ** 2).sum(axis=1)).min())


def _inside_any_poly(x: float, y: float, polys: list) -> bool:
    for rings in polys:
        if points_in_polygon(np.array([x]), np.array([y]), rings)[0]:
            return True
    return False


def _crosses(aw: str, bw: str) -> bool:
    """DE-9IM Crosses (OGRGeometry::Crosses, ogrgeometry.cpp:5711 ->
    GEOSCrosses_r).  line/line: the interiors meet in a 0-dim point and
    share no 1-dim stretch.  line/area (either order, like JTS): the
    line's interior meets both the interior and the exterior of the
    area.  point and area/area combinations: always false.  Exact for
    simple linestrings: the line is split at every boundary
    intersection and each residual piece's midpoint is classified
    strictly-inside / on-boundary / outside."""
    ta = _parsed(aw)[0]
    tb = _parsed(bw)[0]
    areas = ("POLYGON", "MULTIPOLYGON")
    if ta in areas and tb == "LINESTRING":
        return _crosses(bw, aw)
    if ta == "LINESTRING" and tb == "LINESTRING":
        A = _parsed(aw)[1][0]
        B = _parsed(bw)[1][0]
        pts, _, _, spans = segment_intersections(_line_edges(A), _line_edges(B))
        if spans:
            return False  # shared 1-dim stretch => dim(I∩I) != 0
        return any(
            _interior_line_pt(p, A) and _interior_line_pt(p, B) for p in pts
        )
    if ta == "LINESTRING" and tb in areas:
        A = _parsed(aw)[1][0]
        polys = _as_polys(bw)
        E = ring_edges(polys)
        ea = _line_edges(A)
        pts, ai, t, spans = segment_intersections(ea, E)
        cuts: dict[int, list[float]] = {i: [0.0, 1.0] for i in range(len(ea))}
        for i, tt in zip(ai, t):
            cuts[int(i)].append(float(tt))
        for i, s0, s1 in spans:
            cuts[i].extend([s0, s1])
        has_in = has_out = False
        for i, ts in cuts.items():
            for t0, t1 in zip(ts := sorted(ts), ts[1:]):
                if t1 - t0 <= 1e-9:
                    continue
                m = ea[i, 0] + ((t0 + t1) / 2.0) * (ea[i, 1] - ea[i, 0])
                if _pt_edges_mindist(m, E) <= 1e-9:
                    continue  # piece runs along the boundary: neither side
                if _inside_any_poly(m[0], m[1], polys):
                    has_in = True
                else:
                    has_out = True
                if has_in and has_out:
                    return True
        return False
    return False


def _distance(aw, bw) -> float:
    ta, pa = _parsed(aw)
    tb, pb = _parsed(bw)
    if ta == "POINT" and tb == "POINT":
        dx = pa[0][0, 0] - pb[0][0, 0]
        dy = pa[0][0, 1] - pb[0][0, 1]
        return float(np.sqrt(dx * dx + dy * dy))
    if ta == "POINT" or tb == "POINT":
        pt, polyw = (pa, bw) if ta == "POINT" else (pb, aw)
        x, y = float(pt[0][0, 0]), float(pt[0][0, 1])
        polys = _as_polys(polyw)
        for rings in polys:
            if points_in_polygon(np.array([x]), np.array([y]), rings)[0]:
                return 0.0
        E = ring_edges(polys)
        s, d = E[:, 0], E[:, 1] - E[:, 0]
        L2 = (d**2).sum(axis=1)
        num = ((np.array([x, y]) - s) * d).sum(axis=1)
        t = np.zeros_like(num)
        np.divide(num, L2, out=t, where=L2 != 0)
        proj = s + np.clip(t, 0, 1)[:, None] * d
        return float(np.sqrt(((np.array([x, y]) - proj) ** 2).sum(axis=1)).min())
    return min_distance(_as_polys(aw), _as_polys(bw))


# --------------------------------------------------------- constructors

def _all_points(wkt: str) -> np.ndarray:
    typ, payload = _parsed(wkt)
    if typ == "MULTIPOLYGON":
        return np.vstack([r for poly in payload for r in poly])
    return np.vstack(payload)


def _convexhull_wkt(wkt: str) -> str:
    return polygon_wkt([convex_hull(_all_points(wkt))])


def _simplify_wkt(wkt: str, tol: float) -> str:
    typ, payload = _parsed(wkt)
    if typ == "POLYGON":
        rings = []
        for r in payload:
            s = douglas_peucker(r, tol)
            rings.append(s if len(s) >= 4 else r)
        return polygon_wkt(rings)
    raise ValueError("st_simplify v1 supports POLYGON")


def _makevalid_wkt(wkt: str) -> str:
    """Drop repeated consecutive vertices, close rings, orient shell CCW
    and holes CW (the cheap subset of OGRGeometry::MakeValid,
    ogrgeometry.cpp:3924 — no self-intersection repair)."""
    typ, payload = _parsed(wkt)
    if typ != "POLYGON":
        raise ValueError("st_makevalid v1 supports POLYGON")
    rings = []
    for k, r in enumerate(payload):
        keep = np.r_[True, (np.abs(np.diff(r, axis=0)).sum(axis=1) > 0)]
        r = r[keep]
        if not np.array_equal(r[0], r[-1]):
            r = np.vstack([r, r[:1]])
        want_ccw = k == 0
        if (shoelace_area(r) > 0) != want_ccw:
            r = r[::-1]
        rings.append(r)
    return polygon_wkt(rings)


def _boundary_wkt(wkt: str) -> str:
    """OGRGeometry::Boundary (ogrgeometry.cpp:4403): polygon boundary is
    its ring set — LINESTRING for a single ring, MULTILINESTRING when
    holes or multiple parts exist (matches GEOS)."""
    typ, payload = _parsed(wkt)
    polys = [payload] if typ == "POLYGON" else payload
    if typ not in ("POLYGON", "MULTIPOLYGON"):
        raise ValueError("st_boundary supports POLYGON/MULTIPOLYGON")
    rings = [r for poly in polys for r in poly]

    def _ls(r):
        return "(" + ",".join(f"{x!r} {y!r}" for x, y in r) + ")"

    if len(rings) == 1:
        return f"LINESTRING {_ls(rings[0])}"
    return "MULTILINESTRING (" + ",".join(_ls(r) for r in rings) + ")"


def _setprecision_wkt(wkt: str, grid: float) -> str:
    """OGRGeometry::SetPrecision subset (ogrgeometry.cpp:6610 / GEOS
    SetPrecision): snap every coordinate to the grid
    (floor(v/grid + 0.5) * grid), drop repeated consecutive vertices.
    No topology repair — raises if a ring degenerates."""
    typ, payload = _parsed(wkt)
    if typ != "POLYGON":
        raise ValueError("st_setprecision v1 supports POLYGON")
    rings = []
    for r in payload:
        snapped = np.floor(r / grid + 0.5) * grid
        keep = np.r_[True, (np.abs(np.diff(snapped, axis=0)).sum(axis=1) > 0)]
        snapped = snapped[keep]
        if not np.array_equal(snapped[0], snapped[-1]):
            snapped = np.vstack([snapped, snapped[:1]])
        if snapped.shape[0] < 4 or shoelace_area(snapped) == 0.0:
            raise ValueError("st_setprecision: ring degenerated at this grid")
        rings.append(snapped)
    return polygon_wkt(rings)


def _normalize_wkt(wkt: str) -> str:
    """OGRGeometry::Normalize (ogrgeometry.cpp:4108 / JTS convention):
    each ring rotated to start at its lexicographically smallest vertex;
    shell oriented CW, holes CCW."""
    typ, payload = _parsed(wkt)
    if typ != "POLYGON":
        raise ValueError("st_normalize v1 supports POLYGON")
    rings = []
    for k, r in enumerate(payload):
        open_r = r[:-1]
        i0 = np.lexsort((open_r[:, 1], open_r[:, 0]))[0]
        rot = np.roll(open_r, -i0, axis=0)
        rot = np.vstack([rot, rot[:1]])
        want_ccw = k != 0  # shell CW, holes CCW
        if (shoelace_area(rot) > 0) != want_ccw:
            # reverse the closed ring keeping the same start vertex
            rot = np.vstack([rot[0:1], rot[-2::-1]])
        rings.append(rot)
    return polygon_wkt(rings)


def _pointonsurface(wkt: str) -> tuple[float, float]:
    """OGRGeometry::PointOnSurface (ogrgeometry.cpp:6313 / JTS
    InteriorPointArea): midpoint of the widest run of the horizontal
    envelope bisector inside the polygon; when the bisector passes
    within 1e-9 of a vertex y, it shifts to the midpoint between the
    envelope center and the next distinct vertex y above (vertex-safe
    bisector)."""
    typ, payload = _parsed(wkt)
    if typ != "POLYGON":
        raise ValueError("st_pointonsurface v1 supports POLYGON")
    allv = np.vstack(payload)
    ymin, ymax = allv[:, 1].min(), allv[:, 1].max()
    cy = (ymin + ymax) / 2.0
    vys = np.unique(allv[:, 1])
    if np.abs(vys - cy).min() < 1e-9:
        above = vys[vys > cy + 1e-9]
        cy = (cy + above.min()) / 2.0
    xs = []
    for r in payload:
        y0, y1 = r[:-1, 1], r[1:, 1]
        x0, x1 = r[:-1, 0], r[1:, 0]
        lo = np.minimum(y0, y1)
        hi = np.maximum(y0, y1)
        m = (lo < cy) & (cy < hi)
        if m.any():
            t = (cy - y0[m]) / (y1[m] - y0[m])
            xs.append(x0[m] + t * (x1[m] - x0[m]))
    cross = np.sort(np.concatenate(xs))
    widths = cross[1::2] - cross[0::2]
    w = int(np.argmax(widths))
    return (cross[0::2][w] + cross[1::2][w]) / 2.0, cy


def _offset_ring(ring: np.ndarray, r: float, outward_right: bool) -> np.ndarray:
    """Offset a closed simple ring by r to its right (outward_right) or
    left side, GEOS-buffer style: straight offset edges, polygonal arcs
    (8 segments per quadrant, the GEOS quadrantSegments default) at
    separating corners, line-intersection meet points at overlapping
    corners.  Valid while r stays under the local feature size (no
    global self-intersection repair — documented contract)."""
    import math

    v = ring[:-1]
    n = v.shape[0]
    d = np.roll(v, -1, axis=0) - v
    ln = np.hypot(d[:, 0], d[:, 1])
    u = d / ln[:, None]
    if outward_right:
        nrm = np.column_stack([u[:, 1], -u[:, 0]])
    else:
        nrm = np.column_stack([-u[:, 1], u[:, 0]])
    out: list[np.ndarray] = []
    skip_a = False
    for i in range(n):
        j = (i + 1) % n
        a = v[i] + r * nrm[i]
        b = v[j] + r * nrm[i]
        if not skip_a:
            out.append(a)
        skip_a = False
        cross = u[i, 0] * u[j, 1] - u[i, 1] * u[j, 0]
        dot = u[i, 0] * u[j, 0] + u[i, 1] * u[j, 1]
        turn = math.atan2(cross, dot)
        is_arc = (cross > 0) if outward_right else (cross < 0)
        if abs(turn) < 1e-12:
            out.append(b)
        elif is_arc:
            out.append(b)
            k = max(1, int(np.ceil(abs(turn) / (math.pi / 2.0) * 8)))
            ang0 = math.atan2(nrm[i, 1], nrm[i, 0])
            for t in range(1, k):
                ang = ang0 + turn * t / k
                out.append(v[j] + r * np.array([math.cos(ang), math.sin(ang)]))
        else:
            # meet point: intersect offset lines i and next
            a2 = v[j] + r * nrm[j]
            den = u[i, 0] * u[j, 1] - u[i, 1] * u[j, 0]
            t = ((a2[0] - a[0]) * u[j, 1] - (a2[1] - a[1]) * u[j, 0]) / den
            out.append(a + t * u[i])
            skip_a = True
    arr = np.vstack(out)
    return np.vstack([arr, arr[:1]])


def _buffer_wkt(wkt: str, r: float) -> str:
    """POINT -> 32-gon circle; POLYGON (general simple, with holes) ->
    offset outline per ring (shell grows, holes shrink; holes that
    erode away are dropped), the outward-offset analog of
    OGRGeometry::Buffer (ogrgeometry.cpp:4528) for r below the local
    feature size."""
    typ, payload = _parsed(wkt)
    if typ == "POINT":
        x, y = payload[0][0]
        return polygon_wkt([buffer_point(float(x), float(y), r)])
    if typ == "POLYGON":
        rings = []
        for kk, ring in enumerate(payload):
            ccw = shoelace_area(ring) > 0
            rr = ring if ccw else ring[::-1]
            off = _offset_ring(rr, r, outward_right=kk == 0)
            if kk > 0:
                # hole must survive erosion with consistent orientation
                if shoelace_area(off) <= 0:
                    continue
                env = off.max(axis=0) - off.min(axis=0)
                if env.min() <= 0:
                    continue
            rings.append(off if ccw else off[::-1])
        return polygon_wkt(rings)
    raise ValueError("st_buffer supports POINT or POLYGON")


def _setop_wkt(aw: str, bw: str, op: str) -> str:
    """Scalar geometry set op RETURNING geometry WKT — the
    function-form Intersection/Difference/Union/SymDifference the
    reference registers (ogrsqlitesqlfunctions.cpp:1208-1214; GEOS
    ogrgeometry.cpp:4895,5014,5229).  Two kernels: the exact
    compressed-grid kernel for RECTILINEAR pairs (any concavity/holes/
    multipart, geometry/rectbool.py) and the GENERAL arrangement kernel
    (geometry/polybool.py) for arbitrary-angle pairs — concave, holed,
    multipart, rotated; areal parts only, vertices on the 2^-20 grid
    (polybool's documented contract).  Results canonical either way:
    shell CCW, holes CW, rings start at the lexicographic min vertex."""
    from gdal_spark.geometry.boolean import is_rectilinear
    from gdal_spark.geometry.polybool import general_setop_wkt
    from gdal_spark.geometry.rectbool import rect_bool_op

    pa, pb = _as_polys(aw), _as_polys(bw)
    if is_rectilinear(pa) and is_rectilinear(pb):
        polys = rect_bool_op(pa, pb, op)
        if not polys:
            return "POLYGON EMPTY"
        if len(polys) == 1:
            return payload_to_wkt("POLYGON", polys[0])
        return payload_to_wkt("MULTIPOLYGON", polys)
    return general_setop_wkt(pa, pb, op)


def _canon_wkt(w: str) -> str:
    """ST_GeomFromText + ST_AsText in a WKT-native engine: parse then
    re-serialize to the one canonical spelling
    (ogrsqlitesqlfunctions.cpp:1188 AsText/GeomFromText pair)."""
    typ, payload = _parsed(w)
    return payload_to_wkt(typ, payload)


def _asbinary(w: str) -> bytes:
    typ, payload = _parsed(w)
    return wkt_payload_to_wkb(typ, payload)


def _fromwkb(b) -> str:
    typ, payload = wkb_to_payload(bytes(b))
    return payload_to_wkt(typ, payload)


_st_crosses_udf = F.pandas_udf(_pairwise(_crosses, bool), BooleanType())
_st_intersection_udf = F.pandas_udf(
    _pairwise(lambda a, b: _setop_wkt(a, b, "intersection"), object), StringType()
)
_st_difference_udf = F.pandas_udf(
    _pairwise(lambda a, b: _setop_wkt(a, b, "difference"), object), StringType()
)
_st_union2_udf = F.pandas_udf(
    _pairwise(lambda a, b: _setop_wkt(a, b, "union"), object), StringType()
)
_st_symdifference_udf = F.pandas_udf(
    _pairwise(lambda a, b: _setop_wkt(a, b, "symdifference"), object), StringType()
)


def st_intersection(a, b) -> Column:
    return _st_intersection_udf(a, b)


def st_difference(a, b) -> Column:
    return _st_difference_udf(a, b)


def st_union2(a, b) -> Column:
    return _st_union2_udf(a, b)


def st_symdifference(a, b) -> Column:
    return _st_symdifference_udf(a, b)
_st_astext_udf = F.pandas_udf(_per_unique(_canon_wkt, object), StringType())
_st_asbinary_udf = F.pandas_udf(_per_unique(_asbinary, object), BinaryType())
_st_geomfromwkb_udf = F.pandas_udf(_per_unique(_fromwkb, object), StringType())


def st_crosses(a, b) -> Column:
    return _st_crosses_udf(a, b)


def st_astext(col) -> Column:
    return _st_astext_udf(col)


# parsing and canonical serialization are one normalization step here,
# so GeomFromText IS AsText (the reference's pair splits only because
# its geometries are binary objects)
st_geomfromtext = st_astext


def st_asbinary(col) -> Column:
    return _st_asbinary_udf(col)


def st_geomfromwkb(col) -> Column:
    return _st_geomfromwkb_udf(col)


def _ascol(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def st_isempty(col) -> Column:
    """ST_IsEmpty — WKT-level: the EMPTY token is the representation
    (pure JVM, no parse)."""
    c = _ascol(col)
    return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.upper(F.trim(c)).endswith(F.lit("EMPTY"))
    )


def st_makepoint(x, y) -> Column:
    """ST_MakePoint(x, y) -> 2-D point WKT, integral doubles collapsed
    exactly like geometry/wkt._fmt — pure JVM string build."""

    def _f(c: Column) -> Column:
        i = c.cast("bigint")
        return F.when(
            i.cast("double") == c, i.cast("string")
        ).otherwise(c.cast("string"))

    return F.concat(
        F.lit("POINT ("), _f(_ascol(x)), F.lit(" "), _f(_ascol(y)), F.lit(")")
    )


def st_srid(col) -> Column:
    """ST_SRID: geometries here carry no per-value SRS (engine-level
    CRS, like layers without an assigned SRS) -> 0, the reference's
    value for SRS-less geometry."""
    c = _ascol(col)
    return F.when(c.isNull(), F.lit(None).cast("int")).otherwise(F.lit(0))


_st_intersects_udf = F.pandas_udf(_pairwise(_intersects, bool), BooleanType())
_st_contains_udf2 = F.pandas_udf(_pairwise(_contains, bool), BooleanType())
_st_within_udf = F.pandas_udf(
    _pairwise(lambda a, b: _contains(b, a), bool), BooleanType()
)
_st_overlaps_udf = F.pandas_udf(_pairwise(_overlaps, bool), BooleanType())
_st_touches_udf = F.pandas_udf(_pairwise(_touches, bool), BooleanType())
_st_equals_udf = F.pandas_udf(_pairwise(_equals, bool), BooleanType())
_st_disjoint_udf = F.pandas_udf(
    _pairwise(lambda a, b: not _intersects(a, b), bool), BooleanType()
)
_st_distance_udf = F.pandas_udf(_pairwise(_distance, np.float64), DoubleType())
_st_hull_udf = F.pandas_udf(_per_unique(_convexhull_wkt, object), StringType())
_st_makevalid_udf = F.pandas_udf(_per_unique(_makevalid_wkt, object), StringType())
_st_boundary_udf = F.pandas_udf(_per_unique(_boundary_wkt, object), StringType())


def st_intersects(a, b) -> Column:
    return _st_intersects_udf(a, b)


def st_contains(a, b) -> Column:
    return _st_contains_udf2(a, b)


def st_within(a, b) -> Column:
    return _st_within_udf(a, b)


def st_overlaps(a, b) -> Column:
    return _st_overlaps_udf(a, b)


def st_touches(a, b) -> Column:
    return _st_touches_udf(a, b)


def st_equals(a, b) -> Column:
    return _st_equals_udf(a, b)


def st_disjoint(a, b) -> Column:
    return _st_disjoint_udf(a, b)


def st_distance(a, b) -> Column:
    return _st_distance_udf(a, b)


def st_convexhull(col) -> Column:
    return _st_hull_udf(col)


def st_simplify(col, tol: float) -> Column:
    return F.pandas_udf(
        _per_unique(lambda w: _simplify_wkt(w, tol), object), StringType()
    )(col)


def st_makevalid(col) -> Column:
    return _st_makevalid_udf(col)


def st_boundary(col) -> Column:
    return _st_boundary_udf(col)


def st_buffer(col, r: float) -> Column:
    return F.pandas_udf(
        _per_unique(lambda w: _buffer_wkt(w, r), object), StringType()
    )(col)


_st_normalize_udf = F.pandas_udf(_per_unique(_normalize_wkt, object), StringType())
_st_posurf_x_udf = F.pandas_udf(
    _per_unique(lambda w: _pointonsurface(w)[0], np.float64), DoubleType()
)
_st_posurf_y_udf = F.pandas_udf(
    _per_unique(lambda w: _pointonsurface(w)[1], np.float64), DoubleType()
)


def _point_z(wkt: str) -> tuple[float, float, float]:
    s = wkt.strip()
    vals = [float(v) for v in s[s.find("(") + 1 : s.rfind(")")].split()]
    return vals[0], vals[1], (vals[2] if len(vals) > 2 else 0.0)


def _distance3d(aw: str, bw: str) -> float:
    """OGRGeometry::Distance3D (ogrgeometry.cpp:3695) for POINT Z pairs
    (missing Z treated as 0, matching the engine's 2D default)."""
    ax, ay, az = _point_z(aw)
    bx, by, bz = _point_z(bw)
    return float(
        np.sqrt(
            ((ax - bx) * (ax - bx) + (ay - by) * (ay - by))
            + (az - bz) * (az - bz)
        )
    )


def _ring_self_intersects(pts: np.ndarray, closed: bool) -> bool:
    """Proper crossing between any two NON-adjacent segments of a path
    (adjacency wraps when closed)."""
    E0, E1 = pts[:-1], pts[1:]
    n = E0.shape[0]
    if n < 2:
        return False
    a1 = E0[:, None]
    a2 = E1[:, None]
    b1 = E0[None, :]
    b2 = E1[None, :]

    def cross(o, p, q):
        return (p[..., 0] - o[..., 0]) * (q[..., 1] - o[..., 1]) - (
            p[..., 1] - o[..., 1]
        ) * (q[..., 0] - o[..., 0])

    d1 = cross(b1, b2, a1)
    d2 = cross(b1, b2, a2)
    d3 = cross(a1, a2, b1)
    d4 = cross(a1, a2, b2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    i = np.arange(n)
    adj = np.abs(i[:, None] - i[None, :]) <= 1
    if closed:
        adj |= np.abs(i[:, None] - i[None, :]) == n - 1
    return bool((proper & ~adj).any())


def _is_valid(wkt: str) -> bool:
    """IsValid subset (ogrgeometry.cpp:2297): rings closed, >= 4 points,
    nonzero area, no ring self-intersection (no cross-ring checks)."""
    typ, payload = _parsed(wkt)
    if typ in ("POINT", "LINESTRING"):
        return True
    polys = [payload] if typ == "POLYGON" else payload
    for poly in polys:
        for ring in poly:
            if ring.shape[0] < 4 or not np.array_equal(ring[0], ring[-1]):
                return False
            if shoelace_area(ring) == 0.0:
                return False
            if _ring_self_intersects(ring, closed=True):
                return False
    return True


def _is_simple(wkt: str) -> bool:
    """IsSimple (ogrgeometry.cpp:2416): no self-intersection."""
    typ, payload = _parsed(wkt)
    if typ == "POINT":
        return True
    if typ == "LINESTRING":
        closed = np.array_equal(payload[0][0], payload[0][-1])
        return not _ring_self_intersects(payload[0], closed=closed)
    return _is_valid(wkt)


def _is_ring(wkt: str) -> bool:
    """IsRing (ogrgeometry.cpp:2487): a closed, simple LINESTRING."""
    typ, payload = _parsed(wkt)
    if typ != "LINESTRING":
        return False
    pts = payload[0]
    return bool(
        pts.shape[0] >= 4
        and np.array_equal(pts[0], pts[-1])
        and not _ring_self_intersects(pts, closed=True)
    )


_st_distance3d_udf = F.pandas_udf(_pairwise(_distance3d, np.float64), DoubleType())


def st_distance3d(a, b) -> Column:
    return _st_distance3d_udf(a, b)


_st_isvalid_udf = F.pandas_udf(_per_unique(_is_valid, bool), BooleanType())
_st_issimple_udf = F.pandas_udf(_per_unique(_is_simple, bool), BooleanType())
_st_isring_udf = F.pandas_udf(_per_unique(_is_ring, bool), BooleanType())


def st_isvalid(col) -> Column:
    return _st_isvalid_udf(col)


def st_issimple(col) -> Column:
    return _st_issimple_udf(col)


def st_isring(col) -> Column:
    return _st_isring_udf(col)


def _vertex(wkt: str, k: int, ax: int) -> float:
    return float(_parsed(wkt)[1][0][k, ax])


def _signed_shell_area(wkt: str) -> float:
    return float(shoelace_area(_parsed(wkt)[1][0]))


def st_vertex_x(col, k: int) -> Column:
    return F.pandas_udf(
        _per_unique(lambda w: _vertex(w, k, 0), np.float64), DoubleType()
    )(col)


def st_vertex_y(col, k: int) -> Column:
    return F.pandas_udf(
        _per_unique(lambda w: _vertex(w, k, 1), np.float64), DoubleType()
    )(col)


def st_signed_shell_area(col) -> Column:
    return F.pandas_udf(
        _per_unique(_signed_shell_area, np.float64), DoubleType()
    )(col)


def st_setprecision(col, grid: float) -> Column:
    return F.pandas_udf(
        _per_unique(lambda w: _setprecision_wkt(w, grid), object), StringType()
    )(col)


def st_normalize(col) -> Column:
    return _st_normalize_udf(col)


def st_pointonsurface_x(col) -> Column:
    return _st_posurf_x_udf(col)


def st_pointonsurface_y(col) -> Column:
    return _st_posurf_y_udf(col)


def register_sql_functions(spark: SparkSession) -> None:
    """Make the family callable from spark.sql strings."""
    spark.udf.register("st_area", _st_area_udf)
    spark.udf.register("st_envelope", _st_env_udf)
    spark.udf.register("st_intersects_bbox", _st_bbox_udf)
    spark.udf.register("st_contains_point", _st_contains_udf)
    spark.udf.register("st_centroid_x", _st_cx_udf)
    spark.udf.register("st_centroid_y", _st_cy_udf)
    spark.udf.register("st_intersects", _st_intersects_udf)
    spark.udf.register("st_contains", _st_contains_udf2)
    spark.udf.register("st_within", _st_within_udf)
    spark.udf.register("st_overlaps", _st_overlaps_udf)
    spark.udf.register("st_touches", _st_touches_udf)
    spark.udf.register("st_equals", _st_equals_udf)
    spark.udf.register("st_disjoint", _st_disjoint_udf)
    spark.udf.register("st_distance", _st_distance_udf)
    spark.udf.register("st_convexhull", _st_hull_udf)
    spark.udf.register("st_makevalid", _st_makevalid_udf)
    spark.udf.register("st_boundary", _st_boundary_udf)
    spark.udf.register("st_normalize", _st_normalize_udf)
    spark.udf.register("st_isvalid", _st_isvalid_udf)
    spark.udf.register("st_issimple", _st_issimple_udf)
    spark.udf.register("st_isring", _st_isring_udf)
    spark.udf.register("st_pointonsurface_x", _st_posurf_x_udf)
    spark.udf.register("st_pointonsurface_y", _st_posurf_y_udf)
    spark.udf.register("st_crosses", _st_crosses_udf)
    spark.udf.register("st_astext", _st_astext_udf)
    spark.udf.register("st_geomfromtext", _st_astext_udf)
    spark.udf.register("st_asbinary", _st_asbinary_udf)
    spark.udf.register("st_geomfromwkb", _st_geomfromwkb_udf)
    spark.udf.register("st_intersection", _st_intersection_udf)
    spark.udf.register("st_difference", _st_difference_udf)
    spark.udf.register("st_union", _st_union2_udf)
    spark.udf.register("st_symdifference", _st_symdifference_udf)


# ---------------------------------------------------------------------------
# Lower-dimension intersection emit (KEEP_LOWER_DIMENSION_GEOMETRIES,
# ogr/ogrsf_frmts/generic/ogrlayer.cpp:3345-3580): the shared-boundary
# LINESTRING pieces GEOS yields when two polygons touch without interior
# overlap — geometry/polybool.py shared_boundary_chains (opposite-
# direction collinear sub-edges under the interior-left convention).
# Corner (point) touches are not emitted — documented divergence.
# ---------------------------------------------------------------------------


def _lowdim_wkt(aw: str, bw: str) -> str:
    from gdal_spark.geometry.polybool import shared_boundary_wkt

    return shared_boundary_wkt(_as_polys(aw), _as_polys(bw))


def _lowdim_len_micro(aw: str, bw: str) -> int:
    import math

    from gdal_spark.geometry.polybool import (
        chains_length,
        shared_boundary_chains,
    )

    return int(
        math.floor(
            chains_length(shared_boundary_chains(_as_polys(aw), _as_polys(bw)))
            * 1.0e6
        )
    )


_st_intersection_lowdim_udf = F.pandas_udf(
    _pairwise(_lowdim_wkt, object), StringType()
)
_st_lowdim_len_udf = F.pandas_udf(_pairwise(_lowdim_len_micro, np.int64), LongType())


def st_intersection_lowdim(a, b) -> Column:
    """Shared-boundary LINESTRING/MULTILINESTRING of a touching pair
    ('LINESTRING EMPTY' when the touch has no 1-D part)."""
    return _st_intersection_lowdim_udf(a, b)


def st_lowdim_len_micro(a, b) -> Column:
    """floor(1e6 x total length) of the shared boundary — the exact
    integer the oracle can pin."""
    return _st_lowdim_len_udf(a, b)
