"""Pure-numpy tests for the general polygon boolean-area kernel
(geometry/boolean.py) — no Spark session needed.

Reference semantics: OGRGeometry::Intersection via GEOS
(ogr/ogrgeometry.cpp:4895); fixtures mirror the layer-algebra shapes
(autotest/ogr/ogr_layer_algebra.py:56-102) plus concave/hole/multipart
cases the convex-only v1 kernel refused.
"""

import numpy as np
import pytest

from gdal_spark.geometry.boolean import (
    is_rectilinear,
    polys_area,
    polys_pair_intersection_area,
    rectilinear_rects,
    rects_geoms_intersection_area,
    rects_polys_intersection_area,
    triangle_table,
    weighted_triangles,
)
from gdal_spark.geometry.clip import clip_polygon_convex, shoelace_area
from gdal_spark.geometry.pip import points_in_polygon
from gdal_spark.geometry.wkt import parse_wkt
from gdal_spark.zones import FANCY_ZONES


def P(wkt):
    t, p = parse_wkt(wkt)
    return p if t == "MULTIPOLYGON" else [p]


SQ = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
C_SHAPE = "POLYGON ((0 0, 10 0, 10 2, 4 2, 4 8, 10 8, 10 10, 0 10, 0 0))"
DONUT = "POLYGON ((0 0, 20 0, 20 20, 0 20, 0 0), (8 8, 12 8, 12 12, 8 12, 8 8))"
L_HOLE = "POLYGON ((0 0, 10 0, 10 4, 4 4, 4 10, 0 10, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"


class TestPairArea:
    def test_rect_rect(self):
        a = P(SQ)
        b = P("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
        assert polys_pair_intersection_area(a, b) == pytest.approx(25.0)

    def test_concave_clip(self):
        # C ∩ right half-strip: 5x10 minus the 5x6 notch overlap
        clip = P("POLYGON ((5 -5, 15 -5, 15 15, 5 15, 5 -5))")
        assert polys_pair_intersection_area(P(C_SHAPE), clip) == pytest.approx(20.0)

    def test_hole_subtracts(self):
        q = P("POLYGON ((5 5, 15 5, 15 15, 5 15, 5 5))")
        assert polys_pair_intersection_area(P(DONUT), q) == pytest.approx(84.0)

    def test_multipolygon_parts(self):
        mp = P(
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
            " ((10 0, 12 0, 12 2, 10 2, 10 0)))"
        )
        big = P("POLYGON ((-5 -5, 50 -5, 50 50, -5 50, -5 -5))")
        assert polys_pair_intersection_area(mp, big) == pytest.approx(8.0)

    def test_orientation_invariant(self):
        a_ccw = P(SQ)
        a_cw = [[a_ccw[0][0][::-1]]]
        b = P(C_SHAPE)
        assert polys_pair_intersection_area(a_ccw, b) == pytest.approx(
            polys_pair_intersection_area(a_cw, b)
        )

    def test_disjoint_and_contained(self):
        far = P("POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))")
        assert polys_pair_intersection_area(P(SQ), far) == 0.0
        inner = P("POLYGON ((2 2, 3 2, 3 3, 2 3, 2 2))")
        assert polys_pair_intersection_area(P(SQ), inner) == pytest.approx(1.0)

    def test_concave_vs_concave_matches_grid(self):
        star = P("POLYGON ((0 0, 4 1, 8 0, 7 4, 8 8, 4 7, 0 8, 1 4, 0 0))")
        tri = P("POLYGON ((2 -1, 9 3, 2 9, 2 -1))")
        exact = polys_pair_intersection_area(star, tri)
        n = 800
        xs = np.linspace(-1, 9, n)
        gx, gy = np.meshgrid(xs, xs)
        hit = points_in_polygon(gx.ravel(), gy.ravel(), star[0]) & points_in_polygon(
            gx.ravel(), gy.ravel(), tri[0]
        )
        est = hit.sum() * (10 / n) ** 2
        assert exact == pytest.approx(est, abs=0.15)

    def test_convex_agrees_with_sutherland_hodgman(self):
        rng = np.random.default_rng(3)
        for _ in range(20):
            # random convex polygons via hull-of-points on a circle
            def convex():
                th = np.sort(rng.uniform(0, 2 * np.pi, 6))
                r = rng.uniform(2, 5)
                c = rng.uniform(-2, 2, 2)
                pts = np.c_[c[0] + r * np.cos(th), c[1] + r * np.sin(th)]
                return np.vstack([pts, pts[:1]])

            a, b = convex(), convex()
            piece = clip_polygon_convex(a, b)
            want = abs(shoelace_area(piece)) if piece.size else 0.0
            got = polys_pair_intersection_area([[a]], [[b]])
            assert got == pytest.approx(want, abs=1e-9)


class TestRectPath:
    def test_matches_pairwise(self):
        tris, w = weighted_triangles(P(DONUT))
        rects = np.array(
            [[1, 1, 6, 6], [3, 3, 9, 9], [-2, -2, 0.5, 0.5], [4, 4, 4.5, 4.5],
             [7, 7, 13, 13], [-100, -100, -99, -99]]
        )
        got = rects_polys_intersection_area(rects, tris, w)
        for k, (x0, y0, x1, y1) in enumerate(rects):
            ring = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])
            want = polys_pair_intersection_area([[ring]], P(DONUT))
            assert got[k] == pytest.approx(want, abs=1e-9), k

    def test_hole_overlap_subtracts(self):
        tris, w = weighted_triangles(P(DONUT))
        rect = np.array([[9, 9, 11, 11]])  # entirely inside the hole
        assert rects_polys_intersection_area(rect, tris, w)[0] == pytest.approx(0.0)


class TestRectilinear:
    def test_detect(self):
        assert is_rectilinear(P(L_HOLE))
        assert not is_rectilinear(P("POLYGON ((0 0, 4 1, 2 5, 0 0))"))

    def test_decompose_exact_disjoint(self):
        rr = rectilinear_rects(P(L_HOLE))
        area = ((rr[:, 2] - rr[:, 0]) * (rr[:, 3] - rr[:, 1])).sum()
        assert area == pytest.approx(polys_area(P(L_HOLE)))
        for i in range(len(rr)):
            for j in range(i + 1, len(rr)):
                ox = min(rr[i, 2], rr[j, 2]) - max(rr[i, 0], rr[j, 0])
                oy = min(rr[i, 3], rr[j, 3]) - max(rr[i, 1], rr[j, 1])
                assert ox <= 0 or oy <= 0, (i, j)

    def test_decompose_multipart(self):
        mp = P(
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)),"
            " ((5 5, 6 5, 6 9, 5 9, 5 5)))"
        )
        rr = rectilinear_rects(mp)
        area = ((rr[:, 2] - rr[:, 0]) * (rr[:, 3] - rr[:, 1])).sum()
        assert area == pytest.approx(8.0)


class TestBboxPrefilterBitParity:
    """The T x N bbox prefilter in rects_polys_intersection_area must be
    invisible: skipped pairs are exact zeros in the same summation
    slots, so the filtered result is BIT-identical to running the
    padded S-H on every pair (the pre-prefilter job layout)."""

    def _unfiltered(self, rects, tris, weights):
        from gdal_spark.geometry.boolean import clip_convex_areas

        N, T = len(rects), len(tris)
        subj = np.repeat(tris, N, axis=0)
        r = np.tile(rects, (T, 1))
        x0, y0, x1, y1 = r[:, 0], r[:, 1], r[:, 2], r[:, 3]
        edges = [
            (x0, y0, x1, y0),
            (x1, y0, x1, y1),
            (x1, y1, x0, y1),
            (x0, y1, x0, y0),
        ]
        areas = clip_convex_areas(subj, edges)
        weighted = areas * np.repeat(weights, N)
        return weighted.reshape(T, N).sum(axis=0)

    def test_random_soups_bit_identical(self):
        from gdal_spark.geometry.boolean import (
            rects_polys_intersection_area,
            weighted_triangles,
        )

        rng = np.random.default_rng(42)
        for _ in range(25):
            # ragged random star polygon -> triangle soup with signs
            k = rng.integers(5, 12)
            ang = np.sort(rng.uniform(0, 2 * np.pi, k))
            rad = rng.uniform(0.5, 4.0, k)
            ring = np.c_[rad * np.cos(ang), rad * np.sin(ang)]
            ring = np.vstack([ring, ring[:1]])
            tris, w = weighted_triangles([[ring]])
            n = int(rng.integers(1, 40))
            cx = rng.uniform(-5, 5, n)
            cy = rng.uniform(-5, 5, n)
            hw = rng.uniform(0.05, 2.0, n)
            hh = rng.uniform(0.05, 2.0, n)
            rects = np.c_[cx - hw, cy - hh, cx + hw, cy + hh]
            got = rects_polys_intersection_area(rects, tris, w)
            exp = self._unfiltered(rects, tris, w)
            np.testing.assert_array_equal(got, exp)


def _clip_loop(rects, gidx, geoms):
    """Reference: one rects_polys_intersection_area call per geometry."""
    out = np.zeros(len(rects))
    for g, polys in enumerate(geoms):
        m = gidx == g
        if m.any():
            tris, w = weighted_triangles(polys)
            out[m] = rects_polys_intersection_area(rects[m], tris, w)
    return out


class TestGroupedClip:
    """The batch-grouped clip (rects_geoms_intersection_area) must agree
    bit for bit with the per-geometry loop it replaces."""

    FANCY = [P(w) for _, w in FANCY_ZONES] + [P(C_SHAPE), P(L_HOLE)]

    def _check(self, rects, gidx, geoms):
        rects = np.asarray(rects, dtype=np.float64).reshape(-1, 4)
        gidx = np.asarray(gidx, dtype=np.int64)
        table = triangle_table([weighted_triangles(p) for p in geoms])
        got = rects_geoms_intersection_area(rects, gidx, table)
        np.testing.assert_array_equal(got, _clip_loop(rects, gidx, geoms))
        return got

    def _rects(self, rng, n, lo=(-45, -25), hi=(80, 25)):
        x0 = rng.uniform(lo[0], hi[0], n)
        y0 = rng.uniform(lo[1], hi[1], n)
        return np.c_[x0, y0, x0 + rng.uniform(0.1, 12, n),
                     y0 + rng.uniform(0.1, 12, n)]

    def test_fancy_zones_random(self):
        rng = np.random.default_rng(17)
        n = 5000
        got = self._check(
            self._rects(rng, n), rng.integers(0, len(self.FANCY), n), self.FANCY
        )
        assert (got > 0).sum() > 100

    def test_edges_and_vertices_snapped(self):
        # rect corners on a unit lattice: touch zone edges and vertices
        rng = np.random.default_rng(19)
        n = 3000
        r = np.round(self._rects(rng, n))
        r[:, 2:] = np.maximum(r[:, 2:], r[:, :2] + 1)
        self._check(r, rng.integers(0, len(self.FANCY), n), self.FANCY)

    def test_degenerate_soup(self):
        # a zone with no triangles (collinear ring) clips to exactly 0
        flat = [[np.array([[0.0, 0], [1, 0], [2, 0], [0, 0]])]]
        got = self._check(
            [[-1, -1, 3, 3], [0, 0, 10, 10]], [0, 1], [flat, P(SQ)]
        )
        assert got.tolist() == [0.0, 100.0]

    def test_empty_batch(self):
        got = self._check(np.empty((0, 4)), [], self.FANCY)
        assert got.shape == (0,)

    def test_single_repeated_geometry(self):
        rng = np.random.default_rng(23)
        r = self._rects(rng, 2000, lo=(-2, -2), hi=(20, 20))
        self._check(r, np.zeros(2000, dtype=np.int64), [P(DONUT)])

    def test_chunked_batch(self, monkeypatch):
        from gdal_spark.geometry import boolean

        monkeypatch.setattr(boolean, "CLIP_CHUNK_PAIRS", 16)
        rng = np.random.default_rng(29)
        n = 2000
        gidx = np.sort(rng.integers(0, len(self.FANCY), n))
        self._check(self._rects(rng, n), gidx, self.FANCY)

    def test_wkb_bytearray_zones(self):
        # the overlay clip path: WKB keys factorized as bytes, zones
        # classified once, general zones through the grouped kernel
        import pandas as pd

        from gdal_spark.geometry.wkb import wkt_payload_to_wkb
        from gdal_spark.operators.overlay import _classify_zone, zone_clip_areas
        from gdal_spark.operators.pip_join import factorize_geometry

        wkts = [w for _, w in FANCY_ZONES] + [C_SHAPE, L_HOLE]
        blobs = [wkt_payload_to_wkb(*parse_wkt(w)) for w in wkts]
        rng = np.random.default_rng(31)
        n = 3000
        gidx = rng.integers(0, len(blobs), n)
        rects = self._rects(rng, n)
        codes, uniq = factorize_geometry(
            pd.Series([bytearray(blobs[g]) for g in gidx]), "wkb"
        )
        infos = [_classify_zone(k, "wkb") for k in uniq]
        got, rect_rows = zone_clip_areas(rects, codes, infos)
        # the adjacent squares (single-ring rectangles) take the min/max
        # path, every other zone the grouped triangle kernel
        assert rect_rows.any() and not rect_rows.all()
        want = np.zeros(n)
        gen = ~rect_rows
        want[gen] = _clip_loop(rects[gen], gidx[gen], [P(w) for w in wkts])
        np.testing.assert_array_equal(got[gen], want[gen])
        ref_rect = _clip_loop(rects, gidx, [P(w) for w in wkts])
        np.testing.assert_allclose(got[rect_rows], ref_rect[rect_rows], atol=1e-9)
