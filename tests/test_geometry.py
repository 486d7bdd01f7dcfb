"""Unit tests for the pure-numpy geometry kernels.

Fixtures mirror the reference's own tiny test inputs
(autotest/ogr/ogr_layer_algebra.py:56-102 polygons, ogr_geom.py edge
cases, gdal2tiles.py tile-math doc constants).
"""

import math

import numpy as np
import pytest

from gdal_spark.geometry import mercator
from gdal_spark.geometry.checksum import checksum_image
from gdal_spark.geometry.clip import (
    clip_polygon_convex,
    rect_intersection,
    shoelace_area,
)
from gdal_spark.geometry.envelope import envelopes_intersect, wkt_envelope
from gdal_spark.geometry.pip import (
    points_in_geometries,
    points_in_polygon,
    points_in_polygon_wkt,
    points_in_ring,
)
from gdal_spark.geometry.wkt import parse_wkt, point_wkt, polygon_wkt
from gdal_spark.zones import FANCY_ZONES

A1 = "POLYGON((1 2, 1 3, 3 3, 3 2, 1 2))"  # ogr_layer_algebra.py:61
A2 = "POLYGON((5 2, 5 3, 7 3, 7 2, 5 2))"  # ogr_layer_algebra.py:67
B1 = "POLYGON((2 1, 2 4, 6 4, 6 1, 2 1))"  # ogr_layer_algebra.py:83


class TestWkt:
    def test_point_roundtrip(self):
        typ, payload = parse_wkt("POINT (3 3)")
        assert typ == "POINT"
        assert payload[0].tolist() == [[3.0, 3.0]]
        assert point_wkt(3.0, 3.0) == "POINT (3 3)"

    def test_polygon(self):
        typ, rings = parse_wkt(A1)
        assert typ == "POLYGON"
        assert len(rings) == 1
        assert rings[0].shape == (5, 2)
        assert rings[0][0].tolist() == [1.0, 2.0]

    def test_polygon_with_hole(self):
        wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
        typ, rings = parse_wkt(wkt)
        assert typ == "POLYGON"
        assert len(rings) == 2
        rt = polygon_wkt(rings)
        assert parse_wkt(rt)[1][1].tolist() == rings[1].tolist()

    def test_multipolygon(self):
        wkt = "MULTIPOLYGON (((1 2, 1 3, 3 3, 3 2, 1 2)), ((5 2, 5 3, 7 3, 7 2, 5 2)))"
        typ, polys = parse_wkt(wkt)
        assert typ == "MULTIPOLYGON"
        assert len(polys) == 2
        assert polys[1][0][0].tolist() == [5.0, 2.0]


class TestEnvelope:
    def test_polygon_envelope(self):
        assert wkt_envelope(A1) == (1.0, 2.0, 3.0, 3.0)

    def test_intersect(self):
        assert envelopes_intersect(wkt_envelope(A1), wkt_envelope(B1))
        assert not envelopes_intersect(wkt_envelope(A1), wkt_envelope(A2))
        # touching envelopes intersect (inclusive compare, ogrgeometry.cpp:586)
        assert envelopes_intersect((0, 0, 1, 1), (1, 1, 2, 2))


class TestPip:
    def test_simple_square(self):
        ring = parse_wkt(B1)[1][0]
        xs = np.array([3.0, 0.0, 6.5, 3.0])
        ys = np.array([3.0, 0.0, 3.0, 10.0])
        assert points_in_ring(xs, ys, ring).tolist() == [True, False, False, False]

    def test_point_in_hole_outside(self):
        wkt = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
        xs = np.array([5.0, 2.0, 11.0])
        ys = np.array([5.0, 2.0, 5.0])
        assert points_in_polygon_wkt(xs, ys, wkt).tolist() == [False, True, False]

    def test_concave(self):
        # C-shape: point in the notch is outside
        wkt = "POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10, 0 0))"
        xs = np.array([5.0, 1.0])
        ys = np.array([5.0, 5.0])
        assert points_in_polygon_wkt(xs, ys, wkt).tolist() == [False, True]

    def test_multipolygon_union(self):
        wkt = "MULTIPOLYGON (((1 2, 1 3, 3 3, 3 2, 1 2)), ((5 2, 5 3, 7 3, 7 2, 5 2)))"
        xs = np.array([2.0, 6.0, 4.0])
        ys = np.array([2.5, 2.5, 2.5])
        assert points_in_polygon_wkt(xs, ys, wkt).tolist() == [True, True, False]

    def test_many_points_vectorized(self):
        ring = parse_wkt(B1)[1][0]
        rng = np.random.default_rng(42)
        xs = rng.uniform(0, 8, 10_000)
        ys = rng.uniform(0, 5, 10_000)
        got = points_in_ring(xs, ys, ring)
        expect = (xs > 2) & (xs < 6) & (ys > 1) & (ys < 4)
        # boundary-free random floats: exact agreement with open-box test
        assert (got == expect).all()



def _payload(wkt):
    typ, payload = parse_wkt(wkt)
    return payload if typ == "MULTIPOLYGON" else [payload]


def _pip_loop(xs, ys, gidx, geoms):
    """Reference: one points_in_polygon call per geometry and part."""
    out = np.zeros(len(xs), dtype=bool)
    for g, polys in enumerate(geoms):
        m = gidx == g
        for rings in polys:
            out[m] |= points_in_polygon(xs[m], ys[m], rings)
    return out


class TestGroupedPip:
    """The batch-grouped kernel (points_in_geometries) must agree bit for
    bit with the per-geometry points_in_polygon loop it replaces."""

    FANCY = [_payload(w) for _, w in FANCY_ZONES]

    def _check(self, xs, ys, gidx, geoms):
        xs = np.asarray(xs, dtype=np.float64)
        ys = np.asarray(ys, dtype=np.float64)
        gidx = np.asarray(gidx, dtype=np.int64)
        got = points_in_geometries(xs, ys, gidx, geoms)
        assert got.dtype == bool
        np.testing.assert_array_equal(got, _pip_loop(xs, ys, gidx, geoms))
        return got

    def test_fancy_zones_random(self):
        rng = np.random.default_rng(7)
        n = 20_000
        # half-integer lattice: lands on vertices and edges, plus noise
        xs = np.round(rng.uniform(-45, 80, n) * 2) / 2
        ys = np.round(rng.uniform(-25, 25, n) * 2) / 2
        xs[::3] += rng.normal(0, 1e-3, xs[::3].size)
        gidx = rng.integers(0, len(self.FANCY), n)
        assert self._check(xs, ys, gidx, self.FANCY).any()

    def test_vertices_and_edges(self):
        # every vertex and every edge midpoint of every fancy zone, each
        # tested against every zone: horizontal and vertical edges,
        # shared edges of the adjacent squares, hole boundaries
        pts = []
        for polys in self.FANCY:
            for rings in polys:
                for r in rings:
                    pts.append(r)
                    pts.append((r[1:] + r[:-1]) / 2)
        pts = np.concatenate(pts)
        k = len(self.FANCY)
        xs = np.repeat(pts[:, 0], k)
        ys = np.repeat(pts[:, 1], k)
        gidx = np.tile(np.arange(k), len(pts))
        self._check(xs, ys, gidx, self.FANCY)

    def test_known_answers(self):
        donut, cshape, sq_a, sq_b, multi = self.FANCY
        got = self._check(
            [10, 10, 40, 31, -30, -30, 61, 71, 66],
            [2, 10, 10, 10, -15, -15, 1, 1, 1],
            [0, 0, 1, 1, 2, 3, 4, 4, 4],
            self.FANCY,
        )
        # shared edge x=-30 belongs to the right square only (half-open)
        assert got.tolist() == [True, False, False, True, False, True,
                                True, True, False]

    def test_degenerate_rings(self):
        # rings with < 4 vertices never contain anything (early return)
        two = np.array([[0.0, 0.0], [5.0, 5.0]])
        tri_open = np.array([[0.0, 0.0], [5.0, 0.0], [0.0, 0.0]])
        square = _payload("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")[0][0]
        geoms = [[[two]], [[square, tri_open]], [[tri_open]], []]
        xs = np.array([1.0, 1.0, 1.0, 1.0, 2.0])
        ys = np.array([1.0, 1.0, 0.0, 1.0, 2.0])
        got = self._check(xs, ys, [0, 1, 2, 3, 1], geoms)
        assert got.tolist() == [False, True, False, False, True]

    def test_empty_batch(self):
        got = self._check([], [], [], self.FANCY)
        assert got.shape == (0,)
        assert points_in_geometries([], [], [], []).shape == (0,)

    def test_single_repeated_geometry(self):
        rng = np.random.default_rng(3)
        xs = rng.uniform(-2, 22, 5000)
        ys = rng.uniform(-2, 22, 5000)
        self._check(xs, ys, np.zeros(5000, dtype=np.int64), self.FANCY[:1])

    def test_chunked_batch(self, monkeypatch):
        # force many chunks, including a chunk boundary inside a run of
        # rows of one geometry
        from gdal_spark.geometry import pip

        monkeypatch.setattr(pip, "PIP_CHUNK_EDGES", 64)
        rng = np.random.default_rng(5)
        n = 3000
        xs = rng.uniform(-45, 80, n)
        ys = rng.uniform(-25, 25, n)
        gidx = np.sort(rng.integers(0, len(self.FANCY), n))
        self._check(xs, ys, gidx, self.FANCY)
        table = pip.stack_ring_tables([pip.ring_table(g) for g in self.FANCY])
        assert len(pip.chunk_bounds(table.geom_nedge[gidx], 64)) > 100

    def test_wkb_bytearray_keys(self):
        import pandas as pd

        from gdal_spark.geometry.wkb import wkt_payload_to_wkb
        from gdal_spark.operators.pip_join import (
            _ring_table_cached,
            factorize_geometry,
            grouped_pip,
        )

        blobs = []
        for _, w in FANCY_ZONES:
            typ, payload = parse_wkt(w)
            blobs.append(wkt_payload_to_wkb(typ, payload))
        rng = np.random.default_rng(11)
        n = 4000
        gidx = rng.integers(0, len(blobs), n)
        xs = rng.uniform(-45, 80, n)
        ys = rng.uniform(-25, 25, n)
        col = pd.Series([bytearray(blobs[g]) for g in gidx])
        codes, uniq = factorize_geometry(col, "wkb")
        assert len(uniq) == len(set(gidx.tolist()))
        got = grouped_pip(
            xs, ys, codes, uniq, lambda k: _ring_table_cached(k, "wkb")
        )
        np.testing.assert_array_equal(got, _pip_loop(xs, ys, gidx, self.FANCY))

    def test_null_keys_are_outside(self):
        import pandas as pd

        from gdal_spark.operators.pip_join import (
            _ring_table_cached,
            factorize_geometry,
            grouped_pip,
        )

        w = FANCY_ZONES[0][1]
        codes, uniq = factorize_geometry(pd.Series([w, None, w]))
        got = grouped_pip(
            np.array([5.0, 5.0, 10.0]), np.array([5.0, 5.0, 10.0]),
            codes, uniq, _ring_table_cached,
        )
        assert got.tolist() == [True, False, False]

class TestMercator:
    def test_constants_match_reference_docs(self):
        # gdal2tiles.py docstring: initialResolution / originShift values
        assert abs(mercator.ORIGIN_SHIFT - 20037508.342789244) < 1e-6
        assert abs(mercator.INITIAL_RESOLUTION - 156543.03392804062) < 1e-9

    def test_latlon_meters_roundtrip(self):
        mx, my = mercator.lat_lon_to_meters(45.0, 90.0)
        lat, lon = mercator.meters_to_lat_lon(mx, my)
        assert abs(float(lat) - 45.0) < 1e-9
        assert abs(float(lon) - 90.0) < 1e-9

    def test_known_tiles(self):
        # whole world at zoom 0 is tile (0, 0)
        tx, ty = mercator.lat_lon_to_tile(0.001, 0.001, 0)
        assert (int(tx), int(ty)) == (0, 0)
        # zoom 1: NE quadrant is TMS (1, 1)
        tx, ty = mercator.lat_lon_to_tile(40.0, 40.0, 1)
        assert (int(tx), int(ty)) == (1, 1)
        # SW quadrant
        tx, ty = mercator.lat_lon_to_tile(-40.0, -40.0, 1)
        assert (int(tx), int(ty)) == (0, 0)

    def test_tile_bounds_contains_point(self):
        for zoom in (3, 8, 12):
            mx, my = (float(v) for v in mercator.lat_lon_to_meters(37.7, -122.4))
            tx, ty = (int(v) for v in mercator.meters_to_tile(mx, my, zoom))
            minx, miny, maxx, maxy = (
                float(v) for v in mercator.tile_bounds(tx, ty, zoom)
            )
            assert minx <= mx <= maxx
            assert miny <= my <= maxy

    def test_zoom_for_pixel_size(self):
        # resolution(5) < px < resolution(4) -> zoom 4
        px = (mercator.resolution(4) + mercator.resolution(5)) / 2
        assert mercator.zoom_for_pixel_size(px) == 4

    def test_quadkey(self):
        # zoom 3 example from the Bing tile system doc
        assert len(mercator.quadkey(3, 2, 3)) == 3
        assert mercator.quadkey(0, 2**1 - 1, 1) == "0"

    def test_sql_matches_numpy(self):
        """The shared SQL formula text must agree with the numpy port in
        BOTH engines (DuckDB here; Spark covered in integration tests)."""
        import duckdb

        lats = [0.001, 40.123, -59.987, 84.9, -84.9]
        lons = [0.001, -179.999, 179.5, 33.333, -0.5]
        zoom = 9
        sql = (
            "SELECT "
            + mercator.sql_tx("lon", str(zoom))
            + " AS tx, "
            + mercator.sql_ty("lat", str(zoom))
            + " AS ty FROM pts"
        )
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE pts AS SELECT * FROM (VALUES "
            + ",".join(
                f"({mercator.sql_double(lat)}, {mercator.sql_double(lon)})"
                for lat, lon in zip(lats, lons)
            )
            + ") AS t(lat, lon)"
        )
        got = con.execute(sql).fetchall()
        for (gtx, gty), lat, lon in zip(got, lats, lons):
            etx, ety = mercator.lat_lon_to_tile(lat, lon, zoom)
            assert (gtx, gty) == (int(etx), int(ety))


class TestClip:
    def test_rect_rect(self):
        a = parse_wkt(A1)[1][0]
        b = parse_wkt(B1)[1][0]
        out = clip_polygon_convex(a, b)
        # A1 ∩ B1 = rectangle (2,2)-(3,3), area 1
        assert abs(abs(shoelace_area(out)) - 1.0) < 1e-12
        env = (out[:, 0].min(), out[:, 1].min(), out[:, 0].max(), out[:, 1].max())
        assert env == (2.0, 2.0, 3.0, 3.0)

    def test_disjoint_empty(self):
        a = parse_wkt(A2)[1][0]
        b = parse_wkt("POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))")[1][0]
        assert clip_polygon_convex(a, b).size == 0

    def test_shared_edge_lower_dimension_dropped(self):
        # touching squares: intersection is a line -> empty polygon result
        a = parse_wkt("POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))")[1][0]
        b = parse_wkt("POLYGON((1 0, 2 0, 2 1, 1 1, 1 0))")[1][0]
        assert clip_polygon_convex(a, b).size == 0

    def test_concave_subject(self):
        # C-shape clipped by a box covering the notch column
        subj = parse_wkt(
            "POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10, 0 0))"
        )[1][0]
        clip = parse_wkt("POLYGON((4 0, 10 0, 10 10, 4 10, 4 0))")[1][0]
        out = clip_polygon_convex(subj, clip)
        # remaining area: two 6x2 bars = 24
        assert abs(abs(shoelace_area(out)) - 24.0) < 1e-9

    def test_nonconvex_clip_raises(self):
        subj = parse_wkt(A1)[1][0]
        cc = parse_wkt("POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10, 0 0))")[
            1
        ][0]
        with pytest.raises(ValueError):
            clip_polygon_convex(subj, cc)

    def test_rect_intersection(self):
        assert rect_intersection((0, 0, 2, 2), (1, 1, 3, 3)) == (1, 1, 2, 2)
        assert rect_intersection((0, 0, 1, 1), (1, 0, 2, 1)) is None


class TestChecksum:
    def test_deterministic_and_masked(self):
        arr = np.arange(400, dtype=np.uint8).reshape(20, 20)
        c = checksum_image(arr)
        assert 0 <= c <= 0xFFFF
        assert c == checksum_image(arr.copy())

    def test_matches_manual_loop(self):
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 256, size=(13, 17))
        primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
        acc = 0
        i = 0
        for v in arr.ravel():
            acc += int(math.floor(v + 0.5)) % primes[i % 11]
            acc &= 0xFFFF
            i += 1
        assert checksum_image(arr) == acc

    def test_negative_values_c_modulo(self):
        arr = np.array([[-7.0, -13.0, 5.0]])
        # C: -7 % 7 = 0 (floor(+0.5)=floor(-6.5)=-7... careful) — just
        # assert stability vs the scalar reference semantics
        primes = [7, 11, 13]
        acc = 0
        for i, v in enumerate([-7.0, -13.0, 5.0]):
            iv = int(math.floor(v + 0.5))
            r = int(math.fmod(iv, primes[i]))
            acc = (acc + r) & 0xFFFF
        assert checksum_image(arr) == acc


class TestSegmentIntersections:
    """segment_intersections — the Crosses substrate (boolean.py)."""

    def test_proper_crossing_point(self):
        from gdal_spark.geometry.boolean import segment_intersections

        ea = np.array([[[0.0, 0.0], [4.0, 4.0]]])
        eb = np.array([[[0.0, 4.0], [4.0, 0.0]]])
        pts, ai, t, spans = segment_intersections(ea, eb)
        assert not spans
        assert len(pts) == 1
        np.testing.assert_allclose(pts[0], [2.0, 2.0])
        assert ai[0] == 0 and abs(t[0] - 0.5) < 1e-12

    def test_collinear_overlap_is_span_not_point(self):
        from gdal_spark.geometry.boolean import segment_intersections

        ea = np.array([[[0.0, 0.0], [4.0, 0.0]]])
        eb = np.array([[[2.0, 0.0], [6.0, 0.0]]])
        pts, _, _, spans = segment_intersections(ea, eb)
        assert len(pts) == 0
        assert spans == [(0, 0.5, 1.0)]

    def test_collinear_endpoint_touch_is_point(self):
        from gdal_spark.geometry.boolean import segment_intersections

        ea = np.array([[[0.0, 0.0], [4.0, 0.0]]])
        eb = np.array([[[4.0, 0.0], [8.0, 0.0]]])
        pts, _, t, spans = segment_intersections(ea, eb)
        assert not spans
        assert len(pts) == 1 and abs(t[0] - 1.0) < 1e-12

    def test_disjoint_collinear_far_segment_ignored(self):
        from gdal_spark.geometry.boolean import segment_intersections

        ea = np.array([[[0.0, 0.0], [1.0, 0.0]]])
        eb = np.array([[[5.0, 0.0], [9.0, 0.0]]])
        pts, _, _, spans = segment_intersections(ea, eb)
        assert len(pts) == 0 and not spans


class TestCrossesKernel:
    """_crosses vs hand-derived DE-9IM answers (see registry fixture —
    this duplicates the tricky cases at kernel level)."""

    SQ = "POLYGON ((0 0,4 0,4 4,0 4,0 0))"

    def test_matrix(self):
        from gdal_spark.functions import _crosses

        assert _crosses("LINESTRING (0 0,4 4)", "LINESTRING (0 4,4 0)")
        assert not _crosses("LINESTRING (0 0,4 4)", "LINESTRING (4 4,8 0)")
        assert not _crosses("LINESTRING (0 0,4 0)", "LINESTRING (2 0,6 0)")
        assert _crosses("LINESTRING (-1 2,5 2)", self.SQ)
        assert _crosses(self.SQ, "LINESTRING (-1 2,5 2)")  # symmetric
        assert not _crosses("LINESTRING (1 1,3 3)", self.SQ)  # inside only
        assert not _crosses("LINESTRING (0 0,4 0)", self.SQ)  # along edge
        # crossing at an interior VERTEX of one line is still interior
        assert _crosses("LINESTRING (0 0,2 2,4 0)", "LINESTRING (2 0,2 4)")
        assert not _crosses(self.SQ, "POLYGON ((2 2,6 2,6 6,2 6,2 2))")
        assert _crosses("LINESTRING (2 2,6 2)", self.SQ)  # endpoint inside
        assert not _crosses("POINT (2 2)", self.SQ)

    def test_donut_hole_line(self):
        from gdal_spark.functions import _crosses

        donut = (
            "POLYGON ((0 0,20 0,20 20,0 20,0 0),"
            "(8 8,12 8,12 12,8 12,8 8))"
        )
        # chord crossing the hole: interior parts on both rims + the
        # hole (exterior) between them
        assert _crosses("LINESTRING (4 10,16 10)", donut)
        # segment fully inside the hole = fully exterior
        assert not _crosses("LINESTRING (9 10,11 10)", donut)


class TestWkbLinestringCodec:
    def test_roundtrip_and_hex(self):
        from gdal_spark.geometry.wkb import wkb_to_payload, wkt_payload_to_wkb
        from gdal_spark.geometry.wkt import parse_wkt, payload_to_wkt

        w = "LINESTRING (0 0,1 1)"
        buf = wkt_payload_to_wkb(*parse_wkt(w))
        assert buf.hex().upper() == (
            "01020000000200000000000000000000000000000000000000"
            "000000000000F03F000000000000F03F"
        )
        assert payload_to_wkt(*wkb_to_payload(buf)) == w


class TestRectBoolOp:
    """Compressed-grid boolean ops emitting geometry (rectbool.py)."""

    def _wkt(self, a, b, op):
        from gdal_spark.functions import _setop_wkt

        return _setop_wkt(a, b, op)

    def test_corner_touch_xor_is_two_parts(self):
        a = "POLYGON ((0 0,2 0,2 2,0 2,0 0))"
        b = "POLYGON ((2 2,4 2,4 4,2 4,2 2))"
        assert self._wkt(a, b, "symdifference") == (
            "MULTIPOLYGON (((0 0,2 0,2 2,0 2,0 0)),((2 2,4 2,4 4,2 4,2 2)))"
        )
        assert self._wkt(a, b, "intersection") == "POLYGON EMPTY"

    def test_hole_input_respected(self):
        donut = "POLYGON ((0 0,10 0,10 10,0 10,0 0),(3 3,3 7,7 7,7 3,3 3))"
        probe = "POLYGON ((4 4,6 4,6 6,4 6,4 4))"  # inside the hole
        assert self._wkt(donut, probe, "intersection") == "POLYGON EMPTY"

    def test_union_with_island_in_hole(self):
        donut = "POLYGON ((0 0,10 0,10 10,0 10,0 0),(3 3,3 7,7 7,7 3,3 3))"
        probe = "POLYGON ((4 4,6 4,6 6,4 6,4 4))"
        assert self._wkt(donut, probe, "union") == (
            "MULTIPOLYGON (((0 0,10 0,10 10,0 10,0 0),"
            "(3 3,3 7,7 7,7 3,3 3)),((4 4,6 4,6 6,4 6,4 4)))"
        )

    def test_difference_splitting_into_two(self):
        a = "POLYGON ((0 0,6 0,6 2,0 2,0 0))"
        b = "POLYGON ((2 -1,4 -1,4 3,2 3,2 -1))"  # vertical cut through
        assert self._wkt(a, b, "difference") == (
            "MULTIPOLYGON (((0 0,2 0,2 2,0 2,0 0)),((4 0,6 0,6 2,4 2,4 0)))"
        )


class TestKnownCityTiles:
    """Publicly known z10 Google XYZ tile coordinates — independent
    known-answer checks of the whole lat/lon -> tile chain."""

    CASES = [
        ("SF", 37.7749, -122.4194, 163, 395),
        ("Paris", 48.8566, 2.3522, 518, 352),
        ("Sydney", -33.8688, 151.2093, 942, 614),
    ]

    def test_google_xyz_z10(self):
        from gdal_spark.geometry import mercator

        for name, lat, lon, gx, gy in self.CASES:
            tx, ty = mercator.lat_lon_to_tile(lat, lon, 10)
            assert (tx, mercator.google_ty(ty, 10)) == (gx, gy), name

    def test_bing_quadkey_sf(self):
        from gdal_spark.geometry import mercator

        tx, ty = mercator.lat_lon_to_tile(37.7749, -122.4194, 10)
        assert mercator.quadkey(tx, ty, 10) == "0230102033"
