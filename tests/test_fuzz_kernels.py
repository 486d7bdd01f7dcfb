"""Property-based fuzz over the foundational pure kernels (hypothesis):
codec roundtrips, projection inverses, style grammar, boolean-op area
monotonicity.  No Spark session — these run in ~seconds and guard the
kernels every operator builds on."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gdal_spark.geometry import epsg, tmerc
from gdal_spark.geometry.polybool import general_bool_op
from gdal_spark.geometry.wkb import wkb_envelope, wkb_to_payload, wkt_payload_to_wkb
from gdal_spark.geometry.wkt import parse_wkt, payload_to_wkt

_coord = st.floats(
    min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
)


@st.composite
def _rings(draw):
    """A syntactically valid (possibly self-intersecting) closed ring."""
    n = draw(st.integers(min_value=3, max_value=8))
    pts = [
        (draw(_coord), draw(_coord))
        for _ in range(n)
    ]
    pts.append(pts[0])
    return np.array(pts, dtype=np.float64)


class TestCodecRoundtrips:
    @settings(max_examples=200, deadline=None)
    @given(st.lists(_rings(), min_size=1, max_size=3))
    def test_wkb_roundtrip_polygon_exact(self, rings):
        buf = wkt_payload_to_wkb("POLYGON", rings)
        typ, payload = wkb_to_payload(buf)
        assert typ == "POLYGON" and len(payload) == len(rings)
        for a, b in zip(rings, payload):
            assert (a == b).all()  # float64 bytes roundtrip is EXACT

    @settings(max_examples=200, deadline=None)
    @given(_rings())
    def test_wkb_envelope_matches_numpy(self, ring):
        buf = wkt_payload_to_wkb("POLYGON", [ring])
        xmin, ymin, xmax, ymax = wkb_envelope(buf)
        assert xmin == ring[:, 0].min() and xmax == ring[:, 0].max()
        assert ymin == ring[:, 1].min() and ymax == ring[:, 1].max()

    @settings(max_examples=100, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(-999999, 999999), st.integers(-999999, 999999)
            ),
            min_size=3,
            max_size=6,
        )
    )
    def test_wkt_roundtrip_integer_polygons(self, pts):
        pts = pts + [pts[0]]
        ring = np.array(pts, dtype=np.float64)
        w = payload_to_wkt("POLYGON", [ring])
        typ, payload = parse_wkt(w)
        assert typ == "POLYGON"
        assert (payload[0] == ring).all()


class TestProjectionRoundtrips:
    @settings(max_examples=150, deadline=None)
    @given(
        st.floats(min_value=-80.0, max_value=80.0),
        st.floats(min_value=0.2, max_value=5.8),
    )
    def test_utm31_roundtrip(self, lat, lon):
        e, n = epsg.transform([lon], [lat], 4326, 32631)
        lon2, lat2 = epsg.transform(e, n, 32631, 4326)
        assert abs(lat2[0] - lat) < 1e-9
        assert abs(lon2[0] - lon) < 1e-9

    @settings(max_examples=100, deadline=None)
    @given(
        st.floats(min_value=-84.0, max_value=84.0),
        st.floats(min_value=-179.0, max_value=179.0),
    )
    def test_webmerc_roundtrip(self, lat, lon):
        x, y = epsg.transform([lon], [lat], 4326, 3857)
        lon2, lat2 = epsg.transform(x, y, 3857, 4326)
        assert abs(lat2[0] - lat) < 1e-9
        assert abs(lon2[0] - lon) < 1e-9

    @settings(max_examples=100, deadline=None)
    @given(
        st.floats(min_value=49.5, max_value=60.0),
        st.floats(min_value=-7.0, max_value=1.5),
    )
    def test_osgb_grid_roundtrip_on_airy(self, lat, lon):
        # pure projection roundtrip on the source datum (no Helmert)
        e, n = tmerc.tm_forward(lat, lon, epsg.OSGB_GRID)
        la, lo = tmerc.tm_inverse(e, n, epsg.OSGB_GRID)
        assert abs(la - lat) < 1e-10 and abs(lo - lon) < 1e-10


class TestStyleGrammarFuzz:
    @settings(max_examples=100, deadline=None)
    @given(
        st.text(
            alphabet="abcdefghij ,.#0123456789", min_size=0, max_size=20
        ),
        st.integers(0, 99),
        st.sampled_from(["", "px", "pt", "mm", "cm", "in", "g"]),
    )
    def test_param_extraction(self, label, width, unit):
        import duckdb

        from gdal_spark.functions.style import (
            sql_style_param,
            sql_style_param_meters,
        )

        label = label.replace('"', "")
        style = f'PEN(w:{width}{unit});LABEL(t:"{label}")'
        con = duckdb.connect()

        def ev(expr):
            return con.execute(
                f"SELECT {expr} FROM (SELECT ? AS style) t", [style]
            ).fetchone()[0]

        assert ev(sql_style_param("style", "LABEL", "t")) == label
        got = ev(sql_style_param_meters("style", "PEN", "w", scale="2.0e0"))
        div = {
            "": 1000.0,
            "px": 72.0 * 39.37,
            "pt": 72.0 * 39.37,
            "mm": 1000.0,
            "cm": 100.0,
            "in": 39.37,
            "g": 2.0,
        }[unit]
        assert got == pytest.approx(width / div, rel=1e-12)


class TestBooleanAreaMonotonicity:
    @pytest.mark.parametrize("seed", list(range(10)))
    def test_lattice_bounds(self, seed):
        rng = np.random.default_rng(300 + seed)

        def star(cx, cy, n):
            # jittered EVEN angular spacing: every gap < pi, so the
            # star-shaped polygon is guaranteed simple (a >pi gap makes
            # the chord cross other edges — fuzz found that case)
            ang = 2 * np.pi * (np.arange(n) + rng.uniform(0.1, 0.9, n)) / n
            rad = rng.uniform(0.5, 2.5, n)
            pts = np.column_stack(
                [cx + rad * np.cos(ang), cy + rad * np.sin(ang)]
            )
            return [[np.vstack([pts, pts[:1]])]]

        def area(groups):
            t = 0.0
            for rings in groups:
                for r in rings:
                    v = np.asarray(r)
                    t += 0.5 * float(
                        np.sum(v[:-1, 0] * v[1:, 1] - v[1:, 0] * v[:-1, 1])
                    )
            return t

        pa = star(0.0, 0.0, 8)
        pb = star(rng.uniform(-1, 1), rng.uniform(-1, 1), 8)
        a = area(pa)
        b = area(pb)
        i = area(general_bool_op(pa, pb, "intersection"))
        u = area(general_bool_op(pa, pb, "union"))
        eps = 1e-5
        assert -eps <= i <= min(a, b) + eps
        assert max(a, b) - eps <= u <= a + b + eps
        assert u + i == pytest.approx(a + b, abs=1e-4)  # inclusion-exclusion


# ---------------------------------------------------------------- collections
@st.composite
def _geom(draw, depth: int = 0):
    """Random (type, payload) over the full simple-features set;
    GEOMETRYCOLLECTION recurses one level."""
    kinds = [
        "POINT", "LINESTRING", "MULTIPOINT", "MULTILINESTRING",
        "POLYGON", "MULTIPOLYGON",
    ]
    if depth == 0:
        kinds.append("GEOMETRYCOLLECTION")
    typ = draw(st.sampled_from(kinds))
    def pts(lo=1, hi=6):
        n = draw(st.integers(min_value=lo, max_value=hi))
        return np.array(
            [(draw(_coord), draw(_coord)) for _ in range(n)], dtype=np.float64
        )
    if typ == "POINT":
        return typ, [pts(1, 1)]
    if typ in ("LINESTRING",):
        return typ, [pts(2, 6)]
    if typ == "MULTIPOINT":
        return typ, [pts(1, 5)]
    if typ == "MULTILINESTRING":
        k = draw(st.integers(min_value=1, max_value=3))
        return typ, [pts(2, 5) for _ in range(k)]
    if typ == "POLYGON":
        return typ, [draw(_rings()) for _ in range(draw(st.integers(1, 2)))]
    if typ == "MULTIPOLYGON":
        k = draw(st.integers(min_value=1, max_value=2))
        return typ, [[draw(_rings())] for _ in range(k)]
    k = draw(st.integers(min_value=1, max_value=3))
    return typ, [draw(_geom(depth=1)) for _ in range(k)]


class TestCollectionCodecs:
    @settings(max_examples=200, deadline=None)
    @given(_geom())
    def test_wkt_canonical_fixpoint(self, g):
        typ, payload = g
        w = payload_to_wkt(typ, payload)
        assert payload_to_wkt(*parse_wkt(w)) == w

    @settings(max_examples=200, deadline=None)
    @given(_geom())
    def test_wkb_roundtrip_matches_wkt(self, g):
        typ, payload = g
        w = payload_to_wkt(typ, payload)
        assert payload_to_wkt(*wkb_to_payload(wkt_payload_to_wkb(typ, payload))) == w

    @settings(max_examples=200, deadline=None)
    @given(_geom())
    def test_swapxy_is_an_involution(self, g):
        from gdal_spark.functions.collections import _swap_xy

        typ, payload = g
        w = payload_to_wkt(typ, payload)
        assert _swap_xy(_swap_xy(w)) == w

    @settings(max_examples=200, deadline=None)
    @given(_geom())
    def test_explode_count_matches_container_size(self, g):
        from gdal_spark.functions.collections import (
            _explode_parts,
            _num_geometries,
        )

        typ, payload = g
        w = payload_to_wkt(typ, payload)
        parts = _explode_parts(w)
        if typ in ("MULTIPOINT", "MULTILINESTRING", "MULTIPOLYGON",
                   "GEOMETRYCOLLECTION"):
            assert len(parts) == _num_geometries(w)
        else:
            assert parts == [w]


_geoms = st.lists(  # multipolygon payloads of arbitrary (even crossing) rings
    st.lists(st.lists(_rings(), min_size=1, max_size=3), min_size=0, max_size=2),
    min_size=1,
    max_size=4,
)


class TestGroupedKernelParity:
    """The batch-grouped PIP and clip kernels against their per-geometry
    loops, bit for bit, on arbitrary rings (self-intersecting ones
    included: both sides share the same arithmetic)."""

    @settings(max_examples=150, deadline=None)
    @given(_geoms, st.integers(0, 2**32 - 1))
    def test_points_in_geometries(self, geoms, seed):
        from gdal_spark.geometry.pip import points_in_geometries, points_in_polygon

        rng = np.random.default_rng(seed)
        verts = np.concatenate(
            [r for polys in geoms for rings in polys for r in rings]
            or [np.zeros((1, 2))]
        )
        n = 64
        # random points plus every vertex (edge/vertex-exact hits)
        xs = np.r_[rng.uniform(-1e6, 1e6, n), verts[:, 0]]
        ys = np.r_[rng.uniform(-1e6, 1e6, n), verts[:, 1]]
        gidx = rng.integers(0, len(geoms), xs.size)
        want = np.zeros(xs.size, dtype=bool)
        for g, polys in enumerate(geoms):
            m = gidx == g
            for rings in polys:
                want[m] |= points_in_polygon(xs[m], ys[m], rings)
        got = points_in_geometries(xs, ys, gidx, geoms)
        np.testing.assert_array_equal(got, want)

    @settings(max_examples=100, deadline=None)
    @given(_geoms, st.integers(0, 2**32 - 1))
    def test_rects_geoms_intersection_area(self, geoms, seed):
        from gdal_spark.geometry.boolean import (
            rects_geoms_intersection_area,
            rects_polys_intersection_area,
            triangle_table,
            weighted_triangles,
        )

        rng = np.random.default_rng(seed)
        n = 32
        x0 = rng.uniform(-1e6, 1e6, n)
        y0 = rng.uniform(-1e6, 1e6, n)
        rects = np.c_[x0, y0, x0 + rng.uniform(1, 1e6, n),
                      y0 + rng.uniform(1, 1e6, n)]
        gidx = rng.integers(0, len(geoms), n)
        soups = [weighted_triangles(p) for p in geoms]
        want = np.zeros(n)
        for g, (tris, w) in enumerate(soups):
            m = gidx == g
            want[m] = rects_polys_intersection_area(rects[m], tris, w)
        got = rects_geoms_intersection_area(rects, gidx, triangle_table(soups))
        np.testing.assert_array_equal(got, want)
