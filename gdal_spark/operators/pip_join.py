"""Point-in-polygon spatial join — the engine's flagship operator.

Re-answers ``OGRLayer::Intersection`` for point inputs
(ogr/ogrsf_frmts/generic/ogrlayer.cpp:3345-3580) with a Spark-first plan
replacing the reference's nested loop + prepared-geometry pretest:

  1. **Cell index**: every zone polygon's envelope is covered with
     GlobalMercator cells at ``zoom`` (numpy, one mapInPandas over the
     small zone layer); every point gets its single cell JVM-side (pure
     Spark SQL tile math — no Python in the big-side scan).
  2. **Join**: hash join on (cell_tx, cell_ty).  ``broadcast`` strategy
     (default, zones are a dim table) = map-side join, zero shuffle of
     the doc corpus, immune to hot-cell skew.  ``shuffle`` strategy (for
     huge zone layers) salts the point side SALT ways and replicates
     zone-cells per salt, bounding any one reducer's share of a hot cell.
  3. **Refine**: envelope prefilter JVM-side (the reference's bbox
     short-circuit, ogrgeometry.cpp:586-593), then exact ray-cast PIP in
     an Arrow-batched pandas UDF (port of ogrlinearring.cpp:453-532).
     The refine reads the zone WKT column CARRIED THROUGH THE JOIN,
     flattens each distinct geometry into an edge table once per
     executor (bounded cache), and tests the WHOLE batch in one grouped
     kernel (``geometry.pip.points_in_polygons``): every candidate row
     is expanded against its own zone's rings and edges with
     ``np.repeat`` + offsets, so the cost is a fixed number of numpy
     passes per batch however many distinct zones it holds.  No
     driver-side materialization of the method layer in either
     strategy, so zone layers beyond driver memory still work.

Output = point columns ⊕ zone columns (ogrlayer.cpp:3550-3560 result
schema), span sequence untouched.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from gdal_spark.geometry import mercator
from gdal_spark.geometry.envelope import wkt_envelope, wkt_is_rectangle
from gdal_spark.geometry.pip import (
    RingTable,
    points_in_polygons,
    ring_table,
    stack_ring_tables,
)
from gdal_spark.geometry.wkt import parse_wkt

DEFAULT_ZOOM = 6  # ~5.6° cells at equator; zone envelopes span O(10) cells


def _cover_cells(env, zoom):
    """All (tx, ty) mercator cells intersecting an envelope (lon/lat)."""
    xmin, ymin, xmax, ymax = env
    # clamp to mercator domain
    ymin = max(ymin, -85.05)
    ymax = min(ymax, 85.05)
    xmin = max(xmin, -179.999999)
    xmax = min(xmax, 179.999999)
    tx0, ty0 = (int(v) for v in mercator.lat_lon_to_tile(ymin, xmin, zoom))
    tx1, ty1 = (int(v) for v in mercator.lat_lon_to_tile(ymax, xmax, zoom))
    n = 2**zoom
    out = []
    for tx in range(max(tx0, 0), min(tx1, n - 1) + 1):
        for ty in range(max(ty0, 0), min(ty1, n - 1) + 1):
            out.append((tx, ty))
    return out


def zone_cell_index(
    zones: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    wkt_col: str = "geom_wkt",
    with_rect_flag: bool = False,
    geom_format: str = "wkt",
) -> DataFrame:
    """Explode a zone layer into one row per covered mercator cell, with
    the zone envelope attached for the JVM-side prefilter.

    ``with_rect_flag`` adds an ``is_rect`` column (``IsRectangle``,
    ogrgeometry.cpp:8822) so the join can route rectangle zones to the
    envelope-only refine (the reference's ``m_bFilterIsEnvelope`` fast
    path, ogrlayer.cpp:2171,2287-2299).

    ``geom_format="wkb"`` reads the geometry column as WKB BinaryType
    (geo-parquet / Arrow ``ogc.wkb`` interop, ogrlayerarrow.cpp:2562):
    the envelope and rectangle test run straight off the bytes with NO
    full geometry parse (ogr_wkb.cpp:574 OGRWKBGetBoundingBox)."""
    from pyspark.sql.types import DoubleType

    if geom_format == "wkb":
        from gdal_spark.geometry.wkb import wkb_envelope, wkb_is_rectangle

        env_fn, rect_fn = wkb_envelope, wkb_is_rectangle
    else:
        env_fn, rect_fn = wkt_envelope, wkt_is_rectangle

    in_schema = zones.schema
    extra = [
        StructField("cell_tx", LongType()),
        StructField("cell_ty", LongType()),
        StructField("env_xmin", DoubleType()),
        StructField("env_ymin", DoubleType()),
        StructField("env_xmax", DoubleType()),
        StructField("env_ymax", DoubleType()),
    ]
    if with_rect_flag:
        extra.append(StructField("is_rect", BooleanType()))
    out_schema = StructType(list(in_schema.fields) + extra)
    extra_names = [f.name for f in extra]

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx, wkt in enumerate(pdf[wkt_col]):
                env = env_fn(wkt)
                tail = (rect_fn(wkt),) if with_rect_flag else ()
                for tx, ty in _cover_cells(env, zoom):
                    rows.append((idx, tx, ty, *env, *tail))
            if not rows:
                yield pd.DataFrame(columns=out_schema.names)
                continue
            expd = pd.DataFrame(rows, columns=["_i"] + extra_names)
            base = pdf.reset_index(drop=True)
            joined = base.iloc[expd["_i"]].reset_index(drop=True)
            for c in extra_names:
                joined[c] = expd[c].values
            yield joined[out_schema.names]

    return zones.mapInPandas(expand, out_schema)


def with_wkb_geometry(
    df: DataFrame, wkt_col: str = "geom_wkt", wkb_col: str = "geom_wkb"
) -> DataFrame:
    """Attach a WKB ``BinaryType`` geometry column rendered from WKT —
    the fixture/interop shim for layers that arrive as text (a real
    geo-parquet source already carries ``ogc.wkb`` bytes).  Per-row loop
    is fine here: this runs over dim-sized method layers only."""
    from pyspark.sql.types import BinaryType

    from gdal_spark.geometry.wkb import wkt_payload_to_wkb

    @F.pandas_udf(BinaryType())
    def conv(wkt: pd.Series) -> pd.Series:
        out = []
        for s in wkt:
            typ, payload = parse_wkt(s)
            out.append(wkt_payload_to_wkb(typ, payload))
        return pd.Series(out)

    return df.withColumn(wkb_col, conv(F.col(wkt_col)))


def with_point_cell(points: DataFrame, zoom: int = DEFAULT_ZOOM) -> DataFrame:
    """Attach (cell_tx, cell_ty) to a point DataFrame — pure JVM math."""
    return points.withColumn(
        "cell_tx", F.expr(mercator.sql_tx("lon", str(zoom)))
    ).withColumn("cell_ty", F.expr(mercator.sql_ty("lat", str(zoom))))


# -------------------------------------------------------------- S2 index
# The pluggable S2 encoder (SURVEY §7; geometry/s2.py).  One BIGINT cell
# key instead of (tx, ty): the point side is a single Arrow-batched
# numpy kernel (the north-star "batched H3/S2 cell encoding in
# Arrow-vectorized pandas UDFs"), the zone side covers each envelope
# with a proven-superset (s,t)-bbox per face.  Ids are stored as the
# SIGNED view of the uint64 bit pattern (faces 4-5 set bit 63) — the
# equi-join and range-partitioning only care about the bit pattern.
S2_LEVEL = 6  # ~64x64 cells/face, same granularity class as zoom 6


def with_point_cell_s2(points: DataFrame, level: int = S2_LEVEL) -> DataFrame:
    """Attach the level-``level`` S2 ancestor cell id to each point."""
    from gdal_spark.geometry import s2

    @F.pandas_udf(LongType())
    def enc(lat: pd.Series, lon: pd.Series) -> pd.Series:
        leaf = s2.leaf_from_lat_lng(
            lat.to_numpy(dtype=np.float64), lon.to_numpy(dtype=np.float64)
        )
        return pd.Series(s2.parent_at_level(leaf, level).view(np.int64))

    return points.withColumn("cell_s2", enc(F.col("lat"), F.col("lon")))


def zone_cell_index_s2(
    zones: DataFrame,
    level: int = S2_LEVEL,
    wkt_col: str = "geom_wkt",
    with_rect_flag: bool = False,
) -> DataFrame:
    """One row per (zone, covering S2 cell) with the envelope attached —
    the S2 twin of :func:`zone_cell_index`."""
    from pyspark.sql.types import DoubleType

    from gdal_spark.geometry import s2

    in_schema = zones.schema
    extra = [
        StructField("cell_s2", LongType()),
        StructField("env_xmin", DoubleType()),
        StructField("env_ymin", DoubleType()),
        StructField("env_xmax", DoubleType()),
        StructField("env_ymax", DoubleType()),
    ]
    if with_rect_flag:
        extra.append(StructField("is_rect", BooleanType()))
    out_schema = StructType(list(in_schema.fields) + extra)
    extra_names = [f.name for f in extra]

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx, wkt in enumerate(pdf[wkt_col]):
                env = wkt_envelope(wkt)
                tail = (wkt_is_rectangle(wkt),) if with_rect_flag else ()
                for cid in s2.cover_rect(*env, level=level).view(np.int64):
                    rows.append((idx, int(cid), *env, *tail))
            if not rows:
                yield pd.DataFrame(columns=out_schema.names)
                continue
            expd = pd.DataFrame(rows, columns=["_i"] + extra_names)
            base = pdf.reset_index(drop=True)
            joined = base.iloc[expd["_i"]].reset_index(drop=True)
            for c in extra_names:
                joined[c] = expd[c].values
            yield joined[out_schema.names]

    return zones.mapInPandas(expand, out_schema)


# ------------------------------------------------------------- hex index
# The hexagonal pluggable encoder (the H3 half of the north-star "H3/S2
# cell encoding", delivered as an honest axial hex grid rather than a
# from-memory reproduction of H3's icosahedral base-cell tables): a
# pointy-top hexagonal lattice of circumradius HEX_DEG degrees directly
# on the lon/lat plane.  The point side is PURE whole-stage-codegen SQL
# (fractional axial coords + cube rounding — no Python at all, one step
# cheaper than S2's Arrow kernel); the zone side enumerates every hex
# center inside the envelope expanded by 2*HEX_DEG, a proven superset:
# cube-rounding assigns each point a hexagon containing it, whose center
# is therefore within one circumradius of the point.  Like S2 (and
# unlike mercator tiles) the grid covers the poles.  The refine stage is
# shared, so the index is output-invisible — pip_join_hex registers
# against the SAME oracle.
HEX_DEG = 4.0  # hex circumradius in degrees, same class as zoom-6 cells
_SQRT3 = 1.7320508075688772


def with_point_cell_hex(points: DataFrame, size: float = HEX_DEG) -> DataFrame:
    """Attach (hex_q, hex_r) axial hex coordinates — pure JVM math.

    Fractional axial coords for a pointy-top hex grid, then standard
    cube rounding (round each cube axis, recompute the axis with the
    largest rounding error from the other two)."""
    qf = f"(({_SQRT3!r} / 3.0e0 * lon - lat / 3.0e0) / {size!r})"
    rf = f"(2.0e0 / 3.0e0 * lat / {size!r})"
    pts = (
        points.withColumn("_hx", F.expr(qf))
        .withColumn("_hz", F.expr(rf))
        .withColumn("_hy", F.expr("-_hx - _hz"))
        .withColumn("_rx", F.expr("round(_hx)"))
        .withColumn("_ry", F.expr("round(_hy)"))
        .withColumn("_rz", F.expr("round(_hz)"))
        .withColumn("_dx", F.expr("abs(_rx - _hx)"))
        .withColumn("_dy", F.expr("abs(_ry - _hy)"))
        .withColumn("_dz", F.expr("abs(_rz - _hz)"))
    )
    pts = pts.withColumn(
        "hex_q",
        F.expr(
            "CAST(CASE WHEN _dx > _dy AND _dx > _dz THEN -_ry - _rz"
            " ELSE _rx END AS BIGINT)"
        ),
    ).withColumn(
        "hex_r",
        F.expr(
            "CAST(CASE WHEN _dx > _dy AND _dx > _dz THEN _rz"
            " WHEN _dy > _dz THEN _rz"
            " ELSE -_rx - _ry END AS BIGINT)"
        ),
    )
    return pts.drop(
        "_hx", "_hy", "_hz", "_rx", "_ry", "_rz", "_dx", "_dy", "_dz"
    )


def hex_cover_rect(
    xmin: float, ymin: float, xmax: float, ymax: float, size: float = HEX_DEG
):
    """All (q, r) hexes whose CENTER lies in the envelope expanded by
    one circumradius (+0.1% fp slack) — a superset of every hex any
    contained point can round to: the assigned hexagon contains the
    point, so its center is within exactly one circumradius; the slack
    term dwarfs any rounding drift while costing no extra cells at
    realistic zone sizes (a 2x margin measurably inflated the join
    fan-out and the Arrow refine volume at the 2M-doc probe)."""
    m = 1.001 * size
    step_y = 1.5 * size
    step_x = _SQRT3 * size
    r_lo = int(np.ceil((ymin - m) / step_y))
    r_hi = int(np.floor((ymax + m) / step_y))
    out = []
    for r in range(r_lo, r_hi + 1):
        q_lo = int(np.ceil((xmin - m) / step_x - r / 2.0))
        q_hi = int(np.floor((xmax + m) / step_x - r / 2.0))
        out.extend((q, r) for q in range(q_lo, q_hi + 1))
    return out


def zone_cell_index_hex(
    zones: DataFrame,
    size: float = HEX_DEG,
    wkt_col: str = "geom_wkt",
    with_rect_flag: bool = False,
) -> DataFrame:
    """One row per (zone, covering hex cell) — the hex twin of
    :func:`zone_cell_index`."""
    from pyspark.sql.types import DoubleType

    in_schema = zones.schema
    extra = [
        StructField("hex_q", LongType()),
        StructField("hex_r", LongType()),
        StructField("env_xmin", DoubleType()),
        StructField("env_ymin", DoubleType()),
        StructField("env_xmax", DoubleType()),
        StructField("env_ymax", DoubleType()),
    ]
    if with_rect_flag:
        extra.append(StructField("is_rect", BooleanType()))
    out_schema = StructType(list(in_schema.fields) + extra)
    extra_names = [f.name for f in extra]

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for idx, wkt in enumerate(pdf[wkt_col]):
                env = wkt_envelope(wkt)
                tail = (wkt_is_rectangle(wkt),) if with_rect_flag else ()
                for q, r in hex_cover_rect(*env, size=size):
                    rows.append((idx, q, r, *env, *tail))
            if not rows:
                yield pd.DataFrame(columns=out_schema.names)
                continue
            expd = pd.DataFrame(rows, columns=["_i"] + extra_names)
            base = pdf.reset_index(drop=True)
            joined = base.iloc[expd["_i"]].reset_index(drop=True)
            for c in extra_names:
                joined[c] = expd[c].values
            yield joined[out_schema.names]

    return zones.mapInPandas(expand, out_schema)


# executor-level geometry caches: the refine kernel reads the zone
# WKT CARRIED THROUGH THE JOIN (no driver collect — a method layer that
# doesn't fit the driver still works), flattening each distinct geometry
# into its edge table at most once per executor process.  Parsed WKT
# payloads are cached too, for the rasterize / cutline kernels.
_GEOM_CACHE: dict[str, list] = {}
_TABLE_CACHE: dict = {}
_GEOM_CACHE_MAX = 65536


def _parse_polys(key, geom_format: str = "wkt") -> list:
    """WKT text or WKB bytes -> multipolygon payload (list of polygons)."""
    if geom_format == "wkb":
        from gdal_spark.geometry.wkb import wkb_to_payload

        typ, payload = wkb_to_payload(key)
    else:
        typ, payload = parse_wkt(key)
    return payload if typ == "MULTIPOLYGON" else [payload]


def _polys_cached(wkt: str) -> list:
    polys = _GEOM_CACHE.get(wkt)
    if polys is None:
        polys = _parse_polys(wkt)
        if len(_GEOM_CACHE) >= _GEOM_CACHE_MAX:
            _GEOM_CACHE.clear()
        _GEOM_CACHE[wkt] = polys
    return polys


def _ring_table_cached(key, geom_format: str = "wkt") -> RingTable:
    """Edge table of one zone geometry (WKT str or WKB bytes key)."""
    table = _TABLE_CACHE.get(key)
    if table is None:
        table = ring_table(_parse_polys(key, geom_format))
        if len(_TABLE_CACHE) >= _GEOM_CACHE_MAX:
            _TABLE_CACHE.clear()
        _TABLE_CACHE[key] = table
    return table


def factorize_geometry(col: pd.Series, geom_format: str = "wkt"):
    """(codes, uniques) of a geometry column, codes -1 for nulls.

    Hashes instead of sorting: ``pd.factorize`` on an object column is
    ~3x faster than ``np.unique``.  WKB values go to ``bytes`` first —
    Arrow may hand back (unhashable) bytearray."""
    vals = col.to_numpy(dtype=object)
    if geom_format == "wkb":
        vals = np.array(
            [None if v is None else bytes(v) for v in vals], dtype=object
        )
    return pd.factorize(vals)


def grouped_pip(xs: np.ndarray, ys: np.ndarray, codes, uniques, table_of):
    """Row i inside geometry ``uniques[codes[i]]`` (null code: False) —
    one grouped ray-cast over the batch (``points_in_polygons``), the
    per-geometry edge tables coming from ``table_of(key)``."""
    out = np.zeros(len(xs), dtype=bool)
    if len(uniques) == 0:
        return out
    table = stack_ring_tables([table_of(k) for k in uniques])
    ok = codes >= 0
    out[ok] = points_in_polygons(xs[ok], ys[ok], codes[ok], table)
    return out


def _make_refine_udf(geom_format: str = "wkt"):
    """pandas UDF testing (lon, lat) against the zone polygon whose WKT
    (or WKB bytes) rides on the candidate row: the batch's distinct
    geometries are factorized once and the whole batch goes through
    the grouped ray-cast kernel in a fixed number of numpy passes."""

    def table_of(key):
        return _ring_table_cached(key, geom_format)

    @F.pandas_udf(BooleanType())
    def refine(lon: pd.Series, lat: pd.Series, wkt: pd.Series) -> pd.Series:
        codes, uniq = factorize_geometry(wkt, geom_format)
        return pd.Series(
            grouped_pip(
                lon.to_numpy(dtype=np.float64),
                lat.to_numpy(dtype=np.float64),
                codes,
                uniq,
                table_of,
            )
        )

    return refine


def pip_join(
    points: DataFrame,
    zones: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    strategy: str = "broadcast",
    salt: int = 8,
    zone_id_col: str = "zone_id",
    wkt_col: str = "geom_wkt",
    rect_fast: bool = True,
    geom_format: str = "wkt",
    index: str = "mercator",
) -> DataFrame:
    """Spatial inner join: point docs x polygon zones.

    ``index`` selects the candidate cell grid: ``"mercator"`` (default,
    GlobalMercator (tx, ty) at ``zoom``) or ``"s2"`` (S2 cell ids at
    ``S2_LEVEL`` — one BIGINT join key, whole-sphere incl. poles, Hilbert
    locality for free).  The refine stage is identical, so both indexes
    produce bit-identical join output.

    ``geom_format="wkb"`` consumes a WKB ``BinaryType`` geometry column
    (geo-parquet / Arrow ``ogc.wkb``, ogrlayerarrow.cpp:2562): cell
    cover + envelope + rectangle routing run straight off the bytes
    (ogr_wkb.cpp:574), the refine parses WKB once per distinct geometry
    per executor — the WKT path's exact twin, bit-parity pytest-pinned,
    without the ~2-5x text parse/shuffle tax of WKT at corpus scale.

    Returns points.* ⊕ zones.* (minus helper columns) for every (point,
    zone) pair where the point lies strictly inside the zone polygon.

    ``rect_fast`` mirrors the reference's rectangle-filter short-circuit
    (``InstallFilter`` → ``m_bFilterIsEnvelope``, ogrlayer.cpp:2171;
    envelope-only accept ogrlayer.cpp:2287-2299): zones whose geometry IS
    an axis-aligned rectangle skip the Python ray-cast entirely.  The
    ray-cast (ogrlinearring.cpp:499-532 half-open crossing rule) on a
    rectangle reduces EXACTLY to ``xmin <= x < xmax AND ymin <= y < ymax``
    — horizontal edges never straddle the +x ray, each vertical edge at
    ``xe`` crosses iff ``ymin <= y < ymax`` and ``x < xe`` — so the fast
    branch is bit-identical to the slow path, evaluated as pure JVM
    whole-stage codegen.  Rect and non-rect zones split into two
    branches; with AQE on, an empty branch (all-rect or all-poly layers,
    the common cases) collapses at runtime via empty-relation propagation
    so the point corpus is scanned once.  Mixed layers scan the corpus
    once per branch but transfer only genuinely non-rect candidates
    through Arrow.
    """
    if index == "s2":
        if geom_format != "wkt":
            raise ValueError("index='s2' supports geom_format='wkt'")
        cells = zone_cell_index_s2(zones, wkt_col=wkt_col, with_rect_flag=rect_fast)
        pts = with_point_cell_s2(points)
        keys = ["cell_s2"]
    elif index == "hex":
        if geom_format != "wkt":
            raise ValueError("index='hex' supports geom_format='wkt'")
        cells = zone_cell_index_hex(
            zones, wkt_col=wkt_col, with_rect_flag=rect_fast
        )
        pts = with_point_cell_hex(points)
        keys = ["hex_q", "hex_r"]
    elif index == "mercator":
        cells = zone_cell_index(
            zones, zoom, wkt_col, with_rect_flag=rect_fast, geom_format=geom_format
        )
        pts = with_point_cell(points, zoom)
        keys = ["cell_tx", "cell_ty"]
    else:
        raise ValueError(f"unknown index: {index}")
    if strategy == "broadcast":
        cand = pts.join(F.broadcast(cells), keys, "inner")
    elif strategy == "shuffle":
        # salt the hot cells: point side gets a deterministic salt,
        # zone-cell side is replicated once per salt value
        pts = pts.withColumn("_salt", F.pmod(F.xxhash64("doc_id"), F.lit(salt)))
        salts = pts.sparkSession.range(salt).select(F.col("id").alias("_salt"))
        cells = cells.crossJoin(salts)
        cand = pts.join(cells, keys + ["_salt"], "inner").drop("_salt")
    else:
        raise ValueError(f"unknown strategy: {strategy}")

    env_pre = (
        (F.col("lon") >= F.col("env_xmin"))
        & (F.col("lon") <= F.col("env_xmax"))
        & (F.col("lat") >= F.col("env_ymin"))
        & (F.col("lat") <= F.col("env_ymax"))
    )
    helper = keys + ["env_xmin", "env_ymin", "env_xmax", "env_ymax"]
    # exact refine reads the zone WKT carried through the join — both
    # strategies are driver-collect-free, so the method layer is never
    # materialized on the driver
    refine = _make_refine_udf(geom_format)
    if not rect_fast:
        out = cand.filter(env_pre).filter(
            refine(F.col("lon"), F.col("lat"), F.col(wkt_col))
        )
        return out.drop(*helper)
    # half-open envelope accept == ray-cast result on a rectangle
    rect_branch = cand.filter(F.col("is_rect")).filter(
        (F.col("lon") >= F.col("env_xmin"))
        & (F.col("lon") < F.col("env_xmax"))
        & (F.col("lat") >= F.col("env_ymin"))
        & (F.col("lat") < F.col("env_ymax"))
    )
    poly_branch = (
        cand.filter(~F.col("is_rect"))
        .filter(env_pre)
        .filter(refine(F.col("lon"), F.col("lat"), F.col(wkt_col)))
    )
    return rect_branch.unionByName(poly_branch).drop(*helper, "is_rect")
