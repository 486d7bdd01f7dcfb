"""DuckDB oracles for the benchmark workloads.

Every query reuses the formula text the program and the registry's
driver oracles share (``corpus.duckdb_*_cte``, ``zones.duckdb_*_cte``,
``mercator.sql_tx/ty``, ``knn.duckdb_targets_cte``,
``mvt.sql_varint_len/bytesum``), so the oracle sees bit-identical
coordinates and compares integers only.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from gdal_spark import corpus, zones
from gdal_spark.geometry import mercator
from gdal_spark.operators.knn import duckdb_targets_cte
from gdal_spark.operators.mvt import sql_varint_bytesum as vsum
from gdal_spark.operators.mvt import sql_varint_len as vlen

# jobs/tile_job.py encode unit: web-mercator global pixel at zmax, split
# into tile (tx, ty) and in-tile pixel (px, py); the same text runs in
# Spark (selectExpr) and here
MVT_GLOBAL = (
    "CAST(floor((lon + 1.8e2) / 3.6e2 * {scale}) AS BIGINT) AS _gx",
    "CAST(floor((5.0e-1 - ln((1.0e0 + sin(greatest(least(lat, 8.5e1), -8.5e1)"
    " * pi() / 1.8e2)) / (1.0e0 - sin(greatest(least(lat, 8.5e1), -8.5e1)"
    " * pi() / 1.8e2))) / (4.0e0 * pi())) * {scale}) AS BIGINT) AS _gy",
)
MVT_TILE = (
    "CAST((_gx - _gx % 4096) / 4096 AS BIGINT) AS tx",
    "CAST((_gy - _gy % 4096) / 4096 AS BIGINT) AS ty",
    "_gx % 4096 AS px",
    "_gy % 4096 AS py",
)


def mvt_exprs(zmax: int) -> tuple[list[str], list[str]]:
    scale = (1 << zmax) * 4096
    return [e.format(scale=scale) for e in MVT_GLOBAL], list(MVT_TILE)


def connect(threads: int, temp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {int(threads)}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    return con


def parquet(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _df(con, sql: str) -> pd.DataFrame:
    return con.execute(sql).df()


# ------------------------------------------------------------ zonal_refine
def pip_rich_by_zone(con, docs_dir: str, n_zones: int) -> pd.DataFrame:
    """(zone_id, n, s): matches and sum(doc_id) per zone of the
    concave-with-hole layer — the registry's part-decomposition oracle."""
    return _df(con, f"""
WITH docs AS ({corpus.duckdb_docs_cte(parquet(docs_dir))}),
parts AS ({zones.duckdb_rich_parts_cte(n_zones)}),
m AS (
  SELECT d.doc_id, p.zone_id
  FROM docs d JOIN parts p
    ON p.kind <> 'H'
   AND d.lon >= p.pxmin AND d.lon < p.pxmax
   AND d.lat >= p.pymin AND d.lat < p.pymax
  WHERE NOT EXISTS (
    SELECT 1 FROM parts h
    WHERE h.kind = 'H' AND h.zone_id = p.zone_id
      AND d.lon >= h.pxmin AND d.lon < h.pxmax
      AND d.lat >= h.pymin AND d.lat < h.pymax
  )
)
SELECT zone_id, CAST(count(*) AS BIGINT) AS n, CAST(sum(doc_id) AS BIGINT) AS s
FROM m GROUP BY zone_id
""")


def clip_rich_by_zone(con, polys_dir: str, n_zones: int) -> pd.DataFrame:
    """(zone_id, n, s): pieces and sum of quarter-micro areas per zone."""
    return _df(con, f"""
WITH docs AS ({corpus.duckdb_polydocs_cte(parquet(polys_dir))}),
p AS ({zones.duckdb_rich_parts_cte(n_zones)}),
t AS (
  SELECT d.doc_id, p.zone_id,
         sum(CASE WHEN p.kind = 'H' THEN -1.0e0 ELSE 1.0e0 END
             * greatest(0.0e0, least(d.xmax, p.pxmax) - greatest(d.xmin, p.pxmin))
             * greatest(0.0e0, least(d.ymax, p.pymax) - greatest(d.ymin, p.pymin))) AS a
  FROM docs d JOIN p
    ON d.xmin < p.pxmax AND p.pxmin < d.xmax AND d.ymin < p.pymax AND p.pymin < d.ymax
  GROUP BY d.doc_id, p.zone_id
)
SELECT zone_id, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(a * 4.0e6) AS BIGINT)) AS BIGINT) AS s
FROM t WHERE a > 1.0e-9 GROUP BY zone_id
""")


# ------------------------------------------------------------ tile_publish
def pyramid(con, docs_dir: str, zmax: int) -> pd.DataFrame:
    """(zoom, tx, ty, n_docs) for every zoom in [0, zmax] by direct
    assignment — the registry's tile_pyramid oracle."""
    return _df(con, f"""
WITH docs AS ({corpus.duckdb_docs_cte(parquet(docs_dir))}),
zl AS (SELECT i AS zoom FROM range(0, {zmax + 1}) t(i)),
t AS (
  SELECT CAST(zl.zoom AS int) AS zoom,
         {mercator.sql_tx('lon', 'zl.zoom')} AS tx,
         {mercator.sql_ty('lat', 'zl.zoom')} AS ty
  FROM docs, zl
)
SELECT zoom, tx, ty, CAST(count(*) AS BIGINT) AS n_docs FROM t GROUP BY zoom, tx, ty
""")


def mvt_tiles(con, docs_dir: str, zmax: int) -> pd.DataFrame:
    """(tx, ty, n_bytes, byte_sum) of every encoded point tile, from the
    closed-form varint accounting of the tile bytes (the registry's
    mvt_encode oracle over the tile_job pixel grid)."""
    glob, tile = mvt_exprs(zmax)
    lid, lx, ly = vlen("fid"), vlen("2 * px"), vlen("2 * py")
    isum, xsum, ysum = vsum("fid"), vsum("2 * px"), vsum("2 * py")
    return _df(con, f"""
WITH docs AS ({corpus.duckdb_docs_cte(parquet(docs_dir))}),
g AS (SELECT doc_id AS fid, {", ".join(glob)} FROM docs),
p AS (SELECT fid, {", ".join(tile)} FROM g),
f AS (
  SELECT tx, ty,
         2 + 6 + {lid} + {lx} + {ly} AS framed_len,
         18 + (6 + {lid} + {lx} + {ly})
            + 8 + {isum} + 24 + 1 + 34 + (1 + {lx} + {ly})
            + 9 + {xsum} + {ysum} AS framed_sum
  FROM p
),
a AS (
  SELECT tx, ty, CAST(SUM(framed_len) AS BIGINT) AS fl,
         CAST(SUM(framed_sum) AS BIGINT) AS fs
  FROM f GROUP BY tx, ty
),
l AS (SELECT tx, ty, 13 + fl AS layer_len, 1007 + fs AS layer_sum FROM a)
SELECT tx, ty,
       CAST(1 + {vlen("layer_len")} + layer_len AS BIGINT) AS n_bytes,
       CAST(26 + {vsum("layer_len")} + layer_sum AS BIGINT) AS byte_sum
FROM l
""")


# ------------------------------------------------------------ lookup_mixed
class LookupOracle:
    """The lookup table's rows as the oracle sees them: base docs
    (batch 0) plus every appended batch, each tagged with its commit
    order so a request checks against exactly the rows it could see."""

    def __init__(self, con, docs_dir: str, n_targets: int):
        self.con = con
        con.execute(f"""
CREATE OR REPLACE TABLE lk_docs AS
SELECT doc_id, lon, lat, 0 AS batch
FROM ({corpus.duckdb_docs_cte(parquet(docs_dir))})
""")
        con.execute(
            f"CREATE OR REPLACE TABLE lk_targets AS {duckdb_targets_cte(n_targets)}"
        )

    def add_batch(self, batch: int, first_id: int, n: int) -> None:
        self.con.execute(f"""
INSERT INTO lk_docs
SELECT doc_id, {corpus.LON_SQL}, {corpus.LAT_SQL}, {int(batch)}
FROM (SELECT i AS doc_id FROM range({int(first_id)}, {int(first_id + n)}) t(i))
""")

    def _slice(self, bbox, batches: int) -> str:
        x0, y0, x1, y1 = (mercator.sql_double(v) for v in bbox)
        return (
            f"SELECT doc_id, lon, lat FROM lk_docs WHERE batch <= {int(batches)}"
            f" AND lon >= {x0} AND lon <= {x1} AND lat >= {y0} AND lat <= {y1}"
        )

    def scan(self, bbox, batches: int) -> pd.DataFrame:
        return _df(self.con, f"SELECT doc_id FROM ({self._slice(bbox, batches)})")

    def pip(self, bbox, batches: int) -> pd.DataFrame:
        return _df(self.con, f"""
WITH d AS ({self._slice(bbox, batches)}), z AS ({zones.duckdb_zones_cte()})
SELECT d.doc_id, z.zone_id FROM d JOIN z
  ON d.lon > z.zxmin AND d.lon < z.zxmax AND d.lat > z.zymin AND d.lat < z.zymax
""")

    def knn(self, bbox, batches: int, k: int) -> pd.DataFrame:
        return _df(self.con, f"""
WITH d AS ({self._slice(bbox, batches)}),
r AS (
  SELECT d.doc_id, t.target_id,
         row_number() OVER (
           PARTITION BY d.doc_id
           ORDER BY (d.lon - t.tlon) * (d.lon - t.tlon)
                  + (d.lat - t.tlat) * (d.lat - t.tlat), t.target_id
         ) AS rnk
  FROM d, lk_targets t
)
SELECT doc_id, target_id, CAST(rnk AS INTEGER) AS rnk FROM r WHERE rnk <= {int(k)}
""")

    def tiles(self, bbox, batches: int, zoom: int) -> pd.DataFrame:
        return _df(self.con, f"""
WITH d AS ({self._slice(bbox, batches)})
SELECT {mercator.sql_tx('lon', str(zoom))} AS tx,
       {mercator.sql_ty('lat', str(zoom))} AS ty,
       CAST(count(*) AS BIGINT) AS n_docs
FROM d GROUP BY 1, 2
""")


def same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> bool:
    """Order-insensitive exact equality of two integer-valued frames."""
    if len(got) != len(want):
        return False
    a = got[cols].astype("int64").sort_values(cols).reset_index(drop=True)
    b = want[cols].astype("int64").sort_values(cols).reset_index(drop=True)
    return bool((a.to_numpy() == b.to_numpy()).all())
