"""The three benchmark workloads.

Each workload writes its seeded inputs (:meth:`setup`), runs one
operation (:meth:`op`: a batch job, or one lookup request) through the
public ``gdal_spark`` API, and checks the operation's output against
the DuckDB oracle (:meth:`check`).  :meth:`traced_op` runs the same
operation with every layer call forced at its boundary inside a tracer
span, which is slower than :meth:`op` by design.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

import inputs
import oracle
from gdal_spark import corpus, zones
from gdal_spark.checkpointing import CheckpointedJob
from gdal_spark.operators.knn import knn_join, knn_targets
from gdal_spark.operators.mvt import encode_mvt_tiles
from gdal_spark.operators.overlay import intersection_join
from gdal_spark.operators.pip_join import (
    DEFAULT_ZOOM,
    pip_join,
    with_point_cell,
    zone_cell_index,
)
from gdal_spark.operators.tiling import tile_counts, tile_pyramid
from gdal_spark.table import SnapshotTable

# doc_id slots handed out by inputs.id_offsets: one per input file set
_ID_SPAN = 1 << 22
_SLOTS = {
    ("zonal_refine", False): (0, 1), ("tile_publish", False): (2,),
    ("lookup_mixed", False): (3,), ("zonal_refine", True): (4, 5),
    ("tile_publish", True): (6,), ("lookup_mixed", True): (7,),
}


class Workload:
    name = ""
    loop = ""  # how operations are issued, for the report
    batch = True  # batch jobs of fixed size, or requests of varying size
    checks_per_op = 1
    ops_per_round = 1  # a measured window ends on a whole round of ops

    def __init__(self, spark, seed: int, cpus: int, probe: bool = False):
        self.spark = spark
        self.seed = seed
        self.cpus = cpus
        self.probe = probe
        offsets = inputs.id_offsets(seed, 1 + max(max(s) for s in _SLOTS.values()), _ID_SPAN)
        self.first_ids = [offsets[i] for i in _SLOTS[(self.name, probe)]]

    def _write(self, path: str, first_id: int, n: int) -> None:
        inputs.write_documents(path, first_id, n, self.seed, files=2 * self.cpus)

    def bind(self, spark) -> None:
        self.spark = spark

    def prepare(self) -> None:
        """State the operations need beyond the input files."""


def _per_zone(df, value):
    return df.groupBy("zone_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(value).alias("s")
    )


def traced_pip(tr, points, zone_layer, sink):
    """pip_join inside a ``pip_join.full`` span, after two forced spans
    that model its stages 1-2 with the arguments pip_join passes: the
    zone cell index (``pip_join.cell_index``, the program's own
    ``zone_cell_index`` call) and the candidate rows of the cell join
    after the envelope prefilter (``pip_join.join``, a model built from
    the program's ``with_point_cell`` and ``zone_cell_index``).  ``sink``
    turns the join into its driver-side result and returns (result,
    matches)."""
    with tr.span("pip_join.cell_index") as c:
        cells = zone_cell_index(zone_layer, DEFAULT_ZOOM, with_rect_flag=True)
        c["zone_cells"] = cells.count()
    with tr.span("pip_join.join") as c:
        cand = with_point_cell(points, DEFAULT_ZOOM).join(
            F.broadcast(cells), ["cell_tx", "cell_ty"]
        )
        c["candidates"] = cand.filter(
            (F.col("lon") >= F.col("env_xmin")) & (F.col("lon") <= F.col("env_xmax"))
            & (F.col("lat") >= F.col("env_ymin")) & (F.col("lat") <= F.col("env_ymax"))
        ).count()
    with tr.span("pip_join.full") as c:
        out, c["matches"] = sink(pip_join(points, zone_layer))
    return out


# ------------------------------------------------------------------ zonal
class ZonalRefine(Workload):
    """Batch: pip_join of point docs and intersection_join of polygon
    docs against the concave-with-hole rich zone layer; the sink only
    collects per-zone counts and sums."""

    name = "zonal_refine"
    loop = "batch, one job at a time"
    checks_per_op = 2
    N_ZONES = 2000

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_points, self.n_polys = (20_000, 500) if self.probe else (200_000, 5_000)
        self.docs_per_op = self.n_points + self.n_polys

    def describe(self) -> str:
        return (
            f"{self.n_points} point docs + {self.n_polys} polygon docs per job "
            f"against rich_zones(n={self.N_ZONES})"
        )

    def setup(self, root: str) -> None:
        self.docs_dir = os.path.join(root, "points")
        self.polys_dir = os.path.join(root, "polys")
        self._write(os.path.join(self.docs_dir, "documents.parquet"),
                    self.first_ids[0], self.n_points)
        self._write(os.path.join(self.polys_dir, "documents.parquet"),
                    self.first_ids[1], self.n_polys)

    def prepare_oracle(self, con) -> None:
        self.want_pip = oracle.pip_rich_by_zone(
            con, os.path.join(self.docs_dir, "documents.parquet"), self.N_ZONES)
        self.want_clip = oracle.clip_rich_by_zone(
            con, os.path.join(self.polys_dir, "documents.parquet"), self.N_ZONES)

    def warmup(self) -> None:
        # the first job of a session pays code generation, Python worker
        # start and the per-worker zone caches: about twice a warm job
        self.op()

    def _zones(self):
        return zones.rich_zones(self.spark, n=self.N_ZONES)

    @staticmethod
    def _micro4():
        return F.round(F.col("piece_area") * 4.0e6).cast("long")

    def op(self) -> dict:
        rz = self._zones()
        docs = corpus.load_docs(self.spark, self.docs_dir)
        pip = _per_zone(pip_join(docs, rz), "doc_id").toPandas()
        polys = corpus.load_polydocs(self.spark, self.polys_dir)
        pieces = intersection_join(polys, rz, emit_wkt=False)
        clip = _per_zone(pieces, self._micro4()).toPandas()
        return {"pip": pip, "clip": clip}

    def traced_op(self, tr) -> dict:
        rz = self._zones()
        with tr.span("corpus.load") as c:
            docs = corpus.load_docs(self.spark, self.docs_dir)
            c["rows"] = docs.count()

        def sink(df):
            out = _per_zone(df, "doc_id").toPandas()
            return out, int(out["n"].sum())

        pip = traced_pip(tr, docs, rz, sink)
        with tr.span("corpus.load_polys") as c:
            polys = corpus.load_polydocs(self.spark, self.polys_dir)
            c["rows"] = polys.count()
        with tr.span("overlay.clip") as c:
            pieces = intersection_join(polys, rz, emit_wkt=False)
            clip = _per_zone(pieces, self._micro4()).toPandas()
            c["pieces"] = int(clip["n"].sum())
        return {"pip": pip, "clip": clip}

    def check(self, out: dict) -> tuple[list[bool], int]:
        cols = ["zone_id", "n", "s"]
        return [
            oracle.same_rows(out["pip"], self.want_pip, cols),
            oracle.same_rows(out["clip"], self.want_clip, cols),
        ], self.docs_per_op


# ------------------------------------------------------------------ tiles
class TilePublish(Workload):
    """Batch: the jobs/tile_job.py shape — a CheckpointedJob with a
    tile_pyramid unit and an encode_mvt_tiles unit at max zoom, then a
    second pass over the same lineage that must skip both units."""

    name = "tile_publish"
    loop = "batch, one job at a time"
    checks_per_op = 3

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_docs, self.zmax = (5_000, 4) if self.probe else (100_000, 6)
        self.docs_per_op = self.n_docs
        self._jobs = 0

    def describe(self) -> str:
        return (
            f"{self.n_docs} docs per job, tile_pyramid zoom 0..{self.zmax} + "
            f"MVT point tiles at zoom {self.zmax}, resume pass"
        )

    def setup(self, root: str) -> None:
        self.root = root
        self.docs_dir = os.path.join(root, "docs")
        self._write(os.path.join(self.docs_dir, "documents.parquet"),
                    self.first_ids[0], self.n_docs)

    def prepare_oracle(self, con) -> None:
        docs = os.path.join(self.docs_dir, "documents.parquet")
        self.want_pyramid = oracle.pyramid(con, docs, self.zmax)
        self.want_mvt = oracle.mvt_tiles(con, docs, self.zmax)

    def warmup(self) -> None:
        shutil.rmtree(self.op()["job"].root)

    def _units(self, docs) -> dict:
        glob, tile = oracle.mvt_exprs(self.zmax)
        return {
            "pyramid": lambda: tile_pyramid(docs.select("lon", "lat"), self.zmax),
            "encode_mvt": lambda: encode_mvt_tiles(
                docs.selectExpr("doc_id AS fid", *glob).selectExpr("fid", *tile)
            ),
        }

    def _job(self) -> CheckpointedJob:
        self._jobs += 1
        return CheckpointedJob(
            self.spark,
            os.path.join(self.root, f"job-{self._jobs}"),
            lineage={"docs": self.docs_dir, "zmax": self.zmax},
        )

    def op(self) -> dict:
        docs = corpus.load_docs(self.spark, self.docs_dir)
        job = self._job()
        units = self._units(docs)
        ran = job.run(units)
        again = job.run(units)
        return {"job": job, "ran": ran, "again": again}

    def traced_op(self, tr) -> dict:
        with tr.span("corpus.load") as c:
            docs = corpus.load_docs(self.spark, self.docs_dir)
            c["rows"] = docs.count()
        with tr.span("tiling.base") as c:
            c["tiles"] = tile_counts(docs, self.zmax).count()
        with tr.span("tiling.pyramid") as c:
            c["tiles"] = tile_pyramid(docs.select("lon", "lat"), self.zmax).count()
        glob, tile = oracle.mvt_exprs(self.zmax)
        with tr.span("mvt.encode") as c:
            enc = encode_mvt_tiles(
                docs.selectExpr("doc_id AS fid", *glob).selectExpr("fid", *tile)
            )
            row = enc.agg(F.count(F.lit(1)).alias("t"), F.sum("n_bytes").alias("b")).first()
            c["tiles"], c["bytes"] = int(row["t"]), int(row["b"])
        job = self._job()
        units = self._units(docs)
        ran = {}
        for unit, fn in units.items():
            with tr.span("checkpointing.unit"):
                ran[unit] = job.run_unit(unit, fn)
        with tr.span("checkpointing.resume") as c:
            again = job.run(units)
        c["bytes"] = _tree_bytes(job.root)
        c["rows"] = sum(r["rows"] for r in job.metrics().collect())
        return {"job": job, "ran": ran, "again": again}

    def check(self, out: dict) -> tuple[list[bool], int]:
        job = out["job"]
        try:
            resumed = all(out["ran"].values()) and not any(out["again"].values())
            pyr = job.read_unit("pyramid").toPandas()
            mvt = job.read_unit("encode_mvt").select(
                "tx", "ty", "n_bytes", "byte_sum").toPandas()
            return [
                resumed,
                oracle.same_rows(pyr, self.want_pyramid, ["zoom", "tx", "ty", "n_docs"]),
                oracle.same_rows(mvt, self.want_mvt, ["tx", "ty", "n_bytes", "byte_sum"]),
            ], self.docs_per_op
        finally:
            shutil.rmtree(job.root, ignore_errors=True)


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, names in os.walk(path) for f in names
    )


# ----------------------------------------------------------------- lookup
class LookupMixed(Workload):
    """Closed loop, one client: each request is a bbox pruned_read of a
    SnapshotTable followed by a rect-zone pip_join, a knn_join, a
    tile_counts or a plain scan; about one request in ten is an append
    commit instead."""

    name = "lookup_mixed"
    loop = "closed loop, 1 client"
    batch = False
    KINDS = ("append", "pip", "knn", "tiles", "scan")
    # per 20 requests: 11 knn, 3 tiles, 3 scans, 2 appends, 1 pip.  By
    # latency (scan < tiles ~ append < knn < pip on the reference host)
    # both the median and the p90 fall inside the knn requests; with the
    # slow pip requests at the p90 it swung with their few samples
    CYCLE = (
        "knn", "pip", "scan", "knn", "tiles", "knn", "knn", "scan", "append", "knn",
        "tiles", "knn", "knn", "scan", "knn", "tiles", "knn", "append", "knn", "knn",
    )
    # every cycle repeats the same requests (the bbox sequence restarts),
    # and a window measures whole cycles: the percentiles then come from
    # the same request mix however many requests a host completes
    ops_per_round = len(CYCLE)
    BBOX_W, BBOX_H = 5.0, 60.0
    K = 5
    ZOOM = 8

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        if self.probe:
            self.n_docs, self.snapshots, self.files, self.append_n = 8_000, 2, 2, 100
        else:
            self.n_docs, self.snapshots, self.files, self.append_n = 200_000, 4, 8, 500
        self.n_targets = 2000

    def describe(self) -> str:
        return (
            f"SnapshotTable of {self.n_docs} docs in {self.snapshots} snapshots "
            f"x {self.files} lon-range files; {self.BBOX_W:g} x {self.BBOX_H:g} deg "
            f"bbox reads; appends of {self.append_n} docs; knn k={self.K} over "
            f"{self.n_targets} targets; tile_counts zoom {self.ZOOM}"
        )

    def setup(self, root: str) -> None:
        self.docs_dir = os.path.join(root, "docs")
        self._write(os.path.join(self.docs_dir, "documents.parquet"),
                    self.first_ids[0], self.n_docs)
        self.table_root = os.path.join(root, "table")

    def prepare(self) -> None:
        """Commit the base docs as ``snapshots`` appends, each range-
        partitioned on lon so the manifest's per-file lon stats prune."""
        self.table = SnapshotTable(
            self.spark, self.table_root, stats_cols=["lon", "lat"]
        )
        docs = corpus.load_docs(self.spark, self.docs_dir).select("doc_id", "lon", "lat")
        for r in range(self.snapshots):
            self.table.append(
                docs.filter(F.col("doc_id") % self.snapshots == r)
                .repartitionByRange(self.files, "lon")
                .sortWithinPartitions("lon")
            )
        self.u = self.v = 0.0
        self.requests = 0
        self.appends: list[tuple[int, int]] = []  # (first_id, n) per commit
        self.force_kind: str | None = None
        self.next_id = self.first_ids[0] + self.n_docs

    def bind(self, spark) -> None:
        super().bind(spark)
        self.table = SnapshotTable(spark, self.table.root, stats_cols=["lon", "lat"])

    def prepare_oracle(self, con) -> None:
        self.oracle = oracle.LookupOracle(
            con, os.path.join(self.docs_dir, "documents.parquet"), self.n_targets)
        self._batches_known = 0

    def warmup(self) -> None:
        bbox = self._bbox()
        for kind in self.KINDS[1:]:
            self._read(kind, bbox)

    def _bbox(self) -> tuple[float, float, float, float]:
        # the same Weyl sequences for every seed: a bbox's share of the
        # hot cells would otherwise swing each run's docs/s by seed
        self.u = (self.u + 0.6180339887498949) % 1.0
        self.v = (self.v + 0.4142135623730951) % 1.0
        x0 = -180.0 + self.u * (360.0 - self.BBOX_W)
        y0 = -60.0 + self.v * (120.0 - self.BBOX_H)
        return (x0, y0, x0 + self.BBOX_W, y0 + self.BBOX_H)

    def _next_request(self) -> dict:
        """The next request of the fixed cycle, so every seed runs the
        same mix; the seed moves the points and the appended ids."""
        i, self.requests = self.requests, self.requests + 1
        if i % len(self.CYCLE) == 0:
            self.u = self.v = 0.0
        kind = self.force_kind or self.CYCLE[i % len(self.CYCLE)]
        if kind == "append":
            req = {"kind": kind, "first_id": self.next_id, "n": self.append_n}
            self.next_id += self.append_n
            return req
        return {"kind": kind, "bbox": self._bbox()}

    def _slice(self, bbox):
        x0, y0, x1, y1 = bbox
        return self.table.pruned_read("lon", x0, x1).filter(
            (F.col("lat") >= y0) & (F.col("lat") <= y1)
        )

    def _read(self, kind: str, bbox, sl=None):
        sl = self._slice(bbox) if sl is None else sl
        if kind == "scan":
            return sl.select("doc_id").toPandas()
        if kind == "pip":
            rect = zones.rect_zones(self.spark).drop("zxmin", "zymin", "zxmax", "zymax")
            return pip_join(sl, rect).select("doc_id", "zone_id").toPandas()
        if kind == "knn":
            return knn_join(sl, knn_targets(self.spark, self.n_targets), k=self.K) \
                .select("doc_id", "target_id", "rnk").toPandas()
        return tile_counts(sl, self.ZOOM).select("tx", "ty", "n_docs").toPandas()

    def _append_df(self, req):
        return (
            self.spark.range(req["first_id"], req["first_id"] + req["n"], numPartitions=1)
            .withColumnRenamed("id", "doc_id")
            .withColumn("lon", F.expr(corpus.LON_SQL))
            .withColumn("lat", F.expr(corpus.LAT_SQL))
        )

    def op(self) -> dict:
        req = self._next_request()
        if req["kind"] == "append":
            req["snapshot"] = self.table.append(self._append_df(req))
            self.appends.append((req["first_id"], req["n"]))
        else:
            req["out"] = self._read(req["kind"], req["bbox"])
        req["batches"] = len(self.appends)
        return req

    def traced_op(self, tr) -> dict:
        req = self._next_request()
        if req["kind"] == "append":
            with tr.span("table.append") as c:
                before = {f["path"] for f in self.table.pruned_files("lon")}
                req["snapshot"] = self.table.append(self._append_df(req))
            c["bytes"] = sum(
                os.path.getsize(f["path"]) for f in self.table.pruned_files("lon")
                if f["path"] not in before
            )
            self.appends.append((req["first_id"], req["n"]))
            req["batches"] = len(self.appends)
            return req
        x0, _, x1, _ = bbox = req["bbox"]
        with tr.span("table.pruned_read") as c:
            c["files"] = len(self.table.pruned_files("lon", x0, x1))
            c["manifest_files"] = len(self.table.pruned_files("lon"))
            sl = self._slice(bbox).cache()
            c["rows"] = sl.count()
        kind = req["kind"]
        if kind == "pip":
            rect = zones.rect_zones(self.spark).drop("zxmin", "zymin", "zxmax", "zymax")

            def sink(df):
                out = df.select("doc_id", "zone_id").toPandas()
                return out, len(out)

            req["out"] = traced_pip(tr, sl, rect, sink)
        else:
            span = {"scan": "table.scan", "knn": "knn.join", "tiles": "tiling.base"}[kind]
            with tr.span(span) as c:
                req["out"] = self._read(kind, bbox, sl)
                c["tiles" if kind == "tiles" else "rows"] = len(req["out"])
        sl.unpersist()
        req["batches"] = len(self.appends)
        return req

    def check(self, req: dict) -> tuple[list[bool], int]:
        o = self.oracle
        while self._batches_known < req["batches"]:
            self._batches_known += 1
            o.add_batch(self._batches_known, *self.appends[self._batches_known - 1])
        kind = req["kind"]
        if kind == "append":
            total = sum(f["rows"] for f in self.table.pruned_files("lon"))
            return [total == self.n_docs + len(self.appends) * self.append_n], req["n"]
        bbox, b = req["bbox"], req["batches"]
        if kind == "scan":
            want, cols = o.scan(bbox, b), ["doc_id"]
        elif kind == "pip":
            want, cols = o.pip(bbox, b), ["doc_id", "zone_id"]
        elif kind == "knn":
            want, cols = o.knn(bbox, b, self.K), ["doc_id", "target_id", "rnk"]
        else:
            want, cols = o.tiles(bbox, b, self.ZOOM), ["tx", "ty", "n_docs"]
        docs = len(o.scan(bbox, b)) if kind != "scan" else len(want)
        return [oracle.same_rows(req["out"], want, cols)], docs


WORKLOADS = {w.name: w for w in (ZonalRefine, TilePublish, LookupMixed)}
