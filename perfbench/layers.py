"""The traced run and its per-layer metrics.

After the untraced measurement, :class:`TracedRun` measures the same
workload again for half the busy time with every layer call forced
inside a span (workloads.py ``traced_op``), then:

* times the ray-cast kernel (``geometry.points_in_polygon``) from the
  driver on the workload's points against the rich zone layer;
* runs one small traced operation of each OTHER workload (a "probe"),
  so layers this workload never calls still report a measured number;
  a metric uses the workload's own spans whenever it has any, else
  those of one probe;
* reads job / stage / task counts from ``statusTracker``;
* runs one operation, after a warm-up op, SCALING_OPS times on
  ``local[nproc]``, restarts the session on ``local[1]`` and does the
  same again: the single-thread scaling baseline.  Zonal runs use a
  probe-sized job, lookups a knn request over the same bbox sequence on
  both sessions.

:meth:`TracedRun.finish` adds task metrics from the Spark event log,
attributed to layers through each span's job group.
"""

from __future__ import annotations

import math
import os
import statistics
from collections import defaultdict


import oracle
from gdal_spark import corpus, zones
from gdal_spark.geometry.pip import points_in_polygon
from gdal_spark.geometry.wkt import parse_wkt
from loop import Tally, measure, restart_session
from tracing import Tracer, event_log_counters
from workloads import WORKLOADS, LookupMixed, ZonalRefine

SCALING_OPS = 3
GEOMETRY_POINTS = 20_000
EVENT_LAYERS = (
    "corpus", "pip_join", "overlay", "knn", "tiling", "mvt", "checkpointing", "table",
)
EVENT_COUNTERS = {
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "task_cpu_s": "s", "spill_bytes": "bytes",
}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _jvm_gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors (in
    local mode the executors' tasks run in the same JVM)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


class TracedRun:
    def __init__(self, wl, spark, con, seed: int, cpus: int, work: str):
        self.wl, self.spark, self.con = wl, spark, con
        self.seed, self.cpus, self.work = seed, cpus, work
        self.tracer = Tracer(spark.sparkContext, f"perfbench-{os.getpid()}")
        self.traced = Tally()
        self.probes = Tally()
        self.warm = Tally()
        self.scaling_n = Tally()
        self.scaling_1 = Tally()

    def _tallies(self) -> list[Tally]:
        return [self.traced, self.probes, self.warm, self.scaling_n, self.scaling_1]

    @property
    def attempted(self) -> int:
        return sum(t.attempted for t in self._tallies())

    @property
    def failed(self) -> int:
        return sum(t.failed for t in self._tallies())

    def run(self, seconds: float) -> None:
        wl, tr = self.wl, self.tracer
        gc0 = _jvm_gc_seconds(self.spark)
        measure(wl, seconds / 2, self.traced, tracer=tr)
        self.gc_s = (_jvm_gc_seconds(self.spark) - gc0) / max(len(self.traced.walls), 1)
        if isinstance(wl, LookupMixed):
            # every request kind at least once, however short the window
            for kind in LookupMixed.KINDS:
                wl.force_kind = kind
                measure(wl, math.inf, self.traced, tracer=tr, max_ops=1)
            wl.force_kind = None
        self._geometry()
        self._probes()
        tr.read_status()
        self._scaling()

    def _scaling(self) -> None:
        """The same operation SCALING_OPS times on local[nproc], then on a
        restarted local[1] session, each time after one warm-up op."""
        if isinstance(self.wl, LookupMixed):
            op = self.wl
            op.force_kind = "knn"
        else:
            op = ZonalRefine(self.spark, self.seed, self.cpus, probe=True)
            op.setup(os.path.join(self.work, "scaling"))
            op.prepare_oracle(self.con)
        for tally in (self.scaling_n, self.scaling_1):
            if tally is self.scaling_1:
                self.spark = restart_session(self.spark, 1)
                op.bind(self.spark)
            measure(op, math.inf, self.warm, max_ops=1)
            if op is self.wl:
                op.requests = 0  # restart the cycle: the same bboxes on both sessions
            measure(op, math.inf, tally, max_ops=SCALING_OPS)

    def _geometry(self) -> None:
        """Driver-side ray-cast over the workload's first points, each
        zone getting the points inside its envelope (as the refine does)."""
        wkts = [r[0] for r in zones.rich_zones(self.spark, n=2000)
                .select("geom_wkt").collect()]
        src = oracle.parquet(os.path.join(self.wl.docs_dir, "documents.parquet"))
        pts = self.con.execute(
            f"SELECT lon, lat FROM ({corpus.duckdb_docs_cte(src)}) "
            f"ORDER BY doc_id LIMIT {GEOMETRY_POINTS}"
        ).fetchnumpy()
        xs, ys = pts["lon"], pts["lat"]
        batches, edge_tests = [], 0
        for wkt in wkts:
            rings = parse_wkt(wkt)[1]
            lo, hi = rings[0].min(axis=0), rings[0].max(axis=0)
            m = (xs >= lo[0]) & (xs <= hi[0]) & (ys >= lo[1]) & (ys <= hi[1])
            bx, by = xs[m], ys[m]
            for ring in rings:
                rlo, rhi = ring.min(axis=0), ring.max(axis=0)
                inside = ((bx >= rlo[0]) & (bx <= rhi[0])
                          & (by >= rlo[1]) & (by <= rhi[1]))
                edge_tests += int(inside.sum()) * (len(ring) - 1)
            batches.append((bx, by, rings))
        with self.tracer.span("geometry.pip") as c:
            for bx, by, rings in batches:
                points_in_polygon(bx, by, rings)
        c["edge_tests"] = edge_tests

    def _probes(self) -> None:
        tr = self.tracer
        for cls in WORKLOADS.values():
            if cls.name == self.wl.name:
                continue
            tr.probe = cls.name
            p = cls(self.spark, self.seed, self.cpus, probe=True)
            p.setup(os.path.join(self.work, f"probe-{cls.name}"))
            p.prepare()
            p.prepare_oracle(self.con)
            for kind in LookupMixed.KINDS if cls is LookupMixed else [None]:
                if kind:
                    p.force_kind = kind
                measure(p, math.inf, self.probes, tracer=tr, max_ops=1)
        tr.probe = None

    # ------------------------------------------------------------ metrics
    def _chosen(self, match) -> list[dict]:
        """The spans ``match`` accepts: the workload's own, else those of
        the first probe that has any (never a mix of two probes, whose
        inputs differ in size)."""
        spans = [s for s in self.tracer.spans if match(s)]
        by_probe = {}
        for s in spans:
            by_probe.setdefault(s["probe"], []).append(s)
        return by_probe.get(None) or next(iter(by_probe.values()), [])

    def _pick(self, name: str) -> list[dict]:
        return self._chosen(lambda s: s["name"] == name)

    def _time(self, name: str) -> float:
        return statistics.median(_dur(s) for s in self._pick(name))

    def _count(self, name: str, key: str) -> float:
        return statistics.median(s["counts"][key] for s in self._pick(name))

    def _sum(self, name: str, key: str) -> float:
        return sum(s["counts"][key] for s in self._pick(name))

    def finish(self, log_dir: str, untraced: Tally, session_start_s: float,
               peak_rss_mb: float) -> dict:
        """Every per-layer metric as name -> (value, unit)."""
        spans = self.tracer.spans
        own = [s for s in spans if not s["probe"]]
        ops = len({s["request"] for s in own})
        status = defaultdict(int)
        for s in own:
            for k, v in s["status"].items():
                status[k] += v
        tn = statistics.median(untraced.walls)
        t1 = statistics.median(self.scaling_1.walls)
        t1n = statistics.median(self.scaling_n.walls)
        v = {
            "session.start_s": (session_start_s, "s"),
            "session.peak_rss_mb": (peak_rss_mb, "MiB"),
            "session.jobs_per_op": (status["jobs"] / ops, "count"),
            "session.stages_per_op": (status["stages"] / ops, "count"),
            "session.tasks_per_op": (status["tasks"] / ops, "count"),
            "session.jvm_gc_s": (self.gc_s, "s"),
            "session.tasks_failed": (
                sum(s["status"]["tasks_failed"] for s in spans), "count"),
            "session.scaling_eff_1to4": (t1 / t1n / self.cpus, "ratio"),
            "corpus.load_s": (self._time("corpus.load"), "s"),
            "corpus.rows": (self._count("corpus.load", "rows"), "count"),
            "pip_join.cell_index_s": (self._time("pip_join.cell_index"), "s"),
            "pip_join.zone_cells": (self._count("pip_join.cell_index", "zone_cells"), "count"),
            "pip_join.candidates": (self._count("pip_join.join", "candidates"), "count"),
            "pip_join.matches": (self._count("pip_join.full", "matches"), "count"),
            "pip_join.refine_yield": (
                self._sum("pip_join.full", "matches")
                / max(self._sum("pip_join.join", "candidates"), 1), "ratio"),
            "pip_join.join_s": (self._time("pip_join.join"), "s"),
            "pip_join.full_s": (self._time("pip_join.full"), "s"),
            "pip_join.refine_s": (
                self._time("pip_join.full") - self._time("pip_join.join"), "s"),
            "overlay.clip_s": (self._time("overlay.clip"), "s"),
            "overlay.pieces": (self._count("overlay.clip", "pieces"), "count"),
            "knn.join_s": (self._time("knn.join"), "s"),
            "knn.rows": (self._count("knn.join", "rows"), "count"),
            "tiling.base_s": (self._time("tiling.base"), "s"),
            "tiling.pyramid_s": (self._time("tiling.pyramid"), "s"),
            "tiling.tiles": (self._count("tiling.pyramid", "tiles"), "count"),
            "mvt.encode_s": (self._time("mvt.encode"), "s"),
            "mvt.tiles": (self._count("mvt.encode", "tiles"), "count"),
            "mvt.bytes": (self._count("mvt.encode", "bytes"), "bytes"),
            "mvt.ms_per_tile": (
                1e3 * sum(_dur(s) for s in self._pick("mvt.encode"))
                / max(self._sum("mvt.encode", "tiles"), 1), "ms"),
            "checkpointing.unit_s": (self._time("checkpointing.unit"), "s"),
            "checkpointing.resume_s": (self._time("checkpointing.resume"), "s"),
            "checkpointing.bytes_written": (
                self._count("checkpointing.resume", "bytes"), "bytes"),
            "checkpointing.bytes_per_row": (
                self._sum("checkpointing.resume", "bytes")
                / max(self._sum("checkpointing.resume", "rows"), 1), "bytes"),
            "table.pruned_read_s": (self._time("table.pruned_read"), "s"),
            "table.files_scanned_ratio": (
                self._sum("table.pruned_read", "files")
                / max(self._sum("table.pruned_read", "manifest_files"), 1), "ratio"),
            "table.append_s": (self._time("table.append"), "s"),
            "table.append_bytes": (self._count("table.append", "bytes"), "bytes"),
        }
        geo = self._pick("geometry.pip")[0]
        v["geometry.pip_edge_tests"] = (geo["counts"]["edge_tests"], "count")
        v["geometry.pip_edge_tests_per_s"] = (
            geo["counts"]["edge_tests"] / _dur(geo), "1/s")

        # task metrics per layer and operation, own spans first
        groups = event_log_counters(log_dir)
        for layer in EVENT_LAYERS:
            chosen = self._chosen(lambda s: s["name"].split(".")[0] == layer)
            n_ops = len({s["request"] for s in chosen}) or 1
            for counter, unit in EVENT_COUNTERS.items():
                total = sum(groups.get(s["group"], {}).get(counter, 0.0) for s in chosen)
                v[f"{layer}.{counter}"] = (total / n_ops, unit)

        v["trace_overhead_ratio"] = (statistics.median(self.traced.walls) / tn, "ratio")
        return v
