"""Session start and the measured operation loop."""

from __future__ import annotations

import statistics
import sys
import time
import traceback


def start_session(cpus: int):
    from gdal_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_session(spark, cpus: int):
    """New SparkContext on the running gateway JVM (a context cannot
    change its master, so ``local[1]`` needs a restart)."""
    spark.stop()
    return start_session(cpus)


class Tally:
    def __init__(self):
        self.walls: list[float] = []
        self.docs = 0
        self.attempted = 0
        self.failed = 0

    def busy(self) -> float:
        return sum(self.walls)


def measure(wl, seconds: float, tally: Tally, tracer=None, max_ops=None) -> Tally:
    """Run operations until ``seconds`` of operation wall time have
    passed and a whole round of ``wl.ops_per_round`` ops has run (or
    ``max_ops`` ran); checks run between operations, untimed.  Errors
    and oracle mismatches are counted, never dropped."""
    errors = ops = 0
    spent = 0.0
    while (spent < seconds or ops % wl.ops_per_round) and (
        max_ops is None or ops < max_ops
    ):
        ops += 1
        if tracer is not None:
            tracer.request += 1
        t0 = time.perf_counter()
        try:
            out = wl.traced_op(tracer) if tracer is not None else wl.op()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            spent += time.perf_counter() - t0
            tally.attempted += wl.checks_per_op
            tally.failed += wl.checks_per_op
            errors += 1
            if errors >= 3:
                break
            continue
        dt = time.perf_counter() - t0
        spent += dt
        tally.walls.append(dt)
        try:
            oks, docs = wl.check(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            oks, docs = [False] * wl.checks_per_op, 0
        tally.attempted += len(oks)
        tally.failed += oks.count(False)
        tally.docs += docs if all(oks) else 0
    return tally


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]
