#!/usr/bin/env python3
"""Engine benchmark: query and refresh workloads over a seeded mix and delta.

  python3 perfbench/run.py --workload query --seed 1 \
      --seconds 20 --trace 0

Runs from the repository root.  Everything it writes (Spark local dirs,
temp files, warehouses) goes under ``.bench_build/perfbench/``: the run's
own directory is removed at exit; the base index stays there, cached for
the next run of the same engine sources.  Human-readable lines (host block, input fingerprints,
sample counts, set-up parts, trace overhead) come first; the last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1`` (see ``perfbench/metrics.py``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
WORKLOAD_NAMES = ("query", "refresh")


class Run:
    """Everything one benchmark run records."""

    def __init__(self, args, work: Path):
        self.args = args
        self.work = work
        self.spark = None
        self.tracer = None
        self.inputs = None
        self.oracle = None  # the workload's BM25 oracle
        self.cores = 1
        self.attempted = 0
        self.failed = 0
        self.setup: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if self.failed <= 20:
                self.info.append(f"FAILED: {what}")

    def report_latency(self, name: str, walls: list[float]) -> None:
        """Geometric mean, median and the highest percentile with >= 10
        samples beyond it (and p95, with how many samples lie beyond it)."""
        n = len(walls)
        s = sorted(walls)
        line = (f"{name}_geomean_ms {statistics.geometric_mean(s) * 1000:.1f} ms"
                f"; {name}_p50_ms {statistics.median(s) * 1000:.1f} ms (n={n})")
        if n >= 11:
            line += (f"; {name}_p{100 * (n - 10) / n:.0f}_ms "
                     f"{s[n - 11] * 1000:.1f} ms (10 beyond)")
        i95 = math.ceil(0.95 * n) - 1
        line += (f"; {name}_p95_ms {s[i95] * 1000:.1f} ms "
                 f"({n - 1 - i95} beyond)")
        self.info.append(line)


def start_spark(work: Path, cores: int):
    from search_engine_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "1g",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            # keep every job/stage of the run in the status store so the
            # trace can attach them after the measured window
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the py4j gateway JVM and every process under it,
    and wait for all of them."""
    from py4j.protocol import Py4JError

    from perfbench.host import descendants, reap

    try:
        if spark is not None:
            try:
                spark.stop()
            except Py4JError:
                pass  # interrupted mid-call (SIGTERM): the reap below ends it
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
    finally:
        reap(descendants(os.getpid()))


def assemble(values: dict[str, float], units: dict[str, str]) -> dict:
    """The result's ``metrics`` object: exactly the declared names, each with
    its declared unit.  A missing or undeclared name is a benchmark bug."""
    extra, missing = set(values) - set(units), set(units) - set(values)
    if extra or missing:
        raise ValueError(f"undeclared metrics {sorted(extra)}, "
                         f"missing metrics {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def execute(run: Run) -> dict:
    from perfbench import host
    from perfbench.inputs import Inputs
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, instrument
    from search_engine_spark.native import get_parse_doc
    from search_engine_spark.oracle.bm25_oracle import OracleIndex

    args = run.args
    run.cores = host.nproc()
    calib0, cpu0 = host.calib_s(), host.cpu_times()
    get_parse_doc()  # compiles the C extraction fast path on first use

    # the JVM starts while this thread makes the inputs and the oracle
    t0 = time.perf_counter()
    made: dict = {}

    def prepare() -> None:
        try:
            made["inputs"] = inp = Inputs.make(args.seed)
            made["oracle"] = OracleIndex(
                WORKLOADS[args.workload].oracle_rows(inp))
        except BaseException as e:  # re-raised in the main thread
            made["error"] = e

    th = threading.Thread(target=prepare)
    th.start()
    try:
        run.spark = start_spark(run.work, run.cores)
    finally:
        th.join()
    if "error" in made:
        raise made["error"]
    run.inputs, run.oracle = made["inputs"], made["oracle"]
    run.setup["start_s"] = time.perf_counter() - t0
    run.tracer = Tracer(run.spark.sparkContext, enabled=bool(args.trace))

    fp, pin = run.inputs.fingerprints(), run.inputs.pin_status()
    run.info.append(f"inputs seed={args.seed} pages={fp['pages']} "
                    f"queries={fp['queries']} pin={pin}")
    shares = run.inputs.interactive.shares()
    run.info.append("mix " + " ".join(f"{c}={v:.3f}" for c, v in shares.items()))
    run.check(pin != "MISMATCH", "inputs differ from the fingerprint pinned "
                                 "for this seed in perfbench/pins.json")

    wl = WORKLOADS[args.workload](run)
    if args.trace:
        with instrument(run.tracer):
            wl.measure(args.seconds)
        wl.build_layers()
        wl.trace_accounting()
    else:
        wl.measure(args.seconds)

    # the slower of two same-run calibrations: a host that slowed down
    # during the run shows here, next to its CPU steal
    hb = {"host.nproc": run.cores, "host.mem_gb": host.mem_gb(),
          "host.calib_s": max(calib0, host.calib_s()),
          "host.steal_frac": host.steal_frac(cpu0, host.cpu_times())}
    run.info.insert(0, "host " + " ".join(f"{k}={v:.4g}"
                                          for k, v in hb.items()))
    setup_s = sum(run.setup.values())
    run.info.append("setup " + " ".join(
        f"{k}={v:.3f}" for k, v in run.setup.items()) + f" total={setup_s:.3f} s")
    if "build.docs_per_s" in run.layer:
        run.info.append(f"build_docs_per_s {run.layer['build.docs_per_s']:.2f} "
                        f"1/s (n=1 build of {len(run.inputs.base)} pages)")
    run.info.append(f"ops {len(wl.ops)} measured operations; "
                    f"checks {run.attempted} attempted, {run.failed} failed")
    run.info.append(f"fail_frac {run.failed / max(1, run.attempted):.4g}")

    if args.trace:
        layer = {name: 0.0 for name in PER_LAYER}
        layer.update(run.layer)
        layer.update(hb)
        layer["check.fail_frac"] = run.failed / max(1, run.attempted)
        layer["run.ops"] = len(wl.ops)
        run.info.append(
            f"trace overhead_frac={layer['trace.overhead_frac']:.4f} "
            f"(traced vs untraced operations of this run) "
            f"unattributed_frac={layer['trace.unattributed_frac']:.4f}")
        metrics = assemble(layer, {k: u for k, (u, _) in PER_LAYER.items()})
    else:
        metrics = assemble(dict(run.e2e, setup_s=setup_s,
                                peak_rss_mb=run.rss.peak / 1024 / 1024),
                           END_TO_END)
    return {"correct": run.failed == 0, "attempted": max(1, run.attempted),
            "failed": run.failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # run as a script, sys.path[0] is perfbench/ itself, whose module names
    # (trace, inputs, ...) would shadow the standard library's
    here = str(Path(__file__).resolve().parent)
    sys.path[:] = [p for p in sys.path if p and Path(p).resolve() != Path(here)]

    if not (REPO / "search_engine_spark" / "operators" / "pipeline.py").exists():
        print("perfbench: the engine sources (search_engine_spark/) are not "
              f"in {REPO}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(REPO))
    # SIGTERM unwinds like an exception, so the session and its processes
    # are still stopped and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    base = REPO / ".bench_build" / "perfbench"
    for stale in base.glob("run-*"):  # left by a killed run
        if not Path(f"/proc/{stale.name[4:]}").exists():
            shutil.rmtree(stale, ignore_errors=True)
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # every JVM (the spark-submit launcher too): temp files in the work
    # directory, no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}"]))

    from perfbench.host import PeakRSS

    run = Run(args, work)
    try:
        with PeakRSS() as run.rss:
            result = execute(run)
    finally:
        try:
            stop_spark(run.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for line in run.info:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
