"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload scan_unique --seed 1 --seconds 10 --trace 0

Run from the repository root.  It starts a Spark session on
local[<cores>], sets the workload up `setup_reps` times from the seed,
measures closed-loop rounds for `--seconds`, checks every answer, and
prints one JSON line last on stdout: the end-to-end metrics with
`--trace 0`, the per-layer metrics (from a separate traced loop) with
`--trace 1`.  Everything it writes stays under `.perfbench_work/`.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("scan_unique", "pipeline_dedup_ann")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test flags: a tiny input size, and a wrong expectation
    # injected into every answer check
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--corrupt", action="store_true")
    return p.parse_args(argv)


class Run:
    """State of one benchmark run: session, tracer, workload."""

    def __init__(self, args, work: Path):
        from perfbench.harness import SIZES

        self.workload_name = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.size = SIZES[args.size]
        self.corrupt = args.corrupt
        self.work = str(work)

    def start_session(self):
        from zikeiretsu_rs_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=cpus,
            shuffle_partitions=cpus,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": os.environ["SPARK_LAUNCHER_OPTS"],
            },
        )
        self.spark.range(1).count()  # the first job ends start-up
        self.session_start_s = time.perf_counter() - t0
        log(f"session started in {self.session_start_s:.2f} s")

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)

    def execute(self) -> dict:
        from perfbench import layers
        from perfbench.harness import Loop, end_to_end
        from perfbench.trace import SparkCounters, Tracer, install_package_wrappers

        self.start_session()
        self.tracer = Tracer()
        self.counters = SparkCounters(self.spark)
        if self.traced:
            install_package_wrappers(self.tracer, self.counters)
        loop = Loop(self)
        wl = None
        try:
            wl = make_workload(self)
            setup_times = self._setup(wl)
            log(f"setup {['%.2f' % t for t in setup_times]} s")
            wl.start()
            for op in wl.warm_ops():
                loop.execute(op, traced=False)
            records, rounds = loop.measure(wl, self.seconds, traced=False)
            log(f"measured {len(records)} ops in {len(rounds)} rounds; median ms by kind: "
                + ", ".join(f"{k} {v:.0f}" for k, v in median_by_kind(records).items()))
            if self.traced:
                t_records, _ = loop.measure(wl, self.seconds, traced=True)
                # the untraced reference comes after the traced loop, so
                # both are warm (the pipeline's first pass is cold)
                b_records, _ = loop.measure(wl, self.seconds, traced=False)
            loop.failed += wl.finish()
            if self.traced:
                metrics = layers.per_layer(self, wl, t_records, b_records)
                self.tracer.dump(
                    str(ROOT / ".perfbench_work"
                        / f"trace-{self.workload_name}-seed{self.seed}.jsonl")
                )
            else:
                metrics = end_to_end(records, rounds, setup_times, wl.storage_ratio(),
                                     loop.attempted, loop.failed)
        finally:
            if wl is not None:
                wl.close()
            self.stop_session()
        return {
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def _setup(self, wl) -> list[float]:
        from perfbench.trace import group_name

        times = []
        for r in range(self.size.setup_reps):
            rep_dir = os.path.join(self.work, f"setup{r}")
            if self.traced:
                self.tracer.op = f"s{r}"
                self.counters.set_group(group_name(self.tracer.op))
                self.tracer.enabled = True
            t0 = time.perf_counter()
            with self.tracer.span("op.setup"):
                wl.setup(rep_dir)
            times.append(time.perf_counter() - t0)
            self.tracer.enabled = False
        if self.traced:
            self.counters.clear_group()
        return times


def median_by_kind(records) -> dict[str, float]:
    kinds: dict[str, list[float]] = {}
    for r in records:
        kinds.setdefault(r.kind, []).append(r.latency_s * 1000.0)
    return {k: statistics.median(v) for k, v in sorted(kinds.items())}


def log(msg: str) -> None:
    print(f"[perfbench] {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def make_workload(run):
    if run.workload_name == "pipeline_dedup_ann":
        from perfbench.pipeline import PipelineDedupAnn

        return PipelineDedupAnn(run)
    from perfbench.tsdb import ScanUnique

    return ScanUnique(run)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "zikeiretsu_rs_spark" / "__init__.py").is_file():
        print(f"perfbench: no zikeiretsu_rs_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    # keep every temporary file of Python, Spark and the JVMs (the
    # spark-submit launcher and the driver) in the run dir
    (work / "jvm-tmp").mkdir()
    os.environ["TMPDIR"] = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work / 'jvm-tmp'} -XX:-UsePerfData"
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))
    try:
        result = Run(args, work).execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
