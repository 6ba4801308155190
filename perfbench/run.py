"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload stream --seed 1 --seconds 20 --trace 0

Run from the repository root.  Workloads: ``stream`` (the routing path,
perfbench/routing.py) and ``analytics`` (the declared queries,
perfbench/analytics.py); perfbench/README.md defines every metric.  The
session is pinned by the flags that BENCHMARK.json passes: cores = the
CPUs this process may use, ``--driver-mem`` for the local JVM, and
Spark's local dirs inside the checkout.  Every input is made from
``--seed``; every output is checked.

Stdout: a human summary line (the figures each workload is about, with
units, host calibration and stall flags), then, last, the result line
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.analytics import QUERY_LAYERS  # noqa: E402
from perfbench.probe import (  # noqa: E402
    Outcome,
    Tracer,
    descendants,
    median,
    peak_rss_mb,
    tail_percentile,
    tree_cpu_s,
)

WORKLOADS = ("stream", "analytics")
SETUP_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "cpu_s": "s",
}

# Per-layer figures of each routing phase (drain = the catch-up, live =
# the open-loop feed), as routing.layer_metrics names them.
PHASE_LAYERS = {
    "schema_compiler.fallback_records": "count",
    "sources.offset_s": "s",
    "batch.records": "count",
    "batch.jobs": "count",
    "engine.enrich_s": "s",
    "engine.enrich_s_per_krec": "s/krec",
    "sinks.write_s.routed": "s",
    "sinks.write_s.dead_letter": "s",
    "sinks.write_s.unknown": "s",
    "sinks.files": "count",
    "sinks.bytes": "bytes",
    "checkpoint.commit_s": "s",
    "batch.overhead_s": "s",
    "batch.max_trigger_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "schema_compiler.compile_s": "s",
    **{f"{phase}.{k}": u for phase in ("drain", "live") for k, u in PHASE_LAYERS.items()},
    "live.generator.lag_s": "s",
    "live.backlog.end_records": "count",
    "fixtures.build_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.overhead_share": "ratio",
    **{name: "s" for name in QUERY_LAYERS},
}


class Harness:
    """The Spark session and the instruments every workload uses."""

    def __init__(self, work: str, cores: int, tracer: Tracer | None) -> None:
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.spark = None
        self.calibration: dict[str, dict] = {}
        self.t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"perfbench {time.perf_counter() - self.t0:7.2f}s {msg}", file=sys.stderr, flush=True)

    def restart_session(self):
        """Stop the session (if any) and build it again, as a consumer
        starting up would.  The JVM is launched once per process."""
        from kinesis_handler_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        if self.tracer is None:
            self.spark = get_spark("perfbench")
        else:
            with self.tracer.span("session.get_spark"):
                self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def time_setup(self, setup_once) -> float:
        """Median wall time of SETUP_REPEATS set-ups; the last one stays."""
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            setup_once()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def cpu_s(self) -> float:
        """CPU-seconds so far of this process, the JVM and its workers."""
        return tree_cpu_s([os.getpid(), self.jvm_pid])

    def job_counter(self) -> int:
        """Spark jobs submitted so far in this application."""
        sc = self.spark.sparkContext._jsc.sc()
        return sc.dagScheduler().numTotalJobs()

    def calibrate(self, label: str) -> None:
        """Fixed-work host-speed probe (bench.calibration_probe), kept
        as context beside the metrics, never as a metric.  Traced
        ``analytics`` runs only, once, after the timed work: under C1 it
        takes over a minute on a 4-vCPU VM, which a traced ``stream``
        run cannot spare within its time limit."""
        from bench import calibration_probe

        if self.tracer is not None:
            self.calibration[label] = calibration_probe(self.spark)
            self.log(f"calibrated ({label})")

    def shutdown(self) -> None:
        """Stop Spark, then the JVM and every process under it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        below = descendants(proc.pid)
        if self.spark is not None:
            self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit: kill it
            proc.kill()
            proc.wait()
        deadline = time.time() + 15
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in below):
            time.sleep(0.1)
        for p in below:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def metrics_line(outcome: Outcome) -> tuple[dict, dict]:
    p99, pct, n = tail_percentile(outcome.latencies)
    values = {
        "setup_s": outcome.setup_s,
        "items_per_s": outcome.items_per_s,
        "latency_p50_s": median(outcome.latencies),
        "latency_p99_s": p99,
        "cpu_s": outcome.cpu_s,
    }
    tail = {"percentile": round(pct, 2), "samples": n}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}, tail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", default="nproc",
                    help="local[N] cores; 'nproc' = CPUs this process may use")
    ap.add_argument("--driver-mem", default="3g", help="heap of the local JVM")
    ap.add_argument("--local-dirs", default=".perfbench_work/spark-local",
                    help="Spark scratch space, relative to the checkout")
    args = ap.parse_args(argv)

    if importlib.util.find_spec("kinesis_handler_spark") is None:
        print("perfbench: kinesis_handler_spark not found beside perfbench/", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0)) if args.cores == "nproc" else int(args.cores)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": args.driver_mem,
        "SPARK_LOCAL_DIRS": os.path.join(ROOT, args.local_dirs, str(os.getpid())),
        "TMPDIR": tmp,
        # spark-submit's launcher JVM, and the driver JVM below: no
        # hsperfdata or temp files outside the checkout
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            # the whole heap from the start, so GC does not size it
            # differently from run to run
            f" -Xms{args.driver_mem}"
            # C1 only: the code is compiled within the warm-up.  With C2 the
            # JVM is still compiling minutes in, on cores the program needs,
            # and how far it got by the timed phase set every figure
            " -XX:TieredStopAtLevel=1"
            # compiler threads stay alive, so their CPU can be left out of cpu_s
            " -XX:-UseDynamicNumberOfCompilerThreads' pyspark-shell"
        ),
    })
    tracer = Tracer() if args.trace else None
    harness = Harness(work, cores, tracer)
    code = 1
    try:
        if args.workload == "analytics":
            from perfbench.analytics import run_analytics

            outcome = run_analytics(harness, args.seconds, args.seed)
        else:
            from perfbench.routing import run_stream

            outcome = run_stream(harness, args.seconds, args.seed)
        rss = peak_rss_mb(harness.jvm_pid)
        e2e, tail = metrics_line(outcome)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        untraced = os.path.join(out_dir, f"{args.workload}-untraced.json")
        summary = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": cores,
            "figures": {k: {"value": v[0], "unit": v[1]} if isinstance(v, tuple) else v
                        for k, v in outcome.summary.items()},
            "latency_tail": tail,
            "peak_rss_mb": rss,
            "calibration": harness.calibration,
        }
        if tracer is None:
            metrics = e2e
            with open(untraced, "w") as fh:
                json.dump(e2e, fh)
        else:
            layers = dict(outcome.layers, **{"jvm.peak_rss_mb": rss})
            layers["session.get_spark_s"] = median(
                [s.end - s.start for s in tracer.named("session.get_spark")]
            )
            layers["schema_compiler.compile_s"] = median(
                [s.end - s.start for s in tracer.named("schema_compiler.compile")]
            )
            summary["traced_end_to_end"] = e2e
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    summary["untraced_end_to_end"] = base = json.load(fh)
                layers["trace.overhead_share"] = (
                    base["items_per_s"]["value"] / outcome.items_per_s - 1
                )
            metrics = {
                k: {"value": float(layers.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER.items()
            }
            tracer.dump(stem + "-spans.json")
        with open(stem + ".json", "w") as fh:
            json.dump(summary, fh, indent=1)
        print(json.dumps({"summary": summary}))
        print(json.dumps({
            "correct": outcome.failed == 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": metrics,
        }))
        code = 0
    except Exception:  # noqa: BLE001 - report, clean up, exit non-zero
        traceback.print_exc()
    finally:
        try:
            harness.shutdown()
        finally:
            for path in (work, os.environ["SPARK_LOCAL_DIRS"]):
                shutil.rmtree(path, ignore_errors=True)
                try:
                    os.removedirs(os.path.dirname(path))  # parents, while empty
                except OSError:
                    pass
    return code


if __name__ == "__main__":
    sys.exit(main())
