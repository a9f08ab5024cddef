"""The repository's benchmark: one workload per run, one JSON result line.

Usage, from the repository root::

    python3 perfbench/run.py --workload lloyd_cli_100k --seed 1 --seconds 10 --trace 0

Workloads (see ``BENCHMARK.json`` and ``perfbench/LAYERS.md``):

- ``lloyd_cli_100k``: the reference command line on 100k points, d=30, k=4;
- ``pipeline_sf001``: 17 registry queries over the bundled sf0.01 tables,
  one cold pass and at least two warm passes.

Each workload builds its session with the package's own
``session.get_session`` on ``local[<nproc>]``, checks every output and
counts the operations that raised or failed their check. With
``--trace 0`` the result holds the end-to-end metrics, measured without
tracing. With ``--trace 1`` it holds the per-layer metrics from spans
around the calls into each layer, plus the reference floors and the
tracing overhead. The last line of standard output is the JSON result;
the lines before it name each metric with its unit and sample count.

Everything the run writes stays under the repository root: the inputs and
Spark's scratch space go to ``.perfbench-work/``, the engine's artifacts
to ``.tmp/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "k_means_in_mapreduce_spark"
WORKLOADS = ("lloyd_cli_100k", "pipeline_sf001")

END_TO_END = {
    "iter_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
}


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak resident set size of this process and its descendants, sampled
    from /proc in two parts: the Python processes (this one and Spark's
    Python workers), summed, and the JVM.

    Processes are told apart by their executable, not their name: a child
    the JVM spawns shares the JVM's memory until it calls exec, and carries
    the name of the JVM thread that spawned it. Such a child counts in
    neither part, and the JVM part is the largest Java process, so that the
    JVM is counted once."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.peak_python = self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_rss() -> tuple[int, int]:
        parent, rss = {}, {}
        page = os.sysconf("SC_PAGE_SIZE")
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
                parent[int(pid)] = int(fields[1])
                rss[int(pid)] = int(fields[21]) * page
            except (OSError, IndexError, ValueError):
                continue  # the process ended while being read
        me = os.getpid()
        python = java = 0
        for pid, size in rss.items():
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p != me:
                continue
            try:
                exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
            except OSError:
                continue  # ended, or a kernel thread
            if exe.startswith("python"):
                python += size
            elif exe == "java":
                java = max(java, size)
        return python, java

    def _sample(self):
        python, java = self.tree_rss()
        self.peak_python = max(self.peak_python, python)
        self.peak_jvm = max(self.peak_jvm, java)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.INTERVAL_S)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()
        self._sample()


class Context:
    """What a workload needs: the session, its arguments, the work
    directory, and the timed-part markers."""

    def __init__(self, args, started: float):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.root = ROOT
        self.work = os.path.join(ROOT, ".perfbench-work")
        self.nproc = len(os.sched_getaffinity(0))
        self.started = started
        self.setup_s = None
        self.spark = None
        self._rss = RssSampler()
        self._tracer = None

    def tracer(self):
        """The run's tracer when tracing is on, else None."""
        if self.trace and self._tracer is None:
            from tracer import Tracer

            self._tracer = Tracer(self.spark)
        return self._tracer

    def begin_timed(self):
        self.setup_s = time.monotonic() - self.started
        self._rss.start()

    def end_timed(self):
        self._rss.stop()
        self.peak_python_mb = self._rss.peak_python / (1 << 20)
        self.peak_jvm_mb = self._rss.peak_jvm / (1 << 20)


def start_session(ctx):
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.nproc)
    from k_means_in_mapreduce_spark.session import get_session

    ctx.spark = get_session(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{ctx.nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(ctx.work, "spark-local"),
            "spark.driver.extraJavaOptions": "-Djava.io.tmpdir="
            + os.path.join(ctx.work, "tmp"),
        },
    )
    ctx.spark.sparkContext.setLogLevel("ERROR")


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM, and with it every Python
    worker it forked, has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    started = time.monotonic() - process_age()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the {PACKAGE} package is not at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    ctx = Context(args, started)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(ctx.work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(ctx.work, "tmp")

    if args.workload == "pipeline_sf001":
        import pipeline

        pipeline.clear_artifacts(ROOT)  # before the package is imported
        run = pipeline.run
    else:
        import lloyd

        run = lloyd.run_cli

    start_session(ctx)
    try:
        result = run(ctx)
    finally:
        stop_session(ctx.spark)

    for err in result["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    if ctx.trace:
        metrics = {
            name: {"value": float(v), "unit": unit}
            for name, unit, v in layer_rows(
                {**result["layers"], "runtime.jvm_peak_rss_mb": ctx.peak_jvm_mb}
            )
        }
        for name, m in metrics.items():
            print(f"{name} = {m['value']:.6g} {m['unit']}")
    else:
        samples = dict(result["e2e"])
        samples["setup_s"] = [ctx.setup_s]
        samples["peak_rss_mb"] = [ctx.peak_python_mb]
        metrics = {}
        for name, unit in END_TO_END.items():
            value = statistics.median(samples[name])
            metrics[name] = {"value": value, "unit": unit}
            shown = ", ".join(f"{v:.4g}" for v in samples[name])
            print(f"{name} = {value:.6g} {unit} (median of n={len(samples[name])}: {shown})")
    print(f"ops = {result['attempted']}, ops_failed = {result['failed']}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def layer_rows(layers: dict):
    """Every per-layer metric in BENCHMARK.json order, 0 where the
    workload does not call the layer."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer"]
    for m in spec:
        yield m["name"], m["unit"], layers.get(m["name"], 0.0)


if __name__ == "__main__":
    sys.exit(main())
