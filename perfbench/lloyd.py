"""Workload ``lloyd_cli_100k``: Lloyd's k-means through the reference CLI.

The workload calls the reference's command line in process,
``cli.main([in, "4", "10", out, "30", "0", "<nproc>"])``, on 100k
Gaussian-blob points with d=30 and k=4 (the paper's Fig. 3.5
configuration), written as ``<x1, ..., xd>`` text lines.

It is a closed loop with one client. Each fit is checked by replaying
its ``centroid_history`` in NumPy one step at a time from the initial
sample; the CLI's centroid file must parse back to the final centroids.
"""

from __future__ import annotations

import functools
import glob
import os
import statistics
import time

import numpy as np
from tracer import Patches

CLI_N, CLI_D, CLI_K, CLI_ITERS = 100_000, 30, 4, 10
# Replayed centroids may differ from the engine's only by the order of
# float64 summation.
RTOL, ATOL = 1e-9, 1e-9


def blobs(seed: int, salt: int, n: int, d: int, k: int) -> np.ndarray:
    """n points around k centres drawn uniformly in [-3, 3]^d, unit
    Gaussian noise; a pure function of (seed, salt)."""
    rng = np.random.default_rng([seed, salt])
    centres = rng.uniform(-3.0, 3.0, (k, d))
    return centres[rng.integers(0, k, n)] + rng.standard_normal((n, d))


class Replay:
    """Lloyd steps in NumPy over the workload's points, for checking.

    A step finds each point's nearest centre by the same squared-norm
    expansion the engine uses (first index wins a tie) and returns the
    mean and size of each cluster. Steps are memoised on their input
    centres, so a repeated fit of the same input replays nothing twice."""

    def __init__(self, X: np.ndarray):
        self.XT = np.ascontiguousarray(X.T, dtype=np.float64)
        self.xn2 = (self.XT * self.XT).sum(0)
        self._memo: dict[bytes, tuple[np.ndarray, np.ndarray]] = {}

    def step(self, C: np.ndarray):
        key = C.tobytes()
        if key not in self._memo:
            k = len(C)
            d2 = C @ self.XT
            d2 *= -2.0
            d2 += self.xn2[None, :]
            d2 += (C * C).sum(1)[:, None]
            cid = d2.argmin(0)
            counts = np.bincount(cid, minlength=k)
            sums = np.stack(
                [np.bincount(cid, weights=row, minlength=k) for row in self.XT], 1
            )
            self._memo[key] = (sums / np.maximum(counts, 1)[:, None], counts)
        return self._memo[key]

    def check(self, samples, model, iters) -> str | None:
        """Replay ``model.centroid_history`` one step at a time.

        ``samples`` are the fit's initial sample followed by the sample
        drawn at each empty-cluster re-initialisation. A step that leaves
        a cluster empty is where the engine re-samples: the replay moves
        on to the next sample without an update, as the engine does."""
        if model.n_iter != iters:
            return f"ran {model.n_iter} iterations, not {iters}"
        if len(model.centroid_history) + model.reinit_count != iters:
            return "updates and re-initialisations do not add up to the iterations"
        if len(samples) != model.reinit_count + 1:
            return f"{len(samples)} samples for {model.reinit_count} re-initialisations"
        prev, used = np.asarray(samples[0], dtype=np.float64), 1
        for i, snap in enumerate(model.centroid_history, start=1):
            want, counts = self.step(prev)
            while (counts == 0).any():
                if used == len(samples):
                    return f"update {i}: the replay leaves a cluster empty"
                want, counts = self.step(np.asarray(samples[used], dtype=np.float64))
                used += 1
            got = np.asarray(snap, dtype=np.float64)
            if not np.allclose(got, want, rtol=RTOL, atol=ATOL):
                return f"update {i}: max |diff| {np.abs(got - want).max():.3g}"
            prev = got
        return None


def _recorded(sink: list, orig):
    def call(*args, **kwargs):
        t = time.monotonic()
        out = orig(*args, **kwargs)
        sink.append((t, time.monotonic(), out))
        return out

    return call


class Capture:
    """Keeps the start, end and return value of every call of
    ``kmeans_df.fit``, ``sample_initial_centroids`` and
    ``cluster_features_arrow``, for the output checks and the loop time.
    Installed on untraced and traced runs alike."""

    def __init__(self, kmeans_df):
        self.fits, self.inits, self.iters = [], [], []
        self._patches = Patches()
        for attr, sink in (
            ("fit", self.fits),
            ("sample_initial_centroids", self.inits),
            ("cluster_features_arrow", self.iters),
        ):
            self._patches.wrap(kmeans_df, attr, functools.partial(_recorded, sink))

    def restore(self):
        self._patches.restore()

    def take(self):
        """The model of the fit that just ran, every sample it drew, and
        its Lloyd loop time: first iteration start to last iteration end."""
        model = self.fits[-1][2]
        samples = [out for _, _, out in self.inits]
        loop_s = self.iters[-1][1] - self.iters[0][0] if self.iters else 0.0
        for sink in (self.fits, self.inits, self.iters):
            sink.clear()
        return model, samples, loop_s


def _loop(ctx, op, min_ops, tracer):
    """Run ``op(tracer_or_None)`` until ``ctx.seconds`` have passed and at
    least ``min_ops`` ran; ``op`` returns the wall time of its call into
    the engine and the Lloyd loop time within it. A traced run alternates
    untraced and traced operations, starting untraced (three at least), so
    the tracing overhead compares like with like. Returns the results of
    the untraced and the traced operations."""
    plain, traced = [], []
    t0 = time.monotonic()
    i = 0
    while i < min_ops or time.monotonic() - t0 < ctx.seconds:
        if tracer is not None and i % 2 == 1:
            tracer.reader.skip()  # the untraced operation's jobs are not read
            with tracer.operation():
                traced.append(op(tracer))
        else:
            plain.append(op(None))
        i += 1
    return plain, traced


def floors(ctx, cached_df, X, k) -> dict:
    """Reference lines on the workload's own input: a single-process
    NumPy step, an empty ``mapInArrow`` over the same cached partitions,
    and an empty JVM-only job. Each is the median of three."""
    spark = ctx.spark
    C = X[:k].astype(np.float64)

    def numpy_step():
        # the engine's per-batch kernel, in one process over 100k-row chunks
        sums = np.zeros(C.shape)
        counts = np.zeros(k, dtype=np.int64)
        cn2 = (C * C).sum(1)
        for i in range(0, len(X), 100_000):
            x = X[i : i + 100_000].astype(np.float64, copy=False)
            cid = ((x * x).sum(1)[:, None] - 2.0 * (x @ C.T) + cn2[None, :]).argmin(1)
            counts += np.bincount(cid, minlength=k)
            np.add.at(sums, cid, x)
        return sums / np.maximum(counts, 1)[:, None]

    def empty_arrow():
        def drain(batches):
            for _ in batches:
                pass
            return iter(())

        cached_df.select("features").mapInArrow(drain, "n long").collect()

    def jvm_job():
        n = spark.sparkContext.defaultParallelism
        spark.range(0, n, 1, n).write.format("noop").mode("overwrite").save()

    def med(fn, reps=3):
        ts = []
        for _ in range(reps):
            t = time.monotonic()
            fn()
            ts.append(time.monotonic() - t)
        return statistics.median(ts)

    return {
        "floor.numpy_iter_s": med(numpy_step),
        "floor.empty_map_in_arrow_s": med(empty_arrow),
        "floor.jvm_job_s": med(jvm_job, 5),
    }


def _median(vals, default=0.0):
    vals = list(vals)
    return statistics.median(vals) if vals else default


def kmeans_layer_metrics(tracer) -> dict:
    """``kmeans_df.*`` metrics from the spans of every traced operation."""
    iters = tracer.named("kmeans_df.cluster_features_arrow")
    fits = tracer.named("kmeans_df.fit")
    inits = tracer.named("kmeans_df.sample_initial_centroids")

    def stages(span):
        return [s for j in span.jobs for s in j["stage_data"]]

    def py(span, key):
        return sum(j["python"][key] for j in span.jobs)

    def job_s(span):
        return sum(j["end"] - j["start"] for j in span.jobs if j["end"] and j["start"])

    out = {
        "kmeans_df.iter.jobs": _median(len(s.jobs) for s in iters),
        "kmeans_df.iter.tasks": _median(sum(st["tasks"] for st in stages(s)) for s in iters),
        "kmeans_df.iter.driver_s": _median(s.duration - job_s(s) for s in iters),
        "kmeans_df.iter.executor_cpu_ms": _median(sum(st["cpu_ms"] for st in stages(s)) for s in iters),
        "kmeans_df.iter.gc_ms": _median(sum(st["gc_ms"] for st in stages(s)) for s in iters),
    }
    for key in ("python_start_ms", "python_init_ms", "python_run_ms",
                "bytes_to_python", "bytes_from_python"):
        out[f"kmeans_df.iter.{key}"] = _median(py(s, key) for s in iters)

    def prelude(f):
        firsts = [c.start for c in tracer.children(f)
                  if c.name == "kmeans_df.cluster_features_arrow"]
        return (min(firsts) if firsts else f.end) - f.start

    out.update({
        "kmeans_df.fit_s": _median(f.duration for f in fits),
        "kmeans_df.fit.self_s": _median(tracer.self_time(f) for f in fits),
        "kmeans_df.fit.jobs": _median(len(f.jobs) for f in fits),
        "kmeans_df.fit.prelude_s": _median(prelude(f) for f in fits),
        "kmeans_df.init_s": _median(s.duration for s in inits),
        "kmeans_df.iter_call_s": _median(s.duration for s in iters),
    })
    return out


def _cli_layer_metrics(tracer) -> dict:
    runs = tracer.named("cli.main")
    return {
        "cli.run_s": _median(s.duration for s in runs),
        "cli.self_s": _median(tracer.self_time(s) for s in runs),
        "cli.write_s": _median(s.duration for s in tracer.named("cli._write_centroid_text")),
        "cli.jobs": _median(len(s.jobs) for s in runs),
    }


def wrap_kmeans(tracer):
    """Spans around the kmeans_df functions the engine looks up at call
    time."""
    from k_means_in_mapreduce_spark.operators import kmeans_df

    for attr in ("fit", "sample_initial_centroids", "cluster_features_arrow"):
        tracer.wrap(kmeans_df, attr, f"kmeans_df.{attr}")


def _finish(iters, plain, traced, errors, attempted, layers_fn) -> dict:
    walls = [wall for wall, _ in plain]
    result = {
        "attempted": attempted,
        "failed": len(errors),
        "errors": errors,
        "e2e": {
            "iter_s": [wall / iters for wall in walls],
            "cold_pass_s": [wall - loop for wall, loop in plain],
            "warm_pass_s": [loop for _, loop in plain],
        },
    }
    if traced:
        result["layers"] = layers_fn()
        result["layers"]["trace.overhead_frac"] = (
            statistics.median(wall for wall, _ in traced) / statistics.median(walls) - 1
        )
    return result


def _write_points_text(X: np.ndarray, path: str) -> None:
    with open(path, "w") as fh:
        # repr is the shortest round-tripping form: the engine parses the
        # exact doubles the replay uses
        for row in X.tolist():
            fh.write("<" + ", ".join(map(repr, row)) + ">\n")


def run_cli(ctx) -> dict:
    from k_means_in_mapreduce_spark import cli
    from k_means_in_mapreduce_spark.operators import kmeans_df

    work = os.path.join(ctx.work, "lloyd_cli")
    os.makedirs(work, exist_ok=True)
    path, out = os.path.join(work, "points.txt"), os.path.join(work, "centroids")
    _write_points_text(blobs(ctx.seed, 1, CLI_N, CLI_D, CLI_K), path)

    capture = Capture(kmeans_df)
    tracer = ctx.tracer()
    if tracer is not None:
        wrap_kmeans(tracer)
        tracer.wrap(cli, "_write_centroid_text", "cli._write_centroid_text")
    pending = []

    def call(iters, tr=None) -> tuple[float, float]:
        argv = [path, str(CLI_K), str(iters), out, str(CLI_D), "0", str(ctx.nproc)]
        t = time.monotonic()
        if tr is None:
            rc = cli.main(argv)
        else:
            with tr.span("cli.main"):
                rc = cli.main(argv)
        wall = time.monotonic() - t
        model, samples, loop_s = capture.take()
        pending.append((iters, rc, model, samples, _read_centroid_file(out)))
        return wall, loop_s

    # warm-up, counted in setup: the process's first two CLI runs, which
    # compile the JVM's code paths (the first timed run was still slower
    # after a single one)
    for _ in range(2):
        call(CLI_ITERS)
    ctx.begin_timed()
    plain, traced = _loop(ctx, lambda tr: call(CLI_ITERS, tr), 1 if tracer is None else 3, tracer)
    ctx.end_timed()
    if tracer is not None:
        tracer.restore()
    capture.restore()

    # the points are regenerated for the checks, so that the timed part
    # holds only the engine's own copy of them
    X = blobs(ctx.seed, 1, CLI_N, CLI_D, CLI_K)
    replay = Replay(X)
    errors = []
    for iters, rc, model, samples, parsed in pending:
        err = (
            f"exit code {rc}" if rc != 0
            else replay.check(samples, model, iters)
            or _check_centroid_file(parsed, model.centroids)
        )
        if err is not None:
            errors.append(err)

    def layers():
        from k_means_in_mapreduce_spark.sources.text_points import parse_points

        pts = parse_points(ctx.spark, path).select("features").cache()
        pts.count()
        m = {
            **kmeans_layer_metrics(tracer),
            **_cli_layer_metrics(tracer),
            **floors(ctx, pts, X, CLI_K),
        }
        pts.unpersist()
        return m

    return _finish(CLI_ITERS, plain, traced, errors, len(pending), layers)


def _read_centroid_file(out: str) -> dict[int, list[float]]:
    """The CLI's ``clusterId<TAB><c1, ..., cd>`` lines, parsed."""
    parsed = {}
    for part in glob.glob(os.path.join(out, "part-*")):
        with open(part) as fh:
            for line in fh:
                if line.strip():
                    cid, vec = line.rstrip("\n").split("\t")
                    parsed[int(cid)] = [float(v) for v in vec.strip("<>").split(", ")]
    return parsed


def _check_centroid_file(parsed, centroids) -> str | None:
    """The centroid file parses back to the fit's final centroids exactly."""
    want = [list(c) for c in centroids]
    if sorted(parsed) != list(range(len(want))):
        return f"centroid file holds clusters {sorted(parsed)}"
    if any(parsed[i] != want[i] for i in range(len(want))):
        return "centroid file differs from the fit's centroids"
    return None
