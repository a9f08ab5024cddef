"""Reference-semantics invariants for the k-means surface (SURVEY §5.2)."""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from k_means_in_mapreduce_spark.operators import kmeans_df as K
from k_means_in_mapreduce_spark.operators.kmeans_mllib import fit_mllib, transform_mllib
from k_means_in_mapreduce_spark.sources import load_table

from .conftest import SF0001


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF0001, "embeddings").cache()


def test_tiebreak_lowest_index(spark):
    """Point.java:65 strict < : equidistant centroids -> lowest index wins."""
    df = spark.createDataFrame([([0.0, 0.0],)], "features array<double>")
    # centroids 1 and 2 are both at distance sqrt(2); centroid 0 farther
    cents = [[5.0, 5.0], [1.0, 1.0], [-1.0, -1.0]]
    got = K.assign_clusters(df, cents, "features").first()["cluster_id"]
    assert got == 1
    # all equidistant -> 0
    cents = [[1.0, 1.0], [-1.0, 1.0], [1.0, -1.0]]
    got = K.assign_clusters(df, cents, "features").first()["cluster_id"]
    assert got == 0


def test_centroid_matrix_lit_folds_to_a_bit_exact_literal(spark):
    """The k×d plan literal is one JSON literal that the optimizer folds
    to an array constant holding the same doubles, bit for bit."""
    from k_means_in_mapreduce_spark.functions.vector import centroid_matrix_lit

    cents = [[-0.0, 5e-324, 1e22, 0.1], [1.7976931348623157e308, -2.5, 3e-300, 12345678.9]]
    df = spark.range(1).select(centroid_matrix_lit(cents).alias("c"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in plan
    got = np.array(df.first()["c"], dtype=np.float64)
    assert got.tobytes() == np.array(cents, dtype=np.float64).tobytes()


def _numpy_lloyd(X, init, n_iter):
    """Oracle reimplementation of the reference loop (argmin first-min
    tie-break == np.argmin; mean update)."""
    C = np.array(init, dtype=float)
    for _ in range(n_iter):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        C = np.stack([X[a == j].mean(axis=0) for j in range(len(C))])
    return C, a


def test_fit_matches_numpy_lloyd(spark, emb):
    X = np.array([r[0] for r in emb.select("embedding").collect()])
    cfg = K.KMeansConfig(k=5, max_iter=4, tol=0.0, seed=7)
    init = K.sample_initial_centroids(
        emb.select(F.col("embedding").alias("features")), cfg.k, cfg.seed, "features"
    )
    model = K.fit(emb, cfg)
    assert model.n_iter == 4 and not model.converged and model.reinit_count == 0
    C, _ = _numpy_lloyd(X, init, 4)
    np.testing.assert_allclose(np.array(model.centroids), C, rtol=1e-9, atol=1e-12)


def test_fit_deterministic(spark, emb):
    cfg = K.KMeansConfig(k=4, max_iter=3, tol=0.0, seed=123)
    m1 = K.fit(emb, cfg)
    m2 = K.fit(emb, cfg)
    assert m1.centroids == m2.centroids
    assert m1.movement_history == m2.movement_history


def test_wcss_nonincreasing(spark, emb):
    """Lloyd guarantee (Project Specifications 2023.pdf p.1)."""
    cfg = K.KMeansConfig(k=5, max_iter=1, tol=0.0, seed=7)
    init = K.sample_initial_centroids(
        emb.select(F.col("embedding").alias("features")), cfg.k, cfg.seed, "features"
    )
    values = [K.wcss(emb, init)]
    for n in (1, 2, 3):
        m = K.fit(emb, K.KMeansConfig(k=5, max_iter=n, tol=0.0, seed=7))
        values.append(K.wcss(emb, m.centroids))
    assert all(b <= a + 1e-9 for a, b in zip(values, values[1:])), values


def test_centroid_is_mean_of_assigned(spark, emb):
    """SURVEY §5.2.3b: after an update step, each centroid equals the mean
    of the points assigned to it under the PREVIOUS centroids."""
    m = K.fit(emb, K.KMeansConfig(k=4, max_iter=2, tol=0.0, seed=11))
    prev = K.fit(emb, K.KMeansConfig(k=4, max_iter=1, tol=0.0, seed=11))
    X = np.array([r[0] for r in emb.select("embedding").collect()])
    d = ((X[:, None, :] - np.array(prev.centroids)[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    for j in range(4):
        np.testing.assert_allclose(
            np.array(m.centroids[j]), X[a == j].mean(axis=0), rtol=1e-9, atol=1e-12
        )


def test_convergence_criterion(spark, emb):
    """C3: stops iff Σ‖Δc‖₂ < ε; with a huge ε it stops after iteration 1's
    movement check... movement is computed after the first update, so the
    earliest converged n_iter is 1."""
    m = K.fit(emb, K.KMeansConfig(k=3, max_iter=10, tol=1e9, seed=5))
    assert m.converged and m.n_iter == 1
    m2 = K.fit(emb, K.KMeansConfig(k=3, max_iter=3, tol=0.0, seed=5))
    assert not m2.converged and m2.n_iter == 3


def test_empty_cluster_reinit(spark):
    """C4: k > number of distinct points -> some cluster is always empty
    (tie-break sends all mass to the lower index) -> full re-sample every
    iteration, loop terminates at max_iter."""
    rows = [([0.0, 0.0],)] * 10 + [([5.0, 5.0],)] * 10
    df = spark.createDataFrame(rows, "embedding array<double>")
    m = K.fit(df, K.KMeansConfig(k=3, max_iter=4, tol=0.0, seed=1))
    assert m.reinit_count == 4 and not m.converged


def test_mllib_path_quality_parity(spark, emb):
    """MLlib production path vs DF fidelity path: different init/stop rules
    (documented deltas, kmeans_mllib.py docstring) can land in different
    local optima on these overlapping blobs, so we assert solution QUALITY
    parity — each path's WCSS within 25% of the other — plus shape checks."""
    res = fit_mllib(emb, k=10, max_iter=20, seed=42)
    assert len(res.centroids) == 10
    n_clusters = (
        transform_mllib(res, emb).select("cluster_id").distinct().count()
    )
    assert n_clusters == 10
    m = K.fit(emb, K.KMeansConfig(k=10, max_iter=30, tol=1e-4, seed=2))
    wcss_df = K.wcss(emb, m.centroids)
    wcss_ml = res.wcss
    assert wcss_ml <= wcss_df * 1.25 and wcss_df <= wcss_ml * 1.25, (wcss_ml, wcss_df)


def test_text_roundtrip(spark, emb):
    """S3/F5 fidelity: format -> parse is the identity on doubles."""
    from k_means_in_mapreduce_spark.sources.text_points import (
        format_points,
        parse_points_df,
    )

    out = parse_points_df(format_points(emb, "embedding"), "point_str")
    bad = out.filter(~(F.col("features") == F.col("embedding"))).count()
    assert bad == 0


def test_arrow_method_parity(spark, emb):
    """The Arrow/NumPy in-mapper-combiner path (method='arrow') produces the
    same centroids as the pure-expression fidelity path, up to fp summation
    order."""
    cfg_e = K.KMeansConfig(k=5, max_iter=4, tol=0.0, seed=7, method="expr")
    cfg_a = K.KMeansConfig(k=5, max_iter=4, tol=0.0, seed=7, method="arrow")
    m_e, m_a = K.fit(emb, cfg_e), K.fit(emb, cfg_a)
    assert m_a.n_iter == m_e.n_iter
    np.testing.assert_allclose(
        np.array(m_a.centroids), np.array(m_e.centroids), rtol=1e-9, atol=1e-12
    )


def test_cli_reference_invocation(spark, tmp_path):
    """python -m k_means_in_mapreduce_spark with the reference's exact 7
    positional args (KMeans.java:96-109): text-point input -> seeded fit
    -> 'clusterId<TAB><c1, c2, ...>' text output (KMeans.java:90,150)
    plus run report. Consumers filter part-* like the reference's own
    readAndAddCentroid filters part-r-* (KMeans.java:228)."""
    import json
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "cents")
    emb = load_table(spark, SF0001, "embeddings").limit(200)
    write_points(emb, inp, "embedding")

    assert main([inp, "4", "10", out, "64", "0.001", "4"]) == 0

    lines = [
        r["value"]
        for r in spark.read.text(os.path.join(out, "part-*")).collect()
    ]
    assert len(lines) == 4
    parsed = {}
    for ln in lines:
        cid, vec = ln.split("\t", 1)
        assert vec.startswith("<") and vec.endswith(">")
        parsed[int(cid)] = [float(x) for x in vec[1:-1].split(", ")]
    assert sorted(parsed) == [0, 1, 2, 3]
    assert all(len(v) == 64 for v in parsed.values())

    report = json.load(open(os.path.join(out, "_run_report.json")))
    assert report["k"] == 4 and report["iterations"] >= 1
    # the cumulative log lives BESIDE the output dir (the overwrite sink
    # wipes the dir itself each run) and appends across runs
    log_path = str(tmp_path / "outputsLog.txt")
    assert os.path.exists(log_path)
    n_lines_1 = len(open(log_path).read().splitlines())
    assert main([inp, "4", "10", out, "64", "0.001", "4"]) == 0
    assert len(open(log_path).read().splitlines()) == n_lines_1 + 1

    # bad invocations fail fast with the reference's arg contract
    assert main(["onlyone"]) == 2
    assert main([inp, "0", "10", out, "64", "0.001", "4"]) == 2
    # declared dim mismatching the data is a validation error, not a crash
    assert main([inp, "4", "10", out, "63", "0.001", "4"]) == 1


def test_mllib_model_persistence_roundtrip(spark, tmp_path, emb):
    """Production-path model lifecycle: a fitted KMeansModel saved to
    storage and reloaded in a fresh object must carry identical centers
    and produce identical assignments — the deploy/score split a
    long-lived pipeline runs (train once, score from the artifact)."""
    from pyspark.ml.clustering import KMeansModel

    res = fit_mllib(emb, k=10, max_iter=10, seed=42)
    path = str(tmp_path / "kmeans_model")
    res.model.write().overwrite().save(path)
    loaded = KMeansModel.load(path)

    orig = np.array(res.model.clusterCenters())
    back = np.array(loaded.clusterCenters())
    assert np.array_equal(orig, back)

    from pyspark.ml.functions import array_to_vector

    vecs = emb.withColumn("__features", array_to_vector(F.col("embedding")))
    a = {r["vec_id"]: r["cluster_id"] for r in res.model.transform(vecs).collect()}
    b = {r["vec_id"]: r["cluster_id"] for r in loaded.transform(vecs).collect()}
    assert a == b


def test_cli_rejects_non_numeric_tokens_and_negative_epsilon(spark, tmp_path, capsys):
    """Reference parity for malformed input: a non-numeric or non-finite
    token must fail the run (KMeans.java:269 dies on NumberFormatException)
    instead of becoming a NULL element that passes the arity gate and
    poisons the centroids with NaN; a negative epsilon is rejected at
    argument validation like the other numeric args."""
    from k_means_in_mapreduce_spark.cli import main

    out = str(tmp_path / "out")
    for i, bad_line in enumerate(
        ["<3.0, abc>", "<NaN, 1.0>", "<Infinity, 1.0>", "<1e400, 1.0>"]
    ):
        inp = tmp_path / f"pts{i}"
        inp.mkdir()
        (inp / "points.txt").write_text(f"<1.0, 2.0>\n{bad_line}\n<5.0, 6.0>\n")
        rc = main([str(inp), "2", "3", out, "2", "0.001", "2"])
        assert rc == 1, bad_line
        err = capsys.readouterr().err
        assert "1 input line(s) do not have the declared dim=2" in err, bad_line
        assert "non-numeric or non-finite values" in err, bad_line

    rc2 = main([str(inp), "2", "3", out, "2", "-0.5", "2"])
    assert rc2 == 2


def test_iteration_partitions_regimes():
    """Pin the three sizing regimes: overhead floor (8 tasks) for tiny
    data, ~4 MiB/task capped at core count mid-range, and >= bytes/128 MiB
    at scale so huge caches are never coalesced below what fits executor
    memory."""
    mib = 1024 * 1024
    # tiny data: floor of min(8, parallelism)
    assert K._iteration_partitions(1 * mib, 32) == 8
    assert K._iteration_partitions(1 * mib, 4) == 4
    # mid-range: ceil(bytes / 4 MiB), capped at core count
    assert K._iteration_partitions(51 * mib, 32) == 13
    assert K._iteration_partitions(512 * mib, 32) == 32
    # at-scale: memory bound dominates (100 TB -> bytes/128MiB partitions)
    tb = 1024**4
    assert K._iteration_partitions(100 * tb, 1000) == 100 * tb // (128 * mib)
    # degenerate inputs never go below 1
    assert K._iteration_partitions(0, 0) == 1


def test_cli_fidelity_writes_per_iteration_dirs(spark, tmp_path, capsys):
    """--fidelity reproduces the reference's per-iteration output
    directories (`output + iter`, KMeans.java:148): <out>1..<out>N each
    hold that iteration's centroids in the same text shape, and <out>N
    equals the final <out>."""
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "cents")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    assert main([inp, "3", "4", out, "64", "0.0", "2", "--fidelity"]) == 0
    # fresh path: nothing pre-existing, so the pre-flight must NOT print
    # the vetted-entries line (it would be noise on every clean run)
    assert "vetted" not in capsys.readouterr().err

    def read_dir(path):
        return sorted(
            r["value"]
            for r in spark.read.text(os.path.join(path, "part-*")).collect()
        )

    # tol=0 never converges -> exactly max_iter=4 completed iterations
    iter_dirs = [f"{out}{i}" for i in range(1, 5)]
    for d in iter_dirs:
        assert os.path.isdir(d), d
        assert len(read_dir(d)) == 3
    assert not os.path.isdir(f"{out}5")
    assert read_dir(iter_dirs[-1]) == read_dir(out)
    # a shorter re-run on the same path sweeps the stale higher dirs —
    # otherwise a user diffing per-iteration output reads two runs as one
    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 0
    assert os.path.isdir(f"{out}2")
    assert not os.path.isdir(f"{out}3") and not os.path.isdir(f"{out}4")
    # the re-run found <out>1..<out>4 pre-existing: the pre-flight must
    # name them as overwrite/sweep-eligible on stderr BEFORE destroying
    # anything, so a vetted-but-foreign sibling output is visible
    # (ADVICE r8; contiguous indices collapse to one brace-style span)
    err = capsys.readouterr().err
    assert "vetted" in err
    assert f"{out}{{1..4}}" in err
    # default run writes no per-iteration dirs
    out2 = str(tmp_path / "cents_plain")
    assert main([inp, "3", "4", out2, "64", "0.0", "2"]) == 0
    assert not os.path.isdir(f"{out2}1")


def test_cli_fidelity_vet_line_collapses_ranges_without_hiding_entries():
    """The vetted-entries disclosure collapses contiguous index runs so a
    1000-iteration history reads as one span — but every index must be
    REPRESENTED: a foreign dir at index 421 sits inside the named span,
    never silently beyond a truncation point (no Spark: pure string
    formatting)."""
    from k_means_in_mapreduce_spark.cli import _format_vetted

    short = _format_vetted("/tmp/res", {3, 1})
    assert "/tmp/res1, /tmp/res3" in short and "more" not in short
    # spans render shell-brace style so the range delimiter never glues
    # two absolute paths into one ".."-containing pseudo-path (ADVICE r9)
    long = _format_vetted("/tmp/res", set(range(1, 1001)))
    assert "/tmp/res{1..1000}" in long and "more" not in long
    # gapped layout: each gap starts a new span
    gapped = _format_vetted("/tmp/res", {1, 2, 3, 7, 9, 10})
    assert "/tmp/res{1..3}" in gapped
    assert "/tmp/res7, /tmp/res{9..10}" in gapped
    # pathological alternating gaps overflow the span cap; the summary
    # still accounts for every hidden entry by exact count
    alt = _format_vetted("/tmp/res", set(range(1, 101, 2)))  # 50 spans
    assert "(+30 more entries)" in alt


def test_cli_fidelity_vet_line_represents_every_index_property():
    """Property: parsing the disclosure back (named paths + span ranges +
    the '+N more' remainder) accounts for EXACTLY the vetted set — no
    index is silently dropped, none invented (no Spark)."""
    import re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from k_means_in_mapreduce_spark.cli import _format_vetted

    @settings(max_examples=200, deadline=None)
    @given(st.sets(st.integers(min_value=1, max_value=500), min_size=1))
    def check(idx):
        line = _format_vetted("/tmp/out", idx)
        body = line.split("overwrite/sweep: ", 1)[1]
        m = re.search(r" \(\+(\d+) more entries\)$", body)
        hidden = int(m.group(1)) if m else 0
        body = body[: m.start()] if m else body
        named: set[int] = set()
        for item in body.split(", "):
            span = re.fullmatch(r"/tmp/out\{(\d+)\.\.(\d+)\}", item)
            if span:
                lo, hi = int(span.group(1)), int(span.group(2))
            else:
                lo = hi = int(item[len("/tmp/out"):])
            named.update(range(lo, hi + 1))
        assert named <= idx  # never invents an index
        assert len(idx - named) == hidden  # remainder exactly counted

    check()


def test_cli_fidelity_refuses_unrelated_dirs_before_any_work(
    spark, tmp_path, capsys
):
    """--fidelity only ever touches directories that look like a previous
    run's centroid output (_SUCCESS / part-* files). An unrelated user
    directory matching the <output><N> naming makes the run fail loudly
    BEFORE any Spark work — nothing is fitted, written, or deleted
    (ADVICE r6 medium + the r7 review's fail-fast refinement)."""
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "res")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    # an unrelated pre-existing dir matching the numeric-suffix naming:
    # with max_iter=2 a previous longer run's sweep would start at <out>3
    unrelated = tmp_path / "res3"
    unrelated.mkdir()
    (unrelated / "precious.txt").write_text("user data")

    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 1
    assert unrelated.is_dir()
    assert (unrelated / "precious.txt").read_text() == "user data"
    assert "refusing to run" in capsys.readouterr().err
    # fail-fast: the refusal must land before the fit writes anything
    assert not os.path.exists(out)
    assert not os.path.exists(f"{out}1")

    # user resolves the conflict; re-run must now succeed
    import shutil

    shutil.rmtree(unrelated)

    # a dir beyond a GAP above max_iter is untouchable by overwrite (only
    # reaches i <= max_iter) and by the sweep (contiguous walk) — it must
    # NOT block the run, and must survive it
    backup = tmp_path / "res2024"
    backup.mkdir()
    (backup / "precious.txt").write_text("year-stamped backup")
    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 0
    assert (backup / "precious.txt").read_text() == "year-stamped backup"


def test_cli_uri_output_writes_report_to_working_dir(
    spark, tmp_path, monkeypatch, capsys
):
    """A URI output (hdfs://, s3a://, file://) is reachable by the Spark
    writer but not by os-level open(): the centroids land at the URI and
    the report/log fall back to the working directory — where the
    reference keeps outputsLog.txt anyway — instead of crashing after a
    successful fit. The --fidelity stale sweep is skipped with a warning
    (local paths only)."""
    import json
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    workdir = tmp_path / "wd"
    workdir.mkdir()
    monkeypatch.chdir(workdir)
    out = f"file://{tmp_path}/cents_uri"

    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 0

    # centroids reached the URI target via the Spark writer
    assert (tmp_path / "cents_uri" / "_SUCCESS").exists()
    assert (tmp_path / "cents_uri1").is_dir()  # per-iteration snapshot
    # report + cumulative log landed in the working directory
    report = json.loads((workdir / "_run_report.json").read_text())
    assert report["output"] == out and report["iterations"] == 2
    assert "k=3" in (workdir / "outputsLog.txt").read_text()
    err = capsys.readouterr().err
    assert "output is a URI" in err
    assert "are NOT swept" in err


def test_cli_fidelity_toctou_refusal_still_writes_report(
    spark, tmp_path, monkeypatch, capsys
):
    """An unrelated dir that appears BETWEEN the pre-flight vet and the
    stale sweep (TOCTOU) makes the sweep refuse — but the fit already
    succeeded and its centroid outputs are on disk, so the run report and
    cumulative log must still be written; exit 1 flags the unswept dirs
    (ADVICE r7: a bare failure exit with partial outputs read as a total
    failure)."""
    import json
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.operators import kmeans_df
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "res")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    real_fit = kmeans_df.fit

    def fit_then_plant(*a, **kw):
        model = real_fit(*a, **kw)
        # lands after pre-flight, before the sweep's contiguous walk
        # (max_iter=2, tol=0 -> sweep starts at <out>3)
        mid = tmp_path / "res3"
        mid.mkdir()
        (mid / "precious.txt").write_text("user data")
        return model

    monkeypatch.setattr(kmeans_df, "fit", fit_then_plant)

    assert main([inp, "3", "2", out, "64", "0.0", "2", "--fidelity"]) == 1
    err = capsys.readouterr().err
    assert "refusing to remove" in err
    assert "already written" in err
    # the planted dir survives untouched
    assert (tmp_path / "res3" / "precious.txt").read_text() == "user data"
    # the successful fit's outputs + report + log all landed anyway
    assert os.path.isdir(f"{out}1") and os.path.isdir(f"{out}2")
    report = json.load(open(os.path.join(out, "_run_report.json")))
    assert report["iterations"] == 2
    assert "k=3" in (tmp_path / "outputsLog.txt").read_text()


def test_cli_fidelity_sweeps_gapped_stale_dirs_and_refuses_plain_files(
    spark, tmp_path, capsys
):
    """Two guard gaps from the r8 review: (1) the stale sweep must remove
    run-output dirs BEYOND a gap (a contiguous-only walk stopped at the
    first missing index and silently left two runs' centroids mixed);
    (2) a plain FILE named <out><i> is destroyed by Spark's overwrite
    write just like a dir, so pre-flight must refuse it, not skip it via
    an isdir filter."""
    import os

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "res")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    # (2) plain file at a touchable index: refuse before any work
    clobber_target = tmp_path / "res1"
    clobber_target.write_text("user notes")
    assert main([inp, "3", "8", out, "64", "1e12", "2", "--fidelity"]) == 1
    assert "refusing to run" in capsys.readouterr().err
    assert clobber_target.read_text() == "user notes"
    clobber_target.unlink()

    # (1) fake previous-run outputs at res5/res6 with a gap at 2-4;
    # epsilon=1e12 converges after 1 iteration, so final=1 and a
    # contiguous walk from 2 would find nothing and leave them behind
    for i in (5, 6):
        d = tmp_path / f"res{i}"
        d.mkdir()
        (d / "_SUCCESS").write_text("")
        (d / "part-00000").write_text("0\t<0.0>\n")
    # a gap dir BEYOND max_iter stays untouchable and must survive
    backup = tmp_path / "res2024"
    backup.mkdir()
    (backup / "_SUCCESS").write_text("")

    assert main([inp, "3", "8", out, "64", "1e12", "2", "--fidelity"]) == 0
    assert os.path.isdir(f"{out}1")
    assert not os.path.exists(f"{out}5") and not os.path.exists(f"{out}6")
    assert backup.is_dir()


def test_cli_fidelity_preflight_is_listdir_not_per_index_stat(
    spark, tmp_path
):
    """The pre-flight vet must cost one parent listdir, not one stat per
    index up to max_iter (ADVICE r7: max_iter=10^9 stalled the CLI before
    any work). With a huge max_iter and a large epsilon the run converges
    after one iteration — it completes at all only if pre-flight doesn't
    walk the index range. A wall-clock alarm turns a reintroduced
    O(max_iter) loop into a crisp failure instead of an apparent suite
    hang (ADVICE r8)."""
    import os
    import signal

    from k_means_in_mapreduce_spark.cli import main
    from k_means_in_mapreduce_spark.sources.text_points import write_points

    inp = str(tmp_path / "pts")
    out = str(tmp_path / "res")
    emb = load_table(spark, SF0001, "embeddings").limit(100)
    write_points(emb, inp, "embedding")

    def _too_slow(signum, frame):
        raise AssertionError(
            "CLI --fidelity run exceeded the 300s wall-clock bound: the "
            "pre-flight has likely regressed to a per-index stat loop "
            "over max_iter=10^9 (it must listdir the parent once)"
        )

    prev = signal.signal(signal.SIGALRM, _too_slow)
    signal.alarm(300)  # one-iteration fit on 100 points: normally <60s
    try:
        assert main(
            [inp, "3", "1000000000", out, "64", "1e12", "2", "--fidelity"]
        ) == 0
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, prev)
    assert os.path.isdir(f"{out}1")


def test_centroid_id_integrity_raises_with_ids(spark, monkeypatch):
    """C5 is a raised error, not an assert (`python -O` strips asserts),
    and it names the missing and unexpected cluster ids."""
    df = spark.createDataFrame(
        [([float(i), 0.0],) for i in range(6)], "embedding array<double>"
    )
    monkeypatch.setattr(
        K,
        "cluster_features_arrow",
        lambda points, centroids, col: [(0, 1, [0.0, 0.0]), (1, 1, [1.0, 0.0]), (5, 1, [5.0, 0.0])],
    )
    cfg = K.KMeansConfig(k=3, max_iter=2, tol=0.0, seed=1, method="arrow")
    with pytest.raises(RuntimeError, match=r"missing \[2\], unexpected \[5\]"):
        K.fit(df, cfg)


def _tagged_jobs(spark, tag: str) -> list[int]:
    """Ids of the jobs the status store holds under ``tag`` (stored with a
    session/thread prefix, so matched on the suffix)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    ids = []
    jobs = sc.statusStore().jobsList(None).iterator()
    while jobs.hasNext():
        j = jobs.next()
        tags = j.jobTags().iterator()
        while tags.hasNext():
            t = str(tags.next())
            if t == tag or t.endswith("-" + tag):
                ids.append(j.jobId())
                break
    return ids


def test_arrow_fit_job_count(spark):
    """One Spark job per arrow iteration, plus the cache count and the
    init sample: N + 2 jobs for max_iter=N, tol=0, no re-inits."""
    import uuid

    rng = np.random.default_rng(11)
    centres = np.array([[0.0, 0.0, 0.0], [20.0, 0.0, 0.0], [0.0, 20.0, 0.0]])
    pts = centres[np.arange(60) % 3] + rng.normal(size=(60, 3))
    df = spark.createDataFrame(
        [(row.tolist(),) for row in pts], "embedding array<double>"
    )
    n_iter = 3
    tag = f"fit-jobs-{uuid.uuid4().hex}"
    spark.addTag(tag)
    try:
        m = K.fit(df, K.KMeansConfig(k=3, max_iter=n_iter, tol=0.0, seed=4, method="arrow"))
    finally:
        spark.removeTag(tag)
    assert m.reinit_count == 0 and m.n_iter == n_iter
    assert len(_tagged_jobs(spark, tag)) == n_iter + 2


def test_cli_job_count(spark, tmp_path):
    """An N-iteration CLI run is N + 6 Spark jobs: the input is parsed
    inside the validation count that fills the cache, so a second pass
    over the text shows up here as an extra job."""
    import uuid

    from k_means_in_mapreduce_spark.cli import main

    rng = np.random.default_rng(5)
    centres = np.array([[0.0, 0.0, 0.0], [20.0, 0.0, 0.0], [0.0, 20.0, 0.0]])
    pts = centres[np.arange(60) % 3] + rng.normal(size=(60, 3))
    inp = tmp_path / "points.txt"
    inp.write_text("".join("<" + ", ".join(map(repr, p)) + ">\n" for p in pts.tolist()))
    n_iter = 3
    tag = f"cli-jobs-{uuid.uuid4().hex}"
    spark.addTag(tag)
    try:
        rc = main([str(inp), "3", str(n_iter), str(tmp_path / "out"), "3", "0", "2"])
    finally:
        spark.removeTag(tag)
    assert rc == 0
    with open(tmp_path / "out" / "_run_report.json") as fh:
        report = json.load(fh)
    assert report["iterations"] == n_iter and report["empty_cluster_reinits"] == 0
    assert len(_tagged_jobs(spark, tag)) == n_iter + 6


def _reference_centroid_write(spark, centroids, path):
    """The CLI's centroid writer as it was built on createDataFrame."""
    from k_means_in_mapreduce_spark.sources.text_points import format_points

    cents = spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster_id int, features array<double>",
    )
    format_points(cents).select(
        F.concat_ws("\t", F.col("cluster_id").cast("string"), "point_str").alias("value")
    ).coalesce(1).write.mode("overwrite").text(path)


def _part_bytes(path) -> bytes:
    import glob
    import os

    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    assert len(parts) == 1, parts
    with open(parts[0], "rb") as fh:
        return fh.read()


EDGE_HISTORY = [
    [[-0.0, 1e-7, 1e22, 12345678.9], [1.0, -2.5, 3e-300, 0.1]],
    [[12345678.9, -0.0, 1e-7, -1e22], [0.30000000000000004, 5e-324, -0.0, 2.0]],
]


def test_cli_centroid_files_match_reference_writer(spark, tmp_path, monkeypatch):
    """The CLI's final centroid file and its --fidelity per-iteration dirs
    are byte-identical to the createDataFrame-built writer, on edge
    doubles (-0.0, 1e-7, 1e22, 12345678.9, subnormals)."""
    from k_means_in_mapreduce_spark import cli

    inp = tmp_path / "pts.txt"
    inp.write_text("<0.0, 0.0, 0.0, 0.0>\n<1.0, 1.0, 1.0, 1.0>\n<9.0, 9.0, 9.0, 9.0>\n")

    def fake_fit(df, config):
        return K.KMeansModel(
            centroids=EDGE_HISTORY[-1],
            n_iter=len(EDGE_HISTORY),
            converged=False,
            movement_history=[1.0] * len(EDGE_HISTORY),
            centroid_history=EDGE_HISTORY,
        )

    monkeypatch.setattr(K, "fit", fake_fit)
    out = str(tmp_path / "cents")
    assert cli.main([str(inp), "2", "2", out, "4", "0", "2", "--fidelity"]) == 0

    ref = str(tmp_path / "ref")
    for got, cents in [(out, EDGE_HISTORY[-1])] + [
        (f"{out}{i}", snap) for i, snap in enumerate(EDGE_HISTORY, start=1)
    ]:
        _reference_centroid_write(spark, cents, ref)
        assert _part_bytes(got) == _part_bytes(ref), got
    assert b"-0.0" in _part_bytes(out) and b"1.0E22" in _part_bytes(f"{out}1")
