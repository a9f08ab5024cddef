"""The reference-format text parser (``sources.text_points``): its token
grammar, bit-exact round trips, and per-token results across Arrow batch
and slice boundaries."""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from k_means_in_mapreduce_spark.sources.literal import literal_frame
from k_means_in_mapreduce_spark.sources.text_points import parse_points, parse_points_df

NULL = None
# line -> parsed features; a rejected or non-finite token is a NULL element
EDGES = {
    "<1.0,2.5>": [1.0, 2.5],
    "< 1.0 , 2.5 >": [1.0, 2.5],
    "<1.0,\t2.0>": [1.0, 2.0],
    "<abc, 1>": [NULL, 1.0],
    "<1.0, , 2>": [1.0, NULL, 2.0],
    "<1,2,>": [1.0, 2.0, NULL],
    "<+1.5, .5>": [1.5, 0.5],
    "<5., 1E-3>": [5.0, 0.001],
    "<0x10, 1>": [NULL, 1.0],
    "<1.0d, 2>": [NULL, 2.0],
    "<1.0f, 2>": [NULL, 2.0],
    "<NaN, 1>": [NULL, 1.0],
    "<Infinity, 1>": [NULL, 1.0],
    "<-Infinity, 1>": [NULL, 1.0],
    "<inf, 1>": [NULL, 1.0],
    "<1e400, -1e400>": [NULL, NULL],
    "<1e-400, -0.0>": [0.0, -0.0],
}


def _bits(values) -> list[int | None] | None:
    """Values as their float64 bit patterns, so -0.0 != 0.0."""
    if values is None:
        return None
    return [
        None if v is None else int(np.array(v, dtype=np.float64).view(np.uint64))
        for v in values
    ]


def _write(path, lines) -> str:
    path.write_text("".join(line + "\n" for line in lines))
    return str(path)


def test_edge_table_through_parse_points_df(spark):
    """Other columns pass through; an existing ``features`` is replaced."""
    lines = [*EDGES, "", None]
    df = literal_frame(
        spark,
        [(i, line, [9.0]) for i, line in enumerate(lines)],
        "id int, value string, features array<double>",
    )
    out = parse_points_df(df)
    assert out.columns == ["id", "value", "features"]
    got = {r["id"]: r for r in out.collect()}
    for i, line in enumerate(lines):
        # the empty line keeps one NULL element, a NULL line stays NULL
        want = EDGES.get(line, [NULL]) if line is not None else None
        assert got[i]["value"] == line
        assert _bits(got[i]["features"]) == _bits(want), line


def test_edge_table_through_parse_points(spark, tmp_path):
    path = _write(tmp_path / "edges.txt", [*EDGES, "", "   "])
    got = parse_points(spark, path).orderBy("point_id").collect()
    # blank lines are skipped; every other line is one point, in file order
    assert [_bits(r["features"]) for r in got] == [_bits(v) for v in EDGES.values()]
    assert len({r["point_id"] for r in got}) == len(EDGES)


def test_repr_round_trip_is_bit_exact(spark, tmp_path):
    """Every finite double's shortest repr parses back to the same bits."""
    rng = np.random.default_rng(20260101)
    raw = rng.integers(0, 2**64, size=12_000, dtype=np.uint64).view(np.float64)
    values = [
        -0.0, 0.0, 5e-324, -5e-324, 2.2250738585072014e-308,
        1.7976931348623157e308, -1.7976931348623157e308, 0.1, 1e22,
        *raw[np.isfinite(raw)].tolist(),
    ]
    values += [1.0] * (-len(values) % 10)
    rows = [values[i : i + 10] for i in range(0, len(values), 10)]
    path = _write(tmp_path / "bits.txt", ["<" + ", ".join(map(repr, r)) + ">" for r in rows])
    got = parse_points(spark, path).orderBy("point_id").collect()
    assert len(values) >= 10_000
    assert [_bits(r["features"]) for r in got] == [_bits(r) for r in rows]


def _per_token(token: str) -> float | None:
    """One token on its own, as the grammar defines it: Arrow's float64
    cast of the trimmed token, NULL if rejected or non-finite."""
    try:
        v = pc.cast(pa.array([token.strip()]), pa.float64())[0].as_py()
    except pa.ArrowInvalid:
        return None
    return v if math.isfinite(v) else None


def test_malformed_tokens_in_a_long_file_null_only_themselves(spark, tmp_path):
    """A file longer than one Arrow batch, with malformed tokens in the
    middle batch (one alone, and a cluster spanning a slice boundary):
    every other token in that batch still parses, and each element equals
    the per-token cast."""
    per_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    n = 2 * per_batch + per_batch // 2
    rng = np.random.default_rng(3)
    rows = [[repr(x) for x in r] for r in rng.normal(size=(n, 3)).tolist()]
    mid = per_batch + per_batch // 2
    rows[mid][1] = "1.2.3"
    for i in range(per_batch + 2046, per_batch + 2050):
        rows[i][i % 3] = ["", "NaN", "x1", "1e999"][i % 4]
    path = _write(tmp_path / "long.txt", ["<" + ", ".join(r) + ">" for r in rows])
    lines = spark.read.text(path).coalesce(1)
    got = parse_points_df(lines).select("features").collect()
    assert len(got) == n
    want = [[_per_token(t) for t in r] for r in rows]
    assert [_bits(r["features"]) for r in got] == [_bits(w) for w in want]
    assert sum(v is None for w in want for v in w) == 5


def test_parse_runs_in_one_narrow_python_map(spark, tmp_path):
    """The parse is one mapInArrow over the scan: no exchange, and the
    JVM does no per-token string work."""
    path = _write(tmp_path / "p.txt", ["<1.0, 2.0>"])
    plan = parse_points(spark, path)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "Exchange" not in plan
    assert "split(" not in plan and "try_cast" not in plan.lower()
