"""Small driver-side row sets as JVM-only DataFrames."""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def literal_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for a handful of driver-side
    rows (a k-row centroid set, per-cluster counts), without Python workers.

    ``createDataFrame`` on a Python list builds a Python RDD, so every job
    over it runs its slices through Python workers. Here the rows travel as
    ONE JSON string literal that ``from_json`` parses in the JVM. Python's
    float repr is the shortest string that round-trips, and ``from_json``
    reads NaN and ±Infinity, so every double (-0.0 included) comes back
    bit-identical. One literal keeps the plan size independent of the row
    count: a tree of per-value ``F.lit`` grows with k·d, and its analysis
    took 31 s at 1000×100 on a 4-core box. FAILFAST: a value that does not
    fit its column raises instead of silently nulling the whole frame.
    """
    struct = T.DataType.fromDDL(schema)
    names = [f.name for f in struct.fields]
    parsed = json_literal([dict(zip(names, row)) for row in rows], T.ArrayType(struct))
    return spark.range(0, 1, 1, 1).select(F.inline(parsed))


def json_literal(value, data_type: T.DataType) -> Column:
    """A constant column of ``data_type`` holding ``value`` (nested lists,
    dicts and floats), built as ONE JSON string literal parsed by
    ``from_json``: one py4j call however large the value is, where an
    ``F.array`` of per-element ``F.lit`` makes one call per element. The
    optimizer folds it to the same array literal. FAILFAST, and every
    double comes back bit-identical (see :func:`literal_frame`)."""
    return F.from_json(F.lit(json.dumps(value)), data_type, {"mode": "FAILFAST"})
