"""Reference-format text point ingest / egress.

The reference stores points as one line per point, ``<x1, x2, ..., xd>``,
parsed by ``parsePoint`` (``KMeans.java:261-274``) and written back by
joining with ``", "`` inside ``<>`` (``Point.java:96-106`` toString).

Token grammar. Every ``<`` and ``>`` is removed from a line, the rest is
split on ``,`` and each token is trimmed of whitespace. A token is a valid
element if and only if Arrow's string-to-float64 cast accepts it and the
value is finite: an optional sign, decimal digits with an optional ``.``
(``.5`` and ``5.`` included) and an optional ``e``/``E`` exponent. Anything
else -- an empty token, ``abc``, ``0x10``, the Java suffixes ``1.0d`` /
``1.0f``, ``NaN``, ``±Infinity``, an overflow such as ``1e400`` -- becomes
a NULL element, so the line keeps its arity and the CLI's gate can count
it. Valid tokens parse to the correctly rounded double, so the shortest
``repr`` of any finite double comes back bit for bit.

Where the parse runs. One narrow ``mapInArrow`` over the text scan: each
Python worker parses the lines of its own split with Arrow's C++ compute
kernels (replace, split, trim, cast), a slice of lines at a time. No
shuffle and no extra job: the parse is part of whatever job first reads
the frame (in the CLI, the validation count that fills the cache), and
partitions and row order are those of the scan. Egress stays a Catalyst
expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..worker import drop_zip_import_cache

def _parse_kernel(col: str, keep: list[str]):
    """The ``mapInArrow`` function parsing string column ``col`` into a
    ``features`` column, after the columns ``keep`` passed through."""

    # Self-contained closure (cloudpickle ships it by value: the Python
    # workers do not have this package on sys.path).
    def parse_batches(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        drop_zip_import_cache()

        def to_double(tokens):
            # Arrow's cast raises on the first token it rejects. Bisect a
            # rejected run down to single tokens, so each element gets
            # exactly what a cast of that token alone gives: a malformed
            # token costs O(log n) extra casts, a clean slice one.
            try:
                return pc.cast(tokens, pa.float64())
            except pa.ArrowInvalid:
                if len(tokens) == 1:
                    return pa.nulls(1, pa.float64())
                mid = len(tokens) // 2
                return pa.concat_arrays(
                    [to_double(tokens.slice(0, mid)), to_double(tokens.slice(mid))]
                )

        # Slices bound the intermediate token buffers. Summed over the
        # driver and four workers parsing 100k lines of d=30 (4-core VM),
        # peak RSS was 744 MiB with 512-line slices, 765 MiB with 2048 and
        # 697 MiB for the JVM parse; whole 10k-line batches were worse.
        step = 512
        for batch in batches:
            for start in range(0, batch.num_rows, step):
                part = batch.slice(start, step)
                lines = pc.replace_substring(part.column(col), "<", "")
                lists = pc.split_pattern(pc.replace_substring(lines, ">", ""), ",")
                values = to_double(pc.utf8_trim_whitespace(lists.flatten()))
                values = pc.if_else(pc.is_finite(values), values, None)
                features = pa.ListArray.from_arrays(
                    lists.offsets, values, mask=lists.is_null()
                )
                yield pa.RecordBatch.from_arrays(
                    [part.column(c) for c in keep] + [features],
                    names=[*keep, "features"],
                )
        # hand the pool's freed pages back before the worker idles
        pa.default_memory_pool().release_unused()

    return parse_batches


def _parse(df: DataFrame, col: str, keep: list[str]) -> DataFrame:
    """``df`` reduced to ``keep`` plus the parsed ``features`` of ``col``."""
    features = T.StructField("features", T.ArrayType(T.DoubleType()))
    schema = T.StructType([df.schema[c] for c in keep] + [features])
    parse_batches = _parse_kernel(col, keep)
    return df.select(*dict.fromkeys([*keep, col])).mapInArrow(parse_batches, schema)


def parse_points(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-format text file into (point_id, features).

    point_id is a stable per-run id (monotonically increasing, not
    necessarily contiguous — same contract as Hadoop's byte offsets which
    the reference discards anyway).
    """
    lines = spark.read.text(path).filter(F.length(F.trim("value")) > 0)
    return _parse(lines, "value", []).select(
        F.monotonically_increasing_id().alias("point_id"), "features"
    )


def parse_points_df(df: DataFrame, col: str = "value") -> DataFrame:
    """Parse an existing string column of ``<a, b>`` lines into a
    ``features`` column appended after the frame's other columns."""
    return _parse(df, col, [c for c in df.columns if c != "features"])


def format_points(df: DataFrame, features_col: str = "features") -> DataFrame:
    """Add a ``point_str`` column in the reference's ``<a, b>`` format
    (Point.java:96-106)."""
    return df.withColumn(
        "point_str",
        # nullReplacement keeps the arity: a NULL element (the parser's
        # malformed-token sentinel) egresses as a visible NaN instead of
        # being silently DROPPED, which would shrink the point's dimension
        F.concat(
            F.lit("<"),
            F.array_join(F.col(features_col), ", ", "NaN"),
            F.lit(">"),
        ),
    )


def write_points(df: DataFrame, path: str, features_col: str = "features") -> None:
    """Egress in reference text format (TextOutputFormat analogue,
    KMeans.java:148-150)."""
    format_points(df, features_col).select("point_str").write.mode("overwrite").text(path)
