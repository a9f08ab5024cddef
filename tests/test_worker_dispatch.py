"""Python-worker dispatch: the zip import-cache helper, and a lint-style
guard that keeps every function the engine ships to Python workers calling
it, and keeps small driver-side frames off Python workers."""

from __future__ import annotations

import ast
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

from pyspark import cloudpickle

import k_means_in_mapreduce_spark
from k_means_in_mapreduce_spark.worker import drop_zip_import_cache

PACKAGE = Path(k_means_in_mapreduce_spark.__file__).parent
HELPER = "drop_zip_import_cache"
# DataFrame methods whose function argument runs in Python workers
SHIPPING = {
    "mapInArrow",
    "mapInPandas",
    "applyInArrow",
    "applyInPandas",
    "applyInPandasWithState",
}


def test_drop_zip_import_cache_keeps_zip_imports_working(tmp_path):
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zipped_probe_mod.py", "VALUE = 41 + 1\n")
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zipped_probe_mod").VALUE == 42
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

        drop_zip_import_cache()
        assert archive not in sys.path_importer_cache
        assert not any(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )

        del sys.modules["zipped_probe_mod"]
        assert importlib.import_module("zipped_probe_mod").VALUE == 42

        drop_zip_import_cache()
        drop_zip_import_cache()  # idempotent
        assert archive not in sys.path_importer_cache
    finally:
        sys.path.remove(archive)
        sys.modules.pop("zipped_probe_mod", None)
        sys.path_importer_cache.pop(archive, None)


def _run_unpickled(tmp_path, code: str, payload) -> str:
    """stdout of ``code`` run with ``payload`` pickled on its stdin, in an
    interpreter that cannot import this package, like a Python worker."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps(payload),
        capture_output=True,
        cwd=tmp_path,
        env=env,
        check=True,
    )
    return out.stdout.decode().strip()


def test_drop_zip_import_cache_ships_by_value(tmp_path):
    """Workers do not have this package on sys.path: the pickled helper
    must load and run in an interpreter that cannot import it."""
    code = "import pickle, sys; pickle.loads(sys.stdin.buffer.read())(); print('ok')"
    assert _run_unpickled(tmp_path, code, drop_zip_import_cache) == "ok"


def test_text_parse_kernel_ships_by_value(tmp_path):
    """The text-point parser runs, unpickled, where the package cannot be
    imported, and passes its other columns through."""
    import pyarrow as pa

    from k_means_in_mapreduce_spark.sources.text_points import _parse_kernel

    code = (
        "import pickle, sys\n"
        "fn, batches = pickle.loads(sys.stdin.buffer.read())\n"
        "for b in fn(iter(batches)): print(b.to_pylist())\n"
    )
    batch = pa.RecordBatch.from_pydict(
        {"id": [7, 8], "value": ["<1.5, -2>", "<x, 1e400>"]}
    )
    out = _run_unpickled(tmp_path, code, (_parse_kernel("value", ["id"]), [batch]))
    assert out == (
        "[{'id': 7, 'features': [1.5, -2.0]}, {'id': 8, 'features': [None, None]}]"
    )


def _calls_helper(fn: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == HELPER
        for n in ast.walk(fn)
    )


def dispatch_violations(source: str, filename: str) -> tuple[list[str], int]:
    """(violations, number of worker-shipping call sites) in one module.

    - Every ``createDataFrame`` call is a violation. The engine builds its
      small frames from driver rows with ``sources.literal_frame``: a
      Python list behind ``createDataFrame`` becomes a Python RDD whose
      jobs run through Python workers.
    - A ``mapInArrow``/``mapInPandas``/``applyInPandas*`` site must ship a
      function defined by name in the same module, and every definition of
      that name must call ``drop_zip_import_cache()``.
    """
    tree = ast.parse(source, filename)
    defs: dict[str, list[ast.AST]] = {}
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.setdefault(node.name, []).append(node)
    violations, sites = [], 0
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        method, where = node.func.attr, f"{filename}:{node.lineno}"
        if method == "createDataFrame":
            violations.append(
                f"{where}: createDataFrame runs its jobs through Python "
                "workers; build small frames with sources.literal_frame"
            )
        elif method in SHIPPING:
            sites += 1
            fn = node.args[0] if node.args else None
            if not isinstance(fn, ast.Name) or fn.id not in defs:
                shipped = ast.unparse(fn) if fn is not None else "a keyword argument"
                violations.append(
                    f"{where}: {method} ships {shipped}, not a function "
                    "defined by name in this module"
                )
            elif not all(_calls_helper(d) for d in defs[fn.id]):
                violations.append(
                    f"{where}: {method} ships {fn.id}, which does not call {HELPER}()"
                )
    return violations, sites


def test_engine_worker_functions_drop_zip_import_cache():
    violations, sites = [], 0
    for path in sorted(PACKAGE.rglob("*.py")):
        v, n = dispatch_violations(path.read_text(), str(path.relative_to(PACKAGE)))
        violations += v
        sites += n
    assert violations == []
    # the eleven sites of today: the guard must not pass by finding nothing
    assert sites >= 11


def test_dispatch_guard_flags_violations():
    bad = '''
def q(spark, df):
    def body(batches):
        yield from batches
    def good(batches):
        drop_zip_import_cache()
        yield from batches
    spark.createDataFrame([(1,)], "a int")
    df.mapInPandas(body, "a int")
    df.mapInArrow(lambda it: it, "a int")
    df.mapInArrow(good, "a int")
'''
    violations, sites = dispatch_violations(bad, "bad.py")
    assert sites == 3
    assert [v.split(":")[1] for v in violations] == ["8", "9", "10"]
    assert "createDataFrame" in violations[0]
    assert "ships body, which does not call" in violations[1]
    assert "not a function defined by name" in violations[2]
