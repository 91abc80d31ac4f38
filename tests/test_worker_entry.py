"""The Python task entry hook (``yirgacheffe_spark._worker``): every Python
task body in the library goes through it, it keeps each ``pandas_udf``'s
eval type, and a warm worker leaves no zip finder for the next task."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

import numpy as np
import pandas as pd

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "yirgacheffe_spark"

# DataFrame / grouped-data methods whose first argument Spark runs as a
# Python task body.
_BODY_METHODS = {"mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState"}
_UDF_FACTORIES = {"pandas_udf", "udf"}
_HOOK = "task_entry"


def _named(node, names) -> bool:
    return (isinstance(node, ast.Name) and node.id in names) or (
        isinstance(node, ast.Attribute) and node.attr in names)


def _hook_index(decorators) -> int | None:
    for i, dec in enumerate(decorators):
        if _named(dec, {_HOOK}):
            return i
    return None


def _factory_index(decorators) -> int | None:
    for i, dec in enumerate(decorators):
        target = dec.func if isinstance(dec, ast.Call) else dec
        if _named(target, _UDF_FACTORIES):
            return i
    return None


def _scope_defs(scope: ast.AST) -> dict[str, list[ast.FunctionDef]]:
    """Functions bound directly in ``scope`` (not inside a nested def)."""
    defs: dict[str, list] = {}
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            defs.setdefault(node.name, []).append(node)
        elif not isinstance(node, (ast.ClassDef, ast.Lambda)):
            stack.extend(ast.iter_child_nodes(node))
    return defs


class _BodyScan:
    """Walks one module, recording (line, body, hooked) for every function
    that reaches Spark as a Python task body."""

    def __init__(self, rel: str):
        self.rel = rel
        self.found: list[tuple[str, int, str, bool]] = []

    def record(self, node, what: str, hooked: bool) -> None:
        self.found.append((self.rel, node.lineno, what, hooked))

    def resolve(self, arg, env) -> tuple[str, bool] | None:
        """(label, hooked) for a body argument; None when ``arg`` names no
        function of this module (e.g. a schema string passed to a UDF
        factory)."""
        if isinstance(arg, ast.Call) and _named(arg.func, {_HOOK}):
            return ast.unparse(arg), True
        if isinstance(arg, ast.Name):
            for scope in reversed(env):
                if arg.id in scope:
                    hooked = all(_hook_index(d.decorator_list) is not None
                                 for d in scope[arg.id])
                    return arg.id, hooked
            return None
        if isinstance(arg, ast.Lambda):
            return "lambda", False
        return None

    def visit(self, node, env) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            factory = _factory_index(node.decorator_list)
            if factory is not None:
                hook = _hook_index(node.decorator_list)
                # Decorators apply bottom-up: the hook must sit below the
                # factory so the UDF wraps the hooked body.
                self.record(node, node.name, hook is not None and hook > factory)
            env = env + [_scope_defs(node)]
        elif isinstance(node, ast.Call):
            arg = None
            if isinstance(node.func, ast.Attribute) and node.func.attr in _BODY_METHODS:
                arg = node.args[0] if node.args else next(
                    (k.value for k in node.keywords if k.arg == "func"), None)
            elif isinstance(node.func, ast.Call) and _named(node.func.func, _UDF_FACTORIES):
                arg = node.args[0] if node.args else None       # factory(schema)(fn)
            elif _named(node.func, _UDF_FACTORIES) and node.args:
                arg = node.args[0]                              # factory(fn, schema)
            resolved = self.resolve(arg, env) if arg is not None else None
            if resolved is not None:
                self.record(node, *resolved)
        for child in ast.iter_child_nodes(node):
            self.visit(child, env)


def _task_bodies(root: pathlib.Path = PKG) -> list[tuple[str, int, str, bool]]:
    found = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        scan = _BodyScan(str(path.relative_to(root.parent)))
        scan.visit(tree, [_scope_defs(tree)])
        found.extend(scan.found)
    return found


def test_every_python_task_body_goes_through_the_entry_hook():
    """A function the library hands Spark as a Python task body (passed to
    mapInPandas / mapInArrow / applyInPandas*, decorated with pandas_udf, or
    wrapped by ``pandas_udf(...)(fn)``) must be wrapped in
    ``_worker.task_entry``; otherwise every task running it re-reads each
    zip archive on the worker's path."""
    bodies = _task_bodies()
    # The walker must keep seeing the library's bodies (33 today), or a
    # refactor could blind it and pass vacuously.
    assert len(bodies) >= 30, bodies
    unhooked = [f"{rel}:{line} {what}" for rel, line, what, hooked in bodies if not hooked]
    assert not unhooked, "Python task bodies without @task_entry:\n" + "\n".join(unhooked)


def test_guard_flags_each_unhooked_form(tmp_path):
    """Each body form the guard knows is flagged when unhooked and passes
    when hooked, including the call forms and a function-local import."""
    pkg = tmp_path / "yirgacheffe_spark"
    pkg.mkdir()
    (pkg / "bodies.py").write_text(
        "from .._worker import task_entry\n"
        "def build(df):\n"
        "    from pyspark.sql.functions import pandas_udf\n"
        "    def gen(batches):\n"
        "        yield from batches\n"
        "    @task_entry\n"
        "    def hooked(batches):\n"
        "        yield from batches\n"
        "    @pandas_udf('long')\n"
        "    def scalar(s):\n"
        "        return s\n"
        "    @task_entry\n"
        "    @pandas_udf('long')\n"
        "    def hook_outside(s):\n"
        "        return s\n"
        "    @pandas_udf('long')\n"
        "    @task_entry\n"
        "    def good(s):\n"
        "        return s\n"
        "    df.mapInPandas(gen, 'x long')\n"
        "    df.mapInArrow(hooked, 'x long')\n"
        "    df.mapInArrow(lambda b: b, 'x long')\n"
        "    df.groupBy('k').applyInPandas(func=gen, schema='x long')\n"
        "    pandas_udf('long')(plain)\n"
        "    pandas_udf('long')(task_entry(plain))\n"
        "    return good\n"
        "def plain(s):\n"
        "    return s\n"
    )
    got = {(line, what): hooked for _rel, line, what, hooked in _task_bodies(pkg)}
    assert got == {
        (10, "scalar"): False,
        (14, "hook_outside"): False,
        (18, "good"): True,
        (20, "gen"): False,
        (21, "hooked"): True,
        (22, "lambda"): False,
        (23, "gen"): False,
        (24, "plain"): False,
        (25, "task_entry(plain)"): True,
    }


def test_hooked_pandas_udfs_keep_their_eval_type(spark, monkeypatch):
    """``pandas_udf`` infers the same eval type from a hooked body as from
    the plain function; the scalar bodies stay SQL_SCALAR_PANDAS_UDF."""
    import pyspark.sql.functions as psf
    from pyspark.sql import functions as F
    from pyspark.util import PythonEvalType

    from yirgacheffe_spark.spatial import joins, s2
    from yirgacheffe_spark.text import ann, dedup, gopher

    real = psf.pandas_udf
    made = []

    def recording(*args, **kwargs):
        make = real(*args, **kwargs)

        def apply(fn):
            udf = make(fn)
            plain = real(*args, **kwargs)(getattr(fn, "__wrapped__", fn))
            made.append((fn, udf.evalType, plain.evalType))
            return udf
        return apply

    # psf covers the function-local imports (s2).
    for mod in (psf, joins, dedup, ann, gopher):
        monkeypatch.setattr(mod, "pandas_udf", recording)
    monkeypatch.setattr(gopher, "_NGRAM_REP_UDF", None)

    pages = spark.createDataFrame(
        [(1, 0.5, 0.5, 0)], "page_id long, lat double, lng double, cell long")
    polygons = spark.createDataFrame(
        [(7, "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")], "poly_id long, geom_wkt string")
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    vecs = spark.createDataFrame([(1, [1.0, 0.0])], "id long, embedding array<double>")
    joins.point_in_polygon_join_df(spark, pages, polygons, res=3, broadcast=True)
    joins.point_in_polygon_join_df(spark, pages, polygons, res=3, broadcast=False)
    dedup.minhash_signatures(docs)
    dedup.simhash_column(docs)
    s2.s2_cell_column("lat", "lng", 10)
    s2.s2_token_column("cell")
    ann.lsh_bucket_udf(4, 2)
    ann.ivf_assign(vecs, np.eye(2))
    gopher._ngram_repetition(F.col("text"))

    by_name = {fn.__name__: (hooked, plain) for fn, hooked, plain in made}
    assert set(by_name) == {"contains_bc", "contains", "sig_and_buckets", "simhash",
                            "_s2", "_tok", "buckets", "assign",
                            "_ngram_repetition_batch"}
    for fn, hooked, plain in made:
        assert hasattr(fn, "__wrapped__"), fn.__name__
        assert hooked == plain, fn.__name__
    for name in ("contains_bc", "sig_and_buckets", "_s2", "_tok"):
        assert by_name[name][0] == PythonEvalType.SQL_SCALAR_PANDAS_UDF, name


def test_task_entry_keeps_driver_side_calls_plain():
    """A hooked body called on the driver behaves like the plain function."""
    from yirgacheffe_spark._worker import task_entry
    from yirgacheffe_spark.text.gopher import _ngram_repetition_batch

    texts = pd.Series(["a b a b a b", "", None])
    hooked = task_entry(_ngram_repetition_batch)
    pd.testing.assert_frame_equal(hooked(texts), _ngram_repetition_batch(texts))
    assert list(task_entry(lambda it: (x * 2 for x in it))([1, 2])) == [2, 4]


_WARM_WORKER_SCRIPT = r"""
import json
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from yirgacheffe_spark.spatial import pages

spark = (SparkSession.builder.master("local[1]")
         .config("spark.python.worker.reuse", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")


@pandas_udf("string")
def zip_finders(ids: pd.Series) -> pd.Series:
    import os, sys, zipimport
    n = sum(isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values())
    return pd.Series([f"{os.getpid()} {n}"] * len(ids))


def probe():
    pid, n = spark.range(1, numPartitions=1).select(zip_finders("id")).first()[0].split()
    return [int(pid), int(n)]


plain = [probe(), probe()]
# The first hooked pass also imports what the body needs for the first time
# on this worker; the second shows the steady state.
for _ in range(2):
    pages.enriched_pages(spark, 64).count()
print(json.dumps({"plain": plain, "after_hooked": probe()}))
spark.stop()
"""


def test_warm_worker_keeps_no_zip_finder_after_a_hooked_body(tmp_path):
    """On a one-core session with worker reuse, plain UDF tasks leave the
    worker's zip finders cached (so the next task's invalidate_caches()
    re-reads every archive), while after a hooked pages body the next plain
    task on the same worker finds none."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(REPO), env.get("PYTHONPATH")]))
    env["SPARK_LOCAL_DIRS"] = str(tmp_path)
    out = subprocess.run(
        [sys.executable, "-c", _WARM_WORKER_SCRIPT], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=540, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    pids = {pid for pid, _n in got["plain"]} | {got["after_hooked"][0]}
    assert len(pids) == 1, got  # one reused worker ran every task
    assert got["plain"][-1][1] > 0, got
    assert got["after_hooked"][1] == 0, got
