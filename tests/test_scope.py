"""The per-query fixed cost and the error origins that replace PySpark's
per-call capture: a Column costs its bare Py4J round trips on an engine
session, runtime errors still name their query and operator, and every
query and DataFrame-returning operator runs inside a scope."""

import importlib
import inspect
import json
import os
import pkgutil
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

from biosets_spark import load, scope
from biosets_spark.operators import __path__ as OPERATORS_PATH
from biosets_spark.queries import QUERIES

REPO = str(Path(__file__).resolve().parent.parent)

# PySpark reads the capture flag once per process, at its first Column
# call, so the costs are measured in a process that starts cold
FRESH_SESSION_SCRIPT = textwrap.dedent("""
    import json
    import logging
    import sys
    sys.path.insert(0, REPO)
    import py4j.clientserver
    from pyspark.errors import NumberFormatException
    from pyspark.logger import PySparkLogger
    from pyspark.sql import functions as F
    from biosets_spark.scope import origin
    from biosets_spark.session import get_spark

    spark = get_spark("fixed-cost", master="local[1]", extra_conf={"spark.driver.memory": "1g"})
    calls = 0
    send = py4j.clientserver.JavaClient.send_command

    def counted(self, *args, **kwargs):
        global calls
        calls += 1
        return send(self, *args, **kwargs)

    py4j.clientserver.JavaClient.send_command = counted

    def round_trips(build):
        build()  # the first call resolves the JVM classes it uses
        worst = 0
        for _ in range(5):
            before = calls
            build()
            worst = max(worst, calls - before)
        return worst

    x = F.col("x")
    out = {"col": round_trips(lambda: F.col("x")),
           "alias": round_trips(lambda: x.alias("y")),
           "codegen_cache": spark.conf.get("spark.sql.codegen.cache.maxEntries")}

    @origin("cast_probe")
    def operator(df):
        return df.select(F.col("s").cast("int").alias("v"))

    @origin("q_origin_probe")
    def query():
        return operator(spark.createDataFrame([("a",)], "s string"))

    # the structured ERROR record PySpark logs for a DataFrame error
    records = []

    class Keep(logging.Handler):
        def emit(self, record):
            records.append(record.__dict__["context"])

    PySparkLogger.getLogger("DataFrameQueryContextLogger").addHandler(Keep())

    spark.conf.set("spark.sql.ansi.enabled", "true")
    df = query()
    try:
        df.collect()
        out["error"] = None
    except NumberFormatException as e:
        out["error"] = str(e)
    code = operator.__wrapped__.__code__
    out["operator_site"] = [code.co_filename, str(code.co_firstlineno)]
    out["records"] = [[r["file"], r["line"]] for r in records]
    print("RESULT", json.dumps(out))
    spark.stop()
""")


@pytest.fixture(scope="module")
def fresh_session(tmp_path_factory):
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path_factory.mktemp("spark-local")))
    out = subprocess.run([sys.executable, "-c", FRESH_SESSION_SCRIPT.replace("REPO", repr(REPO))],
                         env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    (line,) = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    return json.loads(line[len("RESULT "):])


def test_engine_session_columns_cost_their_bare_round_trips(fresh_session):
    # with PySpark's call-site capture on these read 14 and 11
    assert fresh_session["col"] <= 3
    assert fresh_session["alias"] <= 1
    assert fresh_session["codegen_cache"] == "2048"


def test_runtime_error_names_its_query_and_operator(fresh_session):
    msg = fresh_session["error"]
    assert msg is not None and "CAST_INVALID_INPUT" in msg
    file, line = fresh_session["operator_site"]
    assert f'"q_origin_probe > cast_probe" was called from\n{file}:{line}' in msg
    # PySpark's structured record splits the call site into file and line
    assert fresh_session["records"]
    assert all(r == [file, line] for r in fresh_session["records"])


def test_scope_restores_the_enclosing_origin(monkeypatch):
    log = []
    monkeypatch.setattr(scope, "_jvm_origin", lambda: (
        lambda name, site: log.append((name, site)), lambda: log.append(None)))

    @scope.origin("inner")
    def inner():
        raise ValueError("boom")

    with scope.origin("outer"):
        with pytest.raises(ValueError):
            inner()
    (outer, outer_site), (name, site), restored, cleared = log
    assert (outer, name) == ("outer", "outer > inner")
    assert site == f"{__file__}:{inner.__wrapped__.__code__.co_firstlineno}"
    assert restored == (outer, outer_site) and cleared is None
    assert scope._stack() == []


def _operator_functions():
    for m in pkgutil.iter_modules(OPERATORS_PATH):
        mod = importlib.import_module(f"biosets_spark.operators.{m.name}")
        for name, fn in vars(mod).items():
            if (not name.startswith("_") and inspect.isfunction(fn)
                    and fn.__module__ == mod.__name__):
                yield f"{m.name}.{name}", fn


def test_every_dataframe_operator_and_query_runs_in_a_scope():
    """Registry rule: a public operator that returns a DataFrame, every
    registered query and ``load_dataset`` carry an error-origin scope
    named after themselves; a Column helper carries none, since a scope
    costs Py4J round trips on every call."""
    missing, on_columns = [], []
    for qual, fn in _operator_functions():
        returns = str(fn.__annotations__.get("return"))
        if "DataFrame" in returns and getattr(fn, "origin", None) != fn.__name__:
            missing.append(qual)
        if returns == "Column" and hasattr(fn, "origin"):
            on_columns.append(qual)
    missing += [n for n, q in QUERIES.items() if getattr(q.fn, "origin", None) != n]
    assert not missing, f"no error-origin scope: {missing}; decorate with scope.origin"
    assert not on_columns, f"scope on a Column helper: {on_columns}"
    assert load.load_dataset.origin == "load_dataset"
