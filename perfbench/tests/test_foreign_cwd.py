"""The benchmark's environment lets Spark Python workers import the
engine when the benchmark process runs outside the repository."""

import os
import subprocess
import sys
import textwrap

from conftest import BENCH

SCRIPT = textwrap.dedent("""
    import os, sys
    sys.path.insert(0, BENCH_DIR)
    import run
    run_dir = os.path.join(os.getcwd(), "run")
    run.isolate(run_dir)
    from biosets_spark.session import get_spark

    def tag(batches):
        from biosets_spark.schema import roles  # imported inside the Python worker
        for b in batches:
            yield b.assign(role=roles.ROLE_FEATURE)

    spark = get_spark("perfbench-cwd-test", extra_conf=run.spark_conf(run_dir, traced=False))
    try:
        rows = spark.range(0, 8, 1, 2).mapInPandas(tag, "id long, role string").collect()
    finally:
        spark.stop()
    print("ROLES", sorted({r.role for r in rows}))
""")


def test_arrow_udf_runs_from_foreign_directory(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run([sys.executable, "-c", SCRIPT.replace("BENCH_DIR", repr(BENCH))], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROLES ['feature']" in out.stdout
