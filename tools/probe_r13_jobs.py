"""Per-job duration dump (guide §1.5/§7.1): run one target query and
list every Spark job (duration, stage count, description) from the UI
REST API, so the eager decision-job cost is attributable job by job.

Usage: python tools/probe_r13_jobs.py QUERY_NAME [QUERY_NAME ...]"""
from __future__ import annotations

import calendar
import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__  # noqa: E402,F401
from biosets_spark import queries as _q  # noqa: E402
from biosets_spark import release_pinned_indexes  # noqa: E402
from biosets_spark.session import get_spark  # noqa: E402


def gmt_epoch(s: str) -> float:
    """Epoch seconds of a REST API timestamp such as
    ``2026-10-17T04:50:53.123GMT``, with the ``.mmm`` sub-second part."""
    return calendar.timegm(time.strptime(s[:19], "%Y-%m-%dT%H:%M:%S")) + float("0." + s[20:23])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    if not names:
        print(__doc__.rsplit("\n\n", 1)[1], file=sys.stderr)
        sys.exit(1)
    spark = get_spark("probe-r13-jobs", extra_conf={"spark.ui.enabled": "true"})
    sc = spark.sparkContext
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
    spark.range(0, 1024, 1, 32).mapInPandas(lambda it: it, "id long").count()
    ui = sc.uiWebUrl
    app_id = sc.applicationId

    def jobs_after(min_t: float) -> list[dict]:
        with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/jobs") as r:
            data = json.loads(r.read())
        out = []
        for j in data:
            st = gmt_epoch(j["submissionTime"])
            if st >= min_t - 1:
                dur = None
                if j.get("completionTime"):
                    dur = round(gmt_epoch(j["completionTime"]) - st, 3)
                out.append({"id": j["jobId"], "dur": dur,
                            "stages": len(j.get("stageIds", [])),
                            "tasks": j.get("numTasks"),
                            "desc": (j.get("description") or j.get("name", ""))[:110]})
        return sorted(out, key=lambda x: x["id"])

    for name in names:
        for rep in range(2):
            release_pinned_indexes()
            spark.catalog.clearCache()
            t_start = time.time()
            df = _q.QUERIES[name].fn(spark, sf_dir)
            t_build = time.time()
            df.collect()
            t_done = time.time()
            print(f"\n=== {name} rep{rep}: build={t_build-t_start:.2f}s collect={t_done-t_build:.2f}s")
            for j in jobs_after(t_start):
                print(f"  job {j['id']:>4} {str(j['dur']):>8}s stages={j['stages']:>2} tasks={str(j['tasks']):>4} {j['desc']}")


if __name__ == "__main__":
    main()
