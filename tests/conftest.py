import sys
import warnings
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

warnings.filterwarnings("ignore")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from biosets_spark.session import get_spark

    s = get_spark("biosets-spark-tests", shuffle_partitions=8)
    yield s


@pytest.fixture()
def fixture_dir(tmp_path):
    """Reference-style CSV fixtures (FIXTURES.md §1-§4)."""
    (tmp_path / "data_with_samples.csv").write_text(
        "sample,header1,header2\nsample1,1,10\nsample2,2,20\nsample3,3,30\nsample4,4,40\n"
    )
    (tmp_path / "sample_metadata.csv").write_text(
        "sample,batch,metadata1,metadata2,target\n"
        "sample1,batch1,a,5,a\nsample2,batch1,b,6,b\nsample3,batch2,c,7,c\nsample4,batch2,d,8,d\n"
    )
    (tmp_path / "feature_metadata.csv").write_text(
        "feature,metadata1,metadata2\nheader1,x,1\nheader2,y,2\n"
    )
    return str(tmp_path)


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), number of Spark jobs fn submitted)``,
    counted through the status tracker under a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        # job-start events reach the tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
