import itertools
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from gfp_gdal_spark.session import get_spark

    s = get_spark(app="gfp_gdal_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def kill_at_commit(monkeypatch):
    """``kill_at_commit(n, before=False)`` makes the ``n``-th bucket-group
    commit of ``plans.lineage.run_bucketed`` (its manifest append) raise
    once: right after the append, or with ``before=True`` between the
    group's data write and its append. Later commits run normally, so a
    second call resumes."""
    from gfp_gdal_spark.plans import lineage as L

    def arm(n: int, before: bool = False):
        real = L._append_manifest
        commits = itertools.count(1)

        def append(spark, rows, manifest_path):
            kill = next(commits) == n
            if kill and before:
                raise RuntimeError(f"simulated failure before commit {n}")
            real(spark, rows, manifest_path)
            if kill:
                raise RuntimeError(f"simulated failure after commit {n}")

        monkeypatch.setattr(L, "_append_manifest", append)

    return arm
