import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from paradump_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import os
    import tempfile

    # a class data sharing cache of the run's own: the suite neither maps
    # nor fills an archive in the user's cache
    os.environ["XDG_CACHE_HOME"] = tempfile.mkdtemp(prefix="paradump_cache_")
    s = build_session(
        app_name="paradump_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        # static conf: bucketed-table tests saveAsTable into a tmp warehouse
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="sparkwh_")},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
