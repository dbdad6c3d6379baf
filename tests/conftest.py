import os
import shutil

import pytest

from invertedindexbuilder_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # cores: the host's, as the tier-1 command exports them (8 when
    # unset); shuffle_partitions stays 8 whatever the core count, so
    # tests that pin multi-task stage shapes keep them
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark(app_name="iib-tests", cores=cores, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def tmp_out(tmp_path):
    out = str(tmp_path / "idx")
    yield out
    shutil.rmtree(out, ignore_errors=True)
