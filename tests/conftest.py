from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Make google.protobuf resolvable in EVERY spawned Python process
# (incl. the transformWithState streaming driver worker, which builds
# its sys.path from the PYTHONPATH env var at JVM launch, before
# addPyFile can reach it): prepend the bundled pure-Python shim unless
# a real protobuf is installed. Must happen before the JVM starts.
try:
    import google.protobuf  # noqa: F401
except ImportError:
    _purepb = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "azure_data_engineering_spark", "compat", "purepb",
    )
    os.environ["PYTHONPATH"] = (
        _purepb + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

from azure_data_engineering_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def backdate_past_grace():
    """Age the snapshot-table commit directories holding `files` past
    vacuum's orphan grace period, as if their writer died long ago."""
    import time

    from azure_data_engineering_spark.sources.snapshot import _ORPHAN_GRACE_S

    def backdate(table, files):
        old = time.time() - _ORPHAN_GRACE_S - 60
        for d in {os.path.dirname(os.path.join(table, f)) for f in files}:
            for e in os.scandir(d):
                os.utime(e.path, (old, old))
            os.utime(d, (old, old))

    return backdate
