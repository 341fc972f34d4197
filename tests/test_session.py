"""SparkSession factory defaults (session.py)."""

import os

from ictspark.session import shuffle_partitions_for


def test_shuffle_partition_heuristic():
    """Local = 1x cores (floor 16); cluster = 3x cores; env flag works."""
    assert shuffle_partitions_for(32, cluster=False) == 32
    assert shuffle_partitions_for(8, cluster=False) == 16  # floor
    assert shuffle_partitions_for(32, cluster=True) == 96
    old = os.environ.get("ICTSPARK_CLUSTER")
    try:
        os.environ["ICTSPARK_CLUSTER"] = "1"
        assert shuffle_partitions_for(32) == 96
        os.environ["ICTSPARK_CLUSTER"] = "0"
        assert shuffle_partitions_for(32) == 32
    finally:
        if old is None:
            os.environ.pop("ICTSPARK_CLUSTER", None)
        else:
            os.environ["ICTSPARK_CLUSTER"] = old
