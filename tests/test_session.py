"""Session factory: shuffle-partition inference from the master string."""

import os

from imageduplicatefinder_spark.session import _local_cores


def test_local_cores_parses_every_local_master_shape():
    assert _local_cores("local") == 1          # bare local is 1 thread
    assert _local_cores("local[2]") == 2
    assert _local_cores("local[32]") == 32
    assert _local_cores("local[2,3]") == 2     # retry form keeps N
    assert _local_cores("local[*]") == (os.cpu_count() or 1)
    assert _local_cores("local[*,4]") == (os.cpu_count() or 1)


def test_local_cores_none_for_cluster_masters():
    assert _local_cores("yarn") is None
    assert _local_cores("spark://host:7077") is None
    assert _local_cores("k8s://https://host:443") is None
    assert _local_cores("localhost") is None   # not a local[] shape


def test_default_config_hash_is_pinned():
    """Existing checkpoints are keyed by the config hash: removing a
    knob that was already popped from the hashed blob must not move the
    default hash, and an output-changing knob must."""
    from imageduplicatefinder_spark.config import DedupConfig

    assert DedupConfig().config_hash() == "cc835b4fbc47abba"
    assert (DedupConfig().config_hash()
            != DedupConfig(shingle_k=5).config_hash())
