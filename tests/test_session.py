"""Session factory: shuffle-partition inference from the master string,
host-derived defaults, the codegen cache size and the worker daemon."""

import os

from imageduplicatefinder_spark.session import (
    _PACKAGE_ROOT,
    _default_cpus,
    _default_driver_mem,
    _local_cores,
    _python_daemon_module,
)


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


def test_default_cpus_from_env_else_affinity():
    assert _default_cpus("6", 4) == "6"       # the env var wins
    assert _default_cpus(None, 4) == "4"
    assert _default_cpus("", 3) == "3"        # empty counts as unset


def test_default_driver_mem_is_half_of_ram_floored_at_2g():
    gib_kb = 1024 * 1024
    assert _default_driver_mem("3g", 16 * gib_kb) == "3g"   # env wins
    assert _default_driver_mem(None, 16 * gib_kb) == "8192m"
    assert _default_driver_mem(None, 15 * gib_kb) == "7680m"
    assert _default_driver_mem(None, 2 * gib_kb) == "2048m"  # the floor
    assert _default_driver_mem(None, 0) == "2048m"           # unreadable


def test_codegen_cache_sized_to_the_plan_set(spark):
    """A static SQL conf: it must reach the session through the builder."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"
    # stage ids out of class names: renumbered stages share classes
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_worker_daemon_only_for_local_masters():
    daemon = "imageduplicatefinder_spark.daemon"
    path = [_PACKAGE_ROOT]
    assert _python_daemon_module("local", path) == daemon
    assert _python_daemon_module("local[4]", path) == daemon
    assert _python_daemon_module("local[*,2]", path) == daemon
    # cluster workers get --py-files per task, after the daemon started
    assert _python_daemon_module("yarn", path) is None
    assert _python_daemon_module("spark://h:7077", path) is None
    # a worker that could not import the package keeps pyspark.daemon
    assert _python_daemon_module("local[4]", ["/nonexistent"]) is None


def test_session_names_the_worker_daemon(spark):
    """A core conf: like the codegen cap, it only reaches the session
    through the builder."""
    conf = spark.sparkContext.getConf()
    assert (conf.get("spark.python.daemon.module")
            == "imageduplicatefinder_spark.daemon")
