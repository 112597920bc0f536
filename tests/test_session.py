"""Session-conf tests: every conf the engine pins takes effect on the
session it is applied to, so none can switch itself off silently."""

from __future__ import annotations

from riot_graphs_spark.session import RUNTIME_CONFS, apply_runtime_confs

#: ``RUNTIME_CONFS`` keys that Spark declares without registering them, so
#: ``isModifiable`` reports False: their readers look them up by name in
#: the session's Hadoop conf. The checkpoint manager's class is one
#: (``CheckpointFileManager.create`` reads it from there).
_HADOOP_CONF_KEYS = {"spark.sql.streaming.checkpointFileManagerClass"}


def test_runtime_confs_are_settable_and_read_back(spark):
    """After ``apply_runtime_confs`` every key reads back its value. A
    registered key must be settable at runtime, so a misspelled or static
    key fails here; an unregistered one must reach the Hadoop conf its
    reader sees."""
    apply_runtime_confs(spark)
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    for key, value in RUNTIME_CONFS.items():
        assert spark.conf.get(key) == value, key
        if key in _HADOOP_CONF_KEYS:
            assert not spark.conf.isModifiable(key), key
            assert hadoop_conf.get(key) == value, key
        else:
            assert spark.conf.isModifiable(key), key
    assert _HADOOP_CONF_KEYS <= set(RUNTIME_CONFS)
