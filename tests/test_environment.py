"""Fail loudly on the next Spark runtime bump.

Round 1 shipped an untested environment assumption (parquet
TIMESTAMP(NANOS) surfacing as BIGINT under the removed-in-4.x
``nanosAsLong`` conf) that silently killed every driver gate.  This module
pins each conf / behavior the engine relies on against the *running*
Spark, so a runtime change breaks here first, with a readable message.
"""

import os

from pyspark.sql import types as T

from lab_flink_repository_analytics_spark import session as S

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMOKE", "/root/testdata/sf0.001")


#: every conf key get_spark()/the package sets must be DEFINED in the
#: running Spark — unknown keys are accepted silently, so a removed conf
#: (like legacy.parquet.nanosAsLong in 4.x) never errors, it just stops
#: doing anything.
CONF_KEYS = [
    "spark.sql.session.timeZone",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.parquet.filterPushdown",
    "spark.sql.python.filterPushdown.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.streaming.stateStore.providerClass",
]


def test_all_set_confs_are_defined(spark):
    # SQLConf companion object's containsConfigKey covers internal entries
    # too (getAllDefinedConfs hides internal confs like
    # python.filterPushdown.enabled)
    jvm = spark.sparkContext._jvm
    comp = jvm.java.lang.Class.forName("org.apache.spark.sql.internal.SQLConf$")
    registry = comp.getField("MODULE$").get(None)
    missing = [k for k in CONF_KEYS if not registry.containsConfigKey(k)]
    assert not missing, (
        f"confs set by the engine but unknown to this Spark runtime: {missing} "
        "— a version bump removed them; update session.py"
    )


def test_events_ts_normalizes_to_timestamp(spark):
    """events.parquet carries TIMESTAMP(NANOS); whatever raw type this
    runtime surfaces (BIGINT ns on old runtimes, TIMESTAMP_NTZ on 4.x),
    load_tables must normalize it to session-TZ TIMESTAMP."""
    raw = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    raw_type = dict((f.name, f.dataType) for f in raw.schema.fields)["ts"]
    assert isinstance(
        raw_type, (T.LongType, T.TimestampNTZType, T.TimestampType)
    ), f"unexpected raw type for events.ts: {raw_type} — extend load_tables"
    t = S.load_tables(spark, SF_DIR)
    ts_type = dict((f.name, f.dataType) for f in t["events"].schema.fields)["ts"]
    assert isinstance(ts_type, T.TimestampType), ts_type
    # and it must actually evaluate (round 1's failure mode was lazy:
    # schema fine, first action exploded)
    assert t["events"].limit(1).count() >= 0


def test_rocksdb_provider_class_loadable(spark):
    jvm = spark.sparkContext._jvm
    loaded = jvm.java.lang.Class.forName(S.ROCKSDB_PROVIDER)
    assert loaded is not None


def test_python_datasource_api_present():
    # ingest/*_source.py subclass this; its import shape changed across
    # Spark minors before
    from pyspark.sql.datasource import (  # noqa: F401
        DataSource,
        DataSourceReader,
        InputPartition,
    )
