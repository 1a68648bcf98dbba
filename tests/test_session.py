"""Session construction: settings are read when the session is built."""

import elektra_spark.session as session


def test_shuffle_partitions_read_at_call_time(spark, monkeypatch):
    """The shuffle parallelism comes from $SPARK_GRAFT_SHUFFLE_PARTITIONS as
    set when get_spark() runs, not as it was when the module was imported."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(int(prev) + 3))
    try:
        got = session.get_spark(app_name="elektra-tests")
        assert got.conf.get("spark.sql.shuffle.partitions") == str(int(prev) + 3)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
