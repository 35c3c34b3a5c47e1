"""Session conf: batch shuffles keep their initial AQE partition count while
streaming state partitions follow the context's task slots."""

from __future__ import annotations

from fdp_dynamically_controlled_streams_spark.session import (
    INITIAL_PARTITIONS,
    SHUFFLE_PARTITIONS,
    batch_partitions,
    engine_conf,
)


def test_default_sizes_streaming_state_to_slots():
    conf = engine_conf(4)
    assert conf[SHUFFLE_PARTITIONS] == "4"
    assert conf[INITIAL_PARTITIONS] == "32"


def test_explicit_partition_count_sets_both():
    for conf in (
        engine_conf(4, shuffle_partitions=8),
        engine_conf(4, extra_conf={SHUFFLE_PARTITIONS: "8"}),
    ):
        assert conf[SHUFFLE_PARTITIONS] == conf[INITIAL_PARTITIONS] == "8"
    conf = engine_conf(4, extra_conf={SHUFFLE_PARTITIONS: "8", INITIAL_PARTITIONS: "16"})
    assert (conf[SHUFFLE_PARTITIONS], conf[INITIAL_PARTITIONS]) == ("8", "16")


def test_batch_partitions_reads_initial_count_then_falls_back(spark):
    """The test session passes ``shuffle_partitions=8``, so get_spark set
    both keys; without the initial count a batch shuffle starts at the
    shuffle-partitions count, as Spark does."""
    assert spark.conf.get(SHUFFLE_PARTITIONS) == spark.conf.get(INITIAL_PARTITIONS) == "8"
    spark.conf.set(INITIAL_PARTITIONS, "12")
    try:
        assert batch_partitions(spark) == 12
        spark.conf.unset(INITIAL_PARTITIONS)
        assert batch_partitions(spark) == 8
    finally:
        spark.conf.set(INITIAL_PARTITIONS, "8")
