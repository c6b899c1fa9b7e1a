"""Plan inspection & assertion helpers (used by tests and perf audits),
and the size probe that picks the small-state routes."""

from hdfs_stream_processing_spark.plans.inspect import (  # noqa: F401
    assert_broadcast_join,
    assert_no_cartesian,
    count_shuffles,
    fits_broadcast,
    physical_plan,
    plan_summary,
    pushed_filters,
    read_schemas,
)
