from akka_stream_contrib_spark.plans.explain import (
    formatted_plan,
    assert_pushed_filter,
    assert_broadcast_join,
    count_exchanges,
    plan_census,
    assert_partition_pruned,
)

__all__ = [
    "formatted_plan", "assert_pushed_filter", "assert_broadcast_join",
    "count_exchanges", "plan_census", "assert_partition_pruned",
]
