"""Physical-plan inspection utilities (scale discipline tooling)."""

from flink_examples_spark.plans.inspect import (  # noqa: F401
    broadcast_count,
    exchange_count,
    formatted_plan,
    has_broadcast_join,
    join_count,
    pushed_filters,
    python_eval_nodes,
    read_schema_columns,
)
