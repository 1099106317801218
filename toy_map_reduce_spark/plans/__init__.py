from toy_map_reduce_spark.plans.explain import (  # noqa: F401
    PlanNode,
    build_side_risk,
    explain_str,
    missed_broadcast,
    plan_properties,
    plan_tree,
    single_partition_sites,
)
