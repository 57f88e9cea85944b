"""Plans: schema induction, validation, and dataset extraction."""

from architxt_spark.plans.schema import (  # noqa: F401
    Group,
    Relation,
    RelationOrientation,
    SchemaPlan,
    extract_datasets,
    extract_group_dataset,
    extract_valid_trees,
    group_instances,
    schema_from_forest,
)
