"""Spark layer: distributed build / merge / query of sketchlib sketches."""

from .build import build_sketches
from .merge import merge_sketches, tree_merge, tree_merge_df
from .salt import salt_grouped, salted_repartition
from .session import get_spark
from .udfs import cms_estimate_udf, hash_indices_udf, membership_udf

__all__ = [
    "build_sketches",
    "merge_sketches",
    "tree_merge",
    "tree_merge_df",
    "salt_grouped",
    "salted_repartition",
    "get_spark",
    "cms_estimate_udf",
    "hash_indices_udf",
    "membership_udf",
]
