from hnarchive_spark.operators.merge import COALESCE_COLS, OVERWRITE_COLS, collapse_batch, merge_items
from hnarchive_spark.operators.tree import tree_closure

__all__ = [
    "merge_items",
    "collapse_batch",
    "COALESCE_COLS",
    "OVERWRITE_COLS",
    "tree_closure",
]
