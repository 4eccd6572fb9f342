"""Tree / hierarchy operators (SURVEY.md §2.5, G1/G2).

The reference's ``build_item_tree`` (hnarchive.py:306-319) materializes one
comment tree with an N+1 recursive point-query loop — one SELECT per node.
The Spark-native replacement is a recursive CTE (``WITH RECURSIVE``,
Spark 4.1): one declarative query whose fixpoint the engine drives
(UnionLoop in the physical plan).  It is one query, not one job: on Spark
4.1 the UnionLoop launches about five jobs per tree level, so a closure
costs O(depth) jobs.  Page rendering, which is latency-bound, walks the
levels itself instead (``functions.render.render_pages``).

Depth is unbounded in HN threads (SURVEY §7 'what's hard' (c)), so the CTE
lifts Spark's default 100-level recursion limit and runs to fixpoint.
"""

from __future__ import annotations

import itertools
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_view_counter = itertools.count()

# Spark's default cap (spark.sql.cteRecursionLevelLimit) is 100 levels; an
# acyclic forest needs as many levels as it is deep.
_MAX_LEVEL = 2**31 - 1


def tree_closure(
    items: DataFrame,
    root_ids: Sequence[int],
    id_col: str = "id",
    parent_col: str = "parent",
    max_depth: int | None = None,
) -> DataFrame:
    """Transitive closure under ``parent`` edges for the given roots.

    Returns ``(root_id, id, depth)`` — every node of every requested tree
    with its distance from the root (root itself at depth 0).

    One recursive CTE (Spark 4.1 ``WITH RECURSIVE``); the engine runs the
    fixpoint at about five jobs per level.  With unique ids, a walk down
    ``parent`` edges can only revisit a node by coming back to its root, so
    the ``i.id <> c.root_id`` guard makes the fixpoint finite even on a
    cyclic parent chain.
    """
    spark = items.sparkSession
    view = f"_tree_closure_src_{next(_view_counter)}"
    items.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(parent_col).cast("long").alias("parent"),
    ).createOrReplaceTempView(view)
    roots = ", ".join(str(int(r)) for r in root_ids)
    bound = f"AND c.depth < {int(max_depth)}" if max_depth is not None else ""
    return spark.sql(f"""
        WITH RECURSIVE closure MAX RECURSION LEVEL {_MAX_LEVEL} AS (
          SELECT id AS root_id, id, 0 AS depth FROM {view} WHERE id IN ({roots})
          UNION ALL
          SELECT c.root_id, i.id, c.depth + 1 AS depth
          FROM {view} i JOIN closure c ON i.parent = c.id
          WHERE i.parent IS NOT NULL AND i.id <> c.root_id {bound}
        )
        SELECT root_id, id, depth FROM closure
    """)
