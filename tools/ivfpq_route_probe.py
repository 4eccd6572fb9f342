"""Equality sweep for the driver-side probe routing (r19): the persisted
IVF / IVF-PQ probes route queries to coarse lists on the DRIVER
(`ann_index._route_driver`) instead of via a Spark job (crossJoin +
round(cosine*1e6) window + distinct + collect).  This probe replays the
OLD Spark-job routing inline and asserts the full probe outputs are
row-for-row identical at every SF — on a plain index, a residual index,
and the IVF lists index.

Run: python tools/ivfpq_route_probe.py [sf_dir ...]
Output: one JSON line per sf_dir with equality flags.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import Window
from pyspark.sql import functions as F

from hnarchive_spark.operators.similarity import as_double, cosine, norm
from hnarchive_spark.session import get_spark
from hnarchive_spark.sources.ann_index import (
    build_ivf_index,
    build_ivfpq_index,
    index_root,
    probe_ivf_topk,
    probe_ivfpq_topk,
)
from hnarchive_spark.tables import load


def _old_probes_ivfpq(spark, index_path, queries, n_probe, id_col, vec_col):
    """The pre-r19 routing: returns (probes_df, lists) exactly as the old
    probe_ivfpq_topk derived them."""
    index_path = index_root(index_path)
    centroids = spark.read.parquet(f"{index_path}/centroids")
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    routed = q.crossJoin(F.broadcast(centroids)).select(
        "query_id",
        "qv",
        "list_id",
        F.round(cosine(F.col("qv"), F.col("centroid")) * 1_000_000, 0)
        .cast("long")
        .alias("ccos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("list_id"))
    probes = routed.select(
        "query_id", "qv", "list_id", F.row_number().over(w).alias("pr")
    ).filter(F.col("pr") <= n_probe)
    return probes


def _route_equal(spark, index_path, queries, n_probe) -> bool:
    """Old Spark-job routing vs new driver routing: same (query, list, pr)."""
    from hnarchive_spark.sources.ann_index import _route_driver

    old = sorted(
        (int(r["query_id"]), int(r["list_id"]), int(r["pr"]))
        for r in _old_probes_ivfpq(
            spark, index_path, queries, n_probe, "vec_id", "embedding"
        ).collect()
    )
    ip = index_root(index_path)
    cent_rows = [
        (r["list_id"], r["centroid"])
        for r in spark.read.parquet(f"{ip}/centroids").collect()
    ]
    qrows = [
        (r["query_id"], r["qv"])
        for r in queries.select(
            F.col("vec_id").alias("query_id"),
            as_double(F.col("embedding")).alias("qv"),
        ).collect()
    ]
    new = sorted(
        (int(qid), int(lid), int(pr))
        for qid, _qv, _qn, lid, pr in _route_driver(qrows, cent_rows, n_probe)
    )
    return old == new


def main() -> None:
    sfs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    spark = get_spark("ivfpq-route-probe")
    spark.sparkContext.setLogLevel("ERROR")
    for sf in sfs:
        e = load(spark, sf, "embeddings")
        queries = e.filter(F.col("vec_id") < 5)
        tmp = tempfile.mkdtemp(prefix="route_probe_")
        out = {"sf": sf}
        try:
            plain = os.path.join(tmp, "ivfpq")
            build_ivfpq_index(e, plain, 4, 8, 2)
            out["route_equal_plain"] = _route_equal(spark, plain, queries, 2)
            out["probe_rows_plain"] = len(
                probe_ivfpq_topk(spark, plain, queries, 5, 4, n_probe=2).collect()
            )
            resid = os.path.join(tmp, "ivfpq_resid")
            build_ivfpq_index(e, resid, 4, 8, 2, by_residual=True)
            out["route_equal_resid"] = _route_equal(spark, resid, queries, 2)
            out["probe_rows_resid"] = len(
                probe_ivfpq_topk(spark, resid, queries, 5, 4, n_probe=2).collect()
            )
            ivf = os.path.join(tmp, "ivf")
            build_ivf_index(e, ivf)
            out["route_equal_ivf"] = _route_equal(spark, ivf, queries, 2)
            out["probe_rows_ivf"] = len(
                probe_ivf_topk(spark, ivf, queries, 5, n_probe=2).collect()
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
