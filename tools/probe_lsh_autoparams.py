"""Measured probe: `near_dup_lsh_params` auto-derive on the PLANTED
clone corpus across scale replicas (VERDICT r6 #5).

The graded lane (`near_dup_embeddings_planted`) pins
``num_planes=4, num_tables=16`` for fixture-scale oracle determinism;
this probe certifies the production path — ``num_planes=None`` →
:func:`near_dup_lsh_params` — on the same planted corpus at 1×/10×/
100× (the make_replica embeddings are EXACT clones per replica, the
documented worst case for LSH bucket width). For each scale it
reports:

- the auto-derived (planes, tables),
- per-bucket population stats (mean / p99 / max — the per-bucket GEMM
  is O(m²), so "constant work at scale" means these hold ~flat),
- planted-pair recall (every vec_id % 25 == 0 gains the affine clone
  x*0.95+0.01 at id+1,000,000; the LSH path must find ALL of them),
- wall seconds for the full pair job.

Usage:
    python tools/probe_lsh_autoparams.py /root/testdata/sf0.1 /tmp/sf1 /tmp/sf10

Results are recorded in SCALE.md ("LSH auto-params on the planted
corpus").
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def planted_corpus(spark, sf_dir):
    # the ONE corpus-law definition (plans/vector_queries._planted_corpus)
    from pyspark.sql import functions as F

    from etl_orders_spark.plans.vector_queries import _planted_corpus

    corpus = _planted_corpus(spark, sf_dir)
    clones = corpus.filter(F.col("vec_id") >= 1_000_000)
    return corpus, clones


def main() -> int:
    from pyspark.sql import functions as F

    from etl_orders_spark.operators.similarity import (
        _bucket_assign,
        near_dup_lsh_params,
        near_dup_pairs_bucketed,
    )
    from etl_orders_spark.session import get_spark

    spark = get_spark("probe_lsh_autoparams")
    tau = 0.9
    for sf_dir in sys.argv[1:] or ["/root/testdata/sf0.1"]:
        corpus, clones = planted_corpus(spark, sf_dir)
        n = corpus.count()
        n_clones = clones.count()
        planes, tables = near_dup_lsh_params(n, tau)

        stats = (
            _bucket_assign(corpus, "vec_id", "v", planes, tables, 7, 64)
            .groupBy("_table", "_bucket")
            .count()
            .agg(
                F.round(F.avg("count"), 1).alias("mean"),
                F.expr("percentile(count, 0.99)").alias("p99"),
                F.max("count").alias("max"),
                F.count("*").alias("n_buckets"),
            )
            .first()
        )

        t0 = time.time()
        pairs = near_dup_pairs_bucketed(
            corpus, "vec_id", "v", tau=tau, num_planes=None, num_tables=None,
        )
        found = pairs.filter(
            (F.col("id_b") - F.col("id_a") == 1_000_000)
            & (F.col("id_a") % 25 == 0)
        ).count()
        wall = time.time() - t0

        print(
            f"RESULT {sf_dir}: n={n} auto=(planes={planes}, tables={tables}) "
            f"bucket mean={stats['mean']} p99={stats['p99']} max={stats['max']} "
            f"(n_buckets={stats['n_buckets']}) "
            f"planted recall={found}/{n_clones} wall={wall:.1f}s",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
