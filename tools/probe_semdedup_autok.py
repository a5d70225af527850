"""Measured probe: SemDeDup K auto-derivation on the PLANTED clone
corpus across scale replicas (VERDICT r7 #2), mirroring what
tools/probe_lsh_autoparams.py does for the LSH family.

The graded lane (`semantic_dedup_embeddings`) pins K=4 so its
unrolled-Lloyd DuckDB oracle stays byte-deterministic; the r7 100×
probe honestly showed what a pinned K costs (52k-row clusters, 228 s,
per-cluster GEMM work quadratic in corpus size). This probe certifies
the production path — ``semantic_dedup_frame(k=None)`` →
:func:`operators.similarity.semdedup_k` (~sqrt(n)) with both
assignment passes vectorized (one GEMM per Arrow batch). For each
scale it reports:

- corpus count n and the derived K,
- nonempty-cluster population stats (mean / p99 / max) and the
  within-cluster pair-GEMM work proxy sum(m²) — at K=sqrt(n) the max
  cluster and sum(m²)/n should grow ~sqrt(n), not ~n,
- planted-clone drop rate (every vec_id % 25 == 0 has the affine
  clone x*0.95+0.01 at id+1,000,000; a clone assigned to its base's
  cluster MUST drop — misses are the paper's documented
  within-cluster-only approximation, reported honestly),
- wall seconds for the full assign→pair→rollup job.

At 1× it FIRST cross-checks the vectorized path against the
oracle-certified SQL path: pinned at the fixture K=4, the two rollups
must match row-for-row (same init, same ROUND(avg,6) Lloyd step, same
ROUND(d2,6)+lowest-cid tie contract).

Usage:
    python tools/probe_semdedup_autok.py /root/testdata/sf0.1 /tmp/sf1 /tmp/sf10

Results are recorded in SCALE.md ("SemDeDup auto-K on the planted
corpus").
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from pyspark.sql import functions as F

    from etl_orders_spark.operators.materialize import cache_stage
    from etl_orders_spark.operators.similarity import (
        GROUP_PAIR_SCHEMA,
        make_pair_emitter,
        semdedup_k,
    )
    from etl_orders_spark.plans.vector_queries import (
        _SD_K,
        _SD_TAU,
        _planted_corpus,
        _semdedup_rollup,
        semantic_dedup_assign_auto,
        semantic_dedup_frame,
        semantic_dedup_frame_fixture,
    )
    from etl_orders_spark.session import get_spark

    spark = get_spark("probe_semdedup_autok")
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]

    # 1x sanity gate: vectorized path == oracle-certified SQL path at
    # the fixture K (row-for-row rollup equality)
    base = dirs[0]
    fix = sorted(map(tuple, semantic_dedup_frame_fixture(spark, base).collect()))
    x0 = cache_stage(_planted_corpus(spark, base), "semantic_dedup.corpus")
    gemm = sorted(
        map(tuple, _semdedup_rollup(semantic_dedup_assign_auto(x0, k=_SD_K), _SD_TAU).collect())
    )
    ok = fix == gemm
    print(f"GEMM-vs-SQL rollup at K={_SD_K} on {base}: "
          f"{'MATCH' if ok else 'MISMATCH'} ({len(fix)} rows)", flush=True)

    # make_replica offsets vec_id by 10,000,000 per copy and the
    # planted-corpus law adds +1,000,000 within a copy's stratum, so a
    # PLANTED clone is exactly (vec_id % 10M) >= 1M; replica copies
    # (exact duplicate vectors, ids >= 10M at mod 0..n_orig) are a
    # separate drop class the rollup also catches
    is_clone = (F.col("vec_id") % 10_000_000) >= 1_000_000

    for sf_dir in dirs:
        corpus = cache_stage(_planted_corpus(spark, sf_dir), "semantic_dedup.corpus")
        n = corpus.count()
        n_clones = corpus.filter(is_clone).count()
        k = semdedup_k(n)

        t0 = time.time()
        assigned = semantic_dedup_assign_auto(corpus)
        stats = (
            assigned.groupBy("cid")
            .count()
            .agg(
                F.count("*").alias("n_clusters"),
                F.round(F.avg("count"), 1).alias("mean"),
                F.expr("percentile(count, 0.99)").alias("p99"),
                F.max("count").alias("max"),
                F.sum(F.col("count") * F.col("count")).alias("work"),
            )
            .first()
        )
        pairs = assigned.groupBy("cid").applyInPandas(
            make_pair_emitter("vec_id", "v", _SD_TAU), GROUP_PAIR_SCHEMA
        )
        dropped = pairs.select(F.col("id_b").alias("vec_id")).distinct()
        n_dropped = dropped.count()
        clones_dropped = dropped.filter(is_clone).count()
        wall = time.time() - t0

        print(
            f"RESULT {sf_dir}: n={n} K={k} nonempty={stats['n_clusters']} "
            f"cluster mean={stats['mean']} p99={stats['p99']} max={stats['max']} "
            f"pair-work sum(m^2)={stats['work']} (per-vec {stats['work'] / n:.1f}) "
            f"planted clones dropped={clones_dropped}/{n_clones} "
            f"total dropped={n_dropped} wall={wall:.1f}s",
            flush=True,
        )
    # a scripted run must FAIL if the vectorized path diverged from
    # the oracle-certified SQL path — the derived-K numbers above are
    # only meaningful when the sanity gate matched
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
