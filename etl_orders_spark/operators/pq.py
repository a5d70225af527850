"""Product-quantization ANN (IVF-PQ): compressed-domain similarity
search — the index family that makes billion-vector search tractable.

Capability extension beyond the reference (an Airflow ETL with no
vector ops); algorithm is public knowledge (Jégou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the
IVF routing + asymmetric-distance scoring used by every large-scale
vector store).

Why this exists next to IVF-Flat (`similarity.ivf_topk`) and LSH: at
100 TB the corpus' float vectors don't fit the probe path's working
set. PQ stores each vector as M uint8 codes (64-dim float32 → 8 bytes,
a 32× compression), and scoring a candidate against a query is M table
lookups into a per-query LUT instead of a D-wide dot product — so the
probe stage streams the *codes*, and only the final re-rank touches
true vectors for the tiny top-R candidate set.

Distribution of work:
- TRAIN (driver, bounded): k-means for the coarse router and the M
  sub-codebooks runs on a deterministic hash-ordered sample capped at
  `_TRAIN_N` rows — the standard practice (codebook quality saturates
  long before the corpus does), and the one deliberate driver-side
  step. Deterministic: sample order is (xxhash64(id), id), numpy
  RandomState(0), fixed Lloyd iterations — no partition-seeded RNG.
- ENCODE (map-only): centroids + codebooks ride the closure (a few KB
  — M·ksub·(D/M) + cells·D floats); one Arrow pass assigns each
  vector's cell and codes. No shuffle.
- SEARCH: probes shuffle on cell id only (nprobe rows per query); each
  cell cogroup scores its candidates with one numpy gather per query
  (LUT[m, code[m]] summed over m) and keeps a local top-R; the global
  top-R per query then re-ranks EXACTLY against true vectors, so the
  emitted `cos` is a true cosine and approximation affects only which
  candidates were considered (recall measured vs brute force in
  tests/test_vectors.py).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_orders_spark.operators.topk import topk_per_group

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np


def _kmeans(x, k: int, iters: int, seed: int):
    """Plain Lloyd k-means on a small numpy sample (driver-side train
    step). Deterministic: seeded init by sampling distinct rows, empty
    clusters re-seeded from the farthest points."""
    import numpy as np

    n = x.shape[0]
    k = min(k, n)
    rs = np.random.RandomState(seed)
    cents = x[rs.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        # squared L2 via the expanded form; one GEMM per iteration
        d2 = (x * x).sum(1)[:, None] - 2.0 * (x @ cents.T) + (cents * cents).sum(1)[None, :]
        assign = d2.argmin(1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                cents[j] = members.mean(0)
            else:  # re-seed a dead centroid at the worst-served point
                cents[j] = x[d2.min(1).argmax()]
    return cents.astype(np.float32)


def _normalize(m):
    import numpy as np

    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


# train_pq_model collects at most this many rows, whatever the corpus size
_TRAIN_N = 16384
# Lloyd iterations per k-means (coarse router and each sub-codebook)
_ITERS = 8
# the index: 16 coarse cells, 8 sub-quantizers of 64 codes each (a
# 64-dim float32 vector becomes 8 small ints)
_N_CELLS, _M_SUB, _KSUB = 16, 8, 64
# search: probe 8 of the 16 cells, re-rank the ADC top 8·k exactly.
# Recall vs brute force measured 0.68 at 500 vectors and ~0.8 at 5k
# (routing on near-uniform vectors is the documented hard case)
_NPROBE, _RERANK = 8, 8


def train_pq_model(df: DataFrame, id_col: str, vec_col: str):
    """Train the coarse router + M sub-codebooks on a deterministic
    hash-ordered sample (≤ _TRAIN_N rows collected — bounded regardless
    of corpus size). Vectors are L2-normalized first so inner product
    == cosine everywhere downstream. Returns (coarse, codebooks) numpy
    float32 arrays of shape (_N_CELLS, D) and (_M_SUB, _KSUB, D/_M_SUB)."""
    import numpy as np

    sample = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id").cast("string")), F.col("_id"))
        .limit(_TRAIN_N)
        .collect()
    )
    x = _normalize(np.array([r["_v"] for r in sample], dtype=np.float64))
    dim = x.shape[1]
    if dim % _M_SUB:
        raise ValueError(f"pq: dim {dim} not divisible by {_M_SUB} sub-quantizers")
    dsub = dim // _M_SUB
    coarse = _kmeans(x, _N_CELLS, _ITERS, seed=0)
    books = np.stack(
        [_kmeans(x[:, m * dsub : (m + 1) * dsub], _KSUB, _ITERS, seed=1 + m) for m in range(_M_SUB)]
    )
    return coarse, books


def encode_pq(df: DataFrame, coarse, books, id_col: str, vec_col: str) -> DataFrame:
    """Map-only encode: each vector → (id, cell, codes). Codes are the
    per-subspace nearest codebook entries of the NORMALIZED vector —
    M small ints replacing D floats. The model arrays ride the closure
    (pickled by value) to every executor."""
    from pyspark.sql.functions import pandas_udf

    m_sub, ksub, dsub = books.shape

    # NOTE every UDF body below is a self-contained closure (numpy ops
    # inline, no module-level helper calls): cloudpickle ships closures
    # by value, but a reference to a module function would require the
    # package importable in the Python workers — not true under the
    # driver's bare session.
    @pandas_udf("struct<cell: int, codes: array<int>>")
    def _enc(sv):
        import numpy as np
        import pandas as pd

        if len(sv) == 0:
            return pd.DataFrame({"cell": [], "codes": []})
        x = np.vstack(sv.to_numpy()).astype(np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        x = x / n
        cell = (x @ coarse.T.astype(np.float64)).argmax(1).astype("int32")
        codes = np.empty((x.shape[0], m_sub), dtype="int64")
        for m in range(m_sub):
            sub = x[:, m * dsub : (m + 1) * dsub]
            cb = books[m].astype(np.float64)
            d2 = (sub * sub).sum(1)[:, None] - 2.0 * (sub @ cb.T) + (cb * cb).sum(1)[None, :]
            codes[:, m] = d2.argmin(1)
        return pd.DataFrame({"cell": cell, "codes": list(codes)})

    return df.select(
        F.col(id_col).alias("_id"), _enc(F.col(vec_col)).alias("_e")
    ).select("_id", F.col("_e.cell").alias("cell"), F.col("_e.codes").alias("codes"))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """IVF-PQ top-k cosine: train (bounded sample) → encode corpus
    (map-only) → probe _NPROBE cells per query → ADC-score candidates
    in the compressed domain (LUT gathers, no float vectors) → exact
    cosine re-rank of the global top `_RERANK·k` per query.

    Output: query_id, neighbor_id, cos (exact, rounded 6) — same
    contract as brute_force_topk; self-pairs excluded.
    """
    from pyspark.sql.functions import pandas_udf

    from etl_orders_spark.functions.vectors import cosine_batch

    coarse, books = train_pq_model(corpus, id_col, vec_col)
    m_books, _, dsub = books.shape
    r_local = max(_RERANK * k, k)

    encoded = encode_pq(corpus, coarse, books, id_col, vec_col).toDF(
        "neighbor_id", "cell", "codes"
    )

    @pandas_udf("array<int>")
    def _probe_cells(sv):
        import numpy as np
        import pandas as pd

        if len(sv) == 0:
            return pd.Series([], dtype=object)
        x = np.vstack(sv.to_numpy()).astype(np.float64)
        n = np.linalg.norm(x, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        x = x / n
        sims = x @ coarse.T.astype(np.float64)
        order = np.argsort(-sims, axis=1, kind="stable")[:, :_NPROBE]
        return pd.Series(list(order.astype("int32")))

    probes = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .withColumn("cell", F.explode(_probe_cells(F.col("q_vec"))))
    )

    def _adc(key, qpdf, cpdf):  # closure: pickled by value
        import numpy as np
        import pandas as pd

        if qpdf.empty or cpdf.empty:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "adc": []})
        codes = np.vstack(cpdf["codes"].to_numpy()).astype("int64")  # (C, M)
        nids = cpdf["neighbor_id"].to_numpy()
        qv = np.vstack(qpdf["q_vec"].to_numpy()).astype(np.float64)
        qn = np.linalg.norm(qv, axis=1, keepdims=True)
        qn[qn == 0.0] = 1.0
        qv = qv / qn
        out = []
        flat = codes + (np.arange(m_books) * books.shape[1])[None, :]  # index into (M·ksub)
        for qi, qid in enumerate(qpdf["query_id"].to_numpy()):
            # LUT[m, j] = <q_m, books[m, j]>; candidate score = Σ_m LUT[m, code_m]
            lut = np.concatenate(
                [qv[qi, m * dsub : (m + 1) * dsub] @ books[m].T.astype(np.float64) for m in range(m_books)]
            )
            adc = lut[flat].sum(1)
            keep = min(r_local, len(adc))
            top = np.argpartition(-adc, keep - 1)[:keep]
            out.append(
                pd.DataFrame({"query_id": qid, "neighbor_id": nids[top], "adc": adc[top]})
            )
        return pd.concat(out, ignore_index=True)

    local = (
        probes.groupBy("cell")
        .cogroup(encoded.groupBy("cell"))
        .applyInPandas(
            _adc,
            f"query_id {queries.schema[id_col].dataType.simpleString()}, "
            f"neighbor_id {corpus.schema[id_col].dataType.simpleString()}, adc double",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    shortlist = topk_per_group(
        local.dropDuplicates(["query_id", "neighbor_id"]),
        ["query_id"],
        [F.desc("adc"), F.asc("neighbor_id")],
        r_local,
    )
    # exact re-rank: true vectors touched for top-R candidates only.
    # The (query×R)-row shortlist broadcasts against the corpus scan so
    # the corpus never shuffles for the re-rank (inner join: BuildLeft
    # is legal, the hint is not dropped).
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    exact = (
        F.broadcast(shortlist.join(F.broadcast(q), "query_id"))
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", F.round(cosine_batch("q_vec", "c_vec"), 6).alias("cos"))
    )
    return topk_per_group(exact, ["query_id"], [F.desc("cos"), F.asc("neighbor_id")], k)
