"""Deduplication operators for training-data pipelines (north-star set):
exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
- Exact dedup is a groupBy on a 32-hex fingerprint — shuffle carries
  (hash, id), never the text.
- MinHash signatures are a pure map stage (array_min over a transform
  of the shingle array) — zero shuffle until the LSH band join, and
  that join shuffles only (band_key, id) pairs.
- Candidate verification joins shingle sets only for the candidate
  pairs (a tiny fraction of n²).
- Hashes come in two flavors: `xxhash64` (fast JVM path, default for
  production) and `md5`-derived 32-bit ints (bit-identical in any
  engine — used when an external SQL oracle must reproduce the result).

The reference has no dedup; these generalize its fingerprint-less
full-refresh loads (SURVEY.md §2 ABSENT rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_orders_spark.functions.text import fingerprint, normalize_text, shingles, tokens

# word k-gram width of every shingle-set, minhash and winnowing operator
K_SHINGLE = 3
# LSH banding of the 16-minhash signature: 4 bands of 4 rows each
LSH_BANDS, LSH_ROWS_PER_BAND = 4, 4
# winnowing: the minimum of every 4 consecutive k-gram hashes
WINNOW_WINDOW = 4


def _parallelism_floor(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions
    than the cluster has cores — the toy-scale case (one small parquet
    file → one partition) where a persisted tokenize/shingle stage
    would otherwise compute on a single task. At production scale the
    input already has ≥ cores partitions and this is a no-op (no
    shuffle added)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def _portable_hash(c: Column, seed: int) -> Column:
    """32-bit deterministic hash from md5 hex — reproducible in any
    engine that has md5 + hex→int (DuckDB: ('0x'||substr(md5(s),1,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{seed}|"), c)), 1, 8), 16, 10).cast("long")


def _fast_hash(c: Column, seed: int) -> Column:
    return F.xxhash64(F.lit(seed), c)


def _hash(c: Column, seed: int, portable: bool) -> Column:
    return _portable_hash(c, seed) if portable else _fast_hash(c, seed)


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact near-zero-cost dedup: group by normalized-text fingerprint,
    keep the lowest id as canonical. Output: fp, canonical_id, n_dups."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("canonical_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    portable: bool = False,
) -> DataFrame:
    """MinHash signature per document: for each of `num_hashes` seeds,
    the min hash over the document's word-k-gram shingles. A pure map
    stage (no shuffle); documents with fewer than k tokens get an empty
    signature and never produce candidates.

    Output: id_col, shingles array, signature array<long>[num_hashes].
    In the fast path (portable=False) the ``shingles`` column holds
    the DISTINCT xxhash64 window hashes (array<long>) instead of gram
    strings — downstream ``verify_jaccard`` set algebra is identical
    on either representation modulo 64-bit collisions, and no gram
    string is ever built: tokens hash per window map-side
    (``hashed_ordered_shingles``) and the per-seed minhash mixes the
    8-byte base hash (xxhash64(h, seed)) rather than re-hashing a
    ~k-word string per seed. Measured 1.81s → 0.73s at sf0.1 for the
    16-seed signature stage, still a pure map (no added exchange —
    at 100 TB an extra full-corpus shuffle would cost more than any
    compute saved). portable=True keeps md5-derived string hashing so
    an external SQL oracle can reproduce signatures bit-for-bit.
    """
    if portable:
        sh = shingles(text_col, K_SHINGLE)

        def _min_hash(seed: int) -> Column:
            # closure factory: the transform lambda must stay single-argument
            # (a 2-param lambda is PySpark's (element, index) form — a default
            # arg would silently bind the seed to the index Column)
            return F.array_min(F.transform(F.col("shingles"), lambda s: _hash(s, seed, portable)))

        sig = F.array(*[_min_hash(i) for i in range(num_hashes)])
        return (
            df.select(F.col(id_col), sh.alias("shingles"))
            .withColumn("signature", F.when(F.size("shingles") > 0, sig))
        )


    def _mix(seed: int) -> Column:
        return F.array_min(
            F.transform(F.col("shingles"), lambda h: F.xxhash64(h, F.lit(seed)))
        )

    sig = F.array(*[_mix(i) for i in range(num_hashes)])
    return (
        df.withColumn("_t", tokens(normalize_text(F.col(text_col))))
        .select(
            F.col(id_col),
            F.array_distinct(hashed_ordered_shingles("_t", K_SHINGLE)).alias("shingles"),
        )
        .withColumn("signature", F.when(F.size("shingles") > 0, sig))
    )


def minhash_lsh_candidates(
    sig_df: DataFrame,
    id_col: str,
    bucket_cap: int | None = None,
) -> DataFrame:
    """LSH banding: split each signature into `LSH_BANDS` bands of
    `LSH_ROWS_PER_BAND` minhashes; documents sharing any full band become a
    candidate pair. The only shuffle is the equi-join on
    (band_idx, band_key); a hot bucket means near-identical docs —
    exactly what we're hunting, and also where pair OUTPUT goes
    quadratic: an N-way duplicate CLUSTER lands its N members in one
    bucket and emits C(N,2) pairs (quantified at 10x/100x in SCALE.md,
    round 10).

    `bucket_cap` is the scale guard for that regime: keep only the
    `bucket_cap` LOWEST ids per (band_idx, band_key) bucket before
    pairing, bounding pairs per bucket at C(cap, 2). Deterministic
    (lowest ids — so canonical members survive) and exactly
    SQL-mirrorable. A pair is missed iff BOTH members sit past the cap
    in EVERY band bucket they share; within one oversized duplicate
    cluster the kept members still chain to the dropped ones
    transitively through the canonical member, which is what a
    keep-one-per-cluster consumer (near_dedup_keep_best /
    connected components) actually needs.

    Output: distinct (id_a, id_b) with id_a < id_b.
    """
    bands = sig_df.filter(F.col("signature").isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.concat_ws(
                            ",",
                            *[
                                F.element_at("signature", b * LSH_ROWS_PER_BAND + r + 1).cast("string")
                                for r in range(LSH_ROWS_PER_BAND)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("_id", "band.band_idx", "band.band_key")
    if bucket_cap is not None:
        w = Window.partitionBy("band_idx", "band_key").orderBy("_id")
        bands = (
            bands.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= bucket_cap)
            .drop("_rk")
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def verify_jaccard(
    candidates: DataFrame,
    sig_df: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard on shingle sets, for candidate pairs only.
    Output: id_a, id_b, jaccard (rounded to 6) filtered ≥ threshold."""
    sh = sig_df.select(F.col(id_col), F.col("shingles"))
    a = sh.toDF("id_a", "sh_a")
    b = sh.toDF("id_b", "sh_b")
    joined = candidates.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.round(F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6)
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    df_cap: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard via inverted index: explode shingles,
    self-join on the shingle (only docs sharing ≥1 shingle ever meet),
    count shared, reconstruct |A∪B| from per-doc set sizes.

    `df_cap` is the scale guard: shingles appearing in more than
    `df_cap` documents are dropped from the *join index only* (hot
    stopword-ish shingles make skewed join keys and carry no dedup
    signal), while |A| and |B| still count every shingle. The exact
    Jaccard of a pair is therefore UNDER-counted iff a capped shingle
    was shared — pairs found keep exact-enough scores, and a pair
    missed entirely must share only ultra-common shingles (which means
    it was never a near-dup). None = exact (the oracle-checked form).
    The exploded shingle table feeds three consumers (per-doc sizes
    and both join sides — four with the df-cap's hot-key scan), so it
    caches via the keyed stage cache (operators/materialize.cache_stage:
    bounded per call site, so repeated calls in a long-lived session
    never accumulate the blocks a bare .persist() leaked). Without
    the cache each consumer replays the full tokenize+shingle of every
    document.
    """
    from etl_orders_spark.operators.materialize import cache_stage

    sh = cache_stage(
        _parallelism_floor(df).select(
            F.col(id_col).alias("_id"), F.explode(shingles(text_col, K_SHINGLE)).alias("sh")
        ),
        f"ngram_jaccard.sh.{K_SHINGLE}",
    )
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))  # shingles are distinct already
    joinable = sh
    if df_cap is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > df_cap)
            .select("sh")
        )
        joinable = sh.join(F.broadcast(hot), "sh", "left_anti")
    a = joinable.select(F.col("_id").alias("id_a"), "sh")
    b = joinable.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh2"))
    shared = (
        a.join(b, (F.col("sh") == F.col("sh2")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.toDF("id_a", "n_a")
    sb = sizes.toDF("id_b", "n_b")
    jac = F.round(
        F.col("n_shared").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
        6,
    )
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ τ via PREFIX FILTERING (Chaudhuri et
    al. ICDE'06 / Bayardo et al. WWW'07 "Scaling Up All Pairs"): order
    every document's shingles by a single global total order (document
    frequency ascending, shingle string as tie-break) and index only
    each doc's first ``n - ceil(τ·n) + 1`` shingles. Two sets with
    Jaccard ≥ τ must collide on at least one prefix element under any
    shared total order, so candidate generation is *provably complete*
    — unlike the df-cap heuristic — while the join keys are by
    construction the RAREST shingles each document has: the inverted
    index self-join gets rare keys (small buckets) instead of the
    stopword-shingle hot keys that skew the uncapped index at 100 TB.

    Cost shape: one explode, one df-count aggregate, one per-doc window
    (shuffle on id), a rare-key self-join, then exact verification that
    joins the full shingle arrays for candidate pairs only.

    The shingle-array table and the prefix index each feed multiple
    consumers (df-count + rank + both verify sides; both candidate
    join sides), so both cache via the keyed stage cache
    (cache_stage: bounded per call site, no accumulation)
    — without them the full tokenize+shingle replays six times
    (measured: 17.6s -> cached at sf0.1, the dominant cost was
    recompute, not the join).

    Output: id_a < id_b, jaccard (rounded 6) filtered ≥ threshold.
    """
    from pyspark.sql import Window as W

    from etl_orders_spark.operators.materialize import cache_stage

    docs = cache_stage(
        _parallelism_floor(df).select(
            F.col(id_col).alias("_id"), shingles(text_col, K_SHINGLE).alias("sh_set")
        ),
        f"prefix_filter.docs.{K_SHINGLE}",
    )
    ex = docs.select("_id", F.size("sh_set").alias("n_sh"), F.explode("sh_set").alias("sh"))
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    ranked = ex.join(dfreq, "sh").withColumn(
        "rn", F.row_number().over(W.partitionBy("_id").orderBy("_df", "sh"))
    )
    prefix_len = F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
    prefix = cache_stage(
        ranked.filter(F.col("rn") <= prefix_len).select("_id", "sh"),
        f"prefix_filter.prefix.{K_SHINGLE}",
    )
    cand = (
        prefix.toDF("id_a", "sh")
        .join(prefix.toDF("id_b", "sh2"), (F.col("sh") == F.col("sh2")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    a = docs.toDF("id_a", "sh_a")
    b = docs.toDF("id_b", "sh_b")
    joined = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = F.round(F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6)
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(F.col("jaccard") >= threshold)


def ordered_shingles(col: Column | str, k: int) -> Column:
    """Positional (non-distinct) word k-grams — winnowing needs document
    order preserved, unlike the set-semantics `shingles`."""

    toks = tokens(normalize_text(col))
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    parts = [F.slice(toks, j + 1, n_grams) for j in range(k)]
    gram = parts[0]
    for p in parts[1:]:
        gram = F.zip_with(gram, p, lambda a, b: F.concat_ws(" ", a, b))
    return gram


def hashed_ordered_shingles(tok_col: Column | str, k: int) -> Column:
    """xxhash64 of each positional k-token window → array<long>, the
    shuffle-thin twin of ``ordered_shingles``: grams travel as 8-byte
    longs instead of ~k-word strings (measured 3.4× on the dup-gram
    pipeline at sf0.1 — the string form's shuffle+compare dominates).
    Equivalence classes are identical to the string grams' modulo
    64-bit collisions (tokens contain no spaces, so the space-joined
    string is injective on windows; multi-arg xxhash64 is injective on
    token tuples up to hash collisions, ~q²/2⁶⁵ for q distinct grams).

    Pass an ALREADY MATERIALIZED token-array column (a plain column
    reference, e.g. after ``withColumn("_toks", tokens(...))``) —
    higher-order-function lambdas re-evaluate referenced
    sub-expressions per element under interpreted eval, so inlining
    the tokenization here would re-tokenize per gram (the O(n·k)
    trap the winnowing docstring documents).

    Guard rail: Spark's ``sequence(1, n)`` DESCENDS for n < 1
    (sequence(1,0) = [1,0]), so sub-k-token docs must short-circuit to
    an empty array rather than emit phantom windows."""
    t = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    n_grams = F.size(t) - (k - 1)
    windows = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.xxhash64(*[F.element_at(t, i + j) for j in range(k)]),
    )
    return F.when(n_grams >= 1, windows).otherwise(F.array().cast("array<long>"))


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    portable: bool = False,
) -> DataFrame:
    """Winnowing (rolling-hash document fingerprinting, Schleimer et
    al. SIGMOD'03 scheme expressed relationally): hash the ordered
    `K_SHINGLE`-gram stream, take the minimum of every sliding window
    of `WINNOW_WINDOW` consecutive hashes, emit the distinct minima per
    doc. Guarantees any shared run of ≥ k+window-1 tokens between two
    documents produces a shared fingerprint.

    Built as posexplode + a ROWS-frame window min — one shuffle on the
    doc id, no higher-order-function lambdas over the hash stream
    (whose interpreted evaluation re-runs referenced sub-expressions
    per element: the array formulation of this operator is O(n·w)
    tokenizations/row).

    The fast path (portable=False) never builds gram strings at all:
    token windows hash map-side via ``hashed_ordered_shingles``, so
    the doc-id exchange carries (id, pos, long). Fingerprint VALUES
    are an implementation detail in both modes (opaque hashes; only
    equality matters, and the shared-run guarantee is hash-agnostic);
    portable=True keeps the md5 string path whose values a SQL oracle
    can reproduce.

    Output: id_col, fp (long) — distinct fingerprint values.
    """
    from pyspark.sql import Window as W


    if portable:
        grams = df.select(
            F.col(id_col),
            F.posexplode(ordered_shingles(text_col, K_SHINGLE)).alias("pos", "gram"),
        )
        hashed = grams.select(F.col(id_col), "pos", _hash(F.col("gram"), 0, portable).alias("h"))
    else:
        hashed = df.withColumn("_toks", tokens(normalize_text(F.col(text_col)))).select(
            F.col(id_col),
            F.posexplode(hashed_ordered_shingles("_toks", K_SHINGLE)).alias("pos", "h"),
        )
    w = (
        W.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(W.currentRow, WINNOW_WINDOW - 1)
    )
    n = W.partitionBy(id_col)
    windowed = hashed.select(
        F.col(id_col),
        "pos",
        F.min("h").over(w).alias("fp"),
        F.count(F.lit(1)).over(n).alias("_n"),
    )
    # only full windows: pos in [0, n_grams - window]
    return (
        windowed.filter(F.col("pos") <= F.col("_n") - WINNOW_WINDOW)
        .select(F.col(id_col), "fp")
        .distinct()
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int,
    num_bits: int = 32,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ `max_hamming`,
    found via byte-band LSH: split the fingerprint into 4 bands of
    `num_bits/4` bits; by pigeonhole, any pair within hamming distance
    < 4 shares at least one intact band — so banding is *provably
    complete* for max_hamming ≤ 3, not approximate. The band join
    shuffles (band_idx, band_value, id) only; bit_count verifies
    exactly on candidates.

    Output: id_a < id_b, hamming (int).
    """
    if max_hamming >= 4:
        raise ValueError("4-band pigeonhole completeness requires max_hamming <= 3")
    band_bits = num_bits // 4
    mask = (1 << band_bits) - 1
    from etl_orders_spark.operators.materialize import cache_stage

    # the signature table feeds BOTH sides of the band self-join;
    # without materialization the explode + 32-aggregate signature
    # stage runs twice (2 document scans measured). It is doc-grain —
    # (id, long) — so the stage is tiny next to the corpus.
    sh = cache_stage(simhash(df, id_col, text_col, num_bits, portable), "simhash_near_pairs.sh")
    bands = sh.select(
        F.col(id_col).alias("_id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * band_bits).bitwiseAND(F.lit(mask)).alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("_id", "simhash", "band.band_idx", "band.band_val")
    a = bands.select(
        F.col("band_idx"), F.col("band_val"), F.col("_id").alias("id_a"), F.col("simhash").alias("sh_a")
    )
    b = bands.select(
        F.col("band_idx").alias("_bi2"),
        F.col("band_val").alias("_bv2"),
        F.col("_id").alias("id_b"),
        F.col("simhash").alias("sh_b"),
    )
    cand = a.join(
        b,
        (F.col("band_idx") == F.col("_bi2"))
        & (F.col("band_val") == F.col("_bv2"))
        & (F.col("id_a") < F.col("id_b")),
    )
    # Emit each pair from its FIRST shared band only: a pair sharing k
    # bands appears k times at the join output, but all copies except
    # the one whose earlier bands all differ are dropped MAP-SIDE here —
    # replacing the dropDuplicates shuffle (which carried every
    # candidate copy) with 3 integer comparisons per copy.
    def _band(col: str, i: int) -> F.Column:
        return F.shiftright(col, i * band_bits).bitwiseAND(F.lit(mask))

    first_band = [
        (F.col("band_idx") <= i) | (_band("sh_a", i) != _band("sh_b", i))
        for i in range(4)
    ]
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    out = cand
    for cond in first_band:
        out = out.filter(cond)
    return (
        out.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_bits: int = 32,
    portable: bool = False,
) -> DataFrame:
    """SimHash fingerprint: per bit j, sum ±1 over token hashes' bit j;
    the sign forms the fingerprint bit. One explode + one groupBy with
    `num_bits` integer aggregates — a single shuffle of (id, token_hash).

    Output: id_col, simhash (long).
    """
    # materialize the token hash ONCE before the 32 bit-plane
    # aggregates reference it: codegen does not reliably CSE the same
    # hash expression across aggregate functions (measured 0.64s →
    # 0.46s at sf0.1), and the narrowed (id, long) projection is what
    # the partial aggregation consumes
    tok = df.select(
        F.col(id_col), F.explode(tokens(normalize_text(text_col))).alias("tok")
    ).select(F.col(id_col), _hash(F.col("tok"), 0, portable).alias("_th"))
    h = F.col("_th")
    # branch-free bit planes: SUM((h >> j) & 1) = count of ones c_j,
    # and the ±1 sum equals 2*c_j - n, so "sum > 0" is "2*c_j > n"
    # with n = token count — same fingerprint bit, exactly. The
    # when/otherwise form this shipped with generated 64 branchy
    # aggregate updates whose whole-stage codegen took seconds to JIT
    # (measured at sf0.1/64 bits: cold 6.8 s -> 1.5 s, warm 0.89 s ->
    # 0.74 s for the branch-free form).
    aggs = [
        F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1))).alias(f"b{j}")
        for j in range(num_bits)
    ]
    per_doc = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"), *aggs)
    # bit 63 is the two's-complement sign bit: its term is Long.MIN_VALUE
    # (2**63 overflows a signed long literal); the summed value is the
    # correct 64-bit pattern either way
    fp = sum(
        (
            F.when(
                F.col(f"b{j}") * 2 > F.col("_n"),
                F.lit(2**j if j < 63 else -(2**63)),
            ).otherwise(F.lit(0))
            for j in range(num_bits)
        ),
        start=F.lit(0),
    )
    return per_doc.select(F.col(id_col), fp.cast("long").alias("simhash"))
