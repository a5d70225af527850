"""Tests for dedup operators: exact, MinHash+LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest

from etl_orders_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
    verify_jaccard,
    winnow_fingerprints,
)

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
    (3, "completely different text about spark engines and shuffles"),
    (4, "THE QUICK   BROWN fox jumps over the lazy dog"),  # exact dup of 1 after normalize
    (5, "tiny"),  # < k tokens -> empty shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_exact_dedup_groups_normalized_duplicates(docs):
    out = {r["canonical_id"]: r["n_dups"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1] == 2  # docs 1 and 4 share a fingerprint
    assert sum(out.values()) == 5


@pytest.mark.parametrize("portable", [False, True])
def test_minhash_signature_shape_and_seed_diversity(docs, portable):
    sigs = {
        r["doc_id"]: r["signature"]
        for r in minhash_signatures(docs, "doc_id", "text", 8, portable=portable).collect()
    }
    assert sigs[5] is None  # too short -> null signature
    assert len(sigs[1]) == 8
    # regression for the (element, index) lambda bug: distinct seeds must
    # yield distinct minhash streams, not one value repeated num_hashes times
    assert len(set(sigs[1])) > 1
    # exact dup after normalization -> identical signature
    assert sigs[1] == sigs[4]
    # near-dup shares most minhashes; disjoint text shares none
    shared_near = sum(a == b for a, b in zip(sigs[1], sigs[2]))
    shared_far = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert shared_near > shared_far


def test_lsh_candidates_find_near_dups_not_disjoint(docs):
    sigs = minhash_signatures(docs, "doc_id", "text", 16)
    pairs = {
        (r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(sigs, "doc_id").collect()
    }
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs  # near-dup shares a full band w.h.p. at jaccard ~0.8
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_verify_jaccard_scores_and_threshold(docs):
    sigs = minhash_signatures(docs, "doc_id", "text", 16)
    cands = minhash_lsh_candidates(sigs, "doc_id")
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verify_jaccard(cands, sigs, "doc_id", 0.5).collect()}
    assert out[(1, 4)] == 1.0
    assert 0.5 <= out[(1, 2)] < 1.0


def test_ngram_jaccard_pairs_matches_verify_scores(docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", 0.5).collect()
    }
    assert out[(1, 4)] == 1.0
    assert (1, 2) in out
    assert all(j >= 0.5 for j in out.values())


def test_ngram_df_cap_identical_on_fixture_corpus(docs, spark):
    """With a cap above every shingle's document frequency, the capped
    variant must equal the exact form bit-for-bit."""
    exact = sorted(map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", 0.2).collect()))
    capped = sorted(
        map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", 0.2, df_cap=10).collect())
    )
    assert exact == capped and exact


def test_ngram_df_cap_drops_hot_shingles_only(spark):
    """A shingle shared by every doc is capped out of the index: pairs
    related ONLY through it disappear; genuinely-similar pairs stay."""
    rows = [
        (1, "common filler prefix alpha beta gamma"),
        (2, "common filler prefix delta epsilon zeta"),
        (3, "common filler prefix alpha beta gamma"),  # true dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {(r["id_a"], r["id_b"]) for r in ngram_jaccard_pairs(df, "doc_id", "text", 0.1).collect()}
    capped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(df, "doc_id", "text", 0.1, df_cap=2).collect()
    }
    assert (1, 2) in exact  # related only via the universal prefix
    assert (1, 2) not in capped  # capped out: shingle df=3 > 2
    assert (1, 3) in capped  # true dup survives via its uncapped shingles


def test_simhash_identical_after_normalize_and_near(docs):
    out = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert out[1] == out[4]
    ham_near = bin(out[1] ^ out[2]).count("1")
    ham_far = bin(out[1] ^ out[3]).count("1")
    assert ham_near < ham_far


def test_simhash_near_pairs_banding_is_complete(docs, spark):
    """4-band LSH must find EXACTLY the brute-force hamming ≤ 3 pairs
    (pigeonhole completeness), and reject max_hamming ≥ 4."""
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    ids = sorted(sh)
    brute = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sh[a] ^ sh[b]).count("1") <= 3
    }
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    assert banded == brute
    assert (1, 4) in banded and banded[(1, 4)] == 0  # exact dup -> hamming 0
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(docs, "doc_id", "text", max_hamming=4)


def test_winnow_shared_run_guarantee(spark):
    """Docs sharing a run of ≥ k+w-1 tokens must share a fingerprint;
    token-disjoint docs must share none."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta unique tail one"),
        (2, "different head here alpha beta gamma delta epsilon zeta eta theta"),
        (3, "totally disjoint vocabulary nothing matches anything here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text")
    by_doc = {
        i: {r["fp"] for r in fps.filter(f"doc_id = {i}").collect()} for i in (1, 2, 3)
    }
    assert by_doc[1] & by_doc[2]  # shared 8-token run (>= 3+4-1=6) -> shared fp
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnow_short_doc_yields_no_fingerprints(spark):
    # fewer than k+window-1 tokens -> no full window -> empty output
    df = spark.createDataFrame([(1, "only five little tokens here")], "doc_id long, text string")
    assert winnow_fingerprints(df, "doc_id", "text").count() == 0


def test_connected_components_chain_and_singleton(spark):
    """Transitive chains collapse to one component; singletons keep
    their own id; a 40-node chain converges (path halving => O(log D)
    rounds, far under the iteration cap)."""
    from etl_orders_spark.operators.graph import connected_components

    n = 40
    verts = spark.createDataFrame([(i,) for i in range(n + 2)], "id long")
    # one long chain 0-1-...-39, plus isolated vertices 40, 41
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(verts, edges, "id").collect()
    }
    assert all(got[i] == 0 for i in range(n))
    assert got[40] == 40 and got[41] == 41


def test_connected_components_two_clusters(spark):
    from etl_orders_spark.operators.graph import connected_components

    verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 7, 8, 9]], "id long")
    edges = spark.createDataFrame([(2, 1), (2, 3), (8, 7), (9, 7)], "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(verts, edges, "id").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_prefix_filter_equals_exact_all_pairs(docs):
    """Prefix filtering is provably complete for Jaccard >= tau: the
    pair set (and scores) must equal the exact inverted-index form
    bit-for-bit at several thresholds."""
    from etl_orders_spark.operators.dedup import prefix_filter_jaccard_pairs

    for tau in (0.1, 0.2, 0.5, 0.9):
        exact = sorted(map(tuple, ngram_jaccard_pairs(docs, "doc_id", "text", tau).collect()))
        pref = sorted(
            map(tuple, prefix_filter_jaccard_pairs(docs, "doc_id", "text", tau).collect())
        )
        assert exact == pref, f"tau={tau}"
    assert ngram_jaccard_pairs(docs, "doc_id", "text", 0.1).count() > 0


def test_prefix_filter_indexes_fewer_postings(spark):
    """The prefix index must be strictly smaller than the full inverted
    index at a high threshold (that is the point of the operator)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etl_orders_spark.functions.text import shingles

    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i}") for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = df.select(F.explode(shingles("text", 3)).alias("sh")).count()
    ex = df.select(
        F.col("doc_id"), F.size(shingles("text", 3)).alias("n_sh"),
        F.explode(shingles("text", 3)).alias("sh"),
    )
    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    ranked = ex.join(dfreq, "sh").withColumn(
        "rn", F.row_number().over(W.partitionBy("doc_id").orderBy("_df", "sh"))
    )
    tau = 0.8
    pref = ranked.filter(
        F.col("rn") <= F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(tau)) + 1
    ).count()
    assert pref < full


def test_hashed_ordered_shingles_matches_string_gram_classes(spark):
    from pyspark.sql import functions as F

    from etl_orders_spark.functions.text import normalize_text, tokens
    from etl_orders_spark.operators.dedup import hashed_ordered_shingles, ordered_shingles

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox naps"),  # shares a 3-gram prefix with 1
        (3, "too short"),  # < k tokens -> zero grams, not phantom windows
        (4, ""),  # empty text
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "_toks", tokens(normalize_text(F.col("text")))
    )
    k = 3
    s = df.select("doc_id", F.posexplode(ordered_shingles("text", k)).alias("p", "gram"))
    h = df.select(
        "doc_id", F.posexplode(hashed_ordered_shingles("_toks", k)).alias("p", "gh")
    )
    # same positional cardinality per doc (docs 3 and 4 contribute none)
    assert {(r.doc_id, r.p) for r in s.collect()} == {(r.doc_id, r.p) for r in h.collect()}
    # identical equivalence classes: two positions share a string gram
    # iff they share a hash
    pairs = (
        s.join(h, ["doc_id", "p"])
        .select("gram", "gh")
        .distinct()
        .groupBy("gram")
        .agg(F.countDistinct("gh").alias("n_h"))
    )
    assert pairs.filter(F.col("n_h") != 1).count() == 0
    back = (
        s.join(h, ["doc_id", "p"]).select("gram", "gh").distinct()
        .groupBy("gh").agg(F.countDistinct("gram").alias("n_s"))
    )
    assert back.filter(F.col("n_s") != 1).count() == 0


def test_editdist_verified_near_dup_planted_and_twins(spark, sf_dir):
    """Round-10 candidate->verify capstone: (a) every planted 'zq '
    prefix clone survives Levenshtein verification with lev == 3 in
    BOTH the portable-md5 and xxhash64 lanes; (b) on pairs both hash
    families surface, the verifier outputs are identical (the verify
    stage is hash-free, so any divergence would be a real bug)."""
    from pyspark.sql import functions as F

    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.plans.text_queries import _ED_PLANT_MOD
    from etl_orders_spark.sources.readers import load_table

    q = query_map()
    slow = {(r.id_a, r.id_b): (r.lev, r.edit_sim) for r in
            q["editdist_verified_near_dup_docs"](spark, sf_dir).collect()}
    fast = {(r.id_a, r.id_b): (r.lev, r.edit_sim) for r in
            q["editdist_verified_near_dup_fast"](spark, sf_dir).collect()}
    donors = [
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % _ED_PLANT_MOD == 0)
        .select("doc_id")
        .collect()
    ]
    assert donors, "fixture corpus lost its planted donors"
    for d in donors:
        key = (d, d + 2000000)
        assert key in slow and slow[key][0] == 3, (key, slow.get(key))
        assert key in fast and fast[key][0] == 3, (key, fast.get(key))
    common = set(slow) & set(fast)
    assert all(slow[k] == fast[k] for k in common)


def test_cdc_chunk_dedup_resync_and_law(spark, sf_dir):
    """CDC's re-synchronization property (round 10): every planted
    offset-shifted suffix copy shares at least one chunk fingerprint
    with its donor (the gear window is content-defined, so boundaries
    inside the copy realign within W chars), and the lane's rollup
    conserves mass: sum(n_occ) == total chunk count == sum over docs
    of their cut count."""
    from pyspark.sql import functions as F

    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.plans.text_queries import (
        _CDC_PLANT_MOD,
        _CDC_PLANT_OFF,
    )
    from etl_orders_spark.sources.readers import load_table

    out = query_map()["cdc_chunk_dedup_docs"](spark, sf_dir)
    rows = out.collect()
    assert rows and all(r.n_occ >= r.n_docs >= 1 for r in rows)
    donors = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") % _CDC_PLANT_MOD == 0)
            & (F.length("text") >= 3 * _CDC_PLANT_OFF)
        )
        .select("doc_id")
        .collect()
    }
    assert donors, "fixture corpus lost its planted donors"
    # aggregate signal on the lane output
    shared = [r for r in rows if r.n_docs >= 2]
    assert shared
    # The SHARP re-synchronization law, pinned independently of the
    # Spark code by running the registered DuckDB oracle at chunk
    # grain: companion boundaries are exactly the donor's boundaries
    # at positions >= OFF + W (shifted by OFF) — cuts inside the
    # first OFF + W chars fall in the window dead-zone of the copy's
    # stream start — so a (donor, companion) pair shares >= 1 chunk
    # fp IFF the donor has any cut in [OFF + W, n - 1]. Assert the
    # equivalence BOTH ways for every donor.
    import duckdb

    from etl_orders_spark.plans.text_queries import _CDC_ORACLE, _CDC_W

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    prefix = _CDC_ORACLE.split("), cf AS (")[0]
    cf_sql = prefix + """
    ), cf AS (
      SELECT c.doc_id,
             md5(substring(b.text, CAST(c.c_start AS INTEGER),
                           CAST(c.c_end - c.c_start + 1 AS INTEGER))) AS fp
      FROM chunks c JOIN bnd b USING (doc_id)
    )
    SELECT DISTINCT a.doc_id
    FROM cf a JOIN cf b ON a.fp = b.fp AND b.doc_id = a.doc_id + 3000000
    """
    resynced = {r[0] for r in con.execute(cf_sql).fetchall()}
    eligible_sql = prefix + f"""
    )
    SELECT doc_id FROM bnd
    WHERE doc_id < 3000000 AND doc_id % {_CDC_PLANT_MOD} = 0
      AND doc_id + 3000000 IN (SELECT doc_id FROM bnd)
      AND len([c FOR c IN cuts
               IF c >= {_CDC_PLANT_OFF + _CDC_W} AND c < n]) > 0
    """
    eligible = {r[0] for r in con.execute(eligible_sql).fetchall()}
    assert eligible, "no donor has a post-dead-zone cut; fixture too small"
    assert resynced == eligible, (resynced ^ eligible)


def test_cdc_fast_tier_equals_relational(spark, sf_dir):
    """The numpy mapInPandas CDC tier computes the IDENTICAL chunk law
    as the relational HOF lane — row-for-row rollup equality, which is
    why the fast tier keeps the full value-hash oracle."""
    from etl_orders_spark.plans.registry import query_map

    q = query_map()
    a = sorted(map(tuple, q["cdc_chunk_dedup_docs"](spark, sf_dir).collect()))
    b = sorted(map(tuple, q["cdc_chunk_dedup_fast"](spark, sf_dir).collect()))
    assert a == b


def test_editdist_capped_equals_uncapped_below_cap_and_bounds_above(spark, sf_dir):
    """The bucket-capped editdist lane (round 10): (a) on the base
    fixtures every band bucket is far below the cap, so capped ==
    uncapped row-for-row; (b) on a synthetic 30-way duplicate cluster
    the cap bounds pair output at C(cap,2) per bucket while every
    kept pair still includes the cluster's canonical lowest id."""
    from pyspark.sql import functions as F

    from etl_orders_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from etl_orders_spark.plans.registry import query_map
    from etl_orders_spark.plans.text_queries import _ED_BUCKET_CAP

    q = query_map()
    capped = sorted(map(tuple, q["editdist_verified_near_dup_capped"](spark, sf_dir).collect()))
    uncapped = sorted(map(tuple, q["editdist_verified_near_dup_docs"](spark, sf_dir).collect()))
    assert capped == uncapped
    # 30 near-identical docs (one duplicate cluster) + noise
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta iota kappa") for i in range(30)]
    rows += [
        (100 + i, " ".join(f"w{i}x{j}" for j in range(10))) for i in range(5)
    ]  # fully distinct token streams: no cross-noise shingles
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", 16, portable=False)
    full = minhash_lsh_candidates(sigs, "doc_id")
    capped_c = minhash_lsh_candidates(sigs, "doc_id", bucket_cap=_ED_BUCKET_CAP)
    n_full, n_capped = full.count(), capped_c.count()
    assert n_full == 30 * 29 // 2  # identical docs: all in one bucket per band
    assert n_capped == _ED_BUCKET_CAP * (_ED_BUCKET_CAP - 1) // 2
    # the canonical lowest id survives the cap in every kept pair set
    kept_ids = {r.id_a for r in capped_c.collect()} | {r.id_b for r in capped_c.collect()}
    assert min(kept_ids) == 0 and kept_ids == set(range(_ED_BUCKET_CAP))
