"""Quality properties of the approximate LLM operators, measured against
their exact baselines (the kind of check the oracle harness can't do)."""

from __future__ import annotations

import threading

import pytest

from pse_stocks_etl_spark import plans


def _pairs(spark, sf_dir, name):
    return {
        (r.doc_a, r.doc_b)
        for r in plans.REGISTRY[name].fn(spark, sf_dir).collect()
    }


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """Banded LSH (4×3 over k=12) must recover essentially all
    Jaccard>=0.8 pairs: P(candidate) = 1-(1-s^3)^4 ≈ 0.9996 at s=0.8."""
    exact = _pairs(spark, sf_dir, "docs_ngram_jaccard_pairs")
    lsh = _pairs(spark, sf_dir, "docs_minhash_lsh_pairs")
    assert lsh <= exact  # verify stage guarantees no false positives
    assert exact, "expected seeded near-dup pairs in the corpus"
    recall = len(lsh) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall:.2f} below bound ({len(lsh)}/{len(exact)})"


def test_ann_results_subset_of_brute_force_corpus(spark, sf_dir):
    """ANN top-k lists must (a) only contain true corpus neighbors of
    the query's bucket/cell and (b) overlap the exact top-k meaningfully
    for at least one query (tiny buckets at small SF make per-query
    guarantees noisy — the oracle already pins exactness of what IS
    returned; this asserts usefulness)."""
    exact = plans.REGISTRY["emb_cosine_topk"].fn(spark, sf_dir).collect()
    exact_top = {}
    for r in exact:
        exact_top.setdefault(r.query_id, set()).add(r.vec_id)
    for name in ["emb_ann_lsh", "emb_ann_ivf"]:
        rows = plans.REGISTRY[name].fn(spark, sf_dir).collect()
        assert rows, f"{name} returned nothing"
        overlaps = []
        for qid, top in exact_top.items():
            got = {r.vec_id for r in rows if r.query_id == qid}
            if got:
                overlaps.append(len(got & top) / min(len(got), len(top)))
        assert overlaps and max(overlaps) > 0, f"{name}: no overlap with exact top-k"


def test_exact_jaccard_df_cap_bounds_join_input(spark):
    """The exact-Jaccard baseline drops shingles with document frequency
    above the cap BEFORE the self-join (the O(df²) scale guard,
    VERDICT r1 item 4): a boilerplate shingle shared by every doc must
    contribute no pairs, while rare-shingle near-dups still surface."""
    from pyspark.sql import functions as F

    from pse_stocks_etl_spark.plans.llm_queries import _exact_jaccard

    # docs 0..9 all share shingle 999 (df=10 > cap); docs 0 and 1 also
    # share rare shingles 1,2,3 (and nothing else distinguishes them).
    rows = [(d, 999) for d in range(10)]
    rows += [(0, s) for s in (1, 2, 3)] + [(1, s) for s in (1, 2, 3)]
    sh = spark.createDataFrame(rows, "doc_id long, sh long")
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _exact_jaccard(sh, df_cap=5).collect()
    }
    # Only (0,1) survives: their capped sets are {1,2,3} vs {1,2,3} → 1.0.
    # Without the cap, shingle 999 would yield 45 join pairs.
    assert got == {(0, 1): 1.0}


def test_minhash_lsh_bucket_cap_drops_degenerate_band(spark, sf_dir):
    """LSH bucket cap: bucket widths in the candidate stage must all be
    <= LSH_BUCKET_CAP once the guard filters degenerate bands (checked
    structurally by recomputing the bucket histogram the guard sees)."""
    from pyspark.sql import functions as F

    from pse_stocks_etl_spark.plans import llm_queries as lq

    sh = lq._shingles_cached(spark, sf_dir)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                (lq.MINHASH_A[i] * (F.col("sh") % lq.MINHASH_P) + lq.MINHASH_B[i])
                % lq.MINHASH_P
            ).alias(f"sig{i}")
            for i in range(lq.MINHASH_K)
        ]
    )
    n_docs = sig.count()
    widest = (
        sig.groupBy("sig0", "sig1", "sig2")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # sanity: the corpus itself has no degenerate band at this SF, so the
    # cap is a no-op here — and the query's output proves it stays exact.
    assert widest <= lq.LSH_BUCKET_CAP
    assert widest < n_docs


def test_emb_near_dup_lsh_recall_vs_brute_force(spark, sf_dir):
    """Banded hyperplane LSH (3x4 sign bits) near-dup pairs: no false
    positives (exact-cosine verify) and recall consistent with
    OR-amplification: P(candidate) = 1-(1-p^4)^3, p = 1-theta/pi."""
    from pyspark.sql import functions as F

    from pse_stocks_etl_spark.functions.vectors import cosine, to_double_array
    from pse_stocks_etl_spark.plans import llm_queries as lq

    got = {
        (r.vec_a, r.vec_b)
        for r in plans.REGISTRY["emb_near_dup_pairs"].fn(spark, sf_dir).collect()
    }
    e = lq._emb(spark, sf_dir).select(
        "vec_id", to_double_array(F.col("embedding")).alias("v")
    )
    a = e.withColumnsRenamed({"vec_id": "vec_a", "v": "va"})
    b = e.withColumnsRenamed({"vec_id": "vec_b", "v": "vb"})
    brute = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("c"))
        .filter(F.col("c") >= lq.EMB_NDUP_THRESHOLD)
        .collect()
    }
    assert got <= brute  # verify stage guarantees zero false positives
    assert brute, "expected threshold pairs in the corpus"
    assert got, "LSH found no pairs at all"


def test_kmeans_refine_moves_centroids_and_partitions_all_vectors(spark, sf_dir):
    from pyspark.sql import functions as F

    from pse_stocks_etl_spark import plans
    from pse_stocks_etl_spark.plans.llm_queries import KMEANS_INIT_IDS

    rows = plans.REGISTRY["emb_kmeans_refine"].fn(spark, sf_dir).collect()
    total = plans.llm_queries._emb(spark, sf_dir).count()
    # Every vector is assigned to exactly one cluster.
    assert sum(r.n_vecs for r in rows if r.dim == 0) == total
    assert {r.cid for r in rows} <= set(KMEANS_INIT_IDS)
    # Refinement actually moved the centroids off their seed vectors.
    seeds = {
        (r.vec_id, i): float(v)
        for r in plans.llm_queries._emb(spark, sf_dir)
        .filter(F.col("vec_id").isin(*KMEANS_INIT_IDS))
        .collect()
        for i, v in enumerate(r.embedding)
    }
    moved = sum(
        1 for r in rows if abs(r.centroid_val - seeds[(r.cid, r.dim)]) > 1e-9
    )
    assert moved > len(rows) // 2


def test_shingle_cache_lru_unpersists_beyond_cap(spark, sf_dir, tmp_path):
    """The persisted shingle working sets are a capped LRU (r4 verdict
    item 7): touching more sf_dirs than SHINGLE_CACHE_CAP evicts AND
    unpersists the oldest, so a long-lived service can't pin executor
    storage per sf_dir forever."""
    import os

    from pse_stocks_etl_spark.plans import llm_queries as lq

    # distinct sf_dir keys over the same tiny data: symlink farms
    def clone(name):
        d = tmp_path / name
        d.mkdir()
        os.symlink(
            os.path.join(sf_dir, "documents.parquet"), d / "documents.parquet"
        )
        return str(d)

    dirs = [clone(f"sf_clone_{i}") for i in range(lq.SHINGLE_CACHE_CAP + 1)]
    frames = [lq._shingles_cached(spark, d) for d in dirs]
    for df in frames:
        df.count()  # materialize the persist
    assert len(lq._SHINGLE_CACHE) <= lq.SHINGLE_CACHE_CAP
    # the first (least recently used) entry was evicted and unpersisted
    assert frames[0].storageLevel.useMemory is False
    assert frames[0].storageLevel.useDisk is False
    # the newest is still persisted and still served from the cache
    assert frames[-1].storageLevel.useMemory is True
    assert lq._shingles_cached(spark, dirs[-1]) is frames[-1]


def test_persisted_lru_eviction_order_and_dead_session_safety():
    """Unit contract of the LRU itself: move-to-end on re-access, evict
    oldest first, and an unpersist that raises (stopped SparkContext)
    must not break the next fill."""
    from pse_stocks_etl_spark.plans.llm_queries import _PersistedLRU

    class Frame:
        def __init__(self, explode=False):
            self.explode = explode
            self.unpersisted = False

        def unpersist(self):
            if self.explode:
                raise RuntimeError("SparkContext was shut down")
            self.unpersisted = True

    lru = _PersistedLRU(cap=2)
    a, b, c, d = Frame(explode=True), Frame(), Frame(), Frame()
    assert lru.get_or_build("a", lambda: a) is a
    assert lru.get_or_build("b", lambda: b) is b
    assert lru.get_or_build("a", lambda: None) is a  # cache hit, no rebuild
    lru.get_or_build("c", lambda: c)  # evicts b (a was re-accessed)
    assert b.unpersisted and not a.unpersisted
    lru.get_or_build("d", lambda: d)  # evicts a — its unpersist raises
    assert len(lru) == 2  # dead-session unpersist swallowed, cache intact
    assert lru.get_or_build("c", lambda: None) is c


def test_persisted_lru_cleanup_hook_runs_on_evict_and_clear():
    """r13 (VERDICT r12 item 8 / ADVICE): entries may register a
    cleanup callback, called after the default unpersist on eviction
    AND on clear(), and a cleanup that raises must not break the
    cache (dead-session semantics, same as unpersist)."""
    from pse_stocks_etl_spark.plans.llm_queries import _PersistedLRU

    class Frame:
        def unpersist(self):
            pass

    cleaned: list = []
    lru = _PersistedLRU(cap=1)
    a, b, c = Frame(), Frame(), Frame()
    lru.get_or_build("a", lambda: a, cleanup=lambda df: cleaned.append(("a", df)))
    lru.get_or_build("b", lambda: b)  # evicts a -> cleanup fires
    assert cleaned == [("a", a)]
    lru.get_or_build(
        "c",
        lambda: c,
        cleanup=lambda df: (_ for _ in ()).throw(RuntimeError("boom")),
    )  # evicts b (no cleanup registered)
    assert len(lru) == 1
    lru.clear()  # c's cleanup raises — swallowed, cache emptied
    assert len(lru) == 0
    # evict() on a missing key is a no-op
    lru.evict("nope")


@pytest.mark.parametrize("drop", ["clear", "evict"])
def test_persisted_lru_releases_a_build_racing_evict_or_clear(drop):
    """A build in flight while evict(key) or clear() runs must not land
    in the cache afterwards: its frame may sit over a parent that the
    evict/clear just freed. The stale frame is released (unpersist +
    cleanup) and the caller gets, and the cache keeps, a fresh build."""
    from pse_stocks_etl_spark.plans.llm_queries import _PersistedLRU

    class Frame:
        def __init__(self):
            self.unpersists = 0

        def unpersist(self):
            self.unpersists += 1

    lru = _PersistedLRU(cap=2)
    started, resume = threading.Event(), threading.Event()
    frames: list = []
    cleaned: list = []

    def build():
        frames.append(Frame())
        if len(frames) == 1:  # only the first build blocks mid-flight
            started.set()
            assert resume.wait(10)
        return frames[-1]

    got: list = []
    t = threading.Thread(
        target=lambda: got.append(lru.get_or_build("k", build, cleanup=cleaned.append))
    )
    t.start()
    assert started.wait(10)
    if drop == "clear":
        lru.clear()
    else:
        lru.evict("k")
    resume.set()
    t.join(10)
    assert not t.is_alive()
    assert len(frames) == 2, "the stale build was inserted instead of rebuilt"
    stale, fresh = frames
    assert got == [fresh]
    assert stale.unpersists == 1 and cleaned == [stale]
    assert fresh.unpersists == 0
    assert lru.get_or_build("k", lambda: None) is fresh
    lru.clear()
    assert len(lru) == 0 and fresh.unpersists == 1


def test_persisted_lru_stress_releases_every_frame_exactly_once():
    """8 threads on 4 cores race get_or_build, evict and clear over three
    keys with a short switch interval. No frame may be released twice,
    and after a final clear() every frame ever built is released once:
    a stale build dropped without release, or inserted over another
    entry, leaves a frame at 0."""
    import random
    import sys

    from pse_stocks_etl_spark.plans.llm_queries import _PersistedLRU

    class Frame:
        def __init__(self):
            self.unpersists = 0

        def unpersist(self):
            self.unpersists += 1

    lru = _PersistedLRU(cap=2)
    built: list = []
    lock = threading.Lock()

    def build():
        f = Frame()
        with lock:
            built.append(f)
        return f

    def worker(seed):
        rnd = random.Random(seed)
        for _ in range(300):
            key = rnd.choice("abc")
            op = rnd.random()
            if op < 0.7:
                lru.get_or_build(key, build)
            elif op < 0.9:
                lru.evict(key)
            else:
                lru.clear()

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    lru.clear()
    assert len(lru) == 0
    assert built and all(f.unpersists == 1 for f in built)


def test_feat_cache_clear_frees_checkpoint_rdd_blocks(spark, sf_dir):
    """r13 (VERDICT r12 item 8): the featurized-corpus working set is a
    localCheckpoint-backed frame, and DataFrame.unpersist() alone does
    NOT free a checkpoint's persisted RDD blocks (no cacheManager
    entry) — the LRU's cleanup must release them eagerly so
    clear_working_set_caches() actually bounds storage."""
    from pse_stocks_etl_spark.plans import corpus_queries as cq
    from pse_stocks_etl_spark.plans import llm_queries as lq

    lq.clear_working_set_caches()
    jsc = spark.sparkContext._jsc.sc()
    before_ids = {i.id() for i in jsc.getRDDStorageInfo()}

    feat = cq.corpus_featurized_cached(spark, sf_dir)
    feat.count()  # materialize the non-eager checkpoint
    held = {i.id() for i in jsc.getRDDStorageInfo()} - before_ids
    assert held, "materialized checkpoint should hold RDD blocks"

    lq.clear_working_set_caches()
    after_ids = {i.id() for i in jsc.getRDDStorageInfo()}
    leaked = held & after_ids
    assert not leaked, f"checkpoint RDD blocks survived clear: {leaked}"


def test_feat_eviction_takes_derived_shingle_entry_with_it(spark, sf_dir):
    """ADVICE r12: the exploded shingle working set's lineage crosses
    the featurized frame's NON-RELIABLE checkpoint, so the derived
    entry must never outlive its parent — evicting the feat entry
    evicts (and unpersists) the same-key shingle entry too."""
    from pse_stocks_etl_spark.plans import corpus_queries as cq
    from pse_stocks_etl_spark.plans import llm_queries as lq

    lq.clear_working_set_caches()
    cq.corpus_featurized_cached(spark, sf_dir)
    sh = cq._shingles_from_feat(spark, sf_dir)
    sh.count()  # materialize the derived persist
    key = (spark.sparkContext.applicationId, sf_dir)
    assert key in lq._SHINGLE_CACHE._entries

    cq._FEAT_CACHE.evict(key)
    assert key not in lq._SHINGLE_CACHE._entries
    assert not (sh.storageLevel.useMemory or sh.storageLevel.useDisk)
    lq.clear_working_set_caches()


def test_clear_working_set_caches_resets_memo_and_storage(spark, sf_dir):
    """The round-6 isolation hook: clear() must drop memo AND storage
    together. The failure mode it guards: `spark.catalog.clearCache()`
    alone unpersists behind the memo's back, leaving stale handles
    that silently recompute UN-persisted on every later call (observed
    as docs_ngram_jaccard_pairs 1.3s -> 4.1s in the bench). After the
    hook, the next call must REBUILD and RE-persist."""
    from pse_stocks_etl_spark.plans import llm_queries as lq

    before = lq._shingles_cached(spark, sf_dir)
    before.count()
    assert before.storageLevel.useMemory or before.storageLevel.useDisk

    lq.clear_working_set_caches()
    assert len(lq._SHINGLE_CACHE) == 0
    assert len(lq._SHINGLE_CAPPED_CACHE) == 0
    assert len(lq._CC_PAIRS_CACHE) == 0
    assert not (before.storageLevel.useMemory or before.storageLevel.useDisk)

    after = lq._shingles_cached(spark, sf_dir)
    assert after is not before  # rebuilt, not the stale handle
    after.count()
    assert after.storageLevel.useMemory or after.storageLevel.useDisk
    lq.clear_working_set_caches()


def test_cc_pairs_cache_reuses_single_persist(spark, sf_dir):
    """Repeated invocations of the clustering query in one session must
    reuse ONE persisted pair set (keyed LRU), not stack a fresh
    orphaned persist per call."""
    from pse_stocks_etl_spark.plans import llm_queries as lq

    lq.clear_working_set_caches()
    plans.REGISTRY["docs_near_dup_clusters"].fn(spark, sf_dir).count()
    n1 = len(lq._CC_PAIRS_CACHE)
    plans.REGISTRY["docs_near_dup_clusters"].fn(spark, sf_dir).count()
    assert len(lq._CC_PAIRS_CACHE) == n1 == 1
    lq.clear_working_set_caches()
