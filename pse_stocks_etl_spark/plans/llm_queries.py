"""LLM-data-pipeline operators (SURVEY.md §7 M5 / driver north star):
deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash), similarity
search (brute-force cosine, hyperplane-LSH ANN), and text analysis
(language-ID, quality scoring, token counting, fingerprinting) over the
`documents` / `embeddings` tables.

Design rules:
- Pure built-in column expressions — the whole path stays in Catalyst /
  whole-stage codegen; no Python UDFs.
- Every non-approximate op has an exact DuckDB oracle twin. The hashing
  ops use a portable md5-derived 60-bit hash (functions/text.py) so even
  MinHash signatures hash-match across engines.
- Scale posture: shingle explode → shuffle on shingle (the classic
  doc-dedup plan); LSH banding turns all-pairs O(N²) into a bucket
  equi-join; ANN buckets turn scan×queries into bucket-pruned lookups.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    LANG_STOPWORDS,
    fingerprint,
    portable_hash64,
    punct_count,
    sql_fingerprint,
    sql_portable_hash64,
    sql_punct_count,
    sql_stopword_count,
    sql_token_count,
    sql_word_shingles,
    stopword_count,
    token_count,
)
from ..functions.vectors import cosine, sql_cosine, to_double_array
from ..sources.catalog import load_table
from .registry import register

SHINGLE_N = 3
JACCARD_THRESHOLD = 0.8
# Document-frequency cap for the exact-Jaccard baseline: the shingle
# self-equi-join is O(Σ df²) per shingle, so one boilerplate shingle
# shared by 1M docs is a 10¹²-pair join key. Shingles with df > cap
# carry ~no near-dup signal (they're corpus boilerplate) and are
# dropped from the working set BEFORE the join — both engines apply
# the identical cap, so oracle parity is preserved (VERDICT r1 item 4).
NGRAM_DF_CAP = 100
MINHASH_K = 12
MINHASH_BANDS = 4  # rows-per-band = MINHASH_K // MINHASH_BANDS = 3
# LSH bucket-width cap: a degenerate band bucket (every doc sharing one
# band signature — e.g. a corpus of empty docs) would make the bucket
# self-join quadratic; buckets wider than the cap are dropped from
# candidate generation (their pairs are boilerplate, not near-dups).
LSH_BUCKET_CAP = 1000
SIMHASH_BITS = 32
ANN_QUERY_IDS = (0, 1, 2)
TOPK = 10
EMB_DIM = 64
N_PLANES = 8

_SQL_SHINGLES = sql_word_shingles("text", SHINGLE_N)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------
@register(
    "docs_exact_dedup",
    oracle="""
    SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    tags=("llm", "dedup-exact"),
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: keep the smallest doc_id per
    hash (deterministic canonical representative)."""
    d = _docs(spark, sf_dir)
    return d.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    )


@register(
    "docs_fingerprint",
    oracle=f"""
    SELECT doc_id, {sql_fingerprint('text')} AS fp,
           {sql_portable_hash64(sql_fingerprint('text'))} AS fp64
    FROM documents
    """,
    tags=("llm", "fingerprint"),
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace-normalized content fingerprint (md5 + portable 60-bit)."""
    d = _docs(spark, sf_dir)
    fp = fingerprint(F.col("text"))
    return d.select("doc_id", fp.alias("fp"), portable_hash64(fp).alias("fp64"))


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@register(
    "docs_token_stats",
    oracle=f"""
    SELECT doc_id,
           {sql_token_count('text')} AS n_tokens,
           length(text) AS n_chars,
           {sql_punct_count('text')} AS n_punct,
           ({sql_punct_count('text')} * 1.0 / length(text)) AS punct_ratio,
           (length(text) * 1.0 / {sql_token_count('text')}) AS avg_token_len,
           ({sql_token_count('text')} BETWEEN 10 AND 1000
            AND ({sql_punct_count('text')} * 1.0 / length(text)) < 0.1) AS quality_ok
    FROM documents
    """,
    tags=("llm", "text-quality"),
    bench=True,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring (length/punct ratios) — all
    integer-derived arithmetic, so cross-engine float parity is exact."""
    d = _docs(spark, sf_dir)
    ntok = token_count(F.col("text"))
    npunct = punct_count(F.col("text"))
    nchars = F.length("text")
    # try_divide: an EMPTY text has n_chars=0 and must yield NULL like
    # DuckDB's x/0, not an ANSI DIVIDE_BY_ZERO crash (found by the
    # NULL/empty-text parity matrix, tests/test_null_text_parity.py)
    punct_ratio = F.try_divide(npunct * 1.0, nchars)
    return d.select(
        "doc_id",
        ntok.alias("n_tokens"),
        nchars.alias("n_chars"),
        npunct.alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        (nchars * 1.0 / ntok).alias("avg_token_len"),
        (ntok.between(10, 1000) & (punct_ratio < 0.1)).alias("quality_ok"),
    )


def _lang_pred_sql() -> str:
    scores = {
        lang: sql_stopword_count("text", words) for lang, words in LANG_STOPWORDS.items()
    }
    cols = ",\n           ".join(f"{s} AS score_{lang}" for lang, s in scores.items())
    langs = list(LANG_STOPWORDS)
    # argmax with fixed priority-order tiebreak
    others = lambda i: ", ".join(f"score_{l}" for l in langs[i + 1 :]) or "0"
    case = " ".join(
        f"WHEN score_{l} >= greatest({others(i)}) THEN '{l}'"
        for i, l in enumerate(langs[:-1])
    )
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
           {cols}
      FROM documents
    )
    SELECT doc_id, labeled_lang, score_en, score_de, score_es, score_fr, score_zh,
           CASE {case} ELSE '{langs[-1]}' END AS pred_lang
    FROM scored
    """


@register(
    "docs_lang_id",
    oracle=_lang_pred_sql(),
    tags=("llm", "lang-id"),
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: per-language keyword hit counts +
    fixed-priority argmax (deterministic tie-break)."""
    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            stopword_count(F.col("text"), words).alias(f"score_{lang}")
            for lang, words in LANG_STOPWORDS.items()
        ],
    )
    langs = list(LANG_STOPWORDS)
    pred = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        rest = [F.col(f"score_{l}") for l in langs[i + 1 :]]
        pred = F.when(
            F.col(f"score_{langs[i]}") >= F.greatest(*rest) if len(rest) > 1 else F.col(f"score_{langs[i]}") >= rest[0],
            F.lit(langs[i]),
        ).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


# --------------------------------------------------------------------------
# Near-dup: n-gram Jaccard
#
# Shingles are hashed to a portable 60-bit long immediately after the
# explode: every downstream shuffle/join moves 8-byte keys instead of
# ~20-char strings, and both engines hash identically so oracle parity
# is exact (collision probability ~ n²/2⁶⁰ — deterministic either way).
# --------------------------------------------------------------------------
_SQL_SHINGLE_EXPLODE = f"""
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents
"""
# (doc_id, 60-bit shingle hash) pairs — the working set for all near-dup ops
_SQL_SHINGLE_H = f"""
      SELECT doc_id, {sql_portable_hash64('sh')} AS sh
      FROM ({_SQL_SHINGLE_EXPLODE})
"""
_SQL_JACCARD_PAIRS = f"""
    WITH sh0 AS ({_SQL_SHINGLE_H}),
    sh AS (
      SELECT doc_id, sh FROM sh0
      QUALIFY COUNT(*) OVER (PARTITION BY sh) <= {NGRAM_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           (c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common)) AS jaccard
    FROM common c
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE (c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common)) >= {JACCARD_THRESHOLD}
"""


def _raw_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle-string) explode. Tokens are projected ONCE before
    the shingle transform (see shingles_from_tokens: an inline split
    expression would re-tokenize per element, O(tokens²) per doc)."""
    from ..functions.text import shingles_from_tokens, tokens
    from ..sources.catalog import load_table_spread

    # r12: parallelism floor for the tokenize+shingle+hash projection —
    # the 100x-the-scan CPU stage every near-dup query pays (see
    # load_table_spread; structural no-op once the scan itself yields
    # >= cores tasks).
    d = load_table_spread(spark, sf_dir, "documents", "doc_id")
    toked = d.select("doc_id", tokens(F.col("text")).alias("__tk"))
    return toked.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("__tk"), SHINGLE_N)).alias("sh"),
    )


def shingle_array(text: Column) -> Column:
    """array<long> of 60-bit shingle hashes for one text column —
    shingle_docs without the explode, for map-side composition (the
    store-backed admission lane computes shingles, MinHash signatures
    and band buckets in ONE per-row projection, no shuffle). Same
    tokenize → shingle → hash chain, element-for-element."""
    from ..functions.text import portable_hash64, shingles_from_tokens, tokens

    return F.transform(
        shingles_from_tokens(tokens(text), SHINGLE_N), portable_hash64
    )


def minhash_sig_array(sh_arr: Column) -> Column:
    """array<long> MinHash(k) signature from a shingle-hash array —
    _minhash_sig's exact arithmetic ((a*(sh%P)+b)%P, min per hash)
    evaluated map-side over the array instead of a groupBy over the
    explode. Empty shingle set → null elements (callers must exclude
    empty docs from bucket membership, matching the groupBy form where
    such docs simply have no rows)."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    sh_arr,
                    lambda s: (MINHASH_A[i] * (s % MINHASH_P) + MINHASH_B[i])
                    % MINHASH_P,
                )
            )
            for i in range(MINHASH_K)
        ]
    )


def band_bucket_array(sig_arr: Column) -> Column:
    """array<long> of band-bucket keys from a signature array —
    _band_buckets' key construction (hash of 'band:sig:sig:sig'),
    token-for-token, map-side."""
    from ..functions.text import portable_hash64

    rows = MINHASH_K // MINHASH_BANDS
    return F.array(
        *[
            portable_hash64(
                F.concat_ws(
                    ":",
                    F.lit(str(b)),
                    *[
                        F.element_at(sig_arr, b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                )
            )
            for b in range(MINHASH_BANDS)
        ]
    )


def shingle_docs(d: DataFrame) -> DataFrame:
    """(doc_id, 60-bit shingle-hash) frame for an ARBITRARY docs slice
    (doc_id, text) — the frame-based twin of _shingle_explode, used by
    the store-backed incremental build to shingle ONLY the day's batch
    instead of the whole corpus. Same tokenize → shingle → hash chain,
    so slices compose bit-identically with the cached full working set."""
    from ..functions.text import shingles_from_tokens, tokens

    toked = d.select("doc_id", tokens(F.col("text")).alias("__tk"))
    raw = toked.select(
        "doc_id",
        F.explode(shingles_from_tokens(F.col("__tk"), SHINGLE_N)).alias("sh"),
    )
    return raw.select("doc_id", portable_hash64(F.col("sh")).alias("sh"))


def _shingle_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, 60-bit shingle-hash) working set (distinct by
    construction — shingles are deduped per doc)."""
    return _raw_shingles(spark, sf_dir).select(
        "doc_id", portable_hash64(F.col("sh")).alias("sh")
    )


# One persisted copy of the shingle working set per (session, sf_dir):
# every near-dup query references it several times (self-join sides,
# sizes, signatures, verify), and per-call persists would accumulate
# orphaned cached copies across bench/parity sweeps. ~16 B/row
# MEMORY_AND_DISK. Capped LRU (r4 verdict item 7): beyond
# SHINGLE_CACHE_CAP entries the least-recently-used working set is
# unpersisted and dropped, so a long-lived service sweeping many
# sf_dirs can never pin executor storage without bound.
SHINGLE_CACHE_CAP = 2


def unpersist_checkpoint_blocks(df: DataFrame) -> None:
    """Eagerly free the persisted RDD blocks behind a localCheckpoint-
    backed DataFrame. DataFrame.unpersist() only releases cacheManager
    entries, and a checkpoint's LogicalRDD has none — its blocks are
    otherwise reclaimed only when the ContextCleaner notices the RDD
    object is garbage (driver-GC-timing-dependent; VERDICT r12 item 8:
    a long-lived service rotating sf_dirs could transiently double-hold
    working sets). Reaches through the analyzed plan (a LogicalRDD for
    checkpoint-backed frames) to the underlying RDD; a frame that is
    not checkpoint-backed has no rdd() accessor and the call is a
    no-op. Safe on never-materialized non-eager checkpoints (unpersist
    of an unpersisted RDD is a no-op) and after the entry is dropped
    (the frame is never recomputed, so losing the blocks is final in
    the good sense)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # not checkpoint-backed, or session already stopped


class _PersistedLRU:
    """LRU of persisted DataFrames; evicted entries are unpersisted.

    Eviction survives dead sessions: unpersist on a stopped
    SparkContext raises, which must not break the NEXT session's
    cache fill.

    `get_or_build(..., cleanup=fn)` registers a per-entry cleanup
    called (with the frame) on eviction and on clear(), AFTER the
    default unpersist — the hook for entries whose storage unpersist()
    alone cannot release (checkpoint-backed frames, see
    unpersist_checkpoint_blocks) or that must drop a DERIVED entry in
    another cache when they go (a derived frame whose lineage crosses
    a parent's non-reliable checkpoint must never outlive it — ADVICE
    r12).

    Thread-safe (r13): concurrent callers — overlapped plan
    materializations (plans/concurrency.py §2.6) and parallel
    registry sweeps — dedupe in-flight builds per key (the second
    caller WAITS instead of paying a duplicate build: the store seed
    behind one of these caches costs ~30s), and map mutations are
    locked. build()/cleanup run OUTSIDE the lock, so a build that
    fills another cache, or a cleanup that evicts a derived entry
    from another cache, can never deadlock two caches against each
    other. evict()/clear() mark the in-flight builds of the keys they
    hit stale; a stale build is released and rebuilt, never inserted,
    so a frame built over a parent freed mid-build cannot outlive that
    parent in the cache."""

    def __init__(self, cap: int):
        import threading
        from collections import OrderedDict

        self.cap = cap
        self._entries: "OrderedDict[tuple[str, str], DataFrame]" = OrderedDict()
        self._cleanups: dict = {}
        self._lock = threading.Lock()
        self._inflight: dict = {}
        self._stale: set = set()  # in-flight keys evicted/cleared mid-build

    def _release(self, key, df, cleanup) -> None:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing left to free
        if cleanup is not None:
            try:
                cleanup(df)
            except Exception:
                pass

    def _pop_release_list(self):
        """Under the lock: pop over-cap entries; release them outside."""
        out = []
        while len(self._entries) > self.cap:
            k, evicted = self._entries.popitem(last=False)
            out.append((k, evicted, self._cleanups.pop(k, None)))
        return out

    def get_or_build(self, key, build, cleanup=None):
        import threading

        while True:
            with self._lock:
                if key in self._entries:
                    self._entries.move_to_end(key)
                    return self._entries[key]
                ev = self._inflight.get(key)
                if ev is None:
                    self._inflight[key] = threading.Event()
            if ev is not None:
                ev.wait()  # another thread is building this key — reuse it
                continue
            try:
                df = build()
            except BaseException:
                with self._lock:
                    self._stale.discard(key)
                    self._inflight.pop(key).set()
                raise
            with self._lock:
                current = key not in self._stale
                self._stale.discard(key)
                evicted = []
                if current:
                    self._entries[key] = df
                    if cleanup is not None:
                        self._cleanups[key] = cleanup
                    evicted = self._pop_release_list()
                self._inflight.pop(key).set()
            if not current:  # evicted or cleared mid-build: release, rebuild
                self._release(key, df, cleanup)
                continue
            for k, e, cl in evicted:
                self._release(k, e, cl)
            return df

    def evict(self, key) -> None:
        """Drop + release one entry if present (parent caches evict
        their derived entries through this)."""
        with self._lock:
            if key in self._inflight:
                self._stale.add(key)
            df = self._entries.pop(key, None)
            cleanup = self._cleanups.pop(key, None)
        if df is not None:
            self._release(key, df, cleanup)

    def __len__(self) -> int:
        return len(self._entries)

    def clear(self) -> None:
        """Unpersist and drop every entry (memo dict AND storage
        together — unpersisting behind the dict's back leaves stale
        handles that silently recompute un-persisted forever)."""
        with self._lock:
            self._stale.update(self._inflight)
        while True:
            with self._lock:
                if not self._entries:
                    return
                k, evicted = self._entries.popitem(last=False)
                cleanup = self._cleanups.pop(k, None)
            self._release(k, evicted, cleanup)


_SHINGLE_CACHE = _PersistedLRU(SHINGLE_CACHE_CAP)


def _shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    key = (spark.sparkContext.applicationId, sf_dir)
    return _SHINGLE_CACHE.get_or_build(
        key,
        lambda: _shingle_explode(spark, sf_dir).persist(
            StorageLevel.MEMORY_AND_DISK
        ),
    )


# The df-capped working set is shared the same way: the exact-Jaccard
# pairs query and the clustering query both need it, and the hot-set
# aggregation + anti-join shouldn't run twice per session.
_SHINGLE_CAPPED_CACHE = _PersistedLRU(SHINGLE_CACHE_CAP)


def _shingles_capped_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.storagelevel import StorageLevel

    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> DataFrame:
        sh = _shingles_cached(spark, sf_dir)
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > NGRAM_DF_CAP)
            .select("sh")
        )
        return sh.join(F.broadcast(hot), "sh", "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK
        )

    return _SHINGLE_CAPPED_CACHE.get_or_build(key, build)


# The CC query's pair set is persisted too (the propagation loop
# re-references it every round); routing it through the same LRU makes
# repeated invocations in one session REUSE the cached copy instead of
# stacking a fresh orphaned persist per call.
_CC_PAIRS_CACHE = _PersistedLRU(SHINGLE_CACHE_CAP)


# Other plan modules register their working-set caches here so ONE
# clear call keeps the whole engine's persisted state bounded.
EXTRA_WORKING_SET_CACHES: list[_PersistedLRU] = []


def register_working_set_cache(owner: str, cap: int | None = None) -> _PersistedLRU:
    """Create + register a per-module working-set cache, reload-safe:
    importlib.reload re-executes the caller with a FRESH cache object,
    so registration dedupes by owner tag (the caller's __name__), never
    by identity — a previous execution's cache is dropped, not stacked.
    The single registration path for every module-level cache (VERDICT
    r9: three sites had hand-rolled this inconsistently)."""
    cache = _PersistedLRU(SHINGLE_CACHE_CAP if cap is None else cap)
    cache._owner = owner
    EXTRA_WORKING_SET_CACHES[:] = [
        c for c in EXTRA_WORKING_SET_CACHES if getattr(c, "_owner", None) != owner
    ]
    EXTRA_WORKING_SET_CACHES.append(cache)
    return cache


def clear_working_set_caches() -> None:
    """Unpersist + forget every session working-set cache (shingles,
    capped shingles, CC pairs, registered extras). For harnesses that
    need per-query isolation (bench.py) and long-lived services
    rotating datasets."""
    _SHINGLE_CACHE.clear()
    _SHINGLE_CAPPED_CACHE.clear()
    _CC_PAIRS_CACHE.clear()
    for cache in EXTRA_WORKING_SET_CACHES:
        cache.clear()


def _exact_jaccard(
    sh: DataFrame,
    candidates: DataFrame | None = None,
    df_cap: int | None = None,
    arrs: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct-shingle sets.

    Without candidates: shingle self-equi-join (the brute-force
    baseline), with hot shingles (document frequency > df_cap) dropped
    from the working set first — the join cost per shingle is O(df²),
    so the cap bounds the worst key; shingles that frequent are corpus
    boilerplate, not near-dup signal. Sizes are computed on the same
    capped set, so the Jaccard stays self-consistent.

    With candidates (the LSH verify stage): per-doc shingle SETS are
    collected once (one groupBy of the working set) and the pair list
    joins the two array columns; |intersection| and both set sizes are
    then map-side array ops (r12, guide §2.3/§2.4 — the prior form
    joined the pair list against the exploded frame twice, shuffling
    the working set by doc_a AND by (doc_b, sh) and materializing one
    row per matching shingle before re-aggregating; the two ~4.5s twin
    stages it cost dominated corpus_build_increment's profile). The
    all-pairs blowup still never materializes (no cap needed: the
    candidate list bounds the work). Equivalence: the working set is
    distinct per (doc_id, sh) by construction, so join-match counts
    equal intersection cardinalities — the same reasoning (and the
    same 60-bit-collision caveat) as the store-backed build's
    persisted sh_arr table (round21_queries._T_SH_ARR), whose oracle
    is the full-rebuild SQL.
    """
    if candidates is None and df_cap is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > df_cap)
            .select("sh")
        )
        # The hot set is tiny by construction (distinct shingles whose
        # df exceeds the cap); broadcast keeps the anti-join shuffle-free.
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    j = F.col("n_common") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    if candidates is None:
        sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
        a, b = sh.alias("a"), sh.alias("b")
        pairs = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").alias("n_common"))
        )
        sa = sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "n_a"})
        sb = sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "n_b"})
        return (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", j.alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        )
    # Candidate-verify path: per-doc shingle-set ARRAYS, then map-side
    # array ops per pair. n_common/n_a/n_b are int (size()) where the
    # exploded form produced long (count()) — internal only; the
    # returned jaccard double is the identical IEEE division.
    # A caller holding a featurized frame passes arrs=(doc_id, sh_arr)
    # directly (corpus_featurized_cached carries one hash per DISTINCT
    # SHINGLE — exactly the working set's row multiset, and exactly
    # what the oracle's per-doc COUNT(*) sizes count; collect_set would
    # additionally dedupe post-hash, a difference only under a 60-bit
    # collision — the caveat both forms already document).
    # Otherwise collect sets once from the exploded working set, with a
    # localCheckpoint: the a/b sides below project DIFFERENT column
    # names, so their subtrees don't canonicalize equal and each
    # broadcast/join build re-ran the collect_set over the full
    # working set (two ~4s twin broadcast-build stages in
    # corpus_build_increment's r12 profile); the checkpoint pays the
    # aggregation once and both sides read the cached frame.
    if arrs is None:
        arrs = (
            sh.groupBy("doc_id")
            .agg(F.collect_set("sh").alias("sh_arr"))
            .localCheckpoint(eager=False)
        )
    a = arrs.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("arr_a"))
    b = arrs.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("arr_b"))
    return (
        candidates.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("arr_a", "arr_b")).alias("n_common"),
            F.size("arr_a").alias("n_a"),
            F.size("arr_b").alias("n_b"),
        )
        .select("doc_a", "doc_b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@register(
    "docs_ngram_jaccard_pairs",
    oracle=_SQL_JACCARD_PAIRS,
    tags=("llm", "dedup-near", "jaccard"),
    bench=True,
)
def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard >= 0.8: shingle explode →
    self-equi-join on shingle (shuffle on shingle, never all-pairs) →
    count-based Jaccard. Integer-ratio output → exact oracle parity.

    The shingle set comes from the shared persisted cache: the plan
    references it three times (both self-join sides + sizes), and
    re-deriving it re-runs the tokenize/shingle/hash chain each time
    (measured 4.1s → 1.4s at sf0.1). Hot shingles (df > NGRAM_DF_CAP)
    are dropped before the self-join via the shared capped cache — see
    _exact_jaccard."""
    return _exact_jaccard(_shingles_capped_cached(spark, sf_dir))


# --------------------------------------------------------------------------
# Near-dup: MinHash + banded LSH (deterministic, portable hashes)
# --------------------------------------------------------------------------
# Universal-hash family for MinHash: hash_i(sh) = (a_i·(sh mod p) + b_i)
# mod p, derived from the SAME portable 60-bit shingle hash the verify
# stage joins on — so signatures and verification share one hashed (and
# persisted) working set, and no second hashing pass over the corpus
# runs. a_i·(sh mod p) < 2⁴¹ stays safely inside BIGINT; identical
# integer math on both engines.
MINHASH_P = 2_147_483_647  # 2³¹−1 (Mersenne prime)
MINHASH_A = [13, 101, 193, 251, 367, 439, 521, 613, 683, 769, 839, 919]
MINHASH_B = [7, 23, 47, 89, 131, 173, 211, 257, 307, 353, 401, 449]


def _sql_minhash_sig() -> str:
    mins = ",\n             ".join(
        f"MIN(({MINHASH_A[i]} * (sh % {MINHASH_P}) + {MINHASH_B[i]}) % {MINHASH_P}) AS sig{i}"
        for i in range(MINHASH_K)
    )
    return f"""
      SELECT doc_id, {mins}
      FROM ({_SQL_SHINGLE_H})
      GROUP BY doc_id
"""


def _sql_band_key(b: int) -> str:
    """Single 60-bit band-bucket key: portable hash of (band index,
    the band's signature row) — one join column instead of rows-per-band
    equality conditions (VERDICT r1 item 7)."""
    rows = MINHASH_K // MINHASH_BANDS
    parts = ", ".join(
        [f"'{b}'"] + [f"CAST(sig{b * rows + r} AS VARCHAR)" for r in range(rows)]
    )
    return sql_portable_hash64(f"concat_ws(':', {parts})")


def _sql_minhash_pairs() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {_sql_band_key(b)} AS bk FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH sig AS ({_sql_minhash_sig()}),
    bk AS ({bands}),
    bkc AS (
      SELECT doc_id, bk FROM bk
      QUALIFY COUNT(*) OVER (PARTITION BY bk) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bkc x JOIN bkc y ON x.bk = y.bk AND x.doc_id < y.doc_id
    ),
    sh AS ({_SQL_SHINGLE_H}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           (c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common)) AS jaccard
    FROM common c
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE (c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common)) >= {JACCARD_THRESHOLD}
"""


def _minhash_sig(sh: DataFrame) -> DataFrame:
    """MinHash(k) signature per doc from the hashed shingle set."""
    return sh.groupBy("doc_id").agg(
        *[
            F.min(
                (MINHASH_A[i] * (F.col("sh") % MINHASH_P) + MINHASH_B[i]) % MINHASH_P
            ).alias(f"sig{i}")
            for i in range(MINHASH_K)
        ]
    )


def _band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, bk) band-bucket pairs, one hashed 60-bit key per band,
    UNCAPPED — the raw LSH bucket membership. Width accounting differs
    by consumer (full-corpus cap here; standing-vs-union split caps in
    round20's incremental corpus build), so the membership and the cap
    are separate steps."""
    rows = MINHASH_K // MINHASH_BANDS
    band_keys = [
        portable_hash64(
            F.concat_ws(
                ":",
                F.lit(str(b)),
                *[F.col(f"sig{b * rows + r}").cast("string") for r in range(rows)],
            )
        )
        for b in range(MINHASH_BANDS)
    ]
    return sig.select("doc_id", F.explode(F.array(*band_keys)).alias("bk"))


def _capped_band_buckets(sig: DataFrame, checkpoint: bool = False) -> DataFrame:
    """(doc_id, bk) band-bucket pairs with degenerate buckets wider
    than LSH_BUCKET_CAP dropped (the cap is computed over the WHOLE
    bucket population, mirrored exactly in the SQL oracles).

    checkpoint=True non-eager-localCheckpoints the raw membership
    before the cap: the MinHash-signature aggregation + band hashing
    above it otherwise re-executes once per consumer lineage (the
    width groupBy, the anti-join left side, and each side of a
    downstream self-join — ReusedExchange dedupes only the exchange,
    not the reduce-side agg; the r12 corpus_build_increment finding).
    Pure plan change, bit-identical rows."""
    buckets = _band_buckets(sig)
    if checkpoint:
        buckets = buckets.localCheckpoint(eager=False)
    wide = (
        buckets.groupBy("bk")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > LSH_BUCKET_CAP)
        .select("bk")
    )
    return buckets.join(F.broadcast(wide), "bk", "left_anti")


@register(
    "docs_minhash_lsh_pairs",
    oracle=_sql_minhash_pairs(),
    tags=("llm", "dedup-near", "minhash-lsh"),
    bench=True,
)
def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=12) + banded LSH (4 bands × 3 rows) near-dup detection:
    the shared persisted shingle working set fans out to k universal-hash
    permutations (a·(sh mod p)+b mod p — pure arithmetic, no second hash
    pass over the corpus); band-bucket self-join for candidates (O(N²) →
    bucket equi-join); exact-Jaccard verify computed ONLY on candidate
    pairs, against the same persisted working set. The hash family is
    engine-portable, so even the LSH candidate set hash-matches the
    oracle.

    Band buckets join on ONE hashed 60-bit key (portable_hash64 of the
    band index + the band's signature row) instead of rows-per-band
    column equalities: a single 8-byte shuffle key and one exchange for
    all bands, not one join per band. Buckets wider than LSH_BUCKET_CAP
    (a degenerate band — boilerplate-identical docs) are dropped so no
    bucket can go quadratic (VERDICT r1 item 7)."""
    sh = _shingles_cached(spark, sf_dir)
    # checkpoint=True: the sig agg fed 4 lineages here (width cap,
    # anti-join, and both sides of the bucket self-join) — see helper.
    buckets = _capped_band_buckets(_minhash_sig(sh), checkpoint=True)
    x, y = buckets.alias("x"), buckets.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    return _exact_jaccard(sh, candidates)


# --------------------------------------------------------------------------
# SimHash fingerprint (32-bit, portable)
# --------------------------------------------------------------------------
def _sql_simhash() -> str:
    # `sh` is already the portable 60-bit shingle hash (_SQL_SHINGLE_H) —
    # the bit votes read it directly, no second hashing pass.
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (sh // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        for j in range(SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)" for j in range(SIMHASH_BITS)
    )
    return f"""
    WITH sh AS ({_SQL_SHINGLE_H}),
    bits AS (
      SELECT doc_id, {bit_sums}
      FROM sh GROUP BY doc_id
    )
    SELECT doc_id, ({assemble}) AS simhash FROM bits
"""


@register(
    "docs_simhash",
    oracle=_sql_simhash(),
    tags=("llm", "dedup-near", "simhash"),
)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over word-shingle hashes: per-bit ±1 vote summed
    per doc (one partial-aggregating shuffle), sign → bit. Hamming-close
    simhashes ≈ near-dup docs; the fingerprint is engine-portable."""
    sh = _shingles_cached(spark, sf_dir)  # sh column = portable 60-bit hash
    h = F.col("sh")
    votes = sh.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    simhash = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.alias("simhash"))


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------
_Q_IDS = ", ".join(str(i) for i in ANN_QUERY_IDS)


def _sql_cosine_topk() -> str:
    # Compile-footprint-bounded (see functions/vectors.py): norms come
    # from ONE vnorms CTE, the pair cosine expands its dot product once.
    from ..functions.vectors import sql_cosine_prenorm, sql_norms_cte

    cos = sql_cosine_prenorm("q.embedding", "e.embedding", "nq.nrm", "ne.nrm", EMB_DIM)
    return f"""
    WITH {sql_norms_cte(EMB_DIM)},
    q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id IN ({_Q_IDS})),
    scored AS (
      SELECT q.query_id, e.vec_id, {cos} AS cos_sim
      FROM q CROSS JOIN embeddings e
      JOIN vnorms nq ON nq.vec_id = q.query_id
      JOIN vnorms ne ON ne.vec_id = e.vec_id
      WHERE e.vec_id != q.query_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= {TOPK}
"""


@register(
    "emb_cosine_topk",
    oracle=_sql_cosine_topk(),
    tags=("llm", "similarity", "knn"),
    bench=True,
)
def emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query vectors, one scan of
    the corpus, zip_with/aggregate dot product in codegen, window top-k.
    The baseline the LSH-bucketed variant is measured against."""
    e = _emb(spark, sf_dir)
    vec = to_double_array(F.col("embedding"))
    q = (
        e.filter(F.col("vec_id").isin(*ANN_QUERY_IDS))
        .select(F.col("vec_id").alias("query_id"), vec.alias("qvec"))
    )
    scored = (
        e.select("vec_id", vec.alias("v"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine(F.col("qvec"), F.col("v")).alias("cos_sim"),
        )
    )
    from ..operators.dedup import topk_per_group

    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("vec_id").asc()],
        k=TOPK,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


def _planes() -> list[list[float]]:
    """Fixed random hyperplanes (seeded; rounded so the literals embedded
    in Spark expressions and oracle SQL are identical strings)."""
    rng = np.random.default_rng(42)
    return [[round(float(x), 4) for x in rng.standard_normal(EMB_DIM)] for _ in range(N_PLANES)]


_PLANES = _planes()


def _sql_plane_dot(vec: str, plane: list[float]) -> str:
    return " + ".join(f"({vec}[{i + 1}]::DOUBLE * ({p}))" for i, p in enumerate(plane))


def _sql_bucket(vec: str) -> str:
    return " + ".join(
        f"(CASE WHEN ({_sql_plane_dot(vec, p)}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_PLANES)
    )


def _sql_ann_lsh() -> str:
    # Compile-footprint-bounded: pair cosine expands once against vnorms.
    from ..functions.vectors import sql_cosine_prenorm, sql_norms_cte

    cos = sql_cosine_prenorm("q.embedding", "e.embedding", "nq.nrm", "ne.nrm", EMB_DIM)
    return f"""
    WITH {sql_norms_cte(EMB_DIM)},
    b AS (SELECT vec_id, embedding, ({_sql_bucket('embedding')}) AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding, bucket FROM b
          WHERE vec_id IN ({_Q_IDS})),
    scored AS (
      SELECT q.query_id, e.vec_id, {cos} AS cos_sim
      FROM q JOIN b e ON q.bucket = e.bucket AND e.vec_id != q.query_id
      JOIN vnorms nq ON nq.vec_id = q.query_id
      JOIN vnorms ne ON ne.vec_id = e.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= {TOPK}
"""


@register(
    "emb_ann_lsh",
    oracle=_sql_ann_lsh(),
    tags=("llm", "similarity", "ann-lsh"),
)
def emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH: 8 sign bits → bucket id,
    candidates = same-bucket equi-join (prunes the corpus scan), exact
    cosine re-rank inside the bucket. The scale path for similarity
    search — brute force is the recall oracle."""
    from ..functions.vectors import hyperplane_bucket

    e = _emb(spark, sf_dir)
    vec = to_double_array(F.col("embedding"))
    b = e.select("vec_id", vec.alias("v"), hyperplane_bucket(vec, _PLANES).alias("bucket"))
    q = (
        b.filter(F.col("vec_id").isin(*ANN_QUERY_IDS))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qvec"),
            F.col("bucket").alias("qbucket"),
        )
    )
    scored = (
        b.join(F.broadcast(q), (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "vec_id", cosine(F.col("qvec"), F.col("v")).alias("cos_sim"))
    )
    from ..operators.dedup import topk_per_group

    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("vec_id").asc()],
        k=TOPK,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------------------
# IVF-style ANN: coarse quantization + probed cells
# --------------------------------------------------------------------------
IVF_CENTROID_IDS = tuple(range(10, 26))  # 16 fixed coarse centroids
IVF_NPROBE = 2


def sql_ivf_cte_chain() -> str:
    """Shared compile-footprint-bounded oracle CTE chain: vnorms →
    cents → ccells (centroid cosine computed ONCE, alias-ranked) →
    assign(vec_id, cell) + probes(query_id, cell). The old form inlined
    sql_cosine (3 dot expansions) separately in assign and probes — 6
    expansions; this chain spends 2 (vnorms + ccells). Reused by
    _sql_ann_ivf and round9's _ivfpq_sql."""
    from ..functions.vectors import sql_cosine_prenorm, sql_norms_cte

    cos_c = sql_cosine_prenorm("e.embedding", "c.cvec", "n.nrm", "c.cnrm", EMB_DIM)
    cids = ", ".join(str(i) for i in IVF_CENTROID_IDS)
    return f"""
    {sql_norms_cte(EMB_DIM)},
    cents AS (
      SELECT e.vec_id AS cid, e.embedding AS cvec, v.nrm AS cnrm
      FROM embeddings e JOIN vnorms v ON v.vec_id = e.vec_id
      WHERE e.vec_id IN ({cids})
    ),
    ccells AS (
      SELECT e.vec_id, c.cid, {cos_c} AS ccos
      FROM embeddings e
      JOIN vnorms n ON n.vec_id = e.vec_id
      CROSS JOIN cents c
    ),
    assign AS (
      SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cid ASC) AS rn
        FROM ccells
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cid ASC) AS rn
        FROM ccells WHERE vec_id IN ({_Q_IDS})
      ) WHERE rn <= {IVF_NPROBE}
    )"""


def _sql_ann_ivf() -> str:
    # Compile-footprint-bounded: the IVF chain spends 2 dot expansions,
    # the pair cosine 1 — instead of the old 9.
    from ..functions.vectors import sql_cosine_prenorm

    cos_q = sql_cosine_prenorm("q.embedding", "e.embedding", "nq.nrm", "ne.nrm", EMB_DIM)
    return f"""
    WITH {sql_ivf_cte_chain()},
    scored AS (
      SELECT p.query_id, a.vec_id, {cos_q} AS cos_sim
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.vec_id != p.query_id
      JOIN embeddings q ON q.vec_id = p.query_id
      JOIN embeddings e ON e.vec_id = a.vec_id
      JOIN vnorms nq ON nq.vec_id = p.query_id
      JOIN vnorms ne ON ne.vec_id = a.vec_id
    ),
    ranked AS (
      SELECT query_id, vec_id, cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= {TOPK}
"""


@register(
    "emb_ann_ivf",
    oracle=_sql_ann_ivf(),
    tags=("llm", "similarity", "ann-ivf"),
)
def emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest of 16 coarse
    centroids (broadcast cross join + argmax — the inverted file), probe
    the query's nprobe=2 nearest cells, exact-cosine re-rank inside
    them. Search cost scales with corpus/cells × nprobe instead of the
    full corpus; at 100 TB the assignment is computed once and persisted
    as a `cell` column so probes become partition-pruned scans. Cell
    assignment uses rounded cosine + centroid-id tiebreak — fully
    deterministic, so even the candidate sets oracle-match."""
    from ..operators.dedup import topk_per_group

    e = _emb(spark, sf_dir)
    vec = to_double_array(F.col("embedding"))
    base = e.select("vec_id", vec.alias("v"))
    cents = (
        base.filter(F.col("vec_id").isin(*IVF_CENTROID_IDS))
        .select(F.col("vec_id").alias("cid"), F.col("v").alias("cvec"))
    )
    scored_cells = base.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cid", cosine(F.col("v"), F.col("cvec")).alias("ccos")
    )
    assign = topk_per_group(
        scored_cells, ["vec_id"], [F.col("ccos").desc(), F.col("cid").asc()], k=1
    ).select("vec_id", F.col("cid").alias("cell"))
    probes = (
        topk_per_group(
            scored_cells.filter(F.col("vec_id").isin(*ANN_QUERY_IDS)),
            ["vec_id"],
            [F.col("ccos").desc(), F.col("cid").asc()],
            k=IVF_NPROBE,
        )
        .select(F.col("vec_id").alias("query_id"), F.col("cid").alias("cell"))
    )
    qvecs = base.filter(F.col("vec_id").isin(*ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qvec")
    )
    cand = (
        assign.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    scored = (
        cand.join(base, "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select("query_id", "vec_id", cosine(F.col("qvec"), F.col("v")).alias("cos_sim"))
    )
    return topk_per_group(
        scored,
        ["query_id"],
        [F.col("cos_sim").desc(), F.col("vec_id").asc()],
        k=TOPK,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs: banded hyperplane LSH + exact verify
# --------------------------------------------------------------------------
EMB_NDUP_THRESHOLD = 0.45
EMB_NDUP_BANDS = 3
EMB_NDUP_ROWS = 4  # sign bits per band


def _ndup_planes() -> list[list[float]]:
    rng = np.random.default_rng(7)
    return [
        [round(float(x), 4) for x in rng.standard_normal(EMB_DIM)]
        for _ in range(EMB_NDUP_BANDS * EMB_NDUP_ROWS)
    ]


_NDUP_PLANES = _ndup_planes()


def _sql_ndup_band_key(b: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN ({_sql_plane_dot('embedding', _NDUP_PLANES[b * EMB_NDUP_ROWS + i])}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(EMB_NDUP_ROWS)
    )
    return f"({b * (1 << EMB_NDUP_ROWS)} + {bits})"


def _sql_emb_near_dup_pairs() -> str:
    # Compile-footprint-bounded: verify-cosine computed ONCE in an inner
    # projection (was inlined in SELECT + WHERE = 6 dot expansions).
    from ..functions.vectors import sql_cosine_prenorm, sql_norms_cte

    bands = " UNION ALL ".join(
        f"SELECT vec_id, {_sql_ndup_band_key(b)} AS bk FROM embeddings"
        for b in range(EMB_NDUP_BANDS)
    )
    cos = sql_cosine_prenorm(
        "ea.embedding", "eb.embedding", "na.nrm", "nb.nrm", EMB_DIM
    )
    return f"""
    WITH {sql_norms_cte(EMB_DIM)},
    bk AS ({bands}),
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM bk x JOIN bk y ON x.bk = y.bk AND x.vec_id < y.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT c.vec_a, c.vec_b, {cos} AS cos_sim
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
      JOIN vnorms na ON na.vec_id = c.vec_a
      JOIN vnorms nb ON nb.vec_id = c.vec_b
    )
    WHERE cos_sim >= {EMB_NDUP_THRESHOLD}
"""


@register(
    "emb_near_dup_pairs",
    oracle=_sql_emb_near_dup_pairs(),
    tags=("llm", "dedup-near", "embedding-cosine"),
)
def emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup detection — the vector-space member of
    the dedup family (exact / Jaccard / MinHash-LSH / SimHash /
    embedding-cosine). Banded random-hyperplane LSH (3 bands × 4 sign
    bits) generates candidates as a bucket self-equi-join — never
    all-pairs — then the exact cosine verifies candidates against the
    threshold. Fixed seeded planes are embedded verbatim in both
    engines, so even the candidate set oracle-matches. OR-amplification
    across bands trades recall for candidate volume exactly like the
    MinHash bands; brute-force recall is measured in
    tests/test_llm_quality.py."""
    e = _emb(spark, sf_dir)
    vec = to_double_array(F.col("embedding"))
    base = e.select("vec_id", vec.alias("v"))
    band_keys = []
    for b in range(EMB_NDUP_BANDS):
        bits = F.lit(0)
        for i in range(EMB_NDUP_ROWS):
            p = _NDUP_PLANES[b * EMB_NDUP_ROWS + i]
            arr = F.array(*[F.lit(float(x)) for x in p])
            from ..functions.vectors import dot

            bits = bits + F.when(dot(F.col("v"), arr) >= 0, F.lit(1 << i)).otherwise(
                F.lit(0)
            )
        band_keys.append(F.lit(b * (1 << EMB_NDUP_ROWS)) + bits)
    buckets = base.select("vec_id", F.explode(F.array(*band_keys)).alias("bk"))
    x, y = buckets.alias("x"), buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_a"), F.col("y.vec_id").alias("vec_b"))
        .distinct()
    )
    a = base.withColumnsRenamed({"vec_id": "vec_a", "v": "va"})
    bb = base.withColumnsRenamed({"vec_id": "vec_b", "v": "vb"})
    return (
        cand.join(a, "vec_a")
        .join(bb, "vec_b")
        .select("vec_a", "vec_b", cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= EMB_NDUP_THRESHOLD)
    )


# --------------------------------------------------------------------------
# Near-dup clustering: pairs → connected components → keep-one
# --------------------------------------------------------------------------
def _sql_near_dup_clusters() -> str:
    return f"""
    WITH RECURSIVE pairs AS ({_SQL_JACCARD_PAIRS}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v != r.u
    ),
    rep AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           COALESCE(r.component, d.doc_id) AS component,
           (COALESCE(r.component, d.doc_id) = d.doc_id) AS keep
    FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
"""


@register(
    "docs_near_dup_clusters",
    oracle=_sql_near_dup_clusters(),
    tags=("llm", "dedup-near", "connected-components"),
)
def docs_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DELIVERABLE: Jaccard>=0.8 pairs → connected components
    (large-star/small-star contraction, operators/dedup.py — converges
    in O(log² n) rounds regardless of component diameter, so a pathological
    chain of near-dups can't outrun the iteration budget) → per document
    its cluster representative (min doc_id) and a keep/drop flag. The
    DuckDB oracle computes the same components with a recursive CTE —
    matching output proves the distributed iteration converges to the
    exact transitive closure."""
    from pyspark.storagelevel import StorageLevel

    from ..operators.dedup import connected_components_star

    # pairs IS re-referenced every propagation round — pin it for the
    # loop and release it before returning (the component labels are
    # materialized by the loop's counts, so the result stays cheap).
    # same df cap as the pairs query — the oracle embeds the capped
    # _SQL_JACCARD_PAIRS, so the Spark side must cap identically
    # (shared persisted capped working set; the hot-set anti-join runs
    # once per session, not once per query)
    pairs = _CC_PAIRS_CACHE.get_or_build(
        (spark.sparkContext.applicationId, sf_dir, "cc_pairs"),
        lambda: _exact_jaccard(_shingles_capped_cached(spark, sf_dir))
        .select("doc_a", "doc_b")
        .persist(StorageLevel.MEMORY_AND_DISK),
    )
    docs = _docs(spark, sf_dir).select("doc_id")
    # only docs that appear in a pair need the iteration; singletons are
    # their own component by definition
    members = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    comp = connected_components_star(
        members, pairs, id_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )
    out = docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
    return out.withColumn("keep", F.col("component") == F.col("doc_id"))


@register(
    "docs_top_terms",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    )
    SELECT term, COUNT(*) AS n
    FROM toks GROUP BY term
    ORDER BY n DESC, term ASC LIMIT 20
    """,
    tags=("llm", "term-frequency"),
)
def docs_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-20 terms by frequency
    (tokenize → explode → count → global top-N with term tiebreak) —
    the vocab-profiling pass of a training-data pipeline. Partial
    aggregation keeps the shuffle at |vocabulary|, not |tokens|."""
    from ..functions.text import tokens

    d = _docs(spark, sf_dir)
    toks = d.select(F.explode(tokens(F.col("text"))).alias("term"))
    return (
        toks.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# BPE-ish subword tokenization + stopword-based quality scoring
# --------------------------------------------------------------------------
# Portable GPT-2-style coarse pre-tokenizer: word runs OR single
# non-word non-space chars. Explicit ASCII classes (not \w) so Java
# (Spark) and RE2 (DuckDB) agree on every input byte.
BPE_PAT = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


@register(
    "docs_bpe_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{BPE_PAT}')) AS n_bpe,
           len(list_distinct(regexp_extract_all(lower(text), '{BPE_PAT}')))
             AS n_bpe_distinct,
           (len(list_distinct(regexp_extract_all(lower(text), '{BPE_PAT}'))) * 1.0
            / greatest(len(regexp_extract_all(lower(text), '{BPE_PAT}')), 1))
             AS ttr
    FROM documents
    """,
    tags=("llm", "tokenize-bpe"),
)
def docs_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-style token counting (the brief's 'BPE-ish regex' next to
    whitespace tokens): per-doc token count, distinct-token count, and
    type-token ratio — the repetition signal LLM pipelines filter on.
    regexp_extract_all is a JVM-side codegen expression; the token array
    is projected once and reused for both counts."""
    d = _docs(spark, sf_dir)
    toked = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PAT), 0).alias("__bt"),
    )
    n = F.size(F.col("__bt"))
    nd = F.size(F.array_distinct(F.col("__bt")))
    return toked.select(
        "doc_id",
        n.alias("n_bpe"),
        nd.alias("n_bpe_distinct"),
        (nd * 1.0 / F.greatest(n, F.lit(1))).alias("ttr"),
    )


@register(
    "docs_quality_score",
    oracle=f"""
    SELECT doc_id,
           {sql_token_count('text')} AS n_tokens,
           ({sql_stopword_count('text', LANG_STOPWORDS['en'])} * 1.0
            / greatest({sql_token_count('text')}, 1)) AS stop_ratio,
           (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
            / greatest(length(text), 1)) AS alpha_ratio,
           ({sql_token_count('text')} BETWEEN 10 AND 1000
            AND ({sql_stopword_count('text', LANG_STOPWORDS['en'])} * 1.0
                 / greatest({sql_token_count('text')}, 1)) >= 0.05
            AND (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0
                 / greatest(length(text), 1)) >= 0.5) AS quality_ok
    FROM documents
    """,
    tags=("llm", "text-quality"),
)
def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/alpha-ratio quality scoring — the C4/Gopher-style
    heuristic filter stack (length bounds + English-stopword density +
    alphabetic-character share), complementing docs_token_stats'
    punctuation ratios. All integer-derived arithmetic → exact
    cross-engine float parity."""
    from ..functions.text import LANG_STOPWORDS as _LS

    d = _docs(spark, sf_dir)
    ntok = token_count(F.col("text"))
    stop = stopword_count(F.col("text"), _LS["en"])
    alpha = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    stop_ratio = stop * 1.0 / F.greatest(ntok, F.lit(1))
    alpha_ratio = alpha * 1.0 / F.greatest(F.length("text"), F.lit(1))
    return d.select(
        "doc_id",
        ntok.alias("n_tokens"),
        stop_ratio.alias("stop_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        (
            ntok.between(10, 1000) & (stop_ratio >= 0.05) & (alpha_ratio >= 0.5)
        ).alias("quality_ok"),
    )


# --------------------------------------------------------------------------
# PII scrubbing + deterministic split assignment
# --------------------------------------------------------------------------
# Portable ASCII-class patterns (Java and RE2 agree byte-for-byte).
PII_EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_PAT = r"\+?[0-9][0-9 ()-]{7,}[0-9]"


@register(
    "docs_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
               '{PII_EMAIL_PAT}', '<EMAIL>', 'g'),
               '{PII_PHONE_PAT}', '<PHONE>', 'g') AS scrubbed,
           len(regexp_extract_all(text, '{PII_EMAIL_PAT}')) AS n_emails,
           len(regexp_extract_all(regexp_replace(text,
               '{PII_EMAIL_PAT}', '<EMAIL>', 'g'),
               '{PII_PHONE_PAT}')) AS n_phones
    FROM documents
    """,
    tags=("llm", "pii-scrub"),
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the pre-training scrub pass: emails then phone
    numbers replaced with typed placeholders, with per-doc redaction
    counts for the pipeline's audit trail. Email scrub runs FIRST so
    digit runs inside addresses aren't double-counted as phones. Pure
    regexp_replace/extract_all — JVM codegen, one projection, no
    shuffle; at 100 TB this is a map-only pass."""
    d = _docs(spark, sf_dir)
    emails_scrubbed = F.regexp_replace(F.col("text"), PII_EMAIL_PAT, "<EMAIL>")
    return d.select(
        "doc_id",
        F.regexp_replace(emails_scrubbed, PII_PHONE_PAT, "<PHONE>").alias("scrubbed"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PII_EMAIL_PAT), 0)).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(emails_scrubbed, F.lit(PII_PHONE_PAT), 0)).alias(
            "n_phones"
        ),
    )


SPLIT_VAL_PCT = 5
SPLIT_TEST_PCT = 5


@register(
    "docs_split_assign",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             ({sql_portable_hash64("'split:' || CAST(doc_id AS VARCHAR)")}) % 100
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < {SPLIT_TEST_PCT} THEN 'test'
                WHEN bucket < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
                ELSE 'train' END AS split
    FROM h
    """,
    tags=("llm", "split", "sampling"),
)
def docs_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by hashing the document
    id (salted, bucketed mod 100) — NOT rand(): hash splits are
    reproducible across runs/engines/cluster sizes, stable under
    re-partitioning, and new documents never reshuffle old ones — the
    properties a training pipeline needs from its split. Map-only; the
    same trick with a WHERE on the bucket is the reproducible
    stratified-sampling operator."""
    d = _docs(spark, sf_dir)
    bucket = (
        portable_hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    )
    split = (
        F.when(bucket < SPLIT_TEST_PCT, "test")
        .when(bucket < SPLIT_TEST_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("train")
    )
    return d.select("doc_id", "lang", split.alias("split"))


# --------------------------------------------------------------------------
# Iterative KMeans refinement (Lloyd steps) for the IVF coarse centroids
# --------------------------------------------------------------------------
KMEANS_INIT_IDS = tuple(range(10, 18))  # K=8 seeds, fixed → deterministic
KMEANS_ITERS = 2


def _sql_kmeans() -> str:
    cids = ", ".join(str(i) for i in KMEANS_INIT_IDS)
    unnest = (
        "SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim, "
        "CAST(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT) AS vq "
        "FROM embeddings"
    )
    cos = sql_cosine("(e.embedding::DOUBLE[])", "c.cvec", EMB_DIM)
    assign = (
        "SELECT vec_id, cid FROM ("
        "SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY {cos} DESC, c.cid ASC) AS rn "
        "FROM embeddings e CROSS JOIN {cents} c) WHERE rn = 1"
    )
    mean = (
        "SELECT a.cid, u.dim, SUM(u.vq) * 1.0 / COUNT(*) / 1000000.0 AS val, "
        "COUNT(*) AS n_vecs "
        "FROM {assign} a JOIN u ON a.vec_id = u.vec_id GROUP BY a.cid, u.dim"
    )
    parts = [
        f"WITH u AS ({unnest})",
        f"c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec "
        f"FROM embeddings WHERE vec_id IN ({cids}))",
    ]
    for it in range(KMEANS_ITERS):
        parts.append(f"a{it + 1} AS ({assign.format(cents=f'c{it}')})")
        parts.append(f"m{it + 1} AS ({mean.format(assign=f'a{it + 1}')})")
        parts.append(
            f"c{it + 1} AS (SELECT cid, list(val ORDER BY dim) AS cvec "
            f"FROM m{it + 1} GROUP BY cid)"
        )
    last = f"m{KMEANS_ITERS}"
    return "\n, ".join(parts) + (
        f"\nSELECT cid, dim, val AS centroid_val, n_vecs FROM {last}"
    )


@register(
    "emb_kmeans_refine",
    oracle=_sql_kmeans(),
    tags=("llm", "similarity", "kmeans", "iterative"),
)
def emb_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's KMeans refinement of the IVF coarse centroids, run for a
    fixed 2 iterations with fully deterministic arithmetic — an
    ITERATIVE algorithm that still hash-matches an unrolled SQL oracle:
    assignment is the parity-proven rounded cosine with (cos, cid)
    total order, and each new centroid component is SUM(quantized)/n —
    exact integer sum then two correctly-rounded IEEE divisions, so
    both engines walk through bit-identical centroids each round.

    Scale: per iteration, one broadcast of K centroid vectors + one
    (cid, dim) hash-agg over the posexploded corpus — the canonical
    distributed Lloyd step (no all-pairs, no driver loop over rows; the
    Python `for` only stacks plans). At real scale each iteration ends
    in a localCheckpoint to stop plan growth — here 2 iterations stay
    well inside analysis limits."""
    from ..operators.dedup import topk_per_group

    e = _emb(spark, sf_dir)
    base = e.select("vec_id", to_double_array(F.col("embedding")).alias("v"))
    cents = base.filter(F.col("vec_id").isin(*KMEANS_INIT_IDS)).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cvec")
    )
    mean = None
    for _ in range(KMEANS_ITERS):
        scored = base.crossJoin(F.broadcast(cents)).select(
            "vec_id", "v", "cid", cosine(F.col("v"), F.col("cvec")).alias("cs")
        )
        assign = topk_per_group(
            scored, ["vec_id"], [F.col("cs").desc(), F.col("cid").asc()], k=1
        ).select("vec_id", "v", "cid")
        long = assign.select(
            "cid", F.posexplode("v").alias("dim", "val")
        ).select(
            "cid", "dim", F.round(F.col("val") * 1_000_000).cast("long").alias("vq")
        )
        mean = long.groupBy("cid", "dim").agg(
            (F.sum("vq") * 1.0 / F.count("*") / 1_000_000.0).alias("val"),
            F.count("*").alias("n_vecs"),
        )
        cents = mean.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "val"))),
                lambda s: s["val"],
            ).alias("cvec")
        )
    return mean.select("cid", "dim", F.col("val").alias("centroid_val"), "n_vecs")


# --------------------------------------------------------------------------
# Incremental cross-shard dedup: new crawl vs existing corpus
# --------------------------------------------------------------------------
def _sql_incremental_dedup() -> str:
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {_sql_band_key(b)} AS bk FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
    WITH sig AS ({_sql_minhash_sig()}),
    bands AS ({bands}),
    bkc AS (
      SELECT doc_id, bk FROM bands
      QUALIFY COUNT(*) OVER (PARTITION BY bk) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_a, e.doc_id AS doc_b
      FROM bkc n JOIN bkc e ON n.bk = e.bk
      WHERE n.doc_id % 2 = 1 AND e.doc_id % 2 = 0
    ),
    sh AS ({_SQL_SHINGLE_H}),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    dups AS (
      SELECT DISTINCT c.doc_a AS doc_id
      FROM common c
      JOIN sizes sa ON c.doc_a = sa.doc_id
      JOIN sizes sb ON c.doc_b = sb.doc_id
      WHERE (c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common))
            >= {JACCARD_THRESHOLD}
    )
    SELECT d.doc_id, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id % 2 = 1
      AND d.doc_id NOT IN (SELECT doc_id FROM dups)
"""


@register(
    "docs_incremental_dedup",
    oracle=_sql_incremental_dedup(),
    tags=("llm", "dedup-near", "incremental"),
)
def docs_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup: admit only the NEW shard's docs that
    are not near-dups of the EXISTING corpus (doc_id parity stands in
    for the shard split). This is the operation a training pipeline
    runs on every incoming crawl — dedup against the accumulated corpus
    WITHOUT re-clustering it.

    Scale shape: the existing corpus contributes only its (doc_id,
    band-bucket) pairs — 4 bigints per doc, not its text — so the
    "existing" side can be a persisted bucket table that grows
    append-only; candidates come from a bucket equi-join restricted to
    new×existing (never new×new or the existing corpus against itself),
    and exact-Jaccard verification touches only candidate pairs.
    Admitted docs are returned by anti-join on the verified dup set."""
    sh = _shingles_cached(spark, sf_dir)
    # checkpoint=True: the sig agg fed 4 lineages (cap internals + the
    # ex/nw sides of the new-vs-existing join) — see helper.
    buckets = _capped_band_buckets(_minhash_sig(sh), checkpoint=True)
    ex = buckets.filter(F.col("doc_id") % 2 == 0)
    nw = buckets.filter(F.col("doc_id") % 2 == 1)
    cand = (
        nw.alias("n")
        .join(ex.alias("e"), "bk")
        .select(F.col("n.doc_id").alias("doc_a"), F.col("e.doc_id").alias("doc_b"))
        .distinct()
    )
    dups = (
        _exact_jaccard(sh, cand)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.col("doc_id") % 2 == 1)
        .join(dups, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars")
    )
