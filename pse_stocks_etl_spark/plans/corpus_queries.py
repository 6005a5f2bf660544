"""Corpus-preparation operators a large-scale training-data pipeline
needs beyond dedup/ANN (driver brief): repetition filtering
(Gopher-style), benchmark-contamination detection, sequence packing,
stratified mixture sampling, TF-IDF term scoring, and a scale-safe
global row index.

Design rules match plans/llm_queries.py: pure built-in column
expressions (no Python UDFs, whole-stage codegen end-to-end), every
query an exact DuckDB oracle twin, and cross-engine float parity by
construction — ratios are single correctly-rounded IEEE divisions of
exactly-representable integers, never sums of doubles or libm calls
(ln/exp are NOT correctly rounded and differ across engines, so the
TF-IDF here scores tf·N/df rather than tf·ln(N/df)).

Scale posture, per query, in each docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import (
    sql_portable_hash64,
    sql_token_count,
    sql_tokens,
    sql_word_shingles,
    tokens,
)
from ..sources.catalog import load_table, register_views
from .llm_queries import register_working_set_cache
from .registry import register

# Gopher-style repetition thresholds (Rae et al. 2021 use a family of
# duplicate-line / top-n-gram fractions; the two here are the word-level
# analogs expressible over the whitespace token stream).
DUP_WORD_FRAC_MAX = 0.30
TOP_BIGRAM_FRAC_MAX = 0.18

# Contamination check: held-out "benchmark" slice = doc_id % 10 == 7,
# flagged when a training doc shares >= CONTAM_MIN_SHARED distinct
# 3-gram shingles with any benchmark doc (13-gram overlap at web scale;
# 3-gram here because the synthetic docs are short).
BENCH_MOD, BENCH_REM = 10, 7
CONTAM_MIN_SHARED = 3
SHINGLE_N = 3

PACK_CAPACITY = 512  # tokens per packed training sequence

# Mixture weights for stratified sampling, in basis points of 10000.
# weight = 10000/bp as a single exact division (not 1/rate: a float
# literal chain would have to round-trip identically through two SQL
# parsers; 10000.0/bp is one IEEE op on exact integers in both engines).
SAMPLE_RATES_BP = {"en": 10000, "de": 5000, "es": 2500, "fr": 1000, "zh": 500}

TFIDF_TOP_K = 3
INDEX_BUCKET = 100  # doc_ids per global-index bucket


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: consumers here are tokenize/explode CPU-dense (TF-IDF,
    # repetition/bigram stats, token budgets), so the scan carries the
    # parallelism floor (see load_table_spread — structural no-op once
    # the scan itself yields >= floor tasks).
    from ..sources.catalog import load_table_spread

    return load_table_spread(spark, sf_dir, "documents", "doc_id")


def _bigrams(tk: Column) -> Column:
    """Non-distinct word bigrams from a PRE-PROJECTED tokens column (the
    repetition stats need multiplicity, unlike the dedup shingles which
    are per-doc sets). Same interpreted-lambda rule as
    functions.text.shingles_from_tokens: `tk` must be a materialized
    column, and element access is O(1) try_element_at."""

    def gram(x: Column, i: Column) -> Column:
        return F.concat_ws(" ", x, F.try_element_at(tk, i + 2))

    return F.slice(F.transform(tk, gram), 1, F.greatest(F.size(tk) - 1, F.lit(0)))


_SQL_TOKS = sql_tokens("text")
_SQL_BIGRAMS = (
    f"list_transform(range(1, greatest(len(toks) - 1, 0) + 1), "
    f"i -> toks[i] || ' ' || toks[i + 1])"
)


# --------------------------------------------------------------------------
# Repetition / boilerplate detection (Gopher rep-filters, word-level)
# --------------------------------------------------------------------------
@register(
    "docs_repetition_stats",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    stats AS (
      SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct
      FROM tk
    ),
    bg AS (SELECT doc_id, unnest({_SQL_BIGRAMS}) AS g FROM tk),
    top AS (
      SELECT doc_id, max(c) AS max_bg
      FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT s.doc_id, CAST(s.n_tokens AS BIGINT) AS n_tokens,
           (CAST(s.n_tokens - s.n_distinct AS DOUBLE) / s.n_tokens)
             AS dup_word_frac,
           (CAST(2 * coalesce(t.max_bg, 0) AS DOUBLE) / s.n_tokens)
             AS top_bigram_frac,
           ((CAST(s.n_tokens - s.n_distinct AS DOUBLE) / s.n_tokens)
              > {DUP_WORD_FRAC_MAX}
            OR (CAST(2 * coalesce(t.max_bg, 0) AS DOUBLE) / s.n_tokens)
              > {TOP_BIGRAM_FRAC_MAX}) AS repetitive
    FROM stats s LEFT JOIN top t ON s.doc_id = t.doc_id
    """,
    tags=("llm", "text-quality", "repetition"),
    bench=True,
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: duplicate-word fraction plus the
    fraction of the token stream covered by the most common bigram.

    Scale: ZERO exchanges — one per-row projection over the documents
    scan. The per-doc top-bigram count is a longest-equal-run fold
    over the SORTED bigram array (sort groups equal bigrams adjacent;
    the fold carries (prev, run, best) with a null-safe prev compare
    so an empty-string bigram can't collide with the seed). This
    replaced explode → (doc_id, bigram) hash-agg → (doc_id) hash-agg +
    join — two shuffles and a 1.5M-row explode — measured 0.79s → 0.38s
    at sf0.1 with bit-identical results. Both fractions are single
    exact IEEE divisions of integers."""
    return repetition_frame(_docs(spark, sf_dir))


def repetition_stat_cols(tk: Column) -> tuple[Column, Column, Column]:
    """(n_tokens, n_distinct, max_bg) expressions over a PRE-PROJECTED
    tokens column — the per-doc repetition statistics as raw column
    expressions, shared by repetition_frame and the store-backed
    admission lane's featurized batch projection so the two can never
    drift. max_bg is the longest-equal-run fold over the sorted bigram
    array (see docs_repetition_stats)."""
    srt = F.array_sort(_bigrams(tk))
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc, x):
        run = (
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return (
        F.size(tk).cast("long"),
        F.size(F.array_distinct(tk)).cast("long"),
        F.aggregate(srt, init, step, lambda acc: acc["best"]),
    )


def repetitive_col(n_tokens: Column, n_distinct: Column, max_bg: Column) -> Column:
    """The Gopher drop verdict from the three raw stats — the exact
    fraction expressions of repetition_frame (same casts, same IEEE
    divisions), factored so the featurized-batch projection flags
    docs map-side without building the stats frame."""
    dup_frac = (n_tokens - n_distinct).cast("double") / n_tokens
    top_frac = (2 * max_bg).cast("double") / n_tokens
    return (dup_frac > DUP_WORD_FRAC_MAX) | (top_frac > TOP_BIGRAM_FRAC_MAX)


def repetition_frame(d: DataFrame) -> DataFrame:
    """docs_repetition_stats' per-row projection over an ARBITRARY docs
    slice (doc_id, text) — the frame-based form the store-backed
    incremental build applies to just the day's batch (standing
    verdicts come from the persisted decision table). Zero exchanges
    either way; shared so slice and full-corpus stats can never
    diverge."""
    toked = d.select("doc_id", tokens(F.col("text")).alias("__tk"))
    n_tokens, n_distinct, max_bg = repetition_stat_cols(F.col("__tk"))
    stats = toked.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        max_bg.alias("max_bg"),
    )
    dup_frac = (F.col("n_tokens") - F.col("n_distinct")).cast("double") / F.col(
        "n_tokens"
    )
    top_frac = (2 * F.col("max_bg")).cast("double") / F.col("n_tokens")
    return stats.select(
        "doc_id",
        "n_tokens",
        dup_frac.alias("dup_word_frac"),
        top_frac.alias("top_bigram_frac"),
        (
            (dup_frac > DUP_WORD_FRAC_MAX) | (top_frac > TOP_BIGRAM_FRAC_MAX)
        ).alias("repetitive"),
    )


# the featurized-corpus working set (see corpus_featurized_cached)
_FEAT_CACHE = register_working_set_cache(__name__ + ":featurized")


def featurize_docs(d: DataFrame) -> DataFrame:
    """ONE per-row projection computing EVERY per-doc decision input
    the cleaning/assembly compositions consume — content hash (exact
    dedup, bench representatives, classify join), token count
    (packing), distinct shingle-hash set (Jaccard verify,
    contamination), band-bucket keys (LSH candidates, array-form
    MinHash — minhash_sig_array/band_bucket_array are the groupBy
    form's exact arithmetic, token-for-token) and the Gopher
    repetition verdict — over an arbitrary (doc_id, text, source)
    slice. This is round21's featurized-batch projection generalized
    to any slice, shared by the store-backed admission lane (batch
    slice) and the full-corpus compositions (corpus_featurized_cached)
    so the two can never drift. Tokens are projected ONCE before the
    shingle/bigram transforms (the shingles_from_tokens contract).

    r12 optimization rationale (guide §1.2 the-algorithm-first, §8
    decide-with-small-rows): before this, corpus_build /
    docs_pipeline_keep / corpus_build_increment each tokenized the
    corpus ~3x per action (metadata scan, shingle working set,
    repetition re-scan) and paid a MinHash signature aggregation plus
    a collect_set shuffle for the verify; one featurized pass replaces
    all of them, and every downstream derivation is a map-side explode
    or filter of the cached frame."""
    tok_col, n_col, sh_col, rep_col, bk_col = _feat_cols(d)
    toked = d.filter(F.col("text").isNotNull()).select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        tok_col,
    )
    return toked.select(
        "doc_id",
        "source",
        "h",
        n_col,
        sh_col,
        rep_col,
    ).withColumn("bk_arr", bk_col)


# Memoized projection Columns for featurize_docs. Building the MinHash
# band / repetition expression trees is ~0.4s of pure Python/py4j
# Column construction (measured r13, guide §1.2 per-task→per-call
# work), and EVERY composition's working-set rebuild — bench-isolated
# runs rebuild per query — paid it again. Columns are immutable
# unresolved expression trees, so one instance serves any number of
# plans; the cache holds the py4j gateway it was built for and is reused
# only for that same object (identity, not id(): a recycled id could
# otherwise serve a dead JVM's object handles to a new one). At most one
# live gateway per process, so one slot suffices.
_FEAT_COL_CACHE: tuple | None = None  # (gateway, cols)


def _feat_cols(d: DataFrame):
    from .llm_queries import band_bucket_array, minhash_sig_array
    from ..functions.text import portable_hash64, shingles_from_tokens

    global _FEAT_COL_CACHE
    gateway = d.sparkSession._sc._gateway
    if _FEAT_COL_CACHE is not None and _FEAT_COL_CACHE[0] is gateway:
        return _FEAT_COL_CACHE[1]
    n_tokens, n_distinct, max_bg = repetition_stat_cols(F.col("__tk"))
    cols = (
        tokens(F.col("text")).alias("__tk"),
        n_tokens.alias("n"),
        F.transform(
            shingles_from_tokens(F.col("__tk"), SHINGLE_N), portable_hash64
        ).alias("sh_arr"),
        repetitive_col(n_tokens, n_distinct, max_bg).alias("repetitive"),
        band_bucket_array(minhash_sig_array(F.col("sh_arr"))),
    )
    _FEAT_COL_CACHE = (gateway, cols)
    return cols


def corpus_featurized_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session working set: the featurized corpus, one copy per
    (session, sf_dir) — the _shingles_cached convention for the
    composition family. localCheckpoint (non-eager), NOT persist: the
    projection's expression tree is enormous (12 MinHash folds + the
    run-length fold + the shingle transform) and a persist still drags
    it through Catalyst analysis in every consumer action (round21's
    measured ~0.5s per probe); the checkpoint truncates the plan to a
    LogicalRDD at first materialization. Non-eager so cache fills lazily
    inside the first consuming action. Registered with the working-set
    LRU so bench isolation / dataset rotation bounds its storage."""
    from ..sources.catalog import load_table_spread
    from .llm_queries import _SHINGLE_CACHE, unpersist_checkpoint_blocks

    key = (spark.sparkContext.applicationId, sf_dir)

    def cleanup(df: DataFrame) -> None:
        # The derived shingle working set's lineage crosses this
        # non-reliable checkpoint: evict it WITH the parent (a later
        # block-loss recompute against a freed checkpoint would fail
        # rather than recompute — ADVICE r12), then free the
        # checkpoint's RDD blocks eagerly (DataFrame.unpersist can't;
        # VERDICT r12 item 8).
        _SHINGLE_CACHE.evict(key)
        unpersist_checkpoint_blocks(df)

    return _FEAT_CACHE.get_or_build(
        key,
        lambda: featurize_docs(
            # parallelism floor for the one tokenize+MinHash pass (see
            # load_table_spread: structural no-op at real scan widths)
            load_table_spread(spark, sf_dir, "documents", "doc_id").select(
                "doc_id", "text", "source"
            )
        ).localCheckpoint(eager=False),
        cleanup=cleanup,
    )


def _shingles_from_feat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exploded (doc_id, sh) shingle working set, derived from the
    featurized frame and persisted into THE SAME session cache slot
    _shingles_cached fills — the rows are identical (exploding the
    per-doc distinct-shingle hash array == _shingle_explode's
    explode-then-hash), so whichever family builds the slot first,
    both share it. The compositions' contamination joins consume the
    exploded form several times per action; scanning one persisted
    columnar copy beats re-exploding the featurized arrays per
    consumer lineage (r12 hot-run profile: ~5 explode passes at ~1s
    each), and deriving it from the cached featurized frame means no
    second tokenize pass ever runs."""
    from pyspark.storagelevel import StorageLevel

    from .llm_queries import _SHINGLE_CACHE

    key = (spark.sparkContext.applicationId, sf_dir)
    return _SHINGLE_CACHE.get_or_build(
        key,
        lambda: corpus_featurized_cached(spark, sf_dir)
        .select("doc_id", F.explode("sh_arr").alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK),
    )


# --------------------------------------------------------------------------
# Benchmark contamination detection
# --------------------------------------------------------------------------
_SQL_SHINGLE_EXPLODE = (
    f"SELECT doc_id, unnest(list_transform({sql_word_shingles('text', SHINGLE_N)}, "
    f"s -> {sql_portable_hash64('s')})) AS sh FROM documents"
)


@register(
    "docs_contamination",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLE_EXPLODE}),
    b AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} = {BENCH_REM}),
    c AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> {BENCH_REM})
    SELECT c.doc_id, b.doc_id AS bench_doc_id, count(*) AS n_shared
    FROM c JOIN b ON c.sh = b.sh
    GROUP BY c.doc_id, b.doc_id
    HAVING count(*) >= {CONTAM_MIN_SHARED}
    """,
    tags=("llm", "contamination", "dedup-near"),
)
def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/benchmark contamination: training docs sharing >=K distinct
    shingles with a held-out benchmark slice (the n-gram-overlap
    decontamination rule of GPT-3 appendix C / Llama 2, word-3-grams
    here).

    Scale: the benchmark side is small by construction (an eval suite,
    not the corpus), so its shingle set BROADCASTs; the training side
    streams through a map-side hash join — no shuffle of the 100 TB
    side at all. The per-(train,bench) counts shuffle only matched
    pairs. Shares the session-persisted shingle working set with the
    near-dup family (one explode, many consumers)."""
    from .llm_queries import _shingles_cached

    sh = _shingles_cached(spark, sf_dir)
    is_bench = (F.col("doc_id") % BENCH_MOD) == BENCH_REM
    bench = sh.filter(is_bench).withColumnRenamed("doc_id", "bench_doc_id")
    train = sh.filter(~is_bench)
    return (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
    )


# --------------------------------------------------------------------------
# Sequence packing (concat-and-split into fixed token windows)
# --------------------------------------------------------------------------
@register(
    "docs_pack_chunks",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, source, {sql_token_count('text')} AS n FROM documents
    ),
    c AS (
      SELECT doc_id, source, n,
             CAST(SUM(n) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
               AS cum
      FROM tk
    )
    SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens,
           (cum - n) AS start_off,
           ((cum - n) // {PACK_CAPACITY}) AS first_chunk,
           ((cum - 1) // {PACK_CAPACITY}) AS last_chunk,
           (((cum - 1) // {PACK_CAPACITY}) - ((cum - n) // {PACK_CAPACITY}) + 1)
             AS n_chunks
    FROM c
    """,
    tags=("llm", "packing", "window"),
)
def docs_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-and-split flavor: documents are laid out
    back-to-back in deterministic (source, doc_id) order and cut into
    fixed PACK_CAPACITY-token training windows; each doc reports its
    token offset and the chunk range it spans.

    Scale: the running offset is a window sum PARTITIONED BY source —
    each shard packs independently (exactly how production packers
    shard), so there is no single-partition global sort; parallelism =
    number of sources. All arithmetic is integer (exact): offsets via
    SUM window, chunk ids via integer DIV."""
    d = _docs(spark, sf_dir)
    from ..functions.text import token_count

    w = Window.partitionBy("source").orderBy("doc_id")
    out = (
        d.select(
            "doc_id", "source", token_count(F.col("text")).cast("long").alias("n")
        )
        .withColumn("cum", F.sum("n").over(w))
        .select(
            "doc_id",
            "source",
            F.col("n").alias("n_tokens"),
            (F.col("cum") - F.col("n")).alias("start_off"),
            F.expr(f"(cum - n) DIV {PACK_CAPACITY}").alias("first_chunk"),
            F.expr(f"(cum - 1) DIV {PACK_CAPACITY}").alias("last_chunk"),
        )
    )
    return out.withColumn(
        "n_chunks", F.col("last_chunk") - F.col("first_chunk") + F.lit(1)
    )


# --------------------------------------------------------------------------
# Stratified mixture sampling
# --------------------------------------------------------------------------
def _sql_rates_values() -> str:
    return ", ".join(
        f"('{lang}', {bp})" for lang, bp in SAMPLE_RATES_BP.items()
    )


@register(
    "docs_stratified_sample",
    oracle=f"""
    WITH rates(lang, bp) AS (VALUES {_sql_rates_values()}),
    keyed AS (
      SELECT doc_id, lang, source,
             ({sql_portable_hash64("'sample:' || CAST(doc_id AS VARCHAR)")}
              % 10000) AS sample_key
      FROM documents
    )
    SELECT k.doc_id, k.lang, k.source, k.sample_key,
           (CAST(10000 AS DOUBLE) / r.bp) AS weight
    FROM keyed k JOIN rates r ON k.lang = r.lang
    WHERE k.sample_key < r.bp
    """,
    tags=("llm", "sampling", "mixture"),
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for mixture weighting: keep a
    per-language fraction of the corpus by hashing a salted doc key into
    basis points, and carry the inverse-probability weight.

    Scale: the rate table is a tiny broadcast dim; the keep decision is
    a per-row projection + map-side broadcast join — no shuffle, no RNG
    state, reproducible under retries/replays (the same property the
    hash-based split assignment query relies on). Changing mixture
    weights re-samples ONLY the affected strata."""
    from ..functions.text import portable_hash64

    d = _docs(spark, sf_dir)
    rates = spark.createDataFrame(
        [(lang, bp) for lang, bp in SAMPLE_RATES_BP.items()], "lang string, bp long"
    )
    key = (
        portable_hash64(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
        % 10000
    )
    return (
        d.select("doc_id", "lang", "source", key.alias("sample_key"))
        .join(F.broadcast(rates), "lang")
        .filter(F.col("sample_key") < F.col("bp"))
        .select(
            "doc_id",
            "lang",
            "source",
            "sample_key",
            (F.lit(10000).cast("double") / F.col("bp")).alias("weight"),
        )
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document
# --------------------------------------------------------------------------
@register(
    "docs_tfidf_top_terms",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
    t AS (SELECT doc_id, unnest(toks) AS term FROM tk),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             (CAST(tf.tf * n.n_docs AS DOUBLE) / df.df) AS score
      FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, score, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rk
      FROM scored
    ) WHERE rk <= {TFIDF_TOP_K}
    """,
    tags=("llm", "tfidf", "term-frequency"),
    bench=True,
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K characteristic terms per document by TF-IDF. The score is
    tf·N/df — the log-free variant — because a single IEEE division of
    exact integers is bit-identical across engines while ln() is not
    correctly rounded (engine libm differences would break the value
    hash; the induced ranking is identical since ln is monotone).

    Scale: explode → (doc,term) hash-agg (map-side combinable) → df as
    COUNT(*) OVER (PARTITION BY term) on the already-collapsed
    (doc,term) frame — the single-scan window form (round-8's span/
    bigram rewrite): the earlier df-aggregate + join-back re-shuffled
    tf a second time on term (measured 0.97s vs 0.77s at sf0.1,
    identical rows). Corpus size N broadcasts as a 1-row dim; top-K is
    a per-doc row_number window (partitioned — no global sort). Hot
    terms are harmless: df is a per-partition count, no row blowup."""
    d = _docs(spark, sf_dir)
    toked = d.select("doc_id", tokens(F.col("text")).alias("__tk"))
    tf = (
        toked.select("doc_id", F.explode("__tk").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    total = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "df", "score", "rk")
    )


# --------------------------------------------------------------------------
# Scale-safe global row index
# --------------------------------------------------------------------------
@register(
    "docs_global_index",
    oracle="""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS idx
    FROM documents
    """,
    tags=("llm", "global-index", "two-phase"),
)
def docs_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global contiguous row index in doc_id order WITHOUT the global
    single-partition window (`row_number() OVER (ORDER BY ...)` with no
    partition key collapses 100 TB onto one reducer).

    Two-phase plan (the zipWithIndex idea, DataFrame-native): bucket
    rows by doc_id range, count per bucket (tiny agg), prefix-sum the
    bucket counts in a window over the BUCKET table (thousands of rows,
    not billions — the only intentionally single-partition step), then
    broadcast the offsets back and row_number WITHIN each bucket. The
    oracle is the naive global window, proving the two plans agree."""
    d = _docs(spark, sf_dir).select("doc_id")
    b = d.withColumn("bucket", F.expr(f"doc_id DIV {INDEX_BUCKET}"))
    counts = b.groupBy("bucket").agg(F.count("*").alias("cnt"))
    # Prefix sum over bucket counts: rows = n_buckets (bounded, small).
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "bucket", F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("off")
    )
    win = Window.partitionBy("bucket").orderBy("doc_id")
    return (
        b.join(F.broadcast(offsets), "bucket")
        .withColumn("idx", F.col("off") + F.row_number().over(win) - 1)
        .select("doc_id", "idx")
    )


# --------------------------------------------------------------------------
# OLAP gaps: INTERSECT, correlated scalar subquery, LATERAL top-k join
# --------------------------------------------------------------------------
@register(
    "intersect_trading_nations",
    oracle="""
    SELECT n.n_nationkey AS nationkey, n.n_name AS nation
    FROM (
      SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 1000
      INTERSECT
      SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 1000
    ) k JOIN nation n ON k.nationkey = n.n_nationkey
    """,
    tags=("set-ops", "intersect"),
)
def intersect_trading_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): nations having both well-funded
    customers and well-funded suppliers. Complements the EXCEPT query
    (except_lapsed_customers) for §2.7 set-operation coverage. Spark
    plans INTERSECT as a distinct + left-semi hash join — shuffle on
    the compact key projection only."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 1000)
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 1000)
        .select(F.col("s_nationkey").alias("nationkey"))
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        c.intersect(s)
        .join(n, F.col("nationkey") == F.col("n_nationkey"))
        .select("nationkey", F.col("n_name").alias("nation"))
    )


_ABOVE_AVG_SQL = """
    SELECT o_orderkey, o_custkey,
           (CAST(round(o_totalprice * 100) AS BIGINT) / 100.0{d}) AS totalprice
    FROM orders o
    WHERE CAST(round(o_totalprice * 100) AS BIGINT)
            * (SELECT COUNT(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
          > (SELECT SUM(CAST(round(o2.o_totalprice * 100) AS BIGINT))
             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
"""


@register(
    "above_avg_orders",
    oracle=_ABOVE_AVG_SQL.format(d=""),
    tags=("sql-api", "correlated-subquery"),
)
def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries (each order vs its customer's own
    average) through the SQL front-end — Catalyst decorrelates both
    aggregating subqueries into one grouped join, which is the plan
    you'd hand-write. The comparison is cents·count > sum_cents:
    pure integer arithmetic, no division, so cross-engine exact.
    100.0D suffix: bare 100.0 in Spark SQL text is a DECIMAL literal."""
    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(_ABOVE_AVG_SQL.format(d="D"))


_LATERAL_SQL = """
    SELECT c.c_custkey, t.o_orderkey, t.price_cents
    FROM customer c, LATERAL (
      SELECT o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS price_cents
      FROM orders o
      WHERE o.o_custkey = c.c_custkey
      ORDER BY o.o_totalprice DESC, o.o_orderkey
      LIMIT 2
    ) t
"""


@register(
    "lateral_top_orders",
    oracle=_LATERAL_SQL,
    tags=("sql-api", "lateral", "topk"),
)
def lateral_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with ORDER BY + LIMIT: each
    customer's two largest orders. Exercises Spark's lateral-join
    decorrelation (DomainJoin) — semantically the per-group top-k the
    reference pages for, expressed relationally. Ties broken by
    o_orderkey so the result is deterministic on both engines."""
    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(_LATERAL_SQL)


@register(
    "returned_items_topn",
    oracle="""
    SELECT c.c_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
           (SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0)
             AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, custkey ASC LIMIT 20
    """,
    tags=("tpch-q10", "J5", "topn"),
)
def returned_items_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: which customers returned
    the most revenue. Fact filtered on the return flag at the scan
    (pushed), dims broadcast, grouped exact-cents revenue, global
    top-20 with a total-order tiebreak."""
    from ..functions.money import cents

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
        .agg((F.sum(rev) / 10000.0).alias("revenue"), F.count("*").alias("n_items"))
        .orderBy(F.col("revenue").desc(), F.col("custkey").asc())
        .limit(20)
        .select("custkey", "name", "nation", "revenue", "n_items")
    )


@register(
    "nation_trade_volume",
    oracle="""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
           (SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) / 10000.0)
             AS volume
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_18' AND cn.n_name = 'NATION_19')
       OR (sn.n_name = 'NATION_19' AND cn.n_name = 'NATION_18')
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
    tags=("tpch-q7", "J5"),
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: the two-role dimension
    pattern (nation joined twice under different roles) with a
    cross-dimension disjunctive predicate. year() on TIMESTAMP_NTZ is
    pure wall-clock — session-timezone-proof on both engines."""
    from ..functions.money import cents

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg((F.sum(rev) / 10000.0).alias("volume"))
    )


# --------------------------------------------------------------------------
# Binned range join (range predicate → equi-join on time bucket)
# --------------------------------------------------------------------------
INCIDENT_MIN_ERRORS = 6

_EPOCH = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _hour_bucket(col: str) -> F.Column:
    return F.expr(f"timestampdiff(HOUR, {_EPOCH}, {col})")


@register(
    "range_join_binned",
    oracle=f"""
    WITH inc AS (
      SELECT date_trunc('hour', ts) AS h, count(*) AS n
      FROM events WHERE event_type = 'error'
      GROUP BY 1 HAVING count(*) >= {INCIDENT_MIN_ERRORS}
    ),
    win AS (
      SELECT h - INTERVAL 30 MINUTE AS ws, h + INTERVAL 90 MINUTE AS we
      FROM inc
    )
    SELECT w.ws AS window_start, count(*) AS n_clicks
    FROM win w JOIN events e
      ON e.event_type = 'click' AND e.ts >= w.ws AND e.ts < w.we
    GROUP BY w.ws
    """,
    tags=("range-join", "binning"),
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join WITHOUT an equality key — clicks falling inside
    derived 2-hour incident windows — executed as an equi-join via
    time-bucket binning: windows explode to the hour buckets they
    overlap, probes carry their own bucket, the join runs hash-on-
    bucket, and the exact range predicate filters after. The naive
    plan for a pure range condition is a nested-loop/cartesian — a
    scale-killer the moment both sides are large; binning turns it
    into a shuffle join whose per-bucket cost is bounded by window
    density. The oracle is DuckDB's native range join over the same
    predicate, proving the rewrite is lossless."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.expr(
        f"timestampadd(HOUR, timestampdiff(HOUR, {_EPOCH}, ts), {_EPOCH})"
    )
    win = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(hour.alias("h"))
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= INCIDENT_MIN_ERRORS)
        .select(
            (F.col("h") - F.expr("INTERVAL 30 MINUTES")).alias("ws"),
            (F.col("h") + F.expr("INTERVAL 90 MINUTES")).alias("we"),
        )
    )
    win_binned = win.withColumn(
        "bucket", F.explode(F.sequence(_hour_bucket("ws"), _hour_bucket("we")))
    )
    clicks = ev.filter(F.col("event_type") == "click").withColumn(
        "bucket", _hour_bucket("ts")
    )
    return (
        clicks.join(win_binned, "bucket")
        .filter((F.col("ts") >= F.col("ws")) & (F.col("ts") < F.col("we")))
        .groupBy(F.col("ws").alias("window_start"))
        .agg(F.count("*").alias("n_clicks"))
    )


@register(
    "docs_token_outliers",
    oracle="""
    WITH tk AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n
      FROM documents
    ),
    fences AS (
      SELECT lang,
             quantile_cont(n, 0.25) AS q1, quantile_cont(n, 0.75) AS q3
      FROM tk GROUP BY lang
    )
    SELECT t.doc_id, t.lang, CAST(t.n AS BIGINT) AS n_tokens,
           (f.q1 - 1.5 * (f.q3 - f.q1)) AS lo_fence,
           (f.q3 + 1.5 * (f.q3 - f.q1)) AS hi_fence,
           (t.n < f.q1 - 1.5 * (f.q3 - f.q1)
            OR t.n > f.q3 + 1.5 * (f.q3 - f.q1)) AS is_outlier,
           greatest(f.q1 - 1.5 * (f.q3 - f.q1),
                    least(f.q3 + 1.5 * (f.q3 - f.q1), CAST(t.n AS DOUBLE)))
             AS winsorized
    FROM tk t JOIN fences f ON t.lang = f.lang
    """,
    tags=("llm", "text-quality", "outliers"),
)
def docs_token_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection + winsorization of per-doc token
    counts, stratified by language — the standard length-filter stage
    of a corpus pipeline, exact across engines: quartiles of integers
    at DYADIC quantiles interpolate through exact dyadic doubles
    ((n-1)/4 and the .25/.5/.75 fractions are exact in binary), and
    the 1.5·IQR fence arithmetic is exact-dyadic × integer. A P1/P99
    fence would NOT hash-match (0.01 is inexact in binary and the two
    engines' interpolation formulas can differ in the last ulp).

    Scale: one (lang) quantile agg — tiny result — broadcast back over
    the corpus; the flagging pass is a projection."""
    from ..functions.text import token_count

    d = _docs(spark, sf_dir)
    tk = d.select("doc_id", "lang", token_count(F.col("text")).alias("n"))
    fences = tk.groupBy("lang").agg(
        F.expr("percentile(n, 0.25D)").alias("q1"),
        F.expr("percentile(n, 0.75D)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo = F.col("q1") - 1.5 * iqr
    hi = F.col("q3") + 1.5 * iqr
    return (
        tk.join(F.broadcast(fences), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("n").cast("long").alias("n_tokens"),
            lo.alias("lo_fence"),
            hi.alias("hi_fence"),
            ((F.col("n") < lo) | (F.col("n") > hi)).alias("is_outlier"),
            F.greatest(lo, F.least(hi, F.col("n").cast("double"))).alias(
                "winsorized"
            ),
        )
    )


@register(
    "value_zscore_outliers",
    # stddev is computed FROM INTEGER SUMS in both engines — never the
    # engines' own stddev() aggregates, whose streaming (Welford)
    # updates accumulate different rounding per partition order.
    oracle="""
    WITH c AS (
      SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS vc
      FROM events
    ),
    stats AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(vc) AS BIGINT) AS s,
             CAST(SUM(vc * vc) AS BIGINT) AS ss
      FROM c GROUP BY event_type
    )
    SELECT c.event_id, c.event_type,
           (c.vc / 100.0) AS value,
           ((c.vc - CAST(s.s AS DOUBLE) / s.n)
            / sqrt((CAST(s.ss AS DOUBLE) - CAST(s.s AS DOUBLE) * s.s / s.n)
                   / s.n)) AS zscore
    FROM c JOIN stats s ON c.event_type = s.event_type
    WHERE abs((c.vc - CAST(s.s AS DOUBLE) / s.n)
              / sqrt((CAST(s.ss AS DOUBLE) - CAST(s.s AS DOUBLE) * s.s / s.n)
                     / s.n)) > 2.5
    """,
    tags=("robust-stats", "outliers"),
)
def value_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly flagging of event values per type, exact across
    engines: moments come from integer-cents sums (exact, associative),
    variance/σ/z are then a fixed dag of correctly-rounded IEEE ops
    (divisions, sqrt) on identical inputs — so even a threshold
    comparison at |z| > 2.5 cannot flicker between engines.

    Scale: per-type moment agg (map-side combinable, |types| rows)
    broadcast back; flagging is a projection. Sums of squared cents
    stay exact: |vc| ≤ ~1e5 → vc² ≤ 1e10, 2^63 holds ~9e8 such rows
    per type per partial; at larger volumes widen to DECIMAL(38,0)."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    stats = c.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vc").alias("s"),
        F.sum(F.col("vc") * F.col("vc")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n")) / F.col("n")
    # try_divide: a CONSTANT-valued group has sigma=0 — DuckDB's x/0
    # yields NULL (row then filtered), ANSI Spark crashed (found by
    # tests/test_null_events_parity.py's constant purchase group)
    z = F.try_divide(F.col("vc") - mean, F.sqrt(var))
    return (
        c.join(F.broadcast(stats), "event_type")
        .select(
            "event_id",
            "event_type",
            (F.col("vc") / 100.0).alias("value"),
            z.alias("zscore"),
        )
        .filter(F.abs(F.col("zscore")) > 2.5)
    )


def _sql_pipeline_keep() -> str:
    """Composes the already-registered stages' own oracle SQL as
    subqueries (DuckDB accepts CTEs inside parenthesized subqueries),
    so the pipeline oracle can never drift from the stage oracles."""
    from .registry import REGISTRY

    pairs = REGISTRY["docs_minhash_lsh_pairs"].oracle
    rep = REGISTRY["docs_repetition_stats"].oracle
    cont = REGISTRY["docs_contamination"].oracle
    return f"""
    WITH keepers AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keep_id
      FROM documents GROUP BY md5(text)
    ),
    near AS (SELECT DISTINCT doc_b AS doc_id FROM ({pairs})),
    rep AS (SELECT doc_id FROM ({rep}) WHERE repetitive),
    cont AS (SELECT DISTINCT doc_id FROM ({cont}))
    SELECT d.doc_id,
           CASE WHEN d.doc_id <> k.keep_id THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                WHEN r.doc_id IS NOT NULL THEN 'repetitive'
                WHEN c.doc_id IS NOT NULL THEN 'contaminated'
           END AS drop_reason,
           (d.doc_id = k.keep_id AND n.doc_id IS NULL
            AND r.doc_id IS NULL AND c.doc_id IS NULL) AS keep
    FROM documents d
    JOIN keepers k ON md5(d.text) = k.h
    LEFT JOIN near n ON d.doc_id = n.doc_id
    LEFT JOIN rep r ON d.doc_id = r.doc_id
    LEFT JOIN cont c ON d.doc_id = c.doc_id
    """


@register(
    "docs_pipeline_keep",
    oracle=_sql_pipeline_keep(),
    tags=("llm", "pipeline", "composition"),
    # Headline bench entry (round-2 review item 6): the composed
    # quality→near-dup→contamination cleaner is the closest thing to a
    # real corpus-cleaning job, so its wall time tracks the end-to-end
    # cost users feel. Stage costs ≈ exact-dup groupBy (one shuffle) +
    # MinHash-LSH (explode, band join — the dominant stage) + repetition
    # stats (pure projections) + contamination (broadcast semi-join);
    # the final assembly joins on doc_id are left to AQE (the drop sets
    # scale with the corpus — a dirty crawl can drop most of it, so a
    # forced broadcast is a scale hazard; r7 VERDICT item 3).
    bench=True,
)
def docs_pipeline_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning pipeline END-TO-END: one decision per
    document — exact-dup (keep the smallest doc_id per content hash),
    MinHash-LSH near-dup (pairwise greedy: the larger id of each
    verified pair drops), Gopher repetition, benchmark contamination —
    with the first matching stage as the drop reason. Built by
    COMPOSING the registered stage queries (both their DataFrames here
    and their oracle SQL in the oracle), so this result is consistent
    with each stage's own gate by construction.

    Scale: each stage is its (already audited) plan; the composition
    adds left joins on doc_id whose build sides AQE sizes at runtime —
    usually broadcast (drop sets are typically small relative to the
    corpus) but never FORCED, because a dirty crawl can drop most of
    its docs. The shingle working set is shared via the session cache,
    so LSH + contamination pay one explode.

    Near-dup runs on EXACT-DEDUP SURVIVORS only (the C4/RefinedWeb
    stage order; r10 finding: on a duplicate-dense corpus the verified
    PAIR LIST is quadratic in clone-cluster size — 64 exact twins alone
    make 2016 true pairs — so composing the full-corpus pair query made
    corpus_build super-linear under ×64 twin replication). This is a
    pure evaluation-order change, bit-identical to the full-corpus
    composed oracle: (a) an exact-dropped doc's reason is 'exact_dup'
    by precedence, so its near flag is never read; (b) a survivor s is
    flagged iff some verified (a,s), a<s exists, and a's exact keeper
    t=min(group) has IDENTICAL text ⇒ identical signature ⇒ sits in
    every bucket a does with t<a<s and Jaccard(t,s)=Jaccard(a,s), so
    the survivor pair (t,s) witnesses s whenever any full-corpus pair
    does; (c) the bucket-width cap is computed on FULL-corpus widths
    BEFORE the survivor filter, so the candidate universe is capped
    exactly as the oracle caps it (a survivors-width cap would admit
    buckets the oracle kills)."""
    return _pipeline_keep_from_feat(
        spark, sf_dir, corpus_featurized_cached(spark, sf_dir)
    )


def _pipeline_keep_from_feat(
    spark: SparkSession, sf_dir: str, feat: DataFrame
) -> DataFrame:
    """docs_pipeline_keep's decision plan over the FEATURIZED corpus
    frame (corpus_featurized_cached) — shared with corpus_build, whose
    pack layout reads (source, n) off the same frame, so the cleaning
    decision and the packing read ONE corpus scan. Every stage input is
    a map-side filter/explode of the cached frame: keepers group the
    pre-computed hash, LSH candidates explode the pre-computed band
    keys, the verify joins the pre-computed shingle arrays, repetition
    is a pre-computed flag. Same expressions as the pre-featurization
    form stage by stage — md5-keyed keepers, capped LSH buckets,
    survivor-scoped verify/contamination — bit-identical output (the
    array-form MinHash/verify equivalences are the store-backed
    admission lane's, round21_queries.py, whose oracle is the full
    rebuild SQL)."""
    from .llm_queries import _exact_jaccard
    from .llm_queries import LSH_BUCKET_CAP

    # keepers is consumed by 3 lineages (survivors -> the LSH semi-join
    # + train_sh, and the final classify join); checkpoint per the
    # corpus_build_increment A/B ledger (round20_queries.py).
    keepers = (
        feat.groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
        .localCheckpoint(eager=False)
    )
    sh = _shingles_from_feat(spark, sf_dir)
    # Raw band buckets checkpointed BEFORE the width cap: the explode
    # itself is cheap off the cached frame, but its input rows carry
    # the heavy shingle/bucket arrays — the dedicated (doc_id, bk)
    # checkpoint keeps the cap's width groupBy AND the capped
    # membership anti-join from deserializing those arrays per
    # consumer. Cap semantics unchanged: widths on the FULL bucket
    # population, then anti-join. Docs with empty shingle sets have no
    # membership (explode of an empty array emits nothing; the filter
    # also excludes their junk bucket keys — minhash_sig_array yields
    # null sig elements for them, exactly as the groupBy form emits no
    # signature row).
    buckets_raw = (
        feat.filter(F.size("sh_arr") > 0)
        .select("doc_id", F.explode("bk_arr").alias("bk"))
        .localCheckpoint(eager=False)
    )
    wide = (
        buckets_raw.groupBy("bk")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > LSH_BUCKET_CAP)
        .select("bk")
    )
    buckets = buckets_raw.join(F.broadcast(wide), "bk", "left_anti")
    survivors = keepers.select(F.col("keep_id").alias("doc_id"))
    sb = buckets.join(survivors, "doc_id", "left_semi")
    x, y = sb.alias("x"), sb.alias("y")
    candidates = (
        x.join(
            y,
            (F.col("x.bk") == F.col("y.bk")) & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    near = (
        _exact_jaccard(
            sh, candidates, arrs=feat.select("doc_id", "sh_arr")
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near", F.lit(True))
    )
    # the Gopher verdict was computed in the featurized pass with
    # docs_repetition_stats' exact expressions (repetition_stat_cols /
    # repetitive_col — the shared-helper contract); null-text docs are
    # absent from feat where the registered query's filter(repetitive)
    # drops their NULL verdicts — same set either way
    rep = (
        feat.filter(F.col("repetitive"))
        .select("doc_id")
        .withColumn("rep", F.lit(True))
    )
    # Contamination, survivor-scoped with distinct-text BENCH
    # representatives (same r10 finding, second quadratic composition:
    # train-x-bench shingle matches grow as twin² under duplicate
    # densification). Bit-identical to the composed full oracle: the
    # flag is EXISTS(some bench doc sharing >= K shingles), identical
    # bench twins have identical shingle sets so one representative
    # witnesses exactly when any twin does, and exact-dropped train
    # docs never read their cont flag ('exact_dup' precedence).
    is_bench = (F.col("doc_id") % BENCH_MOD) == BENCH_REM
    bench_reps = (
        feat.filter(is_bench)
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    bench_sh = (
        sh.join(bench_reps, "doc_id", "left_semi")
        .withColumnRenamed("doc_id", "bench_doc_id")
    )
    train_sh = sh.filter(~is_bench).join(survivors, "doc_id", "left_semi")
    cont = (
        train_sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
        .select("doc_id")
        .distinct()
        .withColumn("cont", F.lit(True))
    )
    reason = (
        F.when(F.col("doc_id") != F.col("keep_id"), "exact_dup")
        .when(F.col("near"), "near_dup")
        .when(F.col("rep"), "repetitive")
        .when(F.col("cont"), "contaminated")
    )
    # NULL-text docs: absent from feat, absent from the result either
    # way (the pre-featurization meta carried them with h=NULL, which
    # the h equi-join then dropped — NULL never equals NULL; the oracle
    # inner-joins on md5(text) identically)
    return (
        feat.select("doc_id", "h")
        .join(keepers, "h")
        .join(near, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(cont, "doc_id", "left")
        .select(
            "doc_id",
            reason.alias("drop_reason"),
            (
                (F.col("doc_id") == F.col("keep_id"))
                & F.col("near").isNull()
                & F.col("rep").isNull()
                & F.col("cont").isNull()
            ).alias("keep"),
        )
    )


@register(
    "docs_mixture_weights",
    # Temperature-reweighted domain mixing (the multilingual/domain
    # balancing step of an LLM data pipeline: upsample rare strata,
    # damp dominant ones — alpha=0.5 square-root temperature). The
    # normalizer is a SUM of INTEGER weight units (round(sqrt(n)*1e6)),
    # not of floats: float sums are order-dependent across engines,
    # integer sums are not, and sqrt/round/multiply are each single
    # correctly-rounded IEEE ops on exact inputs — bit-identical.
    oracle="""
    WITH s AS (
      SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             CAST(round(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000) AS BIGINT)
               AS weight_units
      FROM documents GROUP BY source, lang
    ),
    t AS (SELECT SUM(weight_units) AS total_units FROM s)
    SELECT s.source, s.lang, s.n_docs, s.n_chars, s.weight_units,
           (CAST(s.weight_units AS DOUBLE) / CAST(t.total_units AS DOUBLE))
             AS sample_share,
           CAST(round((CAST(s.weight_units AS DOUBLE)
                       / CAST(t.total_units AS DOUBLE)) * 100000) AS BIGINT)
             AS expected_docs_per_100k
    FROM s, t
    """,
    tags=("llm", "mixing", "sampling"),
)
def docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weights per (source, lang) stratum under square-root
    temperature sampling (alpha=0.5): stratum weight ~ sqrt(n_docs),
    normalized to a sampling share and an expected-docs-per-100k
    budget. Rare strata are upsampled relative to raw proportions,
    dominant ones damped — the standard mixing recipe for training-data
    assembly.

    Scale: one map-side-combinable groupBy over the corpus — the ONLY
    pass over the data. The normalizer is a global-frame window over
    the already-aggregated stratum table (sources x langs — tiny by
    definition), not a second aggregation of the corpus: a naive
    `s.agg(...)` + crossJoin would make Catalyst recompute the groupBy
    subtree and SCAN THE TABLE TWICE (verified via executedPlan during
    round 5)."""
    d = _docs(spark, sf_dir)
    s = d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    ).withColumn(
        "weight_units",
        F.expr("CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"),
    )
    s = s.withColumn(
        "total_units",
        F.sum("weight_units").over(Window.partitionBy(F.lit(1))),
    )
    share = F.col("weight_units").cast("double") / F.col("total_units").cast(
        "double"
    )
    return s.select(
        "source",
        "lang",
        "n_docs",
        "n_chars",
        "weight_units",
        share.alias("sample_share"),
        F.expr(
            "CAST(round((CAST(weight_units AS DOUBLE) "
            "/ CAST(total_units AS DOUBLE)) * 100000) AS BIGINT)"
        ).alias("expected_docs_per_100k"),
    )


SAMPLE_K = 200


@register(
    "docs_uniform_sample",
    # Bottom-k hash sampling: the REPRODUCIBLE distributed replacement
    # for reservoir sampling. The sample is a pure function of the data
    # (k smallest md5 hashes), so it is identical across engines, runs,
    # partitionings, and insertion orders — none of which is true of a
    # reservoir — and it composes: the bottom-k of a union is the
    # bottom-k of each shard's bottom-k (same mergeability as KMV).
    oracle=f"""
    SELECT doc_id, source, lang,
           {sql_portable_hash64("'sample:' || CAST(doc_id AS VARCHAR)")} AS hv
    FROM documents
    ORDER BY hv ASC, doc_id ASC LIMIT {SAMPLE_K}
    """,
    tags=("llm", "sampling", "bottom-k"),
)
def docs_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample of SAMPLE_K documents via bottom-k
    hashing. Catalyst plans orderBy+limit as TakeOrderedAndProject —
    per-partition top-k heaps merged on the driver, k rows over the
    wire per partition, NO global sort shuffle — which is exactly the
    shard-local bottom-k + merge a 100 TB sample runs. Tie-broken by
    doc_id so even a hash collision cannot make the sample
    order-dependent."""
    d = _docs(spark, sf_dir)
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.select("doc_id", "source", "lang", hv.alias("hv"))
        .orderBy(F.col("hv").asc(), F.col("doc_id").asc())
        .limit(SAMPLE_K)
    )
