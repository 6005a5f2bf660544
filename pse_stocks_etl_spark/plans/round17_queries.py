"""Round-17 queries: the r9-verdict round-10 additions.

1. docs_substring_dedup (verdict item 2): suffix-array-style EXACT
   substring dedup (Lee et al. 2022, "Deduplicating Training Data
   Makes Language Models Better") — the arbitrary-offset exactness
   class that the sampled-window `docs_span_dedup` (stride 4) and the
   chunk-aligned `docs_cdc_chunks` both miss. Every stride-1 L-token
   window is hashed; a token is duplicated iff SOME repeated window
   covers it, which is exactly "lies inside a repeated substring of
   length >= L" (a repeated substring of length >= L contains a
   repeated L-window over every token it covers, and conversely a
   repeated L-window IS such a substring). Per-doc coverage is the
   union of the covered intervals, computed with one lag() pass — no
   suffix array needs materializing because all intervals share
   length L, so sorted-by-position merge needs only the previous
   start.
2. docs_bpe_train (verdict item 6): BPE TRAINING, not just encoding —
   N greedy merge iterations of distributed pair counting over the
   word-frequency table, producing the merge table `docs_bpe_encode`
   consumes. Deterministic: ties break (count DESC, left ASC, right
   ASC); merge application is a plain non-overlapping left-to-right
   string replace over a fully bracketed symbol encoding "(s)(p)(a)",
   which both engines implement identically (matches never share
   characters, so simultaneous-merge semantics are exact).
3. docs_bpe_train_encode: the closed tokenizer loop — the vocabulary
   re-encoded with the merge table docs_bpe_train just learned (shared
   chain on both engines).
4. docs_incremental_substring_dedup: the substring lane's admission
   form — a new batch dedups against the standing corpus's
   window-count index plus itself, evidence split standing-hit vs
   batch-internal.
5. emb_ann_recall: recall@k of the LSH and IVF indexes measured
   against the brute-force exact top-k — the audit that justifies the
   'labeled-weak baseline' framing of emb_cosine_topk.

Reference parity note: the reference pipeline (src/etl/*.py of
anthonym8/pse-stocks-etl) has no corpus surface; this module is part
of the training-data extension lane graded alongside SURVEY §2.

Every value column is exact integer / string work, token-identical
between the Spark plan and the DuckDB oracle (the one float, dup_frac,
is a single int*1.0/int division — one correctly-rounded IEEE op in
both engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import portable_hash64, sql_portable_hash64, tokens
from ..sources.catalog import load_table
from . import llm_queries  # noqa: F401 (register the entries read below)
from .registry import register
from .round8_queries import _grams_all, _sql_grams_all, _SQL_TOKS


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: every consumer in this module (stride-1 window explode,
    # BPE word explode) is tokenize-explode CPU-dense, so the scan
    # carries the parallelism floor (see load_table_spread — a
    # structural no-op once the scan itself yields >= floor tasks).
    from ..sources.catalog import load_table_spread

    return load_table_spread(spark, sf_dir, "documents", "doc_id")


# --------------------------------------------------------------------------
# Exact substring dedup (suffix-array semantics, distributed)
# --------------------------------------------------------------------------
SUB_L = 12  # minimum duplicated-substring length, in tokens


@register(
    "docs_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS tk FROM documents WHERE text IS NOT NULL
    ),
    wins AS (
      SELECT doc_id, pos,
             {sql_portable_hash64(f"array_to_string(tk[pos:pos+{SUB_L - 1}], ' ')")} AS w
      FROM (SELECT doc_id, tk,
                   unnest(range(1, greatest(len(tk) - {SUB_L - 1}, 0) + 1)) AS pos
            FROM toks)
    ),
    sites AS (SELECT w, COUNT(*) AS n_sites FROM wins GROUP BY w),
    dup AS (SELECT doc_id, pos FROM wins JOIN sites USING (w) WHERE n_sites > 1),
    runs AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM dup
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
             CAST(SUM(CASE WHEN prev IS NULL THEN {SUB_L}
                           ELSE least({SUB_L}, pos - prev) END) AS BIGINT) AS dup_tokens,
             CAST(SUM(CASE WHEN prev IS NULL OR pos - prev > {SUB_L}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      FROM runs GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(greatest(len(t.tk) - {SUB_L - 1}, 0) AS BIGINT) AS n_windows,
           COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           (COALESCE(p.dup_tokens, 0) * 1.0 / len(t.tk)) AS dup_frac,
           (5 * COALESCE(p.dup_tokens, 0) >= len(t.tk)) AS drop_doc
    FROM toks t LEFT JOIN perdoc p USING (doc_id)
    """,
    tags=("llm", "dedup-substring", "corpus"),
    bench=True,  # tracks the stride-1 window explode + interval-union path
)
def docs_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup with suffix-array semantics: per doc, the
    number of tokens covered by SOME corpus-repeated substring of
    length >= {SUB_L} tokens, the count of maximal duplicated spans,
    and a drop verdict at >= 20% duplicated coverage. Equivalent to the
    Lee et al. suffix-array pass ("every maximal repeat of length >= L
    at >= 2 sites"): a token is covered by a repeated L-window iff it
    lies inside such a maximal repeat, so window coverage computes
    exactly the duplicated-token set without building a suffix array.
    Internal repetition counts (both sites may be in one doc), matching
    the substring-dedup convention that any second occurrence is
    removable.

    Scale: stride-1 windows make the exploded stream |tokens| rows of
    8-byte hashes — bigger than docs_span_dedup's 1/4 sample but still
    LINEAR, and this lane buys exactness for it. Site counts ride ONE
    exchange on the window hash (count-over-window, no agg+join
    re-shuffle); the interval union is a lag() over (doc_id, pos) —
    one exchange on doc_id, O(1) state per row because all intervals
    share length L (never materializes per-doc position arrays); the
    final rollup rides the same doc_id partitioning, and the doc-level
    left join is a doc-count-sized exchange. No all-pairs stage, no
    suffix-array sort — the property that makes exact dedup tractable
    at 100 TB (cf. reference: no dedup surface; extension lane)."""
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toked = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    wins = toked.select(
        "doc_id",
        F.posexplode(_grams_all(F.col("tk"), SUB_L, 1)).alias("pos", "g"),
    ).select("doc_id", "pos", portable_hash64(F.col("g")).alias("w"))
    flagged = wins.select(
        "doc_id", "pos", F.count("*").over(Window.partitionBy("w")).alias("n_sites")
    )
    dup = flagged.filter(F.col("n_sites") > 1).select("doc_id", "pos")
    prev = F.lag("pos").over(Window.partitionBy("doc_id").orderBy("pos"))
    runs = dup.select("doc_id", "pos", prev.alias("prev"))
    covered = F.when(F.col("prev").isNull(), F.lit(SUB_L)).otherwise(
        F.least(F.lit(SUB_L), F.col("pos") - F.col("prev"))
    )
    span_start = F.when(
        F.col("prev").isNull() | (F.col("pos") - F.col("prev") > SUB_L), 1
    ).otherwise(0)
    perdoc = runs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_windows"),
        F.sum(covered).cast("long").alias("dup_tokens"),
        F.sum(span_start).cast("long").alias("n_dup_spans"),
    )
    docs = toked.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.greatest(F.size("tk") - (SUB_L - 1), F.lit(0)).cast("long").alias("n_windows"),
    )
    j = docs.join(perdoc, "doc_id", "left")
    z = lambda c: F.coalesce(F.col(c), F.lit(0).cast("long"))  # noqa: E731
    return j.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        z("n_dup_windows").alias("n_dup_windows"),
        z("dup_tokens").alias("dup_tokens"),
        z("n_dup_spans").alias("n_dup_spans"),
        (z("dup_tokens") * 1.0 / F.col("n_tokens")).alias("dup_frac"),
        (5 * z("dup_tokens") >= F.col("n_tokens")).alias("drop_doc"),
    )


# --------------------------------------------------------------------------
# BPE training (greedy merge learning, distributed pair counting)
# --------------------------------------------------------------------------
BPE_TRAIN_MERGES = 6
_SYM_RE = r"\(([^()]+)\)"


def _sql_bpe_chain() -> str:
    """The shared unrolled CTE chain: words -> s0 -> (p_k, b_k, s_k)*N.
    Every state carries `word` so the encode query can report per-word
    results; the train query simply never selects it."""
    parts = [
        f"""WITH words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT unnest({_SQL_TOKS}) AS w
            FROM documents WHERE text IS NOT NULL)
      WHERE regexp_matches(w, '^[a-z]+$')
      GROUP BY w
    )""",
        # char-bracketing via split+join (NOT regexp_replace with a \\1
        # rewrite: the RE2-subset oracle guard bans backref-looking
        # tokens anywhere in oracle text, and the split form is
        # equivalent for the ^[a-z]+$-filtered vocab)
        "s0 AS (SELECT word, '(' || array_to_string(string_split(word, ''), ')(') || ')' AS s, f FROM words)",
    ]
    for k in range(1, BPE_TRAIN_MERGES + 1):
        parts.append(
            f"""p{k} AS (
      SELECT sy[i] AS x, sy[i+1] AS y, CAST(SUM(f) AS BIGINT) AS cnt
      FROM (SELECT sy, f, unnest(range(1, len(sy))) AS i
            FROM (SELECT regexp_extract_all(s, '{_SYM_RE}', 1) AS sy, f FROM s{k - 1}))
      GROUP BY 1, 2
    )"""
        )
        parts.append(
            f"b{k} AS (SELECT x, y, cnt FROM p{k} ORDER BY cnt DESC, x ASC, y ASC LIMIT 1)"
        )
        parts.append(
            f"s{k} AS (SELECT word, replace(s, '('||x||')('||y||')', '('||x||y||')') AS s, f "
            f"FROM s{k - 1}, b{k})"
        )
    return ",\n".join(parts)


def _sql_bpe_train() -> str:
    sel = " UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, x AS left_sym, y AS right_sym, "
        f"x||y AS merged, cnt AS pair_count FROM b{k}"
        for k in range(1, BPE_TRAIN_MERGES + 1)
    )
    return _sql_bpe_chain() + "\n" + sel


@register(
    "docs_bpe_train",
    oracle=_sql_bpe_train(),
    tags=("llm", "tokenizer", "bpe-train", "iterative"),
)
def docs_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING (closes the train -> encode ->
    token_budget_select loop: docs_bpe_encode applies a FIXED merge
    table; this learns one). {BPE_TRAIN_MERGES} greedy iterations:
    count adjacent symbol pairs over the word-frequency table, pick the
    max (count DESC, pair ASC — fully deterministic), merge it
    everywhere, repeat. Words are encoded as bracketed symbol strings
    '(s)(p)(a)' so applying a merge is ONE non-overlapping
    left-to-right replace('(x)(y)' -> '(xy)') — matches can never share
    characters, so the replace implements exact simultaneous BPE merge
    semantics identically in Spark and DuckDB ('aaaa' with merge (a,a)
    gives [aa][aa], including the odd-count leftover '[aa][a]').

    Scale: the corpus is scanned ONCE into the word-frequency table
    (token explode + one groupBy — map-side combined), localCheckpointed
    because every subsequent stage is VOCABULARY-sized, orders of
    magnitude smaller than the corpus (the classic BPE-training
    optimization: pair counts are weighted by word frequency, never by
    rescanning text). Each iteration is one vocab-sized pair explode +
    hash agg, a global (cnt, pair) top-1 over the pair-type table
    (bounded: |pair types| <= |vocab| * max word length), and a
    broadcast of the single winning row; states are localCheckpointed
    so the N-deep best/state DAG stays flat and each state computes
    exactly once. The Python `for` only stacks plans — no driver loop
    over rows (cf. emb_kmeans_refine, llm_queries.py)."""
    merges, _ = _bpe_chain(spark, sf_dir)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def _bpe_chain(spark: SparkSession, sf_dir: str) -> tuple[list[DataFrame], DataFrame]:
    """Shared train chain: returns ([per-step merge frames], final
    word-level state). Lazy localCheckpoints mean a consumer that only
    reads the merge frames never computes the final state and vice
    versa."""
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    words = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("f"))
    )
    state = words.select(
        "word", F.regexp_replace(F.col("word"), "(.)", "($1)").alias("s"), "f"
    ).localCheckpoint(eager=False)
    merges = []
    for k in range(1, BPE_TRAIN_MERGES + 1):
        sy = state.select(
            F.regexp_extract_all(F.col("s"), F.lit(_SYM_RE), F.lit(1)).alias("sy"), "f"
        )
        pairs = sy.select(
            "f",
            F.explode(
                F.when(
                    F.size("sy") > 1, F.sequence(F.lit(1), F.size("sy") - 1)
                ).otherwise(F.expr("CAST(array() AS array<int>)"))
            ).alias("i"),
            "sy",
        ).select(
            "f",
            F.element_at("sy", F.col("i")).alias("x"),
            F.element_at("sy", F.col("i") + 1).alias("y"),
        )
        counts = pairs.groupBy("x", "y").agg(F.sum("f").cast("long").alias("cnt"))
        best = (
            counts.orderBy(F.col("cnt").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1)
            .localCheckpoint(eager=False)
        )
        merges.append(
            best.select(
                F.lit(k).cast("long").alias("step"),
                F.col("x").alias("left_sym"),
                F.col("y").alias("right_sym"),
                F.concat(F.col("x"), F.col("y")).alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        state = (
            state.crossJoin(F.broadcast(best))
            .select(
                "word",
                F.replace(
                    F.col("s"),
                    F.concat(F.lit("("), F.col("x"), F.lit(")("), F.col("y"), F.lit(")")),
                    F.concat(F.lit("("), F.col("x"), F.col("y"), F.lit(")")),
                ).alias("s"),
                "f",
            )
            .localCheckpoint(eager=False)
        )
    return merges, state


@register(
    "docs_bpe_train_encode",
    oracle=_sql_bpe_chain()
    + f"""
    SELECT word, f,
           CAST(length(word) AS BIGINT) AS n_chars,
           CAST(len(regexp_extract_all(s, '{_SYM_RE}', 1)) AS BIGINT) AS n_tokens,
           s AS encoded
    FROM s{BPE_TRAIN_MERGES}
    """,
    tags=("llm", "tokenizer", "bpe-train", "composition"),
)
def docs_bpe_train_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The closed tokenizer loop, train THEN encode: the vocabulary is
    re-encoded with the merge table docs_bpe_train just learned (not a
    frozen table like docs_bpe_encode), reporting per word type its
    corpus frequency, character count, post-merge token count, and the
    bracketed symbol encoding — the compression the learned tokenizer
    actually achieves on its own training corpus.

    Scale: identical to docs_bpe_train (one corpus scan into the vocab
    table, then vocabulary-sized work per iteration) plus one final
    vocab-sized projection; per-DOC token counts at serving time are a
    word-level join away (docs_bpe_encode's shape), so nothing here
    ever rescans text with the learned table."""
    _, state = _bpe_chain(spark, sf_dir)
    return state.select(
        "word",
        "f",
        F.length("word").cast("long").alias("n_chars"),
        F.size(F.regexp_extract_all(F.col("s"), F.lit(_SYM_RE), F.lit(1)))
        .cast("long")
        .alias("n_tokens"),
        F.col("s").alias("encoded"),
    )


# --------------------------------------------------------------------------
# Incremental substring dedup: new crawl batch vs standing corpus index
# --------------------------------------------------------------------------
@register(
    "docs_incremental_substring_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_SQL_TOKS} AS tk FROM documents WHERE text IS NOT NULL
    ),
    wins AS (
      SELECT doc_id, pos,
             {sql_portable_hash64(f"array_to_string(tk[pos:pos+{SUB_L - 1}], ' ')")} AS w
      FROM (SELECT doc_id, tk,
                   unnest(range(1, greatest(len(tk) - {SUB_L - 1}, 0) + 1)) AS pos
            FROM toks)
    ),
    stdc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_std
      FROM wins WHERE doc_id % 2 = 0 GROUP BY w
    ),
    newin AS (SELECT doc_id, pos, w FROM wins WHERE doc_id % 2 = 1),
    bc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_new FROM newin GROUP BY w),
    dup AS (
      SELECT n.doc_id, n.pos, COALESCE(s.n_std, 0) AS n_std
      FROM newin n
      LEFT JOIN stdc s ON n.w = s.w
      JOIN bc b ON n.w = b.w
      WHERE COALESCE(s.n_std, 0) + b.n_new >= 2
    ),
    runs AS (
      SELECT doc_id, pos, n_std,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM dup
    ),
    perdoc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_dup_windows,
             CAST(SUM(CASE WHEN n_std >= 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit_standing,
             CAST(SUM(CASE WHEN prev IS NULL THEN {SUB_L}
                           ELSE least({SUB_L}, pos - prev) END) AS BIGINT) AS dup_tokens,
             CAST(SUM(CASE WHEN prev IS NULL OR pos - prev > {SUB_L}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans
      FROM runs GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(p.n_hit_standing, 0) AS n_hit_standing,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           (5 * COALESCE(p.dup_tokens, 0) >= len(t.tk)) AS drop_doc
    FROM toks t LEFT JOIN perdoc p USING (doc_id)
    WHERE t.doc_id % 2 = 1
    """,
    tags=("llm", "dedup-substring", "incremental"),
)
def docs_incremental_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """docs_substring_dedup's admission form: a NEW crawl batch (odd
    doc_ids) is deduplicated against the STANDING corpus (even ids)
    plus itself, without recomputing anything standing-side beyond its
    window-count index — the docs_incremental_* pattern applied to the
    exact-substring lane. A new doc's window is duplicated iff its
    corpus-wide site count (standing index count + within-batch count)
    reaches 2, which equals the full-corpus definition restricted to
    new docs, so the oracle is simply docs_substring_dedup's oracle
    with parity-split site counts. n_hit_standing splits the evidence:
    dup windows already present in the standing corpus vs batch-internal
    repeats.

    Scale: in production the standing (w, n_std) index is a
    MATERIALIZED table maintained by count-merge (the BM25-increment
    pattern); this query prices the steady-state batch: the new batch's
    windows are exploded once, exchanged once on the window hash — the
    within-batch count-over-window and the sort-merge join against the
    index both ride that single partitioning — then the per-doc
    interval union is the same lag() pass as the full lane. Cost is
    linear in the BATCH plus one index probe, never in the standing
    corpus."""
    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toked = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    wins = toked.select(
        "doc_id",
        F.posexplode(_grams_all(F.col("tk"), SUB_L, 1)).alias("pos", "g"),
    ).select("doc_id", "pos", portable_hash64(F.col("g")).alias("w"))
    std_idx = (
        wins.filter(F.col("doc_id") % 2 == 0)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_std"))
    )
    newin = wins.filter(F.col("doc_id") % 2 == 1)
    counted = newin.select(
        "doc_id", "pos", "w", F.count("*").over(Window.partitionBy("w")).alias("n_new")
    )
    dup = (
        counted.join(std_idx, "w", "left")
        .withColumn("n_std", F.coalesce(F.col("n_std"), F.lit(0).cast("long")))
        .filter(F.col("n_std") + F.col("n_new") >= 2)
        .select("doc_id", "pos", "n_std")
    )
    prev = F.lag("pos").over(Window.partitionBy("doc_id").orderBy("pos"))
    runs = dup.select("doc_id", "pos", "n_std", prev.alias("prev"))
    covered = F.when(F.col("prev").isNull(), F.lit(SUB_L)).otherwise(
        F.least(F.lit(SUB_L), F.col("pos") - F.col("prev"))
    )
    span_start = F.when(
        F.col("prev").isNull() | (F.col("pos") - F.col("prev") > SUB_L), 1
    ).otherwise(0)
    perdoc = runs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_windows"),
        F.sum(F.when(F.col("n_std") >= 1, 1).otherwise(0))
        .cast("long")
        .alias("n_hit_standing"),
        F.sum(covered).cast("long").alias("dup_tokens"),
        F.sum(span_start).cast("long").alias("n_dup_spans"),
    )
    docs = toked.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.size("tk").cast("long").alias("n_tokens")
    )
    j = docs.join(perdoc, "doc_id", "left")
    z = lambda c: F.coalesce(F.col(c), F.lit(0).cast("long"))  # noqa: E731
    return j.select(
        "doc_id",
        "n_tokens",
        z("n_dup_windows").alias("n_dup_windows"),
        z("n_hit_standing").alias("n_hit_standing"),
        z("dup_tokens").alias("dup_tokens"),
        z("n_dup_spans").alias("n_dup_spans"),
        (5 * z("dup_tokens") >= F.col("n_tokens")).alias("drop_doc"),
    )


# --------------------------------------------------------------------------
# ANN index quality: measured recall@k of LSH and IVF vs brute force
# --------------------------------------------------------------------------
def _sql_ann_recall() -> str:
    from .llm_queries import _sql_ann_lsh, _sql_ann_ivf, _sql_cosine_topk

    return f"""
    WITH exact AS ({_sql_cosine_topk()}),
    lsh AS ({_sql_ann_lsh()}),
    ivf AS ({_sql_ann_ivf()})
    SELECT e.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit_lsh,
           CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit_ivf,
           (SUM(CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             AS recall_lsh,
           (SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*))
             AS recall_ivf
    FROM exact e
    LEFT JOIN lsh l ON e.query_id = l.query_id AND e.vec_id = l.vec_id
    LEFT JOIN ivf i ON e.query_id = i.query_id AND e.vec_id = i.vec_id
    GROUP BY e.query_id
    """


@register(
    "emb_ann_recall",
    oracle=_sql_ann_recall(),
    tags=("llm", "similarity", "ann-recall", "composition"),
)
def emb_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN quality audit, as a query: recall@k of the two bucketed
    indexes (random-hyperplane LSH, IVF-nprobe) against the exact
    brute-force top-k, per query vector. This is the measurement that
    justifies calling emb_cosine_topk a labeled-weak BASELINE — the
    index twins are only 'the scale path' if their measured recall is
    known, and this query makes that number a first-class,
    driver-verified result instead of a notebook claim.

    Scale: composes three already-audited plans over the same
    ANN_QUERY_IDS query set; the joins key on (query_id, vec_id) over
    k-row top-k frames — bounded by k * |queries| rows regardless of
    corpus size, so the audit costs the same as running the three
    searches it audits."""
    from .registry import REGISTRY

    exact = REGISTRY["emb_cosine_topk"].fn(spark, sf_dir).select("query_id", "vec_id")
    lsh = (
        REGISTRY["emb_ann_lsh"]
        .fn(spark, sf_dir)
        .select("query_id", "vec_id")
        .withColumn("l", F.lit(1))
    )
    ivf = (
        REGISTRY["emb_ann_ivf"]
        .fn(spark, sf_dir)
        .select("query_id", "vec_id")
        .withColumn("i", F.lit(1))
    )
    j = exact.join(lsh, ["query_id", "vec_id"], "left").join(
        ivf, ["query_id", "vec_id"], "left"
    )
    hit_l = F.sum(F.when(F.col("l").isNotNull(), 1).otherwise(0))
    hit_i = F.sum(F.when(F.col("i").isNotNull(), 1).otherwise(0))
    return j.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_exact"),
        hit_l.cast("long").alias("n_hit_lsh"),
        hit_i.cast("long").alias("n_hit_ivf"),
        (hit_l * 1.0 / F.count("*")).alias("recall_lsh"),
        (hit_i * 1.0 / F.count("*")).alias("recall_ivf"),
    )


# --------------------------------------------------------------------------
# Count-min sketch frequency estimates, graded against exact counts
# --------------------------------------------------------------------------
CMS_D = 3  # hash rows
CMS_W = 64  # buckets per row
CMS_TOP = 20  # audited keys: top-N by estimate (est DESC, key ASC)


def _sql_cms() -> str:
    cells = " UNION ALL ".join(
        f"SELECT {i} AS r, "
        f"((({sql_portable_hash64(f_key(i))}) % {CMS_W}) + {CMS_W}) % {CMS_W} AS b "
        "FROM events WHERE user_id IS NOT NULL"
        for i in range(CMS_D)
    )
    probe = sql_portable_hash64(
        "'cms' || CAST(c.r AS VARCHAR) || ':' || CAST(k.user_id AS VARCHAR)"
    )
    return f"""
    WITH cells AS ({cells}),
    counters AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c FROM cells GROUP BY r, b),
    keys AS (SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
    est AS (
      SELECT k.user_id, MIN(c.c) AS cms_est
      FROM keys k
      JOIN counters c ON c.b = ((({probe}) % {CMS_W}) + {CMS_W}) % {CMS_W}
      GROUP BY k.user_id
    ),
    top AS (
      SELECT user_id, cms_est,
             row_number() OVER (ORDER BY cms_est DESC, user_id ASC) AS hh_rank
      FROM est ORDER BY cms_est DESC, user_id ASC LIMIT {CMS_TOP}
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS true_n
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    )
    SELECT t.user_id, CAST(t.hh_rank AS BIGINT) AS hh_rank, t.cms_est, x.true_n,
           (t.cms_est - x.true_n) AS overcount,
           (t.cms_est >= x.true_n) AS never_undercounts
    FROM top t JOIN exact x USING (user_id)
    """


def f_key(i: int) -> str:
    return f"'cms' || CAST({i} AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"


@register(
    "heavy_hitters_cms",
    oracle=_sql_cms(),
    tags=("approx", "sketch", "count-min", "error-bound-verdict"),
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode & Muthukrishnan),
    graded: a d={CMS_D} x w={CMS_W} counter table is built in one pass,
    each key's estimate is the min of its d bucket counters, and the
    top-{CMS_TOP} keys by estimate are audited against their EXACT
    counts — overcount per key plus the deterministic CMS invariant
    (estimates never undercount) as a boolean the value hash grades.
    Same pattern as the approx_distinct/approx_quantile twins: the
    sketch's accuracy contract is the driver-verified result, so the
    oracle needs no engine-specific estimator internals.

    Scale: the sketch state is d*w = {CMS_D}*{CMS_W} counters — the
    point of CMS is that this is the WHOLE reduction state, one tiny
    map-side-combined aggregate over the stream regardless of key
    cardinality (and mergeable across executors/batches by cell-wise
    add). The per-key probe joins the BROADCAST counter table (bounded
    by construction, never by data); the top-N is a TakeOrdered, not a
    global sort; only the {CMS_TOP} audited keys join the exact-count
    side."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())

    def bucket(prefix_row: Column | int, uid: Column) -> Column:
        r = (
            F.lit(str(prefix_row)) if isinstance(prefix_row, int) else
            prefix_row.cast("string")
        )
        h = portable_hash64(F.concat(F.lit("cms"), r, F.lit(":"), uid.cast("string")))
        return F.pmod(h % CMS_W + CMS_W, F.lit(CMS_W))

    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("r"),
                        bucket(i, F.col("user_id")).alias("b"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("cell")
    ).select("cell.r", "cell.b")
    counters = cells.groupBy("r", "b").agg(F.count("*").cast("long").alias("c"))
    keys = ev.select("user_id").distinct()
    probes = keys.select(
        "user_id",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("r"), bucket(i, F.col("user_id")).alias("b")) for i in range(CMS_D)])
        ).alias("p"),
    ).select("user_id", "p.r", "p.b")
    est = (
        probes.join(F.broadcast(counters), ["r", "b"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_est"))
    )
    top = (
        est.orderBy(F.col("cms_est").desc(), F.col("user_id").asc())
        .limit(CMS_TOP)
        .select(
            "user_id",
            "cms_est",
            F.row_number()
            .over(Window.orderBy(F.col("cms_est").desc(), F.col("user_id").asc()))
            .cast("long")
            .alias("hh_rank"),
        )
    )
    exact = ev.groupBy("user_id").agg(F.count("*").cast("long").alias("true_n"))
    return top.join(exact, "user_id").select(
        "user_id",
        "hh_rank",
        "cms_est",
        "true_n",
        (F.col("cms_est") - F.col("true_n")).alias("overcount"),
        (F.col("cms_est") >= F.col("true_n")).alias("never_undercounts"),
    )
