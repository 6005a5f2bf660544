"""Round-12 queries (the round-6 fourth batch): the APPLY side of
line-level dedup, and the LEFT SEMI member of the streaming join
matrix.

- `docs_line_dedup`: C4-style repeated-line removal WITH corpus
  reassembly (Raffel et al. 2020 discard lines occurring >= 3 times;
  CCNet dedups at paragraph granularity the same way). Every prior
  dedup query in the registry MEASURES duplication (`docs_span_dedup`
  counts duplicated windows, `docs_exact_dedup` picks survivors);
  this one EMITS the transformed corpus — per doc the cleaned text
  with over-represented segments excised, plus removal accounting.
  The synthetic documents are single-line word-bag strings (no
  newline characters anywhere in the corpus), so "lines" are
  synthesized as fixed-K-word segments; the operator — global
  segment frequency, threshold, excise, reassemble in order — is
  exactly the C4 transformation.
- `docs_incremental_line_dedup`: the crawl-increment form — a new
  shard cleaned against the standing segment-frequency table,
  completing the increment quartet (MinHash / SimHash / IVF-PQ /
  exact-segment).
- `streaming_click_semi_join`: watermarked LEFT SEMI stream-stream
  interval join — "which clicks converted" as a stream, without
  materializing the (click, purchase) pairs. Completes the streaming
  join matrix: inner (r5 driver-green), LEFT OUTER (round-9), FULL
  OUTER (round-11), and now semi — every join type Structured
  Streaming supports for stream-stream equi+range predicates.
- `docs_lsh_recall_report`: the dedup-lane recall scoreboard — LSH
  pairs vs the exact df-capped Jaccard baseline as a one-row pair-set
  confusion summary (text twin of emb_ann_recall_report).
- `rag_chunk_ivf_index`: RAG ingestion end-to-end — chunk →
  deterministic integer md5-embedding → nearest-centroid IVF cell
  (per-row JVM array_min, no join fanout) → per-cell index stats.
- `emb_vector_audit`: the embeddings ingest-contract gate — NULL /
  empty / wrong-dim / NaN / Inf vector counts in one scan, making the
  ANN lane's valid-vector assumption enforceable at ingest.

Like every registry query they get strict Arrow-level DuckDB parity
through tests/test_parity.py::test_query_matches_oracle.

Reference parity: the reference's dedup surface is argmax row dedup in
its sync loop (src/utils/pse_edge.py:259); these queries extend
SURVEY.md §2's A2/U1 families to corpus-transformation scale, all
Spark-first (one hashed-key corpus shuffle, higher-order-function
reassembly, watermark-bounded stream state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import portable_hash64
from ..sources.catalog import load_table
from . import round9_queries  # noqa: F401 (register the entries read below)
from .registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# C4-style line dedup with reassembly
# --------------------------------------------------------------------------
LINE_K = 3  # words per synthetic "line" (the corpus has no newlines)
LINE_DF_T = 3  # a segment present in >= this many DISTINCT docs is removed


def _sql_seg_ctes() -> str:
    """Shared oracle prefix: docs → {LINE_K}-word segments with the
    SAME 60-bit portable hash the Spark plans shuffle on — frequency
    keys are hashed on BOTH engines (the _SQL_SHINGLE_H convention),
    so a hash collision yields the same pooled df on both sides
    instead of a non-deterministic parity break."""
    from ..functions.text import sql_portable_hash64

    k = LINE_K
    return f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    segs AS (
      SELECT doc_id, CAST(g.i AS INT) AS seg_pos,
             array_to_string(list_slice(ws, g.i*{k} + 1, g.i*{k} + {k}), ' ') AS seg
      FROM d, UNNEST(range(CAST(ceil(len(ws) / {k}.0) AS BIGINT))) AS g(i)
    ),
    segsh AS (
      SELECT doc_id, seg_pos, seg, {sql_portable_hash64('seg')} AS h FROM segs
    )"""


_SQL_LINE_ROLLUP = f"""
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segs,
           CAST(COUNT(*) FILTER (WHERE df >= {LINE_DF_T}) AS BIGINT) AS n_removed,
           CAST(COALESCE(SUM(length(seg)) FILTER (WHERE df >= {LINE_DF_T}), 0)
                AS BIGINT) AS removed_chars,
           COALESCE(string_agg(seg, ' ' ORDER BY seg_pos)
                    FILTER (WHERE df < {LINE_DF_T}), '') AS clean_text
    FROM j GROUP BY doc_id
"""


def _sql_line_dedup() -> str:
    return f"""{_sql_seg_ctes()},
    freq AS (
      SELECT h, COUNT(DISTINCT doc_id) AS df FROM segsh GROUP BY h
    ),
    j AS (
      SELECT s.doc_id, s.seg_pos, s.seg, f.df
      FROM segsh s JOIN freq f ON f.h = s.h
    )
    {_SQL_LINE_ROLLUP}
    """


@register(
    "docs_line_dedup",
    oracle=_sql_line_dedup(),
    tags=("llm", "dedup-line", "corpus", "transform"),
    bench=True,
)
def docs_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line dedup with reassembly: split each doc into
    {LINE_K}-word segments, remove every segment that appears in
    >= {LINE_DF_T} distinct docs corpus-wide, and emit the CLEANED
    text (remaining segments re-joined in original order) plus
    removal accounting. This is the transformation C4 applies before
    training ("discard any line appearing three or more times"),
    distinct from docs_span_dedup which only measures duplication.

    Scale: the only corpus-sized exchange carries (doc_id, seg_pos,
    60-bit segment hash, seg_chars) — ~20 bytes/segment, never the
    segment text. Distinct-doc frequency is TWO window functions over
    ONE hash-partitioned sort (lag marks the first row per (segment,
    doc), an unbounded sum counts the marks) — the aggregate-and-
    rebroadcast formulation would ship a corpus-sized frequency table
    back past every executor and cannot survive 100 TB. The removal
    list that joins back to the docs is proportional to the DUPLICATED
    mass only (empty for a clean corpus), and reassembly is a
    JVM-side higher-order index filter over the original segment
    array — no UDF, no text re-shuffle, no second corpus scan."""
    # r12: checkpoint the segmented base — BOTH lineages (the exploded
    # frequency path and the reassembly join) consume it, and their
    # different column prunings made the two exchanges non-identical,
    # so ReusedExchange did not fire and one lineage re-ran the whole
    # tokenize+segment transform as a single pre-exchange task (hot-run
    # stage profile: 1 task, 1.28s CPU — exactly the serial shape the
    # parallelism floor exists to prevent, leaking back in through the
    # second lineage). The checkpoint materializes (doc_id, segs) once
    # at floor width; both lineages read the cached partitions.
    base = _doc_segments(spark, sf_dir).localCheckpoint(eager=False)
    flagged = _window_df(_exploded_segments(base), "df")
    rem = _removal_agg(flagged.filter(F.col("df") >= LINE_DF_T))
    return _reassemble(base.join(rem, "doc_id", "left"))


def _doc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, segs array) — the shared segmentation projection."""
    from ..sources.catalog import load_table_spread

    # r12: parallelism floor for the segment explode + reassembly (the
    # dominant CPU stages ran as ONE task on the single-split local
    # scan; see load_table_spread — no-op at real scale).
    d = load_table_spread(spark, sf_dir, "documents", "doc_id").filter(
        F.col("text").isNotNull()
    )
    ws = F.split(F.col("text"), " ")
    n_segs = (F.ceil(F.size(ws) / float(LINE_K))).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - F.lit(1)),
        lambda i: F.array_join(F.slice(ws, i * LINE_K + 1, LINE_K), " "),
    )
    return d.select("doc_id", segs.alias("segs"))


def _exploded_segments(base: DataFrame) -> DataFrame:
    """(doc_id, seg_pos, 60-bit hash, seg_chars) — the corpus shuffle
    working set; segment TEXT never leaves this projection."""
    return base.select(
        "doc_id", F.posexplode("segs").alias("seg_pos", "seg")
    ).select(
        "doc_id",
        "seg_pos",
        portable_hash64(F.col("seg")).alias("h"),
        F.length("seg").alias("seg_chars"),
    )


def _window_df(ex: DataFrame, out_col: str) -> DataFrame:
    """Distinct-doc frequency without COUNT(DISTINCT) and without a
    second scan: one exchange on the segment hash serves both the
    first-row-per-doc marker (lag over the sorted partition) and the
    partition-wide sum of those markers."""
    wseq = Window.partitionBy("h").orderBy("doc_id", "seg_pos")
    wall = Window.partitionBy("h")
    prev = F.lag("doc_id").over(wseq)
    return ex.withColumn(
        "first_in_doc",
        (prev.isNull() | (prev != F.col("doc_id"))).cast("long"),
    ).withColumn(out_col, F.sum("first_in_doc").over(wall))


def _removal_agg(removed: DataFrame) -> DataFrame:
    """Per-doc removal accounting + the excised positions list."""
    return removed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_removed"),
        F.sum("seg_chars").alias("removed_chars"),
        F.collect_list("seg_pos").alias("rem_pos"),
    )


def _reassemble(out: DataFrame) -> DataFrame:
    """Excise rem_pos from the segs array (JVM index filter), re-join
    the survivors, and default the accounting for untouched docs."""
    no_removals = F.array().cast("array<int>")
    kept = F.filter(
        F.col("segs"),
        lambda _x, i: ~F.array_contains(
            F.coalesce(F.col("rem_pos"), no_removals), i
        ),
    )
    return out.select(
        "doc_id",
        F.size("segs").cast("long").alias("n_segs"),
        F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
        F.coalesce(F.col("removed_chars"), F.lit(0))
        .cast("long")
        .alias("removed_chars"),
        F.array_join(kept, " ").alias("clean_text"),
    )


# --------------------------------------------------------------------------
# Streaming LEFT SEMI interval join: which clicks converted, as a stream
# --------------------------------------------------------------------------
@register(
    "streaming_click_semi_join",
    # Semi-join emission needs NO watermark scoping in the oracle: a
    # click emits exactly once, as soon as SOME matching purchase has
    # arrived, and unmatched clicks never emit — so after
    # processAllAvailable the emitted set is exactly the batch EXISTS.
    # (Contrast the outer twins, whose NULL rows emit only once the
    # final watermark proves no match can come; nothing here waits on
    # a watermark, the watermark only bounds state.)
    oracle="""
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts
    FROM events c
    WHERE c.event_type = 'click'
      AND EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase'
          AND p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
      )
    """,
    tags=("streaming", "stream-stream-join", "semi"),
    bench=True,
)
def streaming_click_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT SEMI stream-stream interval join — the
    membership form of click attribution ("did this click convert
    within 6 hours?") that never materializes the pair fan-out. With
    inner (r5 driver-green), LEFT OUTER (round-9) and FULL OUTER
    (round-11) this completes every stream-stream join type the
    Structured Streaming runtime supports for equi+range predicates.

    Scale: identical state bounds to the other three twins (both
    sides watermarked, purchase_ts bounded relative to click_ts in
    both directions, state hash-partitioned by user_id) — but the
    OUTPUT is strictly smaller than the inner join's (at most one row
    per click, no per-pair fan-out), which is what an attribution
    filter feeding a downstream aggregate wants at 100 TB/day click
    volume."""
    from .pipeline_queries import run_click_join_stream

    return run_click_join_stream(
        spark, sf_dir, join_type="left_semi", prefix="stream_sjoin"
    )


# --------------------------------------------------------------------------
# Dedup-lane recall scoreboard: LSH vs the exact-Jaccard baseline
# --------------------------------------------------------------------------
def _sql_lsh_recall_report() -> str:
    """Compact shared-CTE form (the emb_ann_recall_report convention
    from the round-10 DuckDB allocator incident): ONE hoisted shingle
    working set feeds both the exact-baseline and LSH arms, instead of
    composing the two full oracles as subqueries and re-deriving the
    tokenize/shingle/hash set three times on one connection."""
    from .llm_queries import (
        JACCARD_THRESHOLD,
        LSH_BUCKET_CAP,
        MINHASH_A,
        MINHASH_B,
        MINHASH_BANDS,
        MINHASH_K,
        MINHASH_P,
        NGRAM_DF_CAP,
        _SQL_SHINGLE_H,
        _sql_band_key,
    )

    mins = ", ".join(
        f"MIN(({MINHASH_A[i]} * (sh % {MINHASH_P}) + {MINHASH_B[i]})"
        f" % {MINHASH_P}) AS sig{i}"
        for i in range(MINHASH_K)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {_sql_band_key(b)} AS bk FROM sig"
        for b in range(MINHASH_BANDS)
    )
    jac = "(c.n_common * 1.0 / (sa.n_sh + sb.n_sh - c.n_common))"
    return f"""
    WITH sh0 AS ({_SQL_SHINGLE_H}),
    shc AS (
      SELECT doc_id, sh FROM sh0
      QUALIFY COUNT(*) OVER (PARTITION BY sh) <= {NGRAM_DF_CAP}
    ),
    csizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shc GROUP BY doc_id),
    ccommon AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shc a JOIN shc b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    exact AS (
      SELECT c.doc_a, c.doc_b FROM ccommon c
      JOIN csizes sa ON c.doc_a = sa.doc_id
      JOIN csizes sb ON c.doc_b = sb.doc_id
      WHERE {jac} >= {JACCARD_THRESHOLD}
    ),
    sig AS (SELECT doc_id, {mins} FROM sh0 GROUP BY doc_id),
    bk AS ({bands}),
    bkc AS (
      SELECT doc_id, bk FROM bk
      QUALIFY COUNT(*) OVER (PARTITION BY bk) <= {LSH_BUCKET_CAP}
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bkc x JOIN bkc y ON x.bk = y.bk AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh0 GROUP BY doc_id),
    lcommon AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh0 a ON a.doc_id = c.doc_a
      JOIN sh0 b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    lsh AS (
      SELECT c.doc_a, c.doc_b FROM lcommon c
      JOIN sizes sa ON c.doc_a = sa.doc_id
      JOIN sizes sb ON c.doc_b = sb.doc_id
      WHERE {jac} >= {JACCARD_THRESHOLD}
    ),
    m AS (
      SELECT COALESCE(e.doc_a, l.doc_a) AS doc_a,
             (e.doc_a IS NOT NULL) AS in_exact,
             (l.doc_a IS NOT NULL) AS in_lsh
      FROM exact e
      FULL OUTER JOIN lsh l ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
    )
    SELECT
      CAST(COUNT(*) FILTER (WHERE in_exact) AS BIGINT) AS n_exact,
      CAST(COUNT(*) FILTER (WHERE in_lsh) AS BIGINT) AS n_lsh,
      CAST(COUNT(*) FILTER (WHERE in_exact AND in_lsh) AS BIGINT) AS n_both,
      CAST(COUNT(*) FILTER (WHERE in_exact AND NOT in_lsh) AS BIGINT)
        AS n_only_exact,
      CAST(COUNT(*) FILTER (WHERE in_lsh AND NOT in_exact) AS BIGINT)
        AS n_only_lsh,
      CASE WHEN COUNT(*) FILTER (WHERE in_exact) = 0 THEN NULL
           ELSE COUNT(*) FILTER (WHERE in_exact AND in_lsh) * 100.0
                / COUNT(*) FILTER (WHERE in_exact) END AS recall_vs_exact_pct
    FROM m
    """


@register(
    "docs_lsh_recall_report",
    oracle=_sql_lsh_recall_report(),
    tags=("llm", "dedup-near", "evaluation"),
)
def docs_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-lane recall scoreboard — the text twin of
    emb_ann_recall_report: the MinHash-LSH near-dup pairs measured
    against the exact df-capped Jaccard baseline as a one-row pair-set
    confusion summary. `n_only_exact` counts pairs LSH banding/bucket
    caps missed (the recall price of the 100 TB shape);
    `n_only_lsh` counts true pairs the exact baseline's NGRAM_DF_CAP
    dropped but LSH recovered (both methods verify with the SAME
    Jaccard threshold, so neither side's extras are false positives —
    the two columns expose each approximation's blind spot against the
    other). This is the evaluation a crawl-ops team runs before
    trusting LSH parameters on a new corpus.

    Scale: the cost IS the two audited constituent plans — they share
    the persisted shingle working set (_PersistedLRU), the pair-set
    full-outer join is bounded by the pair outputs (not the corpus),
    and the rollup is a single-row aggregate. The division guards the
    empty-truth corpus with NULL on both engines."""
    from .llm_queries import docs_minhash_lsh_pairs, docs_ngram_jaccard_pairs

    exact = docs_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    lsh = docs_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    e = exact.withColumn("in_exact", F.lit(True))
    l = lsh.withColumn("in_lsh", F.lit(True))
    m = e.join(l, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce("in_exact", F.lit(False)).alias("in_exact"),
        F.coalesce("in_lsh", F.lit(False)).alias("in_lsh"),
    )
    cnt = lambda c: F.sum(c.cast("long"))  # noqa: E731
    n_exact = cnt(F.col("in_exact"))
    n_both = cnt(F.col("in_exact") & F.col("in_lsh"))
    return m.agg(
        F.coalesce(n_exact, F.lit(0)).alias("n_exact"),
        F.coalesce(cnt(F.col("in_lsh")), F.lit(0)).alias("n_lsh"),
        F.coalesce(n_both, F.lit(0)).alias("n_both"),
        F.coalesce(cnt(F.col("in_exact") & ~F.col("in_lsh")), F.lit(0)).alias(
            "n_only_exact"
        ),
        F.coalesce(cnt(F.col("in_lsh") & ~F.col("in_exact")), F.lit(0)).alias(
            "n_only_lsh"
        ),
        F.when(F.coalesce(n_exact, F.lit(0)) == 0, F.lit(None).cast("double"))
        .otherwise(n_both * F.lit(100.0) / n_exact)
        .alias("recall_vs_exact_pct"),
    )


# --------------------------------------------------------------------------
# RAG ingestion: chunk -> hash-embed -> IVF cell assignment -> index stats
# --------------------------------------------------------------------------
RAG_DIM = 8  # embedding dims (3 hex chars of the chunk md5 each)
RAG_CELLS = 16  # coarse IVF cells


def _rag_centroids() -> list[tuple[int, ...]]:
    """Frozen coarse centroids as PYTHON-computed md5 literals (the
    trained-index-broadcast pattern: a real system trains centroids
    offline and re-enters them as literals — cf. the 16-row centroid
    literal re-entry in round9_queries.ivf_assign_frame). Deterministic
    and engine-independent: both the Spark plan and the DuckDB oracle
    embed the same integer constants."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:3], 16)

    return [
        tuple(h(f"cent:{c}:{j}") for j in range(RAG_DIM))
        for c in range(RAG_CELLS)
    ]


def _sql_rag_chunk_ivf_index() -> str:
    from .registry import REGISTRY

    chunk_sql = REGISTRY["docs_overlap_chunks"].oracle
    dims = ", ".join(
        f"('0x' || substr(chunk_md5, {1 + 3 * j}, 3))::BIGINT AS e{j}"
        for j in range(RAG_DIM)
    )
    cent_rows = ", ".join(
        "(" + ", ".join(map(str, (c,) + row)) + ")"
        for c, row in enumerate(_rag_centroids())
    )
    cent_cols = ", ".join(f"c{j}" for j in range(RAG_DIM))
    dist = " + ".join(f"(e{j} - c{j}) * (e{j} - c{j})" for j in range(RAG_DIM))
    return f"""
    WITH chunks AS (SELECT doc_id, chunk_idx, chunk_md5 FROM ({chunk_sql})),
    emb AS (SELECT doc_id, chunk_idx, {dims} FROM chunks),
    cent(cell, {cent_cols}) AS (VALUES {cent_rows}),
    assigned AS (
      SELECT e.doc_id, e.chunk_idx, c.cell, {dist} AS sqdist
      FROM emb e CROSS JOIN cent c
      QUALIFY row_number() OVER (PARTITION BY e.doc_id, e.chunk_idx
                                 ORDER BY {dist}, c.cell) = 1
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(sqdist) AS BIGINT) AS sum_sqdist
    FROM assigned GROUP BY cell
    """


@register(
    "rag_chunk_ivf_index",
    oracle=_sql_rag_chunk_ivf_index(),
    tags=("llm", "rag", "ann-index", "pipeline"),
)
def rag_chunk_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingestion pipeline end-to-end: overlapping chunks
    (docs_overlap_chunks' audited plan) -> deterministic integer
    embedding (3 hex chars of the chunk md5 per dim — milli-unit ints,
    so every downstream aggregate is exact on both engines; a real
    deployment swaps ONE projection for an Arrow-batched model UDF) ->
    nearest-centroid IVF cell against the frozen literal centroids ->
    per-cell index statistics (chunk count, distinct source docs,
    total within-cell squared distance = the quantization-error mass
    an index maintainer watches for cell splits).

    Scale: chunking and embedding are per-row maps; the cell argmin is
    a JVM-side array_min over {RAG_CELLS} (sqdist, cell) structs —
    zero fanout, NO 16x cross-join row blowup (the oracle's CROSS JOIN
    is the readable spec; the plan never materializes it); the only
    exchange is the final groupBy on {RAG_CELLS} cells with map-side
    combine + the distinct-doc expansion. Integer squared-L2 with a
    smallest-cell tiebreak keeps the argmin total-order exact — no
    float comparisons anywhere."""
    from .round9_queries import docs_overlap_chunks

    chunks = docs_overlap_chunks(spark, sf_dir).select(
        "doc_id", "chunk_idx", "chunk_md5"
    )
    emb = [
        F.conv(F.substring("chunk_md5", 1 + 3 * j, 3), 16, 10).cast("long")
        for j in range(RAG_DIM)
    ]
    choices = F.array(
        *[
            F.struct(
                sum(
                    (emb[j] - F.lit(row[j])) * (emb[j] - F.lit(row[j]))
                    for j in range(RAG_DIM)
                ).alias("sqdist"),
                F.lit(c).cast("long").alias("cell"),
            )
            for c, row in enumerate(_rag_centroids())
        ]
    )
    assigned = chunks.select(
        "doc_id",
        F.array_min(choices).alias("best"),
    ).select("doc_id", F.col("best.cell").alias("cell"), F.col("best.sqdist").alias("sqdist"))
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("sqdist").alias("sum_sqdist"),
    )


# --------------------------------------------------------------------------
# Incremental line dedup: clean a new crawl shard vs standing frequencies
# --------------------------------------------------------------------------
def _sql_incremental_line_dedup() -> str:
    return f"""{_sql_seg_ctes()},
    standing AS (
      SELECT h, COUNT(DISTINCT doc_id) AS df_standing
      FROM segsh WHERE doc_id % 2 = 0 GROUP BY h
    ),
    fresh AS (
      SELECT h, COUNT(DISTINCT doc_id) AS df_new
      FROM segsh WHERE doc_id % 2 = 1 GROUP BY h
    ),
    j AS (
      SELECT s.doc_id, s.seg_pos, s.seg,
             f.df_new + COALESCE(st.df_standing, 0) AS df
      FROM segsh s
      JOIN fresh f ON f.h = s.h
      LEFT JOIN standing st ON st.h = s.h
      WHERE s.doc_id % 2 = 1
    )
    {_SQL_LINE_ROLLUP}
    """


@register(
    "docs_incremental_line_dedup",
    oracle=_sql_incremental_line_dedup(),
    tags=("llm", "dedup-line", "corpus", "incremental"),
)
def docs_incremental_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental C4 line dedup — the crawl-increment member of the
    line-dedup family, completing the increment QUARTET with
    docs_incremental_dedup (MinHash/Jaccard), docs_incremental_simhash
    (Hamming) and emb_ann_ivfpq_increment (cosine): a new crawl shard
    (odd doc_ids, the established split convention) is cleaned against
    the STANDING corpus's segment-frequency table (even doc_ids) plus
    its own within-shard frequencies — a segment is excised when the
    cumulative distinct-doc count (standing + shard) crosses the same
    >= {LINE_DF_T} threshold as the batch query, so re-crawling text
    the corpus already saturates removes it immediately.

    Scale: the standing side is the MAINTAINED state — (segment hash,
    df) pairs, 12 bytes/segment, the same table an incremental ingest
    keeps updated; per-crawl cost is the SHARD's segments probing it
    through one equi-join on the hash (bucket-partition the standing
    table by hash and the probe co-locates — no standing re-shuffle),
    plus the shard-local window df. The batch twin re-scans the whole
    corpus every run; this form's cost scales with the crawl
    increment, which is the only shape that survives a daily 100 TB
    feed."""
    # r12: same checkpoint as docs_line_dedup — three lineages consume
    # the segmented base (standing df, shard window, reassembly join)
    # and their prunings defeat ReusedExchange, serializing the
    # tokenize+segment transform into a single pre-exchange task.
    base = _doc_segments(spark, sf_dir).localCheckpoint(eager=False)
    ex = _exploded_segments(base)
    standing = (
        ex.filter(F.col("doc_id") % 2 == 0)
        .groupBy("h")
        .agg(F.countDistinct("doc_id").alias("df_standing"))
    )
    new_df = _window_df(ex.filter(F.col("doc_id") % 2 == 1), "df_new")
    joined = new_df.join(standing, "h", "left").withColumn(
        "df", F.col("df_new") + F.coalesce(F.col("df_standing"), F.lit(0))
    )
    rem = _removal_agg(joined.filter(F.col("df") >= LINE_DF_T))
    return _reassemble(
        base.filter(F.col("doc_id") % 2 == 1).join(rem, "doc_id", "left")
    )


# --------------------------------------------------------------------------
# Embeddings ingest-contract audit: the gate in front of the ANN lane
# --------------------------------------------------------------------------
def _sql_emb_vector_audit() -> str:
    from .llm_queries import EMB_DIM

    return f"""
    WITH c AS (
      SELECT
        (embedding IS NULL) AS is_null,
        (embedding IS NOT NULL AND len(embedding) = 0) AS is_empty,
        (embedding IS NOT NULL AND len(embedding) NOT IN (0, {EMB_DIM}))
          AS is_wrong_dim,
        (embedding IS NOT NULL
         AND len(list_filter(embedding, x -> isnan(x))) > 0) AS has_nan,
        (embedding IS NOT NULL
         AND len(list_filter(embedding, x -> isinf(x))) > 0) AS has_inf
      FROM embeddings
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_vecs,
      CAST(COUNT(*) FILTER (WHERE is_null) AS BIGINT) AS n_null_vec,
      CAST(COUNT(*) FILTER (WHERE is_empty) AS BIGINT) AS n_empty,
      CAST(COUNT(*) FILTER (WHERE is_wrong_dim) AS BIGINT) AS n_wrong_dim,
      CAST(COUNT(*) FILTER (WHERE has_nan) AS BIGINT) AS n_nan,
      CAST(COUNT(*) FILTER (WHERE has_inf) AS BIGINT) AS n_inf,
      CAST(COUNT(*) FILTER (WHERE NOT is_null AND NOT is_empty
                              AND NOT is_wrong_dim AND NOT has_nan
                              AND NOT has_inf) AS BIGINT) AS n_valid
    FROM c
    """


@register(
    "emb_vector_audit",
    oracle=_sql_emb_vector_audit(),
    tags=("llm", "ann", "data-quality", "ingest-contract"),
)
def emb_vector_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings ingest-contract audit — the gate that makes the ANN
    lane's assumption enforceable instead of implicit: every emb_*
    query is defined over NON-NULL, EMB_DIM-length, finite vectors
    (the same division of labor as TPC-H's NOT NULL key declarations,
    which the NULL-tpch matrix respects rather than violates). A 100 TB
    embedding feed validates ONCE here at ingest — NULL, empty,
    wrong-dimension, NaN and Inf rows are counted (and in a real
    deployment quarantined) — rather than paying a defensive filter in
    all ~17 downstream ANN/PQ/IVF/kNN plans. One scan, one single-row
    aggregate; every classifier is a JVM higher-order `exists`, no
    UDF, no shuffle beyond the final 1-row combine.

    Hostile-input parity (NULL / empty / short / NaN / Inf vectors) is
    pinned by tests/test_round12.py on a synthetic corrupt fixture;
    real testdata audits clean (n_valid = n_vecs)."""
    from .llm_queries import EMB_DIM

    emb = _t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    is_null = e.isNull()
    is_empty = e.isNotNull() & (F.size(e) == 0)
    is_wrong = e.isNotNull() & (F.size(e) != 0) & (F.size(e) != EMB_DIM)
    has_nan = e.isNotNull() & F.exists(e, lambda x: F.isnan(x))
    has_inf = e.isNotNull() & F.exists(
        e, lambda x: (x == float("inf")) | (x == float("-inf"))
    )
    valid = ~is_null & ~is_empty & ~is_wrong & ~has_nan & ~has_inf
    cnt = lambda c: F.coalesce(F.sum(c.cast("long")), F.lit(0))  # noqa: E731
    return emb.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        cnt(is_null).alias("n_null_vec"),
        cnt(is_empty).alias("n_empty"),
        cnt(is_wrong).alias("n_wrong_dim"),
        cnt(has_nan).alias("n_nan"),
        cnt(has_inf).alias("n_inf"),
        cnt(valid).alias("n_valid"),
    )
