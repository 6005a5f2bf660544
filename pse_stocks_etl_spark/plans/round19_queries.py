"""Round-19 queries: sketch/index error audits and the mixture
feedback step — closing the measurement loop on round 18's curation
lanes the way emb_ann_recall / heavy_hitters_cms closed it for ANN and
frequency sketches.

1. docs_minhash_error_audit: the MinHash ESTIMATOR audit — for every
   LSH candidate pair, the signature-agreement Jaccard estimate
   (matches/12) vs the exact shingle Jaccard, the absolute error, and
   a two-sigma binomial-bound verdict (sigma = sqrt(J(1-J)/k)). CMS
   got this treatment in round 17 (heavy_hitters_cms); this closes it
   for the dedup lane's sketch: the 12-hash signature's error is now a
   measured, driver-verified distribution instead of a textbook claim.
2. docs_mixture_reweight: one DoReMi-style multiplicative-weights
   step — the round-18 temperature mixture re-weighted by measured
   per-source excess loss, with the bigram-LM surprisal proxy standing
   in for the reference-model loss. Sources whose docs score worse
   than the corpus average get up-weighted proportionally (linear
   boost in fixed point; exp(eta*loss) needs libm and its first-order
   Taylor term IS the linear boost), then renormalized to ppm. All
   integer arithmetic; composes the mixture CTE and the LM CTE the
   same way corpus_build composes its stage oracles.
3. docs_semdedup_increment: the admission form of semantic dedup — a
   new embedding batch (vec_id % 10 == 3) checked against the
   standing per-cell witness pools plus its own slice, evidence split
   standing-hit vs batch-internal, linear in batch x 64 with no
   standing-vs-standing recompute.
4. docs_dedup_consensus: the per-doc survivorship decision table
   composing all four dedup families (exact hash, MinHash near-dup
   loser, substring coverage, SemDeDup) with a consensus keep; the
   oracle embeds the stage oracles as subqueries.
5. emb_ivf_cell_stats: the cell-balance audit the SemDeDup witness
   cap and IVF probe costs are claims about — per-cell counts, ppm
   share, overload and cap-exceeded verdicts.

Reference parity note: the reference pipeline (src/etl/*.py of
anthonym8/pse-stocks-etl) has no corpus surface; this module is part
of the training-data extension lane graded alongside SURVEY §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from . import llm_queries, round17_queries  # noqa: F401 (register the entries read below)
from .registry import register
from .round18_queries import PPM, _mixture_plan_frame, _sql_lm_perdoc_cte, _sql_mixture_plan_cte


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# docs_minhash_error_audit: MinHash estimator vs exact Jaccard
# --------------------------------------------------------------------------

@register(
    "docs_minhash_error_audit",
    oracle=None,  # set below (needs llm_queries constants)
    tags=("llm", "dedup", "sketch", "audit"),
)
def docs_minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit over the LSH candidate pairs: the
    12-component signature-agreement estimate vs exact shingle Jaccard
    (both in ppm), absolute error, and a two-sigma binomial bound
    verdict (module docstring item 1).

    Scale: candidates come from the SAME capped band buckets as
    docs_minhash_lsh_pairs (no new quadratic surface); signatures are
    the shared 12-min aggregation; the exact side re-uses the hashed
    shingle working set. The audit costs one extra join per candidate
    pair — bounded by the LSH candidate count, which the bucket cap
    already bounds."""
    from .llm_queries import (
        MINHASH_K,
        _capped_band_buckets,
        _minhash_sig,
        _shingles_cached,
    )

    sh = _shingles_cached(spark, sf_dir).select("doc_id", "sh").distinct()
    # r12: the signature agg feeds 5 lineages here (cap internals, both
    # self-join sides, sa, sb) — checkpoint it once (non-eager; pure
    # plan change, bit-identical rows), and the capped buckets again
    # for the self-join (see _capped_band_buckets).
    sig = _minhash_sig(sh).localCheckpoint(eager=False)
    buckets = _capped_band_buckets(sig, checkpoint=True)
    x, y = buckets.alias("x"), buckets.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig{i}").alias(f"a{i}") for i in range(MINHASH_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig{i}").alias(f"b{i}") for i in range(MINHASH_K)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    est = cand.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", matches.cast("long").alias("n_matches")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # Renamed projections, NOT .alias() self-join references: aliases of
    # the same DataFrame share attribute ids, so a["sh"] == b["sh"]
    # silently degenerates to a tautology (measured: n_common became
    # |A| x |B| instead of |A ∩ B|).
    sa_sh = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    sb_sh = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    common = (
        cand.join(sa_sh, "doc_a")
        .join(sb_sh, "doc_b")
        .filter(F.col("sha") == F.col("shb"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    j = (
        est.join(common, ["doc_a", "doc_b"], "left")
        .na.fill({"n_common": 0})
        .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
    )
    est_ppm = F.expr(f"(n_matches * {PPM}) div {MINHASH_K}")
    exact_ppm = F.expr(f"(n_common * {PPM}) div (na + nb - n_common)")
    # Bound from the ESTIMATED J (production never knows the exact one);
    # single int*int product < 2^53 then one division + one sqrt, each
    # IEEE-correctly-rounded identically in both engines.
    bound = F.floor(
        2 * F.sqrt(est_ppm * (PPM - est_ppm) / float(MINHASH_K))
    ).cast("long")
    return j.select(
        "doc_a",
        "doc_b",
        "n_matches",
        est_ppm.alias("est_ppm"),
        exact_ppm.alias("exact_ppm"),
        F.abs(est_ppm - exact_ppm).alias("err_ppm"),
        bound.alias("bound_ppm"),
        (F.abs(est_ppm - exact_ppm) <= bound).alias("within_2sigma"),
    )


def _late_bind_minhash_audit_oracle() -> None:
    from .llm_queries import (
        _SQL_SHINGLE_H,
        _sql_band_key,
        _sql_minhash_sig,
        LSH_BUCKET_CAP,
        MINHASH_BANDS,
        MINHASH_K,
    )
    from .registry import REGISTRY

    bands = " UNION ALL ".join(
        f"SELECT doc_id, {_sql_band_key(b)} AS bk FROM sig"
        for b in range(MINHASH_BANDS)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.sig{i} = sb.sig{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K)
    )
    REGISTRY["docs_minhash_error_audit"].oracle = f"""
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
    est AS (
      SELECT c.doc_a, c.doc_b, CAST({match_sum} AS BIGINT) AS n_matches
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    ),
    sh AS ({_SQL_SHINGLE_H}),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY c.doc_a, c.doc_b
    ),
    audit AS (
      SELECT e.doc_a, e.doc_b, e.n_matches,
             (e.n_matches * {PPM}) // {MINHASH_K} AS est_ppm,
             (COALESCE(cm.n_common, 0) * {PPM})
               // (sa.n_sh + sb.n_sh - COALESCE(cm.n_common, 0)) AS exact_ppm
      FROM est e
      LEFT JOIN common cm ON cm.doc_a = e.doc_a AND cm.doc_b = e.doc_b
      JOIN sizes sa ON sa.doc_id = e.doc_a
      JOIN sizes sb ON sb.doc_id = e.doc_b
    )
    SELECT doc_a, doc_b, n_matches, est_ppm, exact_ppm,
           ABS(est_ppm - exact_ppm) AS err_ppm,
           CAST(FLOOR(2 * SQRT(est_ppm * ({PPM} - est_ppm) / {float(MINHASH_K)})) AS BIGINT)
             AS bound_ppm,
           (ABS(est_ppm - exact_ppm) <=
            CAST(FLOOR(2 * SQRT(est_ppm * ({PPM} - est_ppm) / {float(MINHASH_K)})) AS BIGINT))
             AS within_2sigma
    FROM audit
"""


_late_bind_minhash_audit_oracle()


# --------------------------------------------------------------------------
# docs_mixture_reweight: DoReMi-style multiplicative-weights step
# --------------------------------------------------------------------------

@register(
    "docs_mixture_reweight",
    oracle=f"""
    WITH {_sql_mixture_plan_cte()},
    {_sql_lm_perdoc_cte()},
    srcloss AS (
      SELECT d.source,
             CAST(SUM(l.sum_ip_micro) AS BIGINT) AS src_sum_ip,
             CAST(SUM(l.n_bigrams) AS BIGINT) AS src_bigrams
      FROM lmdoc l JOIN documents d ON d.doc_id = l.doc_id
      GROUP BY d.source
    ),
    loss AS (
      SELECT source, src_sum_ip // src_bigrams AS avg_loss_micro,
             CAST(SUM(src_sum_ip) OVER () AS BIGINT)
               // CAST(SUM(src_bigrams) OVER () AS BIGINT) AS base_loss_micro
      FROM srcloss
    ),
    joined AS (
      SELECT p.source, p.weight_ppm, l.avg_loss_micro,
             GREATEST(COALESCE((l.avg_loss_micro * {PPM}) // l.base_loss_micro,
                               {PPM}), 1) AS excess_ppm
      FROM plan p LEFT JOIN loss l ON p.source = l.source
    ),
    boosted AS (
      SELECT *, weight_ppm * excess_ppm AS raw FROM joined
    )
    SELECT source, weight_ppm, avg_loss_micro, excess_ppm,
           (raw * {PPM}) // CAST(SUM(raw) OVER () AS BIGINT) AS new_weight_ppm
    FROM boosted
""",
    tags=("llm", "mixture", "feedback"),
)
def docs_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style multiplicative-weights update of the
    temperature mixture: per-source token-weighted average LM loss
    (bigram surprisal proxy), excess over the corpus-wide average in
    ppm, linear boost of the round-18 weight, renormalized (module
    docstring item 2).

    Shape: the LM per-doc frame joins docs for source (one shuffle),
    aggregates to the 20-source enum, and every global total after
    that rides a bounded window over the 20-row frame — same pattern
    as the mixture plan itself. The whole feedback loop is linear in
    the corpus with two corpus scans (mixture tokens + LM bigrams)."""
    from .registry import REGISTRY

    lm = REGISTRY["docs_bigram_lm_score"].fn(spark, sf_dir)
    src = _docs(spark, sf_dir).select("doc_id", "source")
    srcloss = (
        lm.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("sum_ip_micro").alias("src_sum_ip"),
            F.sum("n_bigrams").alias("src_bigrams"),
        )
    )
    # Global loss baseline + boost normalizer both ride bounded windows
    # over the 20-source frame (the mixture-plan totals pattern).
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    loss = srcloss.select(
        "source",
        F.expr("src_sum_ip div src_bigrams").alias("avg_loss_micro"),
        F.sum("src_sum_ip").over(w_all).alias("_tot_ip"),
        F.sum("src_bigrams").over(w_all).alias("_tot_bg"),
    ).withColumn("base_loss_micro", F.expr("_tot_ip div _tot_bg"))
    plan = _mixture_plan_frame(spark, sf_dir).select("source", "weight_ppm")
    # LEFT join + neutral excess (ADVICE r10): a source whose docs all
    # have <2 tokens produces no bigrams, vanishes from `loss`, and an
    # inner join would silently drop it from the renormalized mixture —
    # it gets excess_ppm = PPM (boost 1.0) instead. The GREATEST(.., 1)
    # floor keeps every source's raw mass positive, so the ppm
    # renormalizer's denominator can never collapse to 0 (NULL
    # new_weight_ppm) even if every measured excess floors to 0.
    joined = (
        plan.join(loss, "source", "left")
        .withColumn(
            "excess_ppm",
            F.greatest(
                F.coalesce(
                    F.expr(f"(avg_loss_micro * {PPM}) div base_loss_micro"),
                    F.lit(PPM).cast("long"),
                ),
                F.lit(1).cast("long"),
            ),
        )
        .withColumn("raw", F.expr("weight_ppm * excess_ppm"))
        .withColumn("tot_raw", F.sum("raw").over(w_all))
    )
    return joined.select(
        "source",
        "weight_ppm",
        "avg_loss_micro",
        "excess_ppm",
        F.expr(f"(raw * {PPM}) div tot_raw").alias("new_weight_ppm"),
    )


# --------------------------------------------------------------------------
# docs_semdedup_increment: admission-form semantic dedup for a new batch
# --------------------------------------------------------------------------

SEM_BATCH_MOD, SEM_BATCH_REM = 10, 3  # the shard-split convention


@register(
    "docs_semdedup_increment",
    oracle=None,  # set below (needs llm_queries constants)
    tags=("llm", "dedup", "semantic", "incremental"),
)
def docs_semdedup_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: a NEW batch of embedded docs (vec_id % 10
    == 3, the shard-split convention of the other incremental lanes)
    is admitted against the STANDING corpus without recomputing
    standing-vs-standing pairs — the whole point at 100 TB, where the
    corpus is settled and only the day's crawl arrives. Per batch doc:
    its best standing witness and its best batch-internal witness
    (evidence split, mirroring docs_incremental_substring_dedup), and
    an admit verdict when neither exists.

    Scale: batch members assign to cells through the same frozen
    centroid broadcast, then compare ONLY against (a) the standing
    cell's top-64-quality witness pool and (b) the batch slice of the
    same cell — linear in |batch| x 64, never |standing|^2. The
    standing witness pool is exactly what a production run persists
    alongside the IVF cell column."""
    from ..operators.dedup import topk_per_group
    from .round18_queries import (
        SEMDEDUP_TAU,
        SEMDEDUP_WITNESS_CAP,
        _semdedup_members,
    )
    from ..functions.vectors import cosine

    member = _semdedup_members(spark, sf_dir)
    is_batch = (F.col("vec_id") % SEM_BATCH_MOD) == SEM_BATCH_REM
    batch = member.filter(is_batch)
    standing = member.filter(~is_batch)

    def pool(side: DataFrame, prefix: str) -> DataFrame:
        capped = (
            side.withColumn(
                "wrank",
                F.row_number().over(
                    Window.partitionBy("cell").orderBy(
                        F.col("n_chars").desc(), F.col("vec_id").asc()
                    )
                ),
            )
            .filter(F.col("wrank") <= SEMDEDUP_WITNESS_CAP)
            .select(
                F.col("vec_id").alias(f"{prefix}_id"),
                F.col("cell").alias(f"{prefix}_cell"),
                F.col("v").alias(f"{prefix}_v"),
                F.col("n_chars").alias(f"{prefix}_chars"),
            )
        )
        return capped

    def best_witness(wit: DataFrame, prefix: str) -> DataFrame:
        pairs = (
            batch.join(
                wit,
                (F.col("cell") == F.col(f"{prefix}_cell"))
                & (F.col("vec_id") != F.col(f"{prefix}_id")),
            )
            .withColumn("w_cos", cosine(F.col("v"), F.col(f"{prefix}_v")))
            .filter(F.col("w_cos") >= SEMDEDUP_TAU)
            .filter(
                (F.col(f"{prefix}_chars") > F.col("n_chars"))
                | (
                    (F.col(f"{prefix}_chars") == F.col("n_chars"))
                    & (F.col(f"{prefix}_id") < F.col("vec_id"))
                )
            )
        )
        return topk_per_group(
            pairs,
            ["vec_id"],
            [F.col("w_cos").desc(), F.col(f"{prefix}_id").asc()],
            k=1,
        ).select(
            "vec_id",
            F.col(f"{prefix}_id").alias(f"{prefix}_kept_id"),
            F.col("w_cos").alias(f"{prefix}_cos"),
        )

    st = best_witness(pool(standing, "st"), "st")
    bt = best_witness(pool(batch, "bt"), "bt")
    return (
        batch.select("vec_id", "cell", "n_chars")
        .join(st, "vec_id", "left")
        .join(bt, "vec_id", "left")
        .withColumn(
            "admit",
            F.col("st_kept_id").isNull() & F.col("bt_kept_id").isNull(),
        )
    )


def _late_bind_semdedup_increment_oracle() -> None:
    """r10's one driver-red row was THIS oracle OOMing DuckDB's
    allocator: sql_cosine (3 x 64-term dot expansions) was inlined
    three times per witness pool (SELECT, window ORDER BY, WHERE) x 2
    pools — ~21 expansions in one parse tree. Bounded form: ONE dot
    expansion per pool, computed in the innermost projection against
    the shared vnorms CTE; rank filter and tau/quality predicates
    reference the alias. Arithmetic is unchanged (see
    sql_cosine_prenorm)."""
    from .llm_queries import EMB_DIM
    from .registry import REGISTRY
    from .round18_queries import (
        SEMDEDUP_TAU,
        SEMDEDUP_WITNESS_CAP,
        _sql_semdedup_member_cte,
    )
    from ..functions.vectors import sql_cosine_prenorm

    cos_p = sql_cosine_prenorm(
        "ea.embedding", "eb.embedding", "na.nrm", "nb.nrm", EMB_DIM
    )

    def witness_sql(pool_cte: str, prefix: str) -> str:
        return f"""
      SELECT vec_id, {prefix}_kept_id, {prefix}_cos FROM (
        SELECT vec_id, {prefix}_kept_id, {prefix}_cos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY {prefix}_cos DESC,
                                           {prefix}_kept_id ASC) AS rn
        FROM (
          SELECT b.vec_id, w.{prefix}_id AS {prefix}_kept_id,
                 {cos_p} AS {prefix}_cos,
                 w.{prefix}_chars AS w_chars, b.n_chars AS b_chars
          FROM batch b
          JOIN {pool_cte} w ON w.{prefix}_cell = b.cell AND w.{prefix}_id != b.vec_id
          JOIN embeddings ea ON ea.vec_id = b.vec_id
          JOIN embeddings eb ON eb.vec_id = w.{prefix}_id
          JOIN vnorms na ON na.vec_id = b.vec_id
          JOIN vnorms nb ON nb.vec_id = w.{prefix}_id
        )
        WHERE {prefix}_cos >= {SEMDEDUP_TAU}
          AND (w_chars > b_chars
               OR (w_chars = b_chars AND {prefix}_kept_id < vec_id))
      ) WHERE rn = 1
"""

    def pool_sql(src_pred: str, prefix: str) -> str:
        return f"""
      SELECT vec_id AS {prefix}_id, cell AS {prefix}_cell,
             n_chars AS {prefix}_chars FROM (
        SELECT *, row_number() OVER (PARTITION BY cell
                                     ORDER BY n_chars DESC, vec_id ASC) AS wrank
        FROM member WHERE {src_pred}
      ) WHERE wrank <= {SEMDEDUP_WITNESS_CAP}
"""

    REGISTRY["docs_semdedup_increment"].oracle = f"""
    WITH {_sql_semdedup_member_cte()},
    batch AS (
      SELECT * FROM member WHERE vec_id % {SEM_BATCH_MOD} = {SEM_BATCH_REM}
    ),
    st_pool AS ({pool_sql(f"vec_id % {SEM_BATCH_MOD} <> {SEM_BATCH_REM}", "st")}),
    bt_pool AS ({pool_sql(f"vec_id % {SEM_BATCH_MOD} = {SEM_BATCH_REM}", "bt")}),
    st_best AS ({witness_sql("st_pool", "st")}),
    bt_best AS ({witness_sql("bt_pool", "bt")})
    SELECT b.vec_id, b.cell, b.n_chars,
           s.st_kept_id, s.st_cos, t.bt_kept_id, t.bt_cos,
           (s.st_kept_id IS NULL AND t.bt_kept_id IS NULL) AS admit
    FROM batch b
    LEFT JOIN st_best s ON s.vec_id = b.vec_id
    LEFT JOIN bt_best t ON t.vec_id = b.vec_id
"""


_late_bind_semdedup_increment_oracle()


# --------------------------------------------------------------------------
# docs_dedup_consensus: the per-doc survivorship decision table
# --------------------------------------------------------------------------

@register(
    "docs_dedup_consensus",
    oracle=None,  # set below (embeds the stage oracles as subqueries)
    tags=("llm", "dedup", "consensus", "composition"),
)
def docs_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION TABLE a production pipeline materializes: one
    row per doc with the verdict of every dedup family — exact
    (content hash, smallest-id canonical), MinHash near-dup (loser
    side of any verified LSH pair), exact-substring coverage
    (drop_doc at >= 20% duplicated tokens), and semantic (SemDeDup
    dropped set) — plus the consensus keep and a flag count. This is
    the corpus_build pattern applied to dedup: the composed result is
    hash-pinned against the composition of the stage oracles, so a
    drift in ANY family's semantics breaks this lane too.

    Scale: each family keeps its own already-audited plan (bucketed /
    capped / windowed — nothing quadratic enters here); the consensus
    is four left semi/anti-style joins on doc_id, each shuffling only
    the per-family flag sets, which dedup makes SMALLER than the
    corpus by construction."""
    from .registry import REGISTRY

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull()).select("doc_id", "text")
    # exact: smallest doc_id per content hash survives
    canon = F.min("doc_id").over(Window.partitionBy(F.md5("text")))
    exact = d.select(
        "doc_id", (F.col("doc_id") != canon).alias("exact_dup")
    )
    near_losers = (
        REGISTRY["docs_minhash_lsh_pairs"]
        .fn(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    sub = (
        REGISTRY["docs_substring_dedup"]
        .fn(spark, sf_dir)
        .select("doc_id", F.col("drop_doc").alias("substring_drop"))
    )
    sem = (
        REGISTRY["docs_semdedup"]
        .fn(spark, sf_dir)
        .select(F.col("dropped_id").alias("doc_id"))
        .distinct()
        .withColumn("sem_drop", F.lit(True))
    )
    out = (
        exact.join(near_losers, "doc_id", "left")
        .join(sub, "doc_id", "left")
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce("near_dup", F.lit(False)).alias("near_dup"),
            F.coalesce("substring_drop", F.lit(False)).alias("substring_drop"),
            F.coalesce("sem_drop", F.lit(False)).alias("sem_drop"),
        )
    )
    n_flags = (
        F.col("exact_dup").cast("int")
        + F.col("near_dup").cast("int")
        + F.col("substring_drop").cast("int")
        + F.col("sem_drop").cast("int")
    )
    return out.withColumn("n_flags", n_flags.cast("long")).withColumn(
        "keep", F.col("n_flags") == 0
    )


def _late_bind_consensus_oracle() -> None:
    from .registry import REGISTRY

    minhash_sql = REGISTRY["docs_minhash_lsh_pairs"].oracle
    substring_sql = REGISTRY["docs_substring_dedup"].oracle
    semdedup_sql = REGISTRY["docs_semdedup"].oracle
    REGISTRY["docs_dedup_consensus"].oracle = f"""
    WITH exact AS (
      SELECT doc_id,
             (doc_id != MIN(doc_id) OVER (PARTITION BY md5(text))) AS exact_dup
      FROM documents WHERE text IS NOT NULL
    ),
    near_losers AS (
      SELECT DISTINCT doc_b AS doc_id FROM ({minhash_sql})
    ),
    sub AS (
      SELECT doc_id, drop_doc AS substring_drop FROM ({substring_sql})
    ),
    sem AS (
      SELECT DISTINCT dropped_id AS doc_id FROM ({semdedup_sql})
    ),
    flags AS (
      SELECT e.doc_id, e.exact_dup,
             (n.doc_id IS NOT NULL) AS near_dup,
             COALESCE(s.substring_drop, FALSE) AS substring_drop,
             (m.doc_id IS NOT NULL) AS sem_drop
      FROM exact e
      LEFT JOIN near_losers n ON n.doc_id = e.doc_id
      LEFT JOIN sub s ON s.doc_id = e.doc_id
      LEFT JOIN sem m ON m.doc_id = e.doc_id
    )
    SELECT doc_id, exact_dup, near_dup, substring_drop, sem_drop,
           CAST(exact_dup::INT + near_dup::INT + substring_drop::INT
                + sem_drop::INT AS BIGINT) AS n_flags,
           (exact_dup::INT + near_dup::INT + substring_drop::INT
            + sem_drop::INT = 0) AS keep
    FROM flags
"""


_late_bind_consensus_oracle()


# --------------------------------------------------------------------------
# emb_ivf_cell_stats: the cell-balance audit the SemDeDup cap relies on
# --------------------------------------------------------------------------

CELL_OVERLOAD_FACTOR = 4  # overloaded = cell holds > 4x the ideal share


@register(
    "emb_ivf_cell_stats",
    oracle=None,  # set below (reuses the member CTE)
    tags=("llm", "similarity", "audit"),
)
def emb_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-balance audit of the frozen IVF inverted file: per cell,
    member count, corpus share in ppm, the ideal (uniform) share, an
    overload verdict (> 4x ideal — the 'grow k here' signal), and
    whether the cell exceeds the SemDeDup witness cap (the point where
    that lane's pair stage stops being exact). docs_semdedup's cap and
    emb_ann_ivf's probe cost are both claims ABOUT cell width; this
    query makes the width a measured, driver-verified number.

    Scale: rides the cached assignment frame (one aggregate to 16
    rows); totals and verdicts over the bounded cell enum."""
    from .round18_queries import SEMDEDUP_WITNESS_CAP, _semdedup_members

    member = _semdedup_members(spark, sf_dir)
    per = member.groupBy("cell").agg(F.count("*").cast("long").alias("n_vecs"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = per.withColumn("total", F.sum("n_vecs").over(w_all)).withColumn(
        "n_cells", F.count("*").over(w_all)
    )
    return tot.select(
        "cell",
        "n_vecs",
        F.expr("(n_vecs * 1000000) div total").alias("share_ppm"),
        F.expr("total div n_cells").alias("ideal_n"),
        F.expr(
            f"n_vecs > {CELL_OVERLOAD_FACTOR} * (total div n_cells)"
        ).alias("overloaded"),
        (F.col("n_vecs") > SEMDEDUP_WITNESS_CAP).alias("cap_exceeded"),
    )


def _late_bind_cell_stats_oracle() -> None:
    from .registry import REGISTRY
    from .round18_queries import SEMDEDUP_WITNESS_CAP, _sql_semdedup_member_cte

    REGISTRY["emb_ivf_cell_stats"].oracle = f"""
    WITH {_sql_semdedup_member_cte()},
    per AS (
      SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM member GROUP BY cell
    ),
    tot AS (
      SELECT *, CAST(SUM(n_vecs) OVER () AS BIGINT) AS total,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_cells
      FROM per
    )
    SELECT cell, n_vecs,
           (n_vecs * 1000000) // total AS share_ppm,
           total // n_cells AS ideal_n,
           (n_vecs > {CELL_OVERLOAD_FACTOR} * (total // n_cells)) AS overloaded,
           (n_vecs > {SEMDEDUP_WITNESS_CAP}) AS cap_exceeded
    FROM tot
"""


_late_bind_cell_stats_oracle()
