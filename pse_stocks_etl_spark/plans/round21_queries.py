"""Round-21 queries: store-backed incremental corpus admission, the
iterated IVF rebalance, the epoch dataloader plan + resume, DSIR
importance resampling (batch + incremental), the classifier-distilled
build, and the cross-document duplicate-window audit.

`corpus_build_increment` (round20_queries.py) proved the standing+batch
decomposition equals a full rebuild, but its self-contained form
RE-DERIVES the entire standing build inside the query — so its bench
row (7.2s driver / r11) measured standing-state recompute, not the
batch-proportional cost production pays, and "benched" 2.6x SLOWER
than the full rebuild it exists to beat (r11 VERDICT demerit 1).

`corpus_build_increment_store` is the production shape: the standing
build's DECISION TABLES — exact-dedup keepers, survivor pack metadata,
LSH bucket memberships + widths, near-dup verdicts, repetition drops,
benchmark reps, contamination verdicts, and the survivors' shingle
sets — are persisted ONCE per (session, sf_dir) via ParquetTable (the
semdedup_increment convention taken to its conclusion), and the query
admits the day's batch FROM the store. Steady-state cost = parquet
scans of the decision tables + work proportional to the batch; the
oracle is STILL corpus_build's full-rebuild SQL verbatim, so hash
equality keeps proving admission == rebuild.

Reference parity: this is the engine's generalization of the
reference's watermark-driven incremental sync, which reads persisted
state (the synced table's max date per ticker) and fetches/merges only
the delta (reference src/etl/spark_deltalake_sync.py:209-216,296-300)
— here the "persisted state" is the corpus build's decision tables and
the "delta" is the day's crawl batch.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..store.parquet_table import ParquetTable
from . import corpus_queries, round16_queries, round20_queries  # noqa: F401 (register the entries read below)
from .registry import register

# --------------------------------------------------------------------------
# The standing store: decision tables the admission run reads
# --------------------------------------------------------------------------


class _StoreHandle:
    """Working-set cache entry: the seeded store root plus the warm
    admission context — every decision table read back from the store
    and memory-persisted (the long-running admission SERVICE posture:
    standing state stays hot across daily batches, exactly like the
    _shingles_cached / _mv_fact working sets), and the featurized
    batch frame. The LRU calls unpersist() on eviction and releases
    all of it together."""

    def __init__(self, root: str, frames: dict):
        self.root = root
        self.frames = frames

    def unpersist(self) -> None:
        for df in self.frames.values():
            try:
                df.unpersist()
            except Exception:
                pass  # session already stopped — nothing left to free


def _make_store_cache():
    from .llm_queries import register_working_set_cache

    return register_working_set_cache(__name__)


_CORPUS_STORE_CACHE = _make_store_cache()

# Table names inside the store root. Everything the full-rebuild
# pipeline decides about STANDING docs is here; nothing about the
# batch is.
_T_META = "meta"  # (max_id) — the id horizon the batch split derives from
_T_KEEPERS = "keepers"  # (h, doc_id) exact-dedup keeper per content hash
# (doc_id, source, n): survivors minus repetition + contamination drops
# — those two verdicts are FINAL for standing docs (per-doc stats and
# frozen-rep overlaps never revise), so the admission run reads the
# pre-filtered table; only the LSH flag is revisable (bucket flips).
_T_KCAND = "kept_cand"
_T_BK = "bk_st"  # (bk, doc_id) survivor LSH bucket memberships
_T_BWIDTH = "bwidth_st"  # (bk, w_st) bucket widths over ALL standing docs
_T_NEAR = "near_st"  # (doc_id) near-dup drops under standing caps
_T_REPS = "reps_st"  # (h, doc_id) benchmark representatives
_T_SH = "sh_st"  # (doc_id, sh) shingles of survivors + reps
_T_SH_REP = "sh_rep_st"  # (doc_id, sh) rep docs' shingles (contamination index)
_T_SH_ARR = "sh_arr_st"  # (doc_id, sh_arr) survivor shingle SETS as arrays —
# the Jaccard verify joins candidate pairs against these and computes
# |intersection| map-side (array_intersect), replacing the exploded
# equi-join + two groupBys + two size joins of the full-corpus path


def _seed_standing_store(spark: SparkSession, sf_dir: str) -> str:
    """Derive the standing build's decision tables (the exact standing
    frames of round20's corpus_build_increment) and persist each via
    ParquetTable. In production these tables already exist — they are
    the build's output state — so this runs once per (session, sf_dir)
    and the admission query below never re-derives them.

    r12: all per-doc derivations read the session's featurized corpus
    frame (corpus_featurized_cached — ONE tokenize+MinHash pass,
    shared with the full-corpus compositions) instead of re-tokenizing
    the standing slice four times (md5 keepers, token-count metadata,
    shingle explode, repetition re-scan) and re-aggregating MinHash
    signatures; the equivalences are featurize_docs' shared-helper
    contract (tests/test_corpus_queries.py,
    test_round21.test_array_minhash_equals_grouped_form)."""
    from .corpus_queries import (
        BENCH_MOD,
        BENCH_REM,
        CONTAM_MIN_SHARED,
        corpus_featurized_cached,
    )
    from .llm_queries import LSH_BUCKET_CAP, _exact_jaccard

    feat = corpus_featurized_cached(spark, sf_dir)
    tmax = feat.agg(F.max("doc_id").alias("max_id"))
    st = (
        feat.crossJoin(F.broadcast(tmax))
        .filter(~(F.col("doc_id") * 10 > F.col("max_id") * 9))
        .drop("max_id")
        .localCheckpoint(eager=False)  # ~10 consumer lineages below
    )

    # exact dedup: keeper per content hash + survivor pack metadata
    keepers = st.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    st_surv = keepers.select("doc_id")
    surv_meta = st.join(st_surv, "doc_id", "left_semi").select(
        "doc_id", "source", "n"
    )

    # LSH state: memberships over ALL standing docs feed the width
    # accounting (non-survivors still widen buckets, exactly as in the
    # full build); the pair-generation table keeps survivors only.
    sh_all = st.select("doc_id", F.explode("sh_arr").alias("sh"))
    bk_all = st.filter(F.size("sh_arr") > 0).select(
        "doc_id", F.explode("bk_arr").alias("bk")
    )
    bwidth = bk_all.groupBy("bk").agg(F.count("*").alias("w_st"))
    bk_surv = bk_all.join(st_surv, "doc_id", "left_semi")

    # near-dup verdicts under standing caps (the persisted flags)
    over_st = bwidth.filter(F.col("w_st") > LSH_BUCKET_CAP).select("bk")
    st_bk = bk_surv.join(F.broadcast(over_st), "bk", "left_anti")
    x, y = st_bk.alias("x"), st_bk.alias("y")
    st_pairs = (
        x.join(y, (F.col("x.bk") == F.col("y.bk")) & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    near_st = (
        _exact_jaccard(
            None, st_pairs, arrs=st.select("doc_id", "sh_arr")
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )

    # repetition drops (per-doc verdict off the featurized frame)
    rep_st = st.filter(F.col("repetitive")).select("doc_id")

    # benchmark reps + contamination verdicts vs standing reps
    is_bench = (F.col("doc_id") % BENCH_MOD) == BENCH_REM
    reps = (
        st.filter(is_bench)
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    rep_sh = sh_all.join(reps.select("doc_id"), "doc_id", "left_semi").withColumnRenamed(
        "doc_id", "bench_doc_id"
    )
    train_sh = sh_all.filter(~is_bench).join(st_surv, "doc_id", "left_semi")
    cont_st = (
        train_sh.join(F.broadcast(rep_sh), "sh")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
        .select("doc_id")
        .distinct()
    )

    # shingles the admission run needs: Jaccard-verify sides (survivor
    # witnesses + flip members) and contamination (train survivors +
    # rep docs) — survivors ∪ reps covers all of them. The rep docs'
    # shingles are ALSO persisted as their own (small) table: the
    # batch-vs-reps contamination check broadcasts the full rep shingle
    # set, and reading it from a dedicated table beats re-filtering the
    # big survivor table per admission (the contamination index a
    # production build keeps alongside the corpus).
    sh_docs = st_surv.unionByName(reps.select("doc_id")).distinct()
    sh_store = sh_all.join(sh_docs, "doc_id", "left_semi")
    sh_rep = rep_sh.withColumnRenamed("bench_doc_id", "doc_id")
    # the featurized sh_arr IS shingle_array(text) (same expression,
    # featurize_docs) — project it instead of re-tokenizing
    sh_arr_store = st.join(st_surv, "doc_id", "left_semi").select(
        "doc_id", "sh_arr"
    )

    # repetition + contamination drops are final for standing docs —
    # bake them into the kept-candidates table (see _T_KCAND)
    kcand = surv_meta.join(rep_st, "doc_id", "left_anti").join(
        cont_st, "doc_id", "left_anti"
    )

    root = tempfile.mkdtemp(prefix="pse_corpus_store_")
    for name, df in (
        (_T_META, tmax),
        (_T_KEEPERS, keepers),
        (_T_KCAND, kcand),
        (_T_BK, bk_surv),
        (_T_BWIDTH, bwidth),
        (_T_NEAR, near_st),
        (_T_REPS, reps),
        (_T_SH, sh_store),
        (_T_SH_REP, sh_rep),
        (_T_SH_ARR, sh_arr_store),
    ):
        ParquetTable(spark, os.path.join(root, name), df.schema).overwrite(df)
    return root


def _read(spark: SparkSession, root: str, name: str) -> DataFrame:
    # Schema comes from the committed version snapshot, so the empty
    # StructType here is never used.
    return ParquetTable(spark, os.path.join(root, name), T.StructType([])).read()


def _batch_featurized(spark: SparkSession, sf_dir: str, tmax: DataFrame) -> DataFrame:
    """The day's batch with everything per-doc derived in ONE map-side
    projection: content hash, token count, shingle set (array), MinHash
    signature, band buckets (array-form helpers in llm_queries — no
    explode-groupBy shuffle anywhere) and the Gopher repetition verdict.
    This is the admission job's featurized input table; like the
    corpus-wide _shingles_cached working set it is session-persisted
    (and plan-truncated) so repeated admission queries against the same
    dataset never re-tokenize. The projection itself is the shared
    featurize_docs (r12: also the full-corpus compositions' working
    set, corpus_queries.corpus_featurized_cached), applied to the
    batch slice — slice and corpus forms can never drift."""
    from .corpus_queries import featurize_docs
    from .llm_queries import _docs

    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    batch = (
        docs.crossJoin(F.broadcast(tmax))
        .filter(F.col("doc_id") * 10 > F.col("max_id") * 9)
        .select("doc_id", "text", "source")
    )
    return featurize_docs(batch)


# Durable store roots, OUTSIDE the working-set cache: clearing memory
# caches (bench isolation, LRU eviction) must not delete the database —
# a re-seeded context re-READS the existing store tables instead of
# re-deriving the standing build. Keyed per session so a fresh session
# (new tempdir lifecycle) seeds its own store.
_STORE_ROOTS: dict[tuple, str] = {}


def _standing_ctx(spark: SparkSession, sf_dir: str) -> "_StoreHandle":
    from pyspark.storagelevel import StorageLevel

    key = (spark.sparkContext.applicationId, sf_dir)

    def build() -> _StoreHandle:
        root = _STORE_ROOTS.get(key)
        if root is None or not os.path.isdir(os.path.join(root, _T_META)):
            root = _seed_standing_store(spark, sf_dir)
            _STORE_ROOTS[key] = root
        frames = {
            name: _read(spark, root, name).persist(StorageLevel.MEMORY_AND_DISK)
            for name in (
                _T_META,
                _T_KEEPERS,
                _T_KCAND,
                _T_BK,
                _T_BWIDTH,
                _T_NEAR,
                _T_REPS,
                _T_SH,
                _T_SH_REP,
                _T_SH_ARR,
            )
        }
        # EAGER localCheckpoint, not persist: the featurized batch's
        # logical plan is expression-heavy (shingle transform + 12
        # array-form MinHash folds), and a persisted frame still drags
        # that whole tree through Catalyst in EVERY downstream action
        # (measured ~0.5s analysis gaps per probe). Checkpointing
        # truncates the plan to a LogicalRDD once, at seed time.
        frames["bt"] = _batch_featurized(spark, sf_dir, frames[_T_META]).localCheckpoint(
            eager=True
        )
        # the batch's bucket histogram — part of the featurized working
        # set (the _shingles_capped_cached precedent: a cached aggregate
        # of the featurization), consumed by the flip probe every run
        frames["w_b"] = (
            frames["bt"]
            .filter(F.size("sh_arr") > 0)
            .select(F.explode("bk_arr").alias("bk"))
            .groupBy("bk")
            .agg(F.count("*").alias("w_b"))
            .localCheckpoint(eager=True)
        )
        return _StoreHandle(root, frames)

    return _CORPUS_STORE_CACHE.get_or_build(key, build)


# --------------------------------------------------------------------------
# corpus_build_increment_store: admit the batch FROM the store
# --------------------------------------------------------------------------


@register(
    "corpus_build_increment_store",
    oracle=None,  # set below: EXACTLY the full-rebuild corpus_build SQL
    tags=("llm", "pipeline", "incremental", "composition", "store"),
    bench=True,  # the production-shaped admission cost, next to the
    # self-contained corpus_build_increment and the corpus_build rebuild
)
def corpus_build_increment_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-backed incremental corpus assembly: the day's batch (top
    tenth of the id range, round20's convention) is admitted against
    the PERSISTED standing decision tables — what a production
    admission run actually pays — and the emitted layout still
    hash-matches a full rebuild on the union (oracle = corpus_build's
    SQL verbatim, the same equivalence proof as corpus_build_increment,
    round20_queries.py:436).

    Steady state reads ONLY: the store's decision tables — held
    memory-persisted in the session's admission context (_standing_ctx:
    the long-running service posture, standing state hot across daily
    batches, the _shingles_cached convention) — plus the featurized
    batch table (one map-side projection: content hash, token count,
    shingle set, array-form MinHash + band buckets; no explode-groupBy
    shuffle anywhere on the batch path).

    Stage algebra (each a batch-proportional join against a persisted
    table; the standing derivations live in _seed_standing_store):
    * exact: batch hash groups anti-join the keeper table — standing
      side scanned once map-side against the BROADCAST batch hashes
      (matched-then-anti, so the big table never shuffles).
    * LSH: batch widths (w_b) join the persisted standing widths to
      find flipped buckets (w_st <= cap < w_st + w_b — the monotone
      under→over flip set, only batch-touched buckets can qualify);
      standing flags = persisted near verdicts minus flip members; ONE
      candidate-pair join serves both revision and batch admission
      (soundness proof inline), and the Jaccard verify computes
      |shingle-set intersection| MAP-SIDE over the persisted array
      table (array_intersect) — no exploded self-join, no groupBys.
    * repetition: per-doc projection over the batch slice; standing
      verdicts are already baked into the kept-candidates table.
    * contamination: new reps = batch bench hashes unseen in the rep
      table (broadcast matched-then-anti again); the standing corpus
      re-checks ONLY against new reps (P7-skipped when none arrive);
      batch train shingles check against the persisted rep index.
    * packing: pack_from_meta over the persisted kept-candidate
      metadata union batch survivor metadata — standing text never
      enters the plan.

    Scale: at 100 TB the standing tables are exactly what the build
    persists (production never re-derives them); every shuffle in the
    steady state is keyed on batch-proportional sets, the big standing
    tables are only ever scanned map-side against broadcast batch/flip
    frames, and the P7 short-circuits prune whole subtrees in the
    no-flip / no-new-rep steady state a daily crawl usually lands in."""
    from .corpus_queries import BENCH_MOD, BENCH_REM, CONTAM_MIN_SHARED
    from .llm_queries import JACCARD_THRESHOLD, LSH_BUCKET_CAP
    from .round16_queries import pack_from_meta

    ctx = _standing_ctx(spark, sf_dir).frames
    keepers = ctx[_T_KEEPERS]
    kcand = ctx[_T_KCAND]
    bk_st = ctx[_T_BK]
    bwidth_st = ctx[_T_BWIDTH]
    near_st = ctx[_T_NEAR]
    reps_st = ctx[_T_REPS]
    sh_st = ctx[_T_SH]
    sh_arr_st = ctx[_T_SH_ARR]
    bt = ctx["bt"]
    bt_sh = bt.select("doc_id", F.explode("sh_arr").alias("sh"))
    # empty shingle set → no bucket membership (the explode-groupBy
    # form simply emits no signature row for such docs)
    bt_bk = bt.filter(F.size("sh_arr") > 0).select(
        "doc_id", F.explode("bk_arr").alias("bk")
    )

    # -- exact admission: broadcast the batch hashes at the keeper table
    bt_hash = bt.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    matched = keepers.join(F.broadcast(bt_hash.select("h")), "h", "left_semi").select("h")
    bt_surv = (
        bt_hash.join(F.broadcast(matched), "h", "left_anti")
        .select("doc_id")
        .localCheckpoint(eager=False)
    )

    # -- LSH width deltas: only batch-touched buckets can flip
    w_b = ctx["w_b"]
    wj = w_b.join(bwidth_st, "bk", "left").select(
        "bk", F.coalesce(F.col("w_st"), F.lit(0)).alias("w_st"), "w_b"
    )
    flipped = wj.filter(
        (F.col("w_st") <= LSH_BUCKET_CAP)
        & (F.col("w_st") + F.col("w_b") > LSH_BUCKET_CAP)
    ).select("bk").localCheckpoint(eager=False)
    over_st = bwidth_st.filter(F.col("w_st") > LSH_BUCKET_CAP).select("bk")
    over_union = over_st.unionByName(flipped).localCheckpoint(eager=False)

    # -- contamination admission state (probed together with the flip
    # state below, one action)
    is_bench = (F.col("doc_id") % BENCH_MOD) == BENCH_REM
    bt_bench = bt.filter(is_bench).groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    matched_rep = reps_st.join(
        F.broadcast(bt_bench.select("h")), "h", "left_semi"
    ).select("h")
    new_reps = bt_bench.join(F.broadcast(matched_rep), "h", "left_anti").localCheckpoint(
        eager=False
    )

    # P7 short-circuits (the reference's up-to-date check, applied to
    # admission): the common steady state has NO bucket flips (prunes
    # the whole revision branch — flip-member lookup, revision pairs,
    # the near-flag anti-join) and NO unseen benchmark text (prunes
    # the standing re-check). ONE bounded probe job answers both.
    probe = {
        r.what
        for r in flipped.select(F.lit("flip").alias("what"))
        .limit(1)
        .unionByName(new_reps.select(F.lit("rep").alias("what")).limit(1))
        .collect()
    }
    no_flips = "flip" not in probe
    no_new_reps = "rep" not in probe

    # ONE candidate-pair join covers BOTH the revision re-derivation
    # and the batch admission. Witness side x = every union survivor's
    # membership under union caps; loser side y = batch survivors plus
    # (if any buckets flipped) the flip-doc memberships. Soundness of
    # the shared x side: batch ids all exceed standing ids, so a batch
    # witness row can never satisfy doc_a < doc_b against a standing
    # (flip) loser — the predicate prunes exactly the rows the
    # standing-witness-only revision algebra excludes.
    bt_bk_surv = bt_bk.join(bt_surv, "doc_id", "left_semi")
    x_all = bk_st.unionByName(bt_bk_surv).join(
        F.broadcast(over_union), "bk", "left_anti"
    )
    y_bt = bt_bk_surv.join(F.broadcast(over_union), "bk", "left_anti")
    if no_flips:
        flip_docs = None
        y_all = y_bt
    else:
        flip_docs = (
            bk_st.join(F.broadcast(flipped), "bk", "left_semi")
            .select("doc_id")
            .distinct()
            .localCheckpoint(eager=False)
        )
        y_rev = bk_st.join(flip_docs, "doc_id", "left_semi").join(
            F.broadcast(over_union), "bk", "left_anti"
        )
        y_all = y_bt.unionByName(y_rev)

    # no distinct: a pair sharing several buckets appears a few times
    # (≤ bands), which only duplicates rows into the anti-joined flag
    # set — harmless — and skipping the dedup shuffle is cheaper than
    # the ≤4× verify fan-out it avoids
    pairs = (
        x_all.alias("x")
        .join(
            y_all.alias("y"),
            (F.col("x.bk") == F.col("y.bk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )

    # one shared Jaccard verify (rev and batch losers are disjoint by
    # doc_b, so one flag set serves both). The verify is the ARRAY
    # form: candidate pairs join the persisted shingle-set arrays and
    # compute n_common = |array_intersect| MAP-SIDE — bit-identical to
    # _exact_jaccard's exploded equi-join + size joins (per-doc sets
    # are distinct by construction; same n_common*1.0/(n_a+n_b-n_common)
    # IEEE division) with four joins and three aggregations fewer.
    # (an empty pair set needs no probe: AQE's empty-relation
    # propagation collapses the verify joins at runtime)
    arr_all = sh_arr_st.unionByName(bt.select("doc_id", "sh_arr"))
    a = arr_all.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("arr_a"))
    b = arr_all.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("arr_b"))
    n_common = F.size(F.array_intersect("arr_a", "arr_b"))
    jac = n_common * 1.0 / (F.size("arr_a") + F.size("arr_b") - n_common)
    near_new = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(jac >= JACCARD_THRESHOLD)
        .select(F.col("doc_b").alias("doc_id"))
    )

    # -- repetition: batch slice only, pre-computed in the featurized frame
    bt_rep = bt.filter(F.col("repetitive")).select("doc_id")

    # -- contamination: frozen standing reps + unseen-text batch reps
    # (bt_bench / new_reps derived above, next to the probe)
    new_rep_sh = bt_sh.join(
        new_reps.select("doc_id"), "doc_id", "left_semi"
    ).withColumnRenamed("doc_id", "bench_doc_id")
    # the persisted contamination index — rep shingles come from their
    # own small table instead of re-filtering the big survivor table
    st_rep_sh = ctx[_T_SH_REP].withColumnRenamed("doc_id", "bench_doc_id")

    def _cont(train_sh: DataFrame, rep_sh: DataFrame) -> DataFrame:
        # unique (doc_id, bench_doc_id) per group already; the single
        # distinct happens once over the merged drop set below
        return (
            train_sh.join(F.broadcast(rep_sh), "sh")
            .groupBy("doc_id", "bench_doc_id")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
            .select("doc_id")
        )

    # sh_st minus bench docs = train survivors exactly (reps are bench
    # by construction, bench survivors are excluded by the filter)
    bt_train_sh = bt_sh.filter(~is_bench).join(bt_surv, "doc_id", "left_semi")
    if no_new_reps:
        # P7: no unseen benchmark text arrived — the standing corpus
        # needs no re-check (its verdicts vs the frozen rep set are in
        # the store), and the batch checks against the persisted index
        # alone. Skips the standing train-shingle scan entirely.
        cont_new = _cont(bt_train_sh, st_rep_sh)
    else:
        st_train_sh = sh_st.filter(~is_bench)
        cont_new = _cont(st_train_sh, new_rep_sh).unionByName(  # new reps only
            _cont(bt_train_sh, st_rep_sh.unionByName(new_rep_sh))
        )

    # -- final keep set: ONE anti join. Standing candidates (already
    # net of final repetition/contamination verdicts) union batch
    # survivors' metadata, minus the merged drop set — near flags that
    # survive the flip revision, fresh Jaccard flags, fresh
    # contamination, batch repetition. Doc ids are globally unique and
    # an anti join ignores right-side duplicates, so no distinct needed.
    near_st_final = (
        near_st
        if flip_docs is None
        else near_st.join(flip_docs, "doc_id", "left_anti")
    )
    drops = (
        near_st_final.unionByName(near_new)
        .unionByName(cont_new)
        .unionByName(bt_rep)
    )
    bt_meta = bt.join(bt_surv, "doc_id", "left_semi").select("doc_id", "source", "n")
    keep_meta = kcand.unionByName(bt_meta).join(drops, "doc_id", "left_anti")
    return pack_from_meta(keep_meta)


def _late_bind_store_increment_oracle() -> None:
    from .registry import REGISTRY
    from .round16_queries import _sql_corpus_build

    # Same proof as corpus_build_increment: the oracle is the
    # FULL-REBUILD SQL, so hash equality shows store-backed admission
    # lands byte-identically where a rebuild would.
    REGISTRY["corpus_build_increment_store"].oracle = _sql_corpus_build()


_late_bind_store_increment_oracle()


# --------------------------------------------------------------------------
# emb_ivf_split_iterate: overload-split to quiescence (VERDICT r11 item 4)
# --------------------------------------------------------------------------
# emb_ivf_cell_split does ONE binary split per invocation; a real
# rebalancer loops until no cell exceeds its bar (the SemDeDup-paper
# contract: cell count scales with the corpus). This lane unrolls
# ITERATE_ROUNDS split rounds (the emb_kmeans_refine unrolled-oracle
# pattern), each touching ONLY still-hot cells, and terminates early —
# a round whose overload set is empty passes members and centroids
# through unchanged.
#
# The bar is the MAINTENANCE band (n * 2 > 3 * ideal, i.e. 1.5x the
# ideal share), deliberately tighter than emb_ivf_cell_stats' 4x ALARM
# bar: the audit flags emergencies, the maintenance loop keeps the file
# near-uniform — and the registry fixture (max cell ~48-50 vs ideal 31)
# genuinely exercises a round-1 split under it, quiescing in round 2.
# Split cells get STRING keys ("<cell>", then "<cell>.0"/"<cell>.1",
# "<cell>.1.0", ...) because sub-cells have trained (synthetic)
# centroids, not centroid vec_ids — the frozen-IVF id convention stops
# at round 1.

ITERATE_ROUNDS = 2
ITERATE_OVER_NUM = 3  # n * ITERATE_OVER_DEN > ITERATE_OVER_NUM * ideal
ITERATE_OVER_DEN = 2


def _split_round(member: DataFrame, cents: DataFrame):
    """One overload-split round. member: (vec_id, cell, ck, v);
    cents: (ck, cvec). Returns (member', cents') with hot cells split
    in two (furthest-point-seeded one-step Lloyd, the
    ivf_cell_split_frame mechanics generalized to vector-carried
    centroids) and everything else untouched — on a cell-partitioned
    store only hot-cell partitions rewrite (the
    emb_ann_ivfpq_increment hardlink contract)."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine
    from ..operators.dedup import topk_per_group
    from .round20_queries import SPLIT_QUANT  # fixed-point Lloyd-mean quantum

    per = member.groupBy("ck").agg(F.count("*").cast("long").alias("n"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    tot = per.withColumn("total", F.sum("n").over(w_all)).withColumn(
        "k", F.count("*").over(w_all)
    )
    over = tot.filter(
        F.expr(f"n * {ITERATE_OVER_DEN} > {ITERATE_OVER_NUM} * (total div k)")
    ).select("ck")

    hot = member.join(F.broadcast(over), "ck")
    cold = member.join(F.broadcast(over), "ck", "left_anti")
    chot = cents.join(F.broadcast(over), "ck")
    ccold = cents.join(F.broadcast(over), "ck", "left_anti")

    hcos = hot.join(F.broadcast(chot), "ck").select(
        "ck", "vec_id", cosine(F.col("v"), F.col("cvec")).alias("ccos")
    )
    seed1 = (
        topk_per_group(hcos, ["ck"], [F.col("ccos").asc(), F.col("vec_id").asc()], k=1)
        .join(member.select("vec_id", "v"), "vec_id")
        .select("ck", F.col("v").alias("svec"), F.lit(1).alias("sub"))
    )
    seed0 = chot.select("ck", F.col("cvec").alias("svec"), F.lit(0).alias("sub"))
    seeds = seed0.unionByName(seed1)

    def assign(centroids: DataFrame) -> DataFrame:
        scored = hot.join(F.broadcast(centroids), "ck").select(
            "ck",
            "cell",
            "vec_id",
            "v",
            "sub",
            cosine(F.col("v"), F.col("svec")).alias("scos"),
        )
        return topk_per_group(
            scored, ["vec_id"], [F.col("scos").desc(), F.col("sub").asc()], k=1
        ).select("ck", "cell", "vec_id", "v", "sub")

    a1 = assign(seeds)
    longd = a1.select("ck", "sub", F.posexplode("v").alias("dim", "val")).select(
        "ck",
        "sub",
        "dim",
        F.round(F.col("val") * SPLIT_QUANT).cast("long").alias("vq"),
    )
    mean = longd.groupBy("ck", "sub", "dim").agg(
        (F.sum("vq") * 1.0 / F.count("*") / float(SPLIT_QUANT)).alias("val")
    )
    trained = mean.groupBy("ck", "sub").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "val"))),
            lambda s: s["val"],
        ).alias("svec")
    )
    # r13 (§2.4 duplicated subtree): trained feeds BOTH outputs —
    # member' (through the re-assign) and cents' — and the per-round
    # member/cents checkpoints are separate plans, so without its own
    # truncation the whole Lloyd subtree (hot-member cosines, seed
    # argmin, posexplode mean) materialized twice per round (profiled
    # ~1s/round of the cents checkpoint at sf0.001 re-deriving it).
    # The frame is tiny (<= 2 rows per hot cell).
    trained = trained.localCheckpoint(eager=False)
    a2 = assign(trained)

    sub_key = F.concat_ws(".", F.col("ck"), F.col("sub").cast("string"))
    member2 = cold.unionByName(
        a2.select("vec_id", "cell", sub_key.alias("ck"), "v")
    )
    cents2 = ccold.unionByName(trained.select(sub_key.alias("ck"), F.col("svec").alias("cvec")))
    return member2, cents2


def ivf_split_iterate_parts(member: DataFrame, cents: DataFrame, rounds: int):
    """Per-round (member, cents) states — round 0 is the input. Tests
    assert the max-cell-population monotonicity on these."""
    states = [(member, cents)]
    for _ in range(rounds):
        member, cents = _split_round(member, cents)
        # r12: truncate lineage between rounds (the emb_kmeans_refine
        # lesson) — _split_round references its input ~8 times (width
        # audit, hot/cold split, seed join-back, two assigns), so the
        # unrolled plan otherwise grows ~8^rounds copies of every
        # earlier round's subtree (emb_ivf_split_iterate measured 93s
        # at sf0.01 from plan blowup alone; 3.4s checkpointed).
        member = member.localCheckpoint(eager=False)
        cents = cents.localCheckpoint(eager=False)
        states.append((member, cents))
    return states


@register(
    "emb_ivf_split_iterate",
    oracle=None,  # set below (unrolled 2-round chain over the member CTE)
    tags=("llm", "similarity", "index-maintenance", "iterative"),
)
def emb_ivf_split_iterate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterated IVF rebalance: {ITERATE_ROUNDS} unrolled overload-split
    rounds over the frozen 16-cell inverted file, each splitting every
    cell above the maintenance band (1.5x ideal share) and leaving the
    rest untouched, with early quiescence (an empty overload set makes
    the round an exact pass-through). Output: each member's final cell
    key + population.

    Scale: per round, the overload set is a bounded broadcast; seeds
    and trained sub-centroids are ≤2 rows per hot cell, broadcast; the
    Lloyd step and re-assign are two passes over HOT members only. k
    grows by |overloaded| per round, so the file converges toward the
    SemDeDup-paper contract (cells ∝ corpus) without ever rewriting a
    cold cell's partition."""
    from .llm_queries import IVF_CENTROID_IDS, _emb
    from ..functions.vectors import to_double_array
    from .round18_queries import _semdedup_members

    # r12: the round-0 state is checkpointed like every later round's —
    # _split_round references its input ~8 times, so an un-truncated
    # round 0 still re-derived the full cell-assignment subtree (cosine
    # vs all centroids, per vector) eight times inside round 1.
    member = (
        _semdedup_members(spark, sf_dir)
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.col("cell").cast("string").alias("ck"),
            "v",
        )
        .localCheckpoint(eager=False)
    )
    cents = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id").isin(*IVF_CENTROID_IDS))
        .select(
            F.col("vec_id").cast("string").alias("ck"),
            to_double_array(F.col("embedding")).alias("cvec"),
        )
    )
    for _ in range(ITERATE_ROUNDS):
        member, cents = _split_round(member, cents)
        # r12: per-round lineage truncation — see ivf_split_iterate_parts
        member = member.localCheckpoint(eager=False)
        cents = cents.localCheckpoint(eager=False)
    from pyspark.sql import Window

    w = Window.partitionBy("ck")
    return member.select(
        "vec_id",
        "cell",
        F.col("ck").alias("cell_key"),
        F.count("*").over(w).cast("long").alias("n_cell"),
    )


def _sql_iterate_round(i: int, p: str) -> str:
    """One unrolled split round as a CTE block: inputs m{p}/c{p} →
    outputs m{i}/c{i}. Every pair cosine expands its dot ONCE in an
    inner projection (compile-footprint budget: 4 vec-vec dots per
    round — hot-member-vs-centroid, seed assign, trained self-norm,
    trained assign)."""
    from .llm_queries import EMB_DIM
    from .round20_queries import SPLIT_QUANT
    from ..functions.vectors import sql_dot

    dot_cent = sql_dot("e.embedding", "c.cvec", EMB_DIM)
    dot_seed = sql_dot("e.embedding", "s.svec", EMB_DIM)
    dot_self = sql_dot("svec", "svec", EMB_DIM)
    dot_tr = sql_dot("e.embedding", "t.svec", EMB_DIM)
    return f"""
    p{i} AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS n FROM m{p} GROUP BY ck),
    t{i} AS (
      SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS total,
             CAST(COUNT(*) OVER () AS BIGINT) AS k
      FROM p{i}
    ),
    o{i} AS (
      SELECT ck FROM t{i}
      WHERE n * {ITERATE_OVER_DEN} > {ITERATE_OVER_NUM} * (total // k)
    ),
    h{i} AS (
      SELECT m.vec_id, m.cell, m.ck FROM m{p} m JOIN o{i} o ON o.ck = m.ck
    ),
    hc{i} AS (
      SELECT h.vec_id, h.ck,
             round({dot_cent} / (n.nrm * c.cnrm), 6) AS ccos
      FROM h{i} h
      JOIN embeddings e ON e.vec_id = h.vec_id
      JOIN vnorms n ON n.vec_id = h.vec_id
      JOIN c{p} c ON c.ck = h.ck
    ),
    sd{i} AS (
      SELECT c.ck, 0 AS sub, c.cvec AS svec, c.cnrm AS snrm
      FROM c{p} c JOIN o{i} o ON o.ck = c.ck
      UNION ALL
      SELECT x.ck, 1, e.embedding::DOUBLE[] AS svec, nn.nrm
      FROM (
        SELECT ck, vec_id,
               row_number() OVER (PARTITION BY ck
                                  ORDER BY ccos ASC, vec_id ASC) AS rn
        FROM hc{i}
      ) x
      JOIN embeddings e ON e.vec_id = x.vec_id
      JOIN vnorms nn ON nn.vec_id = x.vec_id
      WHERE x.rn = 1
    ),
    a{i}1 AS (
      SELECT ck, cell, vec_id, sub FROM (
        SELECT ck, cell, vec_id, sub,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY scos DESC, sub ASC) AS rn
        FROM (
          SELECT h.ck, h.cell, h.vec_id, s.sub,
                 round({dot_seed} / (ne.nrm * s.snrm), 6) AS scos
          FROM h{i} h
          JOIN sd{i} s ON s.ck = h.ck
          JOIN embeddings e ON e.vec_id = h.vec_id
          JOIN vnorms ne ON ne.vec_id = h.vec_id
        )
      ) WHERE rn = 1
    ),
    mm{i} AS (
      SELECT a.ck, a.sub, u.dim,
             SUM(u.vq) * 1.0 / COUNT(*) / {SPLIT_QUANT}.0 AS val
      FROM a{i}1 a JOIN u ON u.vec_id = a.vec_id
      GROUP BY a.ck, a.sub, u.dim
    ),
    tr{i} AS (
      SELECT ck, sub, list(val ORDER BY dim) AS svec FROM mm{i}
      GROUP BY ck, sub
    ),
    tn{i} AS (
      SELECT ck, sub, svec, sqrt({dot_self}) AS snrm FROM tr{i}
    ),
    a{i}2 AS (
      SELECT ck, cell, vec_id, sub FROM (
        SELECT ck, cell, vec_id, sub,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY scos DESC, sub ASC) AS rn
        FROM (
          SELECT h.ck, h.cell, h.vec_id, t.sub,
                 round({dot_tr} / (ne.nrm * t.snrm), 6) AS scos
          FROM h{i} h
          JOIN tn{i} t ON t.ck = h.ck
          JOIN embeddings e ON e.vec_id = h.vec_id
          JOIN vnorms ne ON ne.vec_id = h.vec_id
        )
      ) WHERE rn = 1
    ),
    m{i} AS (
      SELECT m.vec_id, m.cell, m.ck FROM m{p} m
      WHERE m.ck NOT IN (SELECT ck FROM o{i})
      UNION ALL
      SELECT a.vec_id, a.cell,
             a.ck || '.' || CAST(a.sub AS VARCHAR) AS ck
      FROM a{i}2 a
    ),
    c{i} AS (
      SELECT c.ck, c.cvec, c.cnrm FROM c{p} c
      WHERE c.ck NOT IN (SELECT ck FROM o{i})
      UNION ALL
      SELECT ck || '.' || CAST(sub AS VARCHAR) AS ck, svec AS cvec,
             snrm AS cnrm
      FROM tn{i}
    )"""


def _late_bind_split_iterate_oracle() -> None:
    from .registry import REGISTRY
    from .round18_queries import _sql_semdedup_member_cte
    from .round20_queries import SPLIT_QUANT

    REGISTRY["emb_ivf_split_iterate"].oracle = f"""
    WITH {_sql_semdedup_member_cte()},
    m0 AS (SELECT vec_id, cell, CAST(cell AS VARCHAR) AS ck FROM member),
    c0 AS (
      SELECT CAST(cid AS VARCHAR) AS ck, cvec::DOUBLE[] AS cvec, cnrm
      FROM cents
    ),
    u AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(unnest(embedding::DOUBLE[]) * {SPLIT_QUANT}) AS BIGINT) AS vq
      FROM embeddings
    ),{_sql_iterate_round(1, "0")},{_sql_iterate_round(2, "1")}
    SELECT m.vec_id, CAST(m.cell AS BIGINT) AS cell, m.ck AS cell_key,
           CAST(COUNT(*) OVER (PARTITION BY m.ck) AS BIGINT) AS n_cell
    FROM m2 m
"""


_late_bind_split_iterate_oracle()


# --------------------------------------------------------------------------
# corpus_epoch_plan: the dataloader's cursor sequence (VERDICT r11 item 5)
# --------------------------------------------------------------------------


@register(
    "corpus_epoch_plan",
    oracle=None,  # set below (composes manifest + shuffle + cap oracles)
    tags=("llm", "corpus", "data-order", "mixture", "composition"),
)
def corpus_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training data-order manifest: compose
    docs_epoch_cap_redistribute (HOW MANY tokens each source
    contributes — the data-constrained water-fill) with
    corpus_epoch_shuffle (WHAT ORDER the train chunks stream in) into
    the artifact a dataloader actually consumes: per epoch, the train
    chunks in shuffle order, each with the token count actually DRAWN
    from it (full, the partial cap-boundary draw, or 0 once its
    source's allocation is exhausted) and its cursor position among
    admitted chunks.

    Consumption rule (deterministic, resumable): chunks consume their
    source's allocation in (epoch, shuffle_pos) order; a chunk takes
    min(its tokens, remaining allocation) — so per source,
    Σ take_tokens == min(alloc_tokens, available) exactly (the
    conservation law tests/test_round21.py pins) and no draw ever
    crosses the cap.

    Scale: pure metadata like its two inputs — the manifest's chunk
    rows × epochs, one keyed join against the bounded source-enum
    allocation (broadcast), one per-source running window, one
    per-epoch admitted-counter window. The text never moves."""
    from .registry import REGISTRY
    from pyspark.sql import Window

    shuffle = (
        REGISTRY["corpus_epoch_shuffle"].fn(spark, sf_dir).filter(F.col("split") == "train")
    )
    chunks = (
        REGISTRY["corpus_shard_manifest"]
        .fn(spark, sf_dir)
        .filter(F.col("split") == "train")
        .select("source", "chunk_no", F.col("n_tokens").alias("chunk_tokens"))
    )
    alloc = (
        REGISTRY["docs_epoch_cap_redistribute"]
        .fn(spark, sf_dir)
        .select("source", "alloc_tokens")
    )
    seq = shuffle.join(
        chunks,
        shuffle["source"].eqNullSafe(chunks["source"])
        & (shuffle["chunk_no"] == chunks["chunk_no"]),
    ).select(
        "epoch",
        shuffle["source"].alias("source"),
        shuffle["chunk_no"].alias("chunk_no"),
        "shuffle_pos",
        "chunk_tokens",
    ).join(
        F.broadcast(alloc).withColumnRenamed("source", "a_source"),
        F.col("source").eqNullSafe(F.col("a_source")),
        "left",
    )
    w_src = Window.partitionBy("source").orderBy("epoch", "shuffle_pos")
    run = seq.withColumn("run", F.sum("chunk_tokens").over(w_src))
    take = F.greatest(
        F.lit(0).cast("long"),
        F.least(
            F.col("chunk_tokens"),
            F.coalesce(F.col("alloc_tokens"), F.lit(0)) - (F.col("run") - F.col("chunk_tokens")),
        ),
    )
    f = run.withColumn("take_tokens", take.cast("long"))
    w_ep = Window.partitionBy("epoch").orderBy("shuffle_pos")
    cursor = F.when(
        F.col("take_tokens") > 0,
        F.sum(F.when(F.col("take_tokens") > 0, 1).otherwise(0)).over(w_ep),
    ).cast("long")
    return f.select(
        "epoch",
        "source",
        "chunk_no",
        "shuffle_pos",
        F.col("chunk_tokens").cast("long").alias("chunk_tokens"),
        "take_tokens",
        cursor.alias("cursor_pos"),
    )


def _late_bind_epoch_plan_oracle() -> None:
    from .registry import REGISTRY

    shuffle = REGISTRY["corpus_epoch_shuffle"].oracle
    manifest = REGISTRY["corpus_shard_manifest"].oracle
    cap = REGISTRY["docs_epoch_cap_redistribute"].oracle
    REGISTRY["corpus_epoch_plan"].oracle = f"""
    WITH s AS (SELECT * FROM ({shuffle}) WHERE split = 'train'),
    tr AS (
      SELECT source, chunk_no, n_tokens FROM ({manifest}) WHERE split = 'train'
    ),
    a AS (SELECT source, alloc_tokens FROM ({cap})),
    seq AS (
      SELECT s.epoch, s.source, s.chunk_no, s.shuffle_pos,
             t.n_tokens AS chunk_tokens, a.alloc_tokens
      FROM s
      JOIN tr t ON t.source IS NOT DISTINCT FROM s.source
               AND t.chunk_no = s.chunk_no
      LEFT JOIN a ON a.source IS NOT DISTINCT FROM s.source
    ),
    r AS (
      SELECT *, SUM(chunk_tokens) OVER (PARTITION BY source
                                        ORDER BY epoch, shuffle_pos) AS run
      FROM seq
    ),
    f AS (
      SELECT *,
             CAST(GREATEST(0, LEAST(chunk_tokens,
                  COALESCE(alloc_tokens, 0) - (run - chunk_tokens)))
                  AS BIGINT) AS take_tokens
      FROM r
    )
    SELECT epoch, source, chunk_no, shuffle_pos,
           CAST(chunk_tokens AS BIGINT) AS chunk_tokens, take_tokens,
           CASE WHEN take_tokens > 0 THEN
             CAST(SUM(CASE WHEN take_tokens > 0 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY epoch ORDER BY shuffle_pos) AS BIGINT)
           END AS cursor_pos
    FROM f
"""


_late_bind_epoch_plan_oracle()


# --------------------------------------------------------------------------
# DSIR-style importance resampling (hashed n-gram importance weights)
# --------------------------------------------------------------------------
# Data Selection via Importance Resampling (Xie et al., 2023): score
# every raw document by how much more likely its hashed n-gram bag is
# under a TARGET distribution than under the raw-corpus distribution,
# then sample with probability proportional to that importance weight.
# The target here is the corpus's curated slice (DSIR_TARGET_SOURCES —
# the paper's "formal text" role); features are hashed unigram buckets.
#
# Integer-exactness: the paper's log-likelihood-ratio sum is libm
# territory (breaks cross-engine value hashing), so the score is the
# k-weighted ARITHMETIC mean of per-bucket probability ratios in ppm
# fixed point — the docs_bigram_lm_score convention: a related integer
# proxy with the same qualitative ranking boundary as the log-sum, NOT
# a monotone transform of it (the mean of ratios orders extreme docs
# the same way the sum of logs does, but can disagree in the middle).

DSIR_BUCKETS = 4096  # hashed feature space (paper: 10k buckets)
DSIR_TARGET_SOURCES = ("src0", "src1")  # the curated target slice
DSIR_ACCEPT_DIV = 2  # acceptance_ppm = score_ppm / 2, capped at 1e6


def dsir_scored(docs: DataFrame, target_sources=DSIR_TARGET_SOURCES) -> DataFrame:
    """Per-doc DSIR importance score over any (doc_id, source, text)
    frame (factored out so tests can feed engineered corpora).

    Two passes, exactly the two DSIR itself requires: (1) FIT — one
    tokenize + hash scan aggregated to a <=DSIR_BUCKETS-row weight
    table (shuffle keyed on the bucket id, map-side combined; the
    totals ride an unpartitioned window over the BOUNDED bucket frame,
    the documented mixture-lane pass); (2) SCORE — re-tokenize and
    join the BROADCAST weight table map-side, then one groupBy(doc).
    At 100 TB production would fit pass (1) on a sample of raw (the
    paper does); the plan is unchanged, only the fit input shrinks.

    Laplace +1 smoothing keeps unseen buckets finite on both sides;
    weight_ppm = ((ct+1)/(T+B)) / ((cr+1)/(R+B)) in ppm via two exact
    integer divisions + the overflow-split _muldiv. Headroom: the
    intermediate products stay in int64 while token totals are under
    ~9.2e12 per side — the same documented class as the bigram lane."""
    occ = _dsir_occ(docs, target_sources)
    return dsir_score_against(occ, dsir_weight_table(occ))


def _dsir_occ(docs: DataFrame, target_sources=DSIR_TARGET_SOURCES) -> DataFrame:
    """(doc_id, is_target, g, k): hashed-bucket occurrence counts —
    the shared substrate of the fit and score passes."""
    from ..functions.text import portable_hash64, tokens

    d = docs.filter(F.col("text").isNotNull())
    return (
        d.select(
            "doc_id",
            F.coalesce(
                F.col("source").isin(*target_sources), F.lit(False)
            ).alias("is_target"),
            F.explode(tokens(F.col("text"))).alias("w"),
        )
        .select(
            "doc_id",
            "is_target",
            (
                portable_hash64(F.concat(F.lit("dsir|"), F.col("w")))
                % DSIR_BUCKETS
            ).alias("g"),
        )
        .groupBy("doc_id", "is_target", "g")
        .agg(F.count("*").cast("long").alias("k"))
    )


def dsir_weight_table(occ: DataFrame) -> DataFrame:
    """FIT: the <=DSIR_BUCKETS-row (g, weight_ppm) table from an
    occurrence frame."""
    from pyspark.sql import Window

    from .round18_queries import PPM, _muldiv

    cnt = occ.groupBy("g").agg(
        F.sum(F.when(F.col("is_target"), F.col("k")).otherwise(F.lit(0)))
        .cast("long")
        .alias("ct"),
        F.sum(F.when(~F.col("is_target"), F.col("k")).otherwise(F.lit(0)))
        .cast("long")
        .alias("cr"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        cnt.withColumn("t_tot", F.sum("ct").over(w_all))
        .withColumn("r_tot", F.sum("cr").over(w_all))
        .withColumn("ratio1", F.expr(f"((ct + 1) * {PPM}) div (cr + 1)"))
        .withColumn(
            "scale1",
            F.expr(
                f"((r_tot + {DSIR_BUCKETS}) * {PPM}) div (t_tot + {DSIR_BUCKETS})"
            ),
        )
        .withColumn("weight_ppm", F.expr(_muldiv("ratio1", "scale1", PPM, "div")))
        .select("g", "weight_ppm")
    )


def dsir_score_against(occ: DataFrame, wt: DataFrame) -> DataFrame:
    """SCORE: per-doc ratio-mean score of an occurrence frame under a
    (broadcast) weight table. Buckets absent from the table score as
    the neutral smoothed floor would: the left join coalesces a
    missing weight to 0, which UNDER-ranks genuinely unseen
    vocabulary — the conservative direction for admission."""
    return (
        occ.join(F.broadcast(wt), "g", "left")
        .withColumn("weight_ppm", F.coalesce(F.col("weight_ppm"), F.lit(0)))
        .groupBy("doc_id", "is_target")
        .agg(
            F.sum("k").cast("long").alias("n_toks"),
            F.sum(F.col("k") * F.col("weight_ppm")).cast("long").alias("sum_w_micro"),
        )
        .withColumn("score_ppm", F.expr("sum_w_micro div n_toks"))
    )


def _sql_dsir_cte(target_sources=DSIR_TARGET_SOURCES) -> str:
    """Oracle CTE chain ending in `dscore(doc_id, is_target, n_toks,
    sum_w_micro, score_ppm)` — token-identical arithmetic to
    dsir_scored."""
    from ..functions.text import sql_portable_hash64
    from .round8_queries import _SQL_TOKS
    from .round18_queries import PPM, _muldiv

    srcs = ", ".join(f"'{s}'" for s in target_sources)
    g = sql_portable_hash64("'dsir|' || w")
    return f"""
    dtoks AS (
      SELECT doc_id, COALESCE(source IN ({srcs}), FALSE) AS is_target,
             unnest({_SQL_TOKS}) AS w
      FROM documents WHERE text IS NOT NULL
    ),
    docc AS (
      SELECT doc_id, is_target, ({g}) % {DSIR_BUCKETS} AS g,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM dtoks GROUP BY 1, 2, 3
    ),
    dcnt AS (
      SELECT g,
             CAST(SUM(CASE WHEN is_target THEN k ELSE 0 END) AS BIGINT) AS ct,
             CAST(SUM(CASE WHEN NOT is_target THEN k ELSE 0 END) AS BIGINT) AS cr
      FROM docc GROUP BY g
    ),
    dtot AS (
      SELECT *, CAST(SUM(ct) OVER () AS BIGINT) AS t_tot,
             CAST(SUM(cr) OVER () AS BIGINT) AS r_tot
      FROM dcnt
    ),
    dwt AS (
      SELECT g,
             ((ct + 1) * {PPM}) // (cr + 1) AS ratio1,
             ((r_tot + {DSIR_BUCKETS}) * {PPM}) // (t_tot + {DSIR_BUCKETS}) AS scale1
      FROM dtot
    ),
    dwt2 AS (
      SELECT g, {_muldiv("ratio1", "scale1", PPM, "//")} AS weight_ppm FROM dwt
    ),
    dscore AS (
      SELECT o.doc_id, o.is_target,
             CAST(SUM(o.k) AS BIGINT) AS n_toks,
             CAST(SUM(o.k * w.weight_ppm) AS BIGINT) AS sum_w_micro,
             (CAST(SUM(o.k * w.weight_ppm) AS BIGINT)
              // CAST(SUM(o.k) AS BIGINT)) AS score_ppm
      FROM docc o JOIN dwt2 w ON o.g = w.g
      GROUP BY o.doc_id, o.is_target
    )"""


from .round18_queries import PPM as _PPM  # noqa: E402 (oracle literals)
from ..functions.text import sql_portable_hash64 as _sql_h64  # noqa: E402


@register(
    "docs_dsir_weights",
    oracle=f"""
    WITH {_sql_dsir_cte()}
    SELECT doc_id, is_target, n_toks, sum_w_micro, score_ppm FROM dscore
""",
    tags=("llm", "selection", "dsir"),
)
def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights over the corpus: per doc the hashed-
    unigram importance score of its bag under target-vs-raw bucket
    models (see dsir_scored for the fit/score shape and the integer
    ratio-mean proxy note). The curated slice itself is scored too
    (is_target = TRUE) — its scores sit high by construction and act
    as the lane's self-diagnostic."""
    from .llm_queries import _docs

    return dsir_scored(_docs(spark, sf_dir))


@register(
    "docs_dsir_select",
    oracle=f"""
    WITH {_sql_dsir_cte()}
    SELECT doc_id, score_ppm, accept_ppm, hash_ppm,
           (hash_ppm < accept_ppm) AS keep
    FROM (
      SELECT doc_id, score_ppm,
             LEAST({_PPM}, score_ppm // {DSIR_ACCEPT_DIV}) AS accept_ppm,
             ({_sql_h64("'dsirsel|' || CAST(doc_id AS VARCHAR)")}) % {_PPM} AS hash_ppm
      FROM dscore
    )
""",
    tags=("llm", "selection", "dsir", "sampling"),
)
def docs_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance RESAMPLING on the DSIR weights: deterministic
    per-doc Bernoulli admission with acceptance probability
    proportional to the importance score (accept_ppm = score_ppm /
    2, capped at 1) — the docs_temperature_sample coin convention
    (the doc's own hash, not RNG state), so re-runs admit the same
    docs and a preempted selection resumes for free.

    The proportionality constant is FIXED (a tuning parameter), not a
    per-run max-normalization: a global max over per-doc scores would
    be one more full-corpus aggregate and would make yesterday's
    admission decisions depend on today's corpus — the fixed scale
    keeps selection a map-side filter over the scored frame at 100 TB
    and keeps admission monotone under corpus growth."""
    from ..functions.text import portable_hash64
    from .llm_queries import _docs
    from .round18_queries import PPM

    s = dsir_scored(_docs(spark, sf_dir))
    hash_ppm = (
        portable_hash64(
            F.concat(F.lit("dsirsel|"), F.col("doc_id").cast("string"))
        )
        % PPM
    )
    return (
        s.select(
            "doc_id",
            "score_ppm",
            F.least(
                F.lit(PPM).cast("long"),
                F.expr(f"score_ppm div {DSIR_ACCEPT_DIV}"),
            ).alias("accept_ppm"),
            hash_ppm.alias("hash_ppm"),
        )
        .withColumn("keep", F.col("hash_ppm") < F.col("accept_ppm"))
    )


# --------------------------------------------------------------------------
# corpus_build_quality: classifier-distilled corpus assembly
# --------------------------------------------------------------------------


@register(
    "corpus_build_quality",
    oracle=None,  # set below (ANDs the classifier gate into the build SQL)
    tags=("llm", "pipeline", "quality-classifier", "composition", "packing"),
)
def corpus_build_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-gated corpus assembly: the end-to-end build
    (corpus_build, round16_queries.py:477) with the TRAINED quality
    classifier composed into the admission gate — a doc packs iff the
    cleaning pipeline keeps it AND the classifier serving pass
    (docs_quality_train_score) predicts keep. This is the
    high-precision intersection corpus a production curation stack
    ships when a cheap learned filter runs beside the rule pipeline;
    the packing arithmetic is pack_layout, shared verbatim with
    corpus_build and both incremental builds, so the two corpora can
    never pack differently.

    Scale: the pipeline verdict is derived ONCE and reused as both the
    training labels and the admission gate — the two consumers share
    one lineage object, so their canonicalized subplans are identical
    and Spark's ReusedExchange pays the pipeline once per action
    (composing the registered score query instead re-derives the
    pipeline in a fresh lineage per consumer: measured 18.7s vs this
    plan's one-pipeline cost at sf0.1 ×1). The classifier side is the
    bounded-grid weight table (broadcast) + a per-doc margin sum; the
    feature frame is likewise one shared lineage across XtX/Xty/
    serving; packing stays the (split, source)-partitioned window."""
    from .registry import REGISTRY
    from .round16_queries import pack_layout
    from .round20_queries import _qtrain_feat, _qtrain_weights
    from .llm_queries import _docs

    pk = (
        REGISTRY["docs_pipeline_keep"]
        .fn(spark, sf_dir)
        .select("doc_id", "keep")
        .localCheckpoint(eager=False)  # pipeline verdict paid once
    )
    labels = pk.select("doc_id", (F.col("keep").cast("int") * 2 - 1).alias("y"))
    feat = _qtrain_feat(spark, sf_dir).localCheckpoint(eager=False)
    w = _qtrain_weights(feat, labels).select("bucket", "w_scaled")
    margins = (
        feat.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("w_scaled").cast("long").alias("margin"))
    )
    kept = (
        pk.filter(F.col("keep"))
        .select("doc_id")
        .join(margins.filter(F.col("margin") > 0).select("doc_id"), "doc_id")
    )
    return pack_layout(_docs(spark, sf_dir), kept)


def _late_bind_build_quality_oracle() -> None:
    from .corpus_queries import PACK_CAPACITY
    from .llm_queries import SPLIT_TEST_PCT, SPLIT_VAL_PCT
    from .registry import REGISTRY
    from ..functions.text import sql_portable_hash64, sql_token_count

    keep = REGISTRY["docs_pipeline_keep"].oracle
    score = REGISTRY["docs_quality_train_score"].oracle
    h = sql_portable_hash64("'split:' || CAST(d.doc_id AS VARCHAR)")
    REGISTRY["corpus_build_quality"].oracle = f"""
    WITH kept AS (
      SELECT k.doc_id FROM ({keep}) k
      JOIN ({score}) s ON s.doc_id = k.doc_id
      WHERE k.keep AND s.pred_keep
    ),
    sdocs AS (
      SELECT d.doc_id, d.source,
             CASE WHEN ({h}) % 100 < {SPLIT_TEST_PCT} THEN 'test'
                  WHEN ({h}) % 100 < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
                  ELSE 'train' END AS split,
             {sql_token_count('d.text')} AS n
      FROM documents d JOIN kept k ON d.doc_id = k.doc_id
    ),
    c AS (
      SELECT doc_id, source, split, n,
             CAST(SUM(n) OVER (PARTITION BY split, source ORDER BY doc_id)
                  AS BIGINT) AS cum
      FROM sdocs
    )
    SELECT doc_id, source, split, CAST(n AS BIGINT) AS n_tokens,
           (cum - n) AS start_off,
           ((cum - n) // {PACK_CAPACITY}) AS first_chunk,
           ((cum - 1) // {PACK_CAPACITY}) AS last_chunk
    FROM c
"""


_late_bind_build_quality_oracle()


# --------------------------------------------------------------------------
# corpus_resume_cursor: dataloader resume from a checkpoint position
# --------------------------------------------------------------------------

RESUME_EPOCH = 1
RESUME_CURSOR = 3  # the dataloader died after drawing cursor 3 of epoch 1


@register(
    "corpus_resume_cursor",
    oracle=None,  # set below (filters the corpus_epoch_plan oracle)
    tags=("llm", "corpus", "data-order", "resume"),
)
def corpus_resume_cursor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataloader RESUME: the remaining draw stream after a checkpoint
    (epoch {RESUME_EPOCH}, cursor {RESUME_CURSOR}) — every admitted
    chunk strictly past the checkpoint in (epoch, cursor) order. This
    is corpus_epoch_plan's resumability claim made executable: because
    position is a pure function of the manifest (no RNG state), resume
    is a FILTER over the re-derived plan, and the property test pins
    resume == full admitted stream minus the consumed prefix.

    Scale: the plan's own audited shape plus one map-side predicate —
    nothing new shuffles."""
    from .registry import REGISTRY

    plan = REGISTRY["corpus_epoch_plan"].fn(spark, sf_dir)
    return (
        plan.filter(F.col("take_tokens") > 0)
        .filter(
            (F.col("epoch") > RESUME_EPOCH)
            | (
                (F.col("epoch") == RESUME_EPOCH)
                & (F.col("cursor_pos") > RESUME_CURSOR)
            )
        )
        .select(
            "epoch", "source", "chunk_no", "shuffle_pos", "take_tokens", "cursor_pos"
        )
    )


def _late_bind_resume_oracle() -> None:
    from .registry import REGISTRY

    plan = REGISTRY["corpus_epoch_plan"].oracle
    REGISTRY["corpus_resume_cursor"].oracle = f"""
    SELECT epoch, source, chunk_no, shuffle_pos, take_tokens, cursor_pos
    FROM ({plan})
    WHERE take_tokens > 0
      AND (epoch > {RESUME_EPOCH}
           OR (epoch = {RESUME_EPOCH} AND cursor_pos > {RESUME_CURSOR}))
"""


_late_bind_resume_oracle()


# --------------------------------------------------------------------------
# docs_crossdoc_dup_rate: cross-document repeated-window rate
# --------------------------------------------------------------------------
# docs_substring_dedup (round17) counts ANY second occurrence of an
# L-token window — including repeats WITHIN one document, the removable
# class. This lane measures the complementary memorization-risk signal
# (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better", §5): windows that appear in MORE THAN ONE document. A
# boilerplate header repeated across 10k pages is a cross-doc dup; a
# chorus repeated inside one song is not — and only the former is the
# train/test-leak + verbatim-memorization hazard.


@register(
    "docs_crossdoc_dup_rate",
    oracle=None,  # set below (module constants)
    tags=("llm", "dedup-substring", "memorization", "audit"),
)
def docs_crossdoc_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: how many of its L-token windows ({SUB_L} tokens, the
    substring-dedup L) also occur in at least one OTHER document, the
    rate in ppm, and a flag at >=20% cross-doc coverage.

    Shape: the stride-1 window stream is |tokens| rows of 8-byte
    hashes (the docs_substring_dedup budget). The distinct-document
    count per window hash rides TWO keyed windows on one lineage — a
    row_number over (w, doc_id) marks each doc's first occurrence,
    then a sum of those marks over (w) is the distinct-doc count —
    instead of a distinct+groupBy+join-back, which would re-shuffle
    the stream twice and re-scan the corpus for the join. Per-doc
    rollup and the left join ride doc_id. No all-pairs stage — linear
    at 100 TB like its round17 sibling."""
    from pyspark.sql import Window

    from ..functions.text import portable_hash64, tokens
    from .llm_queries import _docs
    from .round8_queries import _grams_all
    from .round17_queries import SUB_L
    from .round18_queries import PPM

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toked = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    wins = toked.select(
        "doc_id",
        F.posexplode(_grams_all(F.col("tk"), SUB_L, 1)).alias("pos", "g"),
    ).select("doc_id", "pos", portable_hash64(F.col("g")).alias("w"))
    first_in_doc = (
        F.row_number().over(Window.partitionBy("w", "doc_id").orderBy("pos")) == 1
    ).cast("int")
    flagged = wins.select(
        "doc_id", "pos", first_in_doc.alias("fid"), "w"
    ).withColumn("n_docs", F.sum("fid").over(Window.partitionBy("w")))
    perdoc = (
        flagged.filter(F.col("n_docs") > 1)
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_cross_windows"))
    )
    base = toked.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tokens"),
        F.greatest(F.size("tk") - (SUB_L - 1), F.lit(0))
        .cast("long")
        .alias("n_windows"),
    )
    j = base.join(perdoc, "doc_id", "left")
    ncw = F.coalesce(F.col("n_cross_windows"), F.lit(0).cast("long"))
    return j.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        ncw.alias("n_cross_windows"),
        F.when(F.col("n_windows") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr(f"(coalesce(n_cross_windows, 0) * {PPM}) div n_windows"))
        .alias("cross_ppm"),
        (5 * ncw >= F.col("n_windows")).alias("flag_doc"),
    )


def _late_bind_crossdoc_oracle() -> None:
    from ..functions.text import sql_portable_hash64
    from .registry import REGISTRY
    from .round8_queries import _SQL_TOKS
    from .round17_queries import SUB_L
    from .round18_queries import PPM

    REGISTRY["docs_crossdoc_dup_rate"].oracle = f"""
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
    firsts AS (
      SELECT doc_id, pos, w,
             CASE WHEN row_number() OVER (PARTITION BY w, doc_id ORDER BY pos) = 1
                  THEN 1 ELSE 0 END AS fid
      FROM wins
    ),
    flagged AS (
      SELECT doc_id, pos, SUM(fid) OVER (PARTITION BY w) AS n_docs
      FROM firsts
    ),
    perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_cross_windows
      FROM flagged WHERE n_docs > 1 GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.tk) AS BIGINT) AS n_tokens,
           CAST(greatest(len(t.tk) - {SUB_L - 1}, 0) AS BIGINT) AS n_windows,
           COALESCE(p.n_cross_windows, 0) AS n_cross_windows,
           CASE WHEN greatest(len(t.tk) - {SUB_L - 1}, 0) = 0 THEN CAST(0 AS BIGINT)
                ELSE (COALESCE(p.n_cross_windows, 0) * {PPM})
                     // greatest(len(t.tk) - {SUB_L - 1}, 0) END AS cross_ppm,
           (5 * COALESCE(p.n_cross_windows, 0)
              >= greatest(len(t.tk) - {SUB_L - 1}, 0)) AS flag_doc
    FROM toks t LEFT JOIN perdoc p USING (doc_id)
"""


_late_bind_crossdoc_oracle()


# --------------------------------------------------------------------------
# docs_dsir_increment: batch admission under the FROZEN standing weights
# --------------------------------------------------------------------------


@register(
    "docs_dsir_increment",
    oracle=None,  # set below (standing-fit / batch-score CTE split)
    tags=("llm", "selection", "dsir", "incremental"),
)
def docs_dsir_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DSIR admission: the day's crawl batch (top tenth of
    the id range — the corpus_build_increment convention) is scored
    and hash-thinned under the weight table fitted on STANDING docs
    only. This is the production posture: the bucket models are
    refreshed on a cadence, not per batch, so admission decisions are
    (a) cheap — the batch pays one tokenize + one broadcast join, the
    standing corpus is only scanned when the weights refresh — and
    (b) stable — yesterday's keep cannot flip because today's batch
    shifted the raw distribution. Batch buckets unseen in the standing
    fit score the conservative 0 floor (dsir_score_against).

    Contract difference vs docs_dsir_select, stated plainly: the
    scores here are NOT the full-refit scores (the oracle fits on the
    standing slice verbatim) — the lane's claim is frozen-model
    serving, not refit equivalence."""
    from ..functions.text import portable_hash64
    from .llm_queries import _docs
    from .round18_queries import PPM

    d = _docs(spark, sf_dir)
    tmax = d.agg(F.max("doc_id").alias("max_id"))
    dd = d.crossJoin(F.broadcast(tmax))
    is_batch = F.col("doc_id") * 10 > F.col("max_id") * 9
    standing = dd.filter(~is_batch).drop("max_id")
    batch = dd.filter(is_batch).drop("max_id")
    wt = dsir_weight_table(_dsir_occ(standing))
    s = dsir_score_against(_dsir_occ(batch), wt)
    hash_ppm = (
        portable_hash64(
            F.concat(F.lit("dsirsel|"), F.col("doc_id").cast("string"))
        )
        % PPM
    )
    return (
        s.select(
            "doc_id",
            "score_ppm",
            F.least(
                F.lit(PPM).cast("long"),
                F.expr(f"score_ppm div {DSIR_ACCEPT_DIV}"),
            ).alias("accept_ppm"),
            hash_ppm.alias("hash_ppm"),
        )
        .withColumn("keep", F.col("hash_ppm") < F.col("accept_ppm"))
    )


def _late_bind_dsir_increment_oracle() -> None:
    from ..functions.text import sql_portable_hash64
    from .registry import REGISTRY
    from .round8_queries import _SQL_TOKS
    from .round18_queries import PPM, _muldiv

    srcs = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    g = sql_portable_hash64("'dsir|' || w")
    hsel = sql_portable_hash64("'dsirsel|' || CAST(doc_id AS VARCHAR)")

    def occ(p: str, rel: str) -> str:
        return f"""
    {p}toks AS (
      SELECT doc_id, COALESCE(source IN ({srcs}), FALSE) AS is_target,
             unnest({_SQL_TOKS}) AS w
      FROM {rel} WHERE text IS NOT NULL
    ),
    {p}occ AS (
      SELECT doc_id, is_target, ({g}) % {DSIR_BUCKETS} AS g,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM {p}toks GROUP BY 1, 2, 3
    )"""

    REGISTRY["docs_dsir_increment"].oracle = f"""
    WITH dmax AS (SELECT MAX(doc_id) AS max_id FROM documents),
    st AS (
      SELECT d.* FROM documents d, dmax m
      WHERE NOT (d.doc_id * 10 > m.max_id * 9)
    ),
    bt AS (
      SELECT d.* FROM documents d, dmax m
      WHERE d.doc_id * 10 > m.max_id * 9
    ),{occ("st", "st")},
    stcnt AS (
      SELECT g,
             CAST(SUM(CASE WHEN is_target THEN k ELSE 0 END) AS BIGINT) AS ct,
             CAST(SUM(CASE WHEN NOT is_target THEN k ELSE 0 END) AS BIGINT) AS cr
      FROM stocc GROUP BY g
    ),
    sttot AS (
      SELECT *, CAST(SUM(ct) OVER () AS BIGINT) AS t_tot,
             CAST(SUM(cr) OVER () AS BIGINT) AS r_tot
      FROM stcnt
    ),
    stwt AS (
      SELECT g,
             ((ct + 1) * {PPM}) // (cr + 1) AS ratio1,
             ((r_tot + {DSIR_BUCKETS}) * {PPM}) // (t_tot + {DSIR_BUCKETS}) AS scale1
      FROM sttot
    ),
    stwt2 AS (
      SELECT g, {_muldiv("ratio1", "scale1", PPM, "//")} AS weight_ppm FROM stwt
    ),{occ("bt", "bt")},
    bscore AS (
      SELECT o.doc_id,
             CAST(SUM(o.k) AS BIGINT) AS n_toks,
             CAST(SUM(o.k * COALESCE(w.weight_ppm, 0)) AS BIGINT) AS sum_w_micro,
             (CAST(SUM(o.k * COALESCE(w.weight_ppm, 0)) AS BIGINT)
              // CAST(SUM(o.k) AS BIGINT)) AS score_ppm
      FROM btocc o LEFT JOIN stwt2 w ON o.g = w.g
      GROUP BY o.doc_id
    )
    SELECT doc_id, score_ppm, accept_ppm, hash_ppm,
           (hash_ppm < accept_ppm) AS keep
    FROM (
      SELECT doc_id, score_ppm,
             LEAST({PPM}, score_ppm // {DSIR_ACCEPT_DIV}) AS accept_ppm,
             ({hsel}) % {PPM} AS hash_ppm
      FROM bscore
    )
"""


_late_bind_dsir_increment_oracle()


# --------------------------------------------------------------------------
# docs_ccnet_buckets: per-source LM-score terciles (CCNet head/middle/tail)
# --------------------------------------------------------------------------


@register(
    "docs_ccnet_buckets",
    oracle=None,  # set below (composes the bigram-LM per-doc CTE)
    tags=("llm", "quality", "lm", "curation"),
)
def docs_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020): within each
    source, rank documents by the corpus-trained bigram-LM score
    (docs_bigram_lm_score's avg inverse conditional probability — low
    = fluent) and cut into equal THIRDS: head (most fluent), middle,
    tail. CCNet buckets per language by LM perplexity and trains on
    head+middle; source plays the language role here and the integer
    LM proxy plays perplexity (same qualitative boundary, per the
    round18 module note).

    Exactness vs scale, stated plainly: ntile(3) over (source) is the
    EXACT rank cut and what the oracle pins, but it sorts each
    source's rows inside one partition — fine for bounded sources, a
    skew hazard for a mega-source. The 100 TB form computes boundary
    VALUES from a sample (CCNet itself does) or the log2-histogram
    cumulative (the docs_length_quantile_hist pattern) and buckets
    map-side against broadcast boundaries; output differs only by
    boundary estimation error the paper already accepts."""
    from pyspark.sql import Window

    from .llm_queries import _docs
    from .registry import REGISTRY

    lm = (
        REGISTRY["docs_bigram_lm_score"]
        .fn(spark, sf_dir)
        .select("doc_id", "avg_ip_micro")
    )
    src = _docs(spark, sf_dir).select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.col("avg_ip_micro").asc(), F.col("doc_id").asc()
    )
    t = F.ntile(3).over(w)
    return (
        lm.join(src, "doc_id")
        .select(
            "doc_id",
            "source",
            "avg_ip_micro",
            t.cast("long").alias("tercile"),
        )
        .withColumn(
            "bucket",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail"),
        )
        .withColumn("train_keep", F.col("tercile") <= 2)
    )


def _late_bind_ccnet_oracle() -> None:
    from .registry import REGISTRY
    from .round18_queries import _sql_lm_perdoc_cte

    REGISTRY["docs_ccnet_buckets"].oracle = f"""
    WITH {_sql_lm_perdoc_cte()},
    ranked AS (
      SELECT l.doc_id, d.source, l.avg_ip_micro,
             CAST(ntile(3) OVER (PARTITION BY d.source
                                 ORDER BY l.avg_ip_micro ASC, l.doc_id ASC)
                  AS BIGINT) AS tercile
      FROM lmdoc l JOIN documents d ON d.doc_id = l.doc_id
    )
    SELECT doc_id, source, avg_ip_micro, tercile,
           CASE WHEN tercile = 1 THEN 'head'
                WHEN tercile = 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           (tercile <= 2) AS train_keep
    FROM ranked
"""


_late_bind_ccnet_oracle()


# --------------------------------------------------------------------------
# corpus_pack_nosplit: sample packing WITHOUT document splitting
# --------------------------------------------------------------------------
# corpus_build's shard layout packs tokens back-to-back: zero internal
# waste, but a document may straddle a chunk boundary — fine for plain
# LM pretraining, wrong when samples must not cross sequence
# boundaries (packed fine-tuning, attention-separated packing). The
# packing-without-splitting problem is bin packing; Krell et al. 2022
# ("Efficient Sequence Packing without Cross-contamination") solve it
# on the bounded LENGTH HISTOGRAM. This lane implements the
# one-window closed form of that family — FOLDED PAIRING: within each
# (split, source) shard, rank docs by length (desc, id tiebreak) and
# pair rank r with rank n+1-r; a pair that fits shares a pack, one
# that doesn't splits into two packs (the longer alone). At most one
# window + one rank-keyed metadata self-join — no sequential greedy,
# no driver loop — at the cost of a measured fill-rate gap vs true
# SPFHP (folded pairing is the 2-per-pack special case).


@register(
    "corpus_pack_nosplit",
    oracle=None,  # set below (needs PACK_CAPACITY + split constants)
    tags=("llm", "corpus", "packing", "curation"),
)
def corpus_pack_nosplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: its shard (split, source), token count, folded-pairing
    pack id, the pack's total tokens, and the pack fill rate in ppm
    (fill > 1e6 flags an overlong single doc — never truncated, the
    honest diagnostic). Pack numbering: pair at fold position p emits
    pack 2p when it fits (or is the odd middle singleton), else the
    longer member keeps 2p and the shorter moves to 2p+1 — ids stay
    unique and deterministic without a second pass.

    Scale: ranks are per-(split, source) keyed windows over one-row-
    per-doc metadata (the pack_from_meta posture — text never enters
    the shuffle); the partner lookup is a (split, source, rank)-keyed
    equi-join of that frame to itself, co-partitioned by the same
    keys."""
    from pyspark.sql import Window

    from ..functions.text import portable_hash64, token_count
    from .corpus_queries import PACK_CAPACITY
    from .llm_queries import SPLIT_TEST_PCT, SPLIT_VAL_PCT, _docs

    d = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    bucket = (
        portable_hash64(F.concat(F.lit("split:"), F.col("doc_id").cast("string")))
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TEST_PCT, "test")
        .when(bucket < SPLIT_TEST_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("train")
    )
    meta = d.select(
        "doc_id",
        "source",
        split.alias("split"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("split", "source").orderBy(
        F.col("n_tokens").desc(), F.col("doc_id").asc()
    )
    wp = Window.partitionBy("split", "source")
    r = meta.withColumn("r", F.row_number().over(w).cast("long")).withColumn(
        "n_part", F.count("*").over(wp).cast("long")
    )
    partner = r.select(
        F.col("split").alias("p_split"),
        F.col("source").alias("p_source"),
        F.col("r").alias("p_r"),
        F.col("n_tokens").alias("partner_tokens"),
    )
    j = r.join(
        partner,
        (F.col("split").eqNullSafe(F.col("p_split")))
        & (F.col("source").eqNullSafe(F.col("p_source")))
        & (F.col("n_part") + 1 - F.col("r") == F.col("p_r")),
    )
    p = F.least(F.col("r"), F.col("n_part") + 1 - F.col("r"))
    is_mid = F.col("r") * 2 == F.col("n_part") + 1
    fits = F.col("n_tokens") + F.col("partner_tokens") <= PACK_CAPACITY
    pack_no = (
        F.when(is_mid, p * 2)
        .when(fits, p * 2)
        .when(F.col("r") < F.col("n_part") + 1 - F.col("r"), p * 2)
        .otherwise(p * 2 + 1)
    )
    pack_tokens = (
        F.when(is_mid | ~fits, F.col("n_tokens"))
        .otherwise(F.col("n_tokens") + F.col("partner_tokens"))
    )
    return j.select(
        "doc_id",
        "split",
        "source",
        "n_tokens",
        F.col("r").alias("len_rank"),
        pack_no.cast("long").alias("pack_no"),
        pack_tokens.cast("long").alias("pack_tokens"),
    ).withColumn(
        "fill_ppm", F.expr(f"(pack_tokens * 1000000) div {PACK_CAPACITY}")
    )


def _late_bind_pack_nosplit_oracle() -> None:
    from ..functions.text import sql_portable_hash64, sql_token_count
    from .corpus_queries import PACK_CAPACITY
    from .llm_queries import SPLIT_TEST_PCT, SPLIT_VAL_PCT
    from .registry import REGISTRY

    h = sql_portable_hash64("'split:' || CAST(doc_id AS VARCHAR)")
    REGISTRY["corpus_pack_nosplit"].oracle = f"""
    WITH meta AS (
      SELECT doc_id, source,
             CASE WHEN ({h}) % 100 < {SPLIT_TEST_PCT} THEN 'test'
                  WHEN ({h}) % 100 < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
                  ELSE 'train' END AS split,
             CAST({sql_token_count('text')} AS BIGINT) AS n_tokens
      FROM documents WHERE text IS NOT NULL
    ),
    ranked AS (
      SELECT *,
             CAST(row_number() OVER (PARTITION BY split, source
                                     ORDER BY n_tokens DESC, doc_id ASC)
                  AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY split, source) AS BIGINT) AS n_part
      FROM meta
    ),
    j AS (
      SELECT a.*, b.n_tokens AS partner_tokens
      FROM ranked a
      JOIN ranked b
        ON b.split IS NOT DISTINCT FROM a.split
       AND b.source IS NOT DISTINCT FROM a.source
       AND b.r = a.n_part + 1 - a.r
    )
    SELECT doc_id, split, source, n_tokens, r AS len_rank,
           CAST(CASE
             WHEN r * 2 = n_part + 1 THEN LEAST(r, n_part + 1 - r) * 2
             WHEN n_tokens + partner_tokens <= {PACK_CAPACITY}
               THEN LEAST(r, n_part + 1 - r) * 2
             WHEN r < n_part + 1 - r THEN LEAST(r, n_part + 1 - r) * 2
             ELSE LEAST(r, n_part + 1 - r) * 2 + 1
           END AS BIGINT) AS pack_no,
           CAST(CASE
             WHEN r * 2 = n_part + 1 THEN n_tokens
             WHEN n_tokens + partner_tokens <= {PACK_CAPACITY}
               THEN n_tokens + partner_tokens
             ELSE n_tokens
           END AS BIGINT) AS pack_tokens,
           (CAST(CASE
             WHEN r * 2 = n_part + 1 THEN n_tokens
             WHEN n_tokens + partner_tokens <= {PACK_CAPACITY}
               THEN n_tokens + partner_tokens
             ELSE n_tokens
           END AS BIGINT) * 1000000) // {PACK_CAPACITY} AS fill_ppm
    FROM j
"""


_late_bind_pack_nosplit_oracle()


# --------------------------------------------------------------------------
# corpus_pack_efficiency: the no-split packer's measured waste
# --------------------------------------------------------------------------


@register(
    "corpus_pack_efficiency",
    oracle=None,  # set below (aggregates the corpus_pack_nosplit oracle)
    tags=("llm", "corpus", "packing", "audit"),
)
def corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (split, source): the folded packer's pack count vs the
    bin-packing LOWER BOUND ceil(total_tokens / capacity), mean fill
    in ppm, and the overlong-doc count — the audit that says what the
    one-window approximation costs vs a perfect packer (which cannot
    beat the lower bound). Krell et al. report SPFHP within ~2% of
    optimal; this measures where folded pairing lands on THIS corpus.

    Scale: an aggregate over the packer's per-doc metadata — bounded
    output (splits × sources rows)."""
    from .corpus_queries import PACK_CAPACITY
    from .registry import REGISTRY

    per = REGISTRY["corpus_pack_nosplit"].fn(spark, sf_dir)
    packs = per.groupBy("split", "source", "pack_no").agg(
        # members of a pack carry identical pack_tokens (invariant test);
        # MIN (not first) keeps the aggregate order-free by construction
        F.min("pack_tokens").alias("pack_tokens")
    )
    return (
        packs.groupBy("split", "source")
        .agg(
            F.count("*").cast("long").alias("n_packs"),
            F.sum("pack_tokens").cast("long").alias("total_tokens"),
            F.sum(F.when(F.col("pack_tokens") > PACK_CAPACITY, 1).otherwise(0))
            .cast("long")
            .alias("n_overlong"),
        )
        .withColumn(
            "lower_bound",
            F.expr(f"(total_tokens + {PACK_CAPACITY} - 1) div {PACK_CAPACITY}"),
        )
        .withColumn(
            "mean_fill_ppm",
            F.expr(f"(total_tokens * 1000000) div (n_packs * {PACK_CAPACITY})"),
        )
        .withColumn("packs_over_bound", F.expr("n_packs - lower_bound"))
    )


def _late_bind_pack_efficiency_oracle() -> None:
    from .corpus_queries import PACK_CAPACITY
    from .registry import REGISTRY

    per = REGISTRY["corpus_pack_nosplit"].oracle
    REGISTRY["corpus_pack_efficiency"].oracle = f"""
    WITH per AS ({per}),
    packs AS (
      SELECT split, source, pack_no, MIN(pack_tokens) AS pack_tokens
      FROM per GROUP BY split, source, pack_no
    ),
    agg AS (
      SELECT split, source,
             CAST(COUNT(*) AS BIGINT) AS n_packs,
             CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN pack_tokens > {PACK_CAPACITY} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_overlong
      FROM packs GROUP BY split, source
    )
    SELECT split, source, n_packs, total_tokens, n_overlong,
           ((total_tokens + {PACK_CAPACITY} - 1) // {PACK_CAPACITY}) AS lower_bound,
           ((total_tokens * 1000000) // (n_packs * {PACK_CAPACITY})) AS mean_fill_ppm,
           (n_packs - ((total_tokens + {PACK_CAPACITY} - 1) // {PACK_CAPACITY}))
             AS packs_over_bound
    FROM agg
"""


_late_bind_pack_efficiency_oracle()
