"""Round-19 queries: MinHash estimator error audit and the
DoReMi-style mixture reweight step.

Semantics pinned against identical-doc signature agreement (est ==
exact == 1e6, zero error), row-wise arithmetic self-consistency of
every derived audit column, and a two-source corpus whose loss
difference must flip the mixture ordering. The incremental SemDeDup
lane gets a crafted evidence-split fixture (standing-only rejection
vs standing+batch, admitted singletons) plus a separability check
against the full-batch lane; the consensus table is pinned by an
identical-docs fixture tripping three families at once and per-family
sum agreement on real data; the cell-stats audit by row-wise
accounting identities. (A Matryoshka-truncation audit drafted here
turned out to already exist as round10's emb_matryoshka_recall — the
collision is now a hard error in registry.register, which refuses
cross-module name overwrites.)"""

from __future__ import annotations

import math
import re

import pyarrow as pa
import pyarrow.parquet as pq

from pse_stocks_etl_spark.plans import REGISTRY

from conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _n_scans(plan: str) -> int:
    return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))


def _write_docs(path, rows):
    """rows: (doc_id, text, source)."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) if r[1] is not None else None for r in rows],
                    pa.int64(),
                ),
            }
        ),
        str(path / "documents.parquet"),
    )
    return str(path)


# ---------------------------------------------------- minhash audit --

def test_minhash_audit_self_consistency(spark, sf_dir):
    """Every audited pair's derived columns are arithmetic functions of
    (n_matches, exact intersection) — recompute them row-by-row."""
    from pse_stocks_etl_spark.plans.llm_queries import MINHASH_K
    from pse_stocks_etl_spark.plans.round18_queries import PPM

    rows = REGISTRY["docs_minhash_error_audit"].fn(spark, sf_dir).collect()
    assert rows, "expected LSH candidate pairs in the corpus"
    for r in rows:
        est = (r["n_matches"] * PPM) // MINHASH_K
        assert r["est_ppm"] == est
        assert r["err_ppm"] == abs(est - r["exact_ppm"])
        bound = math.floor(2 * math.sqrt(est * (PPM - est) / MINHASH_K))
        assert r["bound_ppm"] == bound
        assert r["within_2sigma"] == (r["err_ppm"] <= bound)


def test_minhash_audit_identical_docs_exact(spark, tmp_path):
    """Identical docs agree on every signature component and have
    Jaccard exactly 1 — est == exact == 1e6, err 0, bound 0, within."""
    from pse_stocks_etl_spark.plans.round18_queries import PPM

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = [
        (i, f"filler{i} word{i} extra{i} pad{i} tail{i}", "s")
        for i in range(3, 30)
    ]
    sf = _write_docs(tmp_path, [(1, text, "s"), (2, text, "s")] + filler)
    rows = REGISTRY["docs_minhash_error_audit"].fn(spark, sf).collect()
    pair = [r for r in rows if (r["doc_a"], r["doc_b"]) == (1, 2)]
    assert pair, rows
    r = pair[0]
    assert r["n_matches"] == 12
    assert r["est_ppm"] == PPM and r["exact_ppm"] == PPM
    assert r["err_ppm"] == 0 and r["within_2sigma"]


# --------------------------------------------------------- reweight --

def test_reweight_upweights_lossy_source(spark, tmp_path):
    """Two sources with IDENTICAL token counts (equal temperature
    weights); source B's bigrams are rare continuations of a shared
    prefix (high surprisal), source A repeats one dominant bigram.
    One multiplicative-weights step must shift mass toward B."""
    a_docs = [(i, "the cat sat on the mat", "srcA") for i in range(1, 9)]
    b_docs = [
        (100 + i, f"the q{i}x rode the z{i}y on", "srcB") for i in range(1, 9)
    ]
    sf = _write_docs(tmp_path, a_docs + b_docs)
    got = {
        r["source"]: r.asDict()
        for r in REGISTRY["docs_mixture_reweight"].fn(spark, sf).collect()
    }
    assert got["srcA"]["weight_ppm"] == got["srcB"]["weight_ppm"]
    assert got["srcB"]["avg_loss_micro"] > got["srcA"]["avg_loss_micro"]
    assert got["srcB"]["excess_ppm"] > 1_000_000 > got["srcA"]["excess_ppm"]
    assert got["srcB"]["new_weight_ppm"] > got["srcA"]["new_weight_ppm"]


def test_reweight_normalization_and_coverage(spark, sf_dir):
    rows = REGISTRY["docs_mixture_reweight"].fn(spark, sf_dir).collect()
    assert len(rows) == 20  # the registered-source catalog
    total_new = sum(r["new_weight_ppm"] for r in rows)
    # floor division: within one ppm-per-source of exact normalization
    assert 1_000_000 - len(rows) <= total_new <= 1_000_000
    for r in rows:
        assert r["new_weight_ppm"] > 0


# ----------------------------------------------- registry collision --

def test_register_refuses_cross_module_overwrite():
    """register() must hard-fail when a NEW module reuses an existing
    query name (the silent displacement footgun), while same-module
    re-registration (importlib.reload) stays allowed."""
    import pytest

    from pse_stocks_etl_spark.plans import registry

    name = "docs_minhash_error_audit"  # owned by round19_queries
    owner_fn = registry.REGISTRY[name].fn

    def impostor(spark, sf_dir):  # pragma: no cover - never called
        raise AssertionError

    impostor.__module__ = "pse_stocks_etl_spark.plans.some_other_module"
    with pytest.raises(ValueError, match="cross-module overwrite"):
        registry.register(name, oracle=None)(impostor)
    assert registry.REGISTRY[name].fn is owner_fn

    # same-module re-register (reload path) is allowed and idempotent
    impostor.__module__ = owner_fn.__module__
    registry.register(name, oracle=registry.REGISTRY[name].oracle)(impostor)
    assert registry.REGISTRY[name].fn is impostor
    # restore the real entry for the rest of the session
    registry.register(name, oracle=registry.REGISTRY[name].oracle)(owner_fn)
    assert registry.REGISTRY[name].fn is owner_fn


# ----------------------------------------------- semdedup increment --

def _write_emb_corpus(path, vec_rows, doc_chars):
    """vec_rows: (vec_id, 64-float list); doc_chars: {id: n_chars}."""
    ids = [r[0] for r in vec_rows]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in vec_rows], pa.list_(pa.float32())
                ),
                "label": pa.array([0] * len(ids), pa.int32()),
            }
        ),
        str(path / "embeddings.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(["x"] * len(ids), pa.string()),
                "lang": pa.array(["en"] * len(ids), pa.string()),
                "source": pa.array(["s"] * len(ids), pa.string()),
                "n_chars": pa.array([doc_chars[i] for i in ids], pa.int64()),
            }
        ),
        str(path / "documents.parquet"),
    )
    return str(path)


def test_semdedup_increment_evidence_split(spark, tmp_path):
    """Crafted cell: standing twin 0 (best quality), batch twins 33/43.
    33 is rejected by the STANDING witness only; 43 by both standing
    and batch-internal; batch singletons (centroid copies 13/23 in
    their own cells) are admitted."""
    from pse_stocks_etl_spark.plans.llm_queries import EMB_DIM, IVF_CENTROID_IDS

    def basis(i):
        v = [0.0] * EMB_DIM
        v[i] = 1.0
        return v

    rows = [(0, basis(0)), (33, basis(0)), (43, basis(0))]
    rows += [(cid, basis(k)) for k, cid in enumerate(IVF_CENTROID_IDS)]
    chars = {0: 100, 33: 90, 43: 80, **{cid: 10 for cid in IVF_CENTROID_IDS}}
    sf = _write_emb_corpus(tmp_path, rows, chars)
    got = {
        r["vec_id"]: r.asDict()
        for r in REGISTRY["docs_semdedup_increment"].fn(spark, sf).collect()
    }
    # batch = vec_id % 10 == 3: members 33, 43 plus centroid copies 13, 23
    assert set(got) == {13, 23, 33, 43}
    assert got[33]["st_kept_id"] == 0 and got[33]["bt_kept_id"] is None
    assert not got[33]["admit"]
    assert got[43]["st_kept_id"] == 0 and got[43]["bt_kept_id"] == 33
    assert not got[43]["admit"]
    for singleton in (13, 23):
        assert got[singleton]["st_kept_id"] is None
        assert got[singleton]["bt_kept_id"] is None
        assert got[singleton]["admit"]


def test_semdedup_increment_agrees_with_full(spark, sf_dir):
    """Separability: on the real corpus (cells narrower than the
    witness cap) a batch doc is rejected by the increment exactly when
    the FULL batch semdedup drops it."""
    from pse_stocks_etl_spark.plans.round19_queries import (
        SEM_BATCH_MOD,
        SEM_BATCH_REM,
    )

    full_dropped = {
        r["dropped_id"]
        for r in REGISTRY["docs_semdedup"].fn(spark, sf_dir).collect()
        if r["dropped_id"] % SEM_BATCH_MOD == SEM_BATCH_REM
    }
    inc = REGISTRY["docs_semdedup_increment"].fn(spark, sf_dir).collect()
    rejected = {r["vec_id"] for r in inc if not r["admit"]}
    assert rejected == full_dropped


# -------------------------------------------------- dedup consensus --

def _write_corpus_with_emb(path, doc_rows):
    """doc_rows: (doc_id, text). Adds orthogonal per-id embeddings plus
    the 16 centroid rows so the semantic lane runs with no sem twins."""
    from pse_stocks_etl_spark.plans.llm_queries import EMB_DIM, IVF_CENTROID_IDS

    ids = [r[0] for r in doc_rows]
    emb_ids = sorted(set(ids) | set(IVF_CENTROID_IDS))

    def basis(k):
        v = [0.0] * EMB_DIM
        v[k % EMB_DIM] = 1.0
        return v

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(emb_ids, pa.int64()),
                "embedding": pa.array(
                    [basis(i) for i, _ in enumerate(emb_ids)],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * len(emb_ids), pa.int32()),
            }
        ),
        str(path / "embeddings.parquet"),
    )
    texts = dict(doc_rows)
    all_rows = [(i, texts.get(i, f"solo filler row {i}")) for i in emb_ids]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in all_rows], pa.int64()),
                "text": pa.array([r[1] for r in all_rows], pa.string()),
                "lang": pa.array(["en"] * len(all_rows), pa.string()),
                "source": pa.array(["s"] * len(all_rows), pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) for r in all_rows], pa.int64()
                ),
            }
        ),
        str(path / "documents.parquet"),
    )
    return str(path)


def test_consensus_flags_identical_docs(spark, tmp_path):
    """Two identical 14-token docs: the canonical copy (smaller id)
    stays exact-clean but is substring-flagged (coverage counts both
    sites); the second copy trips exact, near-dup AND substring."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    rows = [(1, text), (2, text), (3, "one short unique doc here")]
    sf = _write_corpus_with_emb(tmp_path, rows)
    got = {
        r["doc_id"]: r.asDict()
        for r in REGISTRY["docs_dedup_consensus"].fn(spark, sf).collect()
    }
    assert not got[1]["exact_dup"] and got[2]["exact_dup"]
    assert got[2]["near_dup"]
    assert got[1]["substring_drop"] and got[2]["substring_drop"]
    assert not got[3]["exact_dup"] and not got[3]["near_dup"]
    assert got[3]["keep"] and got[3]["n_flags"] == 0
    assert got[2]["n_flags"] == 3 and not got[2]["keep"]


def test_consensus_sums_match_stage_lanes(spark, sf_dir):
    """Each flag column reproduces its family's own verdict set."""
    rows = REGISTRY["docs_dedup_consensus"].fn(spark, sf_dir).collect()
    sem_dropped = {
        r["dropped_id"] for r in REGISTRY["docs_semdedup"].fn(spark, sf_dir).collect()
    }
    near_losers = {
        r["doc_b"]
        for r in REGISTRY["docs_minhash_lsh_pairs"].fn(spark, sf_dir).collect()
    }
    sub_drops = {
        r["doc_id"]
        for r in REGISTRY["docs_substring_dedup"].fn(spark, sf_dir).collect()
        if r["drop_doc"]
    }
    assert {r["doc_id"] for r in rows if r["sem_drop"]} == sem_dropped
    assert {r["doc_id"] for r in rows if r["near_dup"]} == near_losers
    assert {r["doc_id"] for r in rows if r["substring_drop"]} == sub_drops
    for r in rows:
        assert r["keep"] == (r["n_flags"] == 0)


# --------------------------------------------------- ivf cell stats --

def test_cell_stats_accounting(spark, sf_dir):
    """Counts sum to the member total, shares sum to ~1e6, verdicts
    recompute row-wise, and the cap_exceeded flags agree with whether
    the semdedup witness cap binds anywhere."""
    from pse_stocks_etl_spark.plans.round18_queries import (
        SEMDEDUP_WITNESS_CAP,
        _semdedup_members,
    )
    from pse_stocks_etl_spark.plans.round19_queries import CELL_OVERLOAD_FACTOR

    rows = REGISTRY["emb_ivf_cell_stats"].fn(spark, sf_dir).collect()
    assert rows
    total = sum(r["n_vecs"] for r in rows)
    assert total == _semdedup_members(spark, sf_dir).count()
    share = sum(r["share_ppm"] for r in rows)
    assert 1_000_000 - len(rows) <= share <= 1_000_000
    ideal = total // len(rows)
    for r in rows:
        assert r["ideal_n"] == ideal
        assert r["share_ppm"] == r["n_vecs"] * 1_000_000 // total
        assert r["overloaded"] == (r["n_vecs"] > CELL_OVERLOAD_FACTOR * ideal)
        assert r["cap_exceeded"] == (r["n_vecs"] > SEMDEDUP_WITNESS_CAP)
