"""Round-18 queries: temperature mixture planning/sampling, the
log2-histogram quantile sketch, corpus-trained bigram-LM scoring, and
Bloom-filter decontamination.

Semantics pinned against pure-Python reference models on hand-built
corpora: fixed-point sqrt-temperature allocation (including the rate
cap at 1e6 ppm for over-asked tiny sources), md5-hash Bernoulli
admission, and ceil-rank order statistics routed through power-of-two
buckets (boundary values 2^k-1 / 2^k land in different buckets). Plan
guards pin what the 100 TB story depends on: zero sort-merge joins in
the sampler (rate table broadcast, admission map-side) and ONE corpus
scan feeding the mixture plan (totals ride a bounded window over the
20-row per-source frame, not a second aggregate), one corpus scan in
the LM lane (c1/c2 ride keyed windows, not joins back to recomputed
aggregates), and the Bloom guarantee (claimed >= true everywhere; no
false negatives) asserted on real testdata. The SemDeDup lane is
pinned by a crafted-geometry fixture (identical vectors + centroid
twin; lower-quality copies dropped with the max-quality witness) and
real-corpus witness-rule invariants."""

from __future__ import annotations

import hashlib
import math

import pyarrow as pa
import pyarrow.parquet as pq

from pse_stocks_etl_spark.plans import REGISTRY
from pse_stocks_etl_spark.plans.round18_queries import (  # noqa: F401
    BUDGET_DIV,
    PPM,
    QUANTILES,
)

from conftest import SF_DIR


def _write_docs(path, rows):
    """rows: list of (doc_id, text, source)."""
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] is not None else None for r in rows], pa.int64()
            ),
        }
    )
    pq.write_table(table, str(path / "documents.parquet"))
    return str(path)


def _write_lengths(path, lengths):
    """documents fixture where only (doc_id, n_chars) matter."""
    table = pa.table(
        {
            "doc_id": pa.array(range(1, len(lengths) + 1), pa.int64()),
            "text": pa.array(["x"] * len(lengths), pa.string()),
            "lang": pa.array(["en"] * len(lengths), pa.string()),
            "source": pa.array(["s"] * len(lengths), pa.string()),
            "n_chars": pa.array(lengths, pa.int64()),
        }
    )
    pq.write_table(table, str(path / "documents.parquet"))
    return str(path)


# ---------------------------------------------------------------- models --

def _muldiv(a: int, b: int, d: int) -> int:
    return (a // d) * b + ((a % d) * b) // d


def _mixture_model(tokens_by_source: dict[str, int]) -> dict[str, dict]:
    sqrt_micro = {
        s: math.floor(math.sqrt(n) * PPM) for s, n in tokens_by_source.items()
    }
    total_sqrt = sum(sqrt_micro.values())
    total_tokens = sum(tokens_by_source.values())
    budget = total_tokens // BUDGET_DIV
    out = {}
    for s, n in tokens_by_source.items():
        w = (sqrt_micro[s] * PPM) // total_sqrt
        target = _muldiv(budget, w, PPM)
        out[s] = {
            "n_tokens": n,
            "sqrt_micro": sqrt_micro[s],
            "weight_ppm": w,
            "target_tokens": target,
            "epochs_milli": (target * 1000) // n,
            "rate_ppm": min(PPM, _muldiv(target, PPM, n)),
        }
    return out


def _hash_ppm(doc_id: int) -> int:
    return int(hashlib.md5(f"temp|{doc_id}".encode()).hexdigest()[:15], 16) % PPM


def _quantile_model(lengths: list[int]) -> list[dict]:
    vals = sorted(lengths)
    n = len(vals)
    out = []
    for q in QUANTILES:
        rnk = (q * n + 99) // 100
        exact = vals[rnk - 1]
        bucket = max(exact.bit_length(), 1)
        lo = 0 if bucket == 1 else 1 << (bucket - 1)
        hi = (1 << bucket) - 1
        out.append(
            {
                "q": q,
                "n": n,
                "rnk": rnk,
                "bucket": bucket,
                "lo": lo,
                "hi": hi,
                "exact_len": exact,
                "est_mid": (lo + hi) // 2,
                "abs_err": abs(exact - (lo + hi) // 2),
                "within_bound": lo <= exact <= hi,
            }
        )
    return out


# ----------------------------------------------------------------- tests --

def test_mixture_plan_matches_model(spark, tmp_path):
    rows = [
        (1, "a b c d e f g h", "big"),
        (2, "i j k l m n o p", "big"),
        (3, "q r s t u v w x", "big"),
        (4, "one two three", "mid"),
        (5, "four five six", "mid"),
        (6, "tiny", "small"),
    ]
    sf = _write_docs(tmp_path, rows)
    got = {
        r["source"]: r.asDict()
        for r in REGISTRY["docs_mixture_plan"].fn(spark, sf).collect()
    }
    model = _mixture_model({"big": 24, "mid": 6, "small": 1})
    assert set(got) == set(model)
    for s, m in model.items():
        for k, v in m.items():
            assert got[s][k] == v, (s, k, got[s][k], v)


def test_mixture_temperature_flattens(spark, tmp_path):
    """alpha=0.5 gives the rare source a HIGHER epochs count and the
    dominant source a sub-proportional share — the point of
    temperature mixing."""
    rows = [(i, "w " * 50, "big") for i in range(1, 40)] + [
        (100, "a b c d", "rare")
    ]
    sf = _write_docs(tmp_path, rows)
    got = {
        r["source"]: r.asDict()
        for r in REGISTRY["docs_mixture_plan"].fn(spark, sf).collect()
    }
    # dominant source: weight below its token share
    tok_share_ppm = got["big"]["n_tokens"] * PPM // (
        got["big"]["n_tokens"] + got["rare"]["n_tokens"]
    )
    assert got["big"]["weight_ppm"] < tok_share_ppm
    # rare source: asked for more than it has -> rate capped, epochs > 1
    assert got["rare"]["rate_ppm"] == PPM
    assert got["rare"]["epochs_milli"] > 1000


def test_temperature_sample_matches_hash_model(spark, tmp_path):
    rows = [(i, f"tok{i} " * (3 + i % 5), f"src{i % 3}") for i in range(1, 61)]
    sf = _write_docs(tmp_path, rows)
    plan = {
        r["source"]: r["rate_ppm"]
        for r in REGISTRY["docs_mixture_plan"].fn(spark, sf).collect()
    }
    got = REGISTRY["docs_temperature_sample"].fn(spark, sf).collect()
    assert len(got) == 60
    for r in got:
        assert r["hash_ppm"] == _hash_ppm(r["doc_id"])
        assert r["rate_ppm"] == plan[r["source"]]
        assert r["keep"] == (r["hash_ppm"] < r["rate_ppm"])


def test_temperature_sample_idempotent_admission(spark, tmp_path):
    """Same corpus, two runs -> the same kept set (the coin is the
    doc's own hash, not RNG state)."""
    rows = [(i, f"tok{i} " * 4, f"src{i % 2}") for i in range(1, 31)]
    sf = _write_docs(tmp_path, rows)
    fn = REGISTRY["docs_temperature_sample"].fn
    kept1 = {r["doc_id"] for r in fn(spark, sf).collect() if r["keep"]}
    kept2 = {r["doc_id"] for r in fn(spark, sf).collect() if r["keep"]}
    assert kept1 == kept2


def test_quantile_hist_matches_model(spark, tmp_path):
    lengths = [5, 7, 9, 100, 130, 260, 300, 301, 511, 512, 513, 1000, 1023, 1024]
    sf = _write_lengths(tmp_path, lengths)
    got = sorted(
        (r.asDict() for r in REGISTRY["docs_length_quantile_hist"].fn(spark, sf).collect()),
        key=lambda r: r["q"],
    )
    model = sorted(_quantile_model(lengths), key=lambda r: r["q"])
    assert got == model


def test_quantile_hist_boundary_buckets(spark, tmp_path):
    """2^k - 1 and 2^k land in DIFFERENT buckets; ranks at the exact
    bucket edge route correctly."""
    lengths = [255, 256] * 5  # n=10: q50 rank 5 -> 255, q90 rank 9 -> 256
    sf = _write_lengths(tmp_path, lengths)
    got = {r["q"]: r.asDict() for r in
           REGISTRY["docs_length_quantile_hist"].fn(spark, sf).collect()}
    assert got[50]["exact_len"] == 255 and got[50]["bucket"] == 8
    assert got[90]["exact_len"] == 256 and got[90]["bucket"] == 9
    assert all(r["within_bound"] for r in got.values())


def test_quantile_hist_single_row(spark, tmp_path):
    sf = _write_lengths(tmp_path, [77])
    got = REGISTRY["docs_length_quantile_hist"].fn(spark, sf).collect()
    assert len(got) == 3
    assert all(r["exact_len"] == 77 and r["rnk"] == 1 for r in got)


# ------------------------------------------------------------ plan guards --

def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_sampler_plan_is_broadcast_only(spark):
    """The sampler must admit map-side: rate table broadcast onto the
    doc stream, zero sort-merge joins anywhere."""
    plan = _plan(spark, "docs_temperature_sample")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def _n_scans(plan: str) -> int:
    import re

    # count the detail-section headers only — the tree section repeats
    # each scan as "+- Scan parquet (N)"
    return len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))


def test_mixture_plan_scans_corpus_once(spark):
    """Totals ride a bounded window over the 20-row per-source frame;
    a second aggregate subtree would re-scan the corpus."""
    plan = _plan(spark, "docs_mixture_plan")
    assert _n_scans(plan) == 1, plan


def test_sampler_scans_corpus_twice_max(spark):
    """One scan feeds the rate aggregate, one the admission stream —
    no third scan may creep in."""
    plan = _plan(spark, "docs_temperature_sample")
    assert _n_scans(plan) == 2, plan


def test_quantile_inbucket_window_is_partitioned(spark):
    """The order-statistic recovery window must be PARTITIONED by
    bucket (the two-phase global order statistic) — only the <= 64-row
    histogram cumulative may ride the bounded unpartitioned window."""
    plan = _plan(spark, "docs_length_quantile_hist")
    import re

    windows = re.findall(r"row_number\(\)[^\n]*", plan)
    assert windows, plan
    # the row_number window spec names the bucket partition key
    assert any("bucket" in w for w in windows), windows


# ------------------------------------------------- bigram LM + bloom --

def _lm_model(docs: dict[int, list[str]]) -> dict[int, dict]:
    """Brute-force bigram-LM reference: ppm inverse conditional
    probability, averaged per doc with integer division."""
    from collections import Counter

    bigrams = {
        d: [(tk[i], tk[i + 1]) for i in range(len(tk) - 1)]
        for d, tk in docs.items()
    }
    c2 = Counter(b for bs in bigrams.values() for b in bs)
    c1 = Counter()
    for (w1, _), n in c2.items():
        c1[w1] += n
    out = {}
    for d, bs in bigrams.items():
        if not bs:
            continue
        total = sum((c1[b[0]] * PPM) // c2[b] for b in bs)
        out[d] = {
            "n_bigrams": len(bs),
            "sum_ip_micro": total,
            "avg_ip_micro": total // len(bs),
        }
    return out


def test_bigram_lm_matches_model(spark, tmp_path):
    texts = [
        "the cat the cat the cat",
        "the dog runs",
        "the bird flies",
        "one",  # single token: no bigrams -> absent from output
    ]
    sf = _write_docs(tmp_path, [(i + 1, t, "s") for i, t in enumerate(texts)])
    got = {
        r["doc_id"]: r.asDict()
        for r in REGISTRY["docs_bigram_lm_score"].fn(spark, sf).collect()
    }
    model = _lm_model({i + 1: t.split() for i, t in enumerate(texts)})
    assert set(got) == set(model) == {1, 2, 3}
    for d, m in model.items():
        for k, v in m.items():
            assert got[d][k] == v, (d, k, got[d][k], v)


def test_bigram_lm_rare_continuations_score_high(spark, tmp_path):
    """Docs whose bigrams are RARE continuations of COMMON prefixes
    score higher than docs repeating the dominant continuation — the
    perplexity-filter decision boundary."""
    texts = (["the cat sat"] * 8) + ["the zx the qq"]
    sf = _write_docs(tmp_path, [(i + 1, t, "s") for i, t in enumerate(texts)])
    got = {
        r["doc_id"]: r["avg_ip_micro"]
        for r in REGISTRY["docs_bigram_lm_score"].fn(spark, sf).collect()
    }
    common = got[1]
    weird = got[9]
    assert weird > common


def _bloom_pos_model(sh_val: int, salt: int) -> int:
    import hashlib as h

    return int(h.md5(f"{salt}|{sh_val}".encode()).hexdigest()[:15], 16) % (1 << 17)


def test_bloom_decontaminate_matches_model(spark, tmp_path):
    """Exact replay of the Bloom filter in Python: same shingle hashes,
    same salted positions, same claimed/true/FP verdicts."""
    import hashlib as h

    from pse_stocks_etl_spark.plans.round18_queries import BLOOM_SALTS

    def sh_hash(gram: str) -> int:
        return int(h.md5(gram.encode()).hexdigest()[:15], 16)

    # doc 7 is the benchmark slice (7 % 10 == 7); doc 1 shares its
    # first shingle, docs 2/3 share nothing.
    texts = {
        1: "alpha beta gamma delta",
        2: "epsilon zeta eta theta",
        3: "iota kappa lambda mu",
        7: "alpha beta gamma nu xi",
    }
    sf = _write_docs(tmp_path, [(d, t, "s") for d, t in sorted(texts.items())])

    def shingles(t: str) -> set[int]:
        tk = t.split()
        return {sh_hash(" ".join(tk[i : i + 3])) for i in range(len(tk) - 2)}

    bench = shingles(texts[7])
    bits = {_bloom_pos_model(s, j) for s in bench for j in BLOOM_SALTS}
    expected = {}
    for d in (1, 2, 3):
        shs = shingles(texts[d])
        claimed = {
            s
            for s in shs
            if all(_bloom_pos_model(s, j) in bits for j in BLOOM_SALTS)
        }
        true_hits = shs & bench
        expected[d] = {
            "n_shingles": len(shs),
            "claimed_hits": len(claimed),
            "true_hits": len(true_hits),
            "false_pos": len(claimed) - len(true_hits),
            "flagged": bool(claimed),
            "contaminated": bool(true_hits),
        }
    got = {
        r["doc_id"]: r.asDict()
        for r in REGISTRY["docs_bloom_decontaminate"].fn(spark, sf).collect()
    }
    assert set(got) == {1, 2, 3}
    for d, m in expected.items():
        for k, v in m.items():
            assert got[d][k] == v, (d, k, got[d][k], v)
    assert got[1]["contaminated"] and got[1]["true_hits"] == 1


def test_bloom_no_false_negatives_on_testdata(spark):
    """The Bloom guarantee: every truly contaminated doc is flagged,
    and claimed >= true everywhere (no false negatives, only FPs)."""
    rows = REGISTRY["docs_bloom_decontaminate"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["claimed_hits"] >= r["true_hits"], r
        if r["true_hits"] > 0:
            assert r["flagged"], r


def test_lm_plan_scans_corpus_once_with_keyed_windows(spark):
    """One corpus scan; c1/c2 ride KEYED windows (no join back to a
    recomputed aggregate — that shape re-scans the corpus)."""
    plan = _plan(spark, "docs_bigram_lm_score")
    assert _n_scans(plan) == 1, plan
    assert "SortMergeJoin" not in plan


# ----------------------------------------------------------- semdedup --

def _write_emb_corpus(path, vec_rows, doc_chars):
    """vec_rows: list of (vec_id, 64-float list); doc_chars: {id: n_chars}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

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
                "n_chars": pa.array(
                    [doc_chars[i] for i in ids], pa.int64()
                ),
            }
        ),
        str(path / "documents.parquet"),
    )
    return str(path)


def test_semdedup_drops_lower_quality_twins(spark, tmp_path):
    """Three identical vectors + their centroid twin: every lower-char
    copy is dropped with the max-char copy as witness; orthogonal
    singleton cells produce no pairs."""
    from pse_stocks_etl_spark.plans.llm_queries import EMB_DIM, IVF_CENTROID_IDS

    def basis(i):
        v = [0.0] * EMB_DIM
        v[i] = 1.0
        return v

    # vecs 0,1,2 identical to centroid 10's direction; centroids 10..25
    # are the 16 distinct basis directions (cos between cells = 0).
    rows = [(i, basis(0)) for i in (0, 1, 2)]
    rows += [(cid, basis(k)) for k, cid in enumerate(IVF_CENTROID_IDS)]
    chars = {0: 100, 1: 90, 2: 80, **{cid: 10 for cid in IVF_CENTROID_IDS}}
    sf = _write_emb_corpus(tmp_path, rows, chars)
    got = {
        r["dropped_id"]: r.asDict()
        for r in REGISTRY["docs_semdedup"].fn(spark, sf).collect()
    }
    # 1, 2 and the centroid copy 10 all lose to doc 0 (chars 100, cos 1)
    assert set(got) == {1, 2, 10}
    for d in (1, 2, 10):
        assert got[d]["kept_id"] == 0
        assert got[d]["cell"] == 10
        assert got[d]["cos_sim"] == 1.0
    # doc 0 survives: its twins all have fewer chars


def test_semdedup_witness_rules_on_testdata(spark, sf_dir):
    """Real-corpus invariants: one row per dropped doc, every witness
    strictly better (chars, id tiebreak), cosine at/above the
    threshold."""
    from pse_stocks_etl_spark.plans.round18_queries import SEMDEDUP_TAU

    rows = REGISTRY["docs_semdedup"].fn(spark, sf_dir).collect()
    assert rows, "expected semantic near-twins in the synthetic corpus"
    seen = set()
    for r in rows:
        assert r["dropped_id"] not in seen
        seen.add(r["dropped_id"])
        assert r["cos_sim"] >= SEMDEDUP_TAU
        better = r["kept_chars"] > r["dropped_chars"] or (
            r["kept_chars"] == r["dropped_chars"]
            and r["kept_id"] < r["dropped_id"]
        )
        assert better, r
