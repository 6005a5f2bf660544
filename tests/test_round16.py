"""Round-16 queries: MP4 container parse, URL canonicalization lane,
end-to-end corpus build, incremental contamination.

The MP4 codec gets the same treatment as the other real codecs
(tests/test_multimodal.py's conventions): exhaustive round-trip over a
lattice sweep, an every-cut truncation sweep, and loud-failure checks
for each cross-table validation. The incremental-contamination
separability contract (increment + standing == two-slice recompute) is
pinned here, mirroring the increment-equals-rebuild contracts of the
BM25/IVFPQ incremental lanes.
"""

from __future__ import annotations

import pytest

from pse_stocks_etl_spark.operators.multimodal import parse_mp4, synth_mp4


# --------------------------------------------------------------------------
# MP4 codec: pure-Python contracts (no Spark needed)
# --------------------------------------------------------------------------
def test_mp4_roundtrip_matches_lattice():
    for d in range(80):
        m = parse_mp4(synth_mp4(d))
        n = 8 + d % 7
        sizes = [50 + (17 * d + 31 * i) % 100 for i in range(n)]
        durs = [(100 if i < n // 2 else 120) + d % 9 for i in range(n)]
        assert m == {
            "width": 16 * (4 + d % 5),
            "height": 16 * (3 + d % 4),
            "timescale": 1000,
            "duration": sum(durs),
            "n_samples": n,
            "n_chunks": (n + 2) // 3,
            "n_keyframes": (n + 3) // 4,
            "sum_sample_bytes": sum(sizes),
            "max_sample_size": max(sizes),
            "wsum_sample_bytes": sum((i + 1) * s for i, s in enumerate(sizes)),
            "largesize_mdat": d % 2 == 0,
        }, d


def test_mp4_truncation_sweep_every_cut_fails_loudly():
    # Every strict prefix must raise ValueError — never return garbage
    # and never raise a non-ValueError (struct errors escaping would
    # break the fail-loudly codec contract). Both header widths swept.
    for d in (6, 7):
        payload = synth_mp4(d)
        for cut in range(len(payload)):
            with pytest.raises(ValueError):
                parse_mp4(payload[:cut])


def test_mp4_bad_magic_and_box_garbage():
    p = synth_mp4(4)
    with pytest.raises(ValueError, match="ftyp"):
        parse_mp4(b"\x00\x00\x00\x08free" + p)
    # impossible 32-bit size in the first box
    bad = b"\x00\x00\x00\x03ftyp" + p[8:]
    with pytest.raises(ValueError):
        parse_mp4(bad)
    with pytest.raises(ValueError):
        parse_mp4(b"")


def _flip(payload: bytes, needle: bytes, off: int, new: bytes) -> bytes:
    i = payload.index(needle) + off
    return payload[:i] + new + payload[i + len(new) :]


def test_mp4_cross_table_validation_catches_lies():
    p = synth_mp4(9)
    # stsz sample count +1: stts total no longer matches
    i = p.index(b"stsz") + 4 + 4 + 4  # fourcc, version/flags, uniform
    n = int.from_bytes(p[i : i + 4], "big")
    with pytest.raises(ValueError, match="stts total|stsz"):
        parse_mp4(p[:i] + (n + 1).to_bytes(4, "big") + p[i + 4 :])
    # first sample size +1: mdat byte accounting breaks
    j = p.index(b"stsz") + 16
    s0 = int.from_bytes(p[j : j + 4], "big")
    with pytest.raises(ValueError, match="mdat|chunk"):
        parse_mp4(p[:j] + (s0 + 1).to_bytes(4, "big") + p[j + 4 :])
    # corrupt the first chunk offset (co64 for odd doc_id): not
    # increasing / escapes mdat
    k = p.index(b"co64") + 12  # 4 fourcc-relative hdr + 4 vflags + 4 count
    with pytest.raises(ValueError, match="chunk|increasing"):
        parse_mp4(p[:k] + (1 << 40).to_bytes(8, "big") + p[k + 8 :])
    # a lying entry count must be a ValueError, never a struct.error
    k2 = p.index(b"co64") + 8
    with pytest.raises(ValueError, match="declares"):
        parse_mp4(p[:k2] + (1 << 40).to_bytes(8, "big") + p[k2 + 8 :])
    # stss sample number beyond n_samples
    q = p.index(b"stss") + 8 + 4
    with pytest.raises(ValueError, match="stss"):
        parse_mp4(p[:q] + (10_000).to_bytes(4, "big") + p[q + 4 :])


def test_mp4_unknown_boxes_are_skipped_and_stale_offsets_caught():
    p = synth_mp4(8)
    inject = b"\x00\x00\x00\x10skip" + b"\x00" * 8
    # a trailing unknown box does not shift mdat: parse is unchanged
    assert parse_mp4(p + inject) == parse_mp4(p)
    # an unknown box injected BEFORE moov shifts mdat while stco stays
    # stale — the byte-accounting validation must catch it, not guess
    i = p.index(b"free") - 4  # start of the free box header
    with pytest.raises(ValueError, match="chunk|mdat"):
        parse_mp4(p[:i] + inject + p[i:])


def test_real_decode_dispatches_mp4():
    from pse_stocks_etl_spark.operators.multimodal import real_decode

    p = synth_mp4(13)
    assert real_decode(p) == parse_mp4(p)


def _minimal_mp4_without_stss() -> bytes:
    """A spec-minimal ISO BMFF file with NO stss box: two samples
    (10+20 bytes, 100 ticks each) in one chunk. Per 14496-12 §8.6.2 a
    missing stss means every sample is a sync sample."""
    import struct

    from pse_stocks_etl_spark.operators.multimodal import _box, _full_box

    timescale, duration, w, h = 1000, 200, 64, 48
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp42")
    stts = _full_box(b"stts", 0, 0, struct.pack(">III", 1, 2, 100))
    stsz = _full_box(b"stsz", 0, 0, struct.pack(">IIII", 0, 2, 10, 20))
    stsc = _full_box(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, 2, 1))

    def moov_bytes(off: int) -> bytes:
        stco = _full_box(b"stco", 0, 0, struct.pack(">II", 1, off))
        stbl = _box(b"stbl", stts + stsz + stsc + stco)
        mdhd = _full_box(
            b"mdhd",
            0,
            0,
            struct.pack(">IIII", 0, 0, timescale, duration)
            + struct.pack(">HH", 0x55C4, 0),
        )
        mdia = _box(b"mdia", mdhd + _box(b"minf", stbl))
        tkhd = _full_box(
            b"tkhd",
            0,
            7,
            struct.pack(">IIII", 0, 0, 1, 0)
            + struct.pack(">I", duration)
            + b"\x00" * 8
            + struct.pack(">HHHH", 0, 0, 0, 0)
            + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + struct.pack(">II", w << 16, h << 16),
        )
        mvhd = _full_box(
            b"mvhd",
            0,
            0,
            struct.pack(">IIII", 0, 0, timescale, duration)
            + struct.pack(">I", 0x00010000)
            + struct.pack(">H", 0x0100)
            + b"\x00" * 10
            + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        return _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))

    off = len(ftyp) + len(moov_bytes(0)) + 8  # mdat body start
    return ftyp + moov_bytes(off) + _box(b"mdat", b"\x01" * 30)


def test_mp4_missing_stss_means_all_samples_sync():
    from pse_stocks_etl_spark.operators.multimodal import mp4_sample_rows

    p = _minimal_mp4_without_stss()
    m = parse_mp4(p)
    assert m["n_samples"] == 2
    assert m["n_keyframes"] == 2  # optional stss absent -> all sync
    assert m["width"] == 64 and m["height"] == 48
    rows = mp4_sample_rows(p)
    assert [r["is_keyframe"] for r in rows] == [True, True]
    assert [r["rel_offset"] for r in rows] == [0, 10]


def test_mp4_nested_to_end_box_rejected_top_level_allowed():
    # A size==0 box nested inside stbl must be rejected (it would
    # swallow its siblings); the same header on the LAST top-level box
    # (mdat) is the spec's one legitimate use and parses identically.
    p = _minimal_mp4_without_stss()
    i = p.index(b"stts") - 4
    nested = p[:i] + b"\x00\x00\x00\x00" + p[i + 4 :]
    with pytest.raises(ValueError, match="top level"):
        parse_mp4(nested)
    j = p.rindex(b"mdat") - 4
    to_end = p[:j] + b"\x00\x00\x00\x00" + p[j + 4 :]
    assert parse_mp4(to_end) == parse_mp4(p)


def test_mp4_corrupt_stco_reported_as_stco_not_co64():
    # The stco->co64 fallback fires only on genuine ABSENCE: a lying
    # stco entry count must surface as an stco diagnosis, never be
    # re-reported as a missing/bad co64.
    p = _minimal_mp4_without_stss()
    i = p.index(b"stco") + 4 + 4  # fourcc, version/flags
    bad = p[:i] + (10**6).to_bytes(4, "big") + p[i + 4 :]
    with pytest.raises(ValueError, match="stco declares"):
        parse_mp4(bad)


# --------------------------------------------------------------------------
# URL canonicalization: variant-collapse contracts
# --------------------------------------------------------------------------
def test_url_canonicalization_collapses_known_variants(spark, sf_dir):
    from pse_stocks_etl_spark.plans.round16_queries import docs_url_canonicalize

    rows = {
        r["doc_id"]: r.asDict()
        for r in docs_url_canonicalize(spark, sf_dir).collect()
        if r["doc_id"] is not None and r["doc_id"] < 1000
    }
    for d, r in rows.items():
        # canonical identity is exactly (host residue, path residue,
        # rare explicit port) — every noise axis must be gone
        assert "#" not in r["canonical_url"], r
        assert "utm_" not in r["canonical_url"], r
        assert "www." not in r["canonical_url"], r
        assert ":80/" not in r["canonical_url"], r
        exp_host = f"site{d % 7}.example." + ("com" if d % 7 < 4 else "org")
        if d % 6 != 0 and d % 77 == 1:  # the :80 branch wins at d=78 etc.
            exp_host += ":8080"
        assert r["host"] == exp_host, r
        assert r["registered_domain"] == "example." + (
            "com" if d % 7 < 4 else "org"
        ), r
        assert r["tld"] == ("com" if d % 7 < 4 else "org"), r
        if d % 10 == 9:
            exp_path = f"/articles/new-{d}"
        else:
            exp_ext = {7: ".js", 8: ".jpg", 9: ".xml", 10: ""}.get(
                d % 11, ".html"
            )
            exp_path = f"/articles/{d % 11}{exp_ext}"
        exp_qs = "?page=2" if (d % 3 == 2 and d % 7 == 5) else ""
        assert r["canonical_url"] == f"http://{exp_host}{exp_path}{exp_qs}", r
    # raw variants genuinely differed before canonicalization
    assert any("WWW." in r["url"] or "#"
               in r["url"] or "utm_" in r["url"] for r in rows.values())


def test_url_dedup_groups_absorb_variants(spark, sf_dir):
    from pse_stocks_etl_spark.plans.round16_queries import docs_url_dedup

    rows = docs_url_dedup(spark, sf_dir).collect()
    groups = {r["canonical_url"]: r for r in rows if r["canonical_url"]}
    # duplicate groups exist and absorbed multiple raw spellings
    multi = [g for g in groups.values() if g["n_docs"] > 1]
    assert multi, "no duplicate canonical groups at this SF"
    assert any(g["n_variants"] > 1 for g in multi)
    for g in rows:
        assert g["n_variants"] <= g["n_docs"]


def test_domain_cap_and_canonicalize_are_map_only(spark, sf_dir):
    from pse_stocks_etl_spark.plans.round16_queries import (
        docs_url_canonicalize,
        multimodal_mp4_metadata,
    )

    for q in (docs_url_canonicalize, multimodal_mp4_metadata):
        plan = (
            q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan, (q.__name__, plan)


def test_domain_cap_hot_path_windows_only_capped_domains(spark, sf_dir):
    from pse_stocks_etl_spark.plans.round16_queries import (
        DOMAIN_CAP_K,
        docs_domain_cap,
    )

    out = docs_domain_cap(spark, sf_dir)
    counts = {}
    for r in out.collect():
        counts.setdefault(r["registered_domain"], [0, 0])
        counts[r["registered_domain"]][0] += 1
        counts[r["registered_domain"]][1] += bool(r["kept"])
    for dom, (n, kept) in counts.items():
        assert kept == min(n, DOMAIN_CAP_K), (dom, n, kept)


def test_domain_cap_salted_topk_exact_on_megadomain(spark, tmp_path):
    """The salted two-phase top-K (r9 VERDICT item 5) must pick the
    EXACT same kept set as a single global (hash, doc_id) rank, on a
    fixture where one domain owns most of the corpus (the Zipf
    megadomain case the salting exists for). doc_id % 7 picks the
    host, so ids ≡ 0 (mod 7) all land on Site0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pse_stocks_etl_spark.plans.round16_queries import (
        DOMAIN_CAP_K,
        DOMAIN_SALT_BUCKETS,
        docs_domain_cap,
        docs_url_canonicalize,
    )

    # 400 docs on Site0 (ids 0, 7, 14, ...), a handful elsewhere
    ids = [7 * i for i in range(400)] + [1, 2, 3, 9, 10]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(["word " * 5] * len(ids), pa.string()),
            "lang": pa.array(["en"] * len(ids), pa.string()),
            "source": pa.array(["s"] * len(ids), pa.string()),
            "n_chars": pa.array([25] * len(ids), pa.int64()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    out = {r["doc_id"]: r["kept"] for r in docs_domain_cap(spark, sf).collect()}
    assert len(out) == len(ids)

    # reference: single global rank per domain over the same total order
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pse_stocks_etl_spark.functions.text import portable_hash64

    c = docs_url_canonicalize(spark, sf).select("doc_id", "registered_domain")
    h = portable_hash64(F.concat(F.lit("domcap:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("registered_domain").orderBy(h.asc(), F.col("doc_id").asc())
    ref = {
        r["doc_id"]: r["kept"]
        for r in c.select(
            "doc_id", (F.row_number().over(w) <= DOMAIN_CAP_K).alias("kept")
        ).collect()
    }
    assert out == ref
    # megadomain really exceeded every salt bucket's local cap
    assert len([i for i in ids if i % 7 == 0]) > DOMAIN_SALT_BUCKETS * DOMAIN_CAP_K / 2
    # and the hot path really is two windows (salted then exact)
    plan = docs_domain_cap(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") >= 2, plan


# --------------------------------------------------------------------------
# corpus_build: stage-consistency contracts
# --------------------------------------------------------------------------
def test_corpus_build_is_consistent_with_its_stages(spark, sf_dir):
    from pse_stocks_etl_spark.plans import REGISTRY

    build = {r["doc_id"]: r.asDict()
             for r in REGISTRY["corpus_build"].fn(spark, sf_dir).collect()}
    keep = {
        r["doc_id"]
        for r in REGISTRY["docs_pipeline_keep"].fn(spark, sf_dir).collect()
        if r["keep"]
    }
    assert set(build) == keep  # exactly the survivors are packed
    split = {
        r["doc_id"]: r["split"]
        for r in REGISTRY["docs_split_assign"].fn(spark, sf_dir).collect()
    }
    from pse_stocks_etl_spark.plans.corpus_queries import PACK_CAPACITY

    shards = {}
    for d, r in build.items():
        assert r["split"] == split[d]  # split matches the stage query
        assert r["first_chunk"] == r["start_off"] // PACK_CAPACITY
        assert r["last_chunk"] >= r["first_chunk"]
        shards.setdefault((r["split"], r["source"]), []).append(r)
    # within a shard, offsets tile back-to-back with no gaps
    for rows in shards.values():
        rows.sort(key=lambda r: r["doc_id"])
        off = 0
        for r in rows:
            assert r["start_off"] == off, r
            off += r["n_tokens"]


# --------------------------------------------------------------------------
# incremental contamination: separability contract
# --------------------------------------------------------------------------
def test_incremental_contamination_equals_recompute_delta(spark, sf_dir):
    """increment (train x NEW-bench) + standing (train x OLD-bench,
    train excluding the new slice) == full recompute against both
    slices — the property that makes per-eval-suite decontamination
    sound without rescanning the corpus."""
    from pse_stocks_etl_spark.plans.corpus_queries import (
        BENCH_MOD,
        BENCH_REM,
        CONTAM_MIN_SHARED,
    )
    from pse_stocks_etl_spark.plans.llm_queries import _shingles_cached
    from pse_stocks_etl_spark.plans import REGISTRY
    from pse_stocks_etl_spark.plans.round16_queries import NEW_BENCH_REM

    import pyspark.sql.functions as F

    inc = {
        (r["doc_id"], r["bench_doc_id"], r["n_shared"])
        for r in REGISTRY["docs_incremental_contamination"]
        .fn(spark, sf_dir)
        .collect()
    }
    sh = _shingles_cached(spark, sf_dir)
    is_new = (F.col("doc_id") % BENCH_MOD) == NEW_BENCH_REM
    is_old = (F.col("doc_id") % BENCH_MOD) == BENCH_REM
    bench = sh.filter(is_new | is_old).withColumnRenamed("doc_id", "bench_doc_id")
    train = sh.filter(~is_new & ~is_old)
    full = {
        (r["doc_id"], r["bench_doc_id"], r["n_shared"])
        for r in train.join(bench, "sh")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
        .collect()
    }
    standing = {
        t for t in full if t[1] % BENCH_MOD == BENCH_REM
    }
    assert inc | standing == full
    assert inc.isdisjoint(standing)
    assert all(b % BENCH_MOD == NEW_BENCH_REM for _, b, _n in inc)


def test_incremental_contamination_broadcasts_only_the_new_slice(spark, sf_dir):
    from pse_stocks_etl_spark.plans import REGISTRY

    plan = (
        REGISTRY["docs_incremental_contamination"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles on sh


# --------------------------------------------------------------------------
# Batch 2: URL filter, incremental URL dedup, MP4 keyframe sampling
# --------------------------------------------------------------------------
def test_mp4_sample_rows_resolve_chunks_offsets_keyframes():
    from pse_stocks_etl_spark.operators.multimodal import mp4_sample_rows

    for d in (0, 5, 9, 14):
        rows = mp4_sample_rows(synth_mp4(d))
        n = 8 + d % 7
        assert len(rows) == n
        off = 0
        for i, r in enumerate(rows):
            sz = 50 + (17 * d + 31 * i) % 100
            assert r["chunk_no"] == i // 3
            assert r["size"] == sz
            assert r["is_keyframe"] == (i % 4 == 0)
            assert r["rel_offset"] == off
            off += sz


def test_url_filter_rules_and_precedence(spark, sf_dir):
    from pse_stocks_etl_spark.plans.round16_queries import docs_url_filter

    rows = [
        r.asDict()
        for r in docs_url_filter(spark, sf_dir).collect()
        if r["doc_id"] is not None
    ]
    assert any(r["drop_reason"] == "asset_extension" for r in rows)
    assert any(r["drop_reason"] == "dynamic_url" for r in rows)
    assert any(r["drop_reason"] == "nonstandard_port" for r in rows)
    assert any(r["keep"] for r in rows)
    for r in rows:
        d = r["doc_id"]
        if d % 10 != 9 and d % 11 in (7, 8, 9):  # asset ext wins first
            assert r["drop_reason"] == "asset_extension", r
        assert r["keep"] == (r["drop_reason"] is None), r


def test_incremental_url_dedup_admits_exactly_the_new_articles(spark, sf_dir):
    from pse_stocks_etl_spark.plans import REGISTRY

    admitted = {
        r["admit_id"]
        for r in REGISTRY["docs_incremental_url_dedup"].fn(spark, sf_dir).collect()
    }
    assert admitted, "recrawl admission is degenerate (0 rows)"
    # the synth's recrawl story: the genuinely-new per-doc articles in
    # the odd shard are admitted; every shared-path odd doc collides
    # with a standing canonical URL (saturated residue space) and is
    # rejected
    assert all(d % 2 == 1 and d % 10 == 9 for d in admitted)


# --------------------------------------------------------------------------
# Batch 3: CDC chunking, shard manifest, phrase match
# --------------------------------------------------------------------------
def _py_hash60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_cdc_chunks(text: str) -> list[tuple[str, int]]:
    """Independent pure-Python CDC: (chunk fingerprint, n_tokens) per
    chunk — same tokenizer contract and boundary rule, written against
    the SPEC (boundary after any token with hash%16==0), not the plan."""
    import hashlib

    from pse_stocks_etl_spark.plans.round16_queries import CDC_MOD

    toks = text.strip().lower().split()
    chunks, cur = [], []
    for t in toks:
        cur.append(t)
        if _py_hash60("cdc:" + t) % CDC_MOD == 0:
            chunks.append(cur)
            cur = []
    if cur:
        chunks.append(cur)
    return [
        (hashlib.md5(" ".join(c).encode()).hexdigest(), len(c)) for c in chunks
    ]


def test_cdc_chunks_match_pure_python_reference(spark, sf_dir):
    import pyarrow.parquet as pq

    from pse_stocks_etl_spark.plans import REGISTRY

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    texts = {
        int(i): t
        for i, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
        if t is not None and i is not None
    }
    fp_docs: dict[str, set[int]] = {}
    per_doc = {}
    for d, t in texts.items():
        ch = _py_cdc_chunks(t)
        per_doc[d] = ch
        for fp, _n in ch:
            fp_docs.setdefault(fp, set()).add(d)
    got = {
        r["doc_id"]: r.asDict()
        for r in REGISTRY["docs_cdc_chunks"].fn(spark, sf_dir).collect()
    }
    assert set(got) == set(texts)
    for d, ch in per_doc.items():
        dup = [(fp, n) for fp, n in ch if len(fp_docs[fp]) > 1]
        assert got[d]["n_chunks"] == len(ch), d
        assert got[d]["n_dup_chunks"] == len(dup), d
        assert got[d]["n_tokens"] == sum(n for _, n in ch), d
        assert got[d]["n_dup_tokens"] == sum(n for _, n in dup), d
    # the corpus genuinely exercises cross-doc chunk sharing
    assert any(v["n_dup_chunks"] > 0 for v in got.values())
    assert any(v["n_dup_chunks"] < v["n_chunks"] for v in got.values())


def test_cdc_boundaries_resynchronize_after_edits():
    # THE property that justifies CDC over fixed windows: a single
    # token inserted at the front changes only the chunks up to the
    # first boundary at/after the edit; everything after is identical.
    base = "alpha bravo charlie delta echo foxtrot golf hotel " * 20
    edited = "inserted " + base
    a = _py_cdc_chunks(base)
    b = _py_cdc_chunks(edited)
    # compare as multisets of fingerprints: all but O(1) chunks shared
    from collections import Counter

    ca, cb = Counter(fp for fp, _ in a), Counter(fp for fp, _ in b)
    shared = sum((ca & cb).values())
    assert shared >= len(a) - 1, (len(a), len(b), shared)


def test_shard_manifest_windows_are_full_except_the_tail(spark, sf_dir):
    from pse_stocks_etl_spark.plans.corpus_queries import PACK_CAPACITY
    from pse_stocks_etl_spark.plans import REGISTRY

    rows = REGISTRY["corpus_shard_manifest"].fn(spark, sf_dir).collect()
    last = {}
    for r in rows:
        key = (r["split"], r["source"])
        last[key] = max(last.get(key, -1), r["chunk_no"])
    for r in rows:
        if r["chunk_no"] < last[(r["split"], r["source"])]:
            assert r["n_tokens"] == PACK_CAPACITY, r
        else:
            assert 0 < r["n_tokens"] <= PACK_CAPACITY, r
        assert r["n_docs"] >= 1


def test_phrase_match_counts_against_pure_python(spark, sf_dir):
    import pyarrow.parquet as pq

    from pse_stocks_etl_spark.plans import REGISTRY
    from pse_stocks_etl_spark.plans.round16_queries import PHRASE

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    exp = {}
    for i, t in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        if t is None or i is None:
            continue
        toks = t.strip().lower().split()
        hits = [
            p + 1
            for p in range(len(toks) - 1)
            if toks[p] == PHRASE[0] and toks[p + 1] == PHRASE[1]
        ]
        if hits:
            exp[int(i)] = (len(hits), hits[0])
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in REGISTRY["docs_phrase_match"].fn(spark, sf_dir).collect()
    }
    assert got == exp and exp, (len(got), len(exp))


def test_cdc_plan_scans_the_corpus_exactly_once(spark, sf_dir):
    # The first draft used groupBy(fp)+join, which made Catalyst
    # compute the whole explode/window subtree TWICE (two parquet
    # scans). The count-window form must keep it at one scan and
    # introduce no join.
    from pse_stocks_etl_spark.plans.round16_queries import docs_cdc_chunks

    plan = (
        docs_cdc_chunks(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


# --------------------------------------------------------------------------
# Batch 4: content drift, multimodal pair curation
# --------------------------------------------------------------------------
def test_url_content_drift_flags_multi_version_urls(spark, sf_dir):
    from pse_stocks_etl_spark.plans import REGISTRY

    rows = REGISTRY["docs_url_content_drift"].fn(spark, sf_dir).collect()
    by_url = {r["canonical_url"]: r for r in rows if r["canonical_url"]}
    assert any(r["changed"] for r in by_url.values())
    for r in by_url.values():
        assert 1 <= r["n_versions"] <= r["n_crawls"]
        assert r["changed"] == (r["n_versions"] > 1)
    # drift and url-dedup agree on the crawl counts per canonical URL
    dd = {
        r["canonical_url"]: r["n_docs"]
        for r in REGISTRY["docs_url_dedup"].fn(spark, sf_dir).collect()
        if r["canonical_url"]
    }
    assert {u: r["n_crawls"] for u, r in by_url.items()} == dd


def test_pair_filter_rules_and_reason_precedence(spark, sf_dir):
    from pse_stocks_etl_spark.plans import REGISTRY
    from pse_stocks_etl_spark.plans.round16_queries import (
        PAIR_MAX_DURATION,
        PAIR_MAX_TOKENS,
        PAIR_MIN_TOKENS,
    )

    rows = [
        r.asDict()
        for r in REGISTRY["multimodal_pair_filter"].fn(spark, sf_dir).collect()
    ]
    assert any(r["admit"] for r in rows)
    assert any(r["drop_reason"] == "duration" for r in rows)
    assert any(r["drop_reason"] == "aspect" for r in rows)
    for r in rows:
        d = r["doc_id"]
        # duration must equal the MP4 container's mdhd total (lattice)
        n = 8 + d % 7
        exp_dur = sum(
            (100 if i < n // 2 else 120) + d % 9 for i in range(n)
        )
        assert r["duration"] == exp_dur, r
        if r["lang"] != "en":
            assert r["drop_reason"] == "lang" and not r["admit"], r
        elif not (PAIR_MIN_TOKENS <= r["n_tokens"] <= PAIR_MAX_TOKENS):
            assert r["drop_reason"] == "text_length" and not r["admit"], r
        elif r["duration"] > PAIR_MAX_DURATION:
            assert r["drop_reason"] == "duration" and not r["admit"], r
        w, h = 16 * (4 + d % 5), 16 * (3 + d % 4)
        if r["drop_reason"] is None:
            assert r["admit"] and w * 3 >= h * 4, r


# --------------------------------------------------------------------------
# Batch 5: robots.txt longest-match, WARC record walk
# --------------------------------------------------------------------------
def test_robots_longest_match_allow_overrides_disallow(spark, sf_dir):
    from pse_stocks_etl_spark.plans import REGISTRY

    rows = [
        r.asDict()
        for r in REGISTRY["docs_robots_filter"].fn(spark, sf_dir).collect()
        if r["doc_id"] is not None
    ]
    assert any(not r["crawlable"] for r in rows)
    assert any(r["crawlable"] and r["matched_rule"] is None for r in rows)
    carved = [
        r
        for r in rows
        if r["matched_rule"] and r["matched_rule"].endswith(".html")
    ]
    # the Allow carved out INSIDE a Disallowed prefix: only correct
    # longest-match resolution reaches it
    assert carved and all(r["crawlable"] for r in carved)
    for r in rows:
        d = r["doc_id"]
        hr = d % 7
        if d % 10 == 9:  # new- article space
            exp = hr % 3 == 0 and not r["crawlable"] or hr % 3 != 0 and r["crawlable"]
            assert exp, r
        elif d % 11 == hr:  # own-residue path: blocked unless .html carve-out
            if hr % 2 == 0 and r["path"].endswith(".html"):
                assert r["crawlable"], r
            else:
                assert not r["crawlable"], r


def test_warc_truncation_and_framing_fail_loudly():
    import pytest

    from pse_stocks_etl_spark.operators.multimodal import parse_warc, synth_warc

    p = synth_warc(7)
    # record boundaries are the ONE legal truncation point (a prefix of
    # concatenated records is itself a valid WARC file — that's what
    # self-delimiting framing means); every cut INSIDE a record fails
    bounds, pos = set(), 0
    while pos < len(p):
        end_hdr = p.find(b"\r\n\r\n", pos)
        clen = int(p[p.index(b"Content-Length: ", pos) + 16 : end_hdr].split(b"\r\n")[0])
        pos = end_hdr + 4 + clen + 4
        bounds.add(pos)
    assert len(p) in bounds and len(bounds) == 2 + 7 % 3
    for cut in range(1, len(p)):
        if cut in bounds:
            assert parse_warc(p[:cut])["n_records"] >= 1
            continue
        with pytest.raises(ValueError):
            parse_warc(p[:cut])
    with pytest.raises(ValueError, match="version"):
        parse_warc(b"WARC/0.9\r\n\r\n\r\n\r\n")
    # lying Content-Length: framing must break loudly, not resync
    i = p.index(b"Content-Length: ")
    j = p.index(b"\r\n", i)
    bad = p[:i] + b"Content-Length: 9999" + p[j:]
    with pytest.raises(ValueError, match="truncated|separator"):
        parse_warc(bad)
    with pytest.raises(ValueError, match="empty"):
        parse_warc(b"")


def test_warc_roundtrip_matches_lattice():
    from pse_stocks_etl_spark.operators.multimodal import parse_warc, synth_warc

    for d in range(40):
        m = parse_warc(synth_warc(d))
        n = 2 + d % 3
        lens = [40 + (13 * d + 29 * i) % 80 for i in range(n)]
        assert m["n_records"] == n and m["sum_content_bytes"] == sum(lens)
        assert m["n_responses"] + m["n_requests"] == n


# --------------------------------------------------------------------------
# Batch 6: .warc.gz member walk, HTML extraction
# --------------------------------------------------------------------------
def test_warc_gz_members_match_uncompressed_walk():
    from pse_stocks_etl_spark.operators.multimodal import (
        parse_warc,
        parse_warc_gz,
        synth_warc,
        synth_warc_gz,
    )

    for d in range(30):
        m = parse_warc_gz(synth_warc_gz(d))
        base = parse_warc(synth_warc(d))
        assert m.pop("n_members") == base["n_records"]
        assert m == base, d


def test_warc_gz_corruption_fails_loudly():
    import pytest

    from pse_stocks_etl_spark.operators.multimodal import (
        parse_warc_gz,
        synth_warc_gz,
    )

    p = synth_warc_gz(5)
    # flip a byte mid-member: CRC32 must catch it
    bad = bytearray(p)
    bad[len(p) // 2] ^= 0xFF
    with pytest.raises(ValueError, match="corrupt|truncated|version|separator|header"):
        parse_warc_gz(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        parse_warc_gz(p[: len(p) - 3])
    with pytest.raises(ValueError, match="empty"):
        parse_warc_gz(b"")
    # a member holding TWO records violates the CommonCrawl contract
    import zlib

    from pse_stocks_etl_spark.operators.multimodal import synth_warc

    co = zlib.compressobj(9, zlib.DEFLATED, 31)
    two = co.compress(synth_warc(0)) + co.flush()  # doc 0 has 2 records
    with pytest.raises(ValueError, match="expected 1"):
        parse_warc_gz(two)


def test_html_extract_recovers_every_document(spark, sf_dir):
    from pse_stocks_etl_spark.plans import REGISTRY

    rows = REGISTRY["docs_html_extract"].fn(spark, sf_dir).collect()
    non_null = [r for r in rows if r["recovered"] is not None]
    assert non_null and all(r["recovered"] for r in non_null)
    for r in non_null:
        assert r["n_chars_html"] > r["n_chars_text"]


def test_html_extract_order_dependency_is_real(spark):
    # tag-strip-FIRST leaves script fragments: the bare '<' inside the
    # script body breaks the naive pass — proving the query's
    # script-blocks-first order is load-bearing, not stylistic.
    import pyspark.sql.functions as F

    html = "<html><head><script>if(x<y){z=1;}</script></head><body><p>hi</p></body></html>"
    df = spark.range(1).select(F.lit(html).alias("h"))
    naive = df.select(
        F.regexp_replace(
            F.regexp_replace("h", r"<[^>]*>", ""), r"<script>.*?</script>", ""
        ).alias("t")
    ).first()["t"]
    correct = df.select(
        F.regexp_replace(
            F.regexp_replace("h", r"<script>.*?</script>", ""), r"<[^>]*>", ""
        ).alias("t")
    ).first()["t"]
    assert correct == "hi"
    assert naive != "hi" and "if(x" in naive


# --------------------------------------------------------------------------
# Batch 7: UTF-8 validation, MIME census
# --------------------------------------------------------------------------
def test_utf8_state_machine_matches_cpython_decoder():
    from pse_stocks_etl_spark.operators.multimodal import (
        synth_utf8,
        validate_utf8,
    )

    # synth classes
    for d in range(60):
        p = synth_utf8(d)
        m = validate_utf8(p)
        try:
            s = p.decode("utf-8")
            py_valid = True
        except UnicodeDecodeError:
            py_valid = False
        assert m["valid"] == py_valid, (d, m)
        if py_valid:
            assert m["n_codepoints"] == len(s)
            assert m["n_multibyte"] == sum(1 for ch in s if ord(ch) >= 0x80)
    # exhaustive 2-byte leading space
    for b0 in range(0xC0, 0xE0):
        for b1 in range(0x100):
            p = bytes((b0, b1))
            try:
                p.decode("utf-8")
                py = True
            except UnicodeDecodeError:
                py = False
            assert validate_utf8(p)["valid"] == py, p.hex()
    # structured 3/4-byte boundary sweep (E0/ED/F0/F4 special rows)
    for b0 in (0xE0, 0xE1, 0xED, 0xEF, 0xF0, 0xF2, 0xF4, 0xF5, 0xFF):
        for b1 in (0x7F, 0x80, 0x8F, 0x90, 0x9F, 0xA0, 0xBF, 0xC0):
            for b2 in (0x7F, 0x80, 0xBF, 0xC0):
                for b3 in ((), (0x80,), (0xC0,)):
                    p = bytes((b0, b1, b2) + b3)
                    try:
                        p.decode("utf-8")
                        py = True
                    except UnicodeDecodeError:
                        py = False
                    assert validate_utf8(p)["valid"] == py, p.hex()


def test_utf8_defect_offsets_and_kinds():
    from pse_stocks_etl_spark.operators.multimodal import validate_utf8

    assert validate_utf8(b"ok\xc0\xafok")["defect"] == "overlong"
    assert validate_utf8(b"ok\xc0\xafok")["defect_at"] == 2
    assert validate_utf8(b"\xed\xa0\x80")["defect"] == "surrogate"
    assert validate_utf8(b"a\xe2\x82")["defect"] == "truncated"
    assert validate_utf8(b"\x80")["defect"] == "bare_continuation"
    assert validate_utf8(b"\xf4\x90\x80\x80")["defect"] == "out_of_range"
    ok = validate_utf8("héllo 𝄞".encode())
    assert ok["valid"] and ok["defect_at"] == -1 and ok["n_multibyte"] == 2


def test_mime_census_routes_every_modality():
    from pse_stocks_etl_spark.operators.multimodal import (
        sniff_mime,
        synth_gif,
        synth_mp4,
        synth_warc,
        synth_warc_gz,
    )

    assert sniff_mime(synth_mp4(3)) == "video/mp4"
    assert sniff_mime(synth_warc(3)) == "application/warc"
    assert sniff_mime(synth_warc_gz(3)) == "application/gzip"
    assert sniff_mime(synth_gif(3)) == "image/gif"
    assert sniff_mime(b"\x00nope") == "application/octet-stream"


# --------------------------------------------------------------------------
# Property tests (hypothesis): the validators against their specs
# --------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=24))
def test_utf8_validator_agrees_with_cpython_on_random_bytes(p):
    from pse_stocks_etl_spark.operators.multimodal import validate_utf8

    try:
        s = p.decode("utf-8")
        py_valid = True
    except UnicodeDecodeError:
        py_valid = False
    m = validate_utf8(p)
    assert m["valid"] == py_valid, p.hex()
    if py_valid:
        assert m["n_codepoints"] == len(s)
        assert m["n_multibyte"] == sum(1 for ch in s if ord(ch) >= 0x80)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=16))
def test_utf8_validator_accepts_every_real_unicode_string(s):
    from pse_stocks_etl_spark.operators.multimodal import validate_utf8

    m = validate_utf8(s.encode("utf-8"))
    assert m["valid"] and m["n_codepoints"] == len(s)


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=10**6))
def test_warc_gz_equals_uncompressed_for_any_doc_id(d):
    from pse_stocks_etl_spark.operators.multimodal import (
        parse_warc,
        parse_warc_gz,
        synth_warc,
        synth_warc_gz,
    )

    m = parse_warc_gz(synth_warc_gz(d))
    base = parse_warc(synth_warc(d))
    assert m.pop("n_members") == base["n_records"]
    assert m == base


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.sampled_from("alpha bravo charlie delta echo".split()),
             min_size=1, max_size=120),
    st.integers(min_value=0, max_value=120),
)
def test_cdc_resynchronizes_after_any_single_insertion(tokens, at):
    # CDC's defining property, for ANY text and ANY edit position:
    # chunks strictly after the boundary-chunk containing the edit are
    # byte-identical (boundaries depend only on local content).
    from collections import Counter

    at = min(at, len(tokens))
    edited = tokens[:at] + ["zulu"] + tokens[at:]
    a = _py_cdc_chunks(" ".join(tokens))
    b = _py_cdc_chunks(" ".join(edited))
    ca, cb = Counter(fp for fp, _ in a), Counter(fp for fp, _ in b)
    # at most ONE chunk of the original is lost (the edited chunk)
    assert sum((ca - cb).values()) <= 1, (tokens, at)
