"""Round-12 guards: the C4 line-dedup transform must keep the plan
shape its docstring claims (one hash-only corpus exchange, broadcast
join-back, zero Python), and the LEFT SEMI stream-stream join must
emit each matched click exactly once — including when the match
arrives in a later microbatch, and when MULTIPLE purchases match.
Value parity runs through tests/test_parity.py like every registry
query; this file pins what the oracle cannot see."""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import functions as F

from pse_stocks_etl_spark.plans import round12_queries
from pse_stocks_etl_spark.plans import REGISTRY

from conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    jvm = spark._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_line_dedup_plan_shape(spark):
    """docs_line_dedup: text-null filter pushed to the scan (checked on
    the segmentation subtree — the r12 checkpoint of the shared base
    truncates the full query's plan to a LogicalRDD, so the scan lives
    in the checkpoint's source plan); the ONLY corpus-sized exchange
    carries the 60-bit segment hash (both window functions share it);
    the removal aggregate partial-combines before its (much smaller)
    exchange; the join-back broadcasts; no Python, no cartesian
    anything."""
    seg_plan = spark._jvm.PythonSQLUtils.explainString(
        round12_queries._doc_segments(spark, SF_DIR)._jdf.queryExecution(),
        "formatted",
    )
    assert "PushedFilters: [IsNotNull(text)]" in seg_plan
    plan = _plan(spark, "docs_line_dedup")
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) == 2, f"expected 2 data exchanges, saw {len(exchanges)}"
    # the corpus exchange must partition on the segment hash, not text
    assert re.search(r"hashpartitioning\(h#\d+L", plan)
    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "BroadcastHashJoin" in plan
    assert "partial_collect_list" in plan, "removal agg must map-side combine"
    for bad in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_line_dedup_untouched_docs_round_trip(spark):
    """Docs with zero removed segments must reassemble to EXACTLY the
    original text — the reassembly path (split → segment → index
    filter → re-join) is lossless when nothing is excised."""
    out = REGISTRY["docs_line_dedup"].fn(spark, SF_DIR)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    joined = (
        out.filter(F.col("n_removed") == 0)
        .join(docs.select("doc_id", "text"), "doc_id")
        .select((F.col("clean_text") == F.col("text")).alias("same"))
    )
    rows = joined.collect()
    assert rows, "fixture should contain untouched docs"
    assert all(r.same for r in rows)
    # and accounting stays consistent on every row
    bad = out.filter(
        (F.col("n_removed") > F.col("n_segs"))
        | ((F.col("n_removed") == 0) & (F.col("removed_chars") != 0))
    ).count()
    assert bad == 0


def test_incremental_line_dedup_plan_shape(spark):
    """Incremental form: the shard's window df shares one hash
    exchange; the standing distinct-doc aggregate two-phases (its
    (h, doc) + h exchanges are the maintained-state build, amortized
    at ingest in production); both join-backs broadcast; no Python,
    no cartesian anything."""
    plan = _plan(spark, "docs_incremental_line_dedup")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 2
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "BatchEvalPython",
                "ArrowEvalPython", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_emb_vector_audit_plan_is_one_scan_one_combine(spark):
    """The ingest gate must cost one scan: partial aggregate at the
    scan, a single 1-row combine exchange, zero joins, zero Python —
    every corruption classifier is a JVM higher-order expression."""
    plan = _plan(spark, "emb_vector_audit")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert "Join" not in plan
    assert "Generate" not in plan, "classifiers must not explode the vectors"
    for bad in ("BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, bad


def test_semi_join_emits_each_click_once_across_batches(spark, tmp_path):
    """LEFT SEMI stream-stream interval join: a click with TWO matching
    purchases in one batch emits ONCE; a click whose first match
    arrives in a LATER microbatch emits then (once); a never-matched
    click never emits. No watermark wait for emission — membership is
    provable the moment a match arrives."""
    from pse_stocks_etl_spark.streaming.incremental import (
        interval_join_clicks,
        stream_events,
    )

    HOUR = 3_600 * 10**6
    T0 = 1_700_000_000 * 10**6

    def rows(*specs):
        return spark.createDataFrame(
            [
                (eid, T0 + int(h * HOUR), uid, etype, 1.0, "{}")
                for eid, h, uid, etype in specs
            ],
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )

    batches = [
        # c1 (user 1): TWO in-window purchases → one emission.
        # c4 (user 2): no purchase yet → nothing.
        # c5 (user 3): never matches → nothing, ever.
        rows((1, 0.0, 1, "click"), (2, 0.5, 1, "purchase"),
             (3, 0.6, 1, "purchase"), (4, 0.2, 2, "click"),
             (5, 0.1, 3, "click")),
        # user-2 purchase arrives one batch later, still in-window
        # (0.2h click + 6h horizon) → c4 emits now.
        rows((6, 1.0, 2, "purchase")),
    ]

    src = str(tmp_path / "sjoin_src")
    os.makedirs(src)
    q = None
    name = f"sjoin_out_{uuid.uuid4().hex[:8]}"
    counts = []
    try:
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(src, f"batch_{i}")
            )
            if q is None:
                joined = interval_join_clicks(
                    stream_events(spark, src + "/*"), join_type="left_semi"
                )
                q = (
                    joined.writeStream.outputMode("append")
                    .format("memory")
                    .queryName(name)
                    .option("checkpointLocation", str(tmp_path / "ck_sj"))
                    .start()
                )
            q.processAllAvailable()
            counts.append(spark.table(name).count())
    finally:
        if q is not None:
            q.stop()

    got = sorted(
        (r.user_id, r.click_id) for r in spark.table(name).collect()
    )
    assert got == [(1, 1), (2, 4)]
    assert counts == [1, 2], "c1 once in batch 0; c4 exactly once in batch 1"


def test_rag_index_plan_has_no_centroid_fanout(spark):
    """rag_chunk_ivf_index: the oracle's CROSS JOIN against the 16
    centroids is the readable spec ONLY — the plan must do a per-row
    JVM argmin (no join of any kind, no Generate beyond the chunker's
    own explode) with exactly the two aggregate exchanges of the
    16-cell distinct-doc rollup."""
    plan = _plan(spark, "rag_chunk_ivf_index")
    for bad in ("Join", "CartesianProduct", "BatchEvalPython",
                "ArrowEvalPython"):
        assert bad not in plan, bad
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, "only the chunk explode"


def test_emb_vector_audit_on_corrupt_fixture(spark, tmp_path):
    """The embeddings ingest-contract audit must classify every
    corruption class a 100 TB feed can contain — NULL, empty,
    wrong-dimension, NaN, Inf (and a NaN+Inf row counted in BOTH
    classes) — identically on Spark and DuckDB. Real testdata audits
    clean; this fixture is where the contract is actually exercised."""
    import duckdb

    from pse_stocks_etl_spark.plans.llm_queries import EMB_DIM
    from pse_stocks_etl_spark.testing import compare

    good = [0.5] * EMB_DIM
    vecs = [
        good,                                   # valid
        good,                                   # valid
        None,                                   # NULL vector
        [],                                     # empty
        [0.5] * 8,                              # wrong dim
        good[:-1] + [float("nan")],             # NaN
        good[:-1] + [float("inf")],             # +Inf
        [float("-inf")] + good[1:-1] + [float("nan")],  # NaN AND Inf
    ]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([1] * len(vecs), pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    q = REGISTRY["emb_vector_audit"]
    sdf = q.fn(spark, str(tmp_path))
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    rel = con.sql(q.oracle)
    problems = compare(
        sdf.columns, [tuple(r) for r in sdf.collect()], rel.columns, rel.fetchall()
    )
    assert not problems, problems
    row = sdf.collect()[0]
    assert (
        row.n_vecs, row.n_null_vec, row.n_empty, row.n_wrong_dim,
        row.n_nan, row.n_inf, row.n_valid,
    ) == (8, 1, 1, 1, 2, 2, 2)


def test_lsh_recall_oracle_does_not_poison_the_connection():
    """Same DuckDB-1.0 regression class as the emb recall oracle
    (tests/test_round10.py): a composed oracle must run, be followed
    by the heaviest dedup oracles, and run again — all on ONE
    connection, like the driver does. The compact shared-CTE rewrite
    exists exactly for this."""
    from pse_stocks_etl_spark import plans
    from pse_stocks_etl_spark.testing import duck_connection

    con = duck_connection("/root/testdata/sf0.001")
    recall = REGISTRY["docs_lsh_recall_report"].oracle
    con.sql(recall).fetchall()
    for name in ("docs_minhash_lsh_pairs", "docs_ngram_jaccard_pairs",
                 "docs_near_dup_clusters", "docs_simhash"):
        con.sql(plans.REGISTRY[name].oracle).fetchall()
    assert len(con.sql(recall).fetchall()) == 1
    con.close()


def test_recall_report_detects_exact_baseline_blindspot(spark, tmp_path):
    """120 identical docs push every shingle's df past NGRAM_DF_CAP, so
    the exact baseline drops its whole working set and reports ZERO
    pairs — while LSH (whose verify stage uses the uncapped sets)
    still finds all C(120,2). The report must expose that asymmetry
    (n_only_lsh = 7140, n_exact = 0) and the recall division must
    guard the empty-truth corpus with NULL — on BOTH engines."""
    import duckdb

    from pse_stocks_etl_spark.testing import compare

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [text] * 120 + ["one two three four five six", "seven eight nine ten"]
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches

    clear_working_set_caches()  # shingle caches key on sf_dir, but stay tidy
    try:
        q = REGISTRY["docs_lsh_recall_report"]
        sdf = q.fn(spark, str(tmp_path))
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
        )
        rel = con.sql(q.oracle)
        problems = compare(
            sdf.columns, [tuple(r) for r in sdf.collect()],
            rel.columns, rel.fetchall(),
        )
        assert not problems, problems
        row = sdf.collect()[0]
        assert row.n_exact == 0
        assert row.n_lsh == row.n_only_lsh == 120 * 119 // 2
        assert row.recall_vs_exact_pct is None
    finally:
        clear_working_set_caches()


def test_rag_index_matches_python_model(spark, tmp_path):
    """Independent re-derivation of the full chunk→embed→assign→rollup
    pipeline with hashlib + pure python (different algorithm than both
    the Spark array_min plan and the oracle's CROSS JOIN + QUALIFY):
    chunking arithmetic, md5-dim extraction, integer squared-L2 argmin
    with smallest-cell tiebreak, and the per-cell distinct-doc rollup
    must all agree."""
    import hashlib
    from collections import defaultdict

    from pse_stocks_etl_spark.plans.round12_queries import (
        RAG_DIM,
        _rag_centroids,
    )
    from pse_stocks_etl_spark.plans.round9_queries import CHUNK_S, CHUNK_W

    texts = {
        0: "alpha beta gamma " * 30,          # multi-chunk doc
        1: "alpha beta gamma " * 30,          # exact twin → same cells
        2: "one two",                         # single short chunk
        3: "delta " * 200,                    # long repetitive doc
    }
    n = len(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array([texts[i] for i in range(n)], pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array([len(texts[i]) for i in range(n)], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )

    cents = _rag_centroids()
    agg = defaultdict(lambda: [0, set(), 0])  # cell -> [n_chunks, docs, sumd]
    for d, t in texts.items():
        toks = t.strip().lower().split()
        n_chunks = -(-max(len(toks) - (CHUNK_W - CHUNK_S), 1) // CHUNK_S)
        for i in range(n_chunks):
            chunk = " ".join(toks[i * CHUNK_S : i * CHUNK_S + CHUNK_W])
            md5 = hashlib.md5(chunk.encode()).hexdigest()
            emb = [int(md5[3 * j : 3 * j + 3], 16) for j in range(RAG_DIM)]
            best = min(
                (sum((e - c) ** 2 for e, c in zip(emb, row)), cell)
                for cell, row in enumerate(cents)
            )
            a = agg[best[1]]
            a[0] += 1
            a[1].add(d)
            a[2] += best[0]
    expected = {
        cell: (v[0], len(v[1]), v[2]) for cell, v in agg.items()
    }
    got = {
        r.cell: (r.n_chunks, r.n_docs, r.sum_sqdist)
        for r in REGISTRY["rag_chunk_ivf_index"].fn(spark, str(tmp_path)).collect()
    }
    assert got == expected


# ------------------------------------------------- line-dedup model --
from collections import defaultdict  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from pse_stocks_etl_spark.plans.round12_queries import LINE_DF_T, LINE_K  # noqa: E402

_HYP = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _line_dedup_model(texts: dict[int, str]):
    """Pure-python re-derivation with a different algorithm than both
    the Spark plan (hash window) and the oracle (text group-join)."""
    segs = {
        d: [
            " ".join(ws[i * LINE_K:(i + 1) * LINE_K])
            for ws in [t.split(" ")]
            for i in range((len(ws) + LINE_K - 1) // LINE_K)
        ]
        for d, t in texts.items()
        if t is not None
    }
    docs_of = defaultdict(set)
    for d, ss in segs.items():
        for s in ss:
            docs_of[s].add(d)
    return {
        d: (
            len(ss),
            sum(1 for s in ss if len(docs_of[s]) >= LINE_DF_T),
            sum(len(s) for s in ss if len(docs_of[s]) >= LINE_DF_T),
            " ".join(s for s in ss if len(docs_of[s]) < LINE_DF_T),
        )
        for d, ss in segs.items()
    }


@given(
    corpora=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.sampled_from(["a", "b", "cc", ""]), min_size=0, max_size=11
            ).map(" ".join),
        ),
        min_size=1,
        max_size=9,
    )
)
@settings(**_HYP)
def test_line_dedup_matches_python_model(spark, tmp_path_factory, corpora):
    """Tiny 3-word alphabet forces heavy cross-doc segment collisions
    (the regime the sf fixtures barely reach); empty words exercise the
    multi-space round-trip; NULL texts must drop out entirely."""
    texts = dict(enumerate(corpora))
    path = tmp_path_factory.mktemp("linededup")
    n = len(corpora)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(corpora, pa.string()),
                "lang": pa.array(["en"] * n, pa.string()),
                "source": pa.array(["s"] * n, pa.string()),
                "n_chars": pa.array(
                    [len(t) if t is not None else 0 for t in corpora], pa.int64()
                ),
            }
        ),
        str(path / "documents.parquet"),
    )
    out = {
        r.doc_id: (r.n_segs, r.n_removed, r.removed_chars, r.clean_text)
        for r in REGISTRY["docs_line_dedup"].fn(spark, str(path)).collect()
    }
    expected = _line_dedup_model(texts)
    assert out == expected
    # Incremental invariant: standing-df + shard-df = total distinct-doc
    # df, so the crawl-increment form must agree with the batch model
    # restricted to the shard (odd doc_ids) — same threshold, same
    # reassembly, cost scoped to the increment.
    inc = {
        r.doc_id: (r.n_segs, r.n_removed, r.removed_chars, r.clean_text)
        for r in REGISTRY["docs_incremental_line_dedup"].fn(spark, str(path)).collect()
    }
    assert inc == {d: v for d, v in expected.items() if d % 2 == 1}
