"""Every documents-only registry query, Spark vs DuckDB, on a
corpus CONTAINING A NULL text row. The testdata has no NULL texts
today — but it has changed between rounds before (the r4 timestamp-unit
collapse), and the r4 ADVICE found exactly this class of latent
divergence (Spark collect_set drops NULLs, DuckDB lists count them).
This test makes the whole docs surface NULL-regeneration-proof instead
of pinning three hand-picked queries (tests/test_round8.py).

Mechanically selected: every query whose oracle references documents
and no other table — a new docs query joins this matrix automatically."""

from __future__ import annotations

import re

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pse_stocks_etl_spark import plans
from pse_stocks_etl_spark.schemas import TESTDATA_TABLES
from pse_stocks_etl_spark.testing import compare_overlapped


def _docs_only_queries():
    out = []
    for name, q in plans.REGISTRY.items():
        if q.oracle is None:
            continue
        used = {t for t in TESTDATA_TABLES if re.search(rf"\b{t}\b", q.oracle)}
        if used == {"documents"}:
            out.append((name, q))
    return out

DOCS_ONLY = _docs_only_queries()

TEXTS = [
    "alpha beta gamma delta epsilon zeta eta theta",
    None,
    "alpha beta gamma delta epsilon zeta eta theta",
    "one two three four five six seven eight nine ten",
    "",
    # rows 6-7: NULL source (r5 ADVICE — docs_source_cap's routing joins
    # dropped NULL-source docs while the oracle's PARTITION BY kept them;
    # two rows so the NULL-source "partition" is non-trivial), row 7
    # also NULL lang
    "six quick brown foxes jump over the lazy dog",
    "pack my box with five dozen liquor jugs",
    # row 8: multibyte text — accents, CJK, an astral-plane emoji, and
    # an uppercase accent for the lower() path. Pins UTF-8 md5 hashing,
    # code-point length() semantics, and unicode case folding as
    # engine-identical across the whole docs surface (neither engine's
    # behavior is exercised by the ASCII testdata).
    "héllo wörld Héllo 漢字 漢字 🚀 héllo wörld",
]
LANGS = ["en", "de", "en", "es", "fr", "en", None, "de"]
SOURCES = ["s1", "s1", "s2", "s2", "s3", None, None, "s3"]


@pytest.fixture(scope="module")
def null_corpus(tmp_path_factory):
    path = tmp_path_factory.mktemp("nulldocs")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(TEXTS) + 1), pa.int64()),
                "text": pa.array(TEXTS, pa.string()),
                "lang": pa.array(LANGS, pa.string()),
                "source": pa.array(SOURCES, pa.string()),
                "n_chars": pa.array([len(t or "") for t in TEXTS], pa.int64()),
            }
        ),
        str(path / "documents.parquet"),
    )
    return str(path)


@pytest.fixture(scope="module")
def duck(null_corpus):
    from conftest import capped_duck

    con = capped_duck()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{null_corpus}/documents.parquet'"
    )
    return con


def test_matrix_is_nontrivial():
    assert len(DOCS_ONLY) >= 35, [n for n, _ in DOCS_ONLY]


@pytest.mark.parametrize("name,q", DOCS_ONLY, ids=[n for n, _ in DOCS_ONLY])
def test_null_text_parity(spark, duck, null_corpus, name, q):
    from pse_stocks_etl_spark.plans.llm_queries import clear_working_set_caches

    clear_working_set_caches()  # caches are keyed by sf_dir, but stay hygienic
    # r13: the whole Spark side and the Duck oracle overlap on two threads
    problems = compare_overlapped(lambda: q.fn(spark, null_corpus), duck, q.oracle)
    assert not problems, (name, problems)
