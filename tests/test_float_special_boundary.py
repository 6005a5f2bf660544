"""Float-special and NULL-ordering boundary: where Spark and the
DuckDB oracle agree on IEEE specials, and the two known divergences —
PINNED (the companion of tests/test_unicode_case_boundary.py).

The events.value column is engine-generated clean doubles today, but
a real 100 TB feed carries NaN/±Inf/-0.0 and divide-by-zero shapes.
Probed empirically (2026-08, Spark 4.1.2 ANSI mode / bundled DuckDB):

AGREE (asserted below): SUM/MIN/MAX over {NaN, ±Inf, NULL} (both
treat NaN as the GREATEST double — max returns NaN, min returns
-Inf); NaN = NaN is TRUE in both (SQL total-order semantics, not IEEE
reflexivity); NaN forms ONE group key; ascending sort places NaN
after +Inf in both; -0.0 and 0.0 normalize to a single group key and
compare equal.

DIVERGE (pinned verbatim):
  1. x / 0: Spark under ANSI mode (the 4.x default this engine runs)
     RAISES DIVIDE_BY_ZERO; DuckDB returns NULL — for DOUBLE inputs
     too (no IEEE Inf). Engine stance: every division in a registered
     plan guards its denominator (greatest(x, 1), NULLIF, or a
     by-construction-positive count), so the divergence can never
     reach the oracle gate.
  2. Default NULL ordering: Spark ORDER BY ... ASC is NULLS FIRST,
     DuckDB is NULLS LAST. Engine stance: rank/row_number windows
     order by non-null keys (NOT NULL by schema or filtered); any
     future window over a nullable key must spell NULLS FIRST/LAST
     explicitly in BOTH plan and oracle.
"""

from __future__ import annotations

import math

import pytest

NAN, INF = float("nan"), float("inf")
ROWS = [(1, 1.0), (2, NAN), (3, INF), (4, -INF), (5, None), (6, 2.0)]


@pytest.fixture(scope="module")
def duck_t():
    from conftest import capped_duck

    con = capped_duck()
    con.execute("CREATE TABLE specials(id BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO specials VALUES (?, ?)", ROWS)
    return con


@pytest.fixture(scope="module")
def spark_t(spark):
    df = spark.createDataFrame(ROWS, "id long, v double")
    df.createOrReplaceTempView("specials")
    return spark


AGG_SQL = """
SELECT count(v) AS c,
       min(v) AS mn, max(v) AS mx,
       sum(CASE WHEN v = v THEN 1 ELSE 0 END) AS self_eq,
       sum(CASE WHEN isnan(v) THEN 1 ELSE 0 END) AS n_nan
FROM specials
"""


def test_nan_inf_aggregation_agrees(spark_t, duck_t):
    sp = tuple(spark_t.sql(AGG_SQL).collect()[0])
    dk = duck_t.sql(AGG_SQL).fetchone()
    # max is NaN on both: compare with NaN-aware equality
    assert sp[0] == dk[0] == 5
    assert sp[1] == dk[1] == -INF
    assert math.isnan(sp[2]) and math.isnan(dk[2])  # NaN > +Inf in max
    assert sp[3] == dk[3] == 5  # NaN = NaN is TRUE (SQL total order)
    assert sp[4] == dk[4] == 1


def test_nan_sorts_after_infinity_on_both(spark_t, duck_t):
    q = "SELECT id FROM specials WHERE v IS NOT NULL ORDER BY v, id"
    sp = [r["id"] for r in spark_t.sql(q).collect()]
    dk = [r[0] for r in duck_t.sql(q).fetchall()]
    assert sp == dk == [4, 1, 6, 3, 2]  # -Inf, 1, 2, +Inf, NaN


def test_nan_and_negzero_group_keys_agree(spark_t, duck_t):
    q = """
    SELECT count(*) AS n_groups FROM (
      SELECT v FROM (VALUES (CAST('nan' AS DOUBLE)), (CAST('nan' AS DOUBLE)),
                            (CAST(0.0 AS DOUBLE)), (CAST(-0.0 AS DOUBLE))) AS s(v)
      GROUP BY v
    )
    """
    assert spark_t.sql(q).collect()[0]["n_groups"] == 2
    assert duck_t.sql(q).fetchone()[0] == 2


def test_divide_by_zero_diverges_exactly_as_documented(spark_t, duck_t):
    # DuckDB: NULL, even for DOUBLE (no IEEE Inf)
    assert duck_t.sql("SELECT CAST(1.0 AS DOUBLE) / CAST(0.0 AS DOUBLE)").fetchone()[0] is None
    # Spark ANSI: raises DIVIDE_BY_ZERO
    assert spark_t.conf.get("spark.sql.ansi.enabled") == "true"
    from pyspark.errors import ArithmeticException

    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        spark_t.sql("SELECT CAST(1.0 AS DOUBLE) / CAST(0.0 AS DOUBLE)").collect()


def test_default_null_ordering_diverges_exactly_as_documented(spark_t, duck_t):
    q = "SELECT id FROM specials ORDER BY v, id"
    sp = [r["id"] for r in spark_t.sql(q).collect()]
    dk = [r[0] for r in duck_t.sql(q).fetchall()]
    assert sp == [5, 4, 1, 6, 3, 2]  # Spark: NULLS FIRST
    assert dk == [4, 1, 6, 3, 2, 5]  # DuckDB: NULLS LAST
    # explicit NULLS LAST restores agreement — the required spelling
    q2 = "SELECT id FROM specials ORDER BY v NULLS LAST, id"
    assert [r["id"] for r in spark_t.sql(q2).collect()] == [
        r[0] for r in duck_t.sql(q2).fetchall()
    ]


def test_no_oracle_regex_uses_re2_unsupported_constructs():
    """Regex-engine boundary, made structural: DuckDB's regex engine is
    RE2 (no lookahead/lookbehind, no backreferences, no atomic or
    possessive groups), Spark's is java.util.regex (all supported). A
    pattern using lookaround would silently behave differently — or
    error — on exactly one engine, so the oracle surface is restricted
    to the common subset. (?:...) non-capturing groups are RE2-safe
    and allowed."""
    import re

    from pse_stocks_etl_spark import plans

    # (?= (?! (?< (?P and \1..\9 backrefs; (?: is fine
    bad = re.compile(r"\(\?[=!<P]|\\[1-9]")
    offenders = []
    for name, q in plans.REGISTRY.items():
        if q.oracle and bad.search(q.oracle):
            offenders.append(name)
    assert not offenders, offenders
