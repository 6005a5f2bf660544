"""Dev harness: run every registry query on Spark AND its DuckDB oracle,
compare row count / column names / canonical dtypes / exact sorted values.
Mirrors the driver's correctness gate so regressions surface before a
round ends.

Strictness (round-2 hardening, VERDICT.md item 2): both results are
fetched as Arrow tables and compared at the *dtype* level — DuckDB
widens integer SUM to HUGEINT, which its Arrow export surfaces as
decimal128(38,0) while Spark emits int64; the driver's value hasher
canonicalizes those differently even when every value is numerically
equal, so this check must fail locally on any such divergence. Floats
compare at full round-trip precision (repr), not %.9g — the engine's
money/percentile arithmetic is integer-cents-exact on both sides, so a
bit-level float mismatch is a real bug, not noise.

Usage: python scripts/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402

from pse_stocks_etl_spark import plans  # noqa: E402
from pse_stocks_etl_spark.schemas import TESTDATA_TABLES  # noqa: E402
from pse_stocks_etl_spark.session import get_spark  # noqa: E402
from pse_stocks_etl_spark.testing import arrow_summary  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    # Query names are positional; tolerate an explicit `--only` separator
    # (the name ADVICE r5 and COVERAGE use for this mode) so it is not
    # itself reported as an unknown query name.
    only = {a for a in sys.argv[2:] if a != "--only"}
    spark = get_spark("parity-check", master="local[8]", shuffle_partitions=8)

    def fresh_con():
        c = duckdb.connect()
        c.sql("SET memory_limit = '4GB'")
        c.sql("SET threads = 8")  # see testing.duck_connection
        for t in TESTDATA_TABLES:
            c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c

    con = fresh_con()
    n_run = 0
    failures = []
    todo = plans.REGISTRY
    for name, q in todo.items():
        if only and name not in only:
            continue
        # Recycle the connection periodically: a long-lived connection
        # compiling hundreds of large oracle queries accumulates
        # allocator state until a query that passes standalone dies
        # with a tiny-block bad-alloc (same class the test matrices hit
        # — tests/conftest.py capped_duck; observed here on
        # docs_semdedup_increment right after the semdedup oracle).
        n_run += 1
        if n_run % 24 == 0:
            con.close()
            con = fresh_con()
        try:
            sdf = q.fn(spark, sf_dir)
            s_tbl = sdf.toArrow()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        if q.oracle is None:
            print(f"ok   {name}: rows-only ({s_tbl.num_rows} rows)")
            continue
        try:
            d_tbl = con.sql(q.oracle).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        s_cols, s_dtypes, s_rows = arrow_summary(s_tbl)
        d_cols, d_dtypes, d_rows = arrow_summary(d_tbl)
        if s_cols != d_cols:
            failures.append(name)
            print(f"FAIL {name}: columns spark={s_cols} duck={d_cols}")
            continue
        bad_dtypes = {
            c: (s_dtypes[c], d_dtypes[c])
            for c in s_cols
            if s_dtypes[c] != d_dtypes[c]
        }
        if bad_dtypes:
            failures.append(name)
            print(f"FAIL {name}: dtype mismatch (spark, duck): {bad_dtypes}")
            continue
        if len(s_rows) != len(d_rows):
            failures.append(name)
            print(f"FAIL {name}: rowcount spark={len(s_rows)} duck={len(d_rows)}")
            continue
        if s_rows != d_rows:
            failures.append(name)
            bad = [(x, y) for x, y in zip(s_rows, d_rows) if x != y][:3]
            print(f"FAIL {name}: value mismatch, first diffs: {bad}")
            continue
        print(f"ok   {name}: {len(s_rows)} rows match")
    # Count EXECUTED queries (ADVICE r5): a typoed --only name is
    # silently skipped by the loop, so len(only) would overstate the
    # denominator and print a clean "2/2 pass" for a 1-query run.
    n = sum(1 for name in todo if not only or name in only)
    unknown = sorted(set(only) - set(todo)) if only else []
    if unknown:
        print(f"WARNING: unknown query names in --only: {unknown}")
    print(f"\n{n - len(failures)}/{n} pass")
    return 1 if failures or unknown else 0


if __name__ == "__main__":
    raise SystemExit(main())
