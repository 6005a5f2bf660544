"""The bench CLI is driver contract surface: it must emit exactly one
parseable JSON line with the documented keys, and every timed query
must come from the registry's bench set."""

from __future__ import annotations

import json
import os
import sys

from conftest import Background

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The bench run starts when this module is collected and overlaps the
# rest of the suite; the test below only awaits and checks it.
AWAITS_BACKGROUND = True
BENCH = Background(
    [sys.executable, os.path.join(REPO, "bench.py")],
    env=dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_BENCH_RUNS="1",
    ),
    timeout=420,
)


def test_bench_cli_emits_contract_json():
    out = BENCH.result()
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert len(lines) == 1, out.stdout
    payload = json.loads(lines[0])
    assert payload["metric"] == "headline_query_wall_time"
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["value"] > 0
    from pse_stocks_etl_spark import plans

    bench_names = {n for n, q in plans.REGISTRY.items() if q.bench}
    assert set(payload["queries"]) == bench_names
    assert abs(sum(payload["queries"].values()) - payload["value"]) < 0.01
