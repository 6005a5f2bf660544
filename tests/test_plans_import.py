"""Import boundary of the query registry.

Importing `plans.sync` (the CLI's and perfbench's entry point) must not
load the query modules, the registry must load the same way whichever
query module was imported first, and a query module that fails to
import must raise instead of dropping out of the registry. Every check
runs in a fresh interpreter, since this pytest process has long since
loaded the whole registry.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

from pse_stocks_etl_spark import plans

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _child(code: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_sync_and_cli_import_no_query_module():
    code = """
import json, sys
import pse_stocks_etl_spark.__main__
import pse_stocks_etl_spark.plans.sync
import pse_stocks_etl_spark.session
import pse_stocks_etl_spark.sources.pse_edge
print(json.dumps(sorted(sys.modules)))
"""
    p = _child(code)
    assert p.returncode == 0, p.stderr
    loaded = json.loads(p.stdout)
    leaked = [
        m
        for m in loaded
        if (m.startswith("pse_stocks_etl_spark.plans.") and m.endswith("_queries"))
        or m == "pse_stocks_etl_spark.operators.multimodal"
    ]
    assert leaked == []
    assert "pse_stocks_etl_spark.plans.sync" in loaded


_SNAPSHOT = """
import hashlib, importlib, json, sys
if sys.argv[1] != "-":
    importlib.import_module("pse_stocks_etl_spark.plans." + sys.argv[1])
from pse_stocks_etl_spark import plans
if sys.argv[1] == "-":
    fns, oracles = plans.queries(), plans.oracle_sql()
else:
    fns = plans.REGISTRY
    oracles = {n: q.oracle for n, q in plans.REGISTRY.items() if q.oracle is not None}
print(json.dumps([
    list(fns),
    {n: hashlib.sha256(s.encode()).hexdigest() for n, s in oracles.items()},
]))
"""


def test_each_query_module_imported_alone_loads_the_same_registry():
    """A module imported on its own runs its late-binds before the rest
    of the registry exists; they must still bind the same oracles, and
    the registry order must not depend on which module came first."""
    first = ["-", *plans._QUERY_MODULES]
    with ThreadPoolExecutor(max_workers=4) as pool:
        runs = dict(zip(first, pool.map(lambda m: _child(_SNAPSHOT, m), first)))
    for m, p in runs.items():
        assert p.returncode == 0, (m, p.stderr[-2000:])
    names, oracles = json.loads(runs.pop("-").stdout)
    assert len(names) == len(plans.REGISTRY)
    for m, p in runs.items():
        got_names, got_oracles = json.loads(p.stdout)
        assert got_names == names, m
        changed = sorted(n for n in oracles.keys() | got_oracles.keys()
                         if oracles.get(n) != got_oracles.get(n))
        assert changed == [], (m, changed)


def test_broken_query_module_raises():
    """`sys.modules[name] = None` makes importing that module raise
    ImportError, as a module with a broken import would."""
    code = """
import sys
sys.modules["pse_stocks_etl_spark.plans.round14_queries"] = None
from pse_stocks_etl_spark import plans
try:
    plans.queries()
except ImportError:
    print("raised")
"""
    p = _child(code)
    assert p.returncode == 0, p.stderr
    assert p.stdout.strip() == "raised"
