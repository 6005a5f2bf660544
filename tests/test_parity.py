"""Every registry query must match its DuckDB oracle at the test SF —
the in-repo mirror of the driver's t2 correctness gate, at the same
strictness as scripts/check_parity.py (Arrow dtype level + bit-exact
values), so a regression in a driver-unwatched query cannot land
(VERDICT r2 item 2)."""

from __future__ import annotations

import pytest

from pse_stocks_etl_spark import plans
from pse_stocks_etl_spark.plans import _DRIVER_FIRST
from pse_stocks_etl_spark.testing import duck_connection, strict_compare_overlapped

from conftest import SF_DIR

NAMES = sorted(plans.REGISTRY)


@pytest.fixture(scope="module")
def duck():
    return duck_connection(SF_DIR)


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = plans.REGISTRY[name]
    if q.oracle is None:
        assert q.fn(spark, sf_dir).count() >= 0  # rows-only: plan executes
        return
    # r13: the whole Spark side (fn builds can run checkpoint jobs) and
    # the Duck oracle run on two threads — each check costs
    # max(engine sides), not the sum
    problems = strict_compare_overlapped(lambda: q.fn(spark, sf_dir), duck, q.oracle)
    assert not problems, f"{name}: {problems}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_driver_window_covers_unverified_queries():
    """Rotation contract, mechanically enforced (VERDICT r4 item 3): the
    driver records the first 50 registry entries, so every registry
    query that has NEVER had a hash-green row in any CORRECTNESS_r*.json
    MUST sit inside that window. Round 4 skipped the rotation and the
    driver silently re-confirmed 47 already-green queries while a real
    streaming regression hid beyond the window — this test makes a
    no-rotation round red instead of silent."""
    import glob
    import json
    import os

    names = list(plans.REGISTRY)
    window = set(names[:50])
    priority = [n for n in _DRIVER_FIRST if n in plans.REGISTRY]
    # the priority block must lead the registry in order; its first 50
    # entries ARE the window, anything beyond is the declared
    # next-window queue (checked below)
    assert names[: len(priority)] == priority

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    hash_green: set[str] = set()
    rounds = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    assert rounds, "driver CORRECTNESS files missing from repo root"
    for path in rounds:
        for name, rec in json.load(open(path)).items():
            if rec.get("hash_match") is True:
                hash_green.add(name)
    never_checked = set(names) - hash_green
    outside = sorted(never_checked - window)
    # A round may add MORE new queries than the 50-slot window holds.
    # Backlog is allowed only under two mechanical conditions that keep
    # it impossible to hide: every overflow query must be explicitly
    # scheduled in _DRIVER_FIRST (the declared rotation order — it
    # enters the next round's window because rotation re-prioritizes
    # never-checked names first), and the backlog must stay under a
    # bounded fraction of one window so it drains in a single round.
    # A no-rotation round still goes red: unscheduled additions fail
    # the subset check, and a forgotten backlog overflows the bound.
    unscheduled = [n for n in outside if n not in _DRIVER_FIRST]
    assert not unscheduled, (
        "never-driver-checked queries neither inside the 50-entry window "
        f"nor scheduled in _DRIVER_FIRST (plans/__init__.py): {unscheduled}"
    )
    # Bound = half a window: the backlog must drain in a SINGLE rotated
    # round while leaving at least 25 slots for stale-green refresh
    # (re-confirming old queries so rot can't hide beyond the window,
    # the r4 failure mode). A backlog past this means new queries are
    # outrunning driver verification — stop adding until it drains.
    assert len(outside) <= 25, (
        f"driver-verification backlog too large ({len(outside)} queries "
        f"wait beyond the window): {outside} — stop adding queries until "
        "the rotation drains the queue"
    )


def test_refresh_slots_are_the_stalest_greens():
    """Post-drain rotation policy (r7 VERDICT item 7): once the
    never-checked backlog is empty, a round with NO rotation would be
    silently green under the backlog test above — so the refresh slots
    themselves are contracted. Every window slot not occupied by a
    never-checked query must hold a green whose LAST hash-green round
    is <= that of every green outside the window (ties allowed):
    stalest-first, exactly what scripts/plan_rotation.py emits. A
    window left unchanged after a green round turns red here, because
    its just-confirmed queries are now the freshest greens of all."""
    import glob
    import json
    import os

    names = list(plans.REGISTRY)
    window = names[:50]
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def check(max_round: int | None) -> str | None:
        last_green: dict[str, int] = {}
        for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
            rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
            if max_round is not None and rnd > max_round:
                continue
            for name, rec in json.load(open(path)).items():
                if rec.get("hash_match") is True:
                    last_green[name] = max(last_green.get(name, 0), rnd)
        refresh = [n for n in window if n in last_green]
        outside_greens = [n for n in names[50:] if n in last_green]
        if not refresh or not outside_greens:
            return None  # all-never window or nothing outside
        newest_inside = max(last_green[n] for n in refresh)
        stalest_outside = min(last_green[n] for n in outside_greens)
        if newest_inside > stalest_outside:
            return (
                "refresh slots are not the stalest greens: window holds a "
                f"query last-green in r{newest_inside} while "
                f"r{stalest_outside}-green queries wait outside — run "
                "scripts/plan_rotation.py and paste its _DRIVER_FIRST"
            )
        return None

    from pse_stocks_etl_spark.testing import latest_driver_round

    problem = check(None)
    if problem and check(latest_driver_round(repo) - 1) is None:
        # The window was stalest-first for every file except the newest:
        # the driver recorded a CORRECTNESS file after this window was
        # committed. That is the expected between-rounds state — the
        # next session's first move is re-running the planner; any
        # window that was ALREADY stale at commit time still fails.
        pytest.skip(
            "a CORRECTNESS file landed after this window was committed — "
            "run scripts/plan_rotation.py to rotate"
        )
    assert problem is None, problem
