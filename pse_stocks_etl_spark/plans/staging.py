"""Staging registry for queries awaiting a driver-verification slot.

The rotation contract (plans/__init__.py, enforced by tests/
test_parity.py::test_driver_window_covers_unverified_queries) bounds
the never-driver-checked backlog at half a window (25 queries) so
driver verification can never fall more than one round behind. When
that bound is FULL — as it is in round 5: 50 window + 25 queue —
adding straight to REGISTRY would turn the guard red, and rightly so.

New queries therefore land HERE first. Staged queries get the exact
same correctness treatment as registered ones — strict Arrow-level
DuckDB parity on every test run (tests/test_round9.py) — they are just
not exposed to the driver yet, so they cannot silently inflate the
unverified backlog.

Promotion recipe (next round, after CORRECTNESS_r05 drains the queue):
move the `stage(...)` decorators to `register(...)`, add the module to
`_QUERY_MODULES` in plans/__init__, and append the names to the
_DRIVER_FIRST queue.
tests/test_staging.py::test_staging_drains_when_backlog_has_room turns
red if staged queries linger while the backlog has room — staging is a
queue, not a parking lot.
"""

from __future__ import annotations

from .registry import Query, QueryFn

STAGING: dict[str, Query] = {}


def stage(
    name: str,
    oracle: str | None,
    doc: str = "",
    tags: tuple[str, ...] = (),
    bench: bool = False,
):
    def deco(fn: QueryFn) -> QueryFn:
        STAGING[name] = Query(name, fn, oracle, doc or (fn.__doc__ or ""), tags, bench)
        return fn

    return deco
