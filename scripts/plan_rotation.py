"""Driver-window rotation planner: computes the NEXT round's
_DRIVER_FIRST list from the actual CORRECTNESS_r*.json files, so the
promotion recipe in plans/__init__.py is executed mechanically instead
of re-derived by hand each round.

Policy (the rotation contract tests/test_parity.py enforces):
  1. every registry query with NO hash-green driver row, in current
     registry order (the declared queue order), fills the window first;
  2. remaining window slots refill with the STALEST greens (oldest
     round of their last hash-green row) — beyond-window rot is where
     round 4's regression hid;
  3. overflow (never-checked beyond 50) must stay under 25 and is
     printed as the declared next-window queue.

Usage:
  python scripts/plan_rotation.py [window_size]        # print the plan
  python scripts/plan_rotation.py --apply [window]     # rewrite the
      _DRIVER_FIRST block in plans/__init__.py in place (list contents
      only — the policy prose above it stays hand-written). Follow with
      `python scripts/gen_driver_map.py --write` so COVERAGE.md's
      window flags match, then re-run pytest: the rotation guards
      validate the result mechanically.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def compute_plan(window: int) -> tuple[list[str], dict]:
    """Returns (ordered names incl. overflow, info)."""
    from pse_stocks_etl_spark import plans

    last_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        for name, rec in json.load(open(path)).items():
            if rec.get("hash_match") is True:
                last_green[name] = max(last_green.get(name, 0), rnd)

    names = list(plans.REGISTRY)
    never = [n for n in names if n not in last_green]
    stale = sorted(
        (n for n in names if n in last_green), key=lambda n: (last_green[n], n)
    )
    refill = stale[: max(0, window - len(never))]
    plan = never + refill
    info = {"never": len(never), "refill": len(refill)}
    return plan, info


def apply_plan(window: int) -> int:
    """Rewrite plans/__init__.py's _DRIVER_FIRST list in place."""
    plan, info = compute_plan(window)
    overflow = plan[window:]
    lines = ["_DRIVER_FIRST = ["]
    lines += [
        f"    # -- generated by scripts/plan_rotation.py --apply "
        f"(never-checked={info['never']}, stale refill={info['refill']}) --"
    ]
    lines += [f'    "{n}",' for n in plan[:window]]
    if overflow:
        lines += [f"    # -- declared next-window queue ({len(overflow)} / bound 25) --"]
        lines += [f'    "{n}",' for n in overflow]
    lines += ["]"]
    path = os.path.join(REPO, "pse_stocks_etl_spark", "plans", "__init__.py")
    src = open(path).read()
    new_src, n_subs = re.subn(
        r"_DRIVER_FIRST = \[.*?\n\]", "\n".join(lines), src, count=1, flags=re.DOTALL
    )
    if n_subs != 1:
        print("could not locate the _DRIVER_FIRST block in plans/__init__.py")
        return 1
    open(path, "w").write(new_src)
    print(
        f"rewrote _DRIVER_FIRST: window={window} "
        f"(never={info['never']}, refill={info['refill']}, "
        f"overflow={len(overflow)}); now run "
        "`python scripts/gen_driver_map.py --write` and pytest"
    )
    if len(overflow) > 25:
        print(f"WARNING: overflow {len(overflow)} exceeds the 25-query bound")
        return 1
    return 0


def main() -> int:
    args = [a for a in sys.argv[1:]]
    apply_mode = "--apply" in args
    sizes = [a for a in args if a != "--apply"]
    window = int(sizes[0]) if sizes else 50
    if apply_mode:
        return apply_plan(window)

    plan, info = compute_plan(window)
    print(f"# window={window}; never-checked registry={info['never']}; "
          f"stale refill={info['refill']}")
    print("_DRIVER_FIRST = [")
    for n in plan[:window]:
        print(f'    "{n}",')
    overflow = plan[window:]
    if overflow:
        print(f"    # -- declared next-window queue ({len(overflow)} / bound 25):")
        for n in overflow:
            print(f'    "{n}",')
    print("]")
    if len(overflow) > 25:
        print(f"# WARNING: overflow {len(overflow)} exceeds the 25-query bound")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
