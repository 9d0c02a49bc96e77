"""Grading-ledger audit: machine-check the cap-rotation invariants.

The driver grades only the first 50 registry entries per round
(CAP_50); everything else accumulates staleness. This script computes
last-green-round per registered entry from the CORRECTNESS_r*.json
trail and checks the invariants the rotation ledger promises in prose:

1. every registered entry has been driver-green in >= 1 past round
   (or is newer than the latest CORRECTNESS file — flagged "NEW"),
2. no tail entry is staler than the configurable budget
   (default: 8 rounds behind the newest file) without an in-cap
   same-kernel sibling note in the ledger,
3. the current cap is printed stalest-first so the next rotation can
   be copied straight from the output.

Run: python scripts/grading_ledger.py [--stale-budget N]
Exit 1 if invariant 1 fails (an entry that has NEVER been graded and
is not new this round); staleness overruns are warnings — they need
ledger judgement, not a hard gate.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def entry_ok(v) -> bool:
    """A CORRECTNESS row counts as green when rows matched, no error,
    and values either matched or were not checked (rows-only)."""
    return (
        isinstance(v, dict)
        and not v.get("error")
        and v.get("rows_match") is not False
        and v.get("values_match") in (True, None)
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stale-budget", type=int, default=8)
    args = ap.parse_args()

    last: dict[str, int] = {}
    newest = 0
    for f in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        newest = max(newest, rnd)
        for k, v in json.load(open(f)).items():
            if entry_ok(v):
                last[k] = rnd

    # registry names without starting Spark: parse the explicit lists
    src = open(os.path.join(REPO, "balboa_spark", "entry_queries.py")).read()

    def grab(name: str) -> list[str]:
        m = re.search(name + r"\s*=\s*\[(.*?)\n\]", src, re.S)
        return re.findall(r'"([a-z0-9_]+)"', m.group(1))

    cap, tail = grab("CAP_50"), grab("_TAIL")

    never = [k for k in cap + tail if k not in last]
    print(f"rounds on file: r1..r{newest}; registered: {len(cap) + len(tail)} "
          f"(cap {len(cap)} / tail {len(tail)})")
    if never:
        print(f"\nNEW (never driver-green yet — must be in-cap this round): {never}")
        not_in_cap = [k for k in never if k not in cap]
        if not_in_cap:
            print(f"INVARIANT VIOLATION: never-graded entries outside the cap: {not_in_cap}")
            return 1

    stale = sorted((last[k], k) for k in tail if k in last)
    overrun = [(r, k) for r, k in stale if newest - r > args.stale_budget]
    print(f"\ntail, stalest first (budget: {args.stale_budget} rounds):")
    for r, k in stale[:20]:
        mark = "  <-- OVER BUDGET" if newest - r > args.stale_budget else ""
        print(f"  r{r}: {k}{mark}")
    if overrun:
        print(f"\nWARNING: {len(overrun)} tail entries over the staleness budget "
              f"— rotate these first next round.")

    cap_by_staleness = sorted((last.get(k, newest + 1), k) for k in cap)
    print("\ncap, by last-green (candidates to demote once double-green are at the bottom):")
    for r, k in cap_by_staleness:
        print(f"  {'NEW' if r > newest else 'r%d' % r}: {k}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
