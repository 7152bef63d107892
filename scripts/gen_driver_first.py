#!/usr/bin/env python3
"""Regenerate the driver adjudication ordering from CORRECTNESS history.

The correctness driver walks ``queries()`` in dict order with a bounded
budget (~50 keys per round), so ordering is part of the driver contract:
keys it never reaches stay un-adjudicated for the round.  Rounds 2-5
hand-maintained ``_DRIVER_FIRST`` and twice mis-counted the spill (see
CLAUDE.md round-6 TODO).  This script derives the ordering mechanically:

1. every key's *latest* adjudicated round is read from the
   ``CORRECTNESS_r{N}.json`` files the driver writes to the repo root;
2. keys listed in :data:`CHANGED_THIS_ROUND` (semantics or plan changed,
   so the old adjudication no longer vouches for them) and keys the
   driver has never seen are treated as round ``-1``;
3. the full registry is ordered oldest-adjudication-first.  At equal
   staleness the tiebreak differs by history: among *never-seen* keys,
   oracle-backed come first (the hash check is the stronger contract);
   among *previously-adjudicated* keys, rows-only come first — driver
   adjudication is the only driver-side evidence those keys have, so
   re-confirmation matters more (r5 verdict, "Next round" item 1).
   Final tie breaks on name.

The result is written to ``operators/_driver_order.py`` which
``operators/__init__.py`` imports.  Run from the repo root:

    python scripts/gen_driver_first.py          # rewrite _driver_order.py
    python scripts/gen_driver_first.py --check  # exit 1 if stale

``tests/test_driver_order.py`` runs the ``--check`` form so a round that
adds operators without regenerating fails fast.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Keys whose semantics/plan changed this round: force re-adjudication even
# though an older CORRECTNESS entry exists.  Rotate this list each round.
CHANGED_THIS_ROUND: list[str] = [
    # table_profile (r19 fixture-gate repartition) re-adjudicated green
    # in CORRECTNESS_r19 — cleared per the standing rotation rule.
    #
    # pricing_summary: sum_disc_price moved from ROUND(SUM(double), 4)
    # to the r7 BIGINT fixed-point sum in both the op and its oracle
    # (a 4dp round of a double sum near 4e9 drifted past the rounding
    # boundary; pinned in tests/test_boundary_sum_parity.py).
    "pricing_summary",
]

GENERATED_HEADER = '''"""Driver adjudication order — GENERATED, do not edit.

Regenerate with ``python scripts/gen_driver_first.py`` after adding
operators or when a new ``CORRECTNESS_r{N}.json`` lands.  Ordering:
oldest-driver-adjudication first (never-seen/changed keys lead), then
oracle-backed before rows-only, then name.
"""

DRIVER_FIRST = [
'''


def latest_adjudication(root: str = REPO_ROOT) -> dict[str, int]:
    """Map registry key -> latest round it appears in a CORRECTNESS file."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        for key in data:
            latest[key] = max(latest.get(key, 0), rnd)
    return latest


def compute_order(root: str = REPO_ROOT) -> list[str]:
    sys.path.insert(0, root)
    from googlecloudstorage_blueprints_spark.operators import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    latest = latest_adjudication(root)
    changed = set(CHANGED_THIS_ROUND)

    def sort_key(name: str):
        rnd = -1 if name in changed else latest.get(name, -1)
        rows_only = REGISTRY[name].oracle is None
        # never-seen: oracle-backed first; previously-seen: rows-only first
        tiebreak = rows_only if rnd == -1 else not rows_only
        return (rnd, tiebreak, name)

    return sorted(REGISTRY, key=sort_key)


def render(order: list[str]) -> str:
    body = "".join(f'    "{name}",\n' for name in order)
    return GENERATED_HEADER + body + "]\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true", help="verify only")
    args = ap.parse_args()

    out = os.path.join(
        REPO_ROOT,
        "googlecloudstorage_blueprints_spark",
        "operators",
        "_driver_order.py",
    )
    text = render(compute_order())
    if args.check:
        on_disk = open(out).read() if os.path.exists(out) else ""
        if on_disk != text:
            print("stale: rerun python scripts/gen_driver_first.py")
            return 1
        print("ok")
        return 0
    with open(out, "w") as fh:
        fh.write(text)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
