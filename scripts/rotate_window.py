"""Window-rotation helper for the registry's curated priority window.

Reads every committed CORRECTNESS_r*.json, recomputes the set of
fully-green queries (rows + schema + hash, no err) — the "already
verified" set — and prints:

1. the age table — for each verified query, the FIRST round it went
   green (drift re-sampling priority = oldest first);
2. a suggested next 50-slot window: never-sampled oracle-backed queries
   first (newest registry additions lead), then the oldest-green
   cohort as drift re-samples, skipping anything re-verified in the
   last two rounds.

Advisory only: the human (or next-round builder) still edits
``_PRIORITY_WINDOW`` by hand and the rotation invariant test
machine-checks the result.

Usage: python scripts/rotate_window.py
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def greens_by_round() -> dict[str, int]:
    """query -> first round it was fully green."""
    first: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json", path)
        rnd = int(m.group(1))
        for name, v in json.load(open(path)).items():
            ok = (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
                and not v.get("err")
            )
            if ok and name not in first:
                first[name] = rnd
    return first


def latest_green_round() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json", path).group(1))
        for name, v in json.load(open(path)).items():
            if (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
                and not v.get("err")
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def main() -> int:
    import __spark_entry__ as entrymod

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    first = greens_by_round()
    last = latest_green_round()
    greens = set(first)
    print(f"# committed correctness files -> {len(greens)} distinct greens")

    oracle_backed = [n for n in queries if n in oracles]
    never = [n for n in oracle_backed if n not in greens]
    max_round = max(last.values()) if last else 0
    stale = sorted(
        (n for n in oracle_backed if n in last and last[n] <= max_round - 2),
        key=lambda n: (last[n], first[n], n),
    )
    window = (never + [n for n in stale if n not in never])[:50]
    print(f"\n## suggested next window ({len(window)} slots):")
    print(f"#   never-sampled first ({len(never)}), then stalest greens")
    for n in window:
        tag = "NEVER" if n in never else f"last green r{last[n]}"
        print(f'    "{n}",  # {tag}')
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
