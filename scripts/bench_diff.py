"""Per-lane bench regression gate: the mechanical form of the "zero
regressions >20%" discipline.

Compares two bench JSON lines (e.g. the fresh BENCH_LOCAL.json vs the
committed BENCH_r13.json) and exits non-zero if any lane

- is slower than THRESHOLD x the old time (sub-second entries are exempt
  below ABS_FLOOR seconds of absolute growth: JVM warmup order,
  first-touch page cache);
- failed in NEW (bench.py records a failed lane as -1.0) but not in OLD;
- ran more Spark jobs or stages, or more than doubled its shuffle-write
  or spill bytes by more than BYTES_FLOOR, per the ``layers`` records of
  both files. Counts do not move with host load, so a counter flag is a
  code change. A file without ``layers`` diffs on seconds only.

So "regression check done" is a command with an exit code, not prose.
Best-of-N lists are skipped, and a lane that already failed in OLD is
not compared.

Usage: python scripts/bench_diff.py OLD.json NEW.json [threshold]
"""

from __future__ import annotations

import json
import sys

THRESHOLD = 1.2
ABS_FLOOR = 0.4  # ignore regressions smaller than this in absolute s
BYTES_FLOOR = 1 << 20  # ignore byte growth smaller than this


def load(path: str) -> tuple[dict[str, float], dict[str, dict] | None]:
    """(lane -> seconds, lane -> layers record or None)."""
    with open(path) as fh:
        doc = json.load(fh)
    seconds = {
        k: float(v)
        for k, v in doc.get("queries", {}).items()
        if not isinstance(v, list)
    }
    return seconds, doc.get("layers")


def counter_flags(old: dict[str, dict], new: dict[str, dict]) -> list[str]:
    flags = []
    for name in sorted(set(old) & set(new)):
        o, n = old[name], new[name]
        for m in ("jobs", "stages"):
            if n[m] > o[m]:
                flags.append(f"{name}: {m} {o[m]} -> {n[m]}")
        for m in ("shuffle_write_bytes", "spill_bytes"):
            if n[m] > 2 * o[m] and n[m] - o[m] > BYTES_FLOOR:
                flags.append(f"{name}: {m} {o[m]} -> {n[m]}")
    return flags


def main(argv: list[str]) -> int:
    old_path, new_path = argv[0], argv[1]
    threshold = float(argv[2]) if len(argv) > 2 else THRESHOLD
    (old, old_layers), (new, new_layers) = load(old_path), load(new_path)
    shared = sorted(set(old) & set(new))
    regressions = []
    failed = []
    improved = 0
    for name in shared:
        if old[name] < 0:
            continue
        if new[name] < 0:
            failed.append(name)
            continue
        ratio = new[name] / max(old[name], 1e-9)
        if ratio > threshold and new[name] - old[name] > ABS_FLOOR:
            regressions.append((name, old[name], new[name], ratio))
        elif ratio < 1 / threshold:
            improved += 1
    print(
        f"{len(shared)} shared queries | {improved} improved >"
        f"{round((1 - 1 / threshold) * 100)}% | "
        f"{len(regressions)} regressed >{round((threshold - 1) * 100)}% | "
        f"{len(failed)} newly failed"
    )
    only_old = sorted(set(old) - set(new))
    only_new = sorted(set(new) - set(old))
    if only_old:
        print(f"dropped from new: {only_old}")
    if only_new:
        print(f"new entries: {only_new}")
    for name in failed:
        print(f"  FAILED  {name}: {old[name]:.2f}s -> failed")
    for name, o, n, r in sorted(regressions, key=lambda t: -t[3]):
        print(f"  REGRESSED {r:.2f}x  {name}: {o:.2f}s -> {n:.2f}s")
    flags = []
    if old_layers is None or new_layers is None:
        print("counters: not compared (a file has no layers)")
    else:
        flags = counter_flags(old_layers, new_layers)
        print(
            f"{len(set(old_layers) & set(new_layers))} shared layers | "
            f"{len(flags)} counter flags"
        )
        for flag in flags:
            print(f"  COUNTER {flag}")
    return 1 if regressions or failed or flags else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
