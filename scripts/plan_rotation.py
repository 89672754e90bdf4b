"""Compute the next round's 50-slot verification window mechanically.

Reads every recorded CORRECTNESS_r*.json, derives the latest driver
proof round per query, and prints a ready-to-paste PRIORITY tuple:

    canaries + [staged promotions passed via --promote] + the
    oldest-proof backfills, capped at WINDOW slots.

Usage:
    python scripts/plan_rotation.py                 # backfills only
    python scripts/plan_rotation.py --promote a b   # promotions first

The output is the HANDOFF, not the commit: paste into
queries/registry.py, record the rotation in CHANGES.md, and run
tests/test_rotation.py — its invariants (window fits, all
oracle-bearing or refresh-listed, no limbo) stay the enforcement.
"""

from __future__ import annotations

import argparse
import glob
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

WINDOW = 50
CANARIES = (
    "m01_basketize_orders",
    "r01_filter_project",
    "l01_exact_dedup",
)


def latest_proofs() -> dict[str, int]:
    latest: dict[str, int] = {}
    for f in sorted(glob.glob(str(ROOT / "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r0*(\d+)", Path(f).name).group(1))
        for name, row in json.load(open(f)).items():
            if row.get("spark_rows") is not None:
                latest[name] = max(latest.get(name, 0), rnd)
    return latest


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--promote", nargs="*", default=[],
                    help="staged names to put ahead of the backfills")
    args = ap.parse_args()

    from miningfrequentpattern_spark.queries.registry import (
        QUERIES,
        load_all_packs,
    )

    load_all_packs()
    registered = list(QUERIES)  # registration order (post-_reorder)
    proofs = latest_proofs()

    missing = [n for n in args.promote if n not in registered]
    if missing:
        raise SystemExit(f"--promote names not registered: {missing}")

    window: list[str] = list(CANARIES) + [
        n for n in args.promote if n not in CANARIES
    ]
    # never-proven registrations are implicit promotions (limbo guard)
    never = [
        n for n in registered
        if n not in proofs and n not in window
    ]
    window += never
    # oldest proofs next, ties broken by registration order
    order = {n: i for i, n in enumerate(registered)}
    backfill = sorted(
        (n for n in proofs if n in order and n not in set(window)),
        key=lambda n: (proofs[n], order[n]),
    )
    taken = window[:WINDOW] + backfill[: max(0, WINDOW - len(window))]
    if len(window) > WINDOW:
        print(f"# WARNING: {len(window) - WINDOW} promotion/limbo names "
              "overflow the window — they will be DEAD slots",
              file=sys.stderr)

    print(f"# next window ({len(taken)} slots; spare: "
          f"{WINDOW - len(taken)}) — oldest remaining proof after this "
          f"round: r{min((proofs[n] for n in proofs if n not in set(taken)), default=0)}")
    print("PRIORITY: tuple[str, ...] = (")
    print("    # canaries - proven every round")
    for n in taken:
        tag = ""
        if n in args.promote or n in never:
            tag = "  # promote"
        elif n in CANARIES:
            tag = ""
        else:
            tag = f"  # last proof r{proofs[n]}"
        print(f'    "{n}",{tag}')
    print(")")


if __name__ == "__main__":
    main()
