"""Gate-window policy: which 50 registry queries the driver scores next.

The driver hash-checks only the first 50 registry entries (dict order)
against their DuckDB oracles, and records each round's scored names as
CORRECTNESS_r<N>.json. The window puts first the queries whose plan
changed since their latest score, then the least recently scored ones
(a query never scored counts as round 0), ties broken by name.

    python tools/rotate.py

prints the PLAN_CHANGED / WINDOW_CENSUS / WINDOW block that ends
gis_etl_spark/queries.py, computed from the newest CORRECTNESS round.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

WINDOW_SIZE = 50
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rounds(root: str) -> list[tuple[int, str]]:
    paths = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    return sorted(
        (int(re.search(r"_r(\d+)\.json$", p).group(1)), p) for p in paths
    )


def census(root: str, as_of: int) -> dict[str, int]:
    """{query: latest round <= as_of whose CORRECTNESS file scored it}."""
    latest: dict[str, int] = {}
    for rnd, path in _rounds(root):
        if rnd <= as_of:
            with open(path) as f:
                latest.update(dict.fromkeys(json.load(f), rnd))
    return latest


def window(names, latest: dict[str, int], plan_changed) -> list[str]:
    return sorted(
        names, key=lambda n: (n not in plan_changed, latest.get(n, 0), n)
    )[:WINDOW_SIZE]


def _block(name: str, items) -> str:
    if not items:
        return f"{name} = ()"
    return f"{name} = (\n" + "".join(f'    "{n}",\n' for n in items) + ")"


def main() -> None:
    sys.path.insert(0, ROOT)
    from gis_etl_spark.queries import PLAN_CHANGED, REGISTRY, WINDOW_CENSUS

    newest = _rounds(ROOT)[-1][0]
    latest = census(ROOT, newest)
    # a re-pin is done once a round newer than the committed census scored it
    plan_changed = [n for n in PLAN_CHANGED if latest.get(n, 0) <= WINDOW_CENSUS]
    print(_block("PLAN_CHANGED: tuple[str, ...]", plan_changed))
    print(f"WINDOW_CENSUS = {newest}")
    print(_block("WINDOW", window(REGISTRY, latest, plan_changed)))


if __name__ == "__main__":
    main()
