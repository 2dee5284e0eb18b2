"""List every registry row by the last round the driver checked it.

Usage: python tools/driver_window.py

Reads the repo's CORRECTNESS_r*.json records (one per round, keyed by
row name) and prints one line per registry row, oldest check first:
the last round that checked it (``never`` if none did), ``*`` when the
row is in ``queries._DRIVER_WINDOW`` (the next round's 50 rows), and
the row name.  The top of the list is where the window's filler rows
come from.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def last_checked() -> dict[str, int]:
    """Row name -> the last round whose record holds it."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def main() -> None:
    from kerf_spark.queries import _DRIVER_WINDOW, QUERIES

    last = last_checked()
    window = set(_DRIVER_WINDOW)
    for name in sorted(QUERIES, key=lambda k: (last.get(k, 0), k)):
        rnd = f"r{last[name]:02d}" if name in last else "never"
        print(f"{rnd:5} {'*' if name in window else ' '} {name}")


if __name__ == "__main__":
    main()
