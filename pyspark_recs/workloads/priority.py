"""The driver's correctness rotation, derived from CORRECTNESS_r*.json.

The driver checks a bounded prefix of the registry each round and writes
one ``CORRECTNESS_r<N>.json`` per round (query name -> result row, in
the order it checked them). ``rotation`` orders the registry from every
such file present, so a new file moves the prefix at the next import
with no manual step.
"""

from __future__ import annotations

import json
import re
from pathlib import Path


def rotation(names: list, root: Path | str) -> list:
    """``names`` (registry source order) reordered for the driver:
    queries whose newest driver row is red, oldest first; then queries
    never driver-checked, in source order; then green queries by the
    round of their newest row, oldest first, ties in that file's row
    order."""
    newest = {}  # name -> (round, row position, green)
    for path in Path(root).glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        rows = json.loads(path.read_text(encoding="utf-8"))
        for pos, (name, row) in enumerate(rows.items()):
            if name not in newest or rnd > newest[name][0]:
                green = bool(
                    row.get("rows_match")
                    and row.get("schema_match")
                    and row.get("hash_match", True) is not False
                    and not row.get("err")
                )
                newest[name] = (rnd, pos, green)
    checked = sorted((n for n in names if n in newest), key=lambda n: newest[n][:2])
    red = [n for n in checked if not newest[n][2]]
    green = [n for n in checked if newest[n][2]]
    return red + [n for n in names if n not in newest] + green
