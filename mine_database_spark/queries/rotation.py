"""Gate-rotation automation for the driver correctness gate.

The driver hashes only the FIRST 50 entries of the registry's QUERIES
dict each round, so dict order decides which queries get a fresh driver
row. Rounds 9-11 maintained that order by hand from a prose exit note;
this module derives it mechanically from the recorded CORRECTNESS_r*.json
history so a mis-rotation cannot land silently (r11 verdict #6):

- queries with NO green driver row yet (new this round) come first,
- then queries whose CODE changed this round (declared in the registry
  as GATE_TOUCHED — the one input that cannot be derived from artifacts),
- then everything else, stalest last-green round first.

Ties keep the caller-supplied order (the registry's declaration order).
registry.QUERIES is built with this order at import.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

_GREEN_KEYS = ("rows_match", "schema_match", "hash_match")


def load_green_history(root: str | Path) -> dict[str, int]:
    """name -> latest round number with a fully-green driver row in
    `root`/CORRECTNESS_r*.json. A row is green when err is absent and no
    recorded *_match flag is False (rows-only checks omit hash/schema —
    absent means the strongest recorded check passed)."""
    hist: dict[str, int] = {}
    for f in sorted(Path(root).glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            recs = json.loads(f.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(recs, dict):
            continue
        for name, rec in recs.items():
            if not isinstance(rec, dict):
                continue
            green = rec.get("err") is None and all(
                rec.get(k) is not False for k in _GREEN_KEYS
            )
            if green:
                hist[name] = max(hist.get(name, 0), rnd)
    return hist


def gate_order(
    names: list[str] | tuple[str, ...],
    history: dict[str, int],
    touched: tuple[str, ...] = (),
) -> list[str]:
    """Sort query names into driver-gate order: never-green first, then
    `touched`, then ascending last-green round; ties preserve the input
    order (stable sort), so a correctly-ordered input round-trips."""
    touched_set = set(touched)
    pos = {n: i for i, n in enumerate(names)}

    def key(n: str) -> tuple[int, int, int]:
        if n not in history:
            bucket = 0
        elif n in touched_set:
            bucket = 1
        else:
            bucket = 2
        return (bucket, history.get(n, 0), pos[n])

    return sorted(names, key=key)


def repo_root() -> Path:
    """The checkout root holding the CORRECTNESS_r*.json artifacts."""
    return Path(__file__).resolve().parents[2]

