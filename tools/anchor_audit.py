#!/usr/bin/env python
"""Third-layer anchor coverage audit.

Every registry entry is verified two ways by construction (DuckDB oracle
mirror + physical-plan pins); the third layer — a pure-Python/numpy
recompute or family-law test — is what catches a misconception encoded
identically in the Spark code and the oracle SQL.  Round 10 reached
full-registry coverage; this tool keeps it that way: it maps every
registry name to the anchor file(s) that mention its family key and
reports rows with no anchor anywhere.

Anchor sources (in `tests/`): the dedicated law/invariant files plus the
panel/kernel/independent-check files that carry the multimodal and
file-format anchors.

Usage: python tools/anchor_audit.py   (exit 1 if any row is unanchored)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

ANCHOR_FILES = [
    "tests/test_semantic_laws.py",
    "tests/test_invariants.py",
    "tests/test_independent_checks.py",
    "tests/test_multimodal_panel.py",
    "tests/test_kernels.py",
    "tests/test_psd.py",
    # operator-level reference-case anchors (e.g. the clean_taxa_name
    # truth table that anchors c1, the adjacency-kill cases for w1)
    "tests/test_operators.py",
]


def registry_names() -> list[str]:
    sys.path.insert(0, str(REPO))
    from ifcb_data_pipeline_spark.queries import load_all

    return sorted(load_all().keys())


def anchor_map() -> dict[str, list[str]]:
    """Strict matching (ADVICE r10 item 1): a mere prose mention — a
    contrast note in a comment, a coincidental local
    variable named ``c1`` — must NOT count as an anchor.  A key is
    anchored only by a ``def test_...`` line that names it (the test is
    the anchor) or an explicit ``# anchors: <key> ...`` marker placed on
    the covering test by hand (for tests whose names predate the key
    convention, e.g. ``test_rollup_counts_partition_roi_count`` → a1)."""
    sources = {
        f: (REPO / f).read_text().split("\n")
        for f in ANCHOR_FILES
        if (REPO / f).exists()
    }
    out: dict[str, list[str]] = {}
    for name in registry_names():
        key = name.split("_")[0]
        # family key bounded by non-alphanumerics (underscore allowed
        # after: test_dd14_... matches; "dd1" must not match inside
        # "dd14")
        pat = re.compile(rf"(?<![a-z0-9]){re.escape(key)}(?![a-z0-9])")
        hits = []
        for f, lines in sources.items():
            for ln in lines:
                s = ln.strip()
                if (s.startswith("def test_") or "anchors:" in s) and pat.search(s):
                    hits.append(f)
                    break
        out[name] = hits
    return out


def main() -> int:
    amap = anchor_map()
    missing = [n for n, fs in amap.items() if not fs]
    print(f"registry entries: {len(amap)}")
    print(f"anchored: {len(amap) - len(missing)}")
    if missing:
        print(f"UNANCHORED ({len(missing)}):")
        for n in missing:
            print(f"  - {n}")
        return 1
    print("full third-layer anchor coverage")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
