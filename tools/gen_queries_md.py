"""Regenerate QUERIES.md, the registry index.

Run after any registry change:  python tools/gen_queries_md.py
"""

from __future__ import annotations

import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from ifcb_data_pipeline_spark.queries import load_all  # noqa: E402

HEADER = """# QUERIES — registry index (auto-generated)

{n} queries in registry order; ✅ = DuckDB oracle, ◻ = rows-only gate.

| # | query | gate | survey ref |
|---|---|---|---|
"""


def main() -> None:
    reg = load_all()
    lines = [HEADER.format(n=len(reg))]
    for i, (name, q) in enumerate(reg.items()):
        gate = "✅" if q.oracle else "◻"
        ref = q.survey_ref or "—"
        lines.append(f"| {i} | `{name}` | {gate} | {ref} |\n")
    (REPO / "QUERIES.md").write_text("".join(lines))
    print(f"wrote QUERIES.md: {len(reg)} queries")


if __name__ == "__main__":
    main()
