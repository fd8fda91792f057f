"""Delivery-note / README template rendering — SURVEY §2.2 K3.

The reference writes ``delivery_note.txt`` and READMEs by placeholder
substitution from run metadata (``ifcb-data-pipeline.Rmd:1503-1519``;
``ifcb-image-export-pipeline.Rmd:968-1010``).  Spark-first shape: the
substitutions come from a *small aggregate DataFrame* (one row), rendered
driver-side — the only driver-side step in the export path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def render_template(template: str, meta: DataFrame) -> str:
    """Substitute ``{column}`` placeholders from the single-row ``meta``
    aggregate.  Raises if meta has != 1 row (the reference's notes are
    per-delivery singletons)."""
    rows = meta.limit(2).collect()
    if len(rows) != 1:
        raise ValueError(f"delivery-note meta must be exactly 1 row, got {len(rows)}")
    return template.format(**rows[0].asDict())
