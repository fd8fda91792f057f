"""Hypothesis property laws for the rank combinators.

`tests/test_rank_combinators.py` pins the combinator on fixed frames
under exchange-planning confs; these laws add randomized SHAPES — heavy
ties, constant keys, singletons, hot groups — under randomized input
partitioning, the axis the combinator exists to survive
(`operators/windows.grouped_prefix_sum`: the range exchange must yield
the same total order however the input was partitioned).  Ground truth is pandas computed in one process:

* the global rank — ``grouped_prefix_sum`` of a ones column over
  ``(ord, id)`` with no group columns — assigns exactly the permutation
  rank of lexicographic ``(ord, id)`` order — a bijection onto 1..n —
  for any multiset of ``ord`` values and any input partitioning.
* ``grouped_prefix_sum`` equals the per-group running sum of the
  pandas groupby-cumsum, for any group skew (including one group
  holding nearly every row) and any input partitioning.

Spark examples are expensive, so the example budget is small but each
example is adversarially shaped by hypothesis rather than hand-picked.
Keys generated here are non-null integers, per the combinators' caller
contract (NULL keys are the callers' responsibility — see the
docstring contract and WINDOW_ORDER_STARRED_INVENTORY).
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ifcb_data_pipeline_spark.operators.windows import grouped_prefix_sum

# few distinct ord values -> heavy ties; ids unique by construction
_rows = st.lists(
    st.integers(min_value=-3, max_value=3), min_size=1, max_size=40
)
_parts = st.integers(min_value=1, max_value=7)


@settings(max_examples=12, deadline=None)
@given(ords=_rows, parts=_parts)
def test_global_rank_is_the_lexicographic_permutation_rank(spark, ords, parts):
    pdf = pd.DataFrame({"id": range(len(ords)), "ord": ords})
    df = spark.createDataFrame(pdf).repartition(parts)
    got = {
        r["id"]: r["rank"]
        for r in grouped_prefix_sum(
            df.withColumn("one", F.lit(1)), [], ["ord", "id"], "one", "rank"
        )
        .select("id", "rank")
        .collect()
    }
    expected = {
        row.id: i + 1
        for i, row in enumerate(
            pdf.sort_values(["ord", "id"]).itertuples(index=False)
        )
    }
    assert got == expected


@settings(max_examples=12, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),  # 2 groups max -> hot group
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=1,
        max_size=40,
    ),
    parts=_parts,
)
def test_grouped_prefix_sum_matches_pandas_cumsum(spark, data, parts):
    pdf = pd.DataFrame(
        {
            "grp": [g for g, _ in data],
            "id": range(len(data)),
            "val": [v for _, v in data],
        }
    )
    df = spark.createDataFrame(pdf).repartition(parts)
    got = {
        r["id"]: r["cum"]
        for r in grouped_prefix_sum(df, ["grp"], ["id"], "val", out_col="cum")
        .select("id", "cum")
        .collect()
    }
    exp_pdf = pdf.sort_values(["grp", "id"]).copy()
    exp_pdf["cum"] = exp_pdf.groupby("grp")["val"].cumsum()
    expected = dict(zip(exp_pdf["id"], exp_pdf["cum"]))
    assert got == expected
