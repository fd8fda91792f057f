"""The contract of the synthetic parquet tables, and their loaders.

``SCHEMAS`` is the one place that states each table's schema, as a DDL
string equal to what Spark infers from the parquet footers (pinned at
every shipped scale factor by ``tests/test_table_contracts.py``).  Reads
declare it, so a load runs no schema-inference job and a footer that
drifts fails in Tier-1 rather than in a scan.  Column pruning and
predicate pushdown are left to Catalyst.  At 100 TB the fact tables
(``lineitem``, ``orders``, ``events``) would be laid out partitioned by
date (`year/month` directories) so calendar filters prune partitions;
the loaders read whatever layout the directory holds.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int, l_quantity double, l_extendedprice double, l_discount double, l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz",
    "events": "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

TABLES = tuple(SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(SCHEMAS[name]).parquet(os.path.join(sf_dir, f"{name}.parquet"))


def stream_schema(name: str) -> str:
    """The streaming form of a table's schema: event time must be
    ``timestamp``, because Spark rejects ``timestamp_ntz`` in
    ``withWatermark``, ``session_window`` and
    ``dropDuplicatesWithinWatermark``."""
    return SCHEMAS[name].replace("timestamp_ntz", "timestamp")


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A file stream over one table.  The file source wants a directory,
    so it streams ``sf_dir`` with a glob filter that admits only the
    table's parquet."""
    return (
        spark.readStream.format("parquet")
        .schema(stream_schema(name))
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )
