"""Correctness checks, run outside the timed window.

Query results are compared with their DuckDB oracle by the
order-insensitive canonical form of the Tier-1 parity test: columns
sorted by name, every cell normalized (floats rounded to 9 places,
NaN as null), rows sorted, then hashed. The pipeline checks compare
each medallion layer with a batch recomputation over the same input.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _normalize_cell(v) -> str:
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<null>"
        return repr(round(v, 9))
    return repr(v)


def result_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: column names and values."""
    cols = sorted(df.columns)
    rows = sorted(
        tuple(_normalize_cell(v) for v in row) for row in df[cols].itertuples(index=False)
    )
    h = hashlib.sha256(repr(cols).encode())
    for row in rows:
        h.update(repr(row).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB views over one dataset directory."""

    def __init__(self, data_dir: str, tables: tuple[str, ...]) -> None:
        self.con = duckdb.connect()
        for name in tables:
            path = os.path.join(data_dir, f"{name}.parquet")
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def matches(self, got: pd.DataFrame, sql: str) -> bool:
        want = self.con.sql(sql).df()
        return len(got) == len(want) and result_hash(got) == result_hash(want)

    def close(self) -> None:
        self.con.close()


def frames_equal(a: DataFrame, b: DataFrame) -> bool:
    return result_hash(a.toPandas()) == result_hash(b.toPandas())


def silver_gate(bronze: DataFrame, min_tokens: int) -> DataFrame:
    """The silver quality gate: normalized text, token count, and a
    minimum-length filter."""
    from pubg_data_pipeline_spark.functions.text import clean_text, token_count

    return (
        bronze.withColumn("clean", clean_text(F.col("text")))
        .withColumn("n_tokens", token_count(F.col("clean")))
        .filter(F.col("n_tokens") >= min_tokens)
        .select("doc_id", "source", "lang", "clean", "n_tokens")
    )


def pipeline_checks(spark, docs_in: str, events_in: str, out: dict, min_tokens: int) -> dict[str, bool]:
    """The three medallion invariants of one replay:

    - bronze equals a batch ``exact_dedup`` over every replayed document;
    - silver equals the gate applied to bronze;
    - gold (``finalize_hourly`` of the rollup state) equals a batch
      rollup over every replayed event.
    """
    from pubg_data_pipeline_spark.functions.text import doc_fingerprint
    from pubg_data_pipeline_spark.operators import incremental
    from pubg_data_pipeline_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(docs_in)
    bronze = spark.read.parquet(out["bronze"]).drop("__epoch")
    want_bronze = exact_dedup(
        docs.withColumn("__fp", doc_fingerprint(F.col("text"))), ["__fp"], "doc_id"
    ).drop("__fp")
    silver = spark.read.parquet(out["silver"])
    gold = incremental.finalize_hourly(spark.read.parquet(out["gold"]))
    want_gold = incremental.finalize_hourly(
        incremental.partial_hourly_state(spark.read.parquet(events_in))
    )
    return {
        "bronze": frames_equal(bronze, want_bronze),
        "silver": frames_equal(silver, silver_gate(bronze, min_tokens)),
        "gold": frames_equal(gold, want_gold),
    }
