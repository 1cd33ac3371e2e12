"""Facebook Ads Insights transform — the reshaping step of the
reference's main ETL (reference main.py:188-216), as DataFrame stages
over the connector's raw rows (all-string scalars, optional nested
lists):

    → apply_schema: rename date_start→date + explicit casts
      (replaces BigQuery insert-time coercion, main.py:204-216)
    → coalesce_repeated: missing/NULL actions|conversions → []
      (main.py:192-201 semantics)

Every stage is a narrow JVM transformation. REQUIRED enforcement and
the day-partitioned write belong to the caller
(``etl.runner.run_facebook_job``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.casting import apply_schema
from ..operators.normalize import coalesce_repeated
from ..schemas import ACTION_ENTRY, SCHEMA_FACEBOOK_STAT


def transform_insights(raw: DataFrame) -> DataFrame:
    """Raw → target schema (casts + rename + nested normalization)."""
    df = apply_schema(raw, SCHEMA_FACEBOOK_STAT, rename={"date_start": "date"})
    df = coalesce_repeated(df, "actions", ACTION_ENTRY)
    df = coalesce_repeated(df, "conversions", ACTION_ENTRY)
    return df
