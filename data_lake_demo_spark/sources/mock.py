"""Work planning + mock source, re-expressed as DataFrames.

Reference behavior being re-expressed (cited for parity checking):
- planner enumerates endpoints × pages 1..10 for a date and emits one
  work unit each (planner.py:37-49) → here a deterministic work
  DataFrame with one unit per partition (SURVEY S3), the reference's
  one worker invocation per unit.
- the mock fetch returns a page payload with exactly 5 items
  ``{id: f"{endpoint}-{date}-{page}-{i}", value: i}`` and an ISO-8601
  fetched_at (worker.py:86-108) → here pure JVM column expressions
  over the work DataFrame (SURVEY S2) — no Python per row.

At scale the work DataFrame is tiny (endpoints × pages × dates); the
payload generation is embarrassingly parallel and shuffle-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_ENDPOINTS = ["api-a", "api-b", "api-c", "api-d"]
ITEMS_PER_PAGE = 5
PAGES_PER_ENDPOINT = 10


def plan_work(
    spark: SparkSession,
    ingestion_date: str,
    endpoints: Sequence[str] = DEFAULT_ENDPOINTS,
    pages: int = PAGES_PER_ENDPOINT,
) -> DataFrame:
    """The planner: endpoints × pages(1..N) for one date, endpoint-major,
    ONE work unit per partition — so every narrow stage downstream
    (fetch, raw write) handles each page in its own task."""
    n = len(endpoints) * pages
    eps = F.array(*[F.lit(e) for e in endpoints])
    return spark.range(0, n, 1, n).select(
        F.element_at(eps, F.expr(f"CAST(id DIV {pages} AS INT) + 1")).alias(
            "endpoint"
        ),
        F.lit(ingestion_date).alias("ingestion_date"),
        (F.col("id") % pages + 1).alias("page"),
    )


def mock_fetch(work: DataFrame) -> DataFrame:
    """The mock worker fetch: one page record per work unit, with the
    reference's exact payload shape (5 items, deterministic ids)."""
    item = lambda i: F.struct(  # noqa: E731
        F.concat_ws(
            "-", F.col("endpoint"), F.col("ingestion_date"), F.col("page"), i
        ).alias("id"),
        i.cast("long").alias("value"),
    )
    return work.select(
        "endpoint",
        F.col("ingestion_date").alias("date"),
        F.col("page").cast("long").alias("page"),
        F.date_format(
            F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
        ).alias("fetched_at"),
        F.transform(
            F.sequence(F.lit(0), F.lit(ITEMS_PER_PAGE - 1)), item
        ).alias("items"),
        F.col("endpoint").alias("source"),
        "ingestion_date",
    )
