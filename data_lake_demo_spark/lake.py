"""The Lake facade: one object tying zones, ingestion, catalog, and
governance together — the engine's equivalent of the reference's
whole deployment (S3 zones + planner/worker + Glue + Athena + LF).

Zones (README.md:126-127, 243-253):
    <root>/raw/      gzip JSON, partitioned source=/ingestion_date=
    <root>/curated/  typed parquet, same partitioning ("join-ready")
    <root>/results/<principal>/   per-principal query output (G4)
    <root>/quarantine/            failed/corrupt records (DLQ analog)

Idempotency (SURVEY S7/T5): the reference guards each object write
with a deterministic key + existence check (worker.py:27-28,214-221).
Here the same guarantee is partition-level: dynamic partition
overwrite makes re-ingesting a (source, ingestion_date) partition
replace it byte-for-byte instead of duplicating — proven by the
double-run test.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_demo_spark import catalog as cat
from data_lake_demo_spark.model import RAW_PARTITIONS, RAW_RECORD
from data_lake_demo_spark.rbac import Rbac
from data_lake_demo_spark.sources.mock import plan_work, mock_fetch


@dataclass
class Lake:
    spark: SparkSession
    root: str
    db: str = "lake_db"
    rbac: Rbac = field(init=False)

    def __post_init__(self) -> None:
        self.rbac = Rbac(self.spark)
        # partition-level idempotency for every overwrite in this lake
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # ---- paths -----------------------------------------------------------
    @property
    def raw_path(self) -> str:
        return os.path.join(self.root, "raw")

    @property
    def curated_path(self) -> str:
        return os.path.join(self.root, "curated")

    @property
    def quarantine_path(self) -> str:
        return os.path.join(self.root, "quarantine")

    def results_path(self, principal: str) -> str:
        return os.path.join(self.root, "results", principal)

    # ---- ingestion (E2) --------------------------------------------------
    def ingest_mock(
        self,
        ingestion_date: str,
        endpoints=None,
        pages: int = 10,
    ) -> dict:
        """One planner+worker run: plan work → mock-fetch → partitioned
        gzip-JSON write into raw/. Re-runs overwrite their partitions
        (idempotent), never duplicate."""
        from data_lake_demo_spark.sources.mock import DEFAULT_ENDPOINTS

        from data_lake_demo_spark import metrics

        endpoints = endpoints or DEFAULT_ENDPOINTS
        started = datetime.now(timezone.utc)
        work = plan_work(self.spark, ingestion_date, endpoints, pages)
        records = mock_fetch(work)
        (
            # one work unit per task (plan_work) → one file per page,
            # the reference's layout (worker.py:27-28), with no shuffle
            # to collide pages; compact_partition merges them later.
            records.write.mode("overwrite")
            .partitionBy(*RAW_PARTITIONS)
            .option("compression", "gzip")
            .json(self.raw_path)
        )
        # A4 per-key counters: written pages per endpoint, from the lake
        written = {
            r["source"]: r["n"]
            for r in self.spark.read.schema(RAW_RECORD)
            .option("basePath", self.raw_path)
            .json(self.raw_path)
            .filter(F.col("ingestion_date") == ingestion_date)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        run_id = metrics.log_run(
            self.spark,
            metrics.runlog_path(self.root),
            ingestion_date=ingestion_date,
            per_endpoint=[
                (ep, pages, int(written.get(ep, 0)), pages - int(written.get(ep, 0)))
                for ep in endpoints
            ],
            started_at=started,
        )
        return {
            "run_id": run_id,
            "planned": len(endpoints) * pages,
            "ingestion_date": ingestion_date,
            "endpoints": list(endpoints),
        }

    # ---- raw zone reads --------------------------------------------------
    def read_raw(self) -> DataFrame:
        """Schema-pinned read of the raw zone (partition columns come
        from directory discovery)."""
        return (
            self.spark.read.schema(RAW_RECORD)
            .option("basePath", self.raw_path)
            .json(self.raw_path)
        )

    # ---- catalog (E3) ----------------------------------------------------
    def refresh_catalog(self) -> None:
        """The 'crawler': infer/refresh the raw table + partitions."""
        cat.infer_and_register(
            self.spark, self.db, "raw", self.raw_path, RAW_PARTITIONS
        )

    def table(self, name: str) -> DataFrame:
        return self.spark.table(f"{self.db}.{name}")

    # ---- curated promotion (S10) ----------------------------------------
    def promote_curated(self, *, compression: str = "zstd") -> None:
        """raw → typed, join-ready parquet: cast dates/timestamps,
        explode nothing — one row per page record, same partitioning.

        Defaults to zstd column compression: at lake scale the curated
        zone is read many times per write, and zstd trades a little CPU
        on the single write for a smaller footprint and faster scans
        than snappy."""
        raw = self.table("raw")
        curated = raw.select(
            "endpoint",
            F.to_date("date").alias("date"),
            F.col("page").cast("long").alias("page"),
            F.to_timestamp("fetched_at").alias("fetched_at"),
            "items",
            F.size("items").cast("long").alias("item_count"),
            "source",
            "ingestion_date",
        )
        (
            curated.repartition("source", "ingestion_date")
            .write.mode("overwrite")
            .partitionBy(*RAW_PARTITIONS)
            .option("compression", compression)
            .parquet(self.curated_path)
        )
        cat.register_parquet_table(
            self.spark, self.db, "curated", self.curated_path, RAW_PARTITIONS
        )

    # ---- maintenance -----------------------------------------------------
    def compact_partition(
        self, source: str, ingestion_date: str, target_files: int = 1
    ) -> int:
        """Small-file compaction for one raw partition: rewrite its
        many gzip-JSON objects as ``target_files`` files via dynamic
        partition overwrite (only this partition is replaced). The
        lake-maintenance op every object-store deployment needs —
        the reference accumulates one file per page forever.

        Returns the row count of the compacted partition.
        """
        part = self.read_raw().filter(
            (F.col("source") == source) & (F.col("ingestion_date") == ingestion_date)
        )
        n = part.count()
        (
            part.repartition(target_files)
            .write.mode("overwrite")
            .partitionBy(*RAW_PARTITIONS)
            .option("compression", "gzip")
            .json(self.raw_path)
        )
        return n

    def vacuum_results(
        self, max_age_days: int = 30, *, now: datetime | None = None
    ) -> list[str]:
        """Result-retention lifecycle: delete per-principal result
        directories older than ``max_age_days``.

        Reference parity: the results bucket carries a 30-day expiry
        lifecycle rule (option_a_cdk_py/option_a/stack.py:53-59). On a
        real object store that rule does the deleting; this engine-side
        op provides the same contract for filesystems without lifecycle
        support and makes the policy testable. Age comes from the
        ``-YYYYmmddTHHMMSS`` suffix ``sql_to_results`` stamps on each
        directory (falling back to mtime for foreign dirs). Returns the
        deleted paths.
        """
        import shutil

        now = now or datetime.now(timezone.utc)
        results_root = os.path.join(self.root, "results")
        deleted: list[str] = []
        if not os.path.isdir(results_root):
            return deleted
        for principal in sorted(os.listdir(results_root)):
            pdir = os.path.join(results_root, principal)
            if not os.path.isdir(pdir):
                continue
            for name in sorted(os.listdir(pdir)):
                path = os.path.join(pdir, name)
                stamp = name.rsplit("-", 1)[-1]
                try:
                    ts = datetime.strptime(stamp, "%Y%m%dT%H%M%S").replace(
                        tzinfo=timezone.utc
                    )
                except ValueError:
                    ts = datetime.fromtimestamp(
                        os.path.getmtime(path), tz=timezone.utc
                    )
                if (now - ts).total_seconds() > max_age_days * 86400:
                    shutil.rmtree(path)
                    deleted.append(path)
        return deleted

    def register_per_source_tables(self) -> list[str]:
        """The one-table-per-source layout variant the reference
        discusses (README.md:256-258): registers ``raw_<source>``
        external tables, each rooted at ``raw/source=<s>/`` and
        partitioned by ``ingestion_date`` alone.

        The single table with a ``source`` partition stays the default
        (one schema, cross-source queries, one crawler pass); this
        variant serves per-team isolation or per-source schema drift.
        Both views share the same files — no data is copied. Returns
        the registered table names.
        """
        import glob as _glob

        from data_lake_demo_spark.model import RAW_RECORD as _REC

        tables: list[str] = []
        for d in sorted(_glob.glob(os.path.join(self.raw_path, "source=*"))):
            source = os.path.basename(d).split("=", 1)[1]
            tbl = "raw_" + "".join(c if c.isalnum() else "_" for c in source)
            cat.register_json_table(
                self.spark, self.db, tbl, d, _REC, ["ingestion_date"]
            )
            tables.append(tbl)
        return tables

    # ---- governed querying (E1) -----------------------------------------
    def grant(self, principal: str, table: str = "raw", **kw) -> None:
        self.rbac.grant(principal, f"{self.db}.{table}", **kw)

    def table_for(self, principal: str, table: str = "raw") -> DataFrame:
        return self.rbac.table_for(principal, f"{self.db}.{table}")

    def sql(self, principal: str, query: str) -> DataFrame:
        """Run SQL as a principal (tables resolve to secured views;
        references outside the principal's grants are denied)."""
        return self.rbac.sql(principal, query)

    def sql_to_results(self, principal: str, query: str, name: str = "q") -> str:
        """E1 end-state: per-principal result segregation (G4)."""
        out = os.path.join(
            self.results_path(principal),
            f"{name}-{datetime.now(timezone.utc).strftime('%Y%m%dT%H%M%S')}",
        )
        self.sql(principal, query).write.mode("overwrite").json(out)
        return out
