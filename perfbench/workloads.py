"""The benchmark's workloads: closed-loop, single-client cycles.

A workload prepares its state once (``setup``), then runs identical
cycles: ``write`` (the phase whose end makes new data visible),
``read`` (what a consumer of that data runs) and, every
``maintain_every`` cycles, ``maintain``. Every call into the engine is
one op: it is counted, wrapped in a span, and its result is checked
against an independent expectation. A check that fails is recorded
as a failed op.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import subprocess
import sys
from collections import Counter

from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

import datagen


# registry queries read by lake_daily, one per plan module
REGISTRY = ("q6_forecast_revenue", "events_tumbling_hourly", "doc_length_histogram")


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Workload:
    name = ""
    warmup_cycles = 0
    maintain_every = 0  # 0: no maintenance
    trace_cycles = 4  # cycles in a traced run

    def __init__(self, ctx, seed: int):
        self.ctx = ctx
        self.spark = ctx.spark
        self.seed = seed
        self.gauges: dict[str, float] = {}  # per-cycle layer readings

    def setup(self) -> None: ...
    def write(self) -> None: ...
    def read(self) -> None: ...
    def maintain(self) -> None: ...

    def read_gauges(self) -> None:
        """Record per-cycle layer readings in ``gauges`` (traced cycles)."""

    def finish(self) -> float:
        """Final correctness checks; returns stored bytes per user byte."""
        return 0.0


class LakeDaily(Workload):
    """The reference pipeline's own flow, one planner tick per cycle.

    Prefill: DAYS - 1 past days in the raw zone. Each cycle re-ingests
    "today" (4 endpoints x 10 pages, an idempotent partition
    overwrite), crawls the raw zone, promotes it to the curated zone,
    then reads: governed SQL as ``core`` and ``pii`` over the curated
    table, and a fixed list of registry queries over seeded sf 0.1
    tables.
    """

    name = "lake_daily"
    DAYS = 2
    ENDPOINTS = ("api-a", "api-b", "api-c", "api-d")
    PAGES = 10
    ITEMS = 5
    SF = 0.1
    warmup_cycles = 1

    def setup(self) -> None:
        from data_lake_demo_spark.lake import Lake
        from data_lake_demo_spark.plans import all_queries

        ctx = self.ctx
        self.sf_dir = os.path.join(ctx.work, "sf")
        subprocess.run(
            [sys.executable, datagen.__file__, self.sf_dir, str(self.seed), str(self.SF)],
            check=True,
        )
        queries = all_queries()
        self.queries = {q: queries[q] for q in REGISTRY}
        self.result_hash: dict[str, str] = {}
        self.db = "perfbench_lake"
        self.lake = Lake(self.spark, os.path.join(ctx.work, "lake"), db=self.db)
        days = [f"2024-06-{d + 1:02d}" for d in range(self.DAYS)]
        self.today = days[-1]
        for day in days[:-1]:
            with ctx.op("lake", "ingest_mock"):
                self.lake.ingest_mock(day, pages=self.PAGES)
        self.lake.grant(
            "core",
            table="curated",
            row_filter="endpoint = 'api-a'",
            columns=[
                "endpoint", "date", "page", "fetched_at", "item_count",
                "source", "ingestion_date",
            ],
        )
        self.lake.grant("pii", table="curated")
        t = f"{self.db}.curated"
        self.q_pages = (
            "SELECT ingestion_date, endpoint, COUNT(*) AS pages, "
            "SUM(item_count) AS items, MIN(item_count) AS lo, MAX(item_count) AS hi "
            f"FROM {t} GROUP BY ingestion_date, endpoint ORDER BY ingestion_date, endpoint"
        )
        self.q_denied = f"SELECT endpoint, items FROM {t}"
        self.days = days

    def write(self) -> None:
        ctx, lake = self.ctx, self.lake
        with ctx.op("lake", "ingest_mock"):
            lake.ingest_mock(self.today, pages=self.PAGES)
        with ctx.op("catalog", "refresh_catalog"):
            lake.refresh_catalog()
        traced = ctx.tracer.enabled
        before = self._curated_files() if traced else {}
        with ctx.op("lake", "promote_curated"):
            lake.promote_curated()
        if traced:
            # bytes of the curated files the promotion created or rewrote
            self.gauges["lake.curated_bytes_written"] = sum(
                st[2] for f, st in self._curated_files().items() if before.get(f) != st
            )

    def _curated_files(self) -> dict[str, tuple[int, int, int]]:
        """{path: (inode, mtime ns, size)} of every curated-zone file."""
        out = {}
        for dirpath, _, files in os.walk(self.lake.curated_path):
            for f in files:
                path = os.path.join(dirpath, f)
                st = os.stat(path)
                out[path] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    def _governed(self, principal: str, query: str):
        with self.ctx.op("rbac", "sql"):
            df = self.lake.sql(principal, query)
        with self.ctx.op("rbac", "collect"):
            return [tuple(r) for r in df.collect()]

    def read(self) -> None:
        ctx = self.ctx
        # every (day, endpoint) holds exactly PAGES pages of ITEMS items,
        # however often "today" was re-ingested
        page = (self.PAGES, self.PAGES * self.ITEMS, self.ITEMS, self.ITEMS)
        got = self._governed("core", self.q_pages)
        want = [(d, "api-a", *page) for d in self.days]
        ctx.check(got == want, f"core sees {got}, expected the api-a quarter {want}")
        with ctx.op("rbac", "sql", expect_error=AnalysisException):
            self.lake.sql("core", self.q_denied).collect()
        got = self._governed("pii", self.q_pages)
        want = [(d, e, *page) for d in self.days for e in self.ENDPOINTS]
        ctx.check(got == want, f"pii sees {got}, expected {want}")
        for name, fn in self.queries.items():
            with ctx.op("plans", name):
                rows = fn(self.spark, self.sf_dir).collect()
            digest = hashlib.sha256(
                "\n".join(sorted(repr(tuple(r)) for r in rows)).encode()
            ).hexdigest()
            first = self.result_hash.setdefault(name, digest)
            ctx.check(digest == first, f"{name} result changed between cycles")

    def _raw_files(self) -> int:
        return sum(
            1 for _, _, files in os.walk(self.lake.raw_path)
            for f in files if f.startswith("part-")
        )

    def read_gauges(self) -> None:
        self.gauges["lake.raw_files"] = self._raw_files()

    def finish(self) -> float:
        user = 0
        for dirpath, _, files in os.walk(self.lake.raw_path):
            for f in files:
                if f.startswith("part-"):
                    with gzip.open(os.path.join(dirpath, f)) as fh:
                        user += len(fh.read())
        # the two data zones; the run log under the lake root gains a
        # record per tick, so it would grow with the number of cycles
        stored = dir_bytes(self.lake.raw_path) + dir_bytes(self.lake.curated_path)
        return stored / user


class AcidCdc(Workload):
    """Curated CDC upkeep on an AcidTable seeded with ``orders`` rows.

    Each cycle writes one seeded batch (a merge-on-read MERGE over
    ~1% of the keys, then a merge-on-read DELETE of a short key
    range) and reads it back (a point lookup, an aggregate over the
    snapshot, and the batch's change feed through the ``acidtable``
    data source). Compaction runs every ``maintain_every`` cycles.
    """

    name = "acid_cdc"
    ROWS = 20_000
    BATCH_SHARE = 0.01
    warmup_cycles = 2
    maintain_every = 2
    SCHEMA = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string"
    )
    NET_COLS = ("o_orderkey", "o_totalprice", "o_orderstatus")

    def setup(self) -> None:
        from data_lake_demo_spark.streaming import acid_source
        from data_lake_demo_spark.tableformat import AcidTable

        ctx = self.ctx
        acid_source.register(self.spark)
        self.path = os.path.join(ctx.work, "orders_acid")
        self.model = datagen.CdcModel(self.seed, self.ROWS, self.BATCH_SHARE)
        store = ctx.log_store(AcidTable(self.spark, self.path).log.root)
        self.table = AcidTable(self.spark, self.path, log_store=store)
        seed_df = self.spark.createDataFrame(self.model.frame(), self.SCHEMA)
        with ctx.op("tableformat", "append"):
            self.first_version = self.table.append(seed_df)
        self.feed_net: Counter = Counter()

    def write(self) -> None:
        ctx, t = self.ctx, self.table
        self.batch, (lo, hi), self.expected_net = self.model.next_batch()
        self.v_before = t.latest_version()
        with ctx.op("tableformat", "merge"):
            t.merge(
                self.spark.createDataFrame(self.batch, self.SCHEMA),
                ["o_orderkey"],
                mode="merge_on_read",
            )
        with ctx.op("tableformat", "delete"):
            self.v_after = t.delete(
                [("o_orderkey", ">=", lo), ("o_orderkey", "<", hi)],
                mode="merge_on_read",
            )

    def read(self) -> None:
        ctx, t, model = self.ctx, self.table, self.model
        key = int(self.batch["o_orderkey"].iloc[0])
        with ctx.op("tableformat", "snapshot"):
            got = [
                (r.o_orderkey, r.o_totalprice, r.o_orderstatus)
                for r in t.snapshot().filter(F.col("o_orderkey") == key).collect()
            ]
        want = model.row_tuple(key)
        ctx.check(got == ([want] if want else []), f"point lookup {key}: {got} != {want}")
        with ctx.op("tableformat", "snapshot"):
            n, price, keys = t.snapshot().agg(
                F.count(F.lit(1)), F.sum("o_totalprice"), F.sum("o_orderkey")
            ).collect()[0]
        wn, wprice, wkeys = model.totals()
        ctx.check(
            (n, keys) == (wn, wkeys) and abs(price - wprice) < 1e-6 * abs(wprice) + 0.01,
            f"snapshot aggregate {(n, price, keys)} != model {(wn, wprice, wkeys)}",
        )
        with ctx.op("streaming", "read_change_feed"):
            rows = (
                self.spark.read.format("acidtable")
                .option("readChangeFeed", "true")
                .option("startingVersion", self.v_before + 1)
                .option("endingVersion", self.v_after)
                .load(self.path)
                .select(*self.NET_COLS, "_change_type")
                .collect()
            )
        net = _net(rows)
        self.feed_net.update(net)
        ctx.check(
            net == self.expected_net,
            f"change feed of batch v{self.v_before + 1}..v{self.v_after} "
            f"differs from the model in {len(set(net) ^ set(self.expected_net))} rows",
        )
        self.gauges["streaming.cdf_rows"] = len(rows)

    def maintain(self) -> None:
        with self.ctx.op("tableformat", "compact"):
            self.table.compact()

    def read_gauges(self) -> None:
        d = self.table.detail()
        self.gauges["tableformat.live_files"] = d["num_files"]
        self.gauges["tableformat.dv_count"] = d["num_deletion_vectors"]

    def finish(self) -> float:
        ctx, t = self.ctx, self.table
        got = t.snapshot().toPandas().sort_values("o_orderkey").reset_index(drop=True)
        want = self.model.frame().sort_values("o_orderkey").reset_index(drop=True)
        ctx.check(
            got.equals(want[got.columns]),
            f"final snapshot ({len(got)} rows) differs from the model ({len(want)} rows)",
        )
        rows = (
            t.changes(self.first_version, t.latest_version())
            .select(*self.NET_COLS, "_change_type")
            .collect()
        )
        ctx.check(
            _net(rows) == datagen.nonzero(self.feed_net),
            "net of changes() differs from the summed per-commit change feed",
        )
        # live data files only: the log (deletion vectors are inline in
        # it) and the files compaction removed keep the table's whole
        # history, since compact() does not vacuum, so they would grow
        # with the number of cycles run
        user = len(want.to_csv(index=False).encode())
        return t.detail()["size_bytes"] / user


def _net(rows) -> Counter:
    """Signed multiset of change rows: +1 per insert, -1 per delete."""
    net: Counter = Counter()
    for r in rows:
        *row, kind = r
        net[tuple(row)] += 1 if kind in ("insert", "update_postimage") else -1
    return datagen.nonzero(net)


WORKLOADS = {w.name: w for w in (LakeDaily, AcidCdc)}
