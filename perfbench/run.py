"""Closed-loop benchmark of the lake engine.

    python3 perfbench/run.py --workload lake_daily --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. One client runs identical cycles of a
workload (see ``workloads.py``) against ``local[<cores>]``: untimed
warm-up cycles first, then timed cycles for ``--seconds``, at least
four of them and a whole number of maintenance periods.

``--trace 0`` prints every end-to-end metric listed in BENCHMARK.json;
``--trace 1`` runs a fixed number of cycles instead, traced and
untraced in the order T U U T, and prints the per-layer metrics, the
tracing overhead and the unattributed remainder of each cycle. Both
print a human-readable report first and, as the last line of stdout,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
The exit code is 0 only if every op succeeded and every check held.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import logging  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.getcwd()  # the checkout under test; run.py is started from its root
sys.path.insert(1, ROOT)

import workloads  # noqa: E402
from tracing import CountingLogStore, Probes, Tracer, steal_seconds  # noqa: E402

WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
MIN_TIMED_CYCLES = 4  # the drift check compares medians of two halves of >= 2 cycles
TAIL_LADDER = (99, 95, 90, 75)  # a tail is the highest of these with >= 10 samples above it


class Abort(Exception):
    """An op raised: the run stops and reports what it measured."""


@dataclass
class Ctx:
    spark: object
    work: str
    tracer: Tracer
    counting_store: bool
    attempted: int = 0
    failed: int = 0
    stores: list[CountingLogStore] = field(default_factory=list)

    @contextmanager
    def op(self, layer: str, name: str, *, expect_error=None):
        """One call into the engine: counted, spanned, and failed if it
        raises (or, with ``expect_error``, if it does not raise that)."""
        self.attempted += 1
        try:
            with self.tracer.span(layer, name):
                yield
        except Exception as e:
            if expect_error is not None and isinstance(e, expect_error):
                return
            self.fail(f"{layer}.{name} raised {type(e).__name__}: {str(e)[:300]}")
            raise Abort from e
        if expect_error is not None:
            self.fail(f"{layer}.{name} did not raise {expect_error.__name__}")

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.fail(f"check failed: {what}")

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)

    def log_store(self, root: str):
        """The commit-log store for a table rooted at ``root``: the
        engine's default in untraced runs, the counting one in traced."""
        if not self.counting_store:
            from data_lake_demo_spark.storage import LocalFSLogStore

            return LocalFSLogStore(root)
        store = CountingLogStore(root, self.tracer)
        self.stores.append(store)
        return store


@dataclass
class Cycle:
    index: int
    traced: bool
    write: float
    read: float
    maintain: float
    steal: float  # host CPU-seconds stolen during the cycle
    probes: dict[str, float]
    gauges: dict[str, float]

    @property
    def wall(self) -> float:
        return self.write + self.read + self.maintain


def quantile(xs: list[float], p: float) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[int(p) - 1]


def tail(xs: list[float]) -> tuple[int, float] | None:
    """(percentile, value) of the highest ladder percentile with at
    least 10 samples above it, or None when the sample cannot support
    any tail above the median."""
    for p in TAIL_LADDER:
        if len(xs) * (100 - p) / 100 >= 10:
            return p, quantile(xs, p)
    return None


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def progress(what: str) -> None:
    print(f"perfbench {time.perf_counter() - T_START:7.2f} s: {what}", file=sys.stderr)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(work: str):
    """The engine's own session factory, with every scratch path inside
    the run's work directory."""
    from data_lake_demo_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # every JVM the launch starts (the launcher too) keeps its temp
    # files in the work directory and writes no perf-data file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["TMPDIR"] = tmp
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_cycle(wl, ctx, probes, index: int, traced: bool) -> Cycle:
    """One cycle: write, read and (every ``maintain_every`` cycles)
    maintenance; probes and gauges are read only when traced."""
    tracer = ctx.tracer
    wl.gauges = {}
    before = probes.read() if traced else {}
    tracer.cycle, tracer.enabled = index, traced
    steal0 = steal_seconds()
    t0 = time.perf_counter()
    try:
        wl.write()
        t1 = time.perf_counter()
        wl.read()
        t2 = time.perf_counter()
        if wl.maintain_every and (index + 1) % wl.maintain_every == 0:
            wl.maintain()
        t3 = time.perf_counter()
    finally:
        tracer.enabled = False
    steal = steal_seconds() - steal0
    after = probes.read() if traced else {}
    if traced:
        wl.read_gauges()
    return Cycle(
        index, traced, t1 - t0, t2 - t1, t3 - t2, steal,
        {k: after[k] - before[k] for k in after}, dict(wl.gauges),
    )


def end_to_end(bench, cycles, seconds, setup_s, elapsed, ratio, rss, lines) -> dict:
    writes = [c.write for c in cycles]
    reads = [c.read for c in cycles]
    n = len(cycles)
    values = {
        "setup_s": setup_s,
        "cycles_per_s": n / elapsed,
        "write_p50_s": median(writes),
        "read_p50_s": median(reads),
        "stored_bytes_per_user_byte": ratio,
        "peak_rss_mib": sum(rss),
    }
    lines.append(f"setup_s = {setup_s:.3f} s (n=1: process start to first timed cycle)")
    floor_s = sum(c.wall for c in cycles[:MIN_TIMED_CYCLES])
    stop = f"--seconds {seconds:g}" if floor_s < seconds else f"the {MIN_TIMED_CYCLES}-cycle floor"
    lines.append(
        f"cycles_per_s = {values['cycles_per_s']:.4f} 1/s (n={n} cycles in {elapsed:.2f} s; "
        f"{stop} ended the timed phase)"
    )
    for phase, xs in (("write", writes), ("read", reads)):
        lines.append(f"{phase}_p50_s = {median(xs):.4f} s (n={n}, p50)")
        t = tail(xs)
        if t is None:
            lines.append(
                f"{phase}_tail_s = dropped (n={n}: no percentile above p50 "
                "has 10 samples beyond it)"
            )
        else:
            lines.append(f"{phase}_tail_s = {t[1]:.4f} s (n={n}, p{t[0]})")
    lines.append(f"stored_bytes_per_user_byte = {ratio:.4f} ratio (n=1, live data at run end)")
    lines.append(
        f"peak_rss_mib = {sum(rss):.1f} MiB (n=1: driver {rss[0]:.1f} + JVM {rss[1]:.1f} "
        "peak over set-up and the timed cycles)"
    )
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def drift_check(bench, cycles, cores, lines) -> None:
    """Median cycle time (write + read; maintenance runs in whole
    periods and is left out) over the first half of the timed cycles
    vs the second half, against the ``cycles_per_s`` bound. A ratio
    outside it means the run was not in steady state: JIT warm-up not
    over, state that grew, or host contention. It is reported with
    each half's host steal share and does not fail the run: on a
    shared host, contention alone moves it past the bound."""
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}["cycles_per_s"]
    half = len(cycles) // 2
    first, second = cycles[:half], cycles[half:]
    a = median(c.write + c.read for c in first)
    b = median(c.write + c.read for c in second)
    sa = median(c.steal / (c.wall * cores) for c in first)
    sb = median(c.steal / (c.wall * cores) for c in second)
    verdict = "steady" if abs(a / b - 1.0) <= bound else "DRIFT (not steady)"
    lines.append(
        f"drift: first-half p50 {a:.4f} s, second-half p50 {b:.4f} s per cycle, "
        f"ratio {a / b:.3f} (bound {bound}), host steal share {sa:.1%} vs {sb:.1%}: "
        f"{verdict}"
    )


def per_layer(bench, cycles, ctx, lines) -> dict:
    """Per-layer metrics from the traced cycles' spans and probes."""
    traced = [c for c in cycles if c.traced]
    plain = [c for c in cycles if not c.traced]
    spans = ctx.tracer.spans
    by_cycle: dict[int, list] = {c.index: [] for c in traced}
    for s in spans:
        by_cycle.setdefault(s.cycle, []).append(s)

    def per_cycle(fn):
        return [fn(by_cycle[c.index], c) for c in traced]

    def dur(sel):
        return lambda ss, c: sum(s.end - s.start for s in ss if sel(s))

    def jobs(sel):
        return lambda ss, c: sum(s.jobs for s in ss if sel(s))

    def is_(layer, *names):
        return lambda s: s.layer == layer and (not names or s.name in names)

    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + s.end - s.start
    self_time = {id(s): s.end - s.start - child_time.get(i, 0.0) for i, s in enumerate(spans)}

    v: dict[str, float] = {}
    spec = {
        "lake.ingest": is_("lake", "ingest_mock"),
        "lake.promote": is_("lake", "promote_curated"),
        "catalog.crawl": is_("catalog", "refresh_catalog"),
        "tableformat.merge": is_("tableformat", "merge"),
        "tableformat.delete": is_("tableformat", "delete"),
        "tableformat.snapshot": is_("tableformat", "snapshot"),
        "streaming.cdf": is_("streaming", "read_change_feed"),
    }
    for q in workloads.REGISTRY:
        spec[f"plans.{q}"] = is_("plans", q)
    for key, sel in spec.items():
        v[f"{key}_s"] = median(per_cycle(dur(sel)))
        v[f"{key}_jobs"] = statistics.fmean(per_cycle(jobs(sel)))
    v["rbac.plan_s"] = median(per_cycle(dur(is_("rbac", "sql"))))
    v["rbac.exec_s"] = median(per_cycle(dur(is_("rbac", "collect"))))
    v["rbac.jobs"] = statistics.fmean(per_cycle(jobs(is_("rbac"))))
    compacts = [d for d in per_cycle(dur(is_("tableformat", "compact"))) if d > 0]
    v["tableformat.compact_s"] = median(compacts)
    top = lambda s: s.parent is None  # noqa: E731
    v["spark.jobs_per_cycle"] = statistics.fmean(per_cycle(jobs(top)))
    for layer in ("lake", "catalog", "rbac", "tableformat", "storage", "streaming", "plans"):
        v[f"{layer}.self_s"] = median(
            per_cycle(lambda ss, c, l=layer: sum(self_time[id(s)] for s in ss if s.layer == l))
        )
    v["trace.remainder_s_per_cycle"] = median(
        per_cycle(lambda ss, c: c.wall - sum(s.end - s.start for s in ss if s.parent is None))
    )
    v["trace.spans_per_cycle"] = statistics.fmean(per_cycle(lambda ss, c: len(ss)))
    v["trace.overhead_s_per_cycle"] = (
        median(c.wall for c in traced) - median(c.wall for c in plain)
    )
    for probe, name in (
        ("storage.lists", "storage.lists_per_cycle"),
        ("storage.reads", "storage.reads_per_cycle"),
        ("storage.puts", "storage.puts_per_cycle"),
        ("storage.log_s", "storage.log_s_per_cycle"),
        ("spark.gc_s", "spark.gc_s_per_cycle"),
        ("spark.jvm_cpu_s", "spark.jvm_cpu_s_per_cycle"),
        ("spark.driver_cpu_s", "spark.driver_cpu_s_per_cycle"),
        ("host.steal_s", "host.steal_s_per_cycle"),
    ):
        v[name] = statistics.fmean(c.probes[probe] for c in traced)
    for gauge in (
        "lake.raw_files", "lake.curated_bytes_written", "tableformat.live_files",
        "tableformat.dv_count", "streaming.cdf_rows",
    ):
        v[gauge] = statistics.fmean(c.gauges.get(gauge, 0) for c in traced)

    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    missing = sorted(set(units) - set(v))
    if missing:
        ctx.fail(f"per-layer metrics not produced: {missing}")
    wall = median(c.wall for c in traced)
    lines.append(
        f"traced {len(traced)} and untraced {len(plain)} cycles; traced cycle p50 "
        f"{wall:.4f} s, of which spans cover all but "
        f"{v['trace.remainder_s_per_cycle']:.4f} s (benchmark glue and checks); "
        f"tracing overhead {v['trace.overhead_s_per_cycle']:+.4f} s per cycle"
    )
    for k in sorted(units):
        if k in v:
            lines.append(f"{k} = {v[k]:.6g} {units[k]}")
    return {k: {"value": v[k], "unit": units[k]} for k in units if k in v}


def traced_cycle(k: int) -> bool:
    """Traced runs trace cycles in Thue-Morse order (T U U T ...), so a
    linear trend in cycle times cancels out of the traced-minus-
    untraced overhead."""
    return bin(k).count("1") % 2 == 0


def measure(args, wl, ctx, probes):
    """Set up, warm up, run the timed (or traced) cycles and the final
    checks. Returns (cycles, setup_s, elapsed_s, stored ratio, peak
    RSS, probe readings before and after the timed cycles)."""
    progress("session started")
    wl.setup()
    progress("workload set up")
    for i in range(wl.warmup_cycles):
        run_cycle(wl, ctx, probes, i, traced=False)
        progress(f"warm-up cycle {i} done")
    setup_s = time.perf_counter() - T_START
    before = probes.read()
    t0 = time.perf_counter()
    cycles: list[Cycle] = []
    # whole maintenance periods only, so both halves of the drift check
    # and cycles_per_s see the same maintenance share
    period = wl.maintain_every or 1
    while True:
        k = len(cycles)
        c = run_cycle(wl, ctx, probes, wl.warmup_cycles + k, args.trace and traced_cycle(k))
        cycles.append(c)
        progress(
            f"cycle {c.index}: write {c.write:.3f} s, read {c.read:.3f} s, "
            f"maintain {c.maintain:.3f} s"
        )
        if args.trace:
            if len(cycles) >= wl.trace_cycles:
                break
        elif (
            time.perf_counter() - t0 >= args.seconds
            and len(cycles) >= MIN_TIMED_CYCLES
            and len(cycles) % period == 0
        ):
            break
    elapsed = time.perf_counter() - t0
    after = probes.read()
    rss = probes.peak_rss_mib()  # the final checks are the benchmark's own work
    progress(f"{len(cycles)} timed cycles done")
    ratio = wl.finish()
    progress("final checks done")
    return cycles, setup_s, elapsed, ratio, rss, before, after


def main(argv=None) -> int:
    args = parse_args(argv)
    real_stdout = os.dup(1)  # the JVM may write to fd 1; keep the report clean
    os.dup2(2, 1)

    def emit(line: str) -> None:
        os.write(real_stdout, line.encode() + b"\n")

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cores = len(os.sched_getaffinity(0))
    os.environ.update(SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_DRIVER_MEM="1g")
    # an expected access-denied query would log its full analysis error
    logging.getLogger("SQLQueryContextLogger").setLevel(logging.CRITICAL)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_spark(work)
        ctx = Ctx(spark, work, Tracer(sc=spark.sparkContext), counting_store=bool(args.trace))
        probes = Probes(spark, ctx.stores)
        wl = workloads.WORKLOADS[args.workload](ctx, args.seed)
        lines = [
            f"workload {wl.name}: closed loop, 1 client, local[{cores}], seed {args.seed}, "
            f"{wl.warmup_cycles} warm-up cycles, "
            + (f"{wl.trace_cycles} traced-run cycles" if args.trace else f"{args.seconds:g} s timed")
        ]
        metrics = {}
        try:
            cycles, setup_s, elapsed, ratio, rss, before, after = measure(args, wl, ctx, probes)
        except Abort:
            cycles = []
        if cycles and args.trace:
            metrics = per_layer(bench, cycles, ctx, lines)
            write_spans(args, ctx.tracer.spans)
        elif cycles:
            metrics = end_to_end(bench, cycles, args.seconds, setup_s, elapsed, ratio, rss, lines)
            drift_check(bench, cycles, cores, lines)
        if cycles:
            diag = {k: (after[k] - before[k]) / len(cycles) for k in after}
            lines.append(
                "host noise (recorded, never used to drop or re-weight samples): "
                f"steal {diag['host.steal_s']:.3f} s/cycle, "
                f"JVM GC {diag['spark.gc_s']:.3f} s/cycle, "
                f"JVM CPU {diag['spark.jvm_cpu_s']:.3f} s/cycle, "
                f"driver CPU {diag['spark.driver_cpu_s']:.3f} s/cycle"
            )
        lines.append(
            f"failed_share = {ctx.failed / max(1, ctx.attempted):.4g} "
            f"({ctx.failed} failed of {ctx.attempted} ops)"
        )
        for ln in lines:
            emit(ln)
        correct = ctx.failed == 0 and bool(cycles)
        emit(json.dumps({
            "correct": correct,
            "attempted": max(1, ctx.attempted),
            "failed": ctx.failed,
            "metrics": metrics,
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


def write_spans(args, spans) -> None:
    """Spans of a traced run, one JSON object per line, kept after the run."""
    out = os.path.join(ROOT, ".perfbench_spans")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.jsonl")
    with open(path, "w") as f:
        for i, s in enumerate(spans):
            f.write(json.dumps({
                "id": i, "parent": s.parent, "cycle": s.cycle, "layer": s.layer,
                "name": s.name, "start": s.start - T_START, "end": s.end - T_START,
                "jobs": s.jobs,
            }) + "\n")


if __name__ == "__main__":
    sys.exit(main())
