#!/usr/bin/env python3
"""Benchmark of the MEV pipeline: one command, two workloads (backfill, classify).

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 1 --trace 0

Run from the repository root. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
(see BENCHMARK.json and perfbench/README.md). Everything the run writes
goes under ``.perfbench_work/`` in the current directory; inputs are kept
there, keyed by seed and shape, and each run's scratch space is removed
when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import workloads as W  # noqa: E402

#: input shapes: (tiles, filler txs per block | filler frames per tile)
SHAPES = {"backfill": (130, 30), "classify": (100, 15)}
#: the shapes of a traced run's companion pass and of the benchmark's tests
TINY = {"backfill": (2, 3), "classify": (5, 4)}
#: tip micro-batches of a traced run (the benchmark's tests land two, so
#: the second upsert of searcher stats runs against the first's history)
TIP_BATCHES = 1
DRIVER_MEMORY = "4g"
MAX_CPUS = 4

LAYERS = [
    "sources.abi_decode", "classify", "pricing", "inspectors.accounting",
    "inspectors.sandwich", "inspectors.jit", "inspectors.liquidations",
    "inspectors.cex_dex", "inspectors.atomic_arb", "inspectors.composer",
    "sources.sinks", "streaming.tip",
]
LAYER_FIELDS = [
    ("wall_s", "s"), ("jobs", "count"), ("stages", "count"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"), ("rows_out", "rows"),
]
COUNTERS = [
    ("classify.frames_in", "frames"),
    ("inspectors.accounting.unpriced_rows", "rows"),
    ("inspectors.composer.bundles_in", "rows"),
    ("sources.sinks.bytes_written", "bytes"),
    ("streaming.tip.wait_s", "s"),
    ("streaming.tip.batch_latency_s", "s"),
    ("streaming.tip.cached_rdds_end", "count"),
    ("streaming.tip.cached_bytes_end", "bytes"),
    ("spark.gc_s", "s"),
    ("spark.task_cpu_s", "s"),
    ("spark.peak_rss_mb", "MB"),
    ("trace.wall_s", "s"),
    ("trace.count_s", "s"),
    ("trace.unattributed_s", "s"),
]


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


class Ctx:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.work = os.path.join(root, ".perfbench_work")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        self.spark = None
        self.tracer = None

    def out(self, name: str) -> str:
        path = os.path.join(self.run_dir, "out", name)
        os.makedirs(path, exist_ok=True)
        return path


def pin_resources(ctx: Ctx) -> None:
    """Fixed CPUs and heap, and every Spark scratch file inside the run's
    own directory."""
    local = os.path.join(ctx.run_dir, "local")
    tmp = os.path.join(ctx.run_dir, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM, spark-submit's launcher too: temp files under the run's
        # own directory, and no perf-data file in /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ctx.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    retained = "100000" if ctx.args.trace else "1000"
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={ctx.run_dir}",
        "spark.ui.retainedJobs": retained,
        "spark.ui.retainedStages": retained,
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def set_up(ctx: Ctx, open_inputs) -> float:
    """One cold session set-up, from get_spark (which launches the JVM) to
    the first input row read; the session stays up for the measured part."""
    from brontes_spark.session import get_spark

    t0 = time.perf_counter()
    ctx.spark = get_spark(f"perfbench-{ctx.args.workload}")
    open_inputs(ctx.spark).limit(1).collect()
    setup_s = time.perf_counter() - t0
    ctx.spark.sparkContext.setLogLevel("ERROR")
    return setup_s


def shut_down(ctx: Ctx) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    if ctx.spark is None:
        return
    gateway = ctx.spark.sparkContext._gateway  # noqa: SLF001
    tree = spans.proc_tree(gateway.proc.pid)
    ctx.spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except Exception:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.time() + 30
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    ctx.spark = None


# ---------------------------------------------------------------------------
# phases
# ---------------------------------------------------------------------------


class Phase:
    """One pipeline pass over generated inputs: ``open`` returns the input
    DataFrames (and the one first touched at set-up), ``run`` the timed
    calls, ``check`` the list of mismatches against the expected output."""

    blocks = 0
    wall = None
    failed = 0
    error = None

    def run_guarded(self, ctx) -> None:
        try:
            self.run(ctx)
        except Exception:
            self.failed = self.attempted()
            self.error = traceback.format_exc(limit=4)

    def attempted(self) -> int:
        return self.blocks


class MevPhase(Phase):
    """Backfill of ``range_tiles`` tiles (``cli run``'s calls; none for
    the companion pass of a traced classify run), then, if ``tip`` > 0,
    that many tiles landed one by one through tip_stream."""

    def __init__(self, ctx, shape, tip: int):
        self.range_tiles, self.filler = shape
        self.rng = list(range(self.range_tiles))
        self.tip_tiles = list(range(self.range_tiles, self.range_tiles + tip))
        # the tip tiles past the range are always generated, so traced and
        # untraced runs share their cached inputs
        self.path = gen.mev_inputs(
            ctx.work, ctx.args.seed, self.range_tiles + max(tip, TIP_BATCHES), self.filler)
        self.blocks = self.range_tiles * gen.BLOCKS_PER_TILE
        self.loop = None

    def open(self, spark):
        self.tables = gen.read_mev_tables(spark, self.path)
        return self.tables["block_info"]

    def attempted(self) -> int:
        return self.blocks + len(self.tip_tiles) * gen.BLOCKS_PER_TILE

    def run(self, ctx) -> None:
        self.wall = W.mev_range(ctx, self.tables, self.rng) if self.rng else 0.0
        if not self.tip_tiles:
            return
        tr = ctx.tracer
        self.loop = W.TipLoop(ctx, self.tables)
        before = tr.ungrouped_jobs()
        with tr.span("streaming.tip"):
            self.loop.run(self.path, self.tip_tiles)
        self.tip_own_jobs = tr.ungrouped_jobs() - before
        errors = [b[4] for b in self.loop.batches if b[4] is not None]
        if errors or len(self.loop.batches) < len(self.tip_tiles):
            self.failed = len(self.tip_tiles) * gen.BLOCKS_PER_TILE
            self.error = "; ".join(errors) or "tip batches missing"

    def check(self, ctx) -> list[str]:
        if self.wall is None:
            return []
        gas = checks.block_gas(os.path.join(self.path, "tx_info.parquet"))
        rows = lambda *p: checks.read_rows(os.path.join(*p))  # noqa: E731
        actions = lambda tiles: [  # noqa: E731
            os.path.join(self.path, "actions", f"tile={i:06d}.parquet") for i in tiles]
        problems = []
        if self.rng:
            out = os.path.join(ctx.run_dir, "out", "range")
            problems += checks.check_bundles(rows(out, "bundles"), self.rng)
            problems += checks.check_headers(rows(out, "mev_blocks"), self.rng, gas)
            problems += checks.check_searcher_stats(
                rows(out, "searcher_stats"), checks.expected_bundles(self.rng))
            problems += checks.check_pool_prices(
                rows(out, "pool_prices"), actions(self.rng))
        if self.loop is not None and not self.failed:
            tip = os.path.join(ctx.run_dir, "out", "tip")
            problems += checks.check_bundles(rows(tip, "bundles"), self.tip_tiles)
            problems += checks.check_headers(rows(tip, "mev_blocks"), self.tip_tiles, gas)
            problems += checks.check_pool_prices(
                rows(tip, "pool_prices"), actions(self.tip_tiles))
            stats = rows(tip, "searcher_block_stats", f"v={self.loop.stats_version}")
            problems += checks.check_searcher_stats(
                checks.rollup_block_stats(stats), checks.expected_bundles(self.tip_tiles))
        return problems


class IngestPhase(Phase):
    """decode -> classify -> write over ``tiles`` tiles of raw frames."""

    def __init__(self, ctx, shape):
        self.tiles, self.filler = shape
        self.path = gen.trace_inputs(ctx.work, ctx.args.seed, self.tiles, self.filler)
        self.blocks = self.tiles

    def open(self, spark):
        self.tables = gen.read_trace_tables(spark, self.path)
        return self.tables["traces"]

    def run(self, ctx) -> None:
        self.wall = W.ingest(ctx, self.tables, self.tables["traces"], ctx.out("actions"))

    def check(self, ctx) -> list[str]:
        if self.wall is None:
            return []
        return checks.check_actions(checks.read_rows(
            os.path.join(ctx.run_dir, "out", "actions")), range(self.tiles))


def phases_for(ctx) -> list[Phase]:
    """The workload's own phase first. A traced run also measures every
    other layer: traced backfill adds a tip batch and a tiny classify pass;
    traced classify adds a tip batch of one tile (its first MEV pass, so a
    cold one)."""
    wl, trace = ctx.args.workload, ctx.args.trace
    tip = TIP_BATCHES if trace else 0
    if wl == "backfill":
        out = [MevPhase(ctx, SHAPES[wl], tip)]
        if trace:
            out.append(IngestPhase(ctx, TINY["classify"]))
    else:
        out = [IngestPhase(ctx, SHAPES[wl])]
        if trace:
            out.append(MevPhase(ctx, (0, TINY["backfill"][1]), tip))
    return out


def run_workload(ctx: Ctx) -> dict:
    t_run = time.perf_counter()
    phases = phases_for(ctx)
    main_phase = phases[0]
    t_gen = time.perf_counter()
    setup_s = set_up(ctx, main_phase.open)
    log(f"inputs ready in {t_gen - t_run:.1f} s; session set-up {setup_s:.2f} s")
    spark = ctx.spark
    tr = ctx.tracer = spans.Tracer(spark, bool(ctx.args.trace))
    for p in phases[1:]:
        p.open(spark)
    # the RSS sampler reads /proc ten times a second: traced runs only, so
    # the untraced pass shares its four cores with nothing of ours
    rss = spans.RssSampler(spark.sparkContext._gateway.proc.pid, ctx.args.trace)  # noqa: SLF001
    t0 = time.perf_counter()
    gc0 = spans.jvm_gc_s(spark)
    with rss:
        for p in phases:
            p.run_guarded(ctx)
    wall = time.perf_counter() - t0
    gc_s = spans.jvm_gc_s(spark) - gc0
    cached = spans.cached_relations(spark)
    log(f"timed part {wall:.1f} s; passes " + ", ".join(
        f"{type(p).__name__} {p.wall:.1f} s" for p in phases if p.wall is not None))

    t_chk = time.perf_counter()
    problems = [x for p in phases for x in p.check(ctx)]
    log(f"checks {time.perf_counter() - t_chk:.1f} s")
    res = dict(
        attempted=sum(p.attempted() for p in phases),
        failed=sum(p.failed for p in phases),
        errors=[p.error for p in phases if p.error],
        problems=problems,
    )
    if not ctx.args.trace:
        rate = main_phase.blocks / main_phase.wall if main_phase.wall else 0.0
        res["metrics"] = {
            "blocks_per_s": (rate, "blocks/s"),
            "setup_s": (setup_s, "s"),
        }
        return res

    for s in tr.spans:
        log(f"span {s.layer:26s} {s.end - s.start:8.3f} s")
    mev = next(p for p in phases if isinstance(p, MevPhase))
    loop = mev.loop
    per = tr.report(LAYERS, {"streaming.tip": getattr(mev, "tip_own_jobs", set())})
    per["streaming.tip"]["rows_out"] = _landed_rows(mev) if loop else 0
    written_bytes, per["sources.sinks"]["rows_out"] = _written(ctx)
    ok = [b for b in (loop.batches if loop else []) if b[4] is None]
    values = {
        "classify.frames_in": tr.counters.get("classify.frames_in", 0),
        "inspectors.accounting.unpriced_rows":
            tr.counters.get("inspectors.accounting.unpriced_rows", 0),
        "inspectors.composer.bundles_in": tr.counters.get("inspectors.composer.bundles_in", 0),
        "sources.sinks.bytes_written": written_bytes,
        "streaming.tip.wait_s": statistics.median(b[2] - b[1] for b in ok) if ok else 0.0,
        "streaming.tip.batch_latency_s":
            statistics.median(b[3] - b[1] for b in ok) if ok else 0.0,
        "streaming.tip.cached_rdds_end": cached[0],
        "streaming.tip.cached_bytes_end": cached[1],
        "spark.gc_s": gc_s,
        "spark.task_cpu_s": spans.task_cpu_s(spark),
        "spark.peak_rss_mb": rss.peak_mb,
        "trace.wall_s": wall,
        "trace.count_s": sum(s.end - s.start for s in tr.spans if s.layer == "trace.count"),
        "trace.unattributed_s": wall - tr.self_total(),
    }
    units = dict(LAYER_FIELDS)
    metrics = {f"{layer}.{k}": (v, units[k]) for layer in LAYERS
               for k, v in per[layer].items()}
    metrics.update({k: (values[k], u) for k, u in COUNTERS})
    res["metrics"] = metrics
    return res


# ---------------------------------------------------------------------------
# reporting
# ---------------------------------------------------------------------------


def _written(ctx: Ctx) -> tuple[int, int]:
    """(bytes, rows) of every parquet file the run's sinks wrote; the tip
    landing directory and stream checkpoint are inputs and state."""
    out = os.path.join(ctx.run_dir, "out")
    size, rows = 0, 0
    for d, dirs, names in os.walk(out):
        dirs[:] = [x for x in dirs if x not in ("landing", "checkpoint")]
        for n in names:
            path = os.path.join(d, n)
            size += os.path.getsize(path)
            if n.endswith(".parquet"):
                rows += pq.ParquetFile(path).metadata.num_rows
    return size, rows


def _landed_rows(mev) -> int:
    return sum(
        pq.ParquetFile(os.path.join(mev.path, "actions", f"tile={t:06d}.parquet")).metadata.num_rows
        for t in mev.loop.landed
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "brontes_spark", "__init__.py")):
        log("run from the repository root: brontes_spark/ is not in", root)
        return 2
    sys.path.insert(1, root)
    ctx = Ctx(args, root)
    os.makedirs(ctx.run_dir, exist_ok=True)
    try:
        pin_resources(ctx)
        res = run_workload(ctx)
    finally:
        shut_down(ctx)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)
    for e in res["errors"]:
        log("failed op:", e)
    for p in res["problems"]:
        log("CHECK FAILED:", p)
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
