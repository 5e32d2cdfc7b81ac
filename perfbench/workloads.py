"""The calls each workload makes into the program.

``backfill`` is ``cli run`` over a tiled block range: realized pool
prices, ``run_composer`` (accounting, the six inspectors, compose/dedup,
searcher activity, header), then the sinks (bundles, mev_blocks, searcher
stats, pool prices). A traced run then follows the chain tip: a tile
lands as one parquet file in the directory ``streaming.tip.tip_stream``
watches, and each micro-batch prices its swaps, runs ``run_composer`` on
its blocks, writes its bundles, headers and prices, and upserts searcher
stats with ``upsert_searcher_block_stats``. The loop is closed: a file
lands only once the previous batch has committed.

``classify`` decodes (``sources.abi_decode.decode_traces``), classifies
(``classify.classify_traces``) and writes a tiled range of raw frames.

Untraced, each phase calls the program exactly as a user would. Traced,
the same calls run under spans, each layer's output materialized
(``localCheckpoint``) so the time measured is its own; inside
``run_composer`` the spans wrap the accounting and inspector functions it
calls (see ``composer``).
"""

from __future__ import annotations

import os
import shutil
import threading
import time

import gen
from spans import Tracer


# ---------------------------------------------------------------------------
# MEV pipeline
# ---------------------------------------------------------------------------

#: fact tables restricted to the analysed block range, as ``cli run`` does
RANGE_TABLES = ("actions", "tx_info", "dex_prices", "block_info")


def restrict(tables: dict, lo: int, hi: int, actions=None) -> dict:
    from pyspark.sql import functions as F

    out = dict(tables)
    for t in RANGE_TABLES:
        out[t] = tables[t].filter((F.col("block_number") >= lo) & (F.col("block_number") < hi))
    if actions is not None:
        out["actions"] = actions
    return out


def tile_blocks(tiles) -> tuple[int, int]:
    return 100 + gen.BLOCKS_PER_TILE * min(tiles), 100 + gen.BLOCKS_PER_TILE * (max(tiles) + 1)


#: names ``run_composer`` calls from its own module, and the layer each
#: call is timed as in a traced run
TRACED_CALLS = {
    "usd_deltas": "inspectors.accounting",
    "gas_usd": "inspectors.accounting",
    "sandwich_bundles": "inspectors.sandwich",
    "jit_bundles": "inspectors.jit",
    "liquidation_bundles": "inspectors.liquidations",
    "cex_dex_bundles": "inspectors.cex_dex",
    "cex_dex_quotes_bundles": "inspectors.cex_dex",
    "atomic_arb_bundles": "inspectors.atomic_arb",
}


def _traced_call(tr: Tracer, name: str, fn):
    """``fn`` under its layer's span, its output materialized; rows are
    counted after the span closes."""
    layer = TRACED_CALLS[name]

    def call(*args, **kwargs):
        with tr.span(layer) as s:
            out = fn(*args, **kwargs).localCheckpoint()
        with tr.span("trace.count"):
            n = tr.rows(s, out)
            if name == "usd_deltas":  # deltas dropped for a token without a price
                tr.count("inspectors.accounting.unpriced_rows", args[0].count() - n)
            elif layer != "inspectors.accounting":  # the bundles compose/dedup gets
                tr.count("inspectors.composer.bundles_in", n)
        return out

    return call


def composer(tr: Tracer, tables: dict) -> dict:
    """``run_composer``. Traced, the accounting and inspector calls it makes
    each run under their own span (the names are wrapped in the composer
    module for the call), and its result is materialized under the
    composer span, so compose, dedup, searcher activity and header are that
    span's self time."""
    from brontes_spark.inspectors import composer as C

    if not tr.enabled:
        return C.run_composer(tables)
    originals = {name: getattr(C, name) for name in TRACED_CALLS}
    try:
        for name, fn in originals.items():
            setattr(C, name, _traced_call(tr, name, fn))
        with tr.span("inspectors.composer") as s:
            res = {k: df.localCheckpoint() for k, df in C.run_composer(tables).items()}
    finally:
        for name, fn in originals.items():
            setattr(C, name, fn)
    with tr.span("trace.count"):
        tr.rows(s, res["bundles"])
    return res


def mev_range(ctx, tables: dict, tiles: list[int]) -> float:
    """Historical range, as ``cli run``: prices, composer, sinks."""
    from brontes_spark.pricing.dex import realized_pool_prices
    from brontes_spark.sources.sinks import searcher_stats, write_partitioned

    tr = ctx.tracer
    out = ctx.out("range")
    lo, hi = tile_blocks(tiles)
    tables = restrict(tables, lo, hi)
    t0 = time.perf_counter()
    with tr.span("pricing") as s:
        prices = realized_pool_prices(tables["actions"])
        if tr.enabled:
            prices = prices.localCheckpoint()
    if tr.enabled:
        with tr.span("trace.count"):
            tr.rows(s, prices)
    res = composer(tr, tables)
    with tr.span("sources.sinks") as s:
        prices.write.mode("overwrite").parquet(os.path.join(out, "pool_prices"))
        write_partitioned(res["bundles"], os.path.join(out, "bundles"))
        write_partitioned(res["mev_blocks"], os.path.join(out, "mev_blocks"))
        searcher_stats(res["bundles"]).write.mode("overwrite").parquet(
            os.path.join(out, "searcher_stats"))
    return time.perf_counter() - t0


BLOCK_STATS_DDL = (
    "eoa string, block_number bigint, mev_family string, n bigint, "
    "profit decimal(38,18), bribe decimal(38,18)"
)


class TipLoop:
    """Closed loop around ``tip_stream``: land a file, wait until its
    micro-batch has committed its sinks, land the next."""

    def __init__(self, ctx, tables: dict):
        self.ctx = ctx
        self.tables = tables
        self.dir = ctx.out("tip")
        self.landing = os.path.join(self.dir, "landing")
        os.makedirs(self.landing)
        self.current = None  # (tile, t_land) of the file in flight
        self.done = threading.Event()
        self.batches = []  # (tile, t_land, t_start, t_commit, error)
        self.stats_version = None
        self.landed = []  # tiles landed, in order

    def process(self, batch_df, batch_id: int) -> None:
        from brontes_spark.pricing.dex import realized_pool_prices
        from brontes_spark.sources.sinks import upsert_searcher_block_stats, write_partitioned

        t_start = time.time()
        tile, t_land = self.current
        err = None
        try:
            spark = batch_df.sparkSession
            tr = self.ctx.tracer
            lo, hi = tile_blocks([tile])
            tables = restrict(self.tables, lo, hi, actions=batch_df)
            with tr.span("pricing") as s:
                prices = realized_pool_prices(batch_df)
                if tr.enabled:
                    prices = prices.localCheckpoint()
            if tr.enabled:
                with tr.span("trace.count"):
                    tr.rows(s, prices)
            res = composer(tr, tables)
            with tr.span("sources.sinks"):
                prices.write.mode("overwrite").parquet(os.path.join(
                    self.dir, "pool_prices", f"batch={batch_id}"))
                write_partitioned(res["bundles"], os.path.join(
                    self.dir, "bundles", f"batch={batch_id}"))
                write_partitioned(res["mev_blocks"], os.path.join(
                    self.dir, "mev_blocks", f"batch={batch_id}"))
                prev = (spark.createDataFrame([], BLOCK_STATS_DDL)
                        if self.stats_version is None else
                        spark.read.parquet(self._stats(self.stats_version)))
                upsert_searcher_block_stats(prev, res["bundles"]).write.mode(
                    "overwrite").parquet(self._stats(batch_id))
            self.stats_version = batch_id
        except Exception as e:  # counted as a failed op; the loop goes on
            err = repr(e)[:500]
        self.batches.append((tile, t_land, t_start, time.time(), err))
        self.done.set()

    def _stats(self, v) -> str:
        return os.path.join(self.dir, "searcher_block_stats", f"v={v}")

    def run(self, mev_path: str, tiles: list[int]) -> None:
        from brontes_spark.streaming.tip import tip_stream

        spark = self.ctx.spark
        q = tip_stream(spark, self.landing, os.path.join(self.dir, "checkpoint"),
                       self.process, available_now=False)
        try:
            deadline = time.time() + 60
            while "Waiting for data" not in q.status["message"] and time.time() < deadline:
                time.sleep(0.05)
            for tile in tiles:
                name = f"tile={tile:06d}.parquet"
                staged = os.path.join(self.landing, f".{name}")
                shutil.copyfile(os.path.join(mev_path, "actions", name), staged)
                self.done.clear()
                self.current = (tile, time.time())
                self.landed.append(tile)
                os.rename(staged, os.path.join(self.landing, name))
                if not self.done.wait(150):
                    raise TimeoutError(f"tip batch for tile {tile} never committed")
        finally:
            q.stop()


# ---------------------------------------------------------------------------
# Raw-trace ingest
# ---------------------------------------------------------------------------


def ingest(ctx, tables: dict, traces, out: str) -> float:
    """decode -> classify -> write one set of frames; returns wall seconds."""
    from brontes_spark.classify import classify_traces
    from brontes_spark.sources.abi_decode import decode_traces

    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("sources.abi_decode") as s_dec:
        decoded = decode_traces(traces)
        if tr.enabled:
            decoded = decoded.localCheckpoint()
    with tr.span("classify") as s_cls:
        actions = classify_traces(
            decoded, tables["address_to_protocol"], tables["token_decimals"],
            tables["block_info"], pool_coins=tables["pool_coins"])
        if tr.enabled:
            actions = actions.localCheckpoint()
    with tr.span("sources.sinks"):
        actions.write.mode("overwrite").parquet(out)
    wall = time.perf_counter() - t0
    if tr.enabled:
        with tr.span("trace.count"):
            tr.rows(s_dec, decoded)
            tr.rows(s_cls, actions)
            tr.count("classify.frames_in", traces.count())
    return wall
