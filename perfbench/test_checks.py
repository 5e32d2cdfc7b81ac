"""The benchmark's own tests: each correctness check passes the program's
real output and rejects a perturbed copy of it.

Both pipelines run once, at the tiny shape, in one Spark session:

    python3 -m pytest perfbench/test_checks.py -q

The library workload's check (a gate row dropped) is not here: that
workload is not part of the benchmark (see README.md).
"""

from __future__ import annotations

import copy
import os
import shutil
import subprocess
import sys
import types
from decimal import Decimal

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import checks  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


@pytest.fixture(scope="module")
def outputs():
    """Run the backfill (with two tip batches, so the second upsert of
    searcher stats runs against the first's) and the ingest phases at the
    tiny shape; yield their output rows and inputs."""
    args = types.SimpleNamespace(workload="backfill", seed=7, seconds=1, trace=0)
    ctx = run.Ctx(args, ROOT)
    os.makedirs(ctx.run_dir, exist_ok=True)
    try:
        run.pin_resources(ctx)
        mev = run.MevPhase(ctx, run.TINY["backfill"], tip=2)
        ingest = run.IngestPhase(ctx, run.TINY["classify"])
        run.set_up(ctx, mev.open)
        ctx.tracer = spans.Tracer(ctx.spark, False)
        ingest.open(ctx.spark)
        for p in (mev, ingest):
            p.run(ctx)
        out = os.path.join(ctx.run_dir, "out")
        read = lambda *p: checks.read_rows(os.path.join(out, *p))  # noqa: E731
        yield types.SimpleNamespace(
            ctx=ctx, mev=mev, ingest=ingest,
            bundles=read("range", "bundles"),
            headers=read("range", "mev_blocks"),
            stats=read("range", "searcher_stats"),
            prices=read("range", "pool_prices"),
            tip_bundles=read("tip", "bundles"),
            tip_stats=read("tip", "searcher_block_stats", f"v={mev.loop.stats_version}"),
            actions=read("actions"),
            gas=checks.block_gas(os.path.join(mev.path, "tx_info.parquet")),
            all_problems=mev.check(ctx) + ingest.check(ctx),
        )
    finally:
        run.shut_down(ctx)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)


def test_real_outputs_pass(outputs):
    assert outputs.all_problems == []
    assert len(outputs.bundles) == 10 * len(outputs.mev.rng)
    assert len(outputs.actions) == 14 * outputs.ingest.tiles


def _bump(rows, col, pick=lambda r: True):
    rows = copy.deepcopy(rows)
    r = next(r for r in rows if pick(r))
    r[col] = r[col] + Decimal(1)
    return rows


def test_planted_pnl_off_by_one_is_rejected(outputs):
    tiles = outputs.mev.rng
    bad = _bump(outputs.bundles, "profit_usd", lambda r: r["mev_type"] == "jit")
    assert checks.check_bundles(bad, tiles)
    bad = _bump(outputs.headers, "total_profit_usd", lambda r: r["n_bundles"] > 0)
    assert checks.check_headers(bad, tiles, outputs.gas)
    bad = _bump(outputs.stats, "total_profit_usd")
    assert checks.check_searcher_stats(bad, checks.expected_bundles(tiles))


def test_tip_outputs_perturbed_are_rejected(outputs):
    tip = outputs.mev.tip_tiles
    assert checks.check_bundles(outputs.tip_bundles, tip) == []
    bad = _bump(outputs.tip_bundles, "revenue_usd")
    assert checks.check_bundles(bad, tip)
    stats = checks.rollup_block_stats(_bump(outputs.tip_stats, "profit"))
    assert checks.check_searcher_stats(stats, checks.expected_bundles(tip))


def test_filler_bundle_is_rejected(outputs):
    """A bundle on a filler tx (filler must yield none) fails the check."""
    extra = dict(outputs.bundles[0], tx_hashes=["0xfill_not_mev"])
    assert checks.check_bundles(outputs.bundles + [extra], outputs.mev.rng)


def test_pool_price_perturbed_is_rejected(outputs):
    bad = copy.deepcopy(outputs.prices)
    bad[0]["post_state"] *= 1.5
    actions = [os.path.join(outputs.mev.path, "actions", f"tile={i:06d}.parquet")
               for i in outputs.mev.rng]
    assert checks.check_pool_prices(outputs.prices, actions) == []
    assert checks.check_pool_prices(bad, actions)


def test_classified_amount_altered_is_rejected(outputs):
    tiles = range(outputs.ingest.tiles)
    bad = copy.deepcopy(outputs.actions)
    r = next(r for r in bad if r["action_type"] == "swap")
    r["swap"]["amount_out"] += Decimal("0.000001")
    assert checks.check_actions(bad, tiles)
    dropped = [r for r in outputs.actions if r["action_type"] != "self_destruct"]
    assert checks.check_actions(dropped, tiles)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
