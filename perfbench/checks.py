"""Expected outputs, computed without the program, and the comparisons.

Every expected value here is closed-form: the planted MEV PnL written in
the ``brontes_spark/sources/fixtures.py`` docstring (FIXTURES.md §9), the
classifier goldens that follow from the planted ABI words of
``brontes_spark/plans/classify_fixture.py``, and per-block tx counts and
gas summed straight from the generated input files with pyarrow. Outputs
are read back from the parquet the run wrote, also with pyarrow, so no
Spark code takes part in a check.

Each ``check_*`` returns a list of human-readable mismatches; empty means
the output is exact.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict
from decimal import Decimal

import pyarrow.dataset as ds

from gen import BLOCKS_PER_TILE, CLASSIFY_BLOCK0, tile_tx

D = Decimal
S1, S2, S3, S4 = "0xsearcher1", "0xsearcher2", "0xsearcher3", "0xsearcher4"
LIQ = "0xliquidator"

#: per planted tile: (block, txs, eoa, mev_type, profit, revenue, gas).
#: Revenue and gas from the fixtures docstring: every planted tx pays $1 of
#: gas, profit = revenue - gas.
PLANTED_BUNDLES = [
    (100, ("0xf0", "0xv1", "0xv2", "0xb0"), S1, "sandwich", 88, 90, 2),
    (101, ("0xarb",), S2, "atomic_arb:triangle", 49, 50, 1),
    (102, ("0xjf", "0xjv", "0xjb"), S2, "jit", 4, 6, 2),
    (103, ("0xliq",), LIQ, "liquidation", 19, 20, 1),
    (104, ("0xcd",), S1, "cex_dex", 4, 5, 1),
    (107, ("0xbm_f1", "0xbm_v1", "0xbm_f2", "0xbm_v2", "0xbm_b"), S3,
     "sandwich:big_mac", 97, 100, 3),
    (108, ("0xg_f1", "0xg_v1", "0xg_b1"), S4, "sandwich", 3, 5, 2),
    (108, ("0xg_f2", "0xg_v2", "0xg_b2"), S4, "sandwich", 3, 5, 2),
    (109, ("0xjs_f", "0xjs_v", "0xjs_b"), S2, "jit_sandwich", 17, 19, 2),
    (110, ("0xsa",), S1, "searcher_tx", 29, 30, 1),
]


def _bundle_key(block, txs, eoa, mev_type, profit, revenue, gas):
    return (int(block), frozenset(txs), eoa, mev_type, D(profit), D(revenue), D(gas))


def expected_bundles(tiles) -> Counter:
    out = Counter()
    for i in tiles:
        for bn, txs, eoa, typ, p, r, g in PLANTED_BUNDLES:
            out[_bundle_key(bn + BLOCKS_PER_TILE * i, [tile_tx(t, i) for t in txs],
                            eoa, typ, p, r, g)] += 1
    return out


def _rows(path, columns=None) -> list[dict]:
    if isinstance(path, str) and not os.path.exists(path):
        return []
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns).to_pylist()


def read_rows(path) -> list[dict]:
    """Rows of a parquet file, directory tree or list of files."""
    return _rows(path)


def _diff(name: str, got: Counter, want: Counter, limit: int = 5) -> list[str]:
    if got == want:
        return []
    extra = list((got - want).elements())[:limit]
    missing = list((want - got).elements())[:limit]
    return [f"{name}: {sum(got.values())} rows, expected {sum(want.values())}; "
            f"unexpected {extra}; missing {missing}"]


def check_bundles(rows: list[dict], tiles) -> list[str]:
    got = Counter(
        _bundle_key(r["block_number"], r["tx_hashes"], r["eoa"], r["mev_type"],
                    r["profit_usd"], r["revenue_usd"], r["gas_usd"])
        for r in rows
    )
    return _diff("bundles", got, expected_bundles(tiles))


def block_gas(tx_info_path: str, eth_price=D(1)) -> dict[int, tuple[int, Decimal]]:
    """Per block of the input: (txs, builder gas take in USD), summed from
    the generated tx_info file. Every generated block has eth_price 1."""
    out: dict[int, list] = defaultdict(lambda: [0, D(0)])
    for r in _rows(tx_info_path, ["block_number", "gas_used", "effective_gas_price",
                                  "coinbase_transfer"]):
        acc = out[r["block_number"]]
        acc[0] += 1
        acc[1] += (D(r["gas_used"] * r["effective_gas_price"]) / D(10**18)
                   + (r["coinbase_transfer"] or D(0))) * eth_price
    return {bn: (n, g) for bn, (n, g) in out.items()}


def check_headers(rows: list[dict], tiles, gas: dict) -> list[str]:
    """One header per block of the tiles: bundle count and profit from the
    planted bundles, tx count and builder gas from the input."""
    per_block: dict[int, list] = defaultdict(lambda: [0, D(0)])
    for (bn, *_rest), n in expected_bundles(tiles).items():
        per_block[bn][0] += n
        per_block[bn][1] += _rest[3] * n
    want = Counter()
    for i in tiles:
        for b in range(BLOCKS_PER_TILE):
            bn = 100 + b + BLOCKS_PER_TILE * i
            nb, profit = per_block.get(bn, (0, None))
            n_txs, take = gas[bn]
            want[(bn, nb, profit, n_txs, take)] += 1
    got = Counter(
        (r["block_number"], r["n_bundles"], r["total_profit_usd"], r["n_txs"],
         r["builder_gas_usd"])
        for r in rows
    )
    return _diff("mev_blocks", got, want)


def expected_searcher_stats(bundles: Counter) -> dict:
    """Per-searcher rollup of a bundle multiset: bundle count, profit,
    bribe (gas) and bundle counts per MEV family."""
    out: dict = {}
    for (bn, txs, eoa, typ, p, r, g), n in bundles.items():
        s = out.setdefault(eoa, [0, D(0), D(0), Counter()])
        s[0] += n
        s[1] += p * n
        s[2] += g * n
        s[3][typ.split(":")[0]] += n
    return {e: (n, p, g, dict(c)) for e, (n, p, g, c) in out.items()}


def check_searcher_stats(rows: list[dict], bundles: Counter) -> list[str]:
    got = {
        r["eoa"]: (r["n_bundles"], r["total_profit_usd"], r["total_bribe_usd"],
                   dict(r["bundle_counts"]))
        for r in rows
    }
    want = expected_searcher_stats(bundles)
    if got == want:
        return []
    bad = sorted(set(got) ^ set(want) | {e for e in got if got[e] != want.get(e)})
    return [f"searcher_stats differ for {bad[:5]}: got "
            f"{[got.get(e) for e in bad[:2]]}, expected {[want.get(e) for e in bad[:2]]}"]


def rollup_block_stats(rows: list[dict]) -> list[dict]:
    """searcher_stats rows from block-grain stats rows (eoa, block_number,
    mev_family, n, profit, bribe) — the tip upsert's table, rolled up here
    in Python so the check does not lean on the program's own rollup."""
    out: dict = {}
    for r in rows:
        s = out.setdefault(r["eoa"], [0, D(0), D(0), Counter()])
        s[0] += r["n"]
        s[1] += r["profit"]
        s[2] += r["bribe"]
        s[3][r["mev_family"]] += r["n"]
    return [dict(eoa=e, n_bundles=n, total_profit_usd=p, total_bribe_usd=g,
                 bundle_counts=list(c.items())) for e, (n, p, g, c) in out.items()]


def check_pool_prices(rows: list[dict], actions_path) -> list[str]:
    """One realized price per swap of the input with a positive input
    amount, and post_state = amount_out / amount_in."""
    want = Counter()
    cols = {"block_number": ds.field("block_number"), "tx_index": ds.field("tx_index"),
            "action_type": ds.field("action_type"), "pool": ds.field("swap", "pool"),
            "amount_in": ds.field("swap", "amount_in"),
            "amount_out": ds.field("swap", "amount_out")}
    for r in _rows(actions_path, cols):
        if r["action_type"] in ("swap", "swap_with_fee") and r["amount_in"] > 0:
            want[(r["block_number"], r["tx_index"], r["pool"],
                  round(float(r["amount_out"]) / float(r["amount_in"]), 9))] += 1
    got = Counter(
        (r["block_number"], r["tx_idx"], r["pool"], round(r["post_state"], 9))
        for r in rows
    )
    return _diff("pool_prices", got, want)


# ---------------------------------------------------------------------------
# Classification goldens
# ---------------------------------------------------------------------------

_V2 = "0x" + "22" * 20
_DAI, _USDC, _WETH, _TAX = ("0x" + c * 20 for c in ("aa", "bb", "cc", "dd"))
_U2 = "0x" + "e2" * 20
_SDST = "0x" + "99" * 20
_BUILDER = "0x" + "b0" * 20

#: (tx, trace_idx, action_type, protocol, token_a, token_b, amount_a,
#: amount_b) for the 14 actions the planted frames must classify to: the
#: scaled ABI words of each frame (18 decimals, USDC 6), one row per frame
#: except the reverted-parent create (the new pool rides on trace 1) and
#: the tax swap's pool-bound transfer (its 2-unit fee).
CLASSIFY_GOLDEN = [
    ("0xc2v2", 0, "swap", "UniswapV2", _DAI, _WETH, "4000", "2"),
    ("0xc2v3", 0, "swap", "UniswapV3", _WETH, _DAI, "1.5", "3000"),
    ("0xc2cv", 0, "swap", "CurveBasePool2", _DAI, _USDC, "7", "6.9"),
    ("0xc2aave", 0, "liquidation", "AaveV3", _DAI, _WETH, "1000", "0.5"),
    ("0xc2tr", 0, "transfer", None, _TAX, _U2, "95", "5"),
    ("0xc2eth", 0, "eth_transfer", None, "0xeth", _U2, "0.25", "0"),
    ("0xc2cb", 0, "coinbase_transfer", None, "0xeth", _BUILDER, "0.125", "0"),
    ("0xc2rv", 0, "revert", None, None, None, None, None),
    ("0xc2np", 1, "new_pool", "UniswapV2", _DAI, _USDC, None, None),
    ("0xc2mb", 0, "mint", "UniswapV3", _DAI, _WETH, "3000", "1"),
    ("0xc2fl", 0, "flash_loan", "AaveV3", _DAI, None, "500", None),
    ("0xc2tax", 0, "swap_with_fee", "UniswapV2", _DAI, _WETH, "98", "0.05"),
    ("0xc2tax", 1, "transfer", None, _DAI, _V2, "98", "2"),
    ("0xc2sd", 0, "self_destruct", None, "0xeth", _SDST, "0.5", "0"),
]


def _amt(x):
    return None if x is None else D(x).normalize()


def expected_actions(tiles) -> Counter:
    out = Counter()
    for i in tiles:
        for tx, idx, typ, proto, ta, tb, aa, ab in CLASSIFY_GOLDEN:
            out[(CLASSIFY_BLOCK0 + i, tile_tx(tx, i), idx, typ, proto, ta, tb,
                 _amt(aa), _amt(ab))] += 1
    return out


def _first(*vals):
    return next((v for v in vals if v is not None), None)


def _get(lst, i):
    return lst[i] if lst is not None and len(lst) > i else None


def action_key(r: dict):
    """The scalar projection of one classified action (the columns the
    classify_fixture gate compares), in Python."""
    sw, tr, lq = r["swap"] or {}, r["transfer"] or {}, r["liquidation"] or {}
    fl, mb = r["flash_loan"] or {}, r["mint_burn_collect"] or {}
    ta = _first(sw.get("token_in"), tr.get("token"), lq.get("debt_asset"),
                _get(fl.get("assets"), 0), _get(mb.get("tokens"), 0))
    tb = _first(sw.get("token_out"), tr.get("to"), lq.get("collateral_asset"),
                _get(mb.get("tokens"), 1))
    aa = _first(sw.get("amount_in"), tr.get("amount"), lq.get("covered_debt"),
                _get(fl.get("amounts"), 0), _get(mb.get("amounts"), 0))
    ab = _first(sw.get("amount_out"), tr.get("fee"),
                lq.get("liquidated_collateral"), _get(mb.get("amounts"), 1))
    return (r["block_number"], r["tx_hash"], r["trace_idx"], r["action_type"],
            r["protocol"], ta, tb, _amt(aa), _amt(ab))


def check_actions(rows: list[dict], tiles) -> list[str]:
    got = Counter(action_key(r) for r in rows)
    return _diff("classified actions", got, expected_actions(tiles))
