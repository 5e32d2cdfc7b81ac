"""Deterministic inputs for the benchmark workloads.

Two families of inputs, both written once as parquet under
``<work>/inputs/<name>/`` where ``<name>`` encodes the seed and the shape,
and reused by every later run with the same seed and shape:

* MEV tables (``backfill``, and the tip batch of a traced run): the eleven planted blocks 100-110
  of ``brontes_spark/sources/fixtures.py`` tiled by block offset, each block
  padded with non-MEV filler txs. Tile ``i`` moves every block by
  ``11 * i`` and every timestamp by ``132 * i`` seconds (the same 12 s block
  time), so the range is contiguous and no CEX markout window (at most 5 s
  each side) reaches another tile. Filler txs sit at tx indexes from
  ``FILLER_TX0`` up, each sent by its own EOA, swapping on filler pools
  between filler tokens, so no planted pool, token pair, searcher or tx
  index is ever touched and the planted answers stay exact at any scale.
* Raw traces (``classify`` layers): the 15-frame raw-hex fixture of
  ``brontes_spark/plans/classify_fixture.py`` tiled by block offset, plus
  filler frames that no decoder claims (unknown selectors, and V2 swap
  calldata sent to addresses outside the protocol dim).

The seed picks the filler's names, amounts, pools, tokens and calldata; it
never changes the number of rows, so the work per run is the same for
every seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq

BLOCKS_PER_TILE = 11
TS_PER_TILE = 12 * BLOCKS_PER_TILE
#: planted txs use tx indexes 0-5 in every block
FILLER_TX0 = 16
#: filler gas: 50k gas at 1e13 wei = $0.5 at eth_price 1
FILLER_GAS_USED = 50_000
N_FILLER_POOLS = 8
#: the last filler token has no dex price: its deltas are dropped by the
#: accounting join (counted as unpriced rows in the traced run)
N_FILLER_TOKENS = 6
#: input directories carry a digest of this file, so editing the generator
#: never reuses inputs an older version wrote
with open(__file__, "rb") as _f:
    GEN_DIGEST = hashlib.sha256(_f.read()).hexdigest()[:8]

#: block number of classify tile 0 (the fixture's own block is 900)
CLASSIFY_BLOCK0 = 2_000_000


def tile_tx(h: str, i: int) -> str:
    return h if i == 0 else f"{h}_c{i}"


def _arrow_schema(struct_type) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct_type)


def _write(rows: list[dict], schema: pa.Schema, path: str, row_group: int = 200_000):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema), path,
        compression="zstd", row_group_size=row_group,
    )


def _publish(final: str, build) -> str:
    """Build into a private directory and rename it into place, so a run
    that dies half way never leaves a partial input behind."""
    if os.path.isfile(os.path.join(final, "_DONE")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        json.dump(meta, f, sort_keys=True)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


# ---------------------------------------------------------------------------
# MEV tables
# ---------------------------------------------------------------------------


def _filler_names(seed: int):
    h = hashlib.sha256(f"perfbench-{seed}".encode()).hexdigest()[:8]
    tokens = [f"0xfilltok{h}{k}" for k in range(N_FILLER_TOKENS)]
    pools = [f"0xfillpool{h}{k}" for k in range(N_FILLER_POOLS)]
    return h, tokens, pools


def _filler_block(rng: random.Random, bn: int, n_txs: int, tag: str,
                  tokens: list[str], pools: list[tuple[str, str, str]]):
    """One block's filler: actions, tx_info and dex_prices rows. Every odd
    filler tx also pays an ERC20 transfer; every fourth pays it in the
    unpriced token. The seed picks pools, directions, tokens and amounts,
    never how many rows there are."""
    from brontes_spark.sources import fixtures as FX

    priced = tokens[:-1]
    actions, txs, prices = [], [], []
    for j in range(n_txs):
        txi = FILLER_TX0 + j
        txh = f"0xfill{tag}_{bn}_{j}"
        eoa = f"0xfilleoa{tag}_{bn}_{j}"
        pool, t_in, t_out = pools[rng.randrange(len(pools))]
        if rng.random() < 0.5:
            t_in, t_out = t_out, t_in
        a_in = Decimal(rng.randrange(1, 10_000)) / 100
        a_out = Decimal(rng.randrange(1, 10_000)) / 100
        actions.append(FX._swap(bn, txh, txi, 0, eoa, pool, t_in, t_out, a_in, a_out))
        touched = [t_in, t_out]
        if j % 2 == 1:  # an ERC20 payment to another filler address
            tok = tokens[-1] if j % 4 == 3 else rng.choice(
                [t for t in priced if t not in touched])
            actions.append(FX._transfer(
                bn, txh, txi, 1, eoa, f"0xfillsink{tag}_{rng.randrange(64)}",
                tok, Decimal(rng.randrange(1, 1000)),
            ))
            touched.append(tok)
        txs.append(dict(
            block_number=bn, tx_index=txi, tx_hash=txh, eoa=eoa,
            mev_contract=None, gas_used=FILLER_GAS_USED,
            effective_gas_price=10_000_000_000_000, priority_fee=1_000_000_000,
            coinbase_transfer=Decimal(0), is_private=False,
            is_verified_contract=False,
        ))
        for tok in touched:
            if tok in priced:
                prices.append(dict(
                    block_number=bn, tx_idx=txi, token=tok,
                    price_usd=Decimal(rng.randrange(1, 500)) / 10,
                    pool_liquidity=Decimal(1_000_000), first_hop_connections=5,
                ))
    return actions, txs, prices


def _tiled(rows: list[dict], i: int, table: str) -> list[dict]:
    out = []
    for r in rows:
        r = dict(r)
        if "block_number" in r:
            r["block_number"] += BLOCKS_PER_TILE * i
        if "tx_hash" in r:
            r["tx_hash"] = tile_tx(r["tx_hash"], i)
        if table == "block_info":
            r["block_timestamp"] += TS_PER_TILE * i
        if table in ("cex_trades", "cex_quotes"):
            r["timestamp"] += TS_PER_TILE * i * 1_000_000
        out.append(r)
    return out


#: tables run_composer reads, and which are tiled (the rest are dims)
MEV_TABLES = {
    "actions": "ACTIONS_SCHEMA",
    "tx_info": "TX_INFO_SCHEMA",
    "dex_prices": "DEX_PRICES_SCHEMA",
    "cex_trades": "CEX_TRADES_SCHEMA",
    "cex_quotes": "CEX_QUOTES_SCHEMA",
    "block_info": "BLOCK_INFO_SCHEMA",
    "searcher_info": "SEARCHER_INFO_SCHEMA",
}
_DIMS = {"searcher_info"}


def mev_inputs(work: str, seed: int, tiles: int, filler: int) -> str:
    """Write (once) the tiled MEV tables; return their directory.

    ``actions`` is written one parquet file per tile under
    ``actions/tile=<i>.parquet`` so the tip phase can land tiles one
    file at a time; every other table is a single file."""
    from brontes_spark import schemas as S
    from brontes_spark.sources import fixtures as FX

    final = os.path.join(work, "inputs", f"mev-{GEN_DIGEST}-s{seed}-t{tiles}-f{filler}")

    def build(tmp: str) -> dict:
        rng = random.Random(seed)
        tag, tokens, pool_names = _filler_names(seed)
        n = N_FILLER_TOKENS - 1  # pools trade priced tokens only
        pools = [(p, tokens[k % n], tokens[(k + 1 + k // n) % n])
                 for k, p in enumerate(pool_names)]
        base = {
            "actions": FX.actions_rows(), "tx_info": FX.tx_info_rows(),
            "dex_prices": FX.dex_prices_rows(), "cex_trades": FX.cex_trades_rows(),
            "cex_quotes": FX.cex_quotes_rows(), "block_info": FX.block_info_rows(),
            "searcher_info": FX.searcher_info_rows(),
        }
        schemas = {t: _arrow_schema(getattr(S, s)) for t, s in MEV_TABLES.items()}
        acc = {t: [] for t in MEV_TABLES if t != "actions"}
        n_actions = 0
        for i in range(tiles):
            tile_actions = _tiled(base["actions"], i, "actions")
            for b in range(BLOCKS_PER_TILE):
                bn = 100 + b + BLOCKS_PER_TILE * i
                a, t, p = _filler_block(rng, bn, filler, tag, tokens, pools)
                tile_actions += a
                acc["tx_info"] += t
                acc["dex_prices"] += p
            n_actions += len(tile_actions)
            _write(tile_actions, schemas["actions"],
                   os.path.join(tmp, "actions", f"tile={i:06d}.parquet"))
            for t in acc:
                if t not in _DIMS:
                    acc[t] += _tiled(base[t], i, t)
        acc["searcher_info"] = base["searcher_info"]
        for t, rows in acc.items():
            _write(rows, schemas[t], os.path.join(tmp, f"{t}.parquet"))
        return {
            "seed": seed, "tiles": tiles, "filler_per_block": filler,
            "blocks": tiles * BLOCKS_PER_TILE,
            "txs": len(acc["tx_info"]), "action_rows": n_actions,
            "dex_price_rows": len(acc["dex_prices"]),
            "filler_tag": tag,
        }

    return _publish(final, build)


def read_mev_tables(spark, path: str) -> dict:
    """DataFrames over the MEV inputs, with the program's static schemas."""
    from brontes_spark import schemas as S

    out = {}
    for t, s in MEV_TABLES.items():
        name = "actions" if t == "actions" else f"{t}.parquet"
        out[t] = spark.read.schema(getattr(S, s)).parquet(os.path.join(path, name))
    return out


# ---------------------------------------------------------------------------
# Raw traces
# ---------------------------------------------------------------------------

_STR = pa.string()
_MAP = pa.map_(pa.string(), pa.string())
TRACE_ARROW = pa.schema([
    ("block_number", pa.int64()), ("tx_hash", _STR), ("tx_index", pa.int64()),
    ("trace_idx", pa.int64()), ("trace_address", pa.list_(pa.int32())),
    ("action_kind", _STR), ("call_type", _STR), ("from_address", _STR),
    ("to_address", _STR), ("msg_sender", _STR), ("msg_value", _STR),
    ("calldata_selector", _STR), ("calldata", _STR),
    ("decoded", pa.struct([("function", _STR), ("params", _MAP)])),
    ("logs", pa.list_(pa.struct([("address", _STR), ("topic0", _STR),
                                 ("data_params", _MAP)]))),
    ("error", _STR), ("is_success", pa.bool_()),
])


def _frame(bn, txh, txi, idx, to, calldata, sender):
    return dict(
        block_number=bn, tx_hash=txh, tx_index=txi, trace_idx=idx,
        trace_address=[idx], action_kind="call", call_type="call",
        from_address=sender, to_address=to, msg_sender=sender, msg_value="0",
        calldata_selector=calldata[:10], calldata=calldata, decoded=None,
        logs=[], error=None, is_success=True,
    )


def trace_inputs(work: str, seed: int, tiles: int, filler: int) -> str:
    """Write (once) the tiled raw-trace frames and the classification dims."""
    from brontes_spark.plans import classify_fixture as CF

    final = os.path.join(work, "inputs", f"traces-{GEN_DIGEST}-s{seed}-t{tiles}-f{filler}")

    def build(tmp: str) -> dict:
        rng = random.Random(seed ^ 0x5EED)
        base = CF.raw_trace_rows()
        for r in base:  # map columns as key/value pairs for arrow
            r["logs"] = [dict(l, data_params=list(l["data_params"].items()))
                         for l in r["logs"]]
        rows = []
        for i in range(tiles):
            bn = CLASSIFY_BLOCK0 + i
            for r in base:
                r = dict(r, block_number=bn, tx_hash=tile_tx(r["tx_hash"], i))
                rows.append(r)
            for j in range(filler):
                txh = f"0xnoise{seed}_{i}_{j}"
                sender = f"0x{rng.getrandbits(160):040x}"
                if j % 2 == 0:  # unknown selector: decodes to nothing
                    cd = "0x%08x" % rng.getrandbits(32) + "".join(
                        CF._w_uint(rng.getrandbits(128)) for _ in range(3))
                    to = f"0x{rng.getrandbits(160):040x}"
                else:  # V2 swap calldata to a contract outside the protocol dim
                    cd = ("0x022c0d9f" + CF._w_uint(0)
                          + CF._w_uint(rng.randrange(1, 10**21))
                          + CF._w_addr(sender) + CF._w_uint(4 * 32))
                    to = f"0x{rng.getrandbits(160):040x}"
                rows.append(_frame(bn, txh, 16 + j, 0, to, cd, sender))
        _write(rows, TRACE_ARROW, os.path.join(tmp, "traces.parquet"), 50_000)
        _write(
            [dict(block_number=CLASSIFY_BLOCK0 + i, beneficiary=CF.BUILDER)
             for i in range(tiles)],
            pa.schema([("block_number", pa.int64()), ("beneficiary", _STR)]),
            os.path.join(tmp, "block_info.parquet"),
        )
        return {
            "seed": seed, "tiles": tiles, "filler_per_tile": filler,
            "frames": len(rows), "planted_frames": len(base) * tiles,
        }

    return _publish(final, build)


def read_trace_tables(spark, path: str) -> dict:
    """Traces plus the classification dims of the raw-trace fixture."""
    from brontes_spark.plans import classify_fixture as CF

    a2p = spark.createDataFrame(
        [(CF.V2, "UniswapV2"), (CF.V3, "UniswapV3"), (CF.CRV, "CurveBasePool2"),
         (CF.AAVE, "AaveV3"), (CF.FACT, "UniswapV2")],
        "address string, protocol string",
    )
    coins = spark.createDataFrame(
        [(CF.V2, 0, CF.DAI), (CF.V2, 1, CF.WETH), (CF.V3, 0, CF.DAI),
         (CF.V3, 1, CF.WETH), (CF.CRV, 0, CF.DAI), (CF.CRV, 1, CF.USDC)],
        "pool string, idx int, token string",
    )
    tok = spark.createDataFrame(
        [(CF.DAI, 18), (CF.USDC, 6), (CF.WETH, 18), (CF.TAX, 18)],
        "address string, decimals int",
    )
    return {
        "traces": spark.read.schema(CF._TRACE_DDL).parquet(
            os.path.join(path, "traces.parquet")),
        "address_to_protocol": a2p, "pool_coins": coins, "token_decimals": tok,
        "block_info": spark.read.parquet(os.path.join(path, "block_info.parquet")),
    }
