"""Seeded inputs for the ``reference_day`` workload: fake transports, the
config dimensions the reference graph reads, and the values the output
checks expect.

The payload shapes follow the fakes in ``tests/test_reference_pipeline.py``.
Numbers (block heights, prices, risk parameters, balances, transfer
amounts) are drawn from ``random.Random(seed)``, and
:class:`Params` keeps them so the checks recompute expected outputs from
the draws, not from the program. The transports are closures so Spark
pickles them by value for executor-side fan-outs.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

MARKET = "ethereum_v2"
MARKET_CONFIG = {
    MARKET: {
        "chain": "ethereum", "version": 2, "chain_id": 1,
        "pool": "0xpool_eth", "collector": "0xcol",
        "incentives_controller": "0xic2",
        "rewards_token": "0xAAVE", "rewards_token_symbol": "stkAAVE",
        "rewards_token_decimals": 18,
        # v2 oracles answer in wei: prices resolve through the ETH/USD feed
        "oracle_base_currency": "wei",
    }
}
N_RESERVES = 4


@dataclass(frozen=True)
class Params:
    day: str
    eth_block_base: int
    day_span: int
    eth_usd_base: int
    prices: tuple[float, ...]
    ltv_bps: tuple[int, ...]
    reserve_factor_bps: tuple[int, ...]
    supply: tuple[int, ...]
    transfer_in: int
    transfer_out: int


def draw(seed: int) -> Params:
    r = random.Random(seed)
    day = dt.date(2024, 1, 1) + dt.timedelta(days=r.randrange(28))
    return Params(
        day=day.isoformat(),
        eth_block_base=1_000_000 + r.randrange(100_000),
        day_span=r.randrange(6_000, 8_000),
        eth_usd_base=r.randrange(1_500, 4_000) * 10**8,
        prices=tuple(round(r.uniform(0.5, 5_000.0), 4) for _ in range(N_RESERVES)),
        ltv_bps=tuple(r.choice((6500, 7000, 7500, 8000, 8250)) for _ in range(N_RESERVES)),
        reserve_factor_bps=tuple(
            r.choice((500, 1000, 1500, 2000, 3500)) for _ in range(N_RESERVES)
        ),
        supply=tuple(r.randrange(50, 500) for _ in range(N_RESERVES)),
        transfer_in=r.randrange(2, 9),
        transfer_out=r.randrange(1, 5),
    )


def day_block(p: Params, day: str) -> int:
    epoch_day = (dt.date.fromisoformat(day) - dt.date(1970, 1, 1)).days
    return p.eth_block_base + epoch_day


def oracle_usd_price(p: Params, reserve: str, block_height: int) -> float:
    """What the wei-path oracle price must resolve to for one reserve."""
    raw = p.prices[int(reserve[-4:])] * (1 + (block_height % 7) / 100)
    eth_usd = float(p.eth_usd_base + block_height) / 1e8
    return raw * (eth_usd / 1e18)


def make_transports(p: Params) -> dict:
    def res_addr(i):
        return "0x" + "e" * 36 + f"{i:04d}"

    def res_index(addr):
        return int(addr[-4:])

    def closest_block(req):
        day = dt.datetime.fromisoformat(req["day"]).replace(tzinfo=dt.timezone.utc)
        h = p.eth_block_base + int(day.timestamp() // 86400)
        return {
            "start": {"height": h, "timestamp": day.timestamp()},
            "next": {"height": h + p.day_span, "timestamp": day.timestamp() + 86400},
        }

    def closest_block_hour(req):
        hh = int(req["hour"].split("-")[-1].split(":")[0])
        return {"height": 2_000_000 + hh * 300, "timestamp": 1704067200 + hh * 3600}

    def subgraph_tokens(req):
        return {
            "reserves": [
                {
                    "underlyingAsset": res_addr(i),
                    "name": f"Token {i}",
                    "symbol": f"T{i}",
                    "decimals": 18,
                    "aToken": {"id": f"0xATOK_{i}"},
                    "pool": {"id": "0xPOOL"},
                }
                for i in range(N_RESERVES)
            ]
        }

    def oracle_prices(req):
        i = res_index(req["reserve"])
        return {"price": p.prices[i] * (1 + (req["block_height"] % 7) / 100)}

    def eth_usd_price(req):
        return {"answer": p.eth_usd_base + req["block_height"]}

    def base_currency_unit(req):
        return {"answer": 10**8}

    def protocol_data(req):
        i = res_index(req["reserve"])
        return {
            "ltv": p.ltv_bps[i], "liquidation_threshold": 8500, "liquidation_bonus": 10500,
            "reserve_factor": p.reserve_factor_bps[i],
            "usage_as_collateral_enabled": True, "borrowing_enabled": True,
            "stable_borrow_rate_enabled": False, "is_active": True, "is_frozen": False,
            "atoken_supply": p.supply[i] * 10**18, "stable_debt": 10 * 10**18,
            "variable_debt": 20 * 10**18,
            "liquidity_rate": 2 * 10**25, "variable_borrow_rate": 3 * 10**25,
            "stable_borrow_rate": 4 * 10**25, "liquidity_index": 1.01 * 10**27,
            "variable_borrow_index": 1.02 * 10**27,
            "last_update_timestamp": 1704067200,
            "is_paused": False, "siloed_borrowing": False,
            "reserve_emode_category": i % 2,
            "borrow_cap": 0, "supply_cap": 0, "unbacked_mint_cap": 0,
            "debt_ceiling": 0, "liquidation_protocol_fee": 1000,
            "unbacked_atokens": 0, "scaled_accrued_to_treasury": 0,
        }

    def emode(req):
        return {
            "ltv": 9300, "liquidation_threshold": 9500, "liquidation_bonus": 10100,
            "price_source": "0xFEED", "label": "Stablecoins",
        }

    def incentives(req):
        reward = {
            "symbol": "SD", "address": "0xRW", "oracle": "0xOR",
            "emission_per_second": 3.9e15, "last_update": 1, "index": 0.5,
            "emission_end": 2_000_000_000, "price_feed": 1135753.0, "decimals": 18,
            "precision": 18, "price_feed_decimals": 6,
        }
        return {
            "reserves": [
                {
                    "underlying_asset": res_addr(0),
                    "atoken": {"token_address": "0xA", "controller": "0xC",
                               "rewards": [reward]},
                }
            ]
        }

    def compound(req):
        return {
            "supply_rate_per_block": 1e10, "borrow_rate_per_block": 2e10,
            "total_supply_underlying": 5_000_000 * 10**6,
            "total_borrows": 2_000_000 * 10**6,
        }

    def erc20_balance(req):
        return {"raw": 7_500_000, "decimals": 6}

    def beacon(req):
        return {"data": {"day": 800, "day_start": 1704067200, "day_end": 1704153600,
                         "apr": 0.04, "cl_apr": 0.03, "el_apr": 0.01}}

    def holders(req):
        return {
            "decimals": 18,
            "total_supply": 3 * 10**18,
            "holders": [
                {"address": "0xH1", "balance": 2 * 10**18},
                {"address": "0xH2", "balance": 0},
                {"address": "0xH3", "balance": 10**18},
            ],
        }

    def balancer(req):
        return {"deployed": True, "rate": 1.05e18, "actual_supply": 2 * 10**18}

    def coingecko(req):
        return {"aave": [[1704067200000, 95.0], [1704153600000, 97.5]]}

    def token_transfers(req):
        # one external inflow and one internal outflow per (collector, token)
        i = int(req["token"][-1]) if req["token"][-1].isdigit() else 0
        sym = f"aT{i}" if "atok" in req["token"] else "GOV"
        return {"transfers": [
            {"type": "IN", "from": "0xEXT1", "to": req["collector"],
             "raw_amount": p.transfer_in * 10**18, "decimals": 18, "name": "T",
             "symbol": sym},
            {"type": "OUT", "from": req["collector"], "to": "0xINT1",
             "raw_amount": p.transfer_out * 10**18, "decimals": 18, "name": "T",
             "symbol": sym},
        ]}

    def balance_of(req):
        return {"decimals": 18, "balance": 5 * 10**18,
                "scaled_balance": 4 * 10**18, "raw": 9 * 10**18}

    def reserve_data(req):
        return {"accrued_to_treasury_scaled": 2 * 10**18,
                "liquidity_index": 1.01 * 10**27}

    def events_by_topic(req):
        from aave_etl_spark.sources.connectors import MINT_TOPIC, MINTED_TO_TREASURY_TOPIC

        res = res_addr(0)
        if req["topic"] == MINTED_TO_TREASURY_TOPIC:
            topic1 = "0x" + "0" * 24 + res[2:]
            return {"items": [
                {"block_signed_at": 1704100000, "block_height": req["start_block"] + 5,
                 "tx_hash": "0xTXMT", "topics": [MINTED_TO_TREASURY_TOPIC, topic1],
                 "sender_address": "0xpool_eth",
                 "raw_log_data": "0x" + format(6 * 10**18, "064x")},
            ]}
        return {"items": [
            {"block_signed_at": 1704100000, "block_height": req["start_block"] + 5,
             "tx_hash": "0xTXMT", "topics": [MINT_TOPIC],
             "sender_address": "0xATOK_0",
             "raw_log_data": "0x" + format(7 * 10**18, "064x")
                              + format(10**18, "064x") + format(10**27, "064x")},
        ]}

    def treasury_incentives(req):
        if req["version"] == 3:
            return {"rewards": [
                {"address": "0xWMATIC", "symbol": "WMATIC", "decimals": 18,
                 "accrued": 11 * 10**18},
            ]}
        return {"raw": 13 * 10**18}

    def paraswap_claimable(req):
        return {"claimable": [2 * 10**6 for _ in req["tokens"]]}

    def sm_rpc(req):
        return {"stk_token_supply": 3 * 10**18, "unstaked_token_supply": 20 * 10**18,
                "emission_per_second": 10**15,
                "last_update_timestamp": 1704067200, "index": 1}

    def total_supply(req):
        return {"raw": None if req["symbol"] == "MaticX" else 5 * 10**18}

    def bal_pool(req):
        return {"tokens": [
            {"address": "0xAAVE", "symbol": "AAVE", "decimals": 18,
             "weight": int(0.8 * 1e18), "balance": 10 * 10**18},
            {"address": "0xWETH", "symbol": "WETH", "decimals": 18,
             "weight": int(0.2 * 1e18), "balance": 2 * 10**18},
        ]}

    return {
        "sm_rpc": sm_rpc,
        "total_supply": total_supply,
        "bal_pool": bal_pool,
        "token_transfers": token_transfers,
        "balance_of": balance_of,
        "reserve_data": reserve_data,
        "events_by_topic": events_by_topic,
        "treasury_incentives": treasury_incentives,
        "paraswap_claimable": paraswap_claimable,
        "closest_block": closest_block,
        "closest_block_hour": closest_block_hour,
        "subgraph_tokens": subgraph_tokens,
        "oracle_prices": oracle_prices,
        "eth_usd_price": eth_usd_price,
        "base_currency_unit": base_currency_unit,
        "protocol_data": protocol_data,
        "emode": emode,
        "incentives": incentives,
        "compound": compound,
        "erc20_balance": erc20_balance,
        "beacon": beacon,
        "holders": holders,
        "balancer": balancer,
        "coingecko": coingecko,
    }


def make_resources(spark, p: Params, transports: dict) -> dict:
    """The config dimensions and injected transports of one reference run."""
    df = spark.createDataFrame
    return {
        "transports": transports,
        "markets": MARKET_CONFIG,
        "config_tokens": df(
            [(MARKET, "ecosystem_reserve", "0xWAL1", "aave", "0xGOV1", 18)],
            "market string, wallet_label string, wallet_address string,"
            "symbol string, token_address string, decimals long",
        ),
        "internal_addresses": df(
            [("ethereum", "0xint1", "aave_internal")],
            "chain string, contract_address string, internal_external string",
        ),
        "sm_rpc_tokens": df(
            [("stkAAVE", "0xSTK", "stkAAVE", "0xAAVE", "AAVE", "0xAAVE", "AAVE", 18, None),
             ("stkABPT", "0xSTKB", "stkABPT", "0xABPT", "ABPT", "0xAAVE", "AAVE", 18,
              "0xBALPOOL")],
            "safety_module_token string, stk_token_address string,"
            "stk_token_symbol string, unstaked_token_address string,"
            "unstaked_token_symbol string, reward_token_address string,"
            "reward_token_symbol string, decimals long, bal_pool_address string",
        ),
        "lsd_tokens": df(
            [("ethereum", "0xSTM_E", "stMATIC", 18), ("ethereum", "0xMX_E", "MaticX", 18)],
            "chain string, address string, symbol string, decimals long",
        ),
        "market_chain_rank": df(
            [(MARKET, "ethereum", 1)], "market string, chain string, price_rank long"
        ),
        "display_names": df(
            [("0xcol", "ethereum", MARKET, "Ethereum", "Ethereum V2")],
            "collector string, chain string, market string, display_chain string,"
            " display_name string",
        ),
        "compound_v2_tokens": df(
            [("ethereum", "compound_v2", "cUSDC", "0xcusdc", "USDC", "0xusdc", 6)],
            "chain string, compound_version string, symbol string, address string,"
            "underlying_symbol string, underlying_address string, underlying_decimals long",
        ),
        # the grants model keeps only the grants-DAO wallet list
        "grants_wallets": df(
            [("ethereum", "0x89c51828427f70d77875c6747759fb17ba10ceb0", "USDC", "0xusdc")],
            "chain string, wallet_address string, token string, token_address string",
        ),
        "fetch_time": dt.datetime.fromisoformat(p.day) + dt.timedelta(hours=2),
        "sm_tokens": df(
            [("ethereum", "stkAAVE", "0xstk")],
            "chain string, safety_module_token string, stk_token_address string",
        ),
        "balancer_pools": df(
            [("0xpool80", "B-80AAVE-20WETH", "Balancer 80/20", 18, "usd", "0xp", "AAVE",
              "ethereum")],
            "pool string, symbol string, name string, decimals long, denom string,"
            "price_token string, price_symbol string, chain string",
        ),
        "coingecko_tokens": [
            {"cg_id": "aave", "symbol": "AAVE", "address": "0xAAVE", "chain": "ethereum",
             "decimals": 18},
        ],
    }
