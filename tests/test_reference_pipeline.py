"""End-to-end reference pipeline through the orchestration layer: the
declared asset graph (plans/reference_pipeline.py) backfilled over two
days × two markets with fake transports, every layer landing in the
TableStore — the repo twin of running the reference's daily cadence jobs
(aave_data/__init__.py:207-434) against live APIs."""

from __future__ import annotations

import pytest

from aave_etl_spark.io.table_store import TableStore
from aave_etl_spark.plans.orchestration import backfill, run_hour
from aave_etl_spark.plans.reference_pipeline import (
    DAILY_JOB_GROUPS,
    HOURLY_JOB_GROUPS,
    LIQUIDITY_JOB_GROUPS,
    reference_graph,
)

MARKETS = {
    "ethereum_v2": {
        "chain": "ethereum", "version": 2, "chain_id": 1,
        "pool": "0xpool_eth", "collector": "0xcol",
        "incentives_controller": "0xic2",
        "rewards_token": "0xAAVE", "rewards_token_symbol": "stkAAVE",
        "rewards_token_decimals": 18,
        # v1/v2 oracles answer in wei — prices resolve through the
        # Chainlink ETH/USD multiplier path (data_lake.py:251-306)
        "oracle_base_currency": "wei",
    },
    "polygon_v3": {
        "chain": "polygon", "version": 3, "chain_id": 137,
        "pool": "0xpool_pol", "collector": "0xcolp",
        "incentives_controller": "0xic3",
        "paraswap_fee_claimer": "0xPSC",
        # v3 oracles answer in the base currency unit (usd path)
        "oracle_base_currency": "usd",
    },
}


def _res_addr(market: str, i: int) -> str:
    """40-hex reserve address (topic-decode round-trips require real
    addresses); tag byte distinguishes markets, suffix carries the index."""
    tag = "e" if market == "ethereum_v2" else "f"
    return "0x" + tag * 36 + f"{i:04d}"


def _transports():
    # nested copy: fan-out transports (incentives, events) close over this,
    # and cloudpickle must serialize it BY VALUE for executors (a
    # module-level test function would pickle by reference and fail to
    # import on workers)
    def res_addr(market, i):
        tag = "e" if market == "ethereum_v2" else "f"
        return "0x" + tag * 36 + f"{i:04d}"

    def closest_block(req):
        from datetime import datetime, timezone

        day = datetime.fromisoformat(req["day"]).replace(tzinfo=timezone.utc)
        base = 1_000_000 if req["chain"] == "ethereum" else 40_000_000
        h = base + int(day.timestamp() // 86400)
        return {
            "start": {"height": h, "timestamp": day.timestamp()},
            "next": {"height": h + 7000, "timestamp": day.timestamp() + 86400},
        }

    def closest_block_hour(req):
        hh = int(req["hour"].split("-")[-1].split(":")[0])
        return {"height": 2_000_000 + hh * 300, "timestamp": 1704067200 + hh * 3600}

    def subgraph_tokens(req):
        return {
            "reserves": [
                {
                    "underlyingAsset": res_addr(req["market"], i),
                    "name": f"Token {i}",
                    "symbol": f"T{i}",
                    "decimals": 18,
                    "aToken": {"id": f"0xATOK_{i}"},
                    "pool": {"id": "0xPOOL"},
                }
                for i in range(3)
            ]
        }

    def oracle_prices(req):
        # deterministic per (reserve, block_height)
        return {"price": 1.0 + (req["block_height"] % 7) + len(req["reserve"]) % 3}

    def eth_usd_price(req):
        # Chainlink latestAnswer, 8 decimals — keyed off the block so the
        # test can recompute the wei-path multiplier exactly
        return {"answer": 2000 * 10**8 + req["block_height"]}

    def base_currency_unit(req):
        return {"answer": 10**8}

    def protocol_data(req):
        # v3-style payload; reserve index drives the eMode category
        i = int(req["reserve"][-4:])
        return {
            "ltv": 8000, "liquidation_threshold": 8250, "liquidation_bonus": 10500,
            "reserve_factor": 1000,
            "usage_as_collateral_enabled": True, "borrowing_enabled": True,
            "stable_borrow_rate_enabled": False, "is_active": True, "is_frozen": False,
            "atoken_supply": (100 + i) * 10**18, "stable_debt": 10 * 10**18,
            "variable_debt": 20 * 10**18,
            "liquidity_rate": 2 * 10**25, "variable_borrow_rate": 3 * 10**25,
            "stable_borrow_rate": 4 * 10**25, "liquidity_index": 1.01 * 10**27,
            "variable_borrow_index": 1.02 * 10**27,
            "last_update_timestamp": 1704067200,
            "is_paused": False, "siloed_borrowing": False,
            "reserve_emode_category": i % 2,  # half the reserves in category 1
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
                    "underlying_asset": res_addr(req["market"], 0),
                    "atoken": {"token_address": "0xA", "controller": "0xC",
                               "rewards": [reward]},
                }
            ]
        }

    def compound(req):
        return {
            "supply_rate_per_block": 1e10, "borrow_rate_per_block": 2e10,
            "total_supply_underlying": 5_000_000 * 10**6, "total_borrows": 2_000_000 * 10**6,
        }

    def erc20_balance(req):
        return {"raw": 7_500_000, "decimals": 6}

    def beacon(req):
        return {"data": {"day": 800, "day_start": 1704067200, "day_end": 1704153600,
                         "apr": 0.04, "cl_apr": 0.03, "el_apr": 0.01}}

    def swap_quote(req):
        return {"to_amount_native": req["from_amount_usd"] * 0.985}

    def holders(req):
        return {
            "decimals": 18,
            "total_supply": 3 * 10**18,
            "holders": [
                {"address": "0xH1", "balance": 2 * 10**18},
                {"address": "0xH2", "balance": 0},  # zero dropped
                {"address": "0xH3", "balance": 10**18},
            ],
        }

    def balancer(req):
        return {"deployed": True, "rate": 1.05e18, "actual_supply": 2 * 10**18}

    def coingecko(req):
        return {"aave": [[1704067200000, 95.0], [1704153600000, 97.5]]}

    def token_transfers(req):
        # one external inflow + one internal outflow per (collector, token)
        i = int(req["token"][-1]) if req["token"][-1].isdigit() else 0
        sym = f"aT{i}" if "atok" in req["token"] else "GOV"
        return {"transfers": [
            {"type": "IN", "from": "0xEXT1", "to": req["collector"],
             "raw_amount": 3 * 10**18, "decimals": 18, "name": "T", "symbol": sym},
            {"type": "OUT", "from": req["collector"], "to": "0xINT1",
             "raw_amount": 1 * 10**18, "decimals": 18, "name": "T", "symbol": sym},
        ]}

    def balance_of(req):
        # superset payload: collector-atoken path reads balance/scaled,
        # non-atoken path reads raw with config decimals
        return {"decimals": 18, "balance": 5 * 10**18,
                "scaled_balance": 4 * 10**18, "raw": 9 * 10**18}

    def reserve_data(req):
        return {"accrued_to_treasury_scaled": 2 * 10**18,
                "liquidity_index": 1.01 * 10**27}

    def events_by_topic(req):
        from aave_etl_spark.sources.connectors import MINT_TOPIC, MINTED_TO_TREASURY_TOPIC

        market = "polygon_v3" if req["chain_id"] == 137 else "ethereum_v2"
        res = res_addr(market, 0)
        if req["topic"] == MINTED_TO_TREASURY_TOPIC:
            topic1 = "0x" + "0" * 24 + res[2:]
            return {"items": [
                {"block_signed_at": 1704100000, "block_height": req["start_block"] + 5,
                 "tx_hash": "0xTXMT", "topics": [MINTED_TO_TREASURY_TOPIC, topic1],
                 "sender_address": "0xpool_pol",
                 "raw_log_data": "0x" + format(6 * 10**18, "064x")},
            ]}
        # Mint twin: sender is the atoken, 3×uint256 data, word 0 = value
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
                "emission_per_second": 10**15, "last_update_timestamp": 1704067200,
                "index": 1}

    def total_supply(req):
        # one token per chain reports no supply -> fillna(0)
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
        "swap_quote": swap_quote,
        "holders": holders,
        "balancer": balancer,
        "coingecko": coingecko,
    }


def _resources(spark):
    ranks = spark.createDataFrame(
        [("ethereum_v2", "ethereum", 1), ("polygon_v3", "polygon", 2)],
        "market string, chain string, price_rank long",
    )
    display_names = spark.createDataFrame(
        [("0xcol", "ethereum", "ethereum_v2", "Ethereum", "Ethereum V2"),
         ("0xcol", "polygon", "polygon_v3", "Polygon", "Polygon V3")],
        "collector string, chain string, market string, display_chain string, display_name string",
    )
    from datetime import datetime

    compound_tokens = spark.createDataFrame(
        [("ethereum", "compound_v2", "cUSDC", "0xcusdc", "USDC", "0xusdc", 6)],
        "chain string, compound_version string, symbol string, address string,"
        "underlying_symbol string, underlying_address string, underlying_decimals long",
    )
    # the model filters to the hardcoded grants-DAO wallet list — use a
    # real member address so the datamart row survives
    grants_wallets = spark.createDataFrame(
        [("ethereum", "0x89c51828427f70d77875c6747759fb17ba10ceb0", "USDC", "0xusdc")],
        "chain string, wallet_address string, token string, token_address string",
    )
    liquidity_pairs = spark.createDataFrame(
        [("eth_weth_usdc", "ethereum_v2", "ethereum", "ethereum_v2",
          "USDC", "0xusdc", 6, "WETH", "0xweth", 18, 2000.0, 1.0, 1)],
        "market_key string, market string, chain string, loop_market string,"
        "to_asset string, to_asset_address string, to_asset_decimals long,"
        "from_asset string, from_asset_address string, from_asset_decimals long,"
        "from_asset_price double, to_asset_price double, chain_id long",
    )
    sm_tokens = spark.createDataFrame(
        [("ethereum", "stkAAVE", "0xstk")],
        "chain string, safety_module_token string, stk_token_address string",
    )
    balancer_pools = spark.createDataFrame(
        [("0xpool80", "B-80AAVE-20WETH", "Balancer 80/20", 18, "usd", "0xp", "AAVE",
          "ethereum")],
        "pool string, symbol string, name string, decimals long, denom string,"
        "price_token string, price_symbol string, chain string",
    )
    coingecko_tokens = [
        {"cg_id": "aave", "symbol": "AAVE", "address": "0xAAVE", "chain": "ethereum",
         "decimals": 18},
    ]
    config_tokens = spark.createDataFrame(
        [("ethereum_v2", "ecosystem_reserve", "0xWAL1", "aave", "0xGOV1", 18),
         ("polygon_v3", "treasury", "0xWAL2", "wmatic", "0xGOV2", 18)],
        "market string, wallet_label string, wallet_address string,"
        "symbol string, token_address string, decimals long",
    )
    internal_addresses = spark.createDataFrame(
        [("ethereum", "0xint1", "aave_internal"),
         ("polygon", "0xint1", "aave_internal")],
        "chain string, contract_address string, internal_external string",
    )
    sm_rpc_tokens = spark.createDataFrame(
        [("stkAAVE", "0xSTK", "stkAAVE", "0xAAVE", "AAVE", "0xAAVE", "AAVE", 18, None),
         ("stkABPT", "0xSTKB", "stkABPT", "0xABPT", "ABPT", "0xAAVE", "AAVE", 18,
          "0xBALPOOL")],
        "safety_module_token string, stk_token_address string,"
        "stk_token_symbol string, unstaked_token_address string,"
        "unstaked_token_symbol string, reward_token_address string,"
        "reward_token_symbol string, decimals long, bal_pool_address string",
    )
    lsd_tokens = spark.createDataFrame(
        [("polygon", "0xSTM_P", "stMATIC", 18), ("polygon", "0xMX_P", "MaticX", 18),
         ("ethereum", "0xSTM_E", "stMATIC", 18), ("ethereum", "0xMX_E", "MaticX", 18)],
        "chain string, address string, symbol string, decimals long",
    )
    return {
        "transports": _transports(),
        "markets": MARKETS,
        "config_tokens": config_tokens,
        "internal_addresses": internal_addresses,
        "sm_rpc_tokens": sm_rpc_tokens,
        "lsd_tokens": lsd_tokens,
        "market_chain_rank": ranks,
        "display_names": display_names,
        "compound_v2_tokens": compound_tokens,
        "grants_wallets": grants_wallets,
        "liquidity_pairs": liquidity_pairs,
        "fetch_time": datetime(2024, 1, 1, 2),
        "sm_tokens": sm_tokens,
        "balancer_pools": balancer_pools,
        "coingecko_tokens": coingecko_tokens,
    }


@pytest.fixture(scope="module")
def pipeline_store(spark, tmp_path_factory):
    store = TableStore(spark, str(tmp_path_factory.mktemp("refpipe")))
    resources = _resources(spark)
    graph = reference_graph(include_market_state=True)
    backfill(
        spark, store, graph, "2024-01-01", "2024-01-02",
        markets=list(MARKETS), resources=resources, groups=DAILY_JOB_GROUPS,
    )
    run_hour(
        spark, store, graph, "2024-01-01", 6, list(MARKETS), resources,
        groups=HOURLY_JOB_GROUPS,
    )
    # one 2-hourly liquidity tick (liquidity_depth_job)
    from aave_etl_spark.plans.orchestration import PartitionKey, run_partition

    run_partition(
        spark, store, graph, PartitionKey("2024-01-01"), resources,
        selection=graph.select_groups(*LIQUIDITY_JOB_GROUPS),
    )
    return store


def test_lake_layer_partitions(pipeline_store):
    blocks = pipeline_store.read("block_numbers_by_day")
    assert blocks.count() == 4  # 2 days x 2 markets
    # end_block invariant survives the store round-trip
    assert blocks.filter("end_block != block_height + 6999").count() == 0

    tokens = pipeline_store.read("market_tokens_by_day")
    assert tokens.count() == 12  # 3 tokens x 2 days x 2 markets
    # dependent fetch used the partition's block height, and lowercased
    row = tokens.filter("market = 'ethereum_v2'").first()
    assert row.reserve.startswith("0x" + "e" * 36)
    assert row.block_height >= 1_000_000

    prices = pipeline_store.read("aave_oracle_prices_by_day")
    assert prices.count() == 12
    assert prices.filter("usd_price <= 0").count() == 0


def test_oracle_price_multiplier_resolution(pipeline_store):
    """The plan (not just the connector) resolves the per-market S4
    multiplier (data_lake.py:295-310): wei-base markets go through the
    Chainlink ETH/USD answer / 1e18, usd-base through
    1/BASE_CURRENCY_UNIT — recomputed here from the same fakes."""
    prices = pipeline_store.read("aave_oracle_prices_by_day")
    rows = prices.collect()
    assert rows
    for r in rows:
        raw = 1.0 + (r.block_height % 7) + len(r.reserve) % 3
        if r.market == "ethereum_v2":
            # wei path: the plan fetches the ethereum chain's day-start
            # block (same chain+date as this market's own in the fake)
            eth_usd = float(2000 * 10**8 + r.block_height) / 1e8
            expected = raw * (eth_usd / 1e18)
        else:  # polygon_v3, usd path
            expected = raw * (1.0 / float(10**8))
        assert r.usd_price == pytest.approx(expected, rel=1e-12), (
            r.market, r.reserve,
        )


def test_warehouse_layer_full_refresh(pipeline_store):
    wh_blocks = pipeline_store.read("warehouse_blocks_by_day")
    # per-chain dedup: 2 chains x 2 days
    assert wh_blocks.count() == 4
    assert set(wh_blocks.columns) == {
        "block_day", "block_time", "block_height", "end_block", "chain",
    }

    tp = pipeline_store.read("token_prices_by_day")
    # min-rank pick is per (chain, reserve, day): reserves are per-market
    # here so all 12 survive, now keyed by chain
    assert tp.count() == 12
    assert set(tp.columns) == {
        "block_day", "chain", "reserve", "symbol", "usd_price", "pricing_source",
    }
    assert tp.filter("pricing_source != 'aave_oracle'").count() == 0


def test_warehouse_run_without_chain_day(spark, tmp_path):
    """The warehouse job reads the chain_day BPT scan with its schema: a
    run whose chain_day job never wrote ``balancer_bpt_data_by_day``
    completes, and the warehouse BPT table stays unwritten (empty)."""
    store = TableStore(spark, str(tmp_path))
    backfill(
        spark, store, reference_graph(include_market_state=True),
        "2024-01-01", "2024-01-01", markets=["ethereum_v2"],
        resources=_resources(spark),
        groups=("financials_data_lake", "protocol_data_lake", "warehouse"),
    )
    assert not store.exists("balancer_bpt_data_by_day")
    assert not store.exists("warehouse_balancer_bpt_by_day")
    assert store.read("token_prices_by_day").count() == 3


def test_market_state_spine(pipeline_store):
    """protocol lake pair -> warehouse market_state/config through the REAL
    transforms, end-to-end from fetched (fake-transport) lake data."""
    pdd = pipeline_store.read("protocol_data_by_day")
    assert pdd.count() == 12  # 3 reserves x 2 days x 2 markets
    assert pdd.filter("ltv != 0.8").count() == 0  # bps/1e4 shift survived

    emode = pipeline_store.read("emode_config_by_day")
    # only category > 0 fetched: one distinct category per (day, market)
    assert emode.count() == 4
    assert emode.filter("reserve_emode_category != 1").count() == 0

    state = pipeline_store.read("warehouse_market_state_by_day")
    assert state.count() == 12
    row = state.first()
    assert "deposit_apy" in state.columns and row.deposit_apy > 0
    # available_liquidity invariant flowed through: supply - debts
    assert state.filter(
        "abs(available_liquidity - (atoken_supply - stable_debt - variable_debt)) > 1e-9"
    ).count() == 0

    cfg = pipeline_store.read("warehouse_market_config_by_day")
    assert cfg.count() == 12
    assert "emode_price_address" not in cfg.columns
    with_emode = cfg.filter("reserve_emode_category = 1")
    without = cfg.filter("reserve_emode_category = 0")
    assert with_emode.filter("emode_category_name IS NULL").count() == 0
    assert without.filter("emode_category_name IS NOT NULL").count() == 0


def test_datamart_layer_materialized(pipeline_store):
    """The 01:30 dbt-job twin: the datamart asset ran the model subset with
    store materialization — every model is a table in the store, and the
    income model joins warehouse state x config x prices x dims."""
    cm = pipeline_store.read("chains_markets")
    assert cm.count() == 2  # one row per market

    ms = pipeline_store.read("market_state_by_day")
    assert ms.count() == 12 and "deposit_apy" in ms.columns

    rf = pipeline_store.read("reserve_factor_income_by_day")
    assert rf.count() == 12
    assert rf.filter("reserve_factor != 0.1").count() == 0
    assert rf.filter("display_chain IS NULL").count() == 0


def test_maximal_daily_datamart_selection(pipeline_store):
    """Every model whose source closure the graph materializes runs in the
    daily dbt job — TVL, grants, LM incentives, SM holder rollups — and the
    liquidity job's lsd tail lands too."""
    for table, min_rows in (
        ("asset_tvl_by_day", 12),
        ("sm_covered_markets_tvl_by_day", 2),
        ("lm_incentives", 4),
        ("sm_token_holders_by_day", 2),  # per (day, token) count
        ("sm_token_holder_distro", 1),
        ("grants_dao_token_balances_by_day", 0),
        ("liquidity_depth_lsd", 1),
    ):
        df = pipeline_store.read(table)
        assert df.columns, f"{table} never materialized"
        assert df.count() >= min_rows, f"{table}: {df.count()} < {min_rows}"


def test_hourly_lake_cell(pipeline_store):
    hourly = pipeline_store.read("block_numbers_by_hour")
    assert hourly.count() == 2  # one hour x 2 markets
    assert {r.block_height for r in hourly.collect()} == {2_001_800}


def test_daily_partitioned_and_midday_jobs(pipeline_store):
    """The 01:25 daily_partitioned and 13:00 daily_midday jobs: plain daily
    partitions, keys built from config dims x the day's ethereum block."""
    comp = pipeline_store.read("compound_v2_by_day")
    assert comp.count() == 2  # one token x 2 days
    row = comp.first()
    assert row.deposits == 5_000_000.0 and row.borrows == 2_000_000.0
    assert row.supply_apy > 0

    erc = pipeline_store.read("erc20_balances_by_day")
    assert erc.count() == 2
    assert erc.first().balance == 7.5

    beacon = pipeline_store.read("beacon_chain_staking_returns_by_day")
    assert beacon.count() == 2
    assert beacon.first().apr == 0.04


def test_chain_day_sm_and_seed_jobs(pipeline_store):
    """chain_day balancer job, SM holders in daily_partitioned, and the
    unpartitioned CoinGecko seed fetch."""
    bpt = pipeline_store.read("balancer_bpt_data_by_day")
    assert bpt.count() == 2  # one pool x 2 days
    assert bpt.first().rate == 1.05

    hod = pipeline_store.read("safety_module_token_hodlers_by_day")
    assert hod.count() == 4  # 2 nonzero holders x 2 days (zero dropped)
    assert {r.holder_address for r in hod.collect()} == {"0xh1", "0xh3"}

    cg = pipeline_store.read("coingecko_data_by_day")
    assert cg.count() == 2  # 2 price points
    assert cg.first().symbol == "AAVE"
    assert cg.filter("address != '0xaave'").count() == 0  # lowercased


def test_incentives_chain(pipeline_store):
    """raw incentives lake fetch -> warehouse APR math over protocol data
    and oracle prices."""
    raw = pipeline_store.read("raw_incentives_by_day")
    assert raw.count() == 4  # 1 reward x 2 days x 2 markets
    inc = pipeline_store.read("incentives_by_day")
    assert inc.count() == 4
    assert "supply_rewards_apr" in inc.columns


def test_liquidity_depth_job(pipeline_store):
    """The 2-hourly job: append-only raw sweeps + interpolated warehouse
    table stacked on the raw points."""
    raw = pipeline_store.read("liquidity_depth_raw")
    assert raw.count() == 5  # one sweep, 5 grid points
    assert raw.filter("abs(price_impact - 0.015) > 1e-9").count() == 0

    depth = pipeline_store.read("liquidity_depth")
    assert depth.count() > 5  # raw points + interpolated targets
    assert "is_interpolated" in depth.columns


def test_hourly_protocol_and_datamart(pipeline_store):
    """Day→hour mapping: the hour's protocol fetch reuses the day's token
    dim at the hour's block; the :10 datamart job lands the hourly models
    in the store with the pow-APY columns."""
    pdh = pipeline_store.read("protocol_data_by_hour")
    assert pdh.count() == 6  # 3 reserves x 2 markets, one hour
    assert pdh.filter("block_height != 2001800").count() == 0
    assert pdh.filter("ltv != 0.8").count() == 0

    msh = pipeline_store.read("market_state_by_hour")
    assert msh.count() == 6
    assert "deposit_apy" in msh.columns
    assert msh.filter("deposit_apy <= 0").count() == 0

    mch = pipeline_store.read("market_config_by_hour")
    assert mch.count() == 6
    assert "emode_category_name" in mch.columns

    # the by_time unions read the DAILY model tables (dbt ref-as-table):
    # hourly rows + daily rows, priced/enriched
    mst = pipeline_store.read("market_state_by_time")
    assert mst.count() == 6 + 12  # 6 hourly + 12 daily state rows
    assert {"usd_price", "deposits_usd", "display_market"} <= set(mst.columns)

    rfh = pipeline_store.read("reserve_factor_income_by_hour")
    assert rfh.count() == 6
    assert "daily_income_usd" in rfh.columns


def test_treasury_measure_chain(pipeline_store):
    """The treasury-measure lake chain runs off REAL (fake-transport)
    connectors end-to-end: data_lake.py:368-1279 feeding
    data_warehouse.py:84-335 — atoken/non-atoken measures no longer
    synthesized from fixtures."""
    fees = pipeline_store.read("v3_accrued_fees_by_day")
    # v3-only gate: polygon_v3's 3 reserves × 2 days, ethereum_v2 none
    assert fees.count() == 6
    assert fees.filter("market != 'polygon_v3'").count() == 0
    row = fees.first()
    # accrued_fees = scaled × liquidity_index (data_lake.py:884-886)
    assert abs(row.accrued_fees - 2.0 * 1.01) < 1e-9

    minted = pipeline_store.read("v3_minted_to_treasury_by_day")
    # one MintedToTreasury event per polygon day-run; lands on the
    # partition's own day (the day its block range covers), aligned with
    # the collector transfers/balances
    assert minted.count() == 2
    m = minted.filter("block_day = TIMESTAMP '2024-01-01 00:00:00'").first()
    assert m is not None
    assert abs(m.minted_to_treasury_amount - 6.0) < 1e-9
    assert abs(m.minted_amount - 7.0) < 1e-9  # Mint word 0, not balanceIncrease

    inc = pipeline_store.read("treasury_accrued_incentives_by_day")
    # v3 rewards enumeration + v2 config-token path, 2 markets × 2 days
    assert inc.count() == 4
    v2 = inc.filter("market = 'ethereum_v2'").first()
    assert v2.rewards_token_symbol == "stkAAVE"
    assert abs(v2.accrued_rewards - 13.0) < 1e-9

    measures = pipeline_store.read("atoken_measures_by_day")
    # driving table: balances (2 markets × 3 atokens × 2 days)
    assert measures.count() == 12
    pol = measures.filter(
        "market = 'polygon_v3' AND token = '0xatok_0' "
        "AND block_day = TIMESTAMP '2024-01-01 00:00:00'"
    ).first()
    # transfer quadrants: 0xEXT1 inflow external, 0xINT1 outflow internal
    assert abs(pol.tokens_in_external - 3.0) < 1e-9
    assert abs(pol.tokens_out_internal - 1.0) < 1e-9
    assert abs(pol.tokens_in_internal) < 1e-9
    assert abs(pol.accrued_fees - 2.02) < 1e-9
    assert abs(pol.minted_to_treasury_amount - 6.0) < 1e-9
    # ethereum day-1 row: fees/minted fill to 0 AFTER all joins
    eth = measures.filter("market = 'ethereum_v2'").first()
    assert eth.accrued_fees == 0.0 and eth.minted_to_treasury_amount == 0.0


def test_non_atoken_measure_chain(pipeline_store):
    balances = pipeline_store.read("non_atoken_balances_by_day")
    # one config (wallet, token) per market × 2 days; config decimals
    assert balances.count() == 4
    assert abs(balances.first().balance - 9.0) < 1e-9

    fees = pipeline_store.read("paraswap_claimable_fees")
    # fee claimer configured on polygon_v3 only; positional join over 3 tokens
    assert fees.count() == 6
    assert fees.filter("market != 'polygon_v3'").count() == 0

    measures = pipeline_store.read("non_atoken_measures_by_day")
    # 4 wallet-token rows + 6 paraswap-stacked rows, all distinct keys
    assert measures.count() == 10
    w = measures.filter("contract_address = '0xwal1'").first()
    assert abs(w.balance - 9.0) < 1e-9
    assert abs(w.tokens_in_external - 3.0) < 1e-9
    assert abs(w.tokens_out_internal - 1.0) < 1e-9
    assert w.paraswap_fees_claimable == 0.0


def test_safety_module_and_lsd_scans(pipeline_store):
    """S20 completion: safety_module_rpc, matic_lsd_token_supply_by_day and
    safety_module_bal_pool_contents land from real (fake-transport)
    connectors through the daily job."""
    sm = pipeline_store.read("safety_module_rpc")
    # 2 SM tokens × 2 days
    assert sm.count() == 4
    r = sm.first()
    assert abs(r.emission_per_day - 0.001 * 86400) < 1e-9
    assert abs(r.stk_token_supply - 3.0) < 1e-9

    lsd = pipeline_store.read("matic_lsd_token_supply_by_day")
    # 2 chains × 2 tokens × 2 days
    assert lsd.count() == 8
    by_sym = {(r.chain, r.symbol): r for r in lsd.collect() if r.block_day.day == 1}
    assert abs(by_sym[("polygon", "stMATIC")].total_supply - 5.0) < 1e-9
    assert by_sym[("ethereum", "MaticX")].total_supply == 0.0  # fillna(0)
    # per-chain block heights differ (ethereum vs polygon lookups)
    assert (by_sym[("polygon", "stMATIC")].block_height
            != by_sym[("ethereum", "stMATIC")].block_height)

    pool = pipeline_store.read("safety_module_bal_pool_contents")
    # only the SM token WITH a bal pool contributes: 2 pool tokens × 2 days
    assert pool.count() == 4
    assert {r.safety_module_token for r in pool.collect()} == {"stkABPT"}
    w = {r.symbol: r.weight for r in pool.collect() if r.block_day.day == 1}
    assert abs(w["AAVE"] - 0.8) < 1e-9 and abs(w["WETH"] - 0.2) < 1e-9
