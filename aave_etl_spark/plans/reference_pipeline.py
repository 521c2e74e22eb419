"""The reference's production asset graph, re-declared over this repo's
connectors and warehouse transforms and run by plans/orchestration.py.

This is the concrete answer to "run partition <day> end-to-end": the same
asset names, groups and dependency edges as the reference's Dagster jobs
(aave_data/__init__.py:207-352), with each node's compute being the repo's
Spark implementation — transport-injected lake connectors
(sources/connectors.py), DataFrame warehouse transforms (warehouse/*), and
the 62-model datamart DAG (plans/runner.py) as the final full-refresh
asset. A user points `resources` at real HTTP transports and calls
``backfill(spark, store, reference_graph(), start, end, markets,
resources)``; tests drive the identical graph with fake transports
(tests/test_reference_pipeline.py).

Scope note: the graph wires the spine every downstream model hangs off —
block lookup → token dim → oracle prices, and (with
``include_market_state=True``) the protocol lake pair
protocol_data_by_day → emode_config_by_day feeding the warehouse
market_state/config transforms — plus the hourly twins. Remaining
reference assets follow the same two patterns (market_day connector /
unpartitioned transform) and plug in as additional Asset rows; nothing in
the runner limits the count.

Resources contract (mirrors the reference's resource_defs,
aave_data/__init__.py:79-199):
- ``transports``: dict kind→Transport for the connectors' request kinds
- ``markets``: dict market→{"chain": ...} (CONFIG_MARKETS projection)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from aave_etl_spark.plans.orchestration import (
    DAILY,
    MARKET_DAY,
    MARKET_HOUR,
    UNPARTITIONED,
    Asset,
    AssetContext,
    AssetGraph,
)
from aave_etl_spark.sources import connectors
from aave_etl_spark.warehouse.blocks import blocks_by_day as wh_blocks_by_day
from aave_etl_spark.warehouse.incentives import incentives_by_day as wh_incentives_by_day
from aave_etl_spark.warehouse.liquidity import liquidity_depth as wh_liquidity_depth
from aave_etl_spark.warehouse.market import market_config_by_day, market_state_by_day
from aave_etl_spark.warehouse.prices import TOKEN_PRICES_BY_DAY, token_prices_by_day
from aave_etl_spark.localframe import local_df


# Job selections (define_asset_job group lists, aave_data/__init__.py:286-372):
# the daily cadence chain vs the :05/:10 hourly chain.
DAILY_JOB_GROUPS = (
    "financials_data_lake",
    "protocol_data_lake",
    "daily_partitioned",
    "daily_midday",
    "chain_day",
    "data_lake_unpartitioned",
    "warehouse",
    "datamart",
)
HOURLY_JOB_GROUPS = ("protocol_hourly_data_lake", "datamart_hourly")
# separate 2-hourly cadence, explicitly subtracted from the warehouse job
# in the reference (aave_data/__init__.py:307-311, 349-352)
LIQUIDITY_JOB_GROUPS = ("liquidity_depth",)


def _chain(ctx: AssetContext) -> str:
    return ctx.resources["markets"][ctx.partition.market]["chain"]


# --- financials_data_lake group (market_day multipartition) ---------------
def _block_numbers_by_day(ctx: AssetContext) -> DataFrame:
    return connectors.block_numbers_by_day(
        ctx.spark,
        ctx.resources["transports"]["closest_block"],
        ctx.partition.date,
        _chain(ctx),
        ctx.partition.market,
    )


def _market_tokens_by_day(ctx: AssetContext) -> DataFrame:
    blocks = ctx.upstream("block_numbers_by_day", this_partition_only=True)
    # ONE scalar to the driver per partition run — the block height that
    # parameterizes the next fetch (the reference does exactly this:
    # `block_numbers_by_hour.block_height.values[0]`). This is control
    # flow, not data flow; no row set ever collects.
    height = blocks.select("block_height").first()
    if height is None or height.block_height is None:
        # no block lookup for this (day, market) -> typed empty, never a
        # garbage block-0 fetch (K3 convention, like the daily assets)
        return local_df(ctx.spark, [], connectors.schemas.MARKET_TOKENS_BY_DAY)
    return connectors.market_tokens_at_block(
        ctx.spark,
        ctx.resources["transports"]["subgraph_tokens"],
        ctx.partition.market,
        int(height.block_height),
        ctx.partition.date,
    )


def _aave_oracle_prices_by_day(ctx: AssetContext) -> DataFrame:
    """Oracle price scan with per-market multiplier resolution
    (data_lake.py:232-342): the connector multiplies raw oracle answers,
    but WHICH multiplier is a per-market decision made here —
    1/BASE_CURRENCY_UNIT for usd-base oracles (contract call, 1e8
    fallback for markets lacking the function, :295-304), the Chainlink
    ETH/USD answer / 1e18 for wei-base (:251-279, :305-306), else 1.
    All resolution calls are single driver-side scalars per partition
    run — the same in-process control-flow fetches the reference makes."""
    from pyspark.sql import functions as F

    from aave_etl_spark.sources.base import retrying

    tokens = ctx.upstream("market_tokens_by_day", this_partition_only=True)
    transports = ctx.resources["transports"]
    base = _mcfg(ctx, "oracle_base_currency")
    hb = tokens.select("block_height").first()
    height = int(hb.block_height) if hb is not None else None

    multiplier = 1.0
    eth_usd = None
    if base == "wei" and height is not None:
        # Chainlink ETH/USD at the ethereum chain's block for this date.
        # The reference re-runs block_numbers_by_day for ethereum_v2
        # in-process and uses prev-day end_block+1 (:258-268) — under
        # this repo's convention that is exactly the day-D start block.
        eth_hb = (
            connectors.block_numbers_by_day(
                ctx.spark,
                transports["closest_block"],
                ctx.partition.date,
                "ethereum",
                "ethereum_v2",
            )
            .select("block_height")
            .first()
        )
        answer = retrying(
            lambda: transports["eth_usd_price"](
                {"block_height": int(eth_hb.block_height)}
            )
        )
        eth_usd = float(answer["answer"]) / 1e8  # from_oracle_decimals (:251)
        multiplier = eth_usd / 1e18
    elif base == "usd" and height is not None:
        try:
            unit = retrying(
                lambda: transports["base_currency_unit"](
                    {"market": ctx.partition.market, "block_height": height}
                )
            )["answer"]
        except Exception:
            # some markets don't expose BASE_CURRENCY_UNIT — the call
            # fails and the reference hardcodes 1e8 (:300-304)
            unit = 100_000_000
        multiplier = 1.0 / float(unit)

    # the AMM oracle borks in this block range due to one bad asset: the
    # reference moves the PRICE CALL a few blocks forward but keeps the
    # partition's own block_height on the output rows (:244-246)
    fetch_tokens = tokens
    patched = (
        ctx.partition.market == "aave_amm"
        and height is not None
        and 14_993_520 <= height < 15_000_397
    )
    if patched:
        fetch_tokens = tokens.withColumn(
            "block_height", F.lit(15_000_397).cast("long")
        )
    out = connectors.oracle_prices_by_day(
        fetch_tokens,
        transports["oracle_prices"],
        price_multiplier=multiplier,
        eth_usd_price=eth_usd,
    )
    if patched:
        out = out.withColumn("block_height", F.lit(height).cast("long"))
    return out


# --- treasury-measure chain (financials_data_lake, market_day) ------------
def _mcfg(ctx: AssetContext, key: str, default=None):
    return ctx.resources["markets"][ctx.partition.market].get(key, default)


def _collectors(ctx: AssetContext) -> list[str]:
    """Changed-collector handling (data_lake.py:392-402, 566-572): past the
    change date both the old and new collector contracts are scanned."""
    from datetime import datetime

    collectors = [_mcfg(ctx, "collector")]
    change = _mcfg(ctx, "collector_change_date")
    if change is not None:
        # config may carry the change date as str / date / datetime
        if isinstance(change, str):
            change = datetime.fromisoformat(change)
        elif not isinstance(change, datetime):  # datetime.date
            change = datetime(change.year, change.month, change.day)
        if datetime.fromisoformat(ctx.partition.date) > change:
            collectors.append(_mcfg(ctx, "collector_v2"))
    return [c for c in collectors if c]


def _day_blocks(ctx: AssetContext):
    return (
        ctx.upstream("block_numbers_by_day", this_partition_only=True)
        .select("block_height", "end_block", "block_day")
        .first()
    )


def _collector_atoken_transfers_by_day(ctx: AssetContext) -> DataFrame:
    """Covalent/Alchemy transfer scan per (collector, atoken)
    (data_lake.py:368-459); ethereum_v1 tracks the reserve itself (:416)."""
    from pyspark.sql import functions as F

    hb = _day_blocks(ctx)
    tokens = ctx.upstream("market_tokens_by_day", this_partition_only=True)
    if hb is None:
        return local_df(ctx.spark, [], connectors.schemas.TOKEN_TRANSFERS_BY_DAY)
    token_col = "reserve" if ctx.partition.market == "ethereum_v1" else "atoken"
    requests = tokens.select(
        F.col(token_col).alias("token"),
        F.lit(int(hb.block_height)).alias("start_block"),
        F.lit(int(hb.end_block)).alias("end_block"),
        "market",
        F.lit(hb.block_day).alias("block_day"),
        F.explode(F.array(*[F.lit(c) for c in _collectors(ctx)])).alias("collector"),
    )
    return connectors.token_transfers_by_day(
        requests, ctx.resources["transports"]["token_transfers"]
    )


def _collector_atoken_balances_by_day(ctx: AssetContext) -> DataFrame:
    """balanceOf/scaledBalanceOf per (collector, atoken) (data_lake.py:536-644);
    for ethereum_v1 the transport answers scaled = balance (:585-612)."""
    from pyspark.sql import functions as F

    tokens = ctx.upstream("market_tokens_by_day", this_partition_only=True)
    v1 = ctx.partition.market == "ethereum_v1"
    keys = tokens.select(
        "market",
        F.col("reserve" if v1 else "atoken").alias("token"),
        F.col("symbol" if v1 else "atoken_symbol").alias("symbol"),
        "block_height",
        "block_day",
        F.explode(F.array(*[F.lit(c) for c in _collectors(ctx)])).alias("collector"),
    )
    return connectors.collector_atoken_balances_by_day(
        keys, ctx.resources["transports"]["balance_of"]
    )


def _v3_accrued_fees_by_day(ctx: AssetContext) -> DataFrame:
    from pyspark.sql import functions as F

    if _mcfg(ctx, "version") != 3:  # v3-only (data_lake.py:780)
        return local_df(ctx.spark, [], connectors.schemas.V3_ACCRUED_FEES_BY_DAY)
    keys = ctx.upstream("market_tokens_by_day", this_partition_only=True).select(
        "market", "reserve", "symbol", "decimals", "atoken", "atoken_symbol",
        "block_height", "block_day",
    )
    return connectors.v3_accrued_fees_by_day(
        keys, ctx.resources["transports"]["reserve_data"]
    )


def _v3_minted_to_treasury_by_day(ctx: AssetContext) -> DataFrame:
    if _mcfg(ctx, "version") != 3:  # v3-only (data_lake.py:1006)
        return local_df(ctx.spark, 
            [], connectors.schemas.V3_MINTED_TO_TREASURY_BY_DAY
        )
    hb = _day_blocks(ctx)
    tokens = ctx.upstream("market_tokens_by_day", this_partition_only=True)
    if hb is None:
        return local_df(ctx.spark, 
            [], connectors.schemas.V3_MINTED_TO_TREASURY_BY_DAY
        )
    return connectors.v3_minted_to_treasury_by_day(
        ctx.spark,
        ctx.resources["transports"]["events_by_topic"],
        tokens,
        int(hb.block_height),
        int(hb.end_block),
        int(_mcfg(ctx, "chain_id", 1)),
        _mcfg(ctx, "pool"),
        ctx.partition.market,
        ctx.partition.date,
    )


def _treasury_accrued_incentives_by_day(ctx: AssetContext) -> DataFrame:
    hb = _day_blocks(ctx)
    if hb is None:
        return local_df(ctx.spark, 
            [], connectors.schemas.TREASURY_ACCRUED_INCENTIVES_BY_DAY
        )
    return connectors.treasury_accrued_incentives_by_day(
        ctx.spark,
        ctx.resources["transports"]["treasury_incentives"],
        _chain(ctx),
        ctx.partition.market,
        _mcfg(ctx, "collector"),
        _mcfg(ctx, "incentives_controller"),
        int(_mcfg(ctx, "version", 0)),
        # day-D snapshot block: the reference's prev-day end_block+1
        # (data_lake.py:1191) equals day-D's start under its convention;
        # here block_numbers_by_day partition D already carries that block
        int(hb.block_height),
        ctx.partition.date,
        rewards_token=_mcfg(ctx, "rewards_token"),
        rewards_token_symbol=_mcfg(ctx, "rewards_token_symbol"),
        rewards_token_decimals=_mcfg(ctx, "rewards_token_decimals"),
    )


def _non_atoken_transfers_by_day(ctx: AssetContext) -> DataFrame:
    """CONFIG_TOKENS wallet×token fan-out (data_lake.py:472-532); markets
    absent from the config contribute no keys (:504)."""
    from pyspark.sql import functions as F

    hb = _day_blocks(ctx)
    if hb is None:
        return local_df(ctx.spark, [], connectors.schemas.TOKEN_TRANSFERS_BY_DAY)
    keys = (
        ctx.resources["config_tokens"]
        .filter(F.col("market") == ctx.partition.market)
        .select(
            F.col("wallet_address").alias("collector"),
            F.col("token_address").alias("token"),
            F.lit(int(hb.block_height)).alias("start_block"),
            F.lit(int(hb.end_block)).alias("end_block"),
            "market",
            F.lit(hb.block_day).alias("block_day"),
        )
    )
    return connectors.non_atoken_transfers_by_day(
        keys, ctx.resources["transports"]["token_transfers"]
    )


def _non_atoken_balances_by_day(ctx: AssetContext) -> DataFrame:
    """balanceOf at the day-D start block (the reference's prev-day
    end_block+1, data_lake.py:652-724 — identical under this repo's
    block convention) with config-sourced decimals; block_day is the
    partition date (:677-679)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    hb = _day_blocks(ctx)
    if hb is None:
        return local_df(ctx.spark, 
            [], connectors.schemas.NON_ATOKEN_BALANCES_BY_DAY
        )
    keys = (
        ctx.resources["config_tokens"]
        .filter(F.col("market") == ctx.partition.market)
        .select(
            F.col("wallet_address").alias("contract_address"),
            F.lit(_chain(ctx)).alias("chain"),
            "market",
            F.col("token_address").alias("token"),
            "decimals",
            "symbol",
            # day-D 00:00 snapshot (reference prev-day end+1 = day start,
            # data_lake.py:677-679) — same block as the atoken balances
            F.lit(int(hb.block_height)).alias("block_height"),
            F.lit(datetime.fromisoformat(ctx.partition.date)).alias("block_day"),
        )
    )
    return connectors.non_atoken_balances_by_day(
        keys, ctx.resources["transports"]["balance_of"]
    )


def _paraswap_claimable_fees(ctx: AssetContext) -> DataFrame:
    tokens = ctx.upstream("market_tokens_by_day", this_partition_only=True)
    return connectors.paraswap_claimable_fees(
        ctx.spark,
        ctx.resources["transports"]["paraswap_claimable"],
        tokens,
        _chain(ctx),
        ctx.partition.market,
        _mcfg(ctx, "paraswap_fee_claimer"),
    )


def _market_chain_dim(ctx: AssetContext) -> DataFrame:
    """Tiny (market, chain) dim from config (data_warehouse.py:109-112)."""
    return local_df(ctx.spark, 
        [(m, c["chain"]) for m, c in ctx.resources["markets"].items()],
        "market string, chain string",
    )


def _wh_atoken_measures(ctx: AssetContext) -> DataFrame:
    from aave_etl_spark.warehouse.measures import atoken_measures_by_day

    s = connectors.schemas
    return atoken_measures_by_day(
        ctx.upstream(
            "collector_atoken_balances_by_day",
            schema=s.COLLECTOR_ATOKEN_BALANCES_BY_DAY,
        ),
        ctx.upstream(
            "collector_atoken_transfers_by_day", schema=s.TOKEN_TRANSFERS_BY_DAY
        ),
        ctx.upstream("v3_accrued_fees_by_day", schema=s.V3_ACCRUED_FEES_BY_DAY),
        ctx.upstream(
            "v3_minted_to_treasury_by_day", schema=s.V3_MINTED_TO_TREASURY_BY_DAY
        ),
        ctx.resources["internal_addresses"],
        _market_chain_dim(ctx),
    )


def _wh_non_atoken_measures(ctx: AssetContext) -> DataFrame:
    from aave_etl_spark.warehouse.measures import non_atoken_measures_by_day

    s = connectors.schemas
    return non_atoken_measures_by_day(
        ctx.upstream("non_atoken_balances_by_day", schema=s.NON_ATOKEN_BALANCES_BY_DAY),
        ctx.upstream("non_atoken_transfers_by_day", schema=s.TOKEN_TRANSFERS_BY_DAY),
        ctx.resources["internal_addresses"],
        ctx.upstream("paraswap_claimable_fees", schema=s.PARASWAP_CLAIMABLE_FEES),
        _market_chain_dim(ctx),
    )


# --- protocol_data_lake group (market_day multipartition) -----------------
def _protocol_data_by_day(ctx: AssetContext) -> DataFrame:
    keys = ctx.upstream("market_tokens_by_day", this_partition_only=True).select(
        "market", "reserve", "symbol", "decimals", "block_height", "block_day"
    )
    return connectors.protocol_data_by_day(
        keys, ctx.resources["transports"]["protocol_data"]
    )


def _emode_config_by_day(ctx: AssetContext) -> DataFrame:
    pdd = ctx.upstream("protocol_data_by_day", this_partition_only=True)
    return connectors.emode_config_by_day(
        pdd, ctx.resources["transports"]["emode"]
    )


def _raw_incentives_by_day(ctx: AssetContext) -> DataFrame:
    keys = ctx.upstream("block_numbers_by_day", this_partition_only=True).select(
        "market", "block_height", "block_day"
    )
    return connectors.raw_incentives_by_day(
        keys, ctx.resources["transports"]["incentives"]
    )


# --- daily_partitioned group (01:25 job; plain daily partitions) ----------
def _eth_block_scalar(ctx: AssetContext):
    """The day's ethereum block (one scalar — reference control flow).
    All daily snapshots use the day's start block: the reference's
    "prev-day end_block + 1" (protocol_data_lake.py:1163, :1694) is the
    labeled day's 00:00 block under its partition convention, and here
    block_numbers_by_day partition D carries that block directly."""
    return (
        ctx.upstream("block_numbers_by_day", this_partition_only=True)
        .filter("chain = 'ethereum'")
        .select("block_day", "block_height", "end_block")
        .first()
    )


def _compound_v2_by_day(ctx: AssetContext) -> DataFrame:
    from pyspark.sql import functions as F

    hb = _eth_block_scalar(ctx)
    if hb is None:  # no ethereum block for this day -> typed empty (K3)
        return local_df(ctx.spark, [], connectors.schemas.COMPOUND_BY_DAY)
    keys = ctx.resources["compound_v2_tokens"].select(
        F.lit(hb.block_day).alias("block_day"),
        F.lit(hb.block_height).alias("block_height"),
        "chain", "compound_version", "symbol", "address",
        "underlying_symbol", "underlying_address", "underlying_decimals",
    )
    return connectors.compound_by_day(keys, ctx.resources["transports"]["compound"])


def _erc20_balances_by_day(ctx: AssetContext) -> DataFrame:
    from pyspark.sql import functions as F

    hb = _eth_block_scalar(ctx)
    if hb is None:
        return local_df(ctx.spark, [], connectors.schemas.ERC20_BALANCES_BY_DAY)
    keys = ctx.resources["grants_wallets"].select(
        F.lit(hb.block_day).alias("block_day"),
        F.lit(hb.block_height).alias("block_height"),
        "chain", "wallet_address", "token", "token_address",
    )
    return connectors.erc20_balances_by_day(
        keys, ctx.resources["transports"]["erc20_balance"]
    )


def _safety_module_token_hodlers_by_day(ctx: AssetContext) -> DataFrame:
    from pyspark.sql import functions as F

    hb = _eth_block_scalar(ctx)
    if hb is None:
        return local_df(ctx.spark, [], connectors.schemas.SM_TOKEN_HOLDERS_BY_DAY)
    keys = ctx.resources["sm_tokens"].select(
        F.lit(hb.block_day).alias("block_day"),
        "chain", "safety_module_token", "stk_token_address",
        F.lit(hb.block_height).alias("block_height"),
    )
    return connectors.token_holders_by_day(
        keys, ctx.resources["transports"]["holders"]
    )


def _safety_module_rpc(ctx: AssetContext) -> DataFrame:
    """SM supplies/emissions at the ethereum block (protocol_data_lake.py
    :1141-1249; block = prev-day end+1, here the partition's block)."""
    from pyspark.sql import functions as F

    hb = _eth_block_scalar(ctx)
    if hb is None:
        return local_df(ctx.spark, [], connectors.schemas.SAFETY_MODULE_RPC)
    keys = ctx.resources["sm_rpc_tokens"].select(
        F.lit(hb.block_day).alias("block_day"),
        # the reference's prev-day end_block + 1 (protocol_data_lake.py:1163)
        # is day-D's 00:00 start block under its convention; here the
        # partition's own block_height IS that block, aligning SM supplies
        # with the atoken/treasury snapshots for the day
        F.lit(int(hb.block_height)).alias("block_height"),
        "stk_token_address", "stk_token_symbol",
        "unstaked_token_address", "unstaked_token_symbol",
        "reward_token_address", "reward_token_symbol", "decimals",
    )
    return connectors.safety_module_rpc(keys, ctx.resources["transports"]["sm_rpc"])


def _matic_lsd_token_supply_by_day(ctx: AssetContext) -> DataFrame:
    """Per-chain LSD totalSupply scan (protocol_data_lake.py:723-830): the
    token config joins each chain's block lookup for the day."""
    from datetime import datetime

    from pyspark.sql import functions as F

    blocks = (
        ctx.upstream("block_numbers_by_day", this_partition_only=False)
        .filter(F.col("block_day") == datetime.fromisoformat(ctx.partition.date))
        .select("chain", "block_height")
        .distinct()
    )
    keys = (
        ctx.resources["lsd_tokens"]
        .join(F.broadcast(blocks), "chain")
        .select(
            F.lit(datetime.fromisoformat(ctx.partition.date)).alias("block_day"),
            # day-start snapshot (reference prev-day end+1 = day start,
            # protocol_data_lake.py:723-830)
            F.col("block_height"),
            "chain", "address", "symbol", "decimals",
        )
    )
    return connectors.matic_lsd_token_supply_by_day(
        keys, ctx.resources["transports"]["total_supply"]
    )


def _safety_module_bal_pool_contents(ctx: AssetContext) -> DataFrame:
    from pyspark.sql import functions as F

    hb = _eth_block_scalar(ctx)
    if hb is None:
        return local_df(ctx.spark, [], connectors.schemas.SM_BAL_POOL_CONTENTS)
    keys = (
        ctx.resources["sm_rpc_tokens"]
        .filter(F.col("bal_pool_address").isNotNull())  # :1706
        .select(
            F.lit(hb.block_day).alias("block_day"),
            # day-start snapshot (protocol_data_lake.py:1694 prev-day end+1
            # = day start), like safety_module_rpc
            F.lit(int(hb.block_height)).alias("block_height"),
            F.lit("ethereum").alias("chain"),
            F.col("safety_module_token"),
            "bal_pool_address",
        )
    )
    return connectors.safety_module_bal_pool_contents(
        keys, ctx.resources["transports"]["bal_pool"]
    )


# --- chain_day group (01:25 job; chain-day multipartition, run as daily) ---
def _balancer_bpt_data_by_day(ctx: AssetContext) -> DataFrame:
    from pyspark.sql import functions as F

    hb = _eth_block_scalar(ctx)
    if hb is None:
        return local_df(ctx.spark, [], connectors.schemas.BALANCER_BPT_BY_DAY)
    keys = ctx.resources["balancer_pools"].select(
        "pool", "symbol", "name", "decimals", "denom", "price_token",
        "price_symbol",
        F.lit(hb.block_day).alias("block_day"),
        F.lit(hb.block_height).alias("block_height"),
        "chain",
    )
    return connectors.balancer_bpt_by_day(
        keys, ctx.resources["transports"]["balancer"]
    )


# --- data_lake_unpartitioned group (cont.): CoinGecko price history -------
def _coingecko_data_by_day(ctx: AssetContext) -> DataFrame:
    return connectors.coingecko_data_by_day(
        ctx.spark,
        ctx.resources["transports"]["coingecko"],
        ctx.resources["coingecko_tokens"],
    )


# --- daily_midday group (13:00 job) ---------------------------------------
def _beacon_staking_returns(ctx: AssetContext) -> DataFrame:
    return connectors.beacon_staking_returns_by_day(
        ctx.spark, ctx.resources["transports"]["beacon"], ctx.partition.date
    )


# --- liquidity_depth group (every 2 h, append-only raw sweeps) ------------
def _liquidity_depth_raw(ctx: AssetContext) -> DataFrame:
    return connectors.liquidity_depth_sweep(
        ctx.resources["liquidity_pairs"],
        ctx.resources["transports"]["swap_quote"],
        ctx.resources["fetch_time"],
        n_points=5,
        low_usd=1e4,
        high_usd=1e5,
    )


def _wh_liquidity(ctx: AssetContext) -> DataFrame:
    return wh_liquidity_depth(ctx.upstream("liquidity_depth_raw"))


def _liquidity_depth_lsd(ctx: AssetContext) -> DataFrame:
    """The liquidity job's datamart tail (its selection explicitly includes
    liquidity_depth_lsd, aave_data/__init__.py:349-352)."""
    from aave_etl_spark.datamart.models import MODELS
    from aave_etl_spark.plans.runner import run_datamart

    inputs = {
        "liquidity_depth": ctx.upstream("liquidity_depth"),
        "display_names": ctx.upstream("display_names"),
    }
    if any(not df.columns for df in inputs.values()):
        return local_df(ctx.spark, [], "tick string")
    out = run_datamart(
        ctx.spark, inputs, models={"liquidity_depth_lsd": MODELS["liquidity_depth_lsd"]},
        store=ctx.store,
    )
    return out["liquidity_depth_lsd"]


# --- protocol_hourly_data_lake group (market_hour multipartition) ---------
def _block_numbers_by_hour(ctx: AssetContext) -> DataFrame:
    hour_key = f"{ctx.partition.date}-{ctx.partition.hour:02d}:00"
    return connectors.block_numbers_by_hour(
        ctx.spark,
        ctx.resources["transports"]["closest_block_hour"],
        hour_key,
        _chain(ctx),
        ctx.partition.market,
    )


def _protocol_data_by_hour(ctx: AssetContext) -> DataFrame:
    """Day→hour partition mapping (protocol_hourly_data_lake.py:57-68): the
    token dim comes from this hour's DAY partition; the block height from
    this hour's block lookup."""
    from pyspark.sql import functions as F

    tokens = ctx.upstream("market_tokens_by_day", this_partition_only=True)
    blocks = ctx.upstream(
        "block_numbers_by_hour", this_partition_only=True, date_col="CAST(block_hour AS DATE)"
    ).filter(F.hour("block_hour") == ctx.partition.hour)
    hb = blocks.select("block_hour", "block_height").first()
    if hb is None:
        return local_df(ctx.spark, [], connectors.schemas.PROTOCOL_DATA_BY_HOUR)
    keys = tokens.select(
        "market", "reserve", "symbol", "decimals",
        F.lit(hb.block_height).alias("block_height"),
        F.lit(hb.block_hour).alias("block_hour"),
    )
    return connectors.protocol_data_by_hour(
        keys, ctx.resources["transports"]["protocol_data"]
    )


# --- warehouse group (unpartitioned full-refresh, 01:15 job) --------------
def _wh_blocks(ctx: AssetContext) -> DataFrame:
    return wh_blocks_by_day(ctx.upstream("block_numbers_by_day"))


def _wh_token_prices(ctx: AssetContext) -> DataFrame:
    ranks = ctx.resources["market_chain_rank"]
    return token_prices_by_day(ctx.upstream("aave_oracle_prices_by_day"), ranks)


def _wh_market_state(ctx: AssetContext) -> DataFrame:
    return market_state_by_day(ctx.upstream("protocol_data_by_day"))


def _wh_market_config(ctx: AssetContext) -> DataFrame:
    return market_config_by_day(
        ctx.upstream("protocol_data_by_day"), ctx.upstream("emode_config_by_day")
    )


def _wh_balancer_bpt(ctx: AssetContext) -> DataFrame:
    from aave_etl_spark.warehouse.bpt import balancer_bpt_by_day as wh_bpt

    # typed reads: a warehouse run whose chain_day job never wrote the BPT
    # scan yields an empty table instead of failing to resolve the join
    return wh_bpt(
        ctx.upstream(
            "balancer_bpt_data_by_day", schema=connectors.schemas.BALANCER_BPT_BY_DAY
        ),
        ctx.upstream("token_prices_by_day", schema=TOKEN_PRICES_BY_DAY),
    )


def _wh_incentives(ctx: AssetContext) -> DataFrame:
    return wh_incentives_by_day(
        ctx.upstream("raw_incentives_by_day"),
        ctx.upstream("protocol_data_by_day"),
        ctx.upstream("aave_oracle_prices_by_day"),
    )


# --- data_lake_unpartitioned group (seed dims, 01:00 job) -----------------
def _display_names(ctx: AssetContext) -> DataFrame:
    """Seed dim supplied as a resource (the reference reads it as a CSV
    seed, data_lake.py:1409-1579 — read_seed_csv plugs in the same way)."""
    return ctx.resources["display_names"]


# --- datamart group (unpartitioned full-refresh, the 01:30 dbt job) -------
# every model whose source closure the graph materializes — the maximal
# daily dbt selection this asset set supports (the remaining models need
# the transfers/balances/safety-module-RPC connectors' tables, which plug
# in as further Asset rows)
_DATAMART_MODELS = (
    "chains_markets",
    "aave_atokens",
    "market_state_by_day",
    "market_config_by_day",
    "reserve_factor_income_by_day",
    "asset_tvl_by_day",
    "sm_covered_markets_tvl_by_day",
    "grants_dao_token_balances_by_day",
    "lm_incentives",
    "sm_token_holders_by_day",
    "sm_token_holder_distro",
)

# the reference's datamart_hourly job selection verbatim
# (aave_data/__init__.py:277-283)
_DATAMART_HOURLY_MODELS = (
    "market_config_by_hour",
    "market_state_by_hour",
    "market_config_by_time",
    "market_state_by_time",
    "reserve_factor_income_by_hour",
)


def _datamart_hourly(ctx: AssetContext) -> DataFrame:
    """The hourly datamart job (datamart_hourly_schedule, :10 past the
    hour): the reference's five-model selection. refs to DAILY models
    (chains_markets, aave_atokens, market_state/config_by_day) become
    store reads of the tables the 01:30 job materialized — exactly dbt's
    behavior of ref()ing a table the selection doesn't rebuild."""
    from dataclasses import replace as dc_replace

    from aave_etl_spark.datamart.models import MODELS
    from aave_etl_spark.plans.runner import run_datamart

    daily_tables = (
        "chains_markets", "aave_atokens", "market_state_by_day", "market_config_by_day",
    )
    inputs = {
        "protocol_data_by_hour": ctx.upstream("protocol_data_by_hour"),
        "emode_config_by_day": ctx.upstream("emode_config_by_day"),
        "aave_oracle_prices_by_day": ctx.upstream("aave_oracle_prices_by_day"),
        "token_prices_by_day": ctx.upstream("token_prices_by_day"),
        **{t: ctx.upstream(t) for t in daily_tables},
    }
    if any(not df.columns for df in inputs.values()):
        # an upstream table was never materialized (empty fetches are
        # skipped by TableStore.write, reference parity) — nothing to run
        # this tick; write_output=False so nothing lands either
        return local_df(ctx.spark, [], "tick string")
    models = {}
    for k in _DATAMART_HOURLY_MODELS:
        m = MODELS[k]
        moved = tuple(r for r in m.refs if r in daily_tables)
        models[k] = dc_replace(
            m,
            refs=tuple(r for r in m.refs if r not in daily_tables),
            sources=m.sources + moved,
        )
    out = run_datamart(ctx.spark, inputs, models=models, store=ctx.store)
    return out["market_state_by_hour"]


def _datamart(ctx: AssetContext) -> DataFrame:
    """Run the datamart subset whose sources this graph materializes, each
    model written to the store by the runner (dbt table materialization),
    in ref-topological order."""
    from aave_etl_spark.datamart.models import MODELS
    from aave_etl_spark.plans.runner import run_datamart

    models = {k: MODELS[k] for k in _DATAMART_MODELS}
    needed = sorted({src for m in models.values() for src in m.sources})
    inputs = {src: ctx.upstream(src) for src in needed}
    if any(not df.columns for df in inputs.values()):
        return local_df(ctx.spark, [], "tick string")
    out = run_datamart(ctx.spark, inputs, models=models, store=ctx.store)
    return out["reserve_factor_income_by_day"]


def reference_graph(include_market_state: bool = False) -> AssetGraph:
    """The cadence-grouped asset graph. ``include_market_state`` adds the
    warehouse market_state/config assets — they additionally require
    ``protocol_data_by_day`` / ``emode_config_by_day`` lake tables in the
    store (their connectors are transport-injected the same way; the
    datamart heads certify the transforms)."""
    assets = [
        Asset(
            "block_numbers_by_day",
            fn=_block_numbers_by_day,
            group="financials_data_lake",
            partitioning=MARKET_DAY,
            partition_cols=("block_day", "market"),
        ),
        Asset(
            "market_tokens_by_day",
            fn=_market_tokens_by_day,
            deps=("block_numbers_by_day",),
            group="financials_data_lake",
            partitioning=MARKET_DAY,
            partition_cols=("block_day", "market"),
        ),
        Asset(
            "aave_oracle_prices_by_day",
            fn=_aave_oracle_prices_by_day,
            deps=("market_tokens_by_day",),
            group="financials_data_lake",
            partitioning=MARKET_DAY,
            partition_cols=("block_day", "market"),
        ),
        Asset(
            "block_numbers_by_hour",
            fn=_block_numbers_by_hour,
            group="protocol_hourly_data_lake",
            partitioning=MARKET_HOUR,
            partition_cols=("block_hour", "market"),
        ),
        Asset(
            "warehouse_blocks_by_day",
            fn=_wh_blocks,
            deps=("block_numbers_by_day",),
            group="warehouse",
            partitioning=UNPARTITIONED,
        ),
        Asset(
            "token_prices_by_day",
            fn=_wh_token_prices,
            deps=("aave_oracle_prices_by_day",),
            group="warehouse",
            partitioning=UNPARTITIONED,
        ),
    ]
    if include_market_state:
        assets += [
            # treasury-measure chain: the flagship's own upstream
            # (data_lake.py:368-1279 → data_warehouse.py:84-335)
            Asset(
                "collector_atoken_transfers_by_day",
                fn=_collector_atoken_transfers_by_day,
                deps=("block_numbers_by_day", "market_tokens_by_day"),
                group="financials_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "collector_atoken_balances_by_day",
                fn=_collector_atoken_balances_by_day,
                deps=("market_tokens_by_day",),
                group="financials_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "v3_accrued_fees_by_day",
                fn=_v3_accrued_fees_by_day,
                deps=("market_tokens_by_day",),
                group="financials_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "v3_minted_to_treasury_by_day",
                fn=_v3_minted_to_treasury_by_day,
                deps=("block_numbers_by_day", "market_tokens_by_day"),
                group="financials_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "treasury_accrued_incentives_by_day",
                fn=_treasury_accrued_incentives_by_day,
                deps=("block_numbers_by_day",),
                group="financials_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "non_atoken_transfers_by_day",
                fn=_non_atoken_transfers_by_day,
                deps=("block_numbers_by_day",),
                group="financials_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "non_atoken_balances_by_day",
                fn=_non_atoken_balances_by_day,
                deps=("block_numbers_by_day",),
                group="financials_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "paraswap_claimable_fees",
                fn=_paraswap_claimable_fees,
                deps=("market_tokens_by_day",),
                group="financials_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "atoken_measures_by_day",
                fn=_wh_atoken_measures,
                deps=(
                    "collector_atoken_balances_by_day",
                    "collector_atoken_transfers_by_day",
                    "v3_accrued_fees_by_day",
                    "v3_minted_to_treasury_by_day",
                ),
                group="warehouse",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "non_atoken_measures_by_day",
                fn=_wh_non_atoken_measures,
                deps=(
                    "non_atoken_balances_by_day",
                    "non_atoken_transfers_by_day",
                    "paraswap_claimable_fees",
                ),
                group="warehouse",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "protocol_data_by_day",
                fn=_protocol_data_by_day,
                deps=("market_tokens_by_day",),
                group="protocol_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "emode_config_by_day",
                fn=_emode_config_by_day,
                deps=("protocol_data_by_day",),
                group="protocol_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "warehouse_market_state_by_day",
                fn=_wh_market_state,
                deps=("protocol_data_by_day",),
                group="warehouse",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "warehouse_market_config_by_day",
                fn=_wh_market_config,
                deps=("protocol_data_by_day", "emode_config_by_day"),
                group="warehouse",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "raw_incentives_by_day",
                fn=_raw_incentives_by_day,
                deps=("block_numbers_by_day",),
                group="protocol_data_lake",
                partitioning=MARKET_DAY,
                partition_cols=("block_day", "market"),
            ),
            Asset(
                "incentives_by_day",
                fn=_wh_incentives,
                deps=(
                    "raw_incentives_by_day",
                    "protocol_data_by_day",
                    "aave_oracle_prices_by_day",
                ),
                group="warehouse",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "compound_v2_by_day",
                fn=_compound_v2_by_day,
                deps=("block_numbers_by_day",),
                group="daily_partitioned",
                partitioning=DAILY,
                partition_cols=("block_day",),
            ),
            Asset(
                "erc20_balances_by_day",
                fn=_erc20_balances_by_day,
                deps=("block_numbers_by_day",),
                group="daily_partitioned",
                partitioning=DAILY,
                partition_cols=("block_day",),
            ),
            Asset(
                "safety_module_token_hodlers_by_day",
                fn=_safety_module_token_hodlers_by_day,
                deps=("block_numbers_by_day",),
                group="daily_partitioned",
                partitioning=DAILY,
                partition_cols=("block_day",),
            ),
            Asset(
                "safety_module_rpc",
                fn=_safety_module_rpc,
                deps=("block_numbers_by_day",),
                group="daily_partitioned",
                partitioning=DAILY,
                partition_cols=("block_day",),
            ),
            Asset(
                "matic_lsd_token_supply_by_day",
                fn=_matic_lsd_token_supply_by_day,
                deps=("block_numbers_by_day",),
                group="daily_partitioned",
                partitioning=DAILY,
                partition_cols=("block_day",),
            ),
            Asset(
                "safety_module_bal_pool_contents",
                fn=_safety_module_bal_pool_contents,
                deps=("block_numbers_by_day",),
                group="daily_partitioned",
                partitioning=DAILY,
                partition_cols=("block_day",),
            ),
            Asset(
                "balancer_bpt_data_by_day",
                fn=_balancer_bpt_data_by_day,
                deps=("block_numbers_by_day",),
                group="chain_day",
                partitioning=DAILY,
                partition_cols=("block_day",),
            ),
            Asset(
                "warehouse_balancer_bpt_by_day",
                fn=_wh_balancer_bpt,
                deps=("balancer_bpt_data_by_day", "token_prices_by_day"),
                group="warehouse",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "coingecko_data_by_day",
                fn=_coingecko_data_by_day,
                group="data_lake_unpartitioned",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "beacon_chain_staking_returns_by_day",
                fn=_beacon_staking_returns,
                group="daily_midday",
                partitioning=DAILY,
                partition_cols=("partition_date",),
            ),
            # liquidity_depth job (0 */2 * * *): raw sweeps append per
            # fetch_time (the reference's append-only io manager,
            # aave_data/__init__.py:106-115); the warehouse interpolation
            # full-refreshes over all sweeps
            Asset(
                "liquidity_depth_raw",
                fn=_liquidity_depth_raw,
                group="liquidity_depth",
                partitioning=UNPARTITIONED,
                append_only=True,
            ),
            Asset(
                "liquidity_depth",
                fn=_wh_liquidity,
                deps=("liquidity_depth_raw",),
                group="liquidity_depth",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "liquidity_depth_lsd",
                fn=_liquidity_depth_lsd,
                deps=("liquidity_depth", "display_names"),
                group="liquidity_depth",
                partitioning=UNPARTITIONED,
                write_output=False,
            ),
            Asset(
                "protocol_data_by_hour",
                fn=_protocol_data_by_hour,
                deps=("block_numbers_by_hour", "market_tokens_by_day"),
                group="protocol_hourly_data_lake",
                partitioning=MARKET_HOUR,
                partition_cols=("block_hour", "market"),
            ),
            Asset(
                "datamart_hourly",
                fn=_datamart_hourly,
                deps=("protocol_data_by_hour", "emode_config_by_day", "datamart"),
                group="datamart_hourly",
                partitioning=UNPARTITIONED,
                write_output=False,
            ),
            Asset(
                "display_names",
                fn=_display_names,
                group="data_lake_unpartitioned",
                partitioning=UNPARTITIONED,
            ),
            Asset(
                "datamart",
                fn=_datamart,
                deps=(
                    "warehouse_market_state_by_day",
                    "warehouse_market_config_by_day",
                    "display_names",
                    "token_prices_by_day",
                    "block_numbers_by_day",
                    "market_tokens_by_day",
                    "incentives_by_day",
                    "erc20_balances_by_day",
                    "safety_module_token_hodlers_by_day",
                ),
                group="datamart",
                partitioning=UNPARTITIONED,
                write_output=False,  # run_datamart(store=...) wrote the models
            ),
        ]
    return AssetGraph(assets)
