"""Token price dedup (reference data_warehouse.py:497-521).

A reserve can be priced by several markets on the same chain; the reference
keeps the price from the market with the best (min) configured price_rank:
group-min + join-back + filter. Spark shape: one window min over
(chain, reserve, symbol, day) — single shuffle, no join-back needed."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType, TimestampType
from pyspark.sql.window import Window

#: the warehouse token_prices_by_day table (`token_prices_by_day` output)
TOKEN_PRICES_BY_DAY = StructType(
    [
        StructField("block_day", TimestampType()),
        StructField("chain", StringType()),
        StructField("reserve", StringType()),
        StructField("symbol", StringType()),
        StructField("usd_price", DoubleType()),
        StructField("pricing_source", StringType()),
    ]
)


def token_prices_by_day(
    aave_oracle_prices_by_day: DataFrame,
    market_chain_rank: DataFrame,
) -> DataFrame:
    """market_chain_rank: (market, chain, price_rank) config dim
    (data_warehouse.py:500-506). Output unique on (chain, reserve, block_day)
    (FIXTURES §11)."""
    priced = aave_oracle_prices_by_day.withColumn(
        "pricing_source", F.lit("aave_oracle")
    ).join(F.broadcast(market_chain_rank), "market", "left")

    w = Window.partitionBy("chain", "reserve", "symbol", "block_day")
    return (
        priced.withColumn("min_rank", F.min("price_rank").over(w))
        .filter(F.col("price_rank") == F.col("min_rank"))
        .select("block_day", "chain", "reserve", "symbol", "usd_price", "pricing_source")
        .distinct()
    )
