"""The benchmark's workloads. Each is one client in a closed loop: it runs
whole cadence units back to back until the time budget is spent (at least
one unit), then checks the outputs outside the timed region.

- ``datamart_queries``: one unit is one pass over 17 reference-shaped heads
  in registry order over seeded tables; one operation is one head (build,
  plan, exec).
- ``reference_day``: one unit is one day of the reference cadence's lake and
  warehouse jobs into a fresh store (``run_day`` with
  :data:`REFERENCE_GROUPS`); one operation is one asset materialization
  (asset fn plus its store write).
"""

from __future__ import annotations

import dataclasses
import math
import os
import time
from collections.abc import Callable

from perfbench import host
from perfbench.trace import Tracer


@dataclasses.dataclass
class Op:
    name: str
    layer: str
    seconds: float
    unit: int


@dataclasses.dataclass
class Outcome:
    """Everything one workload run measured and checked."""

    units: list[dict] = dataclasses.field(default_factory=list)
    ops: list[Op] = dataclasses.field(default_factory=list)
    timed_s: float = 0.0
    checks_s: float = 0.0
    cpu_s: float = 0.0
    rows: int = 0
    errors: dict[str, str] = dataclasses.field(default_factory=dict)
    checks: dict[str, str | None] = dataclasses.field(default_factory=dict)
    wrong_ops: int = 0

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.errors)

    @property
    def failed(self) -> int:
        return len(self.errors) + self.wrong_ops


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, as
    (value, percentile). With ten samples or fewer it is the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    i = n - 11
    return xs[i], 100.0 * (i + 1) / n


# --- datamart_queries -------------------------------------------------------


#: the datamart head the workload runs, the reserve-factor income model
#: chain (README.md says why not all 13)
DATAMART_HEADS = ("datamart_reserve_factor_income_real",)


def datamart_heads() -> list[str]:
    """:data:`DATAMART_HEADS` and the 16 tpch/events/grouped_linear_interp
    operator-shape heads, in registry order."""
    from aave_etl_spark.queries import exported_queries

    heads = []
    for name, q in exported_queries().items():
        module = q.builder.__module__.rsplit(".", 1)[-1]
        if name in DATAMART_HEADS or module in ("tpch", "events") or (
            name == "grouped_linear_interp"
        ):
            heads.append(name)
    if len(heads) != len(DATAMART_HEADS) + 16:
        raise RuntimeError(f"datamart_queries heads missing from the registry: {heads}")
    return heads


def head_layer(name: str) -> str:
    return "datamart" if name.startswith("datamart_") else "operator"


def run_datamart_queries(spark, tracer: Tracer, seconds: float, data_dir: str) -> Outcome:
    from aave_etl_spark.queries import exported_queries

    queries = exported_queries()
    # a fixed order: in a fresh JVM the first heads pay the JIT warm-up, so a
    # seeded order would move that cost between heads from run to run
    order = datamart_heads()
    out = Outcome()
    cpu0 = host.tree_cpu_s()
    t0 = time.perf_counter()
    while True:
        unit = len(out.units)
        results: dict = {}  # the checks read the last unit's results
        u0 = time.perf_counter()
        with tracer.span("unit", unit=unit):
            for name in order:
                o0 = time.perf_counter()
                try:
                    with tracer.span("head", head=name):
                        with tracer.span("build"):
                            df = queries[name].builder(spark, data_dir)
                        with tracer.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tracer.span("exec"):
                            results[name] = df.toArrow()
                except Exception as exc:  # noqa: BLE001 - a failed head is counted, not fatal
                    out.errors[f"{unit}:{name}"] = f"{type(exc).__name__}: {exc}"
                    continue
                out.ops.append(Op(name, head_layer(name), time.perf_counter() - o0, unit))
        out.units.append({"wall_s": time.perf_counter() - u0})
        out.rows += sum(t.num_rows for t in results.values())
        if time.perf_counter() - t0 >= seconds:
            break
    out.timed_s = time.perf_counter() - t0
    out.cpu_s = host.tree_cpu_s() - cpu0
    c0 = time.perf_counter()
    out.checks = check_heads(queries, results, data_dir)
    out.checks_s = time.perf_counter() - c0
    out.wrong_ops = sum(1 for v in out.checks.values() if v is not None)
    return out


def normalized(table):
    """Columns sorted by name; every numeric column as float64 (the engines
    differ in integer widths and decimal scales), timestamps as UTC
    microseconds, strings as one string type; rows sorted with the
    non-numeric columns as the leading keys."""
    import pyarrow as pa

    cols = {}
    for name in sorted(table.column_names):
        col, t = table.column(name), table.column(name).type
        if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t):
            col = col.cast(pa.float64())
        elif pa.types.is_timestamp(t):
            col = col.cast(pa.timestamp("us", t.tz)).cast(pa.int64())
        elif pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_null(t):
            col = col.cast(pa.string())
        cols[name] = col
    out = pa.table(cols)
    keys = sorted(cols, key=lambda c: pa.types.is_floating(cols[c].type))
    return out.sort_by([(c, "ascending") for c in keys]) if keys else out


def compare(spark_table, oracle_table) -> str | None:
    """None when the two results hold the same rows in any order (floats
    within a relative 1e-6, NULL equal to NaN), else what differs."""
    import numpy as np
    import pyarrow as pa

    if sorted(spark_table.column_names) != sorted(oracle_table.column_names):
        return f"columns {sorted(spark_table.column_names)} != {sorted(oracle_table.column_names)}"
    if spark_table.num_rows != oracle_table.num_rows:
        return f"rows {spark_table.num_rows} != {oracle_table.num_rows}"
    a, b = normalized(spark_table), normalized(oracle_table)
    for name in a.column_names:
        x, y = a.column(name), b.column(name)
        if pa.types.is_floating(x.type) and pa.types.is_floating(y.type):
            xs = x.to_numpy(zero_copy_only=False).astype(float)
            ys = y.to_numpy(zero_copy_only=False).astype(float)
            same = np.isclose(xs, ys, rtol=1e-6, atol=1e-9, equal_nan=True)
        else:
            same = np.array([u == v for u, v in zip(x.to_pylist(), y.to_pylist())])
        if not same.all():
            row = int(np.argmin(same))
            return f"column {name} row {row}: {x[row]} != {y[row]}"
    return None


def check_heads(queries, results: dict, data_dir: str) -> dict[str, str | None]:
    """Compare each head's last result with its registry DuckDB oracle."""
    import duckdb

    from perfbench.datagen import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        checks = {}
        for name in datamart_heads():
            if name not in results:
                checks[name] = "no result"
                continue
            checks[name] = compare(results[name], con.execute(queries[name].oracle).arrow())
        return checks
    finally:
        con.close()


# --- reference_day ----------------------------------------------------------

#: the reference job groups one unit runs: the data-lake jobs the warehouse
#: reads (chain_day included: the warehouse's balancer asset fails without
#: its table) and the 01:15 warehouse job (README.md says why not the rest)
REFERENCE_GROUPS = ("financials_data_lake", "protocol_data_lake", "chain_day", "warehouse")


def asset_layer(asset) -> str:
    """sources for the data-lake groups, else the group's own layer."""
    if asset.group.startswith("datamart"):
        return "datamart"
    return "warehouse" if asset.group == "warehouse" else "sources"


class OpRecorder:
    """Times asset materializations from the outside. An asset's operation
    runs from its fn's entry to the next fn's entry (or :meth:`close`), which
    covers the fn and the store write ``run_partition`` does after it."""

    def __init__(self, out: Outcome, tracer: Tracer):
        self.out = out
        self.tracer = tracer
        self.unit = 0
        self._open: tuple[str, str, float] | None = None

    def close(self) -> None:
        if self._open is not None:
            name, layer, t0 = self._open
            self.out.ops.append(Op(name, layer, time.perf_counter() - t0, self.unit))
            self._open = None

    def abort(self) -> str:
        """Drop the open operation (it raised); returns its asset name."""
        name = self._open[0] if self._open else "unit"
        self._open = None
        return name

    def wrap(self, name: str, layer: str, fn: Callable) -> Callable:
        def asset_fn(ctx):
            self.close()
            self._open = (name, layer, time.perf_counter())
            with self.tracer.span("asset", asset=name, layer=layer):
                return fn(ctx)

        return asset_fn


def wrapped_graph(graph, recorder: OpRecorder):
    from aave_etl_spark.plans.orchestration import AssetGraph

    return AssetGraph(
        [
            dataclasses.replace(a, fn=recorder.wrap(a.name, asset_layer(a), a.fn))
            for a in graph.assets.values()
        ]
    )


def rows_at_rest(root: str) -> int:
    """Rows in every parquet file under a store root, from the footers."""
    import pyarrow.parquet as pq

    from perfbench.trace import parquet_files

    return sum(pq.ParquetFile(os.path.join(root, rel)).metadata.num_rows
               for rel in parquet_files(root))


def run_reference_day(spark, tracer: Tracer, seed: int, seconds: float,
                      work_dir: str, transports_wrap: Callable | None = None) -> Outcome:
    from aave_etl_spark.io.table_store import TableStore
    from aave_etl_spark.plans import orchestration as orch
    from aave_etl_spark.plans.reference_pipeline import reference_graph
    from perfbench import transports as tp

    p = tp.draw(seed)
    fakes = tp.make_transports(p)
    if transports_wrap is not None:
        fakes = {k: transports_wrap(fn, k) for k, fn in fakes.items()}
    resources = tp.make_resources(spark, p, fakes)
    out = Outcome()
    rec = OpRecorder(out, tracer)
    graph = wrapped_graph(reference_graph(include_market_state=True), rec)
    markets = [tp.MARKET]
    checked = None  # root of the last unit that completed
    cpu0 = host.tree_cpu_s()
    t0 = time.perf_counter()
    while True:
        unit = rec.unit = len(out.units)
        root = os.path.join(work_dir, f"store-{unit}")
        os.makedirs(root, exist_ok=True)
        if os.listdir(root):
            raise RuntimeError(f"store root {root} is not empty before timing")
        store = TableStore(spark, root)
        try:
            u0 = time.perf_counter()
            with tracer.span("unit", unit=unit):
                orch.run_day(spark, store, graph, p.day, markets, resources,
                             groups=REFERENCE_GROUPS)
                rec.close()
                u1 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed unit is counted, not fatal
            out.errors[f"{unit}:{rec.abort()}"] = f"{type(exc).__name__}: {exc}"
            break
        out.units.append({"wall_s": u1 - u0})
        out.rows += rows_at_rest(root)
        checked = root
        if time.perf_counter() - t0 >= seconds:
            break
    out.timed_s = time.perf_counter() - t0
    out.cpu_s = host.tree_cpu_s() - cpu0
    if checked is not None:
        c0 = time.perf_counter()
        out.checks = check_reference(checked, p)
        out.checks_s = time.perf_counter() - c0
        out.wrong_ops = sum(1 for v in out.checks.values() if v is not None)
    return out


def check_reference(root: str, p) -> dict[str, str | None]:
    """Partition counts and measures of the last unit's store, read back
    with pyarrow, against the values :mod:`perfbench.transports` drew.
    Keyed by asset name."""
    import pyarrow.parquet as pq

    from perfbench import transports as tp

    n = tp.N_RESERVES
    checks: dict[str, str | None] = {}

    def check(asset: str, fn: Callable[[list[dict]], str | None], count: int):
        try:
            rows = pq.read_table(os.path.join(root, asset)).to_pylist()
            if len(rows) != count:
                checks[asset] = f"{len(rows)} rows, expected {count}"
                return
            checks[asset] = fn(rows)
        except Exception as exc:  # noqa: BLE001 - a broken output is a failed check
            checks[asset] = f"{type(exc).__name__}: {exc}"

    def close(a: float, b: float) -> bool:
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)

    def every(pred, what):
        return lambda rows: None if all(pred(r) for r in rows) else what

    def anything(rows):
        return None

    height = tp.day_block(p, p.day)

    def reserve(r) -> int:
        return int(r["reserve"][-4:])

    block_range = every(
        lambda r: r["block_height"] == height and r["end_block"] == height + p.day_span - 1,
        "block range")
    check("block_numbers_by_day", block_range, 1)
    check("warehouse_blocks_by_day", block_range, 1)
    check("market_tokens_by_day", anything, n)
    check("aave_oracle_prices_by_day", every(
        lambda r: close(r["usd_price"], tp.oracle_usd_price(p, r["reserve"], height)),
        "usd_price"), n)
    check("token_prices_by_day", every(
        lambda r: close(r["usd_price"], tp.oracle_usd_price(p, r["reserve"], height)),
        "usd_price"), n)
    check("protocol_data_by_day", every(
        lambda r: close(r["ltv"], p.ltv_bps[reserve(r)] / 1e4), "ltv"), n)
    check("warehouse_market_state_by_day", every(
        lambda r: close(r["atoken_supply"], p.supply[reserve(r)])
        and close(r["available_liquidity"], p.supply[reserve(r)] - 30), "supply"), n)
    check("warehouse_market_config_by_day", every(
        lambda r: close(r["reserve_factor"], p.reserve_factor_bps[reserve(r)] / 1e4)
        and close(r["ltv"], p.ltv_bps[reserve(r)] / 1e4), "risk parameters"), n)
    check("atoken_measures_by_day", every(
        lambda r: close(r["tokens_in_external"], p.transfer_in)
        and close(r["tokens_out_internal"], p.transfer_out), "transfer quadrants"), n)
    check("incentives_by_day", anything, 1)
    return checks
