"""TableStore sink/read semantics (SURVEY §2.1 K1-K4) and bucketed
co-location — direct tests for the IO layer the datamart runner builds on."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from aave_etl_spark.io.table_store import TableStore


def _store(spark, tmp_path):
    return TableStore(spark, str(tmp_path / "warehouse"))


def test_k1_dynamic_partition_overwrite(spark, tmp_path):
    """Rewriting one partition's slice must leave sibling partitions
    intact (the reference's delete-then-append idempotency)."""
    store = _store(spark, tmp_path)
    df = spark.createDataFrame(
        [("2024-01-01", "m1", 1.0), ("2024-01-01", "m2", 2.0)],
        "day string, market string, v double",
    )
    store.write(df, "t", partition_cols=["day", "market"])
    # replay m1's partition with a corrected value
    fixed = spark.createDataFrame(
        [("2024-01-01", "m1", 9.0)], "day string, market string, v double"
    )
    store.write(fixed, "t", partition_cols=["day", "market"])
    out = {(r.market, r.v) for r in store.read("t").collect()}
    assert out == {("m1", 9.0), ("m2", 2.0)}


def test_k2_append_only(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    store.write(df, "t", append_only=True)
    store.write(df, "t", append_only=True)
    assert store.read("t").count() == 2


def test_k3_missing_table_and_pruned_read(spark, tmp_path):
    store = _store(spark, tmp_path)
    schema = StructType([StructField("k", StringType())])
    empty = store.read("nope", schema=schema)
    assert empty.count() == 0 and empty.schema == schema

    df = spark.createDataFrame(
        [("2024-01-01", 1.0), ("2024-01-02", 2.0)], "day string, v double"
    )
    store.write(df, "t", partition_cols=["day"])
    got = store.read("t", where="day = '2024-01-02'")
    assert [r.v for r in got.collect()] == [2.0]


def test_local_df_zero_column_schema(spark, tmp_path):
    """A zero-column schema (a missing-table read) builds without a Python
    RDD and keeps its row count; a row that does not fit its schema
    raises instead of switching to another conversion path."""
    from aave_etl_spark.localframe import local_df

    for rows in ([], [(), ()]):
        df = local_df(spark, rows, StructType([]))
        assert df.columns == [] and df.count() == len(rows)
        assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    missing = _store(spark, tmp_path).read("nope")
    assert missing.columns == [] and missing.count() == 0
    with pytest.raises(ValueError):
        local_df(spark, [(1, 2)], "a long")


def test_k4_plain_roundtrip_strips_meta(spark, tmp_path):
    store = _store(spark, tmp_path)
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    store.write(df, "t")
    out = store.read("t")
    assert set(out.columns) == {"k", "v"}
    assert store.read("t", keep_meta=True).columns != out.columns


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO Exchange operators — bucket i zips with bucket i."""
    store = _store(spark, tmp_path)
    facts = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    dims = spark.range(0, 100).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    try:
        store.write_bucketed(facts, "bf", ["k"], n_buckets=8, sort_cols=["k"])
        store.write_bucketed(dims, "bd", ["k"], n_buckets=8, sort_cols=["k"])
        joined = (
            store.read_bucketed("bf")
            .hint("merge")  # forbid broadcast so the shuffle question is real
            .join(store.read_bucketed("bd"), "k")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bf")
        spark.sql("DROP TABLE IF EXISTS bd")


def test_compact_partitioned_preserves_content_and_shrinks_files(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2026-01-01", "2026-01-02") for i in range(200)],
        "day string, k long, v double",
    ).repartition(16)  # many write tasks -> many small files per partition
    store.write(df, "t", partition_cols=["day"])
    before_rows = sorted(store.read("t").collect())
    n_before = len(store._parquet_files("t"))
    assert n_before > 2  # the problem exists

    fb, fa = store.compact("t", partition_cols=["day"])
    assert (fb, fa) == (n_before, 2)  # one file per partition directory
    after = store.read("t")
    assert sorted(after.collect()) == before_rows
    # partition pruning still works on the compacted layout
    assert store.read("t", where="day = '2026-01-01'").count() == 200
    # provenance stamps survive compaction
    assert "_load_timestamp" in store.read("t", keep_meta=True).columns


def test_compact_unpartitioned_and_missing(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    assert store.compact("nope") == (0, 0)
    df = spark.createDataFrame([(i,) for i in range(100)], "k long").repartition(8)
    store.write(df, "u")
    fb, fa = store.compact("u")
    assert fb >= 8 and fa == 1
    assert store.read("u").count() == 100


def test_compact_crash_window_recovery(spark, tmp_path):
    """A crash between compact's two renames leaves only <name>.__old; the
    store must restore it on the next touch instead of serving K3 empty."""
    import os

    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame([(i,) for i in range(50)], "k long")
    store.write(df, "crashy")

    def break_mid_swap():
        # simulate the half-swapped state: marker written, live moved
        # aside, replacement never renamed in (the crash window between
        # compact's two os.replace calls)
        (tmp_path / "crashy.__swap_pending").write_text("crashy")
        os.replace(str(tmp_path / "crashy"), str(tmp_path / "crashy.__old"))

    break_mid_swap()
    assert store.exists("crashy")  # auto-restored, not reported missing
    assert store.read("crashy").count() == 50
    assert not os.path.exists(str(tmp_path / "crashy.__old"))
    # the marker is NOT removed on restore: a bare (live, marker) state is
    # indistinguishable from a concurrent compact between its marker write
    # and first rename, and deleting an in-flight marker would re-open the
    # silent-empty window. The next compact rewrites it.
    assert os.path.exists(str(tmp_path / "crashy.__swap_pending"))
    # compact on a freshly re-broken table also self-heals before counting
    break_mid_swap()
    fb, fa = store.compact("crashy")
    assert fb >= 1 and fa >= 1
    assert store.read("crashy").count() == 50


def test_compact_post_swap_debris_never_resurrects(spark, tmp_path):
    """.__old WITHOUT the swap-pending marker is post-swap debris (crash
    after the swap, before cleanup): it must be cleaned when live exists,
    and must NOT resurrect a stale copy when live was removed externally."""
    import os
    import shutil

    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write(spark.createDataFrame([(1,)], "k long"), "t")
    # crash-after-swap shape: old stale copy remains next to the new live
    shutil.copytree(str(tmp_path / "t"), str(tmp_path / "t.__old"))
    assert store.exists("t")
    assert not os.path.exists(str(tmp_path / "t.__old"))  # debris cleaned
    # live removed externally + unmarked old: respect the deletion
    shutil.copytree(str(tmp_path / "t"), str(tmp_path / "t.__old"))
    shutil.rmtree(str(tmp_path / "t"))
    assert not store.exists("t")
    assert store.read("t").count() == 0  # K3 typed-empty, not stale data
    # and the stale unmarked .__old is reclaimed, not left on disk forever
    assert not os.path.exists(str(tmp_path / "t.__old"))


def test_compact_refuses_bucketed_tables(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "k long, v double")
    store.write_bucketed(df, "bkt_compact_t", ["k"], n_buckets=4)
    try:
        with pytest.raises(ValueError, match="bucket metadata"):
            store.compact("bkt_compact_t")
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_compact_t")


def test_cluster_by_write_disjoint_file_stats(spark, tmp_path):
    """cluster_by must produce files whose min/max footer ranges on the
    clustered column are tight and pairwise disjoint — the property parquet
    data skipping runs on — and the clustered column's predicate must reach
    the scan as a pushed filter."""
    import pyarrow.parquet as pq

    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    df = (
        spark.range(0, 20_000)
        .withColumn("k", F.pmod(F.hash("id"), F.lit(1_000_000)))
        .select("id", "k")
        .repartition(8)  # scrambled input: every task sees the full k range
    )
    store.write(df, "clustered", cluster_by=["k"], cluster_files=4)
    files = [
        str(p) for p in (tmp_path / "clustered").rglob("*.parquet")
    ]
    assert len(files) > 1  # range repartition actually split the data
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        kidx = md.schema.to_arrow_schema().get_field_index("k")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(kidx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges ({lo1},{hi1}) vs ({lo2},{hi2})"
    # the predicate reaches the parquet scan (skipping runs off the footer
    # stats the disjointness above guarantees are selective)
    probe = ranges[0][1]  # a value only the first file can contain
    plan = (
        store.read("clustered", where=f"k = {probe}")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(k), EqualTo(k," in plan
    # unclustered write of the same scrambled data would overlap everywhere;
    # sanity: the clustered table still returns every row
    assert store.read("clustered").count() == 20_000


def test_full_refresh_overwrite_drops_absent_partitions(spark, tmp_path):
    from aave_etl_spark.io.table_store import TableStore

    store = TableStore(spark, str(tmp_path))
    v1 = spark.createDataFrame(
        [("a", 1), ("b", 2)], "part string, v long"
    )
    store.write(v1, "fr", partition_cols=["part"])
    # dynamic overwrite (default): writing only partition 'a' keeps 'b'
    store.write(v1.filter("part = 'a'"), "fr", partition_cols=["part"])
    assert store.read("fr").count() == 2
    # full refresh: partition 'b' absent from the snapshot must disappear
    store.write(v1.filter("part = 'a'"), "fr", partition_cols=["part"], full_refresh=True)
    rows = store.read("fr").collect()
    assert [r.part for r in rows] == ["a"]


def test_session_scratch_dir_sweeps_only_stale_siblings(spark, tmp_path, monkeypatch):
    """Per-session scratch roots: stale (dead-session) siblings older than
    the age guard are reclaimed; fresh siblings (a possibly-live concurrent
    session) and the current session's root are left alone."""
    import os
    import time as time_mod

    import aave_etl_spark.io.scratch as scratch

    monkeypatch.setattr(scratch.tempfile, "gettempdir", lambda: str(tmp_path))
    family = "scratch_family"
    root = tmp_path / family
    app = spark.sparkContext.applicationId
    stale = root / "app-dead-0001"
    fresh = root / "app-live-0002"
    mine = root / app
    for d in (stale, fresh, mine):
        (d / "sub").mkdir(parents=True)
        (d / "sub" / "x").write_text("x")
    old = time_mod.time() - scratch.STALE_AFTER_S - 60
    os.utime(stale, (old, old))

    got = scratch.session_scratch_dir(spark, family, "sf0.01")
    assert got == str(mine / "sf0.01")
    assert not stale.exists(), "stale sibling must be reclaimed"
    assert fresh.exists(), "fresh sibling may be a live session - kept"
    assert (mine / "sub" / "x").exists(), "own root untouched"


def test_morton_zkey_interleaves_bits(spark):
    """Known-value check of the Morton key: with 2 dims x 2 bits and an
    identity scaling (values 0..3 over range 0..3), the key is the
    textbook bit interleave (x bits at even positions, y at odd)."""
    from aave_etl_spark.io.table_store import morton_zkey

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1), (2, 0), (3, 3)], "x int, y int"
    )
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", morton_zkey(["x", "y"], [0, 0], [3, 3], bits=2).alias("z")
        ).collect()
    }
    assert got == {(0, 0): 0, (1, 0): 1, (0, 1): 2, (1, 1): 3, (2, 0): 4, (3, 3): 15}
    # NULL dims scale to 0; out-of-anchor values clamp instead of wrapping
    df2 = spark.createDataFrame([(None, 3), (99, 0)], "x int, y int")
    got2 = [
        r.z
        for r in df2.select(
            morton_zkey(["x", "y"], [0, 0], [3, 3], bits=2).alias("z")
        ).collect()
    ]
    assert got2 == [10, 5]  # (0,3) -> y bits only; (3,0) clamped -> 5
    with pytest.raises(ValueError, match="fit a signed long"):
        morton_zkey(["x", "y"], [0, 0], [1, 1], bits=32)


def test_zorder_write_concentrates_both_dimensions(spark, tmp_path):
    """zorder_by must (a) keep the layout key out of the stored schema and
    (b) give BOTH clustered dimensions per-file footer ranges far narrower
    than the global range — the multi-dim concentration a lexicographic
    cluster_by cannot give its trailing column."""
    import pyarrow.parquet as pq

    store = _store(spark, tmp_path)
    df = (
        spark.range(0, 10_000)
        .select(
            (F.col("id") % 100).cast("int").alias("x"),
            F.pmod(F.hash("id"), F.lit(100)).cast("int").alias("y"),
            F.col("id").alias("payload"),
        )
        .repartition(8)  # scrambled input: every task sees the full ranges
    )
    store.write(df, "zed", zorder_by=["x", "y"], cluster_files=16)
    out = store.read("zed")
    assert "_zkey" not in out.columns  # layout device, not data
    assert out.count() == 10_000
    files = [str(p) for p in (tmp_path / "warehouse" / "zed").rglob("*.parquet")]
    assert len(files) > 4
    widths = {"x": [], "y": []}
    for f in files:
        md = pq.ParquetFile(f).metadata
        arrow = md.schema.to_arrow_schema()
        for col in ("x", "y"):
            cidx = arrow.get_field_index(col)
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(cidx).statistics
                mins.append(st.min)
                maxs.append(st.max)
            widths[col].append(max(maxs) - min(mins))
    for col in ("x", "y"):
        mean_w = sum(widths[col]) / len(widths[col])
        # a z-straddling file can span two grid cells; the MEAN stays
        # well under half the global range (a lexicographic layout's
        # trailing column would sit at ~the full range in every file)
        assert mean_w < 50, f"{col}: mean per-file width {mean_w} not concentrated"
    with pytest.raises(ValueError, match="not both"):
        store.write(df, "zed2", cluster_by=["x"], zorder_by=["y"])


def test_compact_zorder_reestablishes_layout(spark, tmp_path):
    """Compacting a z-ordered table with zorder_by recomputes the dropped
    Morton key and re-clusters, so both dimensions' footer concentration
    survives the file-count change."""
    import pyarrow.parquet as pq

    store = _store(spark, tmp_path)
    df = spark.range(0, 8_000).select(
        (F.col("id") % 80).cast("int").alias("x"),
        F.pmod(F.hash("id"), F.lit(80)).cast("int").alias("y"),
    )
    store.write(df, "zc", zorder_by=["x", "y"], cluster_files=16)
    # 6 KiB target → ~7 files: comfortably >1 (the file count wobbles ±1-2
    # with JVM/compression state — at 12 KiB it sat at 4, one wobble from
    # tripping the >1 floor in a full-suite run) and a finer z-grid keeps
    # the footer-width bound below with margin
    before, after = store.compact(
        "zc", target_file_bytes=6 * 1024, zorder_by=["x", "y"]
    )
    assert after < before and after > 1
    out = store.read("zc")
    assert out.count() == 8_000 and "_zkey" not in out.columns
    files = [str(p) for p in (tmp_path / "warehouse" / "zc").rglob("*.parquet")]
    for col in ("x", "y"):
        widths = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            cidx = md.schema.to_arrow_schema().get_field_index(col)
            mins = [md.row_group(r).column(cidx).statistics.min for r in range(md.num_row_groups)]
            maxs = [md.row_group(r).column(cidx).statistics.max for r in range(md.num_row_groups)]
            widths.append(max(maxs) - min(mins))
        # fewer files => coarser z-grid, so the bound is looser than the
        # write-time test's; a layout lost to arrival order would sit at
        # ~the full range (79) in every file
        assert sum(widths) / len(widths) < 56, f"{col} lost concentration"
    with pytest.raises(ValueError, match="not both"):
        store.compact("zc", sort_cols=["x"], zorder_by=["y"])


def test_merge_upsert_delete_and_partition_scope(spark, tmp_path):
    """MERGE semantics: updates replace by key, deletes remove, inserts
    add; untouched PARTITIONS are not rewritten (their files' mtimes are
    stable), and a touched partition whose rows all vanish is removed."""
    import os
    import time as time_mod

    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k long, part string, v double",
    )
    store.write(base, "m", partition_cols=["part"])
    files_c_before = {
        f: os.path.getmtime(f)
        for f in map(str, (tmp_path / "warehouse" / "m" / "part=c").rglob("*.parquet"))
    }
    assert files_c_before
    time_mod.sleep(1.1)  # mtime granularity guard
    changes = spark.createDataFrame(
        [
            (1, "a", 11.0, "U"),   # update in partition a
            (2, "a", 0.0, "D"),    # delete in partition a
            (3, "b", 0.0, "D"),    # delete the ONLY row of partition b
            (5, "a", 50.0, "I"),   # insert into partition a
        ],
        "k long, part string, v double, op string",
    )
    store.merge(changes, "m", ["k"], partition_cols=["part"], op_col="op")
    got = {(r.k, r.part): r.v for r in store.read("m").collect()}
    assert got == {(1, "a"): 11.0, (4, "c"): 40.0, (5, "a"): 50.0}
    # partition b vanished entirely (all rows deleted)
    assert not (tmp_path / "warehouse" / "m" / "part=b").exists()
    # untouched partition c: same files, same mtimes
    files_c_after = {
        f: os.path.getmtime(f)
        for f in map(str, (tmp_path / "warehouse" / "m" / "part=c").rglob("*.parquet"))
    }
    assert files_c_after == files_c_before


def test_merge_sequence_keep_last_and_bootstrap(spark, tmp_path):
    """sequence_col collapses multi-change batches to the highest-sequence
    row per key; merging into a missing table bootstraps it from the
    upserts (deletes ignored)."""
    store = _store(spark, tmp_path)
    changes = spark.createDataFrame(
        [
            (1, 100.0, "I", 1),
            (1, 150.0, "U", 2),   # later change for the same key wins
            (2, 200.0, "I", 1),
            (3, 300.0, "D", 1),   # delete against nothing: ignored
        ],
        "k long, v double, op string, seq long",
    )
    store.merge(changes, "boot", ["k"], op_col="op", sequence_col="seq")
    got = {r.k: r.v for r in store.read("boot").collect()}
    assert got == {1: 150.0, 2: 200.0}
    # pure-upsert feed (no op col): every change row upserts
    more = spark.createDataFrame([(2, 222.0), (4, 444.0)], "k long, v double")
    store.merge(more, "boot", ["k"])
    got2 = {r.k: r.v for r in store.read("boot").collect()}
    assert got2 == {1: 150.0, 2: 222.0, 4: 444.0}


def test_merge_vanished_partition_with_escaped_path_chars(spark, tmp_path):
    """A fully-deleted partition must vanish even when its value contains
    characters Spark ESCAPES in partition paths (':' → %3A) or is NULL
    (__HIVE_DEFAULT_PARTITION__): the sweep resolves directories from the
    filesystem via input_file_name, never by re-formatting f'{c}={v}'
    paths — re-formatted paths miss the escaped directory, rmtree no-ops,
    and the deleted rows silently resurrect on the next read."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (2, "2024-01-01 11:00:00", 2.0),
            (3, None, 3.0),
        ],
        "k long, hr string, v double",
    )
    store.write(base, "esc", partition_cols=["hr"])
    # on-disk directory really is escaped (the premise of the regression)
    assert (tmp_path / "warehouse" / "esc" / "hr=2024-01-01 10%3A00%3A00").exists()
    changes = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 0.0, "D"), (3, None, 0.0, "D")],
        "k long, hr string, v double, op string",
    )
    store.merge(changes, "esc", ["k"], partition_cols=["hr"], op_col="op")
    # (read-back infers hr as timestamp from the directory string — compare
    # through str; the merge itself joins on the string-typed change batch)
    got = {r.k: str(r.hr) for r in store.read("esc").collect()}
    assert got == {2: "2024-01-01 11:00:00"}
    assert not (tmp_path / "warehouse" / "esc" / "hr=2024-01-01 10%3A00%3A00").exists()
    assert not (
        tmp_path / "warehouse" / "esc" / "hr=__HIVE_DEFAULT_PARTITION__"
    ).exists()


def test_merge_inference_hostile_partition_values_round_trip(spark, tmp_path):
    """Partition-column types are pinned to the change batch's schema:
    values that directory-string INFERENCE would re-type and re-render —
    minute-precision timestamps ('2024-01-01 10:00' → timestamp →
    '...10:00:00'), zero-padded ints ('0123' → 123) — must compare equal
    between batch and table. Under inference they don't, so a live
    partition is falsely marked vanished and the sweep DELETES it."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00", 1.0),  # minute precision: re-renders
            (2, "2024-01-01 10:00", 2.0),
            (3, "0123", 3.0),  # zero-padded: re-types to int 123
        ],
        "k long, hr string, v double",
    )
    store.write(base, "inf", partition_cols=["hr"])
    # delete only k=1: its partition keeps k=2 and must SURVIVE the sweep
    ch = spark.createDataFrame(
        [(1, "2024-01-01 10:00", 0.0, "D")], "k long, hr string, v double, op string"
    )
    store.merge(ch, "inf", ["k"], partition_cols=["hr"], op_col="op")
    got = {(r.k, str(r.hr)) for r in store.read("inf").collect()}
    assert got == {(2, "2024-01-01 10:00"), (3, "0123")}
    # now empty that partition for real: it must vanish, others intact
    ch2 = spark.createDataFrame(
        [(2, "2024-01-01 10:00", 0.0, "D")], "k long, hr string, v double, op string"
    )
    store.merge(ch2, "inf", ["k"], partition_cols=["hr"], op_col="op")
    # (a plain read now infers the lone 'hr=0123' directory as int — the
    # display type is inference's business; the DIRECTORY is the truth)
    assert {r.k for r in store.read("inf").collect()} == {3}
    dirs = {
        d.name for d in (tmp_path / "warehouse" / "inf").iterdir() if d.is_dir()
    }
    assert dirs == {"hr=0123"}


def test_merge_null_partition_keeps_untouched_keys(spark, tmp_path):
    """Touching the NULL partition (__HIVE_DEFAULT_PARTITION__) must not
    drop its untouched keys: the touched semi join is NULL-safe, so the
    partition's surviving rows are carried through the overwrite."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "a", 3.0)],
        "k long, part string, v double",
    )
    store.write(base, "np", partition_cols=["part"])
    ch = spark.createDataFrame(
        [(1, None, 11.0, "U")], "k long, part string, v double, op string"
    )
    store.merge(ch, "np", ["k"], partition_cols=["part"], op_col="op")
    got = {(r.k, r.part): r.v for r in store.read("np").collect()}
    assert got == {(1, None): 11.0, (2, None): 2.0, (3, "a"): 3.0}


def test_merge_null_op_is_upsert_not_silent_drop(spark, tmp_path):
    """A NULL op value must behave as an upsert (eqNullSafe), not vanish
    from the batch: plain `op != 'D'` is NULL on NULL and silently drops
    the row in both the bootstrap and existing-table branches."""
    store = _store(spark, tmp_path)
    boot = spark.createDataFrame(
        [(1, 10.0, None), (2, 20.0, "I")], "k long, v double, op string"
    )
    store.merge(boot, "nullop", ["k"], op_col="op")
    assert {r.k: r.v for r in store.read("nullop").collect()} == {1: 10.0, 2: 20.0}
    more = spark.createDataFrame(
        [(1, 11.0, None), (2, 0.0, "D"), (3, 30.0, None)],
        "k long, v double, op string",
    )
    store.merge(more, "nullop", ["k"], op_col="op")
    assert {r.k: r.v for r in store.read("nullop").collect()} == {1: 11.0, 3: 30.0}


def test_merge_delete_all_partitioned_removes_table_not_husk(spark, tmp_path):
    """A partitioned merge that empties EVERY partition must remove the
    table, not leave a bare root (an unreadable husk that breaks read()'s
    schema inference and crashes the next merge); a later upsert merge
    bootstraps cleanly."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "k long, part string, v double"
    )
    store.write(base, "husk", partition_cols=["part"])
    ch = spark.createDataFrame(
        [(1, "a", 0.0, "D"), (2, "b", 0.0, "D")],
        "k long, part string, v double, op string",
    )
    assert (
        store.merge(ch, "husk", ["k"], partition_cols=["part"], op_col="op")
        is False
    )
    assert not store.exists("husk")
    assert store.read("husk").count() == 0  # K3 typed-empty, no crash
    # the next merge bootstraps instead of crashing on the husk
    more = spark.createDataFrame(
        [(3, "c", 3.0, "I")], "k long, part string, v double, op string"
    )
    store.merge(more, "husk", ["k"], partition_cols=["part"], op_col="op")
    assert {(r.k, r.part, r.v) for r in store.read("husk").collect()} == {
        (3, "c", 3.0)
    }


def test_merge_delete_all_unpartitioned_empties_table(spark, tmp_path):
    """A delete-only batch that empties an unpartitioned table must remove
    it (write() skips empty frames, so the deletion is expressed on the
    directory) — not silently keep the old rows."""
    store = _store(spark, tmp_path)
    store.write(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"), "e")
    changes = spark.createDataFrame(
        [(1, 0.0, "D"), (2, 0.0, "D")], "k long, v double, op string"
    )
    assert store.merge(changes, "e", ["k"], op_col="op") is False
    assert not store.exists("e")
    assert store.read("e").count() == 0  # K3 typed-empty


def test_merge_vanished_nested_partition_removes_empty_ancestors(spark, tmp_path):
    """Multi-column partition layouts nest: deleting every row under an
    outer partition value must remove the now-empty ANCESTOR directory
    too, not leave a husk of empty day=.../ dirs accumulating forever
    (and other outer values' trees must be untouched)."""
    store = _store(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "d1", "h1", 1.0), (2, "d1", "h2", 2.0), (3, "d2", "h1", 3.0)],
        "k long, day string, hr string, v double",
    )
    store.write(base, "nest", partition_cols=["day", "hr"])
    ch = spark.createDataFrame(
        [(1, "d1", "h1", 0.0, "D"), (2, "d1", "h2", 0.0, "D")],
        "k long, day string, hr string, v double, op string",
    )
    store.merge(ch, "nest", ["k"], partition_cols=["day", "hr"], op_col="op")
    assert {r.k for r in store.read("nest").collect()} == {3}
    # both leaves AND the emptied outer dir are gone; d2's tree survives
    assert not (tmp_path / "warehouse" / "nest" / "day=d1").exists()
    assert (tmp_path / "warehouse" / "nest" / "day=d2" / "hr=h1").exists()


def test_merge_batch_missing_partition_column_raises_contract_error(spark, tmp_path):
    """A change batch that lacks one of the table's partition columns must
    fail with a ValueError NAMING the column — not an opaque KeyError from
    schema pinning."""
    import pytest as _pytest

    store = _store(spark, tmp_path)
    store.write(
        spark.createDataFrame([(1, "a", 1.0)], "k long, part string, v double"),
        "mp",
        partition_cols=["part"],
    )
    bad = spark.createDataFrame([(1, 9.0, "U")], "k long, v double, op string")
    with _pytest.raises(ValueError, match="partition column.*part"):
        store.merge(bad, "mp", ["k"], partition_cols=["part"], op_col="op")


def test_morton_zkey_sub_unit_span_keeps_resolution(spark):
    """A dimension spanning less than 1 (ratio columns) must still spread
    across the key space — the span guard only protects hi == lo."""
    from aave_etl_spark.io.table_store import morton_zkey

    df = spark.createDataFrame(
        [(0.0, 0), (0.5e-5, 0), (1e-5, 0)], "x double, y int"
    )
    zs = [
        r.z
        for r in df.select(
            morton_zkey(["x", "y"], [0.0, 0], [1e-5, 0], bits=2).alias("z")
        ).collect()
    ]
    # x scales to 0/1/3 (floor(0.5*3)=1), y constant contributes nothing
    assert zs == [0, 1, 5]


def test_bloom_filter_write_adds_footer_bytes_and_keeps_lookups(spark, tmp_path):
    """bloom_cols must materially grow the file (the serialized filter
    lives between the data and the footer; this pyarrow build exposes no
    offset field, so bytes are the observable), and point lookups stay
    correct through the store."""
    import os

    store = _store(spark, tmp_path)
    df = spark.range(0, 20_000).select(
        F.md5(F.col("id").cast("string")).alias("h"), F.col("id").alias("v")
    ).coalesce(1)
    store.write(df, "plain")
    store.write(df, "bloomed", bloom_cols=["h"], bloom_ndv=20_000)

    def _bytes(table):
        return sum(
            os.path.getsize(f)
            for f in (tmp_path / "warehouse" / table).rglob("*.parquet")
        )

    plain_b, bloom_b = _bytes("plain"), _bytes("bloomed")
    # ndv=20k at the default fpp is a >=10 KiB filter — far above noise
    assert bloom_b > plain_b + 8_192, (plain_b, bloom_b)
    # behavioral: the needle comes back identical through the store read
    needle = df.limit(1).collect()[0]
    got = store.read("bloomed", where=f"h = '{needle.h}'").collect()
    assert [(r.h, r.v) for r in got] == [(needle.h, needle.v)]
    # READ-side proof the filter actually skips: probing an ABSENT value
    # lexically inside the hash range (min/max stats can't prune random
    # md5 strings) decodes ZERO rows through the bloomed table's scan,
    # while the plain table decodes every row of every row group — the
    # same certified-from-the-metrics standard as the zorder/clustered
    # scans (numOutputRows of the scan leaf = rows the reader decoded
    # after row-group-level filtering)
    absent = "h = '7fffffffffffffffffffffffffffffff'"
    assert store.read("plain", where=absent).count() == 0  # truly absent

    def _scan_rows(table, where):
        q = store.read(table, where=where)
        q.collect()
        leaves = q._jdf.queryExecution().executedPlan().collectLeaves()
        tot = 0
        for i in range(leaves.size()):
            m = leaves.apply(i).metrics()
            if m.contains("numOutputRows"):
                tot += m.apply("numOutputRows").value()
        return tot

    assert _scan_rows("bloomed", absent) == 0
    assert _scan_rows("plain", absent) == 20_000


def test_snapshot_time_travel_and_restore(spark, tmp_path):
    """Hardlink snapshots: overwrites don't disturb kept versions, any
    version reads back exactly, restore rolls the live table back (and
    itself snapshots first, never losing the pre-restore state)."""
    store = _store(spark, tmp_path)
    v1 = spark.createDataFrame([(1, "a")], "k long, v string")
    v2 = spark.createDataFrame([(1, "b"), (2, "c")], "k long, v string")
    store.write(v1, "tt")
    s1 = store.snapshot("tt")
    store.write(v2, "tt")  # full overwrite of the live table
    assert {(r.k, r.v) for r in store.read("tt").collect()} == {(1, "b"), (2, "c")}
    assert {(r.k, r.v) for r in store.read_snapshot("tt", s1).collect()} == {(1, "a")}
    store.restore_snapshot("tt", s1)
    assert {(r.k, r.v) for r in store.read("tt").collect()} == {(1, "a")}
    # the pre-restore state was snapshotted by the restore itself
    snaps = store.snapshots("tt")
    assert s1 in snaps and len(snaps) == 2
    latest = store.read_snapshot("tt", snaps[-1])
    assert {(r.k, r.v) for r in latest.collect()} == {(1, "b"), (2, "c")}
    # prune: keep=1 retains only the newest
    store.snapshot("tt", keep=1)
    assert len(store.snapshots("tt")) == 1
    with pytest.raises(ValueError, match="no snapshot"):
        store.read_snapshot("tt", s1)


def test_scd2_cdc_snapshot_share_one_lineage(spark, tmp_path):
    """The warehouse story in one test: a change log drives CDC merges
    into a live keyed table; the SAME log builds the SCD2 dimension; a
    snapshot taken between batches proves time travel. Invariants —
    scd2_as_of(t) over the dimension == the merged table's state at t ==
    the hardlink snapshot taken at t, on (key, attrs)."""
    from datetime import datetime

    from aave_etl_spark.operators.scd import scd2_as_of, scd2_snapshot

    store = _store(spark, tmp_path)
    schema = "k long, attr string, v double, ts timestamp"
    T = lambda d: datetime(2024, 1, d)  # noqa: E731
    batch1 = [(1, "A", 10.0, T(1)), (2, "B", 20.0, T(1))]
    # batch2 carries a real change (k=1), an insert (k=3), and a NO-OP
    # re-delivery (k=2) — the merge overwrites it, the SCD2 collapses it
    batch2 = [(1, "A", 11.0, T(2)), (3, "C", 30.0, T(2)), (2, "B", 20.0, T(2))]
    batch3 = [(2, "B2", 21.0, T(3)), (1, "A", 11.0, T(3))]  # change + no-op

    store.merge(spark.createDataFrame(batch1, schema), "dim_live", ["k"])
    store.merge(spark.createDataFrame(batch2, schema), "dim_live", ["k"])
    snap = store.snapshot("dim_live")  # the state as of day 2
    store.merge(spark.createDataFrame(batch3, schema), "dim_live", ["k"])

    log = spark.createDataFrame(batch1 + batch2 + batch3, schema)
    dim = scd2_snapshot(log, ["k"], ["attr", "v"], ts_col="ts")

    def state(df):
        return {(r.k, r.attr, r.v) for r in df.select("k", "attr", "v").collect()}

    day2 = {(1, "A", 11.0), (2, "B", 20.0), (3, "C", 30.0)}
    day3 = {(1, "A", 11.0), (2, "B2", 21.0), (3, "C", 30.0)}
    # as-of == merged state at that time == the snapshot, all three ways
    assert state(scd2_as_of(dim, datetime(2024, 1, 2, 12))) == day2
    assert state(store.read_snapshot("dim_live", snap)) == day2
    assert state(store.read("dim_live")) == day3
    assert state(scd2_as_of(dim, datetime(2024, 1, 3, 12))) == day3
    assert state(dim.filter("is_current")) == day3
    # the no-ops collapsed: k=2 has exactly two versions (B then B2), and
    # k=1's current version is still effective from day 2 (not the day-3
    # re-delivery)
    assert dim.filter("k = 2").count() == 2
    cur1 = dim.filter("k = 1 AND is_current").collect()
    assert len(cur1) == 1 and cur1[0].effective_from == T(2)


def test_sketch_tables_store_once_roll_up_anywhere(spark, tmp_path):
    """The store-once/roll-anywhere warehouse story across all three
    mergeable sketches: per-day KMV (distinct), row-sample (quantiles),
    and heavy-hitters summaries written through the TableStore, read back,
    and rolled up — each equal to (or bounding) the direct computation
    over the concatenated days, without re-reading the raw rows."""
    from aave_etl_spark.operators.sketch import (
        kmv_merge_estimate,
        kmv_sketch_by_group,
        rowsample_merge_quantiles,
        rowsample_sketch_by_group,
        topk_merge,
        topk_sketch_by_group,
    )

    store = _store(spark, tmp_path)
    rows = [
        (d * 10_000 + i, d, f"u{(d * 37 + i) % 500}", float((i * 13) % 997))
        for d in range(10)
        for i in range(800)
    ]
    raw = spark.createDataFrame(rows, "rid long, day int, uid string, v double")

    store.write(kmv_sketch_by_group(raw, ["day"], "uid", k=64), "kmv_day")
    store.write(
        rowsample_sketch_by_group(raw, ["day"], "rid", "v", k=64), "rsq_day"
    )
    store.write(topk_sketch_by_group(raw, ["day"], "uid", m=32), "hh_day")

    # KMV rollup from stored states == direct sketch of all days
    tot = raw.withColumn("g", F.lit("all"))
    merged_kmv = (
        kmv_merge_estimate(
            store.read("kmv_day").withColumn("g", F.lit("all")), ["g"], k=64
        )
        .collect()[0]
        .est_distinct
    )
    direct_kmv = (
        kmv_merge_estimate(kmv_sketch_by_group(tot, ["g"], "uid", k=64), ["g"], k=64)
        .collect()[0]
        .est_distinct
    )
    assert merged_kmv == direct_kmv
    # row-sample quantiles from stored states == direct sketch quantiles
    merged_q = sorted(
        map(
            tuple,
            rowsample_merge_quantiles(
                store.read("rsq_day").withColumn("g", F.lit("all")), ["g"], k=64
            ).collect(),
        )
    )
    direct_q = sorted(
        map(
            tuple,
            rowsample_merge_quantiles(
                rowsample_sketch_by_group(tot, ["g"], "rid", "v", k=64), ["g"], k=64
            ).collect(),
        )
    )
    assert merged_q == direct_q
    # heavy hitters: stored rollup bounds contain the true counts
    truth = {r.uid: r.c for r in raw.groupBy("uid").agg(F.count("*").alias("c")).collect()}
    hh = topk_merge(
        store.read("hh_day").withColumn("g", F.lit("all")), ["g"], k=10
    ).collect()
    assert len(hh) == 10
    for r in hh:
        assert r.count_lb <= truth[r.value] <= r.count_ub


def test_snapshot_restore_prune_never_drops_restore_target(spark, tmp_path):
    """The bookkeeping snapshot inside restore must not prune the target:
    restoring the OLDEST of >3 snapshots still works."""
    store = _store(spark, tmp_path)
    ids = []
    for i in range(4):
        store.write(
            spark.createDataFrame([(i,)], "k long"), "pp"
        )
        ids.append(store.snapshot("pp", keep=10))
    oldest = ids[0]
    store.restore_snapshot("pp", oldest)
    assert [r.k for r in store.read("pp").collect()] == [0]
