"""Storage-layout operators: bucketed co-located joins and partitioned
writes with partition pruning."""

import re

from pyspark.sql import functions as F

from approximatequeryengine_spark.sources.layout import (
    bucketed_join_revenue,
    read_pruned,
    write_partitioned,
)

SF = "/root/testdata/sf0.001"


def test_bucketed_join_has_no_shuffle(spark):
    """Both join sides are bucketed on the key, so the sort-merge join
    must have NO Exchange below it — the only shuffle in the whole plan
    is the tiny post-join aggregation."""
    df = bucketed_join_revenue(spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SortMergeJoin" in plan
    # In the tree section everything printed after the SortMergeJoin
    # line is its subtree: no Exchange (buckets ARE the partitioning)
    # and no Sort (one file per bucket exposes the sortBy order).
    tree = plan.split("\n(1) ")[0]
    subtree = tree.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in subtree, subtree
    assert "Sort" not in subtree, subtree


def test_bucketed_join_matches_plain_join(spark):
    got = {
        r["o_orderpriority"]: (r["revenue"], r["n_lineitems"])
        for r in bucketed_join_revenue(spark, SF).collect()
    }
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    o = spark.read.parquet(f"{SF}/orders.parquet")
    want = {
        r["o_orderpriority"]: (r["revenue"], r["n_lineitems"])
        for r in l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .collect()
    }
    assert got == want and len(got) >= 3


def test_partitioned_write_prunes(spark, tmp_path):
    """A filter on the partition column must prune directories at plan
    time: the scan's partition count is 1 and other values are absent."""
    path = str(tmp_path / "events_by_type")
    events = spark.read.parquet(f"{SF}/events.parquet")
    write_partitioned(events, path, "event_type")
    one = read_pruned(spark, path, "event_type", "click")
    plan = one._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    got = one.count()
    want = events.filter(F.col("event_type") == "click").count()
    assert got == want > 0


def test_clustered_write_skips_row_groups(spark, tmp_path):
    """Range-clustered writes make row-group min/max stats tight: a
    narrow pushed range predicate must leave most row groups entirely
    outside its range (skippable via footer stats), while the same data
    written unclustered overlaps every group."""
    import os

    import pyarrow.parquet as pq

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    cl = str(tmp_path / "cl")
    uncl = str(tmp_path / "uncl")
    from approximatequeryengine_spark.sources.layout import write_clustered

    write_clustered(events, cl, "value")
    events.write.option("parquet.block.size", 64 * 1024).parquet(uncl)

    def overlap(path, lo, hi):
        tot = hit = 0
        vi = None
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            if vi is None:
                names = [md.schema.column(i).name for i in range(md.num_columns)]
                vi = names.index("value")
            for i in range(md.num_row_groups):
                st = md.row_group(i).column(vi).statistics
                tot += 1
                if st is None or not (st.max < lo or st.min >= hi):
                    hit += 1
        return hit, tot

    hit_cl, tot_cl = overlap(cl, 50.0, 51.0)
    hit_un, tot_un = overlap(uncl, 50.0, 51.0)
    assert tot_cl >= 8 and tot_un >= 4, (tot_cl, tot_un)
    assert hit_cl / tot_cl <= 0.25, (hit_cl, tot_cl)
    assert hit_un == tot_un  # unclustered stats span everything

    # Same answers, and the range predicate reaches the scan.
    from pyspark.sql import functions as F

    pred = (F.col("value") >= 50.0) & (F.col("value") < 51.0)
    want = events.filter(pred).count()
    got_df = spark.read.parquet(cl).filter(pred)
    assert got_df.count() == want > 0
    plan = got_df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "GreaterThanOrEqual(value,50.0)" in plan


# ---------------------------------------------------------------------------
# Zone-map data-skipping index (sources/zonemap.py)
# ---------------------------------------------------------------------------


def test_zonemap_answer_matches_plain_filter(spark, engine, tmp_path):
    """Index-once/query-many: two disjoint key ranges through the zone
    map both equal the plain BETWEEN aggregate on the base table."""
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.sources.zonemap import (
        zonemap_range_sum,
        zonemap_write,
    )

    orders = engine.catalog.table("orders")
    path = str(tmp_path / "zm")
    key = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    zonemap_write(spark, orders.select("o_orderdate", "o_totalprice"), path, key, n_zones=32)
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    for lo, hi in ((9862, 10226), (10592, 10956)):
        got = zonemap_range_sum(spark, path, lo, hi, cents).collect()[0]
        want = (
            orders.withColumn("__k", key)
            .filter(F.col("__k").between(lo, hi))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(cents.cast("long")) / 100.0, 2).alias("s"),
            )
            .collect()[0]
        )
        assert got["n_rows"] == want["n"]
        assert got["sum_value"] == want["s"]
        assert got["zones_scanned"] < got["zones_total"]


def test_zonemap_scan_is_partition_pruned(spark, engine, tmp_path):
    """The range scan must reach parquet with PartitionFilters on the
    zone column — directory pruning, not a full scan + filter."""
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.sources.zonemap import (
        zonemap_range_sum,
        zonemap_write,
    )

    orders = engine.catalog.table("orders")
    path = str(tmp_path / "zm")
    zonemap_write(
        spark,
        orders.select("o_orderdate", "o_totalprice"),
        path,
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")),
        n_zones=32,
    )
    df = zonemap_range_sum(
        spark, path, 9862, 10226, F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    )
    got = df.collect()[0]
    assert 0 < got["zones_scanned"] < got["zones_total"]
    # Since round 10 the consult lists the surviving directories
    # directly (pruned zones are never listed), so the evidence is the
    # scan's actual input files rather than a PartitionFilters entry.
    dirs = {f.rsplit("/", 2)[-2] for f in df.inputFiles()}
    assert all(d.startswith("__zone=") for d in dirs)
    assert len(dirs) == got["zones_scanned"]


def test_zonemap_rejects_all_null_keys(spark):
    import pyspark.sql.functions as F
    import pytest as _pytest

    from approximatequeryengine_spark.sources.zonemap import zonemap_write

    df = spark.range(5).select(F.lit(None).cast("long").alias("k"), F.col("id"))
    with _pytest.raises(ValueError):
        zonemap_write(spark, df, "/tmp/zm_nulls", F.col("k"))


def test_zonemap_point_lookup_prunes_to_one_zone(spark, engine, tmp_path):
    """A point lookup (lo == hi) through the zone map touches exactly
    one zone — the B+-tree 'get' analogue."""
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.sources.zonemap import (
        zonemap_range_sum,
        zonemap_write,
    )

    orders = engine.catalog.table("orders")
    path = str(tmp_path / "zm")
    key = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    zonemap_write(spark, orders.select("o_orderdate", "o_totalprice"), path, key, n_zones=32)
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    probe = orders.select(key.alias("k")).first()["k"]
    got = zonemap_range_sum(spark, path, probe, probe, cents).collect()[0]
    want = (
        orders.withColumn("__k", key).filter(F.col("__k") == probe)
        .agg(F.count(F.lit(1))).collect()[0][0]
    )
    assert got["n_rows"] == want and want > 0
    assert got["zones_scanned"] == 1


def test_zonemap_balanced_mode_on_skewed_keys(spark, engine, tmp_path):
    """Quantile-balanced zones: a heavily skewed key (80% of rows in
    2% of the key range) still yields per-zone sizes within ±1 row,
    while fixed-width zones concentrate the mass in a couple of
    directories; query answers are identical either way."""
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.sources.zonemap import (
        zonemap_range_sum,
        zonemap_write,
    )

    n = 5000
    skew = spark.range(n).select(
        F.when(F.col("id") % 5 != 0, (F.col("id") % 100))
        .otherwise(F.col("id"))
        .alias("k"),
        (F.col("id") % 97 * 100).alias("cents"),
    )
    fixed, bal = str(tmp_path / "f"), str(tmp_path / "b")
    zonemap_write(spark, skew, fixed, F.col("k"), n_zones=16)
    zonemap_write(spark, skew, bal, F.col("k"), n_zones=16, balanced=True)

    sizes_b = [
        r["n_rows"] for r in spark.read.parquet(f"{bal}/zonemap").collect()
    ]
    sizes_f = [
        r["n_rows"] for r in spark.read.parquet(f"{fixed}/zonemap").collect()
    ]
    assert max(sizes_b) - min(sizes_b) <= 1
    assert max(sizes_f) > 2 * (n // 16)  # fixed-width concentrates the mass

    for path in (fixed, bal):
        got = zonemap_range_sum(spark, path, 10, 60, F.col("cents")).collect()[0]
        want = skew.filter(F.col("k").between(10, 60)).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("cents") / 100.0, 2).alias("s"),
        ).collect()[0]
        assert got["n_rows"] == want["n"]
        assert got["sum_value"] == want["s"]


# --- block bloom-filter skip index (sources/blockbloom.py) -----------------


def _bloom_fixture(spark, engine, tmp_path):
    from approximatequeryengine_spark.sources.blockbloom import blockbloom_write

    orders = engine.catalog.table("orders")
    path = str(tmp_path / "bb")
    blockbloom_write(
        spark,
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        path,
        ingest_key=F.col("o_orderkey"),
        lookup_key=F.col("o_custkey"),
        value_cents=F.floor(F.col("o_totalprice") * 100.0 + 0.5),
    )
    return orders, path


def test_blockbloom_python_mirror_matches_spark_hash(spark):
    """probe_masks derives the driver-side probe words from
    ``avalanche_np``; they must be the words and bits the build sets
    from the Spark column (``with_avalanche_h`` and the exact
    ``(h·m) div 2³²`` bit index). The hash forms themselves are pinned
    in tests/test_hashing.py."""
    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        with_avalanche_h,
    )
    from approximatequeryengine_spark.sources.blockbloom import K_PROBES, probe_masks

    keys = [0, 1, 42, 999, 123_456_789, 2**40 + 7]
    df = spark.createDataFrame(
        [(k, s) for k in keys for s in range(K_PROBES)], "k long, salt long"
    )
    hashed = with_avalanche_h(df, F.col("k"), F.col("salt"))
    for m_bits in (4096, 1 << 20):
        bit = F.expr(f"CAST((__h * {m_bits}) div {HASH_SPACE} AS BIGINT)")
        want: dict = {}
        for r in hashed.select("k", bit.alias("bit")).collect():
            w = want.setdefault(r["k"], {})
            w[r["bit"] // 32] = w.get(r["bit"] // 32, 0) | (1 << (r["bit"] % 32))
        for k in keys:
            assert probe_masks(k, m_bits) == want[k], (k, m_bits)


def test_blockbloom_exact_answer_no_false_negatives(spark, engine, tmp_path):
    """For several lookup keys the indexed aggregate equals the plain
    filter aggregate — blooms admit false positives but NEVER false
    negatives, so the answer over surviving blocks is exact."""
    from approximatequeryengine_spark.sources.blockbloom import blockbloom_point_sum

    orders, path = _bloom_fixture(spark, engine, tmp_path)
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    scanned = []
    for key in (7, 42, 99, 101):
        got = blockbloom_point_sum(spark, path, key).collect()[0]
        want = (
            orders.filter(F.col("o_custkey") == key)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(cents.cast("long")) / 100.0, 2).alias("s"),
            )
            .collect()[0]
        )
        assert got["n_rows"] == want["n"], key
        assert got["sum_value"] == want["s"], key
        scanned.append((got["blocks_scanned"], got["blocks_total"]))
    # sf0.001 has only ~6 blocks and a frequent key can legitimately
    # live in all of them; pruning must show on at least one key.
    assert any(s < t for s, t in scanned), scanned


def test_blockbloom_all_null_lookup_block_matches_oracle(spark, tmp_path):
    """A block whose lookup keys are ALL NULL contributes no bloom
    rows on the Spark side (_probe_rows filters NULL), so the oracle
    must exclude it from blocks_total too — the cross-engine edge the
    r5 advisor flagged (NULLs hash to NULL words in SQL and previously
    survived the oracle's count(DISTINCT b))."""
    import duckdb

    from approximatequeryengine_spark.sources.blockbloom import (
        blockbloom_point_sum,
        blockbloom_point_sum_sql,
        blockbloom_write,
    )

    rows = [
        (ik, (ik % 50) if ik < 768 else None, ik % 997) for ik in range(1024)
    ]
    df = spark.createDataFrame(rows, "ik long, lk long, cents long")
    path = str(tmp_path / "nullblk")
    blockbloom_write(
        spark, df, path, ingest_key=F.col("ik"), lookup_key=F.col("lk"),
        value_cents=F.col("cents"),
    )
    got = blockbloom_point_sum(spark, path, 7).collect()[0]
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(rows, columns=["ik", "lk", "cents"]))
    want = con.execute(
        blockbloom_point_sum_sql("t", "ik", "lk", "cents", key=7)
    ).fetchone()
    # (n_rows, sum_value, blocks_scanned, blocks_total)
    assert got["n_rows"] == want[0] > 0
    assert got["blocks_scanned"] == want[2]
    # the all-NULL block (ik 768..1023) is in neither engine's total
    assert got["blocks_total"] == want[3] == 3


def test_blockbloom_absent_key_returns_empty(spark, engine, tmp_path):
    from approximatequeryengine_spark.sources.blockbloom import blockbloom_point_sum

    _, path = _bloom_fixture(spark, engine, tmp_path)
    got = blockbloom_point_sum(spark, path, 10**9 + 7).collect()[0]
    assert got["n_rows"] == 0
    assert got["sum_value"] is None
    # An absent key survives only via false positives — with 6 blocks
    # at sf0.001 essentially none, but never the whole table.
    assert got["blocks_scanned"] < got["blocks_total"]


def _data_files_read(monkeypatch) -> list[str]:
    """Every data-table parquet file a probe opens on the driver (the
    pyarrow read of a local index), in call order."""
    import pyarrow.dataset as ds

    seen: list[str] = []
    real = ds.dataset

    def spy(source, *args, **kwargs):
        if isinstance(source, list):
            seen.extend(f for f in source if "/data/" in f)
        return real(source, *args, **kwargs)

    monkeypatch.setattr(ds, "dataset", spy)
    return seen


def test_blockbloom_scan_is_partition_pruned(spark, engine, tmp_path, monkeypatch):
    """The point lookup must touch ONLY the surviving block
    directories — directory pruning, not a full scan + filter. The
    consult lists the surviving directories directly (pruned blocks
    are never even listed), so the evidence is the files the probe's
    driver read actually opens."""
    from approximatequeryengine_spark.sources.blockbloom import blockbloom_point_sum

    _, path = _bloom_fixture(spark, engine, tmp_path)
    files = _data_files_read(monkeypatch)
    got = blockbloom_point_sum(spark, path, 42).collect()[0]
    assert 0 < got["blocks_scanned"] < got["blocks_total"]
    dirs = {f.rsplit("/", 2)[-2] for f in files}
    assert all(d.startswith("__block=") for d in dirs)
    assert len(dirs) == got["blocks_scanned"]


# --- Z-order (Morton) 2-D clustering (sources/zorder.py) -------------------


def test_morton_interleave_matches_python_reference(spark):
    """The portable %-arithmetic Morton expression equals a plain
    Python bit-interleave on both engines' shared SQL text."""
    from approximatequeryengine_spark.sources.zorder import morton_sql

    def py_morton(xq, yq):
        z = 0
        for i in range(16):
            z |= ((xq >> i) & 1) << (2 * i)
            z |= ((yq >> i) & 1) << (2 * i + 1)
        return z

    pairs = [(0, 0), (1, 0), (0, 1), (10, 6), (65535, 65535), (4097, 12345)]
    df = spark.createDataFrame(pairs, "xq long, yq long")
    got = {
        (r["xq"], r["yq"]): r["z"]
        for r in df.selectExpr("xq", "yq", f"{morton_sql('xq', 'yq')} AS z").collect()
    }
    for xq, yq in pairs:
        assert got[(xq, yq)] == py_morton(xq, yq), (xq, yq)


def _zorder_fixture(spark, engine, tmp_path):
    from approximatequeryengine_spark.sources.zorder import zorder_write

    li = engine.catalog.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_shipdate", "l_extendedprice"
    )
    x = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    y = F.col("l_partkey")
    rid = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    path = str(tmp_path / "zo")
    zorder_write(spark, li, path, x=x, y=y, rowid=rid,
                 value_cents=F.floor(F.col("l_extendedprice") * 100.0 + 0.5), n_blocks=32)
    return li, path, x, y, rid


def test_zorder_answer_matches_plain_filter(spark, engine, tmp_path):
    from approximatequeryengine_spark.sources.zorder import zorder_rect_sum

    li, path, x, y, _ = _zorder_fixture(spark, engine, tmp_path)
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
    for (xlo, xhi, ylo, yhi) in ((9100, 11700, 40, 119), (10013, 10104, 0, 99)):
        got = zorder_rect_sum(spark, path, xlo, xhi, ylo, yhi).collect()[0]
        want = (
            li.withColumn("__xx", x)
            .filter(F.col("__xx").between(xlo, xhi) & y.between(ylo, yhi))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(cents.cast("long")) / 100.0, 2).alias("s"),
            )
            .collect()[0]
        )
        assert got["n_rows"] == want["n"]
        assert got["sum_value"] == want["s"]


def test_zorder_prunes_where_time_sorted_layout_cannot(spark, engine, tmp_path):
    """A narrow partkey slice over all time: the x-keyed layout scans
    every block (its y bounds span the domain); the Morton layout
    confines the slice to a strict subset."""
    from approximatequeryengine_spark.sources.zorder import (
        linear_blocks_scanned,
        zorder_rect_sum,
    )

    li, path, x, y, rid = _zorder_fixture(spark, engine, tmp_path)
    got = zorder_rect_sum(spark, path, 9100, 11700, 40, 119).collect()[0]
    lin = linear_blocks_scanned(
        spark, li, x=x, y=y, rowid=rid,
        x_lo=9100, x_hi=11700, y_lo=40, y_hi=119, n_blocks=32,
    ).collect()[0]
    # x spans the whole domain → the x-keyed layout prunes NOTHING
    assert lin["blocks_scanned_linear"] == lin["blocks_total_linear"] > 1
    assert got["blocks_scanned"] < got["blocks_total"] <= 32


def test_zorder_scan_is_partition_pruned(spark, engine, tmp_path, monkeypatch):
    from approximatequeryengine_spark.sources.zorder import zorder_rect_sum

    _, path, _, _, _ = _zorder_fixture(spark, engine, tmp_path)
    files = _data_files_read(monkeypatch)
    got = zorder_rect_sum(spark, path, 9100, 11700, 40, 119).collect()[0]
    assert 0 < got["blocks_scanned"] < got["blocks_total"]
    # Directory-pruned by construction: the consult lists only the
    # surviving block directories (see the blockbloom twin above).
    dirs = {f.rsplit("/", 2)[-2] for f in files}
    assert all(d.startswith("__block=") for d in dirs)
    assert len(dirs) == got["blocks_scanned"]


def test_blockbloom_append_equals_rebuild(spark, engine, tmp_path):
    """Appending a batch must leave the index identical to rebuilding
    over the union under the same layout meta: bit_or IS the bloom
    merge law. Queries for keys in either half answer exactly."""
    from approximatequeryengine_spark.sources.blockbloom import (
        blockbloom_append,
        blockbloom_point_sum,
        blockbloom_write,
    )

    orders = engine.catalog.table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    first = orders.filter(F.col("o_orderkey") % 2 == 0)
    second = orders.filter(F.col("o_orderkey") % 2 == 1)
    inc = str(tmp_path / "inc")
    cents = F.floor(F.col("o_totalprice") * 100.0 + 0.5)
    blockbloom_write(
        spark, first, inc,
        ingest_key=F.col("o_orderkey"), lookup_key=F.col("o_custkey"), value_cents=cents,
    )
    blockbloom_append(
        spark, second, inc,
        ingest_key=F.col("o_orderkey"), lookup_key=F.col("o_custkey"), value_cents=cents,
    )
    # rebuild under the same meta: full table, same (mn, width) because
    # first-half min/max orderkeys bound the full span at sf0.001
    full = str(tmp_path / "full")
    blockbloom_write(
        spark, orders, full,
        ingest_key=F.col("o_orderkey"), lookup_key=F.col("o_custkey"), value_cents=cents,
    )
    bi = {
        (r["__block"], r["word"]): r["bits"]
        for r in spark.read.parquet(f"{inc}/bloom").collect()
    }
    bf = {
        (r["__block"], r["word"]): r["bits"]
        for r in spark.read.parquet(f"{full}/bloom").collect()
    }
    assert bi == bf
    for key in (42, 99):
        got = blockbloom_point_sum(spark, inc, key).collect()[0]
        want = (
            orders.filter(F.col("o_custkey") == key)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum(cents.cast("long")) / 100.0, 2).alias("s"),
            )
            .collect()[0]
        )
        assert got["n_rows"] == want["n"] and got["sum_value"] == want["s"]


def test_zorder_range_layout_same_answers_distributed_build(spark, engine, tmp_path):
    """layout='range' (repartitionByRange — the distributed 100 TB
    build) must answer rectangles identically to the deterministic
    ntile layout and still prune the y-selective rectangle."""
    from approximatequeryengine_spark.sources.zorder import (
        zorder_rect_sum,
        zorder_write,
    )

    li = engine.catalog.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_shipdate", "l_extendedprice"
    )
    x = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    y = F.col("l_partkey")
    rid = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    cents = F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
    paths = {}
    for layout in ("ntile", "range"):
        p = str(tmp_path / layout)
        zorder_write(spark, li, p, x=x, y=y, rowid=rid, value_cents=cents, n_blocks=32,
                     layout=layout)
        paths[layout] = p
    for rect in ((9100, 11700, 40, 119), (10013, 10104, 0, 99)):
        rows = {
            layout: zorder_rect_sum(spark, p, *rect).collect()[0]
            for layout, p in paths.items()
        }
        assert rows["ntile"]["n_rows"] == rows["range"]["n_rows"]
        assert rows["ntile"]["sum_value"] == rows["range"]["sum_value"]
    got = zorder_rect_sum(spark, paths["range"], 9100, 11700, 40, 119).collect()[0]
    assert got["blocks_scanned"] < got["blocks_total"]


def test_zorder_prefix_layout_deterministic_and_shuffle_only(spark, engine, tmp_path):
    """layout='prefix' (the certified default) is expression-only:
    two independent builds must produce byte-identical blockmaps (the
    property the DuckDB oracle relies on to replay blocks_scanned),
    unlike 'range' whose sampled boundaries may differ per run — and
    the block assignment must depend only on the row's own (x, y),
    never on a global order (the r5 single-partition-ntile weak flag)."""
    from approximatequeryengine_spark.sources.zorder import zorder_write

    li = engine.catalog.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_shipdate", "l_extendedprice"
    )
    x = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    y = F.col("l_partkey")
    rid = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    maps = []
    for i, src in enumerate((li, li.repartition(7))):  # different input layouts
        p = str(tmp_path / f"pfx{i}")
        zorder_write(spark, src, p, x=x, y=y, rowid=rid, value_cents=F.col("l_extendedprice"),
                     n_blocks=32, layout="prefix")
        rows = sorted(
            tuple(r) for r in spark.read.parquet(f"{p}/blockmap").collect()
        )
        maps.append(rows)
    assert maps[0] == maps[1]
    assert 1 < len(maps[0]) <= 32


def test_blockbloom_and_zorder_reject_null_keys(spark):
    """NULL blocking/clustering keys have no block — both writers must
    refuse them instead of leaking rows outside the pruning
    arithmetic."""
    import pytest as _pytest

    from approximatequeryengine_spark.sources.blockbloom import blockbloom_write
    from approximatequeryengine_spark.sources.zorder import zorder_write

    df = spark.createDataFrame(
        [(1, 10, 5), (None, 20, 6), (3, 30, 7)], "ik long, lk long, rid long"
    )
    with _pytest.raises(ValueError, match="NULL ingest keys"):
        blockbloom_write(
            spark, df, "/tmp/bb_nulls", ingest_key=F.col("ik"), lookup_key=F.col("lk"),
            value_cents=F.col("rid"),
        )
    with _pytest.raises(ValueError, match="NULL values"):
        zorder_write(
            spark, df, "/tmp/zo_nulls", x=F.col("ik"), y=F.col("lk"), rowid=F.col("rid"),
            value_cents=F.col("rid"),
        )


def test_blockbloom_rejects_overflowing_span(spark):
    """An ingest-key span that would push the filter size past 2^25
    bits (h*m overflow territory) must be refused, not silently
    wrapped."""
    import pytest as _pytest

    from approximatequeryengine_spark.sources.blockbloom import blockbloom_write

    df = spark.createDataFrame([(0, 1), (2**38, 2)], "ik long, lk long")
    with _pytest.raises(ValueError, match="Quantize the ingest key"):
        blockbloom_write(
            spark, df, "/tmp/bb_span", ingest_key=F.col("ik"), lookup_key=F.col("lk"),
            value_cents=F.col("lk"),
        )
