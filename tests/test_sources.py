"""Source coverage: parquet glob, CSV/JSON round-trips with explicit
schemas, catalog views."""

from data_eng_taxi_ibis_dagster_spark.sources.tables import (
    TABLES,
    load_table,
    register_views,
    scan_csv,
    scan_json,
    scan_parquet,
)


def test_parquet_glob_scan(spark, sf_dir):
    df = scan_parquet(spark, f"{sf_dir}/*.parquet".replace("*", "nation"))
    assert df.count() == 25


def test_all_fixture_tables_load(spark, sf_dir):
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        assert df.count() > 0, name
    # events normalization contract
    ev = load_table(spark, sf_dir, "events")
    types = dict(ev.dtypes)
    assert types["ts"] == "timestamp"
    assert types["ts_us"] == "bigint"


def test_events_ts_contract_all_sf_dirs(spark):
    """Loader contract pinned against every generated fixture: whatever
    encoding ``ts`` ships as (int64 nanos, timestamp[us]/ntz, timestamp),
    the loaded frame exposes ``ts: timestamp`` and ``ts_us: bigint`` with
    ``unix_micros(ts) == ts_us``. Fixture drift fails here, in-repo."""
    import os

    from pyspark.sql import functions as F

    root = os.path.dirname(os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1").rstrip("/"))
    sf_dirs = [os.path.join(root, d) for d in sorted(os.listdir(root))
               if d.startswith("sf")]
    assert sf_dirs, root
    for d in sf_dirs:
        ev = load_table(spark, d, "events")
        types = dict(ev.dtypes)
        assert types.get("ts") == "timestamp", (d, types)
        assert types.get("ts_us") == "bigint", (d, types)
        bad = ev.filter(F.unix_micros("ts") != F.col("ts_us")).count()
        assert bad == 0, d


def test_register_views_sql_addressable(spark, sf_dir):
    register_views(spark, sf_dir, ["region", "nation"])
    got = spark.sql("""
        SELECT r.r_name, COUNT(*) AS n FROM nation n
        JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name
    """)
    assert got.count() == 5


def test_csv_round_trip(spark, sf_dir, tmp_path):
    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_csv")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    back = scan_csv(spark, path, schema=nation.schema)
    assert back.count() == 25
    assert back.schema == nation.schema
    assert nation.exceptAll(back).count() == 0


def test_write_clustered_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """Clustered layout ⇒ per-file key ranges are disjoint, the
    precondition for min/max (row-group / file) pruning on range scans."""
    import glob as g

    from data_eng_taxi_ibis_dagster_spark.sources.sinks import write_clustered

    li = load_table(spark, sf_dir, "lineitem")
    path = str(tmp_path / "li_clustered")
    report = write_clustered(li, path, cluster_by="l_orderkey",
                             files_per_partition=4)
    assert report.rows == li.count()
    files = sorted(g.glob(f"{path}/part-*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        pdf = spark.read.parquet(f).agg(
            {"l_orderkey": "min"}).collect()[0][0], \
            spark.read.parquet(f).agg({"l_orderkey": "max"}).collect()[0][0]
        ranges.append(pdf)
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # ranges may touch at a shared boundary key, not overlap


def test_overwrite_partitions_is_incremental(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite replaces only the partitions present
    in the incoming frame — the idempotent-backfill primitive."""
    from pyspark.sql import functions as F

    from data_eng_taxi_ibis_dagster_spark.sources.sinks import (
        export_parquet,
        overwrite_partitions,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    path = str(tmp_path / "orders_by_priority")
    export_parquet(orders, path, partition_by=("o_orderpriority",))
    base = spark.read.parquet(path)
    n_total = base.count()
    one = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    n_one = one.count()
    # re-process one partition with a marker value
    redo = one.withColumn("o_totalprice", F.lit(-1.0))
    report = overwrite_partitions(redo, path, partition_by=("o_orderpriority",))
    assert report.rows == n_one  # rows written, not the table's rows
    after = spark.read.parquet(path)
    assert after.count() == n_total  # siblings untouched
    assert after.filter("o_totalprice = -1.0").count() == n_one
    assert after.filter(
        "o_orderpriority <> '1-URGENT' AND o_totalprice = -1.0").count() == 0


def test_compact_parquet_small_files(spark, sf_dir, tmp_path):
    import glob as g

    from data_eng_taxi_ibis_dagster_spark.sources.sinks import compact_parquet

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts_us")
    path = str(tmp_path / "events_small_files")
    ev.repartition(50).write.parquet(path)
    assert len(g.glob(f"{path}/part-*.parquet")) == 50
    before = spark.read.parquet(path)
    rows_before = before.count()
    total = sum(__import__("os").path.getsize(f)
                for f in g.glob(f"{path}/part-*.parquet"))
    report = compact_parquet(spark, path, target_file_bytes=total // 4)
    files_after = g.glob(f"{path}/part-*.parquet")
    assert 2 <= len(files_after) <= 6
    after = spark.read.parquet(path)
    assert after.count() == rows_before == report.rows
    assert after.exceptAll(ev).count() == 0 and ev.exceptAll(after).count() == 0


def test_json_round_trip(spark, sf_dir, tmp_path):
    cust = load_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_json")
    cust.write.mode("overwrite").json(path)
    back = scan_json(spark, path, schema=cust.schema)
    assert back.count() == cust.count()
    assert cust.exceptAll(back).count() == 0


def test_scan_parquet_merge_schema_evolution(spark, sf_dir, tmp_path):
    """Late files adding a column must surface it table-wide, with NULLs
    for pre-evolution rows."""
    from pyspark.sql import functions as F

    nation = load_table(spark, sf_dir, "nation")
    root = str(tmp_path / "evolving")
    nation.select("n_nationkey", "n_name").write.parquet(f"{root}/batch=0")
    nation.select("n_nationkey", "n_name",
                  F.lit(0.9).alias("quality")).write.parquet(f"{root}/batch=1")
    merged = scan_parquet(spark, f"{root}/batch=*", merge_schema=True)
    assert "quality" in merged.columns
    assert merged.count() == 50
    assert merged.filter("quality IS NULL").count() == 25


def test_profile_one_pass_stats(spark):
    from data_eng_taxi_ibis_dagster_spark.operators.profile import profile
    from data_eng_taxi_ibis_dagster_spark.sources.tables import from_rows

    df = from_rows(
        spark,
        [(1, 2.0, "a"), (2, None, "b"), (3, 4.0, None), (3, 4.0, "b")],
        ["k", "v", "s"],
    )
    got = {r["col_name"]: r for r in profile(df).collect()}
    assert got["k"]["n_rows"] == 4 and got["k"]["n_null"] == 0
    assert got["k"]["n_distinct"] == 3
    assert got["k"]["min_d"] == 1.0 and got["k"]["max_d"] == 3.0
    assert got["v"]["n_null"] == 1 and got["v"]["n_distinct"] == 2
    assert got["s"]["n_null"] == 1 and got["s"]["n_distinct"] == 2
    assert got["s"]["min_d"] is None  # strings stay out of min/max surface


def test_merge_upsert_partitioned(spark, sf_dir, tmp_path):
    """Upsert rewrites only touched partitions: updates replace rows by
    key, inserts append, untouched partitions keep their files."""
    import glob as g

    from pyspark.sql import functions as F

    from data_eng_taxi_ibis_dagster_spark.sources.sinks import (
        export_parquet,
        merge_upsert_partitioned,
    )
    from data_eng_taxi_ibis_dagster_spark.sources.tables import from_rows

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority")
    path = str(tmp_path / "orders_merge")
    export_parquet(orders, path, partition_by=("o_orderpriority",))
    untouched_files = set(
        g.glob(f"{path}/o_orderpriority=3-MEDIUM/part-*.parquet"))
    n_total = orders.count()
    victim = orders.filter("o_orderpriority = '1-URGENT'").first()
    updates = from_rows(
        spark,
        [(victim["o_orderkey"], -7.0, "1-URGENT"),      # update
         (10_000_000, 42.0, "1-URGENT")],               # insert
        ["o_orderkey", "o_totalprice", "o_orderpriority"],
    )
    report = merge_upsert_partitioned(spark, path, updates, key="o_orderkey",
                                      partition_by=("o_orderpriority",))
    after = spark.read.parquet(path)
    assert after.count() == n_total + 1
    # rows written = the rewritten partition, not the whole table
    assert report.rows == after.filter("o_orderpriority = '1-URGENT'").count()
    noop = merge_upsert_partitioned(spark, path, updates.limit(0),
                                    key="o_orderkey",
                                    partition_by=("o_orderpriority",))
    assert noop.rows == 0
    assert after.filter(
        F.col("o_orderkey") == victim["o_orderkey"]
    ).select("o_totalprice").first()[0] == -7.0
    assert after.filter("o_orderkey = 10000000").count() == 1
    # untouched partition's files were not rewritten
    assert set(g.glob(f"{path}/o_orderpriority=3-MEDIUM/part-*.parquet")) \
        == untouched_files


def test_orc_round_trip(spark, sf_dir, tmp_path):
    from data_eng_taxi_ibis_dagster_spark.sources.sinks import export_orc
    from data_eng_taxi_ibis_dagster_spark.sources.tables import scan_orc

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_orc")
    nbytes = export_orc(nation, path)
    assert nbytes > 0
    back = scan_orc(spark, path)
    assert back.schema == nation.schema
    assert nation.exceptAll(back).count() == 0


def test_csv_export_sink(spark, sf_dir, tmp_path):
    from data_eng_taxi_ibis_dagster_spark.sources.sinks import export_csv

    region = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_csv")
    nbytes = export_csv(region, path)
    assert nbytes > 0
    back = scan_csv(spark, path, schema=region.schema)
    assert region.exceptAll(back).count() == 0


def test_text_source_line_and_wholefile(spark, tmp_path):
    from data_eng_taxi_ibis_dagster_spark.sources.tables import scan_text

    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.txt").write_text("alpha\nbeta\n")
    (p / "b.txt").write_text("gamma\n")
    lines = scan_text(spark, str(p))
    assert lines.columns == ["value"]
    assert sorted(r.value for r in lines.collect()) == [
        "alpha", "beta", "gamma"]
    whole = scan_text(spark, str(p), whole_file=True)
    texts = sorted(r.value for r in whole.collect())
    assert texts == ["alpha\nbeta\n", "gamma\n"]


def test_binary_source_with_glob(spark, tmp_path):
    from data_eng_taxi_ibis_dagster_spark.sources.tables import scan_binary

    p = tmp_path / "blobs"
    p.mkdir()
    (p / "x.bin").write_bytes(b"\x00\x01\x02")
    (p / "y.txt").write_bytes(b"nope")
    df = scan_binary(spark, str(p), glob="*.bin")
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].length == 3
    assert bytes(rows[0].content) == b"\x00\x01\x02"
    assert set(df.columns) == {"path", "modificationTime", "length",
                               "content"}


def test_python_datasource_partition_planning(spark):
    """Spark 4 Python DataSource API connector: the reader splits into
    the requested number of InputPartitions (one Python read task
    each), rows are exhaustive/deterministic, and the schema is typed."""
    from data_eng_taxi_ibis_dagster_spark.sources import pysource

    pysource.register(spark)
    df = (spark.read.format("synthetic_telemetry")
          .option("rows", 1000).option("partitions", 4).load())
    assert df.schema.simpleString() == \
        "struct<row_id:bigint,device:bigint,metric:double,day:int>"
    assert df.rdd.getNumPartitions() == 4
    pdf = df.toPandas().sort_values("row_id").reset_index(drop=True)
    assert list(pdf["row_id"]) == list(range(1000))
    assert (pdf["device"] == pdf["row_id"] % 97).all()
    assert (pdf["day"] == pdf["row_id"] % 30).all()
    again = (spark.read.format("synthetic_telemetry")
             .option("rows", 1000).option("partitions", 4).load().toPandas()
             .sort_values("row_id").reset_index(drop=True))
    assert pdf.equals(again)


def test_python_datasource_pickles_by_value(spark, tmp_path):
    """Spark's Python workers rebuild the source from its pickle without
    importing the package, so a driver that finds the package only
    through ``sys.path`` can still read from it."""
    import subprocess
    import sys

    from pyspark import cloudpickle

    from data_eng_taxi_ibis_dagster_spark.sources import pysource

    pysource.register(spark)
    # -I: no PYTHONPATH and no working-directory entry on sys.path.
    out = subprocess.run(
        [sys.executable, "-I", "-c",
         "import pickle, sys; print(pickle.loads(sys.stdin.buffer.read()).name())"],
        input=cloudpickle.dumps(pysource.SyntheticTelemetrySource),
        cwd=tmp_path, capture_output=True, timeout=120)
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    assert out.stdout.decode().strip() == "synthetic_telemetry"


def test_iceberg_sinks_gated_or_roundtrip(spark, sf_dir, tmp_path):
    """Iceberg sinks activate only with the runtime jar on the
    classpath; without it the probe must be False and the entry points
    must raise the configuration error (never a Py4J stack) — the same
    gating discipline as the Spark-4 stateful twin. With a jar +
    catalog configured, the same test body round-trips a CTAS."""
    import pytest

    from data_eng_taxi_ibis_dagster_spark.sources import iceberg

    nation = load_table(spark, sf_dir, "nation")
    if not iceberg.iceberg_available(spark):
        with pytest.raises(RuntimeError, match="Iceberg runtime jar"):
            iceberg.write_table(nation, "local.db.nation_ice")
        with pytest.raises(RuntimeError, match="Iceberg runtime jar"):
            iceberg.merge_upsert(spark, "local.db.nation_ice",
                                 nation, "n_nationkey")
        return
    iceberg.write_table(nation, "local.db.nation_ice")
    got = spark.table("local.db.nation_ice")
    assert got.count() == nation.count()
