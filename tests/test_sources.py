"""Source and lake-layout tests: each format Spark reads natively
round-trips the nation table with identical rows, collection read-back
closes the loader loop, and partitioned, range-sorted and Z-ordered
parquet layouts let scans skip data."""

import pytest

from arangodb_java_parquet_spark.sources import LocalCollection, ParquetLoader
from arangodb_java_parquet_spark.sources.readers import read_collection


@pytest.fixture(scope="module")
def nation(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/nation.parquet")


def rows_of(df):
    return sorted(tuple(r) for r in
                  df.select("n_nationkey", "n_name", "n_regionkey").collect())


def test_orc_roundtrip(spark, nation, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("orc") / "nation_orc")
    nation.write.orc(out)
    assert rows_of(spark.read.orc(out)) == rows_of(nation)


def test_csv_roundtrip_with_schema(spark, nation, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("csv") / "nation_csv")
    nation.write.option("header", "true").csv(out)
    got = (spark.read.schema(nation.schema).option("header", "true")
           .csv(out))
    assert rows_of(got) == rows_of(nation)


def test_json_roundtrip(spark, nation, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("json") / "nation_json")
    nation.write.json(out)
    got = spark.read.schema(nation.schema).json(out)
    assert rows_of(got) == rows_of(nation)


def test_collection_readback(spark, sf_dir, nation, tmp_path):
    col = LocalCollection(str(tmp_path), "nations")
    ParquetLoader(spark).load(f"{sf_dir}/nation.parquet", col, overwrite=True)
    got = read_collection(spark, col, schema=nation.schema)
    assert rows_of(got) == rows_of(nation)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Partitioned lake write + partition-pruned read: the filter on the
    partition column appears as PartitionFilters and non-matching
    directories are never listed into the scan."""
    import os
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.plans import formatted_plan

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").parquet(out)
    assert sorted(d for d in os.listdir(out)
                  if d.startswith("o_orderstatus=")) == [
        "o_orderstatus=F", "o_orderstatus=O", "o_orderstatus=P"]

    pruned = (spark.read.parquet(out)
              .filter(F.col("o_orderstatus") == "O"))
    p = formatted_plan(pruned)
    assert "PartitionFilters" in p and "o_orderstatus" in p
    expected = orders.filter(F.col("o_orderstatus") == "O").count()
    assert pruned.count() == expected


def test_compact_collection(spark, sf_dir, nation, tmp_path):
    col = LocalCollection(str(tmp_path), "nations")
    # small batches -> many part files, the small-files problem
    ParquetLoader(spark).load(f"{sf_dir}/nation.parquet", col,
                              overwrite=True, batch_size=3)
    assert len(col._part_files()) > 1
    out = str(tmp_path / "compacted")
    (read_collection(spark, col, schema=nation.schema).coalesce(1)
     .write.parquet(out))
    got = spark.read.parquet(out)
    assert rows_of(got) == rows_of(nation)
    import glob
    assert len(glob.glob(f"{out}/part-*.parquet")) == 1


def test_binary_file_source(spark, tmp_path):
    """binaryFile source: one row per file with content bytes; glob filter
    prunes at the listing."""
    (tmp_path / "a.jpg").write_bytes(b"\xff\xd8jpegdata")
    (tmp_path / "b.jpg").write_bytes(b"\xff\xd8more")
    (tmp_path / "c.txt").write_bytes(b"not an image")
    all_rows = spark.read.format("binaryFile").load(str(tmp_path)).collect()
    assert len(all_rows) == 3
    jpgs = (spark.read.format("binaryFile").option("pathGlobFilter", "*.jpg")
            .load(str(tmp_path)))
    got = {r["path"].rsplit("/", 1)[-1]: bytes(r["content"])
           for r in jpgs.collect()}
    assert got == {"a.jpg": b"\xff\xd8jpegdata", "b.jpg": b"\xff\xd8more"}
    assert all(r["length"] == len(bytes(r["content"]))
               for r in jpgs.collect())


def test_write_sorted_produces_disjoint_file_ranges(spark, sf_dir, tmp_path):
    """A range-partitioned, in-file-sorted write: each parquet file covers
    a disjoint slice of the sort key (checked via parquet footer min/max stats) — the layout row-group
    skipping depends on."""
    import glob as globmod

    import pyarrow.parquet as pq

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet") \
        .select("l_orderkey", "l_shipdate", "l_quantity")
    out = str(tmp_path / "sorted_lake")
    (li.repartitionByRange(4, li["l_shipdate"])
     .sortWithinPartitions("l_shipdate").write.parquet(out))
    ranges = []
    for f in globmod.glob(f"{out}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = [md.schema.column(i).name
               for i in range(md.num_columns)].index("l_shipdate")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 3
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo  # disjoint (boundary value may touch)
    # and the sorted lake round-trips completely
    assert spark.read.parquet(out).count() == li.count()


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A partitioned fact joined to a filtered dim must prune partitions at
    RUNTIME (dynamicpruning in the scan) — the mechanism that keeps
    star-schema joins from scanning the full 100 TB fact."""
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.plans import formatted_plan
    o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
    fact_path = str(tmp_path / "orders_by_priority")
    o.write.partitionBy("o_orderpriority").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = (spark.createDataFrame(
        [("1-URGENT", "urgent"), ("2-HIGH", "high"), ("3-MEDIUM", "med"),
         ("4-NOT SPECIFIED", "none"), ("5-LOW", "low")],
        ["o_orderpriority", "tag"])
        .filter(F.col("tag") == "urgent"))
    joined = fact.join(dim, "o_orderpriority")
    plan = formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    assert joined.count() > 0


def test_zorder_key_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.sources.readers import zorder_key
    df = spark.createDataFrame(
        [(1, 0), (0, 1), (3, 3), (5, 2), (1023, 1023)], ["x", "y"])
    got = {(r["x"], r["y"]): r["z"] for r in df.select(
        "x", "y", zorder_key([F.col("x"), F.col("y")], 10).alias("z"))
        .collect()}

    def ref(x, y):
        z = 0
        for i in range(10):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == ref(x, y), (x, y)
    assert got[(1, 0)] == 1 and got[(0, 1)] == 2 and got[(3, 3)] == 15


def test_write_zordered_skips_on_both_dims(spark, sf_dir, tmp_path):
    """Z-ordered layout (range-partition and sort on zorder_key): footer
    min/max on BOTH participating columns must be selective — a point
    predicate on either dimension touches only a strict subset of files
    (the property a single-column sort cannot give for the trailing
    column)."""
    import glob as globmod

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from arangodb_java_parquet_spark.sources.readers import zorder_key
    o = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_custkey") \
        .withColumn("bx", F.col("o_custkey") % 64) \
        .withColumn("by", F.col("o_orderkey") % 64)
    out = str(tmp_path / "zlake")
    zkey = zorder_key([o["bx"], o["by"]], 6)
    (o.withColumn("__zkey", zkey).repartitionByRange(8, "__zkey")
     .sortWithinPartitions("__zkey").drop("__zkey").write.parquet(out))
    stats = {"bx": [], "by": []}
    files = globmod.glob(f"{out}/part-*.parquet")
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        for col in stats:
            idx = names.index(col)
            mins = [md.row_group(rg).column(idx).statistics.min
                    for rg in range(md.num_row_groups)]
            maxs = [md.row_group(rg).column(idx).statistics.max
                    for rg in range(md.num_row_groups)]
            stats[col].append((min(mins), max(maxs)))
    assert len(files) >= 6
    for col in ("bx", "by"):
        # a point lookup at value 0 must be skippable in >= half the files
        touched = sum(1 for lo, hi in stats[col] if lo <= 0 <= hi)
        assert touched <= len(files) // 2, (col, stats[col])
    assert spark.read.parquet(out).count() == o.count()


def test_xml_roundtrip(spark, nation, tmp_path_factory):
    """Native XML source/sink (Spark 4 integrated spark-xml)."""
    out = str(tmp_path_factory.mktemp("xml") / "nation_xml")
    (nation.write.format("xml").option("rowTag", "nation")
     .option("rootTag", "nations").save(out))
    got = (spark.read.format("xml").option("rowTag", "nation")
           .schema(nation.schema).load(out))
    assert rows_of(got) == rows_of(nation)
