"""CSV/JSON ingest tests: Json2Spark-typed reads, permissive corrupt-row
quarantine, strict failfast."""

from __future__ import annotations

import pytest

from dask_felleskomponenter_spark.sources.files import CORRUPT_COL, read_csv, read_json

DOC_SCHEMA = {
    "type": "object",
    "required": ["id"],
    "properties": {
        "id": {"type": "integer"},
        "name": {"type": "string"},
        "score": {"type": "number"},
    },
}


@pytest.fixture()
def csv_file(tmp_path):
    p = tmp_path / "d.csv"
    p.write_text("id,name,score\n1,alpha,0.5\n2,beta,0.25\nnot-an-int,gamma,x\n")
    return str(p)


@pytest.fixture()
def json_file(tmp_path):
    p = tmp_path / "d.jsonl"
    p.write_text('{"id": 1, "name": "alpha", "score": 0.5}\n{"id": "oops"}\n')
    return str(p)


def test_csv_json_schema_typing(spark, csv_file):
    df = read_csv(spark, csv_file, DOC_SCHEMA)
    types = dict(df.dtypes)
    assert types["id"] == "bigint" and types["score"] == "double"
    good = df.filter(df[CORRUPT_COL].isNull()).collect()
    assert {(r["id"], r["name"]) for r in good} == {(1, "alpha"), (2, "beta")}


def test_csv_corrupt_quarantine(spark, csv_file):
    df = read_csv(spark, csv_file, DOC_SCHEMA)
    bad = df.filter(df[CORRUPT_COL].isNotNull()).collect()
    assert len(bad) == 1 and "not-an-int" in bad[0][CORRUPT_COL]


def test_csv_strict_raises(spark, csv_file):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((Py4JJavaError, PySparkException)):
        read_csv(spark, csv_file, DOC_SCHEMA, strict=True).collect()


def test_json_lines(spark, json_file):
    # cache: Spark disallows queries over raw JSON that reference only
    # the internal corrupt-record column (SPARK-21610)
    df = read_json(spark, json_file, DOC_SCHEMA).cache()
    good = df.filter(df[CORRUPT_COL].isNull()).collect()
    assert [(r["id"], r["name"], r["score"]) for r in good] == [(1, "alpha", 0.5)]
    assert df.filter(df[CORRUPT_COL].isNotNull()).count() == 1


def test_read_jdbc_partitioned_options():
    """read_jdbc (S5 read twin) builds a partition-parallel JDBC scan;
    option-level test mirroring test_sync's no-database style."""
    from unittest.mock import MagicMock

    from dask_felleskomponenter_spark.sources.files import read_jdbc

    spark = MagicMock()
    reader = spark.read.format.return_value
    reader.option.return_value = reader

    df = read_jdbc(
        spark,
        "jdbc:postgresql://h:5432/db",
        "public.tbl",
        partition_column="id",
        lower_bound=0,
        upper_bound=100_000,
        num_partitions=16,
        fetchsize="5000",
    )
    spark.read.format.assert_called_once_with("jdbc")
    opts = dict(c.args for c in reader.option.call_args_list)
    assert opts["url"] == "jdbc:postgresql://h:5432/db"
    assert opts["dbtable"] == "public.tbl"
    assert opts["partitionColumn"] == "id"
    assert opts["lowerBound"] == "0"
    assert opts["upperBound"] == "100000"
    assert opts["numPartitions"] == "16"
    assert opts["fetchsize"] == "5000"
    reader.load.assert_called_once_with()
    assert df is reader.load.return_value


def test_read_jdbc_partition_column_requires_bounds():
    from unittest.mock import MagicMock

    from dask_felleskomponenter_spark.sources.files import read_jdbc

    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(MagicMock(), "jdbc:x", "t", partition_column="id")


def test_sorted_shards_layout(spark, tmp_path):
    # dataloader export contract: files respect the row cap, rows within
    # every file are sorted, and shard ranges do not interleave
    import pyarrow.parquet as pq
    import glob as _glob

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import write_sorted_shards

    df = spark.range(10_000).select(
        F.col("id"), F.xxhash64("id").alias("h")
    )
    path = str(tmp_path / "shards")
    write_sorted_shards(
        df, path, shard_col="id", n_shards=8,
        sort_cols=["id"], max_records_per_file=700,
    )
    files = sorted(_glob.glob(path + "/part-*.parquet"))
    assert len(files) >= 8  # 8 shards, split further by the row cap
    ranges = []
    for f in files:
        t = pq.read_table(f, columns=["id"])
        ids = t.column("id").to_pylist()
        assert len(ids) <= 700
        assert ids == sorted(ids), f"unsorted rows in {f}"
        ranges.append((min(ids), max(ids)))
    # a range-partitioned layout never interleaves across files
    ranges.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2 or hi1 <= lo2, (hi1, lo2)
    back = spark.read.parquet(path)
    assert back.count() == 10_000


def test_zorder_key_interleaves_bits(spark):
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import zorder_key

    df = spark.range(1).select(
        F.lit(0b1010).alias("x"), F.lit(0b0110).alias("y")
    )
    [row] = df.select(zorder_key(["x", "y"], bits=4).alias("z")).collect()
    # interleave x=1010, y=0110 (x gets even bit positions, y odd):
    expected = 0
    for i in range(4):
        expected |= ((0b1010 >> i) & 1) << (2 * i)
        expected |= ((0b0110 >> i) & 1) << (2 * i + 1)
    assert row.z == expected


def test_zorder_layout_prunes_better_than_linear(spark, tmp_path):
    # a y-axis predicate must overlap fewer files in the z-ordered
    # layout than in an x-sorted one — the whole point of the layout
    import glob as _glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import write_zordered

    pts = spark.range(20_000).select(
        ((F.col("id") * 48271) % 256).alias("x"),
        ((F.col("id") * 16807) % 256).alias("y"),
    )
    zpath, lpath = str(tmp_path / "zord"), str(tmp_path / "linear")
    write_zordered(pts, zpath, ["x", "y"], n_files=16, bits=8)
    (
        pts.repartitionByRange(16, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lpath)
    )

    def overlapping_files(path, lo, hi):
        n = 0
        for f in _glob.glob(path + "/part-*.parquet"):
            md = pq.read_metadata(f)
            y_idx = md.schema.names.index("y")
            fmin = min(
                md.row_group(g).column(y_idx).statistics.min
                for g in range(md.num_row_groups)
            )
            fmax = max(
                md.row_group(g).column(y_idx).statistics.max
                for g in range(md.num_row_groups)
            )
            if fmax >= lo and fmin <= hi:
                n += 1
        return n

    z_touch = overlapping_files(zpath, 0, 31)
    l_touch = overlapping_files(lpath, 0, 31)
    assert z_touch < l_touch, (z_touch, l_touch)
    # both layouts hold the same rows
    assert spark.read.parquet(zpath).count() == 20_000


def test_compact_parquet_shrinks_file_count_preserving_rows(spark, tmp_path):
    import glob as _glob

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import compact_parquet

    path = str(tmp_path / "many")
    spark.range(50_000).select(
        "id", F.xxhash64("id").alias("h")
    ).repartition(64).write.parquet(path)
    assert len(_glob.glob(path + "/part-*.parquet")) == 64
    before = spark.read.parquet(path).agg(F.sum("id")).collect()[0][0]
    n = compact_parquet(spark, path, target_file_bytes=512 * 1024)
    files = _glob.glob(path + "/part-*.parquet")
    assert len(files) == n and n < 64
    assert spark.read.parquet(path).agg(F.sum("id")).collect()[0][0] == before


def test_compact_parquet_sweeps_orphaned_staging_dirs(spark, tmp_path):
    """A hard-killed run leaves a uuid-suffixed .staging-* sibling (a
    full dataset copy) that no later run would ever reuse; the next
    compaction must sweep it instead of leaking disk forever."""
    import os

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import compact_parquet

    path = str(tmp_path / "t")
    spark.range(1000).select("id", F.xxhash64("id").alias("h")).repartition(
        8
    ).write.parquet(path)
    orphan = f"{path}.staging-deadbeefdeadbeef"
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-junk.parquet"), "wb").write(b"x" * 128)
    # back-date past the stale-age guard; a fresh sibling (potentially a
    # live concurrent compaction's write) must survive
    import time

    stale = time.time() - 7200
    os.utime(orphan, (stale, stale))
    os.utime(os.path.join(orphan, "part-junk.parquet"), (stale, stale))
    fresh = f"{path}.staging-aliveconcurrent"
    os.makedirs(fresh)
    compact_parquet(spark, path, target_file_bytes=1 << 20)
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh), "fresh staging must survive the sweep"
    assert spark.read.parquet(path).count() == 1000


def test_compact_parquet_handles_map_columns(spark, tmp_path):
    """The deterministic spread key hashes data columns, but Spark
    rejects hash expressions over MapType (DATATYPE_MISMATCH.
    HASH_MAP_TYPE) — map columns must be excluded, and an all-map
    dataset must fall back to a constant key instead of failing at
    analysis."""
    import glob as _glob

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import compact_parquet

    path = str(tmp_path / "withmap")
    (
        spark.range(4000)
        .select(
            "id",
            (F.col("id") % 2).alias("day"),
            F.create_map(
                F.lit("k"), F.col("id").cast("string")
            ).alias("attrs"),
        )
        .repartition(16)
        .write.partitionBy("day")
        .parquet(path)
    )
    before = spark.read.parquet(path).count()
    n = compact_parquet(spark, path, target_file_bytes=1 << 20)
    assert n < 32
    assert spark.read.parquet(path).count() == before

    # degenerate: the ONLY data column is a map → F.lit(0) fallback
    path2 = str(tmp_path / "onlymap")
    (
        spark.range(1000)
        .select(
            (F.col("id") % 2).alias("day"),
            F.create_map(
                F.lit("k"), F.col("id").cast("string")
            ).alias("attrs"),
        )
        .repartition(8)
        .write.partitionBy("day")
        .parquet(path2)
    )
    compact_parquet(spark, path2, target_file_bytes=1 << 20)
    assert spark.read.parquet(path2).count() == 1000


def test_staging_liveness_probe_recurses_into_temporary(tmp_path):
    """An in-flight Spark write churns 2+ levels deep under
    staging/_temporary/<job>/_temporary/<task>/...; the immediate
    _temporary child goes mtime-quiet right after job setup, so the
    liveness probe must take max mtime over the WHOLE subtree — or a
    concurrent write running longer than min_age_s gets rmtree'd
    mid-flight (the partially-deleted-swap hazard)."""
    import os
    import time

    from dask_felleskomponenter_spark.ioutil import recover_interrupted_swap

    path = str(tmp_path / "t")
    os.makedirs(path)
    staging = f"{path}.staging-deadbeefcafe"
    deep = os.path.join(staging, "_temporary", "0", "_temporary", "attempt_1")
    os.makedirs(deep)
    task_file = os.path.join(deep, "part-00000.parquet")
    open(task_file, "wb").write(b"x" * 64)
    stale = time.time() - 7200
    for dirpath, _dn, filenames in os.walk(staging):
        os.utime(dirpath, (stale, stale))
        for f in filenames:
            os.utime(os.path.join(dirpath, f), (stale, stale))
    # the running writer just touched only the DEEPEST task file —
    # every directory level above it stays mtime-stale
    os.utime(task_file, None)
    recover_interrupted_swap(path, min_age_s=3600)
    assert os.path.exists(staging), "live deep write must survive the sweep"
    # once the whole subtree is quiet past the age guard, it is reaped
    os.utime(task_file, (stale, stale))
    recover_interrupted_swap(path, min_age_s=3600)
    assert not os.path.exists(staging)


def test_compact_parquet_preserves_hive_partitioning(spark, tmp_path):
    # a key=value layout must come back partitioned: same subdirs, the
    # partition column in directory names (not data files), pruning alive
    import glob as _glob
    import os as _os

    from pyspark.sql import functions as F

    from dask_felleskomponenter_spark.sources.tables import compact_parquet

    path = str(tmp_path / "bydate")
    (
        spark.range(20_000)
        .select(
            "id",
            (F.col("id") % 4).alias("day"),
            F.xxhash64("id").alias("h"),
        )
        .repartition(32)
        .write.partitionBy("day")
        .parquet(path)
    )
    files_before = len(_glob.glob(path + "/day=*/part-*.parquet"))
    before = spark.read.parquet(path).agg(F.sum("id")).collect()[0][0]

    n = compact_parquet(spark, path, target_file_bytes=256 * 1024)

    # layout survived: four day= dirs, fewer files, no flat files on top
    assert sorted(
        d for d in _os.listdir(path) if d.startswith("day=")
    ) == ["day=0", "day=1", "day=2", "day=3"]
    assert not _glob.glob(path + "/part-*.parquet")
    files_after = _glob.glob(path + "/day=*/part-*.parquet")
    assert len(files_after) == n and n < files_before
    after_df = spark.read.parquet(path)
    assert after_df.agg(F.sum("id")).collect()[0][0] == before
    # partition pruning still works on the compacted layout
    plan = after_df.filter(F.col("day") == 2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "day" in plan


def test_load_tables_empty_subset_loads_nothing(spark):
    """An explicit empty names tuple is 'none', not 'all' (falsy-
    container class)."""
    from dask_felleskomponenter_spark.sources.tables import load_tables

    assert load_tables(spark, "/root/testdata/sf0.001", names=()) == {}


def test_zorder_key_rejects_nonpositive_bits(spark):
    """bits<=0 built an empty interleave loop — constant key, one range
    partition, zero clustering, no error."""
    import pytest as _pytest

    from dask_felleskomponenter_spark.sources.tables import zorder_key

    with _pytest.raises(ValueError, match="bits"):
        zorder_key(["a", "b"], bits=0)


def test_path_mutex_bootstraps_missing_parent(tmp_path):
    """Round-8 finding: path_mutex os.open(O_CREAT) died with ENOENT
    when the target's parent directory did not exist yet — yet the
    Spark write it guards would have created the dirs itself."""
    from dask_felleskomponenter_spark.ioutil import path_mutex

    target = tmp_path / "fresh" / "nested" / "summary"
    with path_mutex(str(target)):
        pass  # no ENOENT: first-run bootstrap


def test_recover_interrupted_swap_reaps_leftover_old(tmp_path):
    """Round-8 finding: a crash between the publish rename and the
    final rmtree left a dataset-sized {path}.old that no recovery ever
    removed (one-shot jobs never swap the same path again)."""
    import os

    from dask_felleskomponenter_spark.ioutil import recover_interrupted_swap

    live = tmp_path / "data"
    old = tmp_path / "data.old"
    live.mkdir(); (live / "part-0").write_text("new")
    old.mkdir(); (old / "part-0").write_text("obsolete")
    recover_interrupted_swap(str(live))
    assert live.exists() and (live / "part-0").read_text() == "new"
    assert not old.exists()

    # the restore path still works: live missing, .old present
    os.rename(str(live), str(old))
    recover_interrupted_swap(str(live))
    assert live.exists() and not old.exists()
