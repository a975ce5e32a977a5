"""Hidden partitioning — Iceberg partition-transform parity (round 11).

``set_properties(partition_transform=...)`` makes every writer stage
hive-partitioned by a value DERIVED from a source column (bucket(n) /
truncate(w) / days / months / hours); reads prune dirs AND individual
files by mapping source-column predicates through the transform.  The
derived value lives in dir names only — never a data column (the
Iceberg pitch vs Hive partitioning: users query ``ts``, not an
error-prone ``ts_day`` copy).
"""

from __future__ import annotations

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from datalake_ingestion_system_spark.sinks import TxnLogFormat


def _fmt():
    return TxnLogFormat(checkpoint_interval=None)


def _days_table(spark, tmp_path, n=50):
    """One flat seed row + 49 rows staged under days(ts) hive dirs."""
    path = str(tmp_path / "days_t")
    df = spark.range(n).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).cast("timestamp").alias("ts"))
    fmt = _fmt()
    fmt.append(df.limit(1), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "ts",
                                            "kind": "days"})
    fmt.append(df.filter("id >= 1"), path)
    return fmt, path, df


def _nfiles(df):
    return df.select(F.input_file_name()).distinct().count()


def test_derived_column_never_surfaces_and_results_match(spark, tmp_path):
    fmt, path, df = _days_table(spark, tmp_path)
    got = fmt.read(spark, path)
    assert got.columns == ["id", "ts"]
    assert "__tp" not in got.columns
    assert got.count() == 50
    assert (got.exceptAll(df).count() == 0
            and df.exceptAll(got).count() == 0)


def test_staged_layout_is_hive_partitioned_by_day(spark, tmp_path):
    fmt, path, _ = _days_table(spark, tmp_path)
    import glob
    days = {p.split("/")[-2] for p in
            glob.glob(path + "/_txn_data/*/__tp=*/*.parquet")}
    assert "__tp=2024-01-02" in days and "__tp=2024-02-19" in days
    assert len(days) == 49


def test_days_pruning_is_file_granular(spark, tmp_path):
    """Within ONE commit dir, only the matching day sub-files scan —
    the commit-recorded file paths carry the derived value, so the
    granularity is per file, not per commit."""
    fmt, path, _ = _days_table(spark, tmp_path)
    eq = fmt.read(spark, path, where="ts = '2024-02-10 00:00:00'")
    assert eq.count() == 1
    assert _nfiles(fmt.read(spark, path,
                            where="ts = '2024-02-10 00:00:00'")) == 1
    rng = fmt.read(spark, path, where="ts >= '2024-02-15 00:00:00'")
    assert rng.count() == 5
    assert _nfiles(fmt.read(spark, path,
                            where="ts >= '2024-02-15 00:00:00'")) == 5


def test_dir_level_pruning_skips_non_matching_commits(spark, tmp_path,
                                                      monkeypatch):
    """A whole commit none of whose recorded derived values match is
    never even stat'ed (the isdir probe — same pinning as the r8
    partition-pruning test)."""
    path = str(tmp_path / "m")
    df = spark.range(40).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 20).cast("int"))
        .cast("timestamp").alias("ts"))
    fmt = _fmt()
    fmt.append(df.limit(1), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "ts",
                                            "kind": "days"})
    fmt.append(df.filter("id >= 1 AND id < 20"), path)       # jan 2-20
    fmt.append(df.filter("id >= 20").withColumn(
        "ts", F.date_add(F.lit("2024-03-01").cast("date"),
                         (F.col("id") % 20).cast("int"))
        .cast("timestamp")), path)                            # march
    live = fmt._snapshot(path).live
    march_dir = live[-1]["dir"]
    jan_dir = live[-2]["dir"]
    probed = []
    real_isdir = os.path.isdir
    monkeypatch.setattr(os.path, "isdir",
                        lambda q: probed.append(q) or real_isdir(q))
    got = fmt.read(spark, path, where="ts >= '2024-03-01 00:00:00'")
    n = got.count()
    monkeypatch.undo()
    assert n == 20
    assert not any(jan_dir in p for p in probed), \
        "jan commit dir must be pruned before any isdir probe"
    assert any(march_dir in p for p in probed)


def test_bucket_transform_prunes_equality_and_keeps_ranges(spark,
                                                           tmp_path):
    path = str(tmp_path / "b")
    df = spark.range(64).select(F.col("id"),
                                (F.col("id") * 3).alias("v"))
    fmt = _fmt()
    fmt.append(df.limit(1), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "id",
                                            "kind": "bucket",
                                            "param": 8})
    fmt.append(df.filter("id >= 1"), path)
    got = fmt.read(spark, path, where="id = 42")
    assert got.count() == 1 and got.head().v == 126
    # scan opened exactly the matching bucket's file(s) + the flat seed
    # is stats-pruned; bucket cardinality 8 of 63 rows → 1 file
    assert _nfiles(fmt.read(spark, path, where="id = 42")) == 1
    # spark-side and python-side bucket hashes agree (the portable md5)
    expect = int(hashlib.md5(b"42").hexdigest()[:15], 16) % 8
    row = (spark.range(1).select(
        F.pmod(F.conv(F.substring(F.md5(F.lit("42")), 1, 15), 16, 10)
               .cast("long"), F.lit(8)).alias("b")).head())
    assert row.b == expect
    # a RANGE on a hash bucket must not prune (order destroyed):
    # conservative keep, full correct answer
    assert fmt.read(spark, path, where="id >= 32").count() == 32
    # IN prunes across members
    assert fmt.read(spark, path, where="id IN (5, 9)").count() == 2


def test_truncate_string_and_int_pruning(spark, tmp_path):
    path = str(tmp_path / "tr")
    df = spark.range(40).select(
        F.col("id"),
        F.concat(F.lit("user_"),
                 F.lpad((F.col("id") % 10).cast("string"), 2, "0"))
        .alias("u"))
    fmt = _fmt()
    fmt.append(df.limit(1), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "u",
                                            "kind": "truncate",
                                            "param": 7})
    fmt.append(df.filter("id >= 1"), path)
    assert fmt.read(spark, path, where="u = 'user_07'").count() == 4
    assert _nfiles(fmt.read(spark, path, where="u = 'user_07'")) == 1
    # string-range through the prefix: u >= 'user_08' keeps only the
    # 08/09 prefixes (boundary partition included)
    assert fmt.read(spark, path, where="u >= 'user_08'").count() == 8
    assert _nfiles(fmt.read(spark, path, where="u >= 'user_08'")) == 2
    # integer truncate: floor-to-multiple intervals prune ranges
    path2 = str(tmp_path / "ti")
    d2 = spark.range(100).select(F.col("id"))
    fmt.append(d2.limit(1), path2)
    fmt.set_properties(spark, path2,
                       partition_transform={"source": "id",
                                            "kind": "truncate",
                                            "param": 25})
    fmt.append(d2.filter("id >= 1"), path2)
    assert fmt.read(spark, path2, where="id = 60").count() == 1
    assert _nfiles(fmt.read(spark, path2, where="id = 60")) == 1
    assert fmt.read(spark, path2, where="id >= 75").count() == 25
    assert _nfiles(fmt.read(spark, path2, where="id >= 75")) == 1
    assert fmt.read(spark, path2, where="id < 25").count() == 25


def test_null_source_rows_land_in_null_partition(spark, tmp_path):
    path = str(tmp_path / "n")
    df = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "beta"), (4, None)],
        "id long, s string")
    fmt = _fmt()
    fmt.append(df.limit(1), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "s",
                                            "kind": "truncate",
                                            "param": 2})
    fmt.append(df.filter("id >= 2"), path)
    assert fmt.read(spark, path).count() == 4
    assert fmt.read(spark, path,
                    where="s IS NULL").count() == 2
    assert fmt.read(spark, path,
                    where="s IS NOT NULL").count() == 2
    assert fmt.read(spark, path, where="s = 'beta'").count() == 1
    # null partition never matches an equality — pruned, and the one
    # matching prefix file is the only scan beside it
    assert _nfiles(fmt.read(spark, path, where="s = 'beta'")) == 1


def test_transform_survives_checkpoint_fold(spark, tmp_path):
    path = str(tmp_path / "cp")
    df = spark.range(30).select(
        F.col("id"),
        F.date_add(F.lit("2024-05-01").cast("date"),
                   F.col("id").cast("int")).cast("timestamp").alias("ts"))
    fmt = TxnLogFormat(checkpoint_interval=None)
    fmt.append(df.limit(1), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "ts",
                                            "kind": "days"})
    fmt.append(df.filter("id >= 1 AND id < 15"), path)
    fmt.append(df.filter("id >= 15"), path)
    fmt.checkpoint(path)
    fmt.append(df.limit(0), path)  # force post-checkpoint tail
    assert fmt.read(spark, path).count() == 30
    got = fmt.read(spark, path, where="ts = '2024-05-20 00:00:00'")
    assert got.count() == 1
    assert _nfiles(fmt.read(
        spark, path, where="ts = '2024-05-20 00:00:00'")) == 1


def test_overwrite_table_restages_under_the_transform(spark, tmp_path):
    path = str(tmp_path / "ow")
    df = spark.range(20).select(F.col("id"))
    fmt = _fmt()
    fmt.append(df.limit(1), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "id",
                                            "kind": "bucket",
                                            "param": 4})
    fmt.overwrite_table(df, path)
    assert fmt.read(spark, path).count() == 20
    assert fmt.read(spark, path, where="id = 7").count() == 1
    assert _nfiles(fmt.read(spark, path, where="id = 7")) == 1


def test_property_validation_and_guards(spark, tmp_path):
    path = str(tmp_path / "g")
    fmt = _fmt()
    fmt.append(spark.range(3).select(
        F.col("id"), F.lit("x").alias("s")), path)
    with pytest.raises(ValueError, match="partition_transform"):
        fmt.set_properties(spark, path,
                           partition_transform={"source": "id",
                                                "kind": "bucket"})
    with pytest.raises(ValueError, match="partition_transform"):
        fmt.set_properties(spark, path,
                           partition_transform={"source": "id",
                                                "kind": "days",
                                                "param": 3})
    with pytest.raises(ValueError, match="partition_transform"):
        fmt.set_properties(spark, path,
                           partition_transform={"source": "id",
                                                "kind": "nope"})
    fmt.set_properties(spark, path,
                       partition_transform={"source": "s",
                                            "kind": "truncate",
                                            "param": 1})
    # a write missing the source column fails loudly
    with pytest.raises(ValueError, match="missing"):
        fmt.append(spark.range(1).select(F.col("id")), path)
    # wrong source type for a time transform fails loudly
    fmt.set_properties(spark, path,
                       partition_transform={"source": "id",
                                            "kind": "days"})
    with pytest.raises(ValueError, match="date/timestamp"):
        fmt.append(spark.range(1).select(
            F.col("id"), F.lit("y").alias("s")), path)
    # the reserved staging column is refused
    fmt.set_properties(spark, path,
                       partition_transform={"source": "s",
                                            "kind": "truncate",
                                            "param": 1})
    with pytest.raises(ValueError, match="reserved"):
        fmt.append(spark.range(1).select(
            F.col("id"), F.lit("y").alias("s"),
            F.lit("z").alias("__tp")), path)
    # alter refuses to rename/drop the transform source
    with pytest.raises(ValueError, match="partition_transform"):
        fmt.alter_table(path, rename_columns={"s": "s2"})
    with pytest.raises(ValueError, match="partition_transform"):
        fmt.alter_table(path, drop_columns=["s"])
    # unsetting the property releases writes and the alter
    fmt.set_properties(spark, path, partition_transform=None)
    fmt.alter_table(path, rename_columns={"s": "s2"})
    fmt.append(spark.range(1).select(
        F.col("id"), F.lit("y").alias("s2")), path)
    assert fmt.read(spark, path).count() == 4


def test_stream_where_option_prunes_through_the_transform(spark,
                                                          tmp_path):
    """The centralized pruning tier serves the STREAM planner too: a
    bucket-transformed table streamed with option('where', 'id = 42')
    plans only the matching bucket's files per micro-batch (stats can't
    prune a hash bucket — its min/max is wide by construction)."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource, TxnLogStreamReader)
    from pyspark.sql.types import LongType, StructField, StructType

    path = str(tmp_path / "s")
    fmt = _fmt()
    df = spark.range(64).select(F.col("id"))
    fmt.append(df.limit(0), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "id",
                                            "kind": "bucket",
                                            "param": 8})
    fmt.append(df.filter("id < 32"), path)
    fmt.append(df.filter("id >= 32"), path)
    schema = StructType([StructField("id", LongType())])
    reader = TxnLogStreamReader(schema, {"path": path,
                                         "where": "id = 42"})
    parts = reader.partitions(reader.initialOffset(),
                              reader.latestOffset())
    # 8 buckets x 2 commits staged: only the matching-bucket file of
    # each commit (plus the 0-row flat seed, which stats keep
    # conservatively) may plan
    assert len(parts) <= 3
    import hashlib
    b = int(hashlib.md5(b"42").hexdigest()[:15], 16) % 8
    tp_parts = [p for p in parts if "__tp=" in p.abs_path]
    assert 1 <= len(tp_parts) <= 2
    assert all(f"__tp={b}/" in p.abs_path for p in tp_parts)
    # end-to-end: the stream still delivers the right rows (predicate
    # re-applies; pruning is access-path only)
    spark.dataSource.register(TxnLogDataSource)
    q = (spark.readStream.format("txnlog")
         .option("where", "id = 42").load(path)
         .filter("id = 42")
         .writeStream.format("memory").queryName("tf_stream")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert [r.id for r in spark.sql(
        "SELECT * FROM tf_stream").collect()] == [42]


def test_transform_evolution_each_era_prunes_under_its_spec(
        spark, tmp_path, monkeypatch):
    """PARTITION EVOLUTION (round 12 — Iceberg spec-per-commit parity):
    re-``set_properties(partition_transform=...)`` on a NON-EMPTY
    table; files written under the old spec keep planning/pruning under
    it (each commit records ITS transform), new files under the new
    one.  Dir-level pruning is pinned with isdir probes for BOTH
    eras."""
    path = str(tmp_path / "evo")
    df = spark.range(100).select(F.col("id"), (F.col("id") * 3).alias("v"))
    fmt = _fmt()
    fmt.append(df.limit(1), path)                       # flat seed row
    fmt.set_properties(spark, path,
                       partition_transform={"source": "id",
                                            "kind": "bucket",
                                            "param": 8})
    fmt.append(df.filter("id >= 1 AND id < 50"), path)  # era 1: bucket
    fmt.set_properties(spark, path,
                       partition_transform={"source": "id",
                                            "kind": "truncate",
                                            "param": 10})
    fmt.append(df.filter("id >= 50"), path)             # era 2: truncate
    # correctness across the boundary: full read loses nothing
    got = fmt.read(spark, path)
    assert got.columns == ["id", "v"] and got.count() == 100
    # era-1 point lookup: bucket prunes era-1 files; truncate proves
    # every era-2 dir empty (7 // 10 = 0, no such dir)
    r1 = fmt.read(spark, path, where="id = 7")
    assert r1.count() == 1 and r1.head().v == 21
    assert _nfiles(r1) == 1
    # era-2 point lookup: truncate keeps only dir 70; bucket-era files
    # stay conservatively... no — bucket(8) CAN prune id=73 exactly
    r2 = fmt.read(spark, path, where="id = 73")
    assert r2.count() == 1 and r2.head().v == 219
    assert _nfiles(r2) <= 2
    # RANGE predicate: monotone truncate prunes era-2 dirs; bucket era
    # conservatively keeps (hash destroys order) — answer exact
    assert fmt.read(spark, path, where="id >= 90").count() == 10
    # dir-level probe pinning for both eras: an era-2 lookup must never
    # stat an era-2 dir outside truncate bucket 70, and the pruned
    # era-2 dirs must not be probed on an era-1 lookup
    probed: list[str] = []
    real_isdir = os.path.isdir
    monkeypatch.setattr(os.path, "isdir",
                        lambda q: probed.append(q) or real_isdir(q))
    fmt.read(spark, path, where="id = 73").count()
    # era-1 bucket dirs may be probed only for id=73's own bucket;
    # era-2 dirs only for truncate bucket 70
    import hashlib as _h
    b73 = int(_h.md5(b"73").hexdigest()[:15], 16) % 8
    assert all(p.endswith(f"__tp={b73}") or p.endswith("__tp=70")
               or "__tp=" not in p for p in probed), probed
    # evolution survives a checkpoint fold
    fmt2 = TxnLogFormat(checkpoint_interval=1)
    fmt2.append(df.limit(0), path)   # triggers fold at the head
    r3 = fmt2.read(spark, path, where="id = 7")
    assert r3.count() == 1 and _nfiles(r3) == 1


def test_rewrites_preserve_the_transform_layout(spark, tmp_path):
    """Row-level rewrites keep HIDDEN PARTITIONING (round 12 — Iceberg
    keeps its spec on rewrites): after targeted UPDATE, DELETE, MERGE,
    and a full compact, an equality scan still prunes through the
    transform — previously every rewrite staged flat and pruning
    decayed until the next explicitly-partitioned rewrite."""
    path = str(tmp_path / "rw")
    df = spark.range(64).select(F.col("id"), (F.col("id") * 3).alias("v"))
    fmt = _fmt()
    fmt.append(df.limit(0), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "id",
                                            "kind": "bucket",
                                            "param": 8})
    fmt.append(df, path)
    baseline = _nfiles(fmt.read(spark, path, where="id = 42"))

    def eq_files():
        return _nfiles(fmt.read(spark, path, where="id = 42"))

    fmt.update_where(spark, path, "id = 13", {"v": "999"})
    assert eq_files() <= baseline
    assert fmt._commits(path)[-1].get("transform"), \
        "rewrite record must carry the staging transform"
    fmt.delete_where(spark, path, "id = 20")
    assert eq_files() <= baseline
    src = spark.createDataFrame([(42, 4242, "U"), (99, 1, "U")],
                                "id long, v long, op string")
    fmt.merge(spark, path, src, "id", insert_condition="op <> 'D'")
    assert eq_files() <= baseline
    got = fmt.read(spark, path, where="id = 42")
    assert got.count() == 1 and got.head().v == 4242
    fmt.compact(spark, path)
    assert fmt._commits(path)[-1].get("transform")
    assert eq_files() == 1  # the fold lays each bucket out exactly
    full = fmt.read(spark, path)
    assert full.count() == 64 and "__tp" not in full.columns


def test_compact_cluster_by_composes_with_the_transform(spark, tmp_path):
    """OPTIMIZE ... CLUSTER BY on a transform table keeps the hive
    layout (Iceberg sort-order-within-spec): the fold's record carries
    the transform, equality still prunes through it, and rows are
    exact.  (Per-file stat tightness from the clustering shows at real
    task counts; AQE coalesces this tiny fixture into one task.)"""
    path = str(tmp_path / "cc")
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 97).alias("v"))
    fmt = _fmt()
    fmt.append(df.limit(0), path)
    fmt.set_properties(spark, path,
                       partition_transform={"source": "id",
                                            "kind": "bucket",
                                            "param": 4})
    fmt.append(df, path)
    fmt.compact(spark, path, cluster_by=["v"])
    assert fmt._commits(path)[-1].get("transform")
    eq = fmt.read(spark, path, where="id = 500")
    assert eq.count() == 1 and _nfiles(eq) == 1
    assert fmt.read(spark, path).count() == 1000
    # zorder composes the same way
    fmt.compact(spark, path, cluster_by=["id", "v"], zorder=True)
    assert fmt._commits(path)[-1].get("transform")
    assert fmt.read(spark, path, where="id = 500").count() == 1
