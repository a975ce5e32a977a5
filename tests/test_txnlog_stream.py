"""Spark-4 Python Data Source over the commit log (sources/txnlog_stream).

The Delta-streaming-source contract: commit versions are offsets, appends
become micro-batches, checkpoint restart resumes exactly after the last
processed commit, data-change commits fail the stream unless
ignoreChanges opts into skipping them.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datalake_ingestion_system_spark.sinks import TxnLogFormat
from datalake_ingestion_system_spark.sources.txnlog_stream import (
    TxnLogBatchReader, TxnLogDataSource)


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(TxnLogDataSource)
    return spark


def _mk(spark, *rows):
    return spark.createDataFrame(list(rows), "id int, s string")


@pytest.mark.slow
def test_stream_emits_appends_and_resumes_from_checkpoint(
        registered, tmp_path):
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a"), (2, "b")), path)
    fmt.append(_mk(spark, (3, "c")), path)

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    def run_stream():
        return (spark.readStream.format("txnlog").load(path)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt).start())

    q = run_stream()
    q.processAllAvailable()
    # mid-stream append becomes its own micro-batch
    fmt.append(_mk(spark, (4, "d")), path)
    q.processAllAvailable()
    q.stop()
    got = sorted((r.id, r.s) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]

    # append while the stream is DOWN, then restart from the checkpoint:
    # only the new commit is emitted — no re-emission, no loss
    fmt.append(_mk(spark, (5, "e")), path)
    q2 = run_stream()
    q2.processAllAvailable()
    q2.stop()
    got = sorted((r.id, r.s) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]


@pytest.mark.slow
def test_stream_fails_on_data_change_unless_ignored(registered, tmp_path):
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a")), path)
    fmt.delete_where_dv(spark, path, "id = 1")  # a data CHANGE
    fmt.append(_mk(spark, (2, "b")), path)

    q = (spark.readStream.format("txnlog").load(path)
         .writeStream.format("memory").queryName("chg_fail")
         .option("checkpointLocation", str(tmp_path / "ck1")).start())
    with pytest.raises(Exception, match="ignoreChanges"):
        q.processAllAvailable()
    q.stop()

    q2 = (spark.readStream.format("txnlog")
          .option("ignoreChanges", "true").load(path)
          .writeStream.format("memory").queryName("chg_ok")
          .option("checkpointLocation", str(tmp_path / "ck2")).start())
    q2.processAllAvailable()
    q2.stop()
    got = sorted((r.id, r.s) for r in
                 spark.sql("select * from chg_ok").collect())
    # appends flow; the delete's change is skipped, not re-emitted
    assert got == [(1, "a"), (2, "b")]


def _shape_append(spark, path):
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a"), (2, "b")), path)
    fmt.append(_mk(spark, (3, "c")), path)
    return fmt, None


def _shape_deletion_vectors(spark, path):
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, *[(i, "abc"[i % 3]) for i in range(6)]), path)
    fmt.delete_where_dv(spark, path, "id = 1")
    fmt.delete_where_dv(spark, path, "s = 'c'")
    return fmt, None


def _shape_null_partition_overwrite(spark, path):
    fmt = TxnLogFormat()
    schema = "id long, s string, p string"
    fmt.overwrite_partitions(spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None), (3, "c", "y"), (4, "d", None)],
        schema), path, "p")
    # replaces the NULL partition (and only it) of the first dir
    fmt.overwrite_partitions(spark.createDataFrame(
        [(5, "e", None)], schema), path, "p")
    return fmt, None


def _shape_hidden_partition_transform(spark, path):
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (0, "z")), path)
    fmt.set_properties(spark, path, partition_transform={
        "source": "id", "kind": "bucket", "param": 4})
    fmt.append(_mk(spark, *[(i, "s") for i in range(1, 12)]), path)
    return fmt, None


def _shape_alters(spark, path):
    fmt = TxnLogFormat()
    fmt.append(spark.createDataFrame([(1, "a", 10, "x"), (2, "b", 20, "y")],
                                     "id long, s string, k int, gone string"),
               path)
    fmt.alter_table(path, rename_columns={"s": "name"},
                    drop_columns=["gone"])
    fmt.alter_table(path, add_columns={"n": "int"},
                    column_defaults={"n": 7})
    fmt.alter_table(path, widen_columns={"k": "long"})
    fmt.append(spark.createDataFrame([(3, "c", 1 << 40, 8)],
                                     "id long, name string, k long, n int"),
               path)
    return fmt, None


def _shape_rewrite_survivors(spark, path):
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, *[(i, "abc"[i % 3]) for i in range(6)])
               .coalesce(1), path)
    fmt.update_where(spark, path, "id = 1", {"s": "'z'"})
    fmt.delete_where(spark, path, "id = 4")
    return fmt, None


def _shape_checkpointed(spark, path):
    fmt = TxnLogFormat(checkpoint_interval=2)
    for i in range(5):
        fmt.append(_mk(spark, (i, "abc"[i % 3])), path)
    fmt.delete_where_dv(spark, path, "id = 2")
    fmt.update_where(spark, path, "id = 3", {"s": "'q'"})
    return fmt, None


def _shape_where_pruning(spark, path):
    fmt = TxnLogFormat()
    for lo in (0, 10, 20):
        fmt.append(_mk(spark, *[(i, "w") for i in range(lo, lo + 10)])
                   .coalesce(1), path)
    return fmt, "id >= 12 AND id < 25"


@pytest.mark.parametrize("shape", [
    _shape_append, _shape_deletion_vectors,
    _shape_null_partition_overwrite, _shape_hidden_partition_transform,
    _shape_alters, _shape_rewrite_survivors, _shape_checkpointed,
    _shape_where_pruning], ids=lambda f: f.__name__[len("_shape_"):])
def test_batch_source_matches_format_read(registered, tmp_path, shape):
    """``format("txnlog")`` and ``TxnLogFormat.read`` take their file
    plan from one ``Snapshot.plan_scan``: every table shape must read the
    same rows through both (``option("where")`` prunes files only; the
    row filter is Spark's)."""
    spark = registered
    path = str(tmp_path / "t")
    fmt, where = shape(spark, path)
    via_fmt = fmt.read(spark, path, where=where)
    src = spark.read.format("txnlog")
    if where is not None:
        src = src.option("where", where)
    via_src = src.load(path)
    # schema came from the log, not inference
    assert via_src.columns == via_fmt.columns
    if where is not None:
        via_src = via_src.filter(where)
    got = sorted(map(tuple, via_src.collect()),
                 key=lambda r: tuple((x is None, x) for x in r))
    want = sorted(map(tuple, via_fmt.collect()),
                  key=lambda r: tuple((x is None, x) for x in r))
    assert got == want and got
    if shape is _shape_append:
        assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_batch_source_applies_dv_tables(registered, tmp_path):
    """Round 14: the batch source serves DV tables merge-on-read
    (per-file drop positions subtracted executor-side) — the same
    rows as the JVM read, before AND after compaction retires the
    vectors."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a"), (2, "b"), (3, "c")), path)
    fmt.delete_where_dv(spark, path, "id = 1")
    assert sorted(r.id for r in
                  spark.read.format("txnlog").load(path).collect()) \
        == [2, 3]
    # a second vector stacks (consolidation path)
    fmt.delete_where_dv(spark, path, "id = 3")
    assert [r.id for r in
            spark.read.format("txnlog").load(path).collect()] == [2]
    # compaction retires the vectors; the plain scan stays identical
    fmt.compact(spark, path)
    assert [r.id for r in
            spark.read.format("txnlog").load(path).collect()] == [2]


def test_stream_drains_pre_alter_backlog(registered, tmp_path):
    """Review regression: a stream started AFTER a schema alter must
    still read the pre-alter append backlog — renames inverted, added
    columns null-filled — instead of failing on 'missing columns'."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a")), path)                            # v0
    fmt.alter_table(path, rename_columns={"s": "label"},
                    add_columns={"score": "double"})                  # v1
    fmt.append(spark.createDataFrame(
        [(2, "b", 0.5)], "id int, label string, score double"), path)  # v2
    q = (spark.readStream.format("txnlog").load(path)
         .writeStream.format("memory").queryName("backlog")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    got = sorted((r.id, r.label, r.score) for r in
                 spark.sql("select * from backlog").collect())
    assert got == [(1, "a", None), (2, "b", 0.5)]
    # batch source applies the same mapping
    got_b = sorted((r.id, r.label, r.score) for r in
                   spark.read.format("txnlog").load(path).collect())
    assert got_b == got


def test_source_schema_is_restore_aware(registered, tmp_path):
    """Review regression: schema() must replay the restore algebra —
    after RESTORE to a pre-widening version, the source serves the old
    schema exactly like TxnLogFormat.read does."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a")), path)                            # v0
    fmt.alter_table(path, add_columns={"extra": "int"})               # v1
    fmt.restore(spark, path, 0)                                       # v2
    df = spark.read.format("txnlog").load(path)
    assert df.columns == ["id", "s"]
    assert [tuple(r) for r in df.collect()] == [(1, "a")]


def test_stream_sees_rows_ingested_through_the_format_api(
        registered, tmp_path):
    """End-to-end composition: a foreachBatch producer writing through
    append(txn_app=...) feeds a txnlog stream consumer — the table is
    simultaneously an exactly-once sink AND an exactly-once source."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    for epoch in range(3):
        fmt.append(_mk(spark, (epoch, f"e{epoch}")), path,
                   txn_app="producer", txn_version=epoch)
        fmt.append(_mk(spark, (epoch, f"e{epoch}")), path,
                   txn_app="producer", txn_version=epoch)  # replay no-ops
    q = (spark.readStream.format("txnlog").load(path)
         .writeStream.format("memory").queryName("compose")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    got = sorted((r.id, r.s) for r in
                 spark.sql("select * from compose").collect())
    assert got == [(0, "e0"), (1, "e1"), (2, "e2")]


def test_stream_fails_loudly_on_mid_stream_schema_evolution(
        spark, tmp_path):
    """VERDICT r8 item 3 (Delta schemaTrackingLocation semantics): an
    ``alter`` that ADDs or RENAMEs columns inside the planned range
    used to be silently skipped — post-alter data for columns the
    pinned schema predates was never emitted.  The batch must fail
    loudly; a restarted reader (re-resolved schema) drains the same
    range cleanly, widened columns included."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(_mk(spark, (1, "a")), path)                            # v0
    schema_v0 = fmt.read(spark, path).schema
    fmt.alter_table(path, add_columns={"score": "double"})            # v1
    fmt.append(spark.createDataFrame(
        [(2, "b", 0.5)], "id int, s string, score double"), path)     # v2

    reader = TxnLogStreamReader(schema_v0, {"path": path})
    with pytest.raises(ValueError, match="ignoreSchemaEvolution"):
        reader.partitions({"version": -1}, {"version": 2})
    # a batch that stops BEFORE the alter still plans
    assert reader.partitions({"version": -1}, {"version": 0})

    # restart: schema re-resolves to the widened form, same range plans
    restarted = TxnLogStreamReader(fmt.read(spark, path).schema,
                                   {"path": path})
    parts = restarted.partitions({"version": -1}, {"version": 2})
    got = sorted(
        tuple(b.to_pylist()[i][c] for c in ("id", "s", "score"))
        for p in parts for b in restarted.read(p)
        for i in range(b.num_rows))
    assert got == [(1, "a", None), (2, "b", 0.5)]

    # opt-out keeps the old pin-and-drop behavior
    pinned = TxnLogStreamReader(schema_v0,
                                {"path": path,
                                 "ignoreschemaevolution": "true"})
    parts = pinned.partitions({"version": -1}, {"version": 2})
    got = sorted(
        tuple(b.to_pylist()[i][c] for c in ("id", "s"))
        for p in parts for b in pinned.read(p)
        for i in range(b.num_rows))
    assert got == [(1, "a"), (2, "b")]


def test_stream_schema_evolution_check_covers_rename_drop_and_folds(
        spark, tmp_path):
    """Renames-in and drops of pinned columns fail the same way, and an
    alter FOLDED into a checkpoint (its per-commit record pruned) is
    still detected from the checkpoint state's alter list."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(_mk(spark, (1, "a")), path)                            # v0
    schema_v0 = fmt.read(spark, path).schema
    fmt.alter_table(path, rename_columns={"s": "label"})              # v1
    fmt.append(spark.createDataFrame(
        [(2, "b")], "id int, label string"), path)                    # v2
    reader = TxnLogStreamReader(schema_v0, {"path": path})
    with pytest.raises(ValueError, match="renames-in.*label"):
        reader.partitions({"version": -1}, {"version": 2})

    # fold the alter into a checkpoint and prune its record: the check
    # must still see it via the checkpoint's alters state
    fmt.checkpoint(path)
    fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
    fresh = TxnLogStreamReader(schema_v0, {"path": path})
    with pytest.raises(ValueError, match="renames-in.*label"):
        fresh.partitions({"version": -1}, {"version": 2})

    # DROP of a pinned column fails too
    path2 = str(tmp_path / "t2")
    fmt.append(_mk(spark, (1, "a")), path2)                           # v0
    schema2 = fmt.read(spark, path2).schema
    fmt.alter_table(path2, drop_columns=["s"])                        # v1
    fmt.append(spark.createDataFrame([(2,)], "id int"), path2)        # v2
    r2 = TxnLogStreamReader(schema2, {"path": path2})
    with pytest.raises(ValueError, match="drops: \\['s'\\]"):
        r2.partitions({"version": -1}, {"version": 2})


@pytest.mark.slow
def test_max_commits_per_trigger_caps_each_batch(spark, tmp_path):
    """Rate limiting (Delta maxFilesPerTrigger analogue at commit
    granularity): with maxCommitsPerTrigger=3, a fresh stream over a
    9-commit backlog plans batches advancing at most 3 versions each —
    driven through the reader's own offset protocol (initialOffset →
    latestOffset → partitions), which is exactly the sequence the
    micro-batch engine performs.  A reader constructed WITHOUT
    initialOffset (the restart shape) serves the head unbounded once —
    the documented Python-Data-Source-API caveat — then caps again."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for i in range(9):
        fmt.append(spark.createDataFrame([(i,)], "v int").coalesce(1),
                   path)
    schema = fmt.read(spark, path).schema
    reader = TxnLogStreamReader(schema, {"path": path,
                                         "maxcommitspertrigger": "3"})
    cur = reader.initialOffset()
    ends = []
    for _ in range(3):
        nxt = reader.latestOffset()
        reader.partitions(cur, nxt)
        ends.append(nxt["version"])
        cur = nxt
    assert ends == [2, 5, 8]  # three bounded batches drain the backlog
    assert reader.latestOffset() == {"version": 8}  # caught up: no-op

    restarted = TxnLogStreamReader(schema, {"path": path,
                                            "maxcommitspertrigger": "3"})
    assert restarted.latestOffset() == {"version": 8}  # unbounded once
    restarted.partitions({"version": 5}, {"version": 8})
    fmt.append(spark.createDataFrame([(99,)], "v int").coalesce(1), path)
    assert restarted.latestOffset() == {"version": 9}  # capped again

    with pytest.raises(ValueError, match="positive"):
        TxnLogStreamReader(schema, {"path": path,
                                    "maxcommitspertrigger": "0"})


# -- change data feed (Delta readChangeFeed parity) ------------------------


def _cdf_rows(df):
    return sorted((r.id, r.s, r._change_type, r._commit_version)
                  for r in df.collect())


@pytest.mark.slow
def test_batch_change_feed_emits_tagged_changes(registered, tmp_path):
    """Full-range batch CDF: appends as insert, DV delete as delete, DV
    update as pre+postimage — and a compaction emits NOTHING (bytes
    move, rows don't; Delta dataChange=false)."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a"), (2, "b")), path)         # v0
    fmt.append(_mk(spark, (3, "c")), path)                   # v1
    fmt.delete_where_dv(spark, path, "id = 1")               # v2
    fmt.update_where_dv(spark, path, "id = 2", {"s": "'B'"})  # v3
    fmt.compact(spark, path, small_file_bytes=32 << 20)      # v4
    df = (spark.read.format("txnlog")
          .option("readChangeFeed", "true").load(path))
    assert [f.name for f in df.schema.fields] == \
        ["id", "s", "_change_type", "_commit_version", "_commit_timestamp"]
    assert _cdf_rows(df) == [
        (1, "a", "delete", 2),
        (1, "a", "insert", 0),
        (2, "B", "update_postimage", 3),
        (2, "b", "insert", 0),
        (2, "b", "update_preimage", 3),
        (3, "c", "insert", 1)]
    # tail commits carry their wall-clock publish time
    assert all(r._commit_timestamp is not None for r in df.collect())
    # version range selection (Delta startingVersion/endingVersion)
    part = (spark.read.format("txnlog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 2)
            .option("endingVersion", 3).load(path))
    assert _cdf_rows(part) == [
        (1, "a", "delete", 2),
        (2, "B", "update_postimage", 3),
        (2, "b", "update_preimage", 3)]
    with pytest.raises(Exception, match="outside the log"):
        (spark.read.format("txnlog")
         .option("readChangeFeed", "true")
         .option("startingVersion", 2)
         .option("endingVersion", 99).load(path).collect())


def test_batch_change_feed_refuses_full_rewrites(registered, tmp_path):
    """Data-changing rewrites — both the full kind (overwrite) and the
    file-targeted kind (copy-on-write delete, a ``rewrite_files`` commit
    CARRYING ``data_change``) — have no per-row change identity in the
    log, so the change feed must raise, never silently skip them as it
    does compaction."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a"), (2, "b")), path)  # v0
    fmt.delete_where(spark, path, "id = 1")           # v1: targeted COW
    fmt.append(_mk(spark, (3, "c")), path)            # v2
    with pytest.raises(Exception, match="full rewrite"):
        (spark.read.format("txnlog")
         .option("readChangeFeed", "true").load(path).collect())
    # ignoreChanges: the rewrite is skipped, appends still flow
    df = (spark.read.format("txnlog")
          .option("readChangeFeed", "true")
          .option("ignoreChanges", "true").load(path))
    assert _cdf_rows(df) == [
        (1, "a", "insert", 0), (2, "b", "insert", 0),
        (3, "c", "insert", 2)]
    # a full overwrite raises identically
    fmt.overwrite_table(_mk(spark, (9, "z")), path)   # v3
    with pytest.raises(Exception, match="full rewrite"):
        (spark.read.format("txnlog")
         .option("readChangeFeed", "true").load(path).collect())


@pytest.mark.slow
def test_streams_skip_compaction_but_refuse_targeted_rewrites(
        registered, tmp_path):
    """Delta OPTIMIZE parity: a ``rewrite_files`` commit WITHOUT
    ``data_change`` (compaction — bytes move, rows identical) is skipped
    silently by both the append-only stream and the change feed, with no
    re-emission; one WITH ``data_change`` (targeted DELETE) still fails
    the append-only stream unless ignoreChanges."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a")), path)            # v0
    fmt.append(_mk(spark, (2, "b")), path)            # v1
    stats = fmt.compact(spark, path, small_file_bytes=1 << 30)  # v2
    assert stats["rewritten_files"] >= 2
    assert fmt._commits(path)[-1]["action"] == "rewrite_files"
    assert not fmt._commits(path)[-1].get("data_change")

    # append-only stream: compaction mid-range is a silent no-op
    q = (spark.readStream.format("txnlog").load(path)
         .writeStream.format("memory").queryName("opt_ok")
         .option("checkpointLocation", str(tmp_path / "ck1")).start())
    q.processAllAvailable()
    q.stop()
    got = sorted((r.id, r.s) for r in
                 spark.sql("select * from opt_ok").collect())
    assert got == [(1, "a"), (2, "b")]  # once each, no raise

    # change feed: compaction emits nothing, without ignoreChanges
    df = (spark.read.format("txnlog")
          .option("readChangeFeed", "true").load(path))
    assert _cdf_rows(df) == [(1, "a", "insert", 0), (2, "b", "insert", 1)]

    # a targeted delete after the compaction DOES fail the stream
    fmt.delete_where(spark, path, "id = 1")           # v3: data_change
    q2 = (spark.readStream.format("txnlog").load(path)
          .writeStream.format("memory").queryName("opt_fail")
          .option("checkpointLocation", str(tmp_path / "ck2")).start())
    with pytest.raises(Exception, match="ignoreChanges"):
        q2.processAllAvailable()
    q2.stop()


@pytest.mark.slow
def test_change_feed_sidecar_covers_delete_update_merge(
        registered, tmp_path):
    """With change_data_feed=True (Delta enableChangeDataFeed parity),
    targeted DELETE/UPDATE and MERGE record their exact per-row changes
    as a commit sidecar; the feed emits them verbatim instead of
    raising, batch and stream alike, and vacuum never sweeps a
    referenced sidecar."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(change_data_feed=True)
    fmt.append(_mk(spark, (1, "a"), (2, "b"), (3, "c")), path)   # v0
    assert fmt.delete_where(spark, path, "id = 1") == 1          # v1
    assert fmt.update_where(spark, path, "id = 2",
                            {"s": "upper(s)"}) == 1              # v2
    res = fmt.merge(spark, path,
                    _mk(spark, (3, "C"), (4, "d"), (9, "x"))
                    .withColumn("op", F.expr(
                        "case when id = 9 then 'D' else 'U' end")),
                    "id", matched_delete_condition="op = 'D'",
                    insert_condition="op <> 'D'")                # v3
    assert res == {"updated": 1, "deleted": 0, "inserted": 1}
    df = (spark.read.format("txnlog")
          .option("readChangeFeed", "true").load(path))
    assert _cdf_rows(df) == [
        (1, "a", "delete", 1),
        (1, "a", "insert", 0),
        (2, "B", "update_postimage", 2),
        (2, "b", "insert", 0),
        (2, "b", "update_preimage", 2),
        (3, "C", "update_postimage", 3),
        (3, "c", "insert", 0),
        (3, "c", "update_preimage", 3),
        (4, "d", "insert", 3)]
    # merge WHEN MATCHED DELETE rows ride the sidecar too
    fmt.merge(spark, path, _mk(spark, (4, "dead")).withColumn(
        "op", F.lit("D")), "id", matched_delete_condition="op = 'D'")
    part = (spark.read.format("txnlog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 4).load(path))
    assert _cdf_rows(part) == [(4, "d", "delete", 4)]
    # final state is consistent with the emitted changes
    assert sorted((r.id, r.s) for r in fmt.read(spark, path).collect()) \
        == [(2, "B"), (3, "C")]

    # streaming: the same sidecar commits flow as tagged micro-batches
    out = str(tmp_path / "out")
    q = (spark.readStream.format("txnlog")
         .option("readChangeFeed", "true").load(path)
         .selectExpr("id", "s", "_change_type", "_commit_version")
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    got = sorted((r.id, r.s, r._change_type, r._commit_version)
                 for r in spark.read.parquet(out).collect())
    assert (1, "a", "delete", 1) in got
    assert (4, "d", "delete", 4) in got
    assert len(got) == 10

    # sidecars of still-logged commits survive an aggressive vacuum
    fmt.vacuum(path, retain_hours=0.0)
    assert _cdf_rows(spark.read.format("txnlog")
                     .option("readChangeFeed", "true")
                     .option("startingVersion", 4).load(path)) \
        == [(4, "d", "delete", 4)]


@pytest.mark.slow
def test_stream_change_feed_emits_and_resumes(registered, tmp_path):
    """Streaming CDF: each commit becomes a tagged micro-batch; restart
    from the sink checkpoint resumes exactly after the last change."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a"), (2, "b")), path)  # v0
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        return (spark.readStream.format("txnlog")
                .option("readChangeFeed", "true").load(path)
                .selectExpr("id", "s", "_change_type", "_commit_version")
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt).start())

    q = run()
    q.processAllAvailable()
    fmt.delete_where_dv(spark, path, "id = 1")  # v1: mid-stream change
    q.processAllAvailable()
    q.stop()
    # ops while the stream is DOWN resume from the checkpoint
    fmt.update_where_dv(spark, path, "id = 2", {"s": "upper(s)"})  # v2
    q2 = run()
    q2.processAllAvailable()
    q2.stop()
    got = sorted((r.id, r.s, r._change_type, r._commit_version)
                 for r in spark.read.parquet(out).collect())
    assert got == [
        (1, "a", "delete", 1),
        (1, "a", "insert", 0),
        (2, "B", "update_postimage", 2),
        (2, "b", "insert", 0),
        (2, "b", "update_preimage", 2)]


def test_change_feed_maps_preimages_through_alters(registered, tmp_path):
    """A delete emitted AFTER a rename carries the stream's column
    names: the preimage file was written under the old name and maps
    through the alters published after its write version."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a"), (2, "b")), path)   # v0
    fmt.alter_table(path, rename_columns={"s": "txt"},
                    add_columns={"w": "double"})       # v1
    fmt.delete_where_dv(spark, path, "id = 1")         # v2
    df = (spark.read.format("txnlog")
          .option("readChangeFeed", "true").load(path))
    got = sorted((r.id, r.txt, r.w, r._change_type, r._commit_version)
                 for r in df.collect())
    assert got == [
        (1, "a", None, "delete", 2),
        (1, "a", None, "insert", 0),
        (2, "b", None, "insert", 0)]


def test_change_feed_over_folded_checkpoint_span(registered, tmp_path):
    """Below a checkpoint the per-commit records are folded: pure-append
    spans still emit inserts (original versions, null timestamp); a
    folded data change kills the feed unless ignoreChanges."""
    spark = registered
    fmt = TxnLogFormat(checkpoint_interval=2)
    path = str(tmp_path / "t")
    fmt.append(_mk(spark, (1, "a")), path)   # v0
    fmt.append(_mk(spark, (2, "b")), path)   # v1
    fmt.append(_mk(spark, (3, "c")), path)   # v2  (checkpoint at 2)
    fmt.vacuum(path, log_retain_hours=0.0)   # prune below the checkpoint
    df = (spark.read.format("txnlog")
          .option("readChangeFeed", "true").load(path))
    assert _cdf_rows(df) == [
        (1, "a", "insert", 0), (2, "b", "insert", 1),
        (3, "c", "insert", 2)]

    path2 = str(tmp_path / "t2")
    fmt.append(_mk(spark, (1, "a")), path2)            # v0
    fmt.delete_where_dv(spark, path2, "id = 1")        # v1
    fmt.append(_mk(spark, (2, "b")), path2)            # v2 (cp at 2)
    fmt.vacuum(path2, log_retain_hours=0.0)
    with pytest.raises(Exception, match="folded"):
        (spark.read.format("txnlog")
         .option("readChangeFeed", "true").load(path2).collect())
    df2 = (spark.read.format("txnlog")
           .option("readChangeFeed", "true")
           .option("ignoreChanges", "true").load(path2))
    # only the folded appends; the folded delete's change is gone
    assert _cdf_rows(df2) == [
        (1, "a", "insert", 0), (2, "b", "insert", 2)]


# -- batch filter pushdown (Spark 4.1 DSv2 pushFilters) --------------------


@pytest.mark.slow
def test_batch_pushdown_prunes_from_commit_stats(registered, tmp_path):
    """option('pushdown','true'): pushed conjuncts prune files via the
    commit-recorded stats (the read(where=...) data-skipping tier);
    every filter is still returned to Spark, so results are identical
    to an unpruned filtered scan."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogPushdownBatchReader)
    from pyspark.sql.datasource import EqualTo, IsNull
    spark = registered
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    for lo in (0, 100, 200):  # three files with disjoint k ranges
        fmt.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(5)], "k long, v double")
            .coalesce(1), path)
    schema = spark.read.format("txnlog").load(path).schema
    r = TxnLogPushdownBatchReader(schema, {"path": path})
    returned = list(r.pushFilters([EqualTo(("k",), 102)]))
    assert len(returned) == 1          # Spark re-evaluates everything
    assert len(r.partitions()) == 1    # only the file that can hold 102
    got = (spark.read.format("txnlog").option("pushdown", "true")
           .load(path).filter("k = 102").collect())
    assert [(x.k, x.v) for x in got] == [(102, 2.0)]
    # null-count stats: a no-nulls table prunes an IS NULL probe to zero
    r2 = TxnLogPushdownBatchReader(schema, {"path": path})
    list(r2.pushFilters([IsNull(("k",))]))
    assert r2.partitions() == []
    assert (spark.read.format("txnlog").option("pushdown", "true")
            .load(path).filter("k IS NULL").collect()) == []


def test_batch_pushdown_maps_stats_through_renames(registered, tmp_path):
    """Pruning after an ALTER rename goes through the same inverse
    rename chain as read(where=...): files written pre-rename prune by
    their historical stats, and results stay exact."""
    spark = registered
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    for lo in (0, 100):
        fmt.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(5)], "k long, v double")
            .coalesce(1), path)
    fmt.alter_table(path, rename_columns={"k": "kk"})
    df = (spark.read.format("txnlog").option("pushdown", "true")
          .load(path).filter("kk >= 100"))
    assert sorted(x.kk for x in df.collect()) == [100, 101, 102, 103, 104]


def _rows(df, cols):
    """Name-aligned, null-safe sorted row tuples — the batch reader
    emits the commit-recorded schema ORDER while TxnLogFormat.read's
    basePath discovery appends hive partition columns last, so
    comparisons align by name."""
    rows = [tuple(r[c] for c in cols) for r in df.collect()]
    return sorted(rows, key=lambda r: tuple(
        (x is None, x if x is not None else 0) for x in r))


def test_batch_source_serves_partitioned_tables(registered, tmp_path):
    """Hive-partitioned (``overwrite_partitions``) tables serve through
    the bare file scan (round 15 — the refusal flipped): the partition
    column's value is parsed from each file's ``col=value`` path
    segment at plan time and injected executor-side as a typed
    constant, and later overwrites' value subtractions drop replaced
    files plan-side — row equality against ``TxnLogFormat.read``,
    including the NULL partition."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), (None, 9)], "p string, v int"),
        path, "p")
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 10)], "p string, v int"), path, "p")   # replaces both a-rows
    fmt.append(spark.createDataFrame(
        [("c", 100)], "p string, v int"), path)        # flat append mixes in
    got = spark.read.format("txnlog").load(path)
    assert got.schema.simpleString() == "struct<p:string,v:int>"
    assert _rows(got, ["p", "v"]) \
        == _rows(TxnLogFormat().read(spark, path), ["p", "v"]) \
        == [("a", 10), ("b", 3), ("c", 100), (None, 9)]
    # the NULL partition itself re-overwritten: only null_removed drops it
    fmt.overwrite_partitions(spark.createDataFrame(
        [(None, 90)], "p string, v int"), path, "p")
    assert _rows(spark.read.format("txnlog").load(path), ["p", "v"]) \
        == [("a", 10), ("b", 3), ("c", 100), (None, 90)]


def test_batch_source_partition_value_types_and_pruning(
        registered, tmp_path):
    """Typed partition values (date column) round-trip through the path
    constant with the COMMIT-RECORDED type — no hive re-inference — and
    a ``where`` clause on the partition column prunes non-matching
    partition files from the plan entirely."""
    import datetime
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.overwrite_partitions(spark.createDataFrame(
        [(datetime.date(2024, 1, 1), 1), (datetime.date(2024, 1, 2), 2)],
        "d date, v int"), path, "d")
    fmt.overwrite_partitions(spark.createDataFrame(
        [(datetime.date(2024, 1, 2), 20)], "d date, v int"), path, "d")
    df = spark.read.format("txnlog").load(path)
    assert df.schema.simpleString() == "struct<d:date,v:int>"
    assert _rows(df, ["d", "v"]) == [
        (datetime.date(2024, 1, 1), 1), (datetime.date(2024, 1, 2), 20)]
    # plan-level pruning: an equality clause on the partition column
    # leaves only that partition's file in the plan
    r = TxnLogBatchReader(df.schema,
                          {"path": path, "where": "v = 1"})
    all_files = len(r.partitions())
    r2 = TxnLogBatchReader(df.schema,
                           {"path": path, "where": "d = '2024-01-01'"})
    assert len(r2.partitions()) < all_files or all_files == 1


def test_batch_source_serves_subtraction_over_flat_dirs(
        registered, tmp_path):
    """A dynamic overwrite whose subtraction hits an earlier FLAT
    append dir (the value lives in the data, not the path) applies as
    an executor-side typed anti-filter — and deletion vectors compose
    with hive dirs in the same scan."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(spark.createDataFrame(
        [("a", 1), ("b", 2)], "p string, v int"), path)  # flat dir
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 10)], "p string, v int"), path, "p")
    got = spark.read.format("txnlog").load(path)
    assert _rows(got, ["p", "v"]) == [("a", 10), ("b", 2)]
    # DV on a hive-partitioned table: drop positions and path constants
    # compose in one partition
    p2 = str(tmp_path / "t2")
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4)], "p string, v int"),
        p2, "p")
    fmt.delete_where_dv(spark, p2, "v = 2")
    assert _rows(spark.read.format("txnlog").load(p2), ["p", "v"]) \
        == _rows(TxnLogFormat().read(spark, p2), ["p", "v"]) \
        == [("a", 1), ("b", 3), ("b", 4)]


def test_batch_source_serves_compacted_partition_staging(
        registered, tmp_path):
    """``compact(partition_col=...)`` stages its replace_all
    hive-partitioned (``staged_pcol``) — the same path-constant
    injection serves it (previously this shape crashed the bare scan
    with a missing-column error)."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "p string, v int"), path)
    fmt.compact(spark, path, partition_col="p")
    assert _rows(spark.read.format("txnlog").load(path), ["p", "v"]) \
        == _rows(TxnLogFormat().read(spark, path), ["p", "v"]) \
        == [("a", 1), ("a", 3), ("b", 2)]


def test_batch_source_alter_defaults_before_subtraction(
        registered, tmp_path):
    """Post-scan ordering parity: an alter-added column with a default
    materializes BEFORE the overwrite subtraction evaluates (the same
    order TxnLogFormat.read applies), so default-filled rows
    participate in the anti-filter domain."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 1), ("b", 2)], "p string, v int"), path, "p")
    fmt.alter_table(path, add_columns={"w": "int"},
                    column_defaults={"w": 7})
    fmt.overwrite_partitions(spark.createDataFrame(
        [("b", 20, 8)], "p string, v int, w int"), path, "p")
    got = spark.read.format("txnlog").load(path)
    assert _rows(got, ["p", "v", "w"]) \
        == _rows(TxnLogFormat().read(spark, path), ["p", "v", "w"]) \
        == [("a", 1, 7), ("b", 20, 8)]


# -- write path: batch writer + exactly-once streaming sink ----------------


def test_batch_writer_append_overwrite_and_stats(registered, tmp_path):
    """df.write.format('txnlog'): appends accumulate, overwrite
    replaces, and the published commits carry file lists + harvested
    stats exactly like TxnLogFormat's own writes (data skipping works
    on sink-written tables)."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    spark.createDataFrame([(i, float(i)) for i in range(5)],
                          "k long, v double") \
        .write.format("txnlog").mode("append").save(path)
    spark.createDataFrame([(100 + i, float(i)) for i in range(5)],
                          "k long, v double") \
        .write.format("txnlog").mode("append").save(path)
    got = sorted(r.k for r in fmt.read(spark, path).collect())
    assert got == list(range(5)) + list(range(100, 105))
    last = fmt._commits(path)[-1]
    assert last["action"] == "append" and last["files"] and last["stats"]
    # commit-recorded stats prune a range probe down to one dir's files
    files = fmt.read(spark, path, where="k >= 100").inputFiles()
    assert files and all("_txn_data" in f for f in files)
    assert set(files) < set(fmt.read(spark, path).inputFiles())
    spark.createDataFrame([(9, 9.0)], "k long, v double") \
        .write.format("txnlog").mode("overwrite").save(path)
    assert [(r.k, r.v) for r in fmt.read(spark, path).collect()] \
        == [(9, 9.0)]
    # pre-overwrite state stays time-travelable
    assert len(fmt.read(spark, path, as_of_version=1).collect()) == 10


def test_stream_sink_exactly_once_across_restart(registered, tmp_path):
    """writeStream.format('txnlog'): each epoch publishes one atomic
    commit with the epoch as a txn watermark — a restart over the same
    checkpoint re-emits nothing, and new data lands exactly once."""
    spark = registered
    fmt = TxnLogFormat()
    src = str(tmp_path / "src")
    path = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string") \
        .coalesce(1).write.parquet(f"{src}/b1")

    def drain():
        q = (spark.readStream.schema("id long, s string")
             .parquet(src + "/*")
             .writeStream.format("txnlog").option("path", path)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 2]
    drain()  # no new data: nothing re-emitted
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 2]
    spark.createDataFrame([(3, "c")], "id long, s string") \
        .coalesce(1).write.parquet(f"{src}/b2")
    drain()
    assert sorted(r.id for r in fmt.read(spark, path).collect()) \
        == [1, 2, 3]
    # the sink's commits carry the epoch watermarks
    apps = {c.get("txn_app") for c in fmt._commits(path)
            if c.get("txn_app")}
    assert apps == {f"txnlog_sink:{path}"}


def test_stream_sink_source_roundtrip(registered, tmp_path):
    """Full symmetry: txnlog SOURCE → transform → txnlog SINK — a
    table-to-table incremental pipeline with exactly-once on both ends,
    no foreachBatch glue."""
    spark = registered
    fmt = TxnLogFormat()
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    fmt.append(_mk(spark, (1, "a"), (2, "b")), src)
    fmt.append(_mk(spark, (3, "c")), src)
    q = (spark.readStream.format("txnlog").load(src)
         .selectExpr("id * 10 as id", "upper(s) as s")
         .writeStream.format("txnlog").option("path", dst)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = sorted((r.id, r.s) for r in fmt.read(spark, dst).collect())
    assert got == [(10, "A"), (20, "B"), (30, "C")]


def test_writer_commit_gathers_only_message_files(registered, tmp_path):
    """Task-retry safety: when a task runs TWICE (failure retry or
    speculative execution), only the attempt whose commit message Spark
    keeps may reach the published commit — the dead attempt's file
    stays an unreferenced orphan.  Drives the writer API directly: two
    write() attempts over the same rows, one message passed to
    commit()."""
    from pyspark.sql import Row
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogWriter)
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(spark.createDataFrame([(1, 1.0)], "k long, v double"), path)
    schema = fmt.read(spark, path).schema
    w = TxnLogWriter(schema, {"path": path}, overwrite=False)
    rows = [Row(k=2, v=2.0)]
    dead = w.write(iter(rows))    # attempt 1: fails after writing
    kept = w.write(iter(rows))    # attempt 2: the one Spark commits
    assert dead.relfiles != kept.relfiles  # distinct task dirs
    w.commit([kept])
    got = sorted(r.k for r in fmt.read(spark, path).collect())
    assert got == [1, 2]  # exactly once — the dead attempt is invisible
    last = fmt._commits(path)[-1]
    assert [os.path.basename(f) for f in last["files"]] == \
        [os.path.basename(kept.relfiles[0])]
    # the dead attempt's file is still on disk, unreferenced (vacuum's
    # job), proving exclusion came from messages, not a lucky dir walk
    assert os.path.exists(os.path.join(path, dead.relfiles[0]))


@pytest.mark.slow
def test_change_feed_reconstructs_state_under_random_ops(
        registered, tmp_path):
    """Model check: over random sequences of the CDF-compatible op
    algebra (append / DV delete / DV update / size compaction / rename
    alter), replaying the full-range batch change feed — insert sets,
    delete removes, postimage replaces, preimages ignored — must
    rebuild EXACTLY the table's live state, with the stream's current
    column names throughout (pre-rename commits map).  Checkpointing
    is off: a checkpoint folds per-commit records away and full-range
    CDF over folded changes raises by design (covered elsewhere)."""
    import itertools
    import random

    spark = registered
    rng = random.Random(20260815)
    fmt = TxnLogFormat(checkpoint_interval=None)
    counter = itertools.count()
    for example in range(4):
        path = str(tmp_path / f"t{example}")
        vcol = "v"
        state: dict = {}  # k -> value
        rows = [(next(counter), 0), (next(counter), 1)]
        fmt.append(spark.createDataFrame(rows, "k long, v long"), path)
        state.update(rows)
        for _ in range(rng.randint(6, 9)):
            op = rng.choice(["append", "dv_delete", "dv_update",
                             "compact", "alter"])
            if op == "append":
                rows = [(next(counter), rng.randint(0, 99))]
                fmt.append(spark.createDataFrame(
                    rows, f"k long, {vcol} long"), path)
                state.update(rows)
            elif op == "dv_delete" and state:
                k = rng.choice(sorted(state))
                assert fmt.delete_where_dv(spark, path, f"k = {k}") == 1
                del state[k]
            elif op == "dv_update" and state:
                k = rng.choice(sorted(state))
                n = fmt.update_where_dv(
                    spark, path, f"k = {k}", {vcol: f"{vcol} + 1000"})
                assert n == 1
                state[k] += 1000
            elif op == "compact":
                fmt.compact(spark, path, small_file_bytes=32 << 20)
            elif op == "alter":
                new = f"{vcol}x"
                fmt.alter_table(path, rename_columns={vcol: new})
                vcol = new
        feed = (spark.read.format("txnlog")
                .option("readChangeFeed", "true").load(path))
        assert feed.columns[:2] == ["k", vcol], f"example {example}"
        rebuilt: dict = {}
        for r in sorted(feed.collect(),
                        key=lambda r: r["_commit_version"]):
            if r["_change_type"] == "insert":
                rebuilt[r["k"]] = r[vcol]
            elif r["_change_type"] == "delete":
                del rebuilt[r["k"]]
            elif r["_change_type"] == "update_postimage":
                rebuilt[r["k"]] = r[vcol]
        assert rebuilt == state, f"example {example}"
        live = {r["k"]: r[vcol]
                for r in fmt.read(spark, path).collect()}
        assert live == state, f"example {example}"


def test_batch_change_feed_timestamp_bounds(registered, tmp_path):
    """Delta startingTimestamp/endingTimestamp parity on the batch
    feed: bounds resolve against the monotonized commit instants — an
    exact-instant start INCLUDES that commit, an end selects the latest
    commit at or before it, ISO naive strings pin to UTC, and a start
    past the head raises."""
    import datetime as dt

    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(_mk(spark, (1, "a")), path)  # v0
    fmt.append(_mk(spark, (2, "b")), path)  # v1
    fmt.append(_mk(spark, (3, "c")), path)  # v2
    ts = [r["ts"] for r in reversed(fmt.history(path))]  # v0, v1, v2

    def feed(**opts):
        r = (spark.read.format("txnlog")
             .option("readChangeFeed", "true"))
        for k, v in opts.items():
            r = r.option(k, v)
        return _cdf_rows(r.load(path))

    # exact-instant start includes that commit (epoch-seconds form)
    assert feed(startingTimestamp=str(ts[1])) == [
        (2, "b", "insert", 1), (3, "c", "insert", 2)]
    # just after v1 starts at v2
    assert feed(startingTimestamp=str(ts[1] + 1e-4)) == [
        (3, "c", "insert", 2)]
    # end at v1's instant includes v0+v1 only
    assert feed(endingTimestamp=str(ts[1])) == [
        (1, "a", "insert", 0), (2, "b", "insert", 1)]
    # both bounds compose; ISO naive strings are UTC
    iso = dt.datetime.fromtimestamp(
        ts[1] + 1e-4, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")
    assert feed(startingTimestamp=iso, endingTimestamp=str(ts[2])) == [
        (3, "c", "insert", 2)]
    # a start past the head raises (Delta's error shape)
    with pytest.raises(Exception, match="after the latest commit"):
        feed(startingTimestamp=str(ts[2] + 10.0))
    # version+timestamp for the same bound is rejected
    with pytest.raises(Exception, match="not both"):
        feed(startingVersion="0", startingTimestamp=str(ts[0]))


@pytest.mark.slow
def test_stream_starting_version_and_timestamp(registered, tmp_path):
    """Delta streaming startingVersion parity: a FRESH stream begins at
    the given commit ('latest' = only new commits); restarts still
    resume from the sink checkpoint; startingTimestamp resolves like
    the batch feed."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    for i, s in enumerate("abc"):
        fmt.append(_mk(spark, (i, s)), path)  # v0..v2
    ts_v2 = fmt.history(path)[0]["ts"]

    def drain(qname, ck, **opts):
        r = spark.readStream.format("txnlog")
        for k, v in opts.items():
            r = r.option(k, v)
        q = (r.load(path).writeStream.format("memory")
             .queryName(qname)
             .option("checkpointLocation", str(tmp_path / ck)).start())
        q.processAllAvailable()
        q.stop()
        return sorted((r.id, r.s) for r in
                      spark.sql(f"select * from {qname}").collect())

    # begin at v1 (inclusive): v0 is never emitted
    assert drain("sv1", "ck1", startingVersion="1") == \
        [(1, "b"), (2, "c")]
    # timestamp form: exactly v2's instant starts at v2
    assert drain("svts", "ckts", startingTimestamp=str(ts_v2)) == \
        [(2, "c")]
    # 'latest': nothing until a post-start commit arrives (parquet
    # sink: the restart below needs a recoverable checkpoint)
    out = str(tmp_path / "out")

    def run_latest():
        return (spark.readStream.format("txnlog")
                .option("startingVersion", "latest").load(path)
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", str(tmp_path / "ckl"))
                .start())

    q = run_latest()
    q.processAllAvailable()
    fmt.append(_mk(spark, (9, "z")), path)  # v3, after stream start
    q.processAllAvailable()
    q.stop()
    assert [(r.id, r.s) for r in spark.read.parquet(out).collect()] \
        == [(9, "z")]
    # restart from the SAME checkpoint resumes at the offset, not the
    # starting option: only newer commits are emitted
    fmt.append(_mk(spark, (10, "y")), path)  # v4
    q2 = run_latest()
    q2.processAllAvailable()
    q2.stop()
    got = sorted((r.id, r.s) for r in spark.read.parquet(out).collect())
    assert got == [(9, "z"), (10, "y")]


@pytest.mark.slow
def test_stream_where_pushdown_prunes_planned_files(registered, tmp_path):
    """option('where', ...) on the STREAMING source: files provably
    empty for the predicate never enter the micro-batch plan (the
    batch pushdown's stats tier applied to streams — VERDICT r9
    item 3), across raw-tail commits AND a folded checkpoint span;
    results under the paired .where() are identical to unpruned."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    for lo in (0, 100, 200):  # three commits, one file each, disjoint k
        fmt.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(5)], "k long, v double")
            .coalesce(1), path)
    schema = fmt.read(spark, path).schema

    plain = TxnLogStreamReader(schema, {"path": path})
    cur = plain.initialOffset()
    assert len(plain.partitions(cur, plain.latestOffset())) == 3

    pruned = TxnLogStreamReader(schema, {"path": path,
                                         "where": "k >= 200"})
    cur = pruned.initialOffset()
    parts = pruned.partitions(cur, pruned.latestOffset())
    assert len(parts) == 1             # only the file that can hold 200+
    # the planned file really is the k>=200 one
    assert "_txn_data" in parts[0].abs_path

    # end-to-end: pruned stream + the same .where == the full answer
    out = (spark.readStream.format("txnlog")
           .option("where", "k >= 200").load(path)
           .where("k >= 200"))
    q = (out.writeStream.format("memory").queryName("pushdown_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(r.k for r in spark.sql(
        "select k from pushdown_t").collect())
    assert got == [200, 201, 202, 203, 204]

    # folded checkpoint span: stats come from the checkpoint carrier
    fmt.checkpoint(path)
    fmt.append(spark.createDataFrame([(300, 0.0)], "k long, v double")
               .coalesce(1), path)
    fresh = TxnLogStreamReader(schema, {"path": path,
                                        "where": "k >= 200"})
    cur = fresh.initialOffset()
    parts = fresh.partitions(cur, fresh.latestOffset())
    assert len(parts) == 2             # the 200-file (folded) + the 300-file

    # a predicate no file can satisfy plans an EMPTY batch, and the
    # reader's None-partition guard keeps the scan alive
    none = TxnLogStreamReader(schema, {"path": path,
                                       "where": "k >= 99999"})
    cur = none.initialOffset()
    assert none.partitions(cur, none.latestOffset()) == []
    assert list(none.read(None)) == []


def test_stream_cdf_where_pushdown_prunes_change_partitions(
        registered, tmp_path):
    """The where option prunes the CHANGE-FEED planner too: insert
    files, DV position-takes (delete/preimage), and postimage files
    whose SOURCE file provably cannot satisfy the predicate drop from
    the plan; emitted changes under the paired filter are unchanged."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    for lo in (0, 100):
        fmt.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(5)], "k long, v double")
            .coalesce(1), path)
    # DV-delete one row in EACH file: two position-take sources
    fmt.delete_where_dv(spark, path, "k = 3 or k = 103")
    schema_df = (spark.read.format("txnlog")
                 .option("readChangeFeed", "true")
                 .option("startingVersion", "0").load(path))
    schema = schema_df.schema

    plain = TxnLogStreamReader(schema, {"path": path,
                                        "readchangefeed": "true"})
    cur = plain.initialOffset()
    nparts_all = len(plain.partitions(cur, plain.latestOffset()))
    assert nparts_all == 4             # 2 insert files + 2 delete takes

    pruned = TxnLogStreamReader(schema, {"path": path,
                                         "readchangefeed": "true",
                                         "where": "k >= 100"})
    cur = pruned.initialOffset()
    parts = pruned.partitions(cur, pruned.latestOffset())
    assert len(parts) == 2             # the k>=100 insert + its take
    tags = sorted(p.cdf[0] for p in parts)
    assert tags == ["delete", "insert"]


@pytest.mark.slow
def test_batch_where_option_and_cdf_pushdown_pruning(registered, tmp_path):
    """The BATCH reader takes the same option('where', ...) as the
    stream (no session conf needed), and pushed/where conjuncts prune
    the batch CHANGE FEED's partitions — results identical to the
    unpruned filtered feed."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogBatchReader)
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    for lo in (0, 100, 200):
        fmt.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(5)], "k long, v double")
            .coalesce(1), path)
    # snapshot read with the where option: 1 of 3 files planned
    schema = spark.read.format("txnlog").load(path).schema
    r = TxnLogBatchReader(schema, {"path": path, "where": "k >= 200"})
    assert len(r.partitions()) == 1
    got = (spark.read.format("txnlog").option("where", "k >= 200")
           .load(path).where("k >= 200").collect())
    assert sorted(x.k for x in got) == list(range(200, 205))

    # change feed: DV-delete a row in each of two files, then prune
    fmt.delete_where_dv(spark, path, "k = 3 or k = 103")
    feed_schema = (spark.read.format("txnlog")
                   .option("readChangeFeed", "true")
                   .option("startingVersion", "0").load(path).schema)
    full = TxnLogBatchReader(feed_schema, {
        "path": path, "readchangefeed": "true", "startingversion": "0"})
    pruned = TxnLogBatchReader(feed_schema, {
        "path": path, "readchangefeed": "true", "startingversion": "0",
        "where": "k >= 200"})
    assert len(full.partitions()) == 5   # 3 inserts + 2 delete takes
    assert len(pruned.partitions()) == 1  # only the k>=200 insert
    want = sorted(
        (r.k, r._change_type) for r in
        spark.read.format("txnlog").option("readChangeFeed", "true")
        .option("startingVersion", "0").load(path)
        .where("k >= 200").collect())
    have = sorted(
        (r.k, r._change_type) for r in
        spark.read.format("txnlog").option("readChangeFeed", "true")
        .option("where", "k >= 200")
        .option("startingVersion", "0").load(path)
        .where("k >= 200").collect())
    assert have == want
    assert [k for k, _t in have] == list(range(200, 205))


def test_max_files_per_trigger_caps_each_batch(spark, tmp_path):
    """Delta's native FILE-granular rate limit: with
    maxFilesPerTrigger=3, batches advance through commits until the
    next commit's recorded file count would blow the budget — but
    always at least one commit (a 4-file commit plans alone rather than
    stalling).  Metadata commits advance free."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    # exactly n files: one row per range partition (a round-robin
    # repartition can leave partitions empty)
    mk = lambda n, lo: spark.range(lo, lo + n, numPartitions=n).select(
        F.col("id").cast("int").alias("v"))
    fmt.append(mk(2, 0), path)           # v0: 2 files
    fmt.append(mk(2, 10), path)          # v1: 2 files
    fmt.append(mk(4, 20), path)          # v2: 4 files (> budget, alone)
    fmt.set_properties(None, path, constraints={"c": "v >= 0"},
                       validate_constraints=False)          # v3: 0 files
    fmt.append(mk(1, 30), path)          # v4: 1 file
    schema = fmt.read(spark, path).schema
    reader = TxnLogStreamReader(schema, {"path": path,
                                         "maxfilespertrigger": "3"})
    cur = reader.initialOffset()
    ends = []
    for _ in range(3):
        nxt = reader.latestOffset()
        reader.partitions(cur, nxt)
        ends.append(nxt["version"])
        cur = nxt
    # batch 1: v0 (2 files; v1 would make 4 > 3) — batch 2: v1 alone
    # (v2 would blow it) — batch 3: v2 alone (oversized, progress
    # guarantee), then v3+v4 (0+1 files) ride the next batch
    assert ends == [0, 1, 2]
    assert reader.latestOffset() == {"version": 4}

    with pytest.raises(ValueError, match="positive"):
        TxnLogStreamReader(schema, {"path": path,
                                    "maxfilespertrigger": "0"})


@pytest.mark.slow
def test_max_bytes_per_trigger_soft_cap(spark, tmp_path):
    """Delta's byte-granular soft cap: batches advance until the next
    commit's recorded byte total would blow the budget; an oversized
    commit still plans alone."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(4):
        fmt.append(spark.createDataFrame([(i,)], "v int").coalesce(1),
                   path)
    commits = fmt._commits(path)
    per_commit = sum((commits[0].get("file_bytes") or {}).values())
    assert per_commit > 0
    schema = fmt.read(spark, path).schema
    reader = TxnLogStreamReader(
        schema, {"path": path,
                 "maxbytespertrigger": str(int(per_commit * 2.5))})
    cur = reader.initialOffset()
    ends = []
    for _ in range(2):
        nxt = reader.latestOffset()
        reader.partitions(cur, nxt)
        ends.append(nxt["version"])
        cur = nxt
    assert ends == [1, 3]  # ~2 commits per batch under a 2.5x budget
    with pytest.raises(ValueError, match="positive"):
        TxnLogStreamReader(schema, {"path": path,
                                    "maxbytespertrigger": "-1"})


@pytest.mark.slow
def test_ignore_deletes_skips_delete_only_commits(registered, tmp_path):
    """Delta ignoreDeletes parity: deletion-vector commits (and
    survivor-less targeted rewrites) skip silently; a commit that ADDS
    rows via rewrite still demands ignoreChanges."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    fmt.append(_mk(spark, (1, "a"), (2, "b")), path)      # v0
    fmt.delete_where_dv(spark, path, "id = 1")            # v1: add_dv
    fmt.append(_mk(spark, (3, "c")), path)                # v2
    out = str(tmp_path / "out")
    q = (spark.readStream.format("txnlog")
         .option("ignoreDeletes", "true").load(path)
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    # append-only semantics: deletes are NOT retracted downstream
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == \
        [1, 2, 3]
    # an update (dv_update) is NOT a delete: the stream must fail
    fmt.update_where_dv(spark, path, "id = 2", {"s": "'B'"})  # v3
    fmt.append(_mk(spark, (4, "d")), path)                    # v4
    import pyspark.errors
    with pytest.raises(Exception, match="ignoreChanges"):
        q.processAllAvailable()
    q.stop()


@pytest.mark.slow
def test_drain_stream_bounded_batches_exactly_once(spark, tmp_path):
    """Round 14 (VERDICT r13 item 6): a 10-commit backlog drains in
    maxCommitsPerTrigger-bounded micro-batches with Spark's own
    exactly-once epochs — the AvailableNow emulation the Python DS
    bridge's single-batch fallback cannot give.  A second drain over
    the same checkpoint delivers ONLY the commits published after the
    first (nothing re-emitted), and its resumed first batch carries
    fresh epoch ids."""
    from pyspark.sql import functions as F

    from datalake_ingestion_system_spark.sinks import TxnLogFormat
    from datalake_ingestion_system_spark.streaming.drain import \
        drain_stream

    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    for i in range(10):  # 10-commit backlog, 5 rows each
        fmt.append(spark.range(i * 5, i * 5 + 5)
                   .select(F.col("id").alias("x")), path)
    seen: list[tuple[int, int]] = []  # (epoch, rows)

    def sink(df, epoch):
        seen.append((epoch, df.count()))

    head = drain_stream(spark, path, sink,
                        str(tmp_path / "ckpt"),
                        max_commits_per_trigger=3)
    assert head == 9
    dat = [(e, n) for e, n in seen if n > 0]
    assert sum(n for _e, n in dat) == 50          # every row, once
    assert len(dat) >= 4                          # 10 commits / cap 3
    assert all(n <= 15 for _e, n in dat)          # cap held per batch
    assert len({e for e, _n in dat}) == len(dat)  # distinct epochs
    # resume: two more commits, same checkpoint — only the delta flows
    for i in (90, 91):
        fmt.append(spark.range(i, i + 1).select(
            F.col("id").alias("x")), path)
    seen.clear()
    head2 = drain_stream(spark, path, sink, str(tmp_path / "ckpt"),
                         max_commits_per_trigger=3)
    assert head2 == 11
    assert sum(n for _e, n in seen if n > 0) == 2


@pytest.mark.slow
def test_change_feed_reconstructs_partition_overwrites(registered,
                                                       tmp_path):
    """Round 15: a DYNAMIC partition overwrite has per-row change
    identity in the log (the commit records exactly which values were
    replaced), so the feed reconstructs it — preimage rows tagged
    ``delete`` from the pre-state files matching the replaced values,
    the staged dir tagged ``insert`` — across chained overwrites, the
    NULL partition, flat appends mixed in, and replay equality with
    the live snapshot."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), (None, 9)], "p string, v int"),
        path, "p")                                             # v0
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 10)], "p string, v int"), path, "p")            # v1
    fmt.append(spark.createDataFrame(
        [("c", 100)], "p string, v int"), path)                # v2
    fmt.overwrite_partitions(spark.createDataFrame(
        [(None, 90), ("b", 30)], "p string, v int"), path, "p")  # v3
    feed = (spark.read.format("txnlog")
            .option("readChangeFeed", "true").load(path)
            .select("p", "v", "_change_type", "_commit_version"))
    rows = sorted([tuple(r) for r in feed.collect()],
                  key=lambda t: (t[3], t[2], t[0] or "", t[1]))
    assert rows == sorted([
        ("a", 1, "insert", 0), ("a", 2, "insert", 0),
        ("b", 3, "insert", 0), (None, 9, "insert", 0),
        ("a", 1, "delete", 1), ("a", 2, "delete", 1),
        ("a", 10, "insert", 1),
        ("c", 100, "insert", 2),
        ("b", 3, "delete", 3), (None, 9, "delete", 3),
        ("b", 30, "insert", 3), (None, 90, "insert", 3)],
        key=lambda t: (t[3], t[2], t[0] or "", t[1]))
    # range selection: only the last commit's changes
    part = (spark.read.format("txnlog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 3).load(path)
            .select("p", "v", "_change_type"))
    assert sorted([tuple(r) for r in part.collect()],
                  key=lambda t: (t[2], t[0] or "")) == [
        (None, 9, "delete"), ("b", 3, "delete"),
        (None, 90, "insert"), ("b", 30, "insert")]
    # replay equality: inserts minus deletes == the live snapshot
    live = sorted([(r.p, r.v) for r in
                   TxnLogFormat().read(spark, path).collect()],
                  key=lambda t: (t[0] is None, t[0] or "", t[1]))
    assert live == [("a", 10), ("b", 30), ("c", 100), (None, 90)]


@pytest.mark.slow
def test_change_feed_overwrite_subtracts_flat_dirs_and_still_refuses_replace_all(
        registered, tmp_path):
    """The preimage SELECTION applies executor-side when the replaced
    value lives in a flat append's DATA (not the path), and a value
    replaced twice never re-emits from the original dir (the earlier
    overwrite's subtraction applies before the selection).  Full
    rewrites (replace_all) keep refusing — they genuinely have no
    per-row identity."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(spark.createDataFrame(
        [("a", 1), ("b", 2)], "p string, v int"), path)        # v0 flat
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 10)], "p string, v int"), path, "p")            # v1
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 11)], "p string, v int"), path, "p")            # v2
    feed = (spark.read.format("txnlog")
            .option("readChangeFeed", "true").load(path)
            .select("p", "v", "_change_type", "_commit_version"))
    rows = sorted(tuple(r) for r in feed.collect())
    assert rows == [
        ("a", 1, "delete", 1),     # from the FLAT dir, data-side sel
        ("a", 1, "insert", 0), ("a", 10, "delete", 2),
        ("a", 10, "insert", 1),    # v2 deletes v1's row, NOT v0's again
        ("a", 11, "insert", 2), ("b", 2, "insert", 0)]
    fmt.overwrite_table(spark.createDataFrame(
        [("z", 0)], "p string, v int"), path)                  # v3
    with pytest.raises(Exception, match="full rewrite"):
        (spark.read.format("txnlog")
         .option("readChangeFeed", "true").load(path).collect())


def test_streaming_change_feed_crosses_partition_overwrite(
        registered, tmp_path):
    """The STREAMING change feed consumes a dynamic overwrite
    mid-stream: the next micro-batch carries the replaced rows as
    deletes plus the new rows as inserts, each exactly once."""
    spark = registered
    path = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    fmt = TxnLogFormat()
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 1), ("b", 2)], "p string, v int"), path, "p")   # v0
    q = (spark.readStream.format("txnlog")
         .option("readChangeFeed", "true").load(path)
         .writeStream.format("memory").queryName("cdc_ow")
         .option("checkpointLocation", ck).start())
    q.processAllAvailable()
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 10)], "p string, v int"), path, "p")            # v1
    q.processAllAvailable()
    q.stop()
    got = sorted((r.p, r.v, r._change_type, r._commit_version)
                 for r in spark.sql("select * from cdc_ow").collect())
    assert got == [
        ("a", 1, "delete", 1), ("a", 1, "insert", 0),
        ("a", 10, "insert", 1), ("b", 2, "insert", 0)]


def test_change_feed_overwrite_survives_post_compact_rename(
        registered, tmp_path):
    """Second-review fix: a rename of the overwrite's partition column
    is legal once a compact clears the live bookkeeping — the feed's
    preimage selection and residual anti-filters map the write-time
    name FORWARD through post-commit renames, so a historical
    overwrite range still reconstructs (previously the selection
    silently matched nothing and the deletes vanished)."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(spark.createDataFrame(
        [("a", 1), ("b", 2)], "p string, v int"), path)        # v0
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 10)], "p string, v int"), path, "p")            # v1
    fmt.compact(spark, path)                                   # v2
    fmt.alter_table(path, rename_columns={"p": "q"})           # v3
    feed = (spark.read.format("txnlog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 1)
            .option("endingVersion", 1).load(path)
            .select("q", "v", "_change_type"))
    assert sorted(tuple(r) for r in feed.collect()) == [
        ("a", 1, "delete"), ("a", 10, "insert")]


def test_anti_filter_absent_column_raises(tmp_path):
    """ADVICE r15: an overwrite-subtraction term whose column is absent
    from the mapped output means a write path bypassed the rename/drop
    guard on live overwrite bookkeeping — the executor must fail loudly
    instead of silently resurrecting the replaced partition's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        _read_arrow_batches)

    f = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), f)
    mapping = [("a", "a", pa.int64())]
    # present column still filters (the healthy path)
    (out,) = list(_read_arrow_batches(
        f, mapping, anti=[("a", ["1"], False)]))
    assert out.column("a").to_pylist() == [2]
    with pytest.raises(ValueError, match="absent from the mapped"):
        list(_read_arrow_batches(
            f, mapping, anti=[("gone", ["1"], False)]))


def test_change_feed_replays_after_legal_column_drop(registered,
                                                     tmp_path):
    """Round-16 review fix: once compaction retires the overwrite
    bookkeeping, dropping the column is legal — a HISTORICAL window
    replay then maps to the current column-less schema and the
    subtraction term simply cannot apply; the feed must not raise
    (the loud invariant holds for snapshot reads only)."""
    spark = registered
    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.append(spark.createDataFrame(
        [("a", 1), ("b", 2)], "p string, v int"), path)        # v0
    fmt.overwrite_partitions(spark.createDataFrame(
        [("a", 10)], "p string, v int"), path, "p")            # v1
    fmt.compact(spark, path)                                   # v2
    fmt.alter_table(path, drop_columns=["p"])                  # v3
    feed = (spark.read.format("txnlog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 0)
            .option("endingVersion", 1).load(path)
            .select("v", "_change_type"))
    got = sorted(tuple(r) for r in feed.collect())
    # window inserts replay (mapped to the p-less schema); the
    # overwrite emits its images as before the drop, minus p
    assert (1, "insert") in got and (2, "insert") in got
    assert (10, "insert") in got
