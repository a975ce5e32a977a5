"""Protocol versioning (Delta table-features parity: minReaderVersion/
minWriterVersion generalized to readerFeatures/writerFeatures sets).

The gate completes the foreign-writer interop story
(``test_foreign_writer.py``): tolerance there is for unknown KEYS on
known actions — adjectives that cannot change what a commit means.
This suite pins the complement: unknown ACTIONS, and feature names a
``set_protocol`` commit requires that this engine does not implement,
must refuse loudly (``ProtocolError``) on read AND write — an unknown
action could subtract rows in a way the replay would silently miss, so
best-effort reading is exactly the wrong-answer path a format must
never take (Delta protocol §"Protocol Evolution")."""

import json
import os

import pytest

from datalake_ingestion_system_spark.sinks import (
    ProtocolError, TxnLogFormat)


def _df(spark, lo=0, hi=10):
    return spark.range(lo, hi).withColumnRenamed("id", "k")


def _table(spark, tmp_path, fmt=None, n_appends=2):
    fmt = fmt or TxnLogFormat(checkpoint_interval=None)
    t = str(tmp_path / "t")
    for i in range(n_appends):
        fmt.append(_df(spark, i * 10, i * 10 + 10), t)
    return fmt, t


def _inject(path, version, record):
    """Write a raw commit record the way a foreign writer would —
    bypassing every engine-side check."""
    log = os.path.join(path, "_txn_log")
    with open(os.path.join(log, f"{version:012d}.json"), "w") as f:
        json.dump({**record, "version": version}, f)


class TestSetProtocol:
    def test_roundtrip_and_details(self, spark, tmp_path):
        fmt, t = _table(spark, tmp_path)
        v = fmt.set_protocol(t, reader_features=["deletion_vectors"],
                             writer_features=["identity_columns"])
        assert fmt.protocol(t) == {
            "reader_features": ["deletion_vectors"],
            "writer_features": ["identity_columns"]}
        assert fmt.details(t)["protocol"]["reader_features"] == [
            "deletion_vectors"]
        # supported features never block this engine
        assert fmt.read(spark, t).count() == 20
        fmt.append(_df(spark), t)
        assert fmt.read(spark, t).count() == 30
        # metadata-only commit: history shows it with data_change False
        h = [r for r in fmt.history(t) if r["version"] == v]
        assert h and h[0]["action"] == "set_protocol"
        assert h[0]["data_change"] is False

    def test_upgrade_is_monotone_union(self, spark, tmp_path):
        fmt, t = _table(spark, tmp_path)
        fmt.set_protocol(t, reader_features=["deletion_vectors"])
        fmt.set_protocol(t, reader_features=["bloom_filters"],
                         writer_features=["generated_columns"])
        assert fmt.protocol(t)["reader_features"] == [
            "bloom_filters", "deletion_vectors"]
        # an already-required feature is an idempotent no-op: no commit
        head = fmt.details(t)["version"]
        got = fmt.set_protocol(t, reader_features=["deletion_vectors"])
        assert got == head == fmt.details(t)["version"]

    def test_unknown_feature_requires_opt_in(self, spark, tmp_path):
        fmt, t = _table(spark, tmp_path)
        with pytest.raises(ValueError, match="unknown feature"):
            fmt.set_protocol(t, reader_features=["row_tracking_v9"])
        with pytest.raises(ValueError, match="non-empty strings"):
            fmt.set_protocol(t, reader_features=[7])

    def test_restore_never_downgrades(self, spark, tmp_path):
        fmt, t = _table(spark, tmp_path)
        fmt.set_protocol(t, reader_features=["row_tracking_v9"],
                         allow_unknown=True)
        # the protocol is monotone over the WHOLE log: restoring to a
        # pre-upgrade version must not reopen the table to an engine
        # that cannot interpret post-upgrade commits (Delta parity) —
        # and indeed this engine can no longer even WRITE the restore
        with pytest.raises(ProtocolError):
            fmt.restore(spark, t, 0)


class TestReaderGate:
    def test_future_feature_blocks_read_write_stream(self, spark,
                                                     tmp_path):
        fmt, t = _table(spark, tmp_path)
        fmt.set_protocol(t, reader_features=["row_tracking_v9"],
                         allow_unknown=True)
        with pytest.raises(ProtocolError, match="row_tracking_v9"):
            fmt.read(spark, t)
        with pytest.raises(ProtocolError):
            fmt.append(_df(spark), t)
        # history() stays readable BY DESIGN: it reports raw records
        # without interpreting them into data — the diagnosis path for
        # "what upgraded this table" must not itself be gated
        assert any(r["action"] == "set_protocol" for r in fmt.history(t))
        # details() RESOLVES state, so it is gated like a read
        with pytest.raises(ProtocolError):
            fmt.details(t)
        # the streaming source plans through the same gate
        from datalake_ingestion_system_spark.sources.txnlog_stream import (
            TxnLogDataSource)
        spark.dataSource.register(TxnLogDataSource)
        with pytest.raises(Exception, match="row_tracking_v9"):
            (spark.readStream.format("txnlog").load(t)
             .writeStream.format("memory").queryName("proto_gate")
             .trigger(availableNow=True).start().awaitTermination())

    def test_writer_only_feature_still_reads(self, spark, tmp_path):
        fmt, t = _table(spark, tmp_path)
        fmt.set_protocol(t, writer_features=["compaction_v9"],
                         allow_unknown=True)
        # writer features gate writes, never reads (Delta parity: an
        # old engine can read a table it must not write)
        assert fmt.read(spark, t).count() == 20
        assert fmt.history(t)[0]["action"] == "set_protocol"
        with pytest.raises(ProtocolError, match="compaction_v9"):
            fmt.append(_df(spark), t)
        with pytest.raises(ProtocolError):
            fmt.delete_where(spark, t, "k = 1")

    def test_time_travel_checks_the_snapshot_not_the_head(self, spark,
                                                          tmp_path):
        fmt, t = _table(spark, tmp_path)
        v = fmt.set_protocol(t, reader_features=["row_tracking_v9"],
                             allow_unknown=True)
        # pre-upgrade snapshots remain readable; the upgrade version
        # itself (and anything after) is gated
        assert fmt.read(spark, t, as_of_version=v - 1).count() == 20
        with pytest.raises(ProtocolError):
            fmt.read(spark, t, as_of_version=v)

    def test_gate_survives_checkpoint_fold_and_log_prune(self, spark,
                                                         tmp_path):
        fmt = TxnLogFormat(checkpoint_interval=3)
        fmt_t = _table(spark, tmp_path, fmt=fmt, n_appends=1)
        _, t = fmt_t
        fmt.set_protocol(t, reader_features=["deletion_vectors"])
        for i in range(6):
            fmt.append(_df(spark, i * 10, i * 10 + 10), t)
        fmt.vacuum(t, retain_hours=0.0, log_retain_hours=0.0)
        # the set_protocol commit itself may be pruned — the checkpoint
        # carries the protocol forward (Delta checkpoints embed the
        # protocol action)
        raw = [n for n in os.listdir(os.path.join(t, "_txn_log"))
               if n.endswith(".json")
               and not n.endswith(".checkpoint.json")]
        assert f"{1:012d}.json" not in raw, "upgrade commit not pruned"
        assert fmt.protocol(t)["reader_features"] == ["deletion_vectors"]
        assert fmt.read(spark, t).count() == 70


class TestUnknownAction:
    def test_unknown_action_fails_read_and_write_loudly(self, spark,
                                                        tmp_path):
        fmt, t = _table(spark, tmp_path)
        _inject(t, 2, {"action": "reorg_v9", "dir": None})
        with pytest.raises(ProtocolError, match="reorg_v9"):
            fmt.read(spark, t)
        with pytest.raises(ProtocolError):
            fmt.append(_df(spark), t)
        # the un-gated diagnosis path reports the foreign action
        assert any(r["action"] == "reorg_v9" for r in fmt.history(t))

    def test_unknown_action_blocks_only_plans_that_replay_it(
            self, spark, tmp_path):
        # the gate is per-PLAN: a time-travel prefix that ends below
        # the foreign record never replays it, so it still reads —
        # only plans whose replay would have to interpret the unknown
        # action refuse
        fmt = TxnLogFormat(checkpoint_interval=None)
        t = str(tmp_path / "t")
        fmt.append(_df(spark), t)
        fmt.append(_df(spark, 10, 20), t)
        _inject(t, 2, {"action": "reorg_v9", "dir": None})
        assert fmt.read(spark, t, as_of_version=1).count() == 20
        with pytest.raises(ProtocolError):
            fmt.read(spark, t)

    def test_unknown_action_is_not_misread_as_an_append(self, spark,
                                                        tmp_path):
        """The hazard the gate exists for: the snapshot fold's fallback arm
        treats unrecognized actions as append-shaped.  A 'reorg' that
        REMOVES rows, misread as an append, would silently resurrect
        them — assert the engine refuses instead of returning 30 rows."""
        fmt, t = _table(spark, tmp_path)
        d = os.path.join(t, "_txn_data", "foreign-reorg")
        os.makedirs(d)
        import pyarrow as pa
        import pyarrow.parquet as pq
        pq.write_table(pa.table({"k": pa.array(range(5), pa.int64())}),
                       os.path.join(d, "part-0.parquet"))
        _inject(t, 2, {"action": "reorg_v9",
                       "dir": "_txn_data/foreign-reorg",
                       "files": ["_txn_data/foreign-reorg/part-0.parquet"]})
        with pytest.raises(ProtocolError):
            fmt.read(spark, t).count()


class TestMetadataOnlySemantics:
    def test_stream_treats_upgrade_as_metadata(self, spark, tmp_path):
        """A mid-stream supported-feature upgrade must not break or
        re-emit — same contract as set_properties."""
        from datalake_ingestion_system_spark.sources.txnlog_stream import (
            TxnLogDataSource)
        spark.dataSource.register(TxnLogDataSource)
        fmt, t = _table(spark, tmp_path, n_appends=1)
        out = str(tmp_path / "out")
        ck = str(tmp_path / "ck")
        q = (spark.readStream.format("txnlog").load(t)
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ck).start())
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 10
        fmt.set_protocol(t, reader_features=["deletion_vectors"])
        fmt.append(_df(spark, 10, 20), t)
        q.processAllAvailable()
        q.stop()
        assert spark.read.parquet(out).count() == 20

    def test_checkpoint_span_with_only_upgrade_is_unchanged_data(
            self, spark, tmp_path):
        fmt = TxnLogFormat(checkpoint_interval=2)
        t = str(tmp_path / "t")
        fmt.append(_df(spark), t)
        fmt.set_protocol(t, reader_features=["deletion_vectors"])
        fmt.append(_df(spark, 10, 20), t)  # v2 -> checkpoint at 2
        cps = [n for n in os.listdir(os.path.join(t, "_txn_log"))
               if n.endswith(".checkpoint.json")]
        assert cps, "expected an auto-checkpoint"
        with open(os.path.join(t, "_txn_log", sorted(cps)[-1])) as f:
            cp = json.load(f)
        assert cp["state"]["data_changed"] is False
        assert cp["state"]["protocol"]["reader"] == ["deletion_vectors"]

    def test_benign_retarget_aborts_on_interleaved_upgrade(self, spark,
                                                           tmp_path):
        """A protocol upgrade racing a file-targeted op: conservative
        abort (the op's snapshot may predate semantics the upgrade
        introduces), never a silent retarget."""
        from datalake_ingestion_system_spark.sinks import (
            ConcurrentWriteError)
        fmt, t = _table(spark, tmp_path)
        orig = fmt._commit

        def racing(path, record, expected_version=None, **kw):
            if record["action"] in ("rewrite_files", "replace_all") \
                    and not getattr(racing, "fired", False):
                racing.fired = True
                orig(path, {"action": "set_protocol",
                            "reader_features": ["deletion_vectors"],
                            "writer_features": [], "dir": None,
                            "partition_col": None, "partitions": []})
            return orig(path, record,
                        expected_version=expected_version, **kw)

        fmt._commit = racing
        with pytest.raises(ConcurrentWriteError):
            fmt.compact(spark, t)
        fmt._commit = orig
        assert fmt.read(spark, t).count() == 20
