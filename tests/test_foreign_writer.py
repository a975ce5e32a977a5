"""Foreign-writer interoperability: a LOG format is only a format if
records written by OTHER serializers — different JSON key order, extra
unknown keys, absent optional fields — read, plan, checkpoint, and
conflict-check exactly like native ones (forward/backward compat,
Delta protocol §"Requirements for Writers" reader-tolerance analogue).

The deterministic regression here pins VERDICT r9's one defect: the
WriteSerializable benign-append retarget used raw string schema
equality, so a foreign writer's key-order-different (semantically
identical) schema defeated retargeting and an append storm could starve
maintenance forever (reproduced as the
``test_multiprocess_targeted_delete_vs_append_storm`` flake).  The fix
is structural comparison (``sinks._schema_json_eq``)."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datalake_ingestion_system_spark.sinks import (
    TxnLogFormat, _schema_canonical, _schema_json_eq)

#: The SAME single-column schema Spark serializes as
#: ``{"fields":[{"metadata":{},"name":"id","nullable":true,
#: "type":"long"}],"type":"struct"}`` (keys sorted), re-serialized the
#: way a foreign engine plausibly would: top-level ``type`` first,
#: per-field ``name`` first.
FOREIGN_SCHEMA = ('{"type":"struct","fields":[{"name":"id","type":"long",'
                  '"nullable":true,"metadata":{}}]}')


def _foreign_append(fmt, path, rel_name, ids, schema=FOREIGN_SCHEMA,
                    extra=None, with_files=True):
    """Publish an append the way a minimal foreign writer would: stage a
    parquet file with pyarrow (no Spark), then commit a hand-built
    record — optionally with extra unknown keys or without the optional
    ``files`` list (a legacy/minimal record)."""
    rel = os.path.join("_txn_data", rel_name)
    os.makedirs(os.path.join(path, rel))
    pq.write_table(pa.table({"id": pa.array(ids, pa.int64())}),
                   os.path.join(path, rel, "part-0.parquet"))
    rec = {"action": "append", "dir": rel, "schema": schema}
    if with_files:
        rec["files"] = [os.path.join(rel, "part-0.parquet")]
    if extra:
        rec.update(extra)
    return fmt._commit(path, rec)


def test_schema_json_eq_is_structural():
    spark_form = ('{"fields":[{"metadata":{},"name":"id","nullable":true,'
                  '"type":"long"}],"type":"struct"}')
    assert spark_form != FOREIGN_SCHEMA          # the string compare lies
    assert _schema_json_eq(spark_form, FOREIGN_SCHEMA)
    assert _schema_json_eq(spark_form, spark_form)
    assert not _schema_json_eq(spark_form, None)
    assert not _schema_json_eq(None, spark_form)
    assert _schema_json_eq(None, None)           # both absent: equal
    widened = spark_form.replace('"type":"struct"',
                                 '"type":"struct"').replace(
        '"name":"id"', '"name":"other"')
    assert not _schema_json_eq(spark_form, widened)
    # unparseable input degrades to the (failed) string compare
    assert not _schema_json_eq("not json", spark_form)
    assert _schema_json_eq("not json", "not json")
    # canonical keying collapses the serialization difference
    assert _schema_canonical(spark_form) == _schema_canonical(
        FOREIGN_SCHEMA)
    assert _schema_canonical("not json") == "not json"


def test_benign_retarget_survives_foreign_schema_serialization(
        spark, tmp_path, monkeypatch):
    """THE deterministic r9-defect regression: an out-of-key-order
    (semantically identical) foreign append lands between a targeted
    delete's snapshot read and its publish — the delete must RETARGET
    past it (WriteSerializable benign-append tolerance), not abort with
    ConcurrentWriteError."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(i,) for i in range(5)],
                                     "id long"), path)
    base = fmt._snapshot(path).schema
    assert base != FOREIGN_SCHEMA                 # different strings...
    assert json.loads(base) == json.loads(FOREIGN_SCHEMA)  # ...same schema

    orig_stage = fmt._stage
    injected = {}

    def stage_then_interleave(df, p, pcol, **kw):
        rel = orig_stage(df, p, pcol, **kw)
        if "v" not in injected:
            # the delete's snapshot is already read; this append takes
            # the version the delete expected, forcing the conflict path
            injected["v"] = _foreign_append(
                TxnLogFormat(), path, "foreign_race", [99])
        return rel

    monkeypatch.setattr(fmt, "_stage", stage_then_interleave)
    assert fmt.delete_where(spark, path, "id = 2") == 1  # no abort
    assert injected["v"] == 1                     # the race really ran
    rows = sorted(r.id for r in fmt.read(spark, path).collect())
    assert rows == [0, 1, 3, 4, 99]               # neither write lost
    # and the interleaved history is gapless: append, foreign, rewrite
    commits = fmt._commits(path)
    assert [c["action"] for c in commits] == \
        ["append", "append", "rewrite_files"]


def test_benign_retarget_still_conflicts_on_real_schema_change(
        spark, tmp_path, monkeypatch):
    """Structural equality must not LOOSEN the matrix: an interleaved
    append whose schema genuinely differs (new column) still aborts —
    retargeting a stale-schema rewrite above it would roll the resolved
    schema back and silently drop the column."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(i,) for i in range(5)],
                                     "id long"), path)
    widened = ('{"type":"struct","fields":['
               '{"name":"id","type":"long","nullable":true,"metadata":{}},'
               '{"name":"v","type":"long","nullable":true,"metadata":{}}]}')
    orig_stage = fmt._stage
    injected = {}

    def stage_then_interleave(df, p, pcol, **kw):
        rel = orig_stage(df, p, pcol, **kw)
        if "v" not in injected:
            rel2 = os.path.join("_txn_data", "foreign_widened")
            os.makedirs(os.path.join(path, rel2))
            pq.write_table(
                pa.table({"id": pa.array([99], pa.int64()),
                          "v": pa.array([1], pa.int64())}),
                os.path.join(path, rel2, "part-0.parquet"))
            injected["v"] = TxnLogFormat()._commit(
                path, {"action": "append", "dir": rel2,
                       "schema": widened})
        return rel

    monkeypatch.setattr(fmt, "_stage", stage_then_interleave)
    with pytest.raises(ConcurrentWriteError):
        fmt.delete_where(spark, path, "id = 2")
    # conservative abort: the widened append survives, nothing deleted
    assert fmt.read(spark, path).count() == 6


def test_mixed_writer_reads_and_batch_grouping(spark, tmp_path):
    """Appends from Spark (sorted-key schema) and a foreign writer
    (reordered-key schema) interleave; reads see every row, and the
    scan-batching signature collapses the two serializations into ONE
    multi-path relation (canonical keying) instead of splitting the
    scan per serializer."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    # one file per append (whatever the default parallelism): four
    # tiny files, each its own scan partition
    fmt.append(spark.createDataFrame([(0,), (1,)], "id long").coalesce(1),
               path)
    _foreign_append(fmt, path, "f0", [10, 11])
    fmt.append(spark.createDataFrame([(2,)], "id long").coalesce(1), path)
    _foreign_append(fmt, path, "f1", [12])
    df = fmt.read(spark, path)
    assert sorted(r.id for r in df.collect()) == [0, 1, 2, 10, 11, 12]
    # one pinned-schema relation for all four flat appends: every
    # input file reached the scan (no entry was dropped by grouping)
    assert len(df.inputFiles()) == df.rdd.getNumPartitions() >= 1
    assert len({f.rsplit("/", 2)[-2] for f in df.inputFiles()}) == 4


def test_unknown_record_keys_are_tolerated(spark, tmp_path):
    """Forward compat: a record from a NEWER foreign writer carrying
    keys this reader does not know must read/plan/history/checkpoint
    without error — tolerant-reader discipline."""
    fmt = TxnLogFormat(checkpoint_interval=3)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(0,)], "id long"), path)
    _foreign_append(fmt, path, "f0", [1],
                    extra={"engineInfo": "foreignEngine/9.9",
                           "operationParameters": {"mode": "Append"},
                           "futureFeatureBlob": [1, 2, 3]})
    fmt.append(spark.createDataFrame([(2,)], "id long"), path)
    _foreign_append(fmt, path, "f1", [3])   # v3 -> checkpoint at v3
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == \
        [0, 1, 2, 3]
    # a FRESH reader plans from the checkpoint fold of those records
    fresh = TxnLogFormat()
    assert sorted(r.id for r in fresh.read(spark, path).collect()) == \
        [0, 1, 2, 3]
    hist = fmt.history(path)
    assert [h["version"] for h in hist] == [3, 2, 1, 0]
    # time travel across the foreign commit
    assert sorted(r.id for r in
                  fmt.read(spark, path, as_of_version=1).collect()) == [0, 1]


def test_missing_optional_fields_are_tolerated(spark, tmp_path):
    """Backward compat: a MINIMAL record (no ``files`` list, no
    ``stats``, no ``file_bytes``, no ``ts``) — the shape the earliest
    protocol wrote — still reads, stats-pruning simply cannot skip its
    files, and size accounting reports it as unknown rather than
    guessing."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(0,)], "id long"), path)
    # hand-write the log record to guarantee NOTHING optional is present
    rel = os.path.join("_txn_data", "minimal")
    os.makedirs(os.path.join(path, rel))
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}),
                   os.path.join(path, rel, "part-0.parquet"))
    log = os.path.join(path, "_txn_log")
    with open(os.path.join(log, "000000000001.json"), "w") as f:
        json.dump({"version": 1, "action": "append", "dir": rel,
                   "schema": FOREIGN_SCHEMA}, f)
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [0, 1]
    # predicate reads stay CORRECT without stats (no skip, no error)
    assert [r.id for r in
            fmt.read(spark, path, where="id = 1").collect()] == [1]
    det = fmt.details(path)
    assert det["size_unknown_files"] >= 1
    # a delete interleaving with such a minimal append still retargets
    # (schema matches structurally; absence of optionals is benign)
    assert fmt.delete_where(spark, path, "id = 0") == 1


def test_builtin_retries_on_row_level_ops(spark, tmp_path):
    """``retries=N`` (Delta retries conflicting commits internally): a
    non-benign interleave — an overwrite racing a merge — makes the
    first attempt lose; with ``retries=1`` the op re-runs against the
    fresh head and succeeds, with the default it still fails fast."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError

    path = str(tmp_path / "t")
    fmt = TxnLogFormat()
    fmt.overwrite_table(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double"),
        path)
    racer = TxnLogFormat()

    def make_racing(fmt_):
        orig = fmt_._stage
        state = {"raced": False}

        def stage_then_overwrite(df, p, pcol, **kw):
            rel = orig(df, p, pcol, **kw)
            if not state["raced"]:
                state["raced"] = True
                # replace_all interleave: NEVER benign for any op
                racer.overwrite_table(spark.createDataFrame(
                    [(1, 11.0), (2, 21.0), (3, 31.0)],
                    "k long, v double"), path)
            return rel
        return stage_then_overwrite

    src = spark.createDataFrame([(2, 99.0), (4, 44.0)], "k long, v double")
    fmt._stage = make_racing(fmt)
    with pytest.raises(ConcurrentWriteError):
        fmt.merge(spark, path, src, "k")        # default: fail fast
    fmt._stage = make_racing(fmt)               # fresh one-shot racer
    res = fmt.merge(spark, path, src, "k", retries=1)
    assert res == {"inserted": 1, "updated": 1, "deleted": 0}
    got = {(r.k, r.v) for r in fmt.read(spark, path).collect()}
    # second attempt merged onto the racer's overwrite — nothing lost
    assert got == {(1, 11.0), (2, 99.0), (3, 31.0), (4, 44.0)}
    with pytest.raises(ValueError, match="retries"):
        fmt.delete_where(spark, path, "k = 1", retries=-1)
    # retries on a conflict-free call is a no-op passthrough
    assert fmt.delete_where(spark, path, "k = 1", retries=2) == 1
