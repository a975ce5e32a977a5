"""Commit-log checkpointing (VERDICT r7 item 1): Delta
``_last_checkpoint`` parity for the TxnLogFormat.

Claims pinned here:
- a checkpoint is pure METADATA: reads, time travel, history, txn
  dedup, restore, and data skipping are byte-identical pre/post (also
  across a fresh instance with a cold cache);
- a checkpointed table plans its reads from O(interval) log files, not
  O(history) — the scale property the feature exists for;
- ``vacuum(log_retain_hours=...)`` prunes only files strictly below the
  latest checkpoint; current reads and streams survive, pre-horizon
  time travel raises the documented error instead of a wrong answer;
- the txnlog streaming source plans pre-checkpoint backlog from the
  checkpoint's live entries + commit-recorded file lists (no os.walk),
  and raises on a genuinely missing committed version (ADVICE r7).
"""

from __future__ import annotations

import json
import os

import pytest

from datalake_ingestion_system_spark.sinks import Snapshot, TxnLogFormat


def _mk(spark, lo, hi, tag="t"):
    return spark.createDataFrame(
        [(i, tag) for i in range(lo, hi)], "id int, tag string").coalesce(1)


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.slow
def test_checkpoint_is_pure_metadata(spark, tmp_path):
    """A mixed history (appends, dynamic-partition overwrite, DV delete,
    alter, restore) must read byte-identical before a checkpoint, after
    it, and from a FRESH instance that has never seen the raw prefix —
    including time travel to every pre-checkpoint version while the raw
    records remain."""
    fmt = TxnLogFormat(checkpoint_interval=None)  # manual control
    path = str(tmp_path / "t")
    p = lambda rows: spark.createDataFrame(rows, "p string, v int")
    fmt.append(p([("a", 1), ("b", 2)]), path)                    # v0
    fmt.overwrite_partitions(p([("a", 10)]), path, "p")          # v1
    fmt.append(p([("c", 3)]), path)                              # v2
    assert fmt.delete_where_dv(spark, path, "v = 2") == 1        # v3
    fmt.alter_table(path, rename_columns={"v": "val"},
                    add_columns={"score": "double"})             # v4
    fmt.restore(spark, path, 3)                                  # v5
    fmt.append(p([("d", 4)]), path)                              # v6
    before = _rows(fmt.read(spark, path))
    travels = {v: _rows(fmt.read(spark, path, as_of_version=v))
               for v in range(7)}
    hist_before = fmt.history(path)

    v = fmt.checkpoint(path)
    assert v == 6
    assert os.path.exists(os.path.join(
        path, "_txn_log", "000000000006.checkpoint.json"))
    ptr = json.load(open(os.path.join(path, "_txn_log",
                                      "_last_checkpoint")))
    assert ptr["version"] == 6

    assert _rows(fmt.read(spark, path)) == before
    fresh = TxnLogFormat()  # cold cache, reads via checkpoint + tail
    assert _rows(fresh.read(spark, path)) == before
    for v, want in travels.items():
        assert _rows(fresh.read(spark, path, as_of_version=v)) == want
    # history prefers the raw records while they exist
    assert fresh.history(path) == hist_before
    # post-checkpoint writes keep composing
    fresh.append(p([("e", 5)]), path)                            # v7
    assert _rows(fresh.read(spark, path)) \
        == sorted(before + [("e", 5)])
    # checkpointing is idempotent
    fmt.checkpoint(path)


@pytest.mark.slow
def test_auto_checkpoint_every_interval(spark, tmp_path):
    fmt = TxnLogFormat(checkpoint_interval=3)
    path = str(tmp_path / "t")
    for i in range(7):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)
    cps = [n for n in os.listdir(os.path.join(path, "_txn_log"))
           if n.endswith(".checkpoint.json")]
    assert sorted(cps) == ["000000000003.checkpoint.json",
                           "000000000006.checkpoint.json"]
    assert len(fmt.read(spark, path).collect()) == 14
    # planning view: latest checkpoint + tail only
    commits = fmt._commits(path)
    assert commits[0]["action"] == "checkpoint"
    assert commits[0]["version"] == 6
    assert len(commits) == 1


def test_checkpointed_read_plans_from_o_tail_files(tmp_path):
    """The scale regression VERDICT r7 asks for: a table with hundreds
    of commits plans a read from the latest checkpoint + tail — the
    parse count is bounded by the interval, not the history.  Commits
    are fabricated through ``_commit`` with pyarrow-staged files (no
    Spark) so the test covers 120 commits in seconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    fmt = TxnLogFormat(checkpoint_interval=10)
    path = str(tmp_path / "t")
    schema_json = ('{"type":"struct","fields":[{"name":"id","type":'
                   '"integer","nullable":true,"metadata":{}}]}')
    for i in range(120):
        rel = os.path.join("_txn_data", f"d{i:04d}")
        os.makedirs(os.path.join(path, rel))
        pq.write_table(pa.table({"id": pa.array([i], pa.int32())}),
                       os.path.join(path, rel, "part-0.parquet"))
        fmt._commit(path, {"action": "append", "dir": rel,
                           "schema": schema_json})
    # the parse cache is PROCESS-wide since round 11 (the writer above
    # already parsed its own records while checkpointing) — clear it so
    # this still measures what a genuinely fresh reader parses
    import datalake_ingestion_system_spark.sinks as _sk
    _sk._LOG_CACHE.clear()
    fresh = TxnLogFormat()
    commits = fresh._commits(path)
    # cp@120 + nothing? no: head is 119... cp at 110 + tail 111..119
    assert commits[0]["action"] == "checkpoint"
    assert commits[0]["version"] == 110
    assert len(commits) == 1 + (119 - 110)
    # the lazy loader parsed exactly the files it planned from
    parsed = fresh._log_cache[path]["recs"]
    assert len(parsed) == len(commits)
    # live entries carry the staged file names — planning needs no walk
    live = Snapshot.fold(commits).live
    assert len(live) == 120
    assert all(e["files"] for e in live)


@pytest.mark.slow
def test_vacuum_log_retention_and_horizon_error(spark, tmp_path):
    """``vacuum(log_retain_hours=0)`` prunes commit files strictly below
    the checkpoint (never at/after it); the current read and every
    post-checkpoint time travel still work from checkpoint + tail;
    pre-horizon time travel and timestamp travel raise the documented
    horizon error; history collapses to what the log still holds."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(5):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)         # v0..v4
    fmt.checkpoint(path)                                         # cp@4
    fmt.append(_mk(spark, 100, 102), path)                       # v5
    before = _rows(fmt.read(spark, path))
    t5 = _rows(fmt.read(spark, path, as_of_version=5))

    deleted = fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
    pruned = sorted(n for n in deleted if n.startswith("_txn_log"))
    assert pruned == [os.path.join("_txn_log", f"{v:012d}.json")
                      for v in range(4)]
    names = os.listdir(os.path.join(path, "_txn_log"))
    assert "000000000004.json" in names           # AT the checkpoint
    assert "000000000005.json" in names           # after it
    assert "000000000004.checkpoint.json" in names

    fresh = TxnLogFormat()
    assert _rows(fresh.read(spark, path)) == before
    assert _rows(fresh.read(spark, path, as_of_version=5)) == t5
    assert _rows(fresh.read(spark, path, as_of_version=4)) \
        == sorted(set(before) - {(100, "t"), (101, "t")})
    with pytest.raises(ValueError, match="checkpoint horizon"):
        fresh.read(spark, path, as_of_version=2)
    with pytest.raises(ValueError, match="checkpoint horizon|at or before"):
        fresh.read(spark, path, as_of_timestamp=1.0)
    with pytest.raises(ValueError, match="checkpoint horizon"):
        fresh.restore(spark, path, 2)
    # restore to a post-horizon version still works
    fresh.restore(spark, path, 4)
    assert _rows(fresh.read(spark, path)) \
        == sorted(set(before) - {(100, "t"), (101, "t")})
    # history = the surviving span, with the pruned prefix as its
    # checkpoint row
    hist = fresh.history(path)
    assert [h["version"] for h in hist] == [6, 5, 4]
    assert hist[-1]["action"] == "checkpoint"


@pytest.mark.slow
def test_log_pruning_folds_pre_checkpoint_restore_first(spark, tmp_path):
    """A tail ``restore`` targeting a pre-checkpoint version resolves
    through the raw prefix; pruning that prefix would brick every read.
    ``vacuum(log_retain_hours=...)`` must fold a fresh checkpoint at the
    head first, then prune below it — reads stay correct throughout."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(4):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)        # v0..v3
    fmt.checkpoint(path)                                        # cp@3
    fmt.restore(spark, path, 1)                                 # v4: pre-cp
    want = _rows(fmt.read(spark, path))
    assert want == _rows(fmt.read(spark, path, as_of_version=1))

    fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
    cps = sorted(n for n in os.listdir(os.path.join(path, "_txn_log"))
                 if n.endswith(".checkpoint.json"))
    assert cps[-1] == "000000000004.checkpoint.json"  # folded at head
    fresh = TxnLogFormat()
    assert _rows(fresh.read(spark, path)) == want
    fresh.append(_mk(spark, 200, 202), path)
    assert _rows(fresh.read(spark, path)) \
        == sorted(want + [(200, "t"), (201, "t")])


def test_txn_watermarks_survive_checkpoint_and_pruning(spark, tmp_path):
    """Idempotent-transaction watermarks ride the checkpoint: after the
    pre-checkpoint records are pruned, a replayed epoch still skips and
    the next epoch still applies — exactly-once across log cleanup."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    one = lambda v: spark.createDataFrame([(v,)], "v int")
    for i in range(4):
        fmt.append(one(i), path, txn_app="job", txn_version=i)
    fmt.checkpoint(path)
    fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
    fresh = TxnLogFormat()
    fresh.append(one(999), path, txn_app="job", txn_version=2)  # replay
    assert sorted(r.v for r in fresh.read(spark, path).collect()) \
        == [0, 1, 2, 3]
    fresh.append(one(4), path, txn_app="job", txn_version=4)    # next
    assert sorted(r.v for r in fresh.read(spark, path).collect()) \
        == [0, 1, 2, 3, 4]


@pytest.mark.slow
def test_stream_plans_backlog_from_checkpoint_without_walk(
        spark, tmp_path, monkeypatch):
    """A FRESH stream over a checkpointed, log-pruned, append-only table
    must still drain the whole backlog — planned from the checkpoint's
    live entries and commit-recorded file lists, with zero ``os.walk``
    in the offset-planning path (VERDICT r7 item 2)."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(4):
        fmt.append(_mk(spark, i * 10, i * 10 + 3), path)
    fmt.checkpoint(path)                                        # cp@3
    fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
    fmt.append(_mk(spark, 100, 103), path)                      # v4 tail

    reader = TxnLogStreamReader(fmt.read(spark, path).schema,
                                {"path": path})
    walked = []
    real_walk = os.walk
    monkeypatch.setattr(os, "walk",
                        lambda *a, **k: walked.append(a) or real_walk(*a))
    parts = reader.partitions({"version": -1},
                              reader.latestOffset())
    assert walked == []
    assert len(parts) == 5  # one coalesced file per append
    import pyarrow as pa
    got = sorted(r for p in parts for b in reader.read(p)
                 for r in b.column(0).to_pylist())
    assert got == sorted(
        [i * 10 + j for i in range(4) for j in range(3)]
        + [100, 101, 102])
    # resuming past the checkpoint plans only the tail
    assert len(reader.partitions({"version": 3},
                                 {"version": 4})) == 1


def test_stream_raises_on_missing_committed_version(spark, tmp_path):
    """ADVICE r7: a genuinely absent committed version in the planned
    range is log corruption — the stream must fail its exactly-once
    contract loudly, never silently drop that commit's rows."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(3):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)
    schema = fmt.read(spark, path, as_of_version=0).schema
    os.unlink(os.path.join(path, "_txn_log", "000000000001.json"))
    reader = TxnLogStreamReader(schema, {"path": path})
    with pytest.raises(ValueError, match="missing from the log"):
        reader.partitions({"version": -1}, {"version": 2})


@pytest.mark.slow
def test_uniform_appends_read_as_one_scan(spark, tmp_path):
    """Scan batching: N uniform append commits must read as ONE parquet
    relation (schema pinned from the commit record), not an N-way
    union — the logical-plan-width killer for streaming tables with
    hundreds of epoch commits.  Mixed signatures (hive-partitioned
    staging, schema drift, alter eras) keep solo/grouped scans and stay
    byte-identical."""
    fmt = TxnLogFormat(checkpoint_interval=5)
    path = str(tmp_path / "t")
    for i in range(12):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)
    df = fmt.read(spark, path)
    assert sorted(r.id for r in df.collect()) \
        == sorted(j for i in range(12) for j in (i * 10, i * 10 + 1))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Union" not in plan
    # drifted schema opens its own group; both still read correctly
    fmt.append(spark.createDataFrame([(999, "z", 1.5)],
                                     "id int, tag string, w double")
               .coalesce(1), path)
    got = fmt.read(spark, path)
    assert got.filter("w is not null").count() == 1
    plan2 = got._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("Scan parquet") == 2


@pytest.mark.slow
def test_details_is_metadata_only(spark, tmp_path):
    """DESCRIBE DETAIL analogue: file counts/bytes come from the
    commit-recorded sizes (no storage walk), reflect retirements and
    compaction, and survive checkpoint + log pruning."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(4):
        fmt.append(_mk(spark, i * 10, i * 10 + 3), path)
    d = fmt.details(path)
    assert d["version"] == 3 and d["num_live_files"] == 4
    assert d["size_unknown_files"] == 0 and d["size_bytes"] > 0
    assert d["checkpoint_version"] is None
    fmt.compact(spark, path, small_file_bytes=1 << 30)
    fmt.checkpoint(path)
    fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
    d2 = fmt.details(path)
    assert d2["num_live_files"] == 1           # merged
    assert d2["num_removed_files"] == 4        # originals retired
    assert d2["checkpoint_version"] == 4
    walked = []
    real_walk = os.walk
    try:
        os.walk = lambda *a, **k: walked.append(a) or real_walk(*a)
        fmt.details(path)
    finally:
        os.walk = real_walk
    assert walked == []


def test_details_counts_legacy_records_without_file_lists(spark, tmp_path):
    """ADVICE r8: commits from before file recording (no ``files`` key)
    must still COUNT in num_live_files (one walk for the legacy dir)
    and land in size_unknown_files — not silently vanish from the
    detail view."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(_mk(spark, 0, 3), path)     # v0 — made legacy below
    fmt.append(_mk(spark, 10, 13), path)   # v1 — modern
    log = os.path.join(path, "_txn_log")
    rec_path = os.path.join(log, "000000000000.json")
    rec = json.load(open(rec_path))
    for k in ("files", "stats", "file_bytes"):
        rec.pop(k, None)
    with open(rec_path, "w") as f:
        json.dump(rec, f)
    d = TxnLogFormat().details(path)
    assert d["num_live_files"] == 2
    assert d["size_unknown_files"] == 1
    assert d["size_bytes"] > 0


def _stream_reader(schema, path, **opts):
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    return TxnLogStreamReader(schema, {"path": path, **opts})


@pytest.mark.slow
def test_stream_detects_restore_folded_into_checkpoint(spark, tmp_path):
    """ADVICE r8 medium: the snapshot fold replays a RESTORE into pure
    append entries, so a checkpoint that folds one used to look
    append-only to the stream — a restart with a pre-checkpoint offset
    silently skipped the retraction.  The checkpoint now persists a
    ``data_changed`` flag; the stream must raise without ignoreChanges
    and emit only the surviving appends with it."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(3):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)  # v0..v2
    fmt.restore(spark, path, 1)                           # v3 retracts v2
    fmt.checkpoint(path)                                  # cp@3 folds it
    cp = json.load(open(os.path.join(
        path, "_txn_log", "000000000003.checkpoint.json")))
    assert cp["state"]["data_changed"] is True
    schema = fmt.read(spark, path).schema
    reader = _stream_reader(schema, path)
    with pytest.raises(ValueError, match="data changes"):
        reader.partitions({"version": -1}, {"version": 3})
    # ignoreChanges: only the post-restore surviving appends are emitted
    r2 = _stream_reader(schema, path, ignorechanges="true")
    parts = r2.partitions({"version": -1}, {"version": 3})
    got = sorted(r for p in parts for b in r2.read(p)
                 for r in b.column(0).to_pylist())
    assert got == [0, 1, 10, 11]
    # a later checkpoint folding this one carries the flag forward
    fmt.append(_mk(spark, 100, 101), path)                # v4
    fmt.checkpoint(path)
    cp2 = json.load(open(os.path.join(
        path, "_txn_log", "000000000004.checkpoint.json")))
    assert cp2["state"]["data_changed"] is True


def test_stream_gap_detection_on_legacy_checkpoint(spark, tmp_path):
    """Pre-upgrade checkpoints carry no ``data_changed`` flag — the
    conservative reconstruction must still catch a folded restore via
    the version gap among its append entries."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(3):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)  # v0..v2
    fmt.restore(spark, path, 1)                           # v3
    fmt.checkpoint(path)                                  # cp@3
    cp_path = os.path.join(path, "_txn_log",
                           "000000000003.checkpoint.json")
    cp = json.load(open(cp_path))
    del cp["state"]["data_changed"]                       # simulate legacy
    with open(cp_path, "w") as f:
        json.dump(cp, f)
    schema = fmt.read(spark, path).schema
    reader = _stream_reader(schema, path)
    with pytest.raises(ValueError, match="data changes"):
        reader.partitions({"version": -1}, {"version": 3})


def test_pure_append_checkpoint_records_no_change(spark, tmp_path):
    """Append + alter histories fold with data_changed=False — streams
    keep draining folded backlogs without ignoreChanges."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for i in range(3):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)
    fmt.alter_table(path, add_columns={"score": "double"})
    fmt.checkpoint(path)
    cp = json.load(open(os.path.join(
        path, "_txn_log", "000000000003.checkpoint.json")))
    assert cp["state"]["data_changed"] is False
    schema = fmt.read(spark, path).schema
    reader = _stream_reader(schema, path)
    assert len(reader.partitions({"version": -1}, {"version": 3})) == 3


def test_string_stats_truncation_never_false_prunes(spark, tmp_path):
    """Delta-parity string-stats truncation (VERDICT r7 item 3): 32+
    char min/max are widened to a prefix lower bound and a
    prefix-successor upper bound.  Pruning on long-string predicates
    must stay correct — a value beyond the true max but below the
    widened bound is simply not pruned (conservative), and a value
    provably outside the widened range still is."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    long_a = "a" * 40
    long_b = "b" * 40
    fmt.append(spark.createDataFrame([(long_a,), (long_b,)],
                                     "s string").coalesce(1), path)
    fmt.append(spark.createDataFrame([("zz",)],
                                     "s string").coalesce(1), path)
    rec = fmt._raw_full(path)[0]
    mn, mx = list(rec["stats"].values())[0]["s"][:2]
    assert mn == "a" * 32 and mx == "b" * 31 + "c"  # widened bounds
    # equality on the real long value: inside the widened range -> the
    # file is scanned and the row found
    got = fmt.read(spark, path, where=f"s = '{long_b}'")
    assert [r.s for r in got.collect()] == [long_b]
    # the second file ('zz') is provably outside and pruned
    assert len(got.inputFiles()) == 1
    # a probe above the widened bound prunes file 1, keeps file 2
    got2 = fmt.read(spark, path, where="s >= 'x'")
    assert [r.s for r in got2.collect()] == ["zz"]
    assert len(got2.inputFiles()) == 1


def test_untruncatable_max_records_no_stats(spark, tmp_path):
    """A 32+ char max of U+10FFFF has no successor — the column records
    no stats (never pruned on) instead of a wrong bound."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    big = chr(0x10FFFF) * 40
    fmt.append(spark.createDataFrame([(big,)], "s string").coalesce(1),
               path)
    rec = fmt._raw_full(path)[0]
    s = list(rec["stats"].values())[0]["s"]
    assert s[:2] == [None, None]  # no comparison bounds recorded
    assert s[2:] == [0, 1]        # null count still rides along
    got = fmt.read(spark, path, where=f"s >= '{chr(0x10FFFF)}'")
    assert got.count() == 1


_RACE_WRITER = r"""
import os, sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
import pyarrow.parquet as pq
from datalake_ingestion_system_spark.sinks import TxnLogFormat

path = sys.argv[1]
fmt = TxnLogFormat(checkpoint_interval=None)
schema_json = ('{{"type":"struct","fields":[{{"name":"id","type":'
               '"integer","nullable":true,"metadata":{{}}}}]}}')
for i in range(40):
    rel = os.path.join("_txn_data", f"d{{i:04d}}")
    os.makedirs(os.path.join(path, rel))
    pq.write_table(pa.table({{"id": pa.array([i], pa.int32())}}),
                   os.path.join(path, rel, "part-0.parquet"))
    fmt._commit(path, {{"action": "append", "dir": rel,
                        "schema": schema_json}})
    if i and i % 7 == 0:
        fmt.checkpoint(path)
        fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
print("done")
"""


def test_reader_survives_concurrent_checkpoint_and_prune(tmp_path):
    """Cross-process race: one process appends, checkpoints, and
    log-prunes in a loop while this process plans reads with FRESH
    format instances the whole time.  Planning must never crash (a
    racing prune between listing and parse falls back like a
    pre-existing gap), every successful plan must resolve a consistent
    prefix (live count == head+1 for this append-only table), and
    visibility must be monotone."""
    import subprocess
    import sys as _sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    writer = tmp_path / "writer.py"
    writer.write_text(_RACE_WRITER.format(repo=repo))
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_txn_log"))
    proc = subprocess.Popen([_sys.executable, str(writer), path],
                            stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    seen_head = -1
    plans = 0
    try:
        while proc.poll() is None or plans == 0:
            fmt = TxnLogFormat()  # cold cache every iteration
            commits = fmt._commits(path)
            if not commits:
                continue
            head = commits[-1]["version"]
            assert head >= seen_head, "visibility went backwards"
            seen_head = head
            live = Snapshot.fold(commits).live
            assert len(live) == head + 1, \
                f"inconsistent prefix: {len(live)} live at head {head}"
            fmt.details(path)
            plans += 1
    finally:
        out, err = proc.communicate(timeout=120)
    assert proc.returncode == 0, err
    assert out.strip() == "done"
    assert plans > 10  # the loop genuinely overlapped the writer
    # settled state: checkpoint + tail, all 40 pieces live
    fmt = TxnLogFormat()
    commits = fmt._commits(path)
    assert commits[0]["action"] == "checkpoint"
    assert len(Snapshot.fold(commits).live) == 40


@pytest.mark.slow
def test_checkpoint_sidecar_forms_and_threshold(spark, tmp_path):
    """VERDICT r8 item 1 (Delta multi-part parquet-checkpoint parity):
    below ``checkpoint_sidecar_files`` the checkpoint JSON stays
    self-contained; at/above it the per-file stats/bytes maps publish
    as a parquet sidecar with a pointer in the JSON.  Reads, data
    skipping, DESCRIBE DETAIL, and size-targeted compaction behave
    identically across both forms — and with a sidecar the ONLY
    possible stats carrier is the sidecar (the lone commit is folded),
    so the assertions pin the columnar path."""
    # inline form (default threshold far above 3 files)
    small = TxnLogFormat(checkpoint_interval=None)
    p1 = str(tmp_path / "small")
    for i in range(3):
        small.append(_mk(spark, i * 10, i * 10 + 2), p1)
    small.checkpoint(p1)
    cp = json.load(open(os.path.join(
        p1, "_txn_log", "000000000002.checkpoint.json")))
    assert "stats" in cp and "file_bytes" in cp
    assert "stats_sidecar" not in cp
    assert not [n for n in os.listdir(os.path.join(p1, "_txn_log"))
                if n.endswith(".parquet")]

    # sidecar form
    fmt = TxnLogFormat(checkpoint_interval=None,
                       checkpoint_sidecar_files=3)
    p2 = str(tmp_path / "big")
    df = spark.createDataFrame([(i, float(i)) for i in range(40)],
                               "id int, v double")
    fmt.append(df.repartitionByRange(4, "id"), p2)        # v0: 4 files
    before = sorted(r.id for r in fmt.read(spark, p2).collect())
    fmt.checkpoint(p2)
    cp2 = json.load(open(os.path.join(
        p2, "_txn_log", "000000000000.checkpoint.json")))
    assert cp2["stats_sidecar"] == "000000000000.checkpoint.stats.parquet"
    assert "stats" not in cp2 and "file_bytes" not in cp2
    assert os.path.exists(os.path.join(
        p2, "_txn_log", cp2["stats_sidecar"]))

    fresh = TxnLogFormat(checkpoint_interval=None)
    assert sorted(r.id for r in fresh.read(spark, p2).collect()) == before
    # skipping served from the sidecar: 1 of 4 range files opened
    got = fresh.read(spark, p2, where="id >= 30")
    assert sorted(r.id for r in got.collect()) == list(range(30, 40))
    assert len(got.inputFiles()) == 1
    # details served from the sidecar
    d = fresh.details(p2)
    assert d["num_live_files"] == 4 and d["size_unknown_files"] == 0
    assert d["size_bytes"] > 0
    # size-targeted compaction selects from the sidecar byte counts
    out = fresh.compact(spark, p2, small_file_bytes=1 << 30)
    assert out["rewritten_files"] == 4
    assert sorted(r.id for r in fresh.read(spark, p2).collect()) == before


def test_checkpoint_sidecar_alter_fold_and_log_pruning(spark, tmp_path):
    """Sidecar stats keep each file's original recording version, so
    alter-aware pruning (rename inversion) still works; a SECOND
    checkpoint folds the first one's sidecar stats forward; vacuum's
    log cleanup prunes superseded sidecars and keeps the latest."""
    fmt = TxnLogFormat(checkpoint_interval=None,
                       checkpoint_sidecar_files=2)
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(40)],
                               "id int, v double")
    fmt.append(df.repartitionByRange(4, "id"), path)      # v0
    fmt.checkpoint(path)                                  # cp@0 + sidecar
    fmt.alter_table(path, rename_columns={"id": "ident"})  # v1
    fmt.checkpoint(path)                                  # cp@1 folds cp@0
    fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
    names = os.listdir(os.path.join(path, "_txn_log"))
    assert "000000000001.checkpoint.stats.parquet" in names
    assert "000000000000.checkpoint.stats.parquet" not in names
    assert "000000000000.checkpoint.json" not in names

    fresh = TxnLogFormat(checkpoint_interval=None)
    # pre-rename stats (recorded at v0 under 'id') prune the renamed
    # predicate through the fold — 1 of 4 files opened, rows exact
    got = fresh.read(spark, path, where="ident >= 30")
    assert sorted(r.ident for r in got.collect()) == list(range(30, 40))
    assert len(got.inputFiles()) == 1


def test_checkpoint_sidecar_missing_degrades_conservatively(
        spark, tmp_path):
    """A deleted/damaged sidecar must never produce a wrong answer:
    reads lose SKIPPING (all files open) and details lose sizes, but
    rows and counts stay exact."""
    fmt = TxnLogFormat(checkpoint_interval=None,
                       checkpoint_sidecar_files=2)
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(40)],
                               "id int, v double")
    fmt.append(df.repartitionByRange(4, "id"), path)
    fmt.checkpoint(path)
    os.unlink(os.path.join(
        path, "_txn_log", "000000000000.checkpoint.stats.parquet"))
    fresh = TxnLogFormat(checkpoint_interval=None)
    got = fresh.read(spark, path, where="id >= 30")
    assert sorted(r.id for r in got.collect()) == list(range(30, 40))
    assert len(got.inputFiles()) == 4      # no pruning, still correct
    d = fresh.details(path)
    assert d["num_live_files"] == 4
    assert d["size_unknown_files"] == 4    # sizes unknown, not wrong


@pytest.mark.slow
def test_checkpoint_schema_dictionary_and_file_markers(spark, tmp_path):
    """Checkpoint JSON is O(live dirs), never O(files x schema bytes):
    per-entry schemas dictionary-encode into ``state.schemas`` (one
    entry per DISTINCT schema), and in sidecar form the entries' file
    lists collapse to ``"sidecar"`` markers rehydrated from the
    parquet sidecar.  Reads, the streaming source, and a pre-dictionary
    (legacy inline-schema) checkpoint all stay byte-identical."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogStreamReader)
    fmt = TxnLogFormat(checkpoint_interval=None,
                       checkpoint_sidecar_files=3)
    path = str(tmp_path / "t")
    for i in range(5):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), path)   # one schema
    fmt.append(spark.createDataFrame([(999, "z", 1.5)],
                                     "id int, tag string, w double")
               .coalesce(1), path)                         # second schema
    before = _rows(fmt.read(spark, path))
    fmt.checkpoint(path)                                   # cp@5
    cp = json.load(open(os.path.join(
        path, "_txn_log", "000000000005.checkpoint.json")))
    # schemas deduped: 6 entries, 2 distinct schemas, no inline copies
    assert len(cp["state"]["schemas"]) == 2
    assert all("schema" not in e for e in cp["state"]["live"])
    assert sorted({e["schema_idx"] for e in cp["state"]["live"]}) \
        == [0, 1]
    # sidecar form: every recorded file list is a marker in the JSON
    assert cp["stats_sidecar"]
    assert all(e["files"] == "sidecar" for e in cp["state"]["live"])

    fresh = TxnLogFormat()
    assert _rows(fresh.read(spark, path)) == before
    # drifted-schema entry still scans in its own group post-hydration
    assert fresh.read(spark, path).filter("w is not null").count() == 1

    # stream drains a folded sidecar-form backlog with zero os.walk
    # (uniform-schema table: drift appends are the stream's documented
    # refusal, unrelated to the sidecar)
    p2 = str(tmp_path / "t2")
    for i in range(5):
        fmt.append(_mk(spark, i * 10, i * 10 + 2), p2)
    fmt.checkpoint(p2)
    cp2 = json.load(open(os.path.join(
        p2, "_txn_log", "000000000004.checkpoint.json")))
    assert cp2["stats_sidecar"]
    fmt.vacuum(p2, retain_hours=1e6, log_retain_hours=0.0)
    reader = TxnLogStreamReader(fmt.read(spark, p2).schema,
                                {"path": p2})
    walked = []
    real_walk = os.walk
    os.walk = lambda *a, **k: walked.append(a) or real_walk(*a)
    try:
        parts = reader.partitions({"version": -1}, {"version": 4})
    finally:
        os.walk = real_walk
    assert walked == []
    got = sorted(r for p in parts for b in reader.read(p)
                 for r in b.column(0).to_pylist())
    assert got == sorted(i * 10 + j for i in range(5) for j in range(2))

    # pre-dictionary compat: rewrite the checkpoint to the legacy
    # inline-schema shape; a cold instance must read identically
    cp_path = os.path.join(path, "_txn_log",
                           "000000000005.checkpoint.json")
    legacy = json.load(open(cp_path))
    schemas = legacy["state"].pop("schemas")
    for e in legacy["state"]["live"]:
        idx = e.pop("schema_idx")
        e["schema"] = None if idx is None else schemas[idx]
    with open(cp_path, "w") as f:
        json.dump(legacy, f)
    assert _rows(TxnLogFormat().read(spark, path)) == before


def test_sidecar_hydration_keeps_retired_files_subtracted(
        spark, tmp_path):
    """Retired (rewrite_files) names stay in their entry's sidecar rows
    so hydration rebuilds the SAME lists the inline form records — and
    read's file pruning still subtracts them (opening a retired file
    would resurrect pre-compaction rows)."""
    fmt = TxnLogFormat(checkpoint_interval=None,
                       checkpoint_sidecar_files=2)
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(40)],
                               "id int, v double")
    fmt.append(df.repartitionByRange(4, "id"), path)        # v0: 4 files
    fmt.compact(spark, path, small_file_bytes=1 << 30,
                target_file_bytes=1 << 30)                  # v1 retires 4
    before = sorted(r.id for r in fmt.read(spark, path).collect())
    fmt.checkpoint(path)                                    # cp@1 sidecar
    fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
    fresh = TxnLogFormat()
    got = fresh.read(spark, path)
    assert sorted(r.id for r in got.collect()) == before == list(range(40))
    # only the merged survivor file is opened — the four retired
    # originals are hydrated AND subtracted, not resurrected
    assert len(got.inputFiles()) == 1
    assert fresh.details(path)["num_removed_files"] == 4


@pytest.mark.slow
def test_vectorized_sidecar_skipping_matches_rowwise(spark, tmp_path):
    """The typed-column vectorized skipping path must prune EXACTLY the
    files the row-wise JSON path prunes — across int/string/null-count
    stats, legacy stat-less files, alters (rename + add), blooms, and
    every clause op — randomized fixture, both paths diffed directly."""
    import random

    rnd = random.Random(77)
    fmt = TxnLogFormat(checkpoint_interval=None,
                       checkpoint_sidecar_files=1,
                       bloom_filter_columns={"s": 512})
    path = str(tmp_path / "t")
    # 12 commits of varied shape: disjoint/overlapping int ranges,
    # strings, null-heavy and all-null columns
    for i in range(12):
        lo = rnd.randrange(0, 500, 25)
        rows = [(lo + j,
                 rnd.choice(["ash", "birch", "cedar", None]),
                 None if rnd.random() < 0.3 else float(j))
                for j in range(6)]
        fmt.append(spark.createDataFrame(
            rows, "k long, s string, v double").coalesce(1), path)
    fmt.alter_table(path, rename_columns={"k": "kk"},
                    add_columns={"extra": "int"})
    fmt.append(spark.createDataFrame(
        [(7, "dogwood", 1.0, 5)], "kk long, s string, v double, extra int")
        .coalesce(1), path)
    fmt.checkpoint(path)

    commits = fmt._commits(path)
    assert commits[0]["action"] == "checkpoint" \
        and commits[0].get("stats_sidecar")
    snap = Snapshot.fold(commits)
    wheres = [
        "kk = 75", "kk >= 400", "kk < 50", "kk <= 0", "kk > 475",
        "kk BETWEEN 100 AND 200", "kk IN (75, 300)", "kk IN (9999)",
        "s = 'cedar'", "s = 'zzz'", "s IN ('ash', 'zzz')", "s > 'x'",
        "s IS NULL", "s IS NOT NULL", "v IS NULL", "v IS NOT NULL",
        "extra = 5", "extra IS NULL", "kk = 75 AND s = 'ash'",
        "kk = 7 AND extra = 5",
    ]
    for where in wheres:
        clauses = fmt._skip_clauses(where)
        assert clauses, where
        vec = fmt._clause_excluded_files(path, snap, clauses)
        # force the row-wise JSON path
        orig = TxnLogFormat._sidecar_excluded
        TxnLogFormat._sidecar_excluded = classmethod(
            lambda cls, p, r, m, _want_kept=False: None)
        try:
            fresh = TxnLogFormat()
            row = fresh._clause_excluded_files(path, snap, clauses)
        finally:
            TxnLogFormat._sidecar_excluded = orig
        assert vec == row, (where, vec ^ row)
        # and the pruned read stays correct vs an unpruned filter
        got = sorted(map(tuple, fmt.read(spark, path, where=where)
                         .collect()), key=repr)
        want = sorted(map(tuple, fmt.read(spark, path)
                          .filter(where).collect()), key=repr)
        assert got == want, where


@pytest.mark.slow
def test_process_wide_log_cache_semantics(spark, tmp_path):
    """Round-11 snapshot cache: parsed records (and a checkpoint's
    hydration) are shared across instances — sound because log files
    are immutable once linked.  New commits are still seen immediately
    (the listing is per call), a table REBUILT at the same path drops
    the stale entries via the origin identity, and the path count is
    LRU-bounded."""
    import shutil

    import datalake_ingestion_system_spark.sinks as sk

    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    fmt.append(_mk(spark, 0, 3), path)
    a = TxnLogFormat()
    assert a.read(spark, path).count() == 3
    # a second instance reuses the SAME parsed record objects
    b = TxnLogFormat()
    assert b._commits(path)[0] is a._commits(path)[0]
    # new commits are visible immediately across instances
    fmt.append(_mk(spark, 10, 12), path)
    assert b.read(spark, path).count() == 5
    # rebuild the table at the same path: origin changes, cache drops
    shutil.rmtree(path)
    fmt2 = TxnLogFormat(checkpoint_interval=None)
    fmt2.append(_mk(spark, 100, 101), path)
    assert a.read(spark, path).count() == 1
    assert a.read(spark, path).head().id == 100
    # LRU bound: flooding with distinct paths evicts, never grows
    for i in range(sk._LOG_CACHE_MAX_PATHS + 8):
        p = str(tmp_path / f"flood{i}")
        fmt.append(_mk(spark, i, i + 1), p)
        fmt._commits(p)
    assert len(sk._LOG_CACHE) <= sk._LOG_CACHE_MAX_PATHS
    # evicted paths still read correctly (cache re-fills on demand)
    assert a.read(spark, path).count() == 1


@pytest.mark.slow
def test_kept_mode_survivor_pruning(spark, tmp_path):
    """Round 13: with a typed sidecar, one clause group, and no alters,
    the read plan materializes the SURVIVOR list (O(kept)) instead of
    the excluded set (O(live files)) — and both forms agree with the
    unpruned filter.  Mixed-era (post-checkpoint tail commits) and
    retired files must stay correctly handled in kept mode."""
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=10,
                       checkpoint_sidecar_files=8)  # force sidecar form
    for i in range(25):
        fmt.append(spark.createDataFrame(
            [(i * 10 + j, f"s{i}") for j in range(4)],
            "k long, s string").coalesce(1), path)
    # targeted update retires one file through a rewrite
    fmt.update_where(spark, path, "k = 55", {"s": "'rewritten'"})
    commits = fmt._commits(path)
    assert commits[0]["action"] == "checkpoint"
    clauses = fmt._skip_clauses("k = 101")
    # the sidecar pass really returns the kept form here
    got = fmt._sidecar_excluded(path, commits[0],
                                _mapped_const(clauses), _want_kept=True)
    assert isinstance(got, tuple) and isinstance(got[1], dict)
    kept_files = [rf for fl in got[1].values() for rf in fl]
    assert len(kept_files) == 1  # one distinct-range file survives
    # end-to-end: kept-mode read == unpruned filter, across eras
    for where in ("k = 101", "k = 55", "k < 12", "k >= 240",
                  "k IN (7, 55, 248)", "k = 99999"):
        got_rows = sorted(map(tuple, fmt.read(spark, path, where=where)
                              .collect()))
        want = sorted(map(tuple, fmt.read(spark, path)
                          .filter(where).collect()))
        assert got_rows == want, where


def _mapped_const(clauses):
    def mapped_for(sv):
        return clauses
    mapped_for.version_independent = True
    return mapped_for
