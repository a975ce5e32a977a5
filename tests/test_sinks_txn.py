"""TxnLogFormat: the transactional TableFormat that runs in-container.

VERDICT r4 item 5: the Delta swap was a seam with zero test coverage; this
file makes the TableFormat contract hold for a SECOND, transactional
implementation — staged-then-atomically-published commits, dynamic
partition overwrite by value subtraction, crash invisibility, optimistic
version retry, and the full ingest protocol end-to-end.
"""

import json
import os

import pyspark.sql.functions as F
import pytest

from datalake_ingestion_system_spark.plans import ingest as ing
from datalake_ingestion_system_spark.sinks import (ConcurrentWriteError,
                                                   Snapshot, TxnLogFormat)
from datalake_ingestion_system_spark.sources import registry


def run(spark, fx, **kw):
    conf = registry.load_registry(spark, fx["mapping"])
    return ing.ingest(spark, fx["landing"], fx["storing"], conf,
                      fx["state"], fx["quarantine"], **kw)


def test_overwrite_replaces_only_listed_partitions(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "p string, v int")
    fmt.overwrite_partitions(df1, path, "p")
    df2 = spark.createDataFrame([("b", 20), ("c", 30)], "p string, v int")
    fmt.overwrite_partitions(df2, path, "p")
    got = {(r.p, r.v) for r in fmt.read(spark, path).collect()}
    # partition a survives from v0; b is REPLACED by v1; c is new
    assert got == {("a", 1), ("b", 20), ("c", 30)}


def test_append_accumulates_and_compact_preserves(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for i in range(3):
        fmt.append(spark.createDataFrame([(i,)], "v int"), path)
    before = sorted(r.v for r in fmt.read(spark, path).collect())
    assert before == [0, 1, 2]
    fmt.compact(spark, path)
    commits = fmt._commits(path)
    assert commits[-1]["action"] == "replace_all"
    after = sorted(r.v for r in fmt.read(spark, path).collect())
    assert after == before
    # a compacted table replays exactly ONE live directory
    fmt.append(spark.createDataFrame([(9,)], "v int"), path)
    assert sorted(r.v for r in fmt.read(spark, path).collect()) == [0, 1, 2, 9]


def test_staged_but_uncommitted_data_is_invisible(spark, tmp_path):
    """The crash window: data staged, commit file never created — readers
    must not see it (the atomicity the reference's JSON state lacked)."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,)], "v int"), path)
    # simulate a writer dying after staging, before committing
    fmt._stage(spark.createDataFrame([(999,)], "v int"), path, None)
    assert [r.v for r in fmt.read(spark, path).collect()] == [1]


def test_version_collision_retries_to_next(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,)], "v int"), path)
    # another writer grabs version 1 out from under us
    blocker = os.path.join(fmt._log_dir(path), f"{1:012d}.json")
    with open(blocker, "w") as f:
        json.dump({"action": "append", "dir": "_txn_data/none",
                   "version": 1}, f)
    os.makedirs(os.path.join(path, "_txn_data/none"), exist_ok=True)
    spark.createDataFrame([(5,)], "v int").write.mode("overwrite").parquet(
        os.path.join(path, "_txn_data/none"))
    fmt.append(spark.createDataFrame([(2,)], "v int"), path)
    versions = [c["version"] for c in fmt._commits(path)]
    assert versions == [0, 1, 2]
    assert sorted(r.v for r in fmt.read(spark, path).collect()) == [1, 2, 5]


def test_null_partition_round_trip(spark, tmp_path):
    """A null partition value must survive replay filtering and be
    replaceable like any other value."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    df1 = spark.createDataFrame([("a", 1), (None, 2)], "p string, v int")
    fmt.overwrite_partitions(df1, path, "p")
    got = {(r.p, r.v) for r in fmt.read(spark, path).collect()}
    assert got == {("a", 1), (None, 2)}
    df2 = spark.createDataFrame([(None, 20)], "p string, v int")
    fmt.overwrite_partitions(df2, path, "p")
    got = {(r.p, r.v) for r in fmt.read(spark, path).collect()}
    assert got == {("a", 1), (None, 20)}


def test_vacuum_sweeps_only_unreferenced_old_dirs(spark, tmp_path):
    """Vacuum removes superseded/orphaned data dirs past the retention
    window, never anything a live commit references, and never young dirs
    (an in-flight writer's staging must survive)."""
    import os
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for i in range(3):
        fmt.append(spark.createDataFrame([(i,)], "v int"), path)
    fmt._stage(spark.createDataFrame([(99,)], "v int"), path, None)  # orphan
    fmt.compact(spark, path)  # supersedes the three appends
    # young dirs: nothing is old enough to sweep
    assert fmt.vacuum(path) == []
    # age everything; only the compacted dir is referenced by the live log
    data_root = os.path.join(path, "_txn_data")
    for n in os.listdir(data_root):
        os.utime(os.path.join(data_root, n), (0, 0))
    deleted = fmt.vacuum(path, retain_hours=1.0)
    assert len(deleted) == 4  # 3 superseded appends + 1 orphan
    assert sorted(r.v for r in fmt.read(spark, path).collect()) == [0, 1, 2]
    # idempotent
    assert fmt.vacuum(path, retain_hours=1.0) == []


@pytest.mark.slow
def test_txnlog_matches_model_under_random_op_sequences(spark, tmp_path):
    """Model-based check: any interleaving of append / overwrite_partitions /
    compact must leave read() equal to a trivial in-memory model — the
    replay algebra (value subtraction, replace_all reset) has no
    sequence-dependent surprises.  Hypothesis-style coverage with a seeded
    exhaustible generator (a Spark round-trip per example keeps the example
    budget small)."""
    import itertools
    import random
    rng = random.Random(20260814)
    fmt = TxnLogFormat()
    counter = itertools.count()
    for example in range(4):
        path = str(tmp_path / f"t{example}")
        model: dict = {}  # partition value -> list of (p, v) rows
        appended: list = []
        for _ in range(rng.randint(3, 6)):
            op = rng.choice(["append", "overwrite", "overwrite", "compact"])
            if op == "append":
                rows = [(rng.choice("abc"), next(counter))
                        for _ in range(rng.randint(1, 3))]
                fmt.append(spark.createDataFrame(rows, "p string, v long"),
                           path)
                appended.extend(rows)
            elif op == "overwrite":
                parts = rng.sample("abcd", rng.randint(1, 2))
                rows = [(p, next(counter)) for p in parts
                        for _ in range(rng.randint(1, 2))]
                fmt.overwrite_partitions(
                    spark.createDataFrame(rows, "p string, v long"),
                    path, "p")
                appended = [r for r in appended if r[0] not in parts]
                for p in parts:
                    model[p] = [r for r in rows if r[0] == p]
            elif model or appended:
                fmt.compact(spark, path)
        if not model and not appended:
            continue
        expect = sorted(r for rs in model.values() for r in rs) \
            + sorted(appended)
        got = sorted((r.p, r.v) for r in fmt.read(spark, path).collect())
        assert got == sorted(expect), f"example {example}"


@pytest.mark.slow
def test_ingest_end_to_end_through_txnlog(spark, landing):
    """The full ingest protocol (overwrite_partitions + two appends +
    state read-back) through the transactional format: same converged
    counts as the parquet default, and a re-run is a no-op because state
    reads come back through the commit log."""
    fmt = TxnLogFormat()
    rep = run(spark, landing, fmt=fmt)
    assert rep.processed == 2 and rep.empty == 1
    data = fmt.read(spark, landing["storing"] + "/daily/CUSTOMER_MASTER")
    assert data.count() == 5
    assert data.filter(F.col("TRANSFERRED_DATE")
                       .cast("string") == "2019-06-01").count() == 3
    assert fmt.read(spark, landing["state"]).count() == 3
    assert fmt.read(spark, landing["quarantine"]).count() == 4
    rep2 = run(spark, landing, fmt=fmt)  # idempotent: nothing pending
    assert rep2.processed == 0
    assert fmt.read(spark, landing["state"]).count() == 3


@pytest.mark.slow
def test_maintenance_flow_through_txnlog(spark, landing, tmp_path):
    """The maintenance tier (schema-evolution merge + user-zone replication
    + config backup) routed through the transactional format end-to-end on
    top of a txn-ingested lake."""
    from datalake_ingestion_system_spark.plans import maintenance as mnt
    fmt = TxnLogFormat()
    conf = registry.load_registry(spark, landing["mapping"])
    ing.ingest(spark, landing["landing"], landing["storing"], conf,
               landing["state"], landing["quarantine"], fmt=fmt)
    src = landing["storing"] + "/daily/CUSTOMER_MASTER"
    out = landing["storing"] + "/daily/CUSTOMER_MASTER_LAYOUTCHANGED"
    assert mnt.merge_evolved_table(spark, src, out, fmt=fmt) == 5
    merged = fmt.read(spark, out)
    assert "EMAIL" in merged.columns
    assert merged.filter("EMAIL IS NULL").count() == 3
    gm = spark.createDataFrame(
        [("CUSTOMER_MASTER", "grp_a", "daily", "user-bkt-1")],
        "TABLE string, GROUP string, FEQ string, USER_BUCKET string")
    dsts = mnt.replicate_to_user_zone(
        spark, landing["storing"], gm, str(tmp_path / "user"), fmt=fmt)
    assert fmt.read(spark, dsts[0]).count() == 5
    # replication is MIRROR semantics: a second run replaces, not appends
    mnt.replicate_to_user_zone(
        spark, landing["storing"], gm, str(tmp_path / "user"), fmt=fmt)
    assert fmt.read(spark, dsts[0]).count() == 5
    bkp = mnt.backup_config(conf, str(tmp_path / "bkp"),
                            ts="20190601_000000", fmt=fmt)
    assert fmt.read(spark, bkp).count() == 4


@pytest.mark.slow
def test_ingest_crash_recovery_through_txnlog(spark, landing, monkeypatch):
    """Kill the run after the data commit, before state: the re-run must
    re-process the same files via partition overwrite and converge to
    exactly-once — through the commit log, partition replacement happens at
    replay time instead of file deletion."""
    def boom(name):
        if name == "data_written":
            raise RuntimeError("injected crash at data_written")
    monkeypatch.setattr(ing, "_commit_point", boom)
    fmt = TxnLogFormat()
    with pytest.raises(RuntimeError, match="injected crash"):
        run(spark, landing, fmt=fmt)
    monkeypatch.undo()
    rep = run(spark, landing, fmt=fmt)
    assert rep.processed == 2
    data = fmt.read(spark, landing["storing"] + "/daily/CUSTOMER_MASTER")
    assert data.count() == 5  # replayed overwrite did not duplicate
    state = fmt.read(spark, landing["state"])
    assert state.groupBy("filename").count().filter("count > 1").count() == 0
    assert state.count() == 3


def test_commit_publish_is_atomic_in_content(spark, tmp_path, monkeypatch):
    """ADVICE r5 (high): the old O_EXCL-then-json.dump publish could expose
    a named-but-empty commit to a concurrent reader, and a writer crash
    between open and dump bricked the log forever.  The link-publish
    protocol must (a) never leave a partial ``*.json`` on a crash before
    publish, and (b) keep the log fully readable afterwards."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,)], "v int"), path)

    real_link = os.link

    def crash_link(src, dst):  # writer dies AFTER staging record, BEFORE publish
        raise RuntimeError("simulated crash at publish")

    monkeypatch.setattr(os, "link", crash_link)
    with pytest.raises(RuntimeError):
        fmt.append(spark.createDataFrame([(2,)], "v int"), path)
    monkeypatch.setattr(os, "link", real_link)

    # the crashed publish left no partial commit: every *.json parses, and
    # the table reads back exactly the pre-crash state
    log = fmt._log_dir(path)
    for n in os.listdir(log):
        if n.endswith(".json"):
            with open(os.path.join(log, n)) as f:
                json.load(f)  # must not raise
    assert [r.v for r in fmt.read(spark, path).collect()] == [1]
    # and the log is still writable (version numbering undisturbed)
    fmt.append(spark.createDataFrame([(3,)], "v int"), path)
    assert sorted(r.v for r in fmt.read(spark, path).collect()) == [1, 3]


def test_empty_overwrite_reads_back_as_empty_table(spark, tmp_path):
    """ADVICE r5 (low): if the only commit overwrites with an EMPTY
    DataFrame, its recorded partition set is empty, every live dir is
    skipped, and read() used to die in reduce() over an empty iterable.
    It must return an empty frame with the staged schema instead."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    empty = spark.createDataFrame([], "p string, v int")
    fmt.overwrite_partitions(empty, path, "p")
    got = fmt.read(spark, path)
    assert got.count() == 0
    assert set(got.columns) == {"p", "v"}
    # and a later real overwrite still lands normally
    fmt.overwrite_partitions(
        spark.createDataFrame([("a", 1)], "p string, v int"), path, "p")
    assert [(r.p, r.v) for r in fmt.read(spark, path).collect()] == [("a", 1)]


def test_vacuum_sweeps_stale_commit_tmp_orphans(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,)], "v int"), path)
    log = fmt._log_dir(path)
    orphan = os.path.join(log, ".deadbeef.tmp")
    with open(orphan, "w") as f:
        f.write('{"partial":')
    old = os.path.getmtime(orphan) - 8 * 24 * 3600
    os.utime(orphan, (old, old))
    deleted = fmt.vacuum(path)
    assert not os.path.exists(orphan)
    assert os.path.join("_txn_log", ".deadbeef.tmp") in deleted
    assert [r.v for r in fmt.read(spark, path).collect()] == [1]


def test_concurrent_committers_serialize_under_real_threads(spark, tmp_path):
    """The os.link publish under REAL concurrency: 8 threads race 5 commits
    each against one log.  Every commit must land exactly once, versions
    must be gapless, and every record must parse — the property the
    fsync-then-link protocol guarantees and O_EXCL-then-dump did not."""
    import threading
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_txn_log"), exist_ok=True)
    errors = []

    def committer(tid):
        try:
            for i in range(5):
                fmt._commit(path, {"action": "append",
                                   "dir": f"d{tid}_{i}",
                                   "schema": None})
        except Exception as exc:  # pragma: no cover - fail loudly below
            errors.append(exc)

    threads = [threading.Thread(target=committer, args=(t,))
               for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    # the RAW record list (auto-checkpoints fold the planning view, but
    # every commit file must still exist, parse, and be gapless)
    commits = fmt._raw_full(path)
    assert len(commits) == 40
    assert [c["version"] for c in commits] == list(range(40))  # gapless
    assert {c["dir"] for c in commits} == {
        f"d{t}_{i}" for t in range(8) for i in range(5)}  # exactly once
    # no stray tmp files left behind by the retry loop
    leftovers = [n for n in os.listdir(os.path.join(path, "_txn_log"))
                 if n.endswith(".tmp")]
    assert leftovers == []


_MP_WORKER = r"""
import json, os, sys
sys.path.insert(0, {repo!r})
from datalake_ingestion_system_spark.sinks import TxnLogFormat

path, wid = sys.argv[1], int(sys.argv[2])
fmt = TxnLogFormat()
results = []
# every process races the SAME shared idempotent pairs AND its own
# unique appends, interleaved so dedup and version claims contend
for i in range(8):
    v = fmt._commit(path, {{"action": "append", "dir": f"u{{wid}}_{{i}}",
                            "schema": None}})
    results.append(("uniq", wid, i, v))
    v = fmt._commit(path, {{"action": "append", "dir": f"s{{wid}}_{{i}}",
                            "schema": None, "txn_app": "shared",
                            "txn_version": i}})
    results.append(("shared", wid, i, v))
print(json.dumps(results))
"""


def test_multiprocess_writers_race_one_log(tmp_path):
    """VERDICT r6 item 4: the publish protocol under TRUE multi-process
    contention — four OS processes (separate interpreters, no shared
    _txn_cache, no GIL) race unique appends and one SHARED idempotent
    (app, version) sequence against a single table log.  Required:
    gapless serialized versions, every unique commit lands exactly once,
    and each shared (app, version) pair commits exactly once with every
    process agreeing on its winning version."""
    import subprocess
    import sys as _sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker = tmp_path / "worker.py"
    worker.write_text(_MP_WORKER.format(repo=repo))
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_txn_log"), exist_ok=True)
    procs = [subprocess.Popen(
        [_sys.executable, str(worker), path, str(w)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for w in range(4)]
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        outs.append(json.loads(out))

    fmt = TxnLogFormat()
    # the RAW record list: auto-checkpoints fold the planning view, but
    # the per-commit invariants below are about the physical log
    commits = fmt._raw_full(path)
    n_uniq = 4 * 8
    # exactly one commit per shared pair regardless of 4 attempts each
    # (each worker's epochs ascend, so under the monotone Delta
    # watermark rule the globally FIRST attempt of each epoch commits
    # and every later attempt skips)
    shared = [c for c in commits if c.get("txn_app") == "shared"]
    assert sorted(c["txn_version"] for c in shared) == list(range(8))
    assert len(commits) == n_uniq + 8
    assert [c["version"] for c in commits] == list(range(len(commits)))
    assert {c["dir"] for c in commits if c.get("txn_app") is None} \
        == {f"u{w}_{i}" for w in range(4) for i in range(8)}
    # cross-process dedup agreement: a skipped attempt of epoch i is
    # answered with the commit holding the app's watermark — some shared
    # commit whose txn_version is AT OR ABOVE i (Delta's monotone
    # txnAppId/txnVersion semantics); a committed attempt returns its
    # own version
    by_commit_v = {c["version"]: c["txn_version"] for c in shared}
    for res in outs:
        for kind, _wid, i, v in res:
            if kind == "shared":
                assert by_commit_v.get(v, -1) >= i, \
                    "a process saw a non-winning version"
    # round 8: the default interval auto-checkpoints DURING the race
    # (4 processes, no coordination) — exactly one checkpoint per
    # multiple-of-10 version, and the folded planning view resolves
    # the same 40 live pieces as the raw history
    cps = sorted(n for n in os.listdir(os.path.join(path, "_txn_log"))
                 if n.endswith(".checkpoint.json"))
    assert cps == [f"{v:012d}.checkpoint.json" for v in (10, 20, 30)]
    folded = fmt._commits(path)
    assert folded[0]["action"] == "checkpoint"
    assert len(Snapshot.fold(folded).live) == len(commits)
    leftovers = [n for n in os.listdir(os.path.join(path, "_txn_log"))
                 if n.endswith(".tmp")]
    assert leftovers == []


@pytest.mark.slow
def test_two_spark_processes_full_stack_race(spark, tmp_path):
    """Full-stack two-process race: each subprocess builds its OWN
    SparkSession and drives the public API (append with idempotent txns,
    then a merge) against one shared table.  Serialized versions, no
    lost rows, exactly-once shared epochs — the claim the single-process
    model check could not close."""
    import subprocess
    import sys as _sys
    import textwrap
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "writer.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from datalake_ingestion_system_spark.sinks import (
            ConcurrentWriteError, TxnLogFormat)
        path, wid = sys.argv[1], int(sys.argv[2])
        spark = (SparkSession.builder.master("local[2]")
                 .appName(f"racer{{wid}}")
                 .config("spark.sql.shuffle.partitions", "2")
                 .config("spark.ui.enabled", "false").getOrCreate())
        fmt = TxnLogFormat()
        for i in range(3):
            df = spark.createDataFrame(
                [(wid * 100 + i, f"w{{wid}}")], "id int, src string")
            fmt.append(df, path)                       # unique rows
            fmt.append(spark.createDataFrame(
                [(9000 + i, "shared")], "id int, src string"),
                path, txn_app="epoch", txn_version=i)  # contended epoch
        spark.stop()
    """))
    path = str(tmp_path / "t")
    procs = [subprocess.Popen(
        [_sys.executable, str(script), path, str(w)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for w in range(2)]
    for p in procs:
        _out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err

    fmt = TxnLogFormat()
    commits = fmt._commits(path)
    assert [c["version"] for c in commits] == list(range(len(commits)))
    # both writers' unique appends all landed; shared epochs exactly once
    shared = [c for c in commits if c.get("txn_app") == "epoch"]
    assert sorted(c["txn_version"] for c in shared) == [0, 1, 2]
    assert len(commits) == 2 * 3 + 3
    rows = sorted((r.id, r.src) for r in fmt.read(spark, path).collect())
    assert rows == sorted(
        [(w * 100 + i, f"w{w}") for w in range(2) for i in range(3)]
        + [(9000 + i, "shared") for i in range(3)])


def test_compact_of_empty_table_stays_readable(spark, tmp_path):
    """Review r6: compact() of a zero-live-row table stages a partitioned
    dir with NO part files and records it replace_all/pcol=None — the
    partition-skip never fires and read() used to die in parquet schema
    inference.  Fileless staged dirs must read as zero rows, with the
    schema restored from the commit record."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    empty = spark.createDataFrame([], "p string, v int")
    fmt.overwrite_partitions(empty, path, "p")
    fmt.compact(spark, path, partition_col="p")
    got = fmt.read(spark, path)
    assert got.count() == 0
    assert set(got.columns) == {"p", "v"}
    # and the table accepts new data afterwards
    fmt.overwrite_partitions(
        spark.createDataFrame([("a", 1)], "p string, v int"), path, "p")
    assert [(r.p, r.v) for r in fmt.read(spark, path).collect()] == [("a", 1)]


def test_time_travel_replays_log_prefix(spark, tmp_path):
    """read(as_of_version=N) must reproduce the exact state after commit N
    — including dynamic partition overwrites that later commits undid."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_partitions(
        spark.createDataFrame([("a", 1), ("b", 2)], "p string, v int"),
        path, "p")                                   # v0
    fmt.overwrite_partitions(
        spark.createDataFrame([("b", 20)], "p string, v int"), path, "p")  # v1
    fmt.append(spark.createDataFrame([("c", 30)], "p string, v int"), path)  # v2

    def state(version=None):
        return {(r.p, r.v)
                for r in fmt.read(spark, path, as_of_version=version).collect()}

    assert state(0) == {("a", 1), ("b", 2)}
    assert state(1) == {("a", 1), ("b", 20)}
    assert state(2) == state() == {("a", 1), ("b", 20), ("c", 30)}
    with pytest.raises(ValueError):
        fmt.read(spark, path, as_of_version=99)


def test_history_lists_commits_newest_first(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_partitions(
        spark.createDataFrame([("a", 1)], "p string, v int"), path, "p")
    fmt.append(spark.createDataFrame([("b", 2)], "p string, v int"), path)
    h = fmt.history(path)
    assert [x["version"] for x in h] == [1, 0]
    assert h[0]["action"] == "append"
    assert h[1]["action"] == "overwrite" and h[1]["partitions"] == ["a"]


def test_diff_versions_emits_cdf_changes(spark, tmp_path):
    """diff_versions derives the Delta-CDF change set from two time-travel
    replays: inserts, deletes, and full-row-compared updates."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "k long, name string, v long"), path)               # v0
    fmt.overwrite_table(spark.createDataFrame(
        [(1, "a", 10),            # unchanged -> absent from the feed
         (2, "b", 25),            # value changed -> update_postimage
         (4, "d", 40)],           # new -> insert ; key 3 gone -> delete
        "k long, name string, v long"), path)               # v1
    changes = {(r._change_type, r.k): (r.name, r.v)
               for r in fmt.diff_versions(spark, path, "k", 0, 1).collect()}
    assert changes == {
        ("update_postimage", 2): ("b", 25),
        ("insert", 4): ("d", 40),
        ("delete", 3): ("c", 30),   # delete carries the pre-image row
    }
    # reflexive diff is empty
    assert fmt.diff_versions(spark, path, "k", 1, 1).count() == 0


def test_time_travel_to_vacuumed_version_raises(spark, tmp_path):
    """Review r6: a missing live-commit data dir must raise, never return
    empty/partial historical state as if the table were legitimately
    empty."""
    import shutil
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,)], "v int"), path)      # v0
    fmt.compact(spark, path)                                       # v1
    v0_dir = fmt._commits(path)[0]["dir"]
    shutil.rmtree(os.path.join(path, v0_dir))  # vacuum analogue
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        fmt.read(spark, path, as_of_version=0)
    # current state (replayed from the compact) still reads fine
    assert [r.v for r in fmt.read(spark, path).collect()] == [1]


def test_diff_versions_handles_schema_evolution(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, "a")], "k long, name string"), path)  # v0
    fmt.overwrite_table(
        spark.createDataFrame([(1, "a", 9)],
                              "k long, name string, extra long"), path)  # v1
    got = {(r._change_type, r.k): (r.name, r.extra)
           for r in fmt.diff_versions(spark, path, "k", 0, 1).collect()}
    # the new column's arrival IS a row change (NULL -> 9)
    assert got == {("update_postimage", 1): ("a", 9)}


def test_check_constraints_block_violating_commits(spark, tmp_path):
    """Delta CHECK-constraint parity: a constrained TxnLogFormat validates
    the staged data BEFORE commit — violations raise, the table keeps its
    last good version, the orphaned stage dir is invisible and vacuumable.
    SQL-standard semantics: NULL passes a CHECK; only FALSE fails."""
    import os

    fmt = TxnLogFormat(constraints={"qty_pos": "qty > 0",
                                    "id_nn": "id IS NOT NULL"})
    path = str(tmp_path / "t")
    ok = spark.createDataFrame([(1, 5.0), (2, None)], "id long, qty double")
    fmt.overwrite_table(ok, path)  # NULL qty passes (UNKNOWN, not FALSE)
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 2]

    bad = spark.createDataFrame([(3, -1.0), (None, 2.0), (4, 1.0)],
                                "id long, qty double")
    with pytest.raises(ValueError, match="qty_pos.*1|1.*qty_pos"):
        fmt.append(bad, path)
    # table unchanged; exactly one commit on the log
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 2]
    assert len(fmt._commits(path)) == 1
    # the violating stage is an unreferenced orphan: swept by vacuum(0)
    n_dirs = len(os.listdir(os.path.join(path, "_txn_data")))
    assert n_dirs == 2  # good stage + orphaned bad stage
    swept = fmt.vacuum(path, retain_hours=0)
    assert len(swept) == 1
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 2]

    # an unconstrained handle on the same table is unaffected
    TxnLogFormat().append(bad.filter("id IS NOT NULL AND qty > 0"), path)
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 2, 4]


def test_restore_is_metadata_only_and_vacuum_safe(spark, tmp_path):
    """RESTORE TO VERSION AS OF as a metadata commit: no data rewrite, the
    bad versions stay time-travelable, replay resolves restores recursively
    (restore-of-restore, post-restore appends), and vacuum protects the
    re-referenced old dirs that sit BEFORE the last replace_all."""
    import os

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    A = spark.createDataFrame([(1, "a")], "k long, v string")
    B = spark.createDataFrame([(2, "b")], "k long, v string")
    fmt.overwrite_table(A, path)                      # v0
    fmt.overwrite_table(B, path)                      # v1 (the bad write)
    n_dirs = len(os.listdir(os.path.join(path, "_txn_data")))
    assert fmt.restore(spark, path, 0) == 2           # v2: metadata only
    assert len(os.listdir(os.path.join(path, "_txn_data"))) == n_dirs
    assert [tuple(r) for r in fmt.read(spark, path).collect()] == [(1, "a")]
    # history preserved: the bad version still reads, restore is visible
    assert [tuple(r) for r in
            fmt.read(spark, path, as_of_version=1).collect()] == [(2, "b")]
    head = dict(fmt.history(path)[0])
    assert head.pop("ts") is not None  # publish time recorded per commit
    assert head == {
        "version": 2, "action": "restore", "partition_col": None,
        "partitions": [], "to_version": 0, "dir": None,
        "data_change": True, "num_added_files": None,
        "added_bytes": None, "num_removed_files": 0}
    # post-restore writes compose on the restored state
    fmt.append(spark.createDataFrame([(3, "c")], "k long, v string"), path)
    assert sorted(r.k for r in fmt.read(spark, path).collect()) == [1, 3]
    # restore-of-restore: back to the bad version, then out again
    fmt.restore(spark, path, 1)                       # v4
    assert [r.k for r in fmt.read(spark, path).collect()] == [2]
    fmt.restore(spark, path, 3)                       # v5 -> {1, 3}
    assert sorted(r.k for r in fmt.read(spark, path).collect()) == [1, 3]
    # vacuum must keep v0's dir (re-referenced from before v1's
    # replace_all) — current state stays readable after vacuum(0)
    fmt.vacuum(path, retain_hours=0)
    assert sorted(r.k for r in fmt.read(spark, path).collect()) == [1, 3]
    # restoring to a version whose data is gone raises cleanly
    fmt.overwrite_table(B, path)                      # v6 supersedes all
    swept = fmt.vacuum(path, retain_hours=0)
    assert swept  # v0/append dirs now unreferenced and removed
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        fmt.restore(spark, path, 5)
    with pytest.raises(ValueError, match="does not exist"):
        fmt.restore(spark, path, 99)


def test_restore_skips_fully_shadowed_vacuumed_dirs(spark, tmp_path):
    """Review regression: restore()'s vacuum check must apply read()'s
    fully-shadowed skip — a dir whose every partition was re-overwritten
    contributes no rows, so its (age-vacuumed) absence cannot block the
    restore that read(as_of_version) already serves."""
    import os
    import shutil

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    mk = lambda v: spark.createDataFrame([(v, "P1")], "x long, p string")
    fmt.overwrite_partitions(mk(1), path, "p")          # v0 -> d0
    fmt.overwrite_partitions(mk(2), path, "p")          # v1 -> d1 shadows d0
    fmt.overwrite_table(mk(3), path)                    # v2 replace_all
    d0 = fmt._commits(path)[0]["dir"]
    shutil.rmtree(os.path.join(path, d0))               # age-based vacuum
    assert [r.x for r in
            fmt.read(spark, path, as_of_version=1).collect()] == [2]
    fmt.restore(spark, path, 1)                         # must not raise
    assert [r.x for r in fmt.read(spark, path).collect()] == [2]


def test_check_constraints_survive_partition_type_inference(spark, tmp_path):
    """Review regression: constraint validation reads the staged files
    with the WRITER'S schema — bare partition inference would retype a
    string partition value '01' to int 1 (dropping the leading zero) and
    fail length() constraints on perfectly valid data."""
    fmt = TxnLogFormat(constraints={"snap_ok": "length(SNAPSHOT) = 2"})
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "01"), (2, "10")],
                               "id long, SNAPSHOT string")
    fmt.overwrite_partitions(df, path, "SNAPSHOT")      # must not raise
    got = fmt.read(spark, path)
    assert sorted(r.id for r in got.collect()) == [1, 2]


def test_delete_where_copy_on_write(spark, tmp_path):
    """DELETE WHERE: predicate-TRUE rows go, NULL-predicate rows SURVIVE
    (SQL DELETE semantics); deleted rows stay time-travelable until
    vacuum; a no-match delete writes no commit at all."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, 10.0), (2, None), (3, -3.0)],
                               "id long, score double")
    fmt.overwrite_table(df, path)                       # v0
    assert fmt.delete_where(spark, path, "score < 0") == 1
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 2]
    # GDPR window: the deleted row is still in v0 until vacuum
    assert sorted(r.id for r in
                  fmt.read(spark, path, as_of_version=0).collect()) \
        == [1, 2, 3]
    # no matches -> zero deleted, no new commit
    n_commits = len(fmt._commits(path))
    assert fmt.delete_where(spark, path, "score > 1e9") == 0
    assert len(fmt._commits(path)) == n_commits


@pytest.mark.slow
def test_txnlog_model_with_restore_and_delete(spark, tmp_path):
    """Model check extended over the round-6 ops: random interleavings of
    append / overwrite_partitions / delete_where / update_where / DV
    delete+update / DV-threshold compaction (round 7) / restore /
    explicit checkpoint / size-targeted compaction / log-retention
    vacuum (round 8) must match an
    in-memory model that snapshots table state per commit VERSION (restore
    = jump to any recorded snapshot; delete = filtered snapshot).  Pins
    that recursive restore resolution and copy-on-write deletes compose
    with the replay algebra in any order — and, with an aggressive
    auto-checkpoint interval of 2 plus random manual checkpoints, that
    folding the log at ANY point is invisible to every subsequent op,
    read, and restore (VERDICT r8 item 1's 'byte-identical pre/post'
    gate, model-checked rather than example-checked).  Round 9:
    ``checkpoint_sidecar_files=1`` forces EVERY fold through the
    sidecar form (schema dictionary, file-list markers + rehydration,
    lazy stats) so the new checkpoint format is model-checked across
    the full op algebra, not just example-checked.  Round 9c: the
    delete/update ops now exercise the FILE-TARGETED rewrite path;
    ``change_data_feed=True`` makes every delete/update stage a CDF
    sidecar and ``bloom_filter_columns`` indexes every staged dir, so
    both new carriers ride the whole algebra; every example also
    re-reads with a PREDICATE (stats + bloom pruning against the
    model) and a ``file_vacuum`` op asserts aggressive vacuum never
    touches the live state — after it, restore to a swept snapshot may
    raise the documented vacuumed error (then that snapshot is dead),
    but must never mis-answer."""
    import itertools
    import random

    rng = random.Random(20260814 + 1)
    fmt = TxnLogFormat(checkpoint_interval=2, checkpoint_sidecar_files=1,
                       change_data_feed=True,
                       bloom_filter_columns={"p": 256})
    counter = itertools.count()
    # 6 examples x 5-8 ops: verified to draw EVERY op at least once
    # under this seed (3 examples left restore/checkpoint/dv ops unhit
    # after the round-8 op-list growth reshuffled the sequence)
    for example in range(6):
        path = str(tmp_path / f"t{example}")
        state: list = []          # current rows [(p, v), ...]
        vcol = "v"                # current name of the value column
        snapshots: dict = {}      # commit version -> (rows, vcol)
        horizon = 0               # oldest restorable version after prune
        vacuumed0 = False         # an aggressive vacuum ran (9c)

        def snap():
            snapshots[fmt._commits(path)[-1]["version"]] = (list(state),
                                                            vcol)

        # seed so restore/delete always have a table
        rows = [("a", next(counter)), ("b", next(counter))]
        fmt.overwrite_table(
            spark.createDataFrame(rows, "p string, v long"), path)
        state = list(rows)
        snap()
        for _ in range(rng.randint(5, 8)):
            op = rng.choice(["append", "overwrite", "delete", "restore",
                             "update", "dv_delete", "dv_update",
                             "dv_compact", "alter", "checkpoint",
                             "size_compact", "log_prune", "file_vacuum"])
            if op == "append":
                rows = [(rng.choice("abc"), next(counter))]
                fmt.append(spark.createDataFrame(
                    rows, f"p string, {vcol} long"), path)
                state.extend(rows)
            elif op == "overwrite":
                parts = rng.sample("abc", rng.randint(1, 2))
                rows = [(p, next(counter)) for p in parts]
                fmt.overwrite_partitions(
                    spark.createDataFrame(rows, f"p string, {vcol} long"),
                    path, "p")
                state = [r for r in state if r[0] not in parts] + rows
            elif op == "delete":
                k = rng.randint(2, 4)
                n = fmt.delete_where(spark, path, f"{vcol} % {k} = 0")
                survivors = [r for r in state if r[1] % k != 0]
                assert n == len(state) - len(survivors)
                state = survivors
                if n == 0:
                    continue  # no commit published -> no snapshot
            elif op == "update":
                k = rng.randint(2, 4)
                n = fmt.update_where(spark, path, f"{vcol} % {k} = 0",
                                     {vcol: f"{vcol} + 1000000"})
                hit = [r for r in state if r[1] % k == 0]
                assert n == len(hit)
                state = [(p, v + 1000000 if v % k == 0 else v)
                         for p, v in state]
                if n == 0:
                    continue  # no commit published -> no snapshot
            elif op == "dv_delete":
                k = rng.randint(2, 4)
                n = fmt.delete_where_dv(spark, path, f"{vcol} % {k} = 1")
                survivors = [r for r in state if r[1] % k != 1]
                assert n == len(state) - len(survivors)
                state = survivors
                if n == 0:
                    continue  # no commit published -> no snapshot
            elif op == "dv_update":
                k = rng.randint(2, 4)
                n = fmt.update_where_dv(spark, path, f"{vcol} % {k} = 0",
                                        {vcol: f"{vcol} + 1000000"})
                hit = [r for r in state if r[1] % k == 0]
                assert n == len(hit)
                state = [(p, v + 1000000 if v % k == 0 else v)
                         for p, v in state]
                if n == 0:
                    continue  # no commit published -> no snapshot
            elif op == "alter":
                # flip the value column's name back and forth — a pure
                # metadata commit; every later data op works against the
                # new name, every earlier dir is mapped at read time
                new_name = "w" if vcol == "v" else "v"
                fmt.alter_table(path, rename_columns={vcol: new_name})
                vcol = new_name
            elif op == "dv_compact":
                # round-7 targeted rewrite: MUST be invisible to readers
                # and to the model (state unchanged); snapshot only when
                # a rewrite_files commit actually published
                res = fmt.compact(spark, path,
                                  rewrite_dv_threshold=rng.choice(
                                      [0.3, 0.6, 1.0]))
                if res["rewritten_files"] == 0:
                    continue  # no commit published -> no snapshot
            elif op == "checkpoint":
                # round-8 metadata fold: publishes NO commit and must be
                # invisible to the model entirely
                fmt.checkpoint(path)
                continue
            elif op == "size_compact":
                # round-8 OPTIMIZE bin-packing: merges small files as a
                # rewrite_files commit — invisible to the model
                res = fmt.compact(spark, path, small_file_bytes=1 << 30)
                if res["rewritten_files"] == 0:
                    continue  # no commit published -> no snapshot
            elif op == "log_prune":
                # round-8 log retention: prunes commit records below the
                # latest checkpoint; current state must be unaffected,
                # and any pre-horizon snapshot must now RAISE on restore
                # (documented horizon error), never mis-answer
                fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
                _raw_names, cp_names = fmt._list_log(path)
                if cp_names:
                    horizon = max(horizon,
                                  max(int(n.split(".")[0])
                                      for n in cp_names))
                dead = [v for v in sorted(snapshots) if v < horizon]
                if dead:
                    with pytest.raises(ValueError,
                                       match="horizon|does not exist"):
                        fmt.restore(spark, path, dead[0])
                continue  # no commit -> no snapshot
            elif op == "file_vacuum":
                # round 9c: aggressive vacuum (dir sweep + retired-file
                # sweep, zero retention) must NEVER touch live state;
                # snapshots whose data it reclaimed become dead — a
                # restore to them must RAISE, never mis-answer (checked
                # by the restore arm's except path below)
                fmt.vacuum(path, retain_hours=0.0)
                vacuumed0 = True
                continue  # no commit -> no snapshot
            else:
                cand = [v for v in sorted(snapshots) if v >= horizon]
                v = rng.choice(cand)
                try:
                    fmt.restore(spark, path, v)
                except (FileNotFoundError, ValueError):
                    # legal only after an aggressive vacuum reclaimed
                    # this snapshot's files/dirs — the documented trade
                    assert vacuumed0, \
                        f"restore({v}) failed with no prior vacuum"
                    del snapshots[v]
                    continue  # nothing landed -> no snapshot
                state, vcol = list(snapshots[v][0]), snapshots[v][1]
            snap()
        out = fmt.read(spark, path)
        assert out.columns == ["p", vcol], f"example {example}"
        got = sorted((r["p"], r[vcol]) for r in out.collect())
        assert got == sorted(state), f"example {example}"
        # predicate read: stats + BLOOM pruning against the model (9c)
        want = sorted((p, v) for p, v in state if p == "a")
        got_p = sorted((r["p"], r[vcol]) for r in fmt.read(
            spark, path, where="p = 'a'").collect())
        assert got_p == want, f"example {example} (pruned read)"


def test_delete_where_detects_concurrent_commit(spark, tmp_path):
    """Concurrency contract of the (now file-targeted) delete: an
    interleaved pure APPEND is benign under WriteSerializable — both
    land, nothing is lost, no retry needed (the delete's rewrite_files
    footprint cannot overlap appended files).  A genuinely conflicting
    interleave (a full overwrite) still raises ConcurrentWriteError
    instead of being silently erased."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, -1.0), (2, 2.0)], "id long, v double"),
        path)

    racer = TxnLogFormat()
    orig_read = fmt.read
    raced = {"done": False}

    def racing_append(spark_, p, **kw):  # a writer sneaks in mid-delete
        df = orig_read(spark_, p, **kw)
        if not raced["done"]:
            raced["done"] = True
            racer.append(spark.createDataFrame([(3, 3.0)],
                                               "id long, v double"), path)
        return df

    fmt.read = racing_append
    try:
        assert fmt.delete_where(spark, path, "v < 0") == 1
    finally:
        fmt.read = orig_read
    # BOTH landed: id=1 deleted, the interleaved append survives
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [2, 3]

    # a conflicting interleave (full overwrite) still aborts the delete
    raced2 = {"done": False}

    def racing_overwrite(spark_, p, **kw):
        df = orig_read(spark_, p, **kw)
        if not raced2["done"]:
            raced2["done"] = True
            racer.overwrite_table(spark.createDataFrame(
                [(7, -7.0)], "id long, v double"), path)
        return df

    fmt.read = racing_overwrite
    try:
        # "v > 2" matches id=3 in the op's own snapshot (v < 0 matches
        # nothing after scenario 1, which would be a clean serializable
        # no-op rather than a conflict)
        with pytest.raises(ConcurrentWriteError, match="advanced"):
            fmt.delete_where(spark, path, "v > 2")
    finally:
        fmt.read = orig_read
    # nothing lost: the overwrite's state is intact, no delete applied
    assert [(r.id, r.v) for r in fmt.read(spark, path).collect()] == \
        [(7, -7.0)]
    # and the retry (fresh snapshot) succeeds
    assert fmt.delete_where(spark, path, "v < 0") == 1
    assert fmt.read(spark, path).collect() == []


def test_retry_on_conflict_recomputes_against_new_head(spark, tmp_path):
    """The retry helper re-executes the op (fresh snapshot), so the
    interleaved commit survives and the delete applies on top of it."""
    from datalake_ingestion_system_spark.sinks import retry_on_conflict

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, -1.0), (2, 2.0)], "id long, v double"),
        path)
    racer = TxnLogFormat()
    orig_read = fmt.read
    raced = {"done": False}

    def racing_read(spark_, p, **kw):
        # fire BEFORE the predicate read: delete_where resolved its
        # head from _commits already, and the racer's v<0 row lands in
        # the candidate scan, so the rewrite footprint overlaps the
        # interleaved append -> genuine conflict -> retry (round 16:
        # the reserved-column check no longer provides an extra read
        # between head resolution and the candidate scan)
        if not raced["done"]:
            raced["done"] = True
            racer.append(spark.createDataFrame(
                [(3, -3.0)], "id long, v double"), path)
        return orig_read(spark_, p, **kw)

    fmt.read = racing_read
    try:
        n = retry_on_conflict(
            lambda: fmt.delete_where(spark, path, "v < 0"))
    finally:
        fmt.read = orig_read
    # the retry's fresh snapshot saw the racer's row too
    assert n == 2
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [2]
    # exhausted attempts re-raise
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError

    def always_lose():
        raise ConcurrentWriteError("x")
    with pytest.raises(ConcurrentWriteError):
        retry_on_conflict(always_lose, attempts=2)


def test_merge_upsert_cdc_three_clauses(spark, tmp_path):
    """MERGE INTO, the CDC apply shape: matched tombstones DELETE, matched
    rows UPDATE SET *, unmatched non-tombstones INSERT — and unmatched
    tombstones are DROPPED (the insert_condition).  Extra source columns
    (op) are consulted then projected away; pre-merge state stays
    time-travelable."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0),
                               (3, "c", 30.0)],
                              "id long, name string, v double"), path)
    source = spark.createDataFrame(
        [(2, "b2", 21.0, "U"),     # matched update
         (3, "c", 0.0, "D"),       # matched tombstone -> delete
         (4, "d", 40.0, "U"),      # unmatched -> insert
         (5, "e", 0.0, "D")],      # unmatched tombstone -> dropped
        "id long, name string, v double, op string")
    stats = fmt.merge(spark, path, source, "id",
                      matched_delete_condition="op = 'D'",
                      insert_condition="op <> 'D'")
    assert stats == {"updated": 1, "deleted": 1, "inserted": 1}
    got = sorted((r.id, r.name, r.v)
                 for r in fmt.read(spark, path).collect())
    assert got == [(1, "a", 10.0), (2, "b2", 21.0), (4, "d", 40.0)]
    assert "op" not in fmt.read(spark, path).columns
    # pre-merge snapshot intact (merge is one atomic commit)
    pre = sorted(r.id for r in
                 fmt.read(spark, path, as_of_version=0).collect())
    assert pre == [1, 2, 3]


def test_merge_default_clauses_upsert_all(spark, tmp_path):
    """No conditions: every matched row updates, every unmatched row
    inserts — the plain latest-wins upsert."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        path)
    stats = fmt.merge(
        spark, path,
        spark.createDataFrame([(2, 22.0), (9, 99.0)], "id long, v double"),
        "id")
    assert stats == {"updated": 1, "deleted": 0, "inserted": 1}
    got = sorted((r.id, r.v) for r in fmt.read(spark, path).collect())
    assert got == [(1, 1.0), (2, 22.0), (9, 99.0)]


def test_merge_rejects_ambiguous_and_short_sources(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), path)
    with pytest.raises(ValueError, match="multiple source rows"):
        fmt.merge(spark, path,
                  spark.createDataFrame([(1, 2.0), (1, 3.0)],
                                        "id long, v double"), "id")
    with pytest.raises(ValueError, match="missing target columns"):
        fmt.merge(spark, path,
                  spark.createDataFrame([(1,)], "id long"), "id")


def test_merge_detects_concurrent_commit(spark, tmp_path):
    """Merge is read-modify-write like delete_where — and since the
    round-12 file-targeted rewrite, APPEND-TOLERANT under the default
    WriteSerializable isolation (its footprint names hot files only, so
    a pure same-schema append retargets instead of starving merges
    under streaming ingest).  Strict ``serializable`` keeps the raise;
    a non-append interleave always raises."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError

    def planted_race(fmt, race):
        orig_read = fmt.read

        def racing_read(spark_, p, **kw):
            df = orig_read(spark_, p, **kw)
            race()
            fmt.read = orig_read
            return df

        fmt.read = racing_read

    # 1) WriteSerializable + pure append: retargets, both effects live
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), path)
    racer = TxnLogFormat()
    planted_race(fmt, lambda: racer.append(
        spark.createDataFrame([(7, 7.0)], "id long, v double"), path))
    got = fmt.merge(spark, path,
                    spark.createDataFrame([(1, 11.0)],
                                          "id long, v double"), "id")
    assert got == {"updated": 1, "deleted": 0, "inserted": 0}
    state = {r.id: r.v for r in fmt.read(spark, path).collect()}
    assert state == {1: 11.0, 7: 7.0}  # merge applied, append survived

    # 2) strict serializable: the same interleave raises
    strict = TxnLogFormat(isolation="serializable")
    path2 = str(tmp_path / "t2")
    strict.overwrite_table(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), path2)
    planted_race(strict, lambda: racer.append(
        spark.createDataFrame([(7, 7.0)], "id long, v double"), path2))
    with pytest.raises(ConcurrentWriteError, match="advanced"):
        strict.merge(spark, path2,
                     spark.createDataFrame([(1, 11.0)],
                                           "id long, v double"), "id")

    # 3) a NON-append interleave (delete) conflicts even by default
    fmt3 = TxnLogFormat()
    path3 = str(tmp_path / "t3")
    fmt3.overwrite_table(
        spark.createDataFrame([(1, 1.0), (2, 2.0)],
                              "id long, v double"), path3)
    planted_race(fmt3, lambda: racer.delete_where(spark, path3, "id = 2"))
    with pytest.raises(ConcurrentWriteError, match="advanced"):
        fmt3.merge(spark, path3,
                   spark.createDataFrame([(1, 11.0)],
                                         "id long, v double"), "id")


def test_update_where_copy_on_write(spark, tmp_path):
    """UPDATE SET: assignment expressions see the CURRENT row, cast back
    to the column's type (schema stable); NULL-predicate rows are
    untouched (SQL semantics); zero matches publish no commit; unknown
    SET columns raise before any write."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 10, None), (2, 20, 5), (3, 30, -5)],
                              "id long, v int, flag int"), path)
    n = fmt.update_where(spark, path, "flag < 0",
                         {"v": "v * 100 + id"})
    assert n == 1
    got = {r.id: r.v for r in fmt.read(spark, path).collect()}
    assert got == {1: 10, 2: 20, 3: 3003}
    # type is preserved (int stays int despite the widening expression)
    assert dict(fmt.read(spark, path).dtypes)["v"] == "int"
    n_commits = len(fmt._commits(path))
    assert fmt.update_where(spark, path, "flag > 1e9", {"v": "0"}) == 0
    assert len(fmt._commits(path)) == n_commits
    with pytest.raises(ValueError, match="not in the table"):
        fmt.update_where(spark, path, "flag = 5", {"nope": "1"})
    # pre-update state stays time-travelable
    assert {r.id: r.v for r in
            fmt.read(spark, path, as_of_version=0).collect()}[3] == 30


def test_merge_rejects_duplicate_matched_target_rows(spark, tmp_path):
    """Review regression: duplicate target rows on a MATCHED key would be
    silently collapsed by the upsert (and the stats would undercount), so
    they raise; duplicates on keys the source never touches are legal and
    survive untouched."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 1.0), (1, 1.5), (2, 2.0)],
                              "id long, v double"), path)
    with pytest.raises(ValueError, match="multiple rows for a merge key"):
        fmt.merge(spark, path,
                  spark.createDataFrame([(1, 9.0)], "id long, v double"),
                  "id")
    # untouched duplicate keys are fine
    stats = fmt.merge(spark, path,
                      spark.createDataFrame([(2, 22.0)],
                                            "id long, v double"), "id")
    assert stats == {"updated": 1, "deleted": 0, "inserted": 0}
    got = sorted((r.id, r.v) for r in fmt.read(spark, path).collect())
    assert got == [(1, 1.0), (1, 1.5), (2, 22.0)]


def test_merge_tolerates_reserved_looking_source_columns(spark, tmp_path):
    """Internal marker columns are uniquified per call — a source column
    named _m or _m_del must neither collide nor be clobbered."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 1.0)], "id long, v double"), path)
    source = spark.createDataFrame(
        [(1, 11.0, True, "x"), (2, 22.0, False, "y")],
        "id long, v double, _m boolean, _m_del string")
    stats = fmt.merge(spark, path, source, "id",
                      matched_delete_condition="_m_del = 'nope'")
    assert stats == {"updated": 1, "deleted": 0, "inserted": 1}
    got = sorted((r.id, r.v) for r in fmt.read(spark, path).collect())
    assert got == [(1, 11.0), (2, 22.0)]
    assert set(fmt.read(spark, path).columns) == {"id", "v"}


def test_deletion_vector_delete_is_merge_on_read(spark, tmp_path):
    """delete_where_dv: matching rows disappear from read() WITHOUT any
    data rewrite (the original staged dir is untouched and no new data
    dir holds table rows — only the vector); NULL-predicate rows survive;
    zero matches publish nothing; pre-delete state stays
    time-travelable; vectors accumulate across deletes."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 10.0), (2, None), (3, -3.0), (4, -4.0)],
                              "id long, score double"), path)
    dirs_before = set(os.listdir(os.path.join(path, "_txn_data")))
    assert fmt.delete_where_dv(spark, path, "score = -3.0") == 1
    assert sorted(r.id for r in fmt.read(spark, path).collect()) \
        == [1, 2, 4]
    # merge-on-read: exactly ONE new dir (the vector), old data untouched
    dirs_after = set(os.listdir(os.path.join(path, "_txn_data")))
    assert dirs_before < dirs_after and len(dirs_after - dirs_before) == 1
    # time travel to the pre-delete version still sees the row
    assert sorted(r.id for r in
                  fmt.read(spark, path, as_of_version=0).collect()) \
        == [1, 2, 3, 4]
    # NULL predicate survives; accumulating second vector works
    n_commits = len(fmt._commits(path))
    assert fmt.delete_where_dv(spark, path, "score > 100") == 0
    assert len(fmt._commits(path)) == n_commits
    assert fmt.delete_where_dv(spark, path, "score < 0") == 1  # id=4
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 2]


def test_deletion_vectors_retire_at_compact_and_survive_vacuum(spark,
                                                               tmp_path):
    """compact materializes the DV-applied state and retires the vectors
    (replace_all resets the live vectors); vacuum never sweeps a LIVE
    vector's dir, and after compact the retired vector ages out."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(i, float(i)) for i in range(6)],
                              "id long, v double"), path)
    fmt.delete_where_dv(spark, path, "id % 2 = 1")
    commits = fmt._commits(path)
    assert commits[-1]["action"] == "add_dv"
    # LIVE vector: aging everything must not sweep it (read still correct)
    data_root = os.path.join(path, "_txn_data")
    for n in os.listdir(data_root):
        os.utime(os.path.join(data_root, n), (0, 0))
    fmt.vacuum(path, retain_hours=1.0)
    assert sorted(r.id for r in fmt.read(spark, path).collect()) \
        == [0, 2, 4]
    fmt.compact(spark, path)
    assert fmt._snapshot(path).dvs == []
    assert sorted(r.id for r in fmt.read(spark, path).collect()) \
        == [0, 2, 4]
    # retired vector + superseded data age out now
    for n in os.listdir(data_root):
        os.utime(os.path.join(data_root, n), (0, 0))
    assert len(fmt.vacuum(path, retain_hours=1.0)) >= 2
    assert sorted(r.id for r in fmt.read(spark, path).collect()) \
        == [0, 2, 4]


def test_restore_replays_deletion_vectors(spark, tmp_path):
    """restore to a version inside a DV window re-applies exactly the
    vectors live at that version — and restore validates vector dirs the
    same way it validates data dirs."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1,), (2,), (3,)], "id long"), path)  # v0
    fmt.delete_where_dv(spark, path, "id = 2")                       # v1
    fmt.delete_where_dv(spark, path, "id = 3")                       # v2
    fmt.restore(spark, path, 1)                                      # v3
    assert sorted(r.id for r in fmt.read(spark, path).collect()) \
        == [1, 3]
    # and restoring to v2 brings the second vector back
    fmt.restore(spark, path, 2)
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1]


def test_update_where_dv_is_merge_on_read(spark, tmp_path):
    """update_where_dv: one atomic dv_update commit vectors out the old
    rows and appends the rewritten ones — no full rewrite (old data dir
    untouched, exactly two new dirs), same assignment semantics as
    update_where, pre-update state time-travelable, vectors retire at
    compact."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 10, None), (2, 20, 5), (3, 30, -5)],
                              "id long, v int, flag int"), path)
    dirs_before = set(os.listdir(os.path.join(path, "_txn_data")))
    n = fmt.update_where_dv(spark, path, "flag < 0", {"v": "v * 100 + id"})
    assert n == 1
    dirs_after = set(os.listdir(os.path.join(path, "_txn_data")))
    assert len(dirs_after - dirs_before) == 2  # vector + rewritten rows
    got = {r.id: r.v for r in fmt.read(spark, path).collect()}
    assert got == {1: 10, 2: 20, 3: 3003}
    assert dict(fmt.read(spark, path).dtypes)["v"] == "int"
    # NULL predicate rows untouched; zero matches publish nothing
    n_commits = len(fmt._commits(path))
    assert fmt.update_where_dv(spark, path, "flag > 1e9", {"v": "0"}) == 0
    assert len(fmt._commits(path)) == n_commits
    # pre-update state still readable
    assert {r.id: r.v for r in
            fmt.read(spark, path, as_of_version=0).collect()}[3] == 30
    fmt.compact(spark, path)
    assert fmt._snapshot(path).dvs == []
    assert {r.id: r.v for r in fmt.read(spark, path).collect()}[3] == 3003


def test_update_where_dv_respects_check_constraints(spark, tmp_path):
    """Constraints validate the REWRITTEN rows: a violating update aborts
    before any commit and the table state is unchanged."""
    fmt = TxnLogFormat(constraints={"v_pos": "v >= 0"})
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 10)], "id long, v long"), path)
    with pytest.raises(ValueError, match="CHECK constraint"):
        fmt.update_where_dv(spark, path, "id = 1", {"v": "-1"})
    assert [r.v for r in fmt.read(spark, path).collect()] == [10]
    assert fmt._commits(path)[-1]["action"] == "replace_all"


def test_idempotent_txn_writes_dedup_by_app_version(spark, tmp_path):
    """Delta txnAppId/txnVersion parity: a write replaying an already-
    committed (app, version) pair is a silent no-op — even with different
    data (the contract is 'this epoch already landed'); a new version
    applies; txn_app without txn_version is rejected."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,)], "v int"), path,
               txn_app="job", txn_version=1)
    n_commits = len(fmt._commits(path))
    # replayed epoch: skipped entirely (no commit, no rows)
    fmt.append(spark.createDataFrame([(999,)], "v int"), path,
               txn_app="job", txn_version=1)
    assert len(fmt._commits(path)) == n_commits
    assert sorted(r.v for r in fmt.read(spark, path).collect()) == [1]
    # next epoch applies
    fmt.append(spark.createDataFrame([(2,)], "v int"), path,
               txn_app="job", txn_version=2)
    assert sorted(r.v for r in fmt.read(spark, path).collect()) == [1, 2]
    # a DIFFERENT app's version 1 is unrelated
    fmt.overwrite_table(spark.createDataFrame([(7,)], "v int"), path,
                        txn_app="other", txn_version=1)
    fmt.overwrite_table(spark.createDataFrame([(8,)], "v int"), path,
                        txn_app="other", txn_version=1)
    assert [r.v for r in fmt.read(spark, path).collect()] == [7]
    with pytest.raises(ValueError, match="txn_version"):
        fmt.append(spark.createDataFrame([(3,)], "v int"), path,
                   txn_app="job")


def test_txn_dedup_rechecked_inside_publish_loop(spark, tmp_path):
    """The race path: if the fast pre-stage check misses (a concurrent
    committer lands between it and the publish), the in-loop recheck must
    still skip — the (app, version) pair can never commit twice."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,)], "v int"), path,
               txn_app="job", txn_version=5)
    # blind the fast path, forcing the decision into _commit's loop
    fmt._txn_already_applied = lambda *a, **kw: False
    n_commits = len(fmt._commits(path))
    fmt.append(spark.createDataFrame([(999,)], "v int"), path,
               txn_app="job", txn_version=5)
    assert len(fmt._commits(path)) == n_commits
    assert sorted(r.v for r in fmt.read(spark, path).collect()) == [1]


def test_deletion_vectors_survive_table_relocation(spark, tmp_path):
    """DV identities are table-relative (the _txn_data suffix), so
    copying the whole table directory elsewhere keeps every vector
    correct — the failure mode absolute file URIs would have."""
    import shutil
    fmt = TxnLogFormat()
    path = str(tmp_path / "orig" / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1,), (2,), (3,)], "id long"), path)
    fmt.delete_where_dv(spark, path, "id = 2")
    moved = str(tmp_path / "moved" / "t")
    os.makedirs(os.path.dirname(moved), exist_ok=True)
    shutil.copytree(path, moved)
    assert sorted(r.id for r in fmt.read(spark, moved).collect()) == [1, 3]
    fmt.delete_where_dv(spark, moved, "id = 3")
    assert [r.id for r in fmt.read(spark, moved).collect()] == [1]
    # the original table is untouched by the copy's delete
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == [1, 3]


def test_dv_ops_reject_reserved_column_names(spark, tmp_path):
    """A table whose DATA carries _dv_file/_dv_pos would make every
    post-vector read ambiguous — vector creation refuses up front."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, "x")], "id long, _dv_file string"),
        path)
    with pytest.raises(ValueError, match="reserved for deletion vectors"):
        fmt.delete_where_dv(spark, path, "id = 1")
    with pytest.raises(ValueError, match="reserved for deletion vectors"):
        fmt.update_where_dv(spark, path, "id = 1", {"id": "2"})


def test_missing_dv_dir_raises_cleanly(spark, tmp_path):
    """A live commit whose VECTOR dir is gone (vacuumed historical
    version / external corruption) must raise the same FileNotFoundError
    contract as a missing data dir, not a raw parquet path error."""
    import shutil
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1,), (2,)], "id long"), path)   # v0
    fmt.delete_where_dv(spark, path, "id = 2")                  # v1
    dv_dir = fmt._commits(path)[-1]["dir"]
    shutil.rmtree(os.path.join(path, dv_dir))
    with pytest.raises(FileNotFoundError, match="deletion-vector"):
        fmt.read(spark, path)


def test_timestamp_time_travel(spark, tmp_path):
    """timestampAsOf parity: a cutoff resolves to the LATEST version
    published at or before it; a pre-table cutoff raises; version and
    timestamp selectors are mutually exclusive; history exposes ts."""
    import time as time_mod
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(spark.createDataFrame([(1,)], "v int"), path)
    t_after_v0 = time_mod.time()
    time_mod.sleep(0.05)
    fmt.append(spark.createDataFrame([(2,)], "v int"), path)
    assert sorted(r.v for r in
                  fmt.read(spark, path,
                           as_of_timestamp=t_after_v0).collect()) == [1]
    assert sorted(r.v for r in
                  fmt.read(spark, path,
                           as_of_timestamp=time_mod.time()).collect()) \
        == [1, 2]
    with pytest.raises(ValueError, match="at or before"):
        fmt.read(spark, path, as_of_timestamp=1.0)
    with pytest.raises(ValueError, match="not both"):
        fmt.read(spark, path, as_of_version=0, as_of_timestamp=1.0)
    assert all(h["ts"] is not None for h in fmt.history(path))
    # ISO-string form resolves too (string cutoff far in the future)
    assert sorted(r.v for r in
                  fmt.read(spark, path,
                           as_of_timestamp="2093-01-01 00:00:00")
                  .collect()) == [1, 2]


def test_txn_cache_tracks_other_writers_incrementally(spark, tmp_path):
    """The per-instance txn cache must still see commits OTHER writers
    publish (it only skips files it already parsed, never the tail)."""
    a, b = TxnLogFormat(), TxnLogFormat()
    path = str(tmp_path / "t")
    a.append(spark.createDataFrame([(1,)], "v int"), path,
             txn_app="x", txn_version=1)
    assert b._txn_already_applied(path, "x", 1)
    b.append(spark.createDataFrame([(2,)], "v int"), path,
             txn_app="y", txn_version=1)
    assert a._txn_already_applied(path, "y", 1)
    assert not a._txn_already_applied(path, "x", 2)
    # and the dedup actually fires across instances
    b.append(spark.createDataFrame([(999,)], "v int"), path,
             txn_app="x", txn_version=1)
    assert sorted(r.v for r in a.read(spark, path).collect()) == [1, 2]


@pytest.mark.slow
def test_compact_rewrites_only_dv_heavy_files(spark, tmp_path):
    """VERDICT r6 item 3: ``compact(rewrite_dv_threshold=...)`` must
    materialize ONLY files whose deletion-vector fraction meets the
    threshold — retiring their vectors and pruning the retired files from
    the read path — while cold files and their sparse vectors are left
    untouched, data identical pre/post."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    mk = lambda lo, hi, tag: spark.createDataFrame(
        [(i, tag) for i in range(lo, hi)], "id int, tag string").coalesce(1)
    fmt.append(mk(0, 10, "a"), path)      # file A: one physical file
    fmt.append(mk(100, 110, "b"), path)   # file B
    assert fmt.delete_where_dv(spark, path, "id < 8") == 8    # A: 8/10
    assert fmt.delete_where_dv(spark, path, "id = 100") == 1  # B: 1/10
    before = sorted(map(tuple, fmt.read(spark, path).collect()))
    files_before = {r[0] for r in fmt.read(spark, path, _with_pos=True)
                    .select("_dv_file").distinct().collect()}
    assert len(files_before) == 2

    res = fmt.compact(spark, path, rewrite_dv_threshold=0.5)
    assert res == {"rewritten_files": 1, "retired_dv_entries": 8}

    # data identical pre/post
    after = sorted(map(tuple, fmt.read(spark, path).collect()))
    assert after == before
    # read path: the DV-heavy file is GONE (pruned, not row-filtered),
    # replaced by the survivors' file; the cold file is untouched
    files_after = {r[0] for r in fmt.read(spark, path, _with_pos=True)
                   .select("_dv_file").distinct().collect()}
    assert len(files_after) == 2
    assert len(files_before & files_after) == 1  # cold file B survives
    # vectors consolidated: exactly one live dir holding B's one entry
    commits = fmt._commits(path)
    dvs = Snapshot.fold(commits).dvs
    assert len(dvs) == 1
    assert spark.read.parquet(os.path.join(path, dvs[0])).count() == 1
    # below-threshold pass is a no-op
    assert fmt.compact(spark, path, rewrite_dv_threshold=0.5) \
        == {"rewritten_files": 0, "retired_dv_entries": 0}
    # time travel across the rewrite still replays both sides
    v_pre_delete = commits[1]["version"]
    assert len(fmt.read(spark, path,
                        as_of_version=v_pre_delete).collect()) == 20
    v_pre_compact = commits[3]["version"]
    assert sorted(map(tuple, fmt.read(
        spark, path, as_of_version=v_pre_compact).collect())) == before


def test_compact_dv_retires_fully_deleted_file(spark, tmp_path):
    """A file whose EVERY row is vectored (fraction 1.0, zero live rows)
    is the most valuable rewrite target — it must be retired even though
    it contributes nothing to the live row counts, and a later full
    compact still resets the rewrite bookkeeping."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    mk = lambda lo, hi, tag: spark.createDataFrame(
        [(i, tag) for i in range(lo, hi)], "id int, tag string").coalesce(1)
    fmt.append(mk(0, 5, "a"), path)
    fmt.append(mk(100, 105, "b"), path)
    fmt.delete_where_dv(spark, path, "tag = 'a'")  # all of file A
    res = fmt.compact(spark, path, rewrite_dv_threshold=1.0)
    assert res == {"rewritten_files": 1, "retired_dv_entries": 5}
    assert sorted(r.id for r in fmt.read(spark, path).collect()) \
        == [100, 101, 102, 103, 104]
    # no vectors remain → dv-threshold compact is now a no-op
    assert fmt._snapshot(path).dvs == []
    # further row-level ops on the rewritten table behave normally
    fmt.delete_where_dv(spark, path, "id = 104")
    files = fmt.details(path)["num_live_files"]
    # full rewrite resets files AND vectors, and says how many of each
    assert fmt.compact(spark, path) == {"rewritten_files": files,
                                        "retired_dv_entries": 1}
    assert fmt._snapshot(path).removed_files == set()
    assert sorted(r.id for r in fmt.read(spark, path).collect()) \
        == [100, 101, 102, 103]


@pytest.mark.slow
def test_compact_small_files_merges_by_recorded_size(spark, tmp_path):
    """Round-8 size-targeted compaction (Delta OPTIMIZE bin-packing):
    files below ``small_file_bytes`` — selected from COMMIT-RECORDED
    byte counts, no storage listing — merge into one rewrite_files
    commit; the big file is untouched, data identical, the read path
    opens the merged file instead of every epoch's crumb, and time
    travel across the rewrite still works."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for i in range(6):  # six one-epoch crumbs
        fmt.append(spark.createDataFrame(
            [(i * 10 + j, "s") for j in range(2)],
            "id int, tag string").coalesce(1), path)
    fmt.append(spark.createDataFrame(
        [(1000 + j, "big") for j in range(5000)],
        "id int, tag string").coalesce(1), path)
    before = sorted(r.id for r in fmt.read(spark, path).collect())
    n_before = len(fmt.read(spark, path).inputFiles())
    assert n_before == 7

    big_bytes = max(list(fmt._raw_full(path)[-1]["file_bytes"].values()))
    res = fmt.compact(spark, path, small_file_bytes=big_bytes)
    assert res == {"rewritten_files": 6, "retired_dv_entries": 0}
    got = fmt.read(spark, path)
    assert sorted(r.id for r in got.collect()) == before
    assert len(got.inputFiles()) == 2  # one merged + the big file
    # the six originals stay time-travelable until vacuum
    assert len(fmt.read(spark, path, as_of_version=5).collect()) == 12
    # idempotent: nothing small remains (the merged file is one file —
    # a single candidate is pure churn and is not rewritten)
    assert fmt.compact(spark, path, small_file_bytes=big_bytes) \
        == {"rewritten_files": 0, "retired_dv_entries": 0}


@pytest.mark.slow
def test_compact_small_files_composes_with_dvs(spark, tmp_path):
    """Size and DV criteria compose in ONE rewrite_files commit: the
    small files merge, vectors pointing at rewritten files retire, and
    survivors exclude the vectored rows."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for i in range(3):
        fmt.append(spark.createDataFrame(
            [(i * 10 + j, "s") for j in range(4)],
            "id int, tag string").coalesce(1), path)
    assert fmt.delete_where_dv(spark, path, "id in (0, 11)") == 2
    before = sorted(r.id for r in fmt.read(spark, path).collect())
    res = fmt.compact(spark, path, small_file_bytes=10**9,
                      rewrite_dv_threshold=0.25)
    assert res["rewritten_files"] == 3
    assert res["retired_dv_entries"] == 2
    got = fmt.read(spark, path)
    assert sorted(r.id for r in got.collect()) == before
    assert len(got.inputFiles()) == 1  # everything merged
    assert fmt._snapshot(path).dvs == []


def test_alter_table_add_rename_drop(spark, tmp_path):
    """Schema evolution as metadata-only commits (Delta column-mapping
    parity): ADD reads as typed NULL for pre-alter rows, RENAME remaps
    historical dirs at read time, DROP projects them out — no data file
    rewritten; time travel serves the pre-alter schema."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                     "id int, tag string"), path)   # v0
    n_dirs = len(os.listdir(os.path.join(path, "_txn_data")))
    v_alter = fmt.alter_table(path,
                              add_columns={"score": "double"},
                              rename_columns={"tag": "label"})       # v1
    assert v_alter == 1
    assert len(os.listdir(os.path.join(path, "_txn_data"))) == n_dirs
    cur = fmt.read(spark, path)
    assert cur.columns == ["id", "label", "score"]
    assert sorted((r.id, r.label, r.score) for r in cur.collect()) \
        == [(1, "a", None), (2, "b", None)]
    # post-alter appends carry the new schema; unions line up by name
    fmt.append(spark.createDataFrame([(3, "c", 0.5)],
                                     "id int, label string, score double"),
               path)                                                 # v2
    assert sorted((r.id, r.label, r.score)
                  for r in fmt.read(spark, path).collect()) \
        == [(1, "a", None), (2, "b", None), (3, "c", 0.5)]
    # time travel to the pre-alter version serves the OLD schema
    old = fmt.read(spark, path, as_of_version=0)
    assert old.columns == ["id", "tag"]
    # drop the added column again — data in v2's files is simply unread
    fmt.alter_table(path, drop_columns=["score"])                    # v3
    assert fmt.read(spark, path).columns == ["id", "label"]
    # predicates work against current names
    assert [r.id for r in
            fmt.read(spark, path, where="id >= 3").collect()] == [3]


def test_alter_table_guards(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "P1", "x")], "id int, p string, v string")
    fmt.overwrite_partitions(df, path, "p")
    with pytest.raises(ValueError, match="unknown columns"):
        fmt.alter_table(path, rename_columns={"nope": "x"})
    with pytest.raises(ValueError, match="duplicate"):
        fmt.alter_table(path, rename_columns={"v": "id"})
    # a live dynamic-overwrite partition key cannot be renamed or dropped
    with pytest.raises(ValueError, match="partition-overwrite"):
        fmt.alter_table(path, rename_columns={"p": "part"})
    # compact materializes the state; the key is then free to evolve
    # (partitioned dirs read back partition-column-last, so the compacted
    # schema records that order)
    fmt.compact(spark, path)
    fmt.alter_table(path, rename_columns={"p": "part"})
    assert fmt.read(spark, path).columns == ["id", "v", "part"]


def test_alter_interacts_with_restore_and_dv(spark, tmp_path):
    """RESTORE swaps the mapping set with the data; deletion vectors on
    pre-alter files still hide their rows under the new names."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(i, f"t{i}") for i in range(6)],
                                     "id int, tag string"), path)    # v0
    fmt.delete_where_dv(spark, path, "id >= 4")                      # v1
    fmt.alter_table(path, rename_columns={"tag": "label"})           # v2
    got = sorted((r.id, r.label)
                 for r in fmt.read(spark, path).collect())
    assert got == [(0, "t0"), (1, "t1"), (2, "t2"), (3, "t3")]
    fmt.restore(spark, path, 1)                                      # v3
    assert fmt.read(spark, path).columns == ["id", "tag"]
    fmt.restore(spark, path, 2)                                      # v4
    assert fmt.read(spark, path).columns == ["id", "label"]


def test_overwrite_on_renamed_column_does_not_resurrect(spark, tmp_path):
    """Review regression: dir written pre-rename, partition overwrite
    keyed by the NEW name post-rename — the subtraction must still apply
    to the old dir (mapping runs before the anti-filter), or the
    replaced partition's old rows silently come back."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame(
        [(1, "x"), (2, "y")], "id int, tag string"), path)           # v0
    fmt.alter_table(path, rename_columns={"tag": "label"})           # v1
    fmt.overwrite_partitions(spark.createDataFrame(
        [(10, "x")], "id int, label string"), path, "label")         # v2
    got = sorted((r.id, r.label) for r in fmt.read(spark, path).collect())
    assert got == [(2, "y"), (10, "x")], \
        "old label=x row resurrected past the overwrite"


def test_alter_rename_onto_dropped_name(spark, tmp_path):
    """Review regression: one alter dropping b and renaming a->b must
    read historical a-values as the new b (drop before rename), not
    null them via a duplicate-column double-drop."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame(
        [(1, "keep", "gone")], "id int, a string, b string"), path)
    fmt.alter_table(path, rename_columns={"a": "b"}, drop_columns=["b"])
    rows = fmt.read(spark, path).collect()
    assert [tuple(r) for r in rows] == [(1, "keep")]
    assert fmt.read(spark, path).columns == ["id", "b"]


def test_data_skipping_maps_columns_through_alters(spark, tmp_path):
    """ADVICE r7 (high): data skipping must look a predicate column up
    in pre-alter files under its HISTORICAL name.  The killer shape is a
    rename onto a dropped name — rename a->b after dropping the old b:
    the old files carry stats for BOTH names, and a lookup by the
    current name prunes against the retired column's stats, silently
    vanishing rows (and no-opping the DV delete/update paths that ride
    the pruned read)."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    # a in [0, 18], old b in [1000, 1018] — disjoint so the wrong-column
    # lookup provably mis-prunes
    fmt.append(spark.createDataFrame(
        [(i, 2 * i, 1000 + 2 * i) for i in range(10)],
        "id int, a int, b int").coalesce(1), path)
    fmt.alter_table(path, rename_columns={"a": "b"}, drop_columns=["b"])
    # current b IS historical a: b <= 20 matches a-values 0,2,..,20
    got = fmt.read(spark, path, where="b <= 20")
    assert sorted(r.id for r in got.collect()) == list(range(10))
    # the DV paths ride the same pruned read
    assert fmt.update_where_dv(spark, path, "b <= 2",
                               {"b": "b + 500"}) == 2
    assert fmt.delete_where_dv(spark, path, "b <= 20") == 8
    assert sorted(r.b for r in fmt.read(spark, path).collect()) \
        == [500, 502]


def test_data_skipping_still_prunes_after_rename(spark, tmp_path):
    """The flip side of the alter-aware lookup: pre-rename stats KEEP
    pruning after the rename (mapped back to the historical name)
    instead of going dead — and never prune a file whose historical
    column actually matches."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(i,) for i in range(10)],
                                     "a int").coalesce(1), path)
    fmt.append(spark.createDataFrame([(i,) for i in range(100, 110)],
                                     "a int").coalesce(1), path)
    fmt.alter_table(path, rename_columns={"a": "b"})
    got = fmt.read(spark, path, where="b >= 100")
    assert sorted(r.b for r in got.collect()) == list(range(100, 110))
    assert len(got.inputFiles()) == 1  # the low file is pruned
    # a column ADDED after the files landed maps to NO historical source
    # — its clause is dropped, so it can never prune those files (the
    # read itself still answers correctly: NULL c never matches, and
    # Catalyst folds the scan away entirely)
    fmt.alter_table(path, add_columns={"c": "int"})
    alters = fmt._snapshot(path).alters
    assert TxnLogFormat._source_column("c", alters, 0) is None
    assert TxnLogFormat._source_column("b", alters, 0) == "a"
    assert fmt.read(spark, path, where="c <= 5").count() == 0


@pytest.mark.slow
def test_null_count_stats_prune_is_null_clauses(spark, tmp_path):
    """Round-8 nullCount stats (Delta parity): commit records carry
    per-column null counts, so ``IS NULL`` skips files with zero nulls,
    ``IS NOT NULL`` skips all-null files, and a comparison skips an
    all-null file even without min/max — each pinned via inputFiles,
    with results identical to the unpruned filter."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, 10), (2, 20)],
                                     "id int, v int").coalesce(1), path)
    fmt.append(spark.createDataFrame([(3, None), (4, None)],
                                     "id int, v int").coalesce(1), path)
    fmt.append(spark.createDataFrame([(5, 50), (6, None)],
                                     "id int, v int").coalesce(1), path)
    got = fmt.read(spark, path, where="v IS NULL")
    assert sorted(r.id for r in got.collect()) == [3, 4, 6]
    assert len(got.inputFiles()) == 2  # the no-null file is pruned
    got2 = fmt.read(spark, path, where="v IS NOT NULL")
    assert sorted(r.id for r in got2.collect()) == [1, 2, 5]
    assert len(got2.inputFiles()) == 2  # the all-null file is pruned
    # comparison on an all-null file: prunable with no min/max at all
    got3 = fmt.read(spark, path, where="v >= 5")
    assert sorted(r.id for r in got3.collect()) == [1, 2, 5]
    assert len(got3.inputFiles()) == 2
    # conjunction with a comparison composes
    got4 = fmt.read(spark, path, where="v IS NOT NULL AND id >= 5")
    assert sorted(r.id for r in got4.collect()) == [5]
    assert len(got4.inputFiles()) == 1


def test_skip_clauses_parse_in_and_between(spark, tmp_path):
    """Round 8: ``IN (...)`` and ``BETWEEN a AND b`` join the prunable
    grammar — IN prunes only when EVERY member is provably outside a
    file's range; BETWEEN rewrites to the two comparisons before the
    conjunct split.  Quoted literals containing the keywords degrade to
    not-prunable, never to wrong values."""
    assert TxnLogFormat._skip_clauses("a IN (1, 2) AND b BETWEEN 3 AND 7") \
        == [("a", "in", (1, 2)), ("b", ">=", 3), ("b", "<=", 7)]
    assert TxnLogFormat._skip_clauses("tag IN ('x', 'y')") \
        == [("tag", "in", ("x", "y"))]
    assert TxnLogFormat._skip_clauses("tag IN ('a,b', 'c')") == []
    assert TxnLogFormat._skip_clauses("a IN (1) OR b = 2") == []
    assert TxnLogFormat._skip_clauses("(a = 1) AND b IN (2)") == []
    assert not TxnLogFormat._provably_empty(
        {"a": [10, 20, 0, 5]}, [("a", "in", (1, 15))])
    assert TxnLogFormat._provably_empty(
        {"a": [10, 20, 0, 5]}, [("a", "in", (1, 30))])
    # end to end: three disjoint-range files, IN hits only the middle
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        fmt.append(spark.createDataFrame(
            [(lo + j,) for j in range(10)], "v int").coalesce(1), path)
    got = fmt.read(spark, path, where="v IN (105, 101)")
    assert sorted(r.v for r in got.collect()) == [101, 105]
    assert len(got.inputFiles()) == 1
    got2 = fmt.read(spark, path, where="v BETWEEN 100 AND 109")
    assert got2.count() == 10
    assert len(got2.inputFiles()) == 1


def test_skip_clauses_parse_is_null_forms():
    """IS [NOT] NULL is the one sanctioned NOT; any other NOT (or a
    quoted literal containing the words) still disables pruning, and
    literals never get rewritten by the bail-out masking."""
    assert TxnLogFormat._skip_clauses("a IS NULL AND b IS NOT NULL") \
        == [("a", "isnull", None), ("b", "notnull", None)]
    assert TxnLogFormat._skip_clauses("NOT a IS NULL") == []
    assert TxnLogFormat._skip_clauses("a IS NOT NULL OR b = 1") == []
    assert TxnLogFormat._skip_clauses("tag = 'IS NOT NULL'") \
        == [("tag", "=", "IS NOT NULL")]


def test_skip_clauses_never_prune_on_escaped_literals():
    """Review regression: a quoted literal containing quote/backslash
    characters unescapes differently in the SQL engine — the clause must
    be dropped from pruning (never a wrong file skip)."""
    clauses = TxnLogFormat._skip_clauses("tag = 'it''s' AND id >= 3")
    assert clauses == [("id", ">=", 3)]
    assert TxnLogFormat._skip_clauses(r"tag = 'a\b'") == []
    # plain literals still parse
    assert TxnLogFormat._skip_clauses("tag = 'plain'") \
        == [("tag", "=", "plain")]


def test_incremental_dedup_raises_on_corrupted_store(spark, tmp_path):
    """Review regression: a store whose LOG exists but whose data dir is
    gone is corruption, not an empty store — proceeding as empty would
    silently re-admit every historical duplicate."""
    import shutil

    from datalake_ingestion_system_spark.operators.dedup import (
        incremental_exact_dedup, incremental_minhash_dedup)
    b = spark.createDataFrame([(1, "alpha beta gamma delta")],
                              "doc_id long, text string")
    for op in (incremental_exact_dedup, incremental_minhash_dedup):
        state = str(tmp_path / f"s_{op.__name__}")
        op(b, state)
        shutil.rmtree(os.path.join(state, "_txn_data"))
        with pytest.raises(FileNotFoundError):
            op(b, state)


def test_skip_pruner_soundness_property():
    """Hypothesis: for random per-file int stats and random conjunctive
    predicates, ``_provably_empty`` NEVER prunes a file that contains a
    matching row — the one property pruning must hold unconditionally
    (selectivity is best-effort; soundness is not)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ops = st.sampled_from(["<", "<=", ">", ">=", "="])
    vals = st.integers(-50, 50)
    cell = st.one_of(st.none(), vals)  # round 8: NULLs in the data

    @settings(max_examples=300, deadline=None)
    @given(rows=st.lists(st.tuples(cell, cell), min_size=1, max_size=8),
           clauses=st.lists(
               st.one_of(
                   st.tuples(st.sampled_from(["a", "b"]), ops, vals),
                   st.tuples(st.sampled_from(["a", "b"]),
                             st.sampled_from(["isnull", "notnull"]),
                             st.none()),
                   st.tuples(st.sampled_from(["a", "b"]),
                             st.just("in"),
                             st.lists(vals, min_size=1,
                                      max_size=4).map(tuple))),
               min_size=1, max_size=4))
    def check(rows, clauses):
        def stats(i):
            present = [r[i] for r in rows if r[i] is not None]
            nulls = sum(1 for r in rows if r[i] is None)
            bounds = ([min(present), max(present)] if present
                      else [None, None])
            return bounds + [nulls, len(rows)]
        per = {"a": stats(0), "b": stats(1)}

        def sat(row, col, op, lit):
            v = row[0] if col == "a" else row[1]
            if op == "isnull":
                return v is None
            if op == "notnull":
                return v is not None
            if v is None:
                return False  # SQL: NULL comparisons are never TRUE
            if op == "in":
                return v in lit
            return {"<": v < lit, "<=": v <= lit, ">": v > lit,
                    ">=": v >= lit, "=": v == lit}[op]
        any_match = any(all(sat(r, *c) for c in clauses) for r in rows)
        pruned = TxnLogFormat._provably_empty(per, clauses)
        assert not (pruned and any_match), \
            f"unsound prune: {per} {clauses} rows={rows}"
        # legacy 2-element stats must stay sound too (null clauses are
        # simply never prunable there)
        legacy = {c: s[:2] if s[0] is not None else None
                  for c, s in per.items()}
        pruned2 = TxnLogFormat._provably_empty(legacy, clauses)
        assert not (pruned2 and any_match), \
            f"unsound legacy prune: {legacy} {clauses} rows={rows}"

    check()


def test_string_truncation_soundness_property():
    """Hypothesis: the widened 32-char bounds from
    ``_truncate_str_stats`` always still contain EVERY string of the
    original [min, max] range — truncation may only widen, never
    exclude (a bound that excluded a real value would let the pruner
    skip a file holding a match)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    text = st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x10FFFF),
        min_size=0, max_size=64)

    @settings(max_examples=300, deadline=None)
    @given(a=text, b=text, probe=text)
    def check(a, b, probe):
        mn, mx = min(a, b), max(a, b)
        got = TxnLogFormat._truncate_str_stats(mn, mx)
        if got is None:
            return  # no bounds recorded — pruning disabled, sound
        bmn, bmx = got
        if mn <= probe <= mx:  # every in-range value stays in range
            assert bmn <= probe <= bmx, (mn, mx, got, probe)

    check()


def test_data_skipping_prunes_files_by_commit_stats(spark, tmp_path):
    """Round 7: commits record per-file min/max from the parquet footers;
    read(where=...) must open ONLY files whose stats admit a match
    (proven via inputFiles), while returning exactly the filtered rows."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"u{i % 3}", float(i)) for i in range(100)],
        "id int, tag string, v double")
    # range-clustered: 4 files with disjoint id ranges
    fmt.append(df.repartitionByRange(4, "id"), path)
    rec = fmt._commits(path)[-1]
    assert rec.get("stats"), "commit must carry per-file stats"
    assert all(s.get("id") for s in rec["stats"].values())

    full = fmt.read(spark, path)
    n_files = len(full.inputFiles())
    assert n_files == 4
    pruned = fmt.read(spark, path, where="id >= 80")
    assert len(pruned.inputFiles()) < n_files
    assert sorted(r.id for r in pruned.collect()) == list(range(80, 100))
    # string stats prune too
    tag = fmt.read(spark, path, where="tag = 'zzz'")
    assert tag.count() == 0
    # conjunction: each conjunct prunes independently
    both = fmt.read(spark, path, where="id >= 80 AND v < 90.0")
    assert sorted(r.id for r in both.collect()) == list(range(80, 90))
    assert len(both.inputFiles()) < n_files
    # pruning is never load-bearing: OR disables it, result still exact
    disj = fmt.read(spark, path, where="id >= 95 OR id < 5")
    assert disj.count() == 10
    assert len(disj.inputFiles()) == n_files


def test_compact_cluster_by_enables_skipping(spark, tmp_path):
    """OPTIMIZE CLUSTER BY parity: hash-scattered files have overlapping
    min/max (nothing prunes); compact(cluster_by=...) range-clusters the
    rewrite, after which the same predicate opens a file subset.  DV row
    ops ride the same pruner via where=predicate."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(200)],
                               "id int, v double")
    fmt.append(df.repartition(4), path)  # hash-scattered: ranges overlap
    q = fmt.read(spark, path, where="id < 10")
    assert len(q.inputFiles()) == 4      # nothing prunable
    fmt.compact(spark, path, cluster_by=["id"])
    q2 = fmt.read(spark, path, where="id < 10")
    assert len(q2.inputFiles()) < len(fmt.read(spark, path).inputFiles())
    assert sorted(r.id for r in q2.collect()) == list(range(10))
    # a clustered point delete prunes too, and stays exact
    assert fmt.delete_where_dv(spark, path, "id >= 190") == 10
    assert fmt.read(spark, path).count() == 190
    with pytest.raises(ValueError, match="cluster_by"):
        fmt.compact(spark, path, cluster_by=["id"],
                    rewrite_dv_threshold=0.5)


def test_compact_zorder_prunes_on_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER BY parity: with two independent predicate columns
    (v anti-correlated with id so lexicographic range clustering on id
    leaves v's per-file ranges wide), the Morton layout must prune
    corner predicates on BOTH axes; results stay exact either way."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    n = 512
    df = spark.createDataFrame([(i, n - 1 - i) for i in range(n)],
                               "id int, v int")
    fmt.append(df.repartition(4), path)
    fmt.compact(spark, path, cluster_by=["id", "v"], zorder=True)
    total = len(fmt.read(spark, path).inputFiles())
    assert total > 1
    corner = fmt.read(spark, path, where="id < 64 AND v < 64")
    assert len(corner.inputFiles()) < total
    assert corner.count() == 0  # anti-correlated: the corner is empty
    edge = fmt.read(spark, path, where="id >= 448")
    assert len(edge.inputFiles()) < total
    assert sorted(r.id for r in edge.collect()) == list(range(448, 512))
    with pytest.raises(ValueError, match="requires cluster_by"):
        fmt.compact(spark, path, zorder=True)


def test_data_skipping_composes_with_dv_and_time_travel(spark, tmp_path):
    """Skipping + deletion vectors + versions: the filter semantics stay
    exact when vectors hide rows, and a time-travel read only consults
    the prefix's stats."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(40)],
                               "id int, v double")
    fmt.append(df.repartitionByRange(4, "id"), path)          # v0
    fmt.delete_where_dv(spark, path, "id >= 35")              # v1
    got = fmt.read(spark, path, where="id >= 30")
    assert sorted(r.id for r in got.collect()) == [30, 31, 32, 33, 34]
    assert len(got.inputFiles()) < 4
    # pre-DV version still sees the vectored rows, pruned the same way
    old = fmt.read(spark, path, as_of_version=0, where="id >= 30")
    assert sorted(r.id for r in old.collect()) == list(range(30, 40))


def test_txn_cache_resets_when_table_is_recreated(spark, tmp_path):
    """ADVICE r6: deleting and rebuilding a table at the same path (a
    stream reset) must not leave the writer's txn cache poisoned — stale
    recs would fake 'already applied' for the NEW table's first epochs
    and silently no-op its writes.  Covers both regression shapes: a
    recreated log with FEWER commits (head < seen) and one that has
    already grown PAST the old head (inode change only)."""
    import shutil
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    one = spark.createDataFrame([(1,)], "v int")
    for v in range(1, 4):
        fmt.append(one, path, txn_app="job", txn_version=v)
    assert fmt._txn_already_applied(path, "job", 1)
    shutil.rmtree(path)

    # shape 1: fresh table, shorter log — epoch 1 must apply again
    fmt.append(spark.createDataFrame([(10,)], "v int"), path,
               txn_app="job", txn_version=1)
    assert [r.v for r in fmt.read(spark, path).collect()] == [10]
    # and the new log's own records are visible (watermark not stale)
    assert fmt._txn_already_applied(path, "job", 1)
    assert not fmt._txn_already_applied(path, "job", 2)

    # shape 2: recreate again, then grow the new log PAST the old head
    # via a second writer before the first looks — inode check catches
    # what the head<seen comparison alone cannot
    shutil.rmtree(path)
    other = TxnLogFormat()
    for v in range(1, 6):
        other.append(one, path, txn_app="job2", txn_version=v)
    assert not fmt._txn_already_applied(path, "job", 1)
    assert fmt._txn_already_applied(path, "job2", 5)
    fmt.append(spark.createDataFrame([(99,)], "v int"), path,
               txn_app="job", txn_version=1)
    assert sorted(r.v for r in fmt.read(spark, path).collect()) \
        == [1, 1, 1, 1, 1, 99]


def test_timestamp_travel_naive_iso_string_is_utc(spark, tmp_path):
    """ADVICE r6: a NAIVE ISO cutoff string resolves as UTC — the same
    string must select the same version on every host TZ.  An
    offset-aware string is honored as written."""
    import datetime as dt
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(spark.createDataFrame([(1,)], "v int"), path)
    ts0 = fmt.history(path)[-1]["ts"]
    # the commit instant rendered as a naive UTC string must already
    # include version 0 (+2µs: fromtimestamp rounds to the nearest
    # microsecond, which could land the rendered cutoff just BEFORE the
    # float commit ts)
    cut = (dt.datetime.fromtimestamp(ts0, dt.timezone.utc)
           + dt.timedelta(microseconds=2))
    s = cut.strftime("%Y-%m-%d %H:%M:%S.%f")
    assert [r.v for r in
            fmt.read(spark, path, as_of_timestamp=s).collect()] == [1]
    # the same instant written with an explicit offset resolves equally
    s_off = cut.isoformat()
    assert [r.v for r in
            fmt.read(spark, path, as_of_timestamp=s_off).collect()] == [1]
    # one second BEFORE the commit, as a naive UTC string, predates it
    early = dt.datetime.fromtimestamp(ts0 - 1, dt.timezone.utc) \
        .strftime("%Y-%m-%d %H:%M:%S")
    with pytest.raises(ValueError):
        fmt.read(spark, path, as_of_timestamp=early)


def test_timestamp_travel_monotonizes_backward_clock_steps(spark,
                                                           tmp_path):
    """A backward clock step between writers must not let a cutoff
    select a version whose replay prefix includes a LATER-published
    commit: effective ts is the running max over version order (the
    Delta monotonization)."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(spark.createDataFrame([(1,)], "v int"), path)
    fmt.append(spark.createDataFrame([(2,)], "v int"), path)
    log = fmt._log_dir(path)
    for name, ts in ((f"{0:012d}.json", 100.0), (f"{1:012d}.json", 90.0)):
        p = os.path.join(log, name)
        with open(p) as f:
            rec = json.load(f)
        rec["ts"] = ts
        with open(p, "w") as f:
            json.dump(rec, f)
    # raw-ts resolution would pick v1 (ts 90 <= 95) and replay v0 too,
    # a state containing a commit published at 100 > 95
    with pytest.raises(ValueError, match="at or before"):
        fmt.read(spark, path, as_of_timestamp=95.0)
    got = sorted(r.v for r in
                 fmt.read(spark, path, as_of_timestamp=100.0).collect())
    assert got == [1, 2]  # both versions' effective ts collapse to 100


@pytest.mark.slow
def test_partition_predicate_prunes_whole_dirs(spark, tmp_path,
                                               monkeypatch):
    """Log-level partition pruning (VERDICT r8 item 2): a conjunct on a
    dynamic overwrite's partition column drops whole dirs from the plan
    via the commit-recorded partition VALUES — the pruned dir is never
    even stat'ed (pinned by an os.path.isdir probe, which Spark's own
    scan-level partition pruning cannot fake), and the planned files all
    come from matching dirs.  Rows stay exact: the predicate re-applies."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    p = lambda rows: spark.createDataFrame(rows, "d string, v int") \
        .coalesce(1)
    fmt.overwrite_partitions(p([("2024-01-01", 1), ("2024-01-02", 2)]),
                             path, "d")                             # v0
    fmt.overwrite_partitions(p([("2024-01-03", 3)]), path, "d")     # v1
    dirs = {c["version"]: c["dir"] for c in fmt._raw_full(path)}

    probed = []
    real_isdir = os.path.isdir
    monkeypatch.setattr(os.path, "isdir",
                        lambda q: probed.append(q) or real_isdir(q))
    got = fmt.read(spark, path, where="d = '2024-01-03'")
    monkeypatch.undo()
    assert os.path.join(path, dirs[0]) not in probed   # dir pruned
    assert os.path.join(path, dirs[1]) in probed
    # hive partition-type inference reads the date-shaped dir names
    # back as DATE — stringify for the comparison
    assert [(str(r.d), r.v) for r in got.collect()] \
        == [("2024-01-03", 3)]
    assert all(dirs[1] in f for f in got.inputFiles())

    # range + IN + BETWEEN forms prune too; results stay exact
    got2 = fmt.read(spark, path, where="d >= '2024-01-03'")
    assert all(dirs[1] in f for f in got2.inputFiles())
    assert [(str(r.d), r.v) for r in got2.collect()] \
        == [("2024-01-03", 3)]
    got3 = fmt.read(spark, path, where="d IN ('2024-01-01')")
    assert all(dirs[0] in f for f in got3.inputFiles())
    assert [(str(r.d), r.v) for r in got3.collect()] \
        == [("2024-01-01", 1)]
    got4 = fmt.read(spark, path,
                    where="d BETWEEN '2024-01-02' AND '2024-01-03'")
    assert sorted((str(r.d), r.v) for r in got4.collect()) \
        == [("2024-01-02", 2), ("2024-01-03", 3)]


@pytest.mark.slow
def test_partition_pruning_null_int_and_conservative_types(
        spark, tmp_path):
    """The null partition prunes via IS [NOT] NULL; integer partitions
    compare as integers (dir-name decimal form roundtrips); float
    partitions are conservatively never dir-pruned — results stay exact
    in every case."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (None, "b")], "k int, s string")
    fmt.overwrite_partitions(df.coalesce(1), path, "k")             # v0
    fmt.overwrite_partitions(
        spark.createDataFrame([(7, "c")], "k int, s string")
        .coalesce(1), path, "k")                                    # v1
    dirs = {c["version"]: c["dir"] for c in fmt._raw_full(path)}
    got = fmt.read(spark, path, where="k IS NULL")
    assert all(dirs[0] in f for f in got.inputFiles())  # v1 has no null
    assert [r.s for r in got.collect()] == ["b"]
    got2 = fmt.read(spark, path, where="k = 7")
    assert all(dirs[1] in f for f in got2.inputFiles())
    assert [r.s for r in got2.collect()] == ["c"]
    got3 = fmt.read(spark, path, where="k > 5")
    assert all(dirs[1] in f for f in got3.inputFiles())
    assert [r.s for r in got3.collect()] == ["c"]
    # hive type-INFERENCE hazards never prune: numeric-looking strings
    # are compared in the inferred int domain by Spark ('01' matches
    # d = '1'), empty string reads back as the null partition, and a
    # non-canonical date literal coerces in the date domain — all three
    # must stay conservative, while canonical-ISO and plain strings
    # keep pruning
    pe = TxnLogFormat._partition_provably_empty
    assert pe("d", {"01"}, [("d", "=", "1")], "string") is False
    assert pe("d", {""}, [("d", "isnull", None)], "string") is False
    assert pe("d", {"2024-01-03"}, [("d", "=", "2024-1-4")],
              "string") is False
    assert pe("d", {"2024-01-03"}, [("d", "=", "2024-01-04")],
              "string") is True
    assert pe("d", {"alpha"}, [("d", "=", "beta")], "string") is True
    # float partition column: never dir-pruned, always correct
    path2 = str(tmp_path / "t2")
    fd = spark.createDataFrame([(0.5, "x"), (2.5, "y")],
                               "f double, s string")
    fmt.overwrite_partitions(fd.coalesce(1), path2, "f")
    assert fmt._partition_provably_empty(
        "f", {"0.5", "2.5"}, [("f", ">", 3.0)], "double") is False
    got4 = fmt.read(spark, path2, where="f > 1.0")
    assert [r.s for r in got4.collect()] == ["y"]


def test_partition_pruning_composes_with_dv_and_alter(spark, tmp_path):
    """Partition-dir pruning must compose with deletion vectors (the
    anti-join still hides vectored rows in surviving dirs) and with
    alters on OTHER columns (the mapping still applies to surviving
    dirs)."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("2024-01-01", i, float(i)) for i in range(4)]
        + [("2024-01-02", i + 10, float(i)) for i in range(4)],
        "d string, id int, v double")
    fmt.overwrite_partitions(df.coalesce(1), path, "d")             # v0
    assert fmt.delete_where_dv(spark, path, "id = 11") == 1         # v1
    fmt.alter_table(path, rename_columns={"v": "val"},
                    add_columns={"note": "string"})                 # v2
    got = fmt.read(spark, path, where="d = '2024-01-02'")
    assert sorted(r.id for r in got.collect()) == [10, 12, 13]
    assert got.columns == ["d", "id", "val", "note"]
    # time travel before the DV sees all four rows, still dir-pruned
    old = fmt.read(spark, path, as_of_version=0, where="d = '2024-01-02'")
    assert sorted(r.id for r in old.collect()) == [10, 11, 12, 13]


def test_partition_pruning_soundness_property():
    """Hypothesis soundness: whenever _partition_provably_empty claims a
    dir can't match, NO recorded value of that dir actually satisfies
    the clause under Python semantics mirroring Spark's (int compare
    for int types, codepoint compare for strings)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    ints = st.integers(min_value=-50, max_value=50)
    ops = st.sampled_from(["=", "<", "<=", ">", ">=", "in"])

    @settings(max_examples=300, deadline=None)
    @given(parts=st.sets(ints | st.none(), min_size=1, max_size=6),
           op=ops,
           lit=ints | st.tuples(ints, ints))
    def check(parts, op, lit):
        if op == "in":
            lit = lit if isinstance(lit, tuple) else (lit,)
        elif isinstance(lit, tuple):
            lit = lit[0]
        recorded = {None if p is None else str(p) for p in parts}
        clause = [("k", op, lit)]
        if TxnLogFormat._partition_provably_empty(
                "k", recorded, clause, "integer"):
            for p in parts:
                if p is None:
                    continue  # NULL never satisfies a comparison/IN
                if op == "=":
                    assert p != lit
                elif op == "in":
                    assert p not in lit
                elif op == "<":
                    assert not p < lit
                elif op == "<=":
                    assert not p <= lit
                elif op == ">":
                    assert not p > lit
                elif op == ">=":
                    assert not p >= lit

    check()


_CP_RACE_WRITER = r"""
import os, sys
sys.path.insert(0, {repo!r})
import pyarrow as pa
import pyarrow.parquet as pq
from datalake_ingestion_system_spark.sinks import TxnLogFormat

path, wid, do_vacuum = sys.argv[1], int(sys.argv[2]), sys.argv[3] == "1"
fmt = TxnLogFormat(checkpoint_interval=2, checkpoint_sidecar_files=4)
schema_json = ('{{"type":"struct","fields":[{{"name":"id","type":'
               '"integer","nullable":true,"metadata":{{}}}}]}}')
for i in range(20):
    rel = os.path.join("_txn_data", f"w{{wid}}_{{i:03d}}")
    os.makedirs(os.path.join(path, rel))
    pq.write_table(pa.table({{"id": pa.array([wid * 1000 + i],
                                             pa.int32())}}),
                   os.path.join(path, rel, "part-0.parquet"))
    fmt._commit(path, {{"action": "append", "dir": rel,
                        "schema": schema_json}})
    if do_vacuum and i % 5 == 4:
        fmt.vacuum(path, retain_hours=1e6, log_retain_hours=0.0)
print("done")
"""


def test_multiprocess_race_auto_checkpoint_and_vacuum(spark, tmp_path):
    """VERDICT r8 item 5: two OS processes BOTH auto-checkpoint
    (interval 2, sidecar threshold 4 — every checkpoint publish also
    races a parquet sidecar link) while one concurrently runs
    ``vacuum(log_retain_hours=0)`` — the os.link-loser stand-down and
    racing-prune fallback paths under true process contention, not just
    threads/model.  Required: gapless resolved versions, all 40 appends
    live and readable, post-checkpoint time travel works, no horizon
    errors at/above the latest checkpoint, no stray tmp files."""
    import subprocess
    import sys as _sys
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    writer = tmp_path / "writer.py"
    writer.write_text(_CP_RACE_WRITER.format(repo=repo))
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_txn_log"), exist_ok=True)
    procs = [subprocess.Popen(
        [_sys.executable, str(writer), path, str(w), str(w)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for w in range(2)]
    for p in procs:
        out, err = p.communicate(timeout=180)
        assert p.returncode == 0, err
        assert out.strip() == "done"

    fmt = TxnLogFormat()
    commits = fmt._commits(path)
    head = commits[-1]["version"]
    assert head == 39
    live = Snapshot.fold(commits).live
    assert len(live) == 40  # gapless: every append resolved exactly once
    rows = sorted(r.id for r in fmt.read(spark, path).collect())
    assert rows == sorted(w * 1000 + i for w in range(2)
                          for i in range(20))
    log = os.path.join(path, "_txn_log")
    cps = sorted(int(n.split(".")[0]) for n in os.listdir(log)
                 if n.endswith(".checkpoint.json"))
    assert cps, "no checkpoint survived the race"
    # the race genuinely reached the sidecar form
    assert any(n.endswith(".checkpoint.stats.parquet")
               for n in os.listdir(log))
    # time travel at/above the latest checkpoint never horizon-errors
    for v in (cps[-1], head):
        assert fmt.read(spark, path, as_of_version=v).count() == v + 1
    assert [n for n in os.listdir(log) if n.endswith(".tmp")] == []
    # details plans from whatever metadata survived pruning
    d = fmt.details(path)
    assert d["num_live_files"] == 40


# -- WriteSerializable logical conflict checking --------------------------
#
# Delta's conflict matrix: under the default WriteSerializable isolation,
# a blind APPEND never conflicts with a concurrently committing
# file-targeted op (OPTIMIZE / DV delete / DV update / metadata change) —
# the history serializes as if the targeted op ran first.  Without this,
# sustained streaming appends would starve every maintenance op forever
# (retry_on_conflict is bounded by design).  Full-table replace_all ops
# stay strict: they read everything, so any interleave invalidates them.


def _interpose_append(fmt, racer, spark, path, rows, schema,
                      on_call: int = 1):
    """Patch ``fmt.read`` so the ``on_call``-th read inside the op under
    test is followed by a racer append — deterministically landing a
    commit between the op's snapshot resolution and its publish."""
    orig_read = fmt.read
    calls = {"n": 0}

    def racing_read(spark_, p, **kw):
        df_ = orig_read(spark_, p, **kw)
        calls["n"] += 1
        if calls["n"] == on_call:
            racer.append(spark.createDataFrame(rows, schema), path)
        return df_

    fmt.read = racing_read
    return orig_read


def test_dv_delete_tolerates_interleaved_append(spark, tmp_path):
    """DV delete vs racing same-schema append: BOTH land without a retry
    — the delete's vector targets snapshot files only, the appended rows
    survive untouched (WriteSerializable: delete serializes first, so
    the racer's predicate-matching row is NOT deleted)."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, -1.0), (2, 2.0)], "id long, v double"),
        path)
    racer = TxnLogFormat()
    # on_call=1: fire AFTER the predicate read (the reserved-column
    # check resolves from the commit-recorded schema since round 16, so
    # the predicate read is the op's first and only pre-commit read),
    # so the op's snapshot provably excludes the racer
    orig = _interpose_append(fmt, racer, spark, path,
                             [(3, -3.0)], "id long, v double", on_call=1)
    try:
        n = fmt.delete_where_dv(spark, path, "v < 0")
    finally:
        fmt.read = orig
    assert n == 1
    got = sorted((r.id, r.v) for r in fmt.read(spark, path).collect())
    # id=1 deleted; racer's id=3 (v<0!) survives — serialized after
    assert got == [(2, 2.0), (3, -3.0)]
    # the add_dv commit RETARGETED above the interleaved append
    actions = [c["action"] for c in fmt._commits(path)
               if c["action"] != "checkpoint"]
    assert actions == ["replace_all", "append", "add_dv"]


def test_dv_update_tolerates_interleaved_append(spark, tmp_path):
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double"),
        path)
    racer = TxnLogFormat()
    orig = _interpose_append(fmt, racer, spark, path,
                             [(3, 30.0)], "id long, v double", on_call=1)
    try:
        n = fmt.update_where_dv(spark, path, "id = 1", {"v": "v + 0.5"})
    finally:
        fmt.read = orig
    assert n == 1
    got = sorted((r.id, r.v) for r in fmt.read(spark, path).collect())
    assert got == [(1, 10.5), (2, 20.0), (3, 30.0)]


def test_targeted_compact_tolerates_interleaved_append(spark, tmp_path):
    """OPTIMIZE vs append — Delta explicitly allows this pair.  The
    rewrite removes snapshot files only; the racer's dir stays live."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, 1.0)], "id long, v double"), path)
    fmt.append(spark.createDataFrame([(2, 2.0)], "id long, v double"), path)
    racer = TxnLogFormat()
    orig = _interpose_append(fmt, racer, spark, path,
                             [(9, 9.0)], "id long, v double", on_call=1)
    n_snapshot_files = sum(
        len(c.get("files") or []) for c in fmt._commits(path)
        if c["action"] == "append")
    try:
        out = fmt.compact(spark, path, small_file_bytes=32 << 20)
    finally:
        fmt.read = orig
    # exactly the SNAPSHOT's files merged — the racer's dir untouched
    assert out["rewritten_files"] == n_snapshot_files
    got = sorted((r.id, r.v) for r in fmt.read(spark, path).collect())
    assert got == [(1, 1.0), (2, 2.0), (9, 9.0)]


def test_alter_tolerates_same_schema_append(spark, tmp_path):
    """Metadata-only alter vs same-schema append: the append lands BELOW
    the retargeted alter version, so the rename mapping applies to it —
    exactly as if the append had committed first."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, 1.0)], "id long, v double"), path)
    racer = TxnLogFormat()
    raced = {"done": False}
    orig_snapshot = fmt._snapshot

    def racing_snapshot(*a, **kw):
        snap = orig_snapshot(*a, **kw)
        if not raced["done"]:
            raced["done"] = True
            racer.append(spark.createDataFrame(
                [(2, 2.0)], "id long, v double"), path)
        return snap

    fmt._snapshot = racing_snapshot
    try:
        fmt.alter_table(path, rename_columns={"v": "val"})
    finally:
        fmt._snapshot = orig_snapshot
    out = fmt.read(spark, path)
    assert out.columns == ["id", "val"]
    assert sorted((r.id, r.val) for r in out.collect()) == \
        [(1, 1.0), (2, 2.0)]


def test_alter_conflicts_on_schema_divergent_append(spark, tmp_path):
    """A WIDENED interleaved append must conflict: retargeting the
    stale-schema alter above it would roll the resolved schema back and
    silently drop the new column."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, 1.0)], "id long, v double"), path)
    racer = TxnLogFormat()
    raced = {"done": False}
    orig_snapshot = fmt._snapshot

    def racing_snapshot(*a, **kw):
        snap = orig_snapshot(*a, **kw)
        if not raced["done"]:
            raced["done"] = True
            racer.append(spark.createDataFrame(
                [(2, 2.0, "x")], "id long, v double, extra string"), path)
        return snap

    fmt._snapshot = racing_snapshot
    try:
        with pytest.raises(ConcurrentWriteError, match="advanced"):
            fmt.alter_table(path, rename_columns={"v": "val"})
    finally:
        fmt._snapshot = orig_snapshot
    # nothing lost: the widened append is live, schema keeps the column
    out = fmt.read(spark, path)
    assert set(out.columns) == {"id", "v", "extra"}


def test_dv_delete_conflicts_on_interleaved_overwrite(spark, tmp_path):
    """Only pure appends are benign: an interleaved replace_all rewrote
    the files the vector targets — the op must recompute."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, -1.0), (2, 2.0)], "id long, v double"),
        path)
    racer = TxnLogFormat()
    orig_read = fmt.read
    calls = {"n": 0}

    def racing_read(spark_, p, **kw):
        df_ = orig_read(spark_, p, **kw)
        calls["n"] += 1
        # call 1 is the predicate read (the reserved-column check reads
        # the commit-recorded schema since round 16, no scan)
        if calls["n"] == 1:
            racer.overwrite_table(spark.createDataFrame(
                [(7, -7.0)], "id long, v double"), path)
        return df_

    fmt.read = racing_read
    try:
        with pytest.raises(ConcurrentWriteError, match="advanced"):
            fmt.delete_where_dv(spark, path, "v < 0")
    finally:
        fmt.read = orig_read
    assert [(r.id, r.v) for r in fmt.read(spark, path).collect()] == \
        [(7, -7.0)]


def test_serializable_isolation_keeps_strict_conflicts(spark, tmp_path):
    """isolation='serializable' opts out of the benign-append relaxation
    (audit-grade strict ordering); invalid values fail at construction."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError
    with pytest.raises(ValueError, match="isolation"):
        TxnLogFormat(isolation="snapshot")
    fmt = TxnLogFormat(isolation="serializable")
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(1, -1.0), (2, 2.0)], "id long, v double"),
        path)
    racer = TxnLogFormat()
    orig = _interpose_append(fmt, racer, spark, path,
                             [(3, -3.0)], "id long, v double", on_call=1)
    try:
        with pytest.raises(ConcurrentWriteError, match="advanced"):
            fmt.delete_where_dv(spark, path, "v < 0")
    finally:
        fmt.read = orig


def test_maintenance_never_starved_by_append_storm(spark, tmp_path):
    """The no-starvation guarantee the relaxation exists for: while a
    writer thread appends same-schema batches as fast as it can, DV
    deletes and targeted compactions run WITHOUT any retry wrapper —
    under WriteSerializable every interleaved append is benign, so no op
    may ever raise ConcurrentWriteError.  Exact final accounting: the
    appender's rows (disjoint ids, v > 0) all survive; every v < 0 row
    is eventually vectored out."""
    import threading

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.overwrite_table(
        spark.createDataFrame([(i, -1.0) for i in range(10)],
                              "id long, v double"), path)
    racer = TxnLogFormat()
    stop = threading.Event()
    appended: list[int] = []
    boom: list[BaseException] = []

    def storm():
        try:
            for b in range(6):
                ids = [1000 + 10 * b + j for j in range(3)]
                racer.append(spark.createDataFrame(
                    [(i, 1.0) for i in ids], "id long, v double"), path)
                appended.extend(ids)
        except BaseException as e:  # pragma: no cover - fails the test
            boom.append(e)
        finally:
            stop.set()

    t = threading.Thread(target=storm)
    t.start()
    try:
        while not stop.is_set():
            fmt.delete_where_dv(spark, path, "v < 0")  # no retry wrapper
            fmt.compact(spark, path, small_file_bytes=32 << 20)
    finally:
        t.join()
    assert not boom, boom
    fmt.delete_where_dv(spark, path, "v < 0")  # sweep any late snapshot
    got = sorted(r.id for r in fmt.read(spark, path).collect())
    assert got == sorted(appended)
    # raw log, not _commits: the checkpoint-aware view folds the tail
    # away when the run happens to end on a checkpoint boundary
    raw, _cps, recs = fmt._log_names(path)
    actions = {fmt._load(path, n, recs)["action"] for n in raw}
    assert "append" in actions  # the storm genuinely interleaved the log


def test_targeted_delete_update_preserve_untouched_files(spark, tmp_path):
    """File-targeted DELETE/UPDATE (Delta parity): only files holding
    matching rows are rewritten — every other file keeps its physical
    identity (inputFiles-pinned), the commit is rewrite_files, vectors
    on untouched files stay live, and time travel serves the pre-op
    state."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        fmt.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(5)], "k long, v double")
            .coalesce(1), path)
    before = set(fmt.read(spark, path).inputFiles())
    assert len(before) == 3
    assert fmt.delete_where(spark, path, "k = 102") == 1
    after = set(fmt.read(spark, path).inputFiles())
    assert len(before & after) == 2          # two files untouched
    assert fmt._commits(path)[-1]["action"] == "rewrite_files"
    assert sorted(r.k for r in fmt.read(spark, path).collect()) == \
        [0, 1, 2, 3, 4, 100, 101, 103, 104, 200, 201, 202, 203, 204]

    # a DV on an untouched file survives a targeted update elsewhere
    fmt.delete_where_dv(spark, path, "k = 0")
    assert fmt.update_where(spark, path, "k >= 200",
                            {"v": "v + 0.5"}) == 5
    got = {r.k: r.v for r in fmt.read(spark, path).collect()}
    assert 0 not in got and got[200] == 0.5 and got[100] == 0.0
    # pre-delete state is still time-travelable (version 2 = 3 appends)
    assert len(fmt.read(spark, path, as_of_version=2).collect()) == 15

    # a DV ON a rewritten file materializes and retires with it
    fmt.delete_where_dv(spark, path, "k = 101")
    assert fmt.delete_where(spark, path, "k = 103") == 1
    got = sorted(r.k for r in fmt.read(spark, path).collect())
    assert 101 not in got and 103 not in got and 104 in got


@pytest.mark.slow
def test_vacuum_sweeps_retired_files_in_live_dirs(spark, tmp_path):
    """Files retired by a targeted rewrite live inside still-referenced
    dirs — the dir sweep can't free them.  The file-level sweep deletes
    them once the RETIREMENT (rewrite commit ts, not file mtime) ages
    past retention; younger retirements are kept, so time travel within
    the window stays safe."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        fmt.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(5)], "k long, v double")
            .coalesce(1), path)
    before = set(fmt.read(spark, path).inputFiles())
    assert fmt.delete_where(spark, path, "k = 102") == 1
    after = set(fmt.read(spark, path).inputFiles())
    (retired_abs,) = before - after
    retired_abs = retired_abs.removeprefix("file://")
    # retention keeps a freshly retired file (mtime is irrelevant:
    # the FILE is as old as the table, the RETIREMENT is seconds old)
    fmt.vacuum(path, retain_hours=1.0)
    assert os.path.exists(retired_abs)
    assert len(fmt.read(spark, path, as_of_version=2).collect()) == 15
    # past retention it sweeps, and only once
    deleted = fmt.vacuum(path, retain_hours=0.0)
    assert any(f in retired_abs for f in deleted)
    assert not os.path.exists(retired_abs)
    assert fmt.vacuum(path, retain_hours=0.0) == []
    # live reads are untouched; pre-rewrite time travel now raises
    assert sorted(r.k for r in fmt.read(spark, path).collect()) == \
        [0, 1, 2, 3, 4, 100, 101, 103, 104, 200, 201, 202, 203, 204]
    with pytest.raises(Exception):
        fmt.read(spark, path, as_of_version=2).collect()


def test_history_reports_every_retained_commit(spark, tmp_path):
    """DESCRIBE HISTORY analogue: newest-first rows with operation,
    data_change (False for compaction), file/byte deltas, and
    op-specific params — metadata-only, from the log records alone."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame(
        [(i, float(i)) for i in range(5)], "k long, v double")
        .coalesce(1), path)                                       # v0
    fmt.append(spark.createDataFrame([(9, 9.0)], "k long, v double")
               .coalesce(1), path, txn_app="job", txn_version=1)  # v1
    fmt.compact(spark, path, small_file_bytes=1 << 30)            # v2
    fmt.delete_where(spark, path, "k = 1")                        # v3
    fmt.restore(spark, path, 1)                                   # v4

    h = fmt.history(path)
    assert [r["version"] for r in h] == [4, 3, 2, 1, 0]
    assert [r["action"] for r in h] == [
        "restore", "rewrite_files", "rewrite_files", "append", "append"]
    assert [r["data_change"] for r in h] == [
        True, True, False, True, True]  # compaction moved bytes only
    assert h[0]["to_version"] == 1
    assert h[3]["txn_app"] == "job" and h[3]["txn_version"] == 1
    assert h[4]["num_added_files"] == 1 and h[4]["added_bytes"] > 0
    assert h[1]["num_removed_files"] >= 1
    assert all(r["ts"] is not None for r in h)
    # limit caps from the newest end
    assert [r["version"] for r in fmt.history(path, limit=2)] == [4, 3]

    # a checkpoint surfaces as its own row; pruning the log below it
    # removes the folded versions from history (logRetention trade)
    fmt2 = TxnLogFormat(checkpoint_interval=None)
    fmt2.append(spark.createDataFrame([(1, 1.0)], "k long, v double"),
                path)                                             # v5
    fmt2.checkpoint(path)
    fmt2.vacuum(path, retain_hours=0.0, log_retain_hours=0.0)
    h2 = fmt2.history(path)
    ops = {r["action"] for r in h2}
    assert "checkpoint" in ops
    cp_v = max(r["version"] for r in h2 if r["action"] == "checkpoint")
    assert all(r["version"] >= cp_v for r in h2)


@pytest.mark.slow
def test_table_properties_bind_every_writer(spark, tmp_path):
    """Delta TBLPROPERTIES parity: constraints / bloom columns /
    change_data_feed persisted by set_properties are enforced and
    honored by writers constructed with NO config — the
    ignorant-second-writer hole instance settings leave open."""
    from datalake_ingestion_system_spark.sinks import TxnLogFormat as T

    owner = T()
    path = str(tmp_path / "t")
    owner.append(spark.createDataFrame(
        [("a", 1), ("b", 2)], "name string, v long").coalesce(1), path)
    v = owner.set_properties(
        spark, path, constraints={"v_pos": "v > 0"},
        bloom_filter_columns={"name": 1024}, change_data_feed=True)
    assert owner.properties(path) == {
        "constraints": {"v_pos": "v > 0"},
        "bloom_filter_columns": {"name": 1024},
        "change_data_feed": True}
    assert owner._commits(path)[-1]["version"] == v

    ignorant = T()  # no constraints, no blooms, no CDF
    # constraint enforced on the ignorant writer's append
    with pytest.raises(ValueError, match="v_pos"):
        ignorant.append(spark.createDataFrame(
            [("x", -1)], "name string, v long"), path)
    # its clean append gets bloom filters
    ignorant.append(spark.createDataFrame(
        [("zeta", 3)], "name string, v long").coalesce(1), path)
    (per,) = ignorant._commits(path)[-1]["stats"].values()
    assert len(per["name"]) == 5  # bloom rode the stats
    # and its targeted delete records a CDF sidecar
    assert ignorant.delete_where(spark, path, "name = 'a'") == 1
    assert ignorant._commits(path)[-1].get("cdf_dir")

    # history shows the property commit as a non-data-change
    hrow = next(r for r in ignorant.history(path)
                if r["action"] == "set_properties")
    assert hrow["data_change"] is False

    # instance settings UNION on top of table properties
    strict = T(constraints={"name_nonempty": "length(name) > 0"})
    with pytest.raises(ValueError, match="name_nonempty"):
        strict.append(spark.createDataFrame(
            [("", 5)], "name string, v long"), path)
    with pytest.raises(ValueError, match="v_pos"):
        strict.append(spark.createDataFrame(
            [("ok", 0)], "name string, v long"), path)

    # unset: None removes a property; the rest stay
    owner.set_properties(None, path, change_data_feed=None)
    assert "change_data_feed" not in owner.properties(path)
    assert "constraints" in owner.properties(path)


def test_set_properties_validates_existing_rows(spark, tmp_path):
    """Like Delta ADD CONSTRAINT: setting a constraint scans the
    current rows first and refuses if any violate; NOCHECK opts out."""
    from datalake_ingestion_system_spark.sinks import TxnLogFormat as T

    fmt = T()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(-5,)], "v long"), path)
    with pytest.raises(ValueError, match="existing rows violate"):
        fmt.set_properties(spark, path, constraints={"v_pos": "v > 0"})
    assert "constraints" not in fmt.properties(path)  # nothing landed
    fmt.set_properties(spark, path, constraints={"v_pos": "v > 0"},
                       validate_constraints=False)
    with pytest.raises(ValueError, match="v_pos"):
        fmt.append(spark.createDataFrame([(-1,)], "v long"), path)


def test_constraint_set_during_an_append_binds_it(spark, tmp_path,
                                                  monkeypatch):
    """A CHECK constraint that lands after an append took its snapshot,
    while its rows are being staged, still validates them: the staged
    files are checked against the constraints at the log head, not the
    ones the append saw when it started."""
    from datalake_ingestion_system_spark.sinks import TxnLogFormat as T

    fmt, other = T(), T()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(5,)], "v long"), path)

    def racing(df, snap):
        other.set_properties(spark, path, constraints={"v_pos": "v > 0"})
        return T._with_identity(fmt, df, snap)

    monkeypatch.setattr(fmt, "_with_identity", racing)
    with pytest.raises(ValueError, match="v_pos"):
        fmt.append(spark.createDataFrame([(-1,)], "v long"), path)
    assert [r.v for r in fmt.read(spark, path).collect()] == [5]


@pytest.mark.slow
def test_table_properties_survive_checkpoint_and_streams(
        spark, tmp_path):
    """Properties fold into the checkpoint (log-prune-proof) and their
    metadata commits never disturb stream planning or restore."""
    from datalake_ingestion_system_spark.sinks import TxnLogFormat as T

    fmt = T(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame(
        [("a", 1)], "name string, v long").coalesce(1), path)    # v0
    fmt.set_properties(spark, path,
                       bloom_filter_columns={"name": 1024})      # v1
    fmt.append(spark.createDataFrame(
        [("b", 2)], "name string, v long").coalesce(1), path)    # v2
    fmt.checkpoint(path)
    fmt.vacuum(path, retain_hours=0.0, log_retain_hours=0.0)
    fresh = T()
    assert fresh.properties(path) == {
        "bloom_filter_columns": {"name": 1024}}
    fresh.append(spark.createDataFrame(
        [("c", 3)], "name string, v long").coalesce(1), path)
    (per,) = fresh._commits(path)[-1]["stats"].values()
    assert len(per["name"]) == 5

    # a set_properties commit mid-stream is a silent metadata no-op
    path2 = str(tmp_path / "s")
    fmt.append(spark.createDataFrame(
        [("a", 1)], "name string, v long"), path2)
    fmt.set_properties(spark, path2, change_data_feed=True)
    fmt.append(spark.createDataFrame(
        [("b", 2)], "name string, v long"), path2)
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource)
    spark.dataSource.register(TxnLogDataSource)
    q = (spark.readStream.format("txnlog").load(path2)
         .writeStream.format("memory").queryName("props_ok")
         .option("checkpointLocation", str(tmp_path / "ck")).start())
    q.processAllAvailable()
    q.stop()
    assert sorted(r.name for r in
                  spark.sql("select * from props_ok").collect()) == \
        ["a", "b"]

    # restore swaps properties with the state
    fmt.restore(spark, path2, 0)
    assert fmt.properties(path2) == {}


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    """VACUUM ... DRY RUN parity: same list, nothing deleted, no
    checkpoint published, and a later real run deletes exactly it."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    for lo in (0, 100):
        fmt.append(spark.createDataFrame(
            [(lo + i, float(i)) for i in range(4)], "k long, v double")
            .coalesce(1), path)
    fmt.delete_where(spark, path, "k = 102")     # retires one file
    fmt.overwrite_table(spark.createDataFrame(
        [(9, 9.0)], "k long, v double"), path)   # supersedes the dirs
    before_rows = sorted(r.k for r in fmt.read(spark, path).collect())
    would = fmt.vacuum(path, retain_hours=0.0, dry_run=True)
    assert would  # superseded dirs + the retired file
    # nothing was touched: every reported path still exists
    for rel in would:
        assert os.path.exists(os.path.join(path, rel)), rel
    # reads and time travel unaffected
    assert sorted(r.k for r in fmt.read(spark, path).collect()) \
        == before_rows
    assert len(fmt.read(spark, path, as_of_version=1).collect()) == 8
    # the real run deletes exactly what the rehearsal promised
    real = fmt.vacuum(path, retain_hours=0.0)
    assert sorted(real) == sorted(would)
    for rel in would:
        assert not os.path.exists(os.path.join(path, rel)), rel

    # dry-run with log pruning never folds a checkpoint
    fmt2 = TxnLogFormat(checkpoint_interval=None)
    fmt2.append(spark.createDataFrame([(1, 1.0)], "k long, v double"),
                path)
    _raw, cps_before = fmt2._list_log(path)
    fmt2.vacuum(path, retain_hours=0.0, log_retain_hours=0.0,
                dry_run=True)
    _raw, cps_after = fmt2._list_log(path)
    assert cps_after == cps_before  # no checkpoint published


@pytest.mark.slow
def test_compact_where_scopes_the_rewrite(spark, tmp_path):
    """OPTIMIZE ... WHERE parity: the size-targeted rewrite touches only
    files that MAY hold matching rows; provably-empty files keep their
    physical identity, and rows are never affected."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    for lo in (0, 1000, 2000):  # disjoint k ranges, one file each
        for piece in range(2):
            fmt.append(spark.createDataFrame(
                [(lo + piece * 10 + i, float(i)) for i in range(3)],
                "k long, v double").coalesce(1), path)
    before = _input_relfiles(fmt.read(spark, path))
    assert len(before) == 6
    res = fmt.compact(spark, path, small_file_bytes=1 << 30,
                      where="k >= 2000")
    assert res["rewritten_files"] == 2  # only the k>=2000 stripe
    after = _input_relfiles(fmt.read(spark, path))
    assert len(before & after) == 4     # cold stripes untouched
    assert sorted(r.k for r in fmt.read(spark, path).collect()) == \
        sorted([lo + p * 10 + i for lo in (0, 1000, 2000)
                for p in range(2) for i in range(3)])
    # scoping to a value no file can hold is a no-op
    res2 = fmt.compact(spark, path, small_file_bytes=1 << 30,
                       where="k >= 99999")
    assert res2["rewritten_files"] == 0
    # the full rewrite refuses a where (it reads the whole table)
    with pytest.raises(ValueError, match="targeted"):
        fmt.compact(spark, path, where="k >= 0")


def _input_relfiles(df):
    import re
    return {re.search(r"_txn_data/.*$", f).group(0)
            for f in df.inputFiles()}


_APPEND_STORM_WRITER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
import pyarrow as pa
import pyarrow.parquet as pq
from datalake_ingestion_system_spark.sinks import TxnLogFormat

path = sys.argv[1]
fmt = TxnLogFormat(checkpoint_interval=4)
schema_json = ('{{"type":"struct","fields":[{{"name":"id","type":'
               '"long","nullable":true,"metadata":{{}}}}]}}')
for i in range(20):
    rel = os.path.join("_txn_data", f"storm_{{i:03d}}")
    os.makedirs(os.path.join(path, rel))
    pq.write_table(pa.table({{"id": pa.array([i], pa.int64())}}),
                   os.path.join(path, rel, "part-0.parquet"))
    fmt._commit(path, {{"action": "append", "dir": rel,
                        "schema": schema_json}})
    time.sleep(0.15)
print("done")
"""


def test_multiprocess_targeted_delete_vs_append_storm(spark, tmp_path):
    """File-targeted DELETE racing a real OS-process append storm:
    under WriteSerializable the delete's rewrite_files commit retargets
    past interleaved pure appends — no ConcurrentWriteError, no lost
    append, no lost delete, gapless versions, every delete flagged
    data_change.  This is the thread-level storm test's contract under
    true process contention (separate log caches, separate os.link
    racers), with the round-9c targeted rewrite as the maintenance op."""
    import subprocess
    import sys as _sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    writer = tmp_path / "storm.py"
    writer.write_text(_APPEND_STORM_WRITER.format(repo=repo))
    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_txn_log"), exist_ok=True)
    proc = subprocess.Popen(
        [_sys.executable, str(writer), path],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        fmt = TxnLogFormat(checkpoint_interval=4)
        targets = [3, 7, 11, 15]
        deleted = []
        deadline = time.time() + 150
        for t in targets:
            while time.time() < deadline:
                try:
                    if fmt.delete_where(spark, path, f"id = {t}") == 1:
                        deleted.append(t)
                        break
                except FileNotFoundError:
                    pass  # table not created yet — appender still warming
                time.sleep(0.1)  # target row not appended yet
        assert deleted == targets
    finally:
        out, err = proc.communicate(timeout=120)
    assert proc.returncode == 0, err
    assert out.strip() == "done"

    check = TxnLogFormat()
    commits = check._commits(check_path := path)
    # gapless: 20 appends + 4 rewrites = 24 commits, versions 0..23
    assert commits[-1]["version"] == 23
    rows = sorted(r.id for r in check.read(spark, check_path).collect())
    assert rows == sorted(set(range(20)) - set(targets))
    rewrites = [c for c in check._raw_full(path) or commits
                if c["action"] == "rewrite_files"]
    assert len(rewrites) == 4
    assert all(c.get("data_change") for c in rewrites)
    # time travel to the final version of the interleaved history works
    assert check.read(spark, check_path,
                      as_of_version=23).count() == 16


def test_alter_add_column_with_default(spark, tmp_path):
    """ADD COLUMN ... DEFAULT (Spark EXISTS_DEFAULT semantics): rows
    predating the column read the frozen constant; rows written after
    read what they stored — including genuine NULLs; the default
    survives renames, freezes across checkpoint folds, and time travel
    to a pre-alter version serves the old schema untouched."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,), (2,)], "id long"), path)
    v_alter = fmt.alter_table(
        path, add_columns={"tier": "string", "score": "int"},
        column_defaults={"tier": "bronze", "score": 0})
    # post-alter writers store real values AND real nulls
    fmt.append(spark.createDataFrame(
        [(3, "gold", None), (4, None, 7)],
        "id long, tier string, score int"), path)
    got = {(r.id, r.tier, r.score)
           for r in fmt.read(spark, path).collect()}
    assert got == {(1, "bronze", 0), (2, "bronze", 0),
                   (3, "gold", None), (4, None, 7)}
    # predicate reads apply the default BEFORE the filter
    assert sorted(r.id for r in fmt.read(
        spark, path, where="tier = 'bronze'").collect()) == [1, 2]
    # time travel: pre-alter version has neither column nor default
    assert fmt.read(spark, path,
                    as_of_version=v_alter - 1).columns == ["id"]
    # rename carries the default with the column
    fmt.alter_table(path, rename_columns={"tier": "grade"})
    got = {(r.id, r.grade) for r in
           fmt.read(spark, path).select("id", "grade").collect()}
    assert got == {(1, "bronze"), (2, "bronze"),
                   (3, "gold"), (4, None)}
    assert fmt.details(path)["column_defaults"] == {
        "grade": "bronze", "score": 0}
    # checkpoint fold preserves the frozen constants for fresh readers
    fmt.checkpoint(path)
    fresh = TxnLogFormat()
    got = {(r.id, r.grade, r.score)
           for r in fresh.read(spark, path).collect()}
    assert got == {(1, "bronze", 0), (2, "bronze", 0),
                   (3, "gold", None), (4, None, 7)}
    # dropping the column drops its default
    fmt.alter_table(path, drop_columns=["score"])
    assert fmt.details(path)["column_defaults"] == {"grade": "bronze"}

    # validation: defaults only on added columns, constants only
    with pytest.raises(ValueError, match="ADD COLUMN only"):
        fmt.alter_table(path, column_defaults={"id": 9})
    with pytest.raises(ValueError, match="plain constants"):
        fmt.alter_table(path, add_columns={"x": "int"},
                        column_defaults={"x": [1, 2]})
    with pytest.raises(ValueError, match="plain constants"):
        fmt.alter_table(path, add_columns={"x": "int"},
                        column_defaults={"x": None})


def test_stream_and_batch_source_apply_column_defaults(spark, tmp_path):
    """The txnlog source's per-file mapping constant-fills defaulted
    columns for pre-alter files (executor-side arrow cast), matching
    TxnLogFormat.read exactly — and a stream restarted after the alter
    drains the pre-alter backlog with defaults applied."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource, TxnLogStreamReader)
    spark.dataSource.register(TxnLogDataSource)
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,), (2,)], "id long"), path)
    fmt.alter_table(path, add_columns={"score": "int"},
                    column_defaults={"score": 5})
    fmt.append(spark.createDataFrame([(3, 30)], "id long, score int"),
               path)
    # batch source
    got = {(r.id, r.score) for r in
           spark.read.format("txnlog").load(path).collect()}
    assert got == {(1, 5), (2, 5), (3, 30)}
    # streaming source, driven through the offset protocol
    schema = fmt.read(spark, path).schema
    reader = TxnLogStreamReader(schema, {"path": path})
    cur = reader.initialOffset()
    parts = reader.partitions(cur, reader.latestOffset())
    rows = {(b.to_pydict()["id"][i], b.to_pydict()["score"][i])
            for p in parts for b in reader.read(p)
            for i in range(b.num_rows)}
    assert rows == {(1, 5), (2, 5), (3, 30)}


def test_generated_columns_compute_validate_and_skip(spark, tmp_path):
    """GENERATED ALWAYS AS (write-time semantics): writers omitting the
    column get it computed; writers supplying a contradicting value are
    rejected at staging (implicit CHECK); the materialized value has
    real per-file stats so skipping works on it; every writer is bound
    via table properties, including ignorant fresh instances."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame(
        [(1, "2024-03-05"), (2, "2024-07-09")], "id long, d string"),
        path)
    with pytest.raises(ValueError, match="sql_expression"):
        fmt.set_properties(spark, path, generated_columns={"m": 7})
    # setting the property validates nothing (column absent) and binds
    fmt.set_properties(spark, path,
                       generated_columns={"m": "substring(d, 1, 7)"})
    # an IGNORANT writer (fresh instance, no config) computes it
    other = TxnLogFormat()
    other.append(spark.createDataFrame(
        [(3, "2024-07-21")], "id long, d string"), path)
    got = {(r.id, r.m) for r in
           fmt.read(spark, path).select("id", "m").collect()}
    # pre-property rows read NULL for the (alter-free) missing column
    assert got == {(1, None), (2, None), (3, "2024-07")}
    # a writer SUPPLYING the column must match the expression
    ok = spark.createDataFrame([(4, "2024-08-01", "2024-08")],
                               "id long, d string, m string")
    other.append(ok, path)
    bad = spark.createDataFrame([(5, "2024-08-01", "2024-09")],
                                "id long, d string, m string")
    with pytest.raises(ValueError, match="generated:m"):
        other.append(bad, path)
    # merge outputs are validated too (stale generated value rejected)
    src = spark.createDataFrame([(3, "2024-07-21", "1999-01")],
                                "id long, d string, m string")
    with pytest.raises(ValueError, match="generated:m"):
        fmt.merge(spark, path, src, "id")
    # stats skipping works on the materialized column
    pruned = fmt.read(spark, path, where="m = '2024-08'")
    assert sorted(r.id for r in pruned.collect()) == [4]
    assert len(pruned.inputFiles()) < len(
        fmt.read(spark, path).inputFiles())
    # enabling the property on contradicting existing data fails loudly
    p2 = str(tmp_path / "t2")
    fmt.append(spark.createDataFrame(
        [(1, "2024-03-05", "wrong")], "id long, d string, m string"), p2)
    with pytest.raises(ValueError, match="contradict"):
        fmt.set_properties(spark, p2,
                           generated_columns={"m": "substring(d, 1, 7)"})
    fmt.set_properties(spark, p2,
                       generated_columns={"m": "substring(d, 1, 7)"},
                       validate_constraints=False)  # NOCHECK analogue


@pytest.mark.slow
def test_identity_columns_allocate_and_conflict(spark, tmp_path):
    """GENERATED ALWAYS AS IDENTITY: appends allocate dense unique
    values from a never-decreasing commit-recorded watermark; writers
    supplying the column are rejected; a concurrent allocator makes the
    commit conflict (and the internal retry re-allocates against the
    new head); non-allocating interleaves stay benign; the watermark
    survives checkpoint folds and never re-issues after restore."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([("a",), ("b",)], "v string"), path)
    with pytest.raises(ValueError, match="start"):
        fmt.set_properties(spark, path, identity_columns={"rid": {}})
    fmt.set_properties(spark, path,
                       identity_columns={"rid": {"start": 10,
                                                 "step": 5}})
    fmt.append(spark.createDataFrame([("c",), ("d",), ("e",)],
                                     "v string"), path)
    got = {(r.v, r.rid) for r in fmt.read(spark, path).collect()}
    # pre-identity rows read NULL; the new batch got 10, 15, 20
    assert {x for x in got if x[0] in "ab"} == {("a", None), ("b", None)}
    assert sorted(r for v, r in got if v in "cde") == [10, 15, 20]
    assert fmt.details(path)["identity_high"] == {"rid": 20}
    # ALWAYS semantics: supplying the column is rejected
    with pytest.raises(ValueError, match="ALWAYS AS IDENTITY"):
        fmt.append(spark.createDataFrame([("x", 999)],
                                         "v string, rid long"), path)
    # UPDATE may not assign it; a MERGE source may not supply it and
    # it may not key the merge (round 13: merge itself is now legal —
    # the insert branch allocates, see test_merge_identity_insert)
    with pytest.raises(ValueError, match="IDENTITY"):
        fmt.update_where(spark, path, "v = 'c'", {"rid": "0"})
    with pytest.raises(ValueError, match="never supply"):
        fmt.merge(spark, path,
                  spark.createDataFrame([("c", 1)], "v string, rid long"),
                  "v")
    with pytest.raises(ValueError, match="cannot be merge keys"):
        fmt.merge(spark, path,
                  spark.createDataFrame([("c",)], "v string"), "rid")
    # allocation is unique and dense across multi-partition appends
    fmt.append(spark.createDataFrame(
        [(f"p{i}",) for i in range(20)], "v string").repartition(6), path)
    rids = sorted(r.rid for r in fmt.read(spark, path)
                  .filter("rid IS NOT NULL").collect())
    assert rids == list(range(10, 10 + 5 * 23, 5))
    assert fmt.details(path)["identity_high"] == {"rid": 10 + 5 * 22}

    # concurrent allocator: injected between snapshot and publish —
    # the internal retry must re-allocate, never duplicate
    racer = TxnLogFormat()
    orig_stage = fmt._stage
    raced = {}

    def stage_then_race(df, p, pcol, **kw):
        rel = orig_stage(df, p, pcol, **kw)
        if "done" not in raced:
            raced["done"] = True
            racer.append(spark.createDataFrame([("r1",), ("r2",)],
                                               "v string"), path)
        return rel

    fmt._stage = stage_then_race
    try:
        fmt.append(spark.createDataFrame([("z1",), ("z2",)],
                                         "v string"), path)
    finally:
        fmt._stage = orig_stage
    rows = fmt.read(spark, path).filter("rid IS NOT NULL").collect()
    rids = sorted(r.rid for r in rows)
    assert len(rids) == len(set(rids)) == 27  # 3 + 20 + 2 + 2, no dups
    assert {r.v for r in rows if r.rid in rids[-2:]} == {"z1", "z2"}

    # checkpoint fold carries the watermark; a fresh writer continues
    fmt.checkpoint(path)
    fresh = TxnLogFormat(checkpoint_interval=None)
    fresh.append(spark.createDataFrame([("f1",)], "v string"), path)
    all_rids = sorted(r.rid for r in fresh.read(spark, path)
                      .filter("rid IS NOT NULL").collect())
    assert len(all_rids) == len(set(all_rids)) == 28

    # restore never rolls the watermark back (no value re-issue)
    high = fresh.details(path)["identity_high"]["rid"]
    fresh.restore(spark, path, 2)  # back to the first allocation
    fresh.append(spark.createDataFrame([("g1",)], "v string"), path)
    post = fresh.read(spark, path).filter("v = 'g1'").head()
    assert post.rid > high

    # enabling identity on an EXISTING integral column seeds past max
    p2 = str(tmp_path / "t2")
    fmt2 = TxnLogFormat()
    fmt2.append(spark.createDataFrame([(100, "a")], "k long, v string"),
                p2)
    fmt2.set_properties(spark, p2,
                        identity_columns={"k": {"start": 1, "step": 1}})
    fmt2.append(spark.createDataFrame([("b",), ("c",)], "v string"), p2)
    assert sorted(r.k for r in fmt2.read(spark, p2).collect()) == \
        [100, 101, 102]


_IDENTITY_STORM_WRITER = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
import pyarrow as pa
import pyarrow.parquet as pq
from datalake_ingestion_system_spark.sinks import (
    ConcurrentWriteError, Snapshot, TxnLogFormat)

path, tag = sys.argv[1], sys.argv[2]
fmt = TxnLogFormat(checkpoint_interval=4)
# a foreign ALLOCATOR that honors the identity protocol with no Spark:
# read watermark -> stage -> commit RMW with the identity claim,
# retrying on conflict like any correct writer
for i in range(8):
    for attempt in range(60):
        commits = fmt._commits(path)
        snap = Snapshot.fold(commits)
        ident = snap.properties.get("identity_columns")
        spec = ident["rid"]
        high = snap.identity_high.get(
            "rid", spec["start"] - spec["step"])
        rel = os.path.join("_txn_data", f"{{tag}}_{{i:02d}}_{{attempt}}")
        os.makedirs(os.path.join(path, rel))
        pq.write_table(
            pa.table({{"v": pa.array([f"{{tag}}{{i}}"]),
                       "rid": pa.array([high + spec["step"]],
                                       pa.int64())}}),
            os.path.join(path, rel, "part-0.parquet"))
        rec = {{"action": "append", "dir": rel,
                "schema": ('{{"fields":[{{"metadata":{{}},"name":"v",'
                           '"nullable":true,"type":"string"}},'
                           '{{"metadata":{{}},"name":"rid",'
                           '"nullable":true,"type":"long"}}],'
                           '"type":"struct"}}'),
                "identity_high": {{"rid": high + spec["step"]}}}}
        head = commits[-1]["version"] if commits else -1
        try:
            fmt._commit(path, rec, expected_version=head + 1,
                        base_schema=rec["schema"],
                        identity_cols=frozenset(["rid"]))
            break
        except ConcurrentWriteError:
            time.sleep(0.02)
    else:
        sys.exit(f"{{tag}} starved")
print("done")
"""


def test_multiprocess_identity_allocators_never_collide(spark, tmp_path):
    """TWO OS processes allocate identity values through the RMW
    protocol while the parent's Spark appends allocate too: every
    issued value is unique, the watermark equals the max, and the
    conflict rule (same-watermark allocators collide, everything else
    retargets) holds under real contention."""
    import subprocess
    import sys as _sys
    import time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=4)
    fmt.append(spark.createDataFrame([("seed",)], "v string"), path)
    fmt.set_properties(spark, path,
                       identity_columns={"rid": {"start": 1,
                                                 "step": 1}})
    writer = tmp_path / "alloc.py"
    writer.write_text(_IDENTITY_STORM_WRITER.format(repo=repo))
    procs = [subprocess.Popen(
        [_sys.executable, str(writer), path, f"w{k}"],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        for k in range(2)]
    try:
        done = 0
        deadline = time.time() + 120
        while done < 4 and time.time() < deadline:
            try:
                fmt.append(spark.createDataFrame(
                    [(f"s{done}",)], "v string"), path)
                done += 1
            except Exception:
                time.sleep(0.05)
        assert done == 4
    finally:
        outs = [p.communicate(timeout=120) for p in procs]
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0, err
        assert out.strip() == "done"
    rows = fmt.read(spark, path).filter("rid IS NOT NULL").collect()
    rids = sorted(r.rid for r in rows)
    assert len(rids) == 20                      # 2*8 foreign + 4 spark
    assert len(set(rids)) == 20                 # NO duplicate issue
    assert fmt.details(path)["identity_high"]["rid"] == max(rids)


def test_full_compact_never_erases_a_racing_append(spark, tmp_path):
    """Round-10 regression (lost update): the FULL-rewrite compact used
    to publish its ``replace_all`` blindly — no ``expected_version`` —
    so an append landing between compact's snapshot read and its
    publish was silently ERASED at replay (replace_all resets live
    state).  The targeted forms always carried the guard; the full form
    must too: abort by default, and ``retries=N`` recomputes against
    the new head so BOTH the appended rows and the compaction land."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1,), (2,)], "id long"), path)
    fmt.append(spark.createDataFrame([(3,), (4,)], "id long"), path)

    racer = TxnLogFormat()
    orig_stage = fmt._stage
    raced = {"done": False}

    def racing_stage(df, p, *a, **kw):
        # interleave AFTER compact's snapshot read, INSIDE the publish
        # window — exactly where the blind commit lost the append
        rel = orig_stage(df, p, *a, **kw)
        if not raced["done"]:
            raced["done"] = True
            racer.append(spark.createDataFrame([(9,)], "id long"), path)
        return rel

    fmt._stage = racing_stage
    try:
        with pytest.raises(ConcurrentWriteError, match="advanced"):
            fmt.compact(spark, path)
    finally:
        fmt._stage = orig_stage
    # nothing lost: the racer's row is still there, no compaction applied
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == \
        [1, 2, 3, 4, 9]

    # retries=N re-runs the whole op against the new head: both land
    raced["done"] = False
    fmt._stage = racing_stage
    try:
        fmt.compact(spark, path, retries=2)
    finally:
        fmt._stage = orig_stage
    assert sorted(r.id for r in fmt.read(spark, path).collect()) == \
        [1, 2, 3, 4, 9, 9]
    # the retry's fresh snapshot folded EVERYTHING — including the
    # second interleaved append — into the one rewritten commit
    live = fmt._snapshot(path).live
    assert [e["action"] for e in live] == ["replace_all"]


def test_merge_schema_evolution_widens_target(spark, tmp_path):
    """Delta schema autoMerge: schema_evolution=True turns extra source
    columns into NEW target columns — matched/inserted rows take the
    source values, untouched rows read typed NULLs, and the widened
    schema is the table's schema from the rewrite on.  Default stays
    project-away (pinned here too)."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, s string"), path)

    # default: extra columns consulted, then projected away
    fmt.merge(spark, path, spark.createDataFrame(
        [(2, "B", 9)], "id long, s string, extra long"), "id")
    assert fmt.read(spark, path).columns == ["id", "s"]

    got = fmt.merge(spark, path, spark.createDataFrame(
        [(3, "C", 0.5), (5, "E", 0.9)],
        "id long, s string, score double"), "id",
        schema_evolution=True)
    assert got == {"updated": 1, "deleted": 0, "inserted": 1}
    out = {r.id: (r.s, r.score) for r in fmt.read(spark, path).collect()}
    assert out == {1: ("a", None), 2: ("B", None), 3: ("C", 0.5),
                   5: ("E", 0.9)}
    # the new column is a real stored column: stats skipping works
    assert fmt.read(spark, path, where="score >= 0.9").count() == 1
    # and the resolved schema carries the declared type
    import json as _json
    sj = _json.loads(fmt.details(path)["schema"])
    assert {"name": "score", "type": "double"}.items() <= \
        next(f for f in sj["fields"] if f["name"] == "score").items()


def test_merge_schema_evolution_with_cdf_sidecar(spark, tmp_path):
    """Evolution composes with the change-data-feed sidecar: preimages
    of pre-evolution rows carry typed NULLs for the new column."""
    fmt = TxnLogFormat(change_data_feed=True)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([(1, "a")], "id long, s string"),
               path)
    fmt.merge(spark, path, spark.createDataFrame(
        [(1, "A", 7)], "id long, s string, w long"), "id",
        schema_evolution=True)
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource)
    spark.dataSource.register(TxnLogDataSource)
    ch = {r["_change_type"]: r for r in
          (spark.read.format("txnlog")
           .option("readChangeFeed", "true").load(path).collect())}
    assert ch["update_preimage"].w is None
    assert ch["update_postimage"].w == 7


def test_auto_compact_property(spark, tmp_path):
    """Delta autoOptimize.autoCompact as a table property: once at least
    min_files live files fall below small_file_bytes, the NEXT write
    triggers the targeted size compaction — including from a FRESH
    writer constructed with no settings (the property binds everyone).
    Below threshold nothing fires; a conflict race is swallowed
    (best-effort)."""
    from datalake_ingestion_system_spark.sinks import ConcurrentWriteError

    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    one = lambda lo: spark.range(lo, lo + 5).select(
        F.col("id").alias("k")).coalesce(1)
    fmt.append(one(0), path)
    with pytest.raises(ValueError, match="auto_compact"):
        fmt.set_properties(None, path, auto_compact={"min_files": 2})
    fmt.set_properties(None, path, auto_compact={
        "small_file_bytes": 1 << 20, "min_files": 4})

    fmt.append(one(10), path)          # 2 small files: below threshold
    assert not any(r["action"] == "rewrite_files"
                   for r in fmt.history(path))
    fmt.append(one(20), path)
    fmt.append(one(30), path)          # 4th small file: fires
    assert any(r["action"] == "rewrite_files" for r in fmt.history(path))
    assert fmt.read(spark, path).count() == 20
    assert fmt.details(path)["num_live_files"] == 1

    # an ignorant fresh writer honors the property too
    fresh = TxnLogFormat(checkpoint_interval=None)
    for i in range(4):
        fresh.append(one(100 + i * 10), path)
    assert fresh.details(path)["num_live_files"] <= 2
    assert fresh.read(spark, path).count() == 40

    # best-effort: a conflict inside the auto-compaction must not fail
    # the append that triggered it
    orig = fmt.compact

    def conflicted(*a, **kw):
        raise ConcurrentWriteError("simulated race")

    fmt.compact = conflicted
    try:
        fmt.append(one(200), path)
        fmt.append(one(210), path)
        fmt.append(one(220), path)
        fmt.append(one(230), path)     # would fire; conflict swallowed
    finally:
        fmt.compact = orig
    assert fmt.read(spark, path).count() == 60

    # None unsets: no compaction regardless of small-file count
    fmt.set_properties(None, path, auto_compact=None)
    before = len(fmt.history(path))
    for i in range(5):
        fmt.append(one(300 + i * 10), path)
    acts = [r["action"] for r in fmt.history(path)][: len(
        fmt.history(path)) - before]
    assert "rewrite_files" not in acts


def test_date_column_stats_prune_files(spark, tmp_path):
    """DATE min/max record as ISO strings (round 12): a date-column
    predicate data-skips files — the dominant time-series access
    pattern — and the ISO total order can never drop a matching row
    (equality, range, and the merge key-prune path all ride it)."""
    import datetime as dt

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    rows1 = [(i, dt.date(2024, 1, 1 + i)) for i in range(10)]
    rows2 = [(i, dt.date(2024, 3, 1 + i)) for i in range(10)]
    fmt.append(spark.createDataFrame(rows1, "id long, d date")
               .coalesce(1), path)
    fmt.append(spark.createDataFrame(rows2, "id long, d date")
               .coalesce(1), path)
    # recorded stats are ISO strings
    st = fmt._commits(path)[-1]["stats"]
    per = next(iter(st.values()))
    assert per["d"][0] == "2024-03-01" and per["d"][1] == "2024-03-10"
    full = fmt.read(spark, path)
    jan = fmt.read(spark, path, where="d < '2024-02-01'")
    assert jan.count() == 10
    assert len(jan.inputFiles()) < len(full.inputFiles())
    eq = fmt.read(spark, path, where="d = '2024-03-05'")
    assert eq.count() == 1 and len(eq.inputFiles()) == 1
    # a date-keyed MERGE prunes its probe through the same stats
    src = spark.createDataFrame(
        [(dt.date(2024, 3, 5), 999, "U")], "d date, id long, op string")
    got = fmt.merge(spark, path, src.select("id", "d", "op"), "d",
                    insert_condition="op <> 'D'")
    assert got == {"updated": 1, "deleted": 0, "inserted": 0}
    rec = fmt._commits(path)[-1]
    assert rec["action"] == "rewrite_files"
    assert len(rec["removed_files"]) == 1  # only the March file rewrote


def test_merge_conditional_update_clause(spark, tmp_path):
    """WHEN MATCHED AND cond THEN UPDATE SET * (Delta conditional
    update, round 12): matched rows failing the condition stay
    byte-identical AND their files stay un-rewritten (the hot set only
    names files with effective changes)."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    # two range files: ks 0-4 and 5-9
    df = spark.range(10).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("v"))
    fmt.append(df.repartitionByRange(2, "k"), path)
    src = spark.createDataFrame(
        [(1, 111, True), (2, 222, False), (7, 777, False), (50, 500, True)],
        "k long, v long, apply boolean")
    got = fmt.merge(spark, path, src, "k",
                    matched_update_condition="apply")
    # k=1 updates; k=2 and k=7 matched but untouched; k=50 inserts
    # (insert_condition defaults to all unmatched — apply is ignored)
    assert got == {"updated": 1, "deleted": 0, "inserted": 1}
    d = {r.k: r.v for r in fmt.read(spark, path).collect()}
    assert d[1] == 111 and d[2] == 20 and d[7] == 70 and d[50] == 500
    rec = fmt._commits(path)[-1]
    # only the FIRST range file (holding k=1) rewrote: k=7's file had
    # no effective change and kept its physical identity
    assert rec["action"] == "rewrite_files"
    assert len(rec["removed_files"]) == 1


def test_merge_not_matched_by_source_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE (Delta's
    full-sync clause, round 12): target rows absent from the source
    drop when the TARGET-column condition holds; a selective condition
    keeps the sweep file-targeted via the stats tier."""
    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"),
                                (F.col("id") * 10).alias("v"))
    fmt.append(df.repartitionByRange(2, "k"), path)
    # source carries keys 0-4 (+1 fresh); target rows 5-9 are
    # not-matched-by-source; the condition keeps only v < 80 deletions
    src = spark.range(5).select(F.col("id").alias("k"),
                                (F.col("id") + 1000).alias("v"))
    src = src.unionByName(spark.createDataFrame([(100, 1)],
                                                "k long, v long"))
    got = fmt.merge(spark, path, src, "k",
                    not_matched_by_source_delete_condition="v < 80")
    # 5 updates (0-4), 1 insert (100), NMBS deletes 5,6,7 (v 50-70)
    assert got == {"updated": 5, "deleted": 3, "inserted": 1}
    d = {r.k: r.v for r in fmt.read(spark, path).collect()}
    assert d == {0: 1000, 1: 1001, 2: 1002, 3: 1003, 4: 1004,
                 8: 80, 9: 90, 100: 1}
    # full-sync form: condition "true" + empty-ish source
    got = fmt.merge(spark, path,
                    spark.createDataFrame([(8, 888)], "k long, v long"),
                    "k", not_matched_by_source_delete_condition="true")
    assert got == {"updated": 1, "deleted": 7, "inserted": 0}
    assert {(r.k, r.v) for r in fmt.read(spark, path).collect()} \
        == {(8, 888)}


def test_merge_crash_between_stage_and_commit_is_clean(spark, tmp_path,
                                                       monkeypatch):
    """A writer dying after staging but before the commit link leaves
    the table EXACTLY as it was (invisible orphans only); vacuum sweeps
    the orphans; an unmodified retry succeeds.  The file-targeted merge
    stages up to three dirs (rewrite data, CDF sidecar, consolidated
    vectors) — none may become visible without the commit."""
    fmt = TxnLogFormat(change_data_feed=True)
    path = str(tmp_path / "t")
    fmt.append(spark.range(8).select(F.col("id").alias("k"),
                                     (F.col("id") * 10).alias("v")),
               path)
    fmt.delete_where_dv(spark, path, "k = 6")   # a live vector survives
    before = {(r.k, r.v) for r in fmt.read(spark, path).collect()}
    head = fmt._commits(path)[-1]["version"]
    src = spark.createDataFrame([(1, 111, "U"), (2, 0, "D"), (50, 5, "U")],
                                "k long, v long, op string")

    real_commit = TxnLogFormat._commit

    def dying_commit(self, *a, **k):
        raise RuntimeError("crash before publish")

    monkeypatch.setattr(TxnLogFormat, "_commit", dying_commit)
    with pytest.raises(RuntimeError, match="crash"):
        fmt.merge(spark, path, src, "k",
                  matched_delete_condition="op = 'D'",
                  insert_condition="op <> 'D'")
    monkeypatch.setattr(TxnLogFormat, "_commit", real_commit)
    # nothing visible changed
    assert fmt._commits(path)[-1]["version"] == head
    assert {(r.k, r.v) for r in fmt.read(spark, path).collect()} \
        == before
    # the crashed attempt's staged dirs are unreferenced orphans;
    # vacuum names them (dry run) and sweeps them
    orphans = fmt.vacuum(path, retain_hours=0, dry_run=True)
    assert orphans, "crashed merge must leave sweepable orphans"
    fmt.vacuum(path, retain_hours=0)
    # an unmodified retry applies cleanly
    got = fmt.merge(spark, path, src, "k",
                    matched_delete_condition="op = 'D'",
                    insert_condition="op <> 'D'")
    assert got == {"updated": 1, "deleted": 1, "inserted": 1}
    d = {r.k: r.v for r in fmt.read(spark, path).collect()}
    assert d[1] == 111 and 2 not in d and d[50] == 5 and 6 not in d


@pytest.mark.slow
def test_timestamp_stats_prune_files(spark, tmp_path):
    """TIMESTAMP min/max record as canonical fixed-width UTC text
    (round 13): `ts >= X` — the dominant log-table access pattern —
    data-skips files, for BOTH the LTZ and NTZ flavors, with the
    predicate re-applied so a pruning bug can never drop rows."""
    import datetime as dt

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    mk = lambda mo: [(i, dt.datetime(2024, mo, 1 + i, 12, 0, 0, 250000))
                     for i in range(10)]
    for flavor in ("timestamp", "timestamp_ntz"):
        p = f"{path}_{flavor}"
        fmt.append(spark.createDataFrame(
            mk(1), f"id long, ts {flavor}").coalesce(1), p)
        fmt.append(spark.createDataFrame(
            mk(3), f"id long, ts {flavor}").coalesce(1), p)
        st = fmt._commits(p)[-1]["stats"]
        per = next(iter(st.values()))
        assert per["ts"][0] == "2024-03-01 12:00:00.250000", flavor
        assert per["ts"][1] == "2024-03-10 12:00:00.250000", flavor
        full = fmt.read(spark, p)
        jan = fmt.read(spark, p, where="ts < '2024-02-01'")
        assert jan.count() == 10, flavor
        assert len(jan.inputFiles()) < len(full.inputFiles()), flavor
        eq = fmt.read(spark, p,
                      where="ts = '2024-03-05 12:00:00.25'")
        assert eq.count() == 1, flavor
        assert len(eq.inputFiles()) == 1, flavor
        # boundary: >= exactly the recorded min must keep the file
        lo = fmt.read(spark, p, where="ts >= '2024-01-01 12:00:00.25'")
        assert lo.count() == 20, flavor


def test_timestamp_skipping_gated_off_non_utc(spark, tmp_path):
    """An LTZ clause under a non-UTC SESSION timezone must NOT prune
    (the literal's instant depends on the session zone — checked on
    the ACTIVE session's spark.sql.session.timeZone, however it was
    configured) — while NTZ clauses, being wall-clock, keep pruning."""
    import datetime as dt

    fmt = TxnLogFormat()
    path = str(tmp_path / "t")
    rows = [(i, dt.datetime(2024, 1, 1 + i, 12, 0)) for i in range(5)]
    fmt.append(spark.createDataFrame(rows, "id long, ts timestamp")
               .coalesce(1), path)
    fmt.append(spark.createDataFrame(
        [(i, dt.datetime(2024, 3, 1 + i, 12, 0)) for i in range(5)],
        "id long, ts timestamp").coalesce(1), path)
    types = fmt._snapshot(path).column_types()
    clauses = fmt._skip_clauses("ts < '2024-02-01'")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        assert fmt._canonicalize_ts_clauses(clauses, types) == []
        # ... and the END-TO-END read stays CORRECT: the Tokyo-zone
        # literal is 2024-01-31T15:00Z, so the January file (instants
        # at 12:00Z) must keep ALL its rows despite its canonical-UTC
        # stats ending before the naive literal text
        got = fmt.read(spark, path, where="ts < '2024-02-01'")
        assert got.count() == 5
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert fmt._canonicalize_ts_clauses(clauses, types) == [
        ("ts", "<", "2024-02-01 00:00:00.000000")]


def test_merge_identity_insert(spark, tmp_path):
    """Round 13 (VERDICT r12 item 7): MERGE into an identity table —
    the INSERT branch allocates fresh values from the r11 watermark
    allocator, matched rows keep their target values byte-identical,
    and a concurrent allocating writer forces a conflict-retry that
    never duplicates a value."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([], "k long, v long"), path)
    fmt.set_properties(spark, path,
                       identity_columns={"rid": {"start": 100,
                                                 "step": 10}})
    fmt.append(spark.createDataFrame(
        [(1, 11), (2, 22), (3, 33)], "k long, v long"), path)
    before = {r.k: r.rid for r in fmt.read(spark, path).collect()}
    src = spark.createDataFrame(
        [(2, 222, "U"), (3, 0, "D"), (7, 77, "U"), (8, 88, "U")],
        "k long, v long, op string")
    got = fmt.merge(spark, path, src, "k",
                    matched_delete_condition="op = 'D'",
                    insert_condition="op <> 'D'")
    assert got == {"updated": 1, "deleted": 1, "inserted": 2}
    rows = {r.k: (r.v, r.rid) for r in fmt.read(spark, path).collect()}
    assert rows[1] == (11, before[1])      # untouched keeps its value
    assert rows[2] == (222, before[2])     # updated KEEPS its identity
    assert 3 not in rows
    new_ids = {rows[7][1], rows[8][1]}
    assert len(new_ids) == 2 and all(i > max(before.values())
                                     for i in new_ids)
    all_ids = [r[1] for r in rows.values()]
    assert len(all_ids) == len(set(all_ids))
    assert fmt.details(path)["identity_high"]["rid"] == max(new_ids)

    # column-level SET may never touch the identity column
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        fmt.merge(spark, path, src, "k",
                  matched_update_assignments={"rid": "1"},
                  insert_condition="false")

    # concurrent allocating APPEND between the merge's snapshot and
    # its publish: the conflict retry re-allocates, no duplicates
    racer = TxnLogFormat()
    orig_stage = fmt._stage
    raced = {}

    def stage_then_race(df, p, pcol, **kw):
        rel = orig_stage(df, p, pcol, **kw)
        if "done" not in raced:
            raced["done"] = True
            racer.append(spark.createDataFrame([(90, 900)],
                                               "k long, v long"), path)
        return rel

    fmt._stage = stage_then_race
    # without a retry budget the interleaved allocation must CONFLICT
    # loudly (identity_high overlap is never a benign interleave) ...
    with pytest.raises(ConcurrentWriteError):
        fmt.merge(spark, path, spark.createDataFrame(
            [(50, 500, "U")], "k long, v long, op string"), "k",
            insert_condition="op <> 'D'")
    # ... and with one, the retry recomputes against the new head and
    # re-allocates past the racer's watermark
    raced.clear()
    fmt._stage = stage_then_race
    try:
        got = fmt.merge(spark, path, spark.createDataFrame(
            [(50, 500, "U")], "k long, v long, op string"), "k",
            insert_condition="op <> 'D'", retries=1)
    finally:
        fmt._stage = orig_stage
    assert got["inserted"] == 1
    final = fmt.read(spark, path).collect()
    ids = sorted(r.rid for r in final if r.rid is not None)
    assert len(ids) == len(set(ids)), "duplicate identity values"
    assert {r.k for r in final} == {1, 2, 7, 8, 90, 50}


def test_merge_identity_change_feed_postimage(spark, tmp_path):
    """A change-feed MERGE into an identity table: the source never
    carries the identity column, so the UPDATE SET * postimage takes
    it from the target row — the matched row's own value."""
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame([], "k long, v long"), path)
    fmt.set_properties(spark, path, change_data_feed=True,
                       identity_columns={"rid": {"start": 1, "step": 1}})
    fmt.append(spark.createDataFrame(
        [(1, 11), (2, 22), (3, 33)], "k long, v long"), path)
    before = {r.k: r.rid for r in fmt.read(spark, path).collect()}
    v = fmt._commits(path)[-1]["version"]
    got = fmt.merge(spark, path, spark.createDataFrame(
        [(2, 222), (9, 99)], "k long, v long"), ["k"])
    assert got == {"updated": 1, "deleted": 0, "inserted": 1}
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource)
    spark.dataSource.register(TxnLogDataSource)
    feed = {(r._change_type, r.k): (r.v, r.rid) for r in
            spark.read.format("txnlog").option("readChangeFeed", "true")
            .option("startingVersion", str(v + 1)).load(path).collect()}
    assert feed[("update_preimage", 2)] == (22, before[2])
    assert feed[("update_postimage", 2)] == (222, before[2])
    rows = {r.k: (r.v, r.rid) for r in fmt.read(spark, path).collect()}
    assert rows[2] == (222, before[2])
    assert feed[("insert", 9)] == rows[9]


@pytest.mark.slow
def test_dml_subquery_predicates_all_paths(spark, tmp_path):
    """Round 16: IN / correlated-EXISTS / scalar subqueries resolve in
    every row-level DML predicate — copy-on-write AND merge-on-read
    (DV) variants — because Spark 4's analyzer resolves subqueries
    inside DataFrame.filter expressions.  Pins the capability the
    q_dml_subquery oracle query exercises end-to-end."""
    from pyspark.sql import functions as F
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")), path)
    spark.createDataFrame([(2,), (3,), (7,)], "kk long") \
         .createOrReplaceTempView("dmlsq_keys")
    # copy-on-write UPDATE with correlated EXISTS
    assert fmt.update_where(
        spark, path,
        "EXISTS (SELECT 1 FROM dmlsq_keys x WHERE x.kk = k)",
        {"v": "v + 100"}) == 3
    # merge-on-read DELETE with IN-subquery: writes a deletion vector
    v0 = fmt._commits(path)[-1]["version"]
    assert fmt.delete_where_dv(
        spark, path, "k IN (SELECT kk FROM dmlsq_keys)") == 3
    assert fmt._commits(path)[-1]["action"] == "add_dv"
    # merge-on-read UPDATE against a scalar-subquery threshold
    assert fmt.update_where_dv(
        spark, path,
        "v > (SELECT max(kk) * 2 FROM dmlsq_keys)", {"v": "0.0"}) == 2
    got = {r.k: r.v for r in fmt.read(spark, path).collect()}
    assert got == {0: 0.0, 1: 2.0, 4: 8.0, 5: 10.0, 6: 12.0,
                   8: 0.0, 9: 0.0}
    # copy-on-write DELETE with NOT IN (NULL-free) subquery: none of
    # the 7 surviving keys sit in {2, 3}, so all of them match
    assert fmt.delete_where(
        spark, path, "k NOT IN (SELECT kk FROM dmlsq_keys WHERE kk < 5)"
        ) == 7
    assert sorted(r.k for r in fmt.read(spark, path).collect()) == []
    # pre-DV rows stay time-travelable
    assert fmt.read(spark, path, as_of_version=v0).count() == 10


def test_merge_insert_assignments_api(spark, tmp_path):
    """Round 16: column-list INSERT — listed columns take their
    expression over SOURCE columns, unlisted read NULL, the CDF
    sidecar carries the assigned values, and the pure-insert branch
    (no matched files) evaluates the same expressions."""
    from pyspark.sql import functions as F
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)],
        "k long, name string, v double"), path)
    fmt.set_properties(None, path, change_data_feed=True)
    src = spark.createDataFrame(
        [(2, 20.0, "U"), (3, 30.0, "I"), (4, 40.0, "D")],
        "k long, val double, op string")
    m = fmt.merge(spark, path, src, "k",
                  matched_update_assignments={"v": "s.val"},
                  insert_condition="op <> 'D'",
                  insert_assignments={"k": "s.k", "v": "s.val * 10"})
    assert m == {"updated": 1, "deleted": 0, "inserted": 1}
    rows = sorted((r.k, r.name, r.v)
                  for r in fmt.read(spark, path).collect())
    assert rows == [(1, "a", 1.0), (2, "b", 20.0), (3, None, 300.0)]
    from datalake_ingestion_system_spark.tables import ensure_registered
    ensure_registered(spark)
    feed = (spark.read.format("txnlog")
            .option("readChangeFeed", "true")
            .option("startingVersion", 2).load(path))
    ins = [(r.k, r.name, r.v) for r in
           feed.filter("_change_type = 'insert'").collect()]
    assert ins == [(3, None, 300.0)]
    # pure-insert branch: no key matches at all
    src2 = spark.createDataFrame([(50, 5.0)], "k long, val double")
    m2 = fmt.merge(spark, path, src2, "k",
                   matched_update_assignments={"v": "s.val"},
                   insert_assignments={"k": "k", "v": "val + 0.25"})
    assert m2["inserted"] == 1
    assert (50, None, 5.25) in {
        (r.k, r.name, r.v) for r in fmt.read(spark, path).collect()}


def test_merge_insert_assignments_reject_shapes(spark, tmp_path):
    from pyspark.sql import functions as F
    fmt = TxnLogFormat(checkpoint_interval=None)
    path = str(tmp_path / "t")
    fmt.append(spark.createDataFrame(
        [(1, 1.0)], "k long, v double"), path)
    src = spark.createDataFrame([(2, 5.0)], "k long, val double")

    def merge(**kw):
        return fmt.merge(spark, path, src, "k",
                         matched_update_assignments={"v": "s.val"},
                         **kw)
    with pytest.raises(ValueError, match="include every merge key"):
        merge(insert_assignments={"v": "val"})
    with pytest.raises(ValueError, match="unknown column"):
        merge(insert_assignments={"k": "k", "zz": "1"})
    with pytest.raises(ValueError, match="t.v"):
        merge(insert_assignments={"k": "k", "v": "t.v + 1"})
    with pytest.raises(ValueError, match="target-only"):
        merge(insert_assignments={"k": "k", "v": "v + 1"})
    with pytest.raises(ValueError, match="at least one column"):
        merge(insert_assignments={})
    with pytest.raises(ValueError, match="duplicate MERGE INSERT"):
        merge(insert_assignments={"k": "k", "v": "val", "V": "val"})
    with pytest.raises(ValueError, match="mutually exclusive"):
        fmt.merge(spark, path, src, "k",
                  insert_assignments={"k": "k", "v": "val"},
                  schema_evolution=True)
    # identity columns stay GENERATED ALWAYS even in the INSERT list
    path2 = str(tmp_path / "t2")
    fmt.append(spark.createDataFrame([(1, 1.0)], "k long, v double"),
               path2)
    fmt.set_properties(spark, path2, identity_columns={
        "rid": {"start": 1, "step": 1}})
    # materialize the identity column (first post-declare append
    # allocates it) so the merge sees the full schema
    fmt.append(spark.createDataFrame([(5, 5.0)], "k long, v double"),
               path2)
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        fmt.merge(spark, path2, src, "k",
                  matched_update_assignments={"v": "s.val"},
                  insert_assignments={"k": "k", "rid": "9"})
    # and an identity table still allocates for the insert slice
    m = fmt.merge(spark, path2, src, "k",
                  matched_update_assignments={"v": "s.val"},
                  insert_assignments={"k": "k", "v": "val * 2"})
    assert m["inserted"] == 1
    got = {(r.k, r.v): r.rid
           for r in fmt.read(spark, path2).collect()}
    assert got[(2, 10.0)] is not None
