"""Crash-safety / exactly-once tests for the ingestion commit protocol.

The reference's flagship bug class (SURVEY §0.3.6) is a thread-shared
``processed_list.json`` with no commit protocol: a crash mid-run could lose
or duplicate state (DATALAKE_TRANSFORMATION_S3_DAILY_JOB.PY:321,402-405).
Here the protocol is idempotent replay with a strict commit order
(data → quarantine → state); these tests kill the run at each commit point
via the ``_commit_point`` seam and assert a re-run converges to exactly-once.
"""

import pyspark.sql.functions as F
import pytest

from datalake_ingestion_system_spark.plans import ingest as ing
from datalake_ingestion_system_spark.sources import registry


def run(spark, fx, **kw):
    conf = registry.load_registry(spark, fx["mapping"])
    return ing.ingest(spark, fx["landing"], fx["storing"], conf,
                      fx["state"], fx["quarantine"], **kw)


def crash_at(monkeypatch, point):
    def boom(name):
        if name == point:
            raise RuntimeError(f"injected crash at {name}")
    monkeypatch.setattr(ing, "_commit_point", boom)


def assert_converged(spark, fx):
    """Post-recovery invariants: data exactly-once, state one row per file,
    quarantine one row per (FILENAME, TYPE)."""
    df = spark.read.parquet(fx["storing"] + "/daily/CUSTOMER_MASTER")
    assert df.count() == 5
    assert df.filter(F.col("TRANSFERRED_DATE") == "2019-06-01").count() == 3
    state = spark.read.parquet(fx["state"])
    per_file = state.groupBy("filename").count().filter("count > 1")
    assert per_file.count() == 0, "duplicate state rows"
    # processed 2 + empty 1
    assert state.count() == 3
    q = spark.read.parquet(fx["quarantine"])
    dup_q = q.groupBy("FILENAME", "TYPE").count().filter("count > 1")
    assert dup_q.count() == 0, "duplicate quarantine rows"
    assert q.count() == 4  # 1 UNMATCH + 1 OUTOFCONFIG + 2 IRREGULAR


def test_crash_after_data_write_then_recover(spark, landing, monkeypatch):
    """Crash before ANY state/quarantine append: re-run reprocesses the same
    files (partition overwrite, not append) and lands state exactly once."""
    crash_at(monkeypatch, "data_written")
    with pytest.raises(RuntimeError, match="injected crash"):
        run(spark, landing)
    # data was written, state was not → files still pending
    assert spark.read.parquet(
        landing["storing"] + "/daily/CUSTOMER_MASTER").count() == 5
    monkeypatch.undo()
    rep = run(spark, landing)
    assert rep.processed == 2  # re-processed, overwriting the same partitions
    assert_converged(spark, landing)


def test_crash_between_quarantine_and_state(spark, landing, monkeypatch):
    """Crash after the quarantine append but before state: re-run must not
    duplicate quarantine rows (deduped append) and completes state."""
    crash_at(monkeypatch, "quarantine_appended")
    with pytest.raises(RuntimeError, match="injected crash"):
        run(spark, landing)
    assert spark.read.parquet(landing["quarantine"]).count() == 4
    monkeypatch.undo()
    run(spark, landing)
    assert_converged(spark, landing)


def test_double_state_append_converges(spark, landing):
    """Two racing/replayed runs may both append state; dedup-on-read makes the
    duplicate harmless and a third run sees nothing pending."""
    run(spark, landing)
    rep2 = run(spark, landing, force_resync=True)  # re-appends state rows
    assert rep2.processed == 2
    raw_state = spark.read.parquet(landing["state"])
    assert raw_state.count() == 6  # genuinely double-appended…
    deduped = ing.read_state(spark, landing["state"])
    assert deduped.count() == 3    # …but collapsed on read
    rep3 = run(spark, landing)
    assert rep3.processed == 0 and rep3.empty == 0
    df = spark.read.parquet(landing["storing"] + "/daily/CUSTOMER_MASTER")
    assert df.count() == 5  # partition overwrite kept data exactly-once


def test_quarantine_log_bounded_across_reruns(spark, landing):
    """Quarantined files re-route every run (so a config fix picks them up)
    but the log must not grow (ADVICE r1: unbounded duplicate growth)."""
    run(spark, landing)
    run(spark, landing)
    run(spark, landing)
    q = spark.read.parquet(landing["quarantine"])
    assert q.count() == 4
    assert q.groupBy("FILENAME", "TYPE").count().filter("count > 1").count() == 0


def test_quarantine_retry_after_config_fix(spark, landing):
    """An OUTOFCONFIG file becomes ingestable once its table gains a config
    row — exactly because quarantined files are NOT frozen into state."""
    run(spark, landing)
    with open(landing["mapping"], "a") as f:
        f.write("UNKNOWN_FEED,A|B,,daily,2019/01/01,2020/01/01\n")
    rep = run(spark, landing)
    assert rep.processed == 1  # the previously-OUTOFCONFIG file
    assert rep.outofconfig == 0
    df = spark.read.parquet(landing["storing"] + "/daily/UNKNOWN_FEED")
    assert df.count() == 1


def test_run_report_persisted_and_notified(spark, landing):
    """O6: one ingest_runs row per run with the reference's report fields
    (D:183-215), plus the pluggable notifier hook."""
    seen = []
    runs_dir = str(landing["tmp"] / "ingest_runs")
    rep1 = run(spark, landing, runs_dir=runs_dir, notifier=seen.append)
    run(spark, landing, runs_dir=runs_dir, notifier=seen.append)
    runs = spark.read.parquet(runs_dir)
    assert runs.count() == 2
    assert len(seen) == 2 and seen[0] is rep1
    r1 = runs.filter(F.col("run_id") == rep1.run_id).head()
    assert (r1.processed, r1.empty, r1.unmatch, r1.outofconfig,
            r1.irregular) == (2, 1, 1, 1, 2)
    assert r1.total == 7 and r1.status == "SUCCEEDED"
    assert r1.tables_written == ["CUSTOMER_MASTER"]


def test_concurrent_run_is_fenced(spark, landing, monkeypatch):
    """VERDICT r2 item 3: two simultaneous runs over one state dir must not
    both reach the quarantine append.  Simulated by launching run B from
    INSIDE run A's first commit point — B must bounce off A's lease, and a
    retry after A completes sees nothing pending."""
    state = {"b_error": None}

    def launch_b(name):
        if name == "data_written" and state["b_error"] is None:
            try:
                run(spark, landing)
                state["b_error"] = "no error raised"
            except ing.ConcurrentIngestError:
                state["b_error"] = "fenced"
    monkeypatch.setattr(ing, "_commit_point", launch_b)
    rep_a = run(spark, landing)
    assert state["b_error"] == "fenced"
    assert rep_a.processed == 2
    assert_converged(spark, landing)
    monkeypatch.undo()
    rep_b = run(spark, landing)  # retry after A: lease free, nothing pending
    assert rep_b.processed == 0
    assert_converged(spark, landing)


def test_stale_lease_is_stolen(spark, landing):
    """A lease left by a hard-killed process (no release) is taken over once
    past its TTL instead of deadlocking the pipeline forever."""
    import json
    import os
    os.makedirs(landing["state"], exist_ok=True)
    with open(os.path.join(landing["state"], ing._LEASE_FILE), "w") as f:
        json.dump({"run_id": "dead", "acquired_at": 0}, f)
    rep = run(spark, landing, lease_ttl_seconds=60.0)
    assert rep.processed == 2
    assert_converged(spark, landing)


def test_steal_backs_off_from_fresh_lease(landing, tmp_path):
    """ADVICE r4 TOCTOU: run B observed a stale lease, but by the time it
    steals, faster stealer A has already re-created a FRESH lease.  B's
    rename-claim must detect the fresh content, restore A's lease, and back
    off — under the old unlink+create protocol B would have destroyed A's
    lease and both runs would proceed."""
    import json
    import os
    state = str(tmp_path / "state")
    os.makedirs(state)
    path = os.path.join(state, ing._LEASE_FILE)
    import time
    with open(path, "w") as f:  # A's fresh lease (just re-created)
        json.dump({"run_id": "A", "acquired_at": time.time()}, f)
    assert ing._steal_stale_lease(path, "B", ttl_seconds=60.0) is False
    with open(path) as f:  # A's lease survived B's aborted steal
        assert json.load(f)["run_id"] == "A"


def test_release_preserves_successor_lease(landing, tmp_path):
    """ADVICE r4: if A's lease went stale and B stole it, A's late release
    must NOT remove B's lease (the read-check-unlink window)."""
    import json
    import os
    import time
    state = str(tmp_path / "state")
    os.makedirs(state)
    path = os.path.join(state, ing._LEASE_FILE)
    with open(path, "w") as f:  # B's lease, created after stealing A's
        json.dump({"run_id": "B", "acquired_at": time.time()}, f)
    ing._release_lease(state, "A")
    with open(path) as f:
        assert json.load(f)["run_id"] == "B"
    ing._release_lease(state, "B")  # the real holder can still release
    assert not os.path.exists(path)


def test_quarantine_dedup_on_read(spark, landing):
    """read_quarantine collapses duplicate (FILENAME, TYPE) appends — the
    observation-side net mirroring read_state."""
    run(spark, landing)
    # simulate a fencing-gap double append
    q = spark.read.parquet(landing["quarantine"])
    q.write.mode("append").parquet(landing["quarantine"])
    assert spark.read.parquet(landing["quarantine"]).count() == 8
    dq = ing.read_quarantine(spark, landing["quarantine"])
    assert dq.count() == 4
    assert dq.groupBy("FILENAME", "TYPE").count().filter("count > 1").count() == 0


def test_table_format_seam(spark, landing):
    """Every ingest write/read goes through the TableFormat seam (VERDICT
    r2 item 4: the Delta swap is a code seam, not a docstring promise)."""
    from datalake_ingestion_system_spark.sinks import TableFormat

    class Spy(TableFormat):
        calls = []

        def overwrite_partitions(self, df, path, partition_col):
            self.calls.append(("overwrite", path.rsplit("/", 1)[-1]))
            super().overwrite_partitions(df, path, partition_col)

        def append(self, df, path):
            self.calls.append(("append", path.rsplit("/", 1)[-1]))
            super().append(df, path)

    rep = run(spark, landing, fmt=Spy())
    assert rep.processed == 2
    assert ("overwrite", "CUSTOMER_MASTER") in Spy.calls
    kinds = [k for k, _ in Spy.calls]
    assert kinds.count("append") == 2  # quarantine + state
    assert_converged(spark, landing)


def test_steal_collision_with_third_acquirer_escalates(tmp_path, monkeypatch):
    """ADVICE r5 (medium): while a displaced FRESH lease sits in the steal
    tombstone, the lease path is absent and a third run's O_EXCL create can
    succeed; the restoring os.link then collides.  The old code swallowed
    that and unlinked the tombstone — silently leaving TWO concurrent
    holders.  Now the collision escalates (ConcurrentIngestError) and the
    displaced lease is preserved in the tombstone for operator recovery."""
    import json
    import os
    import time
    state = str(tmp_path / "state")
    os.makedirs(state)
    path = os.path.join(state, ing._LEASE_FILE)
    with open(path, "w") as f:  # stale lease — passes B's pre-check
        json.dump({"run_id": "dead", "acquired_at": 0}, f)

    real_rename = os.rename

    def racy_rename(src, dst):
        # faster stealer A re-creates a fresh lease JUST before B's rename…
        with open(src, "w") as f:
            json.dump({"run_id": "A", "acquired_at": time.time()}, f)
        real_rename(src, dst)
        # …and third run C slips an O_EXCL create into the absent window
        with open(src, "w") as f:
            json.dump({"run_id": "C", "acquired_at": time.time()}, f)

    monkeypatch.setattr(os, "rename", racy_rename)
    with pytest.raises(ing.ConcurrentIngestError, match="manual intervention"):
        ing._steal_stale_lease(path, "B", ttl_seconds=60.0)
    monkeypatch.setattr(os, "rename", real_rename)
    # C's live lease untouched; A's displaced lease preserved in tombstone
    with open(path) as f:
        assert json.load(f)["run_id"] == "C"
    with open(f"{path}.steal.B") as f:
        assert json.load(f)["run_id"] == "A"


def test_release_collision_with_third_acquirer_escalates(tmp_path, monkeypatch):
    import json
    import os
    import time
    state = str(tmp_path / "state")
    os.makedirs(state)
    path = os.path.join(state, ing._LEASE_FILE)
    with open(path, "w") as f:  # reads as OURS at the pre-check
        json.dump({"run_id": "A", "acquired_at": time.time()}, f)

    real_rename = os.rename

    def racy_rename(src, dst):
        # B steals+refreshes between A's pre-check and rename…
        with open(src, "w") as f:
            json.dump({"run_id": "B", "acquired_at": time.time()}, f)
        real_rename(src, dst)
        # …and C acquires in the absent window
        with open(src, "w") as f:
            json.dump({"run_id": "C", "acquired_at": time.time()}, f)

    monkeypatch.setattr(os, "rename", racy_rename)
    with pytest.raises(ing.ConcurrentIngestError, match="manual intervention"):
        ing._release_lease(state, "A")
    monkeypatch.setattr(os, "rename", real_rename)
    with open(path) as f:
        assert json.load(f)["run_id"] == "C"
    with open(f"{path}.release.A") as f:
        assert json.load(f)["run_id"] == "B"


def test_fresh_lease_never_renamed_aside_during_steal(tmp_path):
    """Content-check-first: a fresh lease must not transit through the
    tombstone at all (no path-absent window is ever opened for it)."""
    import json
    import os
    import time
    state = str(tmp_path / "state")
    os.makedirs(state)
    path = os.path.join(state, ing._LEASE_FILE)
    with open(path, "w") as f:
        json.dump({"run_id": "A", "acquired_at": time.time()}, f)
    ino = os.stat(path).st_ino
    assert ing._steal_stale_lease(path, "B", ttl_seconds=60.0) is False
    assert os.stat(path).st_ino == ino  # same inode: file never moved
    assert not os.path.exists(f"{path}.steal.B")


def test_release_leaves_successor_lease_untouched_by_content_check(tmp_path):
    import json
    import os
    import time
    state = str(tmp_path / "state")
    os.makedirs(state)
    path = os.path.join(state, ing._LEASE_FILE)
    with open(path, "w") as f:
        json.dump({"run_id": "B", "acquired_at": time.time()}, f)
    ino = os.stat(path).st_ino
    ing._release_lease(state, "A")
    assert os.stat(path).st_ino == ino  # never renamed aside
    assert not os.path.exists(f"{path}.release.A")
