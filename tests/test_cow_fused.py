"""Single-pass copy-on-write fusion (round 17): merge / delete_where /
update_where fuse their probe and rewrite scans into one cached
candidate scan when the candidate set is small (``_fuse_candidates``),
and fall back to the classic two-pass shape otherwise.  Both shapes
must commit identical state — including change-feed sidecars and row
ids — and the fused cache must never outlive the operation.

The two-pass shape is forced by setting the byte cap
``TxnLogFormat._FUSE_MAX_BYTES`` to 0."""

from __future__ import annotations

import os
import shutil

import pytest

from datalake_ingestion_system_spark.sinks import TxnLogFormat, _relfile

SHAPES = ("fused", "two_pass")


@pytest.fixture(scope="module")
def base_table(spark, tmp_path_factory):
    """A CDF + row-tracking table of 60 rows in three files with
    disjoint id ranges (0-19, 20-39, 40-59), so key pruning can leave
    files out of a candidate scan.  Tests copy it: every shape starts
    from byte-identical files and row ids."""
    path = str(tmp_path_factory.mktemp("cow") / "base")
    fmt = TxnLogFormat(checkpoint_interval=None)
    schema = "id long, v double, g string"
    fmt.append(spark.createDataFrame([], schema), path)
    fmt.set_properties(spark, path, row_tracking=True,
                       change_data_feed=True)
    for lo in (0, 20, 40):
        fmt.append(spark.createDataFrame(
            [(i, float(i), "ab"[i % 2]) for i in range(lo, lo + 20)],
            schema).coalesce(1), path)
    return path


def _copy(base, tmp_path, name):
    dst = str(tmp_path / name)
    shutil.copytree(base, dst)
    return dst


def _use_shape(monkeypatch, shape):
    """Force ``shape`` and record every fuse decision taken, with the
    candidate files it was taken on."""
    if shape == "two_pass":
        monkeypatch.setattr(TxnLogFormat, "_FUSE_MAX_BYTES", 0)
    seen: list[tuple[bool, set]] = []
    gate = TxnLogFormat._fuse_candidates.__func__

    def spy(cls, plan, cdf_on, track):
        out = gate(cls, plan, cdf_on, track)
        seen.append((out, {_relfile(p) for p in plan.paths}))
        return out

    monkeypatch.setattr(TxnLogFormat, "_fuse_candidates",
                        classmethod(spy))
    return seen


def _src(spark, rows, schema="id long, v double, g string"):
    return spark.createDataFrame(rows, schema)


def _cdc_merge(spark, fmt, path):
    src = _src(spark, [(1, 100.0, "a", "U"), (2, 200.0, "b", "D"),
                       (999, 9.0, "z", "U")],
               "id long, v double, g string, op string")
    return fmt.merge(spark, path, src, "id",
                     matched_delete_condition="op = 'D'",
                     insert_condition="op <> 'D'")


#: case -> (operation, its expected return value)
CASES = {
    "delete_where": (
        lambda spark, fmt, path: fmt.delete_where(
            spark, path, "id < 5 OR id = 45"), 6),
    "update_where": (
        lambda spark, fmt, path: fmt.update_where(
            spark, path, "id >= 55", {"v": "v + 0.25", "g": "upper(g)"}),
        5),
    "merge_cdc": (_cdc_merge, {"updated": 1, "deleted": 1, "inserted": 1}),
    "merge_update_condition": (
        lambda spark, fmt, path: fmt.merge(
            spark, path,
            _src(spark, [(3, 30.5, "x"), (4, 1.0, "y"), (1000, 5.0, "n")]),
            "id", matched_update_condition="v > 10"),
        {"updated": 1, "deleted": 0, "inserted": 1}),
    "merge_update_assignments": (
        lambda spark, fmt, path: fmt.merge(
            spark, path, _src(spark, [(6, 2.0), (7, 3.0)], "id long, dv "
                              "double"),
            "id", insert_condition="false",
            matched_update_assignments={"v": "t.v + s.dv",
                                        "g": "concat(g, 'u')"}),
        {"updated": 2, "deleted": 0, "inserted": 0}),
    # the source keys prune the candidates to the 0-19 file; the NOT
    # MATCHED BY SOURCE sweep also hits the 40-59 file, past them
    "merge_not_matched_by_source": (
        lambda spark, fmt, path: fmt.merge(
            spark, path, _src(spark, [(1, 11.0, "a"), (2, 12.0, "b")]),
            "id", not_matched_by_source_delete_condition="id >= 50"),
        {"updated": 2, "deleted": 10, "inserted": 0}),
}


def _outcome(spark, fmt, path):
    rows = sorted((r.id, r.v, r.g, r._row_id) for r in
                  fmt.read(spark, path, with_row_ids=True).collect())
    feed = sorted(
        (r.id, r.v, r.g, r._change_type, r._commit_version, r._row_id)
        for r in (spark.read.format("txnlog")
                  .option("readChangeFeed", "true")
                  .option("rowIds", "true")
                  .option("startingVersion", "5").load(path)).collect())
    last = fmt._commits(path)[-1]
    record = (last["action"], last.get("removed_files"),
              sorted(k for k in last if k not in ("timestamp",)))
    return rows, feed, record


@pytest.mark.parametrize("case", sorted(CASES))
def test_fused_and_two_pass_commit_identical_state(
        spark, base_table, tmp_path, monkeypatch, case):
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource)

    spark.dataSource.register(TxnLogDataSource)
    op, expected = CASES[case]
    out = {}
    for shape in SHAPES:
        with monkeypatch.context() as mp:
            seen = _use_shape(mp, shape)
            path = _copy(base_table, tmp_path, shape)
            fmt = TxnLogFormat(checkpoint_interval=None)
            assert op(spark, fmt, path) == expected
            assert [f for f, _n in seen] == [shape == "fused"]
            out[shape] = _outcome(spark, fmt, path)
            if case == "merge_not_matched_by_source":
                # the hot set really reached past the candidate scan
                assert not set(out[shape][2][1]) <= seen[0][1]
    rows, feed, record = out["fused"]
    # equal rows WITH their row ids, change-feed rows, commit record
    assert rows == out["two_pass"][0]
    assert feed == out["two_pass"][1]
    assert record == out["two_pass"][2]
    assert feed and all(r[-1] is not None for r in rows)


def _spy_cache(monkeypatch, spark):
    """Track DataFrames persisted and not yet unpersisted."""
    cls = type(spark.range(1))
    live: set[int] = set()
    persisted: list[int] = []
    persist, unpersist = cls.persist, cls.unpersist

    def p(self, *a, **k):
        live.add(id(self))
        persisted.append(id(self))
        return persist(self, *a, **k)

    def u(self, *a, **k):
        live.discard(id(self))
        return unpersist(self, *a, **k)

    monkeypatch.setattr(cls, "persist", p)
    monkeypatch.setattr(cls, "unpersist", u)
    return live, persisted


#: verb -> (success, no-op, guard-raise) calls and the error raised;
#: each no-op names keys the stats cannot rule out, so it still plans
#: (and, fused, caches) a non-empty candidate scan
EXITS = {
    "delete_where": (
        lambda s, f, p: f.delete_where(s, p, "id = 3"),
        lambda s, f, p: f.delete_where(s, p, "id = 3"),
        lambda s, f, p: f.delete_where(s, p, "no_such_col = 1"),
        Exception),
    "update_where": (
        lambda s, f, p: f.update_where(s, p, "id = 4", {"v": "v + 1"}),
        lambda s, f, p: f.update_where(s, p, "id = 4 AND v < 0",
                                       {"v": "v"}),
        lambda s, f, p: f.update_where(s, p, "id = 4", {"nope": "1"}),
        ValueError),
    "merge": (
        lambda s, f, p: f.merge(s, p, _src(s, [(5, 1.0, "a")]), "id"),
        lambda s, f, p: f.merge(s, p, _src(s, [(8, 1.0, "a")]), "id",
                                matched_update_condition="v < 0",
                                insert_condition="false"),
        lambda s, f, p: f.merge(s, p, _src(s, [(5, 1.0, "a"),
                                               (5, 2.0, "b")]), "id"),
        ValueError),
}


@pytest.mark.parametrize("shape", SHAPES)
@pytest.mark.parametrize("verb", sorted(EXITS))
def test_fused_cache_never_outlives_the_operation(
        spark, base_table, tmp_path, monkeypatch, verb, shape):
    seen = _use_shape(monkeypatch, shape)
    live, persisted = _spy_cache(monkeypatch, spark)
    path = _copy(base_table, tmp_path, "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    success, noop, guard, err = EXITS[verb]
    version = fmt._commits(path)[-1]["version"]
    assert success(spark, fmt, path)
    assert not live
    assert fmt._commits(path)[-1]["version"] == version + 1
    assert noop(spark, fmt, path) in (0, {"updated": 0, "deleted": 0,
                                          "inserted": 0})
    assert not live
    with pytest.raises(err):
        guard(spark, fmt, path)
    assert not live
    assert fmt._commits(path)[-1]["version"] == version + 1
    fused = [f for f, _n in seen]
    assert fused == [shape == "fused"] * 3
    # a cache is taken exactly when the gate fuses
    assert len(persisted) == (3 if shape == "fused" else 0)


def _prune_only_frames(monkeypatch):
    """Columns of every candidate frame ``read`` scans: a given
    ``_plan`` without a file restriction (the hot-file scans name
    theirs) and without a row filter."""
    frames: list[list[str]] = []
    read = TxnLogFormat.read

    def spy(self, *a, **k):
        df = read(self, *a, **k)
        plan = k.get("_plan")
        if plan is not None and plan.only_files is None \
                and k.get("where") is None:
            frames.append(df.columns)
        return df

    monkeypatch.setattr(TxnLogFormat, "read", spy)
    return frames


def test_probe_is_narrow_when_fusion_cannot_apply(spark, tmp_path,
                                                  monkeypatch):
    """A row-tracked table without the change feed can never fuse, so
    its candidate scan must not pay the row-id join: the frame the
    hot-file discovery reads carries no ``_row_id``."""
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    df = _src(spark, [(i, float(i), "ab"[i % 2]) for i in range(20)])
    fmt.append(df.limit(0), path)
    fmt.set_properties(spark, path, row_tracking=True)
    fmt.append(df.coalesce(2), path)
    frames = _prune_only_frames(monkeypatch)
    assert fmt.delete_where(spark, path, "id < 3") == 3
    assert fmt.update_where(spark, path, "id = 5", {"v": "0.5"}) == 1
    assert fmt.merge(spark, path, _src(spark, [(7, 1.0, "z")]),
                     "id") == {"updated": 1, "deleted": 0, "inserted": 0}
    assert len(frames) == 3
    assert all("_row_id" not in cols for cols in frames)
    ids = [r._row_id for r in
           fmt.read(spark, path, with_row_ids=True).collect()]
    assert len(ids) == 17 and len(set(ids)) == 17 and None not in ids


def test_probe_is_replanned_narrow_when_the_gate_rejects(
        spark, base_table, tmp_path, monkeypatch):
    """With CDF + row tracking the scan is planned wide (the only shape
    the gate can fuse); when the size gate rejects it the probe is
    re-planned without row ids, and the fused probe keeps them."""
    for shape, has_ids in (("two_pass", False), ("fused", True)):
        with monkeypatch.context() as mp:
            _use_shape(mp, shape)
            frames = _prune_only_frames(mp)
            path = _copy(base_table, tmp_path, shape)
            fmt = TxnLogFormat(checkpoint_interval=None)
            assert fmt.delete_where(spark, path, "id = 1") == 1
            assert ("_row_id" in frames[-1]) is has_ids


def test_plan_scan_reports_exact_scan_targets(spark, base_table):
    fmt = TxnLogFormat(checkpoint_interval=None)
    snap = fmt._snapshot(base_table)
    info = snap.plan_scan(base_table, fmt._skip_clauses("id < 10"))
    assert info.exact is True
    every = snap.plan_scan(base_table)
    # stats pruning drops the 20-39 and 40-59 files
    assert len(info.paths) == len(every.paths) - 2
    assert all(p.endswith(".parquet") and os.path.isfile(p)
               for p in info.paths)
    # prune-only: the row filter is NOT applied (all 20 rows survive)
    n = fmt.read(spark, base_table, _plan=info).count()
    assert n == 20
    # ...while the default read applies it
    assert fmt.read(spark, base_table, where="id < 10").count() == 10


def test_one_fold_per_operation(spark, base_table, tmp_path, monkeypatch):
    """Each read and each copy-on-write DML call replays the log ONCE:
    ``Snapshot.fold`` runs one time per operation — the op's own reads
    plan from its snapshot.  Counted apart: the commit's row-id
    re-check, where ``_commit`` re-lists the head after claiming a
    version on a row-tracked table (safety code, one fold per
    row-tracked commit)."""
    import sys

    from datalake_ingestion_system_spark.sinks import Snapshot
    path = _copy(base_table, tmp_path, "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    folds: list[str] = []
    fold = Snapshot.fold.__func__

    def spy(cls, commits):
        folds.append(sys._getframe(1).f_code.co_name)
        return fold(cls, commits)

    monkeypatch.setattr(Snapshot, "fold", classmethod(spy))

    def count(op) -> dict:
        folds.clear()
        op()
        return {"op": len(folds) - folds.count("_commit"),
                "commit_recheck": folds.count("_commit")}

    read_once = {"op": 1, "commit_recheck": 0}
    write_once = {"op": 1, "commit_recheck": 1}
    assert count(lambda: fmt.read(spark, path).collect()) == read_once
    assert count(lambda: fmt.read(spark, path, where="id < 5")
                 .collect()) == read_once
    assert count(lambda: fmt.read(spark, path, as_of_version=2)
                 .collect()) == read_once
    assert count(lambda: fmt.delete_where(spark, path, "id = 1")) \
        == write_once
    assert count(lambda: fmt.update_where(spark, path, "id = 2",
                                          {"v": "v + 1"})) == write_once
    assert count(lambda: _cdc_merge(spark, fmt, path)) == write_once
