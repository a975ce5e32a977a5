"""Copy-on-write DML (merge / delete_where / update_where) and its
change feed.  Every verb scans its stats-pruned candidate files narrow
(no row ids), restages the exact hot files, and builds every change-feed
image in ONE pass over the frame the rewrite already builds.

The oracle test checks the sidecar against a model that knows nothing of
how it is built: the rows a verb commits to the feed must equal the diff
of the table before and after it, joined on the stable row id (on the
business key where the table tracks no row ids)."""

from __future__ import annotations

import os
import shutil

import pytest

from datalake_ingestion_system_spark.sinks import TxnLogFormat

SCHEMA = "id long, v double, g string"

#: base table kind -> the properties set before any row lands
KINDS = {
    "tracked": {"row_tracking": True, "change_data_feed": True},
    "identity": {"change_data_feed": True,
                 "identity_columns": {"rid": {"start": 1, "step": 1}}},
    "untracked": {"change_data_feed": True},
}


@pytest.fixture(scope="module")
def bases(spark, tmp_path_factory):
    """Base tables by kind, built on first use: 60 rows in three files
    with disjoint id ranges (0-19, 20-39, 40-59), so key pruning can
    leave files out of a candidate scan.  Tests copy them."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource)

    spark.dataSource.register(TxnLogDataSource)
    root = tmp_path_factory.mktemp("cow")
    made: dict[str, str] = {}

    def get(kind: str) -> str:
        if kind not in made:
            path = str(root / kind)
            fmt = TxnLogFormat(checkpoint_interval=None)
            fmt.append(spark.createDataFrame([], SCHEMA), path)
            fmt.set_properties(spark, path, **KINDS[kind])
            for lo in (0, 20, 40):
                fmt.append(spark.createDataFrame(
                    [(i, float(i), "ab"[i % 2]) for i in range(lo, lo + 20)],
                    SCHEMA).coalesce(1), path)
            made[kind] = path
        return made[kind]

    return get


def _copy(base, tmp_path, name):
    dst = str(tmp_path / name)
    shutil.copytree(base, dst)
    return dst


def _src(spark, rows, schema=SCHEMA):
    return spark.createDataFrame(rows, schema)


def _cdc_merge(spark, fmt, path):
    src = _src(spark, [(1, 100.0, "a", "U"), (2, 200.0, "b", "D"),
                       (999, 9.0, "z", "U")],
               "id long, v double, g string, op string")
    return fmt.merge(spark, path, src, "id",
                     matched_delete_condition="op = 'D'",
                     insert_condition="op <> 'D'")


#: case -> (base table kind, operation, its expected return value)
CASES = {
    "delete_where": (
        "tracked",
        lambda spark, fmt, path: fmt.delete_where(
            spark, path, "id < 5 OR id = 45"), 6),
    "update_where": (
        "tracked",
        lambda spark, fmt, path: fmt.update_where(
            spark, path, "id >= 55", {"v": "v + 0.25", "g": "upper(g)"}),
        5),
    "merge_cdc": ("tracked", _cdc_merge,
                  {"updated": 1, "deleted": 1, "inserted": 1}),
    "merge_update_condition": (
        "tracked",
        lambda spark, fmt, path: fmt.merge(
            spark, path,
            _src(spark, [(3, 30.5, "x"), (4, 1.0, "y"), (1000, 5.0, "n")]),
            "id", matched_update_condition="v > 10"),
        {"updated": 1, "deleted": 0, "inserted": 1}),
    "merge_update_assignments": (
        "tracked",
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
        "tracked",
        lambda spark, fmt, path: fmt.merge(
            spark, path, _src(spark, [(1, 11.0, "a"), (2, 12.0, "b")]),
            "id", not_matched_by_source_delete_condition="id >= 50"),
        {"updated": 2, "deleted": 10, "inserted": 0}),
    # identity values never come from the source: the post-image keeps
    # the matched row's value, the insert carries the allocated one
    "merge_identity_cdc": ("identity", _cdc_merge,
                           {"updated": 1, "deleted": 1, "inserted": 1}),
    "merge_schema_evolution": (
        "tracked",
        lambda spark, fmt, path: fmt.merge(
            spark, path,
            _src(spark, [(3, 3.5, "c", 7), (1001, 1.0, "n", 8)],
                 SCHEMA + ", w int"),
            "id", schema_evolution=True),
        {"updated": 1, "deleted": 0, "inserted": 1}),
    "merge_column_list_insert": (
        "tracked",
        lambda spark, fmt, path: fmt.merge(
            spark, path, _src(spark, [(8, 80.0), (500, 5.0)],
                              "id long, v double"),
            "id", matched_update_assignments={"v": "s.v"},
            insert_assignments={"id": "s.id", "v": "s.v * 2"}),
        {"updated": 1, "deleted": 0, "inserted": 1}),
    "merge_pure_insert": (
        "tracked",
        lambda spark, fmt, path: fmt.merge(
            spark, path, _src(spark, [(1000, 1.0, "p"), (1001, 2.0, "q")]),
            "id"),
        {"updated": 0, "deleted": 0, "inserted": 2}),
    "cdf_without_row_tracking": ("untracked", _cdc_merge,
                                 {"updated": 1, "deleted": 1,
                                  "inserted": 1}),
}

_META = ("_dv_file", "_dv_pos", "_row_id")


def _state(spark, fmt, path, key):
    """Live rows by ``key``, each with the file holding it."""
    df = fmt.read(spark, path, _with_pos=True,
                  with_row_ids=key == "_row_id")
    rows = [r.asDict() for r in df.collect()]
    by_key = {r[key]: r for r in rows}
    assert len(by_key) == len(rows) and None not in by_key
    return by_key, [c for c in df.columns if c not in _META]


def _expected_feed(before, after, cols, tracked):
    """The change set the diff of two states implies: a key gone is a
    delete, a key whose values changed an update pre/post-image pair, a
    new key an insert (whose row id reads NULL in the sidecar: ids are
    allocated at commit time).  Also returns the files that held a
    deleted or changed row — exactly the files the op must rewrite."""
    def row(d, kind, rid):
        return (*(d.get(c) for c in cols), kind) + ((rid,) if tracked
                                                    else ())

    feed, files = [], set()
    for k, b in before.items():
        a = after.get(k)
        if a is None:
            feed.append(row(b, "delete", k))
        elif any(a.get(c) != b.get(c) for c in cols):
            feed += [row(b, "update_preimage", k),
                     row(a, "update_postimage", k)]
        else:
            continue
        files.add(b["_dv_file"])
    feed += [row(a, "insert", None) for k, a in after.items()
             if k not in before]
    return sorted(feed, key=repr), sorted(files)


@pytest.mark.parametrize("case", sorted(CASES))
def test_change_feed_matches_state_diff(spark, bases, tmp_path, case):
    kind, op, expected = CASES[case]
    tracked = kind == "tracked"
    key = "_row_id" if tracked else "id"
    path = _copy(bases(kind), tmp_path, case)
    fmt = TxnLogFormat(checkpoint_interval=None)
    before, _cols = _state(spark, fmt, path, key)
    assert op(spark, fmt, path) == expected
    after, cols = _state(spark, fmt, path, key)
    want, hot = _expected_feed(before, after, cols, tracked)
    last = fmt._commits(path)[-1]
    reader = (spark.read.format("txnlog").option("readChangeFeed", "true")
              .option("startingVersion", str(last["version"])))
    if tracked:
        reader = reader.option("rowIds", "true")
    got = [r.asDict() for r in reader.load(path).collect()]
    assert {r["_commit_version"] for r in got} == {last["version"]}
    feed = sorted(((*(r[c] for c in cols), r["_change_type"])
                   + ((r["_row_id"],) if tracked else ()) for r in got),
                  key=repr)
    assert feed == want and feed
    # the commit rewrote exactly the files holding changed rows, and
    # recorded the sidecar with it
    assert last["action"] == "rewrite_files"
    assert last["removed_files"] == hot
    assert {"cdf_dir", "cdf_files", "data_change", "removed_files",
            "schema"} <= set(last)
    assert ("identity_high" in last) == (kind == "identity")
    assert ("evolved_add" in last) == (case == "merge_schema_evolution")


#: verb -> (success, no-op, guard-raise) calls and the error raised;
#: each no-op names keys the stats cannot rule out, so it still plans
#: and scans a non-empty candidate set
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


#: shape id -> base table kind.  ``fused``: CDF + row tracking, the
#: only table the deleted fused shape ever cached; ``two_pass``: CDF
#: without row tracking, which always took the uncached shape
SHAPES = {"fused": "tracked", "two_pass": "untracked"}


@pytest.mark.parametrize("shape", sorted(SHAPES))
@pytest.mark.parametrize("verb", sorted(EXITS))
def test_fused_cache_never_outlives_the_operation(spark, bases, tmp_path,
                                                  monkeypatch, verb, shape):
    """A success commits one version, a no-op and a guard raise commit
    nothing, and no exit persists a DataFrame, on either table shape:
    the copy-on-write path holds no cache that could outlive it."""
    persisted: list[int] = []
    cls = type(spark.range(1))
    persist = cls.persist

    def spy(self, *a, **k):
        persisted.append(id(self))
        return persist(self, *a, **k)

    monkeypatch.setattr(cls, "persist", spy)
    path = _copy(bases(SHAPES[shape]), tmp_path, "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    success, noop, guard, err = EXITS[verb]
    version = fmt._commits(path)[-1]["version"]
    assert success(spark, fmt, path)
    assert fmt._commits(path)[-1]["version"] == version + 1
    assert noop(spark, fmt, path) in (0, {"updated": 0, "deleted": 0,
                                          "inserted": 0})
    with pytest.raises(err):
        guard(spark, fmt, path)
    assert fmt._commits(path)[-1]["version"] == version + 1
    assert persisted == []


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


@pytest.mark.parametrize("cdf", [False, True], ids=["cdf_off", "cdf_on"])
def test_candidate_scan_never_carries_row_ids(spark, tmp_path,
                                              monkeypatch, cdf):
    """The candidate scan of every verb is narrow, with the change feed
    on or off: the frame the hot-file discovery reads carries no
    ``_row_id`` (only the exact hot-file scan pays the row-id join),
    and the committed rows keep unique ids."""
    path = str(tmp_path / "t")
    fmt = TxnLogFormat(checkpoint_interval=None)
    df = _src(spark, [(i, float(i), "ab"[i % 2]) for i in range(20)])
    fmt.append(df.limit(0), path)
    fmt.set_properties(spark, path, row_tracking=True,
                       change_data_feed=cdf)
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


def test_plan_scan_reports_exact_scan_targets(spark, bases):
    base = bases("tracked")
    fmt = TxnLogFormat(checkpoint_interval=None)
    snap = fmt._snapshot(base)

    def files(plan):
        return [rf for _i, _e, fs in plan.entries for rf in fs]

    info = snap.plan_scan(base, fmt._skip_clauses("id < 10"))
    # stats pruning drops the 20-39 and 40-59 files
    assert len(files(info)) == len(files(snap.plan_scan(base))) - 2
    assert all(rf.endswith(".parquet")
               and os.path.isfile(os.path.join(base, rf))
               for rf in files(info))
    # prune-only: the row filter is NOT applied (all 20 rows survive)
    assert fmt.read(spark, base, _plan=info).count() == 20
    # ...while the default read applies it
    assert fmt.read(spark, base, where="id < 10").count() == 10


def test_one_fold_per_operation(spark, bases, tmp_path, monkeypatch):
    """Each read and each copy-on-write DML call replays the log ONCE:
    ``Snapshot.fold`` runs one time per operation — the op's own reads
    plan from its snapshot.  Counted apart: the commit's row-id
    re-check, where ``_commit`` re-lists the head after claiming a
    version on a row-tracked table (safety code, one fold per
    row-tracked commit)."""
    import sys

    from datalake_ingestion_system_spark.sinks import Snapshot
    path = _copy(bases("tracked"), tmp_path, "t")
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
