"""``Snapshot.fold`` — the one replay of the txn log — over generated
commit sequences, with no Spark: commit records are written straight
into a table's ``_txn_log`` and read back through ``_commits``, and the
checkpoint is the engine's own (``_write_checkpoint``).

Properties:

- folding ``[checkpoint of a prefix] + tail`` equals folding the raw
  list, field by field;
- a ``restore`` equals the fold of its target prefix on every
  restore-aware field;
- the monotone terms (protocol, identity and row-id watermarks) never
  decrease;
- folding twice from one cached checkpoint record gives equal snapshots
  and leaves the record untouched."""

from __future__ import annotations

import copy
import json
import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datalake_ingestion_system_spark.sinks import Snapshot, TxnLogFormat

SCHEMAS = [
    json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "p", "type": "string", "nullable": True, "metadata": {}}]}),
    json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "p", "type": "string", "nullable": True, "metadata": {}},
        {"name": "x", "type": "integer", "nullable": True,
         "metadata": {}}]}),
]

RESTORE_AWARE = ("live", "removed_files", "dvs", "alters", "schema",
                 "properties")
FIELDS = ("version", *RESTORE_AWARE, "protocol", "identity_high",
          "row_high")

KINDS = ("append", "overwrite", "replace_all", "rewrite_files", "add_dv",
         "dv_update", "alter", "set_properties", "set_protocol", "restore")


@st.composite
def histories(draw):
    """A dense commit list [0..n): version 0 is an append, later
    commits draw from every action the fold understands."""
    n = draw(st.integers(2, 14))
    out: list[dict] = []
    files: list[str] = []
    for v in range(n):
        kind = "append" if v == 0 else draw(st.sampled_from(KINDS))
        d = f"_txn_data/d{v:03d}"
        own = [f"{d}/part-{i}.parquet"
               for i in range(draw(st.integers(0, 2)))]
        rec = {"action": kind, "version": v, "ts": 1000.0 + v,
               "dir": None, "partition_col": None, "partitions": []}
        if kind in ("append", "overwrite", "replace_all", "rewrite_files",
                    "dv_update"):
            rec.update(dir=d, files=own,
                       schema=draw(st.sampled_from(SCHEMAS)))
            files += own
        if kind == "overwrite":
            rec.update(partition_col="p", partitions=sorted(
                draw(st.sets(st.sampled_from(["a", "b", None]),
                             min_size=1)),
                key=lambda x: (x is None, x)))
        elif kind == "replace_all" and draw(st.booleans()):
            rec["partition_col"] = "p"
        elif kind == "rewrite_files":
            rec["removed_files"] = sorted(draw(st.sets(
                st.sampled_from(files))) if files else [])
            rec["data_change"] = True
            if draw(st.booleans()):
                rec["dv_dir"] = f"_txn_data/dv{v:03d}"
            if draw(st.booleans()):
                rec["evolved_add"] = {"x": "int"}
        elif kind == "add_dv":
            rec["dir"] = f"_txn_data/dv{v:03d}"
        elif kind == "dv_update":
            rec["dv_dir"] = f"_txn_data/dv{v:03d}"
        elif kind == "alter":
            rec.update(add={f"c{v}": "int"}, rename={}, drop=[],
                       schema=SCHEMAS[1])
        elif kind == "set_properties":
            rec["props"] = {draw(st.sampled_from(["k1", "k2"])):
                            draw(st.sampled_from(["u", "w", None]))}
        elif kind == "set_protocol":
            rec["reader_features"] = sorted(draw(st.sets(st.sampled_from(
                ["deletion_vectors", "column_mapping"]))))
            rec["writer_features"] = sorted(draw(st.sets(st.sampled_from(
                ["identity_columns", "check_constraints"]))))
        elif kind == "restore":
            rec["to_version"] = draw(st.integers(0, v - 1))
            rec["schema"] = draw(st.sampled_from(SCHEMAS))
        if kind in ("append", "rewrite_files") and draw(st.booleans()):
            # watermarks are drawn freely: the fold must still keep them
            # monotone (a max), whatever a commit records
            rec["identity_high"] = {"rid": draw(st.integers(0, 50))}
            rec["row_id_high"] = draw(st.integers(0, 50))
        out.append(rec)
    return out


def _write_log(root: str, commits: list[dict]) -> None:
    log = os.path.join(root, "_txn_log")
    os.makedirs(log)
    for c in commits:
        with open(os.path.join(log, f"{c['version']:012d}.json"), "w") as f:
            json.dump(c, f)


def _assert_same(a: Snapshot, b: Snapshot, fields=FIELDS) -> None:
    for name in fields:
        assert getattr(a, name) == getattr(b, name), name


_SETTINGS = settings(max_examples=60, deadline=None,
                     suppress_health_check=[HealthCheck.too_slow])


@_SETTINGS
@given(histories(), st.data())
def test_checkpoint_seeded_fold_equals_raw_fold(commits, data):
    # a tail restore must not reach below the checkpoint (``_commits``
    # falls back to the raw records in that case)
    allowed = [k for k in range(len(commits))
               if all(c["to_version"] >= k for c in commits[k + 1:]
                      if c["action"] == "restore")]
    k = data.draw(st.sampled_from(allowed))
    with tempfile.TemporaryDirectory() as root:
        _write_log(root, commits)
        fmt = TxnLogFormat(checkpoint_interval=None)
        raw = fmt._commits(root)
        fmt._write_checkpoint(root, k)
        seeded = fmt._commits(root)
        assert seeded[0]["action"] == "checkpoint"
        assert seeded[0]["version"] == k
        _assert_same(Snapshot.fold(seeded), Snapshot.fold(raw))


@_SETTINGS
@given(histories())
def test_restore_equals_its_target_prefix(commits):
    for i, c in enumerate(commits):
        if c["action"] != "restore":
            continue
        got = Snapshot.fold(commits[:i + 1])
        want = Snapshot.fold(commits[:c["to_version"] + 1])
        _assert_same(got, want, RESTORE_AWARE)


@_SETTINGS
@given(histories())
def test_watermarks_never_decrease(commits):
    prev = Snapshot.fold([])
    for i in range(len(commits)):
        cur = Snapshot.fold(commits[:i + 1])
        assert cur.row_high >= prev.row_high
        for col, h in prev.identity_high.items():
            assert cur.identity_high[col] >= h
        for side in ("reader", "writer"):
            assert cur.protocol[side] >= prev.protocol[side]
        prev = cur


@_SETTINGS
@given(histories(), st.data())
def test_two_folds_of_one_cached_checkpoint_agree(commits, data):
    k = data.draw(st.integers(0, len(commits) - 1))
    tail = [c for c in commits[k + 1:] if c["action"] == "restore"]
    with tempfile.TemporaryDirectory() as root:
        # restores in the tail target the checkpoint or later
        for c in tail:
            c["to_version"] = max(c["to_version"], k)
        _write_log(root, commits)
        fmt = TxnLogFormat(checkpoint_interval=None)
        fmt._write_checkpoint(root, k)
        first = fmt._commits(root)
        record = copy.deepcopy(first[0])
        again = fmt._commits(root)
        assert again[0] is first[0]  # the process-wide cached record
        assert Snapshot.fold(first) == Snapshot.fold(again)
        assert again[0] == record  # folding never mutates it


def test_empty_log_folds_to_version_minus_one():
    snap = Snapshot.fold([])
    assert snap.version == -1
    assert snap.live == [] and snap.dvs == [] and snap.schema is None
