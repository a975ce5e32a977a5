"""Row tracking — Delta row-ID parity (round 11).

Under the ``row_tracking`` table property every data commit reserves a
disjoint ``[base, base + rows)`` id range per staged file (allocation
rides the publish loop — racing writers can never overlap); a row's
stable id is ``base + parquet row index`` for fresh rows and the
MATERIALIZED ``__row_id`` column for rows restaged by compaction /
targeted UPDATE / merge.  ``read(..., with_row_ids=True)`` surfaces it
as ``_row_id`` — the primitive incremental-MV maintenance and
CDF-precise lineage need across rewrites.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from datalake_ingestion_system_spark.sinks import TxnLogFormat


def _fmt():
    return TxnLogFormat(checkpoint_interval=None)


@pytest.fixture()
def tracked(spark, tmp_path):
    path = str(tmp_path / "t")
    fmt = _fmt()
    df = spark.range(10).select(F.col("id").alias("k"),
                                (F.col("id") * 2).alias("v"))
    fmt.append(df.limit(0), path)
    fmt.set_properties(spark, path, row_tracking=True)
    fmt.append(df.filter("k < 5"), path)
    fmt.append(df.filter("k >= 5"), path)
    return fmt, path


def _ids(fmt, spark, path):
    return {r.k: r._row_id
            for r in fmt.read(spark, path, with_row_ids=True).collect()}


def test_fresh_ids_are_dense_unique_and_hidden(spark, tracked):
    fmt, path = tracked
    ids = _ids(fmt, spark, path)
    assert sorted(ids.values()) == list(range(10))
    # never a data column unless asked for
    assert fmt.read(spark, path).columns == ["k", "v"]
    assert "_row_id" not in fmt.read(spark, path).columns


def test_ids_stable_across_full_compact(spark, tracked):
    fmt, path = tracked
    before = _ids(fmt, spark, path)
    fmt.compact(spark, path)
    assert _ids(fmt, spark, path) == before
    # and across a SECOND compaction of the materialized state
    fmt.compact(spark, path)
    assert _ids(fmt, spark, path) == before


def test_ids_stable_across_targeted_update_and_delete(spark, tracked):
    fmt, path = tracked
    before = _ids(fmt, spark, path)
    fmt.update_where(spark, path, "k = 3", {"v": "999"})
    got = {r.k: (r._row_id, r.v) for r in
           fmt.read(spark, path, with_row_ids=True).collect()}
    assert got[3] == (before[3], 999)      # same identity, new value
    assert {k: t[0] for k, t in got.items()} == before
    fmt.delete_where(spark, path, "k = 8")
    after = _ids(fmt, spark, path)
    assert 8 not in after
    assert after == {k: v for k, v in before.items() if k != 8}


def test_ids_stable_across_dv_delete_update_and_dv_compact(spark,
                                                           tracked):
    fmt, path = tracked
    before = _ids(fmt, spark, path)
    fmt.delete_where_dv(spark, path, "k = 7")
    fmt.update_where_dv(spark, path, "k = 5", {"v": "555"})
    mid = _ids(fmt, spark, path)
    assert mid == {k: v for k, v in before.items() if k != 7}
    fmt.compact(spark, path, rewrite_dv_threshold=0.01)
    assert _ids(fmt, spark, path) == mid


def test_merge_keeps_matched_ids_and_mints_fresh_inserts(spark,
                                                         tracked):
    fmt, path = tracked
    before = _ids(fmt, spark, path)
    src = spark.createDataFrame([(3, 333), (100, 1), (9, -1)],
                                "k long, v long")
    fmt.merge(spark, path, src, "k",
              matched_delete_condition="v < 0")
    after = _ids(fmt, spark, path)
    assert after[3] == before[3]                 # update keeps identity
    assert 9 not in after                        # delete clause
    assert after[100] not in set(before.values())  # fresh, never reused
    assert len(set(after.values())) == len(after)
    for k in after:
        if k not in (100,):
            assert after[k] == before[k]


def test_merge_is_file_targeted_untouched_files_keep_identity(
        spark, tracked):
    """Round 12 (VERDICT r11 item 1): MERGE rewrites only the files
    holding matched rows — every other live file keeps its physical
    identity (same relfile) AND its rows' stable ids, with inserts
    appended from fresh ranges."""
    fmt, path = tracked
    before = _ids(fmt, spark, path)
    live = fmt._snapshot(path).live
    files_by_entry = {e["dir"]: set(e.get("files") or []) for e in live}
    all_before = set().union(*files_by_entry.values())
    # k=2 lives in the first append (k < 5); k=42 is a fresh insert
    src = spark.createDataFrame([(2, 999, "U"), (42, 4242, "U")],
                                "k long, v long, op string")
    got = fmt.merge(spark, path, src, "k",
                    matched_delete_condition="op = 'D'",
                    insert_condition="op <> 'D'")
    assert got == {"updated": 1, "deleted": 0, "inserted": 1}
    cs = fmt._commits(path)
    assert cs[-1]["action"] == "rewrite_files"
    removed = set(cs[-1]["removed_files"])
    # targeting: strictly fewer files rewrite than exist, and every
    # untouched file stays live under its exact relfile name
    assert removed and removed < all_before
    untouched = all_before - removed
    retired = set(fmt._snapshot(path).removed_files)
    assert untouched and not (untouched & retired)  # identity kept
    after = _ids(fmt, spark, path)
    assert after[2] == before[2]                  # update keeps identity
    assert after[42] not in set(before.values())  # fresh range
    for k in before:
        assert after[k] == before[k]              # nothing else moved
    # a no-op merge (no matches, no inserts) publishes NOTHING
    head = fmt._commits(path)[-1]["version"]
    noop = spark.createDataFrame([(777, 0, "D")],
                                 "k long, v long, op string")
    assert fmt.merge(spark, path, noop, "k",
                     matched_delete_condition="op = 'D'",
                     insert_condition="op <> 'D'") == {
        "updated": 0, "deleted": 0, "inserted": 0}
    assert fmt._commits(path)[-1]["version"] == head


def test_merge_prune_literal_degrades_never_lies(spark, tmp_path):
    """Merge keys whose values can't render as exact SQL literals
    (quotes, commas, parens) drop out of the prune string — the merge
    stays correct through the full-candidate scan."""
    path = str(tmp_path / "weird")
    fmt = _fmt()
    rows = [("it's", 1), ("a,b", 2), ("c(d)", 3), ("plain", 4)]
    fmt.append(spark.createDataFrame(rows, "k string, v long"), path)
    src = spark.createDataFrame(
        [("it's", 100, "U"), ("a,b", 0, "D"), ("new k", 5, "U")],
        "k string, v long, op string")
    got = fmt.merge(spark, path, src, "k",
                    matched_delete_condition="op = 'D'",
                    insert_condition="op <> 'D'")
    assert got == {"updated": 1, "deleted": 1, "inserted": 1}
    d = {r.k: r.v for r in fmt.read(spark, path).collect()}
    assert d == {"it's": 100, "c(d)": 3, "plain": 4, "new k": 5}


def test_pre_enable_rows_read_null_then_compact_assigns(spark,
                                                        tmp_path):
    path = str(tmp_path / "late")
    fmt = _fmt()
    df = spark.range(4).select(F.col("id").alias("k"))
    fmt.append(df, path)                      # before the property
    fmt.set_properties(spark, path, row_tracking=True)
    fmt.append(spark.range(4, 6).select(F.col("id").alias("k")), path)
    got = {r.k: r._row_id for r in
           fmt.read(spark, path, with_row_ids=True).collect()}
    assert all(got[k] is None for k in range(4))
    assert sorted(got[k] for k in (4, 5)) == [0, 1]
    fmt.compact(spark, path)                  # "compact once to assign"
    got2 = {r.k: r._row_id for r in
            fmt.read(spark, path, with_row_ids=True).collect()}
    assert None not in got2.values()
    assert got2[4] == 0 and got2[5] == 1      # tracked ids survived
    assert len(set(got2.values())) == len(got2)


def test_writers_never_supply_id_columns(spark, tracked):
    fmt, path = tracked
    bad = spark.range(1).select(F.col("id").alias("k"),
                                F.col("id").alias("v"),
                                F.col("id").alias("_row_id"))
    with pytest.raises(ValueError, match="engine-assigned"):
        fmt.append(bad, path)
    with pytest.raises(ValueError, match="engine-assigned"):
        fmt.overwrite_table(bad.withColumnRenamed("_row_id", "__row_id"),
                            path)


def test_time_travel_serves_historical_ids(spark, tracked):
    fmt, path = tracked
    before = _ids(fmt, spark, path)
    v = fmt._commits(path)[-1]["version"]
    fmt.delete_where(spark, path, "k = 2")
    got = {r.k: r._row_id for r in
           fmt.read(spark, path, as_of_version=v,
                    with_row_ids=True).collect()}
    assert got == before


def test_ids_survive_checkpoint_fold_and_clone(spark, tracked,
                                               tmp_path):
    fmt, path = tracked
    before = _ids(fmt, spark, path)
    fmt.checkpoint(path)
    fmt.append(spark.createDataFrame([(50, 50)], "k long, v long"),
               path)
    fresh = _fmt()
    got = _ids(fresh, spark, path)
    assert {k: got[k] for k in before} == before
    assert got[50] not in set(before.values())
    dst = str(tmp_path / "cl")
    fmt.clone(path, dst)
    assert _ids(fmt, spark, dst) == got
    # the clone allocates ABOVE the seed's watermark, never overlapping
    fmt.append(spark.createDataFrame([(60, 60)], "k long, v long"), dst)
    cl = _ids(fmt, spark, dst)
    assert cl[60] not in set(got.values())


def test_concurrent_appends_reserve_disjoint_ranges(spark, tmp_path):
    """The allocation rides the publish loop: two racing appends must
    land disjoint id ranges (the loser re-reads the winner's watermark
    on its version-race retry)."""
    import multiprocessing as mp

    path = str(tmp_path / "race")
    fmt = _fmt()
    fmt.append(spark.range(0).select(F.col("id").alias("k")), path)
    fmt.set_properties(spark, path, row_tracking=True)

    def writer(lo):
        import pyarrow as pa
        import pyarrow.parquet as pq
        import os
        from datalake_ingestion_system_spark.sinks import TxnLogFormat
        f = TxnLogFormat(checkpoint_interval=None)
        rel = os.path.join("_txn_data", f"race{lo}")
        os.makedirs(os.path.join(path, rel))
        pq.write_table(pa.table({"k": pa.array(
            list(range(lo, lo + 5)), pa.int64())}),
            os.path.join(path, rel, "part-0.parquet"))
        f._commit(path, {
            "action": "append", "dir": rel, "_row_track": True,
            "schema": ('{"type":"struct","fields":[{"name":"k","type":'
                       '"long","nullable":true,"metadata":{}}]}')})

    ps = [mp.Process(target=writer, args=(lo,)) for lo in (100, 200)]
    for p in ps:
        p.start()
    for p in ps:
        p.join()
        assert p.exitcode == 0
    ids = {r.k: r._row_id
           for r in fmt.read(spark, path, with_row_ids=True).collect()}
    assert len(ids) == 10
    assert len(set(ids.values())) == 10, "ranges must be disjoint"
    assert sorted(ids.values()) == list(range(10))


def test_model_random_op_sequences_keep_ids_stable_and_unique(
        spark, tmp_path):
    """The id-stability invariant on the model check (VERDICT r10 item
    6): under random op sequences, (a) a surviving logical row's id
    NEVER changes once assigned, (b) ids are always unique, (c) a new
    row never reuses any id ever issued — even one whose row was
    deleted."""
    rng = random.Random(20260815)
    fmt = _fmt()
    for example in range(3):
        path = str(tmp_path / f"m{example}")
        fmt.append(spark.createDataFrame([], "k long, v long"), path)
        fmt.set_properties(spark, path, row_tracking=True)
        next_k = 0
        model: dict = {}          # k -> id (None until observed)
        ever_issued: set = set()
        for _ in range(rng.randint(4, 7)):
            op = rng.choice(["append", "update", "delete", "compact",
                             "merge", "merge_cond", "merge_nmbs"])
            if op == "append":
                rows = [(next_k + i, next_k + i)
                        for i in range(rng.randint(1, 3))]
                next_k += len(rows)
                fmt.append(spark.createDataFrame(rows, "k long, v long"),
                           path)
                for k, _v in rows:
                    model[k] = None
            elif op == "update" and model:
                k = rng.choice(sorted(model))
                fmt.update_where(spark, path, f"k = {k}",
                                 {"v": str(rng.randint(0, 99))})
            elif op == "delete" and model:
                k = rng.choice(sorted(model))
                fmt.delete_where_dv(spark, path, f"k = {k}")
                del model[k]
            elif op == "compact" and model:
                fmt.compact(spark, path)
            elif op == "merge" and model:
                k_upd = rng.choice(sorted(model))
                fmt.merge(spark, path, spark.createDataFrame(
                    [(k_upd, -5), (next_k, next_k)], "k long, v long"),
                    "k")
                model[next_k] = None
                next_k += 1
            elif op == "merge_cond" and model:
                # CONDITIONAL update (round 12): the failing row's id
                # must survive untouched, the passing row's unchanged
                ks = sorted(model)
                k_go = rng.choice(ks)
                k_skip = rng.choice(ks)
                src = spark.createDataFrame(
                    [(k_go, -7, True), (k_skip, -8, k_skip == k_go)],
                    "k long, v long, apply boolean")
                fmt.merge(spark, path, src.dropDuplicates(["k"]), "k",
                          matched_update_condition="apply")
            elif op == "merge_nmbs" and model:
                # NOT MATCHED BY SOURCE delete (round 12): survivors'
                # ids stable, victims' ids never reused
                keep = set(rng.sample(sorted(model),
                                      max(1, len(model) // 2)))
                src = spark.createDataFrame(
                    [(k, 0) for k in sorted(keep)] or [(-1, 0)],
                    "k long, v long")
                fmt.merge(spark, path, src, "k",
                          matched_update_condition="false",
                          insert_condition="false",
                          not_matched_by_source_delete_condition="true")
                model = {k: v for k, v in model.items() if k in keep}
            got = {r.k: r._row_id for r in fmt.read(
                spark, path, with_row_ids=True).collect()}
            assert set(got) == set(model), f"example {example}"
            vals = [v for v in got.values() if v is not None]
            assert len(set(vals)) == len(vals)
            for k, known in model.items():
                if known is None:
                    if got[k] is not None:
                        assert got[k] not in ever_issued
                        model[k] = got[k]
                        ever_issued.add(got[k])
                else:
                    assert got[k] == known, \
                        f"id of row {k} changed (example {example})"


def test_change_feed_carries_row_ids(spark, tracked):
    """CDF + rowIds (the lineage pay-off): inserts carry the ids the
    snapshot serves, a delete names the deleted row's identity, and an
    update's pre/post images share the SAME id — joinable without
    trusting business keys."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource)
    fmt, path = tracked
    spark.dataSource.register(TxnLogDataSource)
    snap = _ids(fmt, spark, path)
    fmt.delete_where_dv(spark, path, "k = 2")
    fmt.update_where_dv(spark, path, "k = 4", {"v": "444"})
    cdf = (spark.read.format("txnlog")
           .option("readChangeFeed", "true").option("rowIds", "true")
           .option("startingVersion", 0).load(path))
    rows = [(r._change_type, r.k, r._row_id) for r in cdf.collect()]
    ins = {k: rid for t, k, rid in rows if t == "insert"}
    assert ins == snap
    assert [(k, rid) for t, k, rid in rows if t == "delete"] \
        == [(2, snap[2])]
    assert [(k, rid) for t, k, rid in rows
            if t == "update_preimage"] == [(4, snap[4])]
    assert [(k, rid) for t, k, rid in rows
            if t == "update_postimage"] == [(4, snap[4])]
    # without the option the column never appears
    plain = (spark.read.format("txnlog")
             .option("readChangeFeed", "true")
             .option("startingVersion", 0).load(path))
    assert "_row_id" not in plain.columns
    # and it is CDF-only by contract
    with pytest.raises(Exception, match="readChangeFeed"):
        (spark.read.format("txnlog").option("rowIds", "true")
         .option("pushdown", "false").load(path).collect())


def test_streaming_change_feed_row_ids_and_sidecar_ids(spark,
                                                       tracked,
                                                       tmp_path):
    """The STREAM feed carries the same ids — and since round 12 a
    row-tracked SIDECAR change row (change_data_feed=True targeted
    delete/update) MATERIALIZES its row id, so even a business-key-
    rewriting update's pre/post images stay joinable."""
    from datalake_ingestion_system_spark.sources.txnlog_stream import (
        TxnLogDataSource)
    fmt, path = tracked
    spark.dataSource.register(TxnLogDataSource)
    snap = _ids(fmt, spark, path)
    fmt.set_properties(spark, path, change_data_feed=True)
    fmt.delete_where(spark, path, "k = 9")      # sidecar-recorded
    # a KEY-REWRITING update: pre (k=3) and post (k=303) share the id
    fmt.update_where(spark, path, "k = 3", {"k": "303"})
    q = (spark.readStream.format("txnlog")
         .option("readChangeFeed", "true").option("rowIds", "true")
         .load(path)
         .writeStream.format("memory").queryName("rid_feed")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = [(r._change_type, r.k, r._row_id)
            for r in spark.sql("SELECT * FROM rid_feed").collect()]
    ins = {k: rid for t, k, rid in rows if t == "insert"}
    assert ins == snap
    side = [(k, rid) for t, k, rid in rows if t == "delete"]
    assert side == [(9, snap[9])], "sidecar delete carries its id"
    assert [(k, rid) for t, k, rid in rows
            if t == "update_preimage"] == [(3, snap[3])]
    assert [(k, rid) for t, k, rid in rows
            if t == "update_postimage"] == [(303, snap[3])]
    # the id never leaks into the snapshot's data columns
    assert fmt.read(spark, path).columns == ["k", "v"]


def test_row_ids_compose_with_hidden_partitioning(spark, tmp_path):
    """Both round-11 write-path features together: a bucket-transformed
    row-tracked table assigns per-hive-file bases, survives compaction,
    and serves transform-pruned reads with ids intact."""
    path = str(tmp_path / "both")
    fmt = _fmt()
    df = spark.range(20).select(F.col("id").alias("k"),
                                (F.col("id") * 3).alias("v"))
    fmt.append(df.limit(0), path)
    fmt.set_properties(spark, path, row_tracking=True,
                       partition_transform={"source": "k",
                                            "kind": "bucket",
                                            "param": 4})
    fmt.append(df, path)
    ids = _ids(fmt, spark, path)
    assert sorted(ids.values()) == list(range(20))
    pruned = fmt.read(spark, path, where="k = 7", with_row_ids=True)
    got = pruned.collect()
    assert len(got) == 1 and got[0]._row_id == ids[7]
    fmt.compact(spark, path)
    assert _ids(fmt, spark, path) == ids
