"""Named query registry — the engine's public query surface.

Each submodule exposes ``QUERIES: dict[str, (spark, sf_dir) -> DataFrame]``
and ``ORACLE_SQL: dict[str, str]`` (ANSI/DuckDB SQL over the same parquet
views).  Keys absent from ``ORACLE_SQL`` are non-SQL-expressible operators
(approximate / hash-dependent / streaming-stateful) checked rows-only.
"""

from __future__ import annotations

import glob
import json
import os

from . import functional, llmops, relational, streaming_q, tpch


# Merge order controls which queries front the dict (CI samples the first-50
# prefix for its hash-vs-oracle gate).  Rotation discipline: a query rotates
# to the BACK once the driver has recorded evidence for it — a green
# hash_match row, or (for rows-only-by-design entries) any sampled row — so
# the prefix spends its slots on entries that still lack driver evidence
# (new queries, fixed failures, rows-only entries that just gained an
# oracle).  The rotation set is computed from the CORRECTNESS_r*.json
# records at import time, so it maintains itself round over round; every
# rotated query remains registered and locally oracle-verified
# (tools/verify_local.py runs the full registry, not a sample).
_MODULE_ORDER = (llmops, streaming_q, functional, relational, tpch)

# Queries whose implementation or oracle changed AFTER their last green
# driver row belong back in the sampled prefix until re-verified.
_FORCE_FRONT: tuple[str, ...] = (
    # Round 17 (OPTIMIZATION round 2): all 50 round-16 window entries
    # hold green rows in CORRECTNESS_r16 (50/50) and are RELEASED.
    # Fronted now: the transitive closure of this round's operator
    # edits — (a) SINGLE-PASS copy-on-write (merge / delete_where /
    # update_where fuse the probe and rewrite scans over a cached
    # candidate read when the candidate set is small; NMBS widening
    # falls back): every q_merge_*, every DML/CDF/mirror consumer,
    # (b) deterministic merge marker tags + matview temp-view names
    # (plan/codegen-cache stability), (c) µs time-travel derivation
    # through datetime.fromtimestamp on both sides (ADVICE r16),
    # (d) q_pagerank_bipartite body (pre-partitioned+pre-sorted static
    # sides, scalar node count).  All entries re-verified green at ALL
    # THREE SFs this session; remaining prefix slots fill with
    # rotated-green entries.  q_refs_sql joins them with the other
    # tables.sql consumers once the router parses SELECT / UPDATE /
    # DELETE / MERGE with Spark's own parser.
    "q_pagerank_bipartite", "q_refs_sql",
    "q_merge_upsert", "q_merge_targeted_read", "q_merge_set_columns",
    "q_merge_identity_insert", "q_merge_full_sync",
    "q_merge_schema_evolution", "q_merge_insert_values",
    "q_dml_subquery", "q_matview_incremental", "q_convert_parquet",
    "q_convert_read", "q_sql_dml_roundtrip", "q_time_travel_sql",
    "q_alter_ctas_sql", "q_create_table_sql", "q_table_changes_sql",
    "q_catalog_dv_read", "q_delete_vector_read", "q_dv_compact_read",
    "q_targeted_cow_read", "q_transform_rewrite_read",
    "q_row_tracking_read", "q_small_file_compact_read",
    "q_file_manifest", "q_history_manifest_join",
    "q_protocol_gated_read", "q_clone_read", "q_wap_publish_read",
    "q_cdf_sidecar_changes", "q_cdf_row_ids", "q_cdf_rowid_mirror",
    "q_cdf_replica_mirror", "q_change_data_feed")


def _evidence():
    """(green, sampled) query-name sets from the driver's CORRECTNESS logs."""
    root = os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))))
    green, sampled = set(), set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            sampled.add(name)
            if isinstance(row, dict) and row.get("hash_match"):
                green.add(name)
    return green, sampled


def _rotate_to_back():
    green, sampled = _evidence()
    oracle_keys = set()
    for mod in _MODULE_ORDER:
        oracle_keys.update(getattr(mod, "ORACLE_SQL"))
    rotated = set(green) | {n for n in sampled if n not in oracle_keys}
    return rotated - set(_FORCE_FRONT)


def _merge(attr):
    merged = {}
    for mod in _MODULE_ORDER:
        merged.update(getattr(mod, attr))
    rotated = _rotate_to_back()
    for key in list(merged):
        if key in rotated:
            merged[key] = merged.pop(key)
    return merged


def all_queries():
    return _merge("QUERIES")


def all_oracle_sql():
    return _merge("ORACLE_SQL")
