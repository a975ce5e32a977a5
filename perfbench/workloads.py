"""The benchmark's two closed-loop workloads, lake_query and lake_write.

Each workload builds its fixtures from the seed (``build``), then hands out
ops one at a time (``make_op``) along a fixed schedule of whole rounds; the
seed picks each op's rows, keys and versions.  An op is a
call into the package's public functions plus a check of its result against
a Python model or a DuckDB oracle computed in set-up.  Ops that mutate the
lake update the model as they are made, so the model always describes the
lake after the op.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen


@dataclass
class Op:
    name: str
    lazy: bool                       # returns a DataFrame that is collected
    call: Callable[[], Any]
    check: Callable[[Any], bool]


def _cents(col: str = "o_totalprice") -> str:
    return f"sum(cast(round({col} * 100) as bigint))"


def _rows_digest(df_rows, cols) -> str:
    from tools.verify_local import result_digest
    return result_digest(cols, [tuple(r) for r in df_rows])


class Workload:
    """Common helpers; subclasses define ``OP_TYPES`` (name, returns a lazy
    DataFrame), ``ROUNDS_PER_S``, ``generate``, ``build``, ``schedule``,
    ``make_op`` and ``final_checks``.

    ``generate(inputs, seed, rounds)`` writes the benchmark's own seeded
    inputs and expected results under ``inputs``, for a run of ``rounds``
    timed rounds; ``build(root)`` then makes the lake fixtures under
    ``root`` from them through the package's functions (the part of set-up
    that ``setup_s`` times); ``schedule(seed, rounds)`` is the timed op
    sequence, whole rounds so every seed runs the same mix."""

    name = ""
    OP_TYPES: list[tuple[str, bool]] = []
    ROUNDS_PER_S: float
    #: fewest timed rounds that run every op type
    MIN_ROUNDS = 1
    WARMUP_ROUNDS = 1

    def __init__(self, spark, scale: float):
        self.spark = spark
        self.scale = scale
        self.root = ""
        self.corrupt = False
        self.made: dict[str, int] = {}

    def nth(self, name: str) -> int:
        """How many ops of type ``name`` were made before this one; varies
        an op's shape round by round identically for every seed."""
        n = self.made.get(name, 0)
        self.made[name] = n + 1
        return n

    def n_rounds(self, seconds: float) -> int:
        """Timed rounds for a ``seconds`` budget: a run is fixed by its op
        count, so the lake it ends on does not depend on the host's speed;
        ``ROUNDS_PER_S`` is sized so a round takes about 1/ROUNDS_PER_S
        seconds on a 4-core host."""
        return max(self.MIN_ROUNDS, int(round(seconds * self.ROUNDS_PER_S)))

    def lake_roots(self) -> list[str]:
        return [os.path.join(self.root, "lake")]

    def warmup(self) -> list[str]:
        """``WARMUP_ROUNDS`` untimed ops of every type, in declaration
        order."""
        return [n for n, _ in self.OP_TYPES] * self.WARMUP_ROUNDS

    def expect(self, value):
        """Expected value as the checks see it; ``corrupt`` skews it so the
        self-test can prove a wrong result is counted as failed."""
        if self.corrupt and isinstance(value, (int, float)):
            return value + 1
        return value


# ---------------------------------------------------------------------------
# lake_query: the read path that replaces Athena; writes nothing
# ---------------------------------------------------------------------------

class LakeQuery(Workload):
    name = "lake_query"
    QUERIES = ("q01_pricing_summary", "q05_region_supplier_volume",
               "q_sessionization")
    OP_TYPES = ([(f"queries.{q}", True) for q in QUERIES]
                + [("sinks.read_point", True), ("sinks.read_range", True),
                   ("sinks.read_as_of", True), ("sinks.read_cold", True),
                   ("tables.sql_select", True)])
    ROUNDS_PER_S = 0.3
    #: untimed rounds before timing: the queries keep getting faster over
    #: their first three or four calls while the JIT compiles them
    WARMUP_ROUNDS = 3
    #: More than the sinks module's 64-path parsed-log LRU, so a
    #: round-robin over them misses it on every read.
    N_COLD = 72
    DEEP_CHUNKS = 8
    DEEP_META_COMMITS = 200
    RANGE_WIDTH = 200

    def generate(self, inputs: str, seed: int, rounds: int) -> None:
        """The star schema, its DuckDB oracle digests and the orders'
        keys and prices."""
        from datalake_ingestion_system_spark import queries
        import duckdb

        self.seed = seed
        self.sf_dir = os.path.join(inputs, "sf")
        self.n_orders = datagen.star_schema(self.sf_dir, seed,
                                            0.05 * self.scale)["orders"]
        self.queries = queries.all_queries()
        oracle = queries.all_oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("region nation customer supplier orders lineitem "
                      "events").split():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.sf_dir}/{t}.parquet'")
            self.oracle = {}
            for q in self.QUERIES:
                tbl = con.execute(oracle[q]).fetch_arrow_table()
                cols = list(tbl.column_names)
                self.oracle[q] = _rows_digest(
                    [tuple(r[c] for c in cols) for r in tbl.to_pylist()],
                    cols)
        finally:
            con.close()
        orders = pq.read_table(f"{self.sf_dir}/orders.parquet")
        self.keys = orders.column("o_orderkey").to_numpy()
        self.cents = np.round(
            orders.column("o_totalprice").to_numpy() * 100).astype(np.int64)

    def build(self, root: str) -> None:
        from datalake_ingestion_system_spark import tables
        from datalake_ingestion_system_spark.sinks import TxnLogFormat

        spark, self.root, n = self.spark, root, self.n_orders
        # deep-log table: orders in DEEP_CHUNKS key-range appends spread
        # over DEEP_META_COMMITS metadata commits (checkpoint every 10)
        fmt = TxnLogFormat()
        self.deep = os.path.join(root, "lake", "orders_log")
        bounds = np.linspace(0, n, self.DEEP_CHUNKS + 1).astype(int)
        src = spark.read.parquet(f"{self.sf_dir}/orders.parquet")
        every = self.DEEP_META_COMMITS // self.DEEP_CHUNKS
        self.chunk_version = []       # version at which chunk i is live
        version = -1
        for i in range(self.DEEP_CHUNKS):
            fmt.append(src.filter(f"o_orderkey >= {bounds[i]} AND "
                                  f"o_orderkey < {bounds[i + 1]}"),
                       self.deep)
            version += 1
            self.chunk_version.append(version)
            for j in range(every):
                version = fmt.set_properties(
                    None, self.deep, user_properties={"batch": f"{i}.{j}"})
        self.head = version
        self.chunk_bounds = bounds
        tables.create_table(spark, "bench_orders_log", self.deep,
                            replace=True)

        # cold tables: clones of a small table, one log each
        base = os.path.join(root, "lake", "cold_base")
        fmt.append(src.filter(f"o_orderkey < {min(n, 64)}"), base)
        self.cold = [os.path.join(root, "lake", f"cold_{i:03d}")
                     for i in range(self.N_COLD)]
        for p in self.cold:
            fmt.clone(base, p)
        self.cold_keys = min(n, 64)
        self.fmt = fmt
        self.rng = np.random.default_rng([self.seed, 11])
        self._cold_next = 0

    def schedule(self, seed: int, rounds: int) -> list[str]:
        """Each round runs every op type once, in declaration order; the
        seed picks each op's keys and versions."""
        return [t for t, _ in self.OP_TYPES] * rounds

    def _version(self, name: str) -> int:
        """A version whose live chunk count cycles with the op's count (the
        scan size is the same for every seed), at a seeded offset inside
        that chunk's run of metadata commits."""
        i = (3 * self.nth(name)) % self.DEEP_CHUNKS
        lo = self.chunk_version[i]
        hi = (self.chunk_version[i + 1] if i + 1 < self.DEEP_CHUNKS
              else self.head + 1)
        return int(self.rng.integers(lo, hi))

    def _live_at(self, version: int) -> np.ndarray:
        n_live = sum(1 for v in self.chunk_version if v <= version)
        return self.keys < self.chunk_bounds[n_live]

    def make_op(self, name: str) -> Op:
        spark, fmt, rng = self.spark, self.fmt, self.rng
        if name.startswith("queries."):
            q = name.split(".", 1)[1]
            want = self.oracle[q]
            if self.corrupt:
                want = "corrupted"

            def call():
                return self.queries[q](spark, self.sf_dir)

            def check(rows):
                cols = list(rows[0].__fields__) if rows else []
                return _rows_digest(rows, cols) == want
            return Op(name, True, call, check)

        if name == "sinks.read_point":
            k = int(rng.integers(0, len(self.keys)))
            want = (int(self.keys[k]), int(self.expect(int(self.cents[k]))))
            return Op(name, True,
                      lambda: fmt.read(spark, self.deep,
                                       where=f"o_orderkey = {want[0]}"),
                      lambda rows: [(r.o_orderkey,
                                     round(r.o_totalprice * 100))
                                    for r in rows] == [want])
        if name == "sinks.read_range":
            a = int(rng.integers(0, max(1, len(self.keys) - self.RANGE_WIDTH)))
            b = a + self.RANGE_WIDTH
            sel = (self.keys >= a) & (self.keys < b)
            want = (int(self.expect(int(sel.sum()))),
                    int(self.cents[sel].sum()))
            return Op(name, True,
                      lambda: fmt.read(spark, self.deep,
                                       where=f"o_orderkey >= {a} AND "
                                             f"o_orderkey < {b}"),
                      lambda rows: (len(rows), sum(
                          round(r.o_totalprice * 100) for r in rows)) == want)
        if name == "sinks.read_as_of":
            v = self._version(name)
            sel = self._live_at(v)
            want = (int(self.expect(int(sel.sum()))),
                    int(self.cents[sel].sum()))
            return Op(name, True,
                      lambda: fmt.read(spark, self.deep, as_of_version=v)
                      .selectExpr("count(*) AS n", f"{_cents()} AS c"),
                      lambda rows: (rows[0].n, rows[0].c or 0) == want)
        if name == "sinks.read_cold":
            p = self.cold[self._cold_next % self.N_COLD]
            self._cold_next += 1
            k = int(rng.integers(0, self.cold_keys))
            want = (k, int(self.expect(int(self.cents[k]))))
            return Op(name, True,
                      lambda: fmt.read(spark, p, where=f"o_orderkey = {k}"),
                      lambda rows: [(r.o_orderkey,
                                     round(r.o_totalprice * 100))
                                    for r in rows] == [want])
        if name == "tables.sql_select":
            from datalake_ingestion_system_spark import tables
            v = self._version(name)
            a = int(rng.integers(0, len(self.keys)))
            b = a + 5 * self.RANGE_WIDTH
            sel = self._live_at(v) & (self.keys >= a) & (self.keys < b)
            want = (int(self.expect(int(sel.sum()))),
                    int(self.cents[sel].sum()))
            stmt = (f"SELECT count(*) AS n, {_cents()} AS c "
                    f"FROM bench_orders_log VERSION AS OF {v} "
                    f"WHERE o_orderkey >= {a} AND o_orderkey < {b}")
            return Op(name, True, lambda: tables.sql(spark, stmt),
                      lambda rows: (rows[0].n, rows[0].c or 0) == want)
        raise KeyError(name)

    def final_checks(self) -> list[tuple[str, bool]]:
        return []


# ---------------------------------------------------------------------------
# ingest: landing-zone CSV.gz -> partitioned parquet, plain TableFormat
# ---------------------------------------------------------------------------

class IngestPipeline:
    """The paper's ingestion pipeline as lake_write ops: each pass lands
    ``FILES_PER_PASS`` seeded CSV.gz files and runs ``ingest()`` over the
    growing landing zone and state table (default plain-parquet
    ``TableFormat``, no TxnLog)."""

    OP_TYPES = [("plans.ingest.pass", False), ("plans.ingest.readback", True),
                ("plans.maintenance.replicate", False)]
    FILES_PER_PASS = 16
    ROWS_PER_FILE = 500

    def __init__(self, owner: Workload):
        self.owner = owner
        self.spark = owner.spark

    def generate(self, inputs: str, seed: int, n_passes: int) -> None:
        """The registry files and every pass's CSV.gz batch, staged under
        ``inputs`` until the pass lands it."""
        self.conf_dir = os.path.join(inputs, "conf")
        os.makedirs(self.conf_dir, exist_ok=True)
        with open(os.path.join(self.conf_dir, "mapping.csv"), "w") as f:
            f.write(datagen.REGISTRY_CSV)
        with open(os.path.join(self.conf_dir, "groups.csv"), "w") as f:
            f.write(datagen.GROUP_MAPPING_CSV)
        self.staging = os.path.join(inputs, "landing")
        rng = np.random.default_rng([seed, 31])
        rows = max(int(self.ROWS_PER_FILE * self.owner.scale), 10)
        self.plans = [
            datagen.landing_batch(os.path.join(self.staging, f"b{b:03d}"),
                                  rng, b, self.FILES_PER_PASS, rows)
            for b in range(n_passes)]

    def build(self, lake: str, landing: str) -> None:
        """Zones under ``lake``; the landing zone, which only the benchmark
        writes, outside it."""
        from datalake_ingestion_system_spark.sources import registry

        spark = self.spark
        self.landing = landing
        self.storing = os.path.join(lake, "storing")
        self.state = os.path.join(lake, "state")
        self.quarantine = os.path.join(lake, "quarantine")
        self.user = os.path.join(lake, "user")
        self.conf = registry.load_registry(
            spark, os.path.join(self.conf_dir, "mapping.csv"))
        self.groups = spark.read.option("header", True).csv(
            os.path.join(self.conf_dir, "groups.csv"))
        self.batch = 0
        self.quarantined = {"unmatch": 0, "outofconfig": 0, "irregular": 0}
        self.rows_by_day: dict[str, int] = {}
        self.replicated_rows = None

    def _land(self) -> None:
        """Move the next staged batch into the landing zone."""
        src = os.path.join(self.staging, f"b{self.batch:03d}")
        os.makedirs(self.landing, exist_ok=True)
        for f in sorted(os.listdir(src)):
            os.rename(os.path.join(src, f), os.path.join(self.landing, f))
        self.batch += 1

    def make_op(self, name: str) -> Op:
        from datalake_ingestion_system_spark.plans import ingest, maintenance
        from datalake_ingestion_system_spark.sinks import TableFormat
        spark, expect = self.spark, self.owner.expect
        table_dir = os.path.join(self.storing, "daily", "LINEITEM_FEED")
        if name == "plans.ingest.pass":
            if self.batch >= len(self.plans):
                raise RuntimeError("more ingest passes than generated batches")
            plan = self.plans[self.batch]
            self._land()
            for k in self.quarantined:
                self.quarantined[k] += plan[k]
            self.rows_by_day[plan["day"]] = plan["rows"]
            # quarantined files stay pending by design, so their buckets
            # count every quarantined file landed so far
            want = (expect(plan["processed"]), plan["empty"],
                    self.quarantined["unmatch"],
                    self.quarantined["outofconfig"],
                    self.quarantined["irregular"], "SUCCEEDED")
            return Op(name, False,
                      lambda: ingest.ingest(spark, self.landing, self.storing,
                                            self.conf, self.state,
                                            self.quarantine),
                      lambda rep: (rep.processed, rep.empty, rep.unmatch,
                                   rep.outofconfig, rep.irregular,
                                   rep.status) == want)
        if name == "plans.ingest.readback":
            day = self.plans[self.batch - 1]["day"]
            want = expect(self.rows_by_day[day])
            return Op(name, True,
                      lambda: TableFormat().read(spark, table_dir)
                      .filter(f"TRANSFERRED_DATE = DATE'{day}'")
                      .selectExpr("count(*) AS n"),
                      lambda rows: rows[0].n == want)
        if name == "plans.maintenance.replicate":
            self.replicated_rows = sum(self.rows_by_day.values())
            return Op(name, False,
                      lambda: maintenance.replicate_to_user_zone(
                          spark, self.storing, self.groups, self.user),
                      lambda got: len(got) == 1)
        raise KeyError(name)

    def final_checks(self) -> list[tuple[str, bool]]:
        from datalake_ingestion_system_spark.sinks import TableFormat
        fmt = TableFormat()
        out = []
        n = fmt.read(self.spark, os.path.join(
            self.storing, "daily", "LINEITEM_FEED")).count()
        out.append(("storing-zone rows", n == sum(self.rows_by_day.values())))
        if self.replicated_rows is not None:
            u = fmt.read(self.spark, os.path.join(
                self.user, "user-bucket", "analytics", "daily",
                "LINEITEM_FEED")).count()
            out.append(("user-zone rows", u == self.replicated_rows))
        return out


# ---------------------------------------------------------------------------
# lake_write: CDC maintenance on two TxnLog tables, reads beside writes
# ---------------------------------------------------------------------------

ORDERS_DDL = ("o_orderkey long, o_custkey long, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp_ntz, "
              "o_orderpriority string")
_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate", "o_orderpriority"]


class _Model:
    """In-Python image of one TxnLog orders table: key -> row tuple."""

    def __init__(self, table: pa.Table):
        cols = [table.column(c).to_pylist() for c in _COLS]
        self.rows = {r[0]: r for r in zip(*cols)}

    def keys_in(self, lo: int, hi: int) -> list[int]:
        return [k for k in self.rows if lo <= k < hi]

    def checksum(self) -> tuple[int, int, int]:
        return (len(self.rows), sum(self.rows),
                sum(round(r[3] * 100) for r in self.rows.values()))

    def by_status(self) -> dict[str, tuple[int, int]]:
        out: dict[str, list[int]] = {}
        for r in self.rows.values():
            acc = out.setdefault(r[2], [0, 0])
            acc[0] += 1
            acc[1] += round(r[3] * 100)
        return {k: tuple(v) for k, v in out.items()}


class LakeWrite(Workload):
    """CDC maintenance on two TxnLog tables plus the landing-zone ingestion
    pipeline: every writer of the lake, with reads beside the writes."""

    name = "lake_write"
    TXN_CORE = ("sinks.merge_cdf", "sinks.merge_plain", "sinks.delete_where",
                "sinks.update_where", "sinks.append", "sinks.read_after_write")
    OP_TYPES = ([(n, n == "sinks.read_after_write") for n in TXN_CORE]
                + [("matview.refresh", False), ("sinks.compact", False)]
                + IngestPipeline.OP_TYPES)
    ROUNDS_PER_S = 1 / 10
    MIN_ROUNDS = 2
    #: appends (each read back) and ingest readbacks per round
    REPEATS = 3
    N_ROWS = 20_000
    CDC_BATCH = 200

    def generate(self, inputs: str, seed: int, rounds: int) -> None:
        """The base orders rows and the ingest pipeline's staged batches."""
        n = max(int(self.N_ROWS * self.scale), 200)
        self.seed, self.n_base, self.n_cust = seed, n, max(n // 10, 10)
        rng = np.random.default_rng([seed, 21])
        self.base = datagen.orders_table(rng, n, n_cust=self.n_cust)
        os.makedirs(inputs, exist_ok=True)
        self.base_file = os.path.join(inputs, "orders.parquet")
        pq.write_table(self.base, self.base_file)
        passes = (self.warmup() + self.schedule(seed, rounds)).count(
            "plans.ingest.pass")
        self.ingest = IngestPipeline(self)
        self.ingest.generate(os.path.join(inputs, "ingest"), seed, passes)

    def build(self, root: str) -> None:
        from datalake_ingestion_system_spark import matview
        from datalake_ingestion_system_spark.sinks import TxnLogFormat

        spark, self.root = self.spark, root
        df = spark.read.parquet(self.base_file).repartition(4)
        self.paths = {"cdf": os.path.join(root, "lake", "orders_cdf"),
                      "plain": os.path.join(root, "lake", "orders_plain")}
        # The CDF table's writer does not checkpoint: a matview refresh
        # whose window starts below a source checkpoint raises (the change
        # feed treats the checkpointed span as folded away), so an
        # auto-checkpointing writer would break the next refresh.
        self.fmts = {"cdf": TxnLogFormat(checkpoint_interval=None),
                     "plain": TxnLogFormat()}
        # CDF + row tracking: the fused single-pass copy-on-write shape
        cdf = self.fmts["cdf"]
        cdf.append(df.limit(0), self.paths["cdf"])
        cdf.set_properties(spark, self.paths["cdf"], row_tracking=True,
                           change_data_feed=True)
        cdf.append(df, self.paths["cdf"])
        # neither: the two-pass shape
        self.fmts["plain"].append(df, self.paths["plain"])
        self.models = {"cdf": _Model(self.base), "plain": _Model(self.base)}
        self.mv = os.path.join(root, "lake", "orders_by_status")
        matview.create_materialized_aggregate(
            spark, self.paths["cdf"], self.mv, ["o_orderstatus"],
            {"n": "count(*)", "cents": _cents()})
        self.next_key = self.n_base
        self.rng = np.random.default_rng([self.seed, 22])
        self.last_written = ("cdf", 0)
        self.ingest.build(os.path.join(root, "lake", "ingest"),
                          os.path.join(root, "landing"))

    def schedule(self, seed: int, rounds: int) -> list[str]:
        """Each round: the two merges, a delete and an update, then three
        appends each read back; by turns an ingest pass with three
        readbacks (even rounds) or a matview refresh (odd rounds); a
        compaction every fourth round from the first and a replication
        every fourth round from the second, the periodic background work.
        The cheap reads and appends repeat so their medians have more
        than one or two samples.  The order is fixed; the seed picks the
        rows and keys."""
        out: list[str] = []
        for r in range(rounds):
            out += list(self.TXN_CORE[:4])
            out += ["sinks.append", "sinks.read_after_write"] * self.REPEATS
            out += (["plans.ingest.pass"]
                    + ["plans.ingest.readback"] * self.REPEATS
                    if r % 2 == 0 else ["matview.refresh"])
            if r % 4 == 0:
                out.append("sinks.compact")
            if r % 4 == 1:
                out.append("plans.maintenance.replicate")
        return out

    def _new_rows(self, n: int) -> pa.Table:
        t = datagen.orders_table(self.rng, n, self.n_cust,
                                 first_key=self.next_key)
        self.next_key += n
        return t

    def _df(self, table: pa.Table, extra: dict | None = None):
        pdf = table.to_pandas()
        ddl = ORDERS_DDL
        for c, v in (extra or {}).items():
            pdf[c] = v
            ddl += f", {c} string"
        return self.spark.createDataFrame(pdf, ddl)

    def _table(self, name: str) -> str:
        """delete, update and append alternate between the two tables."""
        return ("cdf", "plain")[self.nth(name) % 2]

    def make_op(self, name: str) -> Op:
        spark, rng = self.spark, self.rng
        if name.startswith("plans."):
            return self.ingest.make_op(name)
        if name in ("sinks.merge_cdf", "sinks.merge_plain"):
            which = name.rsplit("_", 1)[1]
            fmt = self.fmts[which]
            model = self.models[which]
            keys = np.array(sorted(model.rows))
            b = self.CDC_BATCH
            picked = rng.choice(keys, size=min(len(keys), b * 7 // 10),
                                replace=False)
            upd, dele = picked[: b // 2], picked[b // 2:]
            fresh = self._new_rows(b - len(picked))
            upd_rows = datagen.orders_table(rng, len(upd), self.n_cust)
            upd_rows = upd_rows.set_column(
                0, "o_orderkey", pa.array(upd.astype(np.int64)))
            del_rows = datagen.orders_table(rng, len(dele), self.n_cust)
            del_rows = del_rows.set_column(
                0, "o_orderkey", pa.array(dele.astype(np.int64)))
            src_tbl = pa.concat_tables([upd_rows, del_rows, fresh])
            ops = ["U"] * len(upd) + ["D"] * len(dele) + ["I"] * len(fresh)
            src = self._df(src_tbl, {"op": ops})
            new = _Model(pa.concat_tables([upd_rows, fresh]))
            for k in dele.tolist():
                del model.rows[k]
            model.rows.update(new.rows)
            self.last_written = (which, int(upd[0]) if len(upd) else
                                 int(fresh.column(0)[0].as_py()))
            want = {"updated": len(upd), "deleted": len(dele),
                    "inserted": self.expect(len(fresh))}
            path = self.paths[which]
            return Op(name, False,
                      lambda: fmt.merge(spark, path, src, "o_orderkey",
                                        matched_delete_condition="op = 'D'",
                                        insert_condition="op <> 'D'"),
                      lambda got: {k: got[k] for k in want} == want)
        if name in ("sinks.delete_where", "sinks.update_where"):
            which = self._table(name)
            fmt, model = self.fmts[which], self.models[which]
            # inside the original key range: the rewrite hits base files
            lo = int(rng.integers(0, self.n_base - 20))
            hi = lo + (10 if name == "sinks.delete_where" else 20)
            hit = model.keys_in(lo, hi)
            pred = f"o_orderkey >= {lo} AND o_orderkey < {hi}"
            path = self.paths[which]
            want = self.expect(len(hit))
            if name == "sinks.delete_where":
                for k in hit:
                    del model.rows[k]
                call = lambda: fmt.delete_where(spark, path, pred)  # noqa
            else:
                for k in hit:
                    r = model.rows[k]
                    model.rows[k] = r[:3] + (r[3] + 1.0,) + r[4:]
                self.last_written = (which, lo)
                call = lambda: fmt.update_where(  # noqa: E731
                    spark, path, pred, {"o_totalprice": "o_totalprice + 1.0"})
            return Op(name, False, call, lambda got: got == want)
        if name == "sinks.append":
            which = self._table(name)
            fmt = self.fmts[which]
            t = self._new_rows(100)
            df = self._df(t)
            self.models[which].rows.update(_Model(t).rows)
            self.last_written = (which, int(t.column(0)[50].as_py()))
            path = self.paths[which]
            return Op(name, False, lambda: fmt.append(df, path),
                      lambda got: got is None)
        if name == "sinks.read_after_write":
            which, k = self.last_written
            row = self.models[which].rows.get(k)
            want = [] if row is None else [row]
            if self.corrupt and row is not None:
                want = [row[:3] + (row[3] + 1.0,) + row[4:]]
            path, fmt = self.paths[which], self.fmts[which]
            return Op(name, True,
                      lambda: fmt.read(spark, path,
                                       where=f"o_orderkey = {k}")
                      .select(*_COLS),
                      lambda rows: [tuple(r) for r in rows] == want)
        if name == "matview.refresh":
            from datalake_ingestion_system_spark import matview
            return Op(name, False, lambda: matview.refresh(spark, self.mv),
                      lambda got: isinstance(got.get("refreshed_to"), int))
        if name == "sinks.compact":
            # only the plain table: a compaction commits a full rewrite,
            # which the change feed under the matview refuses to replay
            fmt, path = self.fmts["plain"], self.paths["plain"]
            return Op(name, False, lambda: fmt.compact(spark, path),
                      lambda got: True)
        raise KeyError(name)

    def final_checks(self) -> list[tuple[str, bool]]:
        from datalake_ingestion_system_spark import matview
        from pyspark.sql import functions as F
        out = []
        for which, path in self.paths.items():
            r = (self.fmts[which].read(self.spark, path)
                 .agg(F.count("*").alias("n"), F.sum("o_orderkey").alias("k"),
                      F.expr(_cents()).alias("c")).collect()[0])
            want = self.models[which].checksum()
            out.append((f"final state of {which} table",
                        (r.n, r.k or 0, r.c or 0) == want))
        matview.refresh(self.spark, self.mv)
        got = {r.o_orderstatus: (r.n, r.cents)
               for r in matview.read(self.spark, self.mv).collect()}
        out.append(("final matview aggregate",
                    got == self.models["cdf"].by_status()))
        return out + self.ingest.final_checks()



WORKLOADS = {w.name: w for w in (LakeQuery, LakeWrite)}
