"""The three benchmark workloads and their correctness gates.

Each workload is a closed loop with one client: it sends one statement
or call, waits for its result, and only then sends the next. Its
operations come from a generator seeded by the workload seed; the engine
sees only the generated SQL text and API arguments.

An :class:`Op` has a class (``write``, ``read``, ``meta`` or ``maint``),
a timed ``run`` that returns a fully materialized result, and an untimed
``check`` that compares the result with a DuckDB replay of the same
operations and returns an error message or ``None``.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import random
from typing import Callable, Iterator

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

from spans import PKG

KEY = {"orders": "o_orderkey", "lineitem": "l_orderkey"}

#: Snapshot fingerprints, in SQL both engines evaluate exactly: integer
#: sums only, so no float summation order or rounding rule can differ.
FINGERPRINT = {
    "orders": (
        "SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sk, "
        "CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sp, "
        "count(DISTINCT o_orderstatus) AS ns FROM {t}"
    ),
    "lineitem": (
        "SELECT l_returnflag, count(*) AS n, CAST(sum(l_orderkey) AS BIGINT) AS sk, "
        "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq "
        "FROM {t} GROUP BY l_returnflag"
    ),
}


class Op:
    __slots__ = ("cls", "name", "run", "check", "rows_changed")

    def __init__(
        self,
        cls: str,
        name: str,
        run: Callable[[], object],
        check: Callable[[object], str | None] | None = None,
    ):
        self.cls, self.name, self.run, self.check = cls, name, run, check
        #: rows the op inserted, updated or deleted, per the replay
        self.rows_changed: int | None = None


def _rows(result) -> list[tuple]:
    return sorted(tuple(r) for r in result)


def _mismatch(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got!r}, want {want!r}"


def _duck(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _naive(table: pa.Table) -> pa.Table:
    """Drop time zones from timestamp columns (Spark marks them UTC;
    the replay keeps the source's naive timestamps)."""
    cols = []
    for f, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:
            col = col.cast(pa.timestamp(f.type.unit))
        cols.append(col)
    return pa.table(cols, names=table.column_names)


def tables_differ(con, got: pa.Table, want_sql: str) -> str | None:
    """Multiset comparison of a Spark result with a DuckDB query."""
    con.register("_got", _naive(got))
    try:
        extra = con.execute(f"SELECT count(*) FROM (SELECT * FROM _got EXCEPT ALL ({want_sql}))").fetchone()[0]
        missing = con.execute(f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL SELECT * FROM _got)").fetchone()[0]
    finally:
        con.unregister("_got")
    if extra or missing:
        return f"{extra} unexpected and {missing} missing rows"
    return None


def _fold(changes_df, key: str) -> tuple[int, int]:
    """Net (row count, key sum) of a change feed: inserts minus deletes."""
    sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
    row = changes_df.agg(
        F.sum(sign).alias("n"), F.sum(sign * F.col(key)).alias("sk")
    ).collect()[0]
    return int(row["n"] or 0), int(row["sk"] or 0)


def _n_sk(t: str, fp: list[tuple]) -> tuple[int, int]:
    """(rows, key sum) of a table from its fingerprint rows."""
    n, sk = (1, 2) if t == "lineitem" else (0, 1)
    return sum(r[n] for r in fp), sum(r[sk] for r in fp)


class Workload:
    name = ""
    #: timed cycles per second of ``--seconds``: the op count is fixed by
    #: the budget, not by how fast the engine runs.
    cycles_per_second = 1.0
    seed_tables: tuple[str, ...] = ()

    def __init__(self, spark, sf_dir: str, seed: int, root: str, cycles: int):
        self.spark, self.sf_dir, self.root = spark, sf_dir, root
        self.n_cycles = cycles
        self.rng = random.Random(seed)
        versioning = importlib.import_module(f"{PKG}.versioning")
        self.LakeRepo, self.LakeSQL = versioning.LakeRepo, versioning.LakeSQL
        # module handles, not functions: the traced run wraps module
        # attributes, and a function captured here would bypass that
        self.changes = importlib.import_module(f"{PKG}.versioning.changes")
        self.io = importlib.import_module(f"{PKG}.sources.io")
        self.repo = None
        #: context manager around calls into an engine layer; the traced
        #: run replaces it with ``Tracer.layer``
        self.span = lambda layer, name: contextlib.nullcontext()

    @classmethod
    def cycles_for(cls, seconds: float) -> int:
        return max(1, round(seconds * cls.cycles_per_second))

    def seed_repo(self) -> None:
        """Create the repo and load the seed tables (part of set-up)."""
        self.repo = self.LakeRepo.init(self.root)
        for t in self.seed_tables:
            self.repo.write_table("main", t, self.io.load_table(self.spark, self.sf_dir, t))
        self.seed_commit = self.repo.commit("main", "seed")
        self.lsql = self.LakeSQL(self.spark, self.repo)

    def cycles(self) -> Iterator[Iterator[Op]]:
        """``n_cycles`` cycles of ops. Ops are generated lazily: each
        one is built after the previous op's check updated the replay
        state it depends on."""
        for i in range(self.n_cycles):
            self.n_done = i
            yield self._cycle()

    def _cycle(self) -> Iterator[Op]:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []

    def live_data_files(self) -> list[str]:
        """Parquet files of the main head snapshot, every table."""
        out = []
        for entries in self.repo.head("main").tables.values():
            for e in entries:
                full = os.path.join(self.repo.root, e)
                if os.path.isdir(full):
                    for d, _, files in os.walk(full):
                        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
                elif full.endswith(".parquet"):
                    out.append(full)
        return out


# ---------------------------------------------------------------------------
class DmlChurn(Workload):
    """lakeFS-style write cycles: create a branch, run four seeded
    INSERT…SELECT / UPDATE / DELETE / MERGE statements on it against
    ``orders`` (copy-on-write) and ``lineitem`` (deletion vectors), each
    touching about 1% of rows, with a read after every write and a change
    feed after every second one; then diff ``orders`` against main, merge
    the branch, read the history, drop the branch, and close with
    OPTIMIZE of one table and VACUUM."""

    name = "dml_churn"
    seed_tables = ("orders", "lineitem")
    cycles_per_second = 0.125
    n_orders = 10_000
    retain = 8  # VACUUM RETAIN <n> VERSIONS
    pin_window = 4  # pinned reads pick one of the last n commits
    changes_back = 3  # change feeds start at the third-newest commit
    #: each pair of cycles runs every statement kind once on each table;
    #: the seed picks key ranges and pinned versions, not the op mix
    plan = (
        ("orders", "insert"), ("lineitem", "update"), ("orders", "delete"), ("lineitem", "merge"),
        ("lineitem", "insert"), ("orders", "update"), ("lineitem", "delete"), ("orders", "merge"),
    )

    def seed_repo(self) -> None:
        super().seed_repo()
        self.lsql.sql(
            "ALTER TABLE lineitem SET TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')"
        ).collect()
        self.duck = _duck(self.sf_dir, self.seed_tables)
        self.fp = {t: self._duck_fp(t) for t in self.seed_tables}
        head = self.repo.head("main").version
        #: version → table → fingerprint, for every commit the run made
        self.versions: dict[int, dict[str, list[tuple]]] = {
            v: dict(self.fp) for v in (self.seed_commit.version, head)
        }
        self.next_off = 0
        self.width = self.n_orders // 100

    def _duck_fp(self, t: str) -> list[tuple]:
        return sorted(self.duck.execute(FINGERPRINT[t].format(t=t)).fetchall())

    def _record(self, version: int, table: str | None) -> None:
        if table is not None:
            self.fp[table] = self._duck_fp(table)
        self.versions[version] = dict(self.fp)

    def _range(self, t: str) -> tuple[int, int]:
        key = KEY[t]
        for _ in range(50):
            a = self.rng.randint(1, self.n_orders - self.width)
            b = a + self.width - 1
            if self.duck.execute(f"SELECT count(*) FROM {t} WHERE {key} BETWEEN {a} AND {b}").fetchone()[0]:
                return a, b
        raise RuntimeError(f"no populated key range left in {t}")

    def _offset(self) -> int:
        self.next_off += 1
        return self.next_off * 10_000_000

    def _statement(self, t: str, kind: str) -> tuple[str, list[str]]:
        """(Spark SQL, DuckDB replay statements) for one write."""
        a, b = self._range(t)
        key = KEY[t]
        where = f"{key} BETWEEN {a} AND {b}"
        if kind == "insert":
            off = self._offset()
            if t == "orders":
                sel = (f"SELECT o_orderkey + {off} AS o_orderkey, o_custkey, 'N' AS o_orderstatus, "
                       f"o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE {where}")
            else:
                sel = (f"SELECT l_orderkey + {off} AS l_orderkey, l_partkey, l_suppkey, l_linenumber, "
                       f"l_quantity, l_extendedprice, l_discount, l_tax, 'N' AS l_returnflag, "
                       f"'O' AS l_linestatus, l_shipdate FROM lineitem WHERE {where}")
            sql = f"INSERT INTO {t} {sel}"
            return sql, [sql]
        if kind == "update":
            sets = ("o_totalprice = o_totalprice + 1, o_orderstatus = 'U'" if t == "orders"
                    else "l_quantity = l_quantity + 1, l_linestatus = 'U'")
            sql = f"UPDATE {t} SET {sets} WHERE {where}"
            return sql, [sql]
        if kind == "delete":
            sql = f"DELETE FROM {t} WHERE {where}"
            return sql, [sql]
        # merge: even keys match and update, odd keys land as new rows
        off = self._offset()
        if t == "orders":
            src = (f"SELECT o_orderkey + CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE {off} END AS o_orderkey, "
                   f"o_custkey, 'M' AS o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
                   f"FROM orders WHERE {where}")
            on = "t.o_orderkey = s.o_orderkey"
            sets = "o_totalprice = s.o_totalprice + 2, o_orderstatus = 'M'"
            dsets = "o_totalprice = _src.o_totalprice + 2, o_orderstatus = 'M'"
            don = "orders.o_orderkey = _src.o_orderkey"
            anti = "o.o_orderkey = _src.o_orderkey"
        else:
            src = (f"SELECT l_orderkey + CASE WHEN l_orderkey % 2 = 0 THEN 0 ELSE {off} END AS l_orderkey, "
                   f"l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
                   f"l_returnflag, 'M' AS l_linestatus, l_shipdate FROM lineitem WHERE {where}")
            on = "t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber"
            sets = "l_quantity = s.l_quantity + 2, l_linestatus = 'M'"
            dsets = "l_quantity = _src.l_quantity + 2, l_linestatus = 'M'"
            don = "lineitem.l_orderkey = _src.l_orderkey AND lineitem.l_linenumber = _src.l_linenumber"
            anti = "o.l_orderkey = _src.l_orderkey AND o.l_linenumber = _src.l_linenumber"
        sql = (f"MERGE INTO {t} t USING ({src}) s ON {on} "
               f"WHEN MATCHED THEN UPDATE SET {sets} WHEN NOT MATCHED THEN INSERT *")
        duck = [
            f"CREATE OR REPLACE TEMP TABLE _src AS {src}",
            f"UPDATE {t} SET {dsets} FROM _src WHERE {don}",
            f"INSERT INTO {t} SELECT * FROM _src WHERE NOT EXISTS (SELECT 1 FROM {t} o WHERE {anti})",
        ]
        return sql, duck

    def _write_op(self, lsql, t: str, kind: str) -> Op:
        sql, duck = self._statement(t, kind)
        op = Op("write", f"{kind}.{t}", lambda: lsql.sql(sql).collect())

        def check(res) -> str | None:
            changed = 0
            for stmt in duck:
                out = self.duck.execute(stmt).fetchall()
                if not stmt.startswith("CREATE"):
                    changed += int(out[0][0]) if out else 0
            op.rows_changed = changed
            self._record(res[0]["version"], t)
            return _mismatch(f"{sql[:40]} rows_affected", res[0]["rows_affected"], changed)

        op.check = check
        return op

    def _read_op(self, lsql, t: str, pinned: bool) -> Op:
        recent = sorted(self.versions)[-self.pin_window:]
        if not pinned:
            sql = FINGERPRINT[t].format(t=t)
            return Op("read", f"head.{t}", lambda: lsql.sql(sql).collect(),
                      lambda res: _mismatch(sql[:40], _rows(res), self.fp[t]))
        v = self.rng.choice(recent)
        sql = FINGERPRINT[t].format(t=f"{t} VERSION AS OF {v}")
        return Op("read", f"pinned.{t}", lambda: lsql.sql(sql).collect(),
                  lambda res: _mismatch(sql[:40], _rows(res), self.versions[v][t]))

    def _changes_op(self, branch: str, t: str) -> Op:
        vs = sorted(self.versions)
        start, prev = vs[-self.changes_back], vs[-self.changes_back - 1]
        key = KEY[t]

        def want() -> tuple[int, int]:
            (n1, s1), (n0, s0) = _n_sk(t, self.fp[t]), _n_sk(t, self.versions[prev][t])
            return n1 - n0, s1 - s0

        return Op("meta", f"changes.{t}",
                  lambda: _fold(self.changes.table_changes(self.repo, self.spark, t, start, ref=branch), key),
                  lambda res: _mismatch(f"table_changes({t}, {start}) fold", res, want()))

    def _optimize_op(self, t: str) -> Op:
        def check(res) -> str | None:
            self._record(res[0]["version"], None)
            return None

        return Op("maint", f"optimize.{t}", lambda: self.lsql.sql(f"OPTIMIZE {t}").collect(), check)

    def _diff_op(self, br: str) -> Op:
        want = tuple(
            self.duck.execute(f"SELECT count(*) FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b})").fetchone()[0]
            for a, b in (("orders", "orders_base"), ("orders_base", "orders"))
        )

        def run():
            rows = self.repo.diff(self.spark, "orders", "main", br).groupBy("__change").count().collect()
            got = dict(rows)
            return got.get("added", 0), got.get("removed", 0)

        return Op("meta", "diff.orders", run, lambda res: _mismatch("diff main..branch (added, removed)", res, want))

    def _history_op(self) -> Op:
        def check(res) -> str | None:
            vs = [r["version"] for r in res]
            if not vs or vs != sorted(vs, reverse=True) or not set(vs) <= set(self.versions):
                return f"DESCRIBE HISTORY orders: unexpected versions {vs}"
            return None

        return Op("meta", "history.orders", lambda: self.lsql.sql("DESCRIBE HISTORY orders").collect(), check)

    def _cycle(self) -> Iterator[Op]:
        br = f"churn{self.n_done}_{self.rng.randrange(10**6)}"
        blsql = self.LakeSQL(self.spark, self.repo, branch=br)

        def based(res) -> None:
            self.duck.execute("CREATE OR REPLACE TABLE orders_base AS SELECT * FROM orders")

        yield Op("meta", "create_branch", lambda: self.lsql.sql(f"CREATE BRANCH {br} FROM main").collect(), based)
        half = self.plan[4:] if self.n_done % 2 else self.plan[:4]
        for i, (t, kind) in enumerate(half):
            yield self._write_op(blsql, t, kind)
            yield self._read_op(blsql, t, pinned=i % 2 == 1)
            if i % 2 == 1:
                yield self._changes_op(br, t)
        yield self._diff_op(br)
        head = max(self.versions)
        yield Op("meta", "merge_branch", lambda: self.lsql.sql(f"MERGE BRANCH {br} INTO main").collect(),
                 lambda res: _mismatch("MERGE BRANCH version", res[0]["version"], head))
        yield self._history_op()
        yield Op("meta", "drop_branch", lambda: self.lsql.sql(f"DROP BRANCH {br}").collect())
        yield self._optimize_op(self.seed_tables[self.n_done % 2])
        yield Op("maint", "vacuum",
                 lambda: len(self.repo.vacuum(retain_versions=self.retain, grace_seconds=0)))

    def final_check(self) -> list[str]:
        errs = []
        for t in self.seed_tables:
            got = self.lsql.sql(f"SELECT * FROM {t}").toArrow()
            err = tables_differ(self.duck, got, f"SELECT * FROM {t}")
            if err:
                errs.append(f"final head of {t}: {err}")
        return errs


# ---------------------------------------------------------------------------
#: Analytic reads over the pre-built versioned tables; ``{li}`` and ``{o}``
#: become the table reference, at head or ``VERSION AS OF v``.
ANALYTIC = (
    ("pricing", "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q, "
                "CAST(sum(l_orderkey) AS BIGINT) AS k FROM {li} GROUP BY l_returnflag, l_linestatus"),
    ("priority", "SELECT o.o_orderpriority, count(*) AS n, "
                 "CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q "
                 "FROM {o} o JOIN {li} l ON o.o_orderkey = l.l_orderkey GROUP BY o.o_orderpriority"),
    ("top_orders", "SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q "
                   "FROM {li} GROUP BY l_orderkey ORDER BY q DESC, l_orderkey LIMIT 10"),
    ("parts", "SELECT count(DISTINCT l_partkey) AS parts, count(*) AS n "
              "FROM {li} WHERE l_linenumber <= 3"),
)

#: The two commits applied to the pre-built ``lineitem`` after its seed.
PREBUILT_DML = (
    "UPDATE lineitem SET l_quantity = l_quantity + 1 WHERE l_orderkey % 50 = {k}",
    "DELETE FROM lineitem WHERE l_orderkey % 50 = {k2}",
)


class PipelineChain(Workload):
    """The reference jobs vdt1→vdt4 from the query registry, then
    analytic SELECTs over a pre-built versioned table at head and at
    pinned old versions, a history call and two change feeds."""

    name = "pipeline_chain"
    seed_tables = ("orders", "lineitem")
    cycles_per_second = 0.125
    n_orders = 10_000
    replicas = ("vdt1_replica", "vdt2_replica", "vdt3_replica", "vdt4_replica")

    def seed_repo(self) -> None:
        super().seed_repo()
        self.duck = _duck(self.sf_dir, ("customer", "orders", "lineitem", "events"))
        k = self.rng.randrange(50)
        k2 = (k + 1 + self.rng.randrange(49)) % 50
        self.version_list = [self.seed_commit.version]
        # lineitem_v<i> replays lineitem at version_list[i]; the plain
        # tables stay as generated for the reference-job oracles
        self.duck.execute("CREATE TABLE lineitem_v0 AS SELECT * FROM lineitem")
        for i, stmt in enumerate(PREBUILT_DML, 1):
            sql = stmt.format(k=k, k2=k2)
            self.version_list.append(self.lsql.sql(sql).collect()[0]["version"])
            self.duck.execute(f"CREATE TABLE lineitem_v{i} AS SELECT * FROM lineitem_v{i - 1}")
            self.duck.execute(sql.replace("lineitem", f"lineitem_v{i}", 1))
        self.expected = {
            (name, i): sorted(self.duck.execute(q.format(li=f"lineitem_v{i}", o="orders")).fetchall())
            for name, q in ANALYTIC for i in range(3)
        }
        self.registry = importlib.import_module(f"{PKG}.queries").all_queries()
        self.oracle = importlib.import_module(f"{PKG}.queries.replicas").REPLICA_ORACLES

    def _job_op(self, name: str) -> Op:
        def run():
            with self.span("queries.build", name):
                df = self.registry[name](self.spark, self.sf_dir)
            with self.span("spark.exec", name):
                return df.toArrow()

        return Op("write", f"job.{name}", run,
                  lambda res: tables_differ(self.duck, res, self.oracle[name]))

    def _analytic_op(self, name: str, sql: str, pinned: bool) -> Op:
        i = self.rng.randrange(2) if pinned else 2
        if i == 2:
            li, o = "lineitem", "orders"
        else:
            v = self.version_list[i]
            li, o = f"lineitem VERSION AS OF {v}", f"orders VERSION AS OF {v}"
        text = sql.format(li=li, o=o)
        return Op("read", f"{name}.{'head' if i == 2 else 'pinned'}",
                  lambda: self.lsql.sql(text).collect(),
                  lambda res: _mismatch(name, _rows(res), self.expected[(name, i)]))

    def _history_op(self) -> Op:
        want = sorted(self.version_list, reverse=True)
        return Op("meta", "history.lineitem",
                  lambda: [r["version"] for r in self.lsql.sql("DESCRIBE HISTORY lineitem").collect()],
                  lambda res: _mismatch("DESCRIBE HISTORY lineitem", res, want))

    def _changes_op(self, i: int) -> Op:
        start = self.version_list[i]
        want = self.duck.execute(
            "SELECT count(*) FILTER (WHERE s = 1) - count(*) FILTER (WHERE s = 0), "
            "CAST(sum(CASE WHEN s = 1 THEN l_orderkey ELSE -l_orderkey END) AS BIGINT) FROM ("
            f"(SELECT 1 AS s, * FROM (SELECT * FROM lineitem_v2 EXCEPT ALL SELECT * FROM lineitem_v{i - 1})) UNION ALL "
            f"(SELECT 0 AS s, * FROM (SELECT * FROM lineitem_v{i - 1} EXCEPT ALL SELECT * FROM lineitem_v2)))"
        ).fetchone()
        want = (int(want[0]), int(want[1] or 0))
        return Op("meta", "changes.lineitem",
                  lambda: _fold(self.changes.table_changes(self.repo, self.spark, "lineitem", start), "l_orderkey"),
                  lambda res: _mismatch(f"table_changes(lineitem, {start}) fold", res, want))

    def _cycle(self) -> Iterator[Op]:
        for name in self.replicas:
            yield self._job_op(name)
        for j, (name, sql) in enumerate(ANALYTIC):
            yield self._analytic_op(name, sql, pinned=(j + self.n_done) % 2 == 1)
        yield self._history_op()
        yield self._changes_op(1)
        yield self._changes_op(2)


WORKLOADS = {w.name: w for w in (DmlChurn, PipelineChain)}
