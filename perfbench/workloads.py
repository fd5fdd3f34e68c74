"""The benchmark's workloads: what one pass runs, the inputs it needs,
and the output checks.

A workload is a fixed sequence of operations (one pass). The benchmark
runs a warm-up pass, then timed passes, then checks outputs outside the
timed region. An operation is one call into the program's public API;
the tracer passed to it records spans around each layer call and is a
no-op in untraced runs.

- ``headline`` runs the 14 ``bench.HEADLINE`` queries, each built by
  ``QUERIES[name](spark, dir)`` and executed by a noop write. Short
  queries, so per-query fixed cost dominates: plan building, eager
  probe jobs, job scheduling and catalog calls. The seed shuffles the
  query order of every pass.
- ``etl`` follows the paper's write path on a fresh destination per
  pass: a full ``migrate``, a keyed (skip-duplicates) ``migrate`` that
  writes 0 rows, then seeded snapshot batches, each an upsert of
  ``part`` (DO UPDATE), ``orders`` (DO NOTHING) and ``lineitem``
  (file-granularity copy-on-write), followed by ``flagship_popularity``
  and ``category_report`` over the destination, the latter exported as
  CSV. Reads after a write miss the catalog's handle cache. The seed
  picks the batch keys and values.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import math
import os
import random
import shutil
from collections import Counter

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from prisma_migrator_spark import migrate
from prisma_migrator_spark.catalog import TABLES, load_table, read_parquet
from prisma_migrator_spark.plans import ORACLES, QUERIES
from prisma_migrator_spark.sources.csv_report import write_csv_report
from prisma_migrator_spark.writers.upsert import upsert_parquet_cow, write_entity

from bench import HEADLINE


def norm(v):
    """Value normalisation for order-insensitive result comparison, the
    same rules as the replica gate's ``tools/drive_driver.py`` (which
    cannot be imported: it starts a session at import time)."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    return v


def same_rows(a_cols, a_rows, b_cols, b_rows) -> bool:
    """Same column names and the same multiset of normalised rows."""
    if sorted(a_cols) != sorted(b_cols):
        return False
    ia = sorted(range(len(a_cols)), key=lambda i: a_cols[i])
    ib = sorted(range(len(b_cols)), key=lambda i: b_cols[i])
    ca = Counter(tuple(norm(r[i]) for i in ia) for r in a_rows)
    cb = Counter(tuple(norm(r[i]) for i in ib) for r in b_rows)
    return ca == cb


def duck_views(tables: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table; a value is a
    parquet file or a directory of part files."""
    con = duckdb.connect()
    for name, path in tables.items():
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        # union_by_name: copy-on-write leaves files with other column orders
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{src}', union_by_name=true)")
    return con


def collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def oracle_problem(con, name: str, result: tuple[list[str], list[tuple]]) -> str | None:
    """Compare a collected result of ``QUERIES[name]`` with its DuckDB
    oracle; return a description of the mismatch, or None."""
    s_cols, s_rows = result
    cur = con.execute(ORACLES[name])
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    if not s_rows:
        return f"{name}: 0 rows (a vacuous match)"
    if not same_rows(s_cols, s_rows, o_cols, o_rows):
        return f"{name}: {len(s_rows)} rows differ from the oracle's {len(o_rows)}"
    return None


def tables_read(spark, name: str, data_dir: str) -> list[str]:
    """Fixture tables whose files the plan of ``QUERIES[name]`` scans.
    Tables read only behind an eager checkpoint are not visible."""
    found = set()
    for f in QUERIES[name](spark, data_dir).inputFiles():
        for part in f.split("/"):
            if part.endswith(".parquet") and part[: -len(".parquet")] in TABLES:
                found.add(part[: -len(".parquet")])
    return sorted(found)


def _scan(spark, tr, data_dir: str, tables: list[str]) -> None:
    """Traced runs time the catalog on its own: load each table the
    operation reads before the plan is built, so the build hits the
    handle cache and ``plans.build`` excludes catalog time."""
    if not tr.on:
        return
    for t in tables:
        with tr.span("catalog.load", table=t):
            load_table(spark, data_dir, t)


def _jobs(spark, tr) -> int:
    sc = spark.sparkContext
    return len(sc.statusTracker().getJobIdsForGroup(tr.group)) if tr.on else 0


def run_query(spark, tr, name: str, data_dir: str, tables: list[str], sink) -> None:
    """One query operation: catalog loads (traced runs only), plan
    build, then ``sink(df)`` executes it. Jobs launched during the build
    are eager probes."""
    _scan(spark, tr, data_dir, tables)
    before = _jobs(spark, tr)
    with tr.span("plans.build", query=name):
        df = QUERIES[name](spark, data_dir)
    tr.count("plans.build_jobs", _jobs(spark, tr) - before)
    sink(df)


def noop_sink(tr):
    def sink(df):
        with tr.span("spark.execute"):
            df.write.format("noop").mode("overwrite").save()

    return sink


class Headline:
    name = "headline"

    def __init__(self, spark, data_dir: str, work: str, seed: int) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.rng = random.Random(seed)
        self.tables: dict[str, list[str]] = {n: [] for n in HEADLINE}
        self.results: dict[str, tuple] = {}

    def stage(self) -> None:
        pass

    def learn_tables(self) -> None:
        self.tables = {n: tables_read(self.spark, n, self.data_dir) for n in HEADLINE}

    def ops(self, pass_no):
        """The 14 queries in a seeded order. The warm-up pass collects
        each result for :meth:`verify`; timed passes use the noop sink."""
        for name in self.rng.sample(HEADLINE, len(HEADLINE)):
            def op(tr, name=name):
                if pass_no == "warmup":
                    def sink(df):
                        self.results[name] = collect(df)
                else:
                    sink = noop_sink(tr)
                run_query(self.spark, tr, name, self.data_dir, self.tables[name], sink)
            yield name, op

    def end_pass(self, pass_no) -> None:
        # drop what operators persisted internally, so every pass
        # re-reads the parquet and re-runs every exchange
        self.spark.catalog.clearCache()

    def verify(self, source_dir: str) -> list[str]:
        con = duck_views({t: os.path.join(source_dir, f"{t}.parquet") for t in TABLES})
        try:
            return [p for n in HEADLINE if (p := oracle_problem(con, n, self.results[n]))]
        finally:
            con.close()


# -- etl ---------------------------------------------------------------

#: Conflict targets for the keyed migrate; tables left out have no key
#: and go through ``exceptAll`` (the reference's keyless history path).
MIGRATE_KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
}
LINE_KEY = MIGRATE_KEYS["lineitem"]
UPSERTED = ("part", "orders", "lineitem")
BATCHES = 1
UPDATE_SHARE = 0.01
NEW_PARTS, NEW_ORDERS = 5, 30


def _last_wins(base, batch, keys):
    """``base`` with every key of ``batch`` replaced or added."""
    kept = base.merge(batch[keys], on=keys, how="left", indicator=True)
    kept = kept[kept["_merge"] == "left_only"].drop(columns="_merge")
    return pd.concat([kept, batch], ignore_index=True)


class Etl:
    name = "etl"

    def __init__(self, spark, data_dir: str, work: str, seed: int) -> None:
        self.spark = spark
        self.src = data_dir
        self.work = work
        self.seed = seed
        self.inputs = os.path.join(work, "inputs")
        self.tables = {"flagship_popularity": [], "category_report": []}
        self.src_rows: dict[str, int] = {}
        self.expected_rows: list[dict[str, int]] = []
        self.batch_rows: dict[tuple[int, str], int] = {}
        self.dst = self.report_path = ""

    # set-up: seeded batch inputs and the expected final tables

    def stage(self) -> None:
        """Write the seeded snapshot batches as parquet, plus the tables
        expected after applying them in order."""
        rng = np.random.default_rng(self.seed)
        os.makedirs(self.inputs, exist_ok=True)
        self.src_rows = {
            t: pq.ParquetFile(os.path.join(self.src, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        }
        src = {t: pq.read_table(os.path.join(self.src, f"{t}.parquet")) for t in UPSERTED}
        schema = {t: src[t].schema for t in UPSERTED}
        state = {t: src[t].to_pandas() for t in UPSERTED}
        customers = pq.read_table(
            os.path.join(self.src, "customer.parquet"), columns=["c_custkey"]
        ).column(0).to_numpy()
        next_part = int(state["part"]["p_partkey"].max()) + 1
        next_order = int(state["orders"]["o_orderkey"].max()) + 1
        for b in range(BATCHES):
            part, orders = state["part"], state["orders"]
            n = max(1, int(len(part) * UPDATE_SHARE))
            upd = part.iloc[rng.choice(len(part), n, replace=False)].copy()
            upd["p_retailprice"] = (upd["p_retailprice"] * (1.01 + 0.01 * b)).round(2)
            upd["p_name"] = upd["p_name"] + f" r{b}"
            new = part.iloc[rng.choice(len(part), NEW_PARTS, replace=False)].copy()
            new["p_partkey"] = np.arange(next_part, next_part + NEW_PARTS)
            next_part += NEW_PARTS
            part_b = pd.concat([upd, new], ignore_index=True)

            n = max(1, int(len(orders) * UPDATE_SHARE))
            clash = orders.iloc[rng.choice(len(orders), n, replace=False)].copy()
            clash["o_totalprice"] = clash["o_totalprice"] + 1000.0
            new = orders.iloc[rng.choice(len(orders), NEW_ORDERS, replace=False)].copy()
            new_keys = np.arange(next_order, next_order + NEW_ORDERS)
            new["o_orderkey"] = new_keys
            new["o_custkey"] = rng.choice(customers, NEW_ORDERS)
            new["o_totalprice"] = rng.uniform(1000, 500000, NEW_ORDERS).round(2)
            next_order += NEW_ORDERS
            orders_b = pd.concat([clash, new], ignore_index=True)

            li = state["lineitem"]
            # (l_orderkey, l_linenumber) repeats in the fixtures; update
            # only keys held by one row, so the batch has one row per key
            # and its result does not depend on which duplicate survives
            single = li[~li.duplicated(LINE_KEY, keep=False)].sort_values(LINE_KEY)
            n = max(1, int(len(li) * UPDATE_SHARE))
            start = int(rng.integers(0, len(single) - n))
            upd = single.iloc[start:start + n].copy()  # an order-key window
            upd["l_quantity"] = upd["l_quantity"] + 1.0
            upd["l_extendedprice"] = (upd["l_extendedprice"] * 1.05).round(2)
            lines = li.iloc[rng.choice(len(li), 2 * NEW_ORDERS, replace=False)].copy()
            lines["l_orderkey"] = np.repeat(new_keys, 2)
            lines["l_linenumber"] = np.tile(np.array([1, 2], dtype="int32"), NEW_ORDERS)
            li_b = pd.concat([upd, lines], ignore_index=True)

            for t, frame in (("part", part_b), ("orders", orders_b), ("lineitem", li_b)):
                self.batch_rows[b, t] = len(frame)
                pq.write_table(
                    pa.Table.from_pandas(frame, schema=schema[t], preserve_index=False),
                    self.batch_path(b, t),
                )
            state["part"] = _last_wins(part, part_b, ["p_partkey"])
            state["orders"] = pd.concat([orders, new], ignore_index=True)
            state["lineitem"] = _last_wins(li, li_b, LINE_KEY)
            self.expected_rows.append({t: len(state[t]) for t in UPSERTED})
        for t in UPSERTED:
            pq.write_table(
                pa.Table.from_pandas(state[t], schema=schema[t], preserve_index=False),
                os.path.join(self.inputs, f"expected_{t}.parquet"),
            )

    def batch_path(self, b: int, table: str) -> str:
        return os.path.join(self.inputs, f"batch{b}_{table}.parquet")

    def learn_tables(self) -> None:
        self.tables = {n: tables_read(self.spark, n, self.src) for n in self.tables}

    # one pass

    def ops(self, pass_no):
        self.dst = os.path.join(self.work, f"pass{pass_no}", "dst")
        self.report_path = os.path.join(self.work, f"pass{pass_no}", "category_report.csv")
        yield "migrate", lambda tr: self._migrate(tr, None)
        yield "migrate_keyed", lambda tr: self._migrate(tr, MIGRATE_KEYS)
        for b in range(BATCHES):
            yield "upsert_part", lambda tr, b=b: self._upsert(tr, b, "part", None)
            yield "upsert_orders", lambda tr, b=b: self._upsert(tr, b, "orders", [])
            yield "upsert_lineitem", lambda tr, b=b: self._upsert_lineitem(tr, b)
            yield "flagship_popularity", lambda tr: run_query(
                self.spark, tr, "flagship_popularity", self.dst,
                self.tables["flagship_popularity"], noop_sink(tr))
            yield "category_report", lambda tr: run_query(
                self.spark, tr, "category_report", self.dst,
                self.tables["category_report"], self._export(tr))

    def end_pass(self, pass_no) -> None:
        # keep only the newest destination: verify() reads it
        for d in os.listdir(self.work):
            if d.startswith("pass") and d != f"pass{pass_no}":
                shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)

    def _migrate(self, tr, keys) -> str | None:
        with tr.span("migrate.migrate", keyed=keys is not None):
            report = migrate.migrate(self.spark, self.src, self.dst, key_cols=keys)
        for t in report.tables:
            tr.count("migrate.tables", 1)
            tr.count("migrate.table_s", t.seconds)
            tr.count("migrate.rows_read", t.rows_read)
            tr.count("migrate.rows_written", t.rows_written)
        if not report.ok:
            return "migrate failed: " + report.summary()
        want = {t: (0 if keys else n) for t, n in self.src_rows.items()}
        got = {t.table: t.rows_written for t in report.tables}
        if got != want:
            return f"migrate wrote {got}, expected {want}"
        return None

    def _files(self, table: str) -> int:
        path = os.path.join(self.dst, f"{table}.parquet")
        return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))

    def _upsert(self, tr, b: int, table: str, update_cols) -> str | None:
        files = self._files(table) if tr.on else 0
        with tr.span("writers.upsert", table=table):
            batch = read_parquet(self.spark, self.batch_path(b, table))
            out = write_entity(self.spark, batch, self.dst, table,
                               MIGRATE_KEYS[table], update_cols)
        # upsert_parquet rewrites the whole table
        tr.count("writers.files_total", files)
        tr.count("writers.files_rewritten", files)
        tr.count("writers.batch_rows", self.batch_rows[b, table])
        want = self.expected_rows[b][table]
        return None if out.get("total") == want else \
            f"{table} batch {b}: {out.get('total')} rows, expected {want}"

    def _upsert_lineitem(self, tr, b: int) -> str | None:
        with tr.span("writers.upsert", table="lineitem"):
            batch = read_parquet(self.spark, self.batch_path(b, "lineitem"))
            out = upsert_parquet_cow(
                self.spark, batch, os.path.join(self.dst, "lineitem.parquet"),
                MIGRATE_KEYS["lineitem"],
            )
        tr.count("writers.files_total", out["files_total"])
        tr.count("writers.files_rewritten", out["files_rewritten"])
        tr.count("writers.batch_rows", self.batch_rows[b, "lineitem"])
        return None

    def _export(self, tr):
        def sink(df):
            with tr.span("sources.csv_report"):
                write_csv_report(df, self.report_path)
        return sink

    # checks on the warm-up pass's destination

    def verify(self, source_dir: str) -> list[str]:
        problems = []
        dst = {t: os.path.join(self.dst, f"{t}.parquet") for t in TABLES}
        # migrate: every table the batches never touch equals its source,
        # and each upserted table equals the one expected from the batches
        # (key set and values): a two-way EXCEPT ALL, in DuckDB
        want = {t: os.path.join(self.inputs, f"expected_{t}.parquet") if t in UPSERTED
                else os.path.join(self.src, f"{t}.parquet") for t in TABLES}
        con = duck_views({**{f"want_{t}": p for t, p in want.items()},
                          **{f"got_{t}": p for t, p in dst.items()}})
        try:
            for t in TABLES:
                cols = ", ".join(f'"{c}"' for c in pq.read_schema(want[t]).names)
                for a, b in (("want", "got"), ("got", "want")):
                    extra = con.execute(
                        f"SELECT count(*) FROM (SELECT {cols} FROM {a}_{t} "
                        f"EXCEPT ALL SELECT {cols} FROM {b}_{t})").fetchone()[0]
                    if extra:
                        problems.append(f"{t}: {extra} rows in {a} but not in {b}")
        finally:
            con.close()
        # reads over the destination, against the DuckDB oracles
        con = duck_views(dst)
        try:
            for name in ("flagship_popularity", "category_report"):
                if p := oracle_problem(con, name, collect(QUERIES[name](self.spark, self.dst))):
                    problems.append(p)
            report = con.execute(ORACLES["category_report"]).fetchall()
        finally:
            con.close()
        with open(self.report_path, newline="") as f:
            # Spark's CSV writer escapes quotes with a backslash
            exported = list(csv.reader(f, escapechar="\\", doublequote=False))
        links = sorted(r[0] for r in report)
        if sorted(r[0] for r in exported[1:]) != links:
            problems.append("exported CSV does not hold the report's rows")
        return problems


WORKLOADS = {w.name: w for w in (Headline, Etl)}
