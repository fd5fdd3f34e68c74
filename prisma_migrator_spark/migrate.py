"""Generic table migration orchestrator (SURVEY §2.12, §3.1).

Re-expresses ``src/migrate.ts``'s main loop Spark-first:

- model enumeration (``getModels``, migrate.ts:27-30) → catalog
  listing of the source;
- per-model full scan (migrate.ts:48) → ``spark.read`` — partitioned,
  streamed executor-side, never materialized in the driver (the
  reference's biggest scale flaw, SURVEY §3.1);
- chunked ``createMany({skipDuplicates})`` (migrate.ts:58-70) →
  one anti-join append per table (no client-side chunking: Spark's
  tasks ARE the chunks);
- per-model error isolation (migrate.ts:43-52,67-69) → try/except per
  table collected into a migration report.

Tables copy sequentially like the reference (migrate.ts:92-94), with
optional thread-level overlap; Spark already parallelizes *within*
each table, which is where the data volume is.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from prisma_migrator_spark.catalog import list_tables, read_parquet
from prisma_migrator_spark.writers.upsert import append_skip_duplicates


@dataclass
class TableResult:
    table: str
    status: str  # copied | skipped | failed
    rows_read: int = 0
    rows_written: int = 0
    seconds: float = 0.0
    error: str = ""


@dataclass
class MigrationReport:
    tables: list[TableResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(t.status != "failed" for t in self.tables)

    def summary(self) -> str:
        lines = [
            f"{t.table}: {t.status} read={t.rows_read} written={t.rows_written}"
            + (f" error={t.error}" if t.error else "")
            for t in self.tables
        ]
        return "\n".join(lines)


def _observed_rows(read: Observation, df: DataFrame) -> int:
    """Source rows ``read`` counted during the action that just ran.
    AQE drops a finished stage whose output is empty from the final
    plan, observed metrics included — on the dedup paths when every
    keyed row is a duplicate or the source table is empty — and the
    observation then holds no row; only then is the source counted
    again."""
    try:
        return read.get["n"]
    except Py4JJavaError:
        return df.count()


def migrate_table(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    table: str,
    key_cols: dict[str, list[str]] | None = None,
) -> TableResult:
    """Copy one table, skipping rows whose key already exists at the
    destination (⇐ migrateModel, reference src/migrate.ts:38-73)."""
    t0 = time.time()
    try:
        src_path = os.path.join(src_dir, f"{table}.parquet")
        dst_path = os.path.join(dst_dir, f"{table}.parquet")
        # rows_read rides the plan that moves the rows (the write, or
        # the dedup path's count) instead of a second source scan
        read = Observation()
        df = read_parquet(spark, src_path).observe(read, F.count(F.lit(1)).alias("n"))
        keys = (key_cols or {}).get(table)
        if os.path.exists(dst_path):
            existing = read_parquet(spark, dst_path)
            fresh = (
                append_skip_duplicates(df, existing, keys)
                if keys
                else df.exceptAll(existing)
            )
            n_new = fresh.count()
            n_read = _observed_rows(read, df)
            if n_new:
                fresh.write.mode("append").parquet(dst_path)
        else:
            df.write.mode("overwrite").parquet(dst_path)
            n_read = n_new = _observed_rows(read, df)
        return TableResult(table, "copied", n_read, n_new, time.time() - t0)
    except Exception as exc:  # per-table isolation, migrate.ts:49-52
        return TableResult(table, "failed", seconds=time.time() - t0, error=str(exc))


def migrate(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    tables: list[str] | None = None,
    key_cols: dict[str, list[str]] | None = None,
    parallelism: int = 1,
) -> MigrationReport:
    """Copy every table from src to dst (⇐ main(), migrate.ts:75-99)."""
    os.makedirs(dst_dir, exist_ok=True)
    src_tables = tables or list_tables(src_dir)
    report = MigrationReport()
    if parallelism <= 1:
        for t in src_tables:
            report.tables.append(migrate_table(spark, src_dir, dst_dir, t, key_cols))
    else:
        with ThreadPoolExecutor(parallelism) as pool:
            futures = [
                pool.submit(migrate_table, spark, src_dir, dst_dir, t, key_cols)
                for t in src_tables
            ]
            report.tables = [f.result() for f in futures]
    return report
