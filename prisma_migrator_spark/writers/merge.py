"""Delta-style conditional MERGE INTO over plain parquet tables.

``upsert_parquet`` / ``upsert_parquet_cow`` implement the reference's
ON CONFLICT shapes (full update / subset update / DO NOTHING —
src/utils/lib.ts:76-95). Real pipelines also need the richer MERGE
clauses those can't express:

    MERGE INTO target USING source ON <keys>
      WHEN MATCHED AND <cond> THEN DELETE
      WHEN MATCHED [AND <cond>] THEN UPDATE SET ...
      WHEN NOT MATCHED [AND <cond>] THEN INSERT *

This module is that statement as ONE DataFrame plan. Clause order
follows SQL MERGE: for a matched (target, source) pair the DELETE
condition is tested first, then the UPDATE condition; a matched row
satisfying neither stays as-is; a condition evaluating to NULL does
not fire its clause. Conditions are ordinary ``Column`` predicates
over the joined row — reference target columns as ``t.<col>`` and
source columns as ``s.<col>``.

Plan shape (scale-safe): the target joins the key-deduplicated source
ONCE on the keys; every matched clause is a projection/filter over
that single join — no per-clause scans, no driver loops. Inserts are
one anti-join of the (pre-filtered) source. Only the files whose
footer range of ``key_cols[0]`` may hold a source key are read,
joined and rewritten; every other file is hard-linked over
byte-identical (``upsert._files_holding`` / ``upsert._rewrite_table``,
the same pruning and staged swap as ``upsert_parquet_cow``). That
gives the rows of a full-table MERGE: a file holding a source key has
a footer range containing it, and a file without stats is always
rewritten.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prisma_migrator_spark.operators.dedup import dedupe_batch
from prisma_migrator_spark.operators.joins import anti_join
from prisma_migrator_spark.writers.upsert import (
    _files_holding,
    _part_files,
    _rewrite_table,
)


def _fires(cond: Column | None, default: bool) -> Column:
    """SQL MERGE clause-condition semantics: absent condition uses the
    clause default; NULL does not fire."""
    if cond is None:
        return F.lit(default)
    return F.coalesce(cond, F.lit(False))


def _merged_frame(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    when_matched_delete: Column | None,
    when_matched_update: Column | None,
    update_set: Mapping[str, Column] | None,
    when_not_matched_insert: Column | None,
    insert: bool,
) -> DataFrame:
    """Apply the MERGE semantics; output schema = target's schema."""
    cols = target.columns
    val_cols = [c for c in cols if c not in keys]
    joined = target.alias("t").join(source.alias("s"), keys, "inner")

    # WHEN MATCHED AND <del> THEN DELETE — tested first, per SQL order
    survivors = joined.where(~_fires(when_matched_delete, False))

    # WHEN MATCHED [AND <upd>] THEN UPDATE: default SET * from source
    # (shared non-key columns), overridable per column via update_set
    upd = _fires(when_matched_update, True)

    def new_value(c: str) -> Column:
        if update_set is not None and c in update_set:
            return update_set[c]
        if update_set is None and c in source.columns:
            return F.col(f"s.{c}")
        return F.col(f"t.{c}")

    matched_out = survivors.select(
        *[F.col(k) for k in keys],
        *[
            F.when(upd, new_value(c)).otherwise(F.col(f"t.{c}")).alias(c)
            for c in val_cols
        ],
    ).select(*cols)

    untouched = anti_join(target, source, keys)

    parts = [untouched, matched_out]
    if insert:
        candidates = source.alias("s").where(
            _fires(when_not_matched_insert, True)
        )
        inserts = anti_join(candidates, target, keys).select(
            *[
                (F.col(c) if c in source.columns else F.lit(None)).cast(
                    target.schema[c].dataType
                ).alias(c)
                for c in cols
            ]
        )
        parts.append(inserts)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def merge_into(
    spark: SparkSession,
    target_path: str,
    source: DataFrame,
    key_cols: Sequence[str],
    when_matched_delete: Column | None = None,
    when_matched_update: Column | None = None,
    update_set: Mapping[str, Column] | None = None,
    when_not_matched_insert: Column | None = None,
    insert: bool = True,
    order_col: str | None = None,
) -> dict:
    """Execute the MERGE against the parquet table at ``target_path``.

    - ``when_matched_delete`` — matched pairs satisfying it are
      deleted (takes precedence over update, per SQL clause order).
    - ``when_matched_update`` — matched pairs satisfying it are
      updated (default: all of them). ``update_set`` maps column ->
      expression over ``t.``/``s.``; absent, SET * from the source's
      shared non-key columns.
    - ``when_not_matched_insert`` / ``insert`` — source rows with no
      target match are inserted (columns missing from the source
      become NULL), optionally gated by the condition.
    - ``order_col`` — in-source replay determinism: latest-wins
      key-dedup before the merge; without it the source is deduped by
      :func:`dedupe_batch`'s smallest-row rule (same contract as the
      upsert family).
    """
    keys = list(key_cols)
    src = dedupe_batch(source, keys, order_col)
    existing_schema = spark.read.parquet(target_path).schema
    files = _part_files(target_path)
    matched = _files_holding(spark, files, existing_schema, src, keys[0])
    untouched = sorted(set(files).difference(matched))
    # no matched file: the merge reduces to the source's inserts
    target = (
        spark.read.schema(existing_schema).parquet(*matched)
        if matched
        else spark.createDataFrame([], existing_schema)
    )
    result = _merged_frame(
        target,
        src,
        keys,
        when_matched_delete,
        when_matched_update,
        update_set,
        when_not_matched_insert,
        insert,
    )
    _rewrite_table(result, target_path, untouched)
    return {
        "path": target_path,
        "files_total": len(files),
        "files_rewritten": len(matched),
        "files_kept": len(untouched),
    }
