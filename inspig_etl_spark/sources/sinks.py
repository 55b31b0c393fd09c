"""Write-path operators: MERGE semantics + idempotent parquet sinks
(SURVEY.md §2.1 S6-S14, §2.9 ST3/ST4).

The reference's sinks are Oracle MERGE statements and delete-then-insert
blocks; here the MERGE *logic* is a pure DataFrame transform (testable,
oracle-checkable) and the *physical* write is parquet with partition
overwrite or staged atomic swap. On Delta/Iceberg the logical kernels map
1:1 onto ``MERGE INTO`` — nothing else changes.

Kernels vs reference:

- :func:`merge_upsert` — update-or-insert keyed MERGE with optional
  partial-update (``RAIN_PROB = NVL(:new, old)``) semantics
  (``/root/reference/src/collectors/weather.py:1697-1732``, S6/S7/S8).
- :func:`insert_if_absent` — ``WHEN NOT MATCHED`` only: mid-term forecast
  must never clobber short-term (``weather.py:2406-2443``, S9).
- :func:`delete_matching` / :func:`delete_then_insert` — idempotent re-run
  cleanup (``src/collectors/productivity.py:375-451``, S10;
  per-section delete ``src/weekly/processors/modon.py:97-105``, S12/S13).
- :func:`with_surrogate_key` — deterministic surrogate ids replacing
  ``SEQ_*.NEXTVAL`` (``orchestrator.py:969-970``, S14).
- :func:`overwrite_partitions` / :func:`staged_overwrite` — the physical
  layer (S11 batch write): dynamic partition overwrite for scoped rewrites;
  staged write + atomic rename for the weather pipeline's all-or-nothing
  commit (``weather.py:1646-1660``, ST3). The reference's ``executemany``
  bulk insert (``src/common/database.py:123-127``) is a single
  ``df.write.parquet`` here — no row-at-a-time path exists.

Scale: every kernel is a single keyed join or union — one shuffle on the
MERGE key, map-side pruned columns, no collect. Partition overwrite touches
only the partitions present in the new data (dynamic mode), so a re-run of
one (master, farm) slice never rewrites the table.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _val_cols(df: DataFrame, keys: Sequence[str]) -> list[str]:
    return [c for c in df.columns if c not in keys]


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    partial: bool | Sequence[str] = False,
) -> DataFrame:
    """Keyed MERGE: update matched rows from ``updates``, insert unmatched.

    ``partial`` selects NVL(:new, old) column semantics — a NULL in the
    update row keeps the target's value (the reference's RAIN_PROB partial
    update): ``True`` applies it to every value column, a list applies it to
    just those columns (the reference mixes both styles in one MERGE).

    Requires both sides to share the schema. One full-outer join on the
    keys; updates must be unique per key (enforce upstream — the reference's
    MERGE has the same precondition).
    """
    keys = list(keys)
    vals = _val_cols(target, keys)
    if set(vals) != set(_val_cols(updates, keys)):
        raise ValueError("merge_upsert: target/updates value columns differ")
    partial_cols = set(vals) if partial is True else set(partial or ())
    unknown = partial_cols - set(vals)
    if unknown:
        # A typo'd (or key) column here would silently degrade to
        # full-overwrite semantics — NULLs clobbering real values is the
        # exact corruption `partial` exists to prevent, so fail loudly.
        raise ValueError(
            f"merge_upsert: partial columns {sorted(unknown)} are not value "
            f"columns (value columns: {sorted(vals)})"
        )
    t = target.select(*keys, *vals, F.lit(1).alias("__in_t"))
    u = updates.select(
        *keys, *[F.col(c).alias(f"__u_{c}") for c in vals], F.lit(1).alias("__in_u")
    )
    j = t.join(u, keys, "full_outer")
    out_cols: list[Column] = [F.col(k) for k in keys]
    for c in vals:
        new, old = F.col(f"__u_{c}"), F.col(c)
        if c in partial_cols:
            merged = F.coalesce(new, old)
        else:
            merged = F.when(F.col("__in_u").isNotNull(), new).otherwise(old)
        out_cols.append(merged.alias(c))
    return j.select(*out_cols)


def merge_upsert_scoped(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    partition_by: Sequence[str],
    partial: bool | Sequence[str] = False,
) -> DataFrame:
    """Partition-pruned MERGE: the target is filtered to ONLY the partitions
    present in ``updates`` before the full-outer join, and the returned
    frame is the merged content of those partitions alone.

    This is the 100 TB upsert path: a one-day update batch joins one day of
    the target, not the whole table — pair with :func:`overwrite_partitions`
    so the physical write is equally scoped. The partition values are
    collected to the driver (a micro-batch touches a bounded set of
    partitions) and pushed into the scan as a literal predicate, so parquet
    partition pruning applies.

    Precondition: ``partition_by ⊆ keys`` — a MERGE key must not be able to
    move between partitions, else its old row would be left stale outside
    the merge scope. Enforced here.
    """
    partition_by = list(partition_by)
    missing = [p for p in partition_by if p not in keys]
    if missing:
        raise ValueError(
            f"merge_upsert_scoped: partition columns {missing} must be part of "
            f"the merge keys, else rows could move partitions and go stale"
        )
    pred = partition_predicate(updates, partition_by)
    if pred is None:
        return updates  # empty batch: nothing to merge
    return merge_upsert(target.filter(pred), updates, keys, partial=partial)


MAX_COLLECTED_PARTITIONS = 10_000


def partition_predicate(
    updates: DataFrame, partition_by: Sequence[str]
) -> Column | None:
    """Literal predicate over the distinct partition tuples present in
    ``updates`` (None for an empty batch). The tuples are collected to the
    driver — a batch touches a bounded set of partitions — and pushed into
    the target scan as literals, so parquet partition pruning applies.

    Guarded at ``MAX_COLLECTED_PARTITIONS``: the collect is safe only
    because partition columns are coarse (grid cell, date). A mis-keyed
    call — say partitioning by a row-grain id — would try to pull millions
    of tuples onto the driver and OOM it at scale; failing fast with the
    offending column list is the better outcome (VERDICT r5).
    """
    parts = (
        updates.select(*partition_by)
        .distinct()
        .limit(MAX_COLLECTED_PARTITIONS + 1)
        .collect()
    )
    if len(parts) > MAX_COLLECTED_PARTITIONS:
        raise ValueError(
            f"partition_predicate: more than {MAX_COLLECTED_PARTITIONS} distinct "
            f"partition tuples for {list(partition_by)} — these columns look "
            f"row-grain, not partition-grain; refusing to collect them"
        )
    if not parts:
        return None
    pred = None
    for row in parts:
        clause = None
        for p in partition_by:
            # eqNullSafe (<=>): a NULL partition value must SELECT the
            # NULL-partition rows, not silently match nothing — with plain
            # ==, a batch touching the __HIVE_DEFAULT_PARTITION__ would
            # exclude the target's NULL-partition rows from the merge scope
            # and the dynamic overwrite would then delete them.
            c = F.col(p).eqNullSafe(F.lit(row[p]))
            clause = c if clause is None else (clause & c)
        pred = clause if pred is None else (pred | clause)
    return pred


def merge_upsert_versioned(
    target: DataFrame, updates: DataFrame, keys: Sequence[str], version: str
) -> DataFrame:
    """MERGE where the row with the greatest ``version`` wins per key —
    incoming rows win version ties (the conditional
    ``WHEN MATCHED AND s.version >= t.version THEN UPDATE`` shape).

    Unlike plain :func:`merge_upsert`, the result is independent of the
    ORDER batches are applied in: replaying micro-batches out of order
    (coarse file mtimes, source re-listing, backfill) converges to the same
    sink state, because precedence is carried IN the data, not by arrival.
    One shuffle on ``keys``.
    """
    keys = list(keys)
    tagged = target.withColumn("__src", F.lit(0)).unionByName(
        updates.withColumn("__src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col(version).desc(), F.col("__src").desc()
    )
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src")
    )


def insert_if_absent(
    target: DataFrame, updates: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """MERGE with only WHEN NOT MATCHED: existing keys win, new keys append.

    left-anti + union — the exact plan the reference's comment asks for.
    """
    keys = list(keys)
    fresh = updates.join(target.select(*keys), keys, "left_anti")
    return target.unionByName(fresh)


def delete_matching(target: DataFrame, pred: Column) -> DataFrame:
    """Idempotent section delete: drop rows matching the section predicate
    (the DELETE every processor runs before re-inserting its GUBUN slice)."""
    return target.filter(~pred | pred.isNull())


def delete_then_insert(
    target: DataFrame, replacement: DataFrame, pred: Column
) -> DataFrame:
    """Delete-by-predicate then bulk insert — idempotent re-run of a scope.

    The caller guarantees ``replacement`` rows all satisfy ``pred`` (same
    contract as the reference's delete-by-UK-then-insert saver).
    """
    return delete_matching(target, pred).unionByName(replacement)


def cascade_delete(
    master: DataFrame,
    detail: DataFrame,
    keys: Sequence[str],
    scope_pred: Column,
) -> tuple[DataFrame, DataFrame]:
    """S13 scoped cascading delete with the emptiness gate
    (``/root/reference/src/weekly/orchestrator.py:828-881``): detail rows in
    scope are deleted; a master row is deleted ONLY when it was touched by
    the scope AND has no detail rows left. Masters outside the scope are
    never examined (the reference iterates only the masters being cleared),
    so a pre-orphaned master is not swept up as a side effect.

    Returns (master_after, detail_after). Two key-shuffles on the master
    key, both over the (small) distinct key sets.
    """
    keys = list(keys)
    touched = detail.filter(scope_pred).select(*keys).distinct()
    detail_after = delete_matching(detail, scope_pred)
    remaining = detail_after.select(*keys).distinct()
    emptied = touched.join(remaining, keys, "left_anti")
    master_after = master.join(emptied, keys, "left_anti")
    return master_after, detail_after


def replace_by_key(
    target: DataFrame, replacement: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """DELETE-by-each-row's-UK then bulk INSERT, set form (S10 — the
    productivity saver's per-row ``DELETE WHERE FARM_NO=... AND PCODE=...``
    loop, ``/root/reference/src/collectors/productivity.py:375-451``): every
    target row whose key tuple appears in ``replacement`` is dropped
    (left-anti on the keys), then the replacement is appended.

    Unlike :func:`delete_then_insert` the scope is the replacement's OWN
    key set, not a static predicate — the idempotent re-run form when the
    batch decides what it covers. One anti-join shuffle on the UK.
    """
    keys = list(keys)
    kept = target.join(replacement.select(*keys).distinct(), keys, "left_anti")
    return kept.unionByName(replacement)


def with_surrogate_key(
    df: DataFrame, name: str, order_by: Sequence[str], start: int = 1
) -> DataFrame:
    """Deterministic dense surrogate ids (replaces SEQ_*.NEXTVAL).

    ``row_number`` over an explicit total order: reproducible across runs —
    unlike ``monotonically_increasing_id`` whose values depend on partition
    layout. The global window is acceptable for output-row id assignment
    (bounded report rows); for fact-scale keys prefer composite natural keys.
    """
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(name, F.row_number().over(w) + F.lit(start - 1))


# --- physical parquet sinks ------------------------------------------------


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: Sequence[str]
) -> None:
    """Dynamic partition overwrite: rewrite ONLY the partitions present in
    ``df``, leave every other partition untouched (the parquet equivalent of
    ``replaceWhere`` / the reference's delete-by-UK-then-insert)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def staged_overwrite(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
) -> None:
    """All-or-nothing table replace (ST3): materialize to a staging dir,
    then atomically swap. If the job fails mid-write the live table is
    untouched — the reference refuses to save partial weather batches for
    the same reason (``weather.py:1646-1660``). ``partition_by`` writes the
    staging copy hive-partitioned, preserving a partitioned sink's layout
    through the swap.

    LOCAL-FS ONLY: the swap is ``os.rename``-based, so ``s3://``/``hdfs://``
    sink paths are unsupported — see :func:`compact` for the upgrade path
    (Hadoop FileSystem API, or Delta/Iceberg where MERGE/OPTIMIZE replace
    this machinery wholesale).
    """
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    backup = f"{path}__old_{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    try:
        writer.parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    live_moved = False
    try:
        if os.path.exists(path):
            os.rename(path, backup)
            live_moved = True
        os.rename(staging, path)
    except BaseException:
        # The backup may be the ONLY copy of the live table here — put it
        # back before cleaning up; never delete it while the swap is unmade.
        if live_moved and not os.path.exists(path):
            os.rename(backup, path)
        shutil.rmtree(staging, ignore_errors=True)
        raise
    # Swap verifiably succeeded — only now is the old copy redundant.
    if live_moved:
        shutil.rmtree(backup, ignore_errors=True)


def read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a parquet dir, or an empty frame with the given schema if the
    sink doesn't exist yet (first run of an incremental pipeline)."""
    if os.path.exists(path):
        return spark.read.schema(schema).parquet(path)
    return spark.createDataFrame([], schema)


def land_slice(
    spark: SparkSession,
    path: str,
    new: DataFrame,
    keys: Sequence[str],
    keep: Column | None = None,
) -> None:
    """Land ``new`` into the parquet table at ``path``: prior rows whose
    ``keys`` tuple appears in ``new`` are replaced (S12), the rest stay, and
    the result commits through the atomic staged swap (ST3). ``keep``
    filters the prior state first (a delete policy); ``lit(False)`` starts
    empty."""
    prior = read_or_empty(spark, path, new.schema)
    if keep is not None:
        prior = prior.filter(keep)
    staged_overwrite(spark, replace_by_key(prior, new, keys), path)


def align_schemas(
    df: DataFrame, reference: DataFrame, allow_extra: bool = False
) -> DataFrame:
    """Schema-evolution shim for the MERGE kernels: add the reference's
    missing columns to ``df`` as typed NULLs and order columns identically,
    so an older-schema batch can merge into an evolved sink (the
    mergeSchema posture without rewriting history).

    Extra columns in ``df`` (not in ``reference``) are an error unless
    ``allow_extra`` — silently dropping data is never the default.
    """
    ref_fields = {f.name: f for f in reference.schema.fields}
    extra = [c for c in df.columns if c not in ref_fields]
    if extra and not allow_extra:
        raise ValueError(
            f"align_schemas: columns {extra} are not in the reference schema; "
            f"pass allow_extra=True to drop them explicitly"
        )
    cols = [
        F.col(name) if name in df.columns else F.lit(None).cast(f.dataType).alias(name)
        for name, f in ref_fields.items()
    ]
    return df.select(*cols)


def compact(
    spark: SparkSession,
    path: str,
    target_partitions: int,
    partition_by: Sequence[str] | None = None,
    schema: str | None = None,
) -> None:
    """Small-file compaction: rewrite a parquet dir into ``target_partitions``
    files via the staged atomic swap (readers never observe a half-compacted
    table). Micro-batch upsert sinks accrete a file per batch; periodic
    compaction keeps scan task counts and footer overhead bounded — at
    cluster scale, schedule it like any other idempotent maintenance job.

    A hive-partitioned sink MUST pass its ``partition_by`` (and should pass
    the sink ``schema``): the rewrite then preserves the directory layout
    the scoped merge paths depend on — compacting a partitioned sink flat
    would make the next ``overwrite_partitions`` batch orphan every other
    partition's data. The guard below refuses the unpartitioned rewrite if
    the directory visibly has hive-style partition dirs. Passing ``schema``
    also pins partition-column TYPES (a bare read re-infers them from the
    directory names, which can silently flip e.g. a zero-padded day string
    to int).

    ``coalesce`` (no shuffle) — compaction only ever reduces file count.

    LOCAL-FS ONLY: the hive-partition guard (and ``staged_overwrite``'s
    rename swap) walk the path with ``os.listdir``/``shutil``, which never
    sees ``s3://``/``hdfs://`` URIs — on an object store the guard would
    silently pass and the swap would fail. When object-store sinks land,
    route the listing/rename through the Hadoop FileSystem API (or switch
    the sink to Delta/Iceberg, whose OPTIMIZE subsumes this entirely).
    """
    if partition_by is None:
        hive_dirs = [
            d for d in os.listdir(path)
            if "=" in d and os.path.isdir(os.path.join(path, d))
        ]
        if hive_dirs:
            raise ValueError(
                f"compact: {path} is hive-partitioned ({hive_dirs[0]}, ...) — "
                "pass partition_by to preserve the layout; a flat rewrite "
                "would break every partition-scoped merge that follows"
            )
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.parquet(path).coalesce(target_partitions)
    staged_overwrite(spark, df, path, partition_by=partition_by)
