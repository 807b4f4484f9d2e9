"""Merge-on-read DELETEs over the transactional catalog (r16).

The reference mutates rows in place — UPDATE..WHERE expires SCD-2 rows
(dynamic_upsert.py:110-127, the M4 surface) and relies on the warehouse
to rewrite affected blocks. The catalog's copy-on-write answer rewrites
the whole table version, which is correct but absurd at 100 TB when a
GDPR/right-to-be-forgotten batch touches 0.01% of rows: you do not
rewrite 100 TB to delete 10 GB. The industry answer (Iceberg v2 delete
files, Delta deletion vectors) is MERGE-ON-READ: record WHICH rows are
deleted as a tiny side table, apply it as an anti-join at read time,
and fold it into the base lazily at the next compaction.

This module implements that posture with ZERO catalog-format changes:
the deletion vector for table ``T`` is just another catalog table
``T__dv`` holding the deleted keys, committed in the SAME atomic
manifest as any other staging — so "delete batch lands" and "base +
dv flip together at compaction" both inherit the one-HEAD-swap
guarantee Catalog already proves.

Scale shape: a dv is keys-only (KBs-MBs for realistic delete rates).
This module only WRITES it: the one logical-state reader
(``mor_upsert.read_logical``) applies it as a broadcast LEFT ANTI join
pinned to the base scan — no shuffle of the 100 TB side — and the one
fold (``mor_upsert.fold``) rewrites the base with every side table
applied and empties the dv IN ONE TRANSACTION: readers see either
(old base, full dv) or (new base, empty dv) — never a double-delete or
a resurrection.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.txn import (
    Catalog,
    _detect_partition_cols,
    _version_dir,
    retry_on_conflict,
)

_DV_SUFFIX = "__dv"


def dv_table(name: str) -> str:
    return name + _DV_SUFFIX


def base_partition_cols(
    cat: Catalog, name: str, manifest: int | None
) -> tuple[str, ...]:
    """Partition layout of ``name``'s version in ``manifest`` — the
    merge-on-read fold passes this to its base rewrite so a
    partitioned table STAYS partitioned across folds (r18: a fold that
    silently flattened the layout broke partition pruning for every
    later reader)."""
    versions = cat._manifest_tables(manifest)
    if name not in versions:
        return ()
    return _detect_partition_cols(
        _version_dir(cat.table_dir(name), versions[name])
    )


def delete_where(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    predicate,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> int:
    """DELETE FROM name WHERE predicate — merge-on-read: append the
    matching keys to the deletion vector (distinct union with any
    existing dv) and commit ONLY the tiny dv table. The base version
    directory is untouched; the delete is visible to every
    ``mor_upsert.read_logical`` the instant the manifest swaps.
    Returns the new manifest id.

    Concurrency: the commit is CAS-guarded by the transaction's
    expected-head snapshot, so a racing writer on the same branch
    cannot be silently dropped — the loser's commit raises and this
    function RETRIES from a fresh read of the dv (the Iceberg/Delta
    delete-commit posture: read-union-CAS until it lands, bounded).

    Composition with merge-on-read upserts (ADVICE r17): when a
    ``name__delta`` side table exists, touched keys' CURRENT values
    live in the delta, not the base — so the predicate evaluates over
    the merged logical view ((base ANTI delta-keys) ∪ delta) within
    the same snapshot. Without this, DELETE WHERE on a non-key column
    missed rows upserted INTO the predicate and wrongly deleted keys
    upserted OUT of it. The dv itself is not applied to this view: a
    key already in the dv stays there whatever the predicate says, so
    applying it would cost a broadcast job and change no written key."""

    def attempt():
        # all reads go through the TRANSACTION'S snapshot
        # (read_committed), so the union is of exactly the state
        # the commit CASes against — no TOCTOU window between a
        # current-head read and the snapshot
        with cat.transaction(branch=branch) as t:
            current = t.read_committed(spark, name)
            try:
                # lazy import: mor_upsert imports this module
                from .mor_upsert import delta_table

                delta = t.read_committed(spark, delta_table(name))
                current = current.join(
                    F.broadcast(delta.select(*key_cols)),
                    on=list(key_cols),
                    how="left_anti",
                ).unionByName(delta)
            except FileNotFoundError:
                pass
            keys = (
                current.filter(predicate)
                .select(*key_cols)
                .distinct()
            )
            try:
                existing = t.read_committed(spark, dv_table(name))
                keys = keys.unionByName(
                    existing.select(*key_cols)
                ).distinct()
            except FileNotFoundError:
                pass
            t.overwrite(keys, dv_table(name))
        # the manifest THIS commit published — not a head re-read,
        # which a racing writer could have moved past (ADVICE r16)
        return t.committed_manifest

    return retry_on_conflict(attempt)
