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

Scale shape: a dv is keys-only (KBs-MBs for realistic delete rates),
so ``read_merged`` broadcasts it into a LEFT ANTI hash join pinned to
the base scan — no shuffle of the 100 TB side, and Catalyst pushes
base-table filters below the join as usual. ``compact_deletes``
rewrites base-minus-dv once (the expensive, parallel part) and resets
the dv to empty IN ONE TRANSACTION: readers see either (old base,
full dv) or (new base, empty dv) — never a double-delete or a
resurrection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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
    """Partition layout of ``name``'s version in ``manifest`` — every
    merge-on-read compaction passes this to its base rewrite so a
    partitioned table STAYS partitioned across folds (r18: a fold that
    silently flattened the layout broke partition pruning for every
    later reader)."""
    versions = cat._manifest_tables(manifest)
    if name not in versions:
        return ()
    return _detect_partition_cols(
        _version_dir(cat.table_dir(name), versions[name])
    )


def _read_dv_asof(
    cat: Catalog, spark: SparkSession, name: str, manifest: int
) -> DataFrame | None:
    try:
        return cat.read_asof(spark, dv_table(name), manifest)
    except FileNotFoundError:
        return None


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
    ``read_merged`` the instant the manifest swaps. Returns the new
    manifest id.

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
    upserted OUT of it."""

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


def read_merged(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> DataFrame:
    """The table's LOGICAL state: base rows minus deletion-vector keys,
    applied as a broadcast LEFT ANTI join (the dv is keys-only and
    small by contract; the base side never shuffles).

    Base and dv resolve from ONE pinned manifest snapshot (ADVICE
    r16): two independent head reads let a compact_deletes commit land
    between them, handing the reader old base + emptied dv — a
    resurrection of every compacted delete. Pinning head once makes
    the read atomic: either (old base, full dv) or (new base, empty
    dv), exactly the invariant compact_deletes's single manifest swap
    provides."""
    h = cat.head(branch)
    if h is None:
        # no commits on the branch yet; surface the same error
        # cat.read would (table cannot exist in an empty manifest)
        return cat.read(spark, name, branch)
    base = cat.read_asof(spark, name, h)
    dv = _read_dv_asof(cat, spark, name, h)
    if dv is None:
        return base
    return base.join(F.broadcast(dv), on=list(key_cols), how="left_anti")


def compact_deletes(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> int | None:
    """Fold the deletion vector into the base: rewrite base-minus-dv as
    the new base version AND reset the dv to empty, in ONE atomic
    manifest commit — a reader resolves either (old base, full dv) or
    (new base, empty dv), so the logical row set is identical on both
    sides of the swap. Returns this compaction's own manifest id, or
    None when there was no dv to fold (no commit happened — a head
    re-read here could attribute a racing writer's manifest to this
    no-op; code-review r17).

    Concurrency: a delete batch landing between this compaction's read
    and its commit would be silently resurrected if the commit won —
    the CAS makes the commit LOSE instead, and the retry re-reads the
    (now larger) dv and compacts it too.

    Composition with merge-on-read upserts (ADVICE r18): a deleted
    key whose CURRENT value lives in ``name__delta`` is invisible to
    the base-ANTI-dv rewrite — emptying the dv alone would let
    ``read_upserted`` re-surface it from the delta. The delta is
    therefore rewritten as delta ANTI dv in the SAME atomic commit,
    so the logical row set ((base ANTI delta) ∪ delta) ANTI dv is
    identical on both sides of the swap."""

    def attempt():
        with cat.transaction(branch=branch) as t:
            try:
                dv = t.read_committed(spark, dv_table(name))
                # footer-count fast path (no Spark job); falls back
                # to a scan when footers cannot answer (r19)
                nrows = t.committed_rows(dv_table(name))
            except FileNotFoundError:
                return None
            if nrows == 0 or (nrows is None and dv.isEmpty()):
                # nothing to fold — rewriting a 100 TB base to
                # apply zero deletes is not a no-op (r18)
                return None
            from .positional_deletes import (
                guard_no_pending_positional_deletes,
            )

            guard_no_pending_positional_deletes(
                cat, spark, name, t._expected_head
            )
            merged = t.read_committed(spark, name).join(
                F.broadcast(dv), on=list(key_cols), how="left_anti"
            )
            t.overwrite(
                merged, name,
                base_partition_cols(cat, name, t._expected_head),
            )
            try:
                # lazy import: mor_upsert imports this module
                from .mor_upsert import delta_table

                delta = t.read_committed(spark, delta_table(name))
                # an EMPTY delta needs no rewrite — delta ANTI dv
                # is still empty, and the anti-join write job is
                # exactly the fixed per-commit cost this fold
                # exists to avoid (ADVICE r19; footer count, no
                # Spark job — falls through to the rewrite when
                # footers cannot answer)
                if t.committed_rows(delta_table(name)) != 0:
                    t.overwrite(
                        delta.join(
                            F.broadcast(dv.select(*key_cols)),
                            on=list(key_cols),
                            how="left_anti",
                        ),
                        delta_table(name),
                    )
            except FileNotFoundError:
                pass
            t.truncate(dv, dv_table(name))
        # this commit's own manifest id (ADVICE r16), not a head
        # re-read a racing writer could have advanced
        return t.committed_manifest

    return retry_on_conflict(attempt)
