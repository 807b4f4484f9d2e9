"""Size-triggered RETENTION/compaction policy for merge-on-read chains
(r18 — VERDICT r17 task #3).

Every merge-on-read structure in this engine trades write cost for
read-side debt: upserts accumulate in ``T__delta``, deletes in
``T__dv`` / ``T__pdv``, exactly-once streaming appends accumulate part
files in the base and rows in the ``T__commits`` ledger. Each is
bounded per commit but UNBOUNDED over a long run — the classic
lakehouse failure mode (a streaming table with 100k tiny files, a
delete vector rivaling its base). The industry answer is a background
maintenance policy (Delta OPTIMIZE + auto-compaction thresholds, Hudi
compaction strategies, Iceberg's rewrite_data_files) that folds debt
back into the base when it crosses size thresholds.

``enforce_retention`` is that policy as one idempotent call: measure
the current committed state (file counts + bytes from the version
directories — pure filesystem metadata, no scan), compare against a
``RetentionPolicy``, and run only the folds that are due:

- the streaming ledger folds to ONE row per app_id (the max batch id —
  Delta keeps exactly this, the latest ``txn`` version per appId;
  Structured Streaming batch ids are monotonic per checkpoint, so the
  max is a complete replay test) when it exceeds
  ``max_ledger_rows_per_app`` x apps — metadata-only;
- everything REWRITE-shaped is ONE ``mor_upsert.fold`` call: it runs
  when any side table (``__delta``, ``__dv``, ``__pdv``) is due past
  ``max_side_ratio`` x base bytes and ``max_side_bytes``, or the base
  is past ``max_base_files`` (then repartitioned to
  ``target_file_bytes``). The fold applies EVERY non-empty side table
  in one rewrite + one atomic commit — at 100 TB the base rewrite IS
  the cost, so sequential folds would double or triple it, and a
  positional delete can never be stranded by a rewrite that skipped
  it.

Reads are IDENTICAL before and after every step: the fold rewrites the
base with exactly the plan ``mor_upsert.read_logical`` returns (proven
by the property test in tests/test_mor_property.py and the
``x_storage_retention_policy`` oracle key); the policy only changes
the physical layout. Safe to run from a cron/maintenance thread while
writers stream: every fold commits through the CAS-retry bracket, so a
racing batch makes the fold retry and folds that batch too.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..sources.txn import Catalog, _version_dir, retry_on_conflict
from . import mor_upsert as _mor
from .deletes import dv_table
from .positional_deletes import pdv_table


@dataclass(frozen=True)
class RetentionPolicy:
    """Thresholds; None disables a dimension."""

    # fold a side table (delta/dv/pdv) when its bytes exceed BOTH the
    # absolute floor and the ratio of its base's bytes (the floor stops
    # pointless rewrites of a large base to fold a few KB of deletes)
    max_side_bytes: int | None = 8 << 20
    max_side_ratio: float | None = 0.10
    # rewrite the base into ~target-sized files past this file count
    max_base_files: int | None = 64
    target_file_bytes: int = 128 << 20
    # fold the streaming ledger past this many rows per app_id
    max_ledger_rows_per_app: int | None = 8


def table_stats(cat: Catalog, name: str, branch: str = "main") -> dict | None:
    """(files, bytes) of ``name``'s committed version directory on
    ``branch`` — pure filesystem metadata, no Spark scan. None when
    not committed. (Branch-aware since r18 code-review: main-only
    stats made enforce_retention's branch parameter a no-op.)"""
    versions = cat.manifest(branch)
    if name not in versions:
        return None
    vdir = _version_dir(cat.table_dir(name), versions[name])
    files = 0
    size = 0
    for root, _, names in os.walk(vdir):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                try:
                    size += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    return {"files": files, "bytes": size}


def _side_due(
    base: dict | None, side: dict | None, policy: RetentionPolicy
) -> bool:
    if side is None or side["bytes"] == 0 or base is None:
        return False
    if policy.max_side_bytes is None and policy.max_side_ratio is None:
        return False
    if (
        policy.max_side_bytes is not None
        and side["bytes"] < policy.max_side_bytes
    ):
        return False
    if (
        policy.max_side_ratio is not None
        and side["bytes"] < policy.max_side_ratio * max(base["bytes"], 1)
    ):
        return False
    return True


def fold_ledger(
    cat: Catalog, spark: SparkSession, name: str, branch: str = "main"
) -> int | None:
    """Fold the exactly-once commit ledger of ``name`` to ONE row per
    app_id carrying the MAX batch id (the complete replay test for
    monotonic Structured Streaming batch ids — the Delta txn-action
    retention). Returns the fold's manifest id, or None when the
    ledger is absent or already minimal."""
    from ..streaming.exactly_once import (
        _LEDGER_SCHEMA,
        LEDGER_GUARD_ROWS,
        ledger_table,
    )

    lname = ledger_table(name)

    def attempt():
        with cat.transaction(branch=branch) as t:
            # the ledger is metadata-sized by contract (one row per
            # micro-batch per app) — fold it driver-side with ZERO
            # Spark jobs (direct parquet read + driver-written
            # stage, r20; r19 had already collapsed the old three
            # jobs to one read). A ledger past the growth guard —
            # the very debt this fold repairs when the contract
            # was ignored — folds through the distributed groupBy
            # instead of materializing on the driver.
            try:
                vals = t.committed_values(
                    lname, max_rows=LEDGER_GUARD_ROWS
                )
            except FileNotFoundError:
                return None
            if vals is not None:
                folded: dict[str, int] = {}
                for v in vals:
                    a, b = v["app_id"], int(v["batch_id"])
                    folded[a] = max(folded.get(a, b), b)
                if len(vals) == len(folded):
                    return None  # already one row per app
                t.overwrite_small(
                    spark, sorted(folded.items()), _LEDGER_SCHEMA,
                    lname,
                )
            else:
                led = t.read_committed(spark, lname)
                napps, nrows = led.agg(
                    F.countDistinct("app_id"), F.count(F.lit(1))
                ).first()
                if nrows == napps:
                    return None  # already one row per app
                t.overwrite(
                    led.groupBy("app_id").agg(
                        F.max("batch_id").alias("batch_id")
                    ),
                    lname,
                )
        return t.committed_manifest

    # a streaming batch landing mid-fold makes the commit lose its CAS:
    # re-read and retry — the maintenance pass must serialize with live
    # writers, not crash the cron job (code-review r18)
    return retry_on_conflict(attempt)


def enforce_retention(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...] = (),
    policy: RetentionPolicy = RetentionPolicy(),
    branch: str = "main",
) -> dict[str, bool]:
    """Run every maintenance fold that is DUE for ``name`` under
    ``policy`` (see the module docstring). Returns {action: ran} for
    observability; a ``fold_*`` side-table action is True when the
    fold emptied that side table, whether or not it alone was due.
    ``key_cols`` is required only while a delta or key-dv has rows."""
    actions = {
        "fold_positional_deletes": False,
        "fold_upsert_delta": False,
        "fold_deletion_vector": False,
        "fold_ledger": False,
        "compact_base_files": False,
    }
    base = table_stats(cat, name, branch)
    if base is None:
        return actions
    sides_due = any(
        _side_due(base, table_stats(cat, side, branch), policy)
        for side in (
            _mor.delta_table(name), dv_table(name), pdv_table(name)
        )
    )
    files_due = (
        policy.max_base_files is not None
        and base["files"] > policy.max_base_files
    )

    # streaming ledger (metadata-only, independent of the rewrite)
    if policy.max_ledger_rows_per_app is not None:
        from ..streaming.exactly_once import LEDGER_GUARD_ROWS, ledger_table

        lstats = table_stats(cat, ledger_table(name), branch)
        if lstats is not None:
            try:
                # due-test from a driver-side parquet read when the
                # ledger is metadata-sized (no Spark job, r20); the
                # Spark aggregate only runs past the growth guard —
                # where the fold is certainly due anyway
                vals = cat.table_values(
                    ledger_table(name), branch, max_rows=LEDGER_GUARD_ROWS
                )
                if vals is not None:
                    napps = len({v["app_id"] for v in vals})
                    nrows = len(vals)
                else:
                    ledger = cat.read(spark, ledger_table(name), branch)
                    napps, nrows = (
                        ledger.agg(
                            F.countDistinct("app_id"), F.count(F.lit(1))
                        ).first()
                    )
                if nrows > policy.max_ledger_rows_per_app * max(napps, 1):
                    actions["fold_ledger"] = (
                        fold_ledger(cat, spark, name, branch) is not None
                    )
            except FileNotFoundError:
                pass

    # ONE fold for everything rewrite-shaped: whichever side tables or
    # file-count debt are due share a single base rewrite + a single
    # atomic commit, and the fold applies every non-empty side table
    if sides_due or files_due:
        n_files = None
        if files_due:
            import math

            n_files = max(
                1, math.ceil(base["bytes"] / policy.target_file_bytes)
            )
        m = _mor.fold(cat, spark, name, key_cols, branch, n_files=n_files)
        if m is not None:
            # a side table was folded iff the fold's commit emptied it
            new = cat._manifest_tables(m)
            old = cat._manifest_tables(cat._manifest_parent(m))
            folded = {t for t, v in new.items() if old.get(t) != v}
            actions["fold_upsert_delta"] = _mor.delta_table(name) in folded
            actions["fold_deletion_vector"] = dv_table(name) in folded
            actions["fold_positional_deletes"] = pdv_table(name) in folded
            actions["compact_base_files"] = files_due

    return actions
