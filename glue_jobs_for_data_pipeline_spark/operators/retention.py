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
``RetentionPolicy``, and run only the folds that are due, each through
its existing atomic one-manifest compaction primitive:

- positional deletes fold FIRST (``compact_positional_deletes``) —
  they anchor to physical files, so they must resolve before any
  rewrite invalidates them;
- the streaming ledger folds to ONE row per app_id (the max batch id —
  Delta keeps exactly this, the latest ``txn`` version per appId;
  Structured Streaming batch ids are monotonic per checkpoint, so the
  max is a complete replay test) when it exceeds
  ``max_ledger_rows_per_app`` x apps — metadata-only;
- everything REWRITE-shaped shares ONE pass: the upsert-delta fold
  (due past ``max_side_ratio`` x base bytes or ``max_side_bytes``),
  the key-dv fold (same thresholds), and the file-count compaction
  (due past ``max_base_files``, repartitioned to ``target_file_bytes``)
  all run as a single ``mor_upsert.compact_full`` rewrite + one atomic
  commit — at 100 TB the base rewrite IS the cost, so sequential folds
  would double or triple it.

Reads are IDENTICAL before and after every step (each fold's own
invariant, proven by the compaction primitives' tests and the
``x_storage_retention_policy`` oracle key); the policy only changes
the physical layout. Safe to run from a cron/maintenance thread while
writers stream: every fold commits through the CAS-retry bracket, so
racing batches serialize instead of losing updates.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.txn import Catalog, _version_dir, retry_on_conflict
from . import deletes as _deletes
from . import mor_upsert as _mor
from . import positional_deletes as _pdel


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
    ``policy`` (see module docstring for the order and why). Returns
    {action: ran} for observability. ``key_cols`` is required only
    when a delta or key-dv side table exists."""
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

    # Decide what is due FIRST — the pdv fold must run before ANY
    # rewrite-shaped fold, not only before file compaction
    # (code-review r18: a delta-only fold with a sub-threshold pdv
    # stranded its anchors and resurrected the deleted rows).
    delta_due = _side_due(
        base, table_stats(cat, _mor.delta_table(name), branch), policy
    )
    dv_due = _side_due(
        base, table_stats(cat, _deletes.dv_table(name), branch), policy
    )
    files_due = (
        policy.max_base_files is not None
        and base["files"] > policy.max_base_files
    )
    pdv_stats = table_stats(cat, _pdel.pdv_table(name), branch)
    pdv_pending = pdv_stats is not None and _pdel.has_pending_positional_deletes(
        cat, spark, name, cat.head(branch)
    )
    pdv_due = _side_due(base, pdv_stats, policy)

    # 1) positional deletes: fold when due by size, OR (whatever their
    # size) whenever a base rewrite is about to run
    if pdv_pending and (pdv_due or delta_due or dv_due or files_due):
        actions["fold_positional_deletes"] = (
            _pdel.compact_positional_deletes(cat, spark, name, branch)
            is not None
        )
        base = table_stats(cat, name, branch)

    # 2) streaming ledger (metadata-only, independent of the rewrite)
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

    # 3) ONE combined rewrite for everything rewrite-shaped: the upsert
    # delta fold, the key-dv fold, and the file-count compaction all
    # cost a base rewrite, so whichever subset is due shares a single
    # pass + a single atomic commit (mor_upsert.compact_full) — at
    # 100 TB sequential folds would double or triple the round's
    # dominant cost. Key-matched side tables survive a rewrite, so
    # ordering vs the ledger/pdv steps above is free.
    if delta_due or dv_due or files_due:
        if (delta_due or dv_due) and not key_cols:
            raise ValueError(
                f"retention on {name!r}: delta/dv fold due but no key_cols"
            )
        n_files = None
        if files_due:
            import math

            n_files = max(
                1, math.ceil(base["bytes"] / policy.target_file_bytes)
            )
        # A positional delete can land BETWEEN the pdv fold above and
        # this rewrite (they are separate transactions); the rewrite
        # primitives then refuse via guard_no_pending_positional_
        # deletes. Re-fold the fresh pdv and retry, bounded — the
        # maintenance pass must serialize with live writers, not crash
        # the cron job (ADVICE r18).
        _PDV_RACE_RETRIES = 4
        if key_cols:

            def rewrite() -> bool:
                return (
                    _mor.compact_full(
                        cat, spark, name, key_cols, branch, n_files=n_files
                    )
                    is not None
                )

        else:  # files_due only, keyless table: plain sized rewrite

            def rewrite() -> bool:
                retry_on_conflict(
                    lambda: cat.compact_table(
                        spark,
                        name,
                        target_file_bytes=policy.target_file_bytes,
                        branch=branch,
                    )
                )
                return True

        for pdv_attempt in range(_PDV_RACE_RETRIES):
            try:
                ran = rewrite()
                break
            except ValueError as exc:
                if "pending positional deletes" not in str(exc) or (
                    pdv_attempt == _PDV_RACE_RETRIES - 1
                ):
                    raise
                if (
                    _pdel.compact_positional_deletes(cat, spark, name, branch)
                    is not None
                ):
                    actions["fold_positional_deletes"] = True
        actions["fold_upsert_delta"] = delta_due and ran
        actions["fold_deletion_vector"] = dv_due and ran
        actions["compact_base_files"] = files_due and ran

    return actions
