"""Merge-on-read UPSERT over the transactional catalog (r17).

The reference's UPDATE..WHERE (dynamic_upsert.py:110-127) and the
repo's MERGE key (x_merge_into) rewrite the whole table version —
correct, and absurd at 100 TB when a CDC batch touches 0.01% of rows.
``operators/deletes.py`` (r16) already solved the DELETE half with a
keys-only deletion vector; this module completes the write side with
the Hudi-MOR / Iceberg-v2 posture for UPDATE+INSERT:

- upserted rows land in a tiny DELTA table (``T__delta``) holding the
  LATEST version of each touched key — the "log file" of a Hudi
  merge-on-read table;
- the base version directory is untouched;
- ``read_upserted`` resolves the logical state with one broadcast
  anti-join + union: (base ANTI delta-keys) ∪ delta — the base side
  never shuffles, the delta is small by contract;
- ``compact_upserts`` folds the delta into a new base and empties it
  in ONE atomic manifest commit (readers see either (old base, full
  delta) or (new base, empty delta), never both or neither).

Composition with deletes: both side tables are ordinary catalog
tables, so a transaction can carry a delete batch and an upsert batch
together, and the combined reader applies ((base ANTI delta) ANTI dv)
∪ (delta ANTI dv) — a delete always beats a stale upsert of the same
key because the dv is applied LAST.

Concurrency: same CAS-retry posture as deletes.py — reads go through
the transaction snapshot, the commit loses to any racing writer on the
branch and retries from a fresh union, so concurrent upsert batches
merge instead of clobbering (proven in tests/test_mor_upsert.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources.txn import Catalog, retry_on_conflict
from .deletes import _read_dv_asof, base_partition_cols, dv_table

_DELTA_SUFFIX = "__delta"


def delta_table(name: str) -> str:
    return name + _DELTA_SUFFIX


def _latest_per_key(df: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    """One row per key, deterministic: the greatest non-key attribute
    tuple wins (a CDC batch can deliver several versions of a key)."""
    others = [c for c in df.columns if c not in key_cols]
    if not others:
        # keys-only batch: every version of a key is identical
        return df.distinct()
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc_nulls_last() for c in others]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_into(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> int:
    """UPSERT (update-or-insert by key) as a merge-on-read delta
    commit: the batch replaces same-key rows in — and unions into —
    the existing delta; the base version directory is untouched. The
    write cost is O(touched keys), never O(table). A table with no
    committed base yet takes the batch AS the base (the first upsert
    IS the initial load — without this the rows would commit into an
    unreadable delta-only black hole; code-review r17). An upsert
    RESURRECTS a previously deleted key: the same commit rewrites the
    deletion vector as dv ANTI batch-keys — without this the
    dv-applies-last read suppressed the fresh upsert and the logical
    state became compaction-order-dependent (compact_deletes emptied
    the dv and resurrected the stale row; compact_upserts-first
    dropped the upsert forever; ADVICE r17). Returns the commit's own
    manifest id."""

    def attempt():
        with cat.transaction(branch=branch) as t:
            batch = _latest_per_key(updates, key_cols)
            # CHECK constraints declared on the BASE table bind the
            # logical rows this upsert introduces, even though the
            # physical write targets the __delta side table —
            # without this the delta was a constraint bypass whose
            # violating rows later wedged every compaction
            # (code-review r18)
            t._enforce_constraints(batch, name)
            if name not in cat._manifest_tables(t._expected_head):
                # first write IS the initial load
                t.overwrite(batch, name)
            else:
                try:
                    existing = t.read_committed(spark, delta_table(name))
                    # the batch wins over the stored delta for its
                    # keys
                    merged = batch.unionByName(
                        existing.join(
                            F.broadcast(batch.select(*key_cols)),
                            on=list(key_cols),
                            how="left_anti",
                        )
                    )
                except FileNotFoundError:
                    merged = batch
                t.overwrite(merged, delta_table(name))
                # resurrect: drop the batch's keys from the dv in
                # the SAME atomic commit, so dv-applies-last never
                # hides a newer upsert (ADVICE r17)
                try:
                    dv = t.read_committed(spark, dv_table(name))
                    t.overwrite(
                        dv.join(
                            F.broadcast(batch.select(*key_cols)),
                            on=list(key_cols),
                            how="left_anti",
                        ),
                        dv_table(name),
                    )
                except FileNotFoundError:
                    pass
        return t.committed_manifest

    return retry_on_conflict(attempt)


def read_upserted(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> DataFrame:
    """The table's LOGICAL state under merge-on-read writes:
    ((base ANTI delta-keys) ∪ delta) ANTI dv. Base, delta, and dv all
    resolve from ONE pinned manifest snapshot (the deletes.py ADVICE
    r16 lesson applied from birth), so a compaction or delete landing
    mid-read can never mix generations. The dv applies LAST: a deleted
    key stays deleted even if a stale delta row for it survives until
    the next compaction."""
    h = cat.head(branch)
    if h is None:
        return cat.read(spark, name, branch)  # surfaces FileNotFoundError
    base = cat.read_asof(spark, name, h)
    try:
        delta = cat.read_asof(spark, delta_table(name), h)
    except FileNotFoundError:
        delta = None
    if delta is not None:
        base = base.join(
            F.broadcast(delta.select(*key_cols)),
            on=list(key_cols),
            how="left_anti",
        ).unionByName(delta)
    dv = _read_dv_asof(cat, spark, name, h)
    if dv is not None:
        base = base.join(F.broadcast(dv), on=list(key_cols), how="left_anti")
    return base


def compact_full(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...],
    branch: str = "main",
    n_files: int | None = None,
) -> int | None:
    """Fold the upsert delta AND the key deletion vector into the base
    in ONE rewrite + ONE atomic manifest commit — the Hudi/Iceberg
    compaction shape (apply every log file in a single pass) and the
    reason retention runs this instead of compact_upserts followed by
    compact_deletes: at 100 TB the base rewrite IS the cost, so two
    sequential folds double it for nothing. The merged plan is the
    read path itself — ((base ANTI delta-keys) ∪ delta) ANTI dv — so
    reads are identical across the swap by construction. Optional
    ``n_files`` repartitions the rewrite (retention folds file-count
    debt in the same pass). Returns the commit's manifest id, or None
    when neither side table has rows AND no repartition was requested."""

    def attempt():
        with cat.transaction(branch=branch) as t:

            def _side(side_name: str) -> DataFrame | None:
                # footer-count fast path for the emptiness test
                # (no Spark job; falls back to a scan — r19)
                try:
                    df = t.read_committed(spark, side_name)
                    nrows = t.committed_rows(side_name)
                except FileNotFoundError:
                    return None
                if nrows == 0 or (nrows is None and df.isEmpty()):
                    return None
                return df

            delta = _side(delta_table(name))
            dv = _side(dv_table(name))
            if delta is None and dv is None and n_files is None:
                return None
            from .positional_deletes import (
                guard_no_pending_positional_deletes,
            )

            guard_no_pending_positional_deletes(
                cat, spark, name, t._expected_head
            )
            merged = t.read_committed(spark, name)
            if delta is not None:
                merged = merged.join(
                    F.broadcast(delta.select(*key_cols)),
                    on=list(key_cols),
                    how="left_anti",
                ).unionByName(delta)
            if dv is not None:
                merged = merged.join(
                    F.broadcast(dv.select(*key_cols)),
                    on=list(key_cols),
                    how="left_anti",
                )
            if n_files is not None:
                merged = merged.repartition(max(1, n_files))
            t.overwrite(
                merged, name,
                base_partition_cols(cat, name, t._expected_head),
            )
            if delta is not None:
                t.truncate(delta, delta_table(name))
            if dv is not None:
                t.truncate(dv, dv_table(name))
        return t.committed_manifest

    return retry_on_conflict(attempt)


def evolve_upserted_schema(
    cat: Catalog,
    name: str,
    ops: list[dict],
    branch: str = "main",
) -> int:
    """Schema-evolve a merge-on-read table: record the op list for the
    BASE and — when they exist in the current manifest — its ``__delta``
    and ``__dv`` side tables in ONE metadata commit (ADVICE r17:
    ``Catalog.evolve_schema`` records ops per table name, so evolving
    only the base left a pre-evolution delta that made
    ``read_upserted``'s unionByName fail loudly). Replay is idempotent
    per file generation, so a keys-only dv that lacks the op's column
    is unaffected by renames of other columns and simply gains nothing
    from drops of columns it never had."""
    from ..sources.txn import _validate_schema_ops

    _validate_schema_ops(ops)
    if not ops:
        raise ValueError("evolve_upserted_schema: empty op list")
    head = cat.head(branch)
    tables = cat._manifest_tables(head)
    schema_ops = {name: list(ops)}
    for side in (delta_table(name), dv_table(name)):
        if side in tables:
            schema_ops[side] = list(ops)
    return cat._commit(
        {}, expected_head=head, branch=branch, schema_ops=schema_ops
    )


def compact_upserts(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...],
    branch: str = "main",
) -> int | None:
    """Fold the delta into the base — rewrite (base ANTI delta) ∪ delta
    as the new base AND empty the delta in ONE manifest commit. A
    racing upsert makes this commit lose its CAS and retry with the
    larger delta, so nothing is ever silently dropped. Returns this
    compaction's own manifest id, or None when there was no delta to
    fold (no commit happened — a head re-read here could attribute a
    racing writer's manifest to this no-op; code-review r17)."""

    def attempt():
        with cat.transaction(branch=branch) as t:
            try:
                delta = t.read_committed(spark, delta_table(name))
                nrows = t.committed_rows(delta_table(name))
            except FileNotFoundError:
                return None
            if nrows == 0 or (nrows is None and delta.isEmpty()):
                # nothing to fold — never rewrite the base for an
                # already-compacted delta (r18)
                return None
            from .positional_deletes import (
                guard_no_pending_positional_deletes,
            )

            guard_no_pending_positional_deletes(
                cat, spark, name, t._expected_head
            )
            merged = (
                t.read_committed(spark, name)
                .join(
                    F.broadcast(delta.select(*key_cols)),
                    on=list(key_cols),
                    how="left_anti",
                )
                .unionByName(delta)
            )
            t.overwrite(
                merged, name,
                base_partition_cols(cat, name, t._expected_head),
            )
            t.truncate(delta, delta_table(name))
        return t.committed_manifest

    return retry_on_conflict(attempt)
