"""Merge-on-read UPSERT, and the ONE merge-on-read reader and fold
over the transactional catalog (r17).

The reference's UPDATE..WHERE (dynamic_upsert.py:110-127) and the
repo's MERGE key (x_merge_into) rewrite the whole table version —
correct, and absurd at 100 TB when a CDC batch touches 0.01% of rows.
A merge-on-read table ``T`` keeps its base version untouched and puts
each write into a side table beside it, each an ordinary catalog
table:

- ``T__delta`` (``upsert_into``, this module): the LATEST version of
  each upserted key — the "log file" of a Hudi merge-on-read table;
- ``T__dv`` (``deletes.delete_where``): deleted keys — the Iceberg v2
  equality delete / Delta deletion vector;
- ``T__pdv`` (``positional_deletes.delete_where_positional``): deleted
  (file, row) positions — the Iceberg v2 positional delete.

One private plan, ``_logical``, applies them, and it has exactly two
callers: ``read_logical`` (the table's logical state at the pinned
head) and ``fold`` (rewrite the base with that state and empty every
applied side table in ONE atomic manifest commit — the Hudi/Iceberg
compaction shape, one pass over the base whatever mix of debt is
pending). The plan resolves base and side tables from ONE pinned
manifest, skips side tables that are absent or footer-empty (no Spark
job), and applies them in a fixed order:

1. ``__pdv`` anti-joins the base scan on its (file, row) positions —
   first, because positions name base files only;
2. ``(base ANTI delta-keys) ∪ delta`` — a later upsert wins;
3. ``ANTI dv`` — last, so a delete beats a stale upsert of the same
   key (``upsert_into`` purges the dv of the keys it writes, so an
   upsert after a delete still resurrects the key).

Every side table is tiny by contract and is broadcast; the base side
never shuffles. Because ``fold`` rewrites the base with exactly the
plan ``read_logical`` returns, reads are identical across a fold by
construction.

Concurrency: writers and ``fold`` read through the transaction
snapshot and commit through ``retry_on_conflict`` — a commit loses to
any racing writer on the branch and retries from a fresh snapshot, so
concurrent batches merge instead of clobbering, and a write that lands
mid-fold is folded on the retry rather than dropped (proven in
tests/test_mor_upsert.py and tests/test_deletes.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..sources import txn
from ..sources.txn import Catalog, retry_on_conflict
from .deletes import base_partition_cols, dv_table
from .positional_deletes import _FILE_COL, _POS_COL, _scan_with_pos, pdv_table

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
    dv-applies-last read suppressed the fresh upsert (ADVICE r17).
    Returns the commit's own manifest id."""

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


def _has_rows(df: DataFrame, nrows: int | None) -> bool:
    """Non-empty test for a side table ``_logical`` applied: its footer
    count when the footers answered (never 0 — those are skipped), a
    Spark ``isEmpty`` scan when they could not."""
    return nrows is not None or not df.isEmpty()


def _logical(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...],
    manifest: int | None,
) -> tuple[DataFrame, dict[str, tuple[DataFrame, int | None]]]:
    """The ONE merge-on-read plan (see the module docstring for the
    order): ``name``'s logical state at ``manifest``, base and every
    side table resolved from that one manifest. Returns (plan, sides):
    ``sides`` maps each side table the plan applied to (its DataFrame,
    its footer row count — None when the footers cannot answer). A
    side table that is absent or whose footers count 0 rows is skipped
    without a Spark job. Raises FileNotFoundError when ``name`` is not
    in the manifest, ValueError when a non-empty delta or dv needs
    ``key_cols`` and none were given."""
    versions = cat._manifest_tables(manifest)
    sides: dict[str, tuple[DataFrame, int | None]] = {}
    for side in (pdv_table(name), delta_table(name), dv_table(name)):
        if side in versions:
            nrows = txn.version_rows(cat.table_dir(side), versions[side])
            if nrows != 0:
                sides[side] = (cat.read_asof(spark, side, manifest), nrows)
    if not key_cols:
        for side in (delta_table(name), dv_table(name)):
            if side in sides and _has_rows(*sides[side]):
                raise ValueError(
                    f"{side!r} has rows but no key_cols were given"
                )
            sides.pop(side, None)
    if pdv_table(name) in sides:
        base = _scan_with_pos(cat, spark, name, manifest)
        pdv = sides[pdv_table(name)][0]
        plan = base.join(
            F.broadcast(
                pdv.select(
                    F.col("file").alias(_FILE_COL),
                    F.col("pos").alias(_POS_COL),
                )
            ),
            on=[_FILE_COL, _POS_COL],
            how="left_anti",
        ).drop(_FILE_COL, _POS_COL)
    else:
        plan = cat.read_asof(spark, name, manifest)
    if delta_table(name) in sides:
        delta = sides[delta_table(name)][0]
        plan = plan.join(
            F.broadcast(delta.select(*key_cols)),
            on=list(key_cols),
            how="left_anti",
        ).unionByName(delta)
    if dv_table(name) in sides:
        plan = plan.join(
            F.broadcast(sides[dv_table(name)][0].select(*key_cols)),
            on=list(key_cols),
            how="left_anti",
        )
    return plan, sides


def read_logical(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...] = (),
    branch: str = "main",
) -> DataFrame:
    """The table's LOGICAL state on ``branch``: base with every pending
    side table applied, all resolved from ONE pinned head, so a fold or
    write landing mid-read can never mix generations (ADVICE r16: two
    independent head reads handed a reader old base + emptied dv).
    ``key_cols`` is required only while a delta or dv has rows."""
    return _logical(cat, spark, name, key_cols, cat.head(branch))[0]


def fold(
    cat: Catalog,
    spark: SparkSession,
    name: str,
    key_cols: tuple[str, ...] = (),
    branch: str = "main",
    n_files: int | None = None,
) -> int | None:
    """Fold every pending side table into the base: rewrite the base
    as ``read_logical``'s plan (keeping its partition layout) and empty
    each side table the plan applied, in ONE transaction — a reader
    sees either (old base, full side tables) or (new base, empty side
    tables), never a mix. Optional ``n_files`` repartitions the rewrite
    (``Catalog.compact_table``'s sizing, so retention folds file-count
    debt in the same pass). Returns the commit's own manifest id, or
    None when no side table has rows and no repartition was asked for —
    rewriting a 100 TB base to apply nothing is not a no-op.

    Concurrency: any write landing between this fold's snapshot read
    and its commit (an upsert, a key delete, a positional delete) makes
    the commit lose its CAS; the retry re-plans from the new snapshot
    and folds that write too, so nothing is dropped or resurrected."""

    def attempt():
        with cat.transaction(branch=branch) as t:
            plan, sides = _logical(
                cat, spark, name, key_cols, t._expected_head
            )
            pending = {
                side: df
                for side, (df, nrows) in sides.items()
                if _has_rows(df, nrows)
            }
            if not pending and n_files is None:
                return None
            part_by = base_partition_cols(cat, name, t._expected_head)
            if n_files is not None:
                plan = plan.repartition(max(1, n_files), *part_by)
            t.overwrite(plan, name, part_by)
            for side, df in pending.items():
                t.truncate(df, side)
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
    ``read_logical``'s unionByName fail loudly). Replay is idempotent
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
