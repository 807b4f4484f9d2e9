"""Exactly-once streaming sink into the transactional catalog (r17).

``foreachBatch`` is at-least-once: a crash between the sink's side
effect and the streaming checkpoint commit replays the micro-batch on
restart. This module closes that for the CATALOG — the streaming
analog of the reference's batch transaction bracket
(dynamic_upsert.py:108,151 BEGIN/COMMIT): each micro-batch lands as ONE
atomic manifest commit that covers BOTH the appended data and a
recorded batch id, so a replayed batch observes its own id already
committed and becomes a no-op. This is exactly Delta's ``txn``
(appId, version) action / Iceberg's snapshot summary dedup.

Scale shape: the data lands through ``CatalogTransaction.append``
(stage_version_append — base part files hard-link into the new
version, only the batch's rows are written), so a micro-batch commit
costs O(batch) + O(file count) metadata, never a table rewrite. The
commit ledger is one tiny two-column table read once per batch —
metadata-sized by construction (one row per micro-batch), the same
object every lakehouse sink consults before committing.

Concurrency: the commit is CAS-guarded by the transaction snapshot;
a racing writer on the same branch (another stream, a batch job)
makes this batch's commit lose and RETRY from a fresh snapshot —
including a fresh replay check, so even a rival instance of the SAME
stream (zombie executor after failover) cannot double-append.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

from ..sources.txn import Catalog, retry_on_conflict

_LEDGER_SUFFIX = "__commits"
_LEDGER_SCHEMA = "app_id string, batch_id long"
# Growth guard (r20; VERDICT r19 #6): the ledger is metadata-sized BY
# CONTRACT (one row per micro-batch per app, folded to one per app by
# retention), which is what makes the driver-side replay test safe —
# but nothing used to ENFORCE the contract against a caller that never
# runs retention. Past this many rows the sink stops materializing the
# ledger on the driver and falls back to the distributed replay test
# (scan + max) plus a 1-row ledger APPEND — content-identical, and it
# warns that the retention fold is overdue.
LEDGER_GUARD_ROWS = 10_000


def ledger_table(name: str) -> str:
    return name + _LEDGER_SUFFIX


def committed_batch_ids(
    cat: Catalog, spark, name: str, app_id: str, branch: str = "main"
) -> set[int]:
    """Batch ids present in the CURRENT committed ledger for
    (table, app_id). After a retention fold (operators/retention.py
    fold_ledger, r18) this is {max batch id} — use
    ``latest_batch_id`` for the replay test, which is max-based and
    therefore fold-proof."""
    # driver-side parquet read — the ledger is metadata-sized by
    # contract, so a Spark scan + collect here was ~0.3 s of fixed
    # job cost per call (r20, guide §1.2); falls back past the growth
    # guard or when footers cannot answer
    try:
        vals = cat.table_values(
            ledger_table(name), branch, max_rows=LEDGER_GUARD_ROWS
        )
    except FileNotFoundError:
        return set()
    if vals is not None:
        return {int(v["batch_id"]) for v in vals if v["app_id"] == app_id}
    ledger = cat.read(spark, ledger_table(name), branch)
    return {
        r["batch_id"]
        for r in ledger.filter(ledger["app_id"] == app_id).collect()
    }


def latest_batch_id(
    cat: Catalog, spark, name: str, app_id: str, branch: str = "main"
) -> int | None:
    """MAX committed batch id for (table, app_id), or None. The
    replay test is ``batch_id <= latest`` — complete because
    Structured Streaming batch ids are strictly increasing per
    checkpoint and this sink commits them in order, and robust to the
    retention fold that keeps only the per-app max (Delta's txn-action
    retention semantics)."""
    try:
        vals = cat.table_values(
            ledger_table(name), branch, max_rows=LEDGER_GUARD_ROWS
        )
    except FileNotFoundError:
        return None
    if vals is not None:
        mine = [int(v["batch_id"]) for v in vals if v["app_id"] == app_id]
        return max(mine) if mine else None
    ledger = cat.read(spark, ledger_table(name), branch)
    row = ledger.filter(ledger["app_id"] == app_id).agg(
        {"batch_id": "max"}
    ).first()
    return None if row[0] is None else int(row[0])


def _exactly_once_sink(
    cat: Catalog, ledger_name: str, app_id: str, branch: str, stage
):
    """Shared exactly-once core: check the ledger inside the
    transaction snapshot, run ``stage(t, spark, batch_df)`` to stage
    the batch's effects, and commit them WITH the ledger row in one
    manifest. CAS losses retry from a fresh snapshot (fresh replay
    check included)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        empty: bool | None = None  # evaluated lazily, once

        def attempt() -> None:
            nonlocal empty
            with cat.transaction(branch=branch) as t:
                # The ledger is metadata-sized BY CONTRACT (one row
                # per micro-batch per app, folded to one per app by
                # retention — module docstring), so it reads AND
                # writes back on the driver: the replay test runs
                # in Python over a direct parquet read, and the
                # updated ledger stages as a driver-written file —
                # ZERO Spark jobs on the ledger path (r20; r19 had
                # already collapsed it to one). Per micro-batch
                # that removes ~0.3 s (collect) + ~0.5 s (staged
                # write job) of fixed cost on the commit-dominated
                # stream queries (guide §1.2/§5: driver does
                # metadata work, executors data work — Delta's
                # _delta_log entries are equally driver-written).
                # Past LEDGER_GUARD_ROWS the contract is broken —
                # and when the footers cannot answer, the size is
                # unknown, so it is treated the same: the distributed
                # replay test + a 1-row append (content-identical),
                # and a warning. Nothing collects the ledger whole.
                try:
                    nrows = t.committed_rows(ledger_name)
                    vals = None
                    if nrows is None or nrows <= LEDGER_GUARD_ROWS:
                        vals = t.committed_values(
                            ledger_name, max_rows=LEDGER_GUARD_ROWS
                        )
                    rows = None if vals is None else [
                        (v["app_id"], int(v["batch_id"])) for v in vals
                    ]
                except FileNotFoundError:
                    rows = []
                # replay test is MAX-based (r18): batch ids are
                # strictly increasing per checkpoint and committed
                # in order, so <= max means already committed —
                # and the test stays complete after a retention
                # fold keeps only the per-app max row. It runs
                # BEFORE the emptiness probe (r20): a replayed
                # batch then publishes nothing without paying any
                # Spark job at all.
                if rows is None:
                    led = t.read_committed(spark, ledger_name)
                    row = led.filter(led["app_id"] == app_id).agg(
                        {"batch_id": "max"}
                    ).first()
                    latest = None if row[0] is None else int(row[0])
                else:
                    mine = [b for a, b in rows if a == app_id]
                    latest = max(mine) if mine else None
                if latest is not None and batch_id <= latest:
                    return  # replayed batch: the bracket exits
                    # empty and publishes nothing
                if empty is None:
                    empty = batch_df.isEmpty()
                if empty:
                    return  # an empty fresh batch is equally a no-op
                stage(t, spark, batch_df)
                if rows is None:
                    warnings.warn(
                        f"exactly-once ledger {ledger_name!r} is over "
                        f"{LEDGER_GUARD_ROWS} rows or unreadable from "
                        "its footers — committing via the distributed "
                        "path; if it is over the guard, the retention "
                        "fold (operators/retention.py fold_ledger) is "
                        "overdue",
                        RuntimeWarning,
                        stacklevel=4,  # the sink's caller
                    )
                    t.append(
                        spark.createDataFrame(
                            [(app_id, int(batch_id))], _LEDGER_SCHEMA
                        ),
                        ledger_name,
                    )
                else:
                    rows.append((app_id, int(batch_id)))
                    t.overwrite_small(
                        spark, rows, _LEDGER_SCHEMA, ledger_name
                    )

        return retry_on_conflict(attempt)

    return sink


def exactly_once_batch_sink(
    cat: Catalog, name: str, app_id: str, branch: str = "main"
):
    """Build the foreachBatch function: append the micro-batch and
    record its id in ONE manifest commit; replays are no-ops.

    ``app_id`` namespaces the ledger so several independent streams
    can feed the same table without confusing each other's batch-id
    sequences (Delta txn appId semantics)."""
    return _exactly_once_sink(
        cat, ledger_table(name), app_id, branch,
        lambda t, spark, batch_df: t.append(batch_df, name),
    )


def exactly_once_mv_sink(
    cat: Catalog,
    raw_name: str,
    mv_name: str,
    mv_update,
    app_id: str,
    branch: str = "main",
):
    """foreachBatch sink that maintains a raw table AND a derived
    MATERIALIZED VIEW in the same exactly-once commit (r17): per
    micro-batch, ONE manifest atomically carries (raw add-files
    append, rewritten mv, ledger row) — a reader can never observe
    raw data whose aggregate hasn't landed, or vice versa, and a
    replayed batch touches neither. This is the multi-table analog of
    the reference's cross-statement BEGIN/COMMIT
    (populate_fact.py:91,135-144: dim + fact flip together).

    ``mv_update(batch_df, current_mv_or_None) -> DataFrame`` folds the
    new batch into the current view — incremental view maintenance,
    so the per-batch cost is O(batch + view), never a rescan of the
    raw history. The view is small by construction (an aggregate);
    the raw side appends without rewriting."""

    def stage(t, spark, batch_df: DataFrame) -> None:
        t.append(batch_df, raw_name)
        try:
            cur = t.read_committed(spark, mv_name)
        except FileNotFoundError:
            cur = None
        t.overwrite(mv_update(batch_df, cur), mv_name)

    return _exactly_once_sink(
        cat, ledger_table(raw_name), app_id, branch, stage
    )


def exactly_once_dedup_sink(
    cat: Catalog,
    corpus_name: str,
    fingerprint_col,
    id_col: str,
    app_id: str,
    branch: str = "main",
):
    """Streaming CORPUS INGESTION with cross-batch exact dedup (r17 —
    the incremental training-data intake loop): per micro-batch, keep
    one row per fingerprint within the batch (min ``id_col``,
    deterministic), drop fingerprints already committed by EARLIER
    batches via a left-anti join against the fingerprint table, then
    append survivors AND their fingerprints atomically with the ledger
    row. The committed corpus is therefore exactly-once AND
    duplicate-free across the whole ingestion history — the streaming
    analog of operators/incremental.py::dedup_ingest with the catalog's
    crash story.

    Scale shape: the seen-fingerprint side is 16-byte keys (one per
    unique doc), joined hash-to-hash; both the corpus and the
    fingerprint table grow by add-files appends, so a batch costs
    O(batch + fp-join), never a history rewrite."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    fp_name = corpus_name + "__fp"

    def stage(t, spark, batch_df: DataFrame) -> None:
        b = batch_df.withColumn("_fp", fingerprint_col)
        w = Window.partitionBy("_fp").orderBy(id_col)
        survivors = (
            b.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        try:
            seen = t.read_committed(spark, fp_name)
            survivors = survivors.join(seen, on="_fp", how="left_anti")
        except FileNotFoundError:
            pass
        # NOTE (r19): the two consumers below (corpus rows, fingerprint
        # rows) re-run the window + anti-join plan once each; a persist
        # across the pair was tried and measured SLOWER at micro-batch
        # sizes (cache write + manager overhead exceeds the recompute)
        # — deliberately left as two lazy reads.
        new_fp = survivors.select("_fp")
        t.append(survivors.drop("_fp"), corpus_name)
        t.append(new_fp, fp_name)

    return _exactly_once_sink(
        cat, ledger_table(corpus_name), app_id, branch, stage
    )


def stream_append_exactly_once(
    source_stream: DataFrame,
    cat: Catalog,
    name: str,
    checkpoint_dir: str,
    app_id: str = "stream",
    branch: str = "main",
) -> None:
    """Drain a stream into catalog table ``name`` with exactly-once
    commits: trigger(availableNow) + checkpointed foreachBatch, each
    micro-batch published through one atomic manifest swap carrying
    (data append, ledger row) together. Restarting after ANY crash —
    before, during, or after a batch's commit — converges to the same
    committed table, proven by replay injection in
    tests/test_exactly_once.py."""
    q = (
        source_stream.writeStream.foreachBatch(
            exactly_once_batch_sink(cat, name, app_id, branch)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
