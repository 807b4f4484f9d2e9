"""Atomic commit protocol over plain parquet (SURVEY §7.4): the
reference's transaction bracket (dynamic_upsert.py:108,151 BEGIN/COMMIT,
159-161 ROLLBACK on failure) re-expressed for immutable file storage —
the container has no Delta/Iceberg, and at 100 TB the protocol below is
exactly the snapshot/manifest core those formats implement.

There is ONE commit path, in three tiers:

1. Staging. Every write lands a FULL new table version under
   ``<root>/<table>/v=<N>/`` (the expensive, distributed part — it can
   fail freely). A staged version is invisible: nothing names it yet.
2. Commit. ``Catalog`` / ``CatalogTransaction`` publish every table
   staged in a bracket through ONE manifest file and ONE ``_HEAD``
   swap (``os.replace``, a single metadata op), CAS-guarded against the
   head the bracket opened at. Readers resolve ``_HEAD`` first, so a
   multi-table commit flips every table together, and a crash anywhere
   before the swap leaves the previous state fully committed (rollback
   = delete the staged dirs; crash-injection proof in
   tests/test_txn.py).
3. Conflict. A bracket whose head moved raises
   ``ConcurrentCommitError``; ``retry_on_conflict`` is the one bounded
   re-read-and-retry loop every read-modify-write operator runs its
   bracket through.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# lossless type-widening lattice for the "widen" schema op (r18):
# source simpleString -> simpleStrings it may widen to. DECIMAL
# handled structurally (precision may grow, scale must not shrink
# and integer digits must not shrink). Everything else is rejected —
# a narrowing cast would silently truncate committed data.
_WIDEN_OK: dict[str, set[str]] = {
    "tinyint": {"smallint", "int", "bigint", "double", "decimal"},
    "smallint": {"int", "bigint", "double", "decimal"},
    "int": {"bigint", "double", "decimal"},
    "bigint": {"decimal"},
    "float": {"double"},
    "date": {"timestamp"},
}


def _decimal_params(simple: str) -> tuple[int, int] | None:
    """(precision, scale) of a ``decimal(p,s)`` simpleString, else
    None."""
    if not simple.startswith("decimal(") or not simple.endswith(")"):
        return None
    try:
        p, s = simple[len("decimal(") : -1].split(",")
        return int(p), int(s)
    except ValueError:
        return None


def _is_widening(src_simple: str, dst_simple: str) -> bool:
    """True iff casting ``src_simple`` -> ``dst_simple`` is lossless
    for every representable value (the Iceberg/Delta type-promotion
    contract: int->long, float->double, decimal precision growth with
    non-shrinking scale, integer->decimal with room for every digit)."""
    if src_simple == dst_simple:
        return True
    dst_dec = _decimal_params(dst_simple)
    src_dec = _decimal_params(src_simple)
    if src_dec is not None:
        if dst_dec is None:
            return False
        (sp, ss), (dp, ds) = src_dec, dst_dec
        # scale must not shrink, and integer digits must not shrink
        return ds >= ss and (dp - ds) >= (sp - ss)
    allowed = _WIDEN_OK.get(src_simple, set())
    if dst_dec is not None:
        if "decimal" not in allowed:
            return False
        dp, ds = dst_dec
        digits = {"tinyint": 3, "smallint": 5, "int": 10, "bigint": 19}
        return (dp - ds) >= digits.get(src_simple, 99)
    return dst_simple in allowed


def _apply_schema_ops(df: DataFrame, ops: list[dict]) -> DataFrame:
    """Replay a table's recorded schema-evolution ops over a version
    scan (r17 — the Iceberg schema-evolution posture: metadata maps
    old data files into the CURRENT schema; no file is rewritten).

    Each op is applied only where it is still needed, which makes the
    replay IDEMPOTENT across file generations: a version dir written
    BEFORE a rename still has the old column (renamed here); one
    written after already has the new name (op skipped). Likewise an
    added column materializes as its recorded default only in files
    that predate the add. Ops replay in recorded order, so chained
    renames (a->b then b->c) resolve on files of any age."""
    from pyspark.sql import functions as F

    for op in ops:
        if op["op"] == "rename":
            if op["old"] in df.columns and op["new"] not in df.columns:
                df = df.withColumnRenamed(op["old"], op["new"])
        elif op["op"] == "add":
            if op["col"] not in df.columns:
                df = df.withColumn(
                    op["col"], F.lit(op.get("default")).cast(op["type"])
                )
        elif op["op"] == "drop":
            # metadata-only DROP COLUMN: old files keep the bytes (they
            # are immutable), the replay projects the column away; a
            # rewrite after the drop simply has nothing to project
            if op["col"] in df.columns:
                df = df.drop(op["col"])
        elif op["op"] == "widen":
            # metadata-only TYPE WIDENING (r18 — Iceberg/Delta type
            # promotion): files written before the widen carry the
            # narrow type and are cast up here; files written after
            # already match and are skipped (idempotent per file
            # generation, like every other op). A non-widening state
            # (e.g. the column was later re-added narrower) raises
            # rather than silently truncating.
            col = op["col"]
            if col in df.columns:
                cur = df.schema[col].dataType.simpleString()
                dst = op["type"].lower().replace(" ", "")
                if cur != dst:
                    if not _is_widening(cur, dst):
                        raise ValueError(
                            f"widen replay on {col!r}: {cur} -> {dst} "
                            "is not a lossless widening"
                        )
                    df = df.withColumn(col, F.col(col).cast(op["type"]))
        else:  # pragma: no cover - rejected at evolve_schema time
            raise ValueError(f"unknown schema op: {op!r}")
    return df


def _validate_schema_ops(ops: list[dict]) -> None:
    for op in ops:
        kind = op.get("op")
        if kind == "rename":
            if not op.get("old") or not op.get("new") or op["old"] == op["new"]:
                raise ValueError(f"bad rename op: {op!r}")
        elif kind == "add":
            if not op.get("col") or not op.get("type"):
                raise ValueError(f"bad add op: {op!r}")
        elif kind == "drop":
            if not op.get("col"):
                raise ValueError(f"bad drop op: {op!r}")
        elif kind == "widen":
            if not op.get("col") or not op.get("type"):
                raise ValueError(f"bad widen op: {op!r}")
            dst = str(op["type"]).lower().replace(" ", "")
            if dst not in {"smallint", "int", "bigint", "double",
                           "timestamp"} and _decimal_params(dst) is None:
                raise ValueError(
                    f"widen target must be a widening-capable type "
                    f"(smallint/int/bigint/double/timestamp/decimal(p,s)), "
                    f"got {op!r}"
                )
        else:
            raise ValueError(f"unknown schema op kind: {op!r}")


def _version_dir(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, f"v={version}")


def _next_version(table_dir: str) -> int:
    """Next unused version number (scans v=* dirs AND v=*.claim
    reservation markers, so neither an orphaned staging directory nor a
    concurrent writer's just-reserved number is ever reused)."""
    existing = []
    if os.path.isdir(table_dir):
        for d in os.listdir(table_dir):
            if not d.startswith("v="):
                continue
            tail = d.split("=", 1)[1]
            if tail.endswith(".claim"):
                tail = tail[: -len(".claim")]
            if tail.isdigit():
                existing.append(int(tail))
    return max(existing, default=0) + 1


def _reserve_version(table_dir: str) -> int:
    """Atomically RESERVE the next version number with an
    O_CREAT|O_EXCL claim file — without this, two writers staging the
    same table concurrently both scan max+1, pick the same number, and
    their parquet writes collide (mode('overwrite') deletes the
    rival's half-written data). The loser of the O_EXCL race rescans;
    the claim is removed once the version directory itself exists (the
    directory then blocks reuse). A crashed writer's stale claim just
    skips a number — gc_uncommitted sweeps stray claim files."""
    while True:
        version = _next_version(table_dir)
        claim = os.path.join(table_dir, f"v={version}.claim")
        try:
            fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            continue
        os.close(fd)
        return version


def stage_version(
    df: DataFrame, table_dir: str, partition_by: tuple[str, ...] = ()
) -> int:
    """Write a full new version WITHOUT publishing it. Returns the staged
    version number; only a Catalog manifest commit publishes it.

    The DataFrame's schema is recorded alongside the data
    (``_SCHEMA.json``) so later readers — compaction especially — can
    reapply the EXACT column types instead of re-inferring partition
    column types from ``col=value`` directory names (inference would
    silently turn a string partition value like '0042' into int 42).

    ``v`` is a RESERVED partition-column name: version directories are
    themselves named ``v=<N>``, so a partition column ``v`` writes
    ``.../v=<N>/v=<value>/...`` — partition detection
    (_detect_partition_cols) must skip ``v=`` dirs to walk the layout,
    which would silently flatten such a table on the next append
    (ADVICE r19). Refuse loudly instead."""
    if "v" in partition_by:
        raise ValueError(
            "partition column 'v' collides with the catalog's "
            "version-directory naming (v=<N>); rename the column"
        )
    os.makedirs(table_dir, exist_ok=True)
    version = _reserve_version(table_dir)
    vdir = _version_dir(table_dir, version)
    try:
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(vdir)
        with open(os.path.join(vdir, "_SCHEMA.json"), "w") as f:
            f.write(df.schema.json())
    finally:
        # the version DIRECTORY now blocks number reuse (or the write
        # failed and the skipped number is harmless) — drop the claim
        try:
            os.unlink(os.path.join(table_dir, f"v={version}.claim"))
        except FileNotFoundError:
            pass
    return version


def stage_empty_version(table_dir: str, schema_json: str) -> int:
    """Stage a ZERO-ROW version as PURE METADATA: the version directory
    holds only ``_SCHEMA.json`` and no part files — readers resolve it
    through the sidecar schema as an empty table (Spark's parquet
    source returns an empty relation for a fileless path when the
    schema is explicit, verified in tests/test_txn.py). Truncating a
    side table (an emptied deletion vector / upsert delta after a
    fold) previously paid a full Spark write job to produce one
    zero-row part file — ~0.5 s of fixed job+committer cost per
    compaction for no bytes (r19, guide §1.2)."""
    os.makedirs(table_dir, exist_ok=True)
    version = _reserve_version(table_dir)
    vdir = _version_dir(table_dir, version)
    try:
        os.makedirs(vdir, exist_ok=True)
        with open(os.path.join(vdir, "_SCHEMA.json"), "w") as f:
            f.write(schema_json)
    finally:
        try:
            os.unlink(os.path.join(table_dir, f"v={version}.claim"))
        except FileNotFoundError:
            pass
    return version


def version_rows(table_dir: str, version: int) -> int | None:
    """EXACT row count of a version directory from its parquet FOOTERS
    — driver-side metadata reads (~0.1 ms/file), no Spark job. None
    when pyarrow is unavailable or any footer is unreadable (callers
    fall back to a Spark scan). Schema-evolution ops never change row
    counts, so this equals ``read``'s count for any snapshot. The
    isEmpty()-class Spark actions this replaces cost ~0.3 s of fixed
    collect-path overhead per call on the compaction hot paths (r19)."""
    try:
        import pyarrow.parquet as pq
    except Exception:  # noqa: BLE001 — optional fast path only
        return None
    vdir = _version_dir(table_dir, version)
    if not os.path.isdir(vdir):
        return None
    n = 0
    try:
        for root, _, files in os.walk(vdir):
            for f in files:
                if f.endswith(".parquet"):
                    n += pq.ParquetFile(
                        os.path.join(root, f)
                    ).metadata.num_rows
    except Exception:  # noqa: BLE001 — fall back to a Spark scan
        return None
    return n


def _small_pa_schema(schema):
    """Spark StructType -> pyarrow schema for the driver-side small-
    table write path, or None when any field's type is outside the
    supported scalar set (callers fall back to a Spark write)."""
    try:
        import pyarrow as pa
        from pyspark.sql import types as T
    except Exception:  # noqa: BLE001 — optional fast path only
        return None
    type_map = {
        T.StringType: pa.string,
        T.LongType: pa.int64,
        T.IntegerType: pa.int32,
        T.DoubleType: pa.float64,
        T.BooleanType: pa.bool_,
    }
    fields = []
    for f in schema.fields:
        factory = type_map.get(type(f.dataType))
        if factory is None:
            return None
        fields.append(pa.field(f.name, factory(), nullable=f.nullable))
    return pa.schema(fields)


def stage_small_version(table_dir: str, rows, schema) -> int | None:
    """Stage a version from DRIVER-MATERIALIZED rows: one parquet file
    written via pyarrow plus the ``_SCHEMA.json`` sidecar — NO Spark
    job (a staged write job costs ~0.5 s of fixed committer overhead
    however few rows it carries; r20, guide §1.2/§5 — the driver does
    metadata work, executors data work). This is the catalog's analog
    of a lakehouse transaction log entry (Delta writes _delta_log JSON
    driver-side): intended for METADATA-SIZED tables only — the
    exactly-once commit ledger above all — whose row count is bounded
    by contract, never for data tables. Returns the staged version, or
    None when pyarrow is unavailable or the schema maps outside the
    supported scalar types (callers fall back to stage_version).

    ``rows`` is a sequence of tuples in ``schema`` field order;
    ``schema`` is the Spark StructType recorded in the sidecar, so
    readers resolve exactly the schema a Spark write of the same frame
    would have recorded. The part-file name embeds a fresh UUID — the
    same non-collision contract as Spark's part files, so later
    hard-linked appends compose."""
    pa_schema = _small_pa_schema(schema)
    if pa_schema is None:
        return None
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except Exception:  # noqa: BLE001
        return None
    os.makedirs(table_dir, exist_ok=True)
    version = _reserve_version(table_dir)
    vdir = _version_dir(table_dir, version)
    try:
        os.makedirs(vdir, exist_ok=True)
        cols = [
            pa.array([r[i] for r in rows], type=pa_schema.field(i).type)
            for i in range(len(pa_schema))
        ]
        pq.write_table(
            pa.Table.from_arrays(cols, schema=pa_schema),
            os.path.join(vdir, f"part-00000-{uuid.uuid4().hex}.parquet"),
        )
        with open(os.path.join(vdir, "_SCHEMA.json"), "w") as f:
            f.write(schema.json())
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        raise
    finally:
        try:
            os.unlink(os.path.join(table_dir, f"v={version}.claim"))
        except FileNotFoundError:
            pass
    return version


def version_values(
    table_dir: str, version: int, max_rows: int | None = None
) -> list[dict] | None:
    """ALL ROWS of a version directory as driver-side dicts via
    pyarrow — no Spark job (the collect-path fixed cost this replaces
    is ~0.3 s per call on the stream-commit hot paths; r20). The
    read-side twin of stage_small_version, same contract: METADATA-
    SIZED tables only. None — callers fall back to a Spark scan —
    when pyarrow is unavailable, a footer is unreadable, the layout
    is partitioned (values live in dir names, not the files), or the
    footer row count exceeds ``max_rows`` (the growth guard: a table
    past metadata size must not be collected to the driver)."""
    try:
        import pyarrow.parquet as pq
    except Exception:  # noqa: BLE001 — optional fast path only
        return None
    vdir = _version_dir(table_dir, version)
    if not os.path.isdir(vdir):
        return None
    files: list[str] = []
    try:
        for root, _, names in os.walk(vdir):
            if root != vdir and "=" in os.path.basename(root):
                return None  # partitioned layout
            files.extend(
                os.path.join(root, f)
                for f in sorted(names)
                if f.endswith(".parquet")
            )
        if max_rows is not None:
            total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            if total > max_rows:
                return None
        out: list[dict] = []
        for f in files:
            out.extend(pq.read_table(f).to_pylist())
        return out
    except Exception:  # noqa: BLE001 — fall back to a Spark scan
        return None


def _link_parquet_tree(src_dir: str, dst_dir: str) -> None:
    """Hard-link every .parquet under ``src_dir`` into ``dst_dir``
    preserving the relative layout (cross-device falls back to copy).
    Never clobbers an existing destination file — the caller's fresh
    part files must win loudly, not silently."""
    for root, _, files in os.walk(src_dir):
        rel = os.path.relpath(root, src_dir)
        dst_root = dst_dir if rel == "." else os.path.join(dst_dir, rel)
        os.makedirs(dst_root, exist_ok=True)
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            src = os.path.join(root, fname)
            dst = os.path.join(dst_root, fname)
            if os.path.exists(dst):
                raise FileExistsError(
                    f"linked part file collides with existing: {dst}"
                )
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)  # cross-device fallback


def stage_version_append(
    df: DataFrame, table_dir: str, base_version: int
) -> int:
    """Stage a new version = base version's files + ``df``'s rows,
    WITHOUT rewriting the base (r17 — the Iceberg add-files posture on
    a filesystem): the base version's parquet files are HARD-LINKED
    into the new version directory (O(existing files) metadata ops,
    zero data copied; falls back to copy across filesystems), then the
    new rows land beside them as ordinary appended part files. At
    100 TB an append commits O(new data) + O(file count), never a
    table rewrite — this is what makes a streaming micro-batch sink
    into the catalog affordable.

    The appended frame must match the base's recorded schema EXACTLY:
    a mixed-schema version dir would be read under one schema and
    Spark's parquet reader silently nulls columns missing from older
    files — the silent poisoning conform.py exists to refuse. Callers
    with drifted sources conform first (sources/conform.py) or
    overwrite."""
    base_dir = _version_dir(table_dir, base_version)
    schema_path = os.path.join(base_dir, "_SCHEMA.json")
    base_schema_json: str | None = None
    if os.path.exists(schema_path):
        from pyspark.sql.types import StructType

        with open(schema_path) as f:
            base_schema_json = f.read()
        base_schema = StructType.fromJson(json.loads(base_schema_json))

        def _shape(st):  # name+type identity; nullability handled below
            return {(f.name.lower(), f.dataType) for f in st.fields}

        if _shape(base_schema) != _shape(df.schema):
            raise ValueError(
                "stage_version_append: appended schema differs from the "
                "base version's recorded schema; conform_schema() the "
                "batch or overwrite the table"
            )
        # record the RELAXED nullability: a field nullable on either
        # side must read as nullable over the merged file set
        df_null = {f.name.lower(): f.nullable for f in df.schema.fields}
        for fld in base_schema.fields:
            fld.nullable = fld.nullable or df_null[fld.name.lower()]
        base_schema_json = base_schema.json()
    version = _reserve_version(table_dir)
    vdir = _version_dir(table_dir, version)
    part_cols = _detect_partition_cols(base_dir)
    try:
        # new rows first (Spark creates the dir; append never deletes
        # existing files), laid out like the base so partition
        # discovery sees ONE consistent structure; then link the
        # base's files in beside them
        w = df.write.mode("append")
        if part_cols:
            w = w.partitionBy(*part_cols)
        w.parquet(vdir)
        _link_parquet_tree(base_dir, vdir)
        with open(os.path.join(vdir, "_SCHEMA.json"), "w") as f:
            f.write(base_schema_json or df.schema.json())
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        raise
    finally:
        try:
            os.unlink(os.path.join(table_dir, f"v={version}.claim"))
        except FileNotFoundError:
            pass
    return version


def _read_version_df(spark: SparkSession, vdir: str) -> DataFrame:
    """Read a version directory, reapplying the staged schema when the
    sidecar exists (exact partition-column types; no inference)."""
    schema_path = os.path.join(vdir, "_SCHEMA.json")
    if os.path.exists(schema_path):
        from pyspark.sql.types import StructType

        with open(schema_path) as f:
            schema = StructType.fromJson(json.loads(f.read()))
        return spark.read.schema(schema).parquet(vdir)
    return spark.read.parquet(vdir)


def _detect_partition_cols(vdir: str) -> tuple[str, ...]:
    """Partition columns of a version directory, inferred from its
    ``col=value`` subdirectory chain (the on-disk encoding Spark writes
    for partitionBy)."""
    cols: list[str] = []
    cur = vdir
    while os.path.isdir(cur):
        subs = [
            d for d in os.listdir(cur)
            if "=" in d and os.path.isdir(os.path.join(cur, d))
            and not d.startswith("v=")
        ]
        if not subs:
            break
        cols.append(subs[0].split("=", 1)[0])
        cur = os.path.join(cur, subs[0])
    return tuple(cols)


_MANIFEST_DIR = "_MANIFEST"
_HEAD = "_HEAD"
_REFS_DIR = "_REFS"
_COMMIT_LOCK = "_COMMIT.lock"
# A lock older than this is presumed abandoned even if its pid was
# recycled by another process (liveness check alone can false-positive).
_LOCK_STALE_SECONDS = 300.0
# gc never reclaims a v=*.claim reservation younger than this, even at
# grace_seconds=0 — a claim is held only for the duration of one
# staging write, so anything past the floor is a crashed stager
_CLAIM_MIN_AGE_SECONDS = 300.0
# how long a commit waits for the catalog lock before raising the
# retryable ConcurrentCommitError (see Catalog._locked)
_LOCK_WAIT_SECONDS = 2.0


# distinguishes "no CAS check requested" from "expected the catalog to
# still be EMPTY" — with a plain None default, two transactions racing
# to make the FIRST commit on a branch would both skip the CAS and the
# loser's tables would be silently dropped (code-review r17)
_CAS_UNSET = object()


class ConcurrentCommitError(RuntimeError):
    """Raised when a Catalog commit loses an optimistic-concurrency
    race: the committed HEAD moved after this transaction opened, so
    merging our staged tables over the CURRENT manifest could silently
    drop the racing writer's tables (lost update). The loser re-reads,
    restages on top of the new head, and retries — the same contract as
    an Iceberg/Delta conditional-put conflict (see retry_on_conflict)."""


# CAS-retry budget: under N-way same-table contention the last writer
# needs ~N attempts, and a commit-lock collision (not just a moved
# ref) also costs one — size generously, back off linearly
_COMMIT_RETRIES = 16


def retry_on_conflict(attempt_fn):
    """Run ``attempt_fn()`` until it returns without a
    ConcurrentCommitError, and return its result. ``attempt_fn`` must
    open its own ``cat.transaction()`` and read through it, so every
    retry re-reads a fresh snapshot. Only a lost CAS race retries (at
    most ``_COMMIT_RETRIES`` attempts, linear back-off); the last
    conflict re-raises, and any other exception propagates at once."""
    last: ConcurrentCommitError | None = None
    for attempt in range(_COMMIT_RETRIES):
        try:
            return attempt_fn()
        except ConcurrentCommitError as exc:
            last = exc
            time.sleep(0.02 * (attempt + 1))
    raise last  # type: ignore[misc]


class MergeConflictError(ValueError):
    """Raised by Catalog.rebase when a table was rewritten on BOTH the
    branch and the target since their merge base. ``tables`` carries
    the sorted conflicting table names; versions are whole-table
    snapshots, so there is no automatic row-level resolution — the
    caller re-runs its branch transactions on a fresh fork."""

    def __init__(self, msg: str, tables: list[str]) -> None:
        super().__init__(msg)
        self.tables = tables


class ConstraintViolationError(ValueError):
    """Raised when a write would commit rows that do not satisfy a
    table's CHECK constraint (r18 — Delta CHECK-constraint semantics:
    every row must evaluate the expression to TRUE; FALSE and NULL are
    violations). The transaction rolls back and nothing publishes —
    constraints make bad data unrepresentable in the committed
    catalog, the write-side complement of the validation-gate
    operators."""

    def __init__(self, msg: str, table: str, constraint: str) -> None:
        super().__init__(msg)
        self.table = table
        self.constraint = constraint


def _fsync_dir(path: str) -> None:
    """fsync a DIRECTORY so a just-os.replace()d entry inside it is
    durable across power loss (POSIX: rename atomicity does not imply
    rename durability until the parent dir is synced). Best-effort on
    filesystems that reject directory fds."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


class Catalog:
    """TRUE multi-table atomic commit: one HEAD pointer over immutable
    manifests (the Iceberg/Delta catalog-commit core, minimally).

    Layout under ``root``:

        <root>/<table>/v=<N>/part-*.parquet   per-table immutable versions
        <root>/_MANIFEST/m=<M>.json           immutable manifests:
                                              {"tables": {name: version},
                                               "parent": M'}
        <root>/_HEAD                          main ref (pointer holding M)
        <root>/_REFS/<branch>                 additional branch refs (r15)

    A transaction stages every table's new version, writes ONE new
    manifest holding the full updated table->version mapping, then
    swaps _HEAD with a single ``os.replace`` — so readers resolving
    through the catalog observe every table flip TOGETHER: a crash
    anywhere before the HEAD swap leaves the previous manifest — and
    therefore every table's previous version — fully committed; a
    crash after leaves the new state fully committed. There is no instant at which a reader can see the new
    dim with the old fact (crash-injection proof in
    tests/test_txn.py). Mirrors the reference's cross-statement
    BEGIN/COMMIT spanning dim + fact (dynamic_upsert.py:108,151;
    populate_fact.py:91,135-144).

    At 100 TB this is exactly the production split: data files land on
    object storage (expensive, parallel, retryable), and the commit is
    one small conditional-put on the catalog entry.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, _MANIFEST_DIR), exist_ok=True)

    # -- read side ---------------------------------------------------
    def _ref_path(self, branch: str) -> str:
        """Pointer file for a ref. ``main`` IS the legacy _HEAD file —
        existing catalogs gain branching with no migration; other refs
        live under _REFS/<name>."""
        if branch == "main":
            return os.path.join(self.root, _HEAD)
        if not branch or not all(c.isalnum() or c in "-_." for c in branch):
            raise ValueError(f"invalid branch name: {branch!r}")
        return os.path.join(self.root, _REFS_DIR, branch)

    def head(self, branch: str = "main") -> int | None:
        try:
            with open(self._ref_path(branch)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def manifest(self, branch: str = "main") -> dict[str, int]:
        """Committed table -> version mapping ({} before first commit)."""
        head = self.head(branch)
        if head is None:
            return {}
        path = os.path.join(self.root, _MANIFEST_DIR, f"m={head}.json")
        with open(path) as f:
            return {k: int(v) for k, v in json.load(f)["tables"].items()}

    def _manifest_parent(self, m: int) -> int | None:
        """Parent manifest id, or None for roots / pre-branching
        manifests (written before parents were recorded)."""
        path = os.path.join(self.root, _MANIFEST_DIR, f"m={m}.json")
        try:
            with open(path) as f:
                parent = json.load(f).get("parent")
        except FileNotFoundError:
            return None
        return int(parent) if parent is not None else None

    def table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _read_table(
        self, spark: SparkSession, name: str, manifest: int | None, label: str
    ) -> DataFrame:
        """Resolve ``name`` in manifest ``manifest`` and scan it,
        replaying any schema-evolution ops that snapshot records for
        the table (r17) — so a version dir written before an
        add/rename column still reads under the snapshot's schema."""
        versions = self._manifest_tables(manifest)
        if name not in versions:
            raise FileNotFoundError(f"table {name!r} not in {label}")
        df = _read_version_df(
            spark, _version_dir(self.table_dir(name), versions[name])
        )
        ops = self._manifest_schemas(manifest).get(name)
        return _apply_schema_ops(df, ops) if ops else df

    def read(
        self, spark: SparkSession, name: str, branch: str = "main"
    ) -> DataFrame:
        """Scan a table AS OF the committed manifest of ``branch`` —
        never a staged or half-committed state."""
        return self._read_table(
            spark, name, self.head(branch),
            f"committed manifest of {branch!r}",
        )

    def read_asof(
        self, spark: SparkSession, name: str, manifest: int
    ) -> DataFrame:
        """Scan a table AS OF an arbitrary manifest id — catalog-level
        time travel (Iceberg `FOR SYSTEM_VERSION AS OF`): any manifest
        still reachable from a ref resolves, because version
        directories are immutable and gc only sweeps the unreachable.
        Raises FileNotFoundError when the table is not in that
        snapshot."""
        return self._read_table(spark, name, manifest, f"manifest m={manifest}")

    def table_rows(self, name: str, branch: str = "main") -> int | None:
        """EXACT committed row count of ``name`` on ``branch`` from
        parquet footers — driver-side metadata, no Spark job (see
        version_rows; schema-evolution ops never change row counts).
        None when footers cannot answer (fall back to read().count()).
        Raises FileNotFoundError when the table is not committed,
        mirroring read()."""
        versions = self._manifest_tables(self.head(branch))
        if name not in versions:
            raise FileNotFoundError(
                f"table {name!r} not in committed manifest of {branch!r}"
            )
        return version_rows(self.table_dir(name), versions[name])

    def table_values(
        self, name: str, branch: str = "main", max_rows: int | None = None
    ) -> list[dict] | None:
        """ALL committed rows of a METADATA-SIZED table on ``branch``
        as driver-side dicts — no Spark job (see version_values; the
        exactly-once ledger consumers use this for their replay
        tests, r20). None when the fast path cannot answer — pyarrow
        missing, partitioned layout, pending schema-evolution ops
        (replayed only by the Spark reader), or more than ``max_rows``
        rows (the growth guard) — callers fall back to read().
        Raises FileNotFoundError when the table is not committed,
        mirroring read()."""
        head = self.head(branch)
        versions = self._manifest_tables(head)
        if name not in versions:
            raise FileNotFoundError(
                f"table {name!r} not in committed manifest of {branch!r}"
            )
        if self._manifest_schemas(head).get(name):
            return None
        return version_values(self.table_dir(name), versions[name], max_rows)

    def log(self, branch: str = "main") -> list[dict]:
        """The branch's COMMIT LOG, oldest first — the audit/lineage
        surface every lakehouse exposes (Delta DESCRIBE HISTORY,
        Iceberg snapshots): one entry per manifest on the parent walk
        from the ref, with the table-level change set vs its parent.
        Pure metadata (one small JSON read per commit) at any data
        scale. Each entry: {"manifest", "parent", "changed": sorted
        table names whose version differs from the parent (additions
        included), "removed": tables present in the parent but not the
        child, "n_tables": size of the snapshot, "schema_changed":
        tables whose evolution op list grew in this commit (r17)}."""
        entries: list[dict] = []
        # one open+parse per manifest on the walk (each is consulted
        # as child AND parent; the naive per-field reads cost ~4 opens
        # per entry — code-review r17)
        docs: dict[int, dict] = {}

        def _doc(m: int | None) -> dict | None:
            """Manifest doc, or None when the FILE is gone — an
            expire_snapshots truncation point (r18): the walk treats
            the oldest surviving manifest as a root."""
            if m is None:
                return {"tables": {}}
            if m not in docs:
                path = os.path.join(self.root, _MANIFEST_DIR, f"m={m}.json")
                try:
                    with open(path) as f:
                        docs[m] = json.load(f)
                except FileNotFoundError:
                    return None
            return docs[m]

        cur = self.head(branch)
        while cur is not None:
            doc = _doc(cur)
            if doc is None:  # pragma: no cover - head itself expired
                break
            parent = doc.get("parent")
            parent = int(parent) if parent is not None else None
            pdoc = _doc(parent)
            if pdoc is None:
                # parent expired: this manifest is the surviving root —
                # diff against empty and end the walk
                parent, pdoc = None, {"tables": {}}
                doc = {**doc, "parent": None}
            tables = {k: int(v) for k, v in doc["tables"].items()}
            ptables = {k: int(v) for k, v in pdoc["tables"].items()}
            schemas = doc.get("schemas", {})
            pschemas = pdoc.get("schemas", {})
            cons = doc.get("constraints", {})
            pcons = pdoc.get("constraints", {})
            entries.append(
                {
                    "manifest": cur,
                    "parent": parent,
                    "changed": sorted(
                        t for t, v in tables.items() if ptables.get(t) != v
                    ),
                    "removed": sorted(set(ptables) - set(tables)),
                    "n_tables": len(tables),
                    "schema_changed": sorted(
                        t
                        for t in set(schemas) | set(pschemas)
                        if pschemas.get(t, []) != schemas.get(t, [])
                    ),
                    # tables whose CHECK-constraint set changed in this
                    # commit (r18 — audit surface for data contracts)
                    "constraints_changed": sorted(
                        t
                        for t in set(cons) | set(pcons)
                        if pcons.get(t, {}) != cons.get(t, {})
                    ),
                }
            )
            cur = parent
        entries.reverse()
        return entries

    # -- branches ------------------------------------------------------
    def branches(self) -> dict[str, int | None]:
        """Every ref -> its manifest id (``main`` always listed)."""
        out: dict[str, int | None] = {"main": self.head()}
        rdir = os.path.join(self.root, _REFS_DIR)
        if os.path.isdir(rdir):
            for name in sorted(os.listdir(rdir)):
                out[name] = self.head(name)
        return out

    def create_branch(self, name: str, from_branch: str = "main") -> int:
        """Create ``name`` pointing at ``from_branch``'s current
        manifest — O(1) metadata, ZERO data copy: manifests and table
        versions are immutable and shared, so a branch is just another
        pointer into the same DAG (the Nessie/Iceberg-branching model;
        experiments fork the warehouse without duplicating a byte).
        Refuses to overwrite an existing ref."""
        src = self.head(from_branch)
        if src is None:
            raise ValueError(f"branch {from_branch!r} has no commits to fork")
        ref = self._ref_path(name)
        if name == "main" or os.path.exists(ref):
            raise ValueError(f"branch {name!r} already exists")
        os.makedirs(os.path.dirname(ref), exist_ok=True)
        self._set_ref(name, src, expected=None)
        return src

    def delete_branch(self, name: str) -> None:
        """Drop a ref (never ``main``). Data stays until gc/expiry —
        deleting a branch only unpins its manifests.

        Runs under the commit lock (ADVICE r15): an unlocked unlink
        races _set_ref/_commit on the same ref — the writer's
        ``os.replace`` can resurrect the branch just after the unlink,
        or the delete can drop a commit that just won its CAS. One
        shared lock serializes deletes with every ref swap."""
        if name == "main":
            raise ValueError("cannot delete main")
        with self._locked():
            os.unlink(self._ref_path(name))

    def merge_ff(self, branch: str, into: str = "main") -> int:
        """FAST-FORWARD merge: move ``into``'s ref to ``branch``'s
        manifest, allowed only when ``into``'s current manifest is an
        ancestor of (or equal to) ``branch``'s — i.e. nothing was
        committed to ``into`` since the fork, so the move cannot lose
        a commit. Divergent branches raise: a non-FF merge needs a
        rebase (re-run the branch's transactions on top of ``into``),
        which is application logic, not catalog metadata — the same
        posture as a conditional-put conflict. The swap itself is a
        locked compare-and-swap on ``into``'s ref, so a racing commit
        to ``into`` turns the merge into a retryable
        ConcurrentCommitError instead of a lost update."""
        b_head = self.head(branch)
        if b_head is None:
            raise ValueError(f"branch {branch!r} has no commits")
        i_head = self.head(into)
        if i_head is not None:
            cur: int | None = b_head
            while cur is not None and cur != i_head:
                cur = self._manifest_parent(cur)
            if cur != i_head:
                raise ValueError(
                    f"non-fast-forward: {into!r} (m={i_head}) is not an "
                    f"ancestor of {branch!r} (m={b_head}); rebase the "
                    "branch's transactions onto the current head"
                )
        self._set_ref(into, b_head, expected=i_head)
        return b_head

    def _manifest_tables(self, m: int | None) -> dict[str, int]:
        """Table -> version mapping of manifest ``m`` ({} for None)."""
        if m is None:
            return {}
        path = os.path.join(self.root, _MANIFEST_DIR, f"m={m}.json")
        with open(path) as f:
            return {k: int(v) for k, v in json.load(f)["tables"].items()}

    def _manifest_schemas(self, m: int | None) -> dict[str, list[dict]]:
        """Table -> cumulative schema-evolution op list of manifest
        ``m`` ({} for None and for pre-r17 manifests, which lack the
        key — fully backward compatible)."""
        if m is None:
            return {}
        path = os.path.join(self.root, _MANIFEST_DIR, f"m={m}.json")
        with open(path) as f:
            return json.load(f).get("schemas", {})

    def _manifest_constraints(self, m: int | None) -> dict[str, dict[str, str]]:
        """Table -> {constraint name -> SQL expr} of manifest ``m``
        ({} for None and pre-r18 manifests)."""
        if m is None:
            return {}
        path = os.path.join(self.root, _MANIFEST_DIR, f"m={m}.json")
        with open(path) as f:
            return json.load(f).get("constraints", {})

    def add_constraint(
        self,
        spark: SparkSession,
        name: str,
        constraint: str,
        expr: str,
        branch: str = "main",
    ) -> int:
        """Attach a CHECK constraint to ``name`` (r18 — Delta
        ALTER TABLE ADD CONSTRAINT semantics): committed EXISTING data
        is validated first (one filtered scan; a table this constraint
        would already break must be repaired before the rule can be
        declared), then the (name, expr) pair lands as a metadata-only
        commit and EVERY later write to the table — overwrite or
        append, any transaction — must satisfy it or the commit raises
        ConstraintViolationError and publishes nothing. Rows where the
        expression is FALSE or NULL are violations (every row must
        evaluate TRUE, the Delta contract).

        Enforcement cost is O(written rows), not O(table): the check
        runs on the staged DataFrame before it lands, so at 100 TB an
        appended micro-batch pays for its own rows only."""
        from pyspark.sql import functions as F

        head = self.head(branch)
        # validate the base AND any merge-on-read delta side table:
        # delta rows are part of the table's logical state, and a
        # constraint declared over a violating delta would wedge the
        # next compaction (code-review r18)
        tables = self._manifest_tables(head)
        for scan_name in (name, name + "__delta"):
            if scan_name not in tables:
                continue
            bad = (
                self._read_table(
                    spark, scan_name, head, f"branch {branch!r}"
                )
                .filter(~F.expr(expr).eqNullSafe(F.lit(True)))
                .limit(1)
                .count()
            )
            if bad:
                raise ConstraintViolationError(
                    f"existing rows of {scan_name!r} violate CHECK "
                    f"{constraint!r} ({expr}); repair before declaring",
                    name,
                    constraint,
                )
        cons = {k: dict(v) for k, v in self._manifest_constraints(head).items()}
        cons.setdefault(name, {})[constraint] = expr
        return self._commit(
            {}, expected_head=head, branch=branch, constraints=cons
        )

    def drop_constraint(
        self, name: str, constraint: str, branch: str = "main"
    ) -> int:
        """Remove a CHECK constraint — metadata-only commit."""
        head = self.head(branch)
        cons = {k: dict(v) for k, v in self._manifest_constraints(head).items()}
        if constraint not in cons.get(name, {}):
            raise ValueError(
                f"no constraint {constraint!r} on table {name!r}"
            )
        del cons[name][constraint]
        if not cons[name]:
            del cons[name]
        return self._commit(
            {}, expected_head=head, branch=branch, constraints=cons
        )

    def evolve_schema(
        self, name: str, ops: list[dict], branch: str = "main"
    ) -> int:
        """Record schema-evolution ops for ``name`` in a METADATA-ONLY
        commit (r17): no data file moves, but every later read of the
        table — current, as-of, or through a transaction snapshot —
        replays the cumulative op list over whatever version dir it
        resolves, so snapshots written before the evolution surface
        under the new schema (the dynamic form of the reference's
        dict-driven DDL, dynamic_upsert.py:9-26).

        Supported ops: ``{"op": "rename", "old": a, "new": b}``,
        ``{"op": "add", "col": c, "type": ddl, "default": v}`` (default
        optional -> NULL), ``{"op": "drop", "col": c}``, and
        ``{"op": "widen", "col": c, "type": ddl}`` (lossless type
        promotion only — int->bigint, float->double, decimal precision
        growth; r18). At 100 TB this is the only sane ALTER TABLE:
        one small JSON commit instead of a table rewrite. Reads AS OF a
        manifest BEFORE this commit replay only the ops recorded there
        — time travel sees the schema of its era.

        Merge-on-read tables (with a live ``__delta``/``__dv`` side
        table): use ``operators.mor_upsert.evolve_upserted_schema``,
        which records the ops for the side tables in the same commit —
        evolving only the base leaves a pre-evolution delta whose
        unionByName with the evolved base fails (ADVICE r17)."""
        _validate_schema_ops(ops)
        if not ops:
            raise ValueError("evolve_schema: empty op list")
        return self._commit(
            {},
            expected_head=self.head(branch),
            branch=branch,
            schema_ops={name: list(ops)},
        )

    def _merge_base(self, a: int, b: int) -> int | None:
        """Nearest common ancestor of manifests ``a`` and ``b`` along
        parent links (None when the histories never meet — e.g.
        pre-branching manifests with no recorded parent)."""
        ancestors: set[int] = set()
        cur: int | None = a
        while cur is not None:
            ancestors.add(cur)
            cur = self._manifest_parent(cur)
        cur = b
        while cur is not None:
            if cur in ancestors:
                return cur
            cur = self._manifest_parent(cur)
        return None

    def rebase(
        self,
        branch: str,
        onto: str = "main",
        spark: SparkSession | None = None,
    ) -> int:
        """REBASE a diverged branch onto ``onto``'s current head — the
        non-fast-forward story merge_ff refuses by design: a three-way
        manifest merge at TABLE granularity. The branch's change set is
        every table whose version differs from the merge-base manifest;
        replaying it means writing ONE new manifest =
        {**manifest(onto), **branch_changes} with parent = onto's head,
        then CAS-ing the branch ref to it. After a clean rebase the
        branch IS a fast-forward of ``onto``, so merge_ff promotes it
        with one pointer swap.

        Conflicts are detected, never silently resolved: a table
        rewritten on BOTH sides since the fork raises
        MergeConflictError naming the tables (version history is
        whole-table snapshots, so there is no row-level merge to
        attempt — the caller re-runs its transaction on a fresh
        branch, exactly like a git rebase conflict). No data moves:
        like every catalog op this is pure metadata — version dirs are
        immutable and shared, so the rebase cost is one small JSON
        write however many TB the tables hold.

        Runs under the commit lock with CAS semantics on BOTH refs: if
        either ``onto`` or ``branch`` moves between the read and the
        swap, ConcurrentCommitError — re-read and retry.

        ``spark`` (optional): when provided, any table whose data
        version and CHECK-constraint set are paired FOR THE FIRST TIME
        by this merge (branch data under an onto-declared constraint,
        or vice versa) is re-validated before the swap, raising
        ConstraintViolationError on violation (ADVICE r18). Without a
        session the merged data is only re-validated on the next write
        to each table."""
        b_head = self.head(branch)
        o_head = self.head(onto)
        if b_head is None:
            raise ValueError(f"branch {branch!r} has no commits")
        if o_head is None:
            raise ValueError(f"branch {onto!r} has no commits")
        if b_head == o_head:
            return b_head
        base = self._merge_base(b_head, o_head)
        if base == o_head:
            return b_head  # already based on onto — nothing to replay
        base_t = self._manifest_tables(base)
        b_changed = {
            k: v
            for k, v in self._manifest_tables(b_head).items()
            if base_t.get(k) != v
        }
        o_changed = {
            k
            for k, v in self._manifest_tables(o_head).items()
            if base_t.get(k) != v
        }
        # schema evolution merges three-way at TABLE granularity too:
        # a table whose op list CHANGED on both sides since the fork —
        # grew, or was cleared by a rewrite — is a conflict (op order
        # across forks is undecidable), same policy as data versions.
        # Clearing counts as a change: a branch that rewrote a table
        # reset its ops, and re-attaching the base's ops on rebase
        # would replay them onto the rewrite's current-schema files
        # (code-review r17).
        base_s = self._manifest_schemas(base)
        b_s = self._manifest_schemas(b_head)
        o_s = self._manifest_schemas(o_head)
        b_changed_s = {
            k for k in set(base_s) | set(b_s)
            if base_s.get(k, []) != b_s.get(k, [])
        }
        o_changed_s = {
            k for k in set(base_s) | set(o_s)
            if base_s.get(k, []) != o_s.get(k, [])
        }
        conflicts = sorted(
            (set(b_changed) & o_changed) | (b_changed_s & o_changed_s)
        )
        if conflicts:
            raise MergeConflictError(
                f"rebase {branch!r} onto {onto!r}: table(s) rewritten "
                f"on both sides since the fork: {conflicts}; re-run the "
                "branch's transactions on a fresh fork",
                conflicts,
            )
        merged = {**self._manifest_tables(o_head), **b_changed}
        merged_s = dict(o_s)
        for k in b_changed_s:  # branch's op state wins for its set
            if k in b_s:
                merged_s[k] = b_s[k]
            else:
                merged_s.pop(k, None)  # cleared by a branch rewrite
        # constraints rebase three-way at TABLE granularity too:
        # the branch's constraint state wins for tables whose map
        # changed on the branch since the fork (conflicts with a
        # simultaneous onto-side change are rare enough that
        # last-declarer-wins is acceptable for a metadata rule set)
        base_c = self._manifest_constraints(base)
        b_c = self._manifest_constraints(b_head)
        o_c = self._manifest_constraints(o_head)
        merged_c = dict(o_c)
        for k in set(base_c) | set(b_c):
            if base_c.get(k, {}) != b_c.get(k, {}):
                if k in b_c:
                    merged_c[k] = b_c[k]
                else:
                    merged_c.pop(k, None)
        # The merge can pair a table's DATA with a constraint set the
        # data was never validated under — branch data meeting an
        # onto-side constraint, or onto data meeting a branch-declared
        # one (ADVICE r18: without this a branch whose data violates a
        # constraint added on the onto side merged cleanly, committing
        # a manifest whose data breaks its own declared rules). With a
        # ``spark`` session the novel pairings re-validate here, one
        # add_constraint-style existence probe per (table, constraint);
        # without one the merged data is only re-validated on the next
        # write to each table (documented fallback — callers that
        # declare constraints should pass spark).
        if spark is not None:
            from pyspark.sql import functions as _F

            for k, rules in merged_c.items():
                # probe the base AND any merge-on-read delta (delta
                # rows are part of the logical state — same rule as
                # add_constraint)
                for scan_name in (k, k + "__delta"):
                    if scan_name not in merged:
                        continue
                    # "validated" is the constraint set THIS SCAN's data
                    # was last written under — decided per scan_name,
                    # not per base table (ADVICE r19): a branch that
                    # rewrote base k while onto appended to k__delta
                    # merges delta rows that only ever saw the ONTO
                    # side's rules, even though k itself is b_changed.
                    validated = (
                        b_c.get(k, {})
                        if scan_name in b_changed
                        else o_c.get(k, {})
                    )
                    novel = {
                        c: e for c, e in rules.items()
                        if validated.get(c) != e
                    }
                    if not novel:
                        continue
                    df = _read_version_df(
                        spark,
                        _version_dir(
                            self.table_dir(scan_name), merged[scan_name]
                        ),
                    )
                    ops = merged_s.get(scan_name)
                    if ops:
                        df = _apply_schema_ops(df, ops)
                    for cname, expr in sorted(novel.items()):
                        bad = (
                            df.filter(
                                ~_F.expr(expr).eqNullSafe(_F.lit(True))
                            )
                            .limit(1)
                            .count()
                        )
                        if bad:
                            raise ConstraintViolationError(
                                f"rebase {branch!r} onto {onto!r}: rows "
                                f"of {scan_name!r} violate CHECK "
                                f"{cname!r} ({expr}) carried across the "
                                "merge; repair the branch before "
                                "rebasing",
                                k,
                                cname,
                            )
        with self._locked():
            if self.head(branch) != b_head or self.head(onto) != o_head:
                raise ConcurrentCommitError(
                    f"ref {branch!r} or {onto!r} moved during rebase; "
                    "re-read and retry"
                )
            m = self._next_manifest()
            mdoc: dict = {"tables": merged, "parent": o_head}
            if merged_s:
                mdoc["schemas"] = merged_s
            if merged_c:
                mdoc["constraints"] = merged_c
            mpath = os.path.join(self.root, _MANIFEST_DIR, f"m={m}.json")
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                json.dump(mdoc, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, mpath)
            _fsync_dir(os.path.dirname(mpath))
            ref = self._ref_path(branch)
            rtmp = ref + ".tmp"
            with open(rtmp, "w") as f:
                f.write(str(m))
                f.flush()
                os.fsync(f.fileno())
            os.replace(rtmp, ref)
            _fsync_dir(os.path.dirname(ref))
            return m

    def rollback_to(self, manifest: int, branch: str = "main") -> int:
        """ROLL BACK ``branch`` to an ANCESTOR manifest (Iceberg's
        rollback_to_snapshot): one O(1) CAS-guarded pointer move, zero
        data copied — version dirs and manifests are immutable, so
        "undo the last N commits" is just re-pointing the ref at the
        older snapshot. Requires ``manifest`` to be an ancestor of (or
        equal to) the branch's current head: re-pointing at an
        unrelated manifest would be a fork wearing a rollback's name,
        and a typo'd id must fail loudly, not rewrite history.

        The abandoned descendant manifests stay on disk (a second
        rollback_to at the newer id REDOES forward — the descendant
        direction is accepted too, Iceberg's set_current_snapshot
        within one lineage) until a NEW commit lands — its parent is
        the rollback target, so the abandoned suffix becomes
        unreachable and gc_uncommitted/expire_snapshots reclaims it.
        A racing commit moves the ref and turns this into a retryable
        ConcurrentCommitError (the _set_ref CAS)."""
        cur = self.head(branch)
        if cur is None:
            raise ValueError(f"branch {branch!r} has no commits")

        def _on_chain(frm: int, to: int) -> bool:
            walk: int | None = frm
            while walk is not None:
                if walk == to:
                    return True
                walk = self._manifest_parent(walk)
            return False

        if not (_on_chain(cur, manifest) or _on_chain(manifest, cur)):
            raise ValueError(
                f"m={manifest} is not an ancestor of {branch!r}'s head "
                f"(m={cur}) nor a descendant of it; rollback cannot "
                "fork history"
            )
        if cur != manifest:
            self._set_ref(branch, manifest, expected=cur)
        return manifest

    def expire_snapshots(
        self, keep_last: int = 2, grace_seconds: float = 300.0
    ) -> dict:
        """TRUNCATE HISTORY (Iceberg's expire_snapshots): for every
        ref, keep the newest ``keep_last`` manifests of its parent
        chain; every other manifest FILE is deleted, then the standard
        reachability gc reclaims any table version no surviving
        manifest references. Time travel to an expired manifest raises
        FileNotFoundError — the expiry contract — while the parent
        walk from a kept manifest ends gracefully at the truncation
        point (a missing parent reads as a root). This is what bounds
        METADATA and orphaned-data growth over an infinite streaming
        run: commit debt is folded by retention, history debt by
        expiry.

        ``grace_seconds`` passes through to gc_uncommitted so versions
        being staged by in-flight writers are left alone (same
        retention-window contract). Keeping at least the head is
        enforced (keep_last >= 1). Returns {"expired_manifests": [...],
        "reclaimed": gc report}."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 (the head must survive)")
        mdir = os.path.join(self.root, _MANIFEST_DIR)
        with self._locked():
            heads = [
                h for h in self.branches().values() if h is not None
            ]
            keep: set[int] = set()
            for head in heads:
                cur, depth = head, 0
                while cur is not None and depth < keep_last:
                    keep.add(cur)
                    depth += 1
                    cur = self._manifest_parent(cur)
            # DIVERGED refs additionally pin the path down to their
            # merge base with every other ref (code-review r18):
            # deleting a fork-point manifest — or any link on the walk
            # to it — leaves _merge_base unable to find the common
            # ancestor, and every later rebase/merge_ff of that branch
            # spuriously conflicts. Linear history still truncates
            # fully; only live forks retain their connecting spine.
            for i, a in enumerate(heads):
                for b in heads[i + 1 :]:
                    if a == b:
                        continue
                    base = self._merge_base(a, b)
                    if base is None:
                        continue
                    for h in (a, b):
                        cur = h
                        while cur is not None:
                            keep.add(cur)
                            if cur == base:
                                break
                            cur = self._manifest_parent(cur)
            expired: list[int] = []
            for f in os.listdir(mdir):
                if not (f.startswith("m=") and f.endswith(".json")):
                    continue
                mid = f[len("m=") : -len(".json")]
                if mid.isdigit() and int(mid) not in keep:
                    os.unlink(os.path.join(mdir, f))
                    expired.append(int(mid))
        # reachable manifests now == the kept set, so the standard
        # reachability gc (own lock acquisition — after ours releases)
        # reclaims every version only expired manifests referenced
        reclaimed = self.gc_uncommitted(grace_seconds=grace_seconds)
        return {"expired_manifests": sorted(expired), "reclaimed": reclaimed}

    def _set_ref(
        self, branch: str, m: int, expected: int | None
    ) -> None:
        """Atomically point ``branch`` at manifest ``m`` under the
        commit lock, failing if the ref moved from ``expected`` (the
        same CAS discipline as _commit — ref swaps, commits, and
        branch deletes share one lock, so no interleaving can lose an
        update)."""
        with self._locked():
            if self.head(branch) != expected:
                raise ConcurrentCommitError(
                    f"ref {branch!r} moved {expected} -> "
                    f"{self.head(branch)}; re-check and retry"
                )
            ref = self._ref_path(branch)
            tmp = ref + ".tmp"
            with open(tmp, "w") as f:
                f.write(str(m))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, ref)
            _fsync_dir(os.path.dirname(ref))

    # -- write side --------------------------------------------------
    @contextmanager
    def _locked(self):
        """Hold the catalog-wide commit lock (O_CREAT|O_EXCL file with
        ``pid ts`` contents and stale-holder reclamation — see
        _reclaim_stale_lock). EVERY metadata mutation — manifest
        commit, ref swap, branch delete — runs inside this one lock,
        so no pair of them can interleave.

        Acquisition WAITS (25 ms polls, up to _LOCK_WAIT_SECONDS)
        instead of failing on first contention: metadata critical
        sections are milliseconds (a gc sweep at most seconds), so a
        short bounded wait turns almost every lock collision into a
        success instead of burning a caller's CAS-retry — the Iceberg
        lock-wait posture. A holder alive past the budget still raises
        ConcurrentCommitError (retryable), and stale corpses are
        reclaimed on every poll."""
        lock = os.path.join(self.root, _COMMIT_LOCK)
        fd = None
        deadline = time.time() + _LOCK_WAIT_SECONDS
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if self._reclaim_stale_lock(lock):
                    continue
                if time.time() >= deadline:
                    raise ConcurrentCommitError(
                        f"another live commit holds {lock}; retry after "
                        "it finishes (crashed holders are reclaimed "
                        "automatically)"
                    ) from None
                time.sleep(0.025)
        try:
            os.write(fd, f"{os.getpid()} {time.time()}".encode())
            os.close(fd)
            yield
        finally:
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass

    @staticmethod
    def _reclaim_stale_lock(lock: str) -> bool:
        """Remove ``lock`` if its holder is provably gone: the recorded
        pid is dead, or the lock is older than _LOCK_STALE_SECONDS.
        Returns True if the caller should retry the O_EXCL acquire.

        An unreadable/empty lock is judged by file MTIME alone (a
        healthy writer has a microsecond gap between O_CREAT and the
        pid write — reclaiming on an empty read would race it; a crash
        inside that gap ages past the threshold and is then reclaimed).
        A holder that is alive and fresh is left alone."""
        pid: int | None = None
        ts: float | None = None
        try:
            with open(lock) as f:
                parts = f.read().split()
            pid, ts = int(parts[0]), float(parts[1])
        except FileNotFoundError:
            return True  # vanished — holder finished; just retry
        except (OSError, ValueError, IndexError):
            try:
                ts = os.stat(lock).st_mtime  # mid-write or corrupt
            except FileNotFoundError:
                return True
        if pid is not None:
            try:
                os.kill(pid, 0)  # signal 0 = existence probe only
            except ProcessLookupError:
                # dead holder -> abandoned regardless of age
                ts = None
            except PermissionError:
                pass  # exists, owned by someone else -> judge by age
        if ts is not None and time.time() - ts < _LOCK_STALE_SECONDS:
            return False  # live (or indeterminate) fresh holder
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass
        return True

    def _next_manifest(self) -> int:
        mdir = os.path.join(self.root, _MANIFEST_DIR)
        existing = [
            int(f[len("m=") : -len(".json")])
            for f in os.listdir(mdir)
            if f.startswith("m=") and f.endswith(".json")
            and f[len("m=") : -len(".json")].isdigit()
        ]
        return max([self.head() or 0, *existing], default=0) + 1

    def _commit(
        self,
        staged: dict[str, int],
        expected_head: int | None = _CAS_UNSET,  # type: ignore[assignment]
        branch: str = "main",
        schema_ops: dict[str, list[dict]] | None = None,
        keep_schema_ops: frozenset[str] | set[str] = frozenset(),
        constraints: dict[str, dict[str, str]] | None = None,
    ) -> int:
        """Write the merged manifest (immutable file), then swap _HEAD —
        the ONLY publish point; everything before it is abortable.

        Concurrent writers (ADVICE r13): the critical section runs
        under an O_CREAT|O_EXCL lock file, and when ``expected_head``
        is given (CatalogTransaction passes the head it opened at) the
        commit FAILS with ConcurrentCommitError if HEAD moved since —
        the optimistic compare-and-swap that turns a silent lost update
        into a retryable conflict. On object storage the lock+check
        collapses into one conditional-put of the head pointer.

        Stale-lock reclamation (ADVICE r14): the lock file records
        ``pid ts``; a holder whose pid is dead, or whose lock is older
        than _LOCK_STALE_SECONDS, is presumed crashed between acquire
        and the finally-unlink — the lock is reclaimed and the acquire
        retried once, so one crash never wedges every later commit
        behind a manual ``rm``. Reclaim-then-recreate has a benign
        race: if two waiters reclaim the same corpse, one wins O_EXCL
        and the other raises ConcurrentCommitError — still retryable,
        never a double-acquire."""
        with self._locked():
            parent = self.head(branch)
            if expected_head is not _CAS_UNSET and parent != expected_head:
                raise ConcurrentCommitError(
                    f"ref {branch!r} moved {expected_head} -> {parent} since "
                    "this transaction opened; re-read, restage, retry"
                )
            m = self._next_manifest()
            merged = {**self.manifest(branch), **staged}
            # schema-evolution metadata carries forward on EVERY
            # commit (like tables); an evolve_schema commit appends
            # its ops to the table's cumulative replay list
            schemas = {
                k: list(v) for k, v in self._manifest_schemas(parent).items()
            }
            # a REWRITTEN table resets its op list: the staged version
            # was produced against the conformed current schema, so
            # replaying old ops onto its files would corrupt them —
            # e.g. a drop-then-re-add's drop op would project away the
            # REAL values a post-re-add rewrite computed and backfill
            # the stale default (code-review r17). Readers of older
            # manifests still see the ops recorded THERE. APPENDED
            # versions are exempt (keep_schema_ops): their files carry
            # the base's pre-evolution schema, so the ops must keep
            # replaying over them.
            for tname in staged:
                if tname not in keep_schema_ops:
                    schemas.pop(tname, None)
            for tname, ops in (schema_ops or {}).items():
                schemas[tname] = schemas.get(tname, []) + list(ops)
            # CHECK constraints carry forward on every commit (unlike
            # schema ops they survive rewrites — the rule outlives any
            # one version); add/drop_constraint pass the full new map
            cons = (
                constraints
                if constraints is not None
                else self._manifest_constraints(parent)
            )
            doc: dict = {"tables": merged, "parent": parent}
            if schemas:
                doc["schemas"] = schemas
            if cons:
                doc["constraints"] = cons
            mpath = os.path.join(self.root, _MANIFEST_DIR, f"m={m}.json")
            tmp = mpath + ".tmp"
            with open(tmp, "w") as f:
                # parent link = the manifest this one was committed on
                # top of — the ancestry chain merge_ff walks
                json.dump(doc, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, mpath)
            _fsync_dir(os.path.dirname(mpath))
            # the commit point: one atomic metadata op covers every table
            ref = self._ref_path(branch)
            os.makedirs(os.path.dirname(ref), exist_ok=True)
            head_tmp = ref + ".tmp"
            with open(head_tmp, "w") as f:
                f.write(str(m))
                f.flush()
                os.fsync(f.fileno())
            os.replace(head_tmp, ref)
            # rename atomicity is not rename durability: sync the
            # parent dir or a crash can roll the ref back to the old
            # manifest
            _fsync_dir(os.path.dirname(ref))
            return m

    def transaction(self, branch: str = "main") -> "CatalogTransaction":
        return CatalogTransaction(self, branch)

    def snapshot_diff(
        self,
        spark: SparkSession,
        name: str,
        m_old: int,
        m_new: int,
        key_cols: tuple[str, ...],
        compare_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Row-level DIFF of one table between two manifests (r17 —
        the lakehouse CDC surface, Delta CDF / Iceberg changelog-scan
        shape): keys only in the new snapshot are ``added``, keys only
        in the old are ``removed``, keys in both whose ``compare_cols``
        tuple differs are ``changed``; unchanged rows never emit.
        Output: key columns + the new-side compare columns (NULL for
        removed rows) + ``change``.

        Scale shape: ONE full-outer hash join on the key columns —
        both sides shuffle once, comparison runs inside codegen on
        packed structs, and nothing data-sized touches the driver. At
        100 TB you'd additionally prune unchanged FILES first (same
        version id on both sides after a compaction-free history means
        identical files); version dirs here are whole-table snapshots,
        so the join IS the general case."""
        from pyspark.sql import functions as F

        keys = list(key_cols)
        cmp_ = list(compare_cols)
        old = self.read_asof(spark, name, m_old).select(
            *keys, F.struct(*[F.col(c) for c in cmp_] or [F.lit(1)]).alias("_o")
        )
        new = self.read_asof(spark, name, m_new).select(
            *keys, F.struct(*[F.col(c) for c in cmp_] or [F.lit(1)]).alias("_n")
        )
        j = old.join(new, on=keys, how="full_outer")
        change = (
            F.when(F.col("_o").isNull(), F.lit("added"))
            .when(F.col("_n").isNull(), F.lit("removed"))
            .when(F.col("_o") != F.col("_n"), F.lit("changed"))
        )
        out = j.withColumn("change", change).filter(F.col("change").isNotNull())
        return out.select(
            *keys,
            *[F.col("_n")[c].alias(c) for c in cmp_],
            "change",
        )

    def compact_table(
        self,
        spark: SparkSession,
        name: str,
        target_file_bytes: int = 128 << 20,
        partition_by: tuple[str, ...] | None = None,
        branch: str = "main",
    ) -> int:
        """Rewrite one table into ~target-sized files and commit the
        result as a new manifest (same sizing/partition-detection rules
        ceil(bytes/target) files, partition columns auto-detected from
        the ``col=value`` chain; atomic via the HEAD swap). Branch-aware since r18
        (code-review: the main-only version compacted the wrong
        branch's table when called from branch maintenance). Refuses
        while positional deletes are pending — the rewrite would
        strand their (file,pos) anchors."""
        import math

        head = self.head(branch)
        versions = self._manifest_tables(head)
        if name not in versions:
            raise FileNotFoundError(f"table {name!r} not in committed manifest")
        if self._pdv_nonempty(spark, name, head):
            raise ValueError(
                f"table {name!r} has pending positional deletes; "
                "compact_positional_deletes() before rewriting "
                "(a rewrite strands (file,pos) anchors)"
            )
        vdir = _version_dir(self.table_dir(name), versions[name])
        if partition_by is None:
            partition_by = _detect_partition_cols(vdir)
        total = sum(
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(vdir)
            for f in files
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(total / target_file_bytes))
        # read CONFORMED (schema ops applied): the rewrite's commit
        # resets the table's op list, so the compacted files must
        # already embody the current schema — compacting raw would
        # silently undo every pending evolution (code-review r17)
        df = self._read_table(spark, name, head, f"branch {branch!r}")
        compacted = (
            df.repartition(n_files, *partition_by)
            if partition_by
            else df.repartition(n_files)
        )
        with self.transaction(branch=branch) as txn:
            txn.overwrite(compacted, name, partition_by or ())
        # this commit's own manifest id, never a racy head re-read
        return txn.committed_manifest

    def _pdv_nonempty(
        self, spark: SparkSession, name: str, manifest: int | None
    ) -> bool:
        """Non-empty positional-delete side table check shared by the
        rewrite primitives (the ``__pdv`` naming is the
        operators/positional_deletes.py convention)."""
        versions = self._manifest_tables(manifest)
        pdv_name = name + "__pdv"
        if pdv_name not in versions:
            return False
        # footer-count fast path, Spark scan fallback (r19)
        nrows = version_rows(self.table_dir(pdv_name), versions[pdv_name])
        if nrows is not None:
            return nrows > 0
        pdv_dir = _version_dir(self.table_dir(pdv_name), versions[pdv_name])
        return not _read_version_df(spark, pdv_dir).isEmpty()

    def compact_partitions(
        self,
        spark: SparkSession,
        name: str,
        max_files_per_partition: int = 8,
        target_file_bytes: int = 128 << 20,
        branch: str = "main",
    ) -> int | None:
        """PARTITION-SCOPED file compaction (r18 — the Iceberg
        rewrite_data_files / Delta OPTIMIZE WHERE shape, and the only
        compaction that makes sense at 100 TB): rewrite ONLY the
        partitions whose small-file count exceeds the threshold;
        every healthy partition's files HARD-LINK into the new version
        unchanged (O(file count) metadata, zero data moved). A
        streaming table that appends into today's partition never
        pays to rewrite last year's — ``compact_table`` (whole-table)
        is the fixture-scale tool, this is the production one.

        The rewritten partitions are read RAW and written RAW, so the
        new version carries the same file-level schema as the old and
        the table's pending schema-evolution ops KEEP replaying over
        it (keep_schema_ops — same contract as appends). Pending
        POSITIONAL deletes on the table make this raise: rewriting a
        partition strands its (file,pos) anchors — fold them first
        (compact_positional_deletes). Key-based dv/delta side tables
        are unaffected (they match by key, not position).

        Returns the commit's manifest id, or None when no partition is
        over the threshold (nothing staged, nothing published). CAS +
        lock semantics are the standard commit bracket's."""
        import math

        head = self.head(branch)
        versions = self._manifest_tables(head)
        if name not in versions:
            raise FileNotFoundError(f"table {name!r} not in branch {branch!r}")
        if self._pdv_nonempty(spark, name, head):
            raise ValueError(
                f"table {name!r} has pending positional deletes; "
                "compact_positional_deletes() before rewriting "
                "partitions (a rewrite strands (file,pos) anchors)"
            )
        table_dir = self.table_dir(name)
        vdir = _version_dir(table_dir, versions[name])
        part_cols = _detect_partition_cols(vdir)
        if not part_cols:
            raise ValueError(
                f"table {name!r} is unpartitioned; use compact_table"
            )
        # leaf partition dirs = dirs containing parquet files
        leaves: list[str] = []  # relative paths
        for root, _, files in os.walk(vdir):
            if any(f.endswith(".parquet") for f in files):
                leaves.append(os.path.relpath(root, vdir))
        offenders = []
        for rel in leaves:
            full = os.path.join(vdir, rel)
            parts = [f for f in os.listdir(full) if f.endswith(".parquet")]
            if len(parts) > max_files_per_partition:
                size = sum(
                    os.path.getsize(os.path.join(full, f)) for f in parts
                )
                offenders.append((rel, math.ceil(size / target_file_bytes)))
        if not offenders:
            return None
        offender_set = {rel for rel, _ in offenders}
        version = _reserve_version(table_dir)
        new_vdir = _version_dir(table_dir, version)
        try:
            # healthy partitions: hard-link, zero data moved (shared
            # helper with stage_version_append, incl. its
            # never-clobber guard — code-review r18)
            os.makedirs(new_vdir, exist_ok=True)
            for rel in leaves:
                if rel in offender_set:
                    continue
                dst_root = (
                    new_vdir if rel == "." else os.path.join(new_vdir, rel)
                )
                _link_parquet_tree(os.path.join(vdir, rel), dst_root)
            # offenders: raw read of JUST that partition's files,
            # coalesced to ~target-size, written back under the same
            # col=value path (the partition values live in the path,
            # exactly as partitionBy laid them out)
            for rel, n_files in offenders:
                part_df = spark.read.parquet(os.path.join(vdir, rel))
                dst_root = (
                    new_vdir if rel == "." else os.path.join(new_vdir, rel)
                )
                part_df.coalesce(max(1, n_files)).write.mode(
                    "append"
                ).parquet(dst_root)
            schema_path = os.path.join(vdir, "_SCHEMA.json")
            if os.path.exists(schema_path):
                shutil.copy2(
                    schema_path, os.path.join(new_vdir, "_SCHEMA.json")
                )
            m = self._commit(
                {name: version},
                expected_head=head,
                branch=branch,
                # rewritten files carry the same pre-evolution schema
                # as the old version: ops must keep replaying
                keep_schema_ops={name},
            )
        except BaseException:
            shutil.rmtree(new_vdir, ignore_errors=True)
            raise
        finally:
            try:
                os.unlink(os.path.join(table_dir, f"v={version}.claim"))
            except FileNotFoundError:
                pass
        return m

    def _reachable_manifests(self) -> set[int]:
        """Manifest ids reachable from ANY ref by parent-walk — the
        live metadata set for gc."""
        seen: set[int] = set()
        for head in self.branches().values():
            cur = head
            while cur is not None and cur not in seen:
                seen.add(cur)
                cur = self._manifest_parent(cur)
        return seen

    def gc_uncommitted(self, grace_seconds: float = 0.0) -> dict[str, list[int]]:
        """Delete per-table version directories referenced by NO
        reachable manifest — debris from writers that crashed after
        staging but before the ref swap, and versions pinned only by
        since-deleted branches.

        Reachability-EXACT (ADVICE r15): the live set is the exact
        (table, version) pairs in every manifest reachable from any
        ref by parent-walk — not a max-per-table high-water mark,
        which leaked debris that landed BETWEEN two refs' pinned
        versions forever (main pins v3, a branch pins v5, a crashed
        writer orphaned v4: v4 < max(3,5) was never reclaimed).
        Scans ALL table directories under root (ADVICE r13): a table
        that was being INTRODUCED by a crashed transaction has staged
        versions but no manifest entry at all, so every version is
        unreferenced and the empty dir is removed too. Unreachable
        manifest FILES (crashed half-commits, deleted-branch history)
        are swept as well, reported under the reserved key
        ``_MANIFEST``.

        Concurrency: runs under the commit lock, so it can never
        interleave with a ref swap (a manifest is reachable or not —
        never mid-flip). A version STAGED by an in-flight transaction
        is unreferenced until its commit, though, so with writers
        running pass ``grace_seconds`` >= the longest transaction
        (e.g. 300): anything whose mtime is inside the window is
        presumed in-flight and skipped — the retention-window contract
        every object-store GC uses. The default 0 keeps the original
        "no writer in flight" semantics (reclaim everything now)."""
        now = time.time()

        def _fresh(path: str, horizon: float | None = None) -> bool:
            h = grace_seconds if horizon is None else horizon
            if h <= 0:
                return False
            try:
                return now - os.stat(path).st_mtime < h
            except OSError:
                return True  # vanished mid-scan -> leave it alone

        with self._locked():
            reachable = self._reachable_manifests()
            mdir = os.path.join(self.root, _MANIFEST_DIR)
            live: dict[str, set[int]] = {}
            for m in reachable:
                try:
                    with open(os.path.join(mdir, f"m={m}.json")) as f:
                        tables = json.load(f)["tables"]
                except FileNotFoundError:
                    continue
                for name, v in tables.items():
                    live.setdefault(name, set()).add(int(v))
            removed: dict[str, list[int]] = {}
            for name in os.listdir(self.root):
                tdir = self.table_dir(name)
                if name in (
                    _MANIFEST_DIR, _HEAD, _REFS_DIR, _COMMIT_LOCK,
                ) or not os.path.isdir(tdir):
                    continue
                keep = live.get(name, set())
                for d in os.listdir(tdir):
                    if d.startswith("v=") and d.endswith(".claim"):
                        # stale reservation from a crashed stager. A
                        # claim is ALWAYS given a minimum age before
                        # reclaim, even at grace_seconds=0 (ADVICE
                        # r16): unlinking a live in-flight claim
                        # re-enables the version-number collision
                        # _reserve_version exists to prevent. A real
                        # stager holds its claim only for the staging
                        # write, so the floor covers any live writer;
                        # a crashed one is swept on the next gc pass.
                        cpath = os.path.join(tdir, d)
                        if not _fresh(
                            cpath,
                            max(grace_seconds, _CLAIM_MIN_AGE_SECONDS),
                        ):
                            try:
                                os.unlink(cpath)
                            except FileNotFoundError:
                                pass
                        continue
                    if d.startswith("v=") and d.split("=", 1)[1].isdigit():
                        v = int(d.split("=", 1)[1])
                        vdir = _version_dir(tdir, v)
                        if v not in keep and not _fresh(vdir):
                            shutil.rmtree(vdir, ignore_errors=True)
                            removed.setdefault(name, []).append(v)
                # a never-committed table dir emptied of versions is
                # itself debris; remove it if nothing else lives there
                if name not in live and not os.listdir(tdir):
                    os.rmdir(tdir)
            for fname in os.listdir(mdir):
                if fname.startswith("m=") and fname.endswith(".json"):
                    mid = fname[len("m=") : -len(".json")]
                    mpath = os.path.join(mdir, fname)
                    if (
                        mid.isdigit()
                        and int(mid) not in reachable
                        and not _fresh(mpath)
                    ):
                        os.unlink(mpath)
                        removed.setdefault("_MANIFEST", []).append(int(mid))
            return {k: sorted(v) for k, v in removed.items()}


class CatalogTransaction:
    """Multi-table bracket over a Catalog: stage freely, commit ONCE.

    >>> with catalog.transaction() as txn:
    ...     txn.overwrite(dim_df, "dim_customers")
    ...     txn.overwrite(fact_df, "fact_orders", partition_by=("OrderDateKey",))
    ... # ONE HEAD swap here: both tables flip together or not at all

    An exception inside the block deletes every staged version; the
    committed manifest — and every table it references — is untouched.
    There is no partial-commit window to retry out of: either the HEAD
    swap happened (everything published) or it didn't (nothing
    published).
    """

    def __init__(self, catalog: Catalog, branch: str = "main") -> None:
        # a non-main branch must already exist (ADVICE r15): without
        # this, a typo'd branch name silently spawned an orphan ref
        # with an empty base at commit time instead of failing fast
        if branch != "main" and catalog.head(branch) is None:
            raise ValueError(
                f"unknown branch {branch!r}; create_branch() it first"
            )
        self._catalog = catalog
        self._branch = branch
        self._staged: dict[str, int] = {}
        self._append_staged: set[str] = set()
        # tables whose staged chain BEGAN with an overwrite in this
        # bracket: an append chained onto that rewrite inherits files
        # that already embody the current schema, so the commit must
        # still reset the table's schema-op list — without this,
        # overwrite-then-append re-enabled the replay-over-rewrite
        # corruption the r17 fix closed (ADVICE r17)
        self._rewrite_base: set[str] = set()
        # manifest id THIS transaction published (None until a commit
        # happens; stays None for an empty transaction). Callers that
        # report "the manifest my write landed in" must read this, not
        # re-read head() after exit — a racing commit can move head
        # past ours between the swap and the re-read (ADVICE r16).
        self.committed_manifest: int | None = None
        # optimistic-concurrency snapshot: commit fails (and rolls the
        # staged versions back) if THIS BRANCH's ref moves before we
        # publish — without this, {**manifest(), **staged} re-read at
        # commit time silently drops a racing writer's tables (ADVICE
        # r13). Writers on DIFFERENT branches never conflict: each CAS
        # guards its own ref.
        self._expected_head = catalog.head(branch)

    def _enforce_constraints(self, df: DataFrame, name: str) -> None:
        """CHECK-constraint gate on the rows THIS write introduces
        (r18): one filtered count per declared constraint, so an
        appended micro-batch pays O(batch), never O(table). FALSE and
        NULL are violations (every row must evaluate TRUE — Delta
        semantics). Raising here aborts the bracket before anything
        stages, so a violating write can never publish."""
        cons = self._catalog._manifest_constraints(
            self._expected_head
        ).get(name)
        if not cons:
            return
        from functools import reduce

        from pyspark.sql import functions as F

        # ONE pass over the write's plan regardless of how many
        # constraints are declared (code-review r18: per-constraint
        # passes recomputed a compaction's full merged plan N times);
        # the per-constraint attribution pass runs only on failure
        violated = [
            ~F.expr(expr).eqNullSafe(F.lit(True))
            for _, expr in sorted(cons.items())
        ]
        any_bad = (
            df.filter(reduce(lambda a, b: a | b, violated))
            .limit(1)
            .count()
        )
        if not any_bad:
            return
        for cname, expr in sorted(cons.items()):
            bad = (
                df.filter(~F.expr(expr).eqNullSafe(F.lit(True)))
                .limit(1)
                .count()
            )
            if bad:
                raise ConstraintViolationError(
                    f"write to {name!r} violates CHECK {cname!r} "
                    f"({expr}); transaction rolled back",
                    name,
                    cname,
                )
        raise ConstraintViolationError(  # pragma: no cover - race only
            f"write to {name!r} violates a CHECK constraint",
            name,
            "?",
        )

    def overwrite(
        self, df: DataFrame, name: str, partition_by: tuple[str, ...] = ()
    ) -> int:
        self._enforce_constraints(df, name)
        version = stage_version(df, self._catalog.table_dir(name), partition_by)
        self._staged[name] = version
        # a rewrite supersedes any earlier append of the same table in
        # this bracket — its files embody the current schema
        self._append_staged.discard(name)
        self._rewrite_base.add(name)
        return version

    def truncate(self, df: DataFrame, name: str) -> int:
        """Stage an EMPTY version of ``name`` carrying ``df``'s schema —
        the metadata-only form of ``overwrite(df.limit(0), name)``: no
        Spark job runs (see stage_empty_version). The compaction
        primitives use this to reset folded side tables (dv/delta/pdv)
        inside their atomic commit. Zero rows satisfy any CHECK
        constraint vacuously, so no enforcement pass is needed."""
        version = stage_empty_version(
            self._catalog.table_dir(name), df.schema.json()
        )
        self._staged[name] = version
        self._append_staged.discard(name)
        self._rewrite_base.add(name)
        return version

    def committed_rows(self, name: str) -> int | None:
        """Row count of ``name`` at THIS transaction's snapshot from
        parquet footers (no Spark job; see version_rows), or None when
        the footers cannot answer — callers fall back to a scan.
        Raises FileNotFoundError when the table is not in the
        snapshot, mirroring read_committed."""
        snap = self._catalog._manifest_tables(self._expected_head)
        if name not in snap:
            raise FileNotFoundError(
                f"table {name!r} not in snapshot m={self._expected_head}"
            )
        return version_rows(self._catalog.table_dir(name), snap[name])

    def committed_values(
        self, name: str, max_rows: int | None = None
    ) -> list[dict] | None:
        """ALL rows of a METADATA-SIZED table at THIS transaction's
        snapshot as driver-side dicts — no Spark job (the read half of
        the driver-side ledger commit path; see version_values for the
        None conditions, which include the ``max_rows`` growth guard
        and pending schema-evolution ops). Raises FileNotFoundError
        when the table is not in the snapshot, mirroring
        read_committed."""
        snap = self._catalog._manifest_tables(self._expected_head)
        if name not in snap:
            raise FileNotFoundError(
                f"table {name!r} not in snapshot m={self._expected_head}"
            )
        if self._catalog._manifest_schemas(self._expected_head).get(name):
            return None
        return version_values(
            self._catalog.table_dir(name), snap[name], max_rows
        )

    def overwrite_small(self, spark, rows, schema_ddl: str, name: str) -> int:
        """Overwrite ``name`` with DRIVER-MATERIALIZED rows: a direct
        pyarrow parquet stage when the schema maps (stage_small_version
        — no Spark job), the ordinary Spark overwrite otherwise. The
        write half of the driver-side ledger commit path (r20): the
        exactly-once sinks rewrite a by-contract metadata-sized table
        once per micro-batch, and the staged write job was pure fixed
        cost. Tables with declared CHECK constraints take the Spark
        path so enforcement semantics are untouched."""
        from pyspark.sql.types import StructType

        schema = StructType.fromDDL(schema_ddl)
        if not (
            self._catalog._manifest_constraints(self._expected_head).get(name)
        ):
            version = stage_small_version(
                self._catalog.table_dir(name), rows, schema
            )
            if version is not None:
                self._staged[name] = version
                self._append_staged.discard(name)
                self._rewrite_base.add(name)
                return version
        return self.overwrite(spark.createDataFrame(rows, schema_ddl), name)

    def append(self, df: DataFrame, name: str) -> int:
        """Stage base + new rows as a new version WITHOUT rewriting the
        base (stage_version_append: base part files hard-link into the
        new version dir; only ``df`` is actually written). Chains onto
        a version already staged in THIS transaction, else onto the
        transaction's snapshot; a table absent from both degrades to a
        plain overwrite (first write IS the append). Commit semantics
        are unchanged — the staged version publishes atomically with
        everything else in the bracket, CAS-guarded against racing
        writers."""
        if name in self._staged:
            base_v = self._staged[name]
        else:
            snap = self._catalog._manifest_tables(self._expected_head)
            if name not in snap:
                return self.overwrite(df, name)  # enforces constraints
            base_v = snap[name]
        self._enforce_constraints(df, name)
        version = stage_version_append(
            df, self._catalog.table_dir(name), base_v
        )
        # replacing our own earlier stage: drop the superseded dir
        if name in self._staged and self._staged[name] != version:
            shutil.rmtree(
                _version_dir(self._catalog.table_dir(name), self._staged[name]),
                ignore_errors=True,
            )
        self._staged[name] = version
        # appended files keep the base's (possibly pre-evolution)
        # schema — the commit must NOT reset this table's op list.
        # Exception: a chain that began with an overwrite IN THIS
        # bracket (self._rewrite_base) — those base files already
        # embody the current schema, so the ops still reset at commit
        # (the exclusion happens in __exit__ via _rewrite_base).
        self._append_staged.add(name)
        return version

    def read_staged(self, spark: SparkSession, name: str) -> DataFrame:
        """Scan a version staged IN THIS transaction (materialized but
        unpublished) — later steps build on earlier stages without
        recomputing their plans (the pipeline's dim -> fact flow)."""
        return _read_version_df(
            spark,
            _version_dir(self._catalog.table_dir(name), self._staged[name]),
        )

    def read_committed(self, spark: SparkSession, name: str) -> DataFrame:
        """Scan a table AS OF THIS TRANSACTION'S SNAPSHOT — the exact
        head the commit will CAS against. Catalog.read resolves the
        CURRENT head instead, so a read-modify-write built on it has a
        TOCTOU window (a commit landing between the read and this
        transaction's open would be silently overwritten by a
        stale-read union that still CAS-succeeds). Reading through the
        snapshot closes it: either the commit lands and the read was
        of the immediately preceding state (linearizable), or the ref
        moved and the commit raises ConcurrentCommitError — retry from
        a fresh transaction. This is snapshot isolation's read side,
        same contract as Iceberg's table-scan-at-snapshot inside a
        pending commit."""
        return self._catalog._read_table(
            spark, name, self._expected_head,
            f"snapshot m={self._expected_head} of branch {self._branch!r}",
        )

    def __enter__(self) -> "CatalogTransaction":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        try:
            # an empty transaction publishes NOTHING — no empty
            # manifest, no head bump (a read-only bracket that early-
            # returns must not mint commits; ADVICE r16 follow-on)
            if exc_type is None and self._staged:
                self.committed_manifest = self._catalog._commit(
                    self._staged,
                    expected_head=self._expected_head,
                    branch=self._branch,
                    # a staged chain whose base is a rewrite from this
                    # same bracket embodies the current schema even if
                    # appends followed — its op list must reset too
                    # (ADVICE r17)
                    keep_schema_ops=self._append_staged
                    - self._rewrite_base,
                )
                self._staged = {}
        finally:
            # rollback path: an exception in the block OR a lost
            # optimistic-concurrency race in _commit — either way the
            # staged (never-published) versions are deleted
            for name, version in self._staged.items():
                shutil.rmtree(
                    _version_dir(self._catalog.table_dir(name), version),
                    ignore_errors=True,
                )
            self._staged = {}
        return False  # propagate the exception after rollback
