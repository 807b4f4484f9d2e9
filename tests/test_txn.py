"""Transactional commit protocol: crash-mid-pipeline leaves the committed
view untouched; successful commits publish atomically."""

from __future__ import annotations

import os

import pytest

from glue_jobs_for_data_pipeline_spark.sources import txn


@pytest.fixture()
def cat(tmp_path):
    return txn.Catalog(str(tmp_path / "wh"))


def _vals(spark, cat, name="t"):
    return sorted(r["v"] for r in cat.read(spark, name).collect())


def _overwrite(cat, df, name="t", partition_by=()):
    with cat.transaction() as t:
        t.overwrite(df, name, partition_by)


def test_overwrite_then_read_committed(spark, cat):
    _overwrite(cat, spark.range(3).selectExpr("id AS v"))
    assert _vals(spark, cat) == [0, 1, 2]
    _overwrite(cat, spark.range(5, 7).selectExpr("id AS v"))
    assert _vals(spark, cat) == [5, 6]
    assert cat.manifest() == {"t": 2}


def test_staged_but_unpublished_is_invisible(spark, cat):
    _overwrite(cat, spark.range(2).selectExpr("id AS v"))
    tdir = cat.table_dir("t")
    v = txn.stage_version(spark.range(100, 103).selectExpr("id AS v"), tdir)
    # a crashed writer: full data on disk, no manifest names it
    assert os.path.isdir(os.path.join(tdir, f"v={v}"))
    assert _vals(spark, cat) == [0, 1]
    # and the orphan version number is never reused
    assert txn.stage_version(spark.range(1).selectExpr("id AS v"), tdir) == v + 1


def test_transaction_rolls_back_all_tables_on_failure(spark, cat):
    with cat.transaction() as t:
        t.overwrite(spark.range(1).selectExpr("id AS v"), "t1")
        t.overwrite(spark.range(1).selectExpr("id AS v"), "t2")
    head = cat.head()
    with pytest.raises(RuntimeError, match="mid-pipeline"):
        with cat.transaction() as t:
            t.overwrite(spark.range(10, 12).selectExpr("id AS v"), "t1")
            raise RuntimeError("mid-pipeline failure after first write")
    # committed views of BOTH tables unchanged; staged version removed
    assert _vals(spark, cat, "t1") == [0] and _vals(spark, cat, "t2") == [0]
    assert cat.head() == head
    assert not os.path.isdir(os.path.join(cat.table_dir("t1"), "v=2"))


def test_transaction_commits_all_tables_on_success(spark, cat):
    with cat.transaction() as t:
        t.overwrite(spark.range(1).selectExpr("id AS v"), "t1")
        t.overwrite(spark.range(1).selectExpr("id AS v"), "t2")
    with cat.transaction() as t:
        t.overwrite(spark.range(10, 12).selectExpr("id AS v"), "t1")
        t.overwrite(spark.range(20, 23).selectExpr("id AS v"), "t2")
    assert _vals(spark, cat, "t1") == [10, 11]
    assert _vals(spark, cat, "t2") == [20, 21, 22]


def test_compact_reduces_files_preserves_rows(spark, cat):
    # fragment: 64 partitions -> 64 tiny files
    frag = spark.range(10_000).selectExpr("id AS v").repartition(64)
    _overwrite(cat, frag)
    v1 = os.path.join(cat.table_dir("t"), "v=1")
    n_before = sum(f.endswith(".parquet") for f in os.listdir(v1))
    assert n_before == 64
    cat.compact_table(spark, "t", target_file_bytes=128 << 20)
    assert cat.manifest() == {"t": 2}
    v2 = os.path.join(cat.table_dir("t"), "v=2")
    n_after = sum(f.endswith(".parquet") for f in os.listdir(v2))
    assert n_after == 1  # well under one target-size file
    assert cat.read(spark, "t").count() == 10_000
    # old fragmented version still present until its snapshot expires
    assert os.path.isdir(v1)
    cat.expire_snapshots(keep_last=1, grace_seconds=0)
    assert not os.path.isdir(v1)


def test_vacuum_keeps_window_and_inflight(spark, cat):
    import time

    for i in range(4):
        _overwrite(cat, spark.range(i + 1).selectExpr("id AS v"))
    # the committed versions are an hour old; the staged one is fresh
    old = time.time() - 3600
    for v in range(1, 5):
        os.utime(txn._version_dir(cat.table_dir("t"), v), (old, old))
    staged = txn.stage_version(
        spark.range(9).selectExpr("id AS v"), cat.table_dir("t")
    )
    report = cat.expire_snapshots(keep_last=2, grace_seconds=300)
    assert report["reclaimed"].get("t") == [1, 2]
    # committed + predecessor + in-flight staging survive
    assert cat.manifest() == {"t": 4}
    assert _vals(spark, cat) == [0, 1, 2, 3]
    assert os.path.isdir(os.path.join(cat.table_dir("t"), f"v={staged}"))


def test_compact_preserves_partition_layout(spark, cat):
    """Compacting a partitioned table must keep the col=value directory
    layout (pruning survives) and the committed rows."""
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(300)], "v long, dk int"
    ).repartition(16)
    _overwrite(cat, df, partition_by=("dk",))
    cat.compact_table(spark, "t", target_file_bytes=128 << 20)
    vdir = txn._version_dir(cat.table_dir("t"), cat.manifest()["t"])
    subdirs = sorted(d for d in os.listdir(vdir) if d.startswith("dk="))
    assert subdirs == ["dk=0", "dk=1", "dk=2"]
    out = cat.read(spark, "t")
    assert out.count() == 300
    assert sorted(out.columns) == ["dk", "v"]
    # far fewer files than the 16-way fragmented original
    n_files = sum(
        f.endswith(".parquet")
        for root, _, files in os.walk(vdir) for f in files
    )
    assert n_files <= 3


# -------------------------------------------------------------------------
# retry_on_conflict: the one CAS-retry loop
# -------------------------------------------------------------------------


def test_retry_on_conflict_retries_only_cas_losses(monkeypatch):
    sleeps: list[float] = []
    monkeypatch.setattr(txn.time, "sleep", sleeps.append)
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise txn.ConcurrentCommitError(f"lost #{calls['n']}")
        return "committed"

    assert txn.retry_on_conflict(flaky) == "committed"
    assert calls["n"] == 3
    assert sleeps == [0.02, 0.04]  # linear back-off per lost race


def test_retry_on_conflict_gives_up_and_reraises_last(monkeypatch):
    monkeypatch.setattr(txn.time, "sleep", lambda s: None)
    calls = {"n": 0}

    def always_loses():
        calls["n"] += 1
        raise txn.ConcurrentCommitError(f"lost #{calls['n']}")

    with pytest.raises(txn.ConcurrentCommitError) as exc:
        txn.retry_on_conflict(always_loses)
    assert calls["n"] == txn._COMMIT_RETRIES == 16
    assert str(exc.value) == "lost #16"


def test_retry_on_conflict_propagates_other_errors_at_once(monkeypatch):
    sleeps: list[float] = []
    monkeypatch.setattr(txn.time, "sleep", sleeps.append)
    calls = {"n": 0}

    def broken():
        calls["n"] += 1
        raise ValueError("not a conflict")

    with pytest.raises(ValueError, match="not a conflict"):
        txn.retry_on_conflict(broken)
    assert calls["n"] == 1 and sleeps == []


# -------------------------------------------------------------------------
# Catalog: true multi-table atomic commit (one manifest + one HEAD swap)
# -------------------------------------------------------------------------


def _df(spark, tag: int):
    return spark.range(5).selectExpr("id", f"{tag} AS tag")


def test_catalog_commits_all_tables_in_one_swap(spark, tmp_path):
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
        t.overwrite(_df(spark, 1), "fact")
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 1
    assert cat.read(spark, "fact").selectExpr("max(tag)").first()[0] == 1
    head1 = cat.head()
    with cat.transaction() as t:
        t.overwrite(_df(spark, 2), "dim")
        t.overwrite(_df(spark, 2), "fact")
    assert cat.head() == head1 + 1
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 2
    assert cat.read(spark, "fact").selectExpr("max(tag)").first()[0] == 2


def test_catalog_rolls_back_staged_versions_on_error(spark, tmp_path):
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
        t.overwrite(_df(spark, 1), "fact")
    with pytest.raises(RuntimeError, match="boom"):
        with cat.transaction() as t:
            t.overwrite(_df(spark, 2), "dim")
            raise RuntimeError("boom")
    # committed view untouched, staged version gone from disk
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 1
    vdirs = [d for d in os.listdir(tmp_path / "wh" / "dim") if d.startswith("v=")]
    assert vdirs == ["v=1"]


def test_catalog_crash_before_head_swap_readers_see_old_pair(
    spark, tmp_path, monkeypatch
):
    """The M5 honest-gap proof: a crash AFTER the new dim and fact are
    fully staged (and even after the manifest file is written) but
    BEFORE the HEAD swap leaves readers on the OLD dim + OLD fact —
    never a mixed pair, unlike per-table pointer swaps."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
        t.overwrite(_df(spark, 1), "fact")

    real_replace = os.replace

    def crash_on_head(src, dst):
        if dst.endswith(txn._HEAD):
            raise OSError("simulated crash at the commit point")
        return real_replace(src, dst)

    monkeypatch.setattr(txn.os, "replace", crash_on_head)
    with pytest.raises(OSError, match="simulated crash"):
        with cat.transaction() as t:
            t.overwrite(_df(spark, 2), "dim")
            t.overwrite(_df(spark, 2), "fact")
    monkeypatch.undo()

    # BOTH tables still read as the old committed pair
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 1
    assert cat.read(spark, "fact").selectExpr("max(tag)").first()[0] == 1
    # the orphaned staged versions are reclaimable, then a retry commits
    cat.gc_uncommitted()
    with cat.transaction() as t:
        t.overwrite(_df(spark, 3), "dim")
        t.overwrite(_df(spark, 3), "fact")
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 3
    assert cat.read(spark, "fact").selectExpr("max(tag)").first()[0] == 3


def test_catalog_no_mixed_pair_at_any_replace_boundary(spark, tmp_path):
    """Exhaustive crash points: fail the k-th os.replace of the commit
    for every k; after each simulated crash the dim/fact tags a reader
    sees MUST match each other (all-old or all-new)."""
    for k in (1, 2, 3):
        root = str(tmp_path / f"wh{k}")
        cat = txn.Catalog(root)
        with cat.transaction() as t:
            t.overwrite(_df(spark, 1), "dim")
            t.overwrite(_df(spark, 1), "fact")
        calls = {"n": 0}
        real_replace = os.replace

        def flaky(src, dst, _k=k, _calls=calls):
            _calls["n"] += 1
            if _calls["n"] == _k:
                raise OSError("crash")
            return real_replace(src, dst)

        txn.os.replace = flaky
        try:
            try:
                with cat.transaction() as t:
                    t.overwrite(_df(spark, 2), "dim")
                    t.overwrite(_df(spark, 2), "fact")
            except OSError:
                pass
        finally:
            txn.os.replace = real_replace
        d = cat.read(spark, "dim").selectExpr("max(tag)").first()[0]
        f = cat.read(spark, "fact").selectExpr("max(tag)").first()[0]
        assert d == f, f"mixed dim/fact pair after crash at replace #{k}"


def test_catalog_compact_preserves_rows_and_layout(spark, tmp_path):
    cat = txn.Catalog(str(tmp_path / "wh"))
    df = spark.range(100).selectExpr("id", "id % 3 AS pk")
    with cat.transaction() as t:
        t.overwrite(df.repartition(8), "fact", partition_by=("pk",))
    cat.compact_table(spark, "fact", target_file_bytes=1 << 30)
    got = cat.read(spark, "fact")
    assert got.count() == 100
    assert set(got.columns) == {"id", "pk"}
    # partition layout survived (col=value dirs in the new version)
    vdir = txn._version_dir(cat.table_dir("fact"), cat.manifest()["fact"])
    assert any(d.startswith("pk=") for d in os.listdir(vdir))


def test_catalog_concurrent_writer_loses_with_cas_error(spark, tmp_path):
    """ADVICE r13: two transactions open at the same head; the second
    to commit must RAISE (lost-update guard), not silently merge over
    — and its staged versions roll back."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    t_a = cat.transaction().__enter__()
    t_b = cat.transaction().__enter__()
    t_a.overwrite(_df(spark, 2), "dim")
    t_b.overwrite(_df(spark, 3), "dim")
    assert t_a.__exit__(None, None, None) is False  # winner commits
    with pytest.raises(txn.ConcurrentCommitError, match="'main' moved"):
        t_b.__exit__(None, None, None)
    # winner's state committed; loser's staged version reclaimed
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 2
    vdirs = sorted(
        d for d in os.listdir(tmp_path / "wh" / "dim") if d.startswith("v=")
    )
    assert vdirs == ["v=1", "v=2"]


def test_catalog_commit_lock_blocks_second_writer(spark, tmp_path):
    """A LIVE, FRESH _COMMIT.lock (this pid, current timestamp) makes a
    racing commit fail fast instead of interleaving with the critical
    section — reclamation must not fire on a healthy holder."""
    import time as _time

    cat = txn.Catalog(str(tmp_path / "wh"))
    lock = os.path.join(cat.root, txn._COMMIT_LOCK)
    with open(lock, "w") as f:
        f.write(f"{os.getpid()} {_time.time()}")
    with pytest.raises(txn.ConcurrentCommitError, match="holds"):
        with cat.transaction() as t:
            t.overwrite(_df(spark, 1), "dim")
    os.unlink(lock)
    with cat.transaction() as t:  # lock released -> commit proceeds
        t.overwrite(_df(spark, 1), "dim")
    assert cat.read(spark, "dim").count() == 5


def test_catalog_reclaims_lock_of_dead_pid(spark, tmp_path):
    """A lock whose recorded pid no longer exists is a crashed holder:
    the next commit reclaims it and proceeds (ADVICE r14 — no manual
    rm required). Fake pid chosen outside the valid range."""
    import time as _time

    cat = txn.Catalog(str(tmp_path / "wh"))
    lock = os.path.join(cat.root, txn._COMMIT_LOCK)
    with open(lock, "w") as f:
        f.write(f"99999999 {_time.time()}")  # dead (pid_max default 4M)
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    assert cat.read(spark, "dim").count() == 5
    assert not os.path.exists(lock)


def test_catalog_reclaims_stale_lock_of_live_pid(spark, tmp_path):
    """A lock older than _LOCK_STALE_SECONDS is reclaimed even if its
    pid is alive (pid recycling / hung holder)."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    lock = os.path.join(cat.root, txn._COMMIT_LOCK)
    with open(lock, "w") as f:
        f.write(f"{os.getpid()} 1.0")  # epoch-old timestamp
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    assert cat.read(spark, "dim").count() == 5


def test_catalog_reclaims_corrupt_empty_lock_by_age(spark, tmp_path):
    """An empty lock file (crash between O_CREAT and the pid write) is
    judged by mtime: fresh -> contention error (never race a healthy
    writer's create-to-write gap); aged past the threshold -> reclaimed."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    lock = os.path.join(cat.root, txn._COMMIT_LOCK)
    with open(lock, "w"):
        pass
    with pytest.raises(txn.ConcurrentCommitError, match="holds"):
        with cat.transaction() as t:
            t.overwrite(_df(spark, 1), "dim")
    os.utime(lock, (1.0, 1.0))  # age it past _LOCK_STALE_SECONDS
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    assert cat.read(spark, "dim").count() == 5


def test_gc_uncommitted_reclaims_never_committed_table(spark, tmp_path):
    """ADVICE r13: a transaction that crashed while INTRODUCING a new
    table leaves staged versions for a name absent from the manifest;
    gc must treat it as cur=0 and reclaim it (plus the empty dir)."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    # simulate the crash: stage a brand-new table, never commit
    dead = cat.transaction().__enter__()
    dead.overwrite(_df(spark, 9), "newtab")
    dead._staged = {}  # crash: bracket never runs its exit publish
    assert os.path.isdir(tmp_path / "wh" / "newtab" / "v=1")
    removed = cat.gc_uncommitted()
    assert removed == {"newtab": [1]}
    assert not os.path.exists(tmp_path / "wh" / "newtab")
    # committed table untouched
    assert cat.read(spark, "dim").count() == 5


def test_catalog_cas_loser_retry_recipe_succeeds(spark, tmp_path):
    """The documented recovery path for ConcurrentCommitError: re-open
    a transaction (re-reads head), restage, commit — the loser's
    retried write lands on TOP of the winner's manifest with no table
    lost (the lost-update scenario the CAS exists to prevent)."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
        t.overwrite(_df(spark, 1), "fact")
    t_a = cat.transaction().__enter__()
    t_b = cat.transaction().__enter__()
    t_a.overwrite(_df(spark, 2), "fact")      # winner updates fact
    t_b.overwrite(_df(spark, 3), "dim")       # loser updates dim
    t_a.__exit__(None, None, None)
    with pytest.raises(txn.ConcurrentCommitError):
        t_b.__exit__(None, None, None)
    with cat.transaction() as retry:           # recipe: reopen + restage
        retry.overwrite(_df(spark, 3), "dim")
    # both writers' tables present: winner's fact AND retried dim
    assert cat.read(spark, "fact").selectExpr("max(tag)").first()[0] == 2
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 3


def test_catalog_threaded_writers_serialize_without_lost_updates(spark, tmp_path):
    """8 threads commit disjoint tables concurrently with retry-on-
    conflict: every table must survive in the final manifest (no lost
    updates), heads strictly increase, and losers only ever see
    ConcurrentCommitError — never a silent overwrite. Exercises the
    O_EXCL lock + CAS under real parallelism."""
    import threading

    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 0), "seed")
    errors: list[Exception] = []

    def writer(i: int) -> None:
        for attempt in range(30):
            try:
                with cat.transaction() as t:
                    t.overwrite(_df(spark, i), f"tab_{i}")
                return
            except txn.ConcurrentCommitError:
                continue
            except Exception as exc:  # noqa: BLE001 — collected for assert
                errors.append(exc)
                return
        errors.append(RuntimeError(f"writer {i} exhausted retries"))

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    manifest = cat.manifest()
    assert set(manifest) == {"seed"} | {f"tab_{i}" for i in range(8)}
    for i in range(8):
        assert cat.read(spark, f"tab_{i}").selectExpr("max(tag)").first()[0] == i


# --------------------------------------------------------------------------
# Branch refs (r15): fork / isolated commits / fast-forward merge / gc
# --------------------------------------------------------------------------


def test_branch_fork_isolates_commits_and_shares_data(spark, tmp_path):
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
        t.overwrite(_df(spark, 1), "fact")
    fork_m = cat.create_branch("exp")
    assert fork_m == cat.head()
    # zero data copy: the branch resolves to the SAME version dirs
    assert cat.manifest("exp") == cat.manifest()

    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    # branch sees the new dim; main is untouched; fact is still shared
    assert cat.read(spark, "dim", branch="exp").selectExpr("max(tag)").first()[0] == 9
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 1
    assert cat.manifest("exp")["fact"] == cat.manifest()["fact"]
    assert cat.branches().keys() == {"main", "exp"}


def test_branch_writers_on_different_refs_do_not_conflict(spark, tmp_path):
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("a")
    cat.create_branch("b")
    ta, tb = cat.transaction(branch="a"), cat.transaction(branch="b")
    with ta as t:
        t.overwrite(_df(spark, 2), "dim")
    with tb as t:  # opened before a's commit; different ref -> no CAS clash
        t.overwrite(_df(spark, 3), "dim")
    assert cat.read(spark, "dim", branch="a").selectExpr("max(tag)").first()[0] == 2
    assert cat.read(spark, "dim", branch="b").selectExpr("max(tag)").first()[0] == 3


def test_branch_same_ref_cas_still_fires(spark, tmp_path):
    import pytest

    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("exp")
    loser = cat.transaction(branch="exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 2), "dim")
    with pytest.raises(txn.ConcurrentCommitError):
        with loser as t:
            t.overwrite(_df(spark, 3), "dim")


def test_merge_ff_moves_main_and_rejects_divergence(spark, tmp_path):
    import pytest

    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 10), "dim")
    m = cat.merge_ff("exp")  # main did not move since the fork -> FF ok
    assert cat.head() == m == cat.head("exp")
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 10

    # diverge: commit to BOTH refs, then FF must refuse
    cat.create_branch("exp2")
    with cat.transaction(branch="exp2") as t:
        t.overwrite(_df(spark, 20), "dim")
    with cat.transaction() as t:
        t.overwrite(_df(spark, 30), "dim")
    with pytest.raises(ValueError, match="non-fast-forward"):
        cat.merge_ff("exp2")


def test_gc_uncommitted_preserves_branch_only_versions(spark, tmp_path):
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    # the branch's dim version is NEWER than main's manifest entry but
    # referenced by the exp ref -> NOT debris
    removed = cat.gc_uncommitted()
    assert removed == {}
    assert cat.read(spark, "dim", branch="exp").selectExpr("max(tag)").first()[0] == 9
    # after the branch is deleted the version is unreferenced -> debris
    cat.delete_branch("exp")
    removed = cat.gc_uncommitted()
    assert "dim" in removed and removed["dim"]
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 1


def test_branch_name_validation_and_main_protection(tmp_path):
    import pytest

    cat = txn.Catalog(str(tmp_path / "wh"))
    with pytest.raises(ValueError):
        cat._ref_path("../escape")
    with pytest.raises(ValueError):
        cat.delete_branch("main")
    with pytest.raises(ValueError):
        cat.create_branch("x")  # nothing committed to fork yet


# --------------------------------------------------------------------------
# r16: reachability-exact gc, locked branch deletes, unknown-branch guard,
# rebase (three-way manifest merge), and branch-level race stress
# --------------------------------------------------------------------------


def test_gc_reclaims_orphan_between_ref_pins(spark, tmp_path):
    """ADVICE r15: main pins v1, a branch pins v3, a crashed writer
    orphaned v2 BETWEEN them — the old max-per-table high-water mark
    (max(1,3)=3) never reclaimed v2; the reachability-exact gc must."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("exp")
    # crashed writer: stage v2, never commit
    dead = cat.transaction().__enter__()
    dead.overwrite(_df(spark, 2), "dim")
    dead._staged = {}  # crash before the exit publish
    # branch commits v3 on top
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 3), "dim")
    assert os.path.isdir(tmp_path / "wh" / "dim" / "v=2")
    removed = cat.gc_uncommitted()
    assert removed == {"dim": [2]}
    # both pinned versions still read
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 1
    assert cat.read(spark, "dim", branch="exp").selectExpr("max(tag)").first()[0] == 3


def test_gc_sweeps_unreachable_manifests(spark, tmp_path):
    """Deleting a branch unpins its manifests; gc removes the manifest
    FILES too (reported under the reserved _MANIFEST key)."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    exp_m = cat.head("exp")
    cat.delete_branch("exp")
    removed = cat.gc_uncommitted()
    assert removed["_MANIFEST"] == [exp_m]
    assert not os.path.exists(
        tmp_path / "wh" / "_MANIFEST" / f"m={exp_m}.json"
    )
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 1


def test_transaction_on_unknown_branch_fails_fast(spark, tmp_path):
    """ADVICE r15: a typo'd branch name must raise at open, not spawn
    an orphan empty-base ref at commit time."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:  # main is always allowed
        t.overwrite(_df(spark, 1), "dim")
    with pytest.raises(ValueError, match="unknown branch"):
        cat.transaction(branch="expp")
    assert "expp" not in cat.branches()


def test_delete_branch_respects_commit_lock(spark, tmp_path):
    """ADVICE r15: delete_branch takes the same lock as ref swaps, so
    it cannot interleave with a commit's CAS on the same ref."""
    import time as _time

    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("exp")
    lock = os.path.join(str(tmp_path / "wh"), txn._COMMIT_LOCK)
    with open(lock, "w") as f:
        f.write(f"{os.getpid()} {_time.time()}")  # live, fresh holder
    with pytest.raises(txn.ConcurrentCommitError):
        cat.delete_branch("exp")
    os.unlink(lock)
    cat.delete_branch("exp")
    assert "exp" not in cat.branches()


def test_rebase_replays_branch_onto_moved_main(spark, tmp_path):
    """Divergent histories on DISJOINT tables: rebase writes one new
    manifest {onto's tables, branch's changes}, after which merge_ff
    promotes it — neither side's commit is lost."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
        t.overwrite(_df(spark, 1), "fact")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    with cat.transaction() as t:  # main moves too -> diverged
        t.overwrite(_df(spark, 5), "fact")
    with pytest.raises(ValueError, match="non-fast-forward"):
        cat.merge_ff("exp")
    m = cat.rebase("exp")
    assert cat.head("exp") == m
    # rebase moved only the branch ref; main untouched until merge
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 1
    cat.merge_ff("exp")
    assert cat.read(spark, "dim").selectExpr("max(tag)").first()[0] == 9
    assert cat.read(spark, "fact").selectExpr("max(tag)").first()[0] == 5


def test_rebase_conflict_names_tables_and_moves_nothing(spark, tmp_path):
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    with cat.transaction() as t:
        t.overwrite(_df(spark, 5), "dim")  # same table on both sides
    b_head, o_head = cat.head("exp"), cat.head()
    with pytest.raises(txn.MergeConflictError) as ei:
        cat.rebase("exp")
    assert ei.value.tables == ["dim"]
    # a refused rebase is a pure no-op on both refs
    assert (cat.head("exp"), cat.head()) == (b_head, o_head)


def test_rebase_noop_when_already_based(spark, tmp_path):
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
    cat.create_branch("exp")
    assert cat.rebase("exp") == cat.head("exp")  # same head as main
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    h = cat.head("exp")
    assert cat.rebase("exp") == h  # main is the merge base -> FF shape


def test_branch_commit_vs_merge_vs_gc_threaded(spark, tmp_path):
    """VERDICT r15 task 5: threaded writers on N branches, a racing
    rebase+fast-forward merger, and gc (with the retention grace
    window that makes it writer-safe) all running concurrently.
    Invariants: no lost branch commit — every branch's LAST tag
    survives on main after the final merges; losers only ever see
    ConcurrentCommitError (or a retryable non-FF ValueError); and gc
    never deletes a version any surviving ref resolves to."""
    import threading

    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 0), "seed")
    n_branches = 4
    for i in range(n_branches):
        cat.create_branch(f"b{i}")
    errors: list[Exception] = []
    done = threading.Event()

    def writer(i: int) -> None:
        import time as _time

        try:
            for commit_no in range(3):
                for attempt in range(120):
                    try:
                        with cat.transaction(branch=f"b{i}") as t:
                            t.overwrite(
                                _df(spark, 100 * i + commit_no), f"tab_{i}"
                            )
                        break
                    except txn.ConcurrentCommitError:
                        # backoff: a CAS loss costs a full re-stage, so
                        # give the merger's ref churn time to quiesce
                        # instead of racing it at staging speed
                        _time.sleep(0.02 * min(attempt + 1, 10))
                        continue
                else:
                    raise RuntimeError(f"writer {i} exhausted retries")
        except Exception as exc:  # noqa: BLE001 — collected for assert
            errors.append(exc)

    def merger() -> None:
        # races the writers: any interleaving must either merge cleanly
        # or fail with a retryable conflict — never corrupt a ref
        import time as _time

        while not done.is_set():
            for i in range(n_branches):
                # realistic merger cadence: spinning at staging speed
                # turns the test into a designed livelock (every writer
                # CAS loses to a rebase that happened mid-stage)
                _time.sleep(0.25)
                if done.is_set():
                    break
                try:
                    cat.rebase(f"b{i}")
                    cat.merge_ff(f"b{i}")
                except (txn.ConcurrentCommitError, ValueError):
                    continue
                except Exception as exc:  # noqa: BLE001
                    errors.append(exc)
                    return

    def gc_loop() -> None:
        # writer-safe mode: grace window >= the longest transaction, so
        # freshly staged (not yet committed) versions are off-limits
        import time as _time

        while not done.is_set():
            _time.sleep(0.05)
            try:
                cat.gc_uncommitted(grace_seconds=300.0)
            except txn.ConcurrentCommitError:
                continue  # a commit holds the lock — next sweep
            except Exception as exc:  # noqa: BLE001
                errors.append(exc)
                return

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(n_branches)
    ] + [threading.Thread(target=merger), threading.Thread(target=gc_loop)]
    for th in threads:
        th.start()
    for th in threads[:n_branches]:
        th.join()
    done.set()
    for th in threads[n_branches:]:
        th.join()
    if errors:
        raise AssertionError(errors)
    # quiesced: final rebase+ff per branch must land every last commit
    for i in range(n_branches):
        for _ in range(40):
            try:
                cat.rebase(f"b{i}")
                cat.merge_ff(f"b{i}")
                break
            except (txn.ConcurrentCommitError, ValueError):
                continue
        else:
            raise AssertionError(f"merge of b{i} never succeeded")
    final = cat.manifest()
    assert {f"tab_{i}" for i in range(n_branches)} <= set(final)
    for i in range(n_branches):
        assert (
            cat.read(spark, f"tab_{i}").selectExpr("max(tag)").first()[0]
            == 100 * i + 2
        )


def test_commit_log_and_read_asof(spark, tmp_path):
    """Catalog.log walks oldest-first with exact per-commit change
    sets; read_asof resolves any reachable snapshot; a rebase's
    replayed manifest appears on the branch log with main's head as
    parent."""
    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(10).select(F.col("id").alias("k")), "a")
    with cat.transaction() as t:
        t.overwrite(spark.range(4).select(F.col("id").alias("k")), "a")
        t.overwrite(spark.range(7).select(F.col("id").alias("k")), "b")
    log = cat.log()
    assert [e["changed"] for e in log] == [["a"], ["a", "b"]]
    assert log[0]["parent"] is None and log[1]["parent"] == log[0]["manifest"]
    assert [e["n_tables"] for e in log] == [1, 2]
    # as-of: first snapshot still shows the 10-row version of `a`
    assert cat.read_asof(spark, "a", log[0]["manifest"]).count() == 10
    assert cat.read_asof(spark, "a", log[1]["manifest"]).count() == 4
    import pytest

    with pytest.raises(FileNotFoundError):
        cat.read_asof(spark, "b", log[0]["manifest"])
    # branch + rebase lineage: the replayed manifest's parent is the
    # new main head, and the branch log shows main's history + replay
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(spark.range(2).select(F.col("id").alias("k")), "b")
    with cat.transaction() as t:
        t.overwrite(spark.range(3).select(F.col("id").alias("k")), "a")
    cat.rebase("exp")
    blog = cat.log("exp")
    assert [e["changed"] for e in blog[-2:]] == [["a"], ["b"]]
    assert blog[-1]["parent"] == cat.head("main")


def test_empty_transaction_publishes_nothing(spark, tmp_path):
    """A bracket that stages nothing (read-only use, early return)
    must not mint an empty manifest or bump head (ADVICE r16)."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).toDF("id"), "t")
    h = cat.head()
    with cat.transaction() as t2:
        pass
    assert cat.head() == h
    assert t2.committed_manifest is None


def test_transaction_exposes_committed_manifest(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).toDF("id"), "t")
    assert t.committed_manifest == cat.head()


def test_gc_never_reclaims_fresh_claim_at_grace_zero(spark, tmp_path):
    """gc_uncommitted(grace_seconds=0) must leave a LIVE stager's
    v=*.claim reservation alone (ADVICE r16): unlinking it re-enables
    the version-number collision _reserve_version prevents. Only a
    claim older than the minimum age is swept."""
    import os

    from glue_jobs_for_data_pipeline_spark.sources import txn as txn_mod
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).toDF("id"), "t")
    claim = os.path.join(cat.table_dir("t"), "v=9.claim")
    open(claim, "w").close()  # an in-flight writer's reservation
    cat.gc_uncommitted(grace_seconds=0)
    assert os.path.exists(claim)  # fresh -> untouched
    old = txn_mod.time.time() - txn_mod._CLAIM_MIN_AGE_SECONDS - 60
    os.utime(claim, (old, old))
    cat.gc_uncommitted(grace_seconds=0)
    assert not os.path.exists(claim)  # aged past the floor -> swept


def _evo_cat(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(
            spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS name"),
            "t",
        )
    return cat


def test_schema_evolution_replays_old_files_under_new_schema(spark, tmp_path):
    """evolve_schema is metadata-only: the v1 data files are untouched,
    but a current read renames and back-fills the added column with its
    recorded default (r17 — the one sane ALTER TABLE at 100 TB)."""
    cat = _evo_cat(spark, tmp_path)
    v1 = cat.manifest()["t"]
    cat.evolve_schema("t", [
        {"op": "rename", "old": "name", "new": "label"},
        {"op": "add", "col": "tier", "type": "string", "default": "std"},
    ])
    assert cat.manifest()["t"] == v1  # no data file moved
    rows = cat.read(spark, "t").orderBy("k").collect()
    assert rows[0].asDict() == {"k": 0, "label": "0", "tier": "std"}
    assert {r["tier"] for r in rows} == {"std"}


def test_schema_evolution_time_travel_sees_schema_of_its_era(spark, tmp_path):
    cat = _evo_cat(spark, tmp_path)
    m1 = cat.head()
    m2 = cat.evolve_schema("t", [
        {"op": "rename", "old": "name", "new": "label"},
    ])
    assert cat.read_asof(spark, "t", m1).columns == ["k", "name"]
    assert cat.read_asof(spark, "t", m2).columns == ["k", "label"]


def test_schema_evolution_new_writes_and_chained_renames(spark, tmp_path):
    """Files written AFTER the evolution already have the new schema —
    ops skip them (idempotent replay); a second rename chains onto the
    first for files of any generation."""
    cat = _evo_cat(spark, tmp_path)
    cat.evolve_schema("t", [
        {"op": "rename", "old": "name", "new": "label"},
        {"op": "add", "col": "tier", "type": "string", "default": "std"},
    ])
    with cat.transaction() as t:
        cur = cat.read(spark, "t")
        t.overwrite(
            cur.unionByName(
                spark.createDataFrame(
                    [(9, "nine", "gold")], "k long, label string, tier string"
                )
            ),
            "t",
        )
    cat.evolve_schema("t", [{"op": "rename", "old": "label", "new": "title"}])
    rows = {r["k"]: (r["title"], r["tier"])
            for r in cat.read(spark, "t").collect()}
    assert rows[9] == ("nine", "gold")
    assert rows[0] == ("0", "std")
    # transaction-snapshot reads conform too
    with cat.transaction() as t:
        assert t.read_committed(spark, "t").columns == ["k", "title", "tier"]


def test_schema_evolution_rebase_carries_and_conflicts(spark, tmp_path):
    """A branch's schema evolution replays onto main through rebase;
    evolving the SAME table on both sides since the fork is a
    MergeConflictError, same policy as data-version conflicts."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import (
        Catalog,
        MergeConflictError,
    )

    cat = _evo_cat(spark, tmp_path)
    with cat.transaction() as t:
        t.overwrite(spark.range(3).toDF("id"), "other")
    cat.create_branch("exp")
    cat.evolve_schema("t", [
        {"op": "rename", "old": "name", "new": "label"},
    ], branch="exp")
    with cat.transaction() as t:  # main moves a DIFFERENT table
        t.overwrite(spark.range(4).toDF("id"), "other")
    cat.rebase("exp")
    cat.merge_ff("exp")
    assert cat.read(spark, "t").columns == ["k", "label"]
    assert cat.read(spark, "other").count() == 4
    # conflict half
    cat.create_branch("exp2")
    cat.evolve_schema("t", [
        {"op": "add", "col": "a", "type": "int", "default": 1},
    ], branch="exp2")
    cat.evolve_schema("t", [
        {"op": "add", "col": "b", "type": "int", "default": 2},
    ])
    try:
        cat.rebase("exp2")
        raise AssertionError("rebase merged divergent schema evolution")
    except MergeConflictError as exc:
        assert exc.tables == ["t"]


def test_schema_evolution_in_commit_log(spark, tmp_path):
    cat = _evo_cat(spark, tmp_path)
    cat.evolve_schema("t", [
        {"op": "add", "col": "z", "type": "int", "default": 0},
    ])
    log = cat.log()
    assert log[-1]["schema_changed"] == ["t"]
    assert log[-1]["changed"] == []  # metadata-only commit
    assert log[-2]["schema_changed"] == []


def test_schema_evolution_rejects_bad_ops(spark, tmp_path):
    import pytest as _pytest

    cat = _evo_cat(spark, tmp_path)
    for bad in (
        [],
        [{"op": "rename", "old": "x", "new": "x"}],
        [{"op": "add", "col": "c"}],
        [{"op": "drop"}],
        [{"op": "truncate", "col": "k"}],
    ):
        with _pytest.raises(ValueError):
            cat.evolve_schema("t", bad)


def test_snapshot_diff_classifies_rows(spark, tmp_path):
    """added / removed / changed between two manifests; unchanged rows
    never emit; removed rows carry NULL compare values."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    with cat.transaction() as t:
        t.overwrite(v1, "t")
    m1 = cat.head()
    v2 = spark.createDataFrame(
        [(1, "a"), (3, "C"), (4, "d")], "k long, v string"
    )
    with cat.transaction() as t:
        t.overwrite(v2, "t")
    got = {
        r["k"]: (r["v"], r["change"])
        for r in cat.snapshot_diff(
            spark, "t", m1, cat.head(), ("k",), ("v",)
        ).collect()
    }
    assert got == {
        2: (None, "removed"),
        3: ("C", "changed"),
        4: ("d", "added"),
    }  # k=1 unchanged -> absent


def test_snapshot_diff_keys_only(spark, tmp_path):
    """Without compare columns the diff is pure membership: no
    'changed' class can fire."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(5).toDF("k"), "t")
    m1 = cat.head()
    with cat.transaction() as t:
        t.overwrite(spark.range(3, 8).toDF("k"), "t")
    got = {
        r["k"]: r["change"]
        for r in cat.snapshot_diff(spark, "t", m1, cat.head(), ("k",)).collect()
    }
    assert got == {0: "removed", 1: "removed", 2: "removed",
                   5: "added", 6: "added", 7: "added"}


def test_schema_evolution_drop_column(spark, tmp_path):
    """DROP COLUMN is metadata-only: old files keep the bytes, every
    read projects the column away; add->drop->re-add round-trips, and
    time travel before the drop still shows the column."""
    cat = _evo_cat(spark, tmp_path)
    m_before = cat.head()
    cat.evolve_schema("t", [{"op": "drop", "col": "name"}])
    assert cat.read(spark, "t").columns == ["k"]
    assert cat.read_asof(spark, "t", m_before).columns == ["k", "name"]
    # re-add under the same name: old files' surviving bytes must NOT
    # resurrect — the drop projects first, the add backfills after
    cat.evolve_schema("t", [
        {"op": "add", "col": "name", "type": "string", "default": "fresh"},
    ])
    rows = cat.read(spark, "t").collect()
    assert {r["name"] for r in rows} == {"fresh"}
    # transaction-snapshot read agrees
    with cat.transaction() as t:
        assert t.read_committed(spark, "t").columns == ["k", "name"]


def test_rewrite_after_drop_readd_keeps_real_values(spark, tmp_path):
    """The op-replay corruption class (code-review r17): after
    drop('name') + re-add('name'), a transaction rewrites the table
    with REAL computed values in the re-added column. The rewrite
    resets the op list, so reads must keep those values — replaying
    the old drop over the new files would project them away and
    backfill the stale default."""
    cat = _evo_cat(spark, tmp_path)
    cat.evolve_schema("t", [{"op": "drop", "col": "name"}])
    cat.evolve_schema("t", [
        {"op": "add", "col": "name", "type": "string", "default": "fresh"},
    ])
    from pyspark.sql import functions as F

    with cat.transaction() as t:
        t.overwrite(
            cat.read(spark, "t").withColumn(
                "name", F.concat(F.lit("real-"), F.col("k"))
            ),
            "t",
        )
    rows = {r["k"]: r["name"] for r in cat.read(spark, "t").collect()}
    assert rows[0] == "real-0" and "fresh" not in rows.values()
    # and the manifest no longer carries ops for the rewritten table
    assert "t" not in cat._manifest_schemas(cat.head())


def test_append_preserves_pending_schema_ops(spark, tmp_path):
    """An APPEND must NOT reset the op list: its files carry the
    base's pre-evolution schema, so the ops still apply to them."""
    cat = _evo_cat(spark, tmp_path)
    cat.evolve_schema("t", [
        {"op": "add", "col": "tier", "type": "string", "default": "std"},
    ])
    # appended rows match the BASE recorded schema (k, name)
    with cat.transaction() as t:
        t.append(
            spark.createDataFrame([(9, "nine")], "k long, name string"), "t"
        )
    assert "t" in cat._manifest_schemas(cat.head())
    rows = {r["k"]: r["tier"] for r in cat.read(spark, "t").collect()}
    assert rows[9] == "std" and rows[0] == "std"


def test_overwrite_then_append_resets_schema_ops(spark, tmp_path):
    """OVERWRITE followed by APPEND on the same table in ONE
    transaction: the staged chain began with a rewrite whose files
    embody the current schema, so the commit must still reset the op
    list — keeping it would replay a drop-then-re-add over the
    rewrite's REAL values and backfill the stale default (ADVICE
    r17, the re-enabled corruption path)."""
    from pyspark.sql import functions as F

    cat = _evo_cat(spark, tmp_path)
    cat.evolve_schema("t", [{"op": "drop", "col": "name"}])
    cat.evolve_schema("t", [
        {"op": "add", "col": "name", "type": "string", "default": "fresh"},
    ])
    with cat.transaction() as t:
        rewritten = cat.read(spark, "t").withColumn(
            "name", F.concat(F.lit("real-"), F.col("k"))
        )
        t.overwrite(rewritten, "t")
        t.append(
            spark.createDataFrame(
                [(9, "real-9")], "k long, name string"
            ),
            "t",
        )
    assert "t" not in cat._manifest_schemas(cat.head())
    rows = {r["k"]: r["name"] for r in cat.read(spark, "t").collect()}
    assert rows[0] == "real-0" and rows[9] == "real-9"
    assert "fresh" not in rows.values()


def test_append_then_overwrite_still_resets_ops(spark, tmp_path):
    """APPEND then OVERWRITE in one bracket: the rewrite supersedes the
    append, so the ops reset (the pre-r17 behavior, kept intact by the
    _rewrite_base fix)."""
    cat = _evo_cat(spark, tmp_path)
    cat.evolve_schema("t", [
        {"op": "rename", "old": "name", "new": "label"},
    ])
    with cat.transaction() as t:
        t.append(
            spark.createDataFrame([(8, "eight")], "k long, name string"), "t"
        )
        t.overwrite(
            spark.createDataFrame([(1, "one")], "k long, label string"), "t"
        )
    assert "t" not in cat._manifest_schemas(cat.head())
    assert cat.read(spark, "t").columns == ["k", "label"]


def test_first_commit_race_on_empty_catalog_is_detected(spark, tmp_path):
    """Two transactions both opened on an EMPTY catalog: the second
    commit must raise ConcurrentCommitError, not silently replace the
    first's manifest (the None-CAS hole; code-review r17)."""
    import pytest as _pytest

    from glue_jobs_for_data_pipeline_spark.sources.txn import (
        Catalog,
        ConcurrentCommitError,
    )

    cat = Catalog(str(tmp_path / "wh"))
    t1 = cat.transaction()
    t2 = cat.transaction()
    with t1:
        t1.overwrite(spark.range(2).toDF("a"), "ta")
    with _pytest.raises(ConcurrentCommitError):
        with t2:
            t2.overwrite(spark.range(2).toDF("b"), "tb")
    assert "ta" in cat.manifest()  # winner intact


def test_rebase_respects_branch_schema_clear(spark, tmp_path):
    """A branch that REWROTE an evolved table cleared its ops; rebase
    must not re-attach the base's ops onto the rewrite's files."""
    cat = _evo_cat(spark, tmp_path)
    cat.evolve_schema("t", [
        {"op": "rename", "old": "name", "new": "label"},
    ])
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:  # rewrite clears ops
        t.overwrite(cat.read(spark, "t", branch="exp"), "t")
    with cat.transaction() as t:  # main moves another table
        t.overwrite(spark.range(2).toDF("id"), "other")
    cat.rebase("exp")
    cat.merge_ff("exp")
    assert "t" not in cat._manifest_schemas(cat.head())
    assert cat.read(spark, "t").columns == ["k", "label"]


def test_schema_widening_replays_and_new_writes_skip(spark, tmp_path):
    """widen INT->BIGINT and DECIMAL precision growth (r18): old files
    cast up on read; files written after the widen already match and
    replay as a no-op; time travel sees the narrow type of its era."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(
            spark.range(4).selectExpr(
                "CAST(id AS INT) AS k",
                "CAST(id * 1.5 AS DECIMAL(8,2)) AS amt",
            ),
            "t",
        )
    m_before = cat.head()
    cat.evolve_schema("t", [
        {"op": "widen", "col": "k", "type": "bigint"},
        {"op": "widen", "col": "amt", "type": "decimal(18,2)"},
    ])
    got = dict(cat.read(spark, "t").dtypes)
    assert got["k"] == "bigint" and got["amt"] == "decimal(18,2)"
    assert {r["k"] for r in cat.read(spark, "t").collect()} == {0, 1, 2, 3}
    # time travel: the era before the widen keeps the narrow types
    old = dict(cat.read_asof(spark, "t", m_before).dtypes)
    assert old["k"] == "int" and old["amt"] == "decimal(8,2)"
    # append rows in the BASE FILE schema (narrow) post-widen: the
    # op keeps replaying over the appended files and widens them too
    with cat.transaction() as t:
        t.append(
            spark.sql(
                "SELECT CAST(9 AS INT) AS k, "
                "CAST(13.50 AS DECIMAL(8,2)) AS amt"
            ),
            "t",
        )
    assert sorted(r["k"] for r in cat.read(spark, "t").collect()) == [
        0, 1, 2, 3, 9,
    ]
    assert dict(cat.read(spark, "t").dtypes)["amt"] == "decimal(18,2)"


def test_schema_widening_resets_on_rewrite(spark, tmp_path):
    """The r17 replay-over-rewrite bug class, for widen: a rewrite
    after the widen embodies the wide type and resets the op list —
    no stale op is left to fight a later narrow re-add."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).selectExpr("CAST(id AS INT) AS k"), "t")
    cat.evolve_schema("t", [{"op": "widen", "col": "k", "type": "bigint"}])
    with cat.transaction() as t:
        t.overwrite(cat.read(spark, "t"), "t")  # embodies bigint
    assert "t" not in cat._manifest_schemas(cat.head())
    assert dict(cat.read(spark, "t").dtypes)["k"] == "bigint"


def test_schema_widening_rejects_narrowing(spark, tmp_path):
    """Narrowing is rejected: evolve_schema refuses targets no type can
    widen to (e.g. string), and replay refuses any source->target pair
    that is not losslessly widening — a metadata-only commit cannot
    know the source type, so the replay gate is the authoritative one."""
    import pytest as _pytest

    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).selectExpr("id AS k"), "t")  # bigint
    with _pytest.raises(ValueError):
        cat.evolve_schema(
            "t", [{"op": "widen", "col": "k", "type": "string"}]
        )
    # bigint -> int is a narrowing; caught when the op replays
    cat.evolve_schema("t", [{"op": "widen", "col": "k", "type": "int"}])
    with _pytest.raises(ValueError, match="not a lossless widening"):
        cat.read(spark, "t")


def test_schema_widening_bigint_to_double_rejected(spark, tmp_path):
    """bigint -> double loses integer precision past 2^53 — the replay
    gate treats it as non-widening even though double 'feels' wider."""
    import pytest as _pytest

    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).selectExpr("id AS k"), "t")
    cat.evolve_schema("t", [{"op": "widen", "col": "k", "type": "double"}])
    with _pytest.raises(ValueError, match="not a lossless widening"):
        cat.read(spark, "t")


def test_rollback_moves_ref_and_redo_forward(spark, tmp_path):
    """rollback_to re-points the ref at an ancestor (O(1), CAS'd);
    the abandoned suffix is still readable until a new commit lands,
    and a second rollback can redo forward."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).selectExpr("id AS k"), "t")
    m1 = cat.head()
    with cat.transaction() as t:
        t.overwrite(spark.range(9).selectExpr("id AS k"), "t")
    m2 = cat.head()
    assert cat.rollback_to(m1) == m1
    assert cat.head() == m1
    assert cat.read(spark, "t").count() == 3
    # redo forward (m2 manifest still on disk)
    assert cat.rollback_to(m2) == m2  # m2's parent chain includes m1...
    assert cat.read(spark, "t").count() == 9


def test_rollback_rejects_non_ancestor(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(2).toDF("a"), "t")
    with pytest.raises(ValueError, match="not an ancestor"):
        cat.rollback_to(99999)


def test_commit_after_rollback_abandons_suffix(spark, tmp_path):
    """A commit on the rolled-back head parents onto the rollback
    target; the abandoned manifests become unreachable and gc-able."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).selectExpr("id AS k"), "t")
    m1 = cat.head()
    with cat.transaction() as t:
        t.overwrite(spark.range(9).selectExpr("id AS k"), "t")
    m2 = cat.head()
    cat.rollback_to(m1)
    with cat.transaction() as t:
        t.overwrite(spark.range(5).selectExpr("id AS k"), "t")
    m3 = cat.head()
    assert cat._manifest_parent(m3) == m1
    assert m2 not in cat._reachable_manifests()
    reclaimed = cat.gc_uncommitted()
    assert "t" in reclaimed  # m2's exclusive version swept
    assert cat.read(spark, "t").count() == 5


def test_expire_snapshots_truncates_history(spark, tmp_path):
    """keep_last manifests survive per ref; older ones expire — time
    travel to them raises, the head read is untouched, exclusive
    versions are reclaimed, and the log walk ends at the truncation."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    heads = []
    for n in (2, 4, 6, 8):
        with cat.transaction() as t:
            t.overwrite(spark.range(n).selectExpr("id AS k"), "t")
        heads.append(cat.head())
    report = cat.expire_snapshots(keep_last=2, grace_seconds=0.0)
    assert report["expired_manifests"] == heads[:2]
    assert cat.read(spark, "t").count() == 8
    assert cat.read_asof(spark, "t", heads[2]).count() == 6  # kept
    with pytest.raises(FileNotFoundError):
        cat.read_asof(spark, "t", heads[0])
    # expired manifests' exclusive versions were reclaimed
    assert set(report["reclaimed"].get("t", [])) == {1, 2}
    # the log walk ends gracefully at the truncation point
    log = cat.log()
    assert [e["manifest"] for e in log] == heads[2:]
    # idempotent
    again = cat.expire_snapshots(keep_last=2, grace_seconds=0.0)
    assert again["expired_manifests"] == []


def test_expire_snapshots_preserves_fork_paths_for_rebase(spark, tmp_path):
    """code-review r18: expiring the fork-point manifest (or any link
    on the walk to it) made _merge_base return None and every later
    rebase spuriously conflict. Diverged refs pin their connecting
    spine; the rebase must still succeed after expiry."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).selectExpr("id AS k"), "t")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(spark.range(4).selectExpr("id AS k"), "branch_t")
    for n in (5, 6, 7, 8):  # main moves on past keep_last
        with cat.transaction() as t:
            t.overwrite(spark.range(n).selectExpr("id AS k"), "other")
    cat.expire_snapshots(keep_last=2, grace_seconds=0.0)
    # the fork point and the spine survived: rebase + ff still work
    cat.rebase("exp")
    cat.merge_ff("exp")
    assert cat.read(spark, "branch_t").count() == 4
    assert cat.read(spark, "other").count() == 8


def test_expire_snapshots_keeps_branch_pins(spark, tmp_path):
    """A manifest inside ANOTHER ref's keep window survives even when
    it is deep history for main."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).selectExpr("id AS k"), "t")
    pinned = cat.head()
    cat.create_branch("exp")  # exp pins the first manifest
    for n in (5, 7, 9):
        with cat.transaction() as t:
            t.overwrite(spark.range(n).selectExpr("id AS k"), "t")
    cat.expire_snapshots(keep_last=1, grace_seconds=0.0)
    # main kept only its head, but exp's pin survived
    assert cat.read(spark, "t", branch="exp").count() == 3
    assert cat.read(spark, "t").count() == 9
    assert cat.read_asof(spark, "t", pinned).count() == 3


def _pp_cat(spark, tmp_path):
    """Partitioned table with skewed small-file debt: partition p=0
    accumulates many appended files, p=1 and p=2 stay healthy."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(
            spark.createDataFrame(
                [(k, k % 3) for k in range(30)], "k long, p int"
            ).repartition(2),
            "t",
            partition_by=("p",),
        )
    for i in range(5):
        with cat.transaction() as t:
            t.append(
                spark.createDataFrame([(100 + i, 0)], "k long, p int"), "t"
            )
    return cat


def _files_per_partition(cat, name):
    import os as _os

    from glue_jobs_for_data_pipeline_spark.sources import txn as _t

    vdir = _t._version_dir(cat.table_dir(name), cat.manifest()[name])
    out = {}
    for root, _, files in _os.walk(vdir):
        parts = [f for f in files if f.endswith(".parquet")]
        if parts:
            out[_os.path.relpath(root, vdir)] = sorted(parts)
    return vdir, out


def test_compact_partitions_rewrites_only_offenders(spark, tmp_path):
    import os as _os

    cat = _pp_cat(spark, tmp_path)
    before_rows = sorted(
        (r["k"], r["p"]) for r in cat.read(spark, "t").collect()
    )
    vdir_before, before = _files_per_partition(cat, "t")
    assert len(before["p=0"]) > 4  # debt built up
    inode_p1 = {
        f: _os.stat(_os.path.join(vdir_before, "p=1", f)).st_ino
        for f in before["p=1"]
    }
    m = cat.compact_partitions(spark, "t", max_files_per_partition=4)
    assert m == cat.head()
    vdir_after, after = _files_per_partition(cat, "t")
    assert vdir_after != vdir_before
    # offender compacted, healthy partitions' files IDENTICAL (linked)
    assert len(after["p=0"]) <= 4
    assert after["p=1"] == before["p=1"]
    for f in after["p=1"]:
        assert (
            _os.stat(_os.path.join(vdir_after, "p=1", f)).st_ino
            == inode_p1[f]
        )
    # content identical
    assert sorted(
        (r["k"], r["p"]) for r in cat.read(spark, "t").collect()
    ) == before_rows
    # partition pruning still works on the new layout
    assert cat.read(spark, "t").filter("p = 2").count() == 10
    # below threshold now: a second call publishes nothing
    head = cat.head()
    assert cat.compact_partitions(spark, "t", max_files_per_partition=4) is None
    assert cat.head() == head


def test_compact_partitions_keeps_schema_ops(spark, tmp_path):
    """Rewritten partition files carry the pre-evolution schema, so
    the op list must keep replaying (the append contract)."""
    cat = _pp_cat(spark, tmp_path)
    cat.evolve_schema("t", [
        {"op": "add", "col": "src", "type": "string", "default": "old"},
        {"op": "widen", "col": "k", "type": "decimal(20,0)"},
    ])
    cat.compact_partitions(spark, "t", max_files_per_partition=4)
    assert "t" in cat._manifest_schemas(cat.head())
    df = cat.read(spark, "t")
    assert dict(df.dtypes)["k"] == "decimal(20,0)"
    assert df.filter("src = 'old'").count() == df.count()


def test_compact_partitions_refuses_pending_positional_deletes(
    spark, tmp_path
):
    from glue_jobs_for_data_pipeline_spark.operators import (
        positional_deletes as pdel,
    )

    cat = _pp_cat(spark, tmp_path)
    pdel.delete_where_positional(cat, spark, "t", "k = 5")
    with pytest.raises(ValueError, match="positional deletes"):
        cat.compact_partitions(spark, "t", max_files_per_partition=4)
    # folding them first unblocks
    pdel.compact_positional_deletes(cat, spark, "t")
    assert cat.compact_partitions(spark, "t", max_files_per_partition=4)
    got = sorted(r["k"] for r in cat.read(spark, "t").collect())
    assert 5 not in got and len(got) == 34


def test_compact_partitions_rejects_unpartitioned(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(3).toDF("k"), "t")
    with pytest.raises(ValueError, match="unpartitioned"):
        cat.compact_partitions(spark, "t")


def test_check_constraint_blocks_bad_writes(spark, tmp_path):
    """CHECK constraints (r18, Delta semantics): a violating overwrite
    or append raises, rolls the bracket back, and publishes nothing;
    conforming writes land. NULL evaluates as a violation."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import (
        Catalog,
        ConstraintViolationError,
    )

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(
            spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, amt double"),
            "t",
        )
    cat.add_constraint(spark, "t", "amt_positive", "amt > 0")
    head = cat.head()
    with pytest.raises(ConstraintViolationError, match="amt_positive"):
        with cat.transaction() as t:
            t.append(
                spark.createDataFrame([(3, -5.0)], "k long, amt double"), "t"
            )
    assert cat.head() == head  # nothing published
    with pytest.raises(ConstraintViolationError):  # NULL is a violation
        with cat.transaction() as t:
            t.overwrite(
                spark.createDataFrame([(4, None)], "k long, amt double"), "t"
            )
    assert cat.head() == head
    with cat.transaction() as t:  # conforming append lands
        t.append(spark.createDataFrame([(3, 5.0)], "k long, amt double"), "t")
    assert cat.read(spark, "t").count() == 3
    # constraints survive rewrites (unlike schema ops)
    with cat.transaction() as t:
        t.overwrite(cat.read(spark, "t"), "t")
    with pytest.raises(ConstraintViolationError):
        with cat.transaction() as t:
            t.overwrite(
                spark.createDataFrame([(9, -1.0)], "k long, amt double"), "t"
            )


def test_add_constraint_validates_existing_data(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.txn import (
        Catalog,
        ConstraintViolationError,
    )

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(
            spark.createDataFrame([(1, -3.0)], "k long, amt double"), "t"
        )
    with pytest.raises(ConstraintViolationError, match="existing rows"):
        cat.add_constraint(spark, "t", "amt_positive", "amt > 0")
    # declare-before-load: constraint on a not-yet-committed table
    cat.add_constraint(spark, "t2", "k_small", "k < 100")
    with pytest.raises(ConstraintViolationError):
        with cat.transaction() as t:
            t.overwrite(spark.createDataFrame([(500,)], "k long"), "t2")


def test_drop_constraint_reopens_writes(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.txn import (
        Catalog,
        ConstraintViolationError,
    )

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.createDataFrame([(1,)], "k long"), "t")
    cat.add_constraint(spark, "t", "k_pos", "k > 0")
    with pytest.raises(ConstraintViolationError):
        with cat.transaction() as t:
            t.append(spark.createDataFrame([(-1,)], "k long"), "t")
    cat.drop_constraint("t", "k_pos")
    with cat.transaction() as t:
        t.append(spark.createDataFrame([(-1,)], "k long"), "t")
    assert cat.read(spark, "t").count() == 2
    with pytest.raises(ValueError, match="no constraint"):
        cat.drop_constraint("t", "k_pos")


def test_constraints_in_commit_log(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.createDataFrame([(1,)], "k long"), "t")
    cat.add_constraint(spark, "t", "k_pos", "k > 0")
    log = cat.log()
    assert log[-1]["constraints_changed"] == ["t"]
    assert log[-2]["constraints_changed"] == []
    cat.drop_constraint("t", "k_pos")
    assert cat.log()[-1]["constraints_changed"] == ["t"]


def test_constraints_survive_rebase(spark, tmp_path):
    from glue_jobs_for_data_pipeline_spark.sources.txn import (
        Catalog,
        ConstraintViolationError,
    )

    cat = Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.createDataFrame([(1,)], "k long"), "t")
    cat.create_branch("exp")
    cat.add_constraint(spark, "t", "k_pos", "k > 0", branch="exp")
    with cat.transaction() as t:  # main moves another table
        t.overwrite(spark.range(2).toDF("id"), "other")
    cat.rebase("exp")
    cat.merge_ff("exp")
    with pytest.raises(ConstraintViolationError):
        with cat.transaction() as t:
            t.append(spark.createDataFrame([(-1,)], "k long"), "t")


def test_compact_table_folds_pending_schema_ops(spark, tmp_path):
    """compact_table reads CONFORMED and its rewrite resets the ops —
    the compacted files embody the evolution instead of undoing it."""
    cat = _evo_cat(spark, tmp_path)
    cat.evolve_schema("t", [
        {"op": "rename", "old": "name", "new": "label"},
    ])
    cat.compact_table(spark, "t")
    assert "t" not in cat._manifest_schemas(cat.head())
    assert cat.read(spark, "t").columns == ["k", "label"]


def test_rebase_revalidates_carried_constraints(spark, tmp_path):
    """A branch whose data violates a CHECK constraint added on the
    onto side must NOT merge cleanly when the caller passes a session
    (ADVICE r18: the three-way constraint carry never re-validated the
    moved data, committing a manifest whose data violates its own
    declared rules). Without a session the documented fallback applies
    — the merge lands and re-validation waits for the next write."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
        t.overwrite(_df(spark, 1), "fact")
    cat.create_branch("exp")
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, -7), "dim")  # violates the rule below
    # onto side declares the constraint AFTER the fork (its own data
    # passes) and moves another table so the rebase is non-trivial
    cat.add_constraint(spark, "dim", "tag_positive", "tag > 0")
    with cat.transaction() as t:
        t.overwrite(_df(spark, 5), "fact")
    b_head, o_head = cat.head("exp"), cat.head()
    with pytest.raises(
        txn.ConstraintViolationError, match="tag_positive"
    ):
        cat.rebase("exp", spark=spark)
    # a refused rebase is a pure no-op on both refs
    assert (cat.head("exp"), cat.head()) == (b_head, o_head)
    # clean branch data + carried constraint: rebase with a session OK
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    m = cat.rebase("exp", spark=spark)
    assert cat.head("exp") == m
    cat.merge_ff("exp")
    # the constraint survived the merge and still binds writers
    with pytest.raises(txn.ConstraintViolationError):
        with cat.transaction() as t:
            t.overwrite(_df(spark, -1), "dim")


def test_rebase_revalidates_delta_written_on_the_other_side(spark, tmp_path):
    """The re-validation baseline is per SCAN, not per base table
    (ADVICE r19): when the branch rewrote base k AND declared a
    constraint while the onto side appended violating rows to
    k__delta after the fork, the delta's data comes from the ONTO
    side — it was never validated under the branch's rule, so the
    rebase must probe it and refuse."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(_df(spark, 1), "dim")
        t.overwrite(_df(spark, 1), "dim__delta")
    cat.create_branch("exp")
    # branch: rewrite the BASE (clean under the rule) and declare it
    with cat.transaction(branch="exp") as t:
        t.overwrite(_df(spark, 9), "dim")
    cat.add_constraint(spark, "dim", "tag_positive", "tag > 0",
                       branch="exp")
    # onto: violating rows land in the DELTA after the fork — under
    # the per-base-table baseline these merged unvalidated, because
    # "dim" is in b_changed and the branch's own constraint set
    # already contains the rule
    with cat.transaction() as t:
        t.overwrite(_df(spark, -7), "dim__delta")
    b_head, o_head = cat.head("exp"), cat.head()
    with pytest.raises(txn.ConstraintViolationError, match="tag_positive"):
        cat.rebase("exp", spark=spark)
    assert (cat.head("exp"), cat.head()) == (b_head, o_head)


def test_truncate_stages_fileless_empty_version(spark, tmp_path):
    """r19 compaction fast paths: truncate() stages a ZERO-ROW version
    as pure metadata (a version dir holding only _SCHEMA.json, no part
    files — no Spark write job), readers resolve it as an empty table
    with the recorded schema, appends chain onto it, and version_rows/
    committed_rows answer row counts from parquet footers without a
    scan."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    df = _df(spark, 1)
    with cat.transaction() as t:
        t.overwrite(df, "t")
    with cat.transaction() as t:
        assert t.committed_rows("t") == 5  # footers, no scan
        t.truncate(df, "t")
    import os

    vdir = txn._version_dir(cat.table_dir("t"), cat.manifest()["t"])
    assert os.listdir(vdir) == ["_SCHEMA.json"]  # no part files
    got = cat.read(spark, "t")
    assert got.columns == df.columns and got.count() == 0
    assert txn.version_rows(cat.table_dir("t"), cat.manifest()["t"]) == 0
    # an append chains onto the fileless version (link tree is empty)
    with cat.transaction() as t:
        t.append(_df(spark, 7), "t")
    assert cat.read(spark, "t").count() == 5
    with cat.transaction() as t:
        assert t.committed_rows("t") == 5
        import pytest as _pt

        with _pt.raises(FileNotFoundError):
            t.committed_rows("absent")


def test_small_version_roundtrip_and_fallbacks(spark, tmp_path):
    """r20 driver-side metadata I/O: overwrite_small stages a pyarrow-
    written version (no Spark job) that Spark reads under the recorded
    schema; committed_values/table_values answer rows driver-side and
    refuse (None) past max_rows or under pending schema ops; declared
    CHECK constraints force the Spark path so enforcement is intact."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite_small(
            spark, [("a", 1), ("b", 2)], "app_id string, batch_id long",
            "led",
        )
    got = sorted(
        (r["app_id"], r["batch_id"]) for r in cat.read(spark, "led").collect()
    )
    assert got == [("a", 1), ("b", 2)]
    assert cat.read(spark, "led").schema.simpleString() == (
        "struct<app_id:string,batch_id:bigint>"
    )
    assert cat.table_rows("led") == 2
    vals = cat.table_values("led")
    assert [(v["app_id"], v["batch_id"]) for v in vals] == got
    assert cat.table_values("led", max_rows=1) is None  # growth guard
    with pytest.raises(FileNotFoundError):
        cat.table_values("nope")
    # appends chain onto the driver-written file set
    with cat.transaction() as t:
        t.append(
            spark.createDataFrame([("c", 3)], "app_id string, batch_id long"),
            "led",
        )
        assert t.committed_rows("led") == 2  # snapshot, not staged
    assert len(cat.table_values("led")) == 3
    # a pending schema op disables the driver-side read (the op replays
    # only through the Spark reader)
    cat.evolve_schema("led", [
        {"op": "rename", "old": "app_id", "new": "app"},
    ])
    assert cat.table_values("led") is None
    assert {r["app"] for r in cat.read(spark, "led").collect()} == {
        "a", "b", "c"
    }
    # declared constraints force the Spark write path and still enforce
    with cat.transaction() as t:
        t.overwrite_small(spark, [(5,)], "x long", "cons")
    cat.add_constraint(spark, "cons", "x_pos", "x > 0")
    with pytest.raises(txn.ConstraintViolationError):
        with cat.transaction() as t:
            t.overwrite_small(spark, [(-1,)], "x long", "cons")
    assert [r["x"] for r in cat.read(spark, "cons").collect()] == [5]
