"""Merge-on-read UPSERT (operators/mor_upsert.py, r17)."""

from __future__ import annotations

import pytest

from glue_jobs_for_data_pipeline_spark.operators import deletes, mor_upsert
from glue_jobs_for_data_pipeline_spark.sources import txn


@pytest.fixture()
def cat(tmp_path):
    return txn.Catalog(str(tmp_path / "wh"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def _state(cat, spark):
    return {
        r["k"]: r["v"]
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    }


def _seed(cat, spark):
    with cat.transaction() as t:
        t.overwrite(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), "t")


def test_upsert_updates_and_inserts_without_base_rewrite(spark, cat):
    _seed(cat, spark)
    base_v = cat.manifest()["t"]
    m = mor_upsert.upsert_into(
        cat, spark, "t", _df(spark, [(2, "B2"), (9, "new")]), ("k",)
    )
    assert cat.manifest()["t"] == base_v  # base untouched
    assert mor_upsert.delta_table("t") in cat._manifest_tables(m)
    assert _state(cat, spark) == {1: "a", 2: "B2", 3: "c", 9: "new"}


def test_later_upserts_win_and_batches_collapse(spark, cat):
    _seed(cat, spark)
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(2, "x1")]), ("k",))
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(2, "x2")]), ("k",))
    # within one batch, the greatest attribute tuple wins (CDC backlog)
    mor_upsert.upsert_into(
        cat, spark, "t", _df(spark, [(3, "m1"), (3, "m9")]), ("k",)
    )
    assert _state(cat, spark) == {1: "a", 2: "x2", 3: "m9"}
    # delta holds ONE row per touched key
    delta = cat.read(spark, mor_upsert.delta_table("t"))
    assert delta.count() == 2


def test_compaction_folds_delta_atomically(spark, cat):
    _seed(cat, spark)
    mor_upsert.upsert_into(
        cat, spark, "t", _df(spark, [(1, "A"), (7, "g")]), ("k",)
    )
    before = _state(cat, spark)
    m = mor_upsert.fold(cat, spark, "t", ("k",))
    assert cat.head() == m
    assert _state(cat, spark) == before == {1: "A", 2: "b", 3: "c", 7: "g"}
    assert cat.read(spark, mor_upsert.delta_table("t")).count() == 0
    # base physically contains the folded rows now
    assert {
        r["k"]: r["v"] for r in cat.read(spark, "t").collect()
    } == before
    # both flips share ONE manifest: the parent shows old base + full delta
    old = cat._manifest_tables(cat._manifest_parent(m))
    new = cat._manifest_tables(m)
    assert old["t"] < new["t"]
    assert old[mor_upsert.delta_table("t")] < new[mor_upsert.delta_table("t")]


def test_delete_beats_stale_upsert(spark, cat):
    _seed(cat, spark)
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(2, "B2")]), ("k",))
    deletes.delete_where(cat, spark, "t", "k = 2", ("k",))
    assert _state(cat, spark) == {1: "a", 3: "c"}  # dv applies last
    # and survives the fold
    mor_upsert.fold(cat, spark, "t", ("k",))
    assert _state(cat, spark) == {1: "a", 3: "c"}


def test_concurrent_upsert_batches_none_lost(spark, tmp_path):
    import threading

    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(
            spark.range(50).selectExpr("id AS k", "'base' AS v"), "t"
        )
    errs: list[Exception] = []

    def worker(lo: int) -> None:
        try:
            mor_upsert.upsert_into(
                cat, spark, "t",
                _df(spark, [(k, f"u{k}") for k in range(lo, lo + 5)]),
                ("k",),
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    ts = [threading.Thread(target=worker, args=(lo,)) for lo in
          (0, 10, 20, 30, 100)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs
    state = _state(cat, spark)
    for lo in (0, 10, 20, 30, 100):
        for k in range(lo, lo + 5):
            assert state[k] == f"u{k}"  # every batch survived
    assert len(state) == 55  # 50 base + 5 inserts at 100..104


def test_upsert_into_absent_table_is_initial_load(spark, cat):
    """The first upsert IS the initial load — not a delta-only black
    hole that read_logical/fold cannot resolve."""
    m = mor_upsert.upsert_into(
        cat, spark, "t", _df(spark, [(1, "a"), (2, "b")]), ("k",)
    )
    assert m == cat.head()
    assert _state(cat, spark) == {1: "a", 2: "b"}
    assert mor_upsert.fold(cat, spark, "t", ("k",)) is None


def test_upsert_resurrects_deleted_key(spark, cat):
    """An upsert AFTER a delete of the same key must resurrect it —
    the commit purges the batch's keys from the dv, so the
    dv-applies-last read order cannot suppress the fresh row
    (ADVICE r17)."""
    _seed(cat, spark)
    deletes.delete_where(cat, spark, "t", "k = 2", ("k",))
    assert _state(cat, spark) == {1: "a", 3: "c"}
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(2, "back")]), ("k",))
    assert _state(cat, spark) == {1: "a", 2: "back", 3: "c"}
    # other dv entries survive the purge
    deletes.delete_where(cat, spark, "t", "k = 1", ("k",))
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(3, "C3")]), ("k",))
    assert _state(cat, spark) == {2: "back", 3: "C3"}


def test_resurrection_is_compaction_order_independent(spark, cat):
    """delete k -> upsert k: the logical state must survive the fold
    unchanged (ADVICE r17: before the dv purge, folding the dv alone
    resurrected the stale delta row while folding the delta first
    dropped the key forever). The one fold applies delta and dv in the
    reader's order, and folding again is a no-op."""
    with cat.transaction() as t:
        t.overwrite(_df(spark, [(1, "a"), (2, "b")]), "t")
    deletes.delete_where(cat, spark, "t", "k = 2", ("k",))
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(2, "B2")]), ("k",))
    want = {1: "a", 2: "B2"}
    assert _state(cat, spark) == want
    assert mor_upsert.fold(cat, spark, "t", ("k",)) is not None
    assert _state(cat, spark) == want
    assert {r["k"]: r["v"] for r in cat.read(spark, "t").collect()} == want
    assert mor_upsert.fold(cat, spark, "t", ("k",)) is None


def test_delete_where_sees_upserted_values(spark, cat):
    """DELETE WHERE on a NON-KEY column must evaluate over the merged
    logical state: rows upserted INTO the predicate are deleted, keys
    upserted OUT of it survive (ADVICE r17 — the base-only predicate
    missed both directions)."""
    _seed(cat, spark)  # {1: a, 2: b, 3: c}
    # 2 moves INTO the predicate, 3 moves OUT of it
    mor_upsert.upsert_into(
        cat, spark, "t", _df(spark, [(2, "zap"), (3, "keep")]), ("k",)
    )
    deletes.delete_where(cat, spark, "t", "v = 'zap' OR v = 'c'", ("k",))
    # 2 (now 'zap') deleted; 3 (no longer 'c') kept
    assert _state(cat, spark) == {1: "a", 3: "keep"}


def test_evolve_upserted_schema_covers_delta(spark, cat):
    """Schema evolution over a MoR table with a live delta: the op
    list must replay over the delta side table too, or read_logical's
    unionByName explodes (ADVICE r17)."""
    _seed(cat, spark)
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(2, "B2")]), ("k",))
    mor_upsert.evolve_upserted_schema(
        cat, "t", [{"op": "add", "col": "src", "type": "string",
                    "default": "legacy"}]
    )
    rows = {
        r["k"]: (r["v"], r["src"])
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    }
    assert rows == {
        1: ("a", "legacy"), 2: ("B2", "legacy"), 3: ("c", "legacy")
    }
    # a post-evolution upsert writes the new schema; compaction folds
    post = spark.createDataFrame(
        [(9, "new", "cdc")], "k long, v string, src string"
    )
    mor_upsert.upsert_into(cat, spark, "t", post, ("k",))
    mor_upsert.fold(cat, spark, "t", ("k",))
    rows = {
        r["k"]: (r["v"], r["src"])
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    }
    assert rows[9] == ("new", "cdc") and rows[1] == ("a", "legacy")


def test_upsert_keys_only_batch(spark, cat):
    """A pure key-set feed (no non-key columns) must not crash the
    latest-per-key window (empty ORDER BY; code-review r17)."""
    mor_upsert.upsert_into(
        cat, spark, "t", spark.range(3).selectExpr("id AS k"), ("k",)
    )
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1,), (1,), (7,)], "k long"), ("k",),
    )
    got = sorted(
        r["k"]
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    )
    assert got == [0, 1, 2, 7]


def test_fold_purges_delta_and_dv_in_same_commit(spark, cat):
    """upsert k -> delete_where matching k -> fold: the fold must
    empty the dv AND the __delta side table in the same atomic commit
    — emptying the dv alone lets the reader re-surface k from the
    untouched delta (ADVICE r18: observed {1:a, 2:zap, 3:c} after
    folding a delete of k=2)."""
    _seed(cat, spark)  # {1: a, 2: b, 3: c}
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(2, "zap")]), ("k",))
    deletes.delete_where(cat, spark, "t", "v = 'zap'", ("k",))
    assert _state(cat, spark) == {1: "a", 3: "c"}
    m = mor_upsert.fold(cat, spark, "t", ("k",))
    assert cat.head() == m
    assert _state(cat, spark) == {1: "a", 3: "c"}  # no resurrection
    # the delta purge and the dv reset landed in ONE manifest
    assert cat.read(spark, deletes.dv_table("t")).count() == 0
    assert cat.read(spark, mor_upsert.delta_table("t")).count() == 0
    old = cat._manifest_tables(cat._manifest_parent(m))
    new = cat._manifest_tables(m)
    assert old[mor_upsert.delta_table("t")] < new[mor_upsert.delta_table("t")]
    # untouched delta keys survive the purge
    mor_upsert.upsert_into(
        cat, spark, "t", _df(spark, [(1, "A1"), (5, "e")]), ("k",)
    )
    deletes.delete_where(cat, spark, "t", "k = 5", ("k",))
    mor_upsert.fold(cat, spark, "t", ("k",))
    assert _state(cat, spark) == {1: "A1", 3: "c"}


def test_fold_skips_rewrite_of_an_empty_delta(spark, cat):
    """An EMPTY __delta table must not be rewritten by the fold — its
    footers count 0 rows, so the plan skips it and the commit leaves
    its version alone (ADVICE r19: the write job is avoidable fixed
    per-commit cost). The dv fold and the logical state are
    unaffected."""
    _seed(cat, spark)  # {1: a, 2: b, 3: c}
    mor_upsert.upsert_into(cat, spark, "t", _df(spark, [(2, "B2")]), ("k",))
    # fold the delta: it is now an EMPTY (truncate-staged) side table
    mor_upsert.fold(cat, spark, "t", ("k",))
    delta_v = cat.manifest()[mor_upsert.delta_table("t")]
    deletes.delete_where(cat, spark, "t", "k = 3", ("k",))
    m = mor_upsert.fold(cat, spark, "t", ("k",))
    assert m is not None
    # the empty delta's version did NOT move in the fold's commit
    assert cat._manifest_tables(m)[mor_upsert.delta_table("t")] == delta_v
    assert _state(cat, spark) == {1: "a", 2: "B2"}
