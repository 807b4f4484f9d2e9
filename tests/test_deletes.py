"""Merge-on-read deletion vectors (operators/deletes.py, r16), read and
folded through the one merge-on-read core (mor_upsert.read_logical /
mor_upsert.fold)."""

from __future__ import annotations

import pytest

from glue_jobs_for_data_pipeline_spark.operators import (
    deletes,
    mor_upsert,
    positional_deletes,
)
from glue_jobs_for_data_pipeline_spark.sources import txn


def _df(spark, n=10):
    return spark.range(n).selectExpr("id AS k", "id * 2 AS v")


@pytest.fixture()
def cat(tmp_path):
    return txn.Catalog(str(tmp_path / "wh"))


def _merged_keys(cat, spark):
    return sorted(
        r["k"]
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    )


def test_delete_is_keys_only_and_base_untouched(spark, cat):
    with cat.transaction() as t:
        t.overwrite(_df(spark), "t")
    base_version = cat.manifest()["t"]
    deletes.delete_where(cat, spark, "t", "k >= 7", ("k",))
    # base version did not move; only the dv table committed
    assert cat.manifest()["t"] == base_version
    assert cat.manifest()[deletes.dv_table("t")] == 1
    assert _merged_keys(cat, spark) == [0, 1, 2, 3, 4, 5, 6]
    # physical base still holds every row (merge-on-read, not rewrite)
    assert cat.read(spark, "t").count() == 10


def test_read_without_dv_is_base(spark, cat):
    with cat.transaction() as t:
        t.overwrite(_df(spark), "t")
    assert _merged_keys(cat, spark) == list(range(10))


def test_deletes_accumulate_and_are_idempotent(spark, cat):
    with cat.transaction() as t:
        t.overwrite(_df(spark), "t")
    deletes.delete_where(cat, spark, "t", "k = 3", ("k",))
    deletes.delete_where(cat, spark, "t", "k IN (3, 5)", ("k",))  # re-delete 3
    assert _merged_keys(cat, spark) == [0, 1, 2, 4, 6, 7, 8, 9]
    dv = cat.read(spark, deletes.dv_table("t"))
    assert sorted(r["k"] for r in dv.collect()) == [3, 5]  # distinct, no dup


def test_compaction_folds_dv_atomically(spark, cat):
    with cat.transaction() as t:
        t.overwrite(_df(spark), "t")
    deletes.delete_where(cat, spark, "t", "k < 4", ("k",))
    before = _merged_keys(cat, spark)
    m = mor_upsert.fold(cat, spark, "t", ("k",))
    # ONE manifest moved both tables (base rewritten + dv emptied)
    mf = cat.manifest()
    assert cat.head() == m
    assert cat.read(spark, "t").count() == 6  # base physically shrunk
    assert cat.read(spark, deletes.dv_table("t")).count() == 0
    assert _merged_keys(cat, spark) == before == [4, 5, 6, 7, 8, 9]
    # both flips are in the same manifest: reading the PARENT manifest
    # shows the old pair (old base, full dv) — no mixed state exists
    parent = cat._manifest_parent(m)
    old = cat._manifest_tables(parent)
    assert old["t"] < mf["t"] and old[deletes.dv_table("t")] < mf[
        deletes.dv_table("t")
    ]


def test_compact_without_dv_is_noop(spark, cat):
    with cat.transaction() as t:
        t.overwrite(_df(spark), "t")
    h = cat.head()
    # None = "nothing folded, no commit" — not a borrowed head id
    assert mor_upsert.fold(cat, spark, "t", ("k",)) is None
    assert cat.head() == h


def test_delete_then_read_on_branch_is_isolated(spark, cat):
    with cat.transaction() as t:
        t.overwrite(_df(spark), "t")
    cat.create_branch("exp")
    deletes.delete_where(cat, spark, "t", "k >= 5", ("k",), branch="exp")
    # main sees everything; the branch sees the delete
    assert _merged_keys(cat, spark) == list(range(10))
    exp = mor_upsert.read_logical(cat, spark, "t", ("k",), branch="exp")
    assert sorted(r["k"] for r in exp.collect()) == [0, 1, 2, 3, 4]


def test_concurrent_delete_batches_none_lost(spark, tmp_path):
    """Lost-update safety (r16): N threads each commit a disjoint
    delete batch on the SAME table via delete_where's CAS-retry loop.
    Every batch must survive — a stale-read union overwriting a racing
    writer's dv would silently resurrect rows. Reads go through the
    transaction snapshot (read_committed), so each retry unions the
    state its commit CASes against."""
    import threading

    from pyspark.sql import functions as F

    from glue_jobs_for_data_pipeline_spark.operators import deletes
    from glue_jobs_for_data_pipeline_spark.sources.txn import Catalog

    cat = Catalog(str(tmp_path / "wh"))
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    with cat.transaction() as t:
        t.overwrite(base, "t")

    errs: list[Exception] = []

    def worker(lo: int) -> None:
        try:
            deletes.delete_where(
                cat, spark, "t",
                (F.col("k") >= lo) & (F.col("k") < lo + 10), ("k",),
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=worker, args=(lo,)) for lo in
               (0, 20, 40, 60, 80)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    dv_keys = {
        r["k"] for r in cat.read(spark, deletes.dv_table("t")).collect()
    }
    expect = {k for lo in (0, 20, 40, 60, 80) for k in range(lo, lo + 10)}
    assert dv_keys == expect  # no batch lost, none invented
    merged = {
        r["k"]
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    }
    assert merged == set(range(100)) - expect


def _fold_with_race(cat, spark, racer: str, monkeypatch):
    """Run one fold while ``racer`` lands between its snapshot read and
    its commit: a key delete of k 40..44, an upsert of k 45 + insert of
    k 99, or a positional delete of k 40..44. Returns (the fold's
    manifest id, how many times the fold planned)."""
    from pyspark.sql import functions as F

    hit = (F.col("k") >= 40) & (F.col("k") < 45)
    real_logical = mor_upsert._logical
    calls = []

    def racing_logical(*args):
        out = real_logical(*args)
        calls.append(args)
        if len(calls) == 1:
            if racer == "key_delete":
                deletes.delete_where(cat, spark, "t", hit, ("k",))
            elif racer == "upsert":
                mor_upsert.upsert_into(
                    cat, spark, "t",
                    spark.createDataFrame(
                        [(45, "u"), (99, "u")], "k long, v string"
                    ),
                    ("k",),
                )
            else:
                positional_deletes.delete_where_positional(
                    cat, spark, "t", hit
                )
        return out

    monkeypatch.setattr(mor_upsert, "_logical", racing_logical)
    try:
        return mor_upsert.fold(cat, spark, "t", ("k",)), len(calls)
    finally:
        monkeypatch.setattr(mor_upsert, "_logical", real_logical)


def test_compaction_racing_delete_resurrects_nothing(
    spark, tmp_path, monkeypatch
):
    """A key delete, an upsert and a positional delete, each landing
    between the fold's snapshot read and its commit: the fold's commit
    loses its CAS, the retry re-plans from the new snapshot and folds
    the racing write too — nothing resurrected, nothing dropped, every
    side table empty afterwards."""
    from pyspark.sql import functions as F

    for racer in ("key_delete", "upsert", "positional_delete"):
        cat = txn.Catalog(str(tmp_path / racer))
        with cat.transaction() as t:
            t.overwrite(
                spark.range(50).select(
                    F.col("id").alias("k"), F.lit("b").alias("v")
                ),
                "t",
            )
        deletes.delete_where(cat, spark, "t", F.col("k") < 5, ("k",))
        mor_upsert.upsert_into(
            cat, spark, "t",
            spark.createDataFrame([(7, "x")], "k long, v string"), ("k",),
        )
        m, plans = _fold_with_race(cat, spark, racer, monkeypatch)
        assert plans == 2, racer  # lost the CAS once, then folded
        want = {k: "b" for k in range(5, 50)}
        want[7] = "x"
        if racer == "upsert":
            want.update({45: "u", 99: "u"})
        else:
            for k in range(40, 45):
                del want[k]
        assert {
            r["k"]: r["v"] for r in cat.read(spark, "t").collect()
        } == want, racer
        assert cat.head() == m
        for side in ("t__delta", "t__dv", "t__pdv"):
            if side in cat.manifest():
                assert cat.read(spark, side).count() == 0, (racer, side)


def test_delete_returns_its_own_commit_manifest(spark, cat):
    """delete_where/fold report the manifest THEIR commit
    published (ADVICE r16) — verifiable because that manifest's diff
    vs its parent must contain exactly the tables they staged."""
    with cat.transaction() as t:
        t.overwrite(_df(spark), "t")
    m = deletes.delete_where(cat, spark, "t", "k >= 7", ("k",))
    assert deletes.dv_table("t") in cat._manifest_tables(m)
    parent = cat._manifest_parent(m)
    assert deletes.dv_table("t") not in cat._manifest_tables(parent)
    m2 = mor_upsert.fold(cat, spark, "t", ("k",))
    assert cat._manifest_tables(m2)["t"] > cat._manifest_tables(m)["t"]


def test_read_logical_pins_one_snapshot_across_fold(
    spark, cat, monkeypatch
):
    """A fold landing BETWEEN read_logical's base read and its dv
    read must not hand the reader (old base, emptied dv) — that
    resurrects every folded delete (ADVICE r16 high). The injection
    runs a fold inside the first read_asof call; the pinned snapshot
    must still resolve the pre-fold (base, dv) pair."""
    with cat.transaction() as t:
        t.overwrite(_df(spark), "t")
    deletes.delete_where(cat, spark, "t", "k < 4", ("k",))

    real_read_asof = txn.Catalog.read_asof
    fired = {"done": False}

    def racy_read_asof(self, spark_, name, manifest):
        df = real_read_asof(self, spark_, name, manifest)
        if not fired["done"]:
            fired["done"] = True  # before re-entering via the fold
            mor_upsert.fold(cat, spark_, "t", ("k",))
        return df

    monkeypatch.setattr(txn.Catalog, "read_asof", racy_read_asof)
    merged = mor_upsert.read_logical(cat, spark, "t", ("k",))
    assert sorted(r["k"] for r in merged.collect()) == [4, 5, 6, 7, 8, 9]
    assert fired["done"]  # the race actually happened
