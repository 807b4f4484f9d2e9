"""Position-based merge-on-read deletes (operators/positional_deletes.py,
r18), read and folded through the one merge-on-read core
(mor_upsert.read_logical / mor_upsert.fold)."""

from __future__ import annotations

import pytest

from glue_jobs_for_data_pipeline_spark.operators import mor_upsert
from glue_jobs_for_data_pipeline_spark.operators import (
    positional_deletes as pd_,
)
from glue_jobs_for_data_pipeline_spark.sources import txn


@pytest.fixture()
def cat(tmp_path):
    return txn.Catalog(str(tmp_path / "wh"))


def _seed(cat, spark, n=10):
    with cat.transaction() as t:
        t.overwrite(
            spark.range(n).selectExpr(
                "id AS k", "CAST(id % 3 AS STRING) AS grp"
            ).repartition(3),
            "t",
        )


def _keys(cat, spark):
    return sorted(
        r["k"] for r in mor_upsert.read_logical(cat, spark, "t").collect()
    )


def test_positional_delete_and_read(spark, cat):
    _seed(cat, spark)
    base_v = cat.manifest()["t"]
    m = pd_.delete_where_positional(cat, spark, "t", "k % 2 = 0")
    assert cat.manifest()["t"] == base_v  # base untouched
    assert pd_.pdv_table("t") in cat._manifest_tables(m)
    assert _keys(cat, spark) == [1, 3, 5, 7, 9]
    # second batch unions into the pdv
    pd_.delete_where_positional(cat, spark, "t", "k = 3")
    assert _keys(cat, spark) == [1, 5, 7, 9]


def test_positional_delete_hits_exact_duplicate_occurrences(spark, cat):
    """The capability equality deletes cannot have: with duplicate
    keys, a positional delete removes exactly the matching physical
    rows — here BOTH duplicates match the predicate and both go, while
    an unrelated row with the same key value pattern stays."""
    df = spark.createDataFrame(
        [(1, "keep"), (1, "zap"), (1, "zap"), (2, "keep")], "k long, v string"
    )
    with cat.transaction() as t:
        t.overwrite(df, "t")
    pd_.delete_where_positional(cat, spark, "t", "v = 'zap'")
    rows = sorted(
        (r["k"], r["v"])
        for r in mor_upsert.read_logical(cat, spark, "t").collect()
    )
    assert rows == [(1, "keep"), (2, "keep")]


def test_positional_deletes_survive_appends(spark, cat):
    """Appends hard-link base part files under the same relative path,
    so (file, pos) anchors stay valid; appended rows are born
    undeleted (the Iceberg contract)."""
    _seed(cat, spark, n=6)
    pd_.delete_where_positional(cat, spark, "t", "k IN (0, 5)")
    with cat.transaction() as t:
        t.append(
            spark.createDataFrame([(100, "x")], "k long, grp string"), "t"
        )
    assert _keys(cat, spark) == [1, 2, 3, 4, 100]
    # delete one of the appended rows too
    pd_.delete_where_positional(cat, spark, "t", "k = 100")
    assert _keys(cat, spark) == [1, 2, 3, 4]


def test_compaction_folds_pdv_atomically(spark, cat):
    _seed(cat, spark, n=8)
    pd_.delete_where_positional(cat, spark, "t", "k >= 6")
    before = _keys(cat, spark)
    m = mor_upsert.fold(cat, spark, "t")
    assert cat.head() == m
    assert _keys(cat, spark) == before == [0, 1, 2, 3, 4, 5]
    assert cat.read(spark, pd_.pdv_table("t")).count() == 0
    # base physically shrank
    assert sorted(r["k"] for r in cat.read(spark, "t").collect()) == before
    # both flips share ONE manifest
    old = cat._manifest_tables(cat._manifest_parent(m))
    new = cat._manifest_tables(m)
    assert old["t"] < new["t"]
    assert old[pd_.pdv_table("t")] < new[pd_.pdv_table("t")]
    # no-op when nothing pending: returns None, publishes no commit
    head = cat.head()
    assert mor_upsert.fold(cat, spark, "t") is None
    assert cat.head() == head


def test_positional_delete_after_compaction_round(spark, cat):
    """Delete -> compact -> delete again: anchors re-derive from the
    new base version's files."""
    _seed(cat, spark, n=6)
    pd_.delete_where_positional(cat, spark, "t", "k = 0")
    mor_upsert.fold(cat, spark, "t")
    pd_.delete_where_positional(cat, spark, "t", "k = 5")
    assert _keys(cat, spark) == [1, 2, 3, 4]


def test_concurrent_positional_delete_batches_none_lost(spark, tmp_path):
    import threading

    cat = txn.Catalog(str(tmp_path / "wh"))
    with cat.transaction() as t:
        t.overwrite(spark.range(40).selectExpr("id AS k"), "t")
    errs: list[Exception] = []

    def worker(k: int) -> None:
        try:
            pd_.delete_where_positional(cat, spark, "t", f"k = {k}")
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    ts = [threading.Thread(target=worker, args=(k,)) for k in (3, 17, 29)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs, errs
    got = sorted(
        r["k"] for r in mor_upsert.read_logical(cat, spark, "t").collect()
    )
    assert got == [k for k in range(40) if k not in (3, 17, 29)]


def test_positional_read_with_schema_evolution(spark, cat):
    """Schema ops replay over the positional scan: positions are
    physical, the evolved schema is logical — both compose."""
    _seed(cat, spark, n=4)
    pd_.delete_where_positional(cat, spark, "t", "k = 2")
    cat.evolve_schema("t", [
        {"op": "rename", "old": "grp", "new": "bucket"},
        {"op": "widen", "col": "k", "type": "decimal(20,0)"},
    ])
    df = mor_upsert.read_logical(cat, spark, "t")
    assert df.columns == ["k", "bucket"]
    assert dict(df.dtypes)["k"] == "decimal(20,0)"
    assert sorted(int(r["k"]) for r in df.collect()) == [0, 1, 3]
    # predicate over the EVOLVED schema also works for new deletes
    pd_.delete_where_positional(cat, spark, "t", "bucket = '0'")
    assert sorted(
        int(r["k"])
        for r in mor_upsert.read_logical(cat, spark, "t").collect()
    ) == [1]


def test_anchor_survives_versioned_warehouse_root(spark, tmp_path):
    """A warehouse ROOT that itself contains a /v=<digits>/ segment
    must not poison positional-delete anchors (ADVICE r18: the old
    non-greedy regex matched the FIRST such segment of the absolute
    path, so anchors embedded a version-dependent remnant and deletes
    silently resurrected after the next append)."""
    root = tmp_path / "v=3" / "wh"
    cat = txn.Catalog(str(root))
    with cat.transaction() as t:
        t.overwrite(
            spark.range(6).selectExpr("id AS k"), "t"
        )
    pd_.delete_where_positional(cat, spark, "t", "k % 2 = 0")
    assert sorted(
        r["k"] for r in mor_upsert.read_logical(cat, spark, "t").collect()
    ) == [1, 3, 5]
    # an append hard-links the base files into a NEW version dir; the
    # recorded anchors must still resolve against the linked files
    with cat.transaction() as t:
        t.append(spark.createDataFrame([(100,)], "k long"), "t")
    assert sorted(
        r["k"] for r in mor_upsert.read_logical(cat, spark, "t").collect()
    ) == [1, 3, 5, 100]
    # and the fold applies them, not silently no-ops
    mor_upsert.fold(cat, spark, "t")
    assert sorted(
        r["k"] for r in cat.read(spark, "t").collect()
    ) == [1, 3, 5, 100]


def test_partition_column_named_v_is_refused(spark, tmp_path):
    """``v`` is a reserved partition-column name: version directories
    are themselves ``v=<N>``, so a partition column ``v`` writes
    .../v=<N>/v=<value>/... — partition detection must skip ``v=``
    dirs, which silently flattened such a table on its next append and
    over-stripped positional-delete anchors (ADVICE r19). The write
    must refuse loudly instead."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(k, k % 2 + 1) for k in range(8)], "k long, v long"
    )
    with pytest.raises(ValueError, match="version-directory"):
        with cat.transaction() as t:
            t.overwrite(df, "t", partition_by=("v",))
    assert cat.head() is None  # nothing committed


def test_anchor_is_relative_to_the_scans_version_dir(spark, tmp_path):
    """Anchors on a PARTITIONED table are the path relative to the
    scan's own version directory — partition dirs included — and
    survive hard-linked appends and the fold (the anchor is matched
    against the scan's absolute vdir, quoted literally; ADVICE r19)."""
    cat = txn.Catalog(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(k, k % 2 + 1) for k in range(8)], "k long, p long"
    )
    with cat.transaction() as t:
        t.overwrite(df, "t", partition_by=("p",))
    pd_.delete_where_positional(cat, spark, "t", "k >= 6")
    anchors = [r["file"] for r in cat.read(spark, "t__pdv").collect()]
    assert anchors and all(a.startswith("p=") for a in anchors)
    assert sorted(
        r["k"] for r in mor_upsert.read_logical(cat, spark, "t").collect()
    ) == [0, 1, 2, 3, 4, 5]
    # anchors survive a hard-linked append (same relative paths)
    with cat.transaction() as t:
        t.append(spark.createDataFrame([(100, 1)], "k long, p long"), "t")
    assert sorted(
        r["k"] for r in mor_upsert.read_logical(cat, spark, "t").collect()
    ) == [0, 1, 2, 3, 4, 5, 100]
    # and the fold applies them against the real files
    mor_upsert.fold(cat, spark, "t")
    assert sorted(
        r["k"] for r in cat.read(spark, "t").collect()
    ) == [0, 1, 2, 3, 4, 5, 100]
