"""Size-triggered retention/compaction policy (operators/retention.py, r18)."""

from __future__ import annotations

import pytest

from glue_jobs_for_data_pipeline_spark.operators import (
    deletes,
    mor_upsert,
    positional_deletes as pdel,
    retention,
)
from glue_jobs_for_data_pipeline_spark.sources import txn
from glue_jobs_for_data_pipeline_spark.streaming import exactly_once as xo


@pytest.fixture()
def cat(tmp_path):
    return txn.Catalog(str(tmp_path / "wh"))


def _seed(cat, spark, n=20):
    with cat.transaction() as t:
        t.overwrite(
            spark.range(n).selectExpr("id AS k", "CAST(id AS STRING) AS v"),
            "t",
        )


def _state(cat, spark):
    return {
        r["k"]: r["v"]
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    }


# eager thresholds: everything is "due" the moment a side table exists
EAGER = retention.RetentionPolicy(
    max_side_bytes=1, max_side_ratio=None, max_base_files=None,
    max_ledger_rows_per_app=1,
)


def test_noop_below_thresholds(spark, cat):
    _seed(cat, spark)
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, "x")], "k long, v string"), ("k",),
    )
    head = cat.head()
    # lazy policy: tiny delta is nowhere near 8 MB / 10% of base
    actions = retention.enforce_retention(cat, spark, "t", ("k",))
    assert not any(actions.values())
    assert cat.head() == head  # nothing committed


def test_due_folds_run_and_reads_unchanged(spark, cat):
    _seed(cat, spark)
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, "x"), (99, "new")], "k long, v string"),
        ("k",),
    )
    deletes.delete_where(cat, spark, "t", "k = 2", ("k",))
    before = _state(cat, spark)
    actions = retention.enforce_retention(
        cat, spark, "t", ("k",), policy=EAGER
    )
    assert actions["fold_upsert_delta"] and actions["fold_deletion_vector"]
    assert _state(cat, spark) == before
    # side tables now empty — a second pass is a no-op
    actions2 = retention.enforce_retention(
        cat, spark, "t", ("k",), policy=EAGER
    )
    assert not any(actions2.values())


def test_positional_fold_precedes_base_compaction(spark, cat):
    """A pending pdv + a due base compaction on a keyless table: the
    policy's one fold applies the positional deletes in the same
    rewrite — a plain rewrite would strand their anchors and resurrect
    the rows."""
    _seed(cat, spark, n=30)
    # many appends -> many small files
    for i in range(6):
        with cat.transaction() as t:
            t.append(
                spark.createDataFrame(
                    [(100 + i, "a")], "k long, v string"
                ),
                "t",
            )
    pdel.delete_where_positional(cat, spark, "t", "k < 5 OR k = 103")
    expect = sorted(
        set(range(5, 30)) | {100, 101, 102, 104, 105}
    )
    policy = retention.RetentionPolicy(
        max_side_bytes=None, max_side_ratio=None,
        max_base_files=3, target_file_bytes=1 << 30,
        max_ledger_rows_per_app=None,
    )
    actions = retention.enforce_retention(cat, spark, "t", policy=policy)
    assert actions["compact_base_files"]
    got = sorted(
        r["k"] for r in mor_upsert.read_logical(cat, spark, "t").collect()
    )
    assert got == expect
    stats = retention.table_stats(cat, "t")
    assert stats["files"] <= 3


def test_long_streaming_run_keeps_bounded_files(spark, cat):
    """The VERDICT r17 acceptance: a long exactly-once append run +
    periodic retention keeps the base's file count bounded and the
    committed rows exactly-once."""
    sink = xo.exactly_once_batch_sink(cat, "s", "app1")
    policy = retention.RetentionPolicy(
        max_side_bytes=None, max_side_ratio=None,
        max_base_files=6, target_file_bytes=1 << 30,
        max_ledger_rows_per_app=2,
    )
    for b in range(12):
        sink(
            spark.createDataFrame([(b,)], "k long").coalesce(1), b
        )
        if b % 4 == 3:
            retention.enforce_retention(cat, spark, "s", policy=policy)
    stats = retention.table_stats(cat, "s")
    assert stats["files"] <= 6 + 4  # bound + at most one epoch of drift
    rows = sorted(r["k"] for r in cat.read(spark, "s").collect())
    assert rows == list(range(12))
    # ledger stayed bounded too
    ledger = cat.read(spark, xo.ledger_table("s"))
    assert ledger.count() <= 2


def test_fold_ledger_keeps_replay_protection(spark, cat):
    """After the ledger folds to one MAX row per app, a replay of any
    OLDER batch id must still be a no-op (the max-based replay test)."""
    sink = xo.exactly_once_batch_sink(cat, "s", "app1")
    for b in range(5):
        sink(spark.createDataFrame([(b,)], "k long"), b)
    assert retention.fold_ledger(cat, spark, "s") is not None
    ledger = cat.read(spark, xo.ledger_table("s"))
    assert [
        (r["app_id"], r["batch_id"]) for r in ledger.collect()
    ] == [("app1", 4)]
    head = cat.head()
    sink(spark.createDataFrame([(2,)], "k long"), 2)  # old id replay
    assert cat.head() == head
    assert sorted(r["k"] for r in cat.read(spark, "s").collect()) == [
        0, 1, 2, 3, 4,
    ]
    # and the NEXT real batch still lands
    sink(spark.createDataFrame([(5,)], "k long"), 5)
    assert sorted(r["k"] for r in cat.read(spark, "s").collect()) == [
        0, 1, 2, 3, 4, 5,
    ]
    assert xo.latest_batch_id(cat, spark, "s", "app1") == 5


def test_fold_ledger_minimal_is_noop(spark, cat):
    sink = xo.exactly_once_batch_sink(cat, "s", "app1")
    sink(spark.createDataFrame([(0,)], "k long"), 0)
    assert retention.fold_ledger(cat, spark, "s") is None
    assert retention.fold_ledger(cat, spark, "absent") is None


def test_fold_is_one_commit_one_rewrite(spark, cat):
    """Delta AND dv fold in ONE manifest commit, and the base version
    advances exactly once (the single-rewrite contract retention
    relies on at scale)."""
    _seed(cat, spark)
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, "x"), (50, "n")], "k long, v string"),
        ("k",),
    )
    deletes.delete_where(cat, spark, "t", "k = 2", ("k",))
    before = _state(cat, spark)
    base_v_before = cat.manifest()["t"]
    m = mor_upsert.fold(cat, spark, "t", ("k",))
    assert m == cat.head()
    assert _state(cat, spark) == before
    # one commit emptied BOTH side tables and bumped base ONCE
    tables = cat._manifest_tables(m)
    parent = cat._manifest_tables(cat._manifest_parent(m))
    assert tables["t"] == base_v_before + cat.manifest()["t"] - base_v_before
    assert tables["t"] != parent["t"]
    assert cat.read(spark, mor_upsert.delta_table("t")).count() == 0
    assert cat.read(spark, deletes.dv_table("t")).count() == 0
    # nothing left to fold
    assert mor_upsert.fold(cat, spark, "t", ("k",)) is None
    # n_files-only invocation still rewrites (file sizing)
    m2 = mor_upsert.fold(cat, spark, "t", ("k",), n_files=1)
    assert m2 is not None
    assert retention.table_stats(cat, "t")["files"] == 1
    assert _state(cat, spark) == before


def test_mor_folds_preserve_partition_layout(spark, cat):
    """Every MoR fold keeps the base's col=value layout, with and
    without a repartition
    (r18: a fold that flattened it broke partition pruning for every
    later reader)."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import (
        _detect_partition_cols,
        _version_dir,
    )

    with cat.transaction() as t:
        t.overwrite(
            spark.createDataFrame(
                [(k, k % 3, f"v{k}") for k in range(12)],
                "k long, p int, v string",
            ),
            "t",
            partition_by=("p",),
        )
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, 1, "x")], "k long, p int, v string"),
        ("k",),
    )
    deletes.delete_where(cat, spark, "t", "k = 5", ("k",))
    mor_upsert.fold(cat, spark, "t", ("k",))

    def layout():
        return _detect_partition_cols(
            _version_dir(cat.table_dir("t"), cat.manifest()["t"])
        )

    assert layout() == ("p",)
    pdel.delete_where_positional(cat, spark, "t", "k = 7")
    mor_upsert.fold(cat, spark, "t")
    assert layout() == ("p",)
    deletes.delete_where(cat, spark, "t", "k = 8", ("k",))
    mor_upsert.fold(cat, spark, "t", ("k",))
    assert layout() == ("p",)
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(2, 2, "y")], "k long, p int, v string"),
        ("k",),
    )
    mor_upsert.fold(cat, spark, "t", ("k",), n_files=2)
    assert layout() == ("p",)
    got = {
        r["k"]: r["v"]
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    }
    assert got[1] == "x" and got[2] == "y"
    assert 5 not in got and 7 not in got and 8 not in got
    assert len(got) == 9


def test_pdv_folds_before_any_rewrite_even_below_threshold(spark, cat):
    """code-review r18: a delta-only fold with a tiny (sub-threshold)
    pdv pending must fold the pdv in the same rewrite — otherwise the
    rewrite strands its anchors and resurrects the deleted rows. The
    catalog's own rewrite primitive refuses while a pdv is pending."""
    _seed(cat, spark)
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, "x")], "k long, v string"), ("k",),
    )
    pdel.delete_where_positional(cat, spark, "t", "k = 2")
    with pytest.raises(ValueError, match="mor_upsert.fold"):
        cat.compact_table(spark, "t")
    # policy: delta due by size, pdv below threshold — one fold
    # applies both
    policy = retention.RetentionPolicy(
        max_side_bytes=1, max_side_ratio=None, max_base_files=None,
        max_ledger_rows_per_app=None,
    )
    actions = retention.enforce_retention(
        cat, spark, "t", ("k",), policy=policy
    )
    assert actions["fold_positional_deletes"]
    assert actions["fold_upsert_delta"]
    after = _state(cat, spark)
    # delta row folded in, positionally deleted row gone, no
    # resurrection of k=2 by the delta rewrite
    assert after[1] == "x" and 2 not in after
    assert len(after) == 19  # 20 seeded - 1 deleted (upsert hit k=1)


def test_read_logical_before_retention_equals_read_after(spark, cat):
    """upsert_into, then delete_where_positional on a row with no delta
    entry: the logical read BEFORE retention must already be the state
    retention commits. A reader that applied the delta but ignored the
    pending pdv still showed the positionally deleted row until a fold
    removed it."""
    _seed(cat, spark)
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, "x"), (30, "new")], "k long, v string"),
        ("k",),
    )
    pdel.delete_where_positional(cat, spark, "t", "k = 3")
    before = sorted(
        tuple(r)
        for r in mor_upsert.read_logical(cat, spark, "t", ("k",)).collect()
    )
    actions = retention.enforce_retention(
        cat, spark, "t", ("k",), policy=EAGER
    )
    assert actions["fold_upsert_delta"] and actions["fold_positional_deletes"]
    after = sorted(tuple(r) for r in cat.read(spark, "t").collect())
    assert before == after
    assert (3, "3") not in before and (1, "x") in before


def test_constraints_bind_mor_upserts(spark, cat):
    """code-review r18: upsert_into writes to the __delta side table,
    but base-table CHECK constraints must still bind the batch; and
    add_constraint must refuse while a violating delta row exists."""
    from glue_jobs_for_data_pipeline_spark.sources.txn import (
        ConstraintViolationError,
    )

    _seed(cat, spark)
    cat.add_constraint(spark, "t", "v_nonempty", "length(v) > 0")
    head = cat.head()
    with pytest.raises(ConstraintViolationError, match="v_nonempty"):
        mor_upsert.upsert_into(
            cat, spark, "t",
            spark.createDataFrame([(1, "")], "k long, v string"), ("k",),
        )
    assert cat.head() == head  # nothing published
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, "ok")], "k long, v string"), ("k",),
    )
    assert _state(cat, spark)[1] == "ok"
    # declaring over a violating delta refuses (would wedge compaction)
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(2, "xx")], "k long, v string"), ("k",),
    )
    with pytest.raises(ConstraintViolationError, match="__delta"):
        cat.add_constraint(spark, "t", "no_xx", "v <> 'xx'")
    # compaction still possible (no violating rows ever landed)
    assert mor_upsert.fold(cat, spark, "t", ("k",)) is not None


def test_retention_is_branch_aware(spark, cat):
    """code-review r18: thresholds must be evaluated against the
    TARGET branch's versions, and the folds must commit there."""
    _seed(cat, spark)
    cat.create_branch("exp")
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, "exp-only")], "k long, v string"),
        ("k",), branch="exp",
    )
    main_head = cat.head()
    actions = retention.enforce_retention(
        cat, spark, "t", ("k",), policy=EAGER, branch="exp",
    )
    assert actions["fold_upsert_delta"]
    assert cat.head() == main_head  # main untouched
    exp_state = {
        r["k"]: r["v"]
        for r in mor_upsert.read_logical(
            cat, spark, "t", ("k",), branch="exp"
        ).collect()
    }
    assert exp_state[1] == "exp-only"
    # main never saw the delta: nothing due there
    actions_main = retention.enforce_retention(
        cat, spark, "t", ("k",), policy=EAGER
    )
    assert not any(actions_main.values())


def test_delta_fold_requires_key_cols(spark, cat):
    _seed(cat, spark)
    mor_upsert.upsert_into(
        cat, spark, "t",
        spark.createDataFrame([(1, "x")], "k long, v string"), ("k",),
    )
    with pytest.raises(ValueError, match="key_cols"):
        retention.enforce_retention(cat, spark, "t", policy=EAGER)
