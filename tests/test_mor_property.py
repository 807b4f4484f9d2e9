"""Property-based merge-on-read invariants (operators/mor_upsert.py): for
ANY sequence of upserts, key deletes, positional deletes and plain
catalog appends on a small keyed table, the one logical-state reader
(read_logical) returns a pure-Python model's state before the fold and
exactly what the base holds after it, the fold leaves every side table
empty, and forcing the footer-count fallback (txn.version_rows -> None,
so every emptiness test scans) changes nothing."""

from __future__ import annotations

from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from glue_jobs_for_data_pipeline_spark.operators import (
    deletes,
    mor_upsert,
    positional_deletes,
)
from glue_jobs_for_data_pipeline_spark.sources import txn

KEY = ("k",)
SCHEMA = "k long, v string"
SIDES = ("t__delta", "t__dv", "t__pdv")
PREDICATES = {
    "k % 3 = 0": lambda k, v: k % 3 == 0,
    "v = 'a'": lambda k, v: v == "a",
    "k < 4": lambda k, v: k < 4,
    "k = 7": lambda k, v: k == 7,
}
SEED = [(k, "abc"[k % 3]) for k in range(8)]

rows_strategy = st.lists(
    st.tuples(st.integers(min_value=0, max_value=11), st.sampled_from("abc")),
    min_size=1,
    max_size=3,
)
op_strategy = st.one_of(
    st.tuples(st.just("upsert"), rows_strategy),
    st.tuples(st.just("append"), rows_strategy),
    st.tuples(st.just("delete"), st.sampled_from(sorted(PREDICATES))),
    st.tuples(
        st.just("delete_positional"), st.sampled_from(sorted(PREDICATES))
    ),
)


def _model(ops):
    """The logical rows the engine must return: physical base rows
    (positional deletes kill exact rows, appends add live ones), then
    (base ANTI delta-keys) ∪ delta, then ANTI dv. A key delete's
    predicate sees the physical base ANTI delta ∪ delta (its
    documented view); an upsert keeps the greatest value per key and
    purges its keys from the dv."""
    base = [[k, v, True] for k, v in SEED]
    delta: dict[int, str] = {}
    dv: set[int] = set()
    for op, arg in ops:
        if op == "upsert":
            batch: dict[int, str] = {}
            for k, v in arg:
                batch[k] = max(batch.get(k, v), v)
            delta.update(batch)
            dv -= set(batch)
        elif op == "append":
            base += [[k, v, True] for k, v in arg]
        elif op == "delete":
            view = [(k, v) for k, v, _ in base if k not in delta]
            dv |= {k for k, v in view + list(delta.items())
                   if PREDICATES[arg](k, v)}
        else:
            for row in base:
                if PREDICATES[arg](row[0], row[1]):
                    row[2] = False
    rows = [(k, v) for k, v, live in base if live and k not in delta]
    rows += list(delta.items())
    return sorted(r for r in rows if r[0] not in dv)


def _run(spark, root, ops):
    """Seed 8 rows, apply ``ops`` (at most 23 rows in all), fold once.
    Returns (logical rows before the fold, base rows after it, side
    table row counts after it)."""
    cat = txn.Catalog(root)
    with cat.transaction() as t:
        t.overwrite(spark.createDataFrame(SEED, SCHEMA), "t")
    for op, arg in ops:
        if op == "upsert":
            mor_upsert.upsert_into(
                cat, spark, "t", spark.createDataFrame(arg, SCHEMA), KEY
            )
        elif op == "append":
            with cat.transaction() as t:
                t.append(spark.createDataFrame(arg, SCHEMA), "t")
        elif op == "delete":
            deletes.delete_where(cat, spark, "t", arg, KEY)
        else:
            positional_deletes.delete_where_positional(cat, spark, "t", arg)
    logical = mor_upsert.read_logical(cat, spark, "t", KEY)
    before = sorted(tuple(r) for r in logical.collect())
    mor_upsert.fold(cat, spark, "t", KEY)
    after = sorted(tuple(r) for r in cat.read(spark, "t").collect())
    sides = {
        s: cat.read(spark, s).count() for s in SIDES if s in cat.manifest()
    }
    return before, after, sides


@settings(
    max_examples=6,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(op_strategy, min_size=2, max_size=5))
def test_read_logical_equals_folded_base_for_any_write_sequence(
    spark, tmp_path_factory, ops
):
    root = tmp_path_factory.mktemp("mor")
    fast = _run(spark, str(root / "footers"), ops)
    before, after, sides = fast
    assert before == _model(ops)
    assert before == after
    assert all(n == 0 for n in sides.values()), sides
    with mock.patch.object(txn, "version_rows", lambda *a, **k: None):
        assert _run(spark, str(root / "scan"), ops) == fast
