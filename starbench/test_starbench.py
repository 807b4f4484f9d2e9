"""Tests of the benchmark itself (not of the package).

    python3 -m pytest starbench/test_starbench.py -q

The end-to-end tests run the benchmark as a subprocess at sf0.001, the
way the command line runs it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

TINY = ["--seed", "3", "--seconds", "1", "--sf", "0.001"]


def _result(cmd: list[str]) -> tuple[int, dict | None, str]:
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    return p.returncode, json.loads(lines[-1]) if lines else None, p.stderr


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_prints_every_end_to_end_metric_and_passes_checks(workload):
    code, res, err = _result([sys.executable, "starbench/run.py",
                              "--workload", workload, "--trace", "0", *TINY])
    assert code == 0, err[-3000:]
    assert res["correct"] is True and res["failed"] == 0, err[-3000:]
    assert res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END_UNITS
    assert all(v["value"] > 0 for v in res["metrics"].values()), res


def test_traced_run_prints_every_per_layer_metric():
    code, res, err = _result([sys.executable, "starbench/run.py",
                              "--workload", "daily_cycle", "--trace", "1",
                              *TINY])
    assert code == 0, err[-3000:]
    assert res["correct"] is True, err[-3000:]
    names = spans.per_layer_names()
    assert list(res["metrics"]) == names
    m = {k: v["value"] for k, v in res["metrics"].items()}
    # a delta batch versions only the changed keys and resolves every line
    assert 0 < m["scd2.change_ratio"] < 1
    assert m["fact.resolve_ratio"] == 1
    assert m["txn.files_linked"] > 0 and m["txn.bytes_written"] > 0
    assert m["scd2.jobs"] > 0 and m["txn.write.task_s"] > 0
    assert m["batch.s"] > 0 and m["txn.read_jobs"] > 0
    assert all(m[f"query.{q}_s"] > 0 for q in spans.QUERY_SHAPES)


def test_wrong_result_is_counted_as_failed(tmp_path):
    """The checks are not vacuous: a fact table that reads one row short
    to the checker, from the first timed load on, fails every load."""
    script = tmp_path / "inject.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path[:0] = [{HERE!r}, {ROOT!r}]
        import oracle, run, workloads
        real_state, real_measure = oracle.fact_state, workloads.Run.measure

        def measure(self, seconds):
            oracle.fact_state = lambda wh: (real_state(wh)[0] - 1, real_state(wh)[1])
            return real_measure(self, seconds)

        workloads.Run.measure = measure
        sys.exit(run.main(sys.argv[1:]))
    """))
    code, res, err = _result([sys.executable, str(script), "--workload",
                              "full_load", "--trace", "0", *TINY])
    assert code == 0, err[-3000:]
    assert res["correct"] is False
    assert res["attempted"] >= 1 and res["failed"] == res["attempted"]
    assert "fact_orders (rows, revenue)" in err


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "starbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    p = subprocess.run([sys.executable, "starbench/run.py", "--workload",
                        "full_load", "--trace", "0", *TINY],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""


def test_every_query_answer_is_non_empty(tmp_path):
    """A query whose expected answer is empty would pass its check
    vacuously; the generated parameters must always hit rows."""
    inputs = gen.generate(str(tmp_path), 3, 0.001, holdout=True)
    orc = oracle.Oracle(inputs, batches_applied=1)
    for q in inputs.queries:
        for shape in spans.QUERY_SHAPES:
            rows = orc.query(shape, q)
            assert rows and all(v is not None for v in rows[0]), (shape, q)
        line_count, versions, _ = orc.query("c", q)[0]
        assert line_count > 0 and versions > 0


def test_benchmark_json_lists_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END_UNITS
    assert [(m["name"], m["unit"]) for m in doc["per_layer"]] == [
        (n, spans.unit_of(n)) for n in spans.per_layer_names()]
