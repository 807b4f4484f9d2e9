"""Spans and per-layer metrics for the traced run.

The benchmark records spans around its calls into each layer of the
package (it does not instrument the package itself). In a traced run
``Tracer.install`` wraps the package's public entry points so that calls
made *inside* ``Pipeline.run`` are spanned too:

- ``operators.validation.validate_or_raise``   -> span ``validation``
- ``operators.scd2.scd2_upsert``               -> span ``scd2``
- ``operators.dates_dim.generate_dim_dates``   -> span ``dates_dim``
- ``operators.fact.populate_fact``             -> span ``fact``
- ``CatalogTransaction.overwrite``/``append``  -> span ``txn.write``
- ``CatalogTransaction.__exit__`` (commit)     -> span ``txn.commit``
- ``Catalog.read``, ``read_committed``, ``read_staged`` -> span ``txn.read``

The operators return lazy DataFrames, so a timer around them alone would
measure plan building only. The wrappers therefore force each operator's
output through Spark's ``noop`` sink inside the operator's span (with a
``DataFrame.observe`` for the row counts), before the catalog call that
would otherwise carry the compute. That recomputation is the main part
of the tracing overhead, which is why end-to-end numbers come from
untraced runs only.

Each span sets a Spark job group ``<run id>/<span id>``; job, stage and
task counts, executor run time, GC time and shuffle bytes are then read
back from the run's Spark event log and attributed to the span whose
group the job carried (the innermost open span). A span's figures
include its children's.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Layers whose Spark engine split (task time, busy share, shuffle, GC)
# is reported.
ENGINE_LAYERS = (
    "pipeline", "validation", "scd2", "dates_dim", "fact",
    "txn.write", "txn.commit", "txn.read", "query",
)
QUERY_SHAPES = ("a", "b", "c", "d", "e")


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, spark, run_id: str, cores: int) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        # rows the current operation feeds each source, set by the
        # workload (the generator knows them exactly)
        self.source_rows: dict[str, int] = {}

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.id if parent else None, name,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{self.run_id}/{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}/{parent.id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    # -- wrapping the package's entry points --------------------------
    def _patch(self, owner: object, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from glue_jobs_for_data_pipeline_spark.operators import (
            dates_dim, fact, scd2, validation,
        )
        from glue_jobs_for_data_pipeline_spark.plans import pipeline
        from glue_jobs_for_data_pipeline_spark.sources import txn

        tracer = self
        table_of_key = {"CustomerID": "customers", "ProductID": "products",
                        "StoreID": "stores"}

        def force(df, name: str, *exprs):
            obs = Observation(name)
            df.observe(obs, F.count(F.lit(1)).alias("rows"), *exprs) \
              .write.format("noop").mode("overwrite").save()
            return obs.get

        real_validate = validation.validate_or_raise

        def validate_or_raise(df, table, pk):
            with tracer.span("validation") as s:
                s.counts["rows_checked"] = tracer.source_rows.get(table, 0)
                try:
                    return real_validate(df, table, pk)
                except validation.ValidationError:
                    s.counts["violations"] = 1
                    raise

        real_scd2 = scd2.scd2_upsert

        def scd2_upsert(dim, source, business_key, columns, surrogate_key,
                        run_date=None, **kw):
            with tracer.span("scd2") as s:
                out = real_scd2(dim, source, business_key, columns,
                                surrogate_key, run_date=run_date, **kw)
                got = force(out, f"scd2_{s.id}", F.count(F.when(
                    F.col("StartDate") == F.lit(str(run_date)).cast("date"),
                    F.lit(1))).alias("versioned"))
                s.counts["rows_staged"] = tracer.source_rows.get(
                    table_of_key.get(business_key, ""), 0)
                s.counts["rows_versioned"] = got["versioned"]
            return out

        real_dates = dates_dim.generate_dim_dates

        def generate_dim_dates(spark, *a, **kw):
            with tracer.span("dates_dim"):
                out = real_dates(spark, *a, **kw)
                force(out, f"dates_{len(tracer.spans)}")
            return out

        real_fact = fact.populate_fact

        def populate_fact(staging, *dims):
            with tracer.span("fact") as s:
                out = real_fact(staging, *dims)
                got = force(out, f"fact_{s.id}")
                s.counts["rows_staged"] = tracer.source_rows.get("orderdetails", 0)
                s.counts["rows_out"] = got["rows"]
            return out

        CT = txn.CatalogTransaction
        real_overwrite, real_append = CT.overwrite, CT.append
        real_exit, real_read_committed = CT.__exit__, CT.read_committed
        real_read_staged, real_read = CT.read_staged, txn.Catalog.read

        def written(t, name: str, version: int, s: Span) -> None:
            vdir = os.path.join(t._catalog.table_dir(name), f"v={version}")
            for root, _, files in os.walk(vdir):
                for f in files:
                    if not f.endswith(".parquet"):
                        continue
                    st = os.stat(os.path.join(root, f))
                    if st.st_nlink > 1:  # hard link to an older version
                        s.counts["files_linked"] = s.counts.get("files_linked", 0) + 1
                    else:
                        s.counts["files_written"] = s.counts.get("files_written", 0) + 1
                        s.counts["bytes_written"] = s.counts.get("bytes_written", 0) + st.st_size

        def overwrite(t, df, name, *a, **kw):
            with tracer.span("txn.write") as s:
                v = real_overwrite(t, df, name, *a, **kw)
            written(t, name, v, s)
            return v

        def append(t, df, name):
            with tracer.span("txn.write") as s:
                v = real_append(t, df, name)
            written(t, name, v, s)
            return v

        def exit_(t, *exc):
            with tracer.span("txn.commit") as s:
                try:
                    return real_exit(t, *exc)
                except txn.ConcurrentCommitError:
                    s.counts["commit_retries"] = 1
                    raise

        def read_committed(t, spark, name):
            with tracer.span("txn.read"):
                return real_read_committed(t, spark, name)

        def read_staged(t, spark, name):
            with tracer.span("txn.read"):
                return real_read_staged(t, spark, name)

        def read(cat, spark, name, *a, **kw):
            with tracer.span("txn.read"):
                return real_read(cat, spark, name, *a, **kw)

        for mod in (validation, pipeline):
            self._patch(mod, "validate_or_raise", validate_or_raise)
        for mod in (scd2, pipeline):
            self._patch(mod, "scd2_upsert", scd2_upsert)
        for mod in (dates_dim, pipeline):
            self._patch(mod, "generate_dim_dates", generate_dim_dates)
        for mod in (fact, pipeline):
            self._patch(mod, "populate_fact", populate_fact)
        self._patch(CT, "overwrite", overwrite)
        self._patch(CT, "append", append)
        self._patch(CT, "__exit__", exit_)
        self._patch(CT, "read_committed", read_committed)
        self._patch(CT, "read_staged", read_staged)
        self._patch(txn.Catalog, "read", read)

    def dump(self, path: str, groups: dict[str, "GroupStats"]) -> None:
        """Write the recorded spans, with the Spark work of each span's
        own job group, as one JSON document."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        doc = {"run_id": self.run_id, "spans": [
            {**asdict(s), **asdict(groups.get(f"{self.run_id}/{s.id}", GroupStats()))}
            for s in self.spans]}
        with open(path, "w") as f:
            json.dump(doc, f)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)


# -- event log ----------------------------------------------------------
@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_bytes: float = 0.0

    def add(self, o: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group totals from an uncompressed Spark event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = {}
    paths = sorted(
        os.path.join(root, f)
        for root, _, files in os.walk(log_dir) for f in files
        if not f.startswith(".")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g = out.setdefault(group, GroupStats())
                    g.jobs += 1
                    g.stages += len(ev["Stage IDs"])
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    g = out[group]
                    g.tasks += 1
                    g.task_ms += m.get("Executor Run Time", 0)
                    g.gc_ms += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_bytes += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0)
                                        + sw.get("Shuffle Bytes Written", 0))
    return out


# -- per-layer metrics ------------------------------------------------------
def per_layer_names() -> list[str]:
    names = [
        "session.start_s",
        "pipeline.run_s", "pipeline.jobs", "pipeline.stages", "pipeline.tasks",
        "validation.s", "validation.jobs", "validation.rows_checked",
        "validation.violations",
        "scd2.s", "scd2.jobs", "scd2.rows_staged", "scd2.rows_versioned",
        "scd2.change_ratio",
        "dates_dim.s",
        "fact.s", "fact.jobs", "fact.rows_staged", "fact.rows_out",
        "fact.resolve_ratio",
        "txn.write_s", "txn.write_jobs", "txn.write_tasks", "txn.files_written",
        "txn.bytes_written", "txn.files_linked", "txn.commit_s",
        "txn.commit_retries",
        "txn.read_s", "txn.read_jobs", "txn.read_tasks",
        "batch.s",
        *[f"query.{q}_s" for q in QUERY_SHAPES], "query.jobs", "query.tasks",
    ]
    for layer in ENGINE_LAYERS:
        names += [f"{layer}.task_s", f"{layer}.busy_share",
                  f"{layer}.shuffle_mb", f"{layer}.gc_s"]
    return names + ["trace.op_p50_s", "ops.failed_ratio",
                    "jvm.peak_rss_mb", "python.peak_rss_mb"]


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_ratio", "_share")):
        return "ratio"
    return "count"


def layer_metrics(tracer: Tracer, groups: dict[str, GroupStats],
                  op_times: list[float], attempted: int, failed: int,
                  session_start_s: float, rss_mb: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics from the recorded spans and event-log totals.

    Times and counts are per completed operation (total over the run
    divided by ``len(op_times)``), except ``query.<shape>_s``, the mean latency of that
    shape. A layer's span counts its children; a span nested in a span
    of the same layer is not counted twice.
    """
    spans = tracer.spans
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)

    inclusive: dict[int, GroupStats] = {}

    def incl(sid: int) -> GroupStats:
        if sid not in inclusive:
            g = GroupStats()
            g.add(groups.get(f"{tracer.run_id}/{sid}", GroupStats()))
            for c in children.get(sid, []):
                g.add(incl(c))
            inclusive[sid] = g
        return inclusive[sid]

    def layer_of(name: str) -> str:
        return "query" if name.startswith("query.") else name

    def outermost(layer: str) -> list[Span]:
        picked = []
        for s in spans:
            if layer_of(s.name) != layer:
                continue
            p = s.parent
            while p is not None and layer_of(spans[p].name) != layer:
                p = spans[p].parent
            if p is None:
                picked.append(s)
        return picked

    n = max(len(op_times), 1)
    m: dict[str, float] = {name: 0.0 for name in per_layer_names()}
    totals: dict[str, tuple[float, GroupStats, dict[str, float]]] = {}
    for layer in ENGINE_LAYERS:
        wall, g, counts = 0.0, GroupStats(), {}
        for s in outermost(layer):
            wall += s.end - s.start
            g.add(incl(s.id))
            for k, v in s.counts.items():
                counts[k] = counts.get(k, 0) + v
        totals[layer] = (wall, g, counts)
        m[f"{layer}.task_s"] = g.task_ms / 1000 / n
        m[f"{layer}.busy_share"] = (
            g.task_ms / 1000 / (wall * tracer.cores) if wall else 0.0)
        m[f"{layer}.shuffle_mb"] = g.shuffle_bytes / 1e6 / n
        m[f"{layer}.gc_s"] = g.gc_ms / 1000 / n

    m["session.start_s"] = session_start_s
    wall, g, _ = totals["pipeline"]
    m["pipeline.run_s"] = wall / n
    m["pipeline.jobs"], m["pipeline.stages"], m["pipeline.tasks"] = (
        g.jobs / n, g.stages / n, g.tasks / n)
    wall, g, c = totals["validation"]
    m["validation.s"], m["validation.jobs"] = wall / n, g.jobs / n
    m["validation.rows_checked"] = c.get("rows_checked", 0) / n
    m["validation.violations"] = c.get("violations", 0) / n
    wall, g, c = totals["scd2"]
    m["scd2.s"], m["scd2.jobs"] = wall / n, g.jobs / n
    m["scd2.rows_staged"] = c.get("rows_staged", 0) / n
    m["scd2.rows_versioned"] = c.get("rows_versioned", 0) / n
    m["scd2.change_ratio"] = (
        c.get("rows_versioned", 0) / c["rows_staged"] if c.get("rows_staged") else 0.0)
    m["dates_dim.s"] = totals["dates_dim"][0] / n
    wall, g, c = totals["fact"]
    m["fact.s"], m["fact.jobs"] = wall / n, g.jobs / n
    m["fact.rows_staged"] = c.get("rows_staged", 0) / n
    m["fact.rows_out"] = c.get("rows_out", 0) / n
    m["fact.resolve_ratio"] = (
        c.get("rows_out", 0) / c["rows_staged"] if c.get("rows_staged") else 0.0)
    wall, g, c = totals["txn.write"]
    m["txn.write_s"], m["txn.write_jobs"], m["txn.write_tasks"] = (
        wall / n, g.jobs / n, g.tasks / n)
    for k in ("files_written", "bytes_written", "files_linked"):
        m[f"txn.{k}"] = c.get(k, 0) / n
    wall, _, c = totals["txn.commit"]
    m["txn.commit_s"] = wall / n
    m["txn.commit_retries"] = c.get("commit_retries", 0) / n
    wall, g, _ = totals["txn.read"]
    m["txn.read_s"], m["txn.read_jobs"], m["txn.read_tasks"] = (
        wall / n, g.jobs / n, g.tasks / n)
    _, g, _ = totals["query"]
    m["query.jobs"], m["query.tasks"] = g.jobs / n, g.tasks / n
    m["batch.s"] = sum(s.end - s.start for s in spans if s.name == "batch") / n
    for q in QUERY_SHAPES:
        durations = [s.end - s.start for s in spans if s.name == f"query.{q}"]
        m[f"query.{q}_s"] = statistics.fmean(durations) if durations else 0.0
    m["trace.op_p50_s"] = statistics.median(op_times) if op_times else 0.0
    m["ops.failed_ratio"] = failed / max(attempted, 1)
    # high-water RSS: the JVM's follows G1 heap sizing and swings by a
    # third between identical runs, too much for an end-to-end bound
    m["jvm.peak_rss_mb"], m["python.peak_rss_mb"] = rss_mb["jvm"], rss_mb["python"]
    return m
