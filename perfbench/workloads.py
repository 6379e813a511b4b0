"""The benchmark's workloads. Each is one client in a closed loop: it
issues the next operation only after the previous one has returned.

A *pass* is one complete batch job of the workload:

- ``etl_ingest``: ``run_pipeline`` over a seeded URL manifest with
  ``fake_transport``, into a fresh output dir, then ``run_aggregation``
  over the ``records/`` it wrote.
- ``curation_cold``: thirteen LLM-curation operators, each built and
  collected once, with Spark's cache and the session memos reset
  before every operator.

Each workload checks its outputs after the passes (untimed) and turns a
traced run into per-layer metrics, averaged per pass.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import datagen
from eventlog import EventLog, GroupStats

CURATION_OPS = (
    "dedup_near",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_connected",
    "sim_topk_ivf",
    "sim_topk_ivfpq",
    "join_set_similarity",
    "graph_scc",
    "graph_ppr",
    "tokenizer_bpe_apply",
    "multimodal_frame_dedup",
    "text_stats",
    "quality_score",
)
# Scale factor of the generated tables for curation_cold: the
# repository's oracle-correctness scale (500 documents, 500 vectors,
# 60k lineitem rows), so that one cold pass and its oracle check fit a
# bounded run. At sf0.1 a run took 208 s on a 4-vCPU box: set-up 11 s,
# the cold pass 80 s and the DuckDB oracle check 115 s (65 s of it in
# dedup_connected's recursive query), over the 180 s one run may take.
CURATION_SF = 0.01


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    group: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written out at the end. With ``tag_jobs``
    each span's path is also the Spark job group of the jobs started
    inside it, so the event log can be attributed back to the span."""

    def __init__(self, spark, tag_jobs: bool) -> None:
        self.spans: list[Span] = []
        self._sc = spark.sparkContext if tag_jobs else None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        group = f"{parent.group}/{name}.{sid}" if parent else name
        s = Span(sid, name, parent.id if parent else None, group, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._tag(group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._tag(parent.group if parent else None)

    def _tag(self, group: str | None) -> None:
        if self._sc is not None:
            self._sc.setLocalProperty("spark.jobGroup.id", group)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.named(name)]

    def stats(self, log: EventLog, name: str) -> GroupStats:
        """Event-log stats of every span called ``name``, merged."""
        out = GroupStats()
        for s in self.named(name):
            out.merge(log.select(s.group))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([{**s.__dict__, "seconds": s.seconds} for s in self.spans], fh, indent=1)


@dataclass
class Outcome:
    """What a run's operations did: how many were attempted, and each
    failure as (operation, cause); one operation may fail several checks."""

    attempted: int = 0
    failures: list[tuple[str, str]] = field(default_factory=list)

    @property
    def failed(self) -> int:
        return len({op for op, _ in self.failures})


class EtlIngest:
    name = "etl_ingest"
    # Every pass draws run_pipeline's record-file layout afresh (see
    # README), and the 4x-files layout costs more per pass. pass_s is the
    # median of three warm passes, after one untimed (but checked) pass
    # that warms the JVM.
    warmup_passes = 1
    min_passes = 3

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.manifest = os.path.join(work_dir, "data", "manifest.jsonl")
        os.makedirs(os.path.dirname(self.manifest), exist_ok=True)
        urls = datagen.write_manifest(self.manifest, seed)
        self.expected = _expected_fetch([u for u in urls if u is not None])
        self.inputs = {**datagen.manifest_record(), **self.expected, "segments": _segments(self.expected["rows"])}
        self.started = 0
        # (pass index, output dir, PipelineResult, AggregateStats) of each
        # pass that completed; a failed pass leaves a gap in the indices.
        self.passes: list[tuple[int, str, object, object]] = []

    def run_pass(self, spark, tracer: Tracer, outcome: Outcome) -> None:
        from parquet_processor_spark.pipeline.aggregate import run_aggregation
        from parquet_processor_spark.pipeline.fetch import fake_transport
        from parquet_processor_spark.pipeline.run import run_pipeline

        i = self.started
        self.started += 1
        out = os.path.join(self.work_dir, "out", f"pass{i}")
        op = f"pass{i}/ingest"
        try:
            outcome.attempted += 1
            with tracer.span("ingest"):
                res = run_pipeline(spark, self.manifest, out, transport=fake_transport)
            op = f"pass{i}/aggregate"
            outcome.attempted += 1
            with tracer.span("aggregate"):
                stats = run_aggregation(spark, os.path.join(out, "records"), os.path.join(out, "aggregate"))
        except Exception as exc:  # noqa: BLE001 — a failing operation is counted, not fatal
            outcome.failures.append((op, f"{type(exc).__name__}: {exc}"))
            return
        self.passes.append((i, out, res, stats))

    def check(self, outcome: Outcome) -> None:
        """Row accounting against the manifest, recomputed by
        ``fake_transport``'s own rule."""
        exp = self.expected
        for i, _, res, stats in self.passes:
            checks = (
                ("ingest", "landed", res.total_processed + res.error_count, exp["rows"]),
                ("ingest", "dead_letter", res.error_count, exp["dead"]),
                ("aggregate", "total_records", stats.total_records, exp["ok"]),
                ("aggregate", "media_types", dict(stats.media_types), exp["media_types"]),
            )
            outcome.failures += [
                (f"pass{i}/{op}", f"{what} {got}, expected {want}")
                for op, what, got, want in checks
                if got != want
            ]

    def _measured(self) -> list[str]:
        """Output dirs of the measured passes that completed."""
        return [out for i, out, _, _ in self.passes if i >= self.warmup_passes]

    def _stored_bytes(self) -> list[int]:
        return [_dir_bytes(os.path.join(out, "records")) for out in self._measured()]

    def summary(self, tracer: Tracer) -> dict[str, list[float]]:
        return {
            "ingest_records_per_s": [self.expected["rows"] / s for s in tracer.seconds("ingest")],
            "aggregate_records_per_s": [self.expected["ok"] / s for s in tracer.seconds("aggregate")],
            "stored_bytes_per_record": [b / self.expected["ok"] for b in self._stored_bytes()],
        }

    def layers(self, log: EventLog, tracer: Tracer) -> dict[str, float]:
        n, n_agg = len(tracer.named("ingest")), len(tracer.named("aggregate"))
        ingest, agg = tracer.stats(log, "ingest"), tracer.stats(log, "aggregate")
        attempts = records = 0
        stored = self._stored_bytes()
        for out in self._measured():
            a, r = _fetch_attempts(out)
            attempts, records = attempts + a, records + r
        python_s = log.sql_total(ingest, ("time to run Python workers",)) / 1000
        return {
            "pipeline.run.jobs": ingest.jobs / n,
            "pipeline.run.manifest_scans": log.nodes_run(ingest, "Scan json", "number of output rows") / n,
            "pipeline.run.records_per_s": self.expected["rows"] * n / sum(tracer.seconds("ingest")),
            "pipeline.fetch.attempts_per_record": attempts / records,
            "pipeline.fetch.records_per_python_s": records / python_s,
            "pipeline.aggregate.jobs": agg.jobs / n_agg,
            "pipeline.aggregate.files_read": log.sql_total(agg, ("number of files read",), "Scan parquet") / n_agg,
            "pipeline.aggregate.records_per_s": self.expected["ok"] * n_agg / sum(tracer.seconds("aggregate")),
            "io.stored_bytes_per_record": sum(stored) / (self.expected["ok"] * len(stored)),
        }


class CurationCold:
    name = "curation_cold"
    warmup_passes = 0
    min_passes = 1

    def __init__(self, work_dir: str, seed: int) -> None:
        self.tables = os.path.join(work_dir, "data", "tables")
        self.inputs = {"sf": CURATION_SF, "rows": datagen.write_tables(self.tables, seed, CURATION_SF)}
        self.first_pass: dict[str, tuple[list[str], list[tuple]]] = {}
        self.passes = 0

    def run_pass(self, spark, tracer: Tracer, outcome: Outcome) -> None:
        from parquet_processor_spark.registry import all_queries

        queries = all_queries()
        for op in CURATION_OPS:
            _cold_reset(spark)
            outcome.attempted += 1
            with tracer.span(op):
                try:
                    with tracer.span("build"):
                        df = queries[op](spark, self.tables)
                    with tracer.span("execute"):
                        rows = [tuple(r) for r in df.collect()]
                except Exception as exc:  # noqa: BLE001 — a failing operator is counted, not fatal
                    outcome.failures.append((op, f"{type(exc).__name__}: {exc}"))
                    continue
            if not self.passes:
                self.first_pass[op] = (list(df.columns), rows)
        self.passes += 1

    def check(self, outcome: Outcome) -> None:
        """Each operator's first-pass rows against its DuckDB oracle, by
        ``tools/check_oracle.py``'s normalize/cells_equal rule."""
        import duckdb

        from parquet_processor_spark.registry import all_oracles
        from parquet_processor_spark.tables import TABLES
        from tools.check_oracle import cells_equal, normalize

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for tab in TABLES:
                path = os.path.join(self.tables, f"{tab}.parquet")
                con.sql(f"create view {tab} as select * from read_parquet('{path}')")
            for op, (cols, rows) in self.first_pass.items():
                rel = con.sql(oracles[op])
                want_cols, want = list(rel.columns), [tuple(r) for r in rel.fetchall()]
                if sorted(cols) != sorted(want_cols) or len(rows) != len(want):
                    outcome.failures.append(
                        (op, f"{len(rows)} rows {sorted(cols)}, oracle {len(want)} rows {sorted(want_cols)}")
                    )
                    continue
                bad = sum(
                    not all(cells_equal(a, b) for a, b in zip(r, w))
                    for r, w in zip(normalize(rows, cols), normalize(want, want_cols))
                )
                if bad:
                    outcome.failures.append((op, f"{bad}/{len(rows)} rows differ from the oracle"))
        finally:
            con.close()

    def summary(self, tracer: Tracer) -> dict[str, list[float]]:
        return {f"{op}_s": tracer.seconds(op) for op in CURATION_OPS}

    def layers(self, log: EventLog, tracer: Tracer) -> dict[str, float]:
        n = self.passes
        return {
            "ops.build_s": sum(tracer.seconds("build")) / n,
            "ops.build_jobs": tracer.stats(log, "build").jobs / n,
            "ops.execute_s": sum(tracer.seconds("execute")) / n,
            "ops.jobs": tracer.stats(log, "execute").jobs / n,
        }


WORKLOADS = {w.name: w for w in (EtlIngest, CurationCold)}

# Per-layer metrics a workload does not exercise read 0: that workload
# bypasses the layer.
LAYER_NAMES = (
    "ops.build_s", "ops.build_jobs", "ops.execute_s", "ops.jobs",
    "pipeline.run.jobs", "pipeline.run.manifest_scans", "pipeline.run.records_per_s",
    "pipeline.fetch.attempts_per_record", "pipeline.fetch.records_per_python_s",
    "pipeline.aggregate.jobs", "pipeline.aggregate.files_read", "pipeline.aggregate.records_per_s",
    "io.stored_bytes_per_record",
)


def common_layers(log: EventLog, g: GroupStats, n: int) -> dict[str, float]:
    """Spark-runtime, scan, Arrow-boundary and write metrics per pass,
    from everything attributed to the workload's passes."""

    def sql(*names: str, node: str = "") -> float:
        return log.sql_total(g, names, node) / n

    return {
        "tables.scan_bytes": g.input_bytes / n,
        "tables.scan_files": sql("number of files read", node="Scan "),
        "tables.scan_s": sql("scan time", node="Scan ") / 1000,
        "spark.stages": g.stages / n,
        "spark.tasks": g.tasks / n,
        "spark.exec_run_s": g.exec_run_ms / 1000 / n,
        "spark.exec_cpu_s": g.exec_cpu_ns / 1e9 / n,
        "spark.gc_s": g.gc_ms / 1000 / n,
        "spark.shuffle_write_bytes": g.shuffle_write_bytes / n,
        "spark.shuffle_read_bytes": g.shuffle_read_bytes / n,
        "spark.shuffle_fetch_wait_s": g.fetch_wait_ms / 1000 / n,
        "spark.spill_bytes": g.spill_bytes / n,
        "arrow.python_run_s": sql("time to run Python workers") / 1000,
        "arrow.python_start_s": sql("time to start Python workers") / 1000,
        "arrow.bytes_sent": sql("data sent to Python workers"),
        "arrow.bytes_returned": sql("data returned from Python workers"),
        "io.files_written": sql("number of written files"),
        "io.bytes_written": sql("written output"),
        "io.commit_s": sql("task commit time", "job commit time") / 1000,
    }


def _cold_reset(spark) -> None:
    """Drop everything an earlier operator could leave warm: Spark's cache
    and the process-global memos, for as long as the program has them."""
    from parquet_processor_spark.ops import dedup, vector

    spark.catalog.clearCache()
    for memo in (getattr(dedup, "_SIG_MEMO", None), getattr(vector, "_IVFPQ_MEMO", None)):
        if memo is not None:
            memo.clear()
            if memo:
                raise RuntimeError("session memo not empty after clear()")


def _expected_fetch(urls: list[str]) -> dict:
    """Outcome counts of fetching every manifest row with ``fake_transport``."""
    from parquet_processor_spark.pipeline.fetch import fake_transport

    media: Counter[str] = Counter()
    dead = 0
    for url in urls:
        try:
            media[fake_transport(url)["media_type"]] += 1
        except TimeoutError:
            dead += 1
    return {"rows": len(urls), "dead": dead, "ok": len(urls) - dead, "media_types": dict(media)}


def _segments(rows: int) -> int:
    """Output segments ``run_pipeline`` makes of ``rows`` non-null URLs at
    its default segment size."""
    import inspect

    from parquet_processor_spark.pipeline.run import run_pipeline

    size = inspect.signature(run_pipeline).parameters["segment_size"].default
    return -(-rows // size)


def _fetch_attempts(out_dir: str) -> tuple[int, int]:
    """(fetch attempts, records) over one pass's ok and dead-letter rows."""
    import pyarrow.dataset as ds

    ok = ds.dataset(os.path.join(out_dir, "records"), format="parquet", partitioning="hive")
    table = ok.to_table(columns=["attempt"])
    attempts, records = int(table.column("attempt").to_numpy().sum()), table.num_rows
    for path in glob.glob(os.path.join(out_dir, "skipped", "*.json")):
        with open(path) as fh:
            for line in fh:
                attempts += json.loads(line)["attempts"]
                records += 1
    return attempts, records


def _dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (not checksums or markers)."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )
