"""The benchmark's workloads.

Each workload is driven closed-loop by one client thread: the next unit
of work starts only after the previous one returned. A workload

- ``prepare(work_dir, seed)`` writes its seeded inputs (not timed);
- ``warmup(spark)`` runs unmeasured units until the JVM is past its
  coldest start;
- ``unit(spark, k, tracer)`` runs one measured unit and returns a
  :class:`Unit`; with a tracer it also records spans and per-layer
  readings for that unit;
- ``check()`` verifies every measured unit's outputs, after the timed
  window, and returns ``{unit index: failed operations}`` plus notes.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

import datagen
import fakefhir
import tracing

# Small-file scan split, as bench.py sets it for its query sweep: the
# generated tables are far below the 128 MB default split.
SMALL_SPLIT_CONF = {
    "spark.sql.files.openCostInBytes": "262144",
    "spark.sql.files.maxPartitionBytes": "2097152",
}

# One pass runs two subsets of bench.py's HEADLINE list. Relational:
# scan-aggregate, multi-join, percentile and window queries whose work
# is Catalyst and the SQL engine, with no UDF, HOF or driver-loop code.
RELATIONAL_QUERIES = [
    "q01_pricing_summary",
    "q05_regional_revenue",
    "q29_percentiles",
    "q31_topk_per_group",
]
# Dataprep: builders that do work beyond plain SQL --
# dataprep.remove_dup_paragraphs (x19), functions.hof n-gram folds
# (x92), a pandas UDF mirroring multimodal.binary (x93).
DATAPREP_QUERIES = [
    "x19_paragraph_removal",
    "x92_source_ngram_overlap",
    "x93_resize_grid",
]


@dataclass
class Unit:
    wall_s: float
    steps_ms: list[float]
    attempted: int = 1
    failed: int = 0
    layer: dict = field(default_factory=dict)
    step_names: list[str] = field(default_factory=list)


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _dir_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths if os.path.isfile(p))


# ---------------------------------------------------------------------------


class QueryWorkload:
    """One pass over the relational and dataprep query subsets, in a
    seed-permuted order per pass."""

    name = "headline_queries"
    confs = SMALL_SPLIT_CONF
    sf = 0.01
    groups = {**{q: "relational" for q in RELATIONAL_QUERIES},
              **{q: "dataprep" for q in DATAPREP_QUERIES}}

    def __init__(self):
        self.queries = list(self.groups)
        self.results: list[dict] = []  # per measured pass: name -> (cols, rows)
        self.errors: list[dict] = []

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.seed = seed
        self.tables = os.path.join(work_dir, "tables")
        sizes = datagen.make_tables(self.tables, seed, self.sf)
        return {
            "sf": self.sf,
            "queries": {g: sum(1 for q in self.groups.values() if q == g)
                        for g in ("relational", "dataprep")},
            "tables": sizes,
            "records": sum(t["rows"] for t in sizes.values()),
            "mb": round(sum(t["bytes"] for t in sizes.values()) / 2**20, 3),
        }

    def _run(self, spark, name: str):
        from capgemini_himss24_fhirbulkdata_demo_spark.queries import QUERIES

        df = QUERIES[name](spark, self.tables)
        return df, list(df.columns), [tuple(r) for r in df.collect()]

    @staticmethod
    def _release(df) -> None:
        for dep in getattr(df, "_cached_deps", []):
            dep.unpersist()

    def warmup(self, spark) -> None:
        for name in self.queries:
            df, _, _ = self._run(spark, name)
            self._release(df)

    def unit(self, spark, k: int, tracer=None) -> Unit:
        order = list(np.random.Generator(np.random.PCG64([self.seed, k])).permutation(self.queries))
        out: dict = {}
        self.results.append(out)
        steps, names, failed, layer = [], [], 0, {}
        per_query = []
        gc0 = tracing.jvm_gc_s(spark) if tracer else 0.0
        t_unit = time.perf_counter()
        for name in order:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    df, cols, rows = self._run(spark, name)
                    steps.append((time.perf_counter() - t0) * 1000)
                    names.append(name)
                else:
                    df, cols, rows, rec = self._run_traced(spark, tracer, k, name)
                    steps.append((rec["build_s"] + rec["exec_s"]) * 1000)
                    names.append(name)
                    per_query.append(rec)
                out[name] = (cols, rows)
                self._release(df)
            except Exception:
                failed += 1
                self.errors.append({"unit": k, "query": name, "error": traceback.format_exc(limit=3)})
        wall = time.perf_counter() - t_unit
        if tracer is not None:
            for key in ("build_s", "plan_s", "exec_s", "jobs", "stages", "tasks",
                        "scan_rows", "shuffle_mb", "spill_mb"):
                layer[f"queries.{key}"] = sum(r[key] for r in per_query)
            for group in ("relational", "dataprep"):
                layer[f"queries.{group}_s"] = sum(
                    r["build_s"] + r["exec_s"] for n, r in zip(names, per_query)
                    if self.groups[n] == group)
            layer["jvm.gc_s"] = tracing.jvm_gc_s(spark) - gc0
        return Unit(wall, steps, attempted=len(order), failed=failed, layer=layer, step_names=names)

    def _run_traced(self, spark, tracer, k: int, name: str):
        from capgemini_himss24_fhirbulkdata_demo_spark.queries import QUERIES

        sc = spark.sparkContext
        group = f"perfbench-{k}-{name}"
        sc.setJobGroup(group, name)
        with tracer.span("queries.query", query=name, unit=k) as rec:
            with tracer.span("queries.build", query=name) as b:
                df = QUERIES[name](spark, self.tables)
            with tracer.span("queries.exec", query=name) as e:
                rows = [tuple(r) for r in df.collect()]
        sqlm = tracing.plan_sql_metrics(df)
        counts = tracing.job_counts(spark, sc.statusTracker().getJobIdsForGroup(group))
        attrs = {
            "build_s": b["end"] - b["start"],
            "plan_s": tracing.plan_phase_s(df),
            "exec_s": e["end"] - e["start"],
            **counts,
            "scan_rows": sqlm["scan_rows"],
            "shuffle_mb": sqlm["shuffle_bytes"] / 2**20,
            "spill_mb": sqlm["spill_bytes"] / 2**20,
        }
        rec.update(attrs)
        return df, list(df.columns), rows, attrs

    def check(self) -> tuple[dict[int, int], list[str]]:
        """Every measured query result against the DuckDB oracle over the same tables."""
        import oracle

        from capgemini_himss24_fhirbulkdata_demo_spark.queries import ORACLE_SQL

        bad_units: dict[int, int] = {}
        notes = [f"pass {e['unit']} {e['query']}: {e['error'][-300:]}" for e in self.errors]
        for name in self.queries:
            expected = _digest(*oracle.run_duck(ORACLE_SQL[name], self.tables))
            for k, res in enumerate(self.results):
                if name in res and _digest(*res[name]) != expected:
                    bad_units[k] = bad_units.get(k, 0) + 1
                    errs = oracle.compare(name, res[name], oracle.run_duck(ORACLE_SQL[name], self.tables))
                    notes.append(f"pass {k} {name}: " + "; ".join(errs)[:500])
        return bad_units, notes


def _digest(cols, rows) -> str:
    import oracle

    canon = oracle._rows_to_canonical(list(cols), [tuple(r) for r in rows])
    return hashlib.sha256(repr((sorted(cols), canon)).encode()).hexdigest()


# ---------------------------------------------------------------------------


class FhirBulkImportWorkload:
    """``pipeline.run_bulk_import`` against the in-process fake bulk server."""

    name = "fhir_bulk_import"
    confs: dict = {}  # Spark's default scan split, as bench.py's FHIR section
    n_eob = 8_000
    n_eob_files = 4
    n_patient_files = 2
    patients_per_file = 500
    checked_files = 3  # seeded sample of files compared with the reference loop

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.seed = seed
        self.work = work_dir
        export = datagen.make_export(seed, self.n_eob, self.n_eob_files,
                                     self.n_patient_files, self.patients_per_file)
        self.files = export["files"]
        self.server = fakefhir.FakeBulkServer([(t, b) for t, b, _ in self.files])
        rng = np.random.Generator(np.random.PCG64(seed))
        eob_idx = [i for i, f in enumerate(self.files) if f[0] == "ExplanationOfBenefit"]
        pat_idx = [i for i, f in enumerate(self.files) if f[0] == "Patient"]
        self.sample = sorted(
            [int(i) for i in rng.choice(eob_idx, self.checked_files - 1, replace=False)]
            + [int(rng.choice(pat_idx))]
        )
        self.runs: list[dict] = []
        return {
            "records": sum(len(d) for _, _, d in self.files),
            "eob_records": self.n_eob,
            "files": len(self.files),
            "mb": round(sum(len(b) for _, b, _ in self.files) / 2**20, 3),
        }

    def _setup_session(self, spark) -> None:
        from capgemini_himss24_fhirbulkdata_demo_spark.connectors import FhirBulkConnector
        from capgemini_himss24_fhirbulkdata_demo_spark.connectors.state import HighWaterMark
        from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import RXNAV_BENCH
        from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import RXNAV_LOOKUP_SCHEMA

        self.sleep = fakefhir.SleepRecorder()
        self.conn = FhirBulkConnector(transport=self.server, sleep=self.sleep)
        self.state = HighWaterMark(os.path.join(self.work, "state.json"))
        self.rx = spark.createDataFrame(
            [(k, v["name"], v["rxnorm"]) for k, v in sorted(RXNAV_BENCH.items())],
            RXNAV_LOOKUP_SCHEMA,
        )

    def _import(self, spark, k: int):
        from capgemini_himss24_fhirbulkdata_demo_spark.pipeline import run_bulk_import

        return run_bulk_import(
            spark, self.conn, fakefhir.SERVER, "g", "token", fakefhir.IMPORT_SERVER,
            "import-token", os.path.join(self.work, f"unit{k}"), rxnav=self.rx,
            state=self.state, client_id="bench",
        )

    def warmup(self, spark) -> None:
        self._setup_session(spark)
        self._import(spark, -1)

    def unit(self, spark, k: int, tracer=None) -> Unit:
        st = spark.sparkContext.statusTracker()
        jobs0 = set(st.getJobIdsForGroup())
        n_import = len(self.server.import_bodies)
        polls0 = self.server.export_polls
        sleeps0 = len(self.sleep.calls)
        cursor0 = self.state.get(fakefhir.SERVER, "g")
        gc0 = tracing.jvm_gc_s(spark) if tracer else 0.0
        t0 = time.perf_counter()
        res, failed = None, 0
        try:
            if tracer is None:
                res = self._import(spark, k)
            else:
                res = self._import_traced(spark, tracer, k)
        except Exception:
            failed = 1
            self.runs.append({"unit": k, "error": traceback.format_exc(limit=3)})
        wall = time.perf_counter() - t0
        jobs = sorted(set(st.getJobIdsForGroup()) - jobs0)
        steps = tracing.job_durations_ms(spark, jobs)
        if res is not None:
            self.runs.append({"unit": k, "res": res, "import_body": self.server.import_bodies[n_import],
                              "cursor_before": cursor0,
                              "cursor_after": self.state.get(fakefhir.SERVER, "g"),
                              "transaction_time": self.server.manifest(len(self.server.kickoff_urls))["transactionTime"]})
        layer = {}
        if tracer is not None:
            layer = self._layer(spark, tracer, k, jobs, self.server.export_polls - polls0)
            layer["connectors.backoff_s"] = sum(self.sleep.calls[sleeps0:])
            layer["jvm.gc_s"] = tracing.jvm_gc_s(spark) - gc0
        return Unit(wall, steps, failed=failed, layer=layer)

    def _import_traced(self, spark, tracer, k: int):
        from capgemini_himss24_fhirbulkdata_demo_spark import pipeline

        def landed_bytes(rec, args, out):
            rec["bytes"] = _dir_bytes(out)

        def status_url(rec, args, out):
            rec["url"] = args[0]

        def file_path(rec, args, out):
            rec["path"] = os.path.basename(args[1])

        tracer.wrap(self.conn, "kickoff_export", "connectors.kickoff")
        tracer.wrap(self.conn, "poll_status", "connectors.poll", status_url)
        tracer.wrap(self.conn, "land_export", "connectors.land", landed_bytes)
        tracer.wrap(self.conn, "bulk_import", "connectors.import")
        tracer.wrap(self.conn, "archive_files", "connectors.archive")
        tracer.wrap(pipeline, "transform_landed_file", "pipeline.file", file_path)
        try:
            with tracer.span("pipeline.run_bulk_import", unit=k) as top:
                tracer.default_parent = top["id"]
                return self._import(spark, k)
        finally:
            tracer.default_parent = None
            tracer.unwrap_all()

    def _layer(self, spark, tracer, k: int, jobs: list[int], polls: int) -> dict:
        top = [s for s in tracer.named("pipeline.run_bulk_import") if s.get("unit") == k][-1]

        def inside(name):
            return [s for s in tracer.named(name) if s["start"] >= top["start"] and s["end"] <= top["end"]]

        def dur(spans):
            return sum(s["end"] - s["start"] for s in spans)

        kick, polls_sp = inside("connectors.kickoff"), inside("connectors.poll")
        land, imp = inside("connectors.land"), inside("connectors.import")
        files = [s["end"] - s["start"] for s in inside("pipeline.file")]
        export_polls = [s for s in polls_sp if s["url"].startswith(fakefhir.SERVER)]
        import_polls = [s for s in polls_sp if s["url"].startswith(fakefhir.IMPORT_SERVER)]
        phase = imp[0]["start"] - land[0]["end"] if land and imp else 0.0
        counts = tracing.job_counts(spark, jobs)
        return {
            "connectors.export_s": dur(kick) + dur(export_polls),
            "connectors.polls": polls,
            "connectors.land_s": dur(land),
            "connectors.land_mb": sum(s.get("bytes", 0) for s in land) / 2**20,
            "connectors.import_s": dur(imp) + dur(import_polls),
            "connectors.archive_s": dur(inside("connectors.archive")),
            "pipeline.transform_phase_s": phase,
            "pipeline.file_p50_s": quantile(files, 0.5),
            "pipeline.file_p90_s": quantile(files, 0.9),
            "pipeline.files_in_flight": sum(files) / phase if phase > 0 else 0.0,
            "pipeline.jobs": counts["jobs"],
            "pipeline.tasks": counts["tasks"],
        }

    def split_read_transform_write(self, spark, tracer) -> dict:
        """Read, transform and write costs of the last unit's EOB files, one
        leg at a time: read into a no-op sink, transform into a no-op sink,
        then the full NDJSON write; each leg's cost is the difference.
        Each leg runs twice and the second, warm run counts."""
        from capgemini_himss24_fhirbulkdata_demo_spark.sources import read_ndjson, write_ndjson
        from capgemini_himss24_fhirbulkdata_demo_spark.transforms import get_transform
        from capgemini_himss24_fhirbulkdata_demo_spark.transforms.schemas import RESOURCE_SCHEMAS

        last = next(r["res"] for r in reversed(self.runs) if "res" in r)
        src = os.path.join(os.path.dirname(last.archived[0]), "ExplanationOfBenefit-*.json")
        schema = RESOURCE_SCHEMAS["ExplanationOfBenefit"]
        fn = get_transform(fakefhir.SERVER, "ExplanationOfBenefit")
        out = os.path.join(self.work, "split_out")
        for _ in range(2):
            with tracer.span("sources.read") as r:
                read_ndjson(spark, src, schema).write.format("noop").mode("overwrite").save()
            with tracer.span("transforms.apply") as t:
                fn(read_ndjson(spark, src, schema), self.rx).write.format("noop").mode("overwrite").save()
            with tracer.span("sources.write") as w:
                write_ndjson(fn(read_ndjson(spark, src, schema), self.rx), out)
        read_s = r["end"] - r["start"]
        apply_s = t["end"] - t["start"]
        write_s = w["end"] - w["start"]
        return {
            "sources.read_s": read_s,
            "transforms.apply_s": apply_s - read_s,
            "sources.write_s": write_s - apply_s,
            "sources.out_mb": _dir_bytes(glob.glob(os.path.join(out, "part-*"))) / 2**20,
        }

    def check(self) -> tuple[dict[int, int], list[str]]:
        """Sampled files equal the reference loop; the import manifest lists
        every landed file; the cursor advances to the export's time."""
        import fhir_oracle

        from capgemini_himss24_fhirbulkdata_demo_spark.transforms.benchdata import RXNAV_BENCH

        bad: dict[int, int] = {}
        notes: list[str] = []
        t0 = time.perf_counter()
        expected = {}
        n_ref = 0
        for i in self.sample:
            rtype, _, docs = self.files[i]
            expected[i] = _canon(fhir_oracle.process(fakefhir.SERVER, rtype, docs, RXNAV_BENCH))
            n_ref += len(docs)
        self.reference_records_per_s = n_ref / (time.perf_counter() - t0)
        for run in self.runs:
            k = run["unit"]
            if "res" not in run:
                notes.append(f"unit {k}: {run['error'][-300:]}")
                continue
            res = run["res"]
            errs = []
            if len(res.landed) != len(self.files):
                errs.append(f"landed {len(res.landed)} of {len(self.files)} files")
            urls = sorted(
                part["valueUri"]
                for p in run["import_body"]["parameter"] if p["name"] == "input"
                for part in p["part"] if part["name"] == "url"
            )
            want = sorted(f"file://{res.transformed[p]}" for p in res.landed)
            if urls != want:
                errs.append("import manifest does not list every landed file")
            if not all(os.path.isfile(res.transformed[p]) for p in res.landed):
                errs.append("missing transformed output file")
            if run["cursor_after"] != run["transaction_time"] or (
                run["cursor_before"] is not None and run["cursor_after"] <= run["cursor_before"]
            ):
                errs.append(f"cursor {run['cursor_before']} -> {run['cursor_after']}")
            for i in self.sample:
                got = _canon(_read_ndjson(res.transformed[res.landed[i]]))
                if got != expected[i]:
                    errs.append(f"file {i} ({self.files[i][0]}) differs from the reference loop")
            if errs:
                bad[k] = 1
                notes.append(f"unit {k}: " + "; ".join(errs))
        return bad, notes


def _canon(resources) -> dict:
    return {r["id"]: json.loads(json.dumps(r, sort_keys=True)) for r in resources}


def _read_ndjson(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# ---------------------------------------------------------------------------


class StreamingDrainWorkload:
    """Drain a landed ``events`` stream through a watermarked tumbling
    aggregation at the engine's default state sizing."""

    name = "streaming_drain"
    confs = SMALL_SPLIT_CONF
    n_events = 100_000
    n_files = 8
    files_per_trigger = 2
    warmup_drains = 2  # the first drains still run JIT-cold micro-batches

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.work = work_dir
        self.landing = os.path.join(work_dir, "landing")
        info = datagen.land_events(self.landing, seed, self.n_events, self.n_files)
        self.outputs: list[tuple[int, list]] = []
        self.errors: list[dict] = []
        return {"events": info["events"], "records": info["events"], "files": info["files"],
                "mb": round(info["bytes"] / 2**20, 3)}

    def warmup(self, spark) -> None:
        self.schema = spark.read.parquet(self.landing).schema
        for i in range(self.warmup_drains):
            self._drain(spark, f"warm{i}", [])

    def _drain(self, spark, tag, sink_rows: list):
        from capgemini_himss24_fhirbulkdata_demo_spark.streaming import (
            read_parquet_stream,
            start_stateful_query,
            tumbling_agg,
        )

        def sink(batch_df, batch_id):
            sink_rows.append((batch_id, batch_df.collect()))

        stream = tumbling_agg(read_parquet_stream(
            spark, self.landing, self.schema, max_files_per_trigger=self.files_per_trigger))
        q = start_stateful_query(stream, os.path.join(self.work, f"ck-{tag}"),
                                 foreach_batch=sink, output_mode="update")
        if not q.awaitTermination(150):
            q.stop()
            raise TimeoutError("drain did not finish")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def unit(self, spark, k: int, tracer=None) -> Unit:
        rows: list = []
        gc0 = tracing.jvm_gc_s(spark) if tracer else 0.0
        t0 = time.perf_counter()
        try:
            if tracer is None:
                q = self._drain(spark, k, rows)
            else:
                with tracer.span("streaming.drain", unit=k):
                    q = self._drain(spark, k, rows)
        except Exception:
            self.errors.append({"unit": k, "error": traceback.format_exc(limit=3)})
            return Unit(time.perf_counter() - t0, [], failed=1)
        wall = time.perf_counter() - t0
        self.outputs.append((k, rows))
        prog = tracing.stream_progress(q)
        steps = [p["batch_ms"] for p in prog]
        layer = {}
        if tracer is not None:
            layer = {
                "streaming.batches": len(prog),
                "streaming.batch_p50_ms": quantile(steps, 0.5),
                "streaming.batch_p90_ms": quantile(steps, 0.9),
                "streaming.first_batch_ms": steps[0] if steps else 0.0,
                "streaming.state_rows": max((p["state_rows"] for p in prog), default=0),
                "streaming.state_mb": max((p["state_bytes"] for p in prog), default=0) / 2**20,
                "jvm.gc_s": tracing.jvm_gc_s(spark) - gc0,
            }
        return Unit(wall, steps, layer=layer)

    def check(self) -> tuple[dict[int, int], list[str]]:
        """Final window values of every drain equal the batch aggregation."""
        import duckdb

        con = duckdb.connect()
        try:
            expected = {
                (ws, et): (int(n), float(s))
                for ws, et, n, s in con.execute(
                    "SELECT strftime(make_timestamp(epoch_us(ts) // 3600000000 * 3600000000), "
                    "'%Y-%m-%d %H:%M:%S'), event_type, "
                    "count(*), CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) "
                    f"FROM read_parquet('{self.landing}/*.parquet') GROUP BY ALL"
                ).fetchall()
            }
        finally:
            con.close()
        bad, notes = {}, [f"unit {e['unit']}: {e['error'][-300:]}" for e in self.errors]
        for k, rows in self.outputs:
            final = {}
            for _, batch in sorted(rows, key=lambda b: b[0]):
                for r in batch:
                    final[(r["window_start"], r["event_type"])] = (int(r["n_events"]), float(r["sum_value"]))
            if final != expected:
                bad[k] = 1
                diff = len(set(final.items()) ^ set(expected.items()))
                notes.append(f"drain {k}: {diff} window rows differ from the batch aggregation")
        return bad, notes


WORKLOADS = {w.name: w for w in (FhirBulkImportWorkload, QueryWorkload, StreamingDrainWorkload)}


def make(name: str):
    if name not in WORKLOADS:
        raise ValueError(f"unknown workload {name!r}; one of {', '.join(WORKLOADS)}")
    return WORKLOADS[name]()
