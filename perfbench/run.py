#!/usr/bin/env python3
"""Repository benchmark: one workload per process, closed loop, one client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload fhir_bulk_import --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, summary table

The last line of stdout is the result object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` its
per-layer metrics (and a span file under ``.perfbench/``). The line
before it describes the run: seed, host, versions, input sizes and
sample counts. Progress goes to stderr. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "capgemini_himss24_fhirbulkdata_demo_spark"
DRIVER_MEMORY = "3g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _require_sources() -> None:
    """Exit non-zero unless the program and the reference oracles are present."""
    needed = [os.path.join(ROOT, PACKAGE, "__init__.py"),
              os.path.join(ROOT, "tests", "oracle.py"),
              os.path.join(ROOT, "tests", "fhir_oracle.py"),
              os.path.join(ROOT, "BENCHMARK.json")]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        log("cannot run: missing " + ", ".join(os.path.relpath(p, ROOT) for p in missing))
        sys.exit(2)


def _source_digest() -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PACKAGE)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> int:
    _require_sources()
    # Spark's Python workers start with the JVM's environment, not this
    # interpreter's sys.path: put the package on their PYTHONPATH so
    # UDF-bearing queries import it from any working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for p in (ROOT, os.path.join(ROOT, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import tracing
    import workloads

    wl = workloads.make(name)
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t = time.perf_counter()
        inputs = wl.prepare(work, seed)
        inputs["generate_s"] = round(time.perf_counter() - t, 3)
        log(f"{name}: inputs {json.dumps(inputs)[:300]}")

        from capgemini_himss24_fhirbulkdata_demo_spark.session import get_spark

        # keep every scratch file of Python, the JVM and Spark inside the checkout
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        nproc = len(os.sched_getaffinity(0))
        confs = {**wl.confs, "spark.ui.showConsoleProgress": "false",
                 "spark.driver.memory": DRIVER_MEMORY,
                 "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                 "spark.local.dir": os.path.join(work, "spark-local"),
                 "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
        t_setup = time.perf_counter()
        spark = get_spark(master=f"local[{nproc}]", shuffle_partitions=nproc, extra_conf=confs)
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t_setup
        t = time.perf_counter()
        wl.warmup(spark)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup
        pid = tracing.jvm_pid(spark)
        log(f"{name}: session {start_s:.2f}s, warmup {warmup_s:.2f}s")

        tracer = tracing.Tracer(run_id=f"{name}-{seed}-{os.getpid()}") if trace else None
        units, traced_flags = [], []
        t_run = time.perf_counter()
        while True:
            k = len(units)
            traced = trace and k % 2 == 1
            u = wl.unit(spark, k, tracer if traced else None)
            units.append(u)
            traced_flags.append(traced)
            log(f"{name}: unit {k}{' traced' if traced else ''} {u.wall_s:.3f}s")
            enough = not trace or (True in traced_flags and False in traced_flags)
            if time.perf_counter() - t_run >= seconds and enough:
                break
        peak_rss_mb = tracing.vm_hwm_mb(pid)

        layer_extra = {}
        if trace and name == "fhir_bulk_import":
            layer_extra = wl.split_read_transform_write(spark, tracer)

        bad, notes = wl.check()
        failed = sum(u.failed for u in units) + sum(bad.values())
        attempted = sum(u.attempted for u in units)
        for n in notes:
            log(f"{name}: CHECK FAILED {n}")

        plain = [u for u, tr in zip(units, traced_flags) if not tr]
        steps = [s for u in plain for s in u.steps_ms]
        named = {}
        for u in plain:
            for n, ms in zip(u.step_names, u.steps_ms):
                named.setdefault(n, []).append(ms)
        per_step = {n: workloads.median(v) for n, v in sorted(named.items())}
        end_to_end = {
            "setup_s": setup_s,
            "makespan_s": workloads.median([u.wall_s for u in plain]),
            # named steps (queries): geometric mean of each one's median
            "step_geomean_ms": _geomean(list(per_step.values()) if per_step else steps),
        }
        describe = {
            "workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
            "nproc": nproc, "master": f"local[{nproc}]", "spark_conf": confs,
            "shuffle_partitions": nproc,
            "pyspark": __import__("pyspark").__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_commit": _git_commit(), "source_digest": _source_digest(),
            "inputs": inputs,
            "samples": {"units": len(plain), "traced_units": len(units) - len(plain),
                        "steps": len(steps)},
            "step_p50_ms": workloads.quantile(steps, 0.5),
            "step_p90_ms": workloads.quantile(steps, 0.9),
            "peak_rss_mb": peak_rss_mb,
            "failed_frac": failed / attempted if attempted else 1.0,
            "unit_walls_s": [round(u.wall_s, 4) for u in units],
            "end_to_end": end_to_end,
            "check_notes": notes[:20],
        }
        if per_step:
            describe["per_query_ms"] = per_step
        if "records" in inputs and end_to_end["makespan_s"] > 0:
            describe["records_per_s"] = inputs["records"] / end_to_end["makespan_s"]

        if trace:
            traced_units = [u for u, tr in zip(units, traced_flags) if tr]
            layer = {
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "jvm.peak_rss_mb": peak_rss_mb,
                "trace.overhead_frac": (
                    workloads.median([u.wall_s for u in traced_units])
                    / end_to_end["makespan_s"] - 1.0),
                **layer_extra,
            }
            for key in sorted({k for u in traced_units for k in u.layer}):
                layer[key] = workloads.median([u.layer[key] for u in traced_units if key in u.layer])
            if name == "fhir_bulk_import":
                layer["reference.records_per_s"] = wl.reference_records_per_s
            wanted = spec["per_layer"]
            describe["per_layer"] = layer
            trace_path = os.path.join(out_dir, f"trace-{name}-seed{seed}-{os.getpid()}.jsonl")
            tracer.dump(trace_path, describe)
            describe["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            wanted = spec["end_to_end"]
            layer = end_to_end
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in wanted}
        print(json.dumps({"perfbench": describe}, default=str))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                  "metrics": metrics}
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def run_all(seed: int, seconds: float) -> int:
    """Every workload in its own process; prints each end-to-end metric."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [w["name"] for w in json.load(f)["workloads"]]
    status = 0
    rows = []
    for name in names:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            status = 1
            rows.append(f"{name}: exit {proc.returncode}")
            continue
        res = json.loads(lines[-1])
        status |= 0 if res["correct"] else 1
        rows.append(f"{name}: correct={res['correct']} attempted={res['attempted']} "
                    f"failed={res['failed']} failed_frac={res['failed'] / res['attempted']:.3f}")
        rows += [f"  {k:<16} {v['value']:>12.4f} {v['unit']}" for k, v in res["metrics"].items()]
    print("\n".join(rows))
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    return run_workload(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
