"""Benchmark of the KG build: seeded workloads through the engine's public
API on local[<nproc>], each from one process.

    python3 perfbench/run.py --workload gencode_job --seed 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload

A run: set-up (cold session start, input generation, one checked warm-up
operation), then checked operations until `--seconds` of operation time
are spent (at least MIN_OPS); `job_s` is their median. `--trace 0` prints the end-to-end metrics.
`--trace 1` starts the session with Spark's event log on, runs the same
set-up, a traced and an untraced operation, the forced per-layer calls,
then a closed-loop client probing what the traced operation wrote in
rounds of every probe kind (`query.probe_p50_ms`, `query.probe_p90_ms`
are per round), and prints the per-layer metrics; spans go to
.perfbench/traces/ at exit.

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Before it, one line per metric (`name value unit`) and `error_rate`,
which the JSON carries as failed / attempted.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.trace import (  # noqa: E402
    RssSampler,
    Tracer,
    event_log_file,
    parse_event_log,
)
from perfbench.workloads import ADAPTERS, WORKLOADS, Workload, dir_bytes  # noqa: E402

RUN_SECONDS = 10  # operation time one run measures; BENCHMARK.json run_seconds
MIN_OPS = 2  # timed operations a run measures at least
DRIVER_MEMORY = "2g"
PROBE_WARM_ROUNDS = 3  # of workloads.PROBE_ROUNDS; one left run-to-run spread

END_TO_END = {
    "setup_s": "s",
    "job_s": "s",
    "triples_per_s": "1/s",
    "atoms_per_s": "1/s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

# `pipeline` is left out: its spans only wrap lineage and sinks spans, so
# the event log charges none of its tasks to it
EVENT_LAYERS = ("sources.documents", "sources.gtf", "sources.tabular", "dims",
                "adapters", "serializer", "canonicalize", "linking",
                "lineage", "sinks", "query")
EVENT_UNITS = {"task_s": "s", "shuffle_read_bytes": "bytes",
               "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
               "gc_s": "s", "util": "ratio"}


def per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s", "session.warmup_s": "s",
        "sources.documents.span_lines_s": "s",
        "sources.documents.spans_in": "count",
        "sources.documents.spans_selected": "count",
        "sources.gtf.parse_s": "s", "sources.gtf.lines_in": "count",
        "sources.gtf.lines_parsed": "count",
        "sources.tabular.split_s": "s",
        "dims.join_s": "s", "dims.mapped_ratio": "ratio",
    }
    for a in ADAPTERS:
        units.update({f"adapters.{a}.typed_s": "s", f"adapters.{a}.render_s": "s",
                      f"adapters.{a}.atoms": "count"})
    units.update({
        "serializer.fmt_float_s": "s", "serializer.float_values": "count",
        "canonicalize.dedup_nodes_s": "s",
        "canonicalize.duplicates_collapsed": "count",
        "canonicalize.cc_s": "s", "canonicalize.components": "count",
        "canonicalize.ids_remapped": "count",
        "linking.link_s": "s", "linking.candidates": "count",
        "linking.links": "count", "linking.hit_ratio": "ratio",
        "linking.entity_counts_s": "s",
        "pipeline.build_s": "s", "pipeline.materialize_s": "s",
        "lineage.write_nodes_s": "s", "lineage.write_edges_s": "s",
        "lineage.manifest_s": "s", "lineage.partitions": "count",
        "lineage.files": "count",
        "sinks.write_metta_s": "s", "sinks.metta_noop_s": "s",
        "sinks.metta_bytes": "bytes", "sinks.files": "count",
        "query.genes_in_window_ms": "ms", "query.fetch_node_properties_ms": "ms",
        "query.match_pattern_ms": "ms", "query.rows_returned": "count",
        "query.probe_p50_ms": "ms", "query.probe_p90_ms": "ms",
        "trace.overhead": "ratio",
    })
    for layer in EVENT_LAYERS:
        for k, unit in EVENT_UNITS.items():
            units[f"{layer}.{k}"] = unit
    return units


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(work: Path, cores: int, event_dir: Path | None = None):
    from biocypher_metta_spark import get_spark
    from biocypher_metta_spark.session import DEFAULT_CONFS

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    java_opts = f"{DEFAULT_CONFS['spark.driver.extraJavaOptions']} -Djava.io.tmpdir={tmp}"
    confs = {"spark.driver.memory": DRIVER_MEMORY,
             "spark.driver.extraJavaOptions": java_opts,
             "spark.local.dir": str(work / "spark-local"),
             "spark.sql.warehouse.dir": str(work / "warehouse")}
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": str(event_dir),
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def environment(spark, cores: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, text=True, capture_output=True,
            timeout=10, env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        ).stdout.strip()
    except OSError:
        commit = ""
    jvm = spark.sparkContext._jvm
    return {"nproc": cores, "master": spark.sparkContext.master,
            "spark": spark.version,
            "jdk": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "git_commit": commit or "unknown"}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


class Run:
    """Counts checked operations (jobs, probes, forced-call checks)."""

    def __init__(self, wl: Workload, work: Path) -> None:
        self.wl = wl
        self.work = work
        self.attempted = 0
        self.errors: list[str] = []
        self.n_ops = 0

    def record(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.errors.append("; ".join(errs))

    def setup(self, cores: int, event_dir: Path | None, tracer):
        """One cold set-up: JVM and session start, input generation and
        write, then a warm-up operation, the process's first job, which
        compiles what every later operation reuses. The oracle and the
        warm-up's check are computed too but left out of setup_s."""
        t0 = time.perf_counter()
        spark = start_session(self.work, cores, event_dir)
        t1 = time.perf_counter()
        inps = self.wl.generate()
        self.wl.write_inputs(inps, self.work / "input")
        self.wl.open(spark, inps)
        t2 = time.perf_counter()
        self.wl.set_expected(inps)
        times, _, _, _, out = self.measure(spark, tracer, 0)
        shutil.rmtree(out, ignore_errors=True)
        return spark, inps, {"setup_s": (t2 - t0) + times[0],
                             "session.get_spark_s": t1 - t0,
                             "session.warmup_s": times[0]}

    def measure(self, spark, tracer, seconds: float, min_ops: int = 1):
        """Checked operations until `seconds` of operation time are spent,
        at least `min_ops`. Returns per-op times, KG rows and atoms, the
        stored bytes ratio of the first op, and the last op's output
        directory."""
        times, rows, atoms, ratio, out = [], [], [], None, None
        while len(times) < min_ops or sum(times) < seconds:
            if out is not None:
                shutil.rmtree(out, ignore_errors=True)
            out = self.work / f"out-{self.n_ops}"
            tracer.run_id = f"op-{self.n_ops}"
            self.n_ops += 1
            # every op starts from a collected heap, so a collection the
            # op before left due is not charged to this one
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            try:
                n, a = self.wl.op(spark, out, tracer)
                dt = time.perf_counter() - t0
                errs = self.wl.check(spark, out)
            except Exception as e:  # a failed op is counted, not fatal
                dt, n, a, errs = time.perf_counter() - t0, 0, 0, [f"{type(e).__name__}: {e}"]
            self.record(errs)
            times.append(dt)
            rows.append(n)
            atoms.append(a)
            if ratio is None and not errs:
                ratio = dir_bytes(out) / self.wl.input_bytes
        return times, rows, atoms, ratio or 0.0, out

    def probe(self, spark, out: Path, tracer) -> tuple[list[float], int]:
        """Closed loop, one client: rounds of every probe kind, each probe
        sent when the one before has answered. Returns the query time in
        ms of each round after the first PROBE_WARM_ROUNDS, which warm
        every probe's plan and code, and the rows all probes returned."""
        # reads start from a collected heap, not from the write's leftovers,
        # whose collection otherwise lands on some runs' probes and not others
        spark.sparkContext._jvm.System.gc()
        lat, n_rows = [], 0
        for k, probes in enumerate(self.wl.probes(spark, out)):
            tracer.run_id = f"probe-{k}"
            spent = 0.0
            for name, run_query, check in probes:
                t0 = time.perf_counter()
                try:
                    with tracer.span(name):
                        rows = run_query()
                    spent += time.perf_counter() - t0
                    errs = check(rows)
                    n_rows += len(rows)
                except Exception as e:
                    spent += time.perf_counter() - t0
                    errs = [f"{name}: {type(e).__name__}: {e}"]
                self.record(errs)
            if k >= PROBE_WARM_ROUNDS:
                lat.append(spent * 1000)
        return lat, n_rows


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated (`statistics.quantiles`)."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def span_metrics(tracer, units: dict) -> dict:
    """Median over runs (ops, forced calls, probes) of each span's self
    time, summed within a run; `_ms` metrics in milliseconds."""
    per: dict[str, dict[str, float]] = {}
    for s in tracer.self_times():
        by_run = per.setdefault(s["name"], {})
        by_run[s["run_id"]] = by_run.get(s["run_id"], 0.0) + s["self_s"]
    out = {}
    for name, by_run in per.items():
        med = statistics.median(by_run.values())
        if f"{name}_s" in units:
            out[f"{name}_s"] = med
        elif f"{name}_ms" in units:
            out[f"{name}_ms"] = med * 1000
    return out


def run_workload(name: str, seed: int, seconds: float, trace: int) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"{name}-s{seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR: an earlier workload's is gone
    wl = Workload(name, WORKLOADS[name], seed)
    run = Run(wl, work)
    events = work / "eventlog" if trace else None
    spark = None
    try:
        off = Tracer(None, name, "", False)
        spark, inps, setup = run.setup(cores, events, off)
        env = environment(spark, cores)
        if trace == 0:
            with RssSampler(jvm_pid(spark)) as rss:
                times, rows, atoms, ratio, _ = run.measure(spark, off, seconds, MIN_OPS)
            units = END_TO_END
            metrics = {
                "setup_s": setup["setup_s"],
                "job_s": statistics.median(times),
                "triples_per_s": statistics.median(n / t for n, t in zip(rows, times)),
                "atoms_per_s": statistics.median(a / t for a, t in zip(atoms, times)),
                "stored_bytes_per_input_byte": ratio,
                "peak_rss_mb": rss.peak / 2**20,
            }
        else:
            # after the warm-up, a traced and an untraced operation run in
            # the same warm JVM, so their ratio is the tracing cost
            tracer = Tracer(spark.sparkContext, name, "", True)
            traced, _, _, _, last = run.measure(spark, tracer, 0)
            untraced, _, _, _, out = run.measure(spark, off, 0)
            shutil.rmtree(out, ignore_errors=True)
            tracer.run_id = "layers"
            try:
                counts, errs = wl.layers(spark, tracer, inps, last)
            except Exception as e:  # counted; its metrics are then missing
                counts, errs = {}, [f"layers: {type(e).__name__}: {e}"]
            run.record(errs)
            lat, n_rows = run.probe(spark, last, tracer)
            spark.stop()
            units = per_layer_units()
            produced = dict(counts)
            produced.update(span_metrics(tracer, units))
            produced.update({
                "session.get_spark_s": setup["session.get_spark_s"],
                "session.warmup_s": setup["session.warmup_s"],
                "query.rows_returned": n_rows,
                "query.probe_p50_ms": percentile(lat, 50),
                "query.probe_p90_ms": percentile(lat, 90),
                "trace.overhead": statistics.median(traced) / statistics.median(untraced) - 1,
            })
            for layer, vals in parse_event_log(event_log_file(events), name,
                                               cores).items():
                produced.update({f"{layer}.{k}": v for k, v in vals.items()})
            # a layer this workload runs must report; others print 0
            run.record([f"missing layer metric {m}" for m in wl.required
                        if m not in produced])
            metrics = dict.fromkeys(units, 0.0)
            metrics.update({k: v for k, v in produced.items() if k in units})
            tracer.write(ROOT / ".perfbench" / "traces" / f"{name}-seed{seed}.json")
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    return {"env": env, "workload": name, "seed": seed, "sizes": wl.sizes,
            "errors": run.errors[:5], "attempted": run.attempted,
            "failed": len(run.errors),
            "metrics": {n: {"value": float(metrics[n]), "unit": u}
                        for n, u in units.items()}}


def report(res: dict) -> None:
    """The human-readable lines of one workload's result."""
    print(json.dumps({k: res[k] for k in ("env", "workload", "seed", "sizes", "errors")}))
    for name, m in res["metrics"].items():
        print(f"{res['workload']} {name} {m['value']:.6g} {m['unit']}")
    print(f"{res['workload']} error_rate {res['failed'] / res['attempted']:.6g} ratio")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    help=f"one of {sorted(WORKLOADS)}, or 'all'")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload != "all" and args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload}; choose from {sorted(WORKLOADS)}")

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    results = [run_workload(n, args.seed, args.seconds, args.trace) for n in names]
    for res in results:
        report(res)
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{n}": m for r in results
                   for n, m in r["metrics"].items()}
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0,
                      "attempted": sum(r["attempted"] for r in results),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
