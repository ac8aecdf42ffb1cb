"""N->4N scaling of the KG job (north rule: throughput scaling >= 0.8 from
N to 4N executors), measured on the job that ships: `jobs/build_kg.py`'s
`pipeline.build` + `pipeline.materialize` with its `CONFIG`, up to the
written `.metta` shards, node and edge tables and lineage manifests.

Protocol:
- the documents are synthesized once, in their own JVM, and written to
  parquet beside a small warm-up table; every level reads both through
  `read_documents`;
- the levels are local[1] and local[<cores>], each in a fresh JVM that
  runs the job over the warm-up table first and then the timed job over
  the full table;
- every level's written atoms and manifest row totals must be nonzero
  and equal across levels, or the run fails before writing the report.

Efficiency is the speed-up from local[1] to local[<cores>] divided by
<cores>. Writes BENCH_SCALING_LAST.md and prints one JSON line.

Usage: python bench_scaling.py [n_docs]     (default 400000)
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from biocypher_metta_spark import get_spark, pipeline  # noqa: E402
from biocypher_metta_spark.schema import load_default_registry  # noqa: E402
from biocypher_metta_spark.sources.documents import read_documents  # noqa: E402
from biocypher_metta_spark.sources.synth import synth_gtf_documents  # noqa: E402
from jobs.build_kg import CONFIG  # noqa: E402


def measure(spark, docs_path: str, out_dir: str) -> dict:
    """The timed op: the KG job over the documents table at `docs_path`,
    written to `out_dir`. Returns its wall time and, counted after the
    clock stops, the atoms it wrote and its manifests' row totals."""
    registry = load_default_registry()
    t0 = time.perf_counter()
    ctx = pipeline.PipelineContext(spark, read_documents(spark, docs_path), registry)
    manifests = pipeline.materialize(pipeline.build(ctx, CONFIG), out_dir,
                                     registry, run_id="bench-scaling")
    seconds = time.perf_counter() - t0
    return {"seconds": seconds,
            "atoms": spark.read.text(f"{out_dir}/metta").count(),
            "rows": {name: sum(r["n_rows"] for r in rows)
                     for name, rows in sorted(manifests.items())}}


def _session(cpus: int):
    spark = get_spark("bcm-scaling", master=f"local[{cpus}]",
                      extra_confs={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def synthesize(cpus: int, n_docs: int, docs_path: str, warm_path: str) -> None:
    """Writes the documents at local[cpus], one file per core: the GTF
    parse runs one task per file, so fewer files would idle cores."""
    spark = _session(cpus)
    try:
        synth_gtf_documents(spark, n_docs).write.parquet(docs_path)
        synth_gtf_documents(spark, max(n_docs // 20, 1000)).write.parquet(warm_path)
    finally:
        spark.stop()


def run_level(cpus: int, docs_path: str, warm_path: str, work: str) -> dict:
    """One level: warm-up op, then the timed op, in this process's JVM."""
    spark = _session(cpus)
    try:
        measure(spark, warm_path, f"{work}/warm-{cpus}")
        spark.catalog.clearCache()
        return measure(spark, docs_path, f"{work}/out-{cpus}")
    finally:
        spark.stop()


def _in_fresh_jvm(fn, *args):
    """Run `fn(*args)` in a new interpreter, so it starts its own JVM."""
    with ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn")) as ex:
        return ex.submit(fn, *args).result()


def _dir_mb(path: str) -> float:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet")) / 2**20


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
    cores = len(os.sched_getaffinity(0))
    levels = [1, cores]
    work = tempfile.mkdtemp(prefix="bench_scaling-")
    try:
        docs_path, warm_path = f"{work}/documents", f"{work}/documents_warm"
        _in_fresh_jvm(synthesize, cores, n_docs, docs_path, warm_path)
        input_mb = _dir_mb(docs_path)
        runs = {c: _in_fresh_jvm(run_level, c, docs_path, warm_path, work)
                for c in levels}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    outputs = {c: (r["atoms"], r["rows"]) for c, r in runs.items()}
    first = outputs[levels[0]]
    if first[0] == 0 or 0 in first[1].values() \
            or any(o != first for o in outputs.values()):
        raise SystemExit(f"outputs are empty or differ across levels: {outputs}")

    t1, tn = runs[1]["seconds"], runs[cores]["seconds"]
    eff = t1 / tn / cores
    result = {"n_docs": n_docs, "input_mb": round(input_mb, 1), "cores": cores,
              "atoms": first[0], "rows": first[1],
              "seconds": {f"local[{c}]": round(r["seconds"], 2) for c, r in runs.items()},
              "scaling_efficiency": round(eff, 3), "target": 0.8, "meets_target": eff >= 0.8}
    print(json.dumps(result))

    rows = "\n".join(
        f"| local[{c}] | {n_docs:,} | {r['atoms']:,} | {r['rows'].get('nodes', 0):,} "
        f"| {r['rows'].get('edges', 0):,} | {r['seconds']:.2f} | {r['atoms'] / r['seconds']:,.0f} |"
        for c, r in runs.items())
    cpu = next((line.split(":", 1)[1].strip() for line in
                Path("/proc/cpuinfo").read_text().splitlines()
                if line.startswith("model name")), "unknown CPU")
    md = f"""# KG job scaling, local[1] -> local[{cores}]

Job: `jobs/build_kg.py`'s `pipeline.build` + `pipeline.materialize` over
its `CONFIG` ({", ".join(e["adapter"] for e in CONFIG)}),
up to the written `.metta` shards, node and edge tables and lineage
manifests.

Input: one parquet documents table of {n_docs:,} synthetic GTF documents
({input_mb:.1f} MB), read by every level through `read_documents`.

Each level runs in a fresh JVM: the job over a
{max(n_docs // 20, 1000):,}-doc warm-up table first, then the timed job.
Host: {cores} cores ({cpu}).

| parallelism | docs | atoms | node rows | edge rows | seconds | atoms/s |
|---|---|---|---|---|---|---|
{rows}

Outputs checked: every level wrote the same nonzero number of atoms and
the same manifest row totals.

**Scaling efficiency local[1] -> local[{cores}]: {eff:.3f}** (target >= 0.8:
{"met" if eff >= 0.8 else "not met"}).

Reproduce: `python bench_scaling.py {n_docs}`.
"""
    (REPO / "BENCH_SCALING_LAST.md").write_text(md)


if __name__ == "__main__":
    main()
