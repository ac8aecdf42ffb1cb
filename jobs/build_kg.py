"""spark-submit entrypoint: full KG construction over a documents table.

Usage (cluster):
    spark-submit --py-files bcm_spark.zip jobs/build_kg.py \
        --input  s3://bucket/documents/           (parquet/Iceberg dir) \
        --output s3://bucket/kg_out/ \
        --chr chr16 --start 53000000 --end 56000000  (optional window)

Local smoke:
    python jobs/build_kg.py --synthesize 100000 --output /tmp/kg_out

The job is idempotent per partition (dynamic partition overwrite +
lineage manifests): re-running with the same input re-derives exactly
the same partitions; a partial failure is resumed by re-running — only
missing/changed partitions rewrite.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# The job's adapters. The optional --chr/--start/--end window is passed to
# the entries that carry an "args" dict (the node adapters).
CONFIG = [
    {"adapter": "gencode_gene", "args": {}},
    {"adapter": "gencode_transcript", "args": {}},
    {"adapter": "gencode_exon", "args": {}},
    {"adapter": "transcribed_to"},
    {"adapter": "transcribed_from"},
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="documents table path (parquet)")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N synthetic docs instead of reading --input")
    ap.add_argument("--output", required=True)
    ap.add_argument("--chr")
    ap.add_argument("--start", type=int)
    ap.add_argument("--end", type=int)
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from biocypher_metta_spark import get_spark, pipeline
    from biocypher_metta_spark.schema import load_default_registry
    from biocypher_metta_spark.sources.documents import read_documents
    from biocypher_metta_spark.sources.synth import synth_gtf_documents

    spark = get_spark("bcm-build-kg")
    registry = load_default_registry()

    if args.synthesize:
        docs = synth_gtf_documents(spark, args.synthesize)
    else:
        if not args.input:
            ap.error("--input or --synthesize required")
        docs = read_documents(spark, args.input)

    window = {k: getattr(args, k) for k in ("chr", "start", "end")
              if getattr(args, k) is not None}
    config = [dict(e, args=window) if "args" in e else e for e in CONFIG]
    ctx = pipeline.PipelineContext(spark, docs, registry)
    result = pipeline.build(ctx, config)
    run_id = args.run_id or f"run-{int(time.time())}"
    manifests = pipeline.materialize(result, args.output, registry, run_id)
    n_parts = sum(len(v) for v in manifests.values())
    print(f"done run_id={run_id} partitions={n_parts} output={args.output}")


if __name__ == "__main__":
    main()
