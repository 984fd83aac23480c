#!/usr/bin/env python
"""Production entry point for the transcript quality-filter pipeline.

Cluster deployment (the BASELINE scale criteria shape):

    python -c "from data_caterer_spark.config import package_zip; print(package_zip())"
    spark-submit --py-files /tmp/dcs_pkg_*.zip scripts/run_pipeline.py \
        --input  <path or table of transcripts>  \
        --output <output dir/table>              \
        --manifest <lineage sidecar dir/table>   \
        --n-groups 256

Sandbox smoke run (synthesizes input):

    python scripts/run_pipeline.py --synthesize 2000 \
        --output /tmp/qf_out --manifest /tmp/qf_manifest --master 'local[8]'

Resumable: re-running with the same --manifest skips completed groups
(see data_caterer_spark/sources/manifest.py for the commit protocol).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="transcripts parquet path (or omit with --synthesize)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--n-groups", type=int, default=64)
    ap.add_argument("--synthesize", type=int, default=0, help="generate N conversations instead of reading --input")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from data_caterer_spark.config import get_spark
    from data_caterer_spark.plans.pipeline import QualityFilterPipeline
    from data_caterer_spark.sources.manifest import ResumableRunner

    spark = get_spark(
        app_name="dcs-quality-filter",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    spark.sparkContext.setLogLevel("WARN")

    if args.synthesize:
        from data_caterer_spark.fixtures import generate_transcripts_distributed

        df = generate_transcripts_distributed(spark, n_convs=args.synthesize)
    else:
        if not args.input:
            ap.error("--input required unless --synthesize")
        df = spark.read.parquet(args.input)

    pipe = QualityFilterPipeline()

    def run(part):
        return pipe.run(part).select(
            "conv_id", "turn_idx", "keep", "rule_hits", "scrubbed_text"
        )

    runner = ResumableRunner(
        spark, args.output, args.manifest, n_groups=args.n_groups,
        rule_ids=pipe.rule_ids(),
    )
    processed = runner.run(df, run)
    print(f"processed groups: {processed}")
    man = runner.manifest.read()
    man.orderBy("group_id").show(truncate=False)
    spark.stop()


if __name__ == "__main__":
    main()
