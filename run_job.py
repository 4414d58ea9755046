"""spark-submit entry for the checkpointed PIP + tiling pipeline.

    spark-submit --py-files geo_import_spark.zip \
        run_job.py --sf-dir /root/testdata/sf0.1 --out /tmp/pipeline_out

The session runs local[N] with N = --cpus, by default the cores this
process may use (session.default_cpus).

Re-running after a kill resumes from the per-stage lineage logs.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()

    from geo_import_spark.plans.pipeline import pipeline_metrics, run_pipeline
    from geo_import_spark.session import get_spark

    spark = get_spark(cpus=args.cpus, app="geo-import-pipeline")
    summary = run_pipeline(spark, args.sf_dir, args.out)
    print(json.dumps({"summary": summary, "n_metrics": len(pipeline_metrics(args.out))}))
    spark.stop()


if __name__ == "__main__":
    main()
