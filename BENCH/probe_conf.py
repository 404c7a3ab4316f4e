"""One-off: run the extraction job with conf overrides to locate the
local[16] feed bottleneck (Arrow batch size vs reader batch vs other).

Usage: python BENCH/probe_conf.py --cores 16 --input ... [--conf k=v ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", default="/dev/shm/ocr_scaling/probe_conf")
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--run-id", default="probeconf")
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--buckets", type=int, default=None,
                    help="override JobConfig.n_buckets (probe only)")
    ap.add_argument("--exchange-mb", type=int, default=None,
                    help="override JobConfig.exchange_partition_bytes (MB)")
    args = ap.parse_args()

    from ocr_spark.plans.pipeline import JobConfig, run_extraction_job
    from ocr_spark.session import get_spark

    extra = dict(c.split("=", 1) for c in args.conf)
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark_scratch")
    import shutil
    shutil.rmtree(args.output, ignore_errors=True)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from hostmeter import read_cpu, cpu_delta
    cpu0 = read_cpu()
    spark = get_spark("probe_conf", cores=args.cores, extra=extra)
    cfg_kw = {"run_id": args.run_id}
    if args.buckets is not None:
        cfg_kw["n_buckets"] = args.buckets
    if args.exchange_mb is not None:
        cfg_kw["exchange_partition_bytes"] = args.exchange_mb << 20
    stats = run_extraction_job(
        spark, args.input, args.output, JobConfig(**cfg_kw))
    stats["host_cpu"] = cpu_delta(cpu0, read_cpu())
    print(json.dumps(stats))


if __name__ == "__main__":
    main()
