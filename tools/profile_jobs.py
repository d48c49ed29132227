"""Job-timeline profiler for one operator invocation (r6 session tool).

Runs a named pipeline once (warm), then re-runs it timed and dumps the
Spark UI job list (submission/completion times) so inter-job gaps —
driver-side planning / py4j / census overhead — are visible next to the
actual task time. Usage:

    python tools/profile_jobs.py minhash|simhash [--sf-dir DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("pipeline")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    os.environ["SPARK_GRAFT_UI"] = "1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from zetasketch_spark.session import get_spark
    spark = get_spark(app="profile-jobs", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(args.sf_dir, "documents.parquet"))
    docs.count()  # warm

    from zetasketch_spark.operators.dedup import minhash_near_dups, simhash_near_dups

    def run():
        if args.pipeline == "minhash":
            return minhash_near_dups(docs, "text", "doc_id").count()
        elif args.pipeline == "simhash":
            return simhash_near_dups(docs, "text", "doc_id").count()
        raise SystemExit(f"unknown pipeline {args.pipeline}")

    run()  # warm (JIT, python workers, broadcast machinery)
    ui = spark.sparkContext.uiWebUrl
    appid = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications", timeout=30))[0]["id"]
    jobs_before = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{appid}/jobs?length=1000", timeout=30))
    seen = {j["jobId"] for j in jobs_before}

    t0 = time.time()
    n = run()
    wall = time.time() - t0

    jobs = json.load(urllib.request.urlopen(
        f"{ui}/api/v1/applications/{appid}/jobs?length=1000", timeout=30))
    new = sorted((j for j in jobs if j["jobId"] not in seen),
                 key=lambda j: j["jobId"])
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

    print(f"pipeline={args.pipeline} rows={n} wall={wall:.3f}s jobs={len(new)}")
    prev_end = None
    tot_job = 0.0
    tot_gap = 0.0
    for j in new:
        sub, comp = ts(j["submissionTime"]), ts(j["completionTime"])
        gap = (sub - prev_end) if prev_end is not None else 0.0
        tot_job += comp - sub
        tot_gap += max(gap, 0.0)
        print(f"  job {j['jobId']:4d} {comp-sub:6.3f}s gap_before={gap:6.3f}s "
              f"stages={len(j['stageIds'])} tasks={j['numTasks']:4d}  "
              f"{(j.get('description') or j.get('name') or '')[:90]}")
        prev_end = comp
    print(f"total in-job={tot_job:.3f}s gaps={tot_gap:.3f}s wall={wall:.3f}s")


if __name__ == "__main__":
    main()
