"""Record the sink outputs later commits must reproduce.

    python3 perfbench/record_expected.py --workload ship_mixed --seeds 0-31

Runs one job per seed in a single session and stores each output's row
count and digest in perfbench/expected.json under the host's core count,
the workload and the seed. Run it on the commit whose outputs are the
reference; run.py then fails any job whose outputs differ.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    from perfbench.check import EXPECTED_PATH, summarize
    from perfbench.run import Job, cpu_count, make_work, start_spark, stop_spark
    from perfbench.workloads import WORKLOADS, write_input

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    args = ap.parse_args()
    first, last = (int(x) for x in args.seeds.split("-"))
    wl, cpus = WORKLOADS[args.workload], cpu_count()

    work = make_work(f"record-{args.workload}")
    spark = start_spark(cpus, work)
    recorded = {}
    try:
        for seed in range(first, last + 1):
            spark.sparkContext._jvm.System.gc()  # no periodic GC: drain it here
            input_path = os.path.join(work, f"input{seed}")
            write_input(wl, seed, input_path, cpus)
            job = Job(spark, wl.job, input_path)
            run_dir = os.path.join(work, f"run{seed}")
            paths = job.write(job.build(), run_dir)
            recorded[str(seed)] = summarize(
                {name: spark.read.parquet(p) for name, p in paths.items()}
            )
            print(seed, json.dumps(recorded[str(seed)]), flush=True)
            shutil.rmtree(run_dir)
            shutil.rmtree(input_path)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    with open(EXPECTED_PATH) as f:
        table = json.load(f)
    table.setdefault(str(cpus), {}).setdefault(wl.name, {}).update(recorded)
    with open(EXPECTED_PATH, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
