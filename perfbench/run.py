"""The shipping-job benchmark.

    python3 perfbench/run.py --workload ship_mixed --seed 1 --seconds 1 --trace 0

Generates the workload's input from the seed, then takes samples in a
closed loop (one client; each starts after the previous one committed)
for ``--seconds``, at least one attempt. A sample is what one spark-submit of
the job script pays: start a fresh local Spark session on every core and
register the input (set-up), then run one job (read the input, build the
plans, execute and commit every output), JIT and code generation
included.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics (see perfbench/README.md). The last line of stdout is
one JSON object: {"correct", "attempted", "failed", "metrics"}. Every
job's outputs are checked; a failed check or an exception counts as a
failed job, and the exit code is 1 if any job failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from functools import reduce

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: driver heap: the engine's 64g default does not fit a 15 GiB host
DRIVER_MEMORY = "4g"
#: writes of each prefix probe in a traced run; the fastest is kept, since
#: the first also compiles the probe's plan
PROBE_REPS = 2
#: failed jobs after which a run stops without a result
MAX_FAILURES = 3


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def make_work(name: str) -> str:
    """A fresh scratch directory under WORK. This process's temporary
    files and those of the JVMs it launches go there too; the JVMs keep
    their perf counters in memory instead of a file under /tmp."""
    work = os.path.join(WORK, f"{name}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tool_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{tool_opts} -Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem".strip()
    )
    return work


def start_spark(cpus: int, work: str):
    """The engine's session, with the three settings the benchmark owns:
    ``local[cpus]``, a driver heap that fits the host, and no periodic
    driver GC (so no full GC lands inside a timed job; the probes drain
    it between their writes instead), all passed through
    ``get_spark(extra_conf=...)``. Scratch files stay under ``work``."""
    from cernan_spark.session import get_spark

    return get_spark(
        app_name="cernan_spark_perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.cleaner.periodicGC.interval": "30min",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Job:
    """One job of a workload, as the job scripts run it.

    ship:   jobs/run_pipeline_job.py — validate routes, read, run_pipeline,
            write_sinks with a lineage table;
    rollup: jobs/run_incremental_job.py's compute — run_pipeline's
            aggregates, written once, no fan-out sinks.
    """

    def __init__(self, spark, kind: str, input_path: str) -> None:
        self.spark, self.kind, self.input_path = spark, kind, input_path

    def build(self):
        from cernan_spark.operators.route import validate_routes
        from cernan_spark.plans.pipeline import run_pipeline
        from cernan_spark.sources.dimensions import default_routes

        if self.kind == "ship":
            validate_routes(default_routes(self.spark))
        return run_pipeline(self.spark, self.spark.read.parquet(self.input_path))

    def write(self, out, run_dir: str) -> dict[str, str]:
        """Commit every output under ``run_dir``; returns {output: path}."""
        from cernan_spark.plans.sinks import write_sinks

        if self.kind == "ship":
            return write_sinks(
                self.spark, out, os.path.join(run_dir, "sinks"),
                lineage_path=os.path.join(run_dir, "lineage"),
            )
        path = os.path.join(run_dir, "sinks", "aggregates")
        out["aggregates"].write.mode("overwrite").parquet(path)
        return {"aggregates": path}

    def check(self, paths: dict[str, str], run_dir: str):
        """(summaries of the committed outputs, problems found). For ship
        jobs the lineage rows per sink must equal the rows the sink wrote."""
        from pyspark.sql import functions as F

        from perfbench.check import summarize

        got = summarize({name: self.spark.read.parquet(p) for name, p in paths.items()})
        problems = []
        if self.kind == "ship":
            lineage = (
                self.spark.read.parquet(os.path.join(run_dir, "lineage"))
                .groupBy("sink").agg(F.sum("n_rows").alias("n")).collect()
            )
            committed = {r["sink"]: r["n"] for r in lineage}
            for sink, s in got.items():
                if committed.get(sink, 0) != s["rows"]:
                    problems.append(
                        f"{sink}: lineage has {committed.get(sink, 0)} rows, "
                        f"sink has {s['rows']}"
                    )
        return got, problems


def parse_counts(spark, input_path: str) -> dict[str, int]:
    """Rows in each parse_stage output, with the pipeline's masks, counted
    in one Spark job."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from cernan_spark.plans.pipeline import parse_stage
    from cernan_spark.sources.dimensions import default_histogram_masks

    parsed = parse_stage(
        spark.read.parquet(input_path), masks=default_histogram_masks(spark)
    )
    labels = [parsed[k].select(F.lit(k).alias("out")) for k in ("telemetry", "logs", "bad")]
    rows = reduce(DataFrame.unionByName, labels).groupBy("out").count().collect()
    got = {r["out"]: r["count"] for r in rows}
    return {k: got.get(k, 0) for k in ("telemetry", "logs", "bad")}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


class Runner:
    def __init__(self, args, work: str) -> None:
        from perfbench.workloads import WORKLOADS

        self.args, self.work = args, work
        self.wl = WORKLOADS[args.workload]
        self.cpus = cpu_count()
        self.attempted = self.failed = 0
        self.n_run = 0
        self.spark = None
        self.parse_checked = False

    def prepare(self) -> None:
        """Generate the input; nothing here is timed."""
        from perfbench.check import EXPECTED_PATH, load_expected
        from perfbench.workloads import input_seed, write_input

        seed = input_seed(self.args.seed)
        self.expected = load_expected(self.cpus, self.wl.name, seed)
        if self.expected is None:
            raise RuntimeError(
                f"no outputs recorded in {EXPECTED_PATH} for {self.cpus} cores, "
                f"{self.wl.name}, input seed {seed}; see perfbench/record_expected.py"
            )
        self.input_path = os.path.join(self.work, "input")
        self.input = write_input(self.wl, seed, self.input_path, self.cpus)

    def sample(self, tracer=None) -> dict | None:
        """One spark-submit's worth of work: start a fresh session (JVM
        included) and register the input (timed as set-up), run one timed
        job, then stop the session. Returns None if the job failed."""
        from perfbench.store import SparkStatus

        t0 = time.perf_counter()
        self.spark = start_spark(self.cpus, self.work)
        self.spark.read.parquet(self.input_path)
        setup_s = time.perf_counter() - t0
        try:
            self.job = Job(self.spark, self.wl.job, self.input_path)
            self.status = SparkStatus(self.spark)
            got = self.run_job(tracer)
            if got is None:
                return None
            if tracer:
                got["layers"].update(self.probe_layers(tracer))
        finally:
            stop_spark(self.spark)
            self.spark = None
        return {"setup_s": setup_s, **got}

    def run_job(self, tracer=None) -> dict | None:
        """Run, time and check one job. Returns its wall seconds, the JVM's
        peak memory when its outputs were committed and, with a tracer, the
        job's layer metrics; None if it failed."""
        self.n_run += 1
        run_id = f"run{self.n_run}"
        run_dir = os.path.join(self.work, run_id)
        self.attempted += 1
        layers = None
        try:
            mark, gc0 = (self.status.mark(), self.status.gc_s()) if tracer else (None, 0.0)
            t0, w0 = time.perf_counter(), time.time()
            out = self.job.build()
            w1 = time.time()
            paths = self.job.write(out, run_dir)
            dt, w2 = time.perf_counter() - t0, time.time()
            # read before the output checks start Spark jobs
            rss = vm_hwm_mb(self.status.jvm_pid())
            if tracer:
                win, gc_s = self.status.since(mark), self.status.gc_s() - gc0
            got, problems = self.job.check(paths, run_dir)
            if tracer:
                layers = self.trace_job(tracer, win, gc_s, (w0, w1, w2), run_dir, run_id, got)
        except Exception:  # noqa: BLE001 — a failed job is counted, not fatal
            traceback.print_exc()
            got, problems = None, ["exception"]
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        if got is not None:
            problems += self.compare_outputs(got)
        if problems:
            for p in problems:
                print(f"CHECK FAILED ({run_id}): {p}", file=sys.stderr)
            self.failed += 1
            if self.failed > MAX_FAILURES:
                raise RuntimeError("jobs keep failing; see the errors above")
            return None
        return {"job_s": dt, "peak_rss_mb": rss, "layers": layers}

    def compare_outputs(self, got: dict) -> list[str]:
        """Compare a job's outputs with the recorded ones; the first job
        also checks the parse layer's per-class counts against the
        generator's."""
        from perfbench.check import compare
        from perfbench.workloads import expected_parse_counts

        problems = compare(got, self.expected)
        if not self.parse_checked:
            self.parse_checked = True
            self.parse_counts = parse_counts(self.spark, self.input_path)
            want = expected_parse_counts(self.input["line_counts"])
            if self.parse_counts != want:
                problems.append(f"parse counts {self.parse_counts} != generated {want}")
        return problems

    def trace_job(self, tracer, win, gc_s, walls, run_dir, run_id, got) -> dict:
        """Spans and per-layer metrics of the job that just ran, from what
        Spark's status stores recorded during it (``win``)."""
        from perfbench.spans import SINKS, attribute, covered
        from perfbench.workloads import dir_bytes

        w0, w1, w2 = walls
        root = tracer.add("job", "job", w0, w2, None, run_id)
        build = tracer.add("run_pipeline", "session", w0, w1, root.id, run_id)
        write = tracer.add(
            "write_sinks" if self.wl.job == "ship" else "write_aggregates",
            "sinks", w1, w2, root.id, run_id,
        )
        out_dir = os.path.join(run_dir, "sinks")
        lineage_dir = os.path.join(run_dir, "lineage") if self.wl.job == "ship" else None
        per_sink = dict.fromkeys(SINKS, 0.0)
        bookkeeping = 0.0
        for e in win.executions:
            if e.start < w1:
                tracer.add(f"build.{e.id}", "session", e.start, e.end, build.id, run_id)
                continue
            layer, sink, what = attribute(e.plan, e.description, out_dir, lineage_dir)
            tracer.add(f"{sink or layer}.{what}", layer, e.start, e.end, write.id, run_id)
            if sink is not None:
                per_sink[sink] += e.end - e.start
            if layer == "checkpoint":
                bookkeeping += e.end - e.start
        wall = w2 - w0
        m = {
            "sources.rows_scanned": win.input_records,
            "sources.scan_amplification": win.input_records / self.input["rows"],
            "sinks.s": w2 - w1,
            "checkpoint.bookkeeping_s": bookkeeping,
            "checkpoint.parts_committed": (
                self.spark.read.parquet(lineage_dir).count() if lineage_dir else 0
            ),
            "session.build_jobs": sum(1 for a, _ in win.jobs if a < w1),
            "session.jobs": len(win.jobs),
            "session.tasks": win.tasks,
            "session.driver_only_s": wall - covered(win.jobs, w0, w2),
            "session.shuffle_write_bytes": win.shuffle_write_bytes,
            "session.gc_s": gc_s,
            "session.core_busy_frac": win.task_s / (wall * self.cpus),
        }
        for sink in SINKS:
            path = os.path.join(out_dir, sink)
            m[f"sinks.{sink}.s"] = per_sink[sink]
            m[f"sinks.{sink}.rows"] = got.get(sink, {"rows": 0})["rows"]
            m[f"sinks.{sink}.bytes"] = dir_bytes(path) if os.path.isdir(path) else 0
        return m

    def probe_layers(self, tracer) -> dict:
        """Time each cumulative prefix of the pipeline's stages alone (a
        noop write of a stage run_pipeline or parse_stage returns) and
        count its rows; layer times are prefix differences."""
        from cernan_spark.functions.classify import explode_lines
        from cernan_spark.plans.pipeline import parse_stage, run_pipeline
        from cernan_spark.sources.dimensions import default_histogram_masks
        from perfbench.spans import prefix_differences

        spark = self.spark
        transcripts = spark.read.parquet(self.input_path)
        parsed = parse_stage(transcripts, masks=default_histogram_masks(spark))
        out = run_pipeline(spark, transcripts)
        frames = {
            "scan": transcripts,
            "parse.telemetry": parsed["telemetry"],
            "parse.logs": parsed["logs"],
            "telemetry": out["telemetry"],
            "logs": out["logs"],
            "routed_telemetry": out["routed_telemetry"],
            "routed_logs": out["routed_logs"],
            "aggregates": out["aggregates"],
        }
        prefix_s = {}
        for name, df in frames.items():
            times = []
            for rep in range(PROBE_REPS):
                spark.sparkContext._jvm.System.gc()
                mark = self.status.mark()
                span = tracer.timed(
                    f"probe.{name}", "probe",
                    lambda: df.write.format("noop").mode("overwrite").save(),
                    run_id=f"probe{rep}",
                )
                times.append(span.duration)
            prefix_s[name] = min(times)
        agg_window = self.status.since(mark)  # the last aggregates probe

        m = prefix_differences(prefix_s)
        n = {k: df.count() for k, df in frames.items() if k != "scan"}
        lines_in = explode_lines(transcripts).count()
        pc = self.parse_counts
        groups = out["aggregates"].select("name", "tags_key", "bin", "kind").distinct().count()
        enriched = n["telemetry"] + n["logs"]
        routed = n["routed_telemetry"] + n["routed_logs"]
        m.update({
            "sources.input_rows": self.input["rows"],
            "sources.input_bytes": self.input["bytes"],
            "functions.lines_in": lines_in,
            "functions.telemetry_rows": pc["telemetry"],
            "functions.log_rows": pc["logs"],
            "functions.bad_rows": pc["bad"],
            "functions.useful_frac": (pc["telemetry"] + pc["logs"]) / lines_in,
            "enrich.rows_out": enriched,
            "route.rows_in": enriched,
            "route.rows_out": routed,
            "route.fanout": routed / enriched,
            "route.dropped_rows": out["dropped"].count(),
            "aggregate.groups_out": groups,
            "aggregate.rows_per_group": n["telemetry"] / groups,
            "aggregate.shuffle_bytes": agg_window.shuffle_write_bytes,
            "aggregate.spill_bytes": agg_window.spill_bytes,
        })
        return m

    def measure(self, trace: bool) -> dict:
        """Samples in a closed loop for ``--seconds`` (at least one
        attempt); end-to-end metrics are medians over the good samples. With ``trace``,
        each job is traced and the prefix probes run after it in the same
        session; layer metrics are medians over the samples."""
        from perfbench.spans import Tracer, self_time_by_layer

        tracer = Tracer() if trace else None
        samples = []
        t_end = time.perf_counter() + self.args.seconds
        while self.attempted == 0 or time.perf_counter() < t_end:
            got = self.sample(tracer)
            if got is not None:
                samples.append(got)
        if not samples:
            raise RuntimeError("every job failed; see the errors above")
        self.samples = len(samples)

        def median(key):
            return statistics.median(x[key] for x in samples)

        tps = self.input["rows"] / median("job_s")
        if not trace:
            return {
                "turns_per_s": (tps, "turns/s"),
                "setup_s": (median("setup_s"), "s"),
                "peak_rss_mb": (median("peak_rss_mb"), "MiB"),
            }
        layers = [x["layers"] for x in samples]
        m = {k: statistics.median(r[k] for r in layers) for k in layers[0]}
        m["trace.turns_per_s"] = tps
        path = os.path.join(WORK, f"trace-{self.wl.name}-seed{self.args.seed}.json")
        tracer.dump(path)
        print(f"# spans written to {path}")
        for layer, sec in sorted(self_time_by_layer(tracer.spans).items()):
            print(f"# self time {layer:<12} {sec:10.3f} s")
        units = per_layer_units()
        return {k: (m[k], units[k]) for k in units}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = make_work(f"{args.workload}-seed{args.seed}")
    runner = Runner(args, work)
    try:
        runner.prepare()
        metrics = runner.measure(bool(args.trace))
    finally:
        if runner.spark is not None:
            stop_spark(runner.spark)
        shutil.rmtree(work, ignore_errors=True)

    print(
        f"# workload {args.workload} seed {args.seed} local[{runner.cpus}] "
        f"{runner.input['rows']} turns, {runner.samples} sample(s)"
    )
    for name, (value, unit) in metrics.items():
        print(f"{name:<32} {value:>16.6g} {unit}")
    if not args.trace:
        print(f"{'error_rate':<32} {runner.failed / runner.attempted:>16.6g} fraction")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    if not os.path.isfile(os.path.join(ROOT, "cernan_spark", "__init__.py")):
        print(f"error: no cernan_spark package under {ROOT}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, ROOT)
    sys.exit(main())
