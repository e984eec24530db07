#!/usr/bin/env python3
"""Job-shaped extraction benchmark.

    python3 perfbench/run.py --workload corpus_doc --seed 1 --seconds 2 --trace 0

Run from the root of a checkout. The run builds the package zip from
source, starts one driver at local[<cores available>], stages the
workload's seeded input, and then submits the workload's job back to
back (closed loop, one client) for ``--seconds`` seconds of job time.
Every job writes into a fresh output root and is checked before the
next one starts: the untimed first job against the staged truth, every
later job against the first job's lineage checksums. Any failed check
exits 3 without printing a result.

With ``--trace 0`` the last stdout line is the JSON result with the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
from a traced pass (Spark event log + in-driver kernel timings). See
perfbench/README.md for every metric's definition.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("corpus_doc", "skew_span", "pdf_native")
SETUPS = 3        # set-ups per run, the cold start included; setup_s is their median
MAX_LOOP_S = 60   # hard stop for the timed loop (the run must end < 180 s)
CORES = len(os.sched_getaffinity(0))


def build_package() -> str:
    """Build the ``--py-files`` zip from source with the repo's own
    ``package.build``, so the Python workers never depend on the cwd."""
    import package

    return package.build(os.path.join(WORK, "pkg", "donut_spark.zip"))


def session_conf(event_log: str | None) -> dict:
    """Placement-only settings: keep every byte Spark writes inside the
    checkout. Engine tuning stays exactly ``ENGINE_CONF``."""
    conf = {
        "spark.local.dir": os.path.join(WORK, "local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def forget_java_udfs() -> None:
    """PySpark caches each UDF's Java handle on first use, and that
    handle pins the SparkContext it was built in (its Python accumulator
    server dies with the context). Drop the cached handles of the
    package's module-level UDFs so a restarted context builds its own."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("donut_spark") and mod is not None:
            for obj in vars(mod).values():
                udf = getattr(obj, "_unwrapped", None)
                if hasattr(udf, "_judf_placeholder"):
                    udf._judf_placeholder = None


def start_session(pkg: str, event_log: str | None = None):
    from donut_spark.sources.session import get_spark

    forget_java_udfs()
    spark = get_spark(cores=CORES, app_name="perfbench", **session_conf(event_log))
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(pkg)
    return spark


class Bench:
    def __init__(self, workload: str, seed: int):
        self.workload = workload
        self.seed = seed
        self.pkg = build_package()
        self.spark = None
        self.staged = None
        self.setups = []   # seconds: the cold start, then in-process restarts
        self.jobs = []     # per timed job: wall, check figures, bytes written
        self.outputs = []  # (lineage_xor, committed) of every job, warm-up included
        self.job_no = 0
        self.checked = None  # the fully checked job

    # -- set-up ---------------------------------------------------------

    def cold_start(self) -> None:
        """Process start to session ready and Python worker pool warm:
        the first set-up, and the only one that launches the JVM."""
        from workloads import warm

        self.spark = start_session(self.pkg)
        warm(self.spark)
        self.setups.append(time.perf_counter() - T_PROCESS)

    def stage(self) -> None:
        from workloads import stage

        self.staged = stage(
            self.spark, self.workload, self.seed, os.path.join(WORK, "in", self.workload)
        )

    def restart(self, event_log: str | None = None) -> float:
        """Stop the SparkContext and set up again: new session, package
        shipped, Python worker pool warm. Returns the set-up seconds."""
        from workloads import warm

        self.spark.stop()
        t0 = time.perf_counter()
        self.spark = start_session(self.pkg, event_log)
        self.session_s = time.perf_counter() - t0
        warm(self.spark)
        return time.perf_counter() - t0

    # -- jobs -----------------------------------------------------------

    def job(self, full: bool = False) -> dict:
        """One job into a fresh output root, then the leak audit and the
        output check. Returns wall seconds and the check figures."""
        from donut_spark.plans.cache import persistent_rdd_ids
        from workloads import CheckFailed, check, dir_bytes, dir_files, run_job

        out = os.path.join(WORK, "out", f"job{self.job_no}")
        self.job_no += 1
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        run_job(self.spark, self.staged, out)
        wall = time.perf_counter() - t0
        residual = len(persistent_rdd_ids(self.spark.sparkContext))
        if residual:
            raise CheckFailed(f"{residual} persisted RDDs left after the job")
        t_check = time.perf_counter()
        res = check(self.spark, self.staged, out, full)
        print(f"# job {wall:.3f} s, check {time.perf_counter() - t_check:.3f} s", file=sys.stderr)
        res.update(
            wall=wall,
            residual_rdds=residual,
            bytes_written=dir_bytes(out),
            files_written=dir_files(out),
            commit_markers=dir_files(os.path.join(out, "_commits")),
        )
        shutil.rmtree(out, ignore_errors=True)
        self.outputs.append((res["lineage_xor"], res["committed"]))
        if len(set(self.outputs)) != 1:
            raise CheckFailed(
                f"lineage XOR / committed count differ between runs of one seed: {self.outputs}"
            )
        return res

    def timed_loop(self, seconds: float) -> None:
        """Jobs back to back until their walls add up to ``seconds``.
        Each must reproduce the fully checked first job's lineage XOR
        and committed count."""
        t_loop = time.perf_counter()
        while (
            sum(j["wall"] for j in self.jobs) < seconds
            and time.perf_counter() - t_loop < MAX_LOOP_S
        ):
            self.jobs.append(self.job())

    # -- results --------------------------------------------------------

    def end_to_end(self) -> dict:
        st = self.staged
        rates = [j["committed"] / j["wall"] for j in self.jobs]
        checked = self.checked
        med = statistics.median(rates)
        smed = statistics.median(self.setups)
        print(
            f"# {self.workload} seed={self.seed} cores={CORES} docs={st.attempted} "
            f"poison={len(st.poison)} input_bytes={st.input_bytes}"
        )
        print(
            f"# docs_per_s median={med:.1f} n={len(rates)} jobs "
            f"(job wall s: {' '.join('%.3f' % j['wall'] for j in self.jobs)})"
        )
        print(
            f"# setup_s median={smed:.3f} n={len(self.setups)} (cold start "
            f"{self.setups[0]:.3f} s, restarts "
            f"{' '.join('%.3f' % s for s in self.setups[1:])} s)"
        )
        return {
            "docs_per_s": (med, "docs/s"),
            "setup_s": (smed, "s"),
            "exact_match_rate": (checked["exact_match_rate"], "ratio"),
            "roundtrip_rate": (checked["roundtrip_rate"], "ratio"),
            "nted_mean": (checked["nted_mean"], "ratio"),
            "failed_frac": (checked["failed"] / st.attempted, "ratio"),
            "write_amp": (
                statistics.median(j["bytes_written"] for j in self.jobs) / st.input_bytes,
                "bytes/byte",
            ),
        }

    def traced(self, untraced_wall: float) -> dict:
        """One traced pass: noop scan, extraction with a noop sink, and
        the full job, each under its own job group in the event log."""
        import layers
        from pyspark.sql import functions as F
        from workloads import extraction

        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        self.restart(event_log=log_dir)
        session_s = self.session_s
        sc = self.spark.sparkContext
        inp = self.staged.input_path

        sc.setJobGroup("scan", "noop scan of the input")
        t0 = time.perf_counter()
        self.spark.read.parquet(inp).write.format("noop").mode("overwrite").save()
        scan_s = time.perf_counter() - t0

        sc.setJobGroup("extract", "extraction with a noop sink")
        t0 = time.perf_counter()
        extraction(self.workload)(self.spark.read.parquet(inp)).write.format(
            "noop"
        ).mode("overwrite").save()
        extract_s = time.perf_counter() - t0

        sc.setJobGroup("job", "the full job")
        res = self.job(full=True)
        sc.setJobGroup("check", "driver-side reads")

        docs = self.spark.read.parquet(inp)
        if self.staged.truth_path:
            docs = docs.join(self.spark.read.parquet(self.staged.truth_path), "doc_id")
        rows = [
            r.asDict()
            for r in docs.filter(~F.col("doc_id").isin(sorted(self.staged.poison)))
            .orderBy("doc_id")
            .limit(200)
            .collect()
        ]
        kernels = layers.kernel_timings(self.workload, rows)
        batch_rows = int(
            self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        )
        self.spark.stop()
        self.spark = None
        events = layers.read_event_log(log_dir)
        groups = layers.group_stats(events, batch_rows)
        scan, ext, job = groups["scan"], groups["extract"], groups["job"]
        writes = layers.write_seconds(events, "job")
        n = self.staged.attempted
        m = {
            "sources.scan_s": (scan_s, "s"),
            "sources.scan_tasks": (scan["tasks"], "count"),
            "session.start_s": (session_s, "s"),
            "udfs.python_run_s": (job["python_run_ms"] / 1e3, "s"),
            "udfs.python_start_s": (job["python_start_ms"] / 1e3, "s"),
            "udfs.python_init_s": (job["python_init_ms"] / 1e3, "s"),
            "udfs.bytes_to_python_per_doc": (job["bytes_to_python"] / n, "bytes"),
            "udfs.bytes_from_python_per_doc": (job["bytes_from_python"] / n, "bytes"),
            "udfs.batches": (job["batches"], "count"),
            **{k: (v, "us") for k, v in kernels.items()},
            "extract.s": (extract_s, "s"),
            "extract.shuffle_write_bytes": (ext["shuffle_write_bytes"], "bytes"),
            "extract.shuffle_read_bytes": (ext["shuffle_read_bytes"], "bytes"),
            "extract.spill_bytes": (ext["spill_bytes"], "bytes"),
            "skew.task_max_over_median": (ext["udf_task_max_over_median"], "ratio"),
            "sink.s": (res["wall"] - extract_s, "s"),
            "sink.files_written": (res["files_written"], "count"),
            "sink.bytes_written": (res["bytes_written"], "bytes"),
            "checkpoint.commit_markers": (res["commit_markers"], "count"),
            "lineage.s": (writes["lineage"], "s"),
            "lineage.quarantine_rows": (res["quarantine"], "count"),
            "cache.residual_rdds": (res["residual_rdds"], "count"),
            "spark.gc_s": (job["gc_ms"] / 1e3, "s"),
            "spark.executor_run_s": (job["run_ms"] / 1e3, "s"),
            "spark.executor_cpu_s": (job["cpu_ns"] / 1e9, "s"),
            "spark.stages": (job["stages"], "count"),
            "spark.tasks": (job["tasks"], "count"),
            "spark.task_max_over_median": (job["task_max_over_median"], "ratio"),
            "trace.overhead_s": (res["wall"] - untraced_wall, "s"),
        }
        print(
            f"# traced {self.workload}: job wall {res['wall']:.3f} s vs untraced "
            f"{untraced_wall:.3f} s; extraction noop {extract_s:.3f} s; writes {dict(writes)}"
        )
        return m

    def stop(self) -> None:
        """Stop Spark, then end the JVM and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    shutil.rmtree(os.path.join(WORK, "out"), ignore_errors=True)
    # every temporary byte Spark and the Python workers write stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    try:
        bench = Bench(args.workload, args.seed)
        import workloads
    except ImportError as exc:
        print(f"perfbench: cannot build the program: {exc}", file=sys.stderr)
        return 2

    try:
        bench.cold_start()
        t0 = time.perf_counter()
        bench.stage()
        print(f"# staged in {time.perf_counter() - t0:.1f} s (not measured)", file=sys.stderr)
        if args.trace:
            bench.job()
            untraced = bench.job()["wall"]
            metrics = bench.traced(untraced)
        else:
            # an untimed first job warms the JVM's scan, extraction and
            # sink paths; its output gets the full check
            bench.checked = bench.job(full=True)
            bench.timed_loop(args.seconds)
            for _ in range(SETUPS - 1):
                bench.setups.append(bench.restart())
            metrics = bench.end_to_end()
    except workloads.CheckFailed as exc:
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
        return 3
    finally:
        bench.stop()

    result = {
        "correct": True,
        "attempted": len(bench.outputs),  # jobs run, each checked
        "failed": 0,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
