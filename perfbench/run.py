"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload incremental_merge --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A line before it, starting
``perfbench-env``, records the environment, the inputs and every
iteration. With ``--trace 1`` the spans are also written to
``.perfbench_work/trace-<workload>-<seed>.json``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "1g"
GEN_REPEATS = 3
# no iteration starts once the run could pass this many seconds
DEADLINE_S = 150.0

END_TO_END = {
    "setup_s": "s", "first_iter_s": "s", "wall_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB", "write_amp": "ratio", "warehouse_mb": "MB",
}
PER_LAYER = {
    "sources.resolve_s": "s", "sources.calls": "count",
    "models.construct_s": "s", "models.calls": "count",
    "registry.self_s": "s", "registry.models_built": "count",
    "materialize.write_s": "s", "materialize.calls": "count",
    "materialize.bytes_written": "bytes", "materialize.files_written": "count",
    "txlog.commit_s": "s", "txlog.commits": "count",
    "txlog.files_added": "count", "txlog.files_removed": "count",
    "checks.s": "s", "checks.run": "count", "checks.failed": "count",
    "streaming.triggers": "count", "streaming.trigger_s_p50": "s",
    "streaming.trigger_s_max": "s", "streaming.input_rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.driver_gap_s": "s",
    "spark.slot_util": "ratio", "trace.overhead_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Keep every file the run writes inside ``work`` and pin the session
    size; returns the settings for the record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # get_spark's default is 24g, more than many hosts have
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return env


def start_spark(work: str):
    from furchild_spark.engine.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            # the status store must hold every stage of an iteration
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def conf_changes(spark, snapshot: dict) -> dict:
    now = dict(spark.conf.getAll)
    return {k: (snapshot.get(k), now.get(k)) for k in set(now) | set(snapshot)
            if snapshot.get(k) != now.get(k)}


def restore_confs(spark, snapshot: dict) -> None:
    for k, (old, _new) in conf_changes(spark, snapshot).items():
        if old is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, old)


def environment_record(env: dict, spark) -> dict:
    import duckdb
    import pyspark

    from perfbench.probe import foreign_jvms

    return {
        **env,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "cpu_count": os.cpu_count(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "loadavg": os.getloadavg(),
        "foreign_jvms": foreign_jvms(os.getpid()),
    }


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "furchild_spark")):
        print(f"perfbench: no furchild_spark package under {ROOT}; "
              "run from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = pin_environment(work)
        bench = Bench(args, WORKLOADS[args.workload](work, args.seed), started)
        try:
            bench.setup(work)
            result, record = bench.run()
            record["env"] = environment_record(env, bench.spark)
        finally:
            if bench.spark is not None:
                stop_spark(bench.spark)
        if args.trace:
            with open(os.path.join(
                    work_root, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "iterations": bench.iters, "spans": bench.spans}, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-env " + json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


class Bench:
    """Set-up, the iteration loop and the metric summary for one run."""

    def __init__(self, args, workload, started: float):
        self.args = args
        self.wl = workload
        self.started = started
        self.spark = None
        self.iters: list[dict] = []
        self.spans: list[list[dict]] = []
        self.attempted = self.failed = 0

    def setup(self, work: str) -> None:
        """Inputs (generated ``GEN_REPEATS`` times), then the session. The
        oracles need only the inputs, so they run while the JVM starts;
        they are not part of ``setup_s``."""
        from perfbench import probe

        wl = self.wl
        self.gen_s = []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            wl.generate()
            self.gen_s.append(time.perf_counter() - t)
        errors = []

        def oracles():
            try:
                wl.oracles()
            except Exception as e:  # re-raised below, on the main thread
                errors.append(e)

        t = time.perf_counter()
        oracle_thread = threading.Thread(target=oracles)
        oracle_thread.start()
        self.spark = wl.spark = start_spark(work)
        self.session_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.prepare()
        self.prepare_s = time.perf_counter() - t
        oracle_thread.join()
        self.oracle_s = time.perf_counter() - t + self.session_s
        if errors:
            raise errors[0]
        self.cores = self.spark.sparkContext.defaultParallelism
        self.counters = probe.SparkCounters(self.spark)
        self.tracer = probe.Tracer(self.spark.sparkContext) if self.args.trace else None

    def run(self) -> tuple[dict, dict]:
        from perfbench import probe

        setup_s = self.session_s + statistics.median(self.gen_s) + self.prepare_s
        self.confs = dict(self.spark.conf.getAll)
        with probe.ProcSampler() as sampler:
            while not self._done():
                self.iters.append(self._iteration(sampler))
        result = {"correct": self.failed == 0, "attempted": self.attempted,
                  "failed": self.failed, "metrics": self._metrics(setup_s)}
        record = {
            "workload": self.args.workload, "seed": self.args.seed,
            "setup": {"session_s": self.session_s, "generate_s": self.gen_s,
                      "prepare_s": self.prepare_s, "oracles_done_s": self.oracle_s},
            "inputs": {"rows": self.wl.rows, "bytes": self.wl.sizes},
            "iterations": [{k: v for k, v in it.items() if k != "layers_spark"}
                           for it in self.iters],
        }
        return result, record

    def _done(self) -> bool:
        """Cold first, then warm iterations until ``--seconds`` of untraced
        warm time and at least the workload's ``min_warm`` untraced ones.
        A traced run alternates untraced and traced warm iterations,
        starting and ending untraced: the first warm iteration still
        compiles the merge path's code, so a traced iteration is compared
        with untraced ones on both sides of it."""
        if not self.iters:
            return False
        warm = self.iters[1:]
        traced = sum(it["traced"] for it in warm)
        plain = len(warm) - traced
        spent = sum(it["wall_s"] for it in warm if not it["traced"])
        enough = (plain >= max(self.wl.min_warm, 1 + self.args.trace)
                  and traced >= self.args.trace and spent >= self.args.seconds)
        late = (time.perf_counter() - self.started
                + self.iters[-1]["elapsed_s"] > DEADLINE_S)
        # past the deadline, stop as soon as every metric has a value
        return enough or (late and plain >= 1 and traced >= self.args.trace)

    def _iteration(self, sampler) -> dict:
        from perfbench import inputs, probe
        from perfbench.workloads import new_files

        spark, wl, tracer = self.spark, self.wl, self.tracer
        warm = self.iters[1:]
        traced = bool(self.args.trace) and bool(self.iters) and (
            sum(it["traced"] for it in warm) < sum(not it["traced"] for it in warm))
        it = {"warm": bool(self.iters), "traced": traced}
        t_it = time.perf_counter()
        if conf_changes(spark, self.confs):
            raise RuntimeError("session confs changed between iterations")
        wl.reset(first=not self.iters)
        if traced:
            tracer.reset()
            wl.instrument(tracer)
        before = inputs.file_sizes(wl.out_dir())
        job0 = self.counters.last_job_id()
        sampler.reset_peak()
        cpu0, steal0 = sampler.cpu_s(), probe.steal_s()
        e0, p0 = time.time(), time.perf_counter()
        try:
            wl.iterate()
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        it["wall_s"] = time.perf_counter() - p0
        e1 = time.time()
        it["cpu_s"] = sampler.cpu_s() - cpu0
        it["steal_s"] = probe.steal_s() - steal0
        it["peak_rss_mb"] = sampler.peak_rss_mb()
        if traced:
            tracer.unwrap()
        files, written = new_files(before, inputs.file_sizes(wl.out_dir()))
        it["files_written"] = files
        it["write_amp"] = written / wl.input_bytes
        it["warehouse_mb"] = inputs.dir_bytes(wl.out_dir()) / 2**20
        jobs = self.counters.jobs_after(job0)
        it["spark"] = probe.summarize_jobs(jobs, e0, e1, self.cores)
        if traced:
            it["layers_spark"] = tracer.attach_jobs(jobs)
            it["layers"] = wl.layer_metrics(tracer)
            self_t = tracer.self_times()
            for s in tracer.spans:
                s["self_s"] = self_t[s["id"]]
            self.spans.append(tracer.spans)
        leaked = conf_changes(spark, self.confs)
        if leaked:
            it["conf_changes"] = leaked
        n, fails = wl.verify() if ok else (1, ["iteration raised"])
        fails += [f"session conf {k} changed: {v}" for k, v in leaked.items()]
        self.attempted += n + len(leaked)
        self.failed += len(fails)
        it["failures"] = fails
        restore_confs(spark, self.confs)
        it["elapsed_s"] = time.perf_counter() - t_it
        return it

    def _metrics(self, setup_s: float) -> dict:
        cold = self.iters[0]
        warm = [it for it in self.iters[1:] if not it["traced"]]

        def med(key, its=warm):
            return statistics.median(it[key] for it in its)

        if self.args.trace:
            traced = [it for it in self.iters if it["traced"]]
            values = {}
            for name in PER_LAYER:
                layer, _, key = name.partition(".")
                if layer == "spark":
                    values[name] = statistics.median(it["spark"][key] for it in traced)
                else:
                    values[name] = statistics.median(
                        it["layers"].get(name, 0) for it in traced)
            values["trace.overhead_s"] = med("wall_s", traced) - med("wall_s")
            units = PER_LAYER
        else:
            values = {
                "setup_s": setup_s,
                "first_iter_s": cold["wall_s"],
                "wall_s": med("wall_s"),
                "cpu_s": med("cpu_s"),
                "peak_rss_mb": med("peak_rss_mb"),
                "write_amp": med("write_amp"),
                "warehouse_mb": med("warehouse_mb"),
            }
            units = END_TO_END
        return {k: {"value": values[k], "unit": u} for k, u in units.items()}


if __name__ == "__main__":
    sys.exit(main())
