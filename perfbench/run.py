"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload spans_raw --seed 1 --seconds 5 \
        --trace 0

Single driver process, closed loop: a `local[<nproc>]` session runs one
Spark action at a time. A run starts the session cold, collects a first
pass and checks it against the single-process oracle, runs one untimed
warm-up pass, then times full materializations (`write.format("noop")`)
until --seconds have passed (at least MIN_PASSES). With
--trace 1 a second session on the same JVM, with Spark's event log on,
repeats the checked and timed passes, and the page kernel is timed in
this process; the result then carries the per-layer metrics instead of
the end-to-end ones, which are listed in BENCHMARK.json.

The last stdout line is {"correct", "attempted", "failed", "metrics"}; the
line before it stamps the host, versions and input sizes. Everything the
run writes stays under .bench_build/perfbench in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "org_dharts_dia_tesseract_spark"
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

# The end-to-end and per-layer metrics, with their units, are those of
# BENCHMARK.json. A layer a workload does not exercise reads 0 (oracle.*,
# codecs.* and extract.* on curation_text, curation.* on spans_raw).
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")

# Every run times at least this many passes; its figures are the medians.
MIN_PASSES = 1
DRIVER_MEMORY = "2g"


class Run:
    """State of one benchmark invocation."""

    def __init__(self, workload, seconds: float, trace: bool, run_dir: str):
        from perfbench.probes import Tracer
        self.w, self.seconds, self.trace = workload, seconds, trace
        self.run_dir = run_dir
        self.tracer = Tracer(trace)
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.dead_letters: list[int] = []
        self.action_log: list[dict] = []   # action bounds, for the event log
        self.warm = False                  # a noop pass has run in this JVM

    # -- sessions ---------------------------------------------------------

    def conf(self, event_log: bool) -> dict[str, str]:
        tmp = os.path.join(self.run_dir, "tmp")
        c = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir,
                                                    "warehouse"),
            # fixed JIT compiler threads: a thread the JVM retired during
            # a pass would take its compile CPU out of reach of jit_cpu
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads",
            # explicit both ways: the session builder keeps earlier options
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            c.update({
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return c

    @property
    def event_dir(self) -> str:
        return os.path.join(self.run_dir, "eventlog")

    def session(self, event_log: bool = False):
        from org_dharts_dia_tesseract_spark.session import get_spark
        spark = get_spark(master=self.master, app_name="perfbench",
                          extra_conf=self.conf(event_log))
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    # -- passes -----------------------------------------------------------

    def _action(self, spark, name, build, checked: bool, group: str):
        """Run one action; return its wall seconds, or None if it failed."""
        units = self.w.units()
        self.attempted += units
        spark.sparkContext.setJobGroup(group, name)
        t0, e0 = time.perf_counter(), time.time()
        try:
            with self.tracer.span(f"action.{name}", group=group):
                df = build(spark)
                if checked:
                    pdf = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception:   # noqa: BLE001 — a raised action is a failure
            traceback.print_exc(file=sys.stderr)
            self.failed += units
            self.problems.append(f"{name} raised")
            return None
        wall = time.perf_counter() - t0
        self.action_log.append({"group": group, "start_ms": e0 * 1000.0,
                                "end_ms": time.time() * 1000.0})
        if checked:
            ok, dead = self.w.check(name, pdf)
            self.dead_letters.append(dead)
            if not ok:
                self.failed += units
                self.problems.append(f"{name} output differs from oracle")
        return wall

    def pass_(self, spark, checked: bool, tag: str):
        """All actions once, in order; {name: wall_s} or None on failure."""
        walls = {}
        with self.tracer.span(f"pass.{tag}"):
            for i, (name, build) in enumerate(self.w.actions()):
                wall = self._action(spark, name, build, checked,
                                    f"{tag}.{i}")
                if wall is None:
                    return None
                walls[name] = wall
        return walls

    def timed(self, spark, tag: str):
        """Timed passes until --seconds have elapsed and at least
        MIN_PASSES have run. Returns one record per pass (the actions'
        wall seconds, the pass's wall, core and CPU seconds) and the peak
        worker RSS.

        The first call in a JVM runs one untimed noop pass first: the
        checked pass before it collects, so the noop plans' generated code
        is compiled here, and the JVM compiles much of its hot code too."""
        from perfbench.probes import (RssSampler, core_s_between, cpu_times,
                                      jit_between, jit_cpu, tree_cpu_total)
        self.problems.extend(self.w.plan_problems(spark))
        if not self.warm and self.pass_(spark, False, f"{tag}warm") is None:
            return [], 0
        self.warm = True
        pid = os.getpid()
        passes = []
        with RssSampler() as rss:
            t0 = time.perf_counter()
            while (len(passes) < MIN_PASSES
                   or time.perf_counter() - t0 < self.seconds):
                host0, jit0 = cpu_times(), jit_cpu(pid)
                tree0, w0 = tree_cpu_total(pid), time.perf_counter()
                walls = self.pass_(spark, False, f"{tag}{len(passes)}")
                if walls is None:
                    break
                wall = time.perf_counter() - w0
                cpu = tree_cpu_total(pid) - tree0
                passes.append({
                    "actions": walls, "wall_s": wall,
                    "core_s": core_s_between(host0, cpu_times()),
                    "cpu_s": cpu - jit_between(jit0, jit_cpu(pid))})
        return passes, rss.peak

    def setup(self):
        """Cold set-up: a session plus its checked first pass. Returns the
        session, the session start and first-pass wall seconds, and whether
        the pass ran."""
        t = time.perf_counter()
        with self.tracer.span("setup"):
            spark = self.session()
            start_s = time.perf_counter() - t
            walls = self.pass_(spark, True, "setup")
        warmup_s = time.perf_counter() - t - start_s
        return spark, start_s, warmup_s, walls is not None

    # -- per-layer ------------------------------------------------------------

    def traced_layers(self, spark) -> tuple[dict, float]:
        """Traced session: checked pass, timed passes, one scan action;
        then the event log is read and the kernel timed in-process.
        Returns the per-layer metrics and the timed passes'
        docs_per_cpu_s."""
        from perfbench import eventlog, layers
        self.action_log.clear()
        n_dead = len(self.dead_letters)
        if self.pass_(spark, True, "tsetup") is None:
            return {}, 0.0
        passes, _ = self.timed(spark, "t")
        for i, (name, build) in enumerate(self.w.scan_actions()):
            self._action(spark, name, build, False, f"scan.{i}")
        spark.stop()
        logs = [os.path.join(self.event_dir, f)
                for f in os.listdir(self.event_dir)]
        log = eventlog.read(max(logs, key=os.path.getmtime))
        summaries = {a["group"]: eventlog.action_summary(
            log, a["group"], a["start_ms"], a["end_ms"])
            for a in self.action_log}

        m: dict[str, float] = {}
        scans = [summaries[a["group"]] for a in self.action_log
                 if a["group"].startswith("scan.")]
        m["sources.scan.task_s"] = sum(s["all"]["task_s"] for s in scans)
        m["sources.scan.bytes_read"] = sum(s["files_read_bytes"]
                                           for s in scans)
        timed = [[summaries[a["group"]] for a in self.action_log
                  if a["group"].startswith(f"t{p}.")]
                 for p in range(len(passes))]

        def med(fn):
            return statistics.median(fn(p) for p in timed) if timed else 0.0

        for key in ("plan_s", "gap_s", "tail_s", "jobs", "stages"):
            m[f"driver.{key}"] = med(lambda p: sum(s[key] for s in p))
        if self.w.name == "spans_raw":
            def udf(p, key):
                return p[0]["kinds"].get("udf", {}).get(key, 0.0)
            for key in ("task_s", "wall_s", "tasks", "task_skew", "gc_s",
                        "deser_s"):
                m[f"extract.udf_stage.{key}"] = med(
                    lambda p: udf(p, key))
            for key in ("start", "init", "run"):
                m[f"extract.udf_stage.python_{key}_s"] = med(
                    lambda p: udf(p, f"python_{key}_ms") / 1000.0)
            m["extract.window.task_s"] = med(
                lambda p: p[0]["kinds"].get("window", {}).get("task_s", 0.0))
            m["extract.window.shuffle_write_bytes"] = med(
                lambda p: p[0]["all"]["shuffle_write_bytes"])
            m["extract.dead_letter_pages"] = float(
                sum(self.dead_letters[n_dead:]))
            with self.tracer.span("layers.kernel"):
                kernel, kernel_s = layers.kernel(self.w.media_rows,
                                                 self.tracer)
            with self.tracer.span("layers.codecs"):
                m.update(layers.codecs(self.w.media_rows, self.tracer))
            m.update(kernel)
            m["extract.udf_overhead_s"] = \
                m["extract.udf_stage.task_s"] - kernel_s
        else:
            m["curation.task_s"] = med(
                lambda p: sum(s["all"]["task_s"] for s in p))
            m["curation.shuffle_bytes"] = med(
                lambda p: sum(s["all"]["shuffle_write_bytes"] for s in p))
            for name, _ in self.w.actions():
                m[f"curation.{name}.s"] = statistics.median(
                    p["actions"][name] for p in passes) if passes else 0.0
        return m, per_pass(self.w.docs, passes, "cpu_s")


def per_pass(docs: int, passes: list[dict], key: str) -> float:
    """Documents per second of the median pass, in the pass's wall, core
    or CPU seconds (key); 0 without passes."""
    return docs / statistics.median(p[key] for p in passes) \
        if passes else 0.0


def stamp(run: Run, spark, seed: int, prep: dict) -> dict:
    import platform

    import pyspark
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": run.w.name, "seed": seed, "seconds": run.seconds,
        "trace": int(run.trace), "nproc": run.nproc, "master": run.master,
        "driver_memory": DRIVER_MEMORY,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "git_commit": commit, "sizes": run.w.sizes, **prep,
    }


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:   # noqa: BLE001 — already gone
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    with open(SPEC_PATH, encoding="utf-8") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: the program ({PACKAGE}/) is not in {ROOT}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    cache_dir = os.path.join(WORK, "cache")
    results_dir = os.path.join(WORK, "results")
    for d in (cache_dir, results_dir, *(os.path.join(run_dir, sub) for sub
              in ("data", "tmp", "local", "eventlog"))):
        os.makedirs(d, exist_ok=True)
    # Python temp files and Spark's local dirs go to the run directory;
    # set before anything imported can cache the system default
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")

    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, code_hash
    try:
        return measure(args, WORKLOADS[args.workload](
            args.seed, os.path.join(run_dir, "data"), cache_dir,
            code_hash(ROOT)), run_dir, results_dir, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, workload, run_dir: str, results_dir: str,
            spec: dict) -> int:
    from perfbench.probes import (cpu_times, jit_cpu, steal_frac,
                                  tree_cpu_total)
    host0 = cpu_times()
    run = Run(workload, args.seconds, bool(args.trace), run_dir)
    t_prep, c_prep = time.perf_counter(), time.process_time()
    prep = workload.prepare()
    prep_s = time.perf_counter() - t_prep
    prep_cpu_s = time.process_time() - c_prep
    host_prep = cpu_times()
    spark = None
    try:
        spark, start_s, warmup_s, ok = run.setup()
        # set-up: process start to the end of the checked first pass, less
        # input generation and oracle work
        setup_wall_s = time.perf_counter() - T_PROCESS - prep_s
        setup_cpu_s = tree_cpu_total(os.getpid()) - prep_cpu_s
        setup_jit_s = sum(jit_cpu(os.getpid()).values())
        setup_steal = steal_frac(host_prep, cpu_times())
        info = stamp(run, spark, args.seed, prep)
        passes, rss_peak = [], 0
        if ok:
            passes, rss_peak = run.timed(spark, "p")
        if args.trace:
            # the traced session repeats the checked and timed passes on
            # the same JVM, after the untraced ones
            spark.stop()
            spark = run.session(event_log=True)
            layer, traced = run.traced_layers(spark)
            untraced = per_pass(workload.docs, passes, "cpu_s")
            layer["trace.overhead_frac"] = \
                untraced / traced - 1.0 if traced else 0.0
            layer["session.start_s"] = start_s
            layer["session.warmup_s"] = warmup_s
            metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                                   "unit": m["unit"]}
                       for m in spec["per_layer"]}
        else:
            values = {"docs_per_cpu_s": per_pass(workload.docs, passes,
                                                 "cpu_s"),
                      "setup_s": setup_cpu_s,
                      "worker_rss_peak_mb": rss_peak / 2**20}
            metrics = {m["name"]: {"value": values[m["name"]],
                                   "unit": m["unit"]}
                       for m in spec["end_to_end"]}
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()

    info.update({
        "session_start_s": start_s, "first_pass_s": warmup_s,
        "setup_wall_s": setup_wall_s, "setup_steal_frac": setup_steal,
        "setup_cpu_s": setup_cpu_s, "setup_jit_cpu_s": setup_jit_s,
        **{f"docs_per_{k}_s": per_pass(workload.docs, passes, f"{k}_s")
           for k in ("wall", "core", "cpu")},
        "timed_passes": [{k: v for k, v in p.items() if k != "actions"}
                         for p in passes],
        "failed_frac": run.failed / max(run.attempted, 1),
        "host_steal_frac": steal_frac(host0, cpu_times()),
        "problems": run.problems})
    result = {"correct": not run.problems and run.failed == 0,
              "attempted": run.attempted, "failed": run.failed,
              "metrics": metrics}
    base = os.path.join(results_dir, f"{workload.name}-seed{args.seed}"
                        f"-trace{args.trace}")
    with open(base + ".json", "w", encoding="utf-8") as f:
        json.dump({"stamp": info, "result": result}, f, indent=1)
    if args.trace:
        run.tracer.dump(base + "-spans.json")
    print(json.dumps({"stamp": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
