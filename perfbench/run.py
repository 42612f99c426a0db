"""bloomjoin_spark benchmark: one closed-loop client on ``local[nproc]``.

One run::

    python3 perfbench/run.py --workload join_prefilter --seed 1 --seconds 6 --trace 0

builds the workload's seeded inputs three times (the median of their
CPU seconds is ``setup_s``), makes two untimed warm-up passes over the
workload's calls, then timed passes until ``--seconds`` have passed (at
least three), and finally checks every call's output against oracles
computed with plain Spark.  The last stdout line is the JSON result: the end-to-end metrics
of ``BENCHMARK.json`` with ``--trace 0``, the per-layer ones with
``--trace 1`` (whose timed passes alternate traced and untraced, so the
tracing overhead is measured in one window).  Every per-call sample,
the environment stamp and the spans go to ``.perfbench_out/``.

Two more modes::

    python3 perfbench/run.py --stability 5 --seconds 6 [--workload W]
    python3 perfbench/run.py --compare OLD.json NEW.json

``--stability N`` runs two sets of N runs of this checkout and reports,
per end-to-end metric, each set's median and quartiles and whether the
sets agree within the bounds.  ``--compare`` diffs two saved results
and refuses when their environment stamps differ.
"""

from __future__ import annotations

import os
import sys

#: glibc reads these at process start; the run re-executes itself once so
#: the driver, the JVM and the Python workers all run with them
MALLOC_ENV = {
    "MALLOC_ARENA_MAX": "4",
    "MALLOC_MMAP_THRESHOLD_": "536870912",
    "MALLOC_TRIM_THRESHOLD_": "536870912",
}

if __name__ == "__main__" and any(os.environ.get(k) != v for k, v in MALLOC_ENV.items()):
    os.environ.update(MALLOC_ENV)
    os.execv(sys.executable, [sys.executable] + sys.argv)

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SETUP_REPEATS = 3
#: timed passes a run makes at least, whatever --seconds says
MIN_PASSES = 3
#: untimed passes before them; one leaves the JIT still warming
WARMUP_PASSES = 2
DRIVER_HEAP = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# process tree: RSS sampling and shutdown
# ---------------------------------------------------------------------------

def _proc_table(cpu: dict[int, float] | None = None
                ) -> tuple[dict[int, list[int]], dict[int, int]]:
    """``(children by parent pid, RSS bytes by pid)``; fills ``cpu``, if
    given, with each process's user + system CPU seconds."""
    page = os.sysconf("SC_PAGE_SIZE")
    tick = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read().decode("latin1")
        except OSError:
            continue
        fields = data[data.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        rss[int(name)] = int(fields[21]) * page
        if cpu is not None:
            cpu[int(name)] = (int(fields[11]) + int(fields[12])) / tick
    return children, rss


def descendants(pid: int) -> list[int]:
    children, _ = _proc_table()
    out, stack = [], list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def _jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JIT compiler threads of ``pid`` (0 if it is not
    a JVM)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                data = f.read().decode("latin1")
        except OSError:
            continue
        if data[data.index("(") + 1:].startswith(("C1 CompilerThre", "C2 CompilerThre")):
            fields = data[data.rindex(")") + 2:].split()
            total += (int(fields[11]) + int(fields[12])) / tick
    return total


def tree_cpu_s() -> tuple[float, float]:
    """``(all, JIT)`` user + system CPU seconds of this process, its live
    descendants (the JVM and the Python workers) and the children it has
    reaped; JIT is the part the JVM's compiler threads spent."""
    cpu: dict[int, float] = {}
    children, _ = _proc_table(cpu)
    total, jit, stack = 0.0, 0.0, [os.getpid()]
    while stack:
        p = stack.pop()
        total += cpu.get(p, 0.0)
        if p != os.getpid():
            jit += _jit_cpu_s(p)
        stack.extend(children.get(p, []))
    t = os.times()
    return total + t.children_user + t.children_system, jit


def host_cpu() -> list[int]:
    """The machine's CPU time counters (``/proc/stat``), in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to others."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _is_jvm_spawn(pid: int) -> bool:
    """A process the JVM is spawning to run a command (Hadoop's shell
    calls).  Until it execs it shares the JVM's address space, so its RSS
    repeats the JVM's."""
    try:
        exe = os.readlink(f"/proc/{pid}/exe")
    except OSError:  # already gone
        return True
    return os.path.basename(exe) in ("java", "jspawnhelper")


class RssSampler:
    """Peak RSS of this process and all its descendants (the JVM and the
    Python workers), sampled every ``interval`` seconds while running."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        children, rss = _proc_table()
        root = os.getpid()
        total, stack = 0, [(root, root)]
        while stack:
            p, parent = stack.pop()
            if parent != root and _is_jvm_spawn(p):
                continue
            total += rss.get(p, 0)
            stack.extend((c, p) for c in children.get(p, []))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every Python worker, and wait for each."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
    while alive and time.time() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


# ---------------------------------------------------------------------------
# session and environment stamp
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_confs(work_dir: str) -> dict[str, str]:
    n = nproc()
    return {
        "spark.master": f"local[{n}]",
        "spark.driver.memory": DRIVER_HEAP,
        # compiler threads live as long as the JVM, so their CPU time can be
        # read and taken out of pass_cpu_s
        "spark.driver.extraJavaOptions":
            "-XX:+UseParallelGC -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.sql.session.timeZone": "UTC",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


#: confs that change what is measured; two results must agree on them
PINNED_CONFS = ("spark.master", "spark.driver.memory", "spark.driver.extraJavaOptions",
                "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
                "spark.sql.execution.arrow.maxRecordsPerBatch")


def make_spark(work_dir: str):
    from pyspark.sql import SparkSession

    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    # Python workers import the package from the checkout; temporary files
    # of the driver and the workers stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): temp files in the checkout,
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    b = SparkSession.builder.appName("perfbench")
    for k, v in spark_confs(work_dir).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def env_stamp(spark, work_dir: str) -> dict:
    import numpy
    import pandas
    import pyarrow

    jvm = spark.sparkContext._jvm
    confs = spark_confs(work_dir)
    return {
        "nproc": nproc(),
        "spark": spark.version,
        "jvm": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "confs": {k: confs[k] for k in PINNED_CONFS},
        "malloc_env": {k: os.environ.get(k) for k in sorted(os.environ) if k.startswith("MALLOC_")},
    }


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Run:
    """The passes of one workload at one seed."""

    def __init__(self, inputs, counters, tracer=None):
        from workloads import Calls

        self.inputs = inputs
        self.counters = counters
        self.tracer = tracer
        self.calls = Calls(inputs)
        self.records: list[dict] = []
        self.passes: list[dict] = []

    def call(self, op: str, iteration: int, traced: bool) -> dict:
        tag = f"pb{len(self.records)}_{op}"
        rec = {"op": op, "iter": iteration, "traced": traced, "ok": True, "tag": tag}
        span = self.tracer.span(f"op:{op}") if traced else contextlib.nullcontext()
        try:
            with self.counters.tagged(tag), span:
                t0 = time.perf_counter()
                df, finish = getattr(self.calls, op)()
                t1 = time.perf_counter()
                result, details = finish()
                t2 = time.perf_counter()
            rec.update(wall_s=t2 - t0, construct_s=t1 - t0, details=details,
                       result=result, df=df)
        except Exception as ex:  # a failed call is counted, never dropped
            rec.update(ok=False, error=repr(ex))
            log(f"{op} failed: {ex!r}")
        self.records.append(rec)
        return rec

    def one_pass(self, k: int, traced: bool) -> float:
        t0 = time.perf_counter()
        self.passes.append({op: self.call(op, k, traced) for op in self.inputs.wl.ops})
        return time.perf_counter() - t0

    def attach_counters(self, with_python: bool) -> None:
        counters = self.counters.collect([r["tag"] for r in self.records], with_python)
        for r in self.records:
            r["counters"] = counters[r["tag"]]

    def check(self, oracles) -> None:
        """Check every pass against the oracles (computed after the passes,
        on a warm JVM); a wrong output marks the call failed."""
        for by_op in self.passes:
            self._check_pass(by_op, oracles)

    def _check_pass(self, by_op: dict, oracles) -> None:
        def expect(op, want, what):
            rec = by_op[op]
            if rec["ok"] and rec["result"] != want:
                rec.update(ok=False, error=f"wrong output: {what}: "
                           f"{rec['result']!r} != {want!r}")
                log(f"{op}: {rec['error']}")

        if "naive_join" in by_op and by_op["naive_join"]["ok"]:
            for op in ("bloom_join", "bloom_join_hinted", "bloom_join_sketch"):
                expect(op, by_op["naive_join"]["result"],
                       "join aggregate differs from the naive join")
        if "incr_dedup" in by_op:
            expect("incr_dedup", oracles.dedup, "left_anti oracle")
        if "sketch_suite" in by_op:
            suite, multi = by_op["sketch_suite"], by_op["sketch_multicol"]
            if suite["ok"] and multi["ok"]:
                errs = oracles.sketch_errors(suite["result"], multi["result"])
                suite["details"]["err_ratio"] = errs
                for name, ratio in errs.items():
                    rec = multi if name == "multicol_hll" else suite
                    if not ratio <= 1.0:
                        rec.update(ok=False, error=f"{name} error {ratio:.2f}x its bound")
                expect("store_refresh", suite["result"]["hll"].sketch.estimate(),
                       "store HLL differs from the one-pass HLL")


def run_once(args) -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import bloomjoin_spark  # noqa: F401  (fail fast, before any result, without it)
    from workloads import WORKLOADS

    spec = load_spec()
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = make_spark(work_dir)
    try:
        result = measure(spark, args, spec, work_dir, WORKLOADS[args.workload])
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(spark, args, spec, work_dir, wl) -> dict:
    from counters import SparkCounters
    from tracing import Tracer
    from workloads import Inputs, Oracles

    t_start = time.perf_counter()
    setup_wall, setup, inputs = [], [], None
    for _ in range(SETUP_REPEATS):
        if inputs is not None:
            inputs.release()
        t0, (c0, j0) = time.perf_counter(), tree_cpu_s()
        inputs = Inputs(spark, wl, args.seed, work_dir)
        setup_wall.append(time.perf_counter() - t0)
        c1, j1 = tree_cpu_s()
        setup.append(c1 - c0 - (j1 - j0))
    run = Run(inputs, SparkCounters(spark), Tracer() if args.trace else None)
    log(f"setup {[round(s, 2) for s in setup_wall]}s, "
        f"{[round(s, 2) for s in setup]} cpu-s")

    # the warm-up passes (pass 0) run cold (codegen, JIT, worker imports):
    # they are checked but not timed.  The traced run alternates traced
    # and untraced passes, so the tracing overhead is measured in one window.
    for _ in range(WARMUP_PASSES):
        log(f"warm-up pass: {run.one_pass(0, False):.2f}s")
    pass_s = {True: [], False: []}
    cpu_s, jit_s = [], []
    host0 = host_cpu()
    with RssSampler() as rss:
        t_loop = time.perf_counter()
        k = 1
        while k <= MIN_PASSES or time.perf_counter() - t_loop < args.seconds:
            traced = bool(args.trace) and k % 2 == 1
            if traced:
                run.tracer.install()
            c0, j0 = tree_cpu_s()
            try:
                secs = run.one_pass(k, traced)
            finally:
                if traced:
                    run.tracer.uninstall()
            pass_s[traced].append(secs)
            if not traced:
                c1, j1 = tree_cpu_s()
                cpu_s.append(c1 - c0 - (j1 - j0))
                jit_s.append(j1 - j0)
            log(f"pass {k}{' traced' if traced else ''}: {secs:.2f}s"
                + ("" if traced else f", {cpu_s[-1]:.2f} cpu-s + {jit_s[-1]:.2f} JIT"))
            k += 1
    steal = steal_share(host0, host_cpu())
    log(f"host CPU stolen by other guests during the passes: {steal:.1%}")
    run.attach_counters(with_python=bool(args.trace))
    run.check(Oracles(inputs))
    records = run.records
    failed = sum(1 for r in records if not r["ok"])
    e2e = end_to_end(records, setup, rss.peak, cpu_s)
    layer = per_layer(run, pass_s) if args.trace else {}
    save(args, env_stamp(spark, work_dir), e2e, layer, setup, records, run.tracer,
         {"setup_wall_s": setup_wall, "pass_s": pass_s[False], "pass_cpu_s": cpu_s,
          "pass_jit_s": jit_s, "steal_share": steal})
    names = spec["per_layer" if args.trace else "end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    log(f"total {time.perf_counter() - t_start:.1f}s, {len(records)} calls, {failed} failed")
    return {"correct": failed == 0, "attempted": len(records), "failed": failed,
            "metrics": metrics}


def _timed(records, op=None):
    """Successful calls of the timed passes (of ``op``, if given)."""
    return [r for r in records if r["iter"] >= 1 and r["ok"] and op in (None, r["op"])]


def _per_pass(records, value) -> float:
    """Median over the timed passes of ``value(record)`` summed over the
    pass's library calls (the naive join is the control, not the library)."""
    by_pass: dict[int, float] = {}
    for r in _timed(records):
        if r["op"] != "naive_join":
            by_pass[r["iter"]] = by_pass.get(r["iter"], 0.0) + value(r)
    return median(by_pass.values())


def end_to_end(records, setup, peak_rss, pass_cpu_s) -> dict:
    return {
        "setup_s": median(setup),
        "ok_frac": sum(r["ok"] for r in records) / len(records),
        "peak_rss_mb": peak_rss / 1e6,
        "pass_cpu_s": median(pass_cpu_s),
        "jobs_per_pass": _per_pass(records, lambda r: r["counters"]["jobs"]),
        "moved_mb": _per_pass(records, lambda r: r["counters"]["shuffle_write_mb"]
                              + r["counters"]["result_mb"]),
    }


def per_layer(run, pass_s) -> dict:
    from kernels import kernel_metrics
    from workloads import ALL_OPS, DATAFRAME_OPS

    from bloomjoin_spark.plans import plan_audit

    records = run.records
    out: dict[str, float] = {}
    for op in ALL_OPS:
        recs = [r for r in records if r["op"] == op and r["ok"] and r["iter"] != 0]
        for field in ("jobs", "stages", "task_s", "gc_s", "shuffle_write_mb",
                      "result_mb", "python_s"):
            out[f"{op}.{field}"] = median(r["counters"][field] for r in recs)
        out[f"{op}.construct_s"] = median(r["construct_s"] for r in recs)
        out[f"{op}_s"] = median(r["wall_s"] for r in recs)
    out["error_frac"] = sum(not r["ok"] for r in records) / len(records)
    out["shuffle_mb"] = _per_pass(records, lambda r: r["counters"]["shuffle_write_mb"])
    out["spark.gc_s"] = _per_pass(records, lambda r: r["counters"]["gc_s"])

    naive = {r["iter"]: r for r in _timed(records, "naive_join")}
    joins = _timed(records, "bloom_join")
    out["speedup_vs_naive"] = median(
        naive[r["iter"]]["wall_s"] / r["wall_s"] for r in joins if r["iter"] in naive)
    sk = [r for r in _timed(records, "bloom_join_sketch") if "probe_rows_before" in r["details"]]
    out["bloom_join.survivor_frac"] = median(
        r["details"]["probe_rows_after"] / r["details"]["probe_rows_before"] for r in sk)
    out["bloom_join.useful_frac"] = median(
        naive[r["iter"]]["result"][0] / r["details"]["probe_rows_after"]
        for r in sk if r["iter"] in naive and r["details"]["probe_rows_after"])

    suite = _timed(records, "sketch_suite")
    out["aggregate.blob_kb"] = median(r["details"]["blob_kb"] for r in suite)
    out["aggregate.partials"] = median(r["details"]["partials"] for r in suite)
    out["est_err_ratio"] = median(max(r["details"]["err_ratio"].values()) for r in suite)
    ingest = _timed(records, "store_ingest")
    out["store.snapshot_kb"] = median(r["details"]["snapshot_kb"] for r in ingest)
    out["store.files"] = median(r["details"]["files"] for r in ingest)
    dd = _timed(records, "incr_dedup")
    out["dedup.candidate_frac"] = median(
        r["details"]["n_candidates"] / r["details"]["n_batch"] for r in dd)
    out["dedup.useful_frac"] = median(
        r["details"]["n_cross_dups"] / r["details"]["n_candidates"]
        for r in dd if r["details"]["n_candidates"])

    # static plan shape of the DataFrames the first warm-up pass returned
    audits = [plan_audit(r["df"]) for r in run.passes[0].values()
              if r["ok"] and r["op"] in DATAFRAME_OPS]
    out["plans.exchanges"] = float(sum(a.n_shuffle_exchanges for a in audits))
    out["plans.python_nodes"] = float(sum(len(a.python_operators) for a in audits))

    # spans: self time per layer per traced pass, and the tracing overhead
    n_traced = max(1, len(pass_s[True]))
    for layer, secs in run.tracer.self_times().items():
        out[f"trace.{layer}_self_s"] = secs / n_traced
    merge = [s for s in run.tracer.spans
             if s[2] in ("aggregate.tree_merge", "aggregate.tree_merge_multi")]
    out["aggregate.driver_merge_s"] = sum(s[4] - s[3] for s in merge) / n_traced
    out["pass_s"] = median(pass_s[False])
    out["trace.overhead_frac"] = median(pass_s[True]) / median(pass_s[False]) - 1.0

    out.update(kernel_metrics(run.inputs.token_sample()))
    return out


def save(args, stamp, e2e, layer, setup, records, tracer, passes) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    calls = [{k: v for k, v in r.items() if k not in ("df", "result")} for r in records]
    doc = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "commit": git_commit(), "stamp": stamp,
           "end_to_end": e2e, "per_layer": layer, "setup_samples": setup,
           "passes": passes,
           "calls": calls, "spans": tracer.to_json() if tracer else []}
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, default=str)
    log(f"wrote {os.path.relpath(path, ROOT)}")


# ---------------------------------------------------------------------------
# stability and compare modes
# ---------------------------------------------------------------------------

def quartiles(values):
    if len(values) < 2:
        v = values[0] if values else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def worse_by(metric: dict, base: float, new: float) -> float:
    """Share by which ``new`` is worse than ``base`` (negative = better)."""
    if base == 0:
        return 0.0
    d = (new - base) / abs(base)
    return d if metric["better"] == "lower" else -d


def stability(args) -> int:
    spec = load_spec()
    workloads = [args.workload] if args.workload else [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in workloads:
        sets = []
        for s in range(2):
            results = []
            for k in range(args.stability):
                seed = 1000 * (s + 1) + k
                cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                       "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
                t0 = time.time()
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    log(f"{wl} seed {seed}: exit {p.returncode}")
                    ok = False
                    continue
                res = json.loads(lines[-1])
                ok &= bool(res["correct"])
                results.append(res)
                log(f"{wl} set {s + 1} seed {seed}: {time.time() - t0:.0f}s correct={res['correct']}")
            sets.append(results)
        print(f"== {wl}")
        print(f"{'metric':24} {'set':>3} {'q1':>10} {'median':>10} {'q3':>10} {'spread':>7} {'bound':>6}")
        for m in spec["end_to_end"]:
            meds = []
            for s, results in enumerate(sets):
                vals = [r["metrics"][m["name"]]["value"] for r in results]
                q1, q2, q3 = quartiles(vals)
                spread = (q3 - q1) / q2 if q2 else 0.0
                meds.append(q2)
                flag = "" if spread <= m["bound"] or m["name"] == "setup_s" else "  SPREAD"
                ok &= not flag
                print(f"{m['name']:24} {s + 1:>3} {q1:>10.4g} {q2:>10.4g} {q3:>10.4g} "
                      f"{spread:>7.3f} {m['bound']:>6}{flag}")
            drift = worse_by(m, meds[0], meds[1])
            agree = drift <= m["bound"]
            ok &= agree
            print(f"{'':24} second set worse by {drift:+.3f} -> {'agree' if agree else 'DISAGREE'}")
    print("stable" if ok else "NOT stable")
    return 0 if ok else 3


def compare(args) -> int:
    spec = load_spec()
    with open(args.compare[0]) as f:
        old = json.load(f)
    with open(args.compare[1]) as f:
        new = json.load(f)
    for key in ("workload", "seconds", "trace", "stamp"):
        if old.get(key) != new.get(key):
            print(f"refusing to compare: {key} differs\n  {old.get(key)}\n  {new.get(key)}")
            return 2
    print(f"{old['workload']}: {old['commit'][:12]} seed {old['seed']} -> "
          f"{new['commit'][:12]} seed {new['seed']}")
    section = "per_layer" if old["trace"] else "end_to_end"
    for m in spec[section]:
        a, b = old[section].get(m["name"]), new[section].get(m["name"])
        if a is None or b is None:
            continue
        line = f"{m['name']:36} {a:>12.4g} {b:>12.4g}"
        if "bound" in m:
            d = worse_by(m, a, b)
            line += f"  worse by {d:+.3f} (bound {m['bound']})"
        print(line)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--stability", type=int, metavar="N",
                    help="run two sets of N runs and report whether they agree")
    ap.add_argument("--compare", nargs=2, metavar=("OLD", "NEW"),
                    help="compare two saved results from .perfbench_out/")
    args = ap.parse_args(argv)
    if args.compare:
        return compare(args)
    if args.stability:
        return stability(args)
    if not args.workload:
        ap.error("--workload is required")
    return run_once(args)


if __name__ == "__main__":
    sys.exit(main())
