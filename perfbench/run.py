"""Benchmark of the package's three workloads, run from a checkout's root:

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json records why each was chosen):
- ``etl_bulk``: P1 → P2 → P3 through ``plans.pipelines`` (``etl.py``);
- ``query_mix``: the 28 ``bench.py`` registry entries and the versioned-table
  entries that cover the write paths of ``sinks.versioned``, each through
  the noop sink (``registry.py``).

One run: generate the seeded inputs; launch the session; set up (session
restart, sink state) five times and take the median; warm up; run passes of the workload until
``--seconds`` have passed (at least one); then check the outputs, untimed.
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
passes with spans around every call into the package and prints the
per-layer metrics instead. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is the
run's provenance. Everything the run writes stays in ``.perfbench/`` under
the checkout; the run's own directory there is removed at exit.
See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "bigbookapi_etl_with_airflow_and_snowflake_spark"
WORKLOADS = ("etl_bulk", "query_mix")
SETUPS = 5  # set-ups per run; setup_s reports their median
# etl_bulk sizes: BigBookAPI records (pages of 100) and HuggingFace listings
N_BOOKS, N_MODELS = 100_000, 50_000


def _args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> int:
    """Process environment for the session and its Python workers; returns
    the core count the session runs on (``local[n]``)."""
    nproc = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # workers import the package (and this directory, for the traced
    # connection proxy) whatever the working directory is
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    sys.path[:0] = [ROOT]
    os.environ["TZ"] = "UTC"
    time.tzset()
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM, which starts before the session's JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    return nproc


def _spark(work: str):
    from bigbookapi_etl_with_airflow_and_snowflake_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files, extracted native libraries and Derby's
        # log inside the run directory too
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work} -XX:-UsePerfData"),
    })


def _reset_peak_rss() -> None:
    """Restart this process's VmHWM at its current RSS, after handing freed
    heap back to the OS, so the next reading is the peak of what follows.
    Where /proc/self/clear_refs is not writable the reading stays the
    whole-process peak."""
    gc.collect()
    try:
        ctypes.CDLL("libc.so.6").malloc_trim(0)
    except (OSError, AttributeError):
        pass
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _peak_rss_mib(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the gateway JVM exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tree_cpu_s() -> float:
    """CPU seconds (user + system) of this process and every process below
    it (the session's JVM, its Python workers), including the children
    they have already waited for."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we listed
            continue
        fields = stat[stat.rindex(")") + 2:].split()  # fields after the command name
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _workload(name: str, work: str, seed: int, nproc: int):
    if name == "etl_bulk":
        from etl import EtlBulk

        return EtlBulk(work, seed, N_BOOKS, N_MODELS, nproc)
    from registry import RegistryWorkload

    return RegistryWorkload(seed)


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        nproc = _environment(work)
        from spans import NullTracer, Tracer, counters, median, next_ids

        workload = _workload(a.workload, work, a.seed, nproc)
        t, c = time.perf_counter(), _tree_cpu_s()
        workload.make_inputs()
        inputs_s, inputs_cpu_s = time.perf_counter() - t, _tree_cpu_s() - c

        t = time.perf_counter()
        spark = _spark(work)
        session_start_s = time.perf_counter() - t
        launch_s = time.perf_counter() - T_START - inputs_s
        launch_cpu_s = _tree_cpu_s() - inputs_cpu_s
        # set-up: stop and start the session, prepare a pass's sink state;
        # the launch (imports, JVM start) is reported, not gated: one cold
        # start per process, it ranged from 5.9 s to 9.3 s over forty runs
        preps, prep_cpu = [], []
        for k in range(SETUPS):
            t, c = time.perf_counter(), _tree_cpu_s()
            spark.stop()
            spark = _spark(work)
            workload.prepare(spark, k)
            preps.append(time.perf_counter() - t)
            prep_cpu.append(_tree_cpu_s() - c)
        setup_s, setup_cpu_s = median(preps), median(prep_cpu)
        t = time.perf_counter()
        workload.warm_up(spark)
        warmup_s = time.perf_counter() - t

        tracer = Tracer(spark, f"{a.workload}-{a.seed}") if a.trace else NullTracer()
        workload.hook(tracer)
        pass_s, py_peak, ops, loadavg = [], [], [], []
        t_run = time.perf_counter()
        steal0, cpu0, ids0 = _steal_s(), _tree_cpu_s(), next_ids(spark.sparkContext)
        while not pass_s or time.perf_counter() - t_run < a.seconds:
            loadavg.append([round(x, 2) for x in os.getloadavg()])
            _reset_peak_rss()
            t = time.perf_counter()
            ops.append(workload.run_pass(spark, tracer, f"pass{len(pass_s)}"))
            pass_s.append(time.perf_counter() - t)
            py_peak.append(_peak_rss_mib())
        steal_s, run_cpu_s = _steal_s() - steal0, (_tree_cpu_s() - cpu0) / len(pass_s)
        ids1 = next_ids(spark.sparkContext)
        work_done = counters(spark.sparkContext, range(ids0[0], ids1[0]), range(ids0[1], ids1[1]))
        tracer.close()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        jvm_peak = _peak_rss_mib(jvm_pid)

        t = time.perf_counter()
        checks = workload.check(spark)
        check_s = time.perf_counter() - t
        flat = [op for p in ops for op in p]
        # one entry per failed execution, plus failed checks of executions that ran
        failed_ops = [f"pass{i}/{n}" for i, p in enumerate(ops) for n, _, ok in p if not ok]
        failed_ops += [k for k, ok in checks.items() if not ok and k not in failed_ops]
        attempted, failed = len(flat), len(failed_ops)
        # an operation's time is the median of its executions in the run
        op_s = {n: median(s for m, s, _ in flat if m == n) for n in dict.fromkeys(n for n, _, _ in flat)}

        if a.trace:
            metrics = workload.layer_metrics(tracer)
            metrics["session.start_s"] = session_start_s
            metrics["jvm.peak_rss_mb"] = jvm_peak
            metrics["trace.overhead_s"] = tracer.overhead_s / len(pass_s)
            metrics["trace.run_s"] = sum(op_s.values())
            tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{a.workload}-seed{a.seed}.jsonl"))
            units = _units("per_layer")
        else:
            metrics = {
                "setup_s": setup_s,
                "spark_jobs": work_done["jobs"] / len(pass_s),
                "spark_tasks": work_done["tasks"] / len(pass_s),
                "py_peak_rss_mb": median(py_peak),
            }
            units = _units("end_to_end")
        provenance = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "passes": len(pass_s), "pass_s": pass_s, "setup_preps_s": preps,
            "launch_s": launch_s, "launch_cpu_s": launch_cpu_s, "inputs_s": inputs_s, "check_s": check_s,
            "wall_s": time.perf_counter() - T_START, "loadavg_per_pass": loadavg,
            "steal_s": steal_s, "run_cpu_s": run_cpu_s, "setup_cpu_s": setup_cpu_s,
            "nproc": nproc, "SPARK_GRAFT_CPUS": cpus_env,
            "sizes": workload.sizes(), "failed_ops": sorted(failed_ops), "probes": workload.probes,
            "run_s": sum(op_s.values()), "op_s": op_s, "op_geomean_s": _geomean(list(op_s.values())),
            "warmup_s": warmup_s,
            "pyspark": spark.version, "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        if getattr(workload, "corpus", None):
            from bench import _testdata_generation

            provenance["testdata_generation"] = _testdata_generation(workload.corpus)
        print(json.dumps({"provenance": provenance}))
        print(json.dumps({
            "correct": not failed_ops, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        if spark is not None:
            try:
                workload.close(spark)
            finally:
                _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _geomean(xs: list[float]) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _units(section: str) -> dict[str, str]:
    """Metric name → unit of one section of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
