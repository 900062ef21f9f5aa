"""Benchmark of the orc_format_spark encode/decode engine.

Run from the repository root:

    python3 perfbench/run.py --workload encode_bulk --seed 1 --seconds 12 --trace 0

Workloads (see perfbench/README.md): ``encode_bulk`` and ``read_mix``.
Each makes its input from ``--seed``, sets the engine up, runs its
operations in a closed loop for ``--seconds`` seconds, and checks every
output. ``--trace 0`` reports the end-to-end metrics named in
BENCHMARK.json; ``--trace 1`` runs the traced decomposition and reports the
per-layer metrics.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it is the full
record (environment, every figure, every sample), also written under
``.perfbench_work/results/``. All scratch data stays in ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RUN_DIR = os.path.join(WORK, "run")  # emptied at the start of every run
WORKLOADS = ("encode_bulk", "read_mix")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Point every file the engine, Spark and the JVM write into ``work``
    and pin Spark's core count to the CPUs this process may use. Session defaults are otherwise
    left as users get them (session.py)."""
    for sub in ("spark-local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    java_opts = (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                 f"-Dderby.system.home={work} -XX:-UsePerfData")
    # launcher config, so session.py stays as users get it; the event log
    # directory is set here and logging is switched on per SparkContext by
    # the traced run only (layers.enable_event_log)
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", f"spark.eventLog.dir={os.path.join(work, 'eventlog')}",
        "--conf", "spark.eventLog.enabled=false",
        "--driver-java-options", java_opts,
        "pyspark-shell"])


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and all its descendants
    (the driver JVM and the Python workers) while it runs, sampled from
    /proc; also the peak of each kind of process, by executable name.

    A Python process counts its proportional set size, so the pages a
    forked worker shares with the worker daemon count once. The JVM shares
    next to nothing with other processes, so its resident set size is read
    instead: that costs a fraction of a millisecond, where reading its PSS
    walks its whole address space (tens of milliseconds, holding its memory
    map lock, every sample). A ``java`` child of the JVM is a process the
    JVM is spawning, whose pages are still the JVM's, and is skipped."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_kind: dict[str, int] = {}
        self._halt = threading.Event()

    def _sample(self) -> None:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(name))
        by_kind: dict[str, int] = {}
        todo = [(os.getpid(), "")]
        while todo:
            pid, parent_kind = todo.pop()
            try:
                with open(f"/proc/{pid}/comm") as f:
                    kind = f.read().strip()
                if kind == "java" and parent_kind == "java":
                    continue
                path, field = ((f"/proc/{pid}/status", "VmRSS:")
                               if kind == "java" else
                               (f"/proc/{pid}/smaps_rollup", "Pss:"))
                with open(path) as f:
                    rss = next(int(line.split()[1]) * 1024 for line in f
                               if line.startswith(field))
            except (OSError, StopIteration):
                continue
            todo.extend((c, kind) for c in children.get(pid, ()))
            by_kind[kind] = by_kind.get(kind, 0) + rss
        self.peak_bytes = max(self.peak_bytes, sum(by_kind.values()))
        for kind, rss in by_kind.items():
            self.peak_by_kind[kind] = max(self.peak_by_kind.get(kind, 0), rss)

    def run(self) -> None:
        while not self._halt.is_set():
            self._sample()
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join()


def stop_jvm() -> None:
    """Stop the active SparkContext and the JVM behind it, and wait for it."""
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def environment(args) -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": sys.version.split()[0],
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "workload": args.workload}


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """Machine-wide user, nice, system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import orc_format_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: orc_format_spark is not importable from {ROOT}: "
              f"{e}", file=sys.stderr)
        return 2
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    configure_env(RUN_DIR)

    import layers  # after configure_env: these import pyspark
    import workloads

    env = environment(args)
    env["loadavg_start"] = loadavg()
    ticks = cpu_ticks()
    sampler = RssSampler()
    t0 = time.perf_counter()
    try:
        record = workloads.run(args, RUN_DIR, sampler,
                               layers.traced_run if args.trace else None)
    finally:
        sampler.stop()
        stop_jvm()
    env["loadavg_end"] = loadavg()
    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    # share of CPU time the hypervisor gave to other guests during the run
    env["cpu_steal_share"] = delta[7] / max(sum(delta), 1)
    record["env"].update(env)
    record["figures"]["peak_rss_mb"] = sampler.peak_bytes / 2**20
    record["figures"]["peak_rss_mb_by_process"] = {
        k: v / 2**20 for k, v in sampler.peak_by_kind.items()}
    record["wall_s"] = time.perf_counter() - t0

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    source = record["layers" if args.trace else "figures"]
    metrics = {}
    checks = record["checks"]
    for m in wanted:
        value = source.get(m["name"])
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            # a figure the run could not measure counts as a failed check
            checks["attempted"] += 1
            checks["failed"] += 1
            checks["errors"].append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    result = {"correct": checks["failed"] == 0,
              "attempted": checks["attempted"], "failed": checks["failed"],
              "metrics": metrics}

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True, default=str)
    print(json.dumps(record, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

