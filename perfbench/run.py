#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload trigger_open --seed 1 --seconds 20 --trace 0

Run it from the repository root. It prints one ``name value unit`` line
per metric and, last, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` is a separate run that wraps each engine call in
a span and reports the per-layer metrics (``BENCHMARK.json`` lists
both). Temporary files, the per-seed fixture cache and span dumps go to
``.perfbench_work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("trigger_open", "catalog_mix")
PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _environment(run_dir: str) -> None:
    """Keep Spark's files inside the checkout and its console quiet:
    ``spark.ui.showConsoleProgress`` is a static conf, so it goes in a
    Spark conf dir of the benchmark's own rather than into the engine."""
    tmp = os.path.join(run_dir, "tmp")
    conf = os.path.join(run_dir, "conf")
    os.makedirs(tmp)
    os.makedirs(conf)
    shutil.copy(os.path.join(HERE, "conf", "log4j2.properties"), conf)
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("spark.ui.showConsoleProgress false\n")
        f.write(f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}\n")
    os.environ["SPARK_CONF_DIR"] = conf
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (the launcher's too) keeps its temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp


class MemorySampler:
    """Peak summed resident memory of this process and every descendant
    (the JVM and its Python workers), sampled from /proc, and the JVM's
    peak heap use, read from its memory pools when sampling stops."""

    def __init__(self, enabled: bool, period_s: float = 0.2) -> None:
        self.enabled = enabled
        self.peak_kb = 0
        self.heap_peak_bytes = 0
        self.jvm = None
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> MemorySampler:
        if self.enabled:
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        """End sampling; the workloads call this where their timed region
        ends, so the correctness checks after it do not count."""
        if not self.enabled or self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self.sample()
        if self.jvm is not None:
            # sum of each heap pool's peak since JVM start (eden, survivor
            # and old peak at different instants, so this bounds the peak)
            pools = self.jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
            self.heap_peak_bytes = sum(
                p.getPeakUsage().getUsed() for p in pools if p.getType().toString() == "Heap memory"
            )

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.sample()

    def sample(self) -> None:
        parent, rss = {}, {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{pid}/statm") as f:
                    pages = int(f.read().split()[1])
            except OSError:
                continue
            parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
            rss[int(pid)] = pages * PAGE_KB
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        self.peak_kb = max(self.peak_kb, sum(rss.get(p, 0) for p in tree))


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    _environment(run_dir)
    sys.path.insert(0, ROOT)

    # the engine must be importable before anything is measured
    from orca_ztbus_python_processor_spark.session import get_spark  # noqa: PLC0415

    import catalog  # noqa: PLC0415
    import report  # noqa: PLC0415
    import trigger  # noqa: PLC0415
    from spans import Tracer  # noqa: PLC0415

    # memory is sampled in the traced run only: the sampler's /proc walks
    # stay out of the timed runs
    with MemorySampler(bool(args.trace)) as mem:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - t0
        mem.jvm = spark._jvm
        try:
            tracer = Tracer(spark, bool(args.trace))
            run = trigger.trigger_open if args.workload == "trigger_open" else catalog.catalog_mix
            result = run(
                spark, WORK, run_dir, args.seed, args.seconds, tracer, session_s, mem.stop
            )
        finally:
            _stop(spark)
    if args.trace:
        result.layer["memory.peak_rss_mb"] = mem.peak_kb / 1024.0
        result.layer["memory.heap_peak_mb"] = mem.heap_peak_bytes / 2**20
        tracer.dump(os.path.join(WORK, f"spans_{args.workload}_seed{args.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report.render(result, args, WORK)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
