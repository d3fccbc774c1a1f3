"""sparkmancer benchmark: catalog workloads on local[nproc], end to end.

    python3 perfbench/run.py --workload verbs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run is one fresh process and one
fresh Spark session. It

1. sets up: imports the catalog, ``get_spark`` + ``load_tables`` (then
   stops the session and sets up again, four times, for a median);
2. runs one cold pass over the workload's queries, collecting each
   result; untimed, the correctness gate compares the rows with the
   query's DuckDB twin;
3. runs the workload's untimed warm-up passes (the JIT is still
   compiling after the cold pass), then timed warm passes, one query in
   flight at a time (a closed loop), until ``--seconds`` have passed,
   with at least three passes;
4. prints every metric by name with its unit, then one JSON line.

Each warm query execution is the ``queries()`` call (plan construction,
including any jobs it fires) plus a noop-sink action. The seed permutes
the order of the queries within each pass. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` installs the layer trace (layers.py)
and reports the per-layer metrics instead: its warm passes run untraced,
traced, traced, untraced (and on), so the trace overhead is measured in
the same run.

Some figures are printed but not gated. The per-query p90 has fewer
than ten samples beyond it in a run this size, so it is a header line
beside the sample count. Two figures proved too unsteady across runs on
a shared host, so they are per-layer metrics of the traced run: the cold
pass wall (``cold.pass_s``, one sample per run) and the peak memory of
the process tree (``memory.peak_mb``, which follows the JVM's heap
growth).

A fixed multi-core CPU calibration runs before the cold pass and after
the last warm pass; its wall (``host.control_s``), and the share of CPU
time the hypervisor stole during the timed window (``host.steal_frac``),
show a contaminated window. Neither rescales or drops a run.

The data is the read-only sf0.1 directory beside the catalog's ``SF1``
(override with ``PERFBENCH_SF_DIR``). Spark scratch, temp files and the
catalog's staging directories stay inside the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import itertools
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
import types
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work" / str(os.getpid())  # per run: a concurrent run keeps its scratch
DRIVER_MEM = "4g"  # explicit: the engine's default (32g) can exceed a small host's RAM
SETUPS = 5
MIN_PASSES = 3  # warm passes per run, so pass_s is a true median

E2E_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    """(all, stolen) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def host_control() -> float:
    """A fixed CPU calibration that never touches the engine: dense
    matrix products on every core (numpy's BLAS threads)."""
    import numpy as np

    a = np.random.default_rng(0).random((600, 600))
    a @ a  # thread-pool start-up is not host load
    t0 = time.perf_counter()
    for _ in range(20):
        a @ a
    return time.perf_counter() - t0


class MemorySampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc. Each process counts
    its proportional set size, so pages that forked Python workers share
    are counted once, not once per worker."""

    def __init__(self, interval: float = 0.2) -> None:
        self.peak = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _tree_pss() -> int:
        parent: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            for child, ppid in parent.items():
                if ppid == pid and child not in tree:
                    tree.add(child)
                    frontier.append(child)
        total_kb = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total_kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                pass
        return total_kb * 1024

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self._interval)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _relocate_code(code: types.CodeType, old: str, new: str) -> types.CodeType:
    consts = tuple(
        _relocate_code(c, old, new)
        if isinstance(c, types.CodeType)
        else (c.replace(old, new) if isinstance(c, str) else c)
        for c in code.co_consts
    )
    return code.replace(co_consts=consts)


def relocate_staging(entry, new: str) -> None:
    """Point the catalog's hard-coded staging root (the directory of its
    CSV gate) at ``new``, in module constants and in function bodies, so a
    run writes only inside its checkout. The work each query does is
    unchanged; only the directory moves."""
    old = os.path.dirname(entry._CSV_GATE_DIR)
    if old == new:
        return
    for key, val in vars(entry).items():
        if isinstance(val, str) and old in val:
            setattr(entry, key, val.replace(old, new))
        elif isinstance(val, types.FunctionType) and val.__module__ == entry.__name__:
            val.__code__ = _relocate_code(val.__code__, old, new)


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    return sorted(values)[max(0, math.ceil(q * len(values)) - 1)]


def _prepare_environment(cpus: int) -> None:
    """Process environment read by the engine, the JVM launcher and the
    Python workers; must be set before the first session starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM of the run (the launcher and the driver): temp files in the
    # checkout, and no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))


class Run:
    """One run's closed loop: passes over the workload's queries, one
    query in flight at a time, in an order the seed permutes per pass."""

    def __init__(self, spark, sf_dir: str, queries: dict, names: list[str], seed: int, tracer=None) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.queries = queries
        self.names = names
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}
        self.records: list[dict] = []
        self.gate_s = 0.0

    def run_pass(self, label: str, traced: bool = False, gate=None) -> list[float]:
        """One pass; returns the query walls: construction plus a noop-sink
        action, or, with ``gate``, plus ``collect()``, whose rows are then
        compared with the DuckDB twin outside the timed wall."""
        tracer = self.tracer if traced else None
        walls = []
        for name in self.rng.sample(self.names, len(self.names)):
            self.attempted += 1
            if tracer is not None:
                tracer.begin(f"{label}:{name}")
            try:
                t0 = time.perf_counter()
                if tracer is not None:
                    df = tracer.construct(self.queries[name], self.spark, self.sf_dir)
                    tracer.action()
                else:
                    df = self.queries[name](self.spark, self.sf_dir)
                ta = time.perf_counter()
                if gate is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    rows = df.collect()
                t1 = time.perf_counter()
            except Exception as e:  # one failing query must not end the run
                self._fail(name, f"{label}: {type(e).__name__}: {str(e)[:300]}")
                if tracer is not None:
                    tracer.active = False
                continue
            walls.append(t1 - t0)
            if tracer is not None:
                self.records.append({"pass": label, "query": name, "wall_s": t1 - t0, **tracer.end(df, t1 - ta)})
            if gate is not None:
                tg = time.perf_counter()
                reason = gate.check(name, df.columns, rows)
                self.gate_s += time.perf_counter() - tg
                if reason is not None:
                    self._fail(name, f"correctness gate: {reason}")
            # drop the query's leftover checkpoint/persist blocks so they do
            # not squeeze later queries' execution memory (bench.py does the
            # same between measurements)
            for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist(False)
        return walls

    def _fail(self, name: str, reason: str) -> None:
        self.failed += 1
        self.failures[name] = reason


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit. Closing
    the launcher's stdin ends the JVM, which ends its Python workers.
    (py4j's own shutdown hangs once a streaming-listener callback ran.)"""
    from pyspark import SparkContext

    spark.stop()
    proc = SparkContext._gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", help="write the per-query layer record of a traced run to this JSON file")
    args = p.parse_args()

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    missing = [x for x in ("__spark_entry__.py", "datamancer_spark", "tests/oracle_harness.py") if not (ROOT / x).exists()]
    if missing:
        print(f"perfbench: not a sparkmancer checkout, missing {missing} under {ROOT}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    _prepare_environment(cpus)

    with MemorySampler() if args.trace else contextlib.nullcontext() as memory:
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer()
            tracer.install()
        import __spark_entry__ as entry
        from datamancer_spark import get_spark, load_tables
        from gate import Gate

        if tracer is not None:
            tracer.rebind()
        sf_dir = os.environ.get("PERFBENCH_SF_DIR") or os.path.join(os.path.dirname(entry.SF1), "sf0.1")
        if not os.path.isdir(sf_dir):
            print(f"perfbench: data directory {sf_dir} not found", file=sys.stderr)
            return 2
        relocate_staging(entry, str(ROOT / "spark-warehouse"))
        conf = {"spark.sql.warehouse.dir": str(ROOT / "spark-warehouse")}

        setups = []
        spark = None
        try:
            for i in range(SETUPS):
                t0 = time.perf_counter()
                if spark is not None:
                    spark.stop()
                spark = get_spark(app_name="perfbench", extra_conf=conf)
                load_tables(spark, sf_dir)
                setups.append(_process_age_s() if i == 0 else time.perf_counter() - t0)
            if tracer is not None:
                tracer.attach(spark)
            versions = {"spark": spark.version, "java": spark.sparkContext._jvm.System.getProperty("java.version")}

            control = [host_control()]
            run = Run(spark, sf_dir, entry.queries(), WORKLOADS[args.workload]["queries"], args.seed, tracer)
            gate = Gate(ROOT, sf_dir, entry.oracle_sql())
            cold_s = sum(run.run_pass("cold", gate=gate))
            gate.close()
            for w in range(WORKLOADS[args.workload]["warmup_passes"]):
                run.run_pass(f"warmup{w}")
            passes: list[float] = []
            query_walls: list[float] = []
            min_passes = 4 if tracer is not None else MIN_PASSES
            t_window, ticks = time.perf_counter(), _cpu_ticks()
            for k in itertools.count():
                if k >= min_passes and time.perf_counter() - t_window >= args.seconds:
                    break
                traced = tracer is not None and k % 4 in (1, 2)  # ABBA: a warming trend cancels
                walls = run.run_pass(f"warm{k}", traced)
                if not traced:
                    passes.append(sum(walls))
                    query_walls.extend(walls)
            window_s = time.perf_counter() - t_window
            now = _cpu_ticks()
            steal_frac = (now[1] - ticks[1]) / max(now[0] - ticks[0], 1)
            control.append(host_control())
        finally:
            if spark is not None:
                _stop(spark)
    shutil.rmtree(WORK, ignore_errors=True)

    header = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": cpus,
        **versions,
        "driver_mem": DRIVER_MEM,
        "sf_dir": sf_dir,
        "queries": len(run.names),
        "warm_passes": k,
        "window_s": round(window_s, 2),
        "cold_pass_s": round(cold_s, 3),
        "untraced_pass_walls_s": [round(x, 3) for x in passes],
        "gate_s": round(run.gate_s, 2),
        "query_samples": len(query_walls),
        "query_p90_s": round(_quantile(query_walls, 0.9), 4),
        "setup_samples_s": [round(s, 3) for s in setups],
        "host.control_s": [round(c, 4) for c in control],
        "host.steal_frac": round(steal_frac, 4),
        "failed_frac": run.failed / run.attempted,
    }
    for key, val in header.items():
        print(f"# {key}: {val}")
    for name, reason in run.failures.items():
        print(f"# FAILED {name}: {reason}")

    if tracer is None:
        metrics = {
            "setup_s": statistics.median(setups),
            "pass_s": statistics.median(passes),
            "query_p50_s": _quantile(query_walls, 0.5),
        }
        units = E2E_UNITS
    else:
        from layers import QUERY_METRICS

        metrics = layer_metrics(run.records, passes, cpus)
        metrics["cold.pass_s"] = cold_s
        metrics["memory.peak_mb"] = memory.peak / 2**20
        metrics["host.control_s"] = max(control)
        units = {
            **QUERY_METRICS,
            "exec.core_busy_frac": "frac",
            "trace.overhead_frac": "frac",
            "cold.pass_s": "s",
            "memory.peak_mb": "MB",
            "host.control_s": "s",
        }
        if args.record:
            with open(args.record, "w") as f:
                json.dump({"header": header, "metrics": metrics, "queries": run.records}, f, indent=1)
    for key, val in metrics.items():
        print(f"{key:28s} {val:14.6f} {units[key]}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def layer_metrics(records: list[dict], untraced_passes: list[float], cpus: int) -> dict:
    """Per-layer metrics: each counter summed over a traced warm pass, then
    the median over the traced passes. The trace overhead compares the
    query walls of traced and untraced warm passes; the status-store reads
    that follow each traced query are outside its wall."""
    from layers import QUERY_METRICS

    by_pass: dict[str, dict[str, float]] = {}
    for rec in records:
        sums = by_pass.setdefault(rec["pass"], dict.fromkeys([*QUERY_METRICS, "wall_s"], 0))
        for key in sums:
            sums[key] += rec[key]
    out = {key: statistics.median(s[key] for s in by_pass.values()) for key in QUERY_METRICS}
    out["exec.core_busy_frac"] = statistics.median(
        s["exec.task_run_s"] / (s["wall_s"] * cpus) for s in by_pass.values()
    )
    out["trace.overhead_frac"] = (
        statistics.median(s["wall_s"] for s in by_pass.values()) / statistics.median(untraced_passes) - 1
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
