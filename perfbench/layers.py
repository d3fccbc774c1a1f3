"""Layer trace taken from outside the engine.

Three means, and no change to the engine:

- wrappers around the public ``datamancer_spark`` functions
  (``session.materialize``, ``io.load_tables``, ``io.read_*``,
  ``io.write_*``), installed before ``__spark_entry__`` is imported;
- Spark's own status stores, read over py4j after each query: the app
  status store (jobs and stages of the query's job group), the SQL status
  store (plan graphs and Python-node metrics), and the frame's
  ``QueryPlanningTracker``;
- a ``StreamingQueryListener`` that counts micro-batches.

Each traced query runs under its own job group: ``<id>/c`` while the
``queries()`` function builds the frame, ``<id>/m`` inside
``session.materialize`` and ``<id>/x`` during the timed action, so every
job is attributed to the layer that fired it without timing guesses.
"""

from __future__ import annotations

import functools
import re
import sys
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

# Per-query counters and their units, in report order.
QUERY_METRICS = {
    "entry.construct_s": "s",
    "entry.construct_jobs": "count",
    "session.materialize_calls": "count",
    "session.materialize_s": "s",
    "session.materialize_jobs": "count",
    "io.load_tables_calls": "count",
    "io.load_tables_s": "s",
    "io.read_calls": "count",
    "io.read_s": "s",
    "io.write_calls": "count",
    "io.write_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "catalyst.exchanges": "count",
    "catalyst.python_nodes": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.failed_tasks": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.run_ms": "ms",
    "python.worker_start_ms": "ms",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
}

# SQL metric names of the MapInPandas / Arrow-eval nodes (Spark 4.1).
_PYTHON_NODE_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "time to run Python workers": "python.run_ms",
    "time to start Python workers": "python.worker_start_ms",
}
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_EXCHANGES = {"Exchange", "BroadcastExchange"}


class _BatchCounter(StreamingQueryListener):
    """Counts streaming micro-batches and their trigger time. Events
    arrive on the py4j callback thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.batches = 0
        self.trigger_ms = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        ms = event.progress.durationMs.get("triggerExecution", 0)
        with self._lock:
            self.batches += 1
            self.trigger_ms += ms

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def snapshot(self) -> tuple[int, int]:
        with self._lock:
            return self.batches, self.trigger_ms


class Tracer:
    """Records one query's layer counters at a time.

    ``install()`` must run before ``__spark_entry__`` is imported: several
    operator modules bind ``materialize`` at import time, and a wrapper
    installed later would miss them. ``rebind()`` after the import also
    replaces bindings made while ``datamancer_spark`` itself was loading.
    """

    def __init__(self) -> None:
        self.active = False
        self.rec: dict[str, float] = {}
        self._wrapped: dict[int, object] = {}
        self._depth: dict[str, int] = {}
        self._spark = None
        self._listener: _BatchCounter | None = None
        self._group = ""
        self._phase = ""
        self._t0_ms = 0
        self._streaming0 = (0, 0)

    # -- wrappers --------------------------------------------------------
    def install(self) -> None:
        import datamancer_spark.io as io
        import datamancer_spark.session as session

        targets = [(session, "materialize", "session.materialize"), (io, "load_tables", "io.load_tables")]
        for name in dir(io):
            if name.startswith("read_"):
                targets.append((io, name, "io.read"))
            elif name.startswith("write_"):
                targets.append((io, name, "io.write"))
        for mod, name, layer in targets:
            orig = getattr(mod, name)
            wrapped = self._wrap(orig, layer)
            self._wrapped[id(orig)] = wrapped
            setattr(mod, name, wrapped)
        self.rebind()

    def rebind(self) -> None:
        """Point every module-level binding of a wrapped function in the
        engine and the catalog at its wrapper."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == "__spark_entry__" or modname.startswith("datamancer_spark")):
                continue
            for key, val in list(vars(mod).items()):
                if callable(val) and id(val) in self._wrapped:
                    setattr(mod, key, self._wrapped[id(val)])

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active or self._depth.get(layer, 0):
                return fn(*args, **kwargs)
            self._depth[layer] = 1
            restore = None
            if layer == "session.materialize":
                restore = self._set_group("m")
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.rec[layer + "_s"] += time.perf_counter() - t0
                self.rec[layer + "_calls"] += 1
                self._depth[layer] = 0
                if restore is not None:
                    self._set_group(restore)

        return wrapper

    # -- per-query lifecycle ---------------------------------------------
    def attach(self, spark) -> None:
        """Bind to the session the queries run on and register the
        streaming listener with it."""
        self._spark = spark
        self._listener = _BatchCounter()
        spark.streams.addListener(self._listener)

    def _set_group(self, phase: str) -> str:
        prev = self._phase
        self._phase = phase
        self._spark.sparkContext.setJobGroup(f"{self._group}/{phase}", self._group)
        return prev

    def begin(self, query_id: str) -> None:
        # earlier untraced queries' listener events must land before the
        # streaming snapshot, or they would count towards this query
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        self.rec = dict.fromkeys(QUERY_METRICS, 0)
        self._group = query_id
        self._phase = ""
        self._t0_ms = int(time.time() * 1000)
        self._streaming0 = self._listener.snapshot()
        self._set_group("c")
        self.active = True

    def construct(self, fn, spark, sf_dir: str):
        """Call one ``queries()`` function: the entry layer's span."""
        t0 = time.perf_counter()
        try:
            return fn(spark, sf_dir)
        finally:
            self.rec["entry.construct_s"] = time.perf_counter() - t0

    def action(self) -> None:
        self._set_group("x")

    def end(self, df, action_s: float) -> dict[str, float]:
        """Close the query's spans and read the status stores."""
        self.active = False
        sc = self._spark.sparkContext
        sc.setJobGroup("perfbench/idle", "perfbench/idle")
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        rec = self.rec
        rec["exec.s"] = action_s
        tracker = sc.statusTracker()
        jobs = {p: list(tracker.getJobIdsForGroup(f"{self._group}/{p}")) for p in "cmx"}
        rec["entry.construct_jobs"] = len(jobs["c"]) + len(jobs["m"])
        rec["session.materialize_jobs"] = len(jobs["m"])
        rec["exec.jobs"] = len(jobs["x"])
        self._read_stages(jsc.statusStore(), [j for ids in jobs.values() for j in ids])
        self._read_plans()
        self._read_phases(df)
        b0, t0 = self._streaming0
        b1, t1 = self._listener.snapshot()
        rec["streaming.batches"] = b1 - b0
        rec["streaming.trigger_ms"] = t1 - t0
        return rec

    def _seq(self, scala_seq):
        return self._spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq)

    def _read_stages(self, store, job_ids) -> None:
        """Stage totals over every job the query fired, construction and
        action alike."""
        stage_ids = set()
        for jid in job_ids:
            stage_ids.update(int(s) for s in self._seq(store.job(jid).stageIds()))
        rec = self.rec
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            rec["exec.stages"] += 1
            rec["exec.tasks"] += st.numTasks()
            rec["exec.task_run_s"] += st.executorRunTime() / 1e3
            rec["exec.task_cpu_s"] += st.executorCpuTime() / 1e9
            rec["exec.gc_s"] += st.jvmGcTime() / 1e3
            rec["exec.input_bytes"] += st.inputBytes()
            rec["exec.output_bytes"] += st.outputBytes()
            rec["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["exec.spill_bytes"] += st.diskBytesSpilled()
            rec["exec.failed_tasks"] += st.numFailedTasks()

    def _read_plans(self) -> None:
        """Exchanges, Python nodes and Python-node metrics of every SQL
        execution that started during the query."""
        jvm = self._spark.sparkContext._jvm
        accumulators = jvm.org.apache.spark.util.AccumulatorContext
        store = self._spark._jsparkSession.sharedState().statusStore()
        count = store.executionsCount()
        want = 32
        while True:
            execs = list(self._seq(store.executionsList(max(0, count - want), want)))
            if len(execs) < want or execs[0].submissionTime() < self._t0_ms:
                break
            want *= 2
        rec = self.rec
        for ex in execs:
            if ex.submissionTime() < self._t0_ms:
                continue
            for node in self._seq(store.planGraph(ex.executionId()).allNodes()):
                name = node.name()
                if name in _EXCHANGES:
                    rec["catalyst.exchanges"] += 1
                if not _PYTHON_NODE.search(name):
                    continue
                rec["catalyst.python_nodes"] += 1
                for metric in self._seq(node.metrics()):
                    key = _PYTHON_NODE_METRICS.get(metric.name())
                    acc = accumulators.get(metric.accumulatorId()) if key else None
                    if acc is not None and acc.isDefined():
                        rec[key] += acc.get().value()

    def _read_phases(self, df) -> None:
        """Analysis, optimization and planning of the returned frame,
        from its QueryPlanningTracker. The noop sink plans a command of
        its own, so the frame's plan is forced here, after the timed
        action, to fill the optimization and planning phases."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self.rec[f"catalyst.{phase}_ms"] = phases.apply(phase).durationMs()
