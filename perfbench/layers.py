"""Span capture and per-layer counters for the traced benchmark run.

Everything here is observed from outside the package: spans wrap the
benchmark's own calls and a few public package functions, and the
Spark-side numbers come from the query's planning tracker, the
application status store, the SQL status store and a streaming query
listener. None of it is installed on an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import time

# Public package functions that write stores; each call is one
# `store.commit` span, and their summed time is store.commit_s.
STORE_FUNCTIONS = {
    "data_engineering_hs_spark.streaming.pipelines": (
        "_dedup_ingest_batch",
        "compact_ingest_store",
        "streaming_cdc_apply",
    ),
    "data_engineering_hs_spark.operators.similarity": (
        "build_ivf_store",
        "append_to_cell_store",
    ),
    "data_engineering_hs_spark.operators.incremental": ("commit_increment",),
}

_MB = 1024.0 * 1024.0


class Tracer:
    """In-memory spans: (id, parent, name, start_ns, end_ns)."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "start": time.time_ns(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time_ns()
            self._stack.pop()

    def place(self, root: dict, name: str, start_ns: int, end_ns: int) -> None:
        """Add an externally timed span (Spark planner phase, stream
        batch) under the deepest span of `root`'s subtree that encloses
        it, clamped to that parent and trimmed so it overlaps no
        sibling: self times then still add up to the root's wall time."""
        start_ns = max(start_ns, root["start"])
        end_ns = min(end_ns, root["end"])
        if end_ns <= start_ns:
            return
        parent = root
        while True:
            inner = [
                s
                for s in self.spans
                if s["parent"] == parent["id"]
                and s["start"] <= start_ns
                and end_ns <= s["end"]
            ]
            if not inner:
                break
            parent = inner[0]
        for s in self.spans:
            if s["parent"] == parent["id"] and s["start"] < end_ns and start_ns < s["end"]:
                if s["start"] <= start_ns:
                    start_ns = s["end"]
                else:
                    end_ns = s["start"]
        if end_ns <= start_ns:
            return
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": parent["id"],
                "name": name,
                "start": start_ns,
                "end": end_ns,
            }
        )

    def self_times(self, root_ids: set[int]) -> tuple[dict[str, float], float]:
        """Self seconds per span name over the subtrees of `root_ids`,
        and the summed wall seconds of those roots."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        todo = [s for s in self.spans if s["id"] in root_ids]
        wall = sum(s["end"] - s["start"] for s in todo) / 1e9
        while todo:
            s = todo.pop()
            kids = sorted(children.get(s["id"], []), key=lambda k: k["start"])
            covered, last = 0, s["start"]
            for k in kids:
                lo, hi = max(k["start"], last), min(k["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            own = (s["end"] - s["start"] - covered) / 1e9
            out[s["name"]] = out.get(s["name"], 0.0) + own
            todo.extend(kids)
        return out, wall


def wrap(tracer: Tracer, module, attr: str, span_name: str, counts: dict) -> None:
    """Replace module.attr with a span-recording wrapper."""
    fn = getattr(module, attr)

    @functools.wraps(fn)
    def wrapper(*a, **kw):
        counts[span_name] = counts.get(span_name, 0) + 1
        with tracer.span(span_name, fn=attr):
            return fn(*a, **kw)

    setattr(module, attr, wrapper)


def install_wrappers(tracer: Tracer, counts: dict) -> None:
    """Wrap catalog.load_table and the store writers. Must run before
    the query modules import them (load_all)."""
    import importlib

    from data_engineering_hs_spark import catalog

    wrap(tracer, catalog, "load_table", "catalog.load_table", counts)
    for mod_name, attrs in STORE_FUNCTIONS.items():
        mod = importlib.import_module(mod_name)
        for attr in attrs:
            wrap(tracer, mod, attr, "store.commit", counts)


def planner_phases(df) -> dict[str, tuple[int, int]]:
    """Catalyst phase -> (start_ns, end_ns) from the query's tracker."""
    phases = df._jdf.queryExecution().tracker().phases()  # noqa: SLF001
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            ph = p.get()
            out[name] = (ph.startTimeMs() * 1_000_000, ph.endTimeMs() * 1_000_000)
    return out


def _mb(text: str) -> float:
    """MB in a formatted size metric such as '1.5 KiB (...)'."""
    units = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
    m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)", text)
    return float(m.group(1).replace(",", "")) * units[m.group(2)] / _MB if m else 0.0


_SEP = "\u0001"
# SQL metrics of Arrow / pandas UDF nodes. Spark exposes no row count
# for rows sent to Python, only bytes.
_PY_METRICS = {
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
}


class SparkLayers:
    """Executor, SQL-metric and streaming counters for one op at a time.

    Attribution: the benchmark sets one job group per op execution;
    streaming micro-batches run under their query's run id, which the
    listener records while the op runs."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        gw = self.sc._gateway  # noqa: SLF001
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0
        self.exec_start = 0
        self.run_ids: set[str] = set()
        self.progress: list[dict] = []
        layers = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                layers.run_ids.add(str(event.runId))

            def onQueryProgress(self, event):
                layers.progress.append(json.loads(event.progress.json))

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)
        self.exec_start = self.sql.executionsCount()
        self.run_ids.clear()
        self.progress.clear()

    def end(self, group: str) -> dict:
        """Counters for every job, stage and SQL execution of the op."""
        self.bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids: set[int] = set()
        for g in {group} | self.run_ids:
            job_ids.update(tracker.getJobIdsForGroup(g))
        stage_ids: list[int] = []
        for jid in job_ids:
            ids = self.store.job(jid).stageIds()
            stage_ids.extend(ids.apply(k) for k in range(ids.size()))
        c = {
            "executor.jobs": len(job_ids),
            "executor.stages": 0,
            "executor.shuffle_stages": 0,
            "executor.tasks": 0,
            "executor.run_s": 0.0,
            "executor.cpu_s": 0.0,
            "executor.gc_s": 0.0,
            "executor.input_mb": 0.0,
            "executor.shuffle_read_mb": 0.0,
            "executor.shuffle_write_mb": 0.0,
            "executor.spill_mb": 0.0,
        }
        heaviest = (0.0, None)
        for sid in sorted(set(stage_ids)):
            st = self.store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            c["executor.stages"] += 1
            if st.shuffleWriteRecords() > 0:
                c["executor.shuffle_stages"] += 1
            c["executor.tasks"] += st.numCompleteTasks()
            c["executor.run_s"] += st.executorRunTime() / 1000.0
            c["executor.cpu_s"] += st.executorCpuTime() / 1e9
            c["executor.gc_s"] += st.jvmGcTime() / 1000.0
            c["executor.input_mb"] += st.inputBytes() / _MB
            c["executor.shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            c["executor.shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            c["executor.spill_mb"] += st.diskBytesSpilled() / _MB
            if st.executorRunTime() > heaviest[0]:
                heaviest = (st.executorRunTime(), st)
        c["heaviest_stage_skew"] = 1.0
        st = heaviest[1]
        if st is not None:
            dist = self.store.taskSummary(st.stageId(), st.attemptId(), self.quantiles)
            if dist.isDefined():
                q = dist.get().executorRunTime()
                med, top = q.apply(0), q.apply(1)
                c["heaviest_stage_skew"] = top / med if med > 0 else 1.0
            c["heaviest_stage_run_s"] = heaviest[0] / 1000.0
        c.update(self._python_metrics(job_ids))
        c.update(self._stream_metrics())
        return c

    def _python_metrics(self, job_ids: set[int]) -> dict:
        out = dict.fromkeys(_PY_METRICS.values(), 0.0)
        n = self.sql.executionsCount()
        execs = self.sql.executionsList(self.exec_start, n - self.exec_start)
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            jobs = e.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            wanted = {}
            for item in filter(None, e.metrics().mkString(_SEP).split(_SEP)):
                name, acc, _ = item[len("SQLPlanMetric(") : -1].rsplit(",", 2)
                if name in _PY_METRICS:
                    wanted[acc] = _PY_METRICS[name]
            if not wanted:
                continue
            values = self.sql.executionMetrics(eid).mkString(_SEP)
            for item in values.split(_SEP):
                acc, _, text = item.partition(" -> ")
                if acc in wanted:
                    text = text.split("\n", 1)[1] if "\n" in text else text
                    out[wanted[acc]] += _mb(text)
        return out

    def _stream_metrics(self) -> dict:
        durations = []
        commit_ms = 0
        last_state: dict[str, tuple[float, float]] = {}
        for p in self.progress:
            d = p.get("durationMs", {})
            durations.append(d.get("triggerExecution", 0) / 1000.0)
            commit_ms += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ops = p.get("stateOperators", [])
            last_state[p["runId"]] = (
                sum(o.get("numRowsTotal", 0) for o in ops),
                sum(o.get("memoryUsedBytes", 0) for o in ops) / _MB,
            )
        return {
            "stream.batches": len(self.progress),
            "stream.batch_s": durations,
            "stream.commit_s": commit_ms / 1000.0,
            "stream.state_rows": sum(r for r, _ in last_state.values()),
            "stream.state_mb": sum(m for _, m in last_state.values()),
        }

    def batch_spans(self) -> list[tuple[int, int]]:
        """(start_ns, end_ns) of each micro-batch seen during the op."""
        import datetime as dt

        out = []
        for p in self.progress:
            t = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            start = int(t.timestamp() * 1e9)
            out.append((start, start + p["durationMs"].get("triggerExecution", 0) * 1_000_000))
        return out


def dir_state(roots: list[str]) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) for every file under `roots`."""
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present after the op that are new or changed."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)
