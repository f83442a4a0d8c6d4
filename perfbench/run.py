#!/usr/bin/env python3
"""Layered, oracle-checked benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. One run:

1. set-up: imports, session.get_spark and the registry load (setup_s);
2. generates the workload's input tables from the seed (reported on its
   own line, not part of setup_s) under $SPARK_LOCAL_DIRS, which the
   run points inside the checkout;
3. runs one cold pass over the workload's ops, then checks every op's
   result against its oracle on those exact inputs, outside any timing;
4. runs the workload's fixed number of warm-up passes, then
   round(S / nominal pass time) steady passes (at least 3). The count
   depends on S only, never on how fast the passes run, so two builds'
   medians come from the same pass indices of the warm-up curve.

--data-dir DIR reads the ten tables from DIR instead of generating
them; it exists to compare the generated inputs with the engine's test
data and is not part of the benchmark's command.

The machine is a VM whose host is shared. The host at times takes a
third of the guest's CPU time, and apart from that its speed moves by
20-40% from one minute to the next. Every end-to-end time is therefore
reported on a reference host: the measured wall time, times the share
of guest CPU time (busy + steal ticks in /proc/stat, as bench.py reads
them) that the host did not steal over the same interval, divided by a
host factor: the median of the host probes (a fixed CPU kernel) taken
around that interval, over PROBE_REF_S. The raw wall times, steal
shares and probes are in the record.

Every op is one closed-loop call by one client thread: build the
DataFrame through the registry, then collect() it, so the whole result
is computed (a count() lets the optimizer drop columns and aggregates).
Each timed execution's row count must equal the checked result's.

--trace 0 prints the end-to-end metrics. --trace 1 alternates traced
and untraced steady passes and prints the per-layer metrics, each
layer's span self time and the tracing overhead (median traced pass
minus median untraced pass). The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}. The full run record
(per-pass series, checks, counters, spans) is written under
.perfbench/records/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# A run pays about 45 s of fixed cost on 4 cores (JVM start, input
# generation, cold pass, checks, warm-up). Op lists are sized so that a
# run stays under a minute: the benchmark's 48 runs must fit an hour.
# The JVM keeps getting faster for many passes; `warmup` takes the
# steep part of that curve off (the first warm pass runs about 50%
# slower than the fifth) and `nominal_pass_s` (a warm pass on 4 vCPUs)
# turns --seconds into a fixed number of steady passes.
WORKLOADS = {
    # Fixed overhead dominates: DataFrame building (relation
    # resolution), Catalyst phases, job scheduling and the Arrow round
    # trip, over sf0.1-sized inputs.
    "headline_sf0.1": {
        "sf": 0.1,
        "ops": ["q5_region_volume", "s_cosine_topk_arrow", "d_minhash_lsh"],
        "warmup": 3,
        "nominal_pass_s": 3.4,
    },
    # Writes beside reads: store commits, a foreachBatch MERGE swap and
    # an availableNow streaming drain, over sf0.01-sized inputs.
    "ingest_write": {
        "sf": 0.01,
        "ops": ["st_cdc_apply", "m_incremental_mv"],
        "warmup": 4,
        "nominal_pass_s": 3.3,
    },
}
MIN_STEADY_PASSES = 3
# _host_probe() on a quiet 4-vCPU host of the kind the figures in
# NOTES.md come from; end-to-end times are scaled to such a host.
PROBE_REF_S = 0.02
# Checked beside the op (same input, outside timing) because the op
# itself has no oracle.
AUDITS = {"d_minhash_lsh": "d_minhash_lsh_audit"}

ALL_OPS = sorted({op for w in WORKLOADS.values() for op in w["ops"]})
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "space_amp": "ratio",
}
# Summed over the ops of one traced steady pass, median over passes.
PASS_SUMS = (
    "catalog.load_table_calls",
    "planner.analysis_s",
    "planner.optimization_s",
    "planner.planning_s",
    "executor.jobs",
    "executor.stages",
    "executor.shuffle_stages",
    "executor.tasks",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "executor.input_mb",
    "executor.shuffle_read_mb",
    "executor.shuffle_write_mb",
    "executor.spill_mb",
    "plans.exchanges",
    "plans.broadcast_joins",
    "plans.sort_merge_joins",
    "python.sent_mb",
    "python.received_mb",
    "store.files_written",
    "store.bytes_written_mb",
    "stream.batches",
    "stream.commit_s",
    "stream.state_rows",
    "stream.state_mb",
)
SPAN_NAMES = (
    "pass",
    "op",
    "queries.build",
    "catalog.load_table",
    "store.commit",
    "action",
    "planner.analysis",
    "planner.optimization",
    "planner.planning",
    "stream.batch",
)
_UNITS = {"_s": "s", "_mb": "MB", "_ratio": "ratio", "_skew": "ratio"}
PER_LAYER = {
    name: next((u for suf, u in _UNITS.items() if name.endswith(suf)), "count")
    for name in (
        "session.start_s",
        "peak_rss_mb",
        "queries.build_s",
        "catalog.load_table_s",
        *PASS_SUMS,
        "executor.core_busy_ratio",
        "executor.stage_skew",
        "store.commit_s",
        "stream.batch_p50_s",
        *(f"self.{n}_s" for n in SPAN_NAMES),
        "trace.pass_s",
        "trace.overhead_s",
        *(f"op.{op}.p50_s" for op in ALL_OPS),
    )
}
# Exact counters that must repeat from pass to pass and run to run.
# A changed digest or row count is a wrong result, not only a drift.
EXACT = (
    "rows",
    "digest",
    "plans.exchanges",
    "plans.broadcast_joins",
    "plans.sort_merge_joins",
    "executor.jobs",
    "executor.shuffle_stages",
    "store.files_written",
)


def _host_ticks() -> tuple[int, int]:
    """(busy, steal) jiffies of the aggregate /proc/stat cpu line, with
    bench.py's definition: busy = user + nice + system + irq + softirq."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def _host_probe() -> float:
    """CPU seconds of a fixed kernel (sort 1M int64, then a 200k-step
    interpreter loop), best of 3. Thread CPU time leaves out both the
    host's steal (the guest kernel accounts it apart) and preemption by
    the JVM's threads, so what is left tracks how fast the host runs a
    core: its clock, and how hard its neighbours press on the shared
    caches and memory."""
    import numpy as np

    x = np.random.default_rng(0).integers(0, 1 << 62, 1 << 20)
    best = float("inf")
    for _ in range(3):
        t = time.thread_time()
        np.sort(x)
        n = 0
        for i in range(200_000):
            n += i
        best = min(best, time.thread_time() - t)
    return best


def _unstolen(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the guest's CPU time between two _host_ticks() readings
    that the host did not steal."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return busy / (busy + steal) if busy + steal > 0 else 1.0


def _prepare_env(workload: str) -> dict[str, str]:
    """Point every scratch location of Spark, the JVM and Python inside
    the checkout, and wipe what an earlier run left there."""
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {n: os.path.join(run_dir, n) for n in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the machine is shared: a 2 GB driver heap holds every op's data
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [ROOT, os.environ.get("PYTHONPATH")])
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    dirs["inputs"] = os.path.join(dirs["spark-local"], "perfbench-inputs", workload)
    return dirs


def _proc_tree(root_pid: int) -> tuple[float, float]:
    """(resident MB, CPU seconds) of root_pid's descendants: the driver
    JVM and the Python workers it forks. CPU includes reaped children."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    tree, frontier = set(), {root_pid}
    while frontier:
        frontier = {p for p, f in stats.items() if int(f[1]) in frontier} - tree
        tree |= frontier
    rss = sum(int(stats[p][21]) for p in tree) * os.sysconf("SC_PAGE_SIZE")
    ticks = sum(int(x) for p in tree for x in stats[p][11:15])
    return rss / (1024.0 * 1024.0), ticks / os.sysconf("SC_CLK_TCK")


def _disk_bytes(roots: list[str]) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for root in roots
        for d, _, files in os.walk(root)
        for f in files
    )


def _tail(xs: list[float]) -> dict:
    """The highest of the 50/75/90/95/99th percentiles of the pooled op
    latencies that has at least ten samples beyond it."""
    n = len(xs)
    pcts = [p for p in (50, 75, 90, 95, 99) if n * (100 - p) / 100 >= 10]
    if not pcts:
        return {"pct": None, "value": max(xs, default=0.0), "samples": n, "beyond": 0}
    v = statistics.quantiles(xs, n=100, method="inclusive")[pcts[-1] - 1]
    return {"pct": pcts[-1], "value": v, "samples": n, "beyond": sum(x > v for x in xs)}


def _trend(xs: list[float]) -> float:
    """Least-squares slope of a pass series as a share of its median
    (0.01: each pass 1% slower than the one before)."""
    if len(xs) < 3:
        return 0.0
    mx, my = (len(xs) - 1) / 2, statistics.fmean(xs)
    num = sum((i - mx) * (x - my) for i, x in enumerate(xs))
    den = sum((i - mx) ** 2 for i in range(len(xs)))
    return num / den / statistics.median(xs)


class Bench:
    """One workload's session, passes, checks and counters."""

    def __init__(self, args, dirs: dict[str, str]) -> None:
        from layers import Tracer

        self.args = args
        self.dirs = dirs
        self.ops = WORKLOADS[args.workload]["ops"]
        self.tracer = Tracer()
        self.calls: dict[str, int] = {}
        self.layers = None
        self.peak_rss = 0.0
        self.expected_rows: dict[str, int] = {}
        self.bad_ops: set[str] = set()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # host probes before and after set-up, and after the last pass;
        # each pass record has the one taken before it
        self.probes: dict[str, float] = {}

    def setup(self) -> float:
        """Time to a ready session: imports, get_spark, registry load."""
        t0 = time.perf_counter()
        if self.args.trace:
            from layers import install_wrappers

            install_wrappers(self.tracer, self.calls)
        from data_engineering_hs_spark.queries import REGISTRY, load_all
        from data_engineering_hs_spark.session import get_spark

        load_all()
        self.registry = REGISTRY
        conf = {
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.dirs['tmp']}",
        }
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).collect()
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # noqa: SLF001
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    def write_roots(self) -> list[str]:
        """Where ops keep their stores: the registry's per-query work
        dirs under TMPDIR, and the table warehouse."""
        tmp = self.dirs["tmp"]
        return [self.dirs["warehouse"]] + [
            os.path.join(tmp, d) for d in os.listdir(tmp) if d.startswith("spark_q_")
        ]

    def run_op(self, name: str, label: str, traced: bool, keep: bool) -> dict:
        from layers import dir_state, planner_phases, written

        rec: dict = {"op": name}
        if traced:
            self.layers.begin(label)
            files_before = dir_state(self.write_roots())
            loads_before = self.calls.get("catalog.load_table", 0)
        tr = self.tracer
        ticks0 = _host_ticks()
        t0 = time.perf_counter()
        with tr.span("op", op=name) as op_span:
            try:
                with tr.span("queries.build"):
                    df = self.registry[name].fn(self.spark, self.dirs["inputs"])
                t1 = time.perf_counter()
                with tr.span("action"):
                    rows = df.collect()
                rec["build_s"] = t1 - t0
                rec["latency_s"] = time.perf_counter() - t0
                rec["unstolen"] = _unstolen(ticks0, _host_ticks())
                rec["rows"] = len(rows)
            except Exception:  # one failing op must not end the run
                rec["error"] = traceback.format_exc(limit=3)
                rows, df = None, None
        self.attempted += 1
        if "error" in rec:
            self.failed += 1
            self.errors.append(f"{label}: {rec['error']}")
        elif name in self.expected_rows and rec["rows"] != self.expected_rows[name]:
            self.failed += 1
            self.errors.append(
                f"{label}: {rec['rows']} rows, the checked result had "
                f"{self.expected_rows[name]}"
            )
        elif name in self.bad_ops:
            self.failed += 1
        if traced and df is not None:
            from data_engineering_hs_spark.plans.inspect import plan_summary

            for phase, (s, e) in planner_phases(df).items():
                tr.place(op_span, f"planner.{phase}", s, e)
                rec[f"planner.{phase}_s"] = (e - s) / 1e9
            rec.update(self.layers.end(label))
            for s, e in self.layers.batch_spans():
                tr.place(op_span, "stream.batch", s, e)
            summary = plan_summary(df)
            for k in ("exchanges", "broadcast_joins", "sort_merge_joins"):
                rec[f"plans.{k}"] = summary[k]
            n_files, n_bytes = written(files_before, dir_state(self.write_roots()))
            rec["store.files_written"] = n_files
            rec["store.bytes_written_mb"] = n_bytes / (1024.0 * 1024.0)
            rec["catalog.load_table_calls"] = (
                self.calls.get("catalog.load_table", 0) - loads_before
            )
        if keep and df is not None:
            rec["_rows"], rec["_cols"] = rows, df.columns
        return rec

    def run_pass(self, kind: str, index: int, traced: bool) -> dict:
        probe = _host_probe()
        pid = os.getpid()
        ticks0 = _host_ticks()
        cpu0 = _proc_tree(pid)[1]
        self.tracer.enabled = traced
        sampling = 0.0
        t0 = time.perf_counter()
        with self.tracer.span("pass", kind=kind, index=index) as span:
            recs = []
            for name in self.ops:
                ts = time.perf_counter()
                self.peak_rss = max(self.peak_rss, _proc_tree(pid)[0])
                sampling += time.perf_counter() - ts
                recs.append(self.run_op(name, f"{kind}{index}:{name}", traced, kind == "cold"))
        # the RSS samples read all of /proc: not the engine's time
        wall = time.perf_counter() - t0 - sampling
        self.tracer.enabled = False
        unstolen = _unstolen(ticks0, _host_ticks())
        rss, cpu1 = _proc_tree(pid)
        self.peak_rss = max(self.peak_rss, rss)
        return {
            "kind": kind,
            "index": index,
            "traced": traced,
            "wall_s": wall,
            "rss_sampling_s": sampling,
            "host_probe_s": probe,
            "unstolen": unstolen,
            "cpu_s": cpu1 - cpu0,
            "span_id": span["id"] if span else None,
            "ops": recs,
        }

    def check(self, cold: dict) -> dict[str, list[str]]:
        """Compare each op's cold-pass result with its oracle, and run
        the audit twin of an op that has none."""
        from checks import check, digest

        problems = {}
        inputs = self.dirs["inputs"]
        for rec in cold["ops"]:
            name = rec["op"]
            if "error" in rec:
                problems[name] = ["errored in the cold pass"]
                self.bad_ops.add(name)
                continue
            rows, cols = rec.pop("_rows"), rec.pop("_cols")
            self.expected_rows[name] = len(rows)
            rec["digest"] = digest(cols, rows)
            p = check(name, self.registry[name].oracle, cols, rows, inputs)
            if name in AUDITS:
                audit = self.registry[AUDITS[name]]
                try:
                    df = audit.fn(self.spark, inputs)
                    a_rows, a_cols = df.collect(), df.columns
                    p += [f"{audit.name}: {x}" for x in check(audit.name, audit.oracle, a_cols, a_rows, inputs)]
                except Exception:
                    p.append(f"{audit.name} errored: {traceback.format_exc(limit=3)}")
            if p:
                problems[name] = p
                self.bad_ops.add(name)
                self.failed += 1
        return problems


def _exact_counters(passes: list[dict]) -> tuple[dict, list[str]]:
    """Per-op exact counters, and the ones that did not repeat."""
    seen: dict[str, dict] = {}
    drift = []
    for p in passes:
        for rec in p["ops"]:
            if "error" in rec:
                continue
            ref = seen.setdefault(rec["op"], {})
            for k in EXACT:
                if k not in rec:
                    continue
                if k in ref and ref[k] != rec[k]:
                    drift.append(
                        f"{rec['op']}.{k}: {ref[k]} then {rec[k]} ({p['kind']}{p['index']})"
                    )
                ref.setdefault(k, rec[k])
    return seen, drift


RESULT_KEYS = ("rows", "digest")


def _cross_run_drift(path: str, layout: dict, counters: dict) -> list[tuple[str, str, str]]:
    """(op, counter, message) for each counter that differs from an
    earlier run of the same workload, seed and trace mode on the same
    input bytes in this checkout; then store these counters."""
    drift = []
    if os.path.exists(path):
        with open(path) as f:
            prior = json.load(f)
        if prior["layout"] == layout:
            for op, ref in prior["counters"].items():
                for k, v in counters.get(op, {}).items():
                    if k in ref and ref[k] != v:
                        drift.append((op, k, f"{op}.{k}: {ref[k]} in an earlier run, {v} now"))
    with open(path, "w") as f:
        json.dump({"layout": layout, "counters": counters}, f, indent=1, sort_keys=True)
    return drift


def _per_layer(bench: Bench, traced: list[dict], plain: list[dict], cores: int) -> tuple[dict, list[str]]:
    """Per-layer metrics from the traced steady passes."""
    spans = bench.tracer.spans
    per_pass = []
    problems = []
    for p in traced:
        ops = [r for r in p["ops"] if "error" not in r]
        m = {k: sum(r.get(k, 0) for r in ops) for k in PASS_SUMS}
        m["queries.build_s"] = sum(r["build_s"] for r in ops)
        m["executor.core_busy_ratio"] = m["executor.run_s"] / (p["wall_s"] * cores)
        heavy = max(ops, key=lambda r: r.get("heaviest_stage_run_s", 0), default={})
        m["executor.stage_skew"] = heavy.get("heaviest_stage_skew", 1.0)
        batches = [b for r in ops for b in r.get("stream.batch_s", [])]
        m["stream.batch_p50_s"] = statistics.median(batches) if batches else 0.0
        self_s, wall = bench.tracer.self_times({p["span_id"]})
        if abs(sum(self_s.values()) - wall) > 0.001:
            problems.append(f"span self times miss pass wall time by {sum(self_s.values()) - wall:.4f} s")
        for n in SPAN_NAMES:
            m[f"self.{n}_s"] = self_s.get(n, 0.0)
        # inclusive time of the outermost load_table / store.commit spans
        ids = {p["span_id"]}
        incl = {"catalog.load_table": 0, "store.commit": 0}
        for s in spans:
            if s["parent"] in ids:
                ids.add(s["id"])
                if s["name"] in incl and spans[s["parent"]]["name"] != s["name"]:
                    incl[s["name"]] += s["end"] - s["start"]
        m["catalog.load_table_s"] = incl["catalog.load_table"] / 1e9
        m["store.commit_s"] = incl["store.commit"] / 1e9
        per_pass.append(m)
    metrics = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    metrics["trace.pass_s"] = statistics.median(p["wall_s"] * p["unstolen"] for p in traced)
    metrics["trace.overhead_s"] = metrics["trace.pass_s"] - (
        statistics.median(p["wall_s"] * p["unstolen"] for p in plain)
        if plain
        else metrics["trace.pass_s"]
    )
    return metrics, problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", help="read the tables from here instead of generating them")
    args = ap.parse_args()

    dirs = _prepare_env(args.workload)
    if args.data_dir:
        dirs["inputs"] = os.path.abspath(args.data_dir)
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    bench = Bench(args, dirs)
    bench.probes["before_setup"] = _host_probe()
    ticks0 = _host_ticks()
    setup_s = bench.setup()
    setup_unstolen = _unstolen(ticks0, _host_ticks())
    bench.probes["after_setup"] = _host_probe()
    try:
        return _run(args, dirs, bench, setup_s, setup_unstolen)
    finally:
        bench.stop()


def _run(args, dirs, bench: Bench, setup_s: float, setup_unstolen: float) -> int:
    import datagen

    wl = WORKLOADS[args.workload]
    sc = bench.spark.sparkContext
    print(f"perfbench: setup {setup_s:.3f} s", flush=True)
    t0 = time.perf_counter()
    if not args.data_dir:
        # in a child process, so the measured process is the same as
        # with --data-dir
        subprocess.run(
            [sys.executable, datagen.__file__, str(args.seed), str(wl["sf"]), dirs["inputs"]],
            check=True,
        )
    gen_s = time.perf_counter() - t0
    layout = datagen.layout(dirs["inputs"])
    input_bytes = sum(t["bytes"] for t in layout.values())
    print(f"perfbench: input generation {gen_s:.3f} s", flush=True)

    ticks0 = _host_ticks()
    cold = bench.run_pass("cold", 0, False)
    t_check = time.perf_counter()
    problems = bench.check(cold)
    check_s = time.perf_counter() - t_check
    warm = [bench.run_pass("warmup", i, False) for i in range(wl["warmup"])]
    if args.trace:
        from layers import SparkLayers

        bench.layers = SparkLayers(bench.spark)
    n_steady = max(MIN_STEADY_PASSES, round(args.seconds / wl["nominal_pass_s"]))
    # a traced run alternates traced and untraced passes, n of each
    steady = [
        bench.run_pass("steady", i, bool(args.trace) and i % 2 == 0)
        for i in range(n_steady * (1 + args.trace))
    ]
    ticks1 = _host_ticks()

    bench.probes["after_last_pass"] = _host_probe()
    # How much slower than the reference host each phase ran. The host's
    # speed moves within a run, so each time gets the probes taken
    # around it.
    around = {
        "setup": [bench.probes["before_setup"], bench.probes["after_setup"]],
        "cold": [cold["host_probe_s"], (warm or steady)[0]["host_probe_s"]],
        "steady": [p["host_probe_s"] for p in steady] + [bench.probes["after_last_pass"]],
    }
    host_factor = {k: statistics.median(v) / PROBE_REF_S for k, v in around.items()}
    plain = [p for p in steady if not p["traced"]]
    by_op: dict[str, list[float]] = {}
    for p in plain:
        for r in p["ops"]:
            if "error" not in r:
                by_op.setdefault(r["op"], []).append(r["latency_s"] * r["unstolen"])
    op_p50 = {op: statistics.median(xs) for op, xs in by_op.items()}

    record_base = os.path.join(
        WORK, "records", f"{args.workload}.seed{args.seed}.trace{args.trace}"
    )
    counters, drift = _exact_counters([cold, *warm, *steady])
    for op, key, msg in _cross_run_drift(record_base + ".counters.json", layout, counters):
        drift.append(msg)
        if key in RESULT_KEYS:
            problems.setdefault(op, []).append(f"result changed: {msg}")
            bench.failed += 1

    if args.trace:
        traced = [p for p in steady if p["traced"]]
        metrics, trace_problems = _per_layer(bench, traced, plain, sc.defaultParallelism)
        if trace_problems:
            problems["trace"] = trace_problems
        metrics["session.start_s"] = setup_s
        metrics["peak_rss_mb"] = bench.peak_rss
        for op in ALL_OPS:
            metrics[f"op.{op}.p50_s"] = op_p50.get(op, 0.0)
        metrics = {k: metrics[k] for k in PER_LAYER}
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s * setup_unstolen / host_factor["setup"],
            "cold_pass_s": cold["wall_s"] * cold["unstolen"] / host_factor["cold"],
            "pass_s": statistics.median(p["wall_s"] * p["unstolen"] for p in plain)
            / host_factor["steady"],
            "space_amp": (input_bytes + _disk_bytes(bench.write_roots())) / input_bytes,
        }
        units = END_TO_END

    d_busy, d_steal = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
    series = [p["wall_s"] for p in [cold, *warm, *steady]]
    adjusted = [p["wall_s"] * p["unstolen"] for p in [cold, *warm, *steady]]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "host_busy_ticks": d_busy,
        "host_steal_ticks": d_steal,
        "host_steal_pct_of_busy": 100.0 * d_steal / d_busy if d_busy > 0 else 0.0,
        "setup_s": setup_s,
        "setup_unstolen": setup_unstolen,
        "host_probe_s": bench.probes,
        "host_factor": host_factor,
        "input_generation_s": gen_s,
        "check_s": check_s,
        "inputs": {"dir": os.path.relpath(dirs["inputs"], ROOT), "sf": wl["sf"], "tables": layout},
        "warmup_passes": wl["warmup"],
        "steady_passes": len(steady),
        "pass_series_s": series,
        "pass_series_unstolen_s": adjusted,
        "steady_trend_per_pass": _trend(adjusted[1 + wl["warmup"] :]),
        "op_p50_s": op_p50,
        "op_tail": _tail([x for xs in by_op.values() for x in xs]),
        "peak_rss_mb": bench.peak_rss,
        "checks": problems,
        "counter_drift": drift,
        "errors": bench.errors,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "failed_ops_ratio": bench.failed / bench.attempted,
        "metrics": metrics,
        "passes": [{k: v for k, v in p.items() if k != "span_id"} for p in [cold, *warm, *steady]],
    }
    with open(record_base + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(record_base + ".spans.json", "w") as f:
            json.dump(bench.tracer.spans, f)

    print(
        f"perfbench: {args.workload} seed={args.seed} steady passes={len(steady)} "
        f"trend {100 * record['steady_trend_per_pass']:+.2f}%/pass, "
        f"series {[round(x, 3) for x in adjusted]} (steal taken out)",
        flush=True,
    )
    print(
        f"perfbench: host steal {record['host_steal_pct_of_busy']:.1f}% of busy, "
        f"master {sc.master}, defaultParallelism {sc.defaultParallelism}",
        flush=True,
    )
    for name, p in problems.items():
        print(f"perfbench: CHECK FAILED {name}: {p}", flush=True)
    for d in drift:
        print(f"perfbench: COUNTER DRIFT {d}", flush=True)
    for e in bench.errors[:5]:
        print(f"perfbench: ERROR {e}", flush=True)
    print(
        f"perfbench: failed_ops_ratio {record['failed_ops_ratio']:.4f} "
        f"({bench.failed}/{bench.attempted})",
        flush=True,
    )
    result = {
        "correct": not problems and bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
