#!/usr/bin/env python3
"""The repository benchmark: graph build and superstep queries, end to
end and layer by layer.

Usage (from the repository root)::

    python3 perfbench/run.py --workload events-sf0.01 --seed 1 --seconds 30 --trace 0

Load model: one closed-loop client in one process; each call into the
library waits for the previous one. Spark runs on ``local[<cores>]``.
Results are seconds per call at the workload's stated input size.

A run writes its inputs, starts the session seven times (the median
start is ``setup_s``), warms the JVM up with an untimed build of a tiny
input, then repeats passes while a further pass still fits in
``--seconds`` (at least one pass). A pass is one build, then
pagerank -> cc -> lp -> tc twice; only the second, warm round is
timed. Every result is checked against a NumPy oracle
(perfbench/oracle.py) outside the timed region. Each timing is the
median over the passes.

With ``--trace 1`` every call is labelled ``<workload>:<layer>:<call>``
through ``sc.setJobDescription``, Spark writes its event log, each pass
also runs a checkpointed PageRank and its resume after a simulated
kill, and the run prints the per-layer ledger (perfbench/ledger.py)
instead of the end-to-end metrics. The last stdout line is the result
JSON; the line before it records the machine's load at start.

Every file a run writes lives in a private directory under
``.perfbench_tmp/`` in the checkout, removed on every exit path.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import oracle  # noqa: E402
from ledger import ledger, read_events  # noqa: E402


@dataclass(frozen=True)
class Workload:
    kind: str  # "events" (fixed data) or "synth" (seeded generator)
    size: int  # events rows, or synthetic conversations
    warm_size: int  # same unit, for the untimed warm-up input
    at_scale: bool  # run every loop in the above-gate branch


WORKLOADS = {
    # 10,000 events / 150 users: 10,005 vertices, 13,184 edges
    "events-sf0.01": Workload("events", 10_000, 600, at_scale=False),
    # 600 conversations: about 9,800 vertices and 10,600 edges
    "synth-above-gate": Workload("synth", 600, 30, at_scale=True),
}
EVENTS_SEED = 20240101  # the events workload ignores --seed

# short name -> (layer module, call), used for span labels
OPS = {
    "derive_plain": ("graph.keyed", "keyed_graph"),
    "derive_member": ("graph.keyed", "keyed_graph_membership"),
    "prepare": ("graph.prepared", "prepare_graph"),
    "sym_member": ("graph.derive", "canonicalize_edges"),
    "pagerank": ("algos.pagerank", "PreparedGraph.pagerank"),
    "cc": ("algos.cc", "PreparedGraph.connected_components"),
    "lp": ("algos.lp", "PreparedGraph.label_propagation"),
    "tc": ("algos.tc", "triangle_count"),
    "pagerank_ckpt": ("engine.superstep", "pagerank_checkpointed"),
    "pagerank_resume": ("engine.superstep", "pagerank_resumed"),
    "warmup": ("session", "warmup"),
}
BUILD_OPS = ("derive_plain", "derive_member", "prepare", "sym_member")
QUERY_OPS = ("pagerank", "cc", "lp", "tc")
LOOP_OPS = ("pagerank", "cc", "lp", "tc", "pagerank_ckpt")
SESSION_STARTS = 7
# each pass builds once, then runs the four queries twice: the first
# call of a query pays that query's JIT and codegen cost, so it is
# checked but not timed
QUERY_REPS = 2
# supersteps per PageRank and LP call: bench.py's run_suite uses 10 and
# 5; a run here has about 30 s for all calls (see README.md)
PR_ITERS, LP_ITERS = 3, 3
# checkpointed PageRank: a durable checkpoint every CKPT_EVERY of
# CKPT_ITERS supersteps; the resume restarts from the first one
CKPT_ITERS, CKPT_EVERY = 6, 3


class CheckFailed(Exception):
    pass


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def machine_load() -> dict:
    jvms = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as fh:
                jvms += fh.read().strip() == "java"
        except OSError:
            pass
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return {"competing_jvms": jvms, "loadavg": [float(x) for x in load]}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def as_array(df, col: str, n: int) -> np.ndarray:
    """A (vid, col) result as an array indexed by vid 0..n-1."""
    pdf = df.toPandas()
    vid = pdf["vid"].to_numpy()
    if len(pdf) != n or len(np.unique(vid)) != n or vid.min() < 0 or vid.max() >= n:
        raise CheckFailed(f"{col}: expected one row per vid 0..{n - 1}, got {len(pdf)} rows")
    out = np.empty(n, dtype=pdf[col].dtype)
    out[vid] = pdf[col].to_numpy()
    return out


def same(got: np.ndarray, want: np.ndarray) -> bool:
    """Ranks agree to a relative 1e-6; integer labels exactly."""
    if got.dtype.kind == "f":
        return np.allclose(got, want, rtol=1e-6, atol=0.0)
    return np.array_equal(got, want)


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def median_of(rows: list, attr: str) -> float:
    return statistics.median(getattr(t, attr) for t in rows) if rows else 0.0


class Run:
    """One benchmark run: session, inputs, passes, result."""

    def __init__(self, name: str, wl: Workload, seed: int, trace: bool, tmp: str) -> None:
        self.name, self.wl, self.trace, self.tmp = name, wl, trace, tmp
        self.seed = EVENTS_SEED if wl.kind == "events" else seed
        self.spans: list[tuple[str, float, float]] = []
        self.samples: dict[str, list[float]] = {}  # end-to-end
        self.layer: dict[str, list[float]] = {}  # per-layer, from outside Spark
        self.attempted = self.failed = 0
        self.spark = self.jvm = self.app_id = None
        # the superstep queries, as bench.py's run_suite calls them
        # but with fewer supersteps; (call, result column)
        self.queries = {
            "pagerank": (lambda pg, r: pg.pagerank(
                tol=0.0, max_iter=PR_ITERS, fused_iters=5, persist_result=False, runner=r), "rank"),
            "cc": (lambda pg, r: pg.connected_components(runner=r, persist_result=False), "label"),
            "lp": (lambda pg, r: pg.label_propagation(
                max_iter=LP_ITERS, fused_iters=5, persist_result=False, runner=r), "label"),
        }

    # --- inputs and session ----------------------------------------
    def write_inputs(self) -> None:
        for sub, size in (("input", self.wl.size), ("warm", self.wl.warm_size)):
            path = os.path.join(self.tmp, sub)
            if self.wl.kind == "events":
                os.makedirs(path)
                inputs.write_events(path, size, self.seed)
            else:
                inputs.write_synth_transcripts(self.spark, path, size, self.seed)
        tr = inputs.read_transcripts(os.path.join(self.tmp, "input"), self.wl.kind)
        self.oracle = {m: oracle.keyed_graph(tr, m) for m in (False, True)}
        g = self.oracle[False]
        self.want = {
            "pagerank": oracle.pagerank(g, tol=0.0, max_iter=PR_ITERS),
            "cc": oracle.connected_components(g),
            "lp": oracle.label_propagation(g, max_iter=LP_ITERS),
            "tc": oracle.triangles_per_vertex(self.oracle[True]),
            "pagerank_ckpt": oracle.pagerank(g, tol=0.0, max_iter=CKPT_ITERS),
        }

    def start_session(self):
        from essentials_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(self.tmp, "eventlog"),
            })
        return get_spark(master=f"local[{cores}]", app_name="perfbench", shuffle_partitions=cores, extra_conf=conf)

    def setup(self) -> None:
        """Start the session SESSION_STARTS times (the first launches
        the JVM; the run keeps the last), write the inputs, warm up."""
        starts = []
        for i in range(SESSION_STARTS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            self.spark.range(1).count()
            starts.append(time.perf_counter() - t0)
            if i == 0:
                self.jvm = self.spark.sparkContext._gateway.proc
                self.write_inputs()
        self.app_id = self.spark.sparkContext.applicationId
        log("session starts " + " ".join(f"{s:.2f}s" for s in starts))
        self.samples["setup_s"] = [statistics.median(starts)]
        self.layer["session.start_s"] = [statistics.median(starts)]
        self.layer["session.cold_start_s"] = [starts[0]]
        # a cold JVM spends its first build mostly on JIT and codegen;
        # a tiny input pays that here, so build_s times a warm build
        t0 = time.perf_counter()
        self.span("warmup", lambda: self.build(os.path.join(self.tmp, "warm"), timed=False)["pg"].close())
        self.layer["session.warmup_s"] = [time.perf_counter() - t0]
        log(f"warm-up {self.layer['session.warmup_s'][0]:.2f}s")

    # --- timing helpers --------------------------------------------
    def span(self, op: str, fn):
        layer, call = OPS[op]
        label = f"{self.name}:{layer}:{call}"
        sc = self.spark.sparkContext
        if self.trace:
            sc.setJobDescription(label)
        w0 = time.time()
        try:
            return fn()
        finally:
            if self.trace:
                sc.setJobDescription(None)
                self.spans.append((label, w0 * 1000.0, time.time() * 1000.0))

    def timed(self, op: str, fn):
        t0 = time.perf_counter()
        out = self.span(op, fn)
        dt = time.perf_counter() - t0
        log(f"{op} {dt:.2f}s")
        return out, dt

    def call(self, op: str, runner, fn):
        """Time ``fn(runner)`` and a count of its result, as bench.py does."""

        def go():
            df = fn(runner)
            df.count()
            return df

        return self.timed(op, go)

    def record(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)

    def record_layer(self, metric: str, value: float) -> None:
        self.layer.setdefault(metric, []).append(value)

    def attempt(self, what: str, fn) -> bool:
        """Run ``fn`` (a timed call plus its output check) and count it."""
        self.attempted += 1
        try:
            fn()
            return True
        except Exception as exc:  # counted and reported; the run goes on
            self.failed += 1
            print(f"perfbench: {what} failed: {exc!r}", file=sys.stderr)
            if not isinstance(exc, CheckFailed):
                traceback.print_exc(file=sys.stderr)
            return False

    def loop_metrics(self, op: str, runner) -> None:
        """Superstep count and median superstep time from runner.metrics."""
        rows = [r for r in runner.metrics if "edges_processed" in r]
        per, prev_t, prev_i = [], 0.0, 0
        for r in rows:
            per.append((r["elapsed_sec"] - prev_t) / max(1, r["iteration"] - prev_i))
            prev_t, prev_i = r["elapsed_sec"], r["iteration"]
        self.record_layer(f"{op}.supersteps", prev_i)
        self.record_layer(f"{op}.superstep_s_p50", statistics.median(per) if per else 0.0)

    # --- the operations --------------------------------------------
    def read_graph(self, path: str, membership: bool):
        from essentials_spark.graph.keyed import keyed_graph_from_events, keyed_graph_from_transcripts

        if self.wl.kind == "events":
            return keyed_graph_from_events(self.spark, path, include_conv_membership=membership)
        return keyed_graph_from_transcripts(self.spark.read.parquet(path), include_conv_membership=membership)

    def build(self, path: str, timed: bool = True) -> dict:
        """Both keyed graphs plus the static tables, as bench.py builds them."""
        from essentials_spark.engine.superstep import truncate_plan
        from essentials_spark.graph.derive import Graph, canonicalize_edges
        from essentials_spark.graph.prepared import prepare_graph

        def plain():
            kg = self.read_graph(path, False)
            return kg, kg.graph.vertices.count(), kg.graph.edges.count()

        def member():
            kg = self.read_graph(path, True)
            return kg, kg.graph.edges.count()

        def prepare():
            pg = prepare_graph(kg.graph)
            return pg, pg.pr_st.df.count(), pg.sym_st.df.count()

        def sym_member():
            sym = truncate_plan(canonicalize_edges(kg_m.graph.edges, symmetrize=True, dedup=True, drop_self_loops=True))
            return sym, sym.count()

        run = self.timed if timed else (lambda op, fn: (fn(), 0.0))
        (kg, n, m), t1 = run("derive_plain", plain)
        (kg_m, m_m), t2 = run("derive_member", member)
        (pg, m_pr, m_sym), t3 = run("prepare", prepare)
        (sym_m, m_sym_m), t4 = run("sym_member", sym_member)
        if timed:
            for op, t in zip(BUILD_OPS, (t1, t2, t3, t4)):
                self.record_layer(f"build.{op}_s", t)
            self.record("build_s", t1 + t2 + t3 + t4)
        return {"kg": kg, "kg_m": kg_m, "pg": pg, "n": n, "m_sym": m_sym, "m_sym_m": m_sym_m,
                "g_sym_m": Graph(vertices=kg_m.graph.vertices, edges=sym_m)}

    def check_build(self, b: dict) -> None:
        for g, kg in ((self.oracle[False], b["kg"]), (self.oracle[True], b["kg_m"])):
            e = kg.graph.edges.select("src", "dst").toPandas()
            got = np.sort(e["src"].to_numpy() * g.n + e["dst"].to_numpy())
            expect(kg.graph.vertices.count() == g.n, "build: vertex count")
            expect(np.array_equal(got, np.sort(g.src * g.n + g.dst)), "build: edge set")
        expect(b["m_sym"] == len(self.oracle[False].symmetric()[0]), "build: symmetric table rows")
        expect(b["m_sym_m"] == len(self.oracle[True].symmetric()[0]), "build: symmetric membership rows")

    def one_pass(self, i: int) -> None:
        from essentials_spark.algos import triangle_count
        from essentials_spark.engine.superstep import SuperstepRunner

        b = {}

        def build():
            b.update(self.build(os.path.join(self.tmp, "input")))
            self.check_build(b)

        if not self.attempt("build", build):
            return
        pg, n = b["pg"], b["n"]
        try:
            for rep in range(QUERY_REPS):
                warm = rep == 0
                times = {}
                for op, (fn, col) in self.queries.items():

                    def query(op=op, fn=fn, col=col):
                        r = SuperstepRunner(self.spark, op)
                        out, times[op] = self.call("warmup" if warm else op, r, lambda r: fn(pg, r))
                        if not warm:
                            self.loop_metrics(op, r)
                        expect(same(as_array(out, col, n), self.want[op]), f"{op}: {col}s")

                    self.attempt(op, query)

                def tc():
                    (pv, total), times["tc"] = self.timed(
                        "warmup" if warm else "tc", lambda: triangle_count(b["g_sym_m"], pre_symmetrized=True))
                    want = self.want["tc"]
                    expect(total == want.sum(), "tc: total")
                    got = pv.toPandas()
                    full = np.zeros(len(want), dtype=np.int64)
                    full[got["vid"].to_numpy()] = got["tc"].to_numpy()
                    expect(np.array_equal(full, want), "tc: per-vertex counts")

                self.attempt("tc", tc)
                if warm:
                    continue
                for op, t in times.items():
                    self.record(f"{op}_s", t)
                if len(times) == len(QUERY_OPS):
                    self.record("suite_s", sum(times.values()))
            if self.trace:
                self.checkpoint_resume(pg, n, os.path.join(self.tmp, "ckpt", f"pass{i}"))
        finally:
            pg.close()
            leaked = [t.name for t in self.spark.catalog.listTables() if t.name.startswith("es_")]
            self.record_layer("teardown.leaked_tables", len(leaked))

    def checkpoint_resume(self, pg, n: int, ck: str) -> None:
        """PageRank with durable checkpoints; then delete every
        checkpoint after the first (a kill right after it) and resume."""
        from essentials_spark.engine.superstep import SuperstepRunner

        def run(r):
            return pg.pagerank(tol=0.0, max_iter=CKPT_ITERS, persist_result=False, runner=r)

        full = {}

        def uninterrupted():
            r = SuperstepRunner(self.spark, "pagerank", checkpoint_dir=ck, checkpoint_every=CKPT_EVERY)
            out, t = self.call("pagerank_ckpt", r, run)
            self.record_layer("pagerank_ckpt.wall_s", t)
            self.loop_metrics("pagerank_ckpt", r)
            full["out"] = as_array(out, "rank", n)
            expect(same(full["out"], self.want["pagerank_ckpt"]), "pagerank_ckpt: ranks")

        if not self.attempt("pagerank_ckpt", uninterrupted):
            return
        base = os.path.join(ck, "pagerank")
        iters = sorted(d for d in os.listdir(base) if d.startswith("iter="))
        self.record_layer("ckpt.durable_writes", len(iters))
        self.record_layer("ckpt.bytes_written", sum(dir_bytes(os.path.join(base, d)) for d in iters))
        for d in iters[1:]:
            shutil.rmtree(os.path.join(base, d))
        first = int(iters[0].split("=")[1])

        def resumed():
            r = SuperstepRunner(self.spark, "pagerank", checkpoint_dir=ck, checkpoint_every=CKPT_EVERY)
            out, t = self.call("pagerank_resume", r, run)
            self.record_layer("pagerank_resume.wall_s", t)
            rows = [x for x in r.metrics if "edges_processed" in x]
            redone = rows[-1]["iteration"] - first if rows else 0
            self.record_layer("ckpt.recomputed_share", redone / CKPT_ITERS)
            expect(np.array_equal(as_array(out, "rank", n), full["out"]), "pagerank_resume: differs from uninterrupted run")

        self.attempt("pagerank_resume", resumed)

    # --- the run ---------------------------------------------------
    def measure(self, seconds: float) -> None:
        """Passes while another one (as long as the last) still fits."""
        t_end = time.perf_counter() + seconds
        passes = 0
        while True:
            t0 = time.perf_counter()
            self.one_pass(passes)
            passes += 1
            if 2 * time.perf_counter() - t0 > t_end:
                break
        self.layer["passes"] = [passes]
        self.layer["jvm.peak_rss_mb"] = [vm_hwm_mb(self.jvm.pid)]

    def close(self) -> None:
        """Stop Spark, then the JVM, and wait for it to exit."""
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        try:
            self.spark.stop()
        finally:
            self.spark = None
            gw.shutdown()
            self.jvm.stdin.close()
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()

    def per_layer(self) -> dict[str, float]:
        """Ledger of the event log, by operation, medians over passes."""
        out = {k: statistics.median(v) for k, v in self.layer.items()}
        # the kept session's log: a v2 directory of numbered event files
        log_dir = os.path.join(self.tmp, "eventlog", f"eventlog_v2_{self.app_id}")
        files = sorted(glob.glob(os.path.join(log_dir, "events_*")), key=lambda f: int(os.path.basename(f).split("_")[1]))
        if not files:
            raise RuntimeError(f"no event log in {log_dir}")
        events = (ev for f in files for ev in read_events(f))
        by_call: dict[str, list] = {}
        for label, t in ledger(events, self.spans):
            by_call.setdefault(label.split(":", 2)[2], []).append(t)
        by_op = {op: by_call.get(call, []) for op, (_, call) in OPS.items()}

        # build: the four build calls of each pass, summed per pass
        per_pass = list(zip(*(by_op[op] for op in BUILD_OPS)))
        for k in ("jobs", "tasks", "input_bytes", "shuffle_write_bytes", "output_bytes", "executor_run_s", "driver_gap_s"):
            out[f"build.{k}"] = statistics.median(sum(getattr(t, k) for t in p) for p in per_pass) if per_pass else 0.0
        for op in LOOP_OPS:
            rows = by_op[op]
            for k in ("jobs", "tasks", "driver_gap_s", "executor_run_s", "shuffle_write_bytes",
                      "shuffle_read_bytes", "spill_bytes", "aqe_plan_share"):
                out[f"{op}.{k}"] = median_of(rows, k)
            if op != "tc":
                out[f"{op}.jobs_per_superstep"] = out[f"{op}.jobs"] / max(1, out[f"{op}.supersteps"])
        builds, suites = ([sum(t.wall_s for t in p) for p in zip(*(by_op[op] for op in ops))]
                          for ops in (BUILD_OPS, QUERY_OPS))
        out["trace.build_suite_wall_s"] = statistics.median(builds) + statistics.median(suites)
        return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still cleans up, through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "essentials_spark")):
        print(f"perfbench: no essentials_spark/ package beside {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    wl = WORKLOADS[args.workload]
    load = machine_load()

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=scratch)
    for sub in ("local", "jvm", "py", "eventlog", "ckpt"):
        os.makedirs(os.path.join(tmp, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    # every JVM the run starts keeps its temp files in the run directory
    # and writes no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'jvm')}"
    tempfile.tempdir = None
    if wl.at_scale:
        # the library's own gate knob: 0 rows sends every superstep
        # loop down the above-gate branch (AQE on, fused PageRank)
        os.environ["SPARK_GRAFT_SUPERSTEP_AQE_MAX_ROWS"] = "0"
    run = Run(args.workload, wl, args.seed, bool(args.trace), tmp)
    try:
        run.setup()
        run.measure(args.seconds)
        run.close()
        if args.trace:
            metrics = run.per_layer()
        else:
            metrics = {k: statistics.median(v) for k, v in run.samples.items()}
    finally:
        run.close()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"machine_load_at_start": load, "workload": args.workload, "seed": run.seed}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
