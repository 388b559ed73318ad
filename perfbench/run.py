"""Benchmark: registry operators end to end, one closed-loop client.

Usage (from the repository root):

    python3 perfbench/run.py --workload relational_sf0.01 --seed 1 --seconds 8 --trace 0

One process is one client that runs one op at a time on ``local[nproc]``:
``registry.QUERIES[key](spark, sf_dir).toPandas()``, with a fresh
DataFrame for every execution. A run

1. generates (or reuses) the corpus and its DuckDB oracle results; the
   seed picks the corpus's row-order variant and the op order in passes;
2. sets up three times: ``get_spark`` plus a first action, then
   ``bench._prep``. The first set-up starts the JVM and, on a new corpus,
   builds the layout cache; the other two start a new SparkContext in
   that JVM. ``setup_s`` is the median;
3. after the first set-up, runs a cold and a warm-up pass, which enter
   no metric; after each later one, a first pass on the new session and then half
   of the warm passes. There are ``--seconds`` over the workload's
   nominal pass time of them, and at least four. The first execution of
   each op in a session is value-checked against the oracles, every
   other one row-checked.

With ``--trace 1`` the passes record spans from this file around each
layer's entry points and read Spark's status store per op; warm passes
alternate traced and untraced, so tracing overhead is measured in the
same run. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the full record, per op,
goes to ``perfbench/.work/out/``. Exit status is non-zero if any op
failed or the repository's program is missing.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import os
import random
import signal
import statistics
import subprocess
import sys
import threading
import time

import corpus
import oracle
from spans import StatusReader, Tracer, op_layers
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUPS = 3  # set-ups per run; setup_s is their median
# The seed picks one of this many row-order variants of the corpus (and,
# in full, the op order). Bounding the variants bounds how many layout
# caches a checkout builds: each new corpus costs a layout build.
CORPUS_VARIANTS = 8
MIN_WARM_PASSES = 2 * (SETUPS - 1)  # two warm passes per measured session at least
WATCHDOG_S = 30.0  # per-op limit; the op's job group is cancelled after it
RUN_LIMIT_S = 170  # the whole process is stopped after this
TAIL_MIN_ABOVE = 10  # op_tail_s: highest percentile with this many samples above

# end-to-end metrics of the result line. op_p50_s, op_tail_s and
# fail_ratio are printed beside them: the pooled percentiles each sit on
# one op's samples and spread too widely between runs to gate, and
# fail_ratio is 0 on a correct run.
END_TO_END = (
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("pass_s", "s"),
    ("geomean_s", "s"),
    ("peak_rss_mb", "MB"),
)

# per_layer metric -> unit; the traced run reports every one
PER_LAYER = {
    "session.start_s": "s",
    "catalog.optimize_layout_s": "s",
    "catalog.analyze_tables_s": "s",
    "catalog.build_bucketed_s": "s",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.first_build_jobs": "count",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.idle_ratio": "ratio",
    "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.output_mb": "MB",
    "spark.fetch_s": "s",
    "self.setup_s": "s",
    "self.pass_s": "s",
    "self.op_s": "s",
    "self.build_s": "s",
    "self.plan_s": "s",
    "self.collect_s": "s",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_s": "s",
}

# per-op sums that are added up per pass
_PASS_SUMS = [k for k in PER_LAYER if k.startswith(("registry.build", "spark."))]
_PASS_SUMS.remove("spark.idle_ratio")


class MissingProgram(Exception):
    pass


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="kwery-spark operator benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    ap.add_argument("--work", default=WORK, help="cache and output directory")
    return ap.parse_args(argv)


def box() -> dict:
    """Session sizing from the machine: all usable cores, and a heap of a
    quarter of physical memory (2-8 GB)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_gb = max(2, min(8, mem_kb // (4 * 1024 * 1024)))
    return {"nproc": os.cpu_count(), "cpus": cpus, "mem_gb": round(mem_kb / 1024**2, 1),
            "heap": f"{heap_gb}g",
            # the same heap as a share of memory, for the initial size
            "heap_pct": math.floor(1000 * heap_gb * 1024 * 1024 / mem_kb) / 10}


def configure_env(work: str, heap: str, heap_pct: float) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # The initial heap starts at the size spark.driver.memory gives as the
    # maximum, so the heap is not resized during a run: a resizing heap
    # changed GC frequency, and op latency with it, from run to run. As a
    # share of memory, so the JVM that spark-submit uses to build the
    # command line (with its own small -Xmx) clamps it instead of failing.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:InitialRAMPercentage={heap_pct}"
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def import_program():
    """Import the repository's program: ``bench`` (for ``_prep``), the
    registry, the catalog and ``tools/check.py``."""
    for rel in ("bench.py", "__spark_entry__.py", "kwery_spark/registry.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise MissingProgram(f"{rel} not found under {ROOT}")
    import importlib.util

    saved = list(sys.path)
    sys.path.insert(0, ROOT)
    import bench  # registers every operator through __spark_entry__
    from kwery_spark import catalog, registry
    from kwery_spark.session import get_spark

    # check.py puts its own notion of the repo root on sys.path; restore ours
    spec = importlib.util.spec_from_file_location("kwery_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    sys.path[:] = saved
    sys.path.insert(0, ROOT)
    return bench, catalog, registry, get_spark, check


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """CPU time of the JVM ``pid`` plus this process, user and system.
    Time the hypervisor gave to other guests (steal) is not in it."""
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(f[11]) + int(f[12])) / _TICK + t.user + t.system


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024.0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def tail(samples: list[float]) -> tuple[float, int]:
    """(value, percentile) of the highest percentile that has at least
    TAIL_MIN_ABOVE samples above it; the maximum if there are too few."""
    s = sorted(samples)
    k = len(s) - TAIL_MIN_ABOVE - 1
    if k < 0:
        return s[-1], 100
    return s[k], int(100 * (k + 1) / len(s))


class Run:
    """One benchmark process: session, passes and the records they leave."""

    def __init__(self, args, wl, program, sf_dir: str, oracles: dict, sizing: dict):
        self.args, self.wl, self.sf_dir, self.oracles = args, wl, sf_dir, oracles
        self.bench, self.catalog, self.registry, self.get_spark, self.check = program
        self.cpus = sizing["cpus"]
        self.tracer = Tracer(bool(args.trace))
        self.off = Tracer(False)
        self.spark = None
        self.status = None
        self.next_op = 0
        self.record: dict = {"setups": [], "passes": []}

    # -- session ---------------------------------------------------------
    def _context(self):
        spark = self.get_spark("perfbench", cpus=self.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()  # first trivial action
        return spark

    def setup(self, i: int) -> None:
        """One set-up. The first starts the JVM and, on a new corpus,
        builds its layout cache; a later one stops the SparkContext and
        starts a new one in the same JVM, which finds the layout built, as
        every later process does, and rebuilds the per-context catalog
        state."""
        cat = self.catalog
        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("setup", index=i) as sp:
            t0 = time.perf_counter()
            with self.tracer.span("session"):
                self.spark = self._context()
            t1 = time.perf_counter()
            with self.tracer.span("catalog.optimize_layout"):
                cat.optimize_layout(self.spark, self.sf_dir)
            t2 = time.perf_counter()
            if self.tracer.enabled:
                for fn in (cat.analyze_tables, cat.build_bucketed):
                    with self.tracer.span(f"catalog.{fn.__name__}"):
                        fn(self.spark, self.sf_dir)
            with self.tracer.span("prep"):
                self.bench._prep(self.spark, self.sf_dir)
            dt = time.perf_counter() - t0
        self.record["setups"].append({"s": dt, "session_s": t1 - t0, "layout_s": t2 - t1,
                                      "span": sp["id"] if sp else None})
        if i == 0:
            self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        self.status = StatusReader(self.spark.sparkContext)

    def shutdown(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- ops -------------------------------------------------------------
    def execute(self, key: str, traced: bool) -> dict:
        """Run one op under its own job group and the watchdog."""
        self.next_op += 1
        op_id = self.next_op
        spark = self.spark
        sc = spark.sparkContext
        group = f"perfbench-{op_id}"
        tr = self.tracer if traced else self.off
        rec: dict = {"op": op_id, "key": key}
        fired = threading.Event()

        def _cancel() -> None:
            fired.set()
            sc.cancelJobGroup(group)

        sc.setJobGroup(group, key, interruptOnCancel=True)
        timer = threading.Timer(WATCHDOG_S, _cancel)
        timer.daemon = True
        timer.start()
        phases: dict = {}
        try:
            with tr.span("op", op=op_id, key=key) as osp:
                c0 = cpu_s(self.jvm_pid)
                t0 = time.perf_counter()
                with tr.span("build", op=op_id) as phases["build"]:
                    df = self.registry.QUERIES[key](spark, self.sf_dir)
                if traced:
                    with tr.span("plan", op=op_id) as phases["plan"]:
                        df._jdf.queryExecution().executedPlan()
                with tr.span("collect", op=op_id) as phases["collect"]:
                    pdf = df.toPandas()
                rec["s"] = time.perf_counter() - t0
                rec["cpu_s"] = cpu_s(self.jvm_pid) - c0
        except Exception as e:  # an op failure is counted, the run goes on
            kind = "TIMEOUT" if fired.is_set() else "ERROR"
            rec["error"] = f"{kind} {type(e).__name__}: {str(e)[:300]}"
            return rec
        finally:
            timer.cancel()
            sc.setJobGroup("", "")
        rec["rows"] = len(pdf)
        rec["result"] = (df, pdf)
        if traced:
            jobs = self.status.jobs(group)
            osp["jobs"] = jobs
            rec["layers"] = op_layers(osp, phases, jobs)
        return rec

    def value_check(self, rec: dict) -> None:
        """Full oracle comparison through tools/check.py's check_key."""
        df, pdf = rec["result"]
        key = rec["key"]
        fetched = oracle.Fetched(df.columns, df.dtypes, pdf)
        conn = oracle.CachedConn(self.oracles[key])
        ok, msg = self.check.check_key(
            self.spark, conn, key, lambda _s, _d: fetched, self.registry.ORACLES[key], self.sf_dir
        )
        if not ok:
            rec["error"] = f"MISMATCH {msg}"

    def row_check(self, rec: dict) -> None:
        want = len(self.oracles[rec["key"]])
        if rec["rows"] != want:
            rec["error"] = f"MISMATCH rowcount {rec['rows']} != oracle {want}"

    def one_pass(self, order: list[str], traced: bool, kind: str) -> dict:
        """One pass over ``order``. ``kind`` is ``cold`` (the JVM's first),
        ``warmup`` (its second), ``first`` (a new session's first) or
        ``warm``; the first execution of each op in a session is
        value-checked, the others row-checked."""
        tr = self.tracer if traced else self.off
        index = len(self.record["passes"])
        ops = []
        with tr.span("pass", index=index, kind=kind) as psp:
            for key in order:
                rec = self.execute(key, traced)
                if "error" not in rec:
                    (self.value_check if kind in ("cold", "first") else self.row_check)(rec)
                rec.pop("result", None)
                ops.append(rec)
        gc.collect()  # release this pass's py4j references outside any timed op
        p = {"index": index, "kind": kind, "traced": traced, "ops": ops,
             "s": sum(r["s"] for r in ops if "error" not in r),
             "span": psp["id"] if psp else None}
        self.record["passes"].append(p)
        return p

    def passes(self, seed: int, seconds: float) -> None:
        """SETUPS set-ups, each followed by passes on its new session: a
        cold and a warm-up pass after the first; a first pass and a share
        of the warm passes after each later one. The number of warm passes is fixed,
        ``seconds`` over the workload's nominal pass time, so every run of
        a workload takes the same samples.

        The cold pass runs in a cold JIT: it spread by a third between
        runs, so it enters no metric. It and the warm-up pass warm the JIT
        for what follows, like a long-lived driver that opens a new
        session. This
        box's speed drifts by a quarter within seconds, so the samples of
        each metric are split over two sessions rather than taken in one
        window."""
        rng = random.Random(seed)
        trace = self.tracer.enabled

        def order() -> list[str]:
            o = list(self.wl.ops)
            rng.shuffle(o)
            return o

        n_warm = max(MIN_WARM_PASSES, round(seconds / self.wl.nominal_pass_s))
        self.setup(0)
        self.one_pass(order(), traced=trace, kind="cold")
        # the JIT still compiles through the second pass: warm passes right
        # after the cold one ran 8% slower than later ones in 4 of 5 runs
        self.one_pass(order(), traced=False, kind="warmup")
        done = 0
        for i in range(1, SETUPS):
            self.setup(i)
            # session memos and the scan-plan cache are keyed by the
            # SparkContext's application id, so a new session starts them cold
            self.one_pass(order(), traced=trace, kind="first")
            share = n_warm // (SETUPS - 1) + (i - 1 < n_warm % (SETUPS - 1))
            for _ in range(share):
                done += 1
                # traced runs alternate traced and untraced warm passes
                self.one_pass(order(), traced=trace and done % 2 == 1, kind="warm")


def op_samples(passes: list[dict]) -> dict[str, list[float]]:
    """Successful op latencies per key."""
    out: dict[str, list[float]] = {}
    for p in passes:
        for r in p["ops"]:
            if "error" not in r:
                out.setdefault(r["key"], []).append(r["s"])
    return out


def best_pass(samples: dict[str, list[float]]) -> float:
    """A pass with every op at its best latency. The host's speed moves
    by a quarter, at times by half, within a run (steal time of up to
    100 s in a two-minute run); a median of a few samples moves with it,
    the best sample much less."""
    return sum(min(v) for v in samples.values())


def end_to_end(run: Run) -> dict:
    rec = run.record
    first = [p for p in rec["passes"] if p["kind"] == "first"]
    # a traced run's end-to-end figures come from its untraced passes
    warm = [p for p in rec["passes"] if p["kind"] == "warm" and not p["traced"]]
    samples = op_samples(warm)
    flat = [s for v in samples.values() for s in v]
    tail_s, tail_pct = tail(flat)
    rec["op_p50_s"] = statistics.median(flat)
    rec["tail"] = {"s": tail_s, "percentile": tail_pct, "samples": len(flat)}
    rec["warm_passes"] = len(warm)
    return {
        "setup_s": statistics.median(s["s"] for s in rec["setups"]),
        "first_pass_s": best_pass(op_samples(first)),
        "pass_s": best_pass(samples),
        "geomean_s": math.exp(statistics.fmean(math.log(min(v)) for v in samples.values())),
        "peak_rss_mb": vm_hwm_mb(run.jvm_pid),
    }


def per_layer(run: Run) -> dict:
    tracer = run.tracer
    spans = {s["id"]: s for s in tracer.spans}
    self_t = tracer.self_times()
    rec = run.record

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0

    def dur(s):
        return s["end"] - s["start"]

    setup_ids = [s["span"] for s in rec["setups"]]
    child = {}
    for s in tracer.spans:
        if s["parent"] in setup_ids:
            child.setdefault(s["name"], []).append(dur(s))
    out = {
        "session.start_s": rec["setups"][0]["session_s"],
        "catalog.optimize_layout_s": med(child.get("catalog.optimize_layout", [])),
        "catalog.analyze_tables_s": med(child.get("catalog.analyze_tables", [])),
        "catalog.build_bucketed_s": med(child.get("catalog.build_bucketed", [])),
        "self.setup_s": med(self_t[i] for i in setup_ids),
    }
    first = [p for p in rec["passes"] if p["kind"] == "first"]
    warm = [p for p in rec["passes"] if p["kind"] == "warm"]
    out["registry.first_build_jobs"] = med(sum(r["layers"]["registry.build_jobs"]
                                               for r in p["ops"] if "layers" in r) for p in first)
    traced = [p for p in warm if p["traced"]]
    per_pass = []
    for p in traced:
        sums = {k: 0.0 for k in _PASS_SUMS}
        for r in p["ops"]:
            for k in _PASS_SUMS:
                sums[k] += r.get("layers", {}).get(k, 0.0)
        core_s = sums["spark.job_wall_s"] * run.cpus
        sums["spark.idle_ratio"] = 1.0 - sums["spark.task_s"] / core_s if core_s else 0.0
        kinds = {"op": 0.0, "build": 0.0, "plan": 0.0, "collect": 0.0}
        for s in tracer.spans:
            if s["name"] in kinds and _in_pass(s, p["span"], spans):
                kinds[s["name"]] += self_t[s["id"]]
        for k, v in kinds.items():
            sums[f"self.{k}_s"] = v
        sums["self.pass_s"] = self_t[p["span"]]
        per_pass.append(sums)
    for k in _PASS_SUMS + ["spark.idle_ratio", "self.pass_s", "self.op_s", "self.build_s",
                           "self.plan_s", "self.collect_s"]:
        out[k] = med(pp[k] for pp in per_pass)
    t_pass = best_pass(op_samples(traced))
    u_pass = best_pass(op_samples([p for p in warm if not p["traced"]]))
    out.update({"trace.pass_s": t_pass, "trace.untraced_pass_s": u_pass,
                "trace.overhead_s": t_pass - u_pass})
    return out


def _in_pass(span: dict, pass_id: int, spans: dict) -> bool:
    pid = span["parent"]
    while pid is not None:
        if pid == pass_id:
            return True
        pid = spans[pid]["parent"]
    return False


def _fmt(v) -> str:
    return "n/a" if v is None else f"{v:.4f}"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl.sf
    work = os.path.abspath(args.work)
    sizing = box()
    configure_env(work, sizing["heap"], sizing["heap_pct"])
    try:
        program = import_program()
    except MissingProgram as e:
        print(f"perfbench: {e}; run from a checkout of the repository", file=sys.stderr)
        return 2
    bench, catalog, registry, get_spark, check = program
    load_before = [round(x, 2) for x in os.getloadavg()]
    steal_before = steal_s()
    sf_dir, meta, gen_s = corpus.ensure(os.path.join(work, "corpus"), sf,
                                        args.seed % CORPUS_VARIANTS)
    oracles, oracle_s = oracle.load(os.path.join(work, "oracles"), meta["fingerprint"], sf_dir,
                                    wl.ops, registry.ORACLES, check.duck_conn)
    run = Run(args, wl, program, sf_dir, oracles, sizing)
    try:
        run.passes(args.seed, args.seconds)
        e2e = end_to_end(run)
        layers = per_layer(run) if args.trace else None
    finally:
        run.shutdown()
    rec = run.record
    ops = [r for p in rec["passes"] for r in p["ops"]]
    failed = [r for r in ops if "error" in r]
    info = {
        "workload": wl.name, "ops": list(wl.ops), "seed": args.seed, "sf": sf,
        "trace": args.trace, "seconds": args.seconds, "corpus": os.path.basename(sf_dir),
        "fingerprint": meta["fingerprint"], "gen_s": gen_s, "oracle_s": oracle_s,
        "layout_build_s": rec["setups"][0]["layout_s"], "commit": git_commit(), **sizing,
        "loadavg_before": load_before, "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        "steal_s": round(steal_s() - steal_before, 2),
    }
    print(" ".join(f"{k}={v}" for k, v in info.items() if k != "ops"))
    for r in failed:
        print(f"FAILED op {r['op']} {r['key']}: {r['error']}")
    notes = {
        "setup_s": f"median of {SETUPS}: " + " ".join(f"{s['s']:.3f}" for s in rec["setups"]),
        "first_pass_s": f"sum of per-op bests of {SETUPS - 1} first passes",
        "pass_s": f"sum of per-op bests of {rec['warm_passes']} warm passes",
        "geomean_s": f"of per-op bests of {rec['warm_passes']} warm passes",
    }
    units = dict(END_TO_END)
    for name, unit in END_TO_END:
        print(f"{name} {_fmt(e2e[name])} {unit}  {notes.get(name, '')}".rstrip())
    t = rec["tail"]
    print(f"op_p50_s {rec['op_p50_s']:.4f} s  median of {t['samples']} warm op samples")
    print(f"op_tail_s {t['s']:.4f} s  p{t['percentile']} of {t['samples']} warm op samples")
    print(f"fail_ratio {len(failed) / len(ops):.4f} ratio  {len(failed)}/{len(ops)} op executions")
    if layers is not None:
        for name, unit in PER_LAYER.items():
            print(f"{name} {_fmt(layers[name])} {unit}")
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{wl.name}_seed{args.seed}_trace{args.trace}_{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump({"info": info, "end_to_end": e2e, "per_layer": layers, "record": rec,
                   "spans": run.tracer.spans}, fh, default=str)
    print(f"record {os.path.relpath(path, ROOT)}")
    metrics = (
        {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        if layers is not None
        else {k: {"value": e2e[k], "unit": units[k]} for k in units}
    )
    ok = not failed and all(v["value"] is not None for v in metrics.values())
    print(json.dumps({"correct": ok, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    signal.alarm(RUN_LIMIT_S)  # SIGALRM's default action ends the process
    sys.exit(main(sys.argv[1:]))
