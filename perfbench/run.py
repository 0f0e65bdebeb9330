#!/usr/bin/env python3
"""Benchmark of the enem_spark extraction engine.

    python3 perfbench/run.py --workload exam_extract --seed 1 --seconds 15 --trace 0

Run from the repository root. One driver process, one outstanding Spark
action at a time (a closed loop with one client), on ``local[4]``. The
seed makes the inputs (``inputs.py``); the program only ever sees the
staged stores. Every workload iteration is checked against the
pure-Python twin of its output. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` stages both
stores, repeats the untraced warm-up, then restarts the Spark context with
the event log on, runs every layer's cumulative leg under its own job
group, and reports the per-layer metrics (``DESIGN.md`` lists them and
what each should move).

Exit status: 0 when every output matched its twin; 1 when an iteration
failed or differed (the JSON line is still printed); 2 when the program
under test cannot be imported (nothing is printed on standard output).

Scratch files (stores, Spark local dirs, event logs, spans, per-run result
files) go under ``perfbench/.work`` and nowhere else.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Callable

import eventlog
import inputs
import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

CORES = 4
# The driver heap is pinned (and touched at start): with the 8g default,
# G1 grew the heap of identical exam_extract runs to anywhere between 2.4
# and 4.4 GB, following the host's speed. Pinned, peak_rss_mb is the heap
# plus what changes with the program: off-heap memory (Arrow buffers,
# metaspace, threads) and the Python workers.
DRIVER_MEMORY = "2g"
PROBE_OPS = 500_000  # raw-CPU probe size: about 0.25 s on 4 cores
WARMUP_MIN, WARMUP_MAX = 3, 4
STEADY = 0.9  # the first iteration not 10% faster than the best is steady
TIMED_MIN = 3
LEG_REPS = 2
PAGE_SAMPLE = 1_000  # pages timed in-process for the *.page_us metrics
RUNFS_OPS = (
    "exists",
    "list_files",
    "list_names",
    "delete_prefix",
    "delete_file",
    "read_bytes",
    "write_bytes",
    "create_exclusive",
    "ensure_dir",
    "mtime",
)


def declared_metrics() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json lists
    them; a listed metric the run does not compute is a KeyError."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans around each call into a layer: name, start, end, parent, and
    the run's trace id. Every span is timed; records are kept (and written
    out when the run ends) only when tracing is on."""

    def __init__(self, trace_id: str, keep: bool):
        self.trace_id = trace_id
        self.keep = keep
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        rec = {
            "trace": self.trace_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
        }
        if self.keep:
            self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0
            rec["dur"] = rec["end"] - rec["start"]


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def _identity(batches):
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _exam_cfg():
    from enem_spark.extract import ExtractorConfig

    return ExtractorConfig(output_type="json")


def _exam_extract(spark, store):
    from enem_spark.extract import extract_questions

    return extract_questions(spark.read.parquet(store), _exam_cfg())


def _html_main(spark, store):
    from enem_spark.htmlops import extract_main_content

    return extract_main_content(spark.read.parquet(store))


def _exam_legs(spark, store):
    from enem_spark.extract import extract_pages, extract_questions

    pages = spark.read.parquet(store)
    cols = pages.select("url", "html", "text")
    return [
        ("scan", lambda: _noop(spark.read.parquet(store))),
        ("arrow", lambda: _noop(cols.mapInPandas(_identity, cols.schema))),
        ("pages", lambda: _noop(extract_pages(pages, _exam_cfg()))),
        ("questions", lambda: _noop(extract_questions(pages, _exam_cfg()))),
    ]


def _html_legs(spark, store):
    from enem_spark.htmlops import extract_main_content

    pages = spark.read.parquet(store)
    cols = pages.select("doc_id", "url", "html")
    return [
        ("scan", lambda: _noop(spark.read.parquet(store))),
        ("arrow", lambda: _noop(cols.mapInPandas(_identity, cols.schema))),
        ("udf", lambda: _noop(extract_main_content(pages))),
    ]


@dataclass(frozen=True)
class Workload:
    kind: str  # which store: 'exam' | 'html'
    twin_cols: list
    output: Callable  # (spark, store) -> the output DataFrame


WORKLOADS = {
    "exam_extract": Workload("exam", inputs.EXAM_TWIN_COLS, _exam_extract),
    "html_main": Workload("html", inputs.HTML_TWIN_COLS, _html_main),
}
# store kind -> (spark, store) -> [(leg name, action)], cumulative
LEGS = {"exam": _exam_legs, "html": _html_legs}


# ---------------------------------------------------------------------------
# output check
# ---------------------------------------------------------------------------


def _md5_sums(cols):
    """Spark side of ``inputs.twin_digest``: sums of the high and low 32 bits
    of the first 64 bits of md5 over each row's ``inputs.row_key``."""
    from pyspark.sql import functions as F

    key = F.concat_ws(
        inputs.SEP,
        *[F.coalesce(F.col(c).cast("string"), F.lit(inputs.NULL)) for c in cols],
    )
    h = F.md5(key)
    half = lambda pos: F.conv(F.substring(h, pos, 8), 16, 10).cast("long")
    return [F.sum(half(1)), F.sum(half(9))]


def _xxhash_sums(cols):
    """Order-insensitive digest terms: sums of both 32-bit halves of each
    row's xxhash64 (both fit a long for any row count below 2**31)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*cols)
    return [F.sum(h.bitwiseAND(0xFFFFFFFF)), F.sum(F.shiftrightunsigned(h, 32))]


def digest(df, twin_cols) -> tuple:
    """(rows, twin-column digest, all-column digest) in one Spark action.
    Hashing every column makes the action materialize every output column."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)), *_md5_sums(twin_cols), *_xxhash_sums(df.columns)
    ).first()
    return int(row[0]), (row[1] or 0, row[2] or 0), (row[3], row[4])


class TwinCheck:
    """Compares an output digest with the twin's (``inputs.twin_digest``):
    exact row count, equal twin-column digest, and an all-column digest
    equal to the first one seen (the twin does not produce every output
    column)."""

    def __init__(self, twin: tuple):
        self.rows, self.twin = twin[0], (twin[1], twin[2])
        self.all_cols = None

    def check(self, d, same_columns: bool = True) -> str | None:
        rows, twin, all_cols = d
        if rows != self.rows:
            return f"{rows} rows, twin has {self.rows}"
        if twin != self.twin:
            return "twin-column digest differs from the twin"
        if same_columns:
            if self.all_cols is None:
                self.all_cols = all_cols
            elif all_cols != self.all_cols:
                return "all-column digest changed between iterations"
        return None


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_session(event_log: str | None = None):
    from enem_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    extra = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
    }
    if event_log:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", cores=CORES, driver_memory=DRIVER_MEMORY, extra=extra)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.jvm.ProcessHandle.current().pid())


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait for it: it exits once its stdin closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# ---------------------------------------------------------------------------
# measurement
# ---------------------------------------------------------------------------


class Runner:
    def __init__(self, spark, wl: Workload, store: str, check: TwinCheck, tracer: Tracer):
        self.spark, self.wl, self.store = spark, wl, store
        self.check, self.tracer = check, tracer
        self.attempted = self.failed = 0

    def iteration(self, name: str) -> float:
        """One checked workload iteration; returns its wall seconds. An
        exception is counted as a failure and the run goes on."""
        self.attempted += 1
        with self.tracer.span(name) as s:
            try:
                err = self.check.check(digest(self.wl.output(self.spark, self.store), self.wl.twin_cols))
            except Exception:  # the measuring loop must survive one bad iteration
                err = traceback.format_exc()
        if err:
            self.failed += 1
            print(f"perfbench: {name} failed: {err}", file=sys.stderr)
        return s["dur"]

    def warm_up(self, pid: int) -> tuple[list[float], tuple]:
        """Iterate until an iteration is no longer 10% faster than the best
        before it (after at least WARMUP_MIN, at most WARMUP_MAX warm-up
        iterations). That steady iteration is the first timed one: returns
        the warm-up walls and (its wall, the tree's CPU and the clock at its
        start)."""
        walls: list[float] = []
        while True:
            cpu0, t0 = procstat.cpu_seconds(pid), time.perf_counter()
            wall = self.iteration(f"warmup{len(walls)}")
            steady = len(walls) >= WARMUP_MIN and wall >= STEADY * min(walls)
            if steady or len(walls) == WARMUP_MAX:
                return walls, (wall, cpu0, t0)
            walls.append(wall)

    def timed(self, seconds: float, pid: int, first: tuple, at_least: int = TIMED_MIN) -> dict:
        """Time iterations for ``seconds`` from the start of the first one
        (at least ``at_least``), with the CPU and peak memory of the tree."""
        wall, cpu0, t0 = first
        walls = [wall]
        while len(walls) < at_least or time.perf_counter() - t0 < seconds:
            walls.append(self.iteration(f"timed{len(walls)}"))
        cpu = procstat.cpu_seconds(pid) - cpu0
        rss = procstat.peak_rss_by_process(pid)
        return {"walls": walls, "cpu_s": cpu, "peak_rss_mb": sum(rss.values()), "rss_by_process": rss}


def page_us(fn, items, reps: int = 3) -> float:
    """Median over ``reps`` passes of ``fn`` over ``items``, per item, in µs."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(items)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(items) * 1e6


def in_process_page_us(seed: int) -> dict[str, float]:
    """oracle.page_us and htmlops.page_us on a seeded page sample, no Spark."""
    from enem_spark.extract import _process_one_page
    from enem_spark.htmlops import extract_mains

    docs = inputs.documents(seed).iloc[:PAGE_SAMPLE]
    exam = inputs.exam_pages(docs)
    exam = list(zip(exam["url"], exam["text"]))
    html = list(inputs.html_pages(docs)["html"])
    cfg = _exam_cfg()
    return {
        "oracle.page_us": page_us(
            lambda pages: [_process_one_page(u, None, t, cfg) for u, t in pages], exam
        ),
        "htmlops.page_us": page_us(extract_mains, html),
    }


@contextmanager
def counting_runfs_ops():
    """Count control-plane calls on ``runfs.LocalRunFS`` while active."""
    from enem_spark import runfs

    counts: Counter = Counter()
    saved = {name: getattr(runfs.LocalRunFS, name) for name in RUNFS_OPS}

    def wrap(name, fn):
        def counted(self, *args, **kwargs):
            counts[name] += 1
            return fn(self, *args, **kwargs)

        return counted

    for name, fn in saved.items():
        setattr(runfs.LocalRunFS, name, wrap(name, fn))
    try:
        yield counts
    finally:
        for name, fn in saved.items():
            setattr(runfs.LocalRunFS, name, fn)


def traced_legs(spark, runner: Runner, stores: dict, exam_check: TwinCheck) -> dict:
    """Every layer on every traced run: after one checked warm-up iteration
    (fresh context: new Python workers) and one untimed pass of the other
    store's last leg (its path is still cold), run each store's
    cumulative legs LEG_REPS times under job group '<kind>.<leg>#<rep>',
    then the checked workload action ('full#<rep>'); then one exactly-once
    lineage run over the exam store ('lineage#0'), its committed questions
    checked against the exam twin. Returns leg walls and runfs call count."""
    from enem_spark import lineage

    sc = spark.sparkContext
    tracer = runner.tracer
    sc.setJobGroup("warm#0", "warm#0")
    runner.iteration("traced-warmup")
    by_kind = {kind: make(spark, stores[kind]) for kind, make in LEGS.items()}
    for kind, kind_legs in by_kind.items():
        if kind != runner.wl.kind:
            sc.setJobGroup(f"warm-{kind}#0", f"warm-{kind}#0")
            kind_legs[-1][1]()
    legs = [
        (f"{kind}.{name}", action)
        for kind, kind_legs in by_kind.items()
        for name, action in kind_legs
    ]
    walls: dict[str, list[float]] = {}
    for rep in range(LEG_REPS):
        for name, action in legs:
            sc.setJobGroup(f"{name}#{rep}", f"{name}#{rep}")
            with tracer.span(f"leg:{name}") as s:
                action()
            walls.setdefault(name, []).append(s["dur"])
        sc.setJobGroup(f"full#{rep}", f"full#{rep}")
        walls.setdefault("full", []).append(runner.iteration("leg:full"))

    out = os.path.join(WORK, "commit")
    shutil.rmtree(out, ignore_errors=True)
    sc.setJobGroup("lineage#0", "lineage#0")
    runner.attempted += 1
    with tracer.span("leg:lineage"), counting_runfs_ops() as counts:
        lineage.run_extraction(
            spark, spark.read.parquet(stores["exam"]), _exam_cfg(), out, "bench"
        )
    sc.setJobGroup("lineage-check#0", "lineage-check#0")
    committed = lineage.committed_questions(spark, out)
    # the committed table carries partition and run columns the twin lacks:
    # compare the exact committed row count and the twin columns
    err = exam_check.check(digest(committed, inputs.EXAM_TWIN_COLS), same_columns=False)
    if err:
        runner.failed += 1
        print(f"perfbench: committed questions: {err}", file=sys.stderr)
    sc.setJobGroup("", "")
    return {"walls": walls, "runfs_ops": sum(counts.values())}


def layer_metrics(legs: dict, groups: dict, untraced_walls, exam_rows: int) -> dict:
    """The per-layer metrics of one traced run, except the in-process ones."""
    med = statistics.median
    walls = {name: med(w) for name, w in legs["walls"].items()}
    out = {}

    def per_rep(group, fn):
        return med(fn(groups[f"{group}#{r}"]) for r in range(LEG_REPS))

    def node(group, prefix, key):
        return per_rep(group, lambda g: sum(
            c[key] for n, c in g.nodes.items() if n.startswith(prefix)
        ))

    out["sources.scan_s"] = walls["exam.scan"]
    out["sources.bytes_read"] = node("exam.scan", "Scan", "files_read_bytes")
    out["extract.arrow_s"] = walls["exam.arrow"] - walls["exam.scan"]
    out["extract.pages_s"] = walls["exam.pages"] - walls["exam.arrow"]
    out["extract.questions_s"] = walls["exam.questions"] - walls["exam.pages"]
    py = lambda key: node("exam.questions", "ArrowEvalPython", key)
    out["extract.py_run_s"] = py("run_ms") / 1e3
    out["extract.py_bytes_sent"] = py("bytes_sent")
    out["extract.py_bytes_recv"] = py("bytes_recv")
    q = lambda key: per_rep("exam.questions", lambda g: g.task[key])
    out["extract.shuffle_write_bytes"] = q("shuffle_write_bytes")
    out["extract.spill_bytes"] = q("spill_bytes")
    out["extract.questions_out"] = exam_rows
    out["htmlops.arrow_s"] = walls["html.arrow"] - walls["html.scan"]
    out["htmlops.udf_s"] = walls["html.udf"] - walls["html.arrow"]
    out["htmlops.py_bytes_sent"] = node("html.udf", "MapInPandas", "bytes_sent")
    out["htmlops.py_run_s"] = node("html.udf", "MapInPandas", "run_ms") / 1e3
    # workers start once per context; the warm-up iteration started them
    warm = groups["warm#0"].nodes
    out["python.boot_s"] = sum(c["boot_ms"] for c in warm.values()) / 1e3
    lin = groups["lineage#0"]
    out["lineage.jobs"] = lin.jobs
    out["lineage.write_s"] = sum(e["ms"] for e in lin.executions.values() if e["write"]) / 1e3
    out["lineage.bytes_written"] = lin.task["output_bytes"]
    out["runfs.ops"] = legs["runfs_ops"]
    # Spark-wide: every action of the traced context (one checked action
    # alone often runs without a single GC in the pinned heap)
    every = groups.values()
    out["spark.tasks"] = sum(g.tasks for g in every)
    out["spark.executor_cpu_s"] = sum(g.task["cpu_ns"] for g in every) / 1e9
    out["spark.gc_s"] = sum(g.task["gc_ms"] for g in every) / 1e3
    out["spark.failed_tasks"] = sum(g.failed_tasks for g in every)
    out["trace.overhead_s"] = walls["full"] - med(untraced_walls)
    return out


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _scratch_env() -> None:
    """Keep every scratch file inside the checkout: Python's and the JVMs'
    temp dirs and Spark's local dirs all point under WORK (set before the
    first import that could cache a temp dir), and the JVMs keep no
    performance-counter file in /tmp."""
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def stop_children() -> None:
    """Stop every process this run started that is still running, and wait
    for each to end: nothing the benchmark starts outlives it."""
    inputs.stop_resource_tracker()
    me = os.getpid()
    procstat.wait_ended([p for p in procstat.tree(me) if p != me], timeout=10)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a SIGTERM unwinds like an exit, so the clean-up below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    finally:
        stop_children()


def run(args) -> int:
    _scratch_env()
    sys.path.insert(0, ROOT)
    try:
        import enem_spark.session  # noqa: F401  the program under test
        from bench import _mp_probe
    except ImportError as exc:
        print(f"perfbench: the program under test is not importable: {exc}", file=sys.stderr)
        return 2
    for d in (os.environ["TMPDIR"], os.environ["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)

    wl = WORKLOADS[args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tracer = Tracer(f"{tag}-{os.getpid()}", keep=bool(args.trace))
    stores = {kind: os.path.join(WORK, "stores", kind) for kind in LEGS}
    store = stores[wl.kind]
    with tracer.span("staging"):
        twin, staging = inputs.stage(wl.kind, args.seed, store)
        twins = {wl.kind: twin}
        if args.trace:  # a traced run measures every layer: it needs both stores
            for kind in stores.keys() - {wl.kind}:
                twins[kind], staging[kind] = inputs.stage(kind, args.seed, stores[kind])
    n_pages = inputs.n_pages(wl.kind)
    report = {"workload": args.workload, "seed": args.seed, "pages": n_pages,
              "cores": CORES, "staging": staging}

    report["probe_before_mops"] = _mp_probe(CORES, PROBE_OPS)
    with tracer.span("session.start") as s:
        spark = start_session()
    report["session_start_s"] = s["dur"]
    pid = None
    try:
        pid = jvm_pid(spark)
        check = TwinCheck(twin)
        runner = Runner(spark, wl, store, check, tracer)
        with tracer.span("warmup"):
            warm, first = runner.warm_up(pid)
        if args.trace:  # only the untraced baseline of trace.overhead_s
            timed = runner.timed(0, pid, first, at_least=1)
        else:
            timed = runner.timed(args.seconds, pid, first)
        report.update(warmup_walls=warm, timed=timed)
        if args.trace:
            log_dir = os.path.join(WORK, "eventlog", f"{tag}-{os.getpid()}")
            os.makedirs(log_dir, exist_ok=True)
            spark.stop()
            spark = start_session(event_log=log_dir)
            runner.spark = spark
            legs = traced_legs(spark, runner, stores, TwinCheck(twins["exam"]))
            spark.stop()  # closes the event log
            spark = None
            (log_file,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
            groups = eventlog.parse(log_file)
            layers = layer_metrics(legs, groups, timed["walls"], twins["exam"][0])
            layers.update(in_process_page_us(args.seed))
            layers["session.start_s"] = report["session_start_s"]
            report["legs"] = legs["walls"]
    finally:
        jvm_tree = procstat.tree(pid) if pid else []  # the JVM and its Python workers
        try:
            if spark is not None:
                spark.stop()
        finally:  # an interrupted call leaves the gateway unusable: stop() raises
            shutdown_jvm()
            # the workers outlive the JVM by a moment, no longer below this process
            procstat.wait_ended(jvm_tree, timeout=30)
    report["probe_after_mops"] = _mp_probe(CORES, PROBE_OPS)

    walls = timed["walls"]
    med = statistics.median(walls)
    e2e = {
        "docs_per_s": n_pages / med,
        "cpu_s_per_kdoc": timed["cpu_s"] / (n_pages * len(walls)) * 1e3,
        "peak_rss_mb": timed["peak_rss_mb"],
        "setup_s": report["session_start_s"] + sum(warm),
        "ok_ratio": 1 - runner.failed / runner.attempted,
    }
    end_to_end, per_layer = declared_metrics()
    chosen, units = (layers, per_layer) if args.trace else (e2e, end_to_end)
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": chosen[k], "unit": u} for k, u in units.items()},
    }
    report.update(end_to_end=e2e, result=result)
    for sub in ("results", "traces"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    if args.trace:
        with open(os.path.join(WORK, "traces", f"{tag}.json"), "w") as fh:
            json.dump(tracer.spans, fh, indent=1)

    print(f"workload {args.workload}  seed {args.seed}  {n_pages} pages  local[{CORES}]")
    print(f"staging (not in setup_s): {json.dumps(staging)}")
    print(f"raw-CPU probe, context only: before {report['probe_before_mops']} "
          f"after {report['probe_after_mops']} M-ops/s")
    print(f"warm-up walls s: {[round(w, 3) for w in warm]}")
    print(f"timed walls s (n={len(walls)}): {[round(w, 3) for w in walls]}  "
          f"median {med:.3f}  min {min(walls):.3f}  max {max(walls):.3f}")
    print(f"fail_ratio {runner.failed / runner.attempted:g} "
          f"({runner.failed} of {runner.attempted} iterations)")
    for k, u in end_to_end.items():
        print(f"  {k:<16} {_fmt(e2e[k]):>12} {u}")
    if args.trace:
        for k, u in per_layer.items():
            print(f"  {k:<28} {_fmt(layers[k]):>14} {u}")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
