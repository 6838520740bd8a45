#!/usr/bin/env python3
"""Product-shaped benchmark for clinvar_pipeline_spark.

    python3 perfbench/run.py --workload nightly --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):

- ``nightly``: one incremental ``--nightly --with-vcf`` over a seeded
  ClinVar-shaped release R1, with ``--prev`` the snapshot S0 bootstrapped
  once per checkout from release R0 (``base.py``), in a fresh session
  with no warm-up, as cron runs it.
- ``registry``: eight queries of ``bench.py``'s frozen-24 registry tier
  (``REGISTRY_QUERIES``) over seeded sf0.001-shaped tables, in a fresh
  session; every query's rows are checked against its DuckDB oracle,
  untimed.
- ``all``: both, one after the other, for a reader at a terminal.

Each run times one pass, which on a 4-core box lasts longer than
``--seconds``. ``--trace 0`` times it untraced and prints the end-to-end
metrics. ``--trace 1`` enables Spark's event log and times the same
pass with spans opened around the package's public functions from
outside; it prints the per-layer metrics, jobs attributed to the
innermost span. Both print human-readable detail lines, then one JSON
line last: ``{"correct", "attempted", "failed", "metrics": {name:
{value, unit}}}``. The full record of each run lands in
``.perfbench_out/`` at the checkout root.

Exit code: 0 when every output check passed, 1 when one failed, 2 when
the checkout holds no package to benchmark.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import hashlib
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "clinvar_pipeline_spark"

# R0 size (records). Fixed per-job and JIT costs dominate a nightly at
# this size; --records changes it (README.md has the cost at 2,400)
NIGHTLY_RECORDS = 600

# The driver heap. The package's default is 8g; on a 3 MB release the
# driver JVM then grows to ~7.6 GB resident on a 4-core, 15 GB box,
# against ~3 GB with 2g, so the benchmark pins 2g (README.md)
DRIVER_MEMORY = "2g"

# The registry workload's queries: the compute-heavy core of bench.py's
# frozen-24 tier, in its order. The relational headline query (which
# also pays the fresh session's first-query cost), the reference
# write-path merge, the shingle and MinHash dedup kernels, the
# Arrow/Python array kernels and the two ANN serve paths. All 24 take
# ~40 s cold on 4 cores, more than the run budget has room for.
REGISTRY_QUERIES = [
    "pricing_summary",
    "pipe_set_merge",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "embedding_neardup_pairs",
    "multimodal_frames",
    "ann_topk",
    "ann_topk_ivf",
]


def metric_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json at the checkout root."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def cores() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State of one benchmark invocation: the work dir, the session,
    the attempt/failure tally and the detail lines."""

    def __init__(self, workload: str, seed: int, trace: bool, work: Path):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.detail: dict = {}
        self.spark = None

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED [{self.workload}]: {what}", file=sys.stderr, flush=True)

    def attempt(self, what: str, fn, *args) -> tuple[bool, object]:
        """Run one phase, stage or query: (True, its value), or (False,
        None) when it raised, which counts as a failure."""
        self.attempted += 1
        try:
            return True, fn(*args)
        except Exception as e:  # a failed phase is counted, not fatal
            self.failed += 1
            # to stderr: a phase may run while the CLI's stdout is swallowed
            print(f"FAILED [{self.workload}] {what}: {type(e).__name__}: {str(e)[:400]}",
                  file=sys.stderr, flush=True)
            return False, None


# ---------------------------------------------------------------------------
# session and memory
# ---------------------------------------------------------------------------


def start_session(work: Path, trace: bool):
    from clinvar_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the whole heap committed and touched at start, so the driver's
        # resident memory does not follow GC's timing-driven resizing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores()}]",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants() -> list[int]:
    """Every live process this one started, directly or not."""
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def resident_kb() -> int:
    """Summed RSS of every live process this one started: the driver JVM
    and its Python workers. A child the JVM is spawning still runs the
    JVM's binary in the JVM's own memory until it execs its program
    (jspawnhelper, bash), so it is skipped, or a sample that catches
    one counts the JVM twice. Its binary is read before its RSS: once
    it has exec'd, the RSS read after is its own."""
    kids = _children()
    total, todo = 0, [(pid, None) for pid in kids.get(os.getpid(), [])]
    while todo:
        pid, parent_exe = todo.pop()
        exe = _exe(pid)
        if not (exe == parent_exe and os.path.basename(exe or "") == "java"):
            total += _rss_kb(pid)
        todo.extend((kid, exe) for kid in kids.get(pid, []))
    return total


def _cpu_ticks(pid: int) -> int:
    """CPU time of ``pid`` and of its children it has reaped, in clock
    ticks (utime + stime + cutime + cstime)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def _steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class Usage:
    """What a pass costs the machine: peak ``resident_kb()``, sampled
    every 0.2 s, the CPU time this process and its descendants
    consumed, and the CPU time the host stole from this machine."""

    def __init__(self):
        import threading

        self.peak_kb = 0
        self.cpu_s = self.steal_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        self.peak_kb = max(self.peak_kb, resident_kb())

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(0.2)

    @staticmethod
    def _cpu() -> int:
        return sum(_cpu_ticks(pid) for pid in [os.getpid()] + descendants())

    def __enter__(self):
        self._cpu0, self._steal0 = self._cpu(), _steal_ticks()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        tick = os.sysconf("SC_CLK_TCK")
        self.cpu_s = (self._cpu() - self._cpu0) / tick
        self.steal_s = (_steal_ticks() - self._steal0) / tick
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0

    def steal_pct(self, wall: float) -> float:
        """Stolen CPU time as a share of the machine's CPU time."""
        return 100.0 * self.steal_s / (wall * os.cpu_count())


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_gateway(timeout: float = 60.0) -> None:
    """Stop the JVM that pyspark started for this process and wait until
    it, and every process it started (the Python workers), has ended."""
    from pyspark import SparkContext

    started = descendants()  # listed now: once the JVM exits, init adopts them
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while (left := [p for p in started if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in left) and time.monotonic() < deadline:
        time.sleep(0.1)


@contextlib.contextmanager
def quiet():
    """Swallow the CLI's stdout so the result line stays last."""
    with contextlib.redirect_stdout(io.StringIO()):
        yield


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Instrument:
    """Traced-run hooks on pyspark's actions and writers: label each
    job with the package call site that triggered it, and accumulate
    the Catalyst phase times of the plans that run. The hooks' own time
    counts as tracing overhead; it includes planning forced before an
    action, which the action would otherwise do itself, so it is an
    upper bound."""

    def __init__(self, sc, tracer):
        self.sc = sc
        self.tracer = tracer
        self.catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self._seen: set[int] = set()

    def add_phases(self, jdf) -> None:
        """Add the phase times of ``jdf``'s plan, once per plan: a plan
        acted on twice is analyzed and planned once."""
        qe = jdf.queryExecution()
        key = qe.hashCode()
        if key in self._seen:
            return
        self._seen.add(key)
        qe.executedPlan()  # plans it now, so that every phase has run
        phases = qe.tracker().phases()
        for p in self.catalyst:
            opt = phases.get(p)
            if opt.isDefined():
                self.catalyst[p] += float(opt.get().durationMs())

    def _site(self) -> str | None:
        """The innermost package frame calling the action, else the
        benchmark's own."""
        f, own = sys._getframe(2), None
        while f is not None:
            fn = f.f_code.co_filename
            if fn.startswith(str(PACKAGE)):
                return f"{os.path.relpath(fn, ROOT)}:{f.f_lineno}"
            if own is None and fn.startswith(str(HERE)):
                own = f"{os.path.relpath(fn, ROOT)}:{f.f_lineno}"
            f = f.f_back
        return own

    def install(self) -> None:
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.traceback_utils import SCCallSiteSync

        inst = self

        def labelled(owner, attr, jdf_of):
            def make(original):
                def call(obj, *a, **k):
                    t0 = time.perf_counter()
                    prev = inst.sc.getLocalProperty("callSite.short")
                    inst.sc.setLocalProperty("callSite.short", inst._site())
                    # pyspark's own call-site setter keeps an outer one
                    SCCallSiteSync._spark_stack_depth += 1
                    try:
                        if jdf_of is not None:
                            inst.add_phases(jdf_of(obj))
                        inst.tracer.overhead_s += time.perf_counter() - t0
                        return original(obj, *a, **k)
                    finally:
                        t0 = time.perf_counter()
                        SCCallSiteSync._spark_stack_depth -= 1
                        inst.sc.setLocalProperty("callSite.short", prev)
                        inst.tracer.overhead_s += time.perf_counter() - t0

                return call

            self.tracer.patch(owner, attr, make)

        labelled(DataFrame, "collect", lambda df: df._jdf)
        for m in ("count", "first", "take", "toPandas", "localCheckpoint", "checkpoint"):
            labelled(DataFrame, m, None)
        for m in ("parquet", "text", "save"):
            labelled(DataFrameWriter, m, lambda w: w._df._jdf)


def anchor_median(workload: str, metric: str) -> float | None:
    """``metric``'s median over the last anchor set in ANCHOR.json."""
    try:
        with open(HERE / "ANCHOR.json") as f:
            return json.load(f)["sets"][-1][workload]["metrics"][metric]["median"]
    except (OSError, KeyError, IndexError, ValueError):
        return None


def job_intervals(jobs, lo_ms: float, hi_ms: float) -> list[tuple[float, float]]:
    return [
        (j.submit_ms / 1000.0, j.end_ms / 1000.0)
        for j in jobs
        if j.end_ms is not None and j.submit_ms >= lo_ms and j.end_ms <= hi_ms
    ]


def layer_report(run: Run, tracer, inst, root, frames: int, catch_all) -> dict:
    """Per-layer metrics of the traced pass (span ``root``, after which
    ``release_cached()`` dropped ``frames``) from the spans and the
    event log. The self time of ``root`` and of the spans whose name
    ``catch_all`` accepts is unattributed; the pass fails when the
    layer spans cover less than 90% of its wall."""
    import eventlog
    import spans as sp

    run.spark.stop()
    run.spark = None
    jobs = eventlog.read_event_log(str(run.work / "eventlog"))
    groups = {tracer.group_of(i): s.name for i, s in enumerate(tracer.spans)}
    traced = [j for j in jobs if j.group in groups]
    tot = eventlog.summarize(traced)
    wall = root.duration
    selfs = sp.self_times(tracer.spans)
    coverage = 100.0 * sp.layer_share(tracer.spans, root, catch_all)
    run.check(coverage >= 90.0, f"layer spans cover {coverage:.1f}% of the traced wall")
    covered = sp.covered(
        job_intervals(traced, root.start * 1000, root.end * 1000), root.start, root.end
    )
    m = {
        "trace.wall_s": wall,
        "trace.overhead_pct": 100.0 * tracer.overhead_s / wall,
        "trace.self_coverage_pct": coverage,
        "driver.outside_jobs_s": wall - covered,
        "driver.result_mb": tot["result_mb"],
        "catalyst.analysis_ms": inst.catalyst["analysis"],
        "catalyst.optimization_ms": inst.catalyst["optimization"],
        "catalyst.planning_ms": inst.catalyst["planning"],
        "functions.python_worker_s": tot["python_s"],
        "functions.to_python_mb": tot["to_python_mb"],
        "functions.from_python_mb": tot["from_python_mb"],
        "caching.persisted_frames": float(frames),
    }
    for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "input_mb", "output_mb"):
        m[f"spark.{k}"] = float(tot[k])

    # the full per-span breakdown, for the trace file and detail lines
    per_span = eventlog.group_by(traced, lambda j: groups[j.group])
    durations = sp.totals(tracer.spans)
    breakdown = {}
    for name, (dur, calls) in sorted(durations.items()):
        row = {"calls": calls, "wall_s": dur, "self_s": selfs.get(name, 0.0)}
        for k in ("jobs", "task_s", "shuffle_write_mb", "spill_mb", "python_s", "input_mb",
                  "text_input_mb"):
            row[k] = per_span.get(name, {}).get(k, 0.0)
        breakdown[name] = row
    sites = eventlog.group_by(traced, lambda j: j.call_site or "(unlabelled)")
    run.detail["spans"] = breakdown
    untraced = anchor_median(run.workload, "wall_s")
    if untraced:
        # the full tracing cost, event log included, against the
        # anchor's untraced runs on the reference box
        run.detail["trace_wall_vs_anchor_pct"] = 100.0 * (wall / untraced - 1.0)
    run.detail["call_sites"] = {
        k: {"jobs": v["jobs"], "task_s": v["task_s"], "input_mb": v["input_mb"]}
        for k, v in sorted(sites.items(), key=lambda kv: -kv[1]["task_s"])
    }
    return m


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def nightly(run: Run, records: int) -> dict:
    """One incremental nightly in a fresh session, with no warm-up: a
    cron run starts a fresh process every night, so its JIT and codegen
    are the user's cost. The traced run times the same pass with spans
    around the package's public functions, then the XML parse alone."""
    import base as bench_base
    import gen_release
    import spans as sp

    from clinvar_pipeline_spark import caching, cli, session  # noqa: F401
    from clinvar_pipeline_spark.plans import annotate, load, vcf
    from clinvar_pipeline_spark.sources import vcf_sink, vcv_xml

    # the base is built once per checkout, like a build step: its time
    # is reported apart from the set-up every run pays
    t0 = time.perf_counter()
    base = bench_base.ensure(records)
    run.detail["base_ready_s"] = time.perf_counter() - t0
    # set-up: session start and release generation, nothing else
    t_setup = time.perf_counter()
    run.spark = start_session(run.work, run.trace)
    rel = run.work / "release"
    manifest = gen_release.make_release(str(rel), run.seed, records)
    setup_s = time.perf_counter() - t_setup
    r0_sha = hashlib.sha256((rel / "R0.xml").read_bytes()).hexdigest()
    run.check(r0_sha == (base / "R0.sha256").read_text(), "R0 differs from the base's")

    tracer = sp.Tracer(run.spark.sparkContext if run.trace else None)
    inst = Instrument(run.spark.sparkContext, tracer)
    wrapped = [(cli, "cmd_load", "cli.cmd_load"), (cli, "cmd_annotate", "cli.cmd_annotate"),
               (cli, "cmd_clinvar2vcf", "cli.cmd_clinvar2vcf")]
    if run.trace:
        inst.install()
        wrapped += [
            (vcv_xml, "read_vcv_xml", "sources.vcv_xml.read_vcv_xml"),
            (load, "read_snapshot", "plans.load.read_snapshot"),
            (load, "load_run", "plans.load.load_run"),
            (load, "write_snapshot", "plans.load.write_snapshot"),
            (annotate, "annotate_run", "plans.annotate.annotate_run"),
            (vcf, "clinvar2vcf_export", "plans.vcf.clinvar2vcf_export"),
            (vcf_sink, "write_vcf", "sources.vcf_sink.write_vcf"),
            (caching, "release_cached", "caching.release_cached"),
            (cli, "cmd_nightly", "cli.cmd_nightly"),
        ]
    for owner, attr, name in wrapped:
        tracer.wrap(owner, attr, name)
    out = run.work / "N"
    argv = ["--nightly", "--with-vcf", "--xml", str(rel / "R1.xml"),
            "--genes", str(rel / "genes.parquet"), "--prev", str(base / "S0"),
            "--aux", str(base / "aux1"), "--out", str(out)]
    try:
        with Usage() as use, quiet(), tracer.span("nightly.pass") as root:
            ok, _ = run.attempt("--nightly", cli.main, argv)
            frames = caching.release_cached()
    finally:
        tracer.unwrap_all()
    if ok:
        check_nightly(run, out, manifest)

    phases = {name: dur for name, (dur, _n) in sp.totals(tracer.spans).items()}
    wall, load_s = root.duration, phases.get("cli.cmd_load", 0.0)
    r1 = manifest["r1_records"]
    run.detail.update({
        "nightly_s": wall,
        "load_s": load_s,
        "annotate_s": phases.get("cli.cmd_annotate", 0.0),
        "vcf_s": phases.get("cli.cmd_clinvar2vcf", 0.0),
        "load_variants_per_s": r1 / load_s if load_s > 0 else 0.0,
        "r0_records": records,
        "r1_records": r1,
        "r1_mb": manifest["r1_bytes"] / 1e6,
        "churn": manifest["churn"],
        "cpu_s": use.cpu_s,
        "host_steal_pct": use.steal_pct(wall),
    })
    metrics = {
        "wall_s": wall,
        "throughput_per_s": run.detail["load_variants_per_s"],
        "setup_s": setup_s,
        "peak_rss_mb": use.mb,
    }
    if not run.trace:
        return metrics
    run.detail["end_to_end"] = metrics
    # sources.vcv_xml alone, after the pass: R1 parsed into a noop sink
    t0 = time.perf_counter()
    vcv_xml.read_vcv_xml(run.spark, str(rel / "R1.xml")).write.format("noop").mode(
        "overwrite").save()
    parse_s = time.perf_counter() - t0
    # cmd_nightly only chains the phases: its own time is unattributed
    m = layer_report(run, tracer, inst, root, frames, lambda name: name == "cli.cmd_nightly")
    run.detail["layers"] = nightly_layers(run.detail["spans"], parse_s, manifest["r1_bytes"])
    return m


def nightly_layers(spans: dict, parse_s: float, r1_bytes: int) -> dict:
    """The nightly's layer metrics, ``{name: (value, unit)}``, from the
    traced pass's per-span rows and the parse timed alone."""

    def pick(names, key):
        return sum(spans.get(n, {}).get(key, 0.0) for n in names)

    load = ["plans.load.read_snapshot", "plans.load.load_run", "plans.load.write_snapshot"]
    annotate = ["plans.annotate.annotate_run"]
    export = ["plans.vcf.clinvar2vcf_export", "sources.vcf_sink.write_vcf"]
    # XML bytes the load phase's jobs read, over the release's bytes
    xml_mb = pick(["cli.cmd_load", "sources.vcv_xml.read_vcv_xml"] + load, "text_input_mb")
    out = {
        "sources.vcv_xml.parse_s": (parse_s, "s"),
        "sources.vcv_xml.mb_per_s": (r1_bytes / 1e6 / parse_s, "MB/s"),
        "sources.vcv_xml.scans_per_load": (xml_mb * 1024 * 1024 / r1_bytes, "ratio"),
        "plans.load.load_run_s": (pick(["plans.load.load_run"], "wall_s"), "s"),
        "plans.load.write_snapshot_s": (pick(["plans.load.write_snapshot"], "wall_s"), "s"),
        "plans.load.jobs": (pick(load, "jobs"), "count"),
        "plans.load.task_s": (pick(load, "task_s"), "s"),
        "plans.load.shuffle_write_mb": (pick(load, "shuffle_write_mb"), "MB"),
        "plans.load.spill_mb": (pick(load, "spill_mb"), "MB"),
        "plans.annotate.annotate_run_s": (pick(annotate, "wall_s"), "s"),
        "plans.annotate.jobs": (pick(annotate, "jobs"), "count"),
        "plans.annotate.task_s": (pick(annotate, "task_s"), "s"),
        "plans.annotate.shuffle_write_mb": (pick(annotate, "shuffle_write_mb"), "MB"),
        "plans.vcf.export_s": (pick(export, "wall_s"), "s"),
        "plans.vcf.task_s": (pick(export, "task_s"), "s"),
    }
    for cmd in ("cmd_nightly", "cmd_load", "cmd_annotate", "cmd_clinvar2vcf"):
        out[f"cli.{cmd}.self_s"] = (pick([f"cli.{cmd}"], "self_s"), "s")
    return out


def registry_pass(run: Run, sf: str, tracer):
    """One pass over ``REGISTRY_QUERIES``: per query, plan build then a
    collect, whose rows feed the oracle check. Returns ({name: wall},
    {name: (columns, rows)}); ``run.detail["persisted_frames"]`` counts
    the frames ``release_cached()`` dropped."""
    from clinvar_pipeline_spark import caching
    from clinvar_pipeline_spark import queries as Q

    reg = Q.queries()
    walls: dict[str, float] = {}
    results = {}
    frames = 0
    for name in REGISTRY_QUERIES:
        t0 = time.perf_counter()
        with tracer.span(f"queries.{name}"):
            with tracer.span("queries.plan_build"):
                ok, df = run.attempt(name, reg[name], run.spark, sf)
            if ok:
                with tracer.span("queries.action"):
                    ok, rows = run.attempt(name, df.collect)
            with tracer.span("caching.release_cached"):
                frames += caching.release_cached()
        walls[name] = time.perf_counter() - t0
        if ok:
            results[name] = (df.columns, [tuple(r) for r in rows])
    run.detail["persisted_frames"] = frames
    return walls, results


def check_registry(run: Run, results: dict, sf: str) -> None:
    """Each query's row count and order-insensitive values against its
    DuckDB oracle over the same tables."""
    import check_correctness as cc
    import duckdb

    from clinvar_pipeline_spark import queries as Q

    oracles = Q.oracle_sql()
    con = duckdb.connect()
    try:
        for t in cc.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
        for name, (cols, rows) in results.items():
            rel = con.sql(oracles[name])
            drows = rel.fetchall()
            ok = len(rows) == len(drows) and (
                cc.norm_rows(cols, rows) == cc.norm_rows(rel.columns, drows))
            run.check(ok, f"{name}: spark {len(rows)} rows vs oracle {len(drows)}")
    finally:
        con.close()


def registry(run: Run) -> dict:
    """The registry queries in a fresh session: set-up starts the session
    and writes the tables; the timed pass runs every query once,
    collected, so that its rows feed the oracle check, and trains the
    memoized models on the way. The traced run times the same pass with
    a span around each query."""
    import gen_tables
    import spans as sp

    from clinvar_pipeline_spark import caching, queries, session  # noqa: F401

    # set-up: session start and table generation, nothing else
    t_setup = time.perf_counter()
    run.spark = start_session(run.work, run.trace)
    sf = str(run.work / "tables")
    run.detail["tables"] = gen_tables.make_tables(sf, run.seed)
    setup_s = time.perf_counter() - t_setup

    tracer = sp.Tracer(run.spark.sparkContext if run.trace else None)
    inst = Instrument(run.spark.sparkContext, tracer)
    if run.trace:
        inst.install()
    try:
        with Usage() as use, tracer.span("registry.pass") as root:
            walls, results = registry_pass(run, sf, tracer)
    finally:
        tracer.unwrap_all()
    check_registry(run, results, sf)
    wall = sum(walls.values())
    run.detail.update({"registry_s": wall, "queries_s": walls, "cpu_s": use.cpu_s,
                       "host_steal_pct": use.steal_pct(root.duration)})
    metrics = {
        "wall_s": wall,
        "throughput_per_s": len(walls) / wall,
        "setup_s": setup_s,
        "peak_rss_mb": use.mb,
    }
    if not run.trace:
        return metrics
    run.detail["end_to_end"] = metrics
    # a query's span only holds its plan build, action and release
    per_query = {f"queries.{n}" for n in REGISTRY_QUERIES}
    m = layer_report(run, tracer, inst, root, run.detail["persisted_frames"],
                     per_query.__contains__)
    build = run.detail["spans"].get("queries.plan_build", {})
    run.detail["layers"] = {
        "queries.plan_build_s": (build.get("self_s", 0.0), "s"),
        "queries.pre_action_jobs": (build.get("jobs", 0.0), "count"),
        **{f"queries.{n}_s": (w, "s") for n, w in walls.items()},
    }
    return m


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def check_nightly(run: Run, out: Path, manifest: dict) -> None:
    import pyarrow.parquet as pq

    rc = pq.read_table(out / "run_counters").to_pylist()
    got = {
        r["counter"]: r["value"]
        for r in rc
        if r["phase"] == "load" and r["counter"].startswith(("VARIANTS_", "RECORDS_"))
    }
    want = manifest["load_counters"]
    run.check(got == want, f"run_counters {got} != manifest {want}")
    phases = {r["phase"] for r in rc}
    run.check(phases == {"load", "annotate", "vcf"}, f"run_counters phases {phases}")
    vcf = out / "export.vcf"
    run.check(vcf.is_file() and vcf.stat().st_size > 0, "export.vcf missing or empty")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def print_detail(workload: str, detail: dict) -> None:
    skip = {"spans", "call_sites", "queries_s", "layers", "end_to_end"}
    for k, v in detail.items():
        if k not in skip:
            print(f"[{workload}] {k}: {v}")
    units = metric_units(trace=False)
    for k, v in detail.get("end_to_end", {}).items():
        print(f"[{workload}] {k}: {v:.4f} {units[k]}")
    for k, (v, unit) in detail.get("layers", {}).items():
        print(f"[{workload}] {k}: {v:.4f} {unit}")
    for k, v in detail.get("spans", {}).items():
        print(f"[{workload}] span {k}: wall {v['wall_s']:.3f}s self {v['self_s']:.3f}s"
              f" calls {v['calls']} jobs {v['jobs']:.0f} task {v['task_s']:.2f}s")
    for k, v in list(detail.get("call_sites", {}).items())[:15]:
        print(f"[{workload}] site {k}: jobs {v['jobs']} task {v['task_s']:.2f}s"
              f" input {v['input_mb']:.1f}MB")


def run_one(workload: str, args) -> tuple[Run, dict]:
    work = ROOT / ".perfbench_work" / f"{workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # the JVM and Python workers read TMPDIR; this process's tempfile
    # caches its directory on first use
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    run = Run(workload, args.seed, bool(args.trace), work)
    try:
        if workload == "nightly":
            metrics = nightly(run, args.records)
        else:
            metrics = registry(run)
    finally:
        if run.spark is not None:
            run.spark.stop()
        stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    with open(out / f"{workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump({"metrics": metrics, "detail": run.detail, "cores": cores(),
                   "attempted": run.attempted, "failed": run.failed}, f, indent=1)
    return run, metrics


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=("nightly", "registry", "all"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0,
                   help="the time a run is meant to measure; every run times one"
                   " whole pass, which takes longer than this on a 4-core box")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--records", type=int, default=NIGHTLY_RECORDS,
                   help=f"records in the nightly's release R0 (default {NIGHTLY_RECORDS})")
    p.add_argument("--build-base", metavar="DIR", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if not (args.workload or args.build_base):
        p.error("--workload is required")

    if not (PACKAGE / "__init__.py").is_file():
        print(f"no clinvar_pipeline_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    # Spark's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else []))
    for d in (ROOT, ROOT / "tools", HERE):
        sys.path.insert(0, str(d))
    # no JVM perf-data files in the system temp dir, launcher included
    os.environ.setdefault("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData")
    if args.build_base:
        import base as bench_base

        try:
            bench_base.build(Path(args.build_base), args.records,
                             lambda work: start_session(work, trace=False))
        finally:
            stop_gateway()
        return 0

    workloads = ("nightly", "registry") if args.workload == "all" else (args.workload,)
    attempted = failed = 0
    metrics: dict = {}
    units = metric_units(bool(args.trace))
    for w in workloads:
        run, m = run_one(w, args)
        attempted += run.attempted
        failed += run.failed
        print_detail(w, run.detail)
        for k, v in m.items():
            print(f"[{w}] {k}: {v:.4f} {units[k]}")
        prefix = f"{w}." if len(workloads) > 1 else ""
        metrics.update({prefix + k: {"value": v, "unit": units[k]} for k, v in m.items()})
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
