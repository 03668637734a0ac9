#!/usr/bin/env python3
"""The repository benchmark: the shipped ``KGPipeline.run`` and the
``plans.serving`` read functions, end to end, plus a traced run per layer.

Run from the repository root::

    python3 perfbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Workloads (the seed makes the inputs; the package receives only them):

- ``full_build``: cold ``KGPipeline.run`` into an empty workdir, repeated
  until ``--seconds`` have passed.  The seed sets the row order of the
  ingest files; the documents are fixed, so every build must reproduce the
  stage fingerprints committed in ``expected.json``.
- ``serve_reads``: a closed loop with one client over a finished build,
  ``N_REQUESTS`` seeded requests per pass drawn from ``serving_check.MIX``.
  Every answer is checked against an evaluation of the output parquet
  without Spark.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the traced
procedure (the same for both workloads) and prints the per-layer metrics.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The exit code is 1 when an output check fails and 2 when the package is
not importable from the current directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
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
WORK = os.path.join(ROOT, ".perfbench_work")

N_SITES = 1000
N_BUCKETS = 8
N_REQUESTS = 60
N_WARMUP_REQUESTS = 30
N_TRACE_REQUESTS = 12
N_EDITS = 8
SETUP_REPEATS = 3

STAGES = (
    "sites_rel",
    "inv_views",
    "membership",
    "dedup_sites",
    "dedup_inventories",
    "triples",
    "entity_triples",
    "sameas_triples",
)


# -- machine fit ---------------------------------------------------------------


def machine_settings() -> dict:
    """Engine settings derived from this machine, applied through the
    environment and session options (``session.py`` is left as it ships)."""
    cores = len(os.sched_getaffinity(0))
    # one core is left to the driver's own threads (py4j, JIT compiler, GC,
    # Python driver): on 4 cores, 3 task slots built the corpus faster and
    # with half the run-to-run spread of 4
    slots = max(1, cores - 1)
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    # an eighth of RAM, within [1 GiB, 4 GiB]: the corpus is small and the
    # machine is shared
    driver_mb = max(1024, min(4096, mem_kb // 1024 // 8))
    return {
        "cores": cores,
        "task_slots": slots,
        "mem_total_mb": mem_kb // 1024,
        "master": f"local[{slots}]",
        "shuffle_partitions": slots,
        "driver_mem": f"{driver_mb}m",
        "n_sites": N_SITES,
        "n_buckets": N_BUCKETS,
    }


def apply_env(settings: dict, rundir: str) -> None:
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["task_slots"])
    os.environ["SPARK_DRIVER_MEM"] = settings["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM, the launcher's too: temporary files in the run directory
    # and no /tmp/hsperfdata file
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_spark(settings: dict, rundir: str):
    from ta2_minmod_kg_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=settings["master"],
        shuffle_partitions=settings["shuffle_partitions"],
        extra_conf={
            "spark.local.dir": os.path.join(rundir, "local"),
            "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job of a traced run in the status store
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


# -- helpers ---------------------------------------------------------------------


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def fingerprints(workdir: str) -> dict[str, str]:
    out = {}
    for stage in STAGES:
        with open(os.path.join(workdir, f"_LINEAGE_{stage}.json")) as f:
            out[stage] = json.load(f)["output_fingerprint"]
    return out


def stage_seconds(metrics: dict) -> dict[str, float]:
    """Per-stage seconds from ``KGPipeline.metrics``.  A skipped stage
    repeats the previous run's ``wall_ms`` there; it did no work, so it
    counts as 0 s."""
    return {
        s: 0.0 if m["skipped"] else m["wall_ms"] / 1000.0 for s, m in metrics.items()
    }


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(round(q * len(v), 9)) - 1)]


def package_key() -> str:
    h = hashlib.sha256(f"{N_SITES}/{N_BUCKETS}".encode())
    pkg = os.path.join(ROOT, "ta2_minmod_kg_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), pkg).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


class Run:
    """One benchmark invocation: session, scratch directories, counters."""

    def __init__(self, args, settings: dict, rundir: str, spark):
        self.args = args
        self.settings = settings
        self.rundir = rundir
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._n = 0
        with open(os.path.join(HERE, "expected.json")) as f:
            self.expected = json.load(f)[f"n_sites={N_SITES};n_buckets={N_BUCKETS}"]

    def fresh(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.rundir, f"{name}-{self._n}")

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")

    def check_fingerprints(self, workdir: str, what: str, want=None) -> dict:
        got = fingerprints(workdir)
        want = want if want is not None else self.expected
        bad = sorted(s for s in STAGES if got[s] != want[s])
        self.attempted += 1
        if bad:
            self.failed += 1
            self.notes.append(f"FAILED: {what}: stage fingerprints differ: {bad}")
            for s in bad:
                self.notes.append(f"  {s}: got {got[s]} want {want[s]}")
        return got

    # -- inputs ------------------------------------------------------------------

    def corpus(self) -> tuple[list[dict], str, float]:
        """The corpus documents, the root of the seed-independent inputs and
        the seconds spent generating them (kept per checkout and package
        source, so only a first run pays)."""
        from corpus import load_or_generate

        root = os.path.join(WORK, f"corpus-{package_key()}")
        docs, generate_s = load_or_generate(self.spark, N_SITES, root)
        return docs, root, generate_s

    def inputs(self, root: str, ingest_dir: str) -> dict:
        from corpus import read_inputs

        return read_inputs(self.spark, root, ingest_dir)

    def build(self, inputs: dict, workdir: str):
        from ta2_minmod_kg_spark.plans.pipeline import KGPipeline

        t0 = time.perf_counter()
        pipe = KGPipeline(self.spark, workdir, n_buckets=N_BUCKETS)
        pipe.run(
            inputs["ingest"],
            inputs["vocab"],
            inputs["system_edges"],
            inputs["curated_edges"],
        )
        return time.perf_counter() - t0, pipe.metrics


# -- workloads -----------------------------------------------------------------


def _import_package(batches):
    """Python-worker side of the engine warm-up: load the package's
    operator modules once per worker process."""
    import ta2_minmod_kg_spark.operators.dedup  # noqa: F401
    import ta2_minmod_kg_spark.operators.extract  # noqa: F401
    import ta2_minmod_kg_spark.operators.grade_tonnage  # noqa: F401

    for pdf in batches:
        yield pdf.head(0)


def warm_engine(run: Run, ingest_dir: str) -> None:
    """Start one Python worker per task slot with the package imported, and
    load the parquet read and write paths.  The JIT is left to the timed
    run: a submitted pipeline job starts on a fresh JVM too."""
    slots = run.settings["task_slots"]
    df = run.spark.read.parquet(ingest_dir)
    out = run.fresh("warmup")
    df.repartition(slots).mapInPandas(_import_package, schema=df.schema).write.parquet(out)
    run.spark.read.parquet(out).count()


def setup_build(run: Run) -> tuple[dict, list[dict], str, dict]:
    """The corpus (generated on first use), the seeded ingest files written
    ``SETUP_REPEATS`` times (median kept), and the engine warm-up."""
    from corpus import write_ingest

    docs, root, generate_s = run.corpus()
    times = []
    for _ in range(SETUP_REPEATS):
        ingest_dir = run.fresh("ingest")
        t0 = time.perf_counter()
        write_ingest(docs, ingest_dir, run.args.seed)
        times.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_engine(run, ingest_dir)
    parts = {
        "generate_s": generate_s,
        "write_ingest_s": statistics.median(times),
        "warmup_s": time.perf_counter() - t0,
    }
    return parts, docs, root, run.inputs(root, ingest_dir)


def full_build(run: Run) -> dict:
    from tracing import RssSampler, tree_cpu_seconds

    parts, _docs, _root, inputs = setup_build(run)
    walls, triples, out_bytes, workdirs = [], [], [], []
    t_start = time.perf_counter()
    cpu0 = tree_cpu_seconds(jvm_pid())
    with RssSampler(jvm_pid()) as rss:
        while True:
            wd = run.fresh("kg")
            wall, metrics = run.build(inputs, wd)
            walls.append(wall)
            triples.append(metrics["triples"]["n_rows"])
            workdirs.append(wd)
            if time.perf_counter() - t_start >= run.args.seconds:
                break
    cpu_s = (tree_cpu_seconds(jvm_pid()) - cpu0) / len(walls)
    for wd in workdirs:
        run.check_fingerprints(wd, "full build")
        out_bytes.append(dir_bytes(wd))
        shutil.rmtree(wd)
    wall_s = statistics.median(walls)
    return {
        "setup_parts": parts,
        "e2e": {
            "cpu_s": (cpu_s, "s"),
            "output_mb": (statistics.median(out_bytes) / 1e6, "MB"),
        },
        "extra": {
            "wall_s": (wall_s, "s"),
            "peak_rss_mb": (rss.peak / 1e6, "MB"),
            "builds": (len(walls), "count"),
            "triples_per_s": (statistics.median(t / w for t, w in zip(triples, walls)), "1/s"),
        },
    }


def serve_kg(run: Run) -> tuple[str, float]:
    """The build served by ``serve_reads``: one per checkout, package source
    and task-slot count (which sets its file layout), made here when
    missing.  Returns (workdir, seconds spent)."""
    slots = run.settings["task_slots"]
    path = os.path.join(WORK, f"serve-kg-{package_key()}-{slots}slots")
    if os.path.exists(os.path.join(path, "_LINEAGE_sameas_triples.json")):
        return path, 0.0
    from corpus import write_ingest

    t0 = time.perf_counter()
    docs, root, _ = run.corpus()
    ingest_dir = run.fresh("ingest")
    write_ingest(docs, ingest_dir, 0)
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    run.build(run.inputs(root, ingest_dir), tmp)
    run.check_fingerprints(tmp, "served build")
    os.replace(tmp, path)
    return path, time.perf_counter() - t0


def read_pass(reqs: list, tables: dict, tracer=None):
    from serving_check import execute

    lat, answers = [], []
    for req in reqs:
        t0 = time.perf_counter()
        if tracer is None:
            rows = execute(req, tables)
        else:
            with tracer.span(f"serving.{req[0]}"):
                rows = execute(req, tables)
        lat.append(time.perf_counter() - t0)
        answers.append(rows)
    return lat, answers


def check_answers(run: Run, reqs: list, answers: list, oracle) -> int:
    """Check every answer; returns the duplicate triples that descriptions
    carried (a set-equal answer with repeated rows is not a failure)."""
    from serving_check import duplicate_rows, normalize

    dups = 0
    for req, rows in zip(reqs, answers):
        run.check(normalize(req, rows) == oracle.answer(req), f"read {req}")
        dups += duplicate_rows(req, rows)
    return dups


def serve_reads(run: Run) -> dict:
    from serving_check import Oracle, open_tables, requests
    from tracing import RssSampler, tree_cpu_seconds

    kg, build_s = serve_kg(run)
    oracle = Oracle(kg)  # benchmark bookkeeping, outside setup_s
    cats = oracle.catalogs()
    reqs = requests(cats, run.args.seed, N_REQUESTS)
    warm_reqs = requests(cats, run.args.seed + 7919, N_WARMUP_REQUESTS)
    open_times = []
    for _ in range(SETUP_REPEATS):
        t1 = time.perf_counter()
        tables = open_tables(run.spark, kg)
        open_times.append(time.perf_counter() - t1)
    t1 = time.perf_counter()
    _lat, answers = read_pass(warm_reqs, tables)
    warmup_s = time.perf_counter() - t1
    check_answers(run, warm_reqs, answers, oracle)

    passes, lat_all, answers = [], [], []
    t_start = time.perf_counter()
    cpu0 = tree_cpu_seconds(jvm_pid())
    with RssSampler(jvm_pid()) as rss:
        while True:
            p0 = time.perf_counter()
            lat, got = read_pass(reqs, tables)
            passes.append(time.perf_counter() - p0)
            lat_all.extend(lat)
            answers.append(got)
            if time.perf_counter() - t_start >= run.args.seconds:
                break
    cpu_s = (tree_cpu_seconds(jvm_pid()) - cpu0) / len(passes)
    dups = sum(check_answers(run, reqs, got, oracle) for got in answers) // len(answers)
    wall = statistics.median(passes)
    return {
        "setup_parts": {
            "serve_build_s": build_s,
            "open_tables_s": statistics.median(open_times),
            "warmup_s": warmup_s,
        },
        "e2e": {
            "cpu_s": (cpu_s, "s"),
            "output_mb": (dir_bytes(kg) / 1e6, "MB"),
        },
        "extra": {
            "wall_s": (wall, "s"),
            "peak_rss_mb": (rss.peak / 1e6, "MB"),
            "read_p50_ms": (statistics.median(lat_all) * 1e3, "ms"),
            # the highest percentile with at least ten samples beyond it
            "read_p80_ms": (percentile(lat_all, 0.80) * 1e3, "ms"),
            "reads": (len(lat_all), "count"),
            "reads_per_s": (len(lat_all) / sum(passes), "1/s"),
            "describe_duplicate_rows": (dups, "count"),
        },
    }


# -- traced run ----------------------------------------------------------------


def traced(run: Run) -> dict:
    """Per-layer metrics, by the same procedure for both workloads:

    1. set-up as in ``full_build``; ``KGPipeline.run`` builds the corpus
       into an empty workdir (the untraced base for tracing overhead);
    2. kernel timings on batches from that build;
    3. the traced runner builds the corpus into another empty workdir;
    4. ``N_EDITS`` seeded documents are edited and ``KGPipeline.run``
       updates the first workdir incrementally (per-stage seconds from
       ``KGPipeline.metrics``; the traced runner does not repeat the update,
       which keeps the run inside its time limit);
    5. an untraced and a traced pass of ``N_TRACE_REQUESTS`` reads over the
       traced build.
    Every traced stage must reproduce ``KGPipeline.run``'s fingerprints.
    """
    import pyarrow.dataset as pads

    import kernels
    from corpus import edit_documents, write_ingest
    from serving_check import Oracle, open_tables, requests
    from traced_pipeline import OPERATOR_SPANS, TracedPipeline
    from tracing import Tracer

    from ta2_minmod_kg_spark.operators import canonicalize

    spark, seed = run.spark, run.args.seed
    parts, docs, root, inputs = setup_build(run)
    wd_u, wd_t = run.fresh("kg-untraced"), run.fresh("kg-traced")
    untraced_s, metrics_full = run.build(inputs, wd_u)
    run.check_fingerprints(wd_u, "full build")
    kernel_us = kernels.run(kernels.prepare(spark, docs, wd_u, inputs["vocab"]))
    n_violations = pads.dataset(
        os.path.join(wd_u, "violations"), partitioning="hive"
    ).count_rows()
    membership = pads.dataset(os.path.join(wd_u, "membership")).to_table(["dedup_site_id"])
    n_groups = len(set(membership.column(0).to_pylist()))
    n_edges = (
        canonicalize.auto_link_edges(spark.read.parquet(os.path.join(wd_u, "sites_rel"))).count()
        + inputs["system_edges"].count()
    )

    sc = spark.sparkContext
    full, reads = Tracer(sc), Tracer(sc)
    t0 = time.perf_counter()
    TracedPipeline(spark, wd_t, N_BUCKETS, full).run(**inputs)
    traced_s = time.perf_counter() - t0
    run.check_fingerprints(wd_t, "traced build reproduces KGPipeline.run")

    edited_dir = run.fresh("ingest-edited")
    write_ingest(edit_documents(docs, seed, N_EDITS), edited_dir, seed)
    edited = run.inputs(root, edited_dir)
    update_s, metrics_inc = run.build(edited, wd_u)
    oracle = Oracle(wd_t)
    reqs = requests(oracle.catalogs(), seed, N_TRACE_REQUESTS)
    for req in requests(oracle.catalogs(), seed + 1, 100):
        if req[0] not in {r[0] for r in reqs}:
            reqs.append(req)  # every request kind gets a latency
    tables = open_tables(spark, wd_t)
    p0 = time.perf_counter()
    _lat, answers = read_pass(reqs, tables)
    untraced_reads_s = time.perf_counter() - p0
    p0 = time.perf_counter()
    lat_t, answers_t = read_pass(reqs, tables, reads)
    traced_reads_s = time.perf_counter() - p0
    check_answers(run, reqs, answers, oracle)
    dups = check_answers(run, reqs, answers_t, oracle)

    for t in (full, reads):
        t.collect_engine_metrics()
    engine = {
        name: full.inclusive_engine((name,))
        for name in (
            "extract.sites",
            "extract.triples",
            "grade_tonnage.view",
            "canonicalize.membership",
            "dedup.merge",
            "dedup.select_inventories",
            "entity_triples",
            "pipeline.lineage_hash",
        )
    }
    engine["serving"] = reads.inclusive_engine(tuple({s["name"] for s in reads.spans}))

    m: dict[str, tuple[float, str]] = {}
    for stage, sec in stage_seconds(metrics_full).items():
        m[f"pipeline.{stage}_s"] = (sec, "s")
    for stage, sec in stage_seconds(metrics_inc).items():
        m[f"pipeline.update.{stage}_s"] = (sec, "s")
    for name in ("ingest_hash", "vocab_hash", "lineage_hash", "write"):
        m[f"pipeline.{name}_s"] = (full.total(f"pipeline.{name}"), "s")
    skipped = sum(1 for v in metrics_inc.values() if v["skipped"])
    m["pipeline.update_s"] = (update_s, "s")
    m["pipeline.stages_run"] = (len(metrics_inc) - skipped, "count")
    m["pipeline.stages_skipped"] = (skipped, "count")
    m["pipeline.incremental_buckets"] = (
        max((v.get("incremental_buckets") or 0) for v in metrics_inc.values()),
        "count",
    )
    for stage, op in OPERATOR_SPANS.items():
        if stage != "sameas_triples":
            key = "entity_triples.s" if op == "entity_triples" else f"{op}_s"
            m[key] = (full.total(op), "s")
    m["extract.triples_out"] = (metrics_full["triples"]["n_rows"], "count")
    m["extract.violations"] = (n_violations, "count")
    m["extract.rows_read_per_doc"] = (
        engine["extract.sites"]["input_records"] / len(docs),
        "ratio",
    )
    m["canonicalize.edges"] = (n_edges, "count")
    m["canonicalize.groups"] = (n_groups, "count")
    m["canonicalize.driver_collect_mb"] = (
        engine["canonicalize.membership"]["result_bytes"] / 1e6,
        "MB",
    )
    m["entity_triples.spark_jobs"] = (engine["entity_triples"]["jobs"], "count")
    for k, v in kernel_us.items():
        m[k] = (v, "us")

    by_kind: dict[str, list[float]] = {}
    for req, t in zip(reqs, lat_t):
        by_kind.setdefault(req[0], []).append(t)
    for kind in ("find_dedup_sites", "find_by_ids", "describe_resource"):
        m[f"serving.{kind}_ms"] = (statistics.median(by_kind[kind]) * 1e3, "ms")
    serving_jobs = sum(s["jobs"] for s in reads.spans)
    serving_in = sum(s["engine"]["input_records"] for s in reads.spans)
    rows_out = sum(len(a) for a in answers_t)
    m["serving.spark_jobs_per_read"] = (serving_jobs / len(reqs), "ratio")
    m["serving.rows_read_per_row_returned"] = (serving_in / max(rows_out, 1), "ratio")
    m["serving.duplicate_rows"] = (dups, "count")

    for span, e in engine.items():
        m[f"{span}.executor_run_s"] = (e.get("executor_run_ms", 0) / 1e3, "s")
        m[f"{span}.shuffle_write_mb"] = (e.get("shuffle_write_bytes", 0) / 1e6, "MB")
        m[f"{span}.spill_mb"] = (e.get("spill_bytes", 0) / 1e6, "MB")
        m[f"{span}.peak_exec_mem_mb"] = (e.get("peak_exec_mem_bytes", 0) / 1e6, "MB")
        m[f"{span}.tasks"] = (e.get("tasks", 0), "count")

    root_span = full.spans[0]
    m["trace.untraced_build_s"] = (untraced_s, "s")
    m["trace.traced_build_s"] = (traced_s, "s")
    m["trace.build_overhead_s"] = (traced_s - untraced_s, "s")
    m["trace.build_overhead_frac"] = ((traced_s - untraced_s) / untraced_s, "ratio")
    m["trace.uncovered_frac"] = (
        (traced_s - full.duration(root_span) + full.self_time(root_span)) / traced_s,
        "ratio",
    )
    # the build pair runs in a fixed order on a JIT still warming up, so it
    # also measures that order; the span machinery's own cost, timed on
    # empty spans, does not depend on it
    probe, n_probe = Tracer(sc), 200
    t0 = time.perf_counter()
    for _ in range(n_probe):
        with probe.span("probe"):
            pass
    per_span = (time.perf_counter() - t0) / n_probe
    m["trace.span_cost_s"] = (per_span * len(full.spans), "s")
    m["trace.untraced_reads_s"] = (untraced_reads_s, "s")
    m["trace.traced_reads_s"] = (traced_reads_s, "s")
    m["trace.read_overhead_s"] = (traced_reads_s - untraced_reads_s, "s")

    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    trace_path = os.path.join(
        WORK, "traces", f"{run.args.workload}-seed{seed}-{full.trace_id[:8]}.json"
    )
    with open(trace_path, "w") as f:
        json.dump(
            {
                "full_build": full.to_records(),
                "reads": reads.to_records(),
                "metrics": m,
            },
            f,
        )
    run.notes.append(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    return {"setup_parts": parts, "layer": m}


# -- main ------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("full_build", "serve_reads"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, "ta2_minmod_kg_spark")):
        print(f"perfbench: no ta2_minmod_kg_spark package under {ROOT}", file=sys.stderr)
        return 2
    try:
        import ta2_minmod_kg_spark.plans.pipeline  # noqa: F401
        import ta2_minmod_kg_spark.plans.serving  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from tracing import cpu_times, steal_frac

    settings = machine_settings()
    os.makedirs(WORK, exist_ok=True)
    rundir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(rundir)
    cpu0 = cpu_times()
    spark = None
    try:
        apply_env(settings, rundir)
        t0 = time.perf_counter()
        spark = start_spark(settings, rundir)
        jvm_s = time.perf_counter() - t0
        run = Run(args, settings, rundir, spark)
        if args.trace:
            res = traced(run)
        elif args.workload == "full_build":
            res = full_build(run)
        else:
            res = serve_reads(run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(rundir, ignore_errors=True)
    steal = steal_frac(cpu0, cpu_times())

    setup_s = jvm_s + sum(res["setup_parts"].values())
    print("perfbench settings " + json.dumps(settings, sort_keys=True))
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace}")
    print(f"  setup_s parts: jvm_s={jvm_s:.3f} " + " ".join(
        f"{k}={v:.3f}" for k, v in res["setup_parts"].items()
    ))
    if args.trace:
        metrics = dict(res["layer"])
        metrics["host.steal_frac"] = (steal, "ratio")
        shown = metrics
    else:
        metrics = {"setup_s": (setup_s, "s"), **res["e2e"]}
        shown = {**metrics, **res["extra"]}
        shown["error_rate"] = (run.failed / max(run.attempted, 1), "ratio")
        shown["host.steal_frac"] = (steal, "ratio")
    for name, (value, unit) in shown.items():
        print(f"  {name:<44} {value:>14.6g} {unit}")
    for note in run.notes:
        print("  " + note)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    sys.stdout.flush()
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
