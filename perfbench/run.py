#!/usr/bin/env python3
"""ocrflow benchmark: three closed-loop workloads on local[nproc].

    python3 perfbench/run.py --workload extract-mixed --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds nothing: the engine is the
``src/ocrflow`` package of the checkout. Every file it writes lives under
``.bench_work/run-<pid>/`` in the checkout (Spark local dirs, temp files,
inputs), and that directory is removed at exit.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` prints its per-layer metrics. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it stamps the host (nproc, loadavg at start and end, code id).
perfbench/README.md lists what each metric measures and which workload
and end-to-end metric it is expected to move.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: per process, so two runs in one checkout never share files
WORK = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
#: a run that has not finished by then stops Spark and exits non-zero,
#: leaving time to stop within the 180 s a run may take
DEADLINE_S = 150
#: set-up (session start + input generation) is repeated and its median
#: reported, so one slow start does not decide setup_s
SETUP_REPS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _code_id() -> dict:
    """git SHA when the checkout is a repository, and always a digest of
    src/ so a plain file checkout is identified too."""
    h = hashlib.sha1()
    src = os.path.join(ROOT, "src")
    for base, _, files in sorted(os.walk(src)):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, src).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, check=False)
        sha = r.stdout.strip() or None
    return {"git_sha": sha, "src_sha1": h.hexdigest()}


def _driver_mem() -> str:
    """A quarter of host RAM, capped at 4g: the engine default (16g) is
    above this host class's RAM."""
    with open("/proc/meminfo") as f:
        kib = int(f.readline().split()[1])
    return f"{max(1, min(4, kib // (4 * 2**20)))}g"


def prepare_env() -> None:
    """Point every writer at WORK and make src/ and perfbench importable
    in the driver and in Spark's Python workers."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["OCRFLOW_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ.setdefault("OCRFLOW_DRIVER_MEM", _driver_mem())
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    for p in (os.path.join(ROOT, "src"), ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


class Ctx:
    def __init__(self, seed: int):
        self.seed = seed
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        from ocrflow.session import DEFAULT_ARROW_BATCH
        self.arrow_batch = DEFAULT_ARROW_BATCH

    @staticmethod
    def path(name: str) -> str:
        return os.path.join(WORK, name)

    log = staticmethod(log)

    def start_session(self):
        from ocrflow.session import build_session
        tmp = os.environ["TMPDIR"]
        # shuffle partitions as bench.py sets them
        self.spark = build_session(
            master=f"local[{self.nproc}]", app="perfbench",
            shuffle_partitions=max(self.nproc, 8),
            extra={"spark.ui.showConsoleProgress": "false",
                   "spark.sql.warehouse.dir": self.path("warehouse"),
                   "spark.driver.extraJavaOptions":
                       f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"})
        self.spark.sparkContext.setLogLevel("ERROR")


def _geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# ------------------------------------------------------------------ phases

def setup(ctx, wl) -> dict:
    """Session start + input generation, SETUP_REPS times; medians."""
    rows = []
    for _ in range(SETUP_REPS):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.start_session()
        t1 = time.perf_counter()
        wl.make_inputs(ctx)
        t2 = time.perf_counter()
        rows.append((t2 - t0, t1 - t0, t2 - t1))
    log("set-up reps (total, session, inputs): "
        + ", ".join(f"({a:.2f}, {b:.2f}, {c:.2f})" for a, b, c in rows))
    med = [statistics.median(r[i] for r in rows) for i in range(3)]
    return {"setup_s": med[0], "session.build_session_s": med[1],
            "synth.write_s": med[2]}


def timed(ctx, wl, seconds: float) -> tuple[dict, int, int]:
    """Closed loop of passes for ``seconds`` (at least one pass)."""
    from perfbench import procstat
    walls, cpus, rates, geos = [], [], [], []
    attempted = failed = 0
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        c0 = procstat.sample()
        t0 = time.perf_counter()
        try:
            p = wl.run_pass(ctx)
        except Exception:  # counted, reported, and the loop goes on
            log(traceback.format_exc())
            attempted += 1
            failed += 1
            if failed > 3:
                raise
            continue
        wall = time.perf_counter() - t0
        cpu = procstat.delta(c0, procstat.sample())
        attempted += len(p.op_walls)
        walls.append(wall)
        cpus.append(cpu["total"])
        rates.append(p.items / wall)
        geos.append(_geomean([w for _, w in p.op_walls]))
    log(f"{len(walls)} timed passes, walls " + " ".join(f"{w:.3f}" for w in walls))
    return ({"wall_s": statistics.median(walls),
             "cpu_s": statistics.median(cpus),
             "items_per_s": statistics.median(rates),
             "op_geomean_s": statistics.median(geos)}, attempted, failed)


# ----------------------------------------------------------------- tracing

def _install(tr, layers) -> None:
    from ocrflow import dataops, icelite, pipeline, queries, runner

    if "pipeline" in layers:
        tr.wrap(pipeline, "extract_df", "pipeline.extract_df")
        tr.wrap(runner, "extract_df", "pipeline.extract_df")
    if "runner" in layers:
        for fn in ("run_extract", "list_input_files", "completed_input_files",
                   "expire_orphan_data_commits"):
            tr.wrap(runner, fn, f"runner.{fn}")
    if "icelite" in layers:
        def files(t, args, result):
            t.counters["icelite.files_written"] += len(result)
            t.counters["icelite.bytes_written"] += sum(os.path.getsize(f) for f in result)
        tr.wrap(runner, "write_dataframe_files", "icelite.write_dataframe_files", files)
        tr.wrap(icelite.IceliteTable, "commit_append", "icelite.commit_append")
    if "queries" in layers:
        def widened(t, args, result):
            t.counters["queries.widen.repartitions"] += result is not args[1]
        tr.wrap(queries, "widen", "queries.widen", widened)
        tr.wrap(dataops, "widen", "queries.widen", widened)


def _install_kernel(tr) -> None:
    from ocrflow import chartables, kernel, reference

    def blocks(t, args, result):
        t.counters["reference.blocks_in"] += len(args[0])
        t.counters["reference.blocks_kept"] += len(result)

    def spans(t, args, result):
        t.counters["reference.spans_out"] += len(result[0])

    tr.wrap(kernel, "extract_batch", "kernel.extract_batch")
    tr.wrap(reference, "extract_turn_arrays", "reference.extract_turn_arrays")
    for fn in ("detect_payload_kind", "segment_html", "segment_pdf",
               "segment_plain", "canonicalize"):
        tr.wrap(reference, fn, f"reference.{fn}")
    tr.wrap(reference, "_score_and_keep", "reference._score_and_keep", blocks)
    tr.wrap(reference, "segment_spans", "reference.segment_spans", spans)
    tr.wrap(chartables, "score_spans", "chartables.score_spans")


def _layer_metrics(layers, tr, status, group, p) -> dict:
    """Per-layer metrics of one pass: status store for ``group`` and the
    tracer's spans."""
    m = {}
    if "pipeline" in layers:
        st = status.group(group)
        m.update({"pipeline.extract_df_plan_s": tr.total["pipeline.extract_df"],
                  "pipeline.shuffle_write_mb": st["shuffle_write_mb"],
                  "pipeline.shuffle_read_mb": st["shuffle_read_mb"],
                  "pipeline.spill_mb": st["spill_mb"],
                  "pipeline.task_skew": st["task_skew"],
                  "pipeline.jvm_cpu_s": st["executor_cpu_s"]})
    if "runner" in layers:
        for fn in ("run_extract", "list_input_files", "completed_input_files",
                   "expire_orphan_data_commits"):
            m[f"runner.{fn}_s"] = tr.total[f"runner.{fn}"]
        m["runner.resume_noop_s"] = p.op_walls[-1][1]
    if "icelite" in layers:
        m.update({"icelite.write_dataframe_files_s": tr.total["icelite.write_dataframe_files"],
                  "icelite.files_written": tr.counters["icelite.files_written"],
                  "icelite.bytes_written_mb": tr.counters["icelite.bytes_written"] / 2**20,
                  "icelite.commit_append_s": tr.total["icelite.commit_append"]})
    if "queries" in layers:
        for key, wall in p.op_walls:
            m[f"queries.{key}_s"] = wall
            m[f"queries.{key}.jobs"] = status.group(f"{group}/{key}")["jobs"]
        m.update({"queries.widen_s": tr.total["queries.widen"],
                  "queries.widen.calls": tr.calls["queries.widen"],
                  "queries.widen.repartitions": tr.counters["queries.widen.repartitions"]})
    return m


def trace_primary(ctx, wl) -> dict:
    """An untraced pass (status store, /proc split) and a traced pass of
    the workload itself; the wall ratio is the tracing overhead."""
    from perfbench import procstat
    from perfbench.sparkstat import StatusReader
    from perfbench.tracing import Tracer
    status = StatusReader(ctx.spark)
    with procstat.PeakRss() as peak:
        c0 = procstat.sample()
        t0 = time.perf_counter()
        p = wl.run_pass(ctx, group="untraced")
        wall_u = time.perf_counter() - t0
        cpu = procstat.delta(c0, procstat.sample())
    with Tracer() as tr:
        _install(tr, wl.layers)
        t0 = time.perf_counter()
        wl.run_pass(ctx, group="traced")
        wall_t = time.perf_counter() - t0
    m = _layer_metrics(wl.layers, tr, status, "untraced", p)
    m.update({"proc.driver_cpu_s": cpu["driver"], "proc.jvm_cpu_s": cpu["jvm"],
              "proc.peak_rss_mb": peak.peak / 2**20,
              "kernel.worker_cpu_s": cpu["workers"],
              "trace.pass_overhead_ratio": wall_t / wall_u})
    return m


def trace_probe(ctx, wl, layers) -> dict:
    """One traced pass of a small probe workload, for layers the primary
    workload does not run; status-store groups and spans in one pass."""
    from perfbench import procstat
    from perfbench.sparkstat import StatusReader
    from perfbench.tracing import Tracer
    wl.make_inputs(ctx)
    with Tracer() as tr:
        _install(tr, layers)
        c0 = procstat.sample()
        p = wl.run_pass(ctx, group=f"probe-{wl.name}")
        cpu = procstat.delta(c0, procstat.sample())
    m = _layer_metrics(layers, tr, StatusReader(ctx.spark), f"probe-{wl.name}", p)
    if "pipeline" in layers:
        m["kernel.worker_cpu_s"] = cpu["workers"]
    return m


def replay(ctx, wl) -> tuple[dict, bool]:
    """kernel.extract_batch over the workload's own input batches in this
    process: untraced, then traced. Checks that traced output equals
    untraced output and that the spans' self times add up to the
    traced extract_batch time."""
    from ocrflow import chartables, kernel
    from perfbench.tracing import Tracer
    weights = chartables.default_weights()
    batches = list(wl.replay_batches(ctx))
    turns = sum(b.num_rows for b in batches)
    kernel.extract_batch(batches[0], weights)  # warm caches
    t0 = time.perf_counter()
    plain = [kernel.extract_batch(b, weights) for b in batches]
    t_plain = time.perf_counter() - t0
    with Tracer() as tr:
        _install_kernel(tr)
        t0 = time.perf_counter()
        traced = [kernel.extract_batch(b, weights) for b in batches]
        t_traced = time.perf_counter() - t0
    total = tr.total["kernel.extract_batch"]
    gap = abs(tr.subtree_self("kernel.extract_batch") - total) / total
    same = all(a.equals(b) for a, b in zip(plain, traced))
    if gap > 0.01 or not same:
        log(f"replay self-check failed: self-time gap {gap:.4f}, equal {same}")
    s = tr.self_s
    named = total - s["kernel.extract_batch"] - s["reference.extract_turn_arrays"]
    m = {"kernel.turns_per_s_core": turns / t_plain,
         "kernel.extract_batch_s": total,
         "kernel.extract_batch.self_s": s["kernel.extract_batch"],
         "reference.detect_payload_kind_s": tr.total["reference.detect_payload_kind"],
         "reference.segment_html.self_s": s["reference.segment_html"],
         "reference.segment_pdf.self_s": s["reference.segment_pdf"],
         "reference.segment_plain.self_s": s["reference.segment_plain"],
         "reference.canonicalize_s": tr.total["reference.canonicalize"],
         "reference.canonicalize.calls": tr.calls["reference.canonicalize"],
         "reference._score_and_keep_s": tr.total["reference._score_and_keep"],
         "reference.blocks_in": tr.counters["reference.blocks_in"],
         "reference.blocks_kept_frac": (tr.counters["reference.blocks_kept"]
                                        / max(tr.counters["reference.blocks_in"], 1)),
         "reference.segment_spans_s": tr.total["reference.segment_spans"],
         "reference.spans_out": tr.counters["reference.spans_out"],
         "reference.extract_turn_arrays.self_s": s["reference.extract_turn_arrays"],
         "chartables.score_spans_s": tr.total["chartables.score_spans"],
         "trace.replay_overhead_ratio": t_traced / t_plain,
         "trace.stage_coverage": named / total}
    return m, gap <= 0.01 and same


def trace_run(ctx, wl) -> tuple[dict, int, int]:
    """Primary passes, probes for the layers ``wl`` does not run, then
    the kernel replay over the input of whichever ran the pipeline."""
    from perfbench import workloads as W
    m = trace_primary(ctx, wl)
    missing = {"pipeline", "runner", "icelite", "queries"} - set(wl.layers)
    probe = None
    if missing & {"runner", "icelite"}:
        probe = W.ResumeAppend(turns=2000, files=2, chunk=1)
        m.update(trace_probe(ctx, probe, missing & {"pipeline", "runner", "icelite"}))
    if "queries" in missing:
        m.update(trace_probe(ctx, W.OpsSuite(), {"queries"}))
    rm, ok = replay(ctx, wl if "pipeline" in wl.layers else probe)
    m.update(rm)
    return m, 1, int(not ok)


# -------------------------------------------------------------------- main

def shutdown(ctx) -> None:
    """Stop Spark, end the JVM, and wait for every descendant to exit."""
    from perfbench import procstat
    kids = procstat.descendants()
    if ctx is not None and ctx.spark is not None:
        ctx.spark.stop()
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=10)
    alive = procstat.wait_gone(kids, 10)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in alive:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        alive = procstat.wait_gone(alive, 5)


def _deadline(signum, frame):
    raise TimeoutError(f"run did not finish within {DEADLINE_S} s")


def main(argv=None) -> int:
    from perfbench import workloads
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if not os.path.isfile(os.path.join(ROOT, "src", "ocrflow", "pipeline.py")):
        log(f"no engine sources at {ROOT}/src/ocrflow: run from a repo checkout")
        return 2
    prepare_env()

    stamp = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
             "nproc": len(os.sched_getaffinity(0)), "loadavg_start": _loadavg(),
             "driver_mem": os.environ["OCRFLOW_DRIVER_MEM"], **_code_id()}
    ctx = None
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        ctx = Ctx(args.seed)
        wl = workloads.WORKLOADS[args.workload]()
        s = setup(ctx, wl)
        t0 = time.perf_counter()
        attempted, failed = wl.check(ctx)  # untimed; also the first warm-up
        for _ in range(wl.warmups):
            wl.run_pass(ctx)
        log(f"check + warm-up {time.perf_counter() - t0:.2f}s: "
            f"{failed}/{attempted} failed")
        if args.trace:
            m, a, f = trace_run(ctx, wl)
            m.update({k: s[k] for k in ("session.build_session_s", "synth.write_s")})
        else:
            m, a, f = timed(ctx, wl, args.seconds)
            m["setup_s"] = s["setup_s"]
        attempted, failed = attempted + a, failed + f
    except Exception:
        log(traceback.format_exc())
        return 1
    finally:
        signal.alarm(0)
        shutdown(ctx)
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:  # another run still uses it
            pass

    absent = [x["name"] for x in wanted if x["name"] not in m]
    if absent:
        log(f"metrics not measured: {absent}")
        return 1
    stamp["loadavg_end"] = _loadavg()
    print(json.dumps({"host": stamp}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {x["name"]: {"value": float(m[x["name"]]), "unit": x["unit"]}
                    for x in wanted}}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
