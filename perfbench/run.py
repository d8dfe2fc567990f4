"""Repository benchmark for eget_spark.

    python3 perfbench/run.py --workload crawl_polite --seed 1 --seconds 30 --trace 0

Runs one workload (see workloads.py and LAYERS.md) at a seed in a single
process with one ``local[nproc]`` Spark session at a time, checks its
outputs and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, measured with tracing off.
``--trace 1`` reports the per-layer metrics of a traced pass: Spark job
groups per span, the Spark event log, and timing wrappers around the
eager functions the crawl loop and the curation pipeline call.  The traced
pass follows an untimed warm-up and precedes an untraced pass, which gives
the reference wall time for the tracing overhead.  The spans, per-round
stats and event-log totals are written to ``.perfbench_work/traces/``.

All scratch state (input cache, Spark temp dirs, event logs, crawl
tables) lives in ``.perfbench_work/`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "urls_per_s": "1/s",
    "round_p50_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ops_ok_ratio": "ratio",
}
SETUPS = 3  # setup_s is the median of this many session set-ups


def _env(run_dir: str) -> dict[str, str]:
    """Point every temp/scratch location inside the checkout and make the
    engine importable in Python workers from any cwd; returns the Spark
    conf that goes with it.  Must run before pyspark is imported."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["EGET_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    # every JVM spark-submit starts (its launcher too); PerfDisableSharedMem
    # because HotSpot writes its perf-data file to /tmp whatever
    # java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # the script's own directory must not shadow top-level modules
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]
    return {
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    }


_T0 = time.monotonic()


def _log(msg: str) -> None:
    print(f"perfbench [{time.monotonic() - _T0:6.1f}s]: {msg}", file=sys.stderr, flush=True)


def _warm_up(spark) -> None:
    """A shuffle job with a codegen'd aggregate, so the JVM's job, stage
    and SQL code paths are loaded."""
    from pyspark.sql import functions as F

    spark.range(1 << 16).groupBy((F.col("id") % 16).alias("k")).agg(
        F.sum("id"), F.countDistinct(F.col("id").cast("string"))
    ).collect()


def _start_python_workers(spark) -> None:
    """Start the Python worker pool once, after the timed set-ups: every
    set-up restarts the SparkContext, which stops the pool.  The UDF is
    created here rather than imported, because a UDF object stays bound to
    the accumulator server of the session that first ran it."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def width(s):
        return s.str.len()

    spark.range(4096).select(F.sum(width(F.col("id").cast("string")))).collect()


def _session(cores: int, conf: dict):
    from eget_spark.session import get_spark

    return get_spark(app_name="perfbench", cores=cores, shuffle_partitions=max(cores, 16), extra_conf=conf)


def _setup(cores: int, conf: dict):
    """``SETUPS`` times: stop any session, get_spark + warm-up.  Returns
    the last session and the median set-up time."""
    spark, times = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _session(cores, conf)
        _warm_up(spark)
        times.append(time.perf_counter() - t0)
    _log("set-ups: " + " ".join(f"{t:.2f}" for t in times) + " s")
    _start_python_workers(spark)
    return spark, statistics.median(times)


def _restart(spark, cores: int, conf: dict):
    """A new session with ``conf`` in the same JVM, untimed, its Python
    worker pool started like the one ``_setup`` leaves."""
    spark.stop()
    spark = _session(cores, conf)
    _start_python_workers(spark)
    return spark


def _pass(workload, tracer, label: str):
    p = workload.run_pass(tracer)
    root = next(s for s in reversed(tracer.spans) if s.name == "pass")
    stages = " ".join(f"{s.name} {s.seconds:.1f}s" for s in tracer.spans if s.parent == root.id)
    rounds = " ".join(f"{r['attempted']}/{r['deferred']}:{r['duration_sec']:.1f}s" for r in p.rounds)
    _log(f"{label}: {p.wall_s:.2f} s, {len(p.errors)} check failures; {stages}; rounds {rounds}")
    for e in p.errors:
        _log(f"  check failed: {e}")
    return p


def _measure(workload, tracer, seconds: float) -> list:
    """Passes until the next one would end past ``seconds`` (at least one)."""
    passes, t0 = [], time.perf_counter()
    while True:
        passes.append(_pass(workload, tracer, f"pass {len(passes) + 1}"))
        if time.perf_counter() - t0 + passes[-1].wall_s > seconds:
            return passes


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _peak_rss_mb(jvm_pid: int) -> float:
    """RSS high-water mark (VmHWM) of the driver JVM plus the proportional
    set size (Pss) of the Python daemon and workers under it.  The workers
    are forked from one daemon and share most pages with it, so summing
    their RSS would count those pages once per worker."""

    def field(path: str, key: str) -> int:
        with open(path) as fh:
            return next(int(ln.split()[1]) for ln in fh if ln.startswith(key))

    jvm = field(f"/proc/{jvm_pid}/status", "VmHWM:")
    workers = []
    for pid in _descendants(jvm_pid):
        try:
            workers.append(field(f"/proc/{pid}/smaps_rollup", "Pss:"))
        except (OSError, StopIteration):
            continue  # exited meanwhile
    _log(f"peak RSS: JVM {jvm / 1024:.0f} MB + {len(workers)} Python processes {sum(workers) / 1024:.0f} MB")
    return (jvm + sum(workers)) / 1024


def _shutdown(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = f"{time.strftime('%Y%m%dT%H%M%S')}-{uuid.uuid4().hex[:6]}"
    run_dir = os.path.join(WORK, "runs", run_id)
    try:
        return _run(args, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_id: str, run_dir: str) -> int:
    conf = _env(run_dir)
    try:
        import eget_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        _log(f"cannot import the engine from {ROOT}: {e}")
        return 2

    from perfbench import tracing
    from perfbench.inputs import InputCache
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cores = len(os.sched_getaffinity(0))
    event_dir = os.path.join(run_dir, "events")
    traced_conf = {
        **conf,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }

    spark = None
    untraced = []  # trace mode: the reference pass after the traced one
    try:
        spark, setup_s = _setup(cores, conf)
        _log(f"setup_s {setup_s:.2f} (median of {SETUPS}), local[{cores}]")
        workload = WORKLOADS[args.workload]()
        cache = InputCache(os.path.join(WORK, "cache"))
        workload.prepare(spark, cache, args.seed, run_dir)
        _log("inputs ready")
        tracer = tracing.Tracer(run_id)
        if not args.trace:
            passes = _measure(workload, tracer, args.seconds)
            rss = _peak_rss_mb(spark.sparkContext._gateway.proc.pid)
        else:
            # warm-up, traced pass, untraced pass, the two passes each in
            # its own session so only the traced one writes an event log.
            # The warm-up takes the steep part of the JVM's warm-up curve;
            # the untraced pass is the reference, one step warmer than the
            # traced pass, so the overhead is an upper bound.  --seconds
            # does not apply
            workload.warm_up()
            _log("warmed up")
            os.makedirs(event_dir, exist_ok=True)
            spark = _restart(spark, cores, traced_conf)
            workload.prepare(spark, cache, args.seed, run_dir)
            tracer.sc = spark.sparkContext
            with tracing.wrapped_layers(tracer):
                passes = [_pass(workload, tracer, "traced pass")]
            tracer.sc = None
            spark = _restart(spark, cores, conf)
            workload.prepare(spark, cache, args.seed, run_dir)
            untraced.append(_pass(workload, tracing.Tracer(run_id), "untraced pass"))
            ref = untraced[-1].wall_s
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        _shutdown(spark)
        _log("spark stopped")

    every = untraced + passes
    errors = [e for p in every for e in p.errors]
    attempted = sum(p.calls + p.files for p in every)
    failed = sum(p.failed_calls + p.failed_files for p in every)
    if args.trace:
        (log_file,) = os.listdir(event_dir)
        log = tracing.parse_event_log(os.path.join(event_dir, log_file))
        values = trace_metrics(tracer, log, passes[0], cores, ref)
        _write_trace(tracer, log, passes, untraced, values, args, run_id)
        units = PER_LAYER
    else:
        values = {
            k: statistics.median(p.metrics[k] for p in passes)
            for k in ("wall_s", "urls_per_s", "round_p50_s", "docs_per_s")
        }
        values.update(setup_s=setup_s, peak_rss_mb=rss, ops_ok_ratio=1 - failed / attempted)
        units = END_TO_END
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


PER_LAYER = {
    "crawl.loop_s": "s",
    "crawl.rounds": "count",
    "crawl.round1_s": "s",
    "crawl.jobs_per_round": "count",
    "crawl.driver_gap_s": "s",
    "crawl.attempted": "count",
    "crawl.admitted": "count",
    "crawl.deferred": "count",
    "crawl.missing": "count",
    "crawl.fetch_hit_ratio": "ratio",
    "sequence.with_global_seq_s": "s",
    "seen.build_bloom_s": "s",
    "seen.bloom_builds": "count",
    "seen.bloom_bits": "bits",
    "politeness.deferred_ratio": "ratio",
    "tables.append_s": "s",
    "tables.appends": "count",
    "tables.bytes_written": "bytes",
    "tables.files_written": "count",
    "graph.pagerank_s": "s",
    "graph.pagerank_jobs": "count",
    "spans.markdown_s": "s",
    "spans.markdown_bytes": "bytes",
    "convert.s": "s",
    "convert.files": "count",
    "convert.failed_files": "count",
    "html.scrape_s": "s",
    "html.pages": "count",
    "scrape.s": "s",
    "chunker.sentence_s": "s",
    "chunker.semantic_s": "s",
    "chunker.chunks": "count",
    "chunker.jobs": "count",
    "curate.s": "s",
    "curate.kept": "count",
    "curate.dropped": "count",
    "dedup.groups_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.cpu_util": "ratio",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def trace_metrics(tracer, log, p, cores: int, ref_wall: float) -> dict:
    """Per-layer metrics of the traced pass; 0 where a layer does no work
    in this workload.  ``ref_wall`` is the untraced wall it is compared to."""
    from perfbench.tracing import ENGINE_KEYS, inclusive_totals, job_busy_seconds

    inc = inclusive_totals(tracer, log)
    root = next(s for s in tracer.spans if s.name == "pass")
    m = dict.fromkeys(PER_LAYER, 0)

    def secs(name):
        return tracer.total(name, root)[0]

    def jobs(prefix):
        return sum(
            inc[s.id]["jobs"]
            for s in tracer.spans
            if s.name.startswith(prefix) and s.parent == root.id
        )

    crawl_span = next((s for s in tracer.spans if s.name == "crawl.crawl" and s.parent == root.id), None)
    if crawl_span is not None:
        r = p.rounds
        attempted = sum(x["attempted"] for x in r)
        deferred = sum(x["deferred"] for x in r)
        m.update(
            {
                "crawl.loop_s": crawl_span.seconds,
                "crawl.rounds": len(r),
                "crawl.round1_s": r[0]["duration_sec"],
                "crawl.jobs_per_round": inc[crawl_span.id]["jobs"] / len(r),
                "crawl.driver_gap_s": crawl_span.seconds - job_busy_seconds(tracer, log, crawl_span),
                "crawl.attempted": attempted,
                "crawl.admitted": r[-1]["seen_total"],
                "crawl.deferred": deferred,
                "crawl.missing": sum(x["failed"] for x in r),
                "crawl.fetch_hit_ratio": sum(x["success"] for x in r) / attempted,
                "politeness.deferred_ratio": deferred / (attempted + deferred),
            }
        )
    build_s, builds = tracer.total("seen.build_bloom", root)
    append_s, appends = tracer.total("tables.append", root)
    f = p.facts
    m.update(
        {
            "sequence.with_global_seq_s": secs("sequence.with_global_seq"),
            "seen.build_bloom_s": build_s,
            "seen.bloom_builds": builds,
            "seen.bloom_bits": f.get("bloom_bits", 0),
            "tables.append_s": append_s,
            "tables.appends": appends,
            "tables.bytes_written": f.get("table_bytes", 0),
            "tables.files_written": f.get("table_files", 0),
            "graph.pagerank_s": secs("graph.pagerank"),
            "graph.pagerank_jobs": jobs("graph.pagerank"),
            "spans.markdown_s": secs("spans.markdown"),
            "spans.markdown_bytes": f.get("markdown_bytes", 0),
            "convert.s": secs("convert"),
            "convert.files": f.get("converted", 0),
            "convert.failed_files": p.failed_files,
            "html.scrape_s": secs("html.scrape"),
            "html.pages": f.get("html_pages", 0),
            "scrape.s": secs("scrape"),
            "chunker.sentence_s": secs("chunker.sentence"),
            "chunker.semantic_s": secs("chunker.semantic"),
            "chunker.chunks": f.get("chunks", 0),
            "chunker.jobs": jobs("chunker."),
            "curate.s": secs("curate"),
            "curate.kept": f.get("kept", 0),
            "curate.dropped": f.get("dropped", 0),
            "dedup.groups_s": secs("dedup.groups"),
        }
    )
    engine = inc[root.id]
    for k in ENGINE_KEYS:
        m[f"spark.{k}"] = engine[k]
    m["spark.cpu_util"] = engine["executor_cpu_s"] / (root.seconds * cores)
    m["trace.wall_s"] = p.wall_s
    m["trace.overhead_s"] = p.wall_s - ref_wall
    return m


def _write_trace(tracer, log, passes, untraced, values, args, run_id) -> None:
    from perfbench.tracing import inclusive_totals

    inc = inclusive_totals(tracer, log)
    spans = tracer.dump()
    for s in spans:
        s["engine"] = inc[s["id"]]
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-s{args.seed}-{run_id}.json")
    with open(path, "w") as fh:
        json.dump(
            {
                "run_id": run_id,
                "workload": args.workload,
                "seed": args.seed,
                "spans": spans,
                "rounds": [p.rounds for p in passes],
                "untraced_wall_s": [p.wall_s for p in untraced],
                "metrics": values,
            },
            fh,
            indent=1,
        )
    _log(f"trace written to {path}")


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
