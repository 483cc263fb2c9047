"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--sf 0.01] [--corrupt OP[,OP]]

Workloads (see README.md for why each was chosen); each runs Spark on
local[n], n the number of CPUs times the workload's `CPU_SHARE` (1 if
it sets none), with the workload's `JAVA_OPTIONS` (if any) added to the
driver JVM's:
  ksql_rest        KSQL REST server: a pull-query reader and a DDL writer
  corpus_pipeline  pipeline operators of __spark_entry__ and two persistent
                   queries (corpus ingest, tumbling window)
  stream_ingest    persistent queries draining a file backlog

The seed fixes the generated inputs and the order of operations. Each
run generates its inputs, sets the system up three times (the median is
`setup_s`), checks every operation's output once outside the timed
region, warms up for the workload's `WARMUP_S` seconds (if any), then
measures for `--seconds`. With `--trace 0` it prints the
end-to-end metrics; with `--trace 1` it measures half the time
untraced and half traced and prints the per-layer metrics, including
the tracing overhead, and writes the spans to
.perfbench_work/spans-<workload>-<seed>.jsonl.

Output: a table on stdout, then, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. The process exits with a
non-zero code, printing no result, when the program is not in the
checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402

SETUPS = 3
PIPELINE_MODULES = ("dedup", "similarity", "text", "sampling",
                    "contamination", "ingest", "pii", "search")

# name -> unit; printed by every workload. op_p90_s is printed in the
# table only: a run has fewer than 100 operations, so its p90 has fewer
# than ten samples beyond it.
END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_p50_s": "s",
    "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "server.self_s": "s", "server.rows_out": "count",
    "server.bytes_out": "bytes",
    "dialect.parse_s": "s", "dialect.translate_s": "s", "engine.call_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    **{f"{m}.{k}": u for m in PIPELINE_MODULES
       for k, u in (("build_s", "s"), ("build_jobs", "count"),
                    ("exec_s", "s"), ("exec_jobs", "count"))},
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.input_rows": "count", "exec.shuffle_write_bytes": "bytes",
    "exec.tasks": "count", "exec.stages": "count",
    "python.boundary_s": "s",
    "streaming.add_batch_s": "s", "streaming.get_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "state.rows_total": "count", "state.memory_bytes": "bytes",
    "state.commit_s": "s",
    "ingest.kept_ratio": "ratio",
    "sources.register_s": "s",
    "trace.overhead_s": "s", "trace.spans": "count",
}
# per-pass sums; the rest are ratios or run totals
NOT_PER_PASS = ("ingest.kept_ratio", "sources.register_s",
                "trace.overhead_s", "trace.spans")


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    sf: float
    cpus: int
    work: str
    data_dir: str
    checker: common.Checker
    tracer: object = None
    extra: dict = field(default_factory=dict)


WORKLOAD_MODULES = {"ksql_rest": "wl_rest", "corpus_pipeline": "wl_corpus",
                    "stream_ingest": "wl_stream"}


def run(ctx: Ctx) -> tuple[dict, int]:
    """Everything one run does; returns the metrics and the number of
    operations attempted."""
    import duckdb

    import datagen
    import tracing as tr

    wl = importlib.import_module(WORKLOAD_MODULES[ctx.workload])
    t0 = time.perf_counter()
    datagen.generate(ctx.data_dir, ctx.seed, ctx.sf)
    if hasattr(wl, "prepare"):
        wl.prepare(ctx)
    ctx.extra["datagen_s"] = time.perf_counter() - t0

    layer = dict.fromkeys(PER_LAYER, 0.0)
    if ctx.trace:
        ctx.tracer = tr.Tracer()
        from confluent_ksql_charm_spark.engine import KsqlSparkEngine
        ctx.tracer.wrap(KsqlSparkEngine, "register_source",
                        "sources.register_source")

    spark = state = None
    try:
        # SETUPS timed set-ups of session + system; the first one also
        # launches the JVM, which the median leaves out. The sessions
        # stay referenced so no later session can reuse an id().
        t_setups = time.perf_counter()
        sessions, setup_times, register_times = [], [], []
        for i in range(SETUPS):
            if spark is not None:
                wl.teardown(state)
                spark.stop()
            t0 = time.perf_counter()
            spark = common.new_session(ctx.cpus, ctx.work,
                                       getattr(wl, "JAVA_OPTIONS", ""))
            state = wl.setup(ctx, spark)
            setup_times.append(time.perf_counter() - t0)
            sessions.append(spark)
            if ctx.tracer is not None:
                register_times.append(tr.total(ctx.tracer.since(t0),
                                               "sources."))
        ctx.extra["setups_s"] = time.perf_counter() - t_setups
        ctx.extra["first_setup_s"] = setup_times[0]
        if ctx.tracer is not None:
            ctx.tracer.unwrap_all()
            layer["sources.register_s"] = common.median(register_times)

        duck = duckdb.connect()
        for t in datagen.TABLES:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                         f"'{ctx.data_dir}/{t}.parquet')")
        t0 = time.perf_counter()
        attempted = wl.check(ctx, spark, state, duck)
        duck.close()
        ctx.extra["check_s"] = time.perf_counter() - t0
        # untimed passes while the JVM's code still warms up noticeably
        warmup = getattr(wl, "WARMUP_S", 0)
        if warmup:
            t0 = time.perf_counter()
            attempted += wl.measure(ctx, spark, state, warmup)["attempted"]
            ctx.extra["warmup_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()

        if not ctx.trace:
            stats = wl.measure(ctx, spark, state, ctx.seconds)
            e2e, extra = wl.end_to_end(ctx, stats)
            ctx.extra.update(extra)
            metrics = {"setup_s": common.median(setup_times), **e2e,
                       "peak_rss_mb": common.peak_rss_mb()}
            attempted += stats["attempted"]
        else:
            plain = wl.measure(ctx, spark, state, ctx.seconds / 2)
            traced = wl.traced(ctx, spark, state, ctx.tracer, layer,
                               ctx.seconds / 2)
            ctx.tracer.unwrap_all()
            n = len(traced["passes"])
            for k in PER_LAYER:
                if k not in NOT_PER_PASS:
                    layer[k] /= n
            layer["trace.overhead_s"] = (common.median(traced["passes"])
                                         - common.median(plain["passes"]))
            layer["trace.spans"] = float(len(ctx.tracer.spans))
            spans = (common.ROOT / ".perfbench_work"
                     / f"spans-{ctx.workload}-{ctx.seed}.jsonl")
            ctx.tracer.write(str(spans))
            ctx.extra["spans_file"] = str(spans.relative_to(common.ROOT))
            metrics = layer
            attempted += plain["attempted"] + traced["attempted"]
        ctx.extra["measure_s"] = time.perf_counter() - t0
    finally:
        if spark is not None:
            wl.teardown(state)
            spark.stop()
        common.stop_jvm()
    return metrics, attempted


def _table(ctx: Ctx, metrics: dict, units: dict, attempted: int,
           failed: int) -> None:
    print(f"workload {ctx.workload}  seed {ctx.seed}  sf {ctx.sf}  "
          f"local[{ctx.cpus}]  seconds {ctx.seconds}  trace {int(ctx.trace)}")
    for k, v in metrics.items():
        print(f"  {k:34s} {v:14.6g} {units.get(k, '')}")
    for k, v in ctx.extra.items():
        print(f"  {k:34s} {v:14.6g} {units.get(k, '')}"
              if isinstance(v, (int, float)) else f"  {k:34s} {v}")
    print(f"  {'failed_ratio':34s} {failed / max(1, attempted):14.6g} ratio"
          f"  ({failed} of {attempted} operations)")
    for f in ctx.checker.failures[:20]:
        print(f"  failed: {f}")


def main(argv: list[str] | None = None) -> int:
    if argv is None and os.environ.get("PYTHONHASHSEED") != "0":
        # Python salts str hashes per process, and with them the order
        # in which the program iterates sets of names. On `ksql_rest`
        # that split runs into a fast and a slow mode (passes of 2.4-2.7 s
        # against 3.1-3.2 s); one fixed salt keeps every run in one mode.
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable, *sys.argv])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=tuple(WORKLOAD_MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="scale factor of the generated tables")
    ap.add_argument("--corrupt", default="",
                    help="comma-separated operations whose expected result "
                         "is deliberately wrong (self-test)")
    args = ap.parse_args(argv)

    common.ensure_importable()
    # a SIGTERM unwinds like an error, so the JVM is still shut down
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = importlib.import_module(WORKLOAD_MODULES[args.workload])
    cpus = max(1, int(len(os.sched_getaffinity(0))
                      * getattr(wl, "CPU_SHARE", 1.0)))
    work = str(common.ROOT / ".perfbench_work"
               / f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    common.configure_env(work)
    ctx = Ctx(workload=args.workload, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), sf=args.sf,
              cpus=cpus, work=work,
              data_dir=os.path.join(work, "data"),
              checker=common.Checker(frozenset(
                  c for c in args.corrupt.split(",") if c)))
    try:
        metrics, attempted = run(ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    failed = len(ctx.checker.failures)
    units = {**END_TO_END, **PER_LAYER}
    _table(ctx, metrics, units, attempted, failed)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
