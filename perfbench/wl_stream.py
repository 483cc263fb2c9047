"""`stream_ingest`: KSQL persistent queries drain a fixed file backlog.

The backlog is the generated events repeated `COPIES` times (each copy
shifted in time and key, one file per copy) and a documents backlog of
as many files, read `FILES_PER_TRIGGER` files per micro-batch. One pass
starts these persistent queries in seeded order, lets them drain
(`TRIGGER='availablenow'`) side by side, as a KSQL server runs its
persistent queries, and stops them:

- a stateless filter CSAS to a parquet sink;
- a tumbling-window CTAS and a session-window CTAS, materialized in
  complete mode (every window, as the batch statement returns it);
- a stream-stream `WITHIN` join CSAS to a parquet sink;
- `start_corpus_ingest` (exact dedup against the growing corpus plus the
  repetition gate) over the documents backlog.

Every pass starts from empty sinks and checkpoints. Before timing, one
pass runs and each sink's row count is compared with the batch-mode
result of the same statement over the same files.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import common
import tracing

COPIES = 4
FILES_PER_TRIGGER = 2
WATERMARK = "1 MINUTES"

# name -> (KSQL, sink); {n} is the per-pass suffix, {out} the sink path
QUERIES = {
    "stateless_filter": (
        "CREATE STREAM s_filter_{n} WITH (SINK='parquet', SINK_PATH='{out}', "
        "TRIGGER='availablenow') AS SELECT event_id, user_id, value "
        "FROM bigev WHERE event_type = 'error';", "parquet"),
    "tumbling_window": (
        "CREATE TABLE s_tumble_{n} WITH (TRIGGER='availablenow', "
        "OUTPUT_MODE='complete') AS SELECT event_type, WINDOWSTART() AS ws, "
        "COUNT(*) AS n, SUM(value) AS sv FROM bigev "
        "WINDOW TUMBLING (SIZE 1 HOUR) GROUP BY event_type;", "memory"),
    "session_window": (
        "CREATE TABLE s_session_{n} WITH (TRIGGER='availablenow', "
        "OUTPUT_MODE='complete') AS SELECT user_id, WINDOWSTART() AS ws, "
        "COUNT(*) AS n FROM bigev WINDOW SESSION (10 MINUTES) "
        "GROUP BY user_id;", "memory"),
    "stream_join_within": (
        "CREATE STREAM s_join_{n} WITH (SINK='parquet', SINK_PATH='{out}', "
        "TRIGGER='availablenow') AS SELECT a.event_id AS ea, "
        "b.event_id AS eb, a.user_id FROM bigev a JOIN bigev b "
        "WITHIN 10 SECONDS ON a.user_id = b.user_id;", "parquet"),
}
INGEST = "corpus_ingest"


def prepare(ctx) -> None:
    import datagen

    ctx.extra["backlog_rows"] = datagen.write_stream_backlog(
        ctx.data_dir, _backlog(ctx), ctx.seed, COPIES)["events"]


def _backlog(ctx) -> str:
    return os.path.join(ctx.work, "backlog")


def _stream(spark, path: str):
    schema = spark.read.parquet(path).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", FILES_PER_TRIGGER).parquet(path))


def setup(ctx, spark):
    from confluent_ksql_charm_spark import KsqlSparkEngine

    eng = KsqlSparkEngine(spark, streaming=True)
    eng.config.checkpoint_dir = os.path.join(ctx.work, "ckpt")
    eng.register_source("bigev", df=_stream(spark, f"{_backlog(ctx)}/events"),
                        key="user_id", timestamp="ts", watermark=WATERMARK)
    docs = _stream(spark, f"{_backlog(ctx)}/documents")
    return {"engine": eng, "docs": docs, "pass": 0}


def teardown(state) -> None:
    if state is None:
        return
    for q in state["engine"].spark.streams.active:
        q.stop()


def _order(seed: int) -> list[str]:
    names = [*QUERIES, INGEST]
    random.Random(seed).shuffle(names)
    return names


def start(ctx, state, name: str, n: int) -> dict:
    """Start one persistent query over the backlog."""
    eng = state["engine"]
    out = os.path.join(ctx.work, "sinks", f"{name}_{n}")
    t0 = time.perf_counter()
    if name == INGEST:
        from confluent_ksql_charm_spark.pipeline.ingest import (
            start_corpus_ingest)

        sq = start_corpus_ingest(
            state["docs"], out, os.path.join(ctx.work, "ckpt", f"ingest_{n}"),
            clean=False, quality_gate=True, available_now=True)
        res = None
    else:
        res = eng.execute(QUERIES[name][0].format(n=n, out=out))[0]
        sq = eng.queries[res.message].streaming_query
    return {"name": name, "out": out, "sq": sq, "res": res,
            "start_s": time.perf_counter() - t0}


def finish(spark, state, q: dict, count: bool) -> dict:
    """Wait for a started query to drain; keep its progress (and, with
    `count`, its sink's row count), then forget the query."""
    sq, res, name = q["sq"], q["res"], q["name"]
    t0 = time.perf_counter()
    sq.awaitTermination()
    q["drain_s"] = time.perf_counter() - t0
    if sq.exception() is not None:
        raise RuntimeError(f"{name}: {sq.exception()}")
    q["rows"] = 0
    if count and (name != INGEST or os.path.exists(q["out"])):
        sink = "parquet" if name == INGEST else QUERIES[name][1]
        q["rows"] = (spark.read.parquet(q["out"]) if sink == "parquet"
                     else spark.table(res.message.lower())).count()
    q["progress"] = list(sq.recentProgress)
    q["run_id"] = str(sq.runId)
    if res is not None:
        eng = state["engine"]
        eng.queries.pop(res.message, None)
        spark.catalog.dropTempView(res.message.lower())
        eng.execute(f"DROP {'TABLE' if res.kind == 'CTAS' else 'STREAM'} "
                    f"{res.name};")
    shutil.rmtree(q["out"], ignore_errors=True)
    del q["sq"], q["res"]
    return q


def _pass(ctx, spark, state, count: bool = False) -> list[dict]:
    """Start every query, then drain them all; one result per query. On
    an error the queries still running are stopped."""
    state["pass"] += 1
    started, done = [], []

    def op(name: str) -> None:
        # in traced runs, each query's spans share an operation id
        if ctx.tracer is not None:
            ctx.tracer.set_op(f"{name}-{state['pass']}")

    try:
        for name in _order(ctx.seed):
            op(name)
            started.append(start(ctx, state, name, state["pass"]))
        for q in started:
            op(q["name"])
            done.append(finish(spark, state, q, count))
        return done
    finally:
        if ctx.tracer is not None:
            ctx.tracer.set_op(None)
        for q in started:
            if "sq" in q and q["sq"].isActive:
                q["sq"].stop()


def check(ctx, spark, state, duck) -> int:
    """One untimed pass; each sink's rows against the batch statement."""
    try:
        results = _pass(ctx, spark, state, count=True)
    except Exception as e:
        ctx.checker.error("stream_pass", e)
        return len(QUERIES) + 1
    check_results(ctx, spark, results)
    return len(QUERIES) + 1


def check_results(ctx, spark, results: list[dict]) -> None:
    """Compare each query's sink row count (`finish(..., count=True)`)
    with the batch-mode result of the same statement over the same files;
    keep the ingest's kept ratio in `ctx.extra`."""
    from confluent_ksql_charm_spark import KsqlSparkEngine
    from confluent_ksql_charm_spark.pipeline.ingest import (
        corpus_ingest_batch_fn)

    batch = KsqlSparkEngine(spark)
    batch.register_source("bigev", path=f"{_backlog(ctx)}/events",
                          key="user_id", timestamp="ts")
    for got in results:
        name = got["name"]
        try:
            if name == INGEST:
                docs_in = sum(p["numInputRows"] for p in got["progress"])
                ctx.extra["kept_ratio"] = got["rows"] / docs_in
                out = os.path.join(ctx.work, "batch_ingest")
                docs = spark.read.parquet(f"{_backlog(ctx)}/documents")
                corpus_ingest_batch_fn(out, clean=False,
                                       quality_gate=True)(docs, 0)
                want = spark.read.parquet(out).count()
                shutil.rmtree(out, ignore_errors=True)
            else:
                select = QUERIES[name][0].split(" AS SELECT ", 1)[1]
                want = batch.sql("SELECT " + select.rstrip(";")).count()
            ctx.checker.count(name, got["rows"], want)
        except Exception as e:
            ctx.checker.error(name, e)


def measure(ctx, spark, state, seconds: float) -> dict:
    """Whole passes until `seconds` have gone by (at least one)."""
    deadline = common.Deadline(seconds)
    out = {"passes": [], "lat": [], "rows_in": [], "attempted": 0,
           "results": []}
    while not out["passes"] or not deadline.passed():
        out["attempted"] += len(QUERIES) + 1
        t0 = time.perf_counter()
        try:
            results = _pass(ctx, spark, state)
        except Exception as e:
            ctx.checker.error("stream_pass", e)
            results = []
        out["passes"].append(time.perf_counter() - t0)
        out["results"].extend(results)
        rows_in = 0
        for r in results:
            for p in r["progress"]:
                if p["numInputRows"] > 0:
                    out["lat"].append(
                        p["durationMs"]["triggerExecution"] / 1e3)
                rows_in += p["numInputRows"]
        out["rows_in"].append(rows_in)
    return out


def end_to_end(ctx, stats) -> tuple[dict, dict]:
    rates = [r / p for r, p in zip(stats["rows_in"], stats["passes"])]
    e2e = {
        "pass_s": common.median(stats["passes"]),
        "op_p50_s": common.pct(stats["lat"], 50),
        "rows_per_s": common.median(rates),
    }
    extra = {"op_p90_s": common.pct(stats["lat"], 90),
             "passes": len(stats["passes"]), "batches": len(stats["lat"])}
    return e2e, extra


def traced(ctx, spark, state, tracer, layer, seconds: float) -> dict:
    from confluent_ksql_charm_spark import engine as engine_mod
    from confluent_ksql_charm_spark.pipeline import ingest as ingest_mod

    E = engine_mod.KsqlSparkEngine
    tracer.wrap(E, "execute", "engine.execute")
    tracer.wrap(engine_mod, "parse_statement", "dialect.parse")
    tracer.wrap(engine_mod, "translate_select", "dialect.translate")
    tracer.wrap_module_functions(ingest_mod, "pipeline.ingest")

    before = tracing.stage_snapshot(spark)
    t0 = time.perf_counter()
    stats = measure(ctx, spark, state, seconds)
    spans = tracer.since(t0)
    for k, v in tracing.stage_delta(tracing.stage_snapshot(spark),
                                    before).items():
        layer[f"exec.{k}"] += v
    layer["dialect.parse_s"] += tracing.total(spans, "dialect.parse")
    layer["dialect.translate_s"] += tracing.total(spans, "dialect.translate")
    layer["engine.call_s"] += tracing.self_time(spans, "engine.")
    progress_layers(ctx, spark, layer, stats["results"])
    return stats


def progress_layers(ctx, spark, layer: dict, results: list[dict]) -> None:
    """Add the streaming, state-store and ingest layers of finished
    queries (their `recentProgress`) to `layer`."""
    for r in results:
        state_rows = state_mem = 0.0
        for p in r["progress"]:
            d = p["durationMs"]
            layer["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
            layer["streaming.get_batch_s"] += d.get("getBatch", 0) / 1e3
            layer["streaming.query_planning_s"] += d.get(
                "queryPlanning", 0) / 1e3
            layer["streaming.wal_commit_s"] += d.get("walCommit", 0) / 1e3
            ops = p.get("stateOperators") or []
            state_rows = max(state_rows,
                             sum(o.get("numRowsTotal", 0) for o in ops))
            state_mem = max(state_mem,
                            sum(o.get("memoryUsedBytes", 0) for o in ops))
            layer["state.commit_s"] += sum(o.get("commitTimeMs", 0)
                                           for o in ops) / 1e3
        layer["state.rows_total"] += state_rows
        layer["state.memory_bytes"] += state_mem
        if r["name"] == INGEST:
            # exec is the ingest query's own micro-batch time, not its
            # wait (in `stream_ingest` the queries drain side by side)
            layer["ingest.build_s"] += r["start_s"]
            layer["ingest.exec_s"] += sum(
                p["durationMs"].get("triggerExecution", 0)
                for p in r["progress"]) / 1e3
            layer["ingest.exec_jobs"] += tracing.jobs_in_group(spark,
                                                               r["run_id"])
    layer["ingest.kept_ratio"] = ctx.extra.get("kept_ratio", 0.0)
