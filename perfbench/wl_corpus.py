"""`corpus_pipeline`: one caller runs a fixed list of pipeline operators
from `__spark_entry__.queries()` and drains two persistent queries.

A batch operation is the operator call (build: the plan plus the eager
Spark jobs the operator runs) followed by its force through the noop
sink (exec); `spark.catalog.clearCache()` runs after each one. A
streaming operation starts a persistent query over a file backlog of
`wl_stream` (`TRIGGER='availablenow'`) and waits until it has drained
it: the corpus ingest (`start_corpus_ingest`, the dedup above applied
incrementally against a growing corpus) and a tumbling-window KSQL
CTAS, whose aggregation keeps its windows in the state store.

The seed fixes the inputs and the order of the operations within a
pass. Before timing, one pass compares every batch operator's rows
with its DuckDB oracle and each streaming sink's row count with the
batch-mode result of the same statement; that pass also warms the JVM
and the Python workers.
"""

from __future__ import annotations

import random
import time

import common
import tracing
import wl_stream

# (queries() entry, pipeline module whose operator it calls, input table):
# one operator per pipeline module, three of the largest eager-job floors
# of the ROADMAP table (dedup_keep_best, dsir_sample, bloom_decontaminate)
# and the largest Python-boundary case (knn_graph)
OPS = (
    ("dedup_keep_best", "dedup", "documents"),
    ("dsir_sample", "sampling", "documents"),
    ("bloom_decontaminate", "contamination", "documents"),
    ("distinct_ngrams", "text", "documents"),
    ("knn_graph", "similarity", "embeddings"),
    ("pq_topk", "similarity", "embeddings"),
)
# persistent queries of `wl_stream`, drained one at a time
STREAM_OPS = (wl_stream.INGEST, "tumbling_window")
N_OPS = len(OPS) + len(STREAM_OPS)


# The entry's dedup_keep_best oracle compares all document pairs
# (about 20 s in DuckDB for 500 documents). This equivalent form finds
# the candidate pairs through the shared shingles instead (pairs sharing
# none have Jaccard 0); the rest of the query is the entry's. The
# self-test checks that both give the same rows.
DEDUP_KEEP_BEST_ORACLE = (
    "WITH RECURSIVE toks AS (SELECT doc_id, "
    "string_split_regex(trim(text), '\\s+') AS t FROM documents), "
    "sh AS (SELECT doc_id, list_distinct(CASE WHEN length(t) >= 3 THEN "
    "[array_to_string(t[i:i+2], ' ') FOR i IN "
    "generate_series(1, length(t) - 2)] "
    "ELSE [array_to_string(t, ' ')] END) AS s FROM toks), "
    "n AS (SELECT doc_id, length(s) AS k FROM sh), "
    "g AS (SELECT doc_id, unnest(s) AS gram FROM sh), "
    "common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c "
    "FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id "
    "GROUP BY 1, 2), "
    "prs AS (SELECT id_a, id_b FROM common "
    "JOIN n na ON na.doc_id = id_a JOIN n nb ON nb.doc_id = id_b "
    "WHERE c * 1.0 / (na.k + nb.k - c) >= 0.5), "
    "edges AS (SELECT id_a AS u, id_b AS v FROM prs "
    "UNION SELECT id_b, id_a FROM prs), "
    "reach AS (SELECT u, u AS r FROM (SELECT DISTINCT u FROM edges) UNION "
    "SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u), "
    "comp AS (SELECT u AS doc_id, MIN(r) AS c FROM reach GROUP BY u), "
    "asg AS (SELECT d.doc_id, COALESCE(comp.c, d.doc_id) AS cluster_id, "
    "length(d.text) AS q FROM documents d LEFT JOIN comp USING (doc_id)) "
    "SELECT doc_id, cluster_id FROM (SELECT doc_id, cluster_id, "
    "row_number() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id) "
    "AS rn FROM asg) WHERE rn = 1")


def oracles() -> dict[str, str]:
    import __spark_entry__ as entry

    return {**entry.oracle_sql(),
            "dedup_keep_best": DEDUP_KEEP_BEST_ORACLE}


def prepare(ctx) -> None:
    wl_stream.prepare(ctx)


def setup(ctx, spark):
    import __spark_entry__ as entry

    # the entry's engine: session + engine + every table registered; and
    # the streaming engine over the backlog
    return {"engine": entry._eng(spark, ctx.data_dir),
            "queries": entry.queries(),
            "stream": wl_stream.setup(ctx, spark)}


def teardown(state) -> None:
    if state is not None:
        wl_stream.teardown(state["stream"])


def _drain(ctx, spark, state, name: str, count: bool = False) -> dict:
    """Start one persistent query and wait until it has drained."""
    st = state["stream"]
    st["pass"] += 1
    q = wl_stream.start(ctx, st, name, st["pass"])
    return wl_stream.finish(spark, st, q, count)


def check(ctx, spark, state, duck) -> int:
    """Run each operation once and compare its output with the expected
    one. Returns the number of operations attempted."""
    sql = oracles()
    for name, _, _ in OPS:
        try:
            df = state["queries"][name](spark, ctx.data_dir)
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            rel = duck.sql(sql[name])
            ctx.checker.rows(name, cols, rows, rel.columns, rel.fetchall())
        except Exception as e:  # a failing operator is a failed operation
            ctx.checker.error(name, e)
        spark.catalog.clearCache()
    results = []
    for name in STREAM_OPS:
        try:
            results.append(_drain(ctx, spark, state, name, count=True))
        except Exception as e:
            ctx.checker.error(name, e)
    wl_stream.check_results(ctx, spark, results)
    return N_OPS


def _order(seed: int) -> list[str]:
    names = [n for n, _, _ in OPS] + list(STREAM_OPS)
    random.Random(seed).shuffle(names)
    return names


def _one_op(ctx, spark, state, name, tracer, layer, results) -> float:
    if name in STREAM_OPS:
        if tracer is None:
            q = _drain(ctx, spark, state, name)
            return q["start_s"] + q["drain_s"]
        tracer.set_op(f"{name}-{state['stream']['pass'] + 1}")
        before = tracing.stage_snapshot(spark)
        q = _drain(ctx, spark, state, name)
        tracer.set_op(None)
        results.append(q)
        stages = tracing.stage_delta(tracing.stage_snapshot(spark), before)
        for k, v in stages.items():
            layer[f"exec.{k}"] += v
        return q["start_s"] + q["drain_s"]
    fn = state["queries"][name]
    t0 = time.perf_counter()
    if tracer is None:
        common.force(fn(spark, ctx.data_dir))
        dt = time.perf_counter() - t0
        spark.catalog.clearCache()
        return dt
    sc = spark.sparkContext
    tag = f"{name}-{layer['n_ops']}"
    layer["n_ops"] += 1
    tracer.set_op(tag)
    before = tracing.stage_snapshot(spark)
    t0 = time.perf_counter()
    sc.setJobGroup(f"build-{tag}", name)
    with tracer.span("op.build"):
        df = fn(spark, ctx.data_dir)
    t1 = time.perf_counter()
    sc.setJobGroup(f"exec-{tag}", name)
    with tracer.span("op.exec"):
        common.force(df)
    t2 = time.perf_counter()
    sc.setJobGroup(None, None)
    tracer.set_op(None)
    spark.catalog.clearCache()
    # read after the timed region: jobs, stage totals, planning phases
    module = dict((n, m) for n, m, _ in OPS)[name]
    layer[f"{module}.build_s"] += t1 - t0
    layer[f"{module}.exec_s"] += t2 - t1
    layer[f"{module}.build_jobs"] += tracing.jobs_in_group(spark,
                                                         f"build-{tag}")
    layer[f"{module}.exec_jobs"] += tracing.jobs_in_group(spark,
                                                        f"exec-{tag}")
    stages = tracing.stage_delta(tracing.stage_snapshot(spark), before)
    for k, v in stages.items():
        layer[f"exec.{k}"] += v
    plan = tracing.executed_plan(df)
    if tracing.has_python(plan):
        layer["python.boundary_s"] += max(
            0.0, stages["run_s"] - stages["cpu_s"] - stages["gc_s"])
    for phase, v in tracing.planning_phases(df).items():
        layer[f"catalyst.{phase}_s"] += v
    return t2 - t0


def measure(ctx, spark, state, seconds: float, tracer=None,
            layer=None) -> dict:
    """Whole passes until `seconds` have gone by (at least one)."""
    ops = _order(ctx.seed)
    deadline = common.Deadline(seconds)
    passes, lat, results = [], {}, []
    while not passes or not deadline.passed():
        t0 = time.perf_counter()
        for name in ops:
            try:
                lat.setdefault(name, []).append(_one_op(
                    ctx, spark, state, name, tracer, layer, results))
            except Exception as e:
                ctx.checker.error(name, e)
        passes.append(time.perf_counter() - t0)
    return {"passes": passes, "lat": lat, "results": results,
            "attempted": len(passes) * len(ops)}


def rows_per_pass(ctx) -> int:
    import pyarrow.parquet as pq

    n = {t: pq.read_metadata(f"{ctx.data_dir}/{t}.parquet").num_rows
         for t in ("documents", "embeddings")}
    # the events backlog and the documents backlog (as many files)
    stream = ctx.extra["backlog_rows"] + wl_stream.COPIES * n["documents"]
    return sum(n[t] for _, _, t in OPS) + stream


def end_to_end(ctx, stats) -> tuple[dict, dict]:
    p = common.median(stats["passes"])
    lat = [x for xs in stats["lat"].values() for x in xs]
    e2e = {
        "pass_s": p,
        "op_p50_s": common.pct(lat, 50),
        "rows_per_s": rows_per_pass(ctx) / p,
    }
    extra = {"op_p90_s": common.pct(lat, 90),
             "passes": len(stats["passes"]), "ops": len(lat),
             **{f"{name}_s": common.median(xs)
                for name, xs in stats["lat"].items()}}
    return e2e, extra


def traced(ctx, spark, state, tracer, layer, seconds: float) -> dict:
    import importlib

    for mod in ("dedup", "similarity", "text", "sampling", "contamination",
                "ingest", "pii", "search"):
        tracer.wrap_module_functions(importlib.import_module(
            f"confluent_ksql_charm_spark.pipeline.{mod}"), f"pipeline.{mod}")
    layer["n_ops"] = 0
    stats = measure(ctx, spark, state, seconds, tracer, layer)
    layer.pop("n_ops")
    wl_stream.progress_layers(ctx, spark, layer, stats["results"])
    return stats
