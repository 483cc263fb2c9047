"""`ksql_rest`: a `KsqlRestServer` on 127.0.0.1 serving two closed-loop
clients at once.

- The reader sends a fixed mix of KSQL pull queries over `POST /query`
  (the seed fixes their order). Each is the KSQL text of a
  `__spark_entry__.queries()` entry, so its rows can be checked against
  that entry's DuckDB oracle.
- The writer loops CREATE TABLE ... WITH (SINK='parquet') AS SELECT ...
  GROUP BY (over `POST /ksql`), a SELECT of that table (over
  `POST /query`, because `/ksql` does not run a SELECT), and DROP (over
  `POST /ksql`).

A reader request is timed from send to last byte; its first-row time is
taken at the first `{"row"` event, not at the header chunk, which the
server sends before any Spark job runs. `/ksql` responses are keep-alive
with a Content-Length and are read by length.
"""

from __future__ import annotations

import http.client
import itertools
import json
import random
import threading
import time

import common
import tracing

# (oracle name, KSQL text); the texts are those of __spark_entry__
READER = (
    ("pricing_summary",
     "SELECT l_returnflag, l_linestatus, "
     "CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, "
     "ROUND(SUM(l_extendedprice), 2) AS sum_base_price, "
     "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
     "ROUND(AVG(l_quantity), 4) AS avg_qty, "
     "ROUND(MIN(l_extendedprice), 2) AS min_price, "
     "ROUND(MAX(l_extendedprice), 2) AS max_price, "
     "COUNT(*) AS count_order "
     "FROM lineitem GROUP BY l_returnflag, l_linestatus "
     "HAVING COUNT(*) > 10;"),
    ("tumbling_window",
     "SELECT event_type, WINDOWSTART() AS ws, WINDOWEND() AS we, "
     "COUNT(*) AS n, ROUND(SUM(value), 2) AS total "
     "FROM events WINDOW TUMBLING (SIZE 1 HOUR) GROUP BY event_type;"),
    ("hopping_window",
     "SELECT event_type, WINDOWSTART() AS ws, COUNT(*) AS n "
     "FROM events WINDOW HOPPING (SIZE 1 HOUR, ADVANCE BY 30 MINUTES) "
     "GROUP BY event_type;"),
    ("session_window",
     "SELECT user_id, WINDOWSTART() AS ws, COUNT(*) AS n "
     "FROM events WINDOW SESSION (10 MINUTES) GROUP BY user_id;"),
    ("latest_per_key",
     "SELECT user_id, event_id, ROWTIME AS ts_ms, event_type, "
     "ROUND(value, 4) AS value FROM user_state;"),
    ("stream_table_join",
     "SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment, "
     "ROUND(e.value, 4) AS value "
     "FROM events e LEFT JOIN customer_t c ON e.user_id = c.c_custkey "
     "WHERE e.event_type = 'purchase';"),
    ("stream_stream_join_within",
     "SELECT a.event_id AS signup_id, b.event_id AS purchase_id, a.user_id "
     "FROM events a JOIN events b WITHIN 5 MINUTES ON a.user_id = b.user_id "
     "WHERE a.event_type = 'signup' AND b.event_type = 'purchase';"),
    ("conditional_agg",
     "SELECT user_id, "
     "SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err, "
     "SUM(CAST(EXTRACTJSONFIELD(props, '$.k') AS BIGINT)) AS k_sum, "
     "ROUND(MAX(CASE WHEN event_type = 'error' THEN value ELSE NULL END), "
     "4) AS max_err_value FROM events GROUP BY user_id;"),
    ("topk_per_group",
     "SELECT event_type, TOPK(value, 5) AS top5 FROM events "
     "GROUP BY event_type;"),
    ("project_filter",
     "SELECT event_id, user_id, ROUND(value, 4) AS value FROM events "
     "WHERE event_type = 'error' LIMIT 100;"),
)
SCAN_LIMIT = 100
# Spark task slots per CPU. Beside the tasks, the server's handler
# threads, both clients and the JVM's own threads need CPUs: with a slot
# per CPU, runs on a 4-vCPU VM were slower and lost more time to CPU
# steal than with half as many.
CPU_SHARE = 0.5
# The JVM's C1 compiler only. With the default tiered compilation the
# requests kept getting faster for the whole run (C2 still compiling hot
# paths 40 s in), so a run's figures depended on how far it had got;
# with C1 alone the passes are level after the warm-up and no slower at
# this scale (`corpus_pipeline`, which computes more, passes 40 % slower
# with it and keeps the default).
JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"
# seconds of untimed passes after the check, before timing
WARMUP_S = 10
# The writer starts a cycle this often. Unpaced, its share of the two
# Spark task slots followed the relative speed of the two loops, and
# runs settled into faster or slower phases (passes of 2.5 s against
# 3.1 s within one run).
WRITER_PERIOD_S = 1.5

WRITER_SELECT = ("SELECT user_id, COUNT(*) AS n, ROUND(SUM(value), 2) AS total "
                 "FROM events WHERE event_type = 'error' GROUP BY user_id")


class QueryError(RuntimeError):
    pass


def post_query(port: int, ksql: str, parse: bool = True) -> dict:
    """POST /query and read the chunked stream of JSON events. Without
    `parse` (the timed passes) the rows are counted, not decoded, so the
    client takes little of the CPU and the GIL it shares with the
    server."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        t0 = time.perf_counter()
        conn.request("POST", "/query", json.dumps({"ksql": ksql}),
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        if resp.status != 200:
            raise QueryError(f"HTTP {resp.status}: {resp.read()[:300]!r}")
        parts, first_row, tail = [], None, b""
        while True:
            chunk = resp.read1(65536)
            if not chunk:
                break
            if first_row is None and b'{"row"' in tail + chunk:
                first_row = time.perf_counter() - t0
            tail = chunk[-6:]
            parts.append(chunk)
        total = time.perf_counter() - t0
    finally:
        conn.close()
    body = b"".join(parts)
    out = {"total_s": total, "bytes": len(body),
           "first_row_s": total if first_row is None else first_row}
    if not parse:
        # one event per line; JSON text holds no raw newline
        if body.startswith(b'{"error"') or b'\n{"error"' in body:
            raise QueryError(body[body.find(b'{"error"'):][:300].decode())
        if not body.startswith(b'{"header"'):
            raise QueryError("no header event")
        return {**out, "n_rows": body.count(b'\n{"row"')}
    cols, rows = None, []
    for line in body.splitlines():
        ev = json.loads(line)
        if "row" in ev:
            rows.append(tuple(ev["row"]["columns"]))
        elif "header" in ev:
            cols = ev["header"]["columns"]
        elif "error" in ev:
            raise QueryError(ev["error"])
    if cols is None:
        raise QueryError("no header event")
    return {**out, "cols": cols, "rows": rows, "n_rows": len(rows)}


class KsqlClient:
    """Keep-alive connection for POST /ksql (responses carry a
    Content-Length, so `read()` stops at the end of the body)."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=300)

    def execute(self, ksql: str) -> tuple[list, int]:
        self.conn.request("POST", "/ksql", json.dumps({"ksql": ksql}),
                          {"Content-Type": "application/json"})
        resp = self.conn.getresponse()
        body = resp.read()
        if resp.status != 200:
            raise QueryError(f"HTTP {resp.status}: {body[:300]!r}")
        return json.loads(body), len(body)

    def close(self) -> None:
        self.conn.close()


def setup(ctx, spark):
    from confluent_ksql_charm_spark import KsqlSparkEngine
    from confluent_ksql_charm_spark.server import KsqlRestServer

    d = ctx.data_dir
    eng = KsqlSparkEngine(spark, data_dir=d)
    eng.register_source("events", path=f"{d}/events.parquet",
                        key="user_id", timestamp="ts")
    for t in ("lineitem", "orders", "customer"):
        eng.register_source(t, path=f"{d}/{t}.parquet")
    eng.register_source("user_state", df=eng.metastore.get("events").df,
                        key="user_id", timestamp="ts",
                        tiebreak=["event_id"], kind="TABLE")
    eng.register_source("customer_t", df=eng.metastore.get("customer").df,
                        key="c_custkey", kind="TABLE")
    server = KsqlRestServer(eng, port=0).start()
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=60)
    try:
        conn.request("GET", "/healthcheck")
        resp = conn.getresponse()
        resp.read()
        if resp.status != 200:
            raise RuntimeError("REST server is not healthy")
    finally:
        conn.close()
    return {"engine": eng, "server": server, "cycle": 0}


def teardown(state) -> None:
    if state is not None and state.get("server") is not None:
        state["server"].stop()
        state["server"] = None


def check(ctx, spark, state, duck) -> int:
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    port = state["server"].port
    for name, ksql in READER:
        try:
            got = post_query(port, ksql)
            rel = duck.sql(oracles[name])
            exp_cols, exp_rows = rel.columns, rel.fetchall()
            if name == "topk_per_group":
                # compare the TOPK arrays as numbers (the oracle renders
                # them as text)
                got_rows = [(t, tuple(round(x, 3) for x in top))
                            for t, top in got["rows"]]
                i = exp_cols.index("top5_csv")
                exp_rows = [(r[0], tuple(float(x) for x in r[i].split(",")))
                            for r in exp_rows]
                ctx.checker.rows(name, ["event_type", "top5"], got_rows,
                                 ["event_type", "top5"], exp_rows)
            elif name == "project_filter":
                ctx.checker.subset(name, got["cols"], got["rows"], exp_cols,
                                   exp_rows, SCAN_LIMIT)
            else:
                ctx.checker.rows(name, got["cols"], got["rows"], exp_cols,
                                 exp_rows)
        except Exception as e:
            ctx.checker.error(name, e)
    # one writer cycle; the table's rows against DuckDB
    try:
        client = KsqlClient(port)
        try:
            rows = _writer_cycle(ctx, state, client)["rows"]
        finally:
            client.close()
        rel = duck.sql(WRITER_SELECT)
        ctx.checker.rows("writer_ctas", ["user_id", "n", "total"], rows,
                         rel.columns, rel.fetchall())
    except Exception as e:
        ctx.checker.error("writer_ctas", e)
    return len(READER) + 3


def _writer_cycle(ctx, state, client: KsqlClient, parse: bool = True) -> dict:
    state["cycle"] += 1
    name = f"w{state['cycle']}"
    sink = f"{ctx.work}/sinks/{name}"
    t0 = time.perf_counter()
    res, n1 = client.execute(
        f"CREATE TABLE {name} WITH (SINK='parquet', SINK_PATH='{sink}') AS "
        f"{WRITER_SELECT};")
    if res[0].get("type") != "CTAS":
        raise QueryError(f"CTAS answered {res}")
    got = post_query(state["server"].port,
                     f"SELECT user_id, n, total FROM {name};", parse)
    res, n2 = client.execute(f"DROP TABLE {name};")
    if res[0].get("message") != "dropped":
        raise QueryError(f"DROP answered {res}")
    return {"cycle_s": time.perf_counter() - t0, "rows": got.get("rows"),
            "n_rows": got["n_rows"], "bytes": n1 + n2 + got["bytes"]}


def measure(ctx, spark, state, seconds: float) -> dict:
    """Reader passes until `seconds` have gone by (at least one), with the
    writer starting a cycle every `WRITER_PERIOD_S` (or as soon as the
    last one ends, if it took longer) for as long as the reader runs."""
    port = state["server"].port
    order = list(READER)
    random.Random(ctx.seed).shuffle(order)
    reader_done = threading.Event()
    out = {"passes": [], "lat": [], "first": [], "cycles": [], "rows": 0,
           "bytes": 0, "statements": 0, "attempted": 0}
    lock = threading.Lock()

    def fail(name, e):
        with lock:
            ctx.checker.error(name, e)

    def reader():
        deadline = common.Deadline(seconds)
        try:
            while not out["passes"] or not deadline.passed():
                t0 = time.perf_counter()
                for name, ksql in order:
                    try:
                        r = post_query(port, ksql, parse=False)
                    except Exception as e:
                        fail(name, e)
                        continue
                    with lock:
                        out["lat"].append(r["total_s"])
                        out["first"].append(r["first_row_s"])
                        out["rows"] += r["n_rows"]
                        out["bytes"] += r["bytes"]
                        out["statements"] += 1
                with lock:
                    out["passes"].append(time.perf_counter() - t0)
                    out["attempted"] += len(order)
        finally:
            reader_done.set()

    def writer():
        client = KsqlClient(port)
        start = time.perf_counter()
        try:
            while not reader_done.wait(max(0.0,
                                           start - time.perf_counter())):
                start = max(start, time.perf_counter()) + WRITER_PERIOD_S
                with lock:
                    out["attempted"] += 3
                try:
                    r = _writer_cycle(ctx, state, client, parse=False)
                except Exception as e:
                    fail("writer_cycle", e)
                    client.close()
                    client = KsqlClient(port)
                    continue
                with lock:
                    out["cycles"].append(r["cycle_s"])
                    out["rows"] += r["n_rows"]
                    out["bytes"] += r["bytes"]
                    out["statements"] += 3
        finally:
            client.close()

    t0 = time.perf_counter()
    threads = [threading.Thread(target=reader), threading.Thread(target=writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    out["elapsed"] = time.perf_counter() - t0
    return out


def end_to_end(ctx, stats) -> tuple[dict, dict]:
    e2e = {
        "pass_s": common.median(stats["passes"]),
        "op_p50_s": common.pct(stats["lat"], 50),
        "rows_per_s": stats["rows"] / stats["elapsed"],
    }
    extra = {
        "op_p90_s": common.pct(stats["lat"], 90),
        "first_row_p50_s": common.pct(stats["first"], 50),
        "ddl_cycle_p50_s": common.pct(stats["cycles"], 50),
        "statements_per_s": stats["statements"] / stats["elapsed"],
        "passes": len(stats["passes"]),
        "reader_requests": len(stats["lat"]),
        "writer_cycles": len(stats["cycles"]),
    }
    return e2e, extra


def traced(ctx, spark, state, tracer, layer, seconds: float) -> dict:
    from confluent_ksql_charm_spark import engine as engine_mod
    from confluent_ksql_charm_spark import server as server_mod

    E = engine_mod.KsqlSparkEngine
    dfs = []
    _wrap_request(tracer, server_mod._Handler)
    tracer.wrap(E, "execute", "engine.execute")
    tracer.wrap(engine_mod, "parse_statement", "dialect.parse")
    tracer.wrap(engine_mod, "translate_select", "dialect.translate")
    _wrap_statement(tracer, E, dfs)
    _wrap_push_query(tracer, E)

    before = tracing.stage_snapshot(spark)
    t0 = time.perf_counter()
    stats = measure(ctx, spark, state, seconds)
    spans = tracer.since(t0)
    stages = tracing.stage_delta(tracing.stage_snapshot(spark), before)
    for k, v in stages.items():
        layer[f"exec.{k}"] += v
    for df in dfs:
        for phase, v in tracing.planning_phases(df).items():
            layer[f"catalyst.{phase}_s"] += v
    layer["server.self_s"] += (tracing.self_time(spans, "server.")
                               - tracer.counters["engine.rows_s"])
    layer["server.rows_out"] += stats["rows"]
    layer["server.bytes_out"] += stats["bytes"]
    layer["dialect.parse_s"] += tracing.total(spans, "dialect.parse")
    layer["dialect.translate_s"] += tracing.total(spans, "dialect.translate")
    layer["engine.call_s"] += tracing.self_time(spans, "engine.")
    return stats


def _wrap_request(tracer, handler) -> None:
    """Span each request; the spans it causes share its operation id."""
    orig = handler.__dict__["do_POST"]
    ids = itertools.count(1)

    def do_POST(self):
        tracer.set_op(f"request-{next(ids)}")
        try:
            with tracer.span("server.request"):
                return orig(self)
        finally:
            tracer.set_op(None)

    tracer.patch(handler, "do_POST", do_POST)


def _wrap_statement(tracer, E, dfs: list) -> None:
    """Span each engine statement; keep SELECT results for their planning
    phases."""
    orig = E.__dict__["_execute_one"]

    def statement(self, stmt):
        with tracer.span("engine.statement"):
            res = orig(self, stmt)
        if res.kind == "SELECT" and res.df is not None:
            dfs.append(res.df)
        return res

    tracer.patch(E, "_execute_one", statement)


def _wrap_push_query(tracer, E) -> None:
    """Span `push_query_iter` and time each row the server pulls from its
    iterator (a counter, not a span per row)."""
    orig = E.__dict__["push_query_iter"]

    def push_query_iter(self, *args, **kwargs):
        with tracer.span("engine.push_query_iter"):
            cols, rows, limit = orig(self, *args, **kwargs)

        def timed():
            it = iter(rows)
            while True:
                t0 = time.perf_counter()
                try:
                    r = next(it)
                except StopIteration:
                    tracer.add("engine.rows_s", time.perf_counter() - t0)
                    return
                tracer.add("engine.rows_s", time.perf_counter() - t0)
                yield r

        return cols, timed(), limit

    tracer.patch(E, "push_query_iter", push_query_iter)
