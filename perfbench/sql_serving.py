"""``sql_serving``: ad-hoc SQL and catalog calls through the REST app.

A closed loop of ``CLIENTS`` threads, each with its own client of
``api.server.create_app``: a client sends its next request only after
the previous reply.  The seeded mix has point lookups, selective
filters with a limit, group-by aggregates and 2-3-way TPC-H-shaped
joins on ``/query``, plus ``/tables`` and ``/table``.  Every reply is
checked after the timed loop: status 200, and for ``/query`` the rows
equal DuckDB's answer to the same SQL on the same Parquet files.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import threading
import time
from dataclasses import dataclass

from harness import catalyst_phases, median, p90

SF = 0.01
CLIENTS = 2
WARMUP_ROUNDS = 1
MIN_REQUESTS = 100  # so that at least ten replies lie beyond p90
PLANNED_OUT_OF_BAND = 24  # distinct SQL texts planned for catalyst.*
LAKE_NS = "lake"

# layers this workload never enters; their metrics read 0 here
BYPASSED = ("ops.", "jobs.", "plan_cache.", "ingest.", "snapshots.", "batch.")


@dataclass
class Request:
    kind: str
    route: str
    sql: str | None = None


def _day(rng: random.Random, lo: str, hi: str) -> dt.date:
    a, b = dt.date.fromisoformat(lo), dt.date.fromisoformat(hi)
    return a + dt.timedelta(days=rng.randrange((b - a).days))


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _query(rng: random.Random, shape: str, counts: dict[str, int]) -> str:
    """One SQL text of the given shape, with seeded keys and constants."""
    if shape == "lookup_order":
        return (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority "
            f"FROM orders WHERE o_orderkey = {rng.randrange(counts['orders'])}"
        )
    if shape == "lookup_customer":
        return (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
            f"FROM customer WHERE c_custkey = {rng.randrange(counts['customer'])}"
        )
    if shape == "filter_limit":
        d = _day(rng, "1995-02-01", "2001-10-01")
        q = rng.randrange(1, 48)
        return (
            "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice "
            f"FROM lineitem WHERE l_shipdate >= {_ts(d)} "
            f"AND l_shipdate < {_ts(d + dt.timedelta(days=30))} "
            f"AND l_quantity BETWEEN {q} AND {q + 2} "
            "ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice LIMIT 20"
        )
    if shape == "agg_lineitem":
        return (
            "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
            "CAST(SUM(l_quantity) AS BIGINT) AS qty, MAX(l_extendedprice) AS hi "
            f"FROM lineitem WHERE l_shipdate < {_ts(_day(rng, '1996-01-01', '2001-10-01'))} "
            "GROUP BY l_returnflag, l_linestatus"
        )
    if shape == "agg_orders":
        d = _day(rng, "1995-01-01", "2001-01-01")
        return (
            "SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, "
            "MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders "
            f"WHERE o_orderdate >= {_ts(d)} AND o_orderdate < {_ts(d + dt.timedelta(days=180))} "
            "GROUP BY o_orderpriority, o_orderstatus"
        )
    if shape == "join_customer_orders":
        return (
            "SELECT c_mktsegment, COUNT(*) AS n, MAX(o_totalprice) AS hi "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            f"WHERE o_orderpriority = '{rng.choice(PRIORITIES)}' "
            f"AND c_acctbal > {rng.randrange(0, 9000)} GROUP BY c_mktsegment"
        )
    assert shape == "join_lineitem_orders_customer", shape
    d = _day(rng, "1995-01-01", "2001-04-01")
    return (
        "SELECT c_nationkey, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS qty "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        f"WHERE o_orderdate >= {_ts(d)} AND o_orderdate < {_ts(d + dt.timedelta(days=120))} "
        "GROUP BY c_nationkey"
    )


# The mix.  The request kinds are the six the workload is defined by:
# point lookups, selective filters with a limit, group-by aggregates,
# 2-3-way joins, /tables and /table.  Nothing records how often the
# reference's users send each kind, so every kind gets the same share,
# 1/6, and within a kind every template the same share.  (The
# reference's own request corpus, rest-api.http, holds 3 catalog calls
# to 4 queries; catalog calls at 1/3 are of the same order.)  Every
# block of 12 has this exact composition, in seeded order, so runs with
# different seeds carry the same mix and differ only in keys, constants
# and order.
BLOCK = (
    ["lookup_order", "lookup_customer"] + ["filter_limit"] * 2
    + ["agg_lineitem", "agg_orders"] + ["join_customer_orders", "join_lineitem_orders_customer"]
    + ["tables"] * 2 + ["table"] * 2
)


def _request(rng: random.Random, shape: str, counts: dict[str, int]) -> Request:
    if shape == "tables":
        return Request(shape, "/tables?namespace=default")
    if shape == "table":
        return Request(shape, f"/table?namespace={LAKE_NS}&table=purchase_events")
    return Request(shape, "/query", _query(rng, shape, counts))


def make_requests(seed: int, counts: dict[str, int], n: int) -> list[Request]:
    """The seeded request sequence: keys, constants and order."""
    rng = random.Random(seed)
    out: list[Request] = []
    while len(out) < n:
        block = list(BLOCK)
        rng.shuffle(block)
        out += [_request(rng, shape, counts) for shape in block]
    return out[:n]


def warmup_requests(seed: int, counts: dict[str, int]) -> list[Request]:
    """Every request shape, ``WARMUP_ROUNDS`` times, with its own seed."""
    rng = random.Random(seed ^ 0x5EED)
    return [_request(rng, shape, counts) for _ in range(WARMUP_ROUNDS) for shape in dict.fromkeys(BLOCK)]


@dataclass
class Reply:
    req: Request
    op: str
    start: float
    seconds: float
    status: int
    body: dict | None


def _send(client, req: Request):
    if req.sql is None:
        r = client.get(req.route)
    else:
        r = client.post(req.route, json={"query": req.sql})
    return r.status_code, r.get_json(silent=True)


def closed_loop(app, tracer, requests: list[Request], deadline: float | None,
                min_replies: int = 0) -> list[Reply]:
    """Run ``CLIENTS`` closed-loop clients over the shared sequence until
    it is exhausted, or the deadline has passed and at least
    ``min_replies`` requests were sent."""
    lock = threading.Lock()
    it = iter(requests)
    replies: list[Reply] = []
    errors: list[BaseException] = []
    sent = [0]

    def client_loop() -> None:
        client = app.test_client()
        try:
            while True:
                with lock:
                    late = deadline is not None and time.perf_counter() >= deadline
                    if late and sent[0] >= min_replies:
                        return
                    req = next(it, None)
                    sent[0] += 1
                if req is None:
                    return
                with tracer.operation("request", f"api {req.kind}") as op:
                    t0 = time.perf_counter()
                    status, body = _send(client, req)
                    dt_s = time.perf_counter() - t0
                with lock:
                    replies.append(Reply(req, op, t0, dt_s, status, body))
        except BaseException as exc:  # surfaced to the caller below
            errors.append(exc)

    threads = [threading.Thread(target=client_loop) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return replies


def _sorted_rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=repr)


def check(reply: Reply, con, oracle_cache: dict) -> str | None:
    """None if the reply is right, else a one-line reason."""
    from iceberg_kafka_playgroud_spark.schema import FIXTURE_TABLES

    if reply.status != 200 or reply.body is None:
        return f"status {reply.status}: {str(reply.body)[:120]}"
    req = reply.req
    if req.route.startswith("/tables"):
        missing = set(FIXTURE_TABLES) - set(reply.body.get("tables", []))
        return f"missing tables {sorted(missing)}" if missing else None
    if req.route.startswith("/table?"):
        names = [f["name"] for f in reply.body.get("schema", [])]
        ok = names[:4] == ["timestamp", "user_id", "action", "amount"]
        return None if ok else f"unexpected schema {names}"
    if req.sql not in oracle_cache:
        cur = con.execute(req.sql)
        cols = [d[0] for d in cur.description]
        oracle_cache[req.sql] = (cols, _sorted_rows(cur.fetchall()))
    cols, want = oracle_cache[req.sql]
    try:
        got = _sorted_rows(tuple(r[c] for c in cols) for r in reply.body["rows"])
    except KeyError as exc:
        return f"missing column {exc}"
    return None if got == want else f"rows differ: got {got[:2]} want {want[:2]}"


class Workload:
    name = "sql_serving"
    bypassed = BYPASSED

    def __init__(self, spark, box, tracer, seed: int):
        self.spark, self.box, self.tracer, self.seed = spark, box, tracer, seed
        self.con = None

    def setup(self, rep: int) -> dict[str, float]:
        """Generate the sf0.01 tables, register the views, open the
        DuckDB oracle and build the app; returns the timed parts."""
        import duckdb
        from datagen import generate
        from iceberg_kafka_playgroud_spark import catalog
        from iceberg_kafka_playgroud_spark.api.server import create_app
        from iceberg_kafka_playgroud_spark.schema import register_views
        from iceberg_kafka_playgroud_spark.verify import register_duckdb_views

        sf_dir = self.box.path("data", f"sf{SF}-{rep}")
        self.counts = generate(sf_dir, self.seed, SF)
        t0 = time.perf_counter()
        register_views(self.spark, sf_dir)
        t_views = time.perf_counter() - t0
        self.spark.sql(f"DROP TABLE IF EXISTS {LAKE_NS}.purchase_events")
        location = self.box.path("data", f"pe-{rep}")
        os.makedirs(location)
        catalog.create_purchase_events_table(self.spark, LAKE_NS, location)
        self.app = create_app(self.spark)
        if self.con is not None:
            self.con.close()
        self.con = duckdb.connect()
        register_duckdb_views(self.con, sf_dir)
        self.requests = make_requests(self.seed, self.counts, 100_000)
        return {"register_views_s": t_views}

    def warmup(self) -> None:
        closed_loop(self.app, self.tracer, warmup_requests(self.seed, self.counts), None)

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        self.replies = closed_loop(self.app, self.tracer, self.requests, t0 + seconds, MIN_REQUESTS)
        self.wall = time.perf_counter() - t0

    def check(self) -> tuple[int, int, list[str]]:
        cache: dict = {}
        failures = []
        self.failed_ops = set()
        for r in self.replies:
            why = check(r, self.con, cache)
            if why:
                self.failed_ops.add(r.op)
                failures.append(f"{r.req.kind} {r.req.sql or r.req.route}: {why}")
        return len(self.replies), len(failures), failures

    def end_to_end(self) -> dict[str, float]:
        lat = [r.seconds * 1e3 for r in self.replies]
        good = len(self.replies) - len(self.failed_ops)
        return {
            "p50_ms": median(lat),
            "throughput_per_s": good / self.wall,
        }

    def samples(self) -> int:
        return len(self.replies)

    def details(self) -> dict:
        by_kind: dict[str, list[float]] = {}
        for r in self.replies:
            by_kind.setdefault(r.req.kind, []).append(r.seconds * 1e3)
        return {"wall_s": self.wall, "p50_ms_by_kind": {k: round(median(v), 1) for k, v in by_kind.items()}}

    def layers(self, spark_layer_fn, events) -> dict[str, float]:
        from harness import union_length

        jobs = events[0]
        by_route: dict[str, list[float]] = {}
        spark_ms, self_ms, njobs = [], [], []
        for r in self.replies:
            by_route.setdefault(r.req.route.split("?")[0], []).append(r.seconds * 1e3)
            mine = [(j.start, j.end) for j in jobs.values() if j.op == r.op]
            inside = union_length(mine) * 1e3
            spark_ms.append(inside)
            self_ms.append(r.seconds * 1e3 - inside)
            njobs.append(len(mine))
        query_ms = [r.seconds * 1e3 for r in self.replies if r.req.route == "/query"]
        texts = list(dict.fromkeys(r.req.sql for r in self.replies if r.req.sql))
        phases = [catalyst_phases(self.spark.sql(t)) for t in texts[:PLANNED_OUT_OF_BAND]]
        out = {
            "api.request_p90_ms": p90([r.seconds * 1e3 for r in self.replies]),
            "api.query_ms": median(query_ms),
            "api.table_ms": median(by_route.get("/table", [])),
            "api.tables_ms": median(by_route.get("/tables", [])),
            "api.spark_ms": median(spark_ms),
            "api.self_ms": median(self_ms),
            "api.jobs_per_request": sum(njobs) / max(1, len(njobs)),
        }
        for ph in ("analysis", "optimization", "planning"):
            out[f"catalyst.{ph}_ms"] = sum(p.get(ph, 0.0) for p in phases) / max(1, len(phases))
        out.update(spark_layer_fn({r.op for r in self.replies}))
        return out

    def close(self) -> None:
        self.con.close()
