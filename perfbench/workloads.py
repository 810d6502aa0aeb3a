"""The two workloads: ``exec_csv`` (in-process ``csvb exec`` path) and
``serve_short`` (a ``csvb serve`` subprocess driven over the wire).

Each workload function returns a ``Result``. Statement latencies are
kept per statement kind; the timed window starts after set-up and one
untimed warm-up pass over every kind, and ends at the first statement
boundary past ``--seconds`` (for ``exec_csv``, the first round
boundary). Every client runs a closed loop: it sends its next
statement only after the previous one completed.
"""

from __future__ import annotations

import dataclasses
import os
import random
import statistics
import threading
import time

import pyarrow.compute as pc

import check
import gen
import layers
import procs
import spans as spans_mod
import stats
from wire import WireClient, WireError

# input sizes (rows)
EXEC_ORDERS, EXEC_CUSTOMERS, LINES_PER_ORDER = 15000, 1500, 4
SERVE_ORDERS, SERVE_CUSTOMERS, ORDER_FILES = 30000, 3000, 4
SERVE_CONNECTIONS = 4


@dataclasses.dataclass
class Result:
    digest: str = ""
    setup_s: float = 0.0
    latencies: dict[str, list[float]] = dataclasses.field(default_factory=dict)
    window: tuple[float, float] = (0.0, 1.0)  # wall-clock start, deadline
    intervals: list[tuple[float, float]] = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = dataclasses.field(default_factory=list)
    peak_rss_mb: float = 0.0
    # statements per second; None: completions inside ``window``
    rate: float | None = None
    extra: dict[str, tuple[float, str]] = dataclasses.field(default_factory=dict)
    layers: dict[str, float] = dataclasses.field(default_factory=dict)
    phases: dict[str, float] = dataclasses.field(default_factory=dict)
    _last: float = dataclasses.field(default_factory=time.perf_counter)

    def stamp(self, phase: str) -> None:
        """Charge the time since the previous stamp to ``phase``."""
        now = time.perf_counter()
        self.phases[phase] = now - self._last
        self._last = now

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what[:120]!r}: {why[:300]}")

    def record(self, kind: str, t0: float, t1: float) -> None:
        """A timed statement, sent at ``t0`` and done at ``t1`` (wall clock)."""
        self.latencies.setdefault(kind, []).append((t1 - t0) * 1e3)
        self.intervals.append((t0, t1))

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        return {
            "setup_s": (self.setup_s, "s"),
            "stmt_p50_ms": (stats.kind_p50(self.latencies), "ms"),
            "stmts_per_s": (
                self.rate if self.rate is not None
                else stats.rate_in_window(self.intervals, *self.window),
                "1/s",
            ),
            "peak_rss_mb": (self.peak_rss_mb, "MiB"),
        }

    def report_extra(self) -> None:
        """Workload-independent extras: pooled tail where supported."""
        pooled = [x for v in self.latencies.values() for x in v]
        if stats.tail_supported(len(pooled), 0.9):
            self.extra["stmt_p90_ms"] = (stats.percentile(pooled, 0.9), "ms")
        self.extra["error_rate"] = (self.failed / max(1, self.attempted), "ratio")


@dataclasses.dataclass
class Stmt:
    kind: str
    sql: str
    expect: object = None  # checker input, workload-specific


class Ctx:
    def __init__(self, seed: int, seconds: float, trace: bool, workdir: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = workdir
        self.rng = random.Random(seed)
        self.tracer = spans_mod.Tracer() if trace else None
        self.servers: list[procs.Server] = []

    def server(self, name: str, argv: list[str]) -> procs.Server:
        s = procs.Server(os.path.join(self.workdir, name), argv, traced=self.trace)
        self.servers.append(s)
        return s

    def session(self):
        import csvb_spark.session as session

        return session.get_session(
            app_name="perfbench",
            memory_pool_bytes=procs.MEMORY_POOL_BYTES,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.workdir, "warehouse")
            },
        )


# --- exec_csv ---------------------------------------------------------------


def _date(days: int) -> str:
    return str(gen.EPOCH_1992 + days)


def exec_round(rng: random.Random, okeys: list[int]) -> list[Stmt]:
    """One of each exec_csv statement kind, seeded parameters, seeded
    order. ``expect`` is the DuckDB statement that must agree."""
    d1 = _date(2190 + rng.randrange(60, 121))
    year = 1993 + rng.randrange(5)
    disc = rng.randrange(2, 10) / 100
    seg = rng.choice(gen.SEGMENTS)
    d3 = _date(1150 + rng.randrange(31))
    key = rng.choice(okeys)
    nk = rng.randrange(5, 25)
    ck = rng.randrange(20, 60)
    y2 = 1992 + rng.randrange(6)
    q1 = (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(l_extendedprice) AS sum_base_price, "
        "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
        "avg(l_discount) AS avg_disc, count(*) AS count_order FROM lineitem "
        f"WHERE l_shipdate <= DATE '{d1}' GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"
    )
    q6 = (
        "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
        f"WHERE l_shipdate >= DATE '{year}-01-01' AND l_shipdate < DATE '{year + 1}-01-01' "
        f"AND l_discount BETWEEN {disc - 0.01:.2f} AND {disc + 0.01:.2f} AND l_quantity < 24"
    )
    q3 = (
        "SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS revenue, "
        "o_orderdate, o_shippriority FROM customer, orders, lineitem "
        f"WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey "
        f"AND l_orderkey = o_orderkey AND o_orderdate < DATE '{d3}' "
        f"AND l_shipdate > DATE '{d3}' "
        "GROUP BY l_orderkey, o_orderdate, o_shippriority "
        "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
    )
    lookup = f"SELECT * FROM orders WHERE o_orderkey = {key}"
    distinct_on = (
        "SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey, c_acctbal "
        f"FROM customer WHERE c_nationkey < {nk} "
        "ORDER BY c_nationkey, c_acctbal DESC, c_custkey"
    )
    qualify = (
        "SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
        f"WHERE o_custkey <= {ck} QUALIFY row_number() OVER "
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1"
    )
    exclude = f"SELECT * EXCLUDE (n_regionkey) FROM nation WHERE n_nationkey < {nk}"
    chrono = (
        "SELECT to_char(o_orderdate, '%Y/%m') AS ym, count(*) AS n FROM orders "
        f"WHERE o_orderdate >= DATE '{y2}-01-01' AND o_orderdate < DATE '{y2 + 1}-01-01' "
        "GROUP BY to_char(o_orderdate, '%Y/%m')"
    )
    stmts = [
        Stmt("q1", q1, q1),
        Stmt("q6", q6, q6),
        Stmt("q3", q3, q3),
        Stmt("lookup", lookup, lookup),
        Stmt("distinct_on", distinct_on, distinct_on),
        Stmt("qualify", qualify, qualify),
        Stmt("exclude", exclude, exclude),
        Stmt("chrono", chrono, chrono.replace("to_char", "strftime")),
    ]
    rng.shuffle(stmts)
    return stmts


def exec_csv(ctx: Ctx) -> Result:
    res = Result()
    data = os.path.join(ctx.workdir, "data")
    os.makedirs(data)
    cust = gen.customer(ctx.seed, EXEC_CUSTOMERS)
    orders = gen.orders(ctx.seed, EXEC_ORDERS, EXEC_CUSTOMERS)
    gen.write_csv(gen.lineitem(ctx.seed, orders, LINES_PER_ORDER), f"{data}/lineitem.csv")
    gen.write_csv_dir(orders, "o_orderkey", ctx.seed, ORDER_FILES, f"{data}/orders")
    gen.write_csv(cust, f"{data}/customer.csv")
    gen.write_csv(gen.nation(), f"{data}/nation.csv")
    res.digest = gen.digest(data)
    tables = {
        "lineitem": [f"{data}/lineitem.csv"],
        "orders": [f"{data}/orders"],
        "customer": [f"{data}/customer.csv"],
        "nation": [f"{data}/nation.csv"],
    }
    okeys = orders.column("o_orderkey").to_pylist()
    del orders, cust
    res.stamp("inputs")

    if ctx.trace:
        spans_mod.install(ctx.tracer)
    import csvb_spark.sources.csv_source as csv_source
    import csvb_spark.sql as sql

    def register() -> list[float]:
        out = []
        for name, paths in tables.items():
            t = time.perf_counter()
            csv_source.add_direct_table(spark, name, paths)
            out.append((time.perf_counter() - t) * 1e3)
        return out

    t0 = time.perf_counter()
    spark = ctx.session()
    register_ms = register()
    sql.execute_sql(spark, "SELECT 1").collect()
    res.setup_s = time.perf_counter() - t0
    res.stamp("setup")

    results: list[tuple[Stmt, list]] = []

    def run(stmt: Stmt, timed: bool) -> int:
        """Execute ``stmt``; 1 if it completed, 0 if it failed."""
        res.attempted += 1
        t0 = time.time()
        try:
            rows = sql.execute_sql(spark, stmt.sql).collect()
        except Exception as e:  # noqa: BLE001 — a failed statement is a counted result
            res.fail(stmt.sql, f"{type(e).__name__}: {str(e).splitlines()[0]}")
            return 0
        if timed:
            res.record(stmt.kind, t0, time.time())
        results.append((stmt, rows))
        return 1

    for stmt in exec_round(ctx.rng, okeys):  # warm-up
        run(stmt, False)
    res.stamp("warmup")

    # whole rounds only, so every window holds the same statement mix;
    # the rate is the median over rounds, so one slow stretch of the
    # host moves it less than a mean over the window would
    res.window = (time.time(), time.time() + ctx.seconds)
    round_rates = []
    while not round_rates or time.time() < res.window[1]:
        t = time.perf_counter()
        register_ms += register()
        done = sum(run(stmt, True) for stmt in exec_round(ctx.rng, okeys))
        round_rates.append(done / (time.perf_counter() - t))
    res.rate = statistics.median(round_rates)
    res.stamp("window")
    res.peak_rss_mb = procs.tree_peak_rss_mb(os.getpid())
    res.extra["register_ms"] = (statistics.median(register_ms), "ms")

    if ctx.trace:
        in_loop = layers.in_window(ctx.tracer.spans, res.window[0], time.time())
        res.layers.update(layers.statement_layers(in_loop))
        boot = [s for s in ctx.tracer.spans if s["name"] == "session.boot"]
        res.layers["session.boot_s"] = boot[0]["ms"] / 1e3
        # the wire layers need a server; started after the timed window
        # so its start-up does not compete with the measured statements
        layer_server = ctx.server(
            "layer_srv",
            ["serve", "--csv", f"{data}/orders", "--table-name", "orders", "127.0.0.1:0"],
        )
        layer_server.wait_listening()
        lp = layers.LayerPass(ctx, spark, layer_server, tables)
        res.layers.update({k: v for k, v in lp.run().items() if k not in res.layers})
        srv_spans = layers.in_window(
            spans_mod.read_spans(layer_server.spans_path), lp.wire_t0, lp.wire_t1
        )
        res.layers.update(layers.wire_layers(lp.wire_ops, srv_spans))
        res.attempted += len(lp.results)
        for q, why in lp.verify():
            res.fail(q, why)

    res.stamp("layers")
    _check_exec(res, tables, results)
    res.stamp("check")
    return res


def _check_exec(res: Result, tables: dict[str, list[str]], results) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        for name, paths in tables.items():
            p = paths[0] + ("/*.csv" if os.path.isdir(paths[0]) else "")
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_csv('{p}', header=true)")
        oracle: dict[str, list] = {}
        for stmt, rows in results:
            if stmt.expect not in oracle:
                oracle[stmt.expect] = check.canon_rows(con.execute(stmt.expect).fetchall())
            bad = check.diff_message(check.canon_rows(rows), oracle[stmt.expect])
            if bad:
                res.fail(stmt.sql, f"wrong result vs DuckDB: {bad}")
    finally:
        con.close()


# --- serve_short -------------------------------------------------------------

INFO_SQL = "SELECT table_schema, table_name, table_type FROM information_schema.tables"
# what psql 15 sends for \dt
PSQL_DT_SQL = (
    'SELECT n.nspname as "Schema", c.relname as "Name", '
    "CASE c.relkind WHEN 'r' THEN 'table' WHEN 'v' THEN 'view' "
    "WHEN 'm' THEN 'materialized view' WHEN 'i' THEN 'index' "
    "WHEN 'S' THEN 'sequence' WHEN 't' THEN 'TOAST table' "
    "WHEN 'f' THEN 'foreign table' WHEN 'p' THEN 'partitioned table' "
    "WHEN 'I' THEN 'partitioned index' END as \"Type\", "
    'pg_catalog.pg_get_userbyid(c.relowner) as "Owner" '
    "FROM pg_catalog.pg_class c "
    "LEFT JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace "
    "LEFT JOIN pg_catalog.pg_am am ON am.oid = c.relam "
    "WHERE c.relkind IN ('r','p','') AND n.nspname <> 'pg_catalog' "
    "AND n.nspname !~ '^pg_toast' AND n.nspname <> 'information_schema' "
    "AND pg_catalog.pg_table_is_visible(c.oid) ORDER BY 1,2"
)


class Orders:
    """The generated orders table plus the expected answers for the
    serve_short statements."""

    def __init__(self, seed: int):
        self.tbl = gen.orders(seed, SERVE_ORDERS, SERVE_CUSTOMERS)
        self.parsers = check.text_parsers(self.tbl.schema)
        keys = self.tbl.column("o_orderkey").to_numpy()
        self.keys = keys.tolist()
        self.row_of = {k: i for i, k in enumerate(self.keys)}

    def lookup_rows(self, key: int) -> list[tuple]:
        i = self.row_of.get(key)
        if i is None:
            return []
        return check.canon_rows(check.table_rows(self.tbl.slice(i, 1)))

    def cust_groupby(self, cust: int) -> list[tuple]:
        t = self.tbl.filter(pc.equal(self.tbl.column("o_custkey"), cust))
        g = t.group_by("o_orderstatus").aggregate(
            [("o_orderstatus", "count"), ("o_totalprice", "sum")]
        )
        return check.canon_rows(check.table_rows(g.select(
            ["o_orderstatus", "o_orderstatus_count", "o_totalprice_sum"])))


def serve_round(rng: random.Random, od: Orders, n_customers: int, bi: bool) -> list[Stmt]:
    """One round of a serve_short connection, seeded: an application
    connection sends one each of SELECT 1, a key lookup and a
    per-customer group-by; a BI-tool connection sends the two
    introspection queries."""
    # one lookup in ten misses: keys are used only at 1..8 mod 32
    key = rng.choice(od.keys) if rng.random() < 0.9 else 32 * rng.randrange(len(od.keys) // 8) + 20
    cust = rng.randrange(1, n_customers + 1)
    if bi:
        stmts = [
            Stmt("info_schema", INFO_SQL, ("has_table", 1)),
            Stmt("psql_dt", PSQL_DT_SQL, ("has_table", 1)),
        ]
        rng.shuffle(stmts)
        return stmts
    stmts = [
        Stmt("select1", "SELECT 1", [("1",)]),
        Stmt("lookup", f"SELECT * FROM orders WHERE o_orderkey = {key}", ("lookup", key)),
        Stmt(
            "cust_groupby",
            "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
            f"FROM orders WHERE o_custkey = {cust} GROUP BY o_orderstatus",
            ("cust", cust),
        ),
    ]
    rng.shuffle(stmts)
    return stmts


def _check_serve(stmt: Stmt, rows, od: Orders) -> str | None:
    exp = stmt.expect
    if stmt.kind == "select1":
        return check.diff_message([tuple(r) for r in rows], exp)
    if stmt.kind == "lookup":
        return check.diff_message(check.canon_text_rows(rows, od.parsers), od.lookup_rows(exp[1]))
    if stmt.kind == "cust_groupby":
        return check.diff_message(
            check.canon_text_rows(rows, [str, int, float]), od.cust_groupby(exp[1])
        )
    names = [r[exp[1]] for r in rows]
    return None if "orders" in names else f"'orders' missing from {names}"


def _start_server(ctx: Ctx, res: Result, argv: list[str]):
    """Spawn the workload's server; with tracing, boot the in-process
    session for the layer pass while it starts. Returns (server,
    session or None); set-up ends when ``SELECT 1`` is answered."""
    res.stamp("inputs")
    t0 = time.perf_counter()
    server = ctx.server("srv", argv)
    spark = ctx.session() if ctx.trace else None
    server.wait_listening()
    c = WireClient(server.host, server.port)
    c.query("SELECT 1")
    res.setup_s = time.perf_counter() - t0
    res.stamp("setup")
    c.close()
    return server, spark


def _wire_finish(ctx: Ctx, res: Result, server, spark, ops, w0: float, w1: float, csv_tables):
    res.peak_rss_mb = server.peak_rss_mb()
    if not server.alive():
        res.fail("server", "server process died during the run")
    if not ctx.trace:
        return
    srv = spans_mod.read_spans(server.spans_path)
    res.layers.update(layers.statement_layers(layers.in_window(srv, w0, w1)))
    boot = [s for s in srv if s["name"] == "session.boot"]
    res.layers["session.boot_s"] = boot[0]["ms"] / 1e3
    lp = layers.LayerPass(ctx, spark, server, csv_tables)
    res.layers.update({k: v for k, v in lp.run().items() if k not in res.layers})
    win = layers.in_window(srv, w0, w1) + layers.in_window(
        spans_mod.read_spans(server.spans_path), lp.wire_t0, lp.wire_t1
    )
    res.layers.update(layers.wire_layers(ops + lp.wire_ops, win))
    res.attempted += len(lp.results)
    for q, why in lp.verify():
        res.fail(q, why)


def serve_short(ctx: Ctx) -> Result:
    res = Result()
    data = os.path.join(ctx.workdir, "data")
    od = Orders(ctx.seed)
    gen.write_csv_dir(od.tbl, "o_orderkey", ctx.seed, ORDER_FILES, f"{data}/orders")
    res.digest = gen.digest(data)
    server, spark = _start_server(
        ctx, res, ["serve", "--csv", f"{data}/orders", "--table-name", "orders", "127.0.0.1:0"]
    )
    clients = [WireClient(server.host, server.port) for _ in range(SERVE_CONNECTIONS)]
    rngs = [random.Random(ctx.rng.random()) for _ in clients]
    lock = threading.Lock()
    checks: list[tuple[Stmt, list]] = []
    ops: list[dict] = []

    def worker(i: int, stmts_of, deadline: float | None, timed: bool) -> None:
        c = clients[i]
        first = True
        while first or (deadline is not None and time.time() < deadline):
            for stmt in stmts_of(i):
                if not first and time.time() >= deadline:
                    break
                with lock:
                    res.attempted += 1
                rx = c.rx_bytes
                t0 = time.time()
                try:
                    rows = c.query(stmt.sql)[1]
                except WireError as e:
                    with lock:
                        res.fail(stmt.sql, str(e))
                    continue
                except (ConnectionError, OSError) as e:
                    with lock:
                        res.fail(stmt.sql, f"connection lost: {e}")
                    return
                t1 = time.time()
                with lock:
                    checks.append((stmt, rows))
                    if timed:
                        res.record(stmt.kind, t0, t1)
                        ops.append(dict(kind=stmt.kind, t0=t0, t1=t1, rows=len(rows), rx=c.rx_bytes - rx))
            first = False
            if deadline is None:
                return

    def run_all(stmts_of, deadline, timed):
        ts = [threading.Thread(target=worker, args=(i, stmts_of, deadline, timed)) for i in range(len(clients))]
        for t in ts:
            t.start()
        for t in ts:
            t.join()

    # connection 0 is the BI tool, the others are applications
    def round_of(rng, i):
        return serve_round(rng, od, SERVE_CUSTOMERS, bi=i == 0)

    # warm-up: the two introspection queries on two connections at
    # once, an application round on the others
    bi_warm = round_of(ctx.rng, 0)
    run_all(lambda i: bi_warm[i:i + 1] if i < 2 else round_of(ctx.rng, i), None, False)
    res.stamp("warmup")
    res.window = (time.time(), time.time() + ctx.seconds)
    run_all(lambda i: round_of(rngs[i], i), res.window[1], True)
    w0, w1 = res.window[0], time.time()
    res.stamp("window")
    intro = res.latencies.get("info_schema", []) + res.latencies.get("psql_dt", [])
    if intro:
        res.extra["introspect_p50_ms"] = (statistics.median(intro), "ms")
    for c in clients:
        c.close()
    _wire_finish(ctx, res, server, spark, ops, w0, w1, {"orders": [f"{data}/orders"]})
    res.stamp("layers")
    for stmt, rows in checks:
        bad = _check_serve(stmt, rows, od)
        if bad:
            res.fail(stmt.sql, f"wrong result: {bad}")
    res.stamp("check")
    return res


WORKLOADS = {"exec_csv": exec_csv, "serve_short": serve_short}
