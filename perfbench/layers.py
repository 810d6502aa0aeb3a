"""Per-layer metrics for traced runs.

Most layer numbers come from spans around the workload's own
statements (in this process for ``exec_csv``, in the server for
``serve_short``). A fixed layer pass after the timed window fills in
the layers a workload's loop does not reach, so every traced run
reports every layer: CSV registration and scan, the catalog refreshes,
a short wire suite (probes, a bulk SELECT, a COPY TO, a COPY FROM),
the pgclient reader, and federation over the workload's server.
"""

from __future__ import annotations

import os
import statistics
import time

import check

# layer metric -> (unit, the end-to-end metric and workloads it should move)
LAYER_MAP = {
    "session.boot_s": ("s", "setup_s on all workloads"),
    "csv_source.infer_ms": ("ms", "register_ms on exec_csv"),
    "csv_source.scan_ms": ("ms", "stmt_p50_ms on exec_csv and serve_short"),
    "csv_source.scan_mb_per_s": ("MB/s", "stmt_p50_ms on exec_csv and serve_short"),
    "translate.us_per_stmt": ("us", "stmt_p50_ms on exec_csv (dialect statements) and serve_short"),
    "sql.plan_ms": ("ms", "stmt_p50_ms and stmts_per_s on serve_short"),
    "sql.info_schema_refresh_ms": ("ms", "introspect_p50_ms on serve_short"),
    "pg_catalog.refresh_ms": ("ms", "introspect_p50_ms on serve_short"),
    "spark.exec_ms": ("ms", "stmt_p50_ms on serve_short and exec_csv"),
    "spark.jobs_per_stmt": ("count", "stmt_p50_ms on serve_short and exec_csv"),
    "spark.tasks_per_stmt": ("count", "stmt_p50_ms on serve_short and exec_csv"),
    "pgwire.stmt_overhead_ms": ("ms", "stmts_per_s and stmt_p90_ms on serve_short"),
    "pgwire.encode_us_per_row": ("us", "stmt_p50_ms on serve_short; read_rows_per_s on wire_bulk and stmt_p50_ms on federate_scan (both dropped)"),
    "pgwire.bytes_per_row": ("B", "stmt_p50_ms on serve_short; read_rows_per_s on wire_bulk (dropped)"),
    "pgwire.copy_in_ms_per_krow": ("ms", "write_rows_per_s on wire_bulk (dropped)"),
    "pgclient.fetch_rows_per_s": ("rows/s", "stmt_p50_ms on federate_scan (dropped)"),
    "pgclient.pool_hit_ratio": ("ratio", "stmt_p50_ms on federate_scan (dropped)"),
    "federation.register_ms": ("ms", "setup_s on federate_scan (dropped)"),
    "federation.rows_fetched_per_row_returned": ("ratio", "stmt_p50_ms on federate_scan (dropped)"),
    "traced.stmt_p50_ms": ("ms", "stmt_p50_ms of this workload with tracing on; minus the untraced run = tracing overhead"),
}

# federation statements: full aggregate (pushdown should not help),
# a ~1% selective projection and a LIMIT (where pushdown would show)
FEDERATE_SQL = [
    "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total FROM orders GROUP BY o_orderstatus",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey % 100 = {r}",
    "SELECT o_orderkey, o_custkey FROM orders LIMIT 10",
]


def _median(xs, default=None):
    return statistics.median(xs) if xs else default


def in_window(spans: list[dict], t0: float, t1: float) -> list[dict]:
    return [s for s in spans if s["t0"] >= t0 and s["t1"] <= t1]


def _plan_nodes(node):
    """Every physical node under ``node``, looking through AQE wrappers
    and query stages."""
    out, todo = [], [node]
    while todo:
        n = todo.pop()
        out.append(n)
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(n.executedPlan())
        elif "QueryStage" in name:
            todo.append(n.plan())
        kids = n.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def fetched_rows(df) -> int:
    """Rows produced by the plan's source nodes (the federation fetch,
    or any file/JDBC scan that replaces it), from their row metric."""
    total = 0
    for n in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        name = n.nodeName()
        source = "MapIn" in name or name.startswith(("Scan ", "BatchScan"))
        if not source or "LocalTableScan" in name or "ExistingRDD" in name:
            continue
        for metric in ("numOutputRows", "pythonNumRowsReceived"):
            opt = n.metrics().get(metric)
            if opt.isDefined():
                total += int(opt.get().value())
                break
    return total


class LayerPass:
    """Runs the fixed layer suite and turns spans into layer metrics."""

    def __init__(self, ctx, spark, server, csv_tables: dict[str, list[str]]):
        self.ctx = ctx
        self.spark = spark
        self.server = server
        self.csv_tables = csv_tables
        self.out: dict[str, float] = {}
        self.results: list[tuple[str, list]] = []

    # --- the suite ----------------------------------------------------------
    def run(self) -> dict[str, float]:
        self._csv_source()
        self._refreshes()
        self.wire_t0 = time.time()
        self.wire_ops = self._wire_suite()
        self.wire_t1 = time.time()
        self._pgclient()
        self._federation()
        return self.out

    def _csv_source(self) -> None:
        import csvb_spark.sources.csv_source as csv_source

        infer, scan_ms, scan_bytes = [], 0.0, 0
        for rep in range(3):
            for name, paths in self.csv_tables.items():
                t = time.perf_counter()
                df = csv_source.add_direct_table(self.spark, f"lp_{name}", paths)
                infer.append((time.perf_counter() - t) * 1e3)
                if rep == 0:
                    t = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    scan_ms += (time.perf_counter() - t) * 1e3
                    scan_bytes += sum(_csv_bytes(p) for p in paths)
        self.out["csv_source.infer_ms"] = _median(infer)
        self.out["csv_source.scan_ms"] = scan_ms
        self.out["csv_source.scan_mb_per_s"] = scan_bytes / 1e6 / (scan_ms / 1e3)

    def _refreshes(self) -> None:
        import csvb_spark.server.pg_catalog as pg_catalog
        import csvb_spark.sql as sql

        for fn, name in (
            (sql.refresh_information_schema, "sql.info_schema_refresh_ms"),
            (pg_catalog.refresh_pg_catalog, "pg_catalog.refresh_ms"),
        ):
            xs = []
            for _ in range(3):
                t = time.perf_counter()
                fn(self.spark)
                xs.append((time.perf_counter() - t) * 1e3)
            self.out[name] = _median(xs)

    def _wire_suite(self) -> list[dict]:
        """A few probes, one bulk SELECT, one COPY TO and one COPY FROM
        on a fresh connection; returns client-side op records."""
        from wire import WireClient

        ops = []
        c = WireClient(self.server.host, self.server.port)
        try:
            c.query("CREATE TABLE lp_copy_in (k BIGINT, v DOUBLE) USING parquet")
            payload = "".join(f"{i}\t{i * 0.5}\n" for i in range(5000)).encode()
            for kind, fn in (
                *[("probe", lambda: c.query("SELECT 1")[1])] * 5,
                ("bulk", lambda: c.query("SELECT * FROM orders")[1]),
                ("copy_out", lambda: c.copy_out("COPY (SELECT * FROM orders) TO STDOUT")[0]),
                ("copy_in", lambda: c.copy_in("COPY lp_copy_in FROM STDIN", payload)),
            ):
                rx = c.rx_bytes
                t0 = time.time()
                r = fn()
                t1 = time.time()
                rows = r if isinstance(r, int) else len(r)
                ops.append(dict(kind=kind, t0=t0, t1=t1, rows=rows, rx=c.rx_bytes - rx))
        finally:
            c.close()
        return ops

    def _pgclient(self) -> None:
        from csvb_spark.sources import pgclient

        hits, rows, secs = 0, 0, 0.0
        for r in range(5):
            hits += bool(pgclient.pool_stats())  # an idle pooled connection
            t = time.perf_counter()
            _, got = pgclient.pg_simple_query(
                self.server.host, self.server.port,
                f"SELECT * FROM orders WHERE o_orderkey % 5 = {r}",
            )
            secs += time.perf_counter() - t
            rows += len(got)
        self.out["pgclient.fetch_rows_per_s"] = rows / secs
        self.out["pgclient.pool_hit_ratio"] = hits / 5

    def _federation(self) -> None:
        import csvb_spark.sql as sql
        from csvb_spark.sources.federation import VirtualTable, add_federated_tables

        addr = f"postgres://{self.server.host}:{self.server.port}/csvb"
        t = time.perf_counter()
        add_federated_tables(self.spark, [VirtualTable("orders", [addr])], transport="pgwire")
        self.out["federation.register_ms"] = (time.perf_counter() - t) * 1e3
        fetched = returned = 0
        r = self.ctx.rng.randrange(100)
        for q in FEDERATE_SQL:
            q = q.format(r=r)
            df = sql.execute_sql(self.spark, q)
            rows = df.collect()
            returned += len(rows)
            fetched += fetched_rows(df)
            self.results.append((q, rows))
        self.out["federation.rows_fetched_per_row_returned"] = fetched / max(1, returned)

    def verify(self) -> list[tuple[str, str]]:
        """(statement, problem) for each federated result that disagrees
        with DuckDB over the same orders CSV files."""
        import duckdb

        con = duckdb.connect()
        try:
            src = self.csv_tables["orders"][0]
            con.execute(f"CREATE VIEW orders AS SELECT * FROM read_csv('{src}/*.csv', header=true)")
            bad = []
            for q, rows in self.results:
                if "LIMIT" in q:  # any 10 rows are a correct answer
                    msg = None if len(rows) == 10 else f"{len(rows)} rows, expected 10"
                else:
                    want = check.canon_rows(con.execute(q).fetchall())
                    msg = check.diff_message(check.canon_rows(rows), want)
                if msg:
                    bad.append((q, f"federated result vs DuckDB: {msg}"))
            return bad
        finally:
            con.close()


def _csv_bytes(path: str) -> int:
    if os.path.isdir(path):
        return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
    return os.path.getsize(path)


def statement_layers(spans: list[dict]) -> dict[str, float]:
    """Planning, translation and execution numbers from statement spans."""
    out: dict[str, float] = {}
    plan = [s["ms"] for s in spans if s["name"] == "sql.plan"]
    execs = [s for s in spans if s["name"] == "spark.exec"]
    out["sql.plan_ms"] = _median(plan, 0.0)
    out["translate.us_per_stmt"] = _median(
        [s["ms"] * 1e3 for s in spans if s["name"] == "translate"], 0.0
    )
    out["spark.exec_ms"] = _median([s["exec_ms"] for s in execs], 0.0)
    n = max(1, len(execs))
    out["spark.jobs_per_stmt"] = sum(s["jobs"] for s in execs) / n
    out["spark.tasks_per_stmt"] = sum(s["tasks"] for s in execs) / n
    for span_name, metric in (
        ("sql.info_schema_refresh", "sql.info_schema_refresh_ms"),
        ("pg_catalog.refresh", "pg_catalog.refresh_ms"),
    ):
        xs = [s["ms"] for s in spans if s["name"] == span_name]
        if xs:
            out[metric] = _median(xs)
    return out


def wire_layers(ops: list[dict], spans: list[dict]) -> dict[str, float]:
    """pgwire numbers from client op records plus the server's spans
    over the same interval: per-statement overhead is client latency
    minus server planning and Spark execution."""
    query_ops = [o for o in ops if o["kind"] != "copy_in"]
    cin = [o for o in ops if o["kind"] == "copy_in"]
    # server work done for a COPY FROM is not part of any query's latency
    spans = [s for s in spans if not any(o["t0"] <= s["t0"] <= o["t1"] for o in cin)]
    plan = sum(s["ms"] for s in spans if s["name"] == "sql.plan")
    execs = [s for s in spans if s["name"] == "spark.exec"]
    client = sum((o["t1"] - o["t0"]) * 1e3 for o in query_ops)
    out = {
        "pgwire.stmt_overhead_ms": (client - plan - sum(s["exec_ms"] for s in execs))
        / max(1, len(query_ops)),
    }
    rows = sum(s["rows"] for s in execs)
    out["pgwire.encode_us_per_row"] = sum(s["consumer_ms"] for s in execs) * 1e3 / max(1, rows)
    rx_rows = [o for o in query_ops if o["rows"] > 0]
    out["pgwire.bytes_per_row"] = sum(o["rx"] for o in rx_rows) / max(1, sum(o["rows"] for o in rx_rows))
    out["pgwire.copy_in_ms_per_krow"] = sum((o["t1"] - o["t0"]) * 1e3 for o in cin) / max(
        1e-9, sum(o["rows"] for o in cin) / 1e3
    )
    return out

