"""Spans recorded from the benchmark's own files around calls into the
engine's public functions.

``install`` replaces module attributes with timing wrappers; the engine
looks these functions up at call time, so its own calls are traced too.
A wrapped ``execute_sql`` also wraps the returned DataFrame's
``toLocalIterator`` and ``collect``, splitting a statement into
planning (the lazy call), Spark execution (time inside the row
iterator) and the consumer's per-row work (time between rows).
Spans are kept in memory; with a ``sink`` path each span is also
appended to a JSON-lines file as it closes, so a supervising process
can read a server's spans while it runs.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time


class Tracer:
    def __init__(self, sink: str | None = None):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._sink = open(sink, "a") if sink else None
        self._next_job = 0
        self._tracker = None

    def record(self, name: str, t0: float, t1: float, **attrs) -> None:
        span = {"name": name, "t0": t0, "t1": t1, "ms": (t1 - t0) * 1e3, **attrs}
        with self._lock:
            self.spans.append(span)
            if self._sink is not None:
                self._sink.write(json.dumps(span) + "\n")
                self._sink.flush()

    def _new_jobs(self) -> tuple[int, int]:
        """Jobs and tasks started since the last call, from the public
        StatusTracker. Job ids are sequential, so this sees jobs of any
        job group. Totals are exact; under concurrency a statement may
        be charged a neighbour's jobs."""
        if self._tracker is None:
            return 0, 0
        job_info = self._tracker.getJobInfo
        with self._lock:
            first = self._next_job
            while job_info(self._next_job) or job_info(self._next_job + 1):
                self._next_job += 1
            ids = range(first, self._next_job)
        tasks = 0
        for j in ids:
            info = job_info(j)
            for s in info.stageIds if info else ():
                st = self._tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        return len(ids), tasks

    def bind_spark(self, spark) -> None:
        self._tracker = spark.sparkContext.statusTracker()
        self._new_jobs()

    # --- wrappers -----------------------------------------------------------
    def timed(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            t0 = time.time()
            try:
                return fn(*a, **kw)
            finally:
                self.record(name, t0, time.time())

        return wrapper

    def _timed_rows(self, it):
        """Re-yield ``it``, charging time inside ``next`` to Spark and
        time between rows to the consumer."""
        t0 = time.time()
        inside = 0.0
        rows = 0
        try:
            while True:
                a = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    inside += time.perf_counter() - a
                    return
                inside += time.perf_counter() - a
                rows += 1
                yield row
        finally:
            t1 = time.time()
            jobs, tasks = self._new_jobs()
            self.record(
                "spark.exec",
                t0,
                t1,
                exec_ms=inside * 1e3,
                consumer_ms=max(0.0, (t1 - t0) - inside) * 1e3,
                rows=rows,
                jobs=jobs,
                tasks=tasks,
            )

    def _wrap_df(self, df):
        to_iter = df.toLocalIterator
        collect = df.collect

        def traced_iter(*a, **kw):
            return self._timed_rows(iter(to_iter(*a, **kw)))

        def traced_collect():
            t0 = time.time()
            rows = collect()
            t1 = time.time()
            jobs, tasks = self._new_jobs()
            self.record(
                "spark.exec", t0, t1, exec_ms=(t1 - t0) * 1e3, consumer_ms=0.0,
                rows=len(rows), jobs=jobs, tasks=tasks,
            )
            return rows

        df.toLocalIterator = traced_iter
        df.collect = traced_collect
        return df

    def traced_execute_sql(self, fn):
        @functools.wraps(fn)
        def wrapper(spark, sql, *a, **kw):
            t0 = time.time()
            try:
                df = fn(spark, sql, *a, **kw)
            finally:
                self.record("sql.plan", t0, time.time())
            return self._wrap_df(df)

        return wrapper


def install(tracer: Tracer) -> None:
    """Wrap the engine's public entry points in ``tracer`` spans."""
    import csvb_spark.functions.translate as translate
    import csvb_spark.server.pg_catalog as pg_catalog
    import csvb_spark.session as session
    import csvb_spark.sql as sql

    get_session = session.get_session

    @functools.wraps(get_session)
    def traced_get_session(*a, **kw):
        t0 = time.time()
        spark = get_session(*a, **kw)
        tracer.record("session.boot", t0, time.time())
        tracer.bind_spark(spark)
        return spark

    session.get_session = traced_get_session
    translate.translate_sql = tracer.timed("translate", translate.translate_sql)
    sql.execute_sql = tracer.traced_execute_sql(sql.execute_sql)
    sql.refresh_information_schema = tracer.timed(
        "sql.info_schema_refresh", sql.refresh_information_schema
    )
    pg_catalog.refresh_pg_catalog = tracer.timed(
        "pg_catalog.refresh", pg_catalog.refresh_pg_catalog
    )


def read_spans(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]
