"""CSV-file(s)-as-table registration — parity with the reference's
``add_direct_table`` (reference csvb_engine/src/lib.rs:33-85):

- N sources (files, directories, or HTTP URLs) become ONE named table
  (reference lib.rs:47-51 multi-path listing).
- Directories are expanded with a ``.csv`` extension filter
  (reference lib.rs:45).
- HTTP(S) sources are fetched through a per-URL store — here a
  download-to-tmp shim, since Spark ships no HTTP filesystem
  (reference lib.rs:53-71).
- The schema is inferred from the FIRST path only, then applied to
  every path (reference lib.rs:73-79). At 100 TB this is the right
  semantic anyway: inference scans one file, the full read is
  schema-pinned and single-pass.

Repeat registrations are cheap. Each session keeps one registry entry
per table name: the format and resolved paths, the files' identity
(``st_ino``, ``st_size``, ``st_mtime_ns`` per path) and the DataFrame,
which carries the inferred schema. Registering the same name over the
same unchanged files again skips inference and returns the relation
persisted at Spark's default DataFrame level (``MEMORY_AND_DISK``), so
later statements scan a columnar copy instead of re-parsing the files.
A first registration stays a plain scan (a one-shot ``csvb exec``
never pays for caching), unless the caller asks for ``persist`` and
the files total fewer than :data:`SMALL_TABLE_BYTES`: ``csvb serve``
does, so a small served table is parsed once, by its first statement
(``cache()`` is lazy, so start-up does not wait for it). A
registration over changed files or another path set unpersists the
name's old relation and infers again.

Every persisted registration whose files total fewer than
:data:`SMALL_TABLE_BYTES` is one partition, whichever call persisted
it: a first ``persist`` registration or a repeat one. It is
``coalesce(1)`` of its scan, so its cached copy reports
``SinglePartition`` and a GROUP BY, a QUALIFY or DISTINCT ON window or
a sort-merge join over it plans no shuffle; a statement is one stage,
one job and one task. (A CSV scan reports ``UnknownPartitioning`` even
when it is one file, one split, so the planner shuffles it.) The
one-task parse is paid once, when the cache fills. Every other
registration keeps its scan's partitioning: a plain first one, whose
every statement re-parses the files; a large table, which ``persist``
leaves plain and a repeat registration persists as its scan; and one
whose files cannot be stat-ed locally, which is never persisted.

The registry also sets the session's evaluation mode at every
registration (:func:`choose_evaluation`): interpreted, so a new literal
compiles no code, while every registered table is one partition and no
DDL has run; code generation otherwise, and for good after the first
CREATE, DROP or ALTER.

Spark matches cached data by plan, and its file index compares only
root paths, so a cached copy would outlive an in-place rewrite of its
files — for its own name and for any other name registered over the
same paths. :func:`drop_changed_caches`, which ``sql.execute_sql``
calls before planning every statement, re-stats the files of every
persisted relation and, for each whose identity moved, drops the
cached copy and persists the relation afresh: the next statement
re-reads the changed files, once.

Known divergence from arrow's CSV reader: CRLF sequences INSIDE a
quoted field are normalized to LF by Spark's parser (line-ending
normalization is tied to its multiline handling and not separately
switchable); all other bytes round-trip exactly
(tests/test_fuzz.py::test_csv_nasty_cells_round_trip).
"""

from __future__ import annotations

import logging
import os
import tempfile
import threading
import urllib.parse
import urllib.request
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

from csvb_spark.sql import bump_catalog_epoch

log = logging.getLogger("csvb.csv_source")

#: A persisted registration whose files total fewer bytes than this
#: is one partition, whether a first ``persist`` registration or a
#: repeat registration persisted it (module docstring); at or over it,
#: ``persist`` leaves a first registration plain. Measured with
#: a 2-core local session on a 4-core host, over a cached table of
#: four CSV files: at 16 MiB a GROUP BY took 184 ms as one partition
#: and 224 ms as four, at 64 MiB 409 ms and 288 ms. Filling the cache
#: parses the files in one task, about twice as long as in four
#: (1.7 s and 0.9 s at 16 MiB). The perfbench tables are at most
#: 7.2 MB.
SMALL_TABLE_BYTES = 16 * 1024 * 1024

_CSV_OPTIONS = {
    # DataFusion 44 CsvFormat::default(): header expected, comma
    # delimiter, RFC-4180 quoting incl. newlines inside quoted fields
    # (reference csvb_engine/src/lib.rs:42). multiLine makes a file
    # non-splittable, which is the price of RFC-4180 anywhere — a CSV
    # with quoted newlines can't be split at arbitrary byte offsets.
    # Every file is one task either way; a small persisted table's
    # files are further merged into one partition (SMALL_TABLE_BYTES).
    "header": "true",
    "quote": '"',
    "escape": '"',
    "multiLine": "true",
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX]",
}


def _is_url(source: str) -> bool:
    scheme = urllib.parse.urlparse(source).scheme
    return scheme in ("http", "https")


def _fetch_url(url: str, cache_dir: str | None = None) -> str:
    """Download an HTTP(S) CSV to a local temp file (shim for the
    reference's per-URL HTTP object store, lib.rs:53-71)."""
    cache_dir = cache_dir or tempfile.mkdtemp(prefix="csvb_http_")
    name = os.path.basename(urllib.parse.urlparse(url).path) or "remote.csv"
    local = os.path.join(cache_dir, name)
    urllib.request.urlretrieve(url, local)  # noqa: S310 — user-supplied source
    return local


def _expand_dir(path: str, ext: str = ".csv") -> list[str]:
    """Directory → its ``*.{ext}`` children (reference's extension
    filter, lib.rs:45)."""
    if os.path.isdir(path):
        out = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(ext)
        )
        if not out:
            raise ValueError(f"no {ext} files under directory {path!r}")
        return out
    return [path]


def resolve_sources(
    sources: list[str], cache_dir: str | None = None, ext: str = ".csv"
) -> list[str]:
    """Expand dirs and fetch URLs; source order is preserved.

    Multiple URLs download CONCURRENTLY (thread pool; urllib releases
    the GIL on socket reads) so wall-clock is ≈ the slowest transfer,
    not the sum — the multi-source registration path shouldn't
    serialize on N networks. With ``cache_dir=None`` each fetch keeps
    its own temp dir, so equal basenames from different hosts never
    collide (same rule as the serial path)."""
    urls = [s for s in sources if _is_url(s)]
    if len(urls) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(urls))) as ex:
            # one fetch per OCCURRENCE (a URL listed twice stays two
            # local copies, exactly like the serial path)
            fetched = iter(list(ex.map(lambda u: _fetch_url(u, cache_dir), urls)))
    else:
        fetched = iter([])
    paths: list[str] = []
    for s in sources:
        if _is_url(s):
            paths.append(next(fetched, None) or _fetch_url(s, cache_dir))
        else:
            paths.extend(_expand_dir(s, ext))
    if not paths:
        raise ValueError("no sources given")
    return paths


class _Registration(NamedTuple):
    fmt: str
    paths: tuple[str, ...]  # resolved: files, never directories or URLs
    identity: tuple | None  # per path (st_ino, st_size, st_mtime_ns)
    df: DataFrame
    one_partition: bool  # df is coalesce(1) of the scan


#: guards the session registries and the cached sets; pgwire handler
#: threads run :func:`drop_changed_caches` concurrently
_LOCK = threading.Lock()


def _cached(sc: SparkContext) -> dict[int, _Registration]:
    """The persisted registrations of every session on ``sc``, by
    ``id()``. Spark's CacheManager is shared by all sessions of one
    SparkContext, so the per-statement check must see all of them,
    not only the caller's."""
    return sc.__dict__.setdefault("_csvb_cached_registrations", {})


def _identity(paths: tuple[str, ...]) -> tuple | None:
    """Per-path ``(st_ino, st_size, st_mtime_ns)``; None when a path
    cannot be stat-ed locally (missing, or a non-local URI), which
    never matches, so such a registration is never reused."""
    out = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            return None
        out.append((st.st_ino, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _persist(cached: dict[int, _Registration], reg: _Registration) -> None:
    """Persist ``reg`` (lazily) unless it is cached. Call under
    :data:`_LOCK`."""
    if id(reg) not in cached:
        reg.df.cache()  # Spark's default level, MEMORY_AND_DISK
        cached[id(reg)] = reg


def _uncache(cached: dict[int, _Registration], reg: _Registration) -> None:
    """Unpersist ``reg`` if it is cached. Call under :data:`_LOCK`."""
    if cached.pop(id(reg), None) is not None:
        reg.df.unpersist()


def drop_changed_caches(spark: SparkSession) -> None:
    """Drop the cached copy of every persisted relation whose files
    changed since it was cached, and persist it afresh, so no statement
    reads a cached copy of a file that was rewritten and the next one
    re-reads it once. The registry keeps the registration's own
    identity, so registering the name again still infers again.
    ``sql.execute_sql`` calls this before planning; with nothing
    persisted it returns without taking the lock."""
    cached = _cached(spark.sparkContext)
    if not cached:
        return
    with _LOCK:
        for key, reg in list(cached.items()):
            identity = _identity(reg.paths)
            if identity != reg.identity:
                reg.df.unpersist()
                reg.df.cache()  # lazy: filled by the next statement
                cached[key] = reg._replace(identity=identity)


def add_direct_table(
    spark: SparkSession,
    name: str,
    sources: list[str],
    cache_dir: str | None = None,
    fmt: str = "csv",
    persist: bool = False,
) -> DataFrame:
    """Register ``sources`` as one ``fmt``-backed temp view ``name``.

    Returns the DataFrame. ``fmt`` is ``csv`` (reference parity),
    ``parquet``, or ``json`` (JSON Lines) — the latter two are bonus
    formats the reference never wired (SURVEY.md §2.B.1: only
    CsvFormat, lib.rs:42). For the schema-on-read formats (csv, json)
    inference reads only ``sources[0]`` — the reference semantic
    (lib.rs:73-75) — and the inferred schema is applied explicitly to
    the multi-path read, so the bulk scan is single-pass; parquet
    carries its own schema.

    The first registration of ``name`` returns a lazy scan. If
    ``persist`` is set (the ``csvb serve`` path) and the files total
    fewer than :data:`SMALL_TABLE_BYTES`, it is ``coalesce(1)`` of the
    scan, one partition, persisted at ``MEMORY_AND_DISK``. Registering
    ``name`` again over the same resolved paths, with every file
    unchanged (same inode, size and mtime), reuses the schema with no
    inference and returns the relation persisted, so later statements
    scan the cached columnar copy; under :data:`SMALL_TABLE_BYTES` that
    relation is ``coalesce(1)`` of the scan, like a first ``persist``
    registration's, and a later repeat returns it again. Other paths, or a
    changed file, unpersist the old relation and infer again. A file
    that changes while cached is re-read, once, by the next statement
    (:func:`drop_changed_caches`).

    Logs one INFO line on ``csvb.csv_source`` per call: the name, file
    count, bytes, partitions, whether the schema was inferred or
    reused, and whether the relation is now persisted or plain. Then
    applies the evaluation rule (:func:`choose_evaluation`).
    """
    paths = tuple(resolve_sources(sources, cache_dir, ext=f".{fmt}"))
    identity = _identity(paths)
    nbytes = None if identity is None else sum(size for _, size, _ in identity)
    cached = _cached(spark.sparkContext)
    with _LOCK:
        # one registry per session, like its temp views
        registry = spark.__dict__.setdefault("_csvb_registrations", {})
        reg = registry.get(name)
        reuse = (
            reg is not None
            and identity is not None
            and (reg.fmt, reg.paths, reg.identity) == (fmt, paths, identity)
        )
        if reuse and id(reg) not in cached:
            # first persisted here; the plain relation was never cached,
            # so there is nothing to unpersist
            if nbytes < SMALL_TABLE_BYTES:
                reg = registry[name] = reg._replace(
                    df=reg.df.coalesce(1), one_partition=True
                )
            _persist(cached, reg)
    if not reuse:
        # infer outside the lock: it runs a Spark job, and every
        # statement's identity check would wait on it
        df = _scan(spark, fmt, list(paths))
        one = persist and nbytes is not None and nbytes < SMALL_TABLE_BYTES
        reg = _Registration(fmt, paths, identity, df.coalesce(1) if one else df, one)
        with _LOCK:
            old = registry.get(name)
            if old is not None:
                _uncache(cached, old)
            registry[name] = reg
            if one:
                _persist(cached, reg)
    reg.df.createOrReplaceTempView(name)
    # a same-name re-registration may change the columns
    bump_catalog_epoch(spark)
    log.info(
        "registered %s: %d files, %s bytes, %s partitions, schema %s, %s",
        name,
        len(paths),
        "unknown" if nbytes is None else nbytes,
        "1" if reg.one_partition else "scan",
        "reused" if reuse else "inferred",
        "persisted" if id(reg) in cached else "plain",
    )
    choose_evaluation(spark)
    return reg.df


def choose_evaluation(spark: SparkSession, ddl: bool = False) -> None:
    """The session's one evaluation rule: interpreted while its registry
    is non-empty, every entry is one partition and no DDL has run
    (``execute_sql`` passes ``ddl`` before each); code generation
    otherwise, for good after the first DDL, since a CTAS table may be
    large. Changes the confs and logs only when the mode changes."""
    from csvb_spark.sql import evaluation_mode, restore_codegen, run_interpreted

    registry = spark.__dict__.get("_csvb_registrations", {})
    with _LOCK:
        ddl = spark._csvb_ddl_ran = ddl or getattr(spark, "_csvb_ddl_ran", False)
        plain = [n for n, r in registry.items() if not r.one_partition]
        small = bool(registry) and not plain and not ddl
        if small == (evaluation_mode(spark) == "interpreted"):
            return
        (run_interpreted if small else restore_codegen)(spark)
    log.info(
        "%s evaluation: %s",
        evaluation_mode(spark),
        "every registered table is one small cached partition" if small
        else "a CREATE, DROP or ALTER ran" if ddl
        else f"{plain[0]} is not one small cached partition",
    )


def _scan(spark: SparkSession, fmt: str, paths: list[str]) -> DataFrame:
    if fmt == "csv":
        schema = (
            spark.read.options(**_CSV_OPTIONS, inferSchema="true").csv(paths[0]).schema
        )
        return spark.read.options(**_CSV_OPTIONS).schema(schema).csv(paths)
    if fmt == "parquet":
        return spark.read.parquet(*paths)
    if fmt == "json":
        schema = spark.read.json(paths[0]).schema
        return spark.read.schema(schema).json(paths)
    raise ValueError(f"unsupported table format {fmt!r}")
