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

Known divergence from arrow's CSV reader: CRLF sequences INSIDE a
quoted field are normalized to LF by Spark's parser (line-ending
normalization is tied to its multiline handling and not separately
switchable); all other bytes round-trip exactly
(tests/test_fuzz.py::test_csv_nasty_cells_round_trip).
"""

from __future__ import annotations

import os
import tempfile
import urllib.parse
import urllib.request

from pyspark.sql import DataFrame, SparkSession

from csvb_spark.sql import bump_catalog_epoch

_CSV_OPTIONS = {
    # DataFusion 44 CsvFormat::default(): header expected, comma
    # delimiter, RFC-4180 quoting incl. newlines inside quoted fields
    # (reference csvb_engine/src/lib.rs:42). multiLine makes a file
    # non-splittable, which is the price of RFC-4180 anywhere — a CSV
    # with quoted newlines can't be split at arbitrary byte offsets.
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


def add_direct_table(
    spark: SparkSession,
    name: str,
    sources: list[str],
    cache_dir: str | None = None,
    fmt: str = "csv",
) -> DataFrame:
    """Register ``sources`` as one ``fmt``-backed temp view ``name``.

    Returns the DataFrame (lazy scan). ``fmt`` is ``csv`` (reference
    parity), ``parquet``, or ``json`` (JSON Lines) — the latter two
    are bonus formats the reference never wired (SURVEY.md §2.B.1:
    only CsvFormat, lib.rs:42). For the schema-on-read formats (csv,
    json) inference reads only ``sources[0]`` — the reference
    semantic (lib.rs:73-75) — and the inferred schema is applied
    explicitly to the multi-path read, so the bulk scan is
    single-pass; parquet carries its own schema.
    """
    paths = resolve_sources(sources, cache_dir, ext=f".{fmt}")
    if fmt == "csv":
        schema = (
            spark.read.options(**_CSV_OPTIONS, inferSchema="true").csv(paths[0]).schema
        )
        df = spark.read.options(**_CSV_OPTIONS).schema(schema).csv(paths)
    elif fmt == "parquet":
        df = spark.read.parquet(*paths)
    elif fmt == "json":
        schema = spark.read.json(paths[0]).schema
        df = spark.read.schema(schema).json(paths)
    else:
        raise ValueError(f"unsupported table format {fmt!r}")
    df.createOrReplaceTempView(name)
    # a same-name re-registration may change the columns
    bump_catalog_epoch(spark)
    return df
