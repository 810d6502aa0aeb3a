"""Engine SQL entry point: dialect translation + catalog introspection.

The reference enables DataFusion's ``information_schema`` so
``SELECT * FROM information_schema.tables / .columns`` works over the
session catalog (reference csvb_engine/src/lib.rs:22). Spark exposes
``SHOW TABLES`` / ``DESCRIBE`` natively but has no information_schema
views, so we emulate the two the reference surface reaches:

- ``information_schema.tables``  (table_catalog, table_schema,
  table_name, table_type)
- ``information_schema.columns`` (table_catalog, table_schema,
  table_name, column_name, ordinal_position, data_type, is_nullable)
- ``information_schema.views``   (table_catalog, table_schema,
  table_name, definition — NULL, like DataFusion's non-SQL views)
- ``information_schema.schemata`` (catalog_name, schema_name)
- ``information_schema.df_settings`` (name, value — the session's
  explicitly-set config, mirroring DataFusion's settings table)

Dotted names can't be temp-view names, so the translator rewrites
``information_schema.tables`` → ``information_schema_tables`` and this
module refreshes those views just before a query that mentions them
runs. Reading the catalog is not free (``listFunctions`` alone
materializes ~550 builtins over py4j, and every table's schema is one
more round trip — 0.3-1.5 s a pass), so both introspection emulations
(this one and ``server/pg_catalog.py``) share ONE cached
:func:`catalog_snapshot`, re-read only when a cheap key moves — the
``SHOW DATABASES`` / ``SHOW TABLES`` / ``SHOW USER FUNCTIONS`` lists,
the session flags, and a DDL epoch that :func:`bump_catalog_epoch`
advances whenever a product path (re)registers a table. Views are
Arrow-built LocalRelations (:func:`local_view`): a query over them
plans to ``LocalTableScan`` and starts no Python workers.

Every front-end (CLI exec, pgwire server) funnels through
``execute_sql``.
"""

from __future__ import annotations

import functools
import itertools
import re
import threading
from typing import Callable, NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

_INFO_SCHEMA_RE = re.compile(
    r"\binformation_schema\s*\.\s*(tables|columns|views|schemata|df_settings)\b",
    re.I,
)


class RewriteBindError(ValueError):
    """A schema-aware rewrite (``* REPLACE``, ``COLUMNS('re')``)
    analyzed its FROM clause and found the construct CANNOT bind —
    a nonexistent replaced column, a zero-match pattern, duplicate
    output names. Raised instead of passing the original text to
    Spark (whose parser does not know these constructs and would
    report an unrelated syntax error) — the same targeted binder
    error DataFusion's sqlparser / DuckDB give. Bail-outs where the
    FROM clause merely can't be ANALYZED (temp functions, constructs
    the probe can't see) still fall through untouched, as before."""


_INT_BITS = {"tinyint": 8, "smallint": 16, "int": 32, "bigint": 64}
_DECIMAL_RE = re.compile(r"decimal\((\d+),\s*(-?\d+)\)")
_CHAR_RE = re.compile(r"(?:var)?char\((\d+)\)")


def _type_metadata(dt: str) -> tuple:
    """Derive the SQL-standard type-metadata columns from a Spark
    catalog type string — (character_maximum_length,
    numeric_precision, numeric_precision_radix, numeric_scale,
    datetime_precision, interval_type). Everything here is a property
    OF the type, not fabricated: decimals carry (p, s) radix 10, the
    fixed-width integers their bit width radix 2 scale 0, floats their
    IEEE mantissa bits, Spark timestamps are micros (precision 6),
    dates precision 0, and the two ANSI interval families report their
    qualifier. Unknown/complex types keep every column NULL."""
    t = dt.lower().strip()
    char_max = num_prec = num_radix = num_scale = dt_prec = None
    interval_type = None
    m = _DECIMAL_RE.fullmatch(t)
    if m:
        num_prec, num_radix, num_scale = int(m.group(1)), 10, int(m.group(2))
    elif t in _INT_BITS:
        num_prec, num_radix, num_scale = _INT_BITS[t], 2, 0
    elif t == "float":
        num_prec, num_radix = 24, 2
    elif t == "double":
        num_prec, num_radix = 53, 2
    elif t.startswith("timestamp"):
        dt_prec = 6  # Spark timestamps are microsecond-precision
    elif t == "date":
        dt_prec = 0
    elif t.startswith("interval"):
        qual = t[len("interval"):].strip().upper()
        interval_type = qual or None
    else:
        m = _CHAR_RE.fullmatch(t)
        if m:
            char_max = int(m.group(1))
    return (char_max, num_prec, num_radix, num_scale, dt_prec, interval_type)


_ARROW_SCALARS = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "Utf8", "boolean": "Boolean", "binary": "Binary",
    "date": "Date32",
    # fixture parquet carries micros; Spark timestamps are micros
    "timestamp": "Timestamp(Microsecond, None)",
    "timestamp_ntz": "Timestamp(Microsecond, None)",
}

#: session flag: render information_schema.columns.data_type with
#: DataFusion/Arrow type names (Int64, Utf8) instead of Spark catalog
#: names (bigint, string). SET csvb.information_schema.arrow_types=true
ARROW_TYPES_CONF = "csvb.information_schema.arrow_types"


def _arrow_type_name(dt: str) -> str:
    """Spark catalog type string → the Arrow DataType name DataFusion's
    information_schema renders (strict-parity introspection mode).
    Scalar names are byte-exact vs arrow-rs Debug; List/Decimal render
    the same constructor with a COMPACT element (DataFusion prints the
    whole Field struct — reproducing its private Debug layout verbatim
    would pin this emulation to one arrow-rs version)."""
    t = dt.lower().strip()
    if t in _ARROW_SCALARS:
        return _ARROW_SCALARS[t]
    m = _DECIMAL_RE.fullmatch(t)
    if m:
        return f"Decimal128({int(m.group(1))}, {int(m.group(2))})"
    if t.startswith("array<") and t.endswith(">"):
        return f"List({_arrow_type_name(t[6:-1])})"
    m = _CHAR_RE.fullmatch(t)
    if m:
        return "Utf8"
    return dt  # maps/structs/intervals: keep the Spark rendering


#: SET csvb.pg_catalog.builtin_functions=true surfaces Spark's ~550
#: builtin functions in pg_proc (namespace pg_catalog; see
#: server/pg_catalog.py), so psql's ``\df abs`` answers. Off by
#: default: postgres itself hides pg_catalog's functions from a bare
#: ``\df``, and the builtin burst would drown a user's own UDFs in
#: every unpatterned listing.
BUILTIN_FUNCTIONS_CONF = "csvb.pg_catalog.builtin_functions"

#: the engine's own backing temp views — machinery, not user tables
_ENGINE_VIEW_PREFIXES = ("pg_catalog_", "information_schema_")

#: serializes catalog snapshots and view rebuilds for both emulations:
#: N clients cold-starting concurrently would otherwise rebuild the
#: same views N times, and concurrent catalog RPC storms from pgwire
#: handler threads have been observed to trip Spark-internal races
#: (PARSE_EMPTY_STATEMENT out of listTables under simultaneous DDL +
#: refresh + query traffic). With the lock, one connection builds and
#: the rest hit the snapshot.
_REFRESH_LOCK = threading.Lock()

# epoch values: next() on a count is atomic, so concurrent bumps never
# hand out the same value twice
_EPOCHS = itertools.count(1)


def bump_catalog_epoch(spark: SparkSession) -> None:
    """Mark the session catalog dirty. The snapshot key sees table
    NAMES only, so a same-name re-registration with different columns
    (CREATE OR REPLACE, ``add_direct_table`` over new files) must bump
    this for the next introspection to re-read schemas. A counter bump
    only — no Spark call — so per-round re-registration stays free."""
    spark._csvb_catalog_epoch = next(_EPOCHS)  # noqa: SLF001 — session-scoped


def _flag(spark: SparkSession, conf: str) -> bool:
    return str(spark.conf.get(conf, "false")).lower() == "true"


class ColumnInfo(NamedTuple):
    name: str
    data_type: str  # char-aware: varchar(12), not string
    nullable: bool


class TableInfo(NamedTuple):
    catalog: str
    schema: str
    name: str
    table_type: str  # listTables' tableType: TEMPORARY, VIEW, MANAGED, ...
    columns: tuple[ColumnInfo, ...]


class CatalogSnapshot(NamedTuple):
    """One read of the session catalog, shared by information_schema
    and pg_catalog. Equal content compares equal, so a pass that finds
    nothing changed keeps the previous object and no view rebuilds."""

    current_catalog: str
    databases: tuple[tuple[str, str], ...]  # (catalog, name)
    tables: tuple[TableInfo, ...]  # listTables order
    udfs: tuple[str, ...]  # session-registered UDF names, sorted
    builtins: tuple[str, ...]  # builtin names when the flag is on
    arrow_types: bool


def _catalog_key(spark: SparkSession) -> tuple:
    """The cheap rebuild key: three SHOW commands (~25-45 ms each,
    executed locally, no per-table or per-function round trips)
    ignoring the engine's own views and ``pg_*`` helper UDFs, plus the
    DDL epoch and the two session flags."""
    tables = (
        (r[0], r[1], bool(r[2]))
        for r in spark.sql("SHOW TABLES").collect()
        if not r[1].startswith(_ENGINE_VIEW_PREFIXES)
    )
    fns = (
        r[0]
        for r in spark.sql("SHOW USER FUNCTIONS").collect()
        if not r[0].startswith("pg_")
    )
    return (
        tuple(sorted(r[0] for r in spark.sql("SHOW DATABASES").collect())),
        tuple(sorted(tables)),
        tuple(sorted(fns)),
        getattr(spark, "_csvb_catalog_epoch", 0),
        _flag(spark, ARROW_TYPES_CONF),
        _flag(spark, BUILTIN_FUNCTIONS_CONF),
    )


def _read_catalog(
    spark: SparkSession, arrow_types: bool, show_builtins: bool
) -> tuple[CatalogSnapshot, bool]:
    """The expensive pass: databases, tables with their schemas, and
    the function registry. Also returns whether the catalog held still:
    a table listed by listTables but dropped before its schema read is
    left out, and the pass reports False so the caller does not cache
    it under a key that still names the table."""
    tables, settled = [], True
    for t in spark.catalog.listTables():
        if t.name.startswith(_ENGINE_VIEW_PREFIXES):
            continue
        try:
            fields = spark.table(t.name).schema.fields
        except AnalysisException as ex:
            if "TABLE_OR_VIEW_NOT_FOUND" not in str(ex):
                raise
            settled = False
            continue
        # schema fields, not catalog.listColumns: the Column API erases
        # char/varchar to 'string', while the field METADATA keeps the
        # bounded type Spark actually enforces — which is what fills
        # character_maximum_length and lets \d render 'character
        # varying(12)' like postgres (round 13)
        cols = tuple(
            ColumnInfo(
                f.name,
                f.metadata.get("__CHAR_VARCHAR_TYPE_STRING")
                or f.dataType.simpleString(),
                f.nullable,
            )
            for f in fields
        )
        tables.append(
            TableInfo(
                t.catalog or "spark_catalog",
                t.namespace[0] if t.namespace else "default",
                t.name,
                t.tableType or "",
                cols,
            )
        )
    # \df source: the session's REGISTERED UDFs — Spark marks all ~550
    # builtins isTemporary too, so the discriminator is the className
    # (UDFRegistration lambdas vs catalyst expression classes)
    all_fns = spark.catalog.listFunctions()
    udfs = sorted(
        f.name
        for f in all_fns
        if f.isTemporary
        and not f.name.startswith("pg_")
        and "UDFRegistration" in (f.className or "")
    )
    builtins = (
        sorted({f.name for f in all_fns if not f.name.startswith("pg_")} - set(udfs))
        if show_builtins
        else []
    )
    snap = CatalogSnapshot(
        spark.catalog.currentCatalog() or "spark_catalog",
        tuple(
            sorted(
                (d.catalog or "spark_catalog", d.name)
                for d in spark.catalog.listDatabases()
            )
        ),
        tuple(tables),
        tuple(udfs),
        tuple(builtins),
        arrow_types,
    )
    return snap, settled


def catalog_snapshot(spark: SparkSession) -> CatalogSnapshot:
    """The session's catalog snapshot, re-read only when the cheap key
    moves. Call under :data:`_REFRESH_LOCK` (via
    :func:`locked_catalog_refresh`). Same-name swaps made through the
    raw Python API without :func:`bump_catalog_epoch` stay invisible
    until the next key change; every product path bumps it."""
    key = _catalog_key(spark)
    cached = getattr(spark, "_csvb_catalog_snap", None)
    if cached is not None and getattr(spark, "_csvb_catalog_key", None) == key:
        return cached
    snap, settled = _read_catalog(spark, arrow_types=key[-2], show_builtins=key[-1])
    if snap == cached:
        snap = cached  # epoch moved, content did not: keep the views
    spark._csvb_catalog_snap = snap  # noqa: SLF001 — session-scoped cache
    spark._csvb_catalog_key = key if settled else None  # noqa: SLF001
    return snap


def _is_transient_catalog_race(ex: Exception) -> bool:
    """The failure shapes observed when session DDL races a snapshot:
    Spark's listTables machinery surfacing PARSE_EMPTY_STATEMENT, and a
    table listed by listTables being dropped before its schema read
    lands. Anything else is a real bug and must surface on the FIRST
    traceback."""
    text = f"{type(ex).__name__}: {ex}"
    return any(
        marker in text
        for marker in (
            "PARSE_EMPTY_STATEMENT",
            "TABLE_OR_VIEW_NOT_FOUND",
            "PARSE_SYNTAX_ERROR",  # empty-identifier variant of the same race
        )
    )


def locked_catalog_refresh(build: Callable[[], None]) -> None:
    """Run one emulation's ``build`` under :data:`_REFRESH_LOCK`. A
    catalog mutated mid-snapshot (DDL racing the listTables) gets ONE
    retry — the second pass sees a settled catalog — but only for the
    known transient race signatures."""
    with _REFRESH_LOCK:
        try:
            build()
        except Exception as ex:  # noqa: BLE001 — see the transient list
            if not _is_transient_catalog_race(ex):
                raise
            build()


@functools.lru_cache(maxsize=None)
def _ddl_schemas(ddl: str):
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def local_view(spark: SparkSession, rows: list, ddl: str, name: str) -> None:
    """Register ``rows`` (tuples in ``ddl`` column order) as temp view
    ``name`` over an Arrow-built LocalRelation: queries over it plan to
    ``LocalTableScan`` — no RDD, no Python worker — and an empty
    ``rows`` is simply an empty table."""
    import pyarrow as pa

    struct, schema = _ddl_schemas(ddl)
    cols = list(zip(*rows)) if rows else [()] * len(schema)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )
    spark.createDataFrame(table, struct).createOrReplaceTempView(name)


def refresh_information_schema(
    spark: SparkSession, df_settings: bool = True
) -> None:
    """Bring the information_schema_* views up to date with the
    session catalog: the catalog views are rebuilt only when the shared
    snapshot changed, under the refresh lock; ``df_settings`` re-reads
    ``SET`` on every call that asks for it. With
    ``csvb.information_schema.arrow_types=true`` (session SET),
    data_type renders Arrow names (Int64, Utf8) for byte-parity with
    DataFusion's introspection."""
    locked_catalog_refresh(lambda: _refresh_information_schema_locked(spark))
    if df_settings:
        # DataFusion's df_settings analogue: the session's explicit
        # config (Spark's `SET` output, renamed to DataFusion's columns)
        local_view(
            spark,
            [tuple(r) for r in spark.sql("SET").collect()],
            "name string, value string",
            "information_schema_df_settings",
        )


def _refresh_information_schema_locked(spark: SparkSession) -> None:
    snap = catalog_snapshot(spark)
    if getattr(spark, "_csvb_info_schema_snap", None) is snap:
        return
    tables, columns = [], []
    for t in snap.tables:
        kind = "VIEW" if t.table_type in ("TEMPORARY", "VIEW") else "BASE TABLE"
        # NOTE: the reference's federated table provider panics
        # (todo!()) when asked for its table type
        # (reference csvb_engine/src/union_table_provider.rs:79-82);
        # here every registered table answers.
        tables.append((t.catalog, t.schema, t.name, kind))
        for i, c in enumerate(t.columns, start=1):
            char_max, *numeric = _type_metadata(c.data_type)
            columns.append(
                (
                    t.catalog, t.schema, t.name, c.name, i,
                    None,  # column_default
                    "YES" if c.nullable else "NO",
                    _arrow_type_name(c.data_type) if snap.arrow_types else c.data_type,
                    char_max,
                    None if char_max is None else char_max * 4,
                    *numeric,
                )
            )
    local_view(
        spark,
        tables,
        "table_catalog string, table_schema string, table_name string, table_type string",
        "information_schema_tables",
    )
    # Column layout pinned to DataFusion 44's information_schema.columns
    # (the reference enables it via csvb_engine/src/lib.rs:22): the full
    # 15-column SQL-standard shape, names and order. The type-DERIVED
    # metadata (character_maximum_length, numeric_precision/radix/
    # scale, datetime_precision, interval_type) is filled from the
    # catalog type string (_type_metadata — decimal (p,s), integer bit
    # widths, IEEE mantissa bits, micros timestamps, ANSI interval
    # qualifiers). character_octet_length = 4x the character maximum
    # (UTF-8's widest encoding — the postgres convention) for BOUNDED
    # char types, NULL for unbounded strings (verified convention:
    # DuckDB's information_schema NULLs it for plain VARCHAR too).
    # column_default stays NULL because it is CORRECT, not a gap: no
    # registrable table here carries a default (temp views over
    # files), and engines that do fill it (DuckDB, postgres) also
    # render absent defaults as NULL.
    local_view(
        spark,
        columns,
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position int, column_default string, "
        "is_nullable string, data_type string, "
        "character_maximum_length bigint, character_octet_length bigint, "
        "numeric_precision bigint, numeric_precision_radix bigint, "
        "numeric_scale bigint, datetime_precision bigint, "
        "interval_type string",
        "information_schema_columns",
    )
    local_view(
        spark,
        [(c, s, n, None) for c, s, n, kind in tables if kind == "VIEW"],
        "table_catalog string, table_schema string, table_name string, "
        "definition string",
        "information_schema_views",
    )
    # schemata likewise pinned to DataFusion 44's 7-column layout; the
    # owner/charset/sql_path columns are NULL there too (DataFusion
    # fills them with NULL for every schema)
    local_view(
        spark,
        [
            (c, n, None, None, None, None, None)
            for c, n in snap.databases or (("spark_catalog", "default"),)
        ],
        "catalog_name string, schema_name string, schema_owner string, "
        "default_character_set_catalog string, "
        "default_character_set_schema string, "
        "default_character_set_name string, sql_path string",
        "information_schema_schemata",
    )
    spark._csvb_info_schema_snap = snap  # noqa: SLF001 — what the views show


# SELECT * REPLACE (expr AS col, ...) — the wildcard-option sqlparser-rs
# (and DuckDB) accept alongside EXCLUDE. Spark has no native REPLACE and
# a pure-text rewrite cannot know the column list, so this lives at the
# execution layer where the catalog can resolve it: expand `*` to the
# FROM clause's output columns with the replaced expressions spliced
# in. The FROM clause is resolved by ANALYZING it (`SELECT * FROM
# <clause>` through the translator — planning only, no job), so aliased
# tables, multi-table joins, and subqueries all expand; sqlparser 0.53
# (the reference's parser) accepts the option anywhere a wildcard is
# legal. Bail → Spark raises on the original text — when the FROM
# clause does not analyze, the join output has duplicate column names
# (an expansion by bare name would be ambiguous), or the select item is
# a `tbl.*` qualified form.
_STAR_REPLACE_RE = re.compile(
    r"(?<![\w.])\*\s+REPLACE\s*\(", re.IGNORECASE
)
_SR_FROM_KW_RE = re.compile(r"\bFROM\b", re.IGNORECASE)
# depth-0 keywords that terminate a FROM clause
_SR_CLAUSE_RE = re.compile(
    r"\b(WHERE|GROUP\s+BY|HAVING|QUALIFY|WINDOW|ORDER\s+BY|LIMIT|OFFSET"
    r"|FETCH|UNION|INTERSECT|EXCEPT)\b|;",
    re.IGNORECASE,
)
_SR_IDENT_RE = re.compile(r"[A-Za-z_]\w*")


def _depth0_find(sql: str, pattern: re.Pattern, start: int) -> re.Match | None:
    """First match of ``pattern`` at paren depth 0 relative to
    ``start``; stops (None) at an unmatched ``)`` — the end of the
    enclosing subquery scope. (Named apart from translate.py's
    ``_depth0_search``, whose argument order differs.)"""
    depth = 0
    for i in range(start, len(sql)):
        c = sql[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return None
            depth -= 1
        elif depth == 0:
            m = pattern.match(sql, i)
            if m:
                return m
    return None


def _from_clause_end(sql: str, start: int) -> int:
    """Index just past the FROM clause starting at ``start`` (the text
    after the FROM keyword): the first depth-0 clause keyword,
    unmatched ``)``, or end of string."""
    depth = 0
    i = start
    while i < len(sql):
        c = sql[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return i
            depth -= 1
        elif depth == 0 and _SR_CLAUSE_RE.match(sql, i):
            return i
        i += 1
    return len(sql)


def _probe_from_columns(
    spark: SparkSession, from_text: str, literals: list[str] | None
) -> list[str] | None:
    """Output column names of ``SELECT * FROM <from_text>`` — analysis
    only (``.columns`` plans, never executes). None when the clause
    doesn't analyze."""
    from csvb_spark.functions.translate import _restore_literals, translate_sql

    if not from_text.strip():
        return None
    probe = "SELECT * FROM " + (
        _restore_literals(from_text, literals) if literals else from_text
    )
    try:
        return spark.sql(translate_sql(probe)).columns
    except Exception:
        return None


def _quote_ident(c: str) -> str:
    # backquote anything that isn't a plain identifier (Spark-side
    # only: the rewrite output never reaches the DuckDB oracle)
    return c if _SR_IDENT_RE.fullmatch(c) else "`" + c.replace("`", "``") + "`"


def _resolve_from(
    spark: SparkSession, sql: str, search_from: int, literals: list[str] | None
) -> list[str] | None:
    """Locate the depth-0 FROM clause after ``search_from`` and return
    its analyzed output columns — None (bail) when it can't be found
    or doesn't analyze. Case-insensitively duplicate output names
    RAISE ``RewriteBindError`` (a bare-name expansion would be
    ambiguous, and the construct cannot reach Spark either way)."""
    fm = _depth0_find(sql, _SR_FROM_KW_RE, search_from)
    if not fm:
        return None
    cols = _probe_from_columns(
        spark, sql[fm.end() : _from_clause_end(sql, fm.end())], literals
    )
    if cols is None:
        return None
    low = [c.lower() for c in cols]
    if len(set(low)) != len(low):
        dups = sorted({c for c in low if low.count(c) > 1})
        raise RewriteBindError(
            "cannot expand the wildcard option: the FROM clause has "
            f"duplicate output column name(s) {dups} — alias them apart "
            "before using * REPLACE / COLUMNS()"
        )
    return cols


def _rewrite_star_replace(
    spark: SparkSession, sql: str, literals: list[str] | None = None
) -> str:
    from csvb_spark.functions.translate import _scan_balanced, _split_args

    # expand every occurrence (outer query and subqueries may each
    # carry one), INNERMOST first: the last match textually is the one
    # whose FROM clause cannot contain another `* REPLACE`, so its
    # probe analyzes; each pass consumes exactly one match
    for _ in range(10):
        matches = list(_STAR_REPLACE_RE.finditer(sql))
        if not matches:
            return sql
        m = matches[-1]
        close = _scan_balanced(sql, m.end() - 1)
        if close < 0:
            return sql
        items = _split_args(sql[m.end() : close - 1])
        repl: dict[str, str] = {}
        for item in items:
            am = re.search(r"\s+AS\s+([A-Za-z_][\w]*)\s*$", item, re.IGNORECASE)
            if not am:
                return sql
            repl[am.group(1).lower()] = item[: am.start()].strip()
        cols = _resolve_from(spark, sql, close, literals)
        if cols is None:
            return sql
        missing = sorted(set(repl) - {c.lower() for c in cols})
        if missing:
            raise RewriteBindError(
                f"* REPLACE names column(s) {missing} that do not exist "
                f"in the FROM clause (available: {sorted(cols)})"
            )
        select_list = ", ".join(
            f"{repl[c.lower()]} AS {c}" if c.lower() in repl else _quote_ident(c)
            for c in cols
        )
        # splice the expansion over `* REPLACE (...)` only; any further
        # select items between the option and FROM are kept verbatim
        sql = sql[: m.start()] + select_list + sql[close:]
    return sql


# SELECT COLUMNS('regex') — DuckDB's columns-by-pattern selector.
# Same execution-layer treatment as REPLACE: analyze the FROM clause,
# keep columns whose name fully matches the pattern, expand to an
# explicit list. Scope: COLUMNS('...') select items over any FROM
# clause that analyzes with unique output names; non-literal arguments
# or zero matches bail. The pattern arrives either as a raw quoted
# literal or, when the caller pre-masked string literals (execute_sql
# does — see below), as a \x00LITn\x00 placeholder to resolve against
# the literal table.
_SR_COLUMNS_RE = re.compile(
    r"(?<![\w.])COLUMNS\s*\(\s*(?:'([^']*)'|\x00LIT(\d+)\x00)\s*\)",
    re.IGNORECASE,
)


def _rewrite_columns_selector(
    spark: SparkSession, sql: str, literals: list[str] | None = None
) -> str:
    # expand EVERY occurrence (a select list may use several
    # selectors), innermost (last) first so a selector inside a FROM
    # subquery resolves before the outer probe needs it; a bail leaves
    # the remainder untouched
    for _ in range(16):
        progressed = False
        for m in reversed(list(_SR_COLUMNS_RE.finditer(sql))):
            if m.group(1) is not None:
                pattern = m.group(1)
            else:
                if literals is None:
                    return sql
                lit = literals[int(m.group(2))]
                if len(lit) < 2 or lit[0] != "'" or lit[-1] != "'":
                    return sql
                pattern = lit[1:-1]
            cols = _resolve_from(spark, sql, m.end(), literals)
            if cols is None:
                return sql
            try:
                pat = re.compile(pattern)
            except Exception:
                return sql
            keep = [c for c in cols if pat.fullmatch(c)]
            if not keep:
                raise RewriteBindError(
                    f"COLUMNS({pattern!r}) matches no column of the FROM "
                    f"clause (available: {sorted(cols)})"
                )
            sql = (
                sql[: m.start()]
                + ", ".join(_quote_ident(c) for c in keep)
                + sql[m.end() :]
            )
            progressed = True
            break
        if not progressed:
            return sql
    return sql


_PG_CATALOG_REF_RE = re.compile(r"\bpg_catalog\s*\.")


def _references_pg_catalog(sql: str) -> bool:
    """True when the query carries a ``pg_catalog.``-qualified
    reference OUTSIDE string literals (tables, functions, operators,
    casts — everything psql emits is qualified)."""
    from csvb_spark.functions.translate import _protect_literals

    masked, _ = _protect_literals(sql)
    return bool(_PG_CATALOG_REF_RE.search(masked))


def execute_sql(spark: SparkSession, sql: str) -> DataFrame:
    """Translate reference-dialect SQL and run it, emulating
    information_schema on demand."""
    from csvb_spark.functions.translate import translate_sql

    views = {m.group(1).lower() for m in _INFO_SCHEMA_RE.finditer(sql)}
    if views:
        refresh_information_schema(spark, df_settings="df_settings" in views)
        sql = _INFO_SCHEMA_RE.sub(lambda m: f"information_schema_{m.group(1).lower()}", sql)
    if "pg_catalog" in sql and _references_pg_catalog(sql):
        # psql meta-commands (\dt, \d tbl, \l, \dn): refresh the
        # pg_catalog_pg_* views and strip the postgres-only syntax.
        # The trigger is a `pg_catalog.` QUALIFIED REFERENCE outside
        # string literals — a query that merely compares against the
        # string 'pg_catalog' (the classic BI `table_schema NOT IN
        # ('pg_catalog', ...)` shape) must NOT get the rewrite
        # battery, whose double-quote→backtick pass would flip
        # "quoted string" semantics to identifiers.
        from csvb_spark.server.pg_catalog import (
            refresh_pg_catalog,
            rewrite_pg_catalog_sql,
        )

        refresh_pg_catalog(spark)
        sql = rewrite_pg_catalog_sql(sql)
    # mask string literals before the schema-aware rewrites so text
    # that LOOKS like "* REPLACE (...)" or "COLUMNS('...')" inside a
    # quoted literal is never rewritten (translate.py does the same
    # for its own rewrites)
    from csvb_spark.functions.translate import (
        _protect_literals,
        _restore_literals,
    )

    masked, lits = _protect_literals(sql)
    masked = _rewrite_star_replace(spark, masked, lits)
    masked = _rewrite_columns_selector(spark, masked, lits)
    sql = _restore_literals(masked, lits)
    df = spark.sql(translate_sql(sql))
    if _DDL_RE.match(sql):
        # DDL through this surface — including CREATE OR REPLACE under
        # the SAME name, which changes no table list — marks the
        # catalog dirty so the next introspection re-reads column
        # schemas. Spark executes DDL eagerly inside spark.sql(), so
        # the bump lands after the change is live.
        bump_catalog_epoch(spark)
    return df


#: statements that can mutate the catalog (the epoch trigger above);
#: INSERT/CTAS arrive as CREATE, view swaps as CREATE OR REPLACE
_DDL_RE = re.compile(r"^\s*(CREATE|DROP|ALTER)\b", re.IGNORECASE)
