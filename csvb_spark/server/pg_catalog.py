"""pg_catalog emulation: the system views psql's meta-commands read.

``\\dt``, ``\\d tbl``, ``\\l``, ``\\dn``, ``\\dv`` don't speak
information_schema — psql issues queries against
``pg_catalog.pg_class`` / ``pg_namespace`` / ``pg_attribute`` /
``pg_type`` and friends, decorated with postgres-isms Spark cannot
parse (``OPERATOR(pg_catalog.~)``, ``COLLATE pg_catalog.default``,
``::regclass`` casts, catalog helper functions, ``E'\\n'`` strings).
The reference answers these through datafusion-postgres's catalog
layer (reference ``csvb_engine/src/lib.rs:102-106``); here the
emulation is two parts, mirroring the information_schema pattern in
``csvb_spark/sql.py``:

- :func:`refresh_pg_catalog` — (re)build ``pg_catalog_pg_*`` TEMP
  views from the live Spark catalog (tables, columns, databases) plus
  fixed rows (``pg_type``, ``pg_am``, ``pg_database``) and empty
  feature tables (constraints, indexes, publications, …) that make
  psql's follow-up queries plan cleanly and return nothing.
- :func:`rewrite_pg_catalog_sql` — textual rewrite of the
  postgres-only syntax into Spark SQL equivalents, applied before the
  normal dialect translation.

Classification note: registered file-backed TEMP views report relkind
'r' (table) here, diverging from the repo's information_schema
emulation (which pins DataFusion 44's VIEW labeling). psql users type
``\\dt`` expecting the engine's scan tables — DataFusion itself
classifies registered sources as BASE TABLEs, so 'r' is the
reference-faithful answer on this surface.

Cost note: every view is a small Arrow-built LocalRelation of
table/column metadata, rebuilt only when the catalog snapshot shared
with information_schema (``csvb_spark.sql.catalog_snapshot``) changes.
A steady-state psql ``\\d`` burst pays three ``SHOW`` commands per
query for the snapshot key and then plans over ``LocalTableScan``s —
no catalog listing, no RDD, no Python worker.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import SparkSession

from csvb_spark.sql import (
    BUILTIN_FUNCTIONS_CONF,
    catalog_snapshot,
    local_view,
    locked_catalog_refresh,
)

__all__ = [
    "BUILTIN_FUNCTIONS_CONF",
    "refresh_pg_catalog",
    "rewrite_pg_catalog_sql",
]


def _oid(key: str) -> int:
    """Deterministic pseudo-oid: stable across refreshes (psql reads an
    oid in one query and quotes it back in the next), positive, and
    clear of the low range postgres reserves for built-in types."""
    return (zlib.crc32(key.encode()) & 0x0FFFFFFF) + 16384


def _fresh_oid(key: str, used: set[int]) -> int:
    """Collision-checked pseudo-oid: 28-bit crc32s CAN collide, and a
    silent collision between two relations would merge their
    pg_attribute rows (\\d on one table listing both tables' columns).
    Rehash with a deterministic salt until free — callers iterate keys
    in sorted order, so the same catalog state always yields the same
    assignment even when a collision forces a perturbation."""
    o, salt = _oid(key), ""
    while o in used:
        salt += "#"
        o = _oid(key + salt)
    used.add(o)
    return o


# oid → rendered type name, the subset of postgres's format_type psql
# needs for the \d column list (matches _PG_OIDS/_ELEM_ARRAY in
# pgwire.py — the DataRow side of the same mapping)
_FORMAT_TYPE = {
    16: "boolean", 17: "bytea", 20: "bigint", 21: "smallint",
    23: "integer", 25: "text", 700: "real", 701: "double precision",
    1042: "character", 1043: "character varying", 1082: "date",
    1114: "timestamp without time zone",
    1184: "timestamp with time zone", 1186: "interval",
    1700: "numeric", 2950: "uuid", 114: "json", 3802: "jsonb",
}
_TEXT_OIDS = {25, 1042, 1043}

_PG_TYPE_ROWS = [
    # (oid, typname, typlen, typtype, typcategory)
    (16, "bool", 1, "b", "B"), (17, "bytea", -1, "b", "U"),
    (20, "int8", 8, "b", "N"), (21, "int2", 2, "b", "N"),
    (23, "int4", 4, "b", "N"), (25, "text", -1, "b", "S"),
    (700, "float4", 4, "b", "N"), (701, "float8", 8, "b", "N"),
    (1042, "bpchar", -1, "b", "S"), (1043, "varchar", -1, "b", "S"),
    (1082, "date", 4, "b", "D"), (1114, "timestamp", 8, "b", "D"),
    (1184, "timestamptz", 8, "b", "D"), (1186, "interval", 16, "b", "T"),
    (1700, "numeric", -1, "b", "N"), (2950, "uuid", 16, "b", "U"),
]


def refresh_pg_catalog(spark: SparkSession) -> None:
    """Bring the ``pg_catalog_pg_*`` temp views up to date with the
    session catalog — driver-side metadata only, called lazily when a
    query actually references pg_catalog. One psql ``\\d`` issues 6-10
    catalog follow-up queries back-to-back, so the views are rebuilt
    only when the catalog snapshot shared with information_schema
    changes (see ``csvb_spark.sql.catalog_snapshot``: a cheap SHOW key
    plus the DDL epoch, so CREATE OR REPLACE under the SAME name with a
    different column set refreshes on the next introspection while a
    steady-state burst pays zero catalog listings). Runs under the
    shared refresh lock with one retry for the known transient
    DDL-race signatures; a deterministic failure re-raises on its first
    traceback."""
    locked_catalog_refresh(lambda: _refresh_pg_catalog_locked(spark))


def _refresh_pg_catalog_locked(spark: SparkSession) -> None:
    from csvb_spark.server.pgwire import _ELEM_ARRAY, _oid_for

    snap = catalog_snapshot(spark)
    if getattr(spark, "_csvb_pg_catalog_snap", None) is snap:
        return

    def mk(rows: list, schema: str, name: str) -> None:
        local_view(spark, rows, schema, f"pg_catalog_{name}")

    dbs = [name for _, name in snap.databases]
    cat_tables = sorted(snap.tables, key=lambda t: t.name)

    # pseudo-oids are 28-bit crc32s — a collision between two catalog
    # objects would silently merge their pg_attribute rows (\d on one
    # table listing both tables' columns), so every generated oid is
    # checked against the set already handed out this rebuild and
    # deterministically rehashed with a salt on collision (iteration
    # order below is sorted, so the same catalog state always yields
    # the same assignment — psql quotes oids back across queries).
    _used_oids = {1, 2, 10, 11, 1663}  # fixed rows below
    _used_oids.update(oid for oid, *_r in _PG_TYPE_ROWS)
    _used_oids.update(_ELEM_ARRAY.values())

    def fresh_oid(key: str) -> int:
        return _fresh_oid(key, _used_oids)

    # EVERY namespace that will be referenced gets its oid and its
    # pg_namespace row here — dbs, information_schema, default, and
    # any table namespace outside listDatabases (e.g. a catalog-plugin
    # schema). Review r12: the previous `ns_oids.get(schema) or
    # fresh_oid(...)` fallback was unmemoized — two tables in one
    # unlisted schema minted two different relnamespace oids, neither
    # with a pg_namespace row, so psql's \dt join rendered NULL.
    schemas = (
        set(dbs)
        | {"information_schema", "default"}
        | {t.schema for t in cat_tables}
    )
    ns_oids = {n: fresh_oid("ns:" + n) for n in sorted(schemas)}
    ns_rows = [(ns_oids[n], n, 10, None) for n in sorted(schemas)]
    ns_rows.append((11, "pg_catalog", 10, None))
    mk(
        ns_rows,
        "oid bigint, nspname string, nspowner bigint, nspacl array<string>",
        "pg_namespace",
    )

    classes, attrs = [], []
    for t in cat_tables:
        rel_oid = fresh_oid(f"rel:{t.schema}.{t.name}")
        # registered scans are the engine's TABLES (see module note);
        # only a persistent logical VIEW reports 'v'
        relkind = "v" if t.table_type == "VIEW" else "r"
        classes.append(
            (
                rel_oid,
                t.name,
                ns_oids[t.schema],
                relkind,
                10,          # relowner
                2,           # relam (heap)
                0,           # relchecks
                False, False, False,   # relhasindex/rules/triggers
                False, False,          # relrowsecurity/force
                False,       # relispartition
                0,           # reltablespace
                0,           # reloftype
                "t" if t.table_type == "TEMPORARY" else "p",  # persistence
                "d",         # relreplident
                0,           # reltoastrelid (psql \d TOAST probe)
                0.0,         # reltuples (unknown: -1 in pg; 0 is safer)
                0,           # relpages
                None,        # relacl (\dp / \z)
            )
        )
        for i, c in enumerate(t.columns, start=1):
            type_oid, type_len = _oid_for(c.data_type)
            # char(n)/varchar(n): postgres stores n + VARHDRSZ(4) in
            # atttypmod; format_type renders it back as '(n)'
            typmod = -1
            if type_oid in (1042, 1043):
                m = re.search(r"\((\d+)\)", c.data_type)
                if m:
                    typmod = int(m.group(1)) + 4
            attrs.append(
                (
                    rel_oid, c.name, type_oid, type_len, i,
                    typmod,                # atttypmod
                    not c.nullable,        # attnotnull
                    False, False,          # atthasdef / attisdropped
                    "", "",                # attidentity / attgenerated
                    0,                     # attcollation
                    -1,                    # attstattarget (\d+ verbose)
                    "x" if type_len < 0 else "p",  # attstorage
                    "",                    # attcompression
                    None,                  # attacl (\dp / \z)
                )
            )
    mk(
        classes,
        "oid bigint, relname string, relnamespace bigint, relkind string, "
        "relowner bigint, relam bigint, relchecks int, relhasindex boolean, "
        "relhasrules boolean, relhastriggers boolean, "
        "relrowsecurity boolean, relforcerowsecurity boolean, "
        "relispartition boolean, reltablespace bigint, reloftype bigint, "
        "relpersistence string, relreplident string, "
        "reltoastrelid bigint, reltuples double, relpages bigint, "
        "relacl array<string>",
        "pg_class",
    )
    mk(
        attrs,
        "attrelid bigint, attname string, atttypid bigint, attlen int, "
        "attnum int, atttypmod int, attnotnull boolean, "
        "atthasdef boolean, attisdropped boolean, attidentity string, "
        "attgenerated string, attcollation bigint, attstattarget int, "
        "attstorage string, attcompression string, attacl array<string>",
        "pg_attribute",
    )

    # typrelid/typelem/typarray/typowner/typacl ride along for psql's
    # \dT battery: scalars point at their array twin via typarray
    # (psql's NOT EXISTS hides the '_name' array rows, matching
    # postgres), arrays point back via typelem
    mk(
        [
            (oid, name, 11, ln, tt, cat,
             100 if oid in _TEXT_OIDS else 0,
             0, 0, _ELEM_ARRAY.get(oid, 0), 10, None)
            for oid, name, ln, tt, cat in _PG_TYPE_ROWS
        ]
        + [
            (aoid, "_" + name, 11, -1, "b", "A", 0, 0, eoid, 0, 10, None)
            for (eoid, name, *_rest) in _PG_TYPE_ROWS
            for aoid in [_ELEM_ARRAY.get(eoid)]
            if aoid is not None
        ],
        "oid bigint, typname string, typnamespace bigint, typlen int, "
        "typtype string, typcategory string, typcollation bigint, "
        "typrelid bigint, typelem bigint, typarray bigint, "
        "typowner bigint, typacl array<string>",
        "pg_type",
    )

    mk(
        [
            (1, snap.current_catalog, 10, 6, "c", False, True, "C", "C",
             None, None, None, 1663, -1)
        ],
        "oid bigint, datname string, datdba bigint, encoding int, "
        "datlocprovider string, datistemplate boolean, "
        "datallowconn boolean, datcollate string, datctype string, "
        "daticulocale string, daticurules string, datacl array<string>, "
        "dattablespace bigint, datconnlimit int",
        "pg_database",
    )
    mk([(2, "heap", "t")], "oid bigint, amname string, amtype string", "pg_am")
    mk(
        [(1663, "pg_default", None, None)],
        "oid bigint, spcname string, spcacl array<string>, "
        "spcoptions array<string>",
        "pg_tablespace",
    )
    # one role: the session user psql's \du renders
    mk(
        [(10, "spark", True, True, True, True, True, -1, None, False,
          False)],
        "oid bigint, rolname string, rolsuper boolean, "
        "rolinherit boolean, rolcreaterole boolean, rolcreatedb boolean, "
        "rolcanlogin boolean, rolconnlimit int, rolvaliduntil string, "
        "rolreplication boolean, rolbypassrls boolean",
        "pg_roles",
    )
    mk(
        [(fresh_oid("fn:" + n), n, ns_oids["default"], "f") for n in snap.udfs]
        # builtins (flag-gated) live in pg_catalog (namespace oid 11)
        # like postgres's own: psql's unpatterned \df appends
        # "n.nspname <> 'pg_catalog'" (describe.c), so a bare \df
        # still lists only the user's UDFs, while a patterned
        # \df abs skips that exclusion and finds the builtin —
        # exactly the real-postgres experience.
        + [(fresh_oid("builtin:" + n), n, 11, "f") for n in snap.builtins],
        "oid bigint, proname string, pronamespace bigint, prokind string",
        "pg_proc",
    )

    # feature tables the engine has no rows for — present so psql's
    # follow-up queries (constraints, indexes, stats, publications,
    # partitions, descriptions) plan cleanly and return nothing
    empties = {
        "pg_description": (
            "objoid bigint, classoid bigint, objsubid int, "
            "description string"
        ),
        "pg_attrdef": "oid bigint, adrelid bigint, adnum int, adbin string",
        "pg_collation": "oid bigint, collname string",
        "pg_constraint": (
            "oid bigint, conname string, conrelid bigint, confrelid bigint, "
            "contype string, conparentid bigint, condeferrable boolean, "
            "condeferred boolean, convalidated boolean, conindid bigint"
        ),
        "pg_index": (
            "indexrelid bigint, indrelid bigint, indisprimary boolean, "
            "indisunique boolean, indisclustered boolean, "
            "indisvalid boolean, indisreplident boolean, "
            "indnullsnotdistinct boolean"
        ),
        "pg_statistic_ext": (
            "oid bigint, stxrelid bigint, stxname string, "
            "stxnamespace bigint, stxkeys string, stxkind array<string>, "
            "stxstattarget int"
        ),
        "pg_publication": (
            "oid bigint, pubname string, puballtables boolean, "
            "pubinsert boolean, pubupdate boolean, pubdelete boolean"
        ),
        "pg_publication_rel": (
            "oid bigint, prpubid bigint, prrelid bigint, prqual string, "
            "prattrs array<smallint>"
        ),
        "pg_publication_namespace": (
            "oid bigint, pnpubid bigint, pnnspid bigint"
        ),
        "pg_inherits": (
            "inhrelid bigint, inhparent bigint, inhseqno int, "
            "inhdetachpending boolean"
        ),
        "pg_policy": (
            "oid bigint, polname string, polrelid bigint, "
            "polcmd string, polpermissive boolean, "
            "polroles array<bigint>, "
            "polqual string, polwithcheck string"
        ),
        "pg_rewrite": "oid bigint, ev_class bigint, rulename string",
        "pg_enum": (
            "oid bigint, enumtypid bigint, enumsortorder float, "
            "enumlabel string"
        ),
        "pg_trigger": (
            "oid bigint, tgrelid bigint, tgname string, tgenabled string, "
            "tgisinternal boolean"
        ),
        "pg_auth_members": (
            "roleid bigint, member bigint, grantor bigint, "
            "admin_option boolean"
        ),
        "pg_extension": (
            "oid bigint, extname string, extversion string, "
            "extnamespace bigint"
        ),
    }
    for name, schema in empties.items():
        mk([], schema, name)

    # array oids render postgres-style 'elem[]' (real[], bigint[]) —
    # the map is a plain local dict so the UDF closure pickles by
    # value, never needing csvb_spark on executors
    fmt_map = dict(_FORMAT_TYPE)
    for eoid, aoid in _ELEM_ARRAY.items():
        if eoid in _FORMAT_TYPE:
            fmt_map[aoid] = _FORMAT_TYPE[eoid] + "[]"

    def _format_type(type_oid, typmod) -> str | None:  # cold-path UDF:
        # psql's \d column list only — never in the data plane
        if type_oid is None:
            return None
        name = fmt_map.get(int(type_oid), "text")
        if (
            int(type_oid) in (1042, 1043)
            and typmod is not None
            and int(typmod) >= 4
        ):
            # postgres renders the stored n + VARHDRSZ back as '(n)'
            return f"{name}({int(typmod) - 4})"
        return name

    spark.udf.register("pg_format_type", _format_type, "string")
    spark._csvb_pg_catalog_snap = snap  # noqa: SLF001 — what the views show


# ---- textual rewrites ------------------------------------------------

# catalog helper functions psql decorates its queries with; every
# argument list here is paren-free in practice, so [^()]* is exact
_P = r"(?:pg_catalog\.)?"  # psql writes some helpers bare (pg_get_expr)
_FN_SUBS: list[tuple[re.Pattern, str]] = [
    # size probes first (their results feed pg_size_pretty's argument)
    (
        re.compile(
            _P + r"pg_(?:table|database|total_relation|tablespace)_size"
            r"\s*\([^()]*\)"
        ),
        "CAST(0 AS BIGINT)",
    ),
    (
        # one nesting level allowed: pg_size_pretty(CAST(0 AS BIGINT))
        re.compile(_P + r"pg_size_pretty\s*\(((?:[^()]|\([^()]*\))*)\)"),
        r"concat(CAST(\1 AS STRING), ' bytes')",
    ),
    (re.compile(_P + r"has_database_privilege\s*\([^()]*\)"), "true"),
    (re.compile(_P + r"pg_function_is_visible\s*\([^()]*\)"), "true"),
    (
        re.compile(_P + r"pg_get_function_(?:result|arguments)"
                   r"\s*\([^()]*\)"),
        "CAST(NULL AS STRING)",
    ),
    (
        re.compile(_P + r"(?:col|shobj)_description\s*\([^()]*\)"),
        "CAST(NULL AS STRING)",
    ),
    (
        re.compile(_P + r"pg_tablespace_location\s*\([^()]*\)"),
        "CAST(NULL AS STRING)",
    ),
    (re.compile(_P + r"pg_table_is_visible\s*\([^()]*\)"), "true"),
    (re.compile(_P + r"pg_type_is_visible\s*\([^()]*\)"), "true"),
    (re.compile(_P + r"pg_get_userbyid\s*\([^()]*\)"), "'spark'"),
    (re.compile(_P + r"pg_encoding_to_char\s*\([^()]*\)"), "'UTF8'"),
    (
        re.compile(_P + r"pg_get_expr\s*\([^()]*\)"),
        "CAST(NULL AS STRING)",
    ),
    (
        re.compile(_P + r"pg_get_constraintdef\s*\([^()]*\)"),
        "CAST(NULL AS STRING)",
    ),
    (
        re.compile(_P + r"pg_get_statisticsobjdef_columns\s*\([^()]*\)"),
        "CAST(NULL AS STRING)",
    ),
    (
        re.compile(_P + r"obj_description\s*\([^()]*\)"),
        "CAST(NULL AS STRING)",
    ),
    (
        re.compile(_P + r"pg_relation_is_publishable\s*\([^()]*\)"),
        "false",
    ),
    (
        re.compile(_P + r"pg_partition_ancestors\s*\(([^()]*)\)"),
        r"CAST(\1 AS BIGINT)",
    ),
    (
        re.compile(r"pg_catalog\.array_upper\s*\(([^()]*),\s*1\s*\)"),
        r"size(\1)",
    ),
    (re.compile(r"pg_catalog\.array_to_string\b"), "array_join"),
    (re.compile(_P + r"format_type\b"), "pg_format_type"),
]

# type names in cast position (::pg_catalog.regclass etc.) — regclass/
# regtype render as their text form here (the oid as a string), which
# psql displays verbatim
_TYPE_SUBS: list[tuple[re.Pattern, str]] = [
    (
        re.compile(r"pg_catalog\.(?:regclass|regtype|regnamespace|regrole"
                   r"|regproc|text|name|char|bpchar)\b(?!\s*\()"),
        "string",
    ),
    (re.compile(r"pg_catalog\.int2\[\]"), "array<smallint>"),
    (re.compile(r"pg_catalog\.(?:oid|int8)\b(?!\s*\()"), "bigint"),
    (re.compile(r"pg_catalog\.int4\b(?!\s*\()"), "int"),
    (re.compile(r"pg_catalog\.int2\b(?!\s*\()"), "smallint"),
    (re.compile(r"pg_catalog\.bool\b(?!\s*\()"), "boolean"),
]

_OPERATOR_RE = re.compile(r"OPERATOR\s*\(\s*pg_catalog\.([^)\s]+)\s*\)")
# postgres double-quoted identifiers ("Schema") → Spark backticks;
# applied after single-quote literals are masked, so never inside text
_DQUOTE_IDENT_RE = re.compile(r'"((?:[^"]|"")*)"')
_COLLATE_RE = re.compile(
    r"\s+COLLATE\s+(?:pg_catalog\.)?\"?default\"?", re.IGNORECASE
)
_TABLE_RE = re.compile(r"pg_catalog\.(pg_\w+)\b(?!\s*\()")
_FN_PREFIX_RE = re.compile(r"pg_catalog\.(?=\w+\s*\()")
_ANY_RE = re.compile(
    r"(\x00LIT\d+\x00|[\w.]+)\s*=\s*any\s*\(([^()]*)\)", re.IGNORECASE
)
# postgres ARRAY(subquery) constructor (psql's row-security roles and
# \du memberof probes) → correlated scalar subquery with a sorted
# array_agg. Paren matching reuses translate._find_calls, the same
# scanner every other call rewrite in the codebase uses.
_FROM_KW_RE = re.compile(r"\bfrom\b", re.IGNORECASE)


def _rewrite_array_selects(masked: str) -> str:
    """Every ``ARRAY(SELECT expr FROM rest [ORDER BY 1])`` becomes
    ``(SELECT sort_array(array_agg(expr)) FROM rest)`` — Spark has no
    subquery array constructor. Joins with parenthesized ON clauses
    survive (matched-paren scan); plain ``array(1, 2)`` constructors
    and FROM-less selects pass through untouched. The emulation tables
    feeding these are empty, so sort_array-for-ORDER-BY is exact."""
    from csvb_spark.functions.translate import _find_calls

    changed = True
    while changed:
        changed = False
        for start, op, cl in _find_calls(masked, "array"):
            inner = masked[op + 1 : cl]
            msel = re.match(r"\s*select\b", inner, re.IGNORECASE)
            if not msel:
                continue  # ordinary array constructor
            sel_end = msel.end()
            frompos = None
            for fm in _FROM_KW_RE.finditer(inner, sel_end):
                if inner.count("(", sel_end, fm.start()) == inner.count(
                    ")", sel_end, fm.start()
                ):
                    frompos = fm.start()
                    break
            if frompos is None:
                continue  # FROM-less subquery — nothing to aggregate
            expr = inner[sel_end:frompos].strip()
            # strip a trailing ORDER BY 1 / ORDER BY col — sort_array
            # orders by the aggregated VALUE, which matches ORDER BY 1
            # exactly; a different-column ORDER BY (psql \dT+'s
            # pg_enum enumsortorder) is only approximated, but every
            # emulation table feeding one is empty, so it's exact here
            rest = re.sub(
                r"\s+order\s+by\s+(?:1|[\w.]+)\s*$",
                "",
                inner[frompos:],
                flags=re.I,
            )
            masked = (
                masked[:start]
                + f"(select sort_array(array_agg({expr})) {rest})"
                + masked[cl + 1 :]
            )
            changed = True
            break  # offsets shifted — rescan (handles nesting too)
    return masked


# psql \d+'s toast-options rendering: array concat `||` of reloptions
# with an ARRAY(SELECT 'toast.'||x FROM unnest(tc.reloptions) x) —
# both sides are always-NULL here (no reloptions emulated), so the
# whole expression is NULL
_RELOPTIONS_RE = re.compile(
    # matches both the raw name and the post-_FN_SUBS array_join form
    r"(?:pg_catalog\.)?array_(?:to_string|join)\(\s*c\.reloptions\s*\|\|"
    r".*?unnest\(tc\.reloptions\)\s*\w*\s*\)\s*,\s*\x00LIT\d+\x00\s*\)",
    re.IGNORECASE | re.DOTALL,
)
# psql \d's publication-columns probe (describe.c, sversion>=15): a
# generate_series-over-array_upper join Spark can't express inline.
# pg_publication_rel is empty here, so the whole branch is NULL —
# replace the exact CASE block rather than teaching Spark pg's
# set-returning-function-with-ordinal idiom
_PRATTRS_CASE_RE = re.compile(
    r"\(CASE\s+WHEN\s+pr\.prattrs\s+IS\s+NOT\s+NULL\s+THEN.*?"
    r"ELSE\s+NULL\s+END\)",
    re.IGNORECASE | re.DOTALL,
)
_REGCLASS_LIT_RE = re.compile(
    r"(\x00LIT(\d+)\x00)\s*::\s*(?:pg_catalog\.)?regclass\b"
)
# array-literal comparisons against our array-typed emulation columns
# ('{0}' = empty-roles sentinel) — the tables are empty, so a typed
# FALSE preserves semantics without teaching Spark pg's array syntax
_ARRAY_LIT_CMP_RE = re.compile(
    r"[\w.]+\s*(=|<>|!=)\s*(\x00LIT(\d+)\x00)"
)
_ESTRING_RE = re.compile(r"\bE(\x00LIT\d+\x00)")

_E_ESCAPES = {
    "n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f",
    "\\": "\\", "'": "'",
}


def _unescape_estring(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            out.append(_E_ESCAPES.get(s[i + 1], "\\" + s[i + 1]))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def rewrite_pg_catalog_sql(sql: str) -> str:
    """Rewrite one psql-issued pg_catalog query into Spark SQL over
    the ``pg_catalog_pg_*`` temp views. String literals are masked
    first so patterns never fire inside quoted text; the ordinary
    dialect translation (``translate_sql``) runs afterwards and
    handles the remaining postgres-isms (``~`` regex match, ``::``
    casts) through its normal paths."""
    from csvb_spark.functions.translate import (
        _protect_literals,
        _restore_literals,
    )

    masked, lits = _protect_literals(sql)

    # E'\n' escape-string literals: decode the C-style escapes and drop
    # the E prefix (psql uses them for separator arguments)
    def _efix(m: re.Match) -> str:
        tok = m.group(1)
        idx = int(tok[4:-1])
        body = lits[idx][1:-1].replace("''", "'")
        lits[idx] = "'" + _unescape_estring(body).replace("'", "''") + "'"
        return tok

    masked = _ESTRING_RE.sub(_efix, masked)
    # COLLATE strip runs BEFORE the double-quote conversion so its
    # quoted-"default" alternative can still match (post-conversion it
    # would see backticks and never fire)
    masked = _COLLATE_RE.sub("", masked)
    masked = _DQUOTE_IDENT_RE.sub(
        lambda m: "`" + m.group(1).replace('""', '"') + "`", masked
    )
    masked = _OPERATOR_RE.sub(r"\1", masked)
    for pat, repl in _FN_SUBS:
        masked = pat.sub(repl, masked)

    # 'name'::regclass resolves a NAME to an oid in postgres; constant
    # folding would choke casting the name to bigint, and psql only
    # uses the form against EMPTY feature tables (pg_description
    # classoid filters) — typed NULL preserves the empty result.
    # Numeric literals ('16384'::regclass, the partition-ancestors
    # VALUES) keep their oid value. Runs BEFORE the generic regclass →
    # string type sub below.
    def _regclass_lit(m: re.Match) -> str:
        body = lits[int(m.group(2))][1:-1]
        if body.isdigit():
            return f"CAST({m.group(1)} AS BIGINT)"
        return "CAST(NULL AS BIGINT)"

    masked = _REGCLASS_LIT_RE.sub(_regclass_lit, masked)
    for pat, repl in _TYPE_SUBS:
        masked = pat.sub(repl, masked)
    masked = _PRATTRS_CASE_RE.sub("CAST(NULL AS STRING)", masked)
    masked = _RELOPTIONS_RE.sub("CAST(NULL AS STRING)", masked)
    masked = _rewrite_array_selects(masked)

    def _arraylit_cmp(m: re.Match) -> str:
        body = lits[int(m.group(3))][1:-1]
        if not body.startswith("{"):
            return m.group(0)
        # the emulation's array columns are all NULL/empty — equality
        # with an array literal is typed FALSE either way (postgres
        # NULL <> '{0}' is NULL, which filters the same as false)
        return "false"

    masked = _ARRAY_LIT_CMP_RE.sub(_arraylit_cmp, masked)
    # scalar = ANY(array) → array_contains (psql's stxkind probes)
    masked = _ANY_RE.sub(r"array_contains(\2, \1)", masked)
    masked = _TABLE_RE.sub(r"pg_catalog_\1", masked)
    masked = _FN_PREFIX_RE.sub("", masked)
    return _restore_literals(masked, lits)
