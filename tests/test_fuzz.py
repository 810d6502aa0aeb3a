"""Property-based fuzz over the hand-rolled string-manipulation paths
(hypothesis): pgwire parameter inlining, the DataFusion→Spark dialect
translator, and the RFC-4180 CSV reader. These are the places where a
single mishandled quote/backslash/NUL is an injection or corruption
bug, so they get adversarial generated inputs, not just examples.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

# --- pgwire $n substitution ---------------------------------------------------

# any text a length-prefixed Bind value can carry (NULs included)
_param_text = st.text(min_size=0, max_size=60)


def _manual_quote(v: str) -> str:
    return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"


@given(_param_text)
@settings(max_examples=300, deadline=None)
def test_substitute_arbitrary_text_param(v: str) -> None:
    """A text parameter is ALWAYS rendered as one quoted literal —
    no value can splice into the surrounding SQL."""
    from csvb_spark.server.pgwire import _substitute_params

    out = _substitute_params("SELECT $1 AS v FROM t WHERE a = 'x''$1'", [v], [25])
    assert out == f"SELECT {_manual_quote(v)} AS v FROM t WHERE a = 'x''$1'"


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=100, deadline=None)
def test_substitute_int_param(n: int) -> None:
    from csvb_spark.server.pgwire import _substitute_params

    assert _substitute_params("SELECT $1 AS v", [str(n)], [20]) == f"SELECT {n} AS v"


@given(st.text(min_size=1, max_size=20))
@settings(max_examples=200, deadline=None)
@example(
    s='0\n',
).via('discovered failure')
def test_numeric_param_never_passes_garbage(s: str) -> None:
    """A numeric-oid parameter either round-trips a valid numeric
    literal verbatim or raises — it is NEVER quoted into the SQL as
    freeform text (that would change the comparison's type semantics
    silently)."""
    from csvb_spark.server.pgwire import _quote_param

    numeric = re.fullmatch(r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?", s)
    if numeric:
        assert _quote_param(s, 23) == s
    else:
        with pytest.raises(ValueError):
            _quote_param(s, 23)


@given(st.text(alphabet="0123456789abcdefABCDEF\n\r\t \\x", min_size=0, max_size=20))
@settings(max_examples=300, deadline=None)
@example(s="abcd\n")  # the Python-$ anchor trap, same as _NUM_RE's '0\n'
@example(s="\\xdead")
def test_bytea_param_never_passes_garbage(s: str) -> None:
    """A bytea-oid parameter renders X'<hex>' ONLY for even-length
    pure-hex content (after the optional postgres \\x prefix) — any
    other byte, including a trailing newline that Python's $ would
    wave through, raises."""
    from csvb_spark.server.pgwire import _quote_param

    h = s[2:] if s.startswith("\\x") else s
    if re.fullmatch(r"(?:[0-9a-fA-F]{2})*", h):
        assert _quote_param(s, 17) == f"X'{h}'"
    else:
        with pytest.raises(ValueError):
            _quote_param(s, 17)


@given(st.text(alphabet="0123456789 days:hour.mon+-'\n\r;x", min_size=0, max_size=24))
@settings(max_examples=300, deadline=None)
@example(s="1 day\n")  # \s admits the newline — must render, not breakout
@example(s="1 day';--")  # quote breakout attempt must raise
@example(s="2 mons")  # normalization maps safe → safe only
def test_interval_text_param_never_passes_garbage(s: str) -> None:
    """A text interval bind follows the same verbatim-or-raise rule as
    numeric/bytea (round 14 closes the last $-anchored validator): any
    character outside the safe class raises, and whatever renders is
    exactly one INTERVAL literal whose content stays inside the safe
    class — no quote breakout, no freeform text reaching the SQL."""
    from csvb_spark.server.pgwire import _quote_interval

    safe = re.fullmatch(r"[A-Za-z0-9.:+\-\s]+", s.strip() or "")
    try:
        lit = _quote_interval(s)
    except ValueError:
        return
    assert safe, f"unsafe interval text rendered: {s!r} -> {lit!r}"
    assert lit.startswith("INTERVAL '") and lit.endswith("'")
    inner = lit[len("INTERVAL '") : -1]
    assert "'" not in inner.replace("''", "")
    assert re.fullmatch(r"[A-Za-z0-9.:+\-\s]+", inner)


# --- dialect translator -------------------------------------------------------

# identifiers/operators that trigger NO DataFusion rewrite rule
_plain_sql = st.from_regex(
    r"SELECT [a-z_]{1,8}, [a-z_]{1,8} \+ \d{1,4} FROM [a-z_]{1,8}"
    r"( WHERE [a-z_]{1,8} = '[a-z ]{0,12}')?",
    fullmatch=True,
)


@given(_plain_sql)
@settings(max_examples=200, deadline=None)
def test_translate_is_identity_on_plain_sql(sql: str) -> None:
    """The translator rewrites ONLY DataFusion-isms: SQL without any
    shimmed token must come back byte-identical."""
    from csvb_spark.functions.translate import translate_sql

    assert translate_sql(sql) == sql


@given(st.text(alphabet="abc'():$,x0 ", min_size=0, max_size=40))
@settings(max_examples=300, deadline=None)
def test_translate_never_crashes_and_preserves_literals(s: str) -> None:
    """Arbitrary quote/paren/cast-colon soup: the translator either
    raises a clean ValueError (unbalanced input) or returns a string
    in which every complete quoted literal's CONTENT survives."""
    from csvb_spark.functions.translate import translate_sql

    try:
        out = translate_sql(f"SELECT {s}")
    except ValueError:
        return
    lits = re.findall(r"'(?:[^']|'')*'", f"SELECT {s}")
    for lit in lits:
        assert lit in out


# --- RFC-4180 CSV round-trip --------------------------------------------------


def test_csv_nasty_cells_round_trip(fresh_spark, tmp_path) -> None:
    """Quoted commas, embedded newlines (CRLF and LF), doubled quotes,
    unicode, and empties all survive write→scan intact (the RFC-4180
    multiline path, csv_source._CSV_OPTIONS). One documented
    divergence: CRLF INSIDE a quoted field is normalized to LF (the
    parser's line-ending normalization; see csv_source docstring) —
    the bytes are otherwise untouched."""
    import csv

    from csvb_spark.sources.csv_source import add_direct_table

    nasty = [
        "plain",
        "comma, inside",
        'quote " inside',
        "line\nbreak",
        "crlf\r\nbreak",
        "both\n\"quoted\", and comma",
        "",
        "ünïcødé 中文",
        "''doubled''",
        " leading and trailing ",
    ]
    path = tmp_path / "nasty.csv"
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(["id", "cell"])
        for i, cell in enumerate(nasty):
            w.writerow([i, cell])

    df = add_direct_table(fresh_spark, "t_nasty", [str(path)])
    rows = sorted(df.collect())
    got = {r["id"]: r["cell"] for r in rows}
    for i, cell in enumerate(nasty):
        want = cell.replace("\r\n", "\n") if cell else None  # see docstring
        assert got[i] == want, f"row {i}: {got[i]!r}"
    # the same file through a second registration, now a cached copy
    cached = add_direct_table(fresh_spark, "t_nasty", [str(path)])
    assert cached.storageLevel.useMemory
    assert sorted(cached.collect()) == rows


# --- round 6: pg array text parsing / rendering round trip -------------------

_array_elem = st.one_of(
    st.none(),
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",)),
        min_size=0,
        max_size=12,
    ),
)


@given(st.lists(_array_elem, min_size=0, max_size=8))
@settings(max_examples=300, deadline=None)
def test_pg_array_text_round_trips(elems) -> None:
    """Rendering a postgres array text form with the server's element
    quoting and re-parsing it with the bind-side parser is lossless —
    commas, braces, quotes, backslashes, whitespace, empty strings,
    and literal 'NULL' strings all survive."""
    from csvb_spark.server.pgwire import (
        _parse_pg_array_text,
        _pg_array_elem_text,
    )

    rendered = (
        "{"
        + ",".join(
            "NULL" if e is None else _pg_array_elem_text(e) for e in elems
        )
        + "}"
    )
    assert _parse_pg_array_text(rendered) == elems


@given(
    st.integers(min_value=-(2**63) + 1, max_value=2**63 - 1),
    st.integers(min_value=-(2**31) + 1, max_value=2**31 - 1),
    st.integers(min_value=-(2**31) + 1, max_value=2**31 - 1),
)
@settings(max_examples=300, deadline=None)
def test_interval_binary_decode_renders_or_refuses(micros, days, months) -> None:
    """Every decodable 16-byte interval either renders as exactly one
    INTERVAL literal (no quote breakout) or raises the documented
    mixed-fields error — never silent garbage."""
    import struct as _struct

    from csvb_spark.server.pgwire import _dec_interval, _quote_interval

    text = _dec_interval(_struct.pack("!qii", micros, days, months))
    mixed = months != 0 and (days != 0 or micros != 0)
    if mixed:
        with pytest.raises(ValueError, match="mixes year-month"):
            _quote_interval(text)
    else:
        lit = _quote_interval(text)
        assert lit.startswith("INTERVAL '") and lit.endswith("'")
        assert "''" not in lit or "'" not in text  # no breakout
        inner = lit[len("INTERVAL '") : -1]
        assert "'" not in inner.replace("''", "")


# --- round 7: nested (multi-D) array text round trip -------------------------
@given(
    st.lists(
        st.lists(_array_elem, min_size=1, max_size=5),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=300, deadline=None)
def test_pg_nested_array_text_round_trips(rows) -> None:
    """2-D arrays render and re-parse losslessly: sub-arrays nest
    unquoted braces; every element-quoting case of the 1-D test holds
    inside a sub-array too."""
    from csvb_spark.server.pgwire import (
        _parse_pg_array_text,
        _pg_array_elem_text,
    )

    rendered = (
        "{"
        + ",".join(
            "{"
            + ",".join(
                "NULL" if e is None else _pg_array_elem_text(e) for e in row
            )
            + "}"
            for row in rows
        )
        + "}"
    )
    assert _parse_pg_array_text(rendered) == rows


# --- Luhn card validation vs a pure-Python reference ---------------------------


def _py_luhn_scan(text: str) -> tuple[int, list[str]]:
    """Reference model of operators.text.luhn_scan: candidate digit
    runs (13-19 digits, single space/dash separators) validated with
    the textbook Luhn algorithm."""

    def luhn_ok(digits: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(digits)):
            d = int(ch)
            total += d if i % 2 == 0 else (d * 2 - 9 if d * 2 > 9 else d * 2)
        return total % 10 == 0

    cands = re.findall(r"[0-9](?:[ -]?[0-9]){12,18}", text)
    digits = [re.sub(r"[ -]", "", c) for c in cands]
    valid = sorted({d for d in digits if luhn_ok(d)})
    return len(cands), valid


_card_chunk = st.one_of(
    st.text(alphabet="0123456789 -", min_size=1, max_size=25),
    st.sampled_from(
        [
            "4111 1111 1111 1111",
            "5555-5555-5555-4444",
            "378282246310005",
            "4111111111111112",
            "1234567890123456789012",
        ]
    ),
    st.text(min_size=0, max_size=12),
)


@given(st.lists(_card_chunk, min_size=0, max_size=6))
@settings(max_examples=30, deadline=None)
def test_luhn_scan_matches_python_reference(spark, chunks) -> None:
    """luhn_scan's nested HOF-expression Luhn agrees with the textbook
    Python implementation on adversarial digit soup (separator runs,
    over-long digit strings, planted valid/invalid PANs)."""
    from csvb_spark.operators.text import luhn_scan

    text = " | ".join(chunks)
    row = luhn_scan(
        spark.createDataFrame([(0, text)], "doc_id long, text string")
    ).collect()[0]
    n_cands, valid = _py_luhn_scan(text)
    assert row["n_candidates"] == n_cands
    assert row["n_valid"] == len(valid)
    got = row["valid_cards"].split(",") if row["valid_cards"] else []
    assert got == valid


def _py_word_grams_full(text: str | None, k: int) -> list[str]:
    """Reference model of operators.text.word_grams_full: lowercase,
    split on runs of Java-\\s whitespace, drop empty tokens, emit the
    sorted DISTINCT full k-windows (len < k words → nothing)."""
    toks = [
        t
        for t in re.split(r"[ \t\n\x0b\f\r]+", (text or "").lower())
        if t
    ]
    if len(toks) < k:
        return []
    return sorted({" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})


_gram_text = st.one_of(
    st.none(),
    st.text(alphabet="ab c\t\n\r.XY1-", min_size=0, max_size=60),
    st.sampled_from(
        [
            "w0 w1 w2 w3\n",  # the round-14 edge-whitespace trap
            "\t a  b \r\n c ",
            "a a a a a",  # distinctness under repetition
        ]
    ),
)


@given(texts=st.lists(_gram_text, min_size=1, max_size=6), k=st.integers(2, 4))
@settings(max_examples=25, deadline=None)
def test_word_grams_full_matches_python_reference(spark, texts, k) -> None:
    """word_grams_full's zip_with window construction agrees with the
    trivial Python reference on whitespace soup — pins the full-window
    invariant (no truncated tails, no phantom grams from edge
    whitespace) the 13-gram decontamination rule depends on."""
    from csvb_spark.operators.text import word_grams_full
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: sorted(r.g)
        for r in df.select(
            "doc_id", word_grams_full("text", k).alias("g")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_word_grams_full(t, k), (i, t, k)


# --- pgwire COPY text/CSV codec round trip --------------------------------------

# cells a COPY stream can carry: embedded delimiters, backslash runs,
# newlines, CRs, quotes, NULs, unicode — plus None for SQL NULL
_copy_cell = st.one_of(
    st.none(),
    st.text(
        alphabet=st.sampled_from(
            list("ab|\\\n\r\t\"',.0 é\x00")
        ),
        min_size=0,
        max_size=12,
    ),
)


@given(
    rows=st.lists(
        st.tuples(_copy_cell, _copy_cell, _copy_cell), min_size=0, max_size=8
    ),
    delim=st.sampled_from(["|", ",", ";", "\t"]),
)
@settings(max_examples=300, deadline=None)
def test_copy_text_codec_round_trips(rows, delim) -> None:
    """COPY text format: serialize with the OUT-side escapers, parse
    with the IN-side escape-aware split + unescape — every cell
    (NULLs, delimiters, backslash runs, control chars) must survive
    exactly. This is the codec the round-9 verdict caught corrupting
    data (non-escape-aware split)."""
    from csvb_spark.server.pgwire import (
        _copy_text_cell,
        _copy_text_split,
        _copy_text_unescape,
    )

    if delim == "\t":
        d = b"\t"
    else:
        d = delim.encode()
    payload = b"".join(
        d.join(
            b"\\N" if c is None else _copy_text_cell(c.encode(), d)
            for c in row
        )
        + b"\n"
        for row in rows
    )
    # parse the way _copy_in's text branch does
    lines = payload.split(b"\n")
    assert lines[-1] == b""
    got = [
        tuple(_copy_text_unescape(c) for c in _copy_text_split(line, d))
        for line in lines[:-1]
    ]
    assert got == [tuple(row) for row in rows]


@given(
    rows=st.lists(
        st.tuples(_copy_cell, _copy_cell), min_size=0, max_size=8
    ),
)
@settings(max_examples=300, deadline=None)
def test_copy_csv_codec_round_trips(rows) -> None:
    """COPY CSV format: force-quoted empty string vs unquoted NULL,
    embedded quotes/newlines/delimiters — byte-for-byte round trip
    through the OUT-side quoting and the IN-side quote-preserving
    parser (including cells that LOOK like the \\. end marker)."""
    from csvb_spark.server.pgwire import (
        _COPY_CSV_EOF,
        _copy_csv_cell,
        _copy_csv_rows,
    )

    d = b","
    payload = b"".join(
        d.join(
            b"" if c is None else _copy_csv_cell(c.encode(), d)
            for c in row
        )
        + b"\n"
        for row in rows
    )
    parsed = _copy_csv_rows(payload.decode(), ",", mark_eof=True)
    assert _COPY_CSV_EOF not in parsed  # quoting prevents false EOF
    assert [tuple(r) for r in parsed] == [tuple(row) for row in rows]


# --- chrono → java.time translation vs DuckDB strftime ---------------------------

# specifiers BOTH engines support (chrono composites like %F/%R and
# %k/%l/%q translate fine but DuckDB's strftime lacks them — the
# space-padded family is fuzzed against glibc strftime below instead;
# %Z stays a documented divergence) — plus literal separators incl.
# letters (which the translator must single-quote) and the %% escape
_CHRONO_SPEC = st.sampled_from(
    ["%Y", "%y", "%m", "%d", "%H", "%I", "%M", "%S", "%a", "%A",
     "%b", "%B", "%p", "%j", "%-d", "%-m", "%-H", "%-I", "%-M",
     "%-S", "%-j", "%%"]
)
_CHRONO_LIT = st.sampled_from(
    [" ", "-", "/", ":", ".", ", ", "T", "at ", "week", "x"]
)
_chrono_fmt = st.lists(
    st.one_of(_CHRONO_SPEC, _CHRONO_LIT), min_size=1, max_size=8
).map("".join)

_PROBE_TS = [
    "2024-03-05 14:30:45",
    "2023-12-31 00:00:07",
    "2024-01-01 23:59:59",
    "2020-02-29 09:05:03",
]


@given(fmt=_chrono_fmt)
@settings(max_examples=120, deadline=None)
def test_chrono_translation_matches_duckdb_strftime(spark, fmt) -> None:
    """For any format built from the mutually supported chrono
    specifiers and literal runs, Spark's date_format over the
    TRANSLATED pattern must render byte-identically to DuckDB's
    native chrono strftime — the property the x130 oracle checks for
    one fixed format, generalized."""
    import duckdb
    from hypothesis import assume

    from csvb_spark.functions.translate import _chrono_to_java

    try:
        java = _chrono_to_java(fmt)
    except ValueError:
        # adjacent same-letter fields are a LOUD refusal by design
        # (they would merge into one wider java field) — not this
        # property's subject
        assume(False)
    con = duckdb.connect()
    exprs = ", ".join(
        f"date_format(TIMESTAMP '{ts}', '{java.replace(chr(39), chr(39) * 2)}') AS v{i}"
        for i, ts in enumerate(_PROBE_TS)
    )
    got = spark.sql(f"SELECT {exprs}").first()
    for i, ts in enumerate(_PROBE_TS):
        want = con.execute(
            "SELECT strftime(CAST(? AS TIMESTAMP), ?)", [ts, fmt]
        ).fetchone()[0]
        assert got[f"v{i}"] == want, (fmt, java, ts)


# the space-padded family (%e/%k/%l, %_X): DuckDB's strftime lacks
# these, so the reference here is glibc strftime (chrono copied the
# flag from glibc; their semantics agree for these 2-3-wide fields —
# only %_Y diverges, glibc pads the year to 0 digits, chrono to 4).
# Everything is numeric/locale-independent; the full to_char rewrite
# path runs, exercising the sentinel shim itself, not just the map.
_CHRONO_SPACEPAD_SPEC = st.sampled_from(
    ["%e", "%k", "%l", "%_d", "%_H", "%_I", "%_m", "%_M", "%_S", "%_j",
     "%Y", "%m", "%d", "%H", "%M", "%S", "%j", "%-d", "%-H", "%%"]
)
_chrono_spacepad_fmt = (
    st.lists(
        st.one_of(_CHRONO_SPACEPAD_SPEC, _CHRONO_LIT),
        min_size=1,
        max_size=8,
    )
    .map("".join)
    # a %-free format is (by design) passed through as a java pattern,
    # not translated — outside this property's subject
    .filter(lambda f: "%" in f)
)


@given(fmt=_chrono_spacepad_fmt)
@settings(max_examples=80, deadline=None)
def test_chrono_spacepad_matches_glibc_strftime(spark, fmt) -> None:
    """Formats mixing space-padded specifiers with ordinary numeric
    ones must render, through the FULL translate_sql to_char rewrite
    (sentinel fields + regexp_replace shim), byte-identically to glibc
    strftime — including zeros that become spaces only up to the
    field's natural width (04:00 under '%_H:%_M' is ' 4: 0')."""
    from datetime import datetime

    from hypothesis import assume

    from csvb_spark.functions.translate import translate_sql

    safe = fmt.replace("'", "''")
    try:
        sql = translate_sql(
            ", ".join(
                f"SELECT to_char(TIMESTAMP '{ts}', '{safe}') AS v{i}"
                if i == 0
                else f"to_char(TIMESTAMP '{ts}', '{safe}') AS v{i}"
                for i, ts in enumerate(_PROBE_TS)
            )
        )
    except ValueError:
        assume(False)  # adjacent-merge refusal — not this property
    got = spark.sql(sql).first()
    for i, ts in enumerate(_PROBE_TS):
        want = datetime.fromisoformat(ts).strftime(fmt)
        assert got[f"v{i}"] == want, (fmt, ts)


def test_hypothesis_patches_are_applied() -> None:
    """Every counterexample patch Hypothesis saved under
    .hypothesis/patches/ must already be applied to its target test
    file — a found failure becomes a pinned @example in the SAME
    round it is found (verdict r12 item 10: that round's patch sat
    unapplied). Checks that every ADDED line of each patch appears
    verbatim in the patched file, so the suite fails loudly while a
    regression pin is still sitting on disk."""
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    patch_dir = repo / ".hypothesis" / "patches"
    if not patch_dir.is_dir():
        return
    for patch in sorted(patch_dir.glob("*.patch")):
        target = None
        added: list[str] = []
        for line in patch.read_text().splitlines():
            if line.startswith("+++ "):
                target = line[4:].strip().lstrip("./")
            elif line.startswith("+") and not line.startswith("+++"):
                added.append(line[1:])
        assert target, f"{patch.name}: no target file header"
        body = (repo / target).read_text()
        missing = [a for a in added if a.strip() and a not in body]
        assert not missing, (
            f"{patch.name}: pinned example not yet applied to {target} "
            f"(missing lines: {missing!r}) — apply the saved patch"
        )
