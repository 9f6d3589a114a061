"""Routed-row formatting as pure JVM column expressions.

Byte-equal to oracle.transform_turn + oracle.format_routed + oracle.envelope
(reference app/log_processor.py:368-497 F1/F2/F3 + P3-P10), but built with
concat/when/regexp-free string ops so the whole format stage stays inside
whole-stage codegen — no Python in the hot path.

The transformed record never materializes as a struct: each SIEM field is a
column expression, and the final pipe-joined string is one ``concat`` of
conditional fragments in FIELD_ORDER order (column order == whitelist order,
P10). Null/empty fields contribute '' to the concat, i.e. are dropped —
mirroring the null-dropping merge (app/log_processor.py:420,461,483).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from illumio_spark import schema as S
from illumio_spark.functions import once_per_gateway

_ORIG_PREFIX_LEN = len("|original_message=")  # 18

# Python str.strip()'s exact whitespace set (chars where str.isspace() is
# True), as a Java regex character class. The reference's safe_get strips
# with str.strip() (app/log_processor.py:391-397), which removes Unicode
# whitespace — NBSP, NEL, ogham/space-separator block, \x1c-\x1f — while
# Spark's F.trim removes ASCII space only; fuzzing caught the divergence
# on a \xa0-prefixed field value.
_PY_WS = (
    "\\t\\n\\x0B\\f\\r\\x1C-\\x1F \\x85\\xA0\\u1680"
    "\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000"
)
_PY_STRIP_RE = f"^[{_PY_WS}]+|[{_PY_WS}]+$"

# Any character whose whitespace/digit behavior differs between Python and
# ASCII-Java regex semantics lies outside [\x00-\x1b\x20-\x7f]: the Unicode
# whitespace block is ≥ \x85, the \x1c-\x1f file separators are Python-ws
# but not Java-ws, and every non-ASCII decimal digit is ≥ ٠. Strings
# made only of safe chars can use plain Java \s / \S / \d — and the custom
# 20-range negated Unicode class measured 6× slower per char than Java's
# primitive \S (5.5 s vs 0.9 s per pass over 1.3M rows), so a cheap
# two-range scan + branch buys back almost the whole parity-commit cost.
PY_TRICKY_RE = "[^\\x00-\\x1b\\x20-\\x7f]"
_ASCII_STRIP_RE = "^\\s+|\\s+$"  # Java \s == Python strip-set ∩ safe chars

# The exact str.strip() whitespace set as literal CHARACTERS (same set as
# _PY_WS, unescaped) — the edge-probe haystack below
PY_WS_CHARS = (
    "\t\n\x0b\x0c\x0d\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(chr(cp) for cp in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000"
)


def _edge_is_py_ws(c: Column) -> Column:
    """True iff the string's first or last character is Python whitespace —
    the only case where str.strip() is not the identity. Two 1-char
    substrings + two contains() probes over a 30-char literal, instead of
    regex scans over the whole value. '' probes as contains(ws, '') = true,
    which harmlessly routes empty strings through the (no-op) regex."""
    ws = F.lit(PY_WS_CHARS)
    return F.contains(ws, F.substring(c, 1, 1)) | F.contains(
        ws, F.substring(c, -1, 1)
    )


def py_strip(c: Column) -> Column:
    """Python str.strip() semantics as a JVM expression.

    Edge-probe fast path (r8): stripping only changes a string whose FIRST
    or LAST character is Python whitespace, so two cheap single-char
    membership probes skip all regex work for the overwhelming majority of
    rows (measured: the format stage ran 4-8 py_strips per row, each an
    rlike + regexp_replace full-string scan). Rows with whitespace edges
    take the r4 dual path: safe-char rows strip with Java's primitive \\s
    class, rows with Unicode whitespace/separators take the exact 20-range
    Python-ws class. Byte-identical to str.strip() on every input
    (fuzz-asserted vs the oracle)."""
    return F.when(
        _edge_is_py_ws(c),
        F.when(
            c.rlike(PY_TRICKY_RE), F.regexp_replace(c, _PY_STRIP_RE, "")
        ).otherwise(F.regexp_replace(c, _ASCII_STRIP_RE, "")),
    ).otherwise(c)


def _clean(c: Column) -> Column:
    return F.nullif(py_strip(c), F.lit(""))


def siem_field_columns() -> dict[str, Column]:
    """SIEM field name → value expression (post parse+enrich).

    Expects columns: summary (struct), audit (struct), event_class,
    event_type, severity, conv_id, turn_idx, role, tool, ts.
    Only fields some class populates are present; all others are never
    emitted (FIELD_ORDER filtering drops them anyway).
    """
    is_audit = F.col("event_class") == S.CLASS_AUDITABLE
    # act/sn/state were captured by the Python-\S class ([^py-ws]+): they
    # PROVABLY contain no Python whitespace and are non-empty, so the
    # oracle's strip-to-null is the identity on them — plain column refs,
    # zero regex work (msg, the free-text capture, still needs the strip)
    tok = lambda f: F.col(f"s_{f}")  # noqa: E731
    s = lambda f: _clean(F.col(f"s_{f}"))  # noqa: E731
    a = lambda f: _clean(F.col(f"a_{f}"))  # noqa: E731
    # fields whose regex capture is \d+ need no trim/escape: digits can't be
    # blank, padded, or contain '|' — identical bytes, fewer allocations
    num = lambda f: F.col(f"s_{f}")  # noqa: E731
    device_type = F.when(is_audit, S.DEVICE_TYPE_AUDIT).otherwise(S.DEVICE_TYPE_SUMMARY)

    return {
        "time": F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        "object": F.when(~is_audit, tok("sn")),
        "objectname": _clean(F.col("conv_id")),
        "objecttype": F.when(~is_audit, tok("act")),
        "result": F.when(is_audit, a("status")),
        "version": F.col("turn_idx").cast("string"),
        # command/sip/tag2/tag3 source from the NESTED notifications[0].info
        # struct (P4, app/log_processor.py:410-419); a_* are null when the
        # notifications array is empty/missing — the reference's truthiness
        # guard — so the fields drop out of the routed row exactly like there
        "command": F.when(is_audit, a("api_method")),
        "reason": F.when(~is_audit, s("msg")),
        "action": F.when(is_audit, a("action")),
        "status": F.when(~is_audit, tok("state")),
        "sessiontype": F.when(
            ~is_audit,
            F.when(F.col("role") == "user", "interactive").otherwise("automated"),
        ),
        "process": _clean(F.col("tool")),
        "quantity": F.when(~is_audit, num("count")),
        "seconds": F.when(~is_audit, num("interval_sec")),
        "kilobytesin": F.when(~is_audit, num("bytes_in")),
        "kilobytesout": F.when(~is_audit, num("bytes_out")),
        # event_type/severity were already trim-to-null'd by the enrich step
        "severity": F.col("severity"),
        "vmid": F.when(is_audit, a("event_type")),
        "vendorinfo": F.when(~is_audit, F.col("event_type")),
        "sip": F.when(is_audit, a("src_ip")),
        "login": _clean(F.col("role")),
        "tag1": device_type,
        "tag2": F.when(is_audit, a("api_endpoint")),
        "tag3": F.when(is_audit, a("api_method")),
        # a_labels_str is the pre-folded map (computed next to from_json —
        # HOFs there keep this projection inside WholeStageCodegen)
        "tag4": F.when(is_audit, F.col("a_labels_str")),
    }


# provably '|'-free and non-blank when non-null: skip escaping + emptiness
# checks for these in the formatter (byte-identical output by construction)
_NO_ESCAPE_FIELDS = {
    "time",  # date_format output
    "version",  # int cast
    "sessiontype",  # literal vocabulary
    "tag1",  # literal device types
    "quantity", "seconds", "kilobytesin", "kilobytesout",  # \d+ captures
}


def formatted_log_column(fields: dict[str, Column] | None = None) -> Column:
    """'k=v|k=v|...' pipe join with '|'→'_' value escaping (F1).

    ``fields`` should be pre-materialized column references (see
    ``with_routed_text``): each field value is referenced 2-3× here
    (null/empty gate + escaped value), so inlining the raw
    ``siem_field_columns()`` expressions duplicates every ``py_strip``
    regexp subtree — the generated ``sort_addToSorter_0()`` of the sink
    stage grew past the JVM's 64 KB method limit and silently fell back
    to interpreted execution (2×+ slower end-to-end)."""
    if fields is None:
        fields = siem_field_columns()
    device_type = fields["tag1"]  # tag1 == device_type by construction

    head = F.concat(
        F.lit(f"beatname={S.BEATNAME}|device_type="),
        device_type,
        F.lit(f"|fullyqualifiedbeatname={S.BEATNAME}"),
    )
    parts = [head]
    for name in S.FIELD_ORDER:
        if name not in fields:
            continue
        v = fields[name]
        if name in _NO_ESCAPE_FIELDS:
            piece = F.when(v.isNotNull(), F.concat(F.lit(f"|{name}="), v)).otherwise("")
        else:
            piece = F.when(
                v.isNotNull() & (v != ""),
                F.concat(F.lit(f"|{name}="), F.replace(v, F.lit("|"), F.lit("_"))),
            ).otherwise("")
        parts.append(piece)
    return F.concat(*parts)


def routed_text_column(formatted: Column, escaped: Column | None = None) -> Column:
    """Append escaped+truncated original payload (F2) and the deterministic
    syslog envelope (F3, derived from event ts — SURVEY.md §7 risk note).

    Pass pre-materialized ``formatted``/``escaped`` column refs when this
    feeds a real sink plan: both are referenced 2-3× below, and inlined
    copies of the whole format concat double the generated code size."""
    if escaped is None:
        escaped = F.replace(F.col("text"), F.lit("|"), F.lit("_"))
    max_orig = F.lit(S.MAX_MESSAGE_LENGTH) - F.length(formatted) - F.lit(_ORIG_PREFIX_LEN)
    keep = F.greatest(max_orig - F.lit(3), F.lit(0))
    orig = F.when(
        F.length(escaped) > max_orig,
        F.concat(escaped.substr(F.lit(1), keep), F.lit("...")),
    ).otherwise(escaped)

    stamp = F.date_format("ts", "MMM dd yyyy HH:mm:ss")
    return F.concat(
        stamp,
        F.lit(f" {S.SYSLOG_HOST} {S.SYSLOG_NOTE} "),
        formatted,
        F.lit("|original_message="),
        orig,
    )


def with_routed_text(df: DataFrame) -> DataFrame:
    """+ routed_text, with explicit projection boundaries for codegen.

    Three staged projections: (1) every SIEM field value computed ONCE,
    (2) the pipe-joined format string + escaped payload computed ONCE,
    (3) the final envelope concat. CollapseProject keeps the boundaries
    because each intermediate is a non-cheap expression referenced more
    than once downstream — so each ``py_strip`` regexp appears exactly
    once in the generated code instead of ~6× (the 64 KB-method-limit
    codegen fallback VERDICT r3 'what's wrong #1')."""
    stages = _routed_text_stages()
    for stage in stages:
        df = df.withColumns(stage)
    return df.drop(*[c for stage in stages[:-1] for c in stage])


@once_per_gateway
def _routed_text_stages() -> list[dict[str, Column]]:
    """with_routed_text's three withColumns stages (built once per gateway)."""
    fields = siem_field_columns()
    mat = {n: F.col(f"_sf_{n}") for n in fields}
    return [
        {f"_sf_{n}": c for n, c in fields.items()},
        {
            "_fmt": formatted_log_column(mat),
            "_esc": F.replace(F.col("text"), F.lit("|"), F.lit("_")),
        },
        {"routed_text": routed_text_column(F.col("_fmt"), F.col("_esc"))},
    ]
