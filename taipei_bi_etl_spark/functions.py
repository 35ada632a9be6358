"""BigQuery-dialect scalar functions as native Column expressions.

Reference parity: SURVEY.md §2.8 (F1-F24) and §2.4 A6.  Everything here is
a pure Catalyst Column expression — no Python UDFs — so the whole scalar
layer stays inside whole-stage codegen (the reference pays a JS-UDF or
pandas round-trip for several of these).

Citations point at representative uses in /root/reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Date / time (F1-F10)
# ---------------------------------------------------------------------------

def to_day(ts: Column | str) -> Column:
    """``DATE(ts)`` — F1, ``sql/mango_events.sql:29``."""
    return F.to_date(ts)


def date_sub_days(d: Column | str, n: int) -> Column:
    """``DATE_SUB(d, INTERVAL n DAY)`` — F2, ``sql/mango_user_rfe_28d.sql:9``."""
    return F.date_sub(d, n)


def date_diff_days(a: Column | str, b: Column | str) -> Column:
    """``DATE_DIFF(a, b, DAY)`` — F3, ``sql/mango_user_rfe_daily_partial.sql:42``."""
    return F.datediff(a, b)


def date_from_unix_date(days: Column | str) -> Column:
    """``DATE_FROM_UNIX_DATE(n)`` — F4, ``sql/mango_core_normalized.sql:3``."""
    c = F.col(days) if isinstance(days, str) else days
    return F.date_add(F.lit("1970-01-01").cast("date"), c.cast("int"))


def as_utc_ts(ts: Column | str) -> Column:
    """Coerce TIMESTAMP_NTZ to session-zone TIMESTAMP (epoch-preserving).

    Parquet naive ``timestamp[us]`` columns read as TIMESTAMP_NTZ under
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` (matching the DuckDB
    oracle's naive reading); Spark 4's ``unix_millis`` only accepts
    TIMESTAMP.  With the session timezone pinned to UTC the NTZ→LTZ cast
    re-interprets the naive value as UTC, so epoch math is unchanged.
    No-op on columns that are already TIMESTAMP.
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    return c.cast("timestamp_ltz")


def unix_ms(ts: Column | str) -> Column:
    """Epoch milliseconds of a TIMESTAMP or TIMESTAMP_NTZ column.

    POST-EPOCH ASSUMPTION (cross-engine contract): ``unix_millis``
    truncates microseconds toward zero (Java long division), while the
    DuckDB twin ``datediff('millisecond', epoch, ts)`` counts boundary
    crossings (floor).  Truncate-toward-zero == floor only for ts >=
    1970-01-01; a PRE-epoch sub-millisecond timestamp would diverge by
    one.  Every corpus in the contract is post-epoch (testdata events
    are 2024); if pre-1970 data ever enters, both sides must switch to
    an explicit floor (``floor(unix_micros/1000)`` vs the same
    datediff)."""
    return F.unix_millis(as_utc_ts(ts))


def unix_us(ts: Column | str) -> Column:
    """Epoch microseconds of a TIMESTAMP or TIMESTAMP_NTZ column."""
    return F.unix_micros(as_utc_ts(ts))


def datetime_add_ms(ts: Column, ms: Column) -> Column:
    """``DATETIME_ADD(dt, INTERVAL ms MILLISECOND)`` — F5,
    ``sql/mango_user_rfe_daily_session.sql:73,82-84``."""
    return F.timestamp_millis(unix_ms(ts) + ms.cast("long"))


def datetime_diff_ms(a: Column, b: Column) -> Column:
    """``DATETIME_DIFF(a, b, MILLISECOND)`` — F6,
    ``sql/mango_user_rfe_daily_session.sql:102-103``."""
    return unix_ms(a) - unix_ms(b)


def timestamp_trunc_day(ts: Column | str) -> Column:
    """``TIMESTAMP_TRUNC(ts, DAY)`` — F7, ``sql/revenue_search_events.sql:4``."""
    return F.date_trunc("day", ts)


# ---------------------------------------------------------------------------
# Null handling / casting (F13-F15, P10)
# ---------------------------------------------------------------------------

def ifnull(col: Column, default) -> Column:
    """``IFNULL(x, default)`` — F14, ``sql/mango_user_channels.sql:117-132``."""
    return F.coalesce(col, F.lit(default))


def lower_or_empty(col: Column) -> Column:
    """``IF(x IS NULL, '', LOWER(x))`` — F13,
    ``sql/mango_events_feature_mapping.sql:34-46``."""
    return F.coalesce(F.lower(col), F.lit(""))


def empty_to_null(col: Column) -> Column:
    """pandas ``replace('', nan)`` — P10, ``tasks/revenue.py:98``."""
    return F.nullif(col, F.lit(""))


# ---------------------------------------------------------------------------
# Arrays / key-value structs (A6, D2/D3 helpers)
# ---------------------------------------------------------------------------

def kv_get(arr: Column | str, key: str) -> Column:
    """Scalar subquery over an array of key/value structs — A6:
    ``(SELECT value FROM UNNEST(settings) WHERE key='...')``,
    ``sql/mango_events_feature_mapping.sql:10-21``.

    Pure array expression: filter + element_at, no join, no subquery.
    """
    c = F.col(arr) if isinstance(arr, str) else arr
    # try_element_at: no-match → NULL (ANSI-safe), matching BigQuery's
    # scalar subquery over an empty UNNEST.
    return F.try_element_at(F.filter(c, lambda x: x["key"] == key), F.lit(1))["value"]


def kv_clean(arr: Column | str) -> Column:
    """Lowercase keys/values, null value → '' — D3
    (``udf_js/cleanup_settings.sql:1-17``) as a pure ``transform``."""
    c = F.col(arr) if isinstance(arr, str) else arr
    return F.transform(
        c,
        lambda x: F.struct(
            F.lower(x["key"]).alias("key"),
            F.coalesce(F.lower(x["value"]), F.lit("")).alias("value"),
        ),
    )


# ---------------------------------------------------------------------------
# Misc (F16-F18)
# ---------------------------------------------------------------------------

def gen_uuid() -> Column:
    """``GENERATE_UUID()`` — F17, ``sql/user_rfe.sql:5`` (non-deterministic;
    keep out of hash-checked outputs)."""
    return F.expr("uuid()")


def json_path(col: Column | str, path: str) -> Column:
    """``JSON_EXTRACT(col, '$.x')`` — F18, ``sql/user_rfe.sql:8``."""
    return F.get_json_object(col, path)


def to_snake_case(name: str) -> str:
    """camelCase/PascalCase → snake_case (F22, driver-side column
    renaming; reference ``utils/marshalling.py:186-197``).

    >>> to_snake_case("campaignToken")
    'campaign_token'
    >>> to_snake_case("OSVersion")
    'os_version'
    >>> to_snake_case("already_snake")
    'already_snake'
    """
    import re

    s1 = re.sub(r"(.)([A-Z][a-z]+)", r"\1_\2", name)
    return re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s1).lower()


def rename_snake(df: "DataFrame") -> "DataFrame":
    """Rename every column of ``df`` to snake_case (F22) — metadata-only,
    no job is triggered."""
    return df.toDF(*[to_snake_case(c) for c in df.columns])


def anonymize_columns(df, spec: dict):
    """Deterministic fixture anonymizer — the Spark form of the
    reference's test-data scrubber (`utils/anonymizer.py:12-32`, which
    randomizes ip / uid / float / int fields in golden fixtures before
    they are committed).  The reference uses `random` (irreproducible);
    here every replacement derives from xxhash64 of the original value,
    so anonymization is REPRODUCIBLE (same input → same fixture) and
    join keys remain consistent across tables scrubbed independently.

    spec maps column → kind:
      - "ip":    hash → "10.x.y.z" private-range address
      - "uid":   hash → 16-hex-char token
      - "int":   hash → value in [0, 10000)
      - "float": hash → value in [0, 100) with 2 decimals

    Runs entirely in Catalyst (hash + formatting expressions) — a 100 TB
    fixture scrub is a map-only scan.
    """
    from pyspark.sql import functions as F

    out = df
    for col, kind in spec.items():
        # pmod, not abs(...)%: abs(Long.MIN_VALUE) aborts the job under
        # ANSI mode — a one-in-2^64 landmine per value, but the failure
        # is a full scrub abort (ADVICE r01)
        h = F.pmod(F.xxhash64(F.col(col).cast("string")), F.lit(2**60))
        if kind == "ip":
            repl = F.concat_ws(
                ".",
                F.lit("10"),
                (h % 256).cast("string"),
                (F.floor(h / 256) % 256).cast("string"),
                (F.floor(h / 65536) % 256).cast("string"),
            )
        elif kind == "uid":
            # conv() output is unpadded (≤15 hex digits for a 60-bit
            # value) — lpad to the documented fixed 16-char width
            repl = F.lpad(
                F.lower(F.conv(h.cast("string"), 10, 16)), 16, "0"
            )
        elif kind == "int":
            repl = (h % 10000).cast("long")
        elif kind == "float":
            repl = F.round((h % 10000) / 100.0, 2)
        else:
            raise ValueError(f"unknown anonymize kind: {kind}")
        out = out.withColumn(col, repl)
    return out


# ---------------------------------------------------------------------------
# Integral-text extraction contract (r05 code review): TRY_CAST of a
# JSON-extracted string to an integer type is ENGINE-DIVERGENT on
# non-integral text — Spark try_cast('1.5' AS BIGINT) is NULL while
# DuckDB TRY_CAST('1.5' AS BIGINT) ROUNDS to 2, and variant typed gets
# coerce booleans (true→1) and truncate decimals.  The portable
# contract is explicit: a value is an integer iff its TEXT matches
# ^\s*-?[0-9]+\s*$; everything else is NULL in BOTH engines.
# ---------------------------------------------------------------------------

INT_TEXT_RE = r"^\s*-?[0-9]+\s*$"


def int_text(col: Column) -> Column:
    """STRING column → BIGINT under the integral-text contract.

    ``try_cast`` (not ``cast``): post-regex the text is integral, so
    the DuckDB '1.5'-rounds-to-2 divergence cannot apply, but a digit
    string beyond the BIGINT range (e.g. ``"99999999999999999999"``)
    passes the regex and a plain ``cast`` THROWS under ANSI (the
    session default) while DuckDB's TRY_CAST yields NULL.  try_cast
    → NULL in both engines (r05 ADVICE, medium).
    """
    return F.when(col.rlike(INT_TEXT_RE), col.try_cast("long"))


#: Escape-aware JSON string literal (matches one quoted string incl.
#: ``\"`` escapes) and key-position variant (a quoted string followed
#: by ``:``).  SINGLE SOURCE for the textual props contract below —
#: the identical literals are passed to Spark (Java regex) and DuckDB
#: (RE2); both flavors agree on every construct used ([^"\\], \\.,
#: \s, alternation, greedy *).
JSON_STR_RE = r'"([^"\\]|\\.)*"'
JSON_KEY_RE = r'"(([^"\\]|\\.)*)"\s*:'

#: STRICT-PROPS TEXTUAL CONTRACT (r06 VERDICT #3 + ADVICE #4): the two
#: engines' JSON parsers disagree on residual shapes in BOTH directions
#: — Spark's try_parse_json rejects duplicate keys at ANY depth but
#: accepts trailing garbage (``{"k":1} x``, ``{"k":1}}``,
#: ``{"k":1} {"j":2}``); DuckDB's json_valid is the exact opposite.  No
#: predicate inside either parser can re-admit or re-reject the other
#: engine's shapes, so the agreed contract is TEXTUAL, computed
#: identically in both engines on the raw string:
#:
#:   stripped := regexp_replace(s, JSON_STR_RE, '0')   -- placeholder,
#:     NOT '' — a trailing STRING garbage token must stay visible
#:   1. object root, nothing after the final close:
#:        trim(stripped) starts '{' and ends '}'
#:   2. balanced braces and brackets: count('{')=count('}'),
#:        count('[')=count(']') on stripped
#:   3. no root concatenation: stripped !~ '\}\s*\{'  (between '}' and
#:        '{' legal JSON always has ',' or ':'; only concatenated
#:        roots leave pure whitespace there)
#:   4. no repeated key TEXT anywhere: the list of JSON_KEY_RE captures
#:        over the raw text is duplicate-free.  DELIBERATELY
#:        conservative: also rejects the same key name in two
#:        DIFFERENT objects (legal JSON) — acceptability per corpus
#:        contract: repeated-key props are quarantined, not parsed.
#:   5. no trailing comma: stripped !~ ',\s*[}\]]'  (legal JSON never
#:        puts ',' directly before a close; probed live — DuckDB's
#:        json_valid ACCEPTS '{"k":1,}' / '[1,2,]' where Spark
#:        rejects, the one leniency its parser has)
#:
#: Residual (documented, microscopic): duplicate keys distinguishable
#: only after unicode-escape decoding (``{"a":{"k":1,"k":2}}``)
#: in NESTED objects — Spark rejects, the textual rule sees two
#: different key texts, and DuckDB json_keys only reads the top level
#: (where the existing json_keys term does catch the decoded dup).
_STRICT_TAIL_RE = r"\}\s*\{"
_STRICT_TRAILING_COMMA_RE = r",\s*[}\]]"


def json_strict(col: Column) -> Column:
    """Spark-side strict props guard: the parser check
    (``try_parse_json`` — strictly STRICTER than ``get_json_object``'s
    parser on the r04 hostile shape battery, so a separate gjo('$')
    term is implied and deliberately omitted) AND the textual contract
    above, so admission matches :func:`json_valid_strict_sql` row for
    row.  Pure Column expressions — JVM-side.

    LET-BINDING (r07 bench tripwire find): ``stripped`` feeds six
    textual terms and ``keys`` two — as plain subtrees each reference
    re-evaluates its regex, and Catalyst's predicate pushdown then
    INLINES the whole guard into pushed filters (an ``int_text`` over
    a guarded extraction re-evaluated the full stack 3× per row —
    scd2 went 1.7 → 7.3 s before the tripwire fired).  Binding both
    via ``transform`` over a one-element array makes each compute
    exactly ONCE per guard evaluation (lambda variables are
    materialized struct fields), cutting the guard to parser terms +
    one regexp_replace + one regexp_extract_all + cheap scalar ops."""
    bound = F.transform(
        F.array(
            F.struct(
                F.regexp_replace(col, JSON_STR_RE, "0").alias("st"),
                F.regexp_extract_all(
                    col, F.lit(JSON_KEY_RE), F.lit(1)
                ).alias("ks"),
            )
        ),
        lambda x: _json_textual_ok(x["st"], x["ks"]),
    )
    return F.try_parse_json(col).isNotNull() & F.element_at(bound, 1)


def _json_textual_ok(stripped: Column, keys: Column) -> Column:
    """Textual-contract terms over pre-bound ``stripped`` / ``keys``."""
    t = F.trim(stripped)

    def n(c: Column, ch: str) -> Column:
        return F.length(c) - F.length(F.replace(c, F.lit(ch), F.lit("")))

    return (
        t.startswith("{")
        & t.endswith("}")
        & (n(stripped, "{") == n(stripped, "}"))
        & (n(stripped, "[") == n(stripped, "]"))
        & ~stripped.rlike(_STRICT_TAIL_RE)
        & ~stripped.rlike(_STRICT_TRAILING_COMMA_RE)
        & (F.size(keys) == F.size(F.array_distinct(keys)))
    )


def json_valid_strict_sql(s: str) -> str:
    """DuckDB twin of :func:`json_strict` (the strict props guard).

    Engine-parser terms (r05 VERDICT #4, r06): ``json_valid`` MINUS the
    shapes DuckDB alone accepts —

    * **top-level duplicate-key objects** (``{"k":1,"k":2}``) —
      ``json_keys`` (which preserves duplicates) vs ``list_distinct``;
      kept alongside textual rule 4 because json_keys compares DECODED
      keys (catches ``"k"`` vs ``"\\u006b"`` at the top level);
    * **non-standard number literals at ANY nesting depth** (``nan`` /
      ``inf`` / ``Infinity``, any case — r06 code review found the
      first-cut top-level-only regex let ``{"j": nan}`` diverge):
      string literals are replaced first (escape-aware JSON_STR_RE),
      after which any remaining nan/inf substring can only be a bare
      literal — JSON numbers (incl. the ``1e999`` overflow Spark
      ACCEPTS and DuckDB canonicalizes to Infinity) and
      ``true/false/null`` cannot contain those letters.  Detection
      runs on the RAW text, not the ``json()`` canonical form, exactly
      so ``1e999`` stays admitted in both engines.

    PLUS the textual contract (module comment above) closing the last
    one-way shapes in BOTH directions (r06 VERDICT #3): nested
    duplicate keys (rule 4) and trailing garbage (rules 1–3).
    """
    # ORDER-INDEPENDENT: DuckDB's optimizer reorders AND conjuncts by
    # cost, so a guard that relies on short-circuit (CASE or conjunct
    # position) can still feed invalid JSON to json_keys and throw.
    # Null-guarding every json-consuming input makes each term total:
    # f(NULL) -> NULL -> the comparison is NULL -> falsy.
    g = f"(CASE WHEN json_valid({s}) THEN {s} END)"
    strip = f"regexp_replace({g}, '{JSON_STR_RE}', '0', 'g')"
    keys = f"regexp_extract_all({s}, '{JSON_KEY_RE}', 1)"
    return (
        f"(json_valid({s}) "
        f"AND NOT regexp_matches({strip}, '(nan|inf)', 'i') "
        f"AND len(json_keys({g})) = len(list_distinct(json_keys({g}))) "
        f"AND trim({strip}) LIKE '{{%}}' "
        "AND len(replace(" + strip + ", '{', '')) = "
        "len(replace(" + strip + ", '}', '')) "
        "AND len(replace(" + strip + ", '[', '')) = "
        "len(replace(" + strip + ", ']', '')) "
        f"AND NOT regexp_matches({strip}, '{_STRICT_TAIL_RE}') "
        f"AND NOT regexp_matches({strip}, '{_STRICT_TRAILING_COMMA_RE}') "
        f"AND len({keys}) = len(list_distinct({keys})))"
    )
