"""ES|QL-shaped query layer: the pipe language compiled to DataFrame plans.

The reference POSTs ES|QL statements with named ``?placeholders`` to
``/_query`` once per event (esql_executor.rb:46-63; client.rb:61-63) and
maps the columnar response back onto the event (esql_executor.rb:65-110).
Here the pipe pipeline compiles directly onto the DataFrame API —
``FROM``→table scan, ``WHERE``→filter, ``STATS…BY``→groupBy().agg(),
``SORT``→orderBy, ``LIMIT``→limit, ``KEEP``→select, ``DROP``→drop,
``RENAME``→withColumnRenamed, ``EVAL``→withColumn — so Catalyst gets the
whole logical plan (pushdown/pruning/fold) instead of a remote engine.

How the text nests — string literals (with backslash escapes), ``()``
and ``[]`` — is known in one place, :class:`_Scan`: one forward pass
records per index whether it is quoted, its bracket depth, and the
partner of every bracket and quote. The pipe, comma and argument
splitters, the keyword finder, the FORK splitter and the operand and
group matchers of the rewrite passes all read that record; unbalanced
brackets fail there, once, with their position. Only the triple-quote
pre-pass, which rewrites the text before any scan, tracks quotes itself.

Named-parameter validation reproduces elasticsearch.rb:462-481:
placeholder grammar ``^[a-z_][a-z0-9_]*$``, and the placeholder set
must exactly match the param set (missing/unused both raise).
Static params fold to literals at plan time, the Spark analog of the
reference's init-time static/referenced split (esql_executor.rb:19-22).

Result→event mapping helpers reproduce esql_executor.rb:65-110:
first-row-to-root (no target), all-rows-as-array-of-structs (target),
dotted-key→nested struct, parent-shadows-child suppression, and the
``[@metadata][total_values]`` count.
"""

from __future__ import annotations

import contextvars
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.functions.fieldref import (
    mark_sub_elements,
    nest_dotted,
)

# placeholder grammar, elasticsearch.rb:468-470
_PLACEHOLDER_NAME = re.compile(r"^[a-z_][a-z0-9_]*$")

# CHANGE_POINT runs an ordered window over its whole input (a change-
# point is a property of ONE series); this cap turns a forgotten
# pre-filter into an error instead of a single-partition whole-table
# sort at scale. Raise it deliberately for genuinely long series.
CHANGE_POINT_MAX_ROWS = 100_000
_PLACEHOLDER = re.compile(r"\?([A-Za-z_][A-Za-z0-9_]*)")

# ---- integer-division type probe ---------------------------------------
# ES|QL integer/integer division TRUNCATES toward zero (7 / 2 = 3,
# Java semantics); Spark's `/` (and try_divide) always widens to double.
# The div rewrite is a string pass with no type information, so the
# executor lends it the CURRENT stage DataFrame: each `/` operand is
# type-resolved with a driver-side Catalyst analysis (no job), and when
# BOTH sides are integral the emission becomes a zero-guarded ``div``
# — exact 64-bit truncation toward zero, NULL on zero divisor, exactly
# ES|QL's result (widened to long) even for operands beyond 2^53 where
# a double round-trip would round. Operands whose analysis fails (e.g.
# a forward reference) conservatively fall back to the plain
# double-returning try_divide.
#
# The probe (DataFrame, cache) pair is a ContextVar, NOT module
# globals: concurrent run_esql calls from multiple driver threads each
# see their own probe state, so one pipeline's schema can never type
# another pipeline's divisions.
_INTEGRAL_TYPES = {"tinyint", "smallint", "int", "bigint"}
_INT_LITERAL = re.compile(r"[+-]?\d+")
_FLOAT_LITERAL = re.compile(r"[+-]?(?:\d*\.\d+|\d+\.)(?:[eE][+-]?\d+)?|[+-]?\d+[eE][+-]?\d+")
_probe_state: contextvars.ContextVar[
    tuple[DataFrame | None, dict[str, bool]]
] = contextvars.ContextVar("esql_int_div_probe", default=(None, {}))


def _set_probe_df(df: DataFrame | None) -> None:
    cur_df, _cache = _probe_state.get()
    if df is not cur_df:
        _probe_state.set((df, {}))


def _operand_is_integral(expr_s: str) -> bool:
    s = expr_s.strip()
    if _INT_LITERAL.fullmatch(s):
        return True
    if _FLOAT_LITERAL.fullmatch(s):
        return False
    probe_df, cache = _probe_state.get()
    if probe_df is None:
        return False
    hit = cache.get(s)
    if hit is not None:
        return hit
    try:
        dt = probe_df.select(F.expr(s).alias("__t")).schema[0].dataType
        res = dt.simpleString() in _INTEGRAL_TYPES
    except Exception:
        res = False
    cache[s] = res
    return res


class EsqlValidationError(ValueError):
    pass


class _QuoteState:
    """Quote/escape tracker shared by :class:`_Scan` and the triple-quote
    pre-pass.

    Inside a quote a backslash escapes the next character (ES|QL string
    literals support ``\\"`` — an escaped quote must NOT close the
    literal; Spark SQL processes the same escapes, so escaped literals
    pass through to ``F.expr`` unchanged). Feed each character; read
    ``in_quote`` BEFORE feeding to classify that character."""

    __slots__ = ("quote", "esc")

    def __init__(self):
        self.quote = None
        self.esc = False

    @property
    def in_quote(self) -> bool:
        return self.quote is not None

    def feed(self, ch: str) -> None:
        if self.quote:
            if self.esc:
                self.esc = False
            elif ch == "\\":
                self.esc = True
            elif ch == self.quote:
                self.quote = None
        elif ch in ("'", '"'):
            self.quote = ch


class _Scan:
    """The one structural scan of ES|QL (and translated SQL) text.

    One forward pass records, per index, whether the character belongs
    to a string literal (``quoted``, delimiters included) and how many
    brackets enclose it (``depth``; a bracket sits at the depth of its
    surroundings), plus ``match``: every bracket's partner index and
    every literal's opening <-> closing quote index. ``()`` and ``[]``
    nest alike everywhere, so a ``|``, ``,`` or keyword inside a
    ``[...]`` multivalue literal is never a separator. An unbalanced or
    mismatched bracket outside quotes raises once, with its position.
    Every splitter and matcher in this module reads this record; none
    keeps its own depth counter."""

    __slots__ = ("text", "quoted", "depth", "match")

    def __init__(self, text: str):
        n = len(text)
        quoted, depth, match = bytearray(n), [0] * n, {}
        q = _QuoteState()
        stack: list[int] = []
        opened = -1
        for i, ch in enumerate(text):
            depth[i] = len(stack)
            if q.in_quote:
                quoted[i] = 1
                q.feed(ch)
                if not q.in_quote:
                    match[opened], match[i] = i, opened
            elif ch in ("'", '"'):
                quoted[i] = 1
                opened = i
                q.feed(ch)
            elif ch in "([":
                stack.append(i)
            elif ch in ")]":
                if not stack or text[stack[-1]] + ch not in ("()", "[]"):
                    raise EsqlValidationError(
                        f"unbalanced {ch!r} at position {i} in {text!r}"
                    )
                o = stack.pop()
                depth[i] = len(stack)
                match[o], match[i] = i, o
        if stack:
            raise EsqlValidationError(
                f"unclosed {text[stack[-1]]!r} at position {stack[-1]} "
                f"in {text!r}"
            )
        self.text, self.quoted, self.depth, self.match = text, quoted, depth, match

    def top(self, ch: str, group: int | None = None) -> list[int]:
        """Indices of the unquoted character ``ch`` directly inside the
        bracket group opening at index ``group`` — by default, at depth
        0."""
        if group is None:
            lo, hi, level = 0, len(self.text), 0
        else:
            lo, hi, level = group + 1, self.match[group], self.depth[group] + 1
        t, quoted, depth = self.text, self.quoted, self.depth
        return [
            i for i in range(lo, hi)
            if t[i] == ch and depth[i] == level and not quoted[i]
        ]

    def split(self, sep: str, group: int | None = None) -> list[str]:
        """Raw (unstripped) pieces between the separators :meth:`top`
        finds — of the whole text, or of the inside of ``group``."""
        lo, hi = (-1, len(self.text)) if group is None else (group, self.match[group])
        cuts = [lo, *self.top(sep, group), hi]
        return [self.text[a + 1 : b] for a, b in zip(cuts, cuts[1:])]


def _quote_segments(s: str) -> list[tuple[bool, str]]:
    """Split into (is_quoted, segment) runs, each literal bounded by its
    quotes in the scan's ``match``. Rewrites (operator translation,
    placeholder substitution) apply ONLY to unquoted segments, so a
    string literal containing ``==``, ``?name``, or an escaped quote
    passes through untouched."""
    sc = _Scan(s)
    segs: list[tuple[bool, str]] = []
    i = 0
    while i < len(s):
        if sc.quoted[i]:  # an unterminated literal runs to the end
            j = sc.match.get(i, len(s) - 1) + 1
        else:
            j = sc.quoted.find(1, i)
            j = len(s) if j < 0 else j
        segs.append((bool(sc.quoted[i]), s[i:j]))
        i = j
    return segs


def _sub_outside_quotes(s: str, fn) -> str:
    return "".join(seg if quoted else fn(seg) for quoted, seg in _quote_segments(s))


def normalize_params(params) -> dict:
    """Accept the reference's array form (elasticsearch.rb:149-153,
    463-481: ``query_params`` is a list of SINGLE-ENTRY dicts, merged)
    alongside a plain dict. Duplicate names and multi-entry elements
    fail exactly like the reference's config validation."""
    if params is None:
        return {}
    if isinstance(params, dict):
        return params
    if isinstance(params, (list, tuple)):
        merged: dict = {}
        for item in params:
            if not isinstance(item, dict) or len(item) != 1:
                raise EsqlValidationError(
                    "query_params array elements must be single-entry "
                    f"dicts (name -> value), got {item!r}"
                )
            ((k, v),) = item.items()
            if k in merged:
                raise EsqlValidationError(
                    f"duplicate query_params name {k!r}"
                )
            merged[k] = v
        return merged
    raise EsqlValidationError(
        f"query_params must be a dict or a list of single-entry dicts, "
        f"got {type(params).__name__}"
    )


def validate_params(query: str, params: dict) -> None:
    """Exact placeholder<->param matching (elasticsearch.rb:462-481).
    Placeholders inside string literals are literal text, not params.
    Bare positional placeholders (`?`, `?1`) are not part of the
    reference's contract — named placeholders only."""
    for quoted, seg in _quote_segments(query):
        if quoted:
            continue
        if re.search(r"\?\?", seg):
            # ES|QL identifier params (``??field``, 8.15+) are a
            # distinct feature — name it, instead of the misleading
            # positional-placeholder message
            raise EsqlValidationError(
                "identifier params (`??name`) are not supported; "
                "interpolate the field name into the query text instead"
            )
        if re.search(r"\?(?![A-Za-z_])", seg):
            raise EsqlValidationError(
                "positional placeholders (`?`, `?1`) are not supported; "
                "use named placeholders (`?name`) with query_params, as "
                "the reference plugin requires"
            )
    placeholders: set[str] = set()
    for quoted, seg in _quote_segments(query):
        if not quoted:
            placeholders.update(_PLACEHOLDER.findall(seg))
    for name in list(placeholders) + list(params):
        if not _PLACEHOLDER_NAME.match(name):
            raise EsqlValidationError(
                f"Invalid placeholder name: {name!r} "
                "(must match ^[a-z_][a-z0-9_]*$)"
            )
    missing = placeholders - set(params)
    unused = set(params) - placeholders
    if missing:
        raise EsqlValidationError(f"Placeholders with no matching query_params: {sorted(missing)}")
    if unused:
        raise EsqlValidationError(f"query_params not used in the query: {sorted(unused)}")


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    s = str(v).replace("'", "''")
    return f"'{s}'"


def _substitute(expr: str, params: dict) -> str:
    return _sub_outside_quotes(
        expr, lambda seg: _PLACEHOLDER.sub(
            lambda m: _sql_literal(params[m.group(1)]), seg
        )
    )


# ES|QL functions whose Spark spelling or shape differs. Functions that
# share a name AND semantics with Spark SQL (LENGTH, SUBSTRING, CONCAT,
# TRIM, LEFT, RIGHT, LOCATE, ABS, ROUND, CEIL, FLOOR, SQRT, POW, LOG,
# EXP, COALESCE, GREATEST, LEAST, PI, E, DATE_TRUNC, ...) pass through
# untouched. Three mapped classes below, plus custom emissions in
# _translate_call for CASE / MV_SUM / MV_AVG / MV_FIRST / MV_LAST /
# SPLIT / DATE_DIFF.
_CAST_FNS = {  # 1-arg TO_<type> conversions (ESQL_PARSERS_BY_TYPE,
    # esql_executor.rb:8-10) -> cast(x as <spark type>)
    "TO_DATETIME": "timestamp",
    "TO_STRING": "string",
    "TO_LONG": "bigint",
    "TO_INTEGER": "int",
    "TO_DOUBLE": "double",
    "TO_BOOLEAN": "boolean",
}
_SWAP2_FNS = {  # 2-arg, ES|QL (format, value) -> Spark (value, format)
    "DATE_FORMAT": "date_format",
    "DATE_PARSE": "to_timestamp",
}
_RENAME_FNS = {  # same arg order, different Spark name
    "TO_UPPER": "upper",
    "TO_LOWER": "lower",
    "STARTS_WITH": "startswith",
    "ENDS_WITH": "endswith",
    "REPLACE": "regexp_replace",  # both take (str, regex, replacement)
    "MV_COUNT": "size",
    "MV_MIN": "array_min",
    "MV_MAX": "array_max",
    "MV_DEDUPE": "array_distinct",
    "MV_CONCAT": "array_join",
    "MV_APPEND": "concat",
    "NOW": "current_timestamp",
    "TO_BASE64": "base64",
    "BYTE_LENGTH": "octet_length",
    "TO_DEGREES": "degrees",
    "TO_RADIANS": "radians",
}
_CUSTOM_FNS = {
    "CASE", "MV_SUM", "MV_AVG", "MV_FIRST", "MV_LAST", "MV_SORT", "SPLIT",
    "DATE_DIFF", "DATE_EXTRACT", "COUNT_DISTINCT", "PERCENTILE",
    "CIDR_MATCH", "TO_IP", "BUCKET",
    "MEDIAN", "VALUES", "TOP", "WEIGHTED_AVG",
    "MV_SLICE", "MV_ZIP", "MV_MEDIAN", "STD_DEV",
    "FROM_BASE64", "SHA256", "HASH", "IP_PREFIX",
    "TAU", "SCALB", "ROUND_TO", "MV_PERCENTILE",
    "MV_MEDIAN_ABSOLUTE_DEVIATION",
    "MATCH", "MATCH_PHRASE", "DATE_TRUNC",
}

def _convert_triple_quotes(query: str) -> str:
    """ES|QL triple-quoted RAW strings (``\"\"\"pattern\"\"\"``: no
    escape processing, cannot contain ``\"\"\"``) -> ordinary
    double-quoted literals with the content backslash-escaped, applied
    on the raw statement BEFORE :class:`_Scan` runs, so the scan sees
    only normal strings. A ``\"\"\"`` inside a normal string literal
    (``'\"\"\"'``) is data and stays put."""
    out: list[str] = []
    q = _QuoteState()
    i = 0
    while i < len(query):
        if not q.in_quote and query.startswith('"""', i):
            end = query.find('"""', i + 3)
            if end < 0:
                raise EsqlValidationError(
                    "unterminated triple-quoted string literal"
                )
            raw = query[i + 3 : end]
            escaped = raw.replace("\\", "\\\\").replace('"', '\\"')
            out.append(f'"{escaped}"')
            i = end + 3
            continue
        q.feed(query[i])
        out.append(query[i])
        i += 1
    return "".join(out)


_DURATION_RE = re.compile(
    r"\b(\d+)\s+(millisecond|second|minute|hour|day|week|month|quarter"
    r"|year)s?\b",
    re.I,
)


def _rewrite_durations(s: str) -> str:
    """ES|QL temporal literals (``ts + 3 hours``, ``NOW() - 1 day``) ->
    Spark interval literals (``INTERVAL 3 HOUR``). Applied AFTER
    function translation so duration-consuming functions (BUCKET,
    DATE_TRUNC) have already swallowed their span arguments; quoted
    strings are never touched. QUARTER isn't a Spark interval unit ->
    3N months."""

    def sub(seg: str) -> str:
        def repl(m: re.Match) -> str:
            n, unit = int(m.group(1)), m.group(2).upper()
            if unit == "QUARTER":
                return f"INTERVAL {3 * n} MONTH"
            return f"INTERVAL {n} {unit}"

        return _DURATION_RE.sub(repl, seg)

    return _sub_outside_quotes(s, sub)

# the SQL spelling of template._analyze (standard-analyzer
# approximation: lowercase, split on non-letter/non-digit runs, drop
# empties) — keep the two in lockstep
_ANALYZE_SQL = (
    "filter(split(lower(cast({v} as string)), '[^\\\\p{{L}}\\\\p{{N}}]+'),"
    " x -> x != '')"
)


def _string_literal_of(expr: str) -> str | None:
    """The Python value of a plain quoted SQL string literal (either
    quote style — ES|QL strings are canonically double-quoted), or
    None if ``expr`` is anything else."""
    e = expr.strip()
    for q in ("'", '"'):
        if len(e) >= 2 and e[0] == q and e[-1] == q and "\\" not in e:
            inner = e[1:-1]
            if q not in inner:
                return inner
    return None
_IPV4_RE = r"^(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])(\\.(25[0-5]|2[0-4][0-9]|[01]?[0-9]?[0-9])){3}$"
# ES|QL DATE_EXTRACT takes java.time ChronoField names; map the common
# ones onto Spark extract fields (DAY_OF_WEEK is ISO-numbered in
# ChronoField — Monday=1 — so it maps to DAYOFWEEK_ISO, not DAYOFWEEK).
# Names Spark already accepts (year, month, day, hour, ...) pass through.
_DATE_EXTRACT_FIELDS = {
    "year": "year",
    "month_of_year": "month",
    "day_of_month": "day",
    "day_of_week": "dayofweek_iso",
    "day_of_year": "doy",
    "hour_of_day": "hour",
    "minute_of_hour": "minute",
    "second_of_minute": "second",
}
# ES|QL DATE_DIFF unit names (incl. plural/abbreviated aliases) ->
# Spark timestampdiff unit keywords
_DATE_DIFF_UNITS = {}
for _aliases, _unit in [
    (("year", "years", "yy", "yyyy"), "YEAR"),
    (("quarter", "quarters", "qq", "q"), "QUARTER"),
    (("month", "months", "mm", "m"), "MONTH"),
    (("week", "weeks", "wk", "ww"), "WEEK"),
    (("day", "days", "dd", "d"), "DAY"),
    (("hour", "hours", "hh"), "HOUR"),
    (("minute", "minutes", "mi", "n"), "MINUTE"),
    (("second", "seconds", "ss", "s"), "SECOND"),
    (("millisecond", "milliseconds", "ms"), "MILLISECOND"),
    (("microsecond", "microseconds", "mcs"), "MICROSECOND"),
]:
    for _a in _aliases:
        _DATE_DIFF_UNITS[_a] = _unit

_ALL_MAPPED_FNS = (
    set(_CAST_FNS) | set(_SWAP2_FNS) | set(_RENAME_FNS) | _CUSTOM_FNS
)
# longest-first so MV_CONCAT can't half-match as MV_COUNT etc.
_ESQL_FN_RE = re.compile(
    r"\b("
    + "|".join(sorted(_ALL_MAPPED_FNS, key=len, reverse=True))
    + r")\s*\(",
    re.I,
)


def _translate_call(fn: str, args: list[str]) -> str:
    """Emit the Spark SQL spelling of one mapped ES|QL call (args are
    already translated)."""

    def arity(n: int) -> None:
        if len(args) != n:
            raise EsqlValidationError(f"{fn} takes {n} argument(s)")

    if fn in _CAST_FNS:
        # try_cast: ES|QL TO_* conversions yield NULL (with a warning)
        # on unconvertible input — ANSI cast would abort the query on
        # one bad value
        arity(1)
        return f"try_cast({args[0]} as {_CAST_FNS[fn]})"
    if fn in _SWAP2_FNS:
        if fn == "DATE_FORMAT" and len(args) == 1:
            # 1-arg form uses the dialect's default pattern
            return (
                f"date_format({args[0]}, \"yyyy-MM-dd'T'HH:mm:ss.SSS'Z'\")"
            )
        arity(2)
        return f"{_SWAP2_FNS[fn]}({args[1]}, {args[0]})"
    if fn in _RENAME_FNS:
        return f"{_RENAME_FNS[fn]}({', '.join(args)})"
    if fn == "CASE":
        # variadic CASE(c1, v1[, c2, v2, ...][, default]) -> nested
        # if(): identical semantics to a CASE WHEN chain, but the
        # generated SQL carries no CASE/WHEN/END keywords — so the
        # div/mod rewrite pass never has to guess whether `end` is a
        # keyword or a column name
        if len(args) < 2:
            raise EsqlValidationError("CASE needs at least (condition, value)")
        if len(args) % 2:
            pairs, default = args[:-1], args[-1]
        else:
            pairs, default = args, "NULL"
        acc = default
        for i in range(len(pairs) - 2, -1, -2):
            acc = f"if({pairs[i]}, {pairs[i + 1]}, {acc})"
        return f"({acc})"
    if fn in ("MV_SUM", "MV_AVG"):
        arity(1)
        total = f"aggregate({args[0]}, cast(0 as double), (acc, v) -> acc + v)"
        return total if fn == "MV_SUM" else f"({total} / size({args[0]}))"
    if fn == "MV_FIRST":
        # try_element_at: an empty array yields NULL (ANSI element_at
        # throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT and aborts the job)
        arity(1)
        return f"try_element_at({args[0]}, 1)"
    if fn == "MV_LAST":
        arity(1)
        return f"try_element_at({args[0]}, -1)"
    if fn == "DATE_TRUNC":
        # ES|QL spelling: DATE_TRUNC(1 day, ts) — duration first. A
        # bare/quoted unit word ('day', week) truncates calendar-style;
        # any 'N unit' duration delegates to BUCKET's fixed-span floor
        # (identical rounding semantics, span-first swapped to
        # field-first).
        arity(2)
        span = args[0].strip()
        unq = span[1:-1].strip() if (
            len(span) >= 2 and span[0] in "'\"" and span[-1] == span[0]
        ) else span
        if re.fullmatch(
            r"(millisecond|second|minute|hour|day|week|month|quarter"
            r"|year)s?",
            unq,
            re.I,
        ):
            return f"date_trunc('{unq.rstrip('sS')}', {args[1]})"
        return _translate_call("BUCKET", [args[1], args[0]])
    if fn == "BUCKET":
        # BUCKET(field, span): fixed-span histogram key. Span forms:
        # * '1 <unit>'  -> calendar date_trunc (minute..year)
        # * 'N <unit>'  -> epoch-floor math, units up to days (a
        #   multi-week/month span has no fixed length; ES|QL's auto
        #   N-buckets form is likewise not supported here)
        # * numeric     -> floor(field / w) * w
        if len(args) != 2:
            raise EsqlValidationError("BUCKET takes (field, span)")
        span = args[1].strip()
        if len(span) >= 2 and span[0] in "'\"" and span[-1] == span[0]:
            # quoted span ("1 week") -> unquote and run the duration
            # grammar; a quoted string must never reach the numeric
            # path, where floor(field / 'str') silently NULLs every key
            span = span[1:-1].strip()
        m = re.match(
            r"^(\d+)\s+(second|minute|hour|day|week|month|quarter|year)s?$",
            span,
            re.I,
        )
        if m:
            n, unit = int(m.group(1)), m.group(2).lower()
            if n == 1:
                return f"date_trunc('{unit}', {args[0]})"
            secs = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}.get(unit)
            if secs is None:
                raise EsqlValidationError(
                    f"BUCKET: multi-{unit} spans have no fixed length; "
                    f"use a span of seconds..days or '1 {unit}'"
                )
            total = n * secs
            # explicit try_divide: keeps FLOOR semantics (negative-safe)
            # out of reach of the int/int truncating-division rewrite
            return (
                f"timestamp_seconds(CAST(floor(try_divide(unix_timestamp("
                f"{args[0]}), {total})) AS BIGINT) * {total})"
            )
        # numeric span: literal only — an arbitrary expression would
        # survive compilation but try_divide would NULL every bucket
        # key at runtime (a silent full-table misgroup, not an error)
        try:
            float(span)
        except ValueError:
            raise EsqlValidationError(
                f"BUCKET span must be a numeric literal or a duration "
                f"like '1 hour' / '30 minutes', got {args[1].strip()!r}"
            ) from None
        return f"(floor(try_divide({args[0]}, ({span}))) * ({span}))"
    if fn == "SPLIT":
        # ES|QL SPLIT's delimiter is literal; Spark split()'s is a regex
        # — \Q..\E-quote it so metacharacters in the delimiter are inert
        arity(2)
        return f"split({args[0]}, concat('\\\\Q', {args[1]}, '\\\\E'))"
    if fn == "MV_SORT":
        # optional 2nd arg: 'ASC' (default) | 'DESC' — must be a literal
        if len(args) not in (1, 2):
            raise EsqlValidationError("MV_SORT takes 1 or 2 arguments")
        if len(args) == 1:
            return f"array_sort({args[0]})"
        order = args[1].strip().strip("'\"").upper()
        if order == "ASC":
            return f"array_sort({args[0]})"
        if order == "DESC":
            return f"reverse(array_sort({args[0]}))"
        raise EsqlValidationError(
            f"MV_SORT order must be 'ASC' or 'DESC', got {args[1]!r}"
        )
    if fn == "DATE_EXTRACT":
        arity(2)
        raw = args[0].strip().strip("'\"").lower()
        field = _DATE_EXTRACT_FIELDS.get(raw, raw)
        return f"date_part('{field}', {args[1]})"
    if fn == "TO_IP":
        # Spark has no inet type; model ES|QL's conversion semantics —
        # a string that isn't a valid IPv4 converts to NULL
        arity(1)
        return f"if({args[0]} rlike '{_IPV4_RE}', {args[0]}, NULL)"
    if fn == "CIDR_MATCH":
        # CIDR_MATCH(ip, 'a.b.c.d/nn', ...): blocks must be literals
        # (they become masked-compare constants). The dotted quad is
        # unrolled to arithmetic — element_at/cast stay in codegen;
        # a higher-order fold would run interpreted on this VM class.
        if len(args) < 2:
            raise EsqlValidationError("CIDR_MATCH takes (ip, block, ...)")
        ip = args[0]
        parts = f"split({ip}, '\\\\.')"
        # try_element_at + try_cast: an address with <4 octets or a
        # non-numeric octet yields NULL, so the masked compare is NULL
        # -> the row simply doesn't match. Plain element_at under ANSI
        # mode throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on e.g.
        # '10.1.2' and aborts the whole job.
        ip_long = (
            f"(try_cast(try_element_at({parts}, 1) as bigint) * 16777216 + "
            f"try_cast(try_element_at({parts}, 2) as bigint) * 65536 + "
            f"try_cast(try_element_at({parts}, 3) as bigint) * 256 + "
            f"try_cast(try_element_at({parts}, 4) as bigint))"
        )
        conds = []
        for block in args[1:]:
            lit = block.strip()
            if not (
                len(lit) >= 2 and lit[0] in "'\"" and lit[-1] == lit[0]
            ):
                raise EsqlValidationError(
                    f"CIDR_MATCH blocks must be string literals, got {block!r}"
                )
            body = lit[1:-1]
            try:
                addr, _, prefix_s = body.partition("/")
                prefix = int(prefix_s) if prefix_s else 32
                octets = [int(o) for o in addr.split(".")]
                if len(octets) != 4 or not all(0 <= o <= 255 for o in octets):
                    raise ValueError
                if not 0 <= prefix <= 32:
                    raise ValueError
            except ValueError:
                raise EsqlValidationError(f"bad CIDR block {body!r}") from None
            mask = (0xFFFFFFFF << (32 - prefix)) & 0xFFFFFFFF
            base = (
                octets[0] << 24 | octets[1] << 16 | octets[2] << 8 | octets[3]
            ) & mask
            conds.append(f"(({ip_long} & {mask}) = {base})")
        return "(" + " OR ".join(conds) + ")"
    if fn == "COUNT_DISTINCT":
        arity(1)
        return f"count(distinct {args[0]})"
    if fn == "MEDIAN":
        # ES|QL MEDIAN == PERCENTILE(x, 50); ES computes it via TDigest
        # (approximate), this engine computes the exact interpolated
        # percentile — deterministic and oracle-checkable
        arity(1)
        return f"percentile({args[0]}, 0.5)"
    if fn == "VALUES":
        # unique values as a multivalue; ES documents the order as
        # arbitrary, so this engine picks ascending — deterministic
        # across partitionings and engines
        arity(1)
        return f"array_sort(collect_set({args[0]}))"
    if fn == "TOP":
        # TOP(field, limit, order): the top `limit` values (duplicates
        # kept, NULLs dropped) as a multivalue in `order` direction;
        # limit and order must be literals (as in ES|QL)
        arity(3)
        try:
            limit = int(args[1])
        except ValueError:
            raise EsqlValidationError(
                f"TOP limit must be an integer literal, got {args[1].strip()!r}"
            ) from None
        if limit < 1:
            raise EsqlValidationError("TOP limit must be >= 1")
        order = args[2].strip().strip("'\"").lower()
        if order not in ("asc", "desc"):
            raise EsqlValidationError(
                f"TOP order must be 'asc' or 'desc', got {args[2].strip()!r}"
            )
        sorted_arr = f"array_sort(collect_list({args[0]}))"
        if order == "desc":
            sorted_arr = f"reverse({sorted_arr})"
        return f"slice({sorted_arr}, 1, {limit})"
    if fn == "STD_DEV":
        # ES std_deviation is POPULATION stddev, and ES computes it via
        # the closed form (sum(x²) - sum(x)²/n)/n over double sums
        # (extended_stats), not Welford — this engine emits exactly
        # that form. For integral inputs below 2^53 the double sums are
        # exact in ANY partition/merge order, making the result
        # deterministic and DuckDB-oracle-checkable, unlike Spark's
        # stddev_pop whose Welford merge order leaks into the low bits.
        # greatest(·, 0) clamps the tiny negative variance the closed
        # form can produce on near-constant float inputs. NULL for an
        # empty (all-NULL) group needs an EXPLICIT count guard:
        # Spark's greatest() SKIPS nulls, so greatest(NULL, 0.0) is
        # 0.0, not NULL — try_divide's NULL must not be left to
        # propagate through it.
        arity(1)
        xd = f"cast(({args[0]}) as double)"
        n = f"count({args[0]})"
        return (
            f"if({n} = 0, cast(null as double), "
            f"sqrt(greatest(try_divide(sum({xd} * {xd}) - "
            f"try_divide(sum({xd}) * sum({xd}), {n}), {n}), "
            f"cast(0 as double))))"
        )
    if fn == "WEIGHTED_AVG":
        # sum(v*w)/sum(w), always double (explicit try_divide keeps it
        # out of the int/int truncation rewrite; NULL on zero weight)
        arity(2)
        return (
            f"try_divide(sum(cast(({args[0]}) as double) * ({args[1]})), "
            f"sum({args[1]}))"
        )
    if fn == "MV_SLICE":
        # MV_SLICE(arr, start[, end]): 0-based inclusive positions,
        # negative = from the end (both must be literals of one sign)
        if len(args) not in (2, 3):
            raise EsqlValidationError("MV_SLICE takes (field, start[, end])")
        try:
            start = int(args[1])
            end = int(args[2]) if len(args) == 3 else start
        except ValueError:
            raise EsqlValidationError(
                "MV_SLICE start/end must be integer literals"
            ) from None
        if end < start:
            raise EsqlValidationError("MV_SLICE end must be >= start")
        if (start < 0) != (end < 0):
            raise EsqlValidationError(
                "MV_SLICE start and end must have the same sign"
            )
        spark_start = start + 1 if start >= 0 else start
        return f"slice({args[0]}, {spark_start}, {end - start + 1})"
    if fn == "MV_ZIP":
        # pairwise join with the delimiter (default ','); the longer
        # side's tail passes through (concat_ws skips the NULL pad)
        if len(args) not in (2, 3):
            raise EsqlValidationError("MV_ZIP takes (a, b[, delim])")
        delim = args[2] if len(args) == 3 else "','"
        return (
            f"zip_with({args[0]}, {args[1]}, "
            f"(l, r) -> concat_ws({delim}, l, r))"
        )
    if fn == "MV_MEDIAN":
        # middle element of the sorted multivalue; even count -> average
        # of the two middles. The final `/ 2` deliberately goes through
        # the type-probed division rewrite: integral element types get
        # ES's truncate-toward-zero average, doubles stay exact.
        arity(1)
        srt = f"array_sort({args[0]})"
        lo = f"try_element_at({srt}, cast((size({args[0]}) + 1) div 2 as int))"
        hi = f"try_element_at({srt}, cast((size({args[0]}) + 2) div 2 as int))"
        return f"(({lo}) + ({hi})) / 2"
    if fn in ("MATCH", "MATCH_PHRASE"):
        # ES|QL full-text functions (8.17+), sharing the template
        # engine's standard-analyzer approximation (template.py:_analyze
        # / Match): MATCH = analyzed token overlap (operator 'or'; pass
        # 'and' as a third argument for containment), MATCH_PHRASE =
        # query tokens consecutive and in field order via
        # sentinel-spaced token strings. Zero-token queries match
        # nothing (ES zero_terms_query: none).
        if fn == "MATCH" and len(args) == 3:
            op = (_string_literal_of(args[2]) or "").lower()
            if op not in ("and", "or"):
                raise EsqlValidationError(
                    "MATCH's third argument must be 'and' or 'or'"
                )
            args = args[:2]
        else:
            op = "or"
            arity(2)
        ftoks = _ANALYZE_SQL.format(v=args[0])
        lit = _string_literal_of(args[1])
        if lit is not None:  # tokenize literal queries at compile time
            qt = [t for t in re.split(r"[\W_]+", lit.lower()) if t]
            if not qt:
                return "false"
            if fn == "MATCH_PHRASE":
                phrase = " " + " ".join(qt) + " "
                return (
                    f"contains(concat(' ', array_join({ftoks}, ' '), ' '), "
                    f"'{phrase}')"
                )
            qtoks = "array(" + ", ".join(f"'{t}'" for t in qt) + ")"
        else:
            qtoks = _ANALYZE_SQL.format(v=args[1])
            if fn == "MATCH_PHRASE":
                return (
                    f"(size({qtoks}) > 0 AND contains("
                    f"concat(' ', array_join({ftoks}, ' '), ' '), "
                    f"concat(' ', array_join({qtoks}, ' '), ' ')))"
                )
            qtoks = f"(CASE WHEN size({qtoks}) > 0 THEN {qtoks} END)"
        if op == "and":
            return f"(size(array_except({qtoks}, {ftoks})) = 0)"
        return f"arrays_overlap({ftoks}, {qtoks})"
    if fn == "TAU":
        # ES|QL TAU() = 2*pi (no Spark builtin)
        arity(0)
        return "(2 * pi())"
    if fn == "SCALB":
        # SCALB(d, i) = d * 2^i (java.lang.Math.scalb). power() computes
        # in double, which matches ES|QL's double return type; extreme
        # exponents overflow to Infinity exactly as double arithmetic
        # does.
        arity(2)
        return f"(({args[0]}) * power(cast(2 as double), {args[1]}))"
    if fn == "ROUND_TO":
        # ROUND_TO(field, p1, p2, ...): round DOWN to the largest listed
        # point <= field; anything below the smallest point gets the
        # smallest point. Points must be numeric literals (ES|QL
        # requires constants) so they can be sorted at compile time and
        # the emission is one branch-per-point codegen chain.
        if len(args) < 2:
            raise EsqlValidationError("ROUND_TO needs a field and >=1 point")
        try:
            pts = sorted(float(a) for a in args[1:])
        except ValueError:
            raise EsqlValidationError(
                "ROUND_TO points must be numeric literals"
            ) from None
        lits = [
            a for _, a in sorted(zip(pts, args[1:]), key=lambda t: t[0])
        ]
        acc = lits[0]  # below the smallest point -> smallest point
        for lit in lits[1:]:
            acc = f"if(({args[0]}) >= {lit}, {lit}, {acc})"
        # NULL field stays NULL (every comparison is NULL -> final else
        # branch would fire, so guard explicitly)
        return f"if(({args[0]}) is null, null, {acc})"
    if fn == "MV_PERCENTILE":
        # MV_PERCENTILE(values, p): linear-interpolated percentile over
        # one row's multivalue (same convention as the PERCENTILE
        # aggregate): rank = (n-1)*p/100, result = s[lo] + frac *
        # (s[lo+1] - s[lo]) on the sorted values. Arrays are small
        # per-row, so the repeated array_sort subexpression is cheap.
        arity(2)
        srt = f"array_sort({args[0]})"
        n = f"size({args[0]})"
        rank = f"(({n} - 1) * cast({args[1]} as double) / 100.0)"
        lo = f"cast(floor({rank}) as int)"
        frac = f"({rank} - floor({rank}))"
        vlo = f"cast(try_element_at({srt}, {lo} + 1) as double)"
        vhi = f"cast(try_element_at({srt}, least({lo} + 2, {n})) as double)"
        # empty-array guard: n=0 makes lo=-1 and try_element_at(·, 0)
        # aborts the whole query (INVALID_INDEX_OF_ZERO) even under
        # try_ semantics — ES|QL returns NULL. A NULL array falls to
        # the ELSE branch where every term NULL-propagates safely
        # (lo is NULL, never -1).
        return (
            f"(case when {n} <= 0 then cast(null as double) "
            f"else (({vlo}) + ({frac}) * (({vhi}) - ({vlo}))) end)"
        )
    if fn == "MV_MEDIAN_ABSOLUTE_DEVIATION":
        # median(|v - median(values)|) over one row's multivalue. The
        # inner median reuses MV_MEDIAN's emission; the outer median
        # runs over the absolute deviations via transform(). Double
        # arithmetic throughout (ES|QL returns the field type, but its
        # int variants truncate exactly like the probed `/ 2` rewrite
        # this reuses).
        arity(1)
        med = _translate_call("MV_MEDIAN", args)
        dev = f"transform({args[0]}, v -> abs(cast(v as double) - ({med})))"
        return _translate_call("MV_MEDIAN", [dev])
    if fn == "IP_PREFIX":
        # IP_PREFIX(ip, v4_len, v6_len): zero the host bits, keep the
        # network address. v4 arithmetic form (no bitwise ops needed:
        # num - num % 2^(32-len) == the masked network number); v6
        # inputs (or anything else unparseable) yield NULL, matching
        # this engine's v4-only TO_IP. Lengths must be literals.
        arity(3)
        try:
            p4 = int(args[1])
            p6 = int(args[2])
        except ValueError:
            raise EsqlValidationError(
                "IP_PREFIX lengths must be integer literals"
            ) from None
        if not 0 <= p4 <= 32:
            raise EsqlValidationError(
                f"IP_PREFIX v4 length must be in [0, 32], got {p4}"
            )
        # v6 inputs all yield NULL here (v4-only TO_IP), but the length
        # still validates at compile time so malformed calls fail fast
        if not 0 <= p6 <= 128:
            raise EsqlValidationError(
                f"IP_PREFIX v6 length must be in [0, 128], got {p6}"
            )
        x = args[0]
        octet = (
            f"try_cast(try_element_at(split({x}, '\\\\.'), {{i}}) as bigint)"
        )
        num = " + ".join(
            f"({octet.format(i=i)}) * {256 ** (4 - i)}" for i in range(1, 5)
        )
        host = 2 ** (32 - p4)
        masked = f"(({num}) - (({num}) % {host}))" if p4 < 32 else f"({num})"
        bytes_out = ", ".join(
            f"cast((({masked}) div {256 ** (3 - b)}) % 256 as string)"
            for b in range(4)
        )
        return (
            f"CASE WHEN {x} rlike '{_IPV4_RE}' "
            f"THEN concat_ws('.', {bytes_out}) END"
        )
    if fn == "FROM_BASE64":
        arity(1)
        return f"cast(unbase64({args[0]}) as string)"
    if fn == "SHA256":
        arity(1)
        return f"sha2({args[0]}, 256)"
    if fn == "HASH":
        # HASH('alg', input) with a literal algorithm name
        arity(2)
        alg = args[0].strip().strip("'\"").lower()
        if alg == "md5":
            return f"md5({args[1]})"
        if alg == "sha1":
            return f"sha1({args[1]})"
        if alg in ("sha256", "sha384", "sha512"):
            return f"sha2({args[1]}, {alg[3:]})"
        raise EsqlValidationError(
            f"HASH algorithm must be one of md5/sha1/sha256/sha384/"
            f"sha512, got {args[0].strip()!r}"
        )
    if fn == "PERCENTILE":
        # ES|QL percent is 0-100; Spark percentile() takes a 0-1 fraction.
        # A literal percent folds HERE (percentile requires a foldable
        # fraction, and the div/mod rewrite would turn a SQL division
        # into non-foldable try_divide).
        arity(2)
        try:
            return f"percentile({args[0]}, {float(args[1]) / 100.0!r})"
        except ValueError:
            # a non-literal percent would compile to try_divide(p, 100),
            # which percentile() rejects at analysis with an obscure
            # 'must be foldable' — fail here with the actual rule
            raise EsqlValidationError(
                f"PERCENTILE percent must be a numeric literal, "
                f"got {args[1].strip()!r}"
            ) from None
    if fn == "DATE_DIFF":
        # DATE_DIFF('unit', start, end): difference in COMPLETE units
        # (truncating), matching Spark's timestampdiff; the unit must be
        # a literal (it becomes a keyword)
        arity(3)
        raw = args[0].strip().strip("'\"").lower()
        unit = _DATE_DIFF_UNITS.get(raw)
        if unit is None:
            raise EsqlValidationError(f"DATE_DIFF: unknown unit {raw!r}")
        return f"timestampdiff({unit}, {args[1]}, {args[2]})"
    raise AssertionError(f"unhandled mapped fn {fn}")


# ES|QL `value::type` cast-shorthand type names -> the canonical TO_*
# call, so `::` inherits the same null-on-malformed try_cast semantics
# (and `::ip` the custom v4 validation) instead of passing through to
# Spark's ANSI `::`, which ABORTS the whole query on one bad value.
_COLON_CAST_TYPES = {
    "integer": "TO_INTEGER", "int": "TO_INTEGER",
    "long": "TO_LONG",
    "double": "TO_DOUBLE", "float": "TO_DOUBLE",
    "string": "TO_STRING", "keyword": "TO_STRING", "text": "TO_STRING",
    "boolean": "TO_BOOLEAN", "bool": "TO_BOOLEAN",
    "datetime": "TO_DATETIME", "date": "TO_DATETIME",
    "ip": "TO_IP",
}
_OPERAND_CHARS = frozenset(
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789._`$@"
)


def _operand_start(sc: _Scan, j: int) -> int:
    """Start index of the postfix operand ENDING at ``j`` (exclusive):
    a closing paren pulls in the whole call (function name included), a
    closing quote the string literal, else an identifier/number run.
    The scan's ``match`` pairs them, so a ``(`` inside a string literal
    can never desynchronize this backward walk."""
    s = sc.text
    if s[j - 1] in ("'", '"'):
        return sc.match[j - 1]
    if s[j - 1] == ")":
        j = sc.match[j - 1]
    while j > 0 and s[j - 1] in _OPERAND_CHARS:
        j -= 1
    return j


def _rewrite_colon_cast(expr: str) -> str:
    """Rewrite ES|QL ``operand::type`` into ``TO_<TYPE>(operand)``.

    The first unquoted ``::`` is found in the scan; its operand via
    :func:`_operand_start`. Chained casts (``x::long::string``)
    resolve leftmost-first across iterations.
    """
    while True:
        sc = _Scan(expr)
        idx = expr.find("::")
        while idx >= 0 and sc.quoted[idx]:
            idx = expr.find("::", idx + 1)
        if idx < 0:
            return expr
        m = re.match(r"\s*([A-Za-z_]+)", expr[idx + 2 :])
        if not m:
            raise EsqlValidationError("expected a type name after '::'")
        tname = m.group(1).lower()
        fn = _COLON_CAST_TYPES.get(tname)
        if fn is None:
            raise EsqlValidationError(
                f"unsupported '::' cast type {tname!r}; one of "
                f"{sorted(set(_COLON_CAST_TYPES))}"
            )
        tail = idx + 2 + m.end()
        j = idx
        while j > 0 and expr[j - 1].isspace():
            j -= 1
        if j == 0:
            raise EsqlValidationError("'::' has no operand")
        start = _operand_start(sc, j)
        if start == j:
            raise EsqlValidationError("'::' has no operand")
        expr = f"{expr[:start]}{fn}({expr[start:j]}){expr[tail:]}"


def _translate_expr(expr: str) -> str:
    """ES|QL expression -> Spark SQL expression (string literals are
    never touched):
    * ``==`` -> ``=``
    * cast functions (``TO_DATETIME``/``TO_STRING``/... ->
      ``cast(x as <type>)``), argument-order swaps (``DATE_FORMAT``/
      ``DATE_PARSE``), renames (``TO_UPPER``/``STARTS_WITH``/``MV_*``/
      ``DATE_EXTRACT``/...), and custom shapes (variadic ``CASE``,
      ``MV_SUM``/``MV_AVG``/``MV_FIRST``/``MV_LAST``, literal-delimiter
      ``SPLIT``, unit-keyword ``DATE_DIFF``) via ``_translate_call``;
      same-name-same-semantics functions pass through untouched
    Left-to-right single pass with recursion into call arguments, so
    nested calls translate and nothing is rewritten twice.
    """
    # `value::type` shorthand first: canonicalized to TO_*() calls so
    # the loop below gives it try_cast (null-on-malformed) semantics
    expr = _rewrite_colon_cast(expr)
    sc = _Scan(expr)
    out: list[str] = []
    pos = 0
    while pos < len(expr):
        ch = expr[pos]
        if sc.quoted[pos]:
            out.append(ch)
            pos += 1
            continue
        m = _ESQL_FN_RE.match(expr, pos)
        if m:
            fn = m.group(1).upper()
            open_at = m.end() - 1
            args = [_translate_expr(a.strip()) for a in sc.split(",", open_at)]
            if args == [""]:  # zero-arg call, e.g. NOW()
                args = []
            out.append(_translate_call(fn, args))
            pos = sc.match[open_at] + 1
            continue
        if expr.startswith("==", pos):
            out.append("=")
            pos += 2
            continue
        if ch == "[":
            # ES|QL multivalue literal [a, b, c] -> array(a, b, c)
            # (brackets have no other unquoted meaning in this dialect)
            out.append("array(")
            pos += 1
            continue
        if ch == "]":
            out.append(")")
            pos += 1
            continue
        out.append(ch)
        pos += 1
    return "".join(out)


def _split_pipes(query: str) -> list[str]:
    """Split on top-level '|' — a '|' inside FORK's (branch) groups
    belongs to the branch's own pipe list, not the outer statement."""
    return [p.strip() for p in _Scan(query).split("|") if p.strip()]


def _split_commas(s: str) -> list[str]:
    """Split on top-level commas (not inside brackets — ES|QL
    multivalue literals ``[1, 2, 3]`` included — or quotes). Blank text
    has no pieces (the arguments of ``NOW()``); an empty piece anywhere
    else (``a,``, ``a,,b``, ``,a``) raises with its position."""
    parts = _Scan(s).split(",")
    if len(parts) == 1 and not parts[0].strip():
        return []
    at = 0
    for p in parts:
        if not p.strip():
            raise EsqlValidationError(f"empty item at position {at} in {s!r}")
        at += len(p) + 1
    return [p.strip() for p in parts]


def _expand_col_patterns(df: DataFrame, items: list[str]) -> list[str]:
    """KEEP/DROP accept ``*`` wildcards over column names
    (docs/index.asciidoc:203-223). A literal name passes through even if
    absent (DROP of a missing column is a no-op, matching ES|QL);
    a wildcard with no match errors, matching ES|QL's unknown-column
    diagnostics. Order: first-mention wins, duplicates removed."""
    out: list[str] = []
    for item in items:
        name = item.strip()
        if "*" in name:
            pat = re.compile(
                "^" + re.escape(name).replace(r"\*", ".*") + "$"
            )
            hits = [c for c in df.columns if pat.match(c)]
            if not hits:
                raise EsqlValidationError(
                    f"No columns match wildcard {name!r}"
                )
            out.extend(h for h in hits if h not in out)
        elif name not in out:
            out.append(name)
    return out


def _find_top_keyword(s: str, kw: str) -> int:
    """Index of the first depth-0, unquoted, word-boundary occurrence of
    ``kw`` (case-insensitive), or -1 — the scan-aware analogue of
    ``re.search(r"\\bKW\\b")``, so a string literal containing the
    keyword is never misparsed."""
    sc = _Scan(s)
    for m in re.finditer(rf"(?<!\w){re.escape(kw)}(?!\w)", s, re.I):
        if sc.depth[m.start()] == 0 and not sc.quoted[m.start()]:
            return m.start()
    return -1


def _stats_agg_expr(item: str):
    """One STATS aggregate, supporting ES|QL's per-aggregate filter
    ``agg_fn(x) WHERE cond``: compiled to SQL's ``FILTER (WHERE cond)``
    clause (map-side conditional aggregation — no pre-filter pass, no
    second scan; Spark and DuckDB share the clause)."""
    where_at = _find_top_keyword(item, "WHERE")
    if where_at < 0:
        return _compile_expr(item)
    # TOP/VALUES/WEIGHTED_AVG compile to expressions AROUND their
    # aggregate (slice/sort/divide), so a FILTER clause can't attach;
    # fail with the workaround instead of Spark's analysis error
    head = re.match(r"\s*(TOP|VALUES|WEIGHTED_AVG|MV_\w+)\s*\(", item, re.I)
    if head:
        raise EsqlValidationError(
            f"{head.group(1).upper()} does not support a per-aggregate "
            f"WHERE; pre-filter with CASE inside the argument (e.g. "
            f"CASE(cond, x)) or a WHERE stage instead"
        )
    # same full translation stack as _compile_expr (LIKE patterns
    # included) — a LIKE in a per-aggregate filter must behave exactly
    # like a LIKE in a WHERE stage
    agg = _rewrite_durations(_rewrite_div_mod(
        _translate_expr(_translate_like_patterns(item[:where_at].strip()))
    ))
    cond = _rewrite_durations(_rewrite_div_mod(
        _translate_expr(_translate_like_patterns(item[where_at + 5 :].strip()))
    ))
    return F.expr(f"{agg} FILTER (WHERE {cond})")


_WORD_BOUNDARY_OPS = {
    "AND", "OR", "NOT", "IN", "LIKE", "RLIKE", "IS", "BETWEEN",
    "DISTINCT", "AS",
}
# CASE-island keywords interrupt arithmetic chains — without them
# `CASE WHEN n % 2 = 0 ...` would fold into try_mod(CASE WHEN n, 2).
# They are boundaries ONLY inside a CASE ... END block (tracked by
# depth), so a COLUMN named `end` or `when` outside a CASE stays an
# ordinary operand: `end / 1000` must become try_divide(end, 1000),
# not a syntax error.
_CASE_KEYWORDS = {"WHEN", "THEN", "ELSE", "END"}


def _rewrite_div_mod(s: str) -> str:
    """Post-translation pass: infix ``a / b`` -> ``try_divide(a, b)``
    and ``a % b`` -> ``try_mod(a, b)`` at every nesting level.

    ES|QL (and the DuckDB oracles) return NULL for division by zero;
    Spark's ANSI mode aborts the whole query on one zero divisor.
    There is no per-expression ANSI toggle, so the operators are
    rewritten to their try_* forms. Parenthesized groups (function
    calls included) are rewritten recursively and then treated as
    opaque atoms; quoted strings are never touched. Precedence is
    honored by splitting at comparison/boolean boundaries first, then
    binary +/- (unary signs and scientific-notation exponents
    excluded), then rebuilding each multiplicative chain
    left-associatively.
    """

    # -- recurse into paren groups, making them opaque ----------------
    sc = _Scan(s)
    out: list[str] = []
    i = 0
    for o in sc.top("("):
        parts = _split_commas(s[o + 1 : sc.match[o]])
        out.append(s[i:o])
        out.append("(" + ", ".join(_rewrite_div_mod(p) for p in parts) + ")")
        i = sc.match[o] + 1
    out.append(s[i:])
    flat = "".join(out)

    # -- tokenize depth-0 text into atoms and binary operators --------
    # boundaries of lower precedence than * / % pass through verbatim;
    # only the multiplicative chains between them are rebuilt.
    def is_binary_sign(prev: str) -> bool:
        # binary iff it follows an operand; '1e-5' exponents excluded
        p = prev.rstrip()
        if not p:
            return False
        if re.search(r"[0-9][eE]$", p):
            return False
        return p[-1].isalnum() or p[-1] in (")", "_", ".", "'", '"', "*")

    tokens: list[str] = []  # alternating operand, op, operand, ...
    buf2: list[str] = []
    sf = _Scan(flat)
    i = 0
    case_depth = 0
    while i < len(flat):
        ch = flat[i]
        if sf.quoted[i]:
            buf2.append(ch)
            i += 1
            continue
        if ch == "(":  # opaque group: copy through to its close
            buf2.append(flat[i : sf.match[i] + 1])
            i = sf.match[i] + 1
            continue
        if ch == "-" and i + 1 < len(flat) and flat[i + 1] == ">":
            # lambda arrow (acc, v) -> ... : atomic, never binary minus
            buf2.append("->")
            i += 2
            continue
        if ch in "*/%" or (ch in "+-" and is_binary_sign("".join(buf2))):
            tokens.append("".join(buf2))
            tokens.append(ch)
            buf2 = []
            i += 1
            continue
        prev_c = flat[i - 1] if i else ""
        at_word_start = not (prev_c.isalnum() or prev_c == "_")
        m = re.match(r"[A-Za-z_]\w*", flat[i:]) if at_word_start else None
        if m:
            word = m.group(0).upper()
            # CASE opens a keyword island only when actually followed
            # by WHEN — a column named `case` (e.g. `case / 2`) stays
            # an ordinary operand and does not corrupt the depth
            is_case_open = word == "CASE" and re.match(
                r"\s+WHEN\b", flat[i + len(word) :], re.I
            )
            if is_case_open:
                case_depth += 1
            is_boundary = bool(
                word in _WORD_BOUNDARY_OPS
                or is_case_open
                or (case_depth > 0 and word in _CASE_KEYWORDS)
            )
            if case_depth > 0 and word == "END":
                case_depth -= 1
            if is_boundary:
                # keyword: everything before it is a finished chain;
                # the keyword itself is a hard boundary
                tokens.append("".join(buf2))
                tokens.append("\x00" + m.group(0))  # \x00 = passthrough
                buf2 = []
                i += len(m.group(0))
                continue
        if flat.startswith(("<=", ">=", "!=", "<>"), i):
            tokens.append("".join(buf2))
            tokens.append("\x00" + flat[i : i + 2])
            buf2 = []
            i += 2
            continue
        if ch in "<>=":
            tokens.append("".join(buf2))
            tokens.append("\x00" + ch)
            buf2 = []
            i += 1
            continue
        buf2.append(ch)
        i += 1
    tokens.append("".join(buf2))

    # -- rebuild honoring precedence: * / % bind tighter than + - -----
    result: list[str] = []
    add_parts: list[str] = []  # finished multiplicative chains + signs
    mul_acc = tokens[0]

    def flush_add() -> str:
        add_parts.append(mul_acc.strip())
        joined = " ".join(p for p in add_parts if p)
        add_parts.clear()
        return joined

    k = 1
    while k < len(tokens):
        op, rhs = tokens[k], tokens[k + 1]
        if op == "/":
            lhs_s, rhs_s = mul_acc.strip(), rhs.strip()
            if _operand_is_integral(lhs_s) and _operand_is_integral(rhs_s):
                # ES|QL truncating integer division (see probe note at
                # module top). `div` is exact 64-bit truncate-toward-
                # zero (a try_divide round-trip through double rounds
                # quotients of operands >= 2^53); the CASE guard keeps
                # zero divisors NULL instead of an ANSI error, and CASE
                # only evaluates the ELSE branch when the guard is
                # false, so div never sees a 0. Chained int divisions
                # stay integral because this CASE probes bigint.
                mul_acc = (
                    f"(CASE WHEN ({rhs_s}) = 0 THEN NULL "
                    f"ELSE ({lhs_s}) div ({rhs_s}) END)"
                )
            else:
                mul_acc = f"try_divide({lhs_s}, {rhs_s})"
        elif op == "%":
            mul_acc = f"try_mod({mul_acc.strip()}, {rhs.strip()})"
        elif op == "*":
            mul_acc = f"{mul_acc.strip()} * {rhs.strip()}"
        elif op in ("+", "-"):
            add_parts.append(mul_acc.strip())
            add_parts.append(op)
            mul_acc = rhs
        else:  # \x00-marked passthrough boundary (comparison/boolean)
            result.append(flush_add())
            result.append(op[1:])
            mul_acc = rhs
        k += 2
    result.append(flush_add())
    return " ".join(p.strip() for p in result if p.strip())


def _like_pattern_to_sql(seg: str) -> str:
    """One quoted ES|QL LIKE pattern (quotes included) -> SQL LIKE text.

    ES|QL wildcards are ``*`` (any run) and ``?`` (one char) — NOT
    SQL's ``%``/``_`` ('elasticsearch.rb' delegates to the server,
    whose ES|QL defines this). Literal ``%``/``_`` in the pattern must
    therefore MATCH LITERALLY, emitted as ``\\%``/``\\_`` in the SQL
    text (one escape level is consumed by the string parser, the
    second by LIKE). Source ``\\*``/``\\?`` escape a literal star/qmark.
    """
    quote = seg[0]
    body = seg[1:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt in ("*", "?"):
                out.append(nxt)  # escaped wildcard -> literal char
            elif nxt == "\\":
                out.append("\\\\\\\\")  # literal backslash
            else:
                out.append(c + nxt)  # other escapes pass through
            i += 2
            continue
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in ("%", "_"):
            out.append("\\\\" + c)
        else:
            out.append(c)
        i += 1
    return quote + "".join(out) + quote


_LIKE_LIST_RE = re.compile(r"\b(NOT\s+)?(LIKE|RLIKE)\s*\(", re.I)


def _expand_like_lists(s: str) -> str:
    """ES|QL 8.16+ pattern lists: ``x LIKE ("a*", "b*")`` matches if ANY
    pattern matches. Expanded to ``(x LIKE "a*" OR x LIKE "b*")``
    (``NOT`` negates the whole disjunction) so the per-pattern wildcard
    translation and Spark's binary LIKE see only the classic form.
    Only parenthesized lists of plain string literals are expanded —
    anything else (e.g. a function call that happens to follow LIKE in
    a string) is left alone."""
    while True:
        sc = _Scan(s)
        hit = None
        for m in _LIKE_LIST_RE.finditer(s):
            if sc.quoted[m.start()]:
                continue
            open_at = m.end() - 1
            close_at = sc.match[open_at]
            parts = [p.strip() for p in sc.split(",", open_at)]
            if len(parts) < 2 or any(
                _string_literal_of(p) is None
                and not (p.startswith('"') and p.endswith('"'))
                for p in parts
            ):
                continue  # not a pattern list
            hit = (m, open_at, close_at, parts)
            break
        if hit is None:
            return s
        m, open_at, close_at, parts = hit
        j = m.start()
        while j > 0 and s[j - 1].isspace():
            j -= 1
        start = _operand_start(sc, j)
        if start == j:
            raise EsqlValidationError(
                f"{m.group(2).upper()} pattern list has no operand"
            )
        operand = s[start:j]
        kw = m.group(2).upper()
        core = " OR ".join(f"{operand} {kw} {p}" for p in parts)
        repl = f"NOT (({core}))" if m.group(1) else f"(({core}))"
        s = s[:start] + repl + s[close_at + 1 :]


def _translate_like_patterns(s: str) -> str:
    """Rewrite the string literal following each unquoted LIKE keyword
    from ES|QL wildcard syntax to SQL LIKE syntax, and anchor the
    pattern following each RLIKE: ES|QL RLIKE matches the ENTIRE string
    (Lucene regexp semantics, same as the template engine's Regexp
    node) while Spark's rlike is an unanchored search — wrap as
    ``^(?:...)$`` so `"a.*"` stops matching 'banana'."""
    s = _expand_like_lists(s)
    segs = _quote_segments(s)
    out = []
    pending: str | None = None
    for quoted, seg in segs:
        if quoted and pending == "like":
            out.append(_like_pattern_to_sql(seg))
            pending = None
            continue
        if quoted and pending == "rlike":
            quote, inner = seg[0], seg[1:-1]
            out.append(f"{quote}^(?:{inner})${quote}")
            pending = None
            continue
        if not quoted:
            if re.search(r"\bRLIKE\s*$", seg, re.I):
                pending = "rlike"
            elif re.search(r"\bLIKE\s*$", seg, re.I):
                pending = "like"
            elif seg.strip():
                pending = None
        out.append(seg)
    return "".join(out)


def _compile_expr(s: str):
    """ES|QL expression -> Spark Column (LIKE-pattern + operator
    translation + div/mod rewrite)."""
    return F.expr(
        _rewrite_durations(
            _rewrite_div_mod(_translate_expr(_translate_like_patterns(s)))
        )
    )


def _parse_stats_body(body: str) -> tuple[list, list[tuple[str, str | None]]]:
    """Shared STATS/INLINESTATS body parse: ``name = AGG(x) [WHERE c],
    ... [BY g1, name2 = expr2]`` -> (aliased agg Columns, BY items).

    Each BY item is (column_name, expr_or_None): ES|QL allows computed
    group keys (``BY b = BUCKET(ts, 1 hour)``) alongside bare columns;
    computed keys are materialized as columns before grouping so both
    STATS (collapse) and INLINESTATS (join-back) group by name."""
    by_items: list[tuple[str, str | None]] = []
    by_at = _find_top_keyword(body, "BY")
    if by_at >= 0:
        for item in _split_commas(body[by_at + 2 :]):
            item = item.strip()
            m = re.match(r"^([A-Za-z_]\w*)\s*=\s*(?!=)(.+)$", item, re.S)
            if m:
                by_items.append((m.group(1), m.group(2).strip()))
            else:
                by_items.append((item, None))
        body = body[:by_at].strip()
    aggs = []
    for item in _split_commas(body):
        if "=" in item.split("(")[0]:
            name, expr = item.split("=", 1)
            aggs.append(_stats_agg_expr(expr.strip()).alias(name.strip()))
        else:
            aggs.append(_stats_agg_expr(item))
    return aggs, by_items


def _materialize_by_items(
    df: DataFrame, by_items: list[tuple[str, str | None]]
) -> tuple[DataFrame, list[str]]:
    """Computed BY keys become real columns; returns names to group by."""
    for name, expr in by_items:
        if expr is not None:
            _set_probe_df(df)
            df = df.withColumn(name, _compile_expr(expr))
    return df, [n for n, _ in by_items]


def _resolve_from(
    spark: SparkSession, spec: str, tables: dict[str, DataFrame] | None
) -> DataFrame:
    """FROM index[,index2][*]: comma-list + wildcard resolution (B1).

    Mirrors the reference's index list semantics
    (elasticsearch.rb:26-28; spec elasticsearch_dsl_spec.rb:83-98):
    comma-separated names union; ``foo*`` wildcards match registered
    tables; empty/``_all`` means every registered table.

    ``FROM spec METADATA _index`` (ES|QL's metadata clause) attaches
    the resolved source-table name as an ``_index`` column per scan
    BEFORE the union — the faithful analog of ES labeling each hit with
    its index, and the way to tell rows apart under a wildcard. The
    other ES metadata fields (``_id``/``_version``/``_score``/...) have
    no table equivalent here and fail fast with guidance.
    """
    meta_cols: list[str] = []
    m = re.search(r"\bMETADATA\b", spec, re.I)
    # contextual keyword: only a METADATA that FOLLOWS an index spec is
    # the clause (a table literally named "metadata" stays a table)
    if m and not spec[: m.start()].strip():
        m = None
    if m:
        meta_cols = [
            c.strip() for c in spec[m.end() :].split(",") if c.strip()
        ]
        spec = spec[: m.start()].strip()
        bad = [c for c in meta_cols if c != "_index"]
        if bad:
            raise EsqlValidationError(
                f"unsupported METADATA field(s) {bad}: only _index has a "
                f"table-scan equivalent (there is no per-row _id/_version/"
                f"_score in a columnar table; carry your own id column)"
            )
        if not meta_cols:
            raise EsqlValidationError("METADATA requires a field list")
    names = [n.strip() for n in spec.split(",") if n.strip()]
    registry = tables or {}

    def lookup(name: str) -> list[tuple[str, DataFrame]]:
        if name in ("", "_all"):
            if registry:
                return sorted(registry.items())
            raise EsqlValidationError("_all requires a table registry")
        if "*" in name:
            pat = re.compile("^" + re.escape(name).replace(r"\*", ".*") + "$")
            hits = [(t, df) for t, df in registry.items() if pat.match(t)]
            if not hits:
                raise EsqlValidationError(f"No tables match wildcard {name!r}")
            return sorted(hits)
        if name in registry:
            return [(name, registry[name])]
        return [(name, spark.table(name))]

    pairs: list[tuple[str, DataFrame]] = []
    for n in names or ["_all"]:
        pairs.extend(lookup(n))
    dfs = [
        df.withColumn("_index", F.lit(t)) if meta_cols else df
        for t, df in pairs
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def run_esql(
    spark: SparkSession,
    query: str,
    params: dict | None = None,
    tables: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Compile and run an ES|QL pipe statement as a DataFrame plan."""
    params = normalize_params(params)
    query = _convert_triple_quotes(query)
    validate_params(query, params)
    stages = _split_pipes(query)
    if not stages:
        raise EsqlValidationError("empty ES|QL statement")
    head = stages[0]
    if head.upper().startswith("FROM"):
        df = _resolve_from(spark, head[4:].strip(), tables)
    elif head.upper().startswith("ROW"):
        # ROW a = expr, b = expr: a one-row literal source (the ES|QL
        # testing/constant entry point). Constant-folded by Catalyst.
        cols = []
        _set_probe_df(None)  # ROW exprs are literal; int literals probe fast-path
        for item in _split_commas(_substitute(head[3:].strip(), params)):
            if "=" not in item:
                raise EsqlValidationError("ROW items must be name = expr")
            name, expr = item.split("=", 1)
            cols.append(_compile_expr(expr.strip()).alias(name.strip()))
        df = spark.range(1).select(*cols)
    elif head.upper().strip() == "SHOW INFO":
        # SHOW INFO: one deployment-info row (ES|QL's only SHOW form).
        # Engine version stands in for the ES build; the Spark version
        # is the runtime the plan actually executes on.
        from logstash_filter_elasticsearch_spark import __version__

        df = spark.createDataFrame(
            [(__version__, spark.version)], "version string, runtime string"
        )
    else:
        raise EsqlValidationError(
            "ES|QL statement must start with FROM, ROW or SHOW INFO"
        )

    return _run_stages(spark, df, stages[1:], params, tables)


def _run_stages(
    spark: SparkSession,
    df: DataFrame,
    stages: list[str],
    params: dict,
    tables: dict[str, DataFrame] | None,
) -> DataFrame:
    """Apply a list of pipe stages to ``df`` (run_esql's body; also the
    entry point for FORK branches, which re-run the same machinery on
    the branch's input table)."""
    for stage in stages:
        m = re.match(r"^([A-Za-z_]+)\s*(.*)$", stage, re.S)
        cmd, body = m.group(1).upper(), m.group(2).strip()
        body = _substitute(body, params)
        _set_probe_df(df)  # integer-division typing against this stage's input

        if cmd == "WHERE":
            # both quote styles: ES|QL strings are canonically
            # double-quoted (and QSTR("""...""") becomes a
            # double-quoted literal after triple-quote conversion);
            # single quotes stay accepted for compatibility
            qm = re.match(
                r'^QSTR\(\s*(?:\'((?:[^\'\\]|\\.)*)\''
                r'|"((?:[^"\\]|\\.)*)")\s*\)$',
                body,
                re.I,
            )
            if qm:
                # ES|QL QSTR('...') (8.17+): the whole Lucene
                # query_string grammar (fields, AND/OR/NOT, ranges,
                # wildcards, fuzzy, phrases, _exists_), reusing the
                # template engine's parser+compiler. Supported as the
                # entire WHERE body; compose further conditions as
                # additional WHERE stages (pipes AND together).
                from .template import parse_query_string, to_column

                if qm.group(1) is not None:
                    raw = qm.group(1).replace("\\'", "'")
                else:
                    raw = qm.group(2).replace('\\"', '"')
                node = parse_query_string(raw)
                df = df.filter(to_column(node, lambda f: F.col(f)))
            elif re.search(r"\bQSTR\s*\(", body, re.I):
                raise EsqlValidationError(
                    "QSTR(...) must be the entire WHERE body; chain "
                    "further conditions as additional WHERE stages"
                )
            else:
                df = df.filter(_compile_expr(body))
        elif cmd == "STATS":
            aggs, by_items = _parse_stats_body(body)
            if by_items:
                df, by_cols = _materialize_by_items(df, by_items)
                df = df.groupBy(*by_cols).agg(*aggs)
            else:
                df = df.agg(*aggs)
        elif cmd == "INLINESTATS":
            # like STATS, but the aggregates are APPENDED to every row
            # instead of collapsing the table. Compute the one-row-per-
            # group aggregate table and join it back — a window
            # formulation would force a full shuffle of the big table
            # on the group key, and MEDIAN/PERCENTILE aren't window-able
            # anyway. The join carries NO broadcast hint: AQE broadcasts
            # when the grouped side is actually small and falls back to
            # a shuffle join for a near-unique group key (a forced hint
            # would hard-fail at the broadcast size limit there).
            # eqNullSafe: a NULL group key is its own group and its rows
            # receive that group's values.
            aggs, by_items = _parse_stats_body(body)
            if by_items:
                df, by_cols = _materialize_by_items(df, by_items)
                grouped = df.groupBy(*by_cols).agg(*aggs)
                agg_names = [c for c in grouped.columns if c not in by_cols]
                joined = grouped.select(
                    *[F.col(c).alias(f"_is_{c}") for c in by_cols],
                    *agg_names,
                )
                cond = F.lit(True)
                for c in by_cols:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"_is_{c}"))
                df = (
                    df.drop(*[c for c in agg_names if c in df.columns])
                    .join(joined, cond, "left")
                    .drop(*[f"_is_{c}" for c in by_cols])
                )
            else:
                grouped = df.agg(*aggs)
                df = df.drop(
                    *[c for c in grouped.columns if c in df.columns]
                ).crossJoin(F.broadcast(grouped))
        elif cmd == "SAMPLE":
            # SAMPLE probability [seed]: Bernoulli row sample. With a
            # seed the sample is reproducible for a fixed partitioning
            # (Spark seeds per partition), which is the engine-native
            # contract; cross-engine equality is not defined for random
            # sampling, so this op carries a rows-only oracle.
            #
            # Extension: SAMPLE probability HASH(col[, seed]) — content-
            # keyed deterministic sampling (the reproducible-sampling
            # idiom a training-data pipeline actually wants: membership
            # depends only on the row's key, never on partitioning or
            # engine RNG). Row kept iff the first 60 bits of
            # md5(str(col) ':' seed), mod 1e6, fall under prob*1e6.
            # md5-on-string is engine-portable, so this form has an
            # exact cross-engine oracle (DuckDB recomputes it bit-for-
            # bit), unlike the Bernoulli form.
            mh = re.fullmatch(
                r"([0-9.eE+-]+)\s+HASH\s*\(\s*([A-Za-z_][\w.]*)"
                r"(?:\s*,\s*(\d+))?\s*\)",
                body.strip(),
            )
            if mh:
                try:
                    prob = float(mh.group(1))
                except ValueError:
                    raise EsqlValidationError(
                        f"SAMPLE probability must be a number, "
                        f"got {mh.group(1)!r}"
                    ) from None
                if not 0.0 < prob < 1.0:
                    raise EsqlValidationError(
                        f"SAMPLE probability must be in (0, 1), got {prob}"
                    )
                seed = int(mh.group(3) or 0)
                key = F.concat(
                    F.col(mh.group(2)).cast("string"), F.lit(f":{seed}")
                )
                bucket = F.conv(
                    F.substring(F.md5(key), 1, 15), 16, 10
                ).cast("bigint") % F.lit(1_000_000)
                df = df.filter(bucket < int(round(prob * 1_000_000)))
            else:
                parts = body.split()
                if len(parts) not in (1, 2):
                    raise EsqlValidationError(
                        "SAMPLE takes (probability[, seed]) or "
                        "(probability HASH(col[, seed]))"
                    )
                try:
                    prob = float(parts[0])
                except ValueError:
                    raise EsqlValidationError(
                        f"SAMPLE probability must be a number, "
                        f"got {parts[0]!r}"
                    ) from None
                if not 0.0 < prob < 1.0:
                    raise EsqlValidationError(
                        f"SAMPLE probability must be in (0, 1), got {prob}"
                    )
                seed = None
                if len(parts) == 2:
                    try:
                        seed = int(parts[1])
                    except ValueError:
                        raise EsqlValidationError(
                            f"SAMPLE seed must be an integer, "
                            f"got {parts[1]!r}"
                        ) from None
                df = df.sample(fraction=prob, seed=seed)
        elif cmd == "SORT":
            # SORT col [ASC|DESC] [NULLS FIRST|NULLS LAST], ...
            # ES|QL defaults: ASC; nulls treated as larger than any
            # value (ASC -> last, DESC -> first). Spark's asc()/desc()
            # defaults are the opposite (ASC -> nulls first), so the
            # no-NULLS-clause branch must pick the placement explicitly.
            order = []
            for item in _split_commas(body):
                toks = item.split()
                col = F.col(toks[0])
                rest = [t.upper() for t in toks[1:]]
                desc = "DESC" in rest
                if "NULLS" in rest:
                    at = rest.index("NULLS")
                    if at + 1 >= len(rest) or rest[at + 1] not in (
                        "FIRST",
                        "LAST",
                    ):
                        raise EsqlValidationError(
                            f"SORT: NULLS must be followed by FIRST or "
                            f"LAST in {item!r}"
                        )
                    nulls_first = rest[at + 1] == "FIRST"
                    if desc:
                        col = (
                            col.desc_nulls_first()
                            if nulls_first
                            else col.desc_nulls_last()
                        )
                    else:
                        col = (
                            col.asc_nulls_first()
                            if nulls_first
                            else col.asc_nulls_last()
                        )
                else:
                    # ES|QL default null placement treats NULL as larger
                    # than any value (ASC -> last, DESC -> first) — the
                    # OPPOSITE of Spark's asc()/desc() defaults
                    col = (
                        col.desc_nulls_first()
                        if desc
                        else col.asc_nulls_last()
                    )
                order.append(col)
            df = df.orderBy(*order)
        elif cmd == "LIMIT":
            df = df.limit(int(body))
        elif cmd == "KEEP":
            df = df.select(*_expand_col_patterns(df, _split_commas(body)))
        elif cmd == "DROP":
            df = df.drop(*_expand_col_patterns(df, _split_commas(body)))
        elif cmd == "RENAME":
            for item in _split_commas(body):
                # two spellings: `old AS new` (classic) and `new = old`
                # (ES|QL 9.1+)
                parts = re.split(r"\s+AS\s+", item, flags=re.I)
                if len(parts) == 2:
                    old, new = parts
                elif "=" in item:
                    new, old = item.split("=", 1)
                else:
                    raise EsqlValidationError(
                        f"RENAME items must be `old AS new` or "
                        f"`new = old`, got {item.strip()!r}"
                    )
                df = df.withColumnRenamed(old.strip(), new.strip())
        elif cmd == "EVAL":
            for item in _split_commas(body):
                name, expr = item.split("=", 1)
                # re-probe per assignment: `EVAL x = a/2, y = x/3` types
                # y's division against the df that already carries x
                _set_probe_df(df)
                df = df.withColumn(name.strip(), _compile_expr(expr.strip()))
        elif cmd == "MV_EXPAND":
            # one row per element of a multivalued column; NULL/empty
            # keeps the row with a NULL value (explode_outer semantics)
            col = body.strip()
            df = df.withColumn(col, F.explode_outer(col))
        elif cmd == "DISSECT":
            df = _apply_dissect(df, body)
        elif cmd == "GROK":
            df = _apply_grok(df, body)
        elif cmd == "ENRICH":
            df = _apply_enrich(df, body, tables or {})
        elif cmd == "LOOKUP":
            df = _apply_lookup_join(df, body, tables or {})
        elif cmd == "CHANGE_POINT":
            df = _apply_change_point(df, body)
        elif cmd == "FORK":
            df = _apply_fork(spark, df, body, params, tables)
        elif cmd == "FUSE":
            df = _apply_fuse(df, body)
        else:
            raise EsqlValidationError(f"Unsupported ES|QL command: {cmd}")
    return df


def _apply_change_point(df: DataFrame, body: str) -> DataFrame:
    """CHANGE_POINT value ON key [AS type_col, pvalue_col]: annotate the
    most likely mean-shift point of the series ordered by ``key``.

    Simplified, deterministic detector (ES runs its ML change-point
    model server-side; this engine substitutes a classical test): every
    split of the key-ordered series is scored with Welch's t statistic
    from CUMULATIVE sums/sumsq (one window pass, no per-split rescan),
    and the row starting the right segment of the best split is
    annotated ``type='step_change'`` with a Gaussian-tail approximation
    for ``pvalue`` (exp(-t^2/2) Mills bound, clipped to 1). All other
    rows carry NULLs, matching the ES output shape.

    Scale note: the ordered window spans the whole input — deliberate,
    a change-point is a property of ONE series; filter/group to a
    single entity's series first (the same contract ES documents).
    The statistic is rounded to 9 decimals before the argmax so the
    pick is stable across engines' float summation orders.
    """
    from pyspark.sql.window import Window

    m = re.match(
        r"^(\S+)\s+ON\s+(\S+?)(?:\s+AS\s+(\w+)\s*,\s*(\w+))?$", body.strip(), re.I
    )
    if not m:
        raise EsqlValidationError(
            "CHANGE_POINT syntax: value ON key [AS type_col, pvalue_col]"
        )
    val, key, type_col, pval_col = (
        m.group(1), m.group(2), m.group(3) or "type", m.group(4) or "pvalue",
    )
    # Enforce the single-series contract instead of trusting it: an
    # unfiltered call would pull the whole table through one partition.
    # The guard and the scoring share ONE upstream pass: limit(N+1)
    # stops the scan at the cap, and localCheckpoint materializes those
    # rows (≤ N+1, bounded memory) so neither the count probe nor the
    # windowed scoring re-executes the upstream pipe. When the probe
    # passes, the checkpointed frame IS the full input (no truncation
    # happened), so scoring runs on it directly.
    df = df.limit(CHANGE_POINT_MAX_ROWS + 1).localCheckpoint()
    probe = df.count()
    if probe > CHANGE_POINT_MAX_ROWS:
        raise EsqlValidationError(
            f"CHANGE_POINT input exceeds {CHANGE_POINT_MAX_ROWS} rows: "
            f"a change-point is a property of ONE series and runs in a "
            f"single-partition ordered window. Filter to one entity's "
            f"series first (e.g. `WHERE user_id == 3`), or raise "
            f"esql.CHANGE_POINT_MAX_ROWS if the series is truly this "
            f"long."
        )
    v = F.col(val).cast("double")
    w = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy(key).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cl = F.count(v).over(w)
    sl = F.sum(v).over(w)
    ql = F.sum(v * v).over(w)
    ct, st, qt = F.count(v).over(wall), F.sum(v).over(wall), F.sum(v * v).over(wall)
    cr, sr, qr = ct - cl, st - sl, qt - ql
    ml, mr = sl / cl, sr / cr
    var_l = (ql - sl * sl / cl) / (cl - 1)
    var_r = (qr - sr * sr / cr) / (cr - 1)
    se = F.sqrt(F.greatest(var_l / cl + var_r / cr, F.lit(1e-300)))
    t_stat = F.when(
        (cl >= 2) & (cr >= 2), F.round(F.abs(ml - mr) / se, 9)
    )
    ann = df.withColumn("_cp_t", t_stat).withColumn(
        "_cp_best",
        F.max("_cp_t").over(wall),
    )
    # the flagged row is the FIRST row of the right segment (the split
    # after this statistic's left prefix), i.e. lead of the argmax row;
    # equivalently: the row whose PREVIOUS cumulative stats achieved the
    # best score — smallest key wins ties (deterministic)
    wlag = Window.orderBy(key)
    ann = ann.withColumn("_cp_prev_t", F.lag("_cp_t").over(wlag))
    is_cp = F.col("_cp_prev_t").eqNullSafe(F.col("_cp_best")) & F.col(
        "_cp_best"
    ).isNotNull()
    first_cp = Window.orderBy(key).rowsBetween(Window.unboundedPreceding, -1)
    ann = ann.withColumn("_cp_seen", F.coalesce(
        F.max(F.when(is_cp, F.lit(1)).otherwise(F.lit(0))).over(first_cp),
        F.lit(0),
    ))
    flag = is_cp & (F.col("_cp_seen") == 0)
    pval = F.least(F.exp(-F.col("_cp_best") * F.col("_cp_best") / 2), F.lit(1.0))
    out = ann.withColumn(
        type_col, F.when(flag, F.lit("step_change"))
    ).withColumn(pval_col, F.when(flag, F.round(pval, 9)))
    return out.drop("_cp_t", "_cp_best", "_cp_prev_t", "_cp_seen")


def _apply_fork(
    spark: SparkSession,
    df: DataFrame,
    body: str,
    params: dict,
    tables: dict[str, DataFrame] | None,
) -> DataFrame:
    """FORK (pipe...) (pipe...): run each parenthesized branch on the
    CURRENT table and union the results. Rows carry ``_fork`` =
    'fork1'..'forkN'; branch schemas are aligned by column name with
    missing columns NULL (allowMissingColumns union), matching ES|QL's
    branch-merge behavior."""
    sc = _Scan(body)
    branches: list[str] = []
    stray: list[str] = []  # depth-0 text outside the (branch) groups
    pos = 0
    for o in sc.top("("):
        stray.append(body[pos:o])
        branches.append(body[o + 1 : sc.match[o]])
        pos = sc.match[o] + 1
    stray.append(body[pos:])
    stray_text = "".join(stray).strip()
    if stray_text:
        # silently dropping mis-nested text would run a different query
        raise EsqlValidationError(
            f"FORK: unexpected text outside (branch) groups: {stray_text!r}"
        )
    if len(branches) < 2:
        raise EsqlValidationError("FORK needs at least two (branch) groups")
    outs = []
    for i, br in enumerate(branches, start=1):
        sub = _run_stages(spark, df, _split_pipes(br), params, tables)
        outs.append(sub.withColumn("_fork", F.lit(f"fork{i}")))
    merged = outs[0]
    for sub in outs[1:]:
        merged = merged.unionByName(sub, allowMissingColumns=True)
    return merged


def _apply_fuse(df: DataFrame, body: str) -> DataFrame:
    """FUSE [rrf|linear] KEY BY k1[, k2] SCORE BY col [WITH rank_constant=N]:
    combine FORK branches' result sets into one ranked list — the
    ES|QL hybrid-search fusion command, rendered Spark-first.

    ES|QL FUSE keys on the ``_id``/``_index`` envelope and scores with
    ``_score``/row position; this engine has no search envelope, so the
    key columns and score column are explicit (the same simplification
    as ENRICH's explicit ON). Methods:

    * ``rrf`` (default): per-branch rank = dense position of the row
      within its ``_fork`` partition ordered by score desc (key asc
      tiebreak, deterministic); fused score = sum over branches of
      1 / (rank_constant + rank), rank_constant default 60 — the
      standard reciprocal-rank-fusion formula ES uses.
    * ``linear``: fused score = sum of the branch scores.

    Output: one row per key group with ``_fused_score``, sorted score
    desc then keys asc. Runs as two window/aggregate stages partitioned
    by ``_fork`` — no driver-side work, scales with the branch sizes.
    """
    from pyspark.sql.window import Window

    m = re.match(
        r"^(?:(rrf|linear)\s+)?KEY\s+BY\s+(.*?)\s+SCORE\s+BY\s+(\w+)"
        r"(?:\s+WITH\s+rank_constant\s*=\s*(\d+))?$",
        body.strip(),
        re.I | re.S,
    )
    if not m:
        raise EsqlValidationError(
            "FUSE syntax: [rrf|linear] KEY BY k1[, k2...] SCORE BY col "
            "[WITH rank_constant=N]"
        )
    method = (m.group(1) or "rrf").lower()
    keys = [k.strip() for k in _split_commas(m.group(2))]
    score, rc = m.group(3), int(m.group(4) or 60)
    if "_fork" not in df.columns:
        raise EsqlValidationError("FUSE must follow FORK (no _fork column)")
    for c in keys + [score]:
        if c not in df.columns:
            raise EsqlValidationError(f"FUSE column {c!r} not in input")
    if method == "rrf":
        w = Window.partitionBy("_fork").orderBy(
            F.col(score).desc(), *[F.col(k).asc() for k in keys]
        )
        contrib = F.lit(1.0) / (F.lit(rc) + F.row_number().over(w))
    else:
        contrib = F.col(score).cast("double")
    fused = (
        df.withColumn("_contrib", contrib)
        .groupBy(*keys)
        .agg(F.sum("_contrib").alias("_fused_score"))
        .orderBy(F.col("_fused_score").desc(), *[F.col(k).asc() for k in keys])
    )
    return fused


def _unescape_dq(s: str) -> str:
    """Resolve backslash escapes of a double-quoted literal's raw text
    (``\\"`` -> ``"``, ``\\\\`` -> ``\\``): GROK/DISSECT consume their
    pattern literals directly rather than through Spark SQL, so the
    unescaping Spark would do must happen here."""
    return re.sub(r"\\(.)", r"\1", s)


def _split_input_pattern(body: str) -> tuple[str, str]:
    m = re.match(r"^(\S+)\s+\"((?:[^\"\\]|\\.)*)\"\s*$", body, re.S)
    if not m:
        raise EsqlValidationError(f"expected: <input_column> \"pattern\", got {body!r}")
    return m.group(1), _unescape_dq(m.group(2))


def _apply_dissect(df: DataFrame, body: str) -> DataFrame:
    """DISSECT input "%{a}/%{b} %{c}" [APPEND_SEPARATOR="s"]:
    literal-delimited extraction with the dissect modifier set.

    Compiled to ONE anchored regex with a group per key (non-greedy
    between the literal separators, greedy at the end — dissect
    semantics). Spark's regexp_extract is run once per key; the match
    is cheap because the pattern is literal-anchored.

    Modifiers: ``%{}`` / ``%{?name}`` skip (named skips are matched
    but not emitted); ``%{key->}`` right padding (the following
    delimiter may repeat); ``%{+key}`` append — every capture of the
    key concatenates in pattern order, joined by APPEND_SEPARATOR
    (default empty, as in ES|QL DISSECT).
    """
    input_col, pattern = _split_input_pattern_options(body)
    append_sep = ""
    if isinstance(pattern, tuple):
        pattern, append_sep = pattern
    # key -> list of group indexes (append keys capture several)
    groups: dict[str, list[int]] = {}
    order: list[str] = []
    regex_parts: list[str] = []
    pos = 0
    gi = 0
    matches = list(re.finditer(r"%\{([^}]*)\}", pattern))
    for k, m in enumerate(matches):
        regex_parts.append(re.escape(pattern[pos : m.start()]))
        name = m.group(1)
        pad = name.endswith("->")
        if pad:
            name = name[:-2]
        last = m.end() == len(pattern)
        if not name or name.startswith("?"):
            regex_parts.append(".*" if last else ".*?")
        else:
            if name.startswith("+"):
                name = name[1:]
            elif name in groups:
                raise EsqlValidationError(
                    f"duplicate dissect key %{{{name}}} (use %{{+{name}}} "
                    f"to append)"
                )
            gi += 1
            groups.setdefault(name, []).append(gi)
            if name not in order:
                order.append(name)
            regex_parts.append("(.*)" if last else "(.*?)")
        if pad and not last:
            # right padding: the next literal separator may repeat
            nxt_end = (
                matches[k + 1].start() if k + 1 < len(matches) else len(pattern)
            )
            sep = pattern[m.end() : nxt_end]
            if sep:
                regex_parts.append(f"(?:{re.escape(sep)})+")
                pos = nxt_end
                continue
        pos = m.end()
    regex_parts.append(re.escape(pattern[pos:]))
    rx = "^" + "".join(regex_parts) + "$"
    for key in order:
        idxs = groups[key]
        if len(idxs) == 1:
            val = F.regexp_extract(F.col(input_col), rx, idxs[0])
        else:
            val = F.concat_ws(
                append_sep,
                *[F.regexp_extract(F.col(input_col), rx, i) for i in idxs],
            )
        df = df.withColumn(key, F.nullif(val, F.lit("")))
    return df


def _split_input_pattern_options(body: str) -> tuple[str, tuple[str, str] | str]:
    """DISSECT's extended form: <input> "pattern"
    [APPEND_SEPARATOR="s"]. Returns (input, pattern) or
    (input, (pattern, sep))."""
    m = re.match(
        r"^(\S+)\s+\"((?:[^\"\\]|\\.)*)\""
        r"(?:\s+APPEND_SEPARATOR\s*=\s*\"((?:[^\"\\]|\\.)*)\")?\s*$",
        body,
        re.S | re.I,
    )
    if not m:
        raise EsqlValidationError(
            f"expected: <input_column> \"pattern\" "
            f"[APPEND_SEPARATOR=\"s\"], got {body!r}"
        )
    if m.group(3) is not None:
        return m.group(1), (_unescape_dq(m.group(2)), _unescape_dq(m.group(3)))
    return m.group(1), _unescape_dq(m.group(2))


# grok base patterns: the subset exercised by logstash-style pipelines
_GROK_PATTERNS = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE10NUM": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}",
    "IPORHOST": r"\S+",
    "HOSTNAME": r"[A-Za-z0-9._-]+",
    "USER": r"[A-Za-z0-9._-]+",
    "LOGLEVEL": r"(?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL)",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    # the rest of the first-reach logstash set (grok-patterns, simplified
    # to flat self-contained regexes — no %{...} cross-references)
    "UNIXPATH": r"(?:/[\w.+=:,!@$%^&~-]*)+",
    "WINPATH": r"(?:[A-Za-z]:|\\)(?:\\[^\\?*]*)+",
    "PATH": r"(?:(?:/[\w.+=:,!@$%^&~-]*)+|(?:[A-Za-z]:|\\)(?:\\[^\\?*]*)+)",
    "URIPATH": r"(?:/[A-Za-z0-9$.+!*'(){},~:;=@#%&_-]*)+",
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\'',
    "HTTPDATE": r"\d{1,2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2}\s+[+-]\d{4}",
    "SYSLOGTIMESTAMP": r"\w{3}\s+\d{1,2}\s\d{2}:\d{2}:\d{2}",
    "MAC": r"(?:[0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2}",
    "EMAILADDRESS": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}",
}

# Composite patterns (logstash grok-patterns cross-referenced
# definitions, flattened): one %{NAME} token expands to MULTIPLE
# captured fields with canonical names. All fields extract as strings
# (the logstash definitions carry no :int coercions; post-cast with
# `::long` / TO_LONG as logstash users add :int). Each regex contains
# exactly len(fields) capturing groups, in field order; everything else
# is non-capturing so downstream group numbering stays positional.
_GROK_COMPOSITES: dict[str, tuple[str, list[str]]] = {
    "COMMONAPACHELOG": (
        r"(\S+) ([A-Za-z0-9._-]+) ([A-Za-z0-9._-]+) "
        r"\[(\d{1,2}/\w{3}/\d{4}:\d{2}:\d{2}:\d{2}\s+[+-]\d{4})\] "
        r'"(?:(\w+) (\S+)(?: HTTP/(\d+(?:\.\d+)?))?|(.*?))" '
        r"(\d+) (?:(\d+)|-)",
        [
            "clientip", "ident", "auth", "timestamp", "verb", "request",
            "httpversion", "rawrequest", "response", "bytes",
        ],
    ),
}
_GROK_COMPOSITES["COMBINEDAPACHELOG"] = (
    _GROK_COMPOSITES["COMMONAPACHELOG"][0]
    + r' ("(?:[^"\\]|\\.)*"|-) ("(?:[^"\\]|\\.)*"|-)',
    _GROK_COMPOSITES["COMMONAPACHELOG"][1] + ["referrer", "agent"],
)
_GROK_COMPOSITES["SYSLOGBASE"] = (
    # SYSLOGTIMESTAMP host PROG[PID]: — pid optional, as in SYSLOGPROG
    r"(\w{3}\s+\d{1,2}\s\d{2}:\d{2}:\d{2}) ([A-Za-z0-9._-]+) "
    r"([\w._/%-]+)(?:\[(\d+)\])?:",
    ["timestamp", "logsource", "program", "pid"],
)

_GROK_TYPES = {"int": "long", "long": "long", "float": "double", "double": "double"}


def _apply_grok(df: DataFrame, body: str) -> DataFrame:
    """GROK input "%{WORD:verb} %{NUMBER:code:int}": pattern-library
    extraction with per-field type coercion (the vectorized analog of
    logstash grok; type table mirrors ESQL_PARSERS_BY_TYPE,
    esql_executor.rb:8-10)."""
    input_col, pattern = _split_input_pattern(body)
    fields: list[tuple[str, str | None]] = []
    regex_parts: list[str] = []
    pos = 0
    for m in re.finditer(r"%\{(\w+)(?::([\w.]+))?(?::(\w+))?\}", pattern):
        regex_parts.append(re.escape(pattern[pos : m.start()]))
        base, name, typ = m.group(1), m.group(2), m.group(3)
        if base in _GROK_COMPOSITES:
            # one token -> many canonically-named fields
            if name:
                raise EsqlValidationError(
                    f"composite grok pattern %{{{base}}} names its own "
                    f"fields; drop the :{name} suffix"
                )
            comp_rx, comp_fields = _GROK_COMPOSITES[base]
            regex_parts.append(comp_rx)
            fields.extend((f, None) for f in comp_fields)
            pos = m.end()
            continue
        if base not in _GROK_PATTERNS:
            raise EsqlValidationError(f"unknown grok pattern %{{{base}}}")
        if name:
            fields.append((name, typ))
            regex_parts.append(f"({_GROK_PATTERNS[base]})")
        else:
            regex_parts.append(f"(?:{_GROK_PATTERNS[base]})")
        pos = m.end()
    regex_parts.append(re.escape(pattern[pos:]))
    rx = "".join(regex_parts)
    for i, (name, typ) in enumerate(fields, start=1):
        col = F.nullif(F.regexp_extract(F.col(input_col), rx, i), F.lit(""))
        if typ:
            if typ not in _GROK_TYPES:
                raise EsqlValidationError(f"unsupported grok type :{typ}")
            # try_cast: the INT pattern admits more digits than the
            # target type holds — overflow nulls the field instead of
            # aborting the job under ANSI
            col = col.try_cast(_GROK_TYPES[typ])
        df = df.withColumn(name, col)
    return df


def _apply_lookup_join(
    df: DataFrame, body: str, registry: dict[str, DataFrame]
) -> DataFrame:
    """LOOKUP JOIN lookup_index ON field: ES|QL's join command (ES
    8.18+). Left join on the shared field name; on column-name
    collisions the LOOKUP side wins (ES|QL lookup-join shadowing rule);
    multiple matches fan the row out; unmatched rows pass through with
    NULLs. NULL keys never match (plain equality). Broadcast: a lookup
    index is by definition the small side."""
    m = re.match(r"^JOIN\s+(\S+)\s+ON\s+(\S+)$", body, re.I | re.S)
    if not m:
        raise EsqlValidationError(f"bad LOOKUP clause: {body!r}")
    name, key = m.group(1), m.group(2)
    if name not in registry:
        raise EsqlValidationError(f"unknown lookup index (table) {name!r}")
    lk = registry[name]
    if key not in lk.columns:
        raise EsqlValidationError(f"lookup index {name!r} has no field {key!r}")
    shadowed = [c for c in lk.columns if c != key and c in df.columns]
    return df.drop(*shadowed).join(F.broadcast(lk), on=key, how="left")


def _apply_enrich(df: DataFrame, body: str, registry: dict[str, DataFrame]) -> DataFrame:
    """ENRICH policy ON key [WITH a, b AS c]: broadcast left join against
    a registered lookup table — the ES|QL spelling of the engine's core
    enrichment (A3/B11). The policy name resolves in the ``tables``
    registry; ``ON`` names the match field on BOTH sides (ES|QL uses the
    policy's declared match_field; pass it explicitly here)."""
    m = re.match(r"^(\S+)(?:\s+ON\s+(\S+))?(?:\s+WITH\s+(.*))?$", body, re.I | re.S)
    if not m:
        raise EsqlValidationError(f"bad ENRICH clause: {body!r}")
    policy, on, with_clause = m.group(1), m.group(2), m.group(3)
    if policy not in registry:
        raise EsqlValidationError(f"unknown enrich policy (table) {policy!r}")
    lk = registry[policy]
    key = on or lk.columns[0]
    cols: list = []
    if with_clause:
        for item in _split_commas(with_clause):
            # ES|QL spelling: `WITH new_name = policy_field` (plus the
            # bare field, and `src AS dest` kept for compatibility)
            item = item.strip()
            if "=" in item:
                dest, src = (p.strip() for p in item.split("=", 1))
            else:
                parts = re.split(r"\s+AS\s+", item, flags=re.I)
                src = parts[0].strip()
                dest = parts[1].strip() if len(parts) > 1 else src
            if src not in lk.columns:
                raise EsqlValidationError(
                    f"enrich policy {policy!r} has no field {src!r}"
                )
            cols.append(F.col(src).alias(dest))
    else:
        cols = [F.col(c) for c in lk.columns if c != key]
    # plain equality, NOT eqNullSafe: ES ENRICH never matches documents
    # whose match field is missing — a NULL key falls through unenriched
    pre = lk.select(F.col(key).alias("_enrich_key"), *cols)
    out = df.join(
        F.broadcast(pre), F.col(key) == F.col("_enrich_key"), "left"
    )
    return out.drop("_enrich_key")


# ---------- result -> event mapping (esql_executor.rb:65-110) ----------


def with_total_values(df: DataFrame) -> DataFrame:
    """[@metadata][total_values] = result row count (esql_executor.rb:79).

    Window-free: a scalar count joined back via crossJoin of a 1-row
    aggregate (broadcast; no shuffle of the result set).
    """
    total = df.agg(F.count(F.lit(1)).alias("_meta_total_values"))
    return df.crossJoin(F.broadcast(total))


def rows_to_target_array(df: DataFrame, target: str) -> DataFrame:
    """All result rows -> single-row DF with an array of nested structs
    under ``target`` (esql_executor.rb:88-101; spec
    elasticsearch_esql_spec.rb:127-143). Dotted columns nest; shadowed
    sub-elements are suppressed (esql_executor.rb:82-86,120-151)."""
    struct_fields = nest_dotted(df.columns)
    packed = df.select(F.struct(*struct_fields).alias("_row"))
    return packed.agg(
        F.collect_list("_row").alias(target), F.count(F.lit(1)).alias("_meta_total_values")
    )


def rows_to_target_json(
    df: DataFrame, target: str, order_by: list | None = None
) -> DataFrame:
    """Rows -> target array with PER-ROW null-column dropping.

    The reference drops null columns from each row independently before
    mapping it into the target array (esql_executor.rb:93-99 via
    ``row.reject { |_, v| v.nil? }``). A fixed-schema struct array can't
    express per-row shapes, so this faithful variant renders each row as
    a JSON object (Spark's ``to_json`` omits null fields by default) —
    one row with ``target: array<string>`` plus total_values.
    ``rows_to_target_array`` remains the fixed-schema (nulls retained)
    variant for consumers that need typed columns.

    The array order is made deterministic INSIDE the aggregate — a
    global collect_list merges partition buffers in arrival order, so
    an upstream orderBy does not survive it. ``order_by`` column names
    sort the array by those values (the reference maps rows in result
    order); without it the array is sorted by the rendered JSON string,
    a canonical order that is stable across runs.
    """
    struct_fields = nest_dotted(df.columns)
    row_json = F.to_json(F.struct(*struct_fields))
    if order_by:
        keyed = F.struct(
            F.struct(*[F.col(c) for c in order_by]).alias("_k"),
            row_json.alias("_row"),
        )
        packed = df.select(keyed.alias("_kr"))
        return packed.agg(
            F.expr("transform(array_sort(collect_list(_kr)), s -> s['_row'])").alias(target),
            F.count(F.lit(1)).alias("_meta_total_values"),
        )
    packed = df.select(row_json.alias("_row"))
    return packed.agg(
        F.array_sort(F.collect_list("_row")).alias(target),
        F.count(F.lit(1)).alias("_meta_total_values"),
    )


def first_row_to_root(df: DataFrame, order_by: list | None = None) -> DataFrame:
    """Only the FIRST row maps onto the event root when no target is set
    (esql_executor.rb:102-108; docs/index.asciidoc:172-174). Explicit
    ``order_by`` recommended — ES result order is server-defined."""
    kept, _ = mark_sub_elements(df.columns)
    total = df.agg(F.count(F.lit(1)).alias("_meta_total_values"))
    first = df.orderBy(*order_by) if order_by else df
    first = first.limit(1).select(*[F.col(f"`{c}`") for c in kept])
    return first.crossJoin(F.broadcast(total))
