"""Query-template compiler: ES query-DSL JSON -> Spark join/filter plan.

The reference's second entry point (dsl_executor.rb:33-35): a JSON
query-DSL template file is read once at register
(elasticsearch.rb:431-437), then PER EVENT it is
``event.sprintf``-interpolated (substituting ``%{[field]}`` references)
and POSTed as the search body; the template's own ``size``/``sort``
override the ``result_size``/``sort`` configs (docs/index.asciidoc:101-103).

Here the template is compiled ONCE at plan time into three parts:

1. **static clauses** (no ``%{...}`` references) -> a pushed-down
   filter on the lookup snapshot — Catalyst turns these into parquet
   ``PushedFilters``, so the broadcast payload shrinks before it ships;
2. **event-referenced equality clauses** (``{"term": {"f": "%{[ref]}"}}``)
   -> broadcast hash-join keys — the per-event re-render disappears
   into the join probe;
3. **event-referenced non-equi clauses** (range/wildcard/OR with refs)
   -> a theta condition on a broadcast join, re-grouped per event
   (the only shape that genuinely needs a shuffle of the event table,
   and only when the template demands per-event inequality predicates).

Supported query nodes: ``bool`` (must/filter/should/must_not),
``term``, ``terms``, ``match``/``match_phrase`` (ANALYZED text
semantics: standard-analyzer approximation — lowercase + Unicode-word
tokenize — with token overlap for ``match`` (``operator: and``
supported) and consecutive in-order tokens for ``match_phrase``;
``term`` stays keyword equality, as in ES), ``prefix`` (un-analyzed
leading match, pushed down as StringStartsWith), ``regexp``
(anchored full-value match, as ES), ``match_phrase_prefix``, ``ids`` (terms over
the ``_id`` envelope column), ``range``
(gt/gte/lt/lte), ``exists``, ``wildcard`` (``*``/``?``), ``match_all``,
and ``query_string`` with a mini-grammar (``field:value``, ``AND/OR/NOT``,
parentheses, field groups ``f:(a OR b)``, ``field:[a TO b]`` /
``field:>=v`` ranges, ``_exists_:f``, wildcards, quoted phrases,
``\\``-escapes, fuzzy ``term~``/``term~N``, proximity ``"a b"~N``, and
``^boost`` recognized-and-stripped — boosts only affect scoring, never
the hit set) — covering the reference's documented templates
(docs/index.asciidoc:36-103, fixture
spec/filters/fixtures/query_template.json and
query_template_unicode.json).

Structural injection via sprintf (a ref expanding to JSON syntax) is
NOT supported: references substitute *values* only. The reference
technically re-parses JSON per event so a ref could inject structure;
no fixture or doc relies on that.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field as dc_field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logstash_filter_elasticsearch_spark.functions.fieldref import (
    field_ref_to_path,
    sprintf_expr,
)

_SPRINTF = re.compile(r"%\{([^}]+)\}")
_SINGLE_REF = re.compile(r"^%\{([^}]+)\}$")


class TemplateError(ValueError):
    pass


# --------------------------------------------------------------- values

@dataclass(frozen=True)
class Lit:
    value: object

    @property
    def has_ref(self) -> bool:
        return False

    def expr(self) -> Column:
        return F.lit(self.value)


@dataclass(frozen=True)
class EventRef:
    """A value containing ``%{[field]}`` references, resolved per event
    (the set form of event.sprintf, dsl_executor.rb:34)."""

    template: str

    @property
    def has_ref(self) -> bool:
        return True

    def expr(self) -> Column:
        m = _SINGLE_REF.match(self.template)
        if m:  # bare ref: keep the source column's native type
            return F.col(field_ref_to_path(m.group(1)))
        return sprintf_expr(self.template)


def _val(v) -> Lit | EventRef:
    if isinstance(v, str) and _SPRINTF.search(v):
        return EventRef(v)
    return Lit(v)


# --------------------------------------------------------------- AST

@dataclass(frozen=True)
class Term:
    field: str
    value: Lit | EventRef


@dataclass(frozen=True)
class Terms:
    field: str
    values: tuple


@dataclass(frozen=True)
class Range:
    field: str
    bounds: tuple  # ((op, value), ...), op in gt/gte/lt/lte


@dataclass(frozen=True)
class Exists:
    field: str


@dataclass(frozen=True)
class Wildcard:
    field: str
    pattern: Lit | EventRef


@dataclass(frozen=True)
class Regexp:
    """ES ``regexp`` query: Lucene regex matched against the ENTIRE
    field value (implicitly anchored, unlike ES query_string regex or
    Spark rlike) — compiled to rlike with explicit ^...$ anchors."""

    field: str
    pattern: Lit | EventRef


@dataclass(frozen=True)
class Prefix:
    """``prefix`` query: un-analyzed leading-string match. Compiles to
    ``startswith`` — on the static path Catalyst pushes it to the scan
    as StringStartsWith."""

    field: str
    value: Lit | EventRef


@dataclass(frozen=True)
class Match:
    """Analyzed full-text ``match`` / ``match_phrase``.

    ES analyzes text-field queries before matching (standard analyzer:
    Unicode-word tokenize + lowercase) — the behavior a user porting a
    reference template with ``match`` on an analyzed field expects
    (docs/index.asciidoc:85-103). Approximated here with the same
    tokenizer on both sides (``lower`` + split on non-letter/digit):
    ``match`` = token overlap (``operator: or``, the ES default) or
    token containment (``operator: and``); ``match_phrase`` = the query
    tokens appear consecutively in field order. A query that analyzes
    to zero tokens matches nothing (ES ``zero_terms_query: none``
    default). For exact keyword equality use ``term``, as in ES."""

    field: str
    query: Lit | EventRef
    operator: str = "or"
    phrase: bool = False
    phrase_prefix: bool = False
    # phrase slop (``"a b"~2`` in query_string, ``slop`` in the JSON
    # DSL): up to ``slop`` extra tokens may sit between consecutive
    # query tokens, in order. (Lucene's full slop also permits
    # reordering at cost 2 per move; this engine keeps the in-order
    # subset — the overwhelmingly common use — and documents it.)
    slop: int = 0


@dataclass(frozen=True)
class Fuzzy:
    """query_string fuzzy term (``roam~`` / ``roam~1``): edit-distance
    match. Lucene default fuzziness AUTO derives max edits from the
    term length (0-2 chars -> 0, 3-5 -> 1, longer -> 2); an explicit
    ``~N`` pins it. Un-analyzed (keyword-level) comparison, like this
    grammar's Term. Compiles to ``levenshtein(field, term) <= d`` —
    JVM-side, no UDF."""

    field: str
    value: Lit | EventRef
    max_edits: int | None = None  # None = AUTO(term length)


@dataclass(frozen=True)
class MatchAll:
    pass


@dataclass(frozen=True)
class Bool:
    op: str  # 'and' | 'or' | 'not'
    children: tuple


_RANGE_OPS = {"gt": "__gt__", "gte": "__ge__", "lt": "__lt__", "lte": "__le__"}


def _has_ref(node) -> bool:
    if isinstance(node, Term):
        return node.value.has_ref
    if isinstance(node, Match):
        return node.query.has_ref
    if isinstance(node, Prefix):
        return node.value.has_ref
    if isinstance(node, Regexp):
        return node.pattern.has_ref
    if isinstance(node, Terms):
        return any(v.has_ref for v in node.values)
    if isinstance(node, Range):
        return any(v.has_ref for _, v in node.bounds)
    if isinstance(node, Wildcard):
        return node.pattern.has_ref
    if isinstance(node, Fuzzy):
        return node.value.has_ref
    if isinstance(node, Bool):
        return any(_has_ref(c) for c in node.children)
    return False


def _like_pattern(p: str) -> str:
    """ES wildcard (`*`/`?`) -> SQL LIKE, escaping LIKE metachars.

    ``\\``-escaped characters (``\\*``, ``\\?``, ``\\\\`` — the Lucene/ES
    wildcard escape syntax) are literals, not wildcards."""
    like_esc = {"%": r"\%", "_": r"\_", "\\": "\\\\"}
    out = []
    i = 0
    while i < len(p):
        ch = p[i]
        if ch == "\\" and i + 1 < len(p):
            nxt = p[i + 1]
            out.append(like_esc.get(nxt, nxt))
            i += 2
            continue
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        else:
            out.append(like_esc.get(ch, ch))
        i += 1
    return "".join(out)


def _analyze(c: Column) -> Column:
    """Standard-analyzer approximation: lowercase, split on any run of
    non-letter/non-digit (Unicode classes), drop empty tokens. Pure
    codegen (split/filter), constant-folded when ``c`` is a literal."""
    toks = F.split(F.lower(c.cast("string")), r"[^\p{L}\p{N}]+")
    return F.filter(toks, lambda x: x != F.lit(""))


def _analyze_py(s: str) -> list[str]:
    """Plan-time mirror of :func:`_analyze` for literal queries
    (``[\\W_]+`` is Python's spelling of not-letter-not-digit: ``\\w``
    is L+N+underscore, and the explicit ``_`` removes the underscore)."""
    return [t for t in re.split(r"[\W_]+", s.lower()) if t]


def to_column(node, res: Callable[[str], Column]) -> Column:
    """Compile a clause tree to a Column; ``res`` maps a field name to
    the side it lives on (lookup snapshot or joined alias)."""
    if isinstance(node, MatchAll):
        return F.lit(True)
    if isinstance(node, Term):
        return res(node.field) == node.value.expr()
    if isinstance(node, Prefix):
        return F.startswith(res(node.field), node.value.expr())
    if isinstance(node, Regexp):
        # anchor the whole value, as ES regexp does
        return res(node.field).rlike(
            F.concat(F.lit("^(?:"), node.pattern.expr(), F.lit(")$"))
        ) if node.pattern.has_ref else res(node.field).rlike(
            f"^(?:{node.pattern.value})$"
        )
    if isinstance(node, Match):
        ftoks = _analyze(res(node.field))
        qtoks = _analyze(node.query.expr())
        nonempty = F.size(qtoks) > 0
        if node.phrase or node.phrase_prefix:
            if node.phrase and node.slop:
                # sloppy phrase: tokens in order with up to `slop`
                # intervening tokens between neighbors, expressed as a
                # regex over the sentinel-spaced token string — only
                # buildable for a literal query (the pattern is a
                # plan-time constant; codegen rlike, no UDF)
                if node.query.has_ref:
                    raise TemplateError(
                        "phrase slop with %{ref} queries is not supported"
                    )
                qt = _analyze_py(str(node.query.value))
                if not qt:
                    return F.lit(False)
                gap = r"(?: \S+){0,%d} " % node.slop
                pat = " " + gap.join(re.escape(t) for t in qt) + " "
                fs = F.concat(
                    F.lit(" "), F.array_join(ftoks, " "), F.lit(" ")
                )
                return fs.rlike(pat)
            # consecutive-in-order containment via sentinel-spaced
            # token strings: ' a b c ' contains ' b c ' iff the query
            # tokens appear adjacent and in order. phrase_prefix drops
            # the trailing sentinel so the LAST query token matches any
            # field token it prefixes (ES match_phrase_prefix)
            fs = F.concat(F.lit(" "), F.array_join(ftoks, " "), F.lit(" "))
            qs = F.concat(F.lit(" "), F.array_join(qtoks, " "))
            if not node.phrase_prefix:
                qs = F.concat(qs, F.lit(" "))
            return nonempty & F.contains(fs, qs)
        if node.operator == "and":
            return nonempty & (F.size(F.array_except(qtoks, ftoks)) == 0)
        return nonempty & F.arrays_overlap(ftoks, qtoks)
    if isinstance(node, Terms):
        if all(not v.has_ref for v in node.values):
            return res(node.field).isin([v.value for v in node.values])
        cols = [res(node.field) == v.expr() for v in node.values]
        out = cols[0]
        for c in cols[1:]:
            out = out | c
        return out
    if isinstance(node, Range):
        out = F.lit(True)
        for op, v in node.bounds:
            out = out & getattr(res(node.field), _RANGE_OPS[op])(v.expr())
        return out
    if isinstance(node, Exists):
        return res(node.field).isNotNull()
    if isinstance(node, Fuzzy):
        target = node.value.expr().cast("string")
        fld = res(node.field).cast("string")
        if node.max_edits is not None:
            d: Column | int = node.max_edits
        elif not node.value.has_ref:
            n = len(str(node.value.value))
            d = 0 if n <= 2 else (1 if n <= 5 else 2)
        else:  # AUTO on a per-event value: derive from its length
            d = (
                F.when(F.length(target) <= 2, F.lit(0))
                .when(F.length(target) <= 5, F.lit(1))
                .otherwise(F.lit(2))
            )
        return F.levenshtein(fld, target) <= d
    if isinstance(node, Wildcard):
        if node.pattern.has_ref:
            # interpolated pattern: apply the same ES-wildcard -> LIKE
            # translation as the static path, on the Column (escape
            # LIKE metachars in the data, then map * -> %, ? -> _)
            pat = node.pattern.expr()
            for search, repl in (
                ("\\", "\\\\"), ("%", r"\%"), ("_", r"\_"), ("*", "%"), ("?", "_"),
            ):
                pat = F.replace(pat, F.lit(search), F.lit(repl))
            return F.like(res(node.field), pat)
        return res(node.field).like(_like_pattern(node.pattern.value))
    if isinstance(node, Bool):
        if node.op == "not":
            return ~to_column(node.children[0], res)
        cols = [to_column(c, res) for c in node.children]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if node.op == "and" else (out | c)
        return out
    raise TemplateError(f"unsupported node {node!r}")


# --------------------------------------------------------------- JSON parse

def _parse_query(node: dict):
    if not isinstance(node, dict) or len(node) != 1:
        raise TemplateError(f"query node must have exactly one key: {node!r}")
    kind, body = next(iter(node.items()))
    if kind == "match_all":
        return MatchAll()
    if kind == "bool":
        children: list = []
        for k in ("must", "filter"):
            for c in _as_list(body.get(k)):
                children.append(_parse_query(c))
        # ES semantics: with must/filter present, minimum_should_match
        # defaults to 0 — should clauses only affect scoring, never
        # filtering. They gate the hit set only when the bool has no
        # must/filter children (then the default is 1).
        should = [_parse_query(c) for c in _as_list(body.get("should"))]
        if should and not children:
            children.append(Bool("or", tuple(should)) if len(should) > 1 else should[0])
        for c in _as_list(body.get("must_not")):
            children.append(Bool("not", (_parse_query(c),)))
        if not children:
            return MatchAll()
        return children[0] if len(children) == 1 else Bool("and", tuple(children))
    if kind == "term":
        f, v = _single(body)
        if isinstance(v, dict):  # {"f": {"value": v}} long form
            v = v.get("value", v.get("query"))
        return Term(f, _val(v))
    if kind in ("match", "match_phrase", "match_phrase_prefix"):
        f, v = _single(body)
        operator, slop = "or", 0
        if isinstance(v, dict):  # {"f": {"query": q, "operator": "and"}}
            operator = str(v.get("operator", "or")).lower()
            if operator not in ("or", "and"):
                raise TemplateError(
                    f"match operator must be 'or' or 'and', got {operator!r}"
                )
            slop = int(v.get("slop", 0))
            if slop and kind != "match_phrase":
                raise TemplateError("slop is only valid on match_phrase")
            v = v.get("query", v.get("value"))
        return Match(
            f, _val(v), operator=operator,
            phrase=kind == "match_phrase",
            phrase_prefix=kind == "match_phrase_prefix",
            slop=slop,
        )
    if kind == "terms":
        f, vs = _single(body)
        return Terms(f, tuple(_val(v) for v in vs))
    if kind == "range":
        f, bounds = _single(body)
        unknown = set(bounds) - set(_RANGE_OPS)
        if unknown:
            raise TemplateError(f"range ops {unknown} not supported")
        return Range(f, tuple((op, _val(v)) for op, v in sorted(bounds.items())))
    if kind == "exists":
        return Exists(body["field"])
    if kind == "wildcard":
        f, v = _single(body)
        if isinstance(v, dict):
            v = v["value"]
        return Wildcard(f, _val(v))
    if kind == "prefix":
        f, v = _single(body)
        if isinstance(v, dict):
            v = v["value"]
        return Prefix(f, _val(v))
    if kind == "regexp":
        f, v = _single(body)
        if isinstance(v, dict):
            v = v["value"]
        return Regexp(f, _val(v))
    if kind == "ids":
        vals = body["values"] if isinstance(body, dict) else body
        return Terms("_id", tuple(_val(v) for v in vals))
    if kind == "query_string":
        q = body["query"] if isinstance(body, dict) else body
        default_op = (body.get("default_operator", "OR") if isinstance(body, dict) else "OR")
        return parse_query_string(q, default_op=default_op)
    raise TemplateError(f"unsupported query kind '{kind}'")


def _as_list(v) -> list:
    if v is None:
        return []
    return v if isinstance(v, list) else [v]


def _single(body: dict):
    if not isinstance(body, dict) or len(body) != 1:
        raise TemplateError(f"expected single-field body: {body!r}")
    return next(iter(body.items()))


# --------------------------------------------------------- query_string

_QS_TOKEN = re.compile(
    r"""\s*(?:
        (?P<lpar>\()|
        (?P<rpar>\)(?:\^\d+(?:\.\d+)?)?)|                 # )^boost: boost is
                                                          # scoring-only, dropped
        (?P<op>AND\b|OR\b|NOT\b)|
        (?P<clause>
            (?P<field>[\w@.*_]+|_exists_):
            (?P<value>
                "(?:\\.|[^"\\])*"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?   # phrase [~slop][^boost]
                |[\[{][^\]}]*TO[^\]}]*[\]}]               # [a TO b] ranges, mixed [a TO b} ok
                |(?:>=|<=|>|<)?(?:\\.|[^\s()\\])+         # bare / >=v, \-escapes
            )
        )
    )""",
    re.VERBOSE,
)

# boost suffix on a bare term or phrase: scoring-only in ES, no effect
# on the hit set of a filtering engine — recognized and stripped
_QS_BOOST = re.compile(r"\^\d+(?:\.\d+)?$")
_QS_FIELD_GROUP = re.compile(r"([\w@.*_]+):\(")
_QS_GROUP_TOK = re.compile(
    r"""\s*(
        \(|\)|AND\b|OR\b|NOT\b
        |"(?:\\.|[^"\\])*"(?:~\d+)?(?:\^\d+(?:\.\d+)?)?
        |[\[{][^\]}]*TO[^\]}]*[\]}]
        |(?:\\.|[^\s()\\])+
    )""",
    re.VERBOSE,
)


def _expand_field_groups(q: str) -> str:
    """Distribute Lucene field groups: ``status:(active OR pending)``
    becomes ``(status:active OR status:pending)`` before tokenizing,
    so the main grammar stays field:value-shaped. Handles quotes,
    ``\\``-escapes and nested plain parens; a value token inside the
    group inherits the field, operators and parens pass through."""
    out = []
    i = 0
    while True:
        m = _QS_FIELD_GROUP.search(q, i)
        if not m:
            out.append(q[i:])
            return "".join(out)
        # a field:( inside a quoted phrase is literal text, not a group
        cnt, esc = 0, False
        for ch in q[:m.start()]:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                cnt += 1
        if cnt % 2 == 1:
            out.append(q[i : m.end()])
            i = m.end()
            continue
        field = m.group(1)
        out.append(q[i : m.start()])
        depth, j, in_quote, esc = 0, m.end() - 1, False, False
        while j < len(q):
            ch = q[j]
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_quote = not in_quote
            elif not in_quote:
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        break
            j += 1
        if depth != 0:
            raise TemplateError(
                f"query_string: unterminated field group {field}:(..."
            )
        inner, pos, parts = q[m.end() : j], 0, []
        while pos < len(inner):
            t = _QS_GROUP_TOK.match(inner, pos)
            if not t:
                if inner[pos:].strip():
                    raise TemplateError(
                        f"query_string: bad field group content {inner[pos:]!r}"
                    )
                break
            tok = t.group(1)
            parts.append(
                tok if tok in ("(", ")", "AND", "OR", "NOT") else f"{field}:{tok}"
            )
            pos = t.end()
        out.append("(" + " ".join(parts) + ")")
        i = j + 1


def parse_query_string(q: str, default_op: str = "OR"):
    """The reference's default query path: a Lucene query_string built
    per event (``query => "type:start AND opid:%{[opid]}"``,
    dsl_executor.rb:37-39; docs/index.asciidoc:36-53). Compiled here to
    the same AST as the JSON DSL."""
    q = _expand_field_groups(q)
    tokens = []
    pos = 0
    while pos < len(q):
        m = _QS_TOKEN.match(q, pos)
        if not m:
            if q[pos:].strip():
                raise TemplateError(f"query_string parse error at: {q[pos:]!r}")
            break
        tokens.append(m)
        pos = m.end()

    i = 0

    def parse_or():
        nonlocal i
        left = parse_and()
        parts = [left]
        while i < len(tokens) and tokens[i]["op"] == "OR":
            i += 1
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else Bool("or", tuple(parts))

    def parse_and():
        nonlocal i
        parts = [parse_unary()]
        # adjacency (including a leading NOT: Lucene `a NOT b` is
        # `a <default_op> (NOT b)`) joins with default_op
        while i < len(tokens) and (
            tokens[i]["op"] == "AND"
            or (
                tokens[i]["op"] in (None, "NOT")
                and tokens[i]["rpar"] is None
                and default_op.upper() == "AND"
            )
        ):
            if tokens[i]["op"] == "AND":
                i += 1
            parts.append(parse_unary())
        # default_operator=OR: adjacency handled by parse_or caller? No —
        # Lucene treats bare adjacency as default_op; for OR we splice here.
        while (
            default_op.upper() == "OR"
            and i < len(tokens)
            and tokens[i]["op"] in (None, "NOT")
            and tokens[i]["rpar"] is None
        ):
            return Bool("or", (  # a b c == a OR (b ...) right-assoc, same set
                parts[0] if len(parts) == 1 else Bool("and", tuple(parts)),
                parse_and(),
            ))
        return parts[0] if len(parts) == 1 else Bool("and", tuple(parts))

    def parse_unary():
        nonlocal i
        if i >= len(tokens):
            raise TemplateError("query_string: unexpected end")
        t = tokens[i]
        if t["op"] == "NOT":
            i += 1
            return Bool("not", (parse_unary(),))
        if t["lpar"]:
            i += 1
            inner = parse_or()
            if i >= len(tokens) or not tokens[i]["rpar"]:
                raise TemplateError("query_string: missing ')'")
            i += 1
            return inner
        if t["clause"]:
            i += 1
            return _qs_clause(t["field"], t["value"])
        raise TemplateError(f"query_string: unexpected token {t.group(0)!r}")

    node = parse_or()
    if i < len(tokens):
        raise TemplateError(f"query_string: trailing tokens from {tokens[i].group(0)!r}")
    return node


def _qs_coerce(s: str):
    """Bare query_string values: try int, then float, else string."""
    v = _val(s)
    if isinstance(v, EventRef):
        return v
    for cast in (int, float):
        try:
            return Lit(cast(s))
        except ValueError:
            continue
    return Lit(s)


def _qs_unescape(s: str) -> str:
    """Resolve Lucene ``\\``-escapes (``\\:``, ``\\(``, ``\\*``, ``\\ `` ...)
    to their literal characters."""
    return re.sub(r"\\(.)", r"\1", s)


def _qs_clause(field: str, value: str):
    if field == "_exists_":
        return Exists(value)
    value = _QS_BOOST.sub("", value)  # ^boost: scoring-only, dropped
    m = re.match(r'^"((?:\\.|[^"\\])*)"(?:~(\d+))?$', value)
    if m:
        body = _qs_unescape(m.group(1))
        if m.group(2) is not None:
            # proximity phrase "a b"~2: analyzed sloppy phrase match
            return Match(field, _val(body), phrase=True, slop=int(m.group(2)))
        return Term(field, _val(body))
    m = re.match(r"^([\[{])\s*(\S+)\s+TO\s+(\S+)\s*([\]}])$", value)
    if m:
        lo_inc, lo, hi, hi_inc = m.group(1) == "[", m.group(2), m.group(3), m.group(4) == "]"
        bounds = []
        if lo != "*":
            bounds.append(("gte" if lo_inc else "gt", _qs_coerce(lo)))
        if hi != "*":
            bounds.append(("lte" if hi_inc else "lt", _qs_coerce(hi)))
        return Range(field, tuple(bounds))
    m = re.match(r"^(>=|<=|>|<)(.+)$", value)
    if m:
        op = {">": "gt", ">=": "gte", "<": "lt", "<=": "lte"}[m.group(1)]
        return Range(field, ((op, _qs_coerce(m.group(2))),))
    m = re.match(r"^(.*?)(?<!\\)~(\d*)$", value)
    if m:  # fuzzy term: roam~ (AUTO) / roam~1 (pinned edits)
        term = _qs_unescape(m.group(1))
        edits = int(m.group(2)) if m.group(2) else None
        if edits is not None and edits > 2:
            raise TemplateError(
                f"query_string: fuzziness is at most 2 edits, got {edits}"
            )
        return Fuzzy(field, _val(term), max_edits=edits)
    if re.search(r"(?<!\\)[*?]", value) and "%{" not in value:
        # raw (still-escaped) pattern: _like_pattern resolves \-escapes
        return Wildcard(field, Lit(value))
    return Term(field, _qs_coerce(_qs_unescape(value)))


# --------------------------------------------------------------- compile

@dataclass
class CompiledTemplate:
    root: object
    size: int | None = None
    sort: list[tuple[str, str]] = dc_field(default_factory=list)
    source_includes: list[str] | None = None

    def conjuncts(self) -> list:
        """Flatten the top-level AND spine."""
        out: list = []

        def walk(n):
            if isinstance(n, Bool) and n.op == "and":
                for c in n.children:
                    walk(c)
            else:
                out.append(n)

        walk(self.root)
        return out


def compile_template(template: str | dict) -> CompiledTemplate:
    """Parse once at plan time — the analog of the register-time file
    read (elasticsearch.rb:431-437); the per-event sprintf+JSON.parse
    (dsl_executor.rb:33-35) becomes expression columns."""
    body = json.loads(template) if isinstance(template, str) else template
    if not body:
        raise TemplateError("query_template is empty")  # elasticsearch.rb:432-433
    root = _parse_query(body["query"]) if "query" in body else MatchAll()
    sort = []
    for s in _as_list(body.get("sort")):
        if isinstance(s, str):
            f, _, d = s.partition(":")
            sort.append((f, d or "asc"))
        else:
            for f, d in s.items():
                sort.append((f, d.get("order") if isinstance(d, dict) else d))
    src = body.get("_source")
    if src is True or src is None:
        includes = None
    elif isinstance(src, list):
        includes = src
    elif isinstance(src, dict):
        includes = src.get("includes")
    else:
        includes = [src]
    return CompiledTemplate(
        root=root, size=body.get("size"), sort=sort, source_includes=includes
    )


# --------------------------------------------------------------- planning

def classify(compiled: CompiledTemplate):
    """Split top-level conjuncts into (static, join_pairs, theta).

    static      — no event refs: pushed down onto the lookup scan
    join_pairs  — ``field == %{[ref]}`` equality: hash-join keys
    theta       — everything else containing refs: join-condition extras
    """
    static, join_pairs, theta = [], [], []
    for node in compiled.conjuncts():
        if not _has_ref(node):
            static.append(node)
        elif isinstance(node, Term) and node.value.has_ref:
            # keep the AST value (not a Column) so classification is
            # usable without an active SparkContext; exprs build lazily
            join_pairs.append((node.value, node.field))
        else:
            theta.append(node)
    return static, join_pairs, theta


def enrich_with_template(
    events: DataFrame,
    lookup: DataFrame,
    template: str | dict,
    fields: dict[str, str] | None = None,
    docinfo_fields: dict[str, str] | None = None,
    aggregation_fields: dict | None = None,
    event_id: str = "event_id",
    result_size: int | None = None,
    sort: list[tuple[str, str]] | None = None,
    broadcast: bool = True,
    **enrich_opts,
) -> DataFrame:
    """Template-driven enrichment (entry point 2 of the reference).

    Template ``size``/``sort`` override the configs when present
    (docs/index.asciidoc:101-103); ES's own default size is 10.
    ``_source`` includes suppress field copies outside the projection,
    matching a filtered ``_source`` in the response.
    """
    from logstash_filter_elasticsearch_spark.operators.enrich import (
        EnrichSpec,
        Enricher,
    )

    compiled = compile_template(template)
    fields = dict(fields or {})
    if compiled.source_includes is not None:
        inc_roots = {field_ref_to_path(s).split(".")[0] for s in compiled.source_includes}
        fields = {
            src: dst
            for src, dst in fields.items()
            if field_ref_to_path(src).split(".")[0] in inc_roots
        }
    size = compiled.size if compiled.size is not None else (
        result_size if result_size is not None else 10
    )
    eff_sort = compiled.sort or (sort or [])

    static, join_pairs, theta = classify(compiled)
    filtered = lookup
    for node in static:
        filtered = filtered.filter(to_column(node, F.col))

    if theta:
        return _theta_enrich(
            events, filtered, join_pairs, theta, fields, docinfo_fields or {},
            size, eff_sort, event_id, broadcast,
        )

    # pure hash-join path
    lk_types = dict(filtered.dtypes)
    if not join_pairs:  # fully static template: same result for every event
        filtered = filtered.withColumn("_tkey", F.lit(1))
        event_key: Column = F.lit(1)
        lookup_key = "_tkey"
    elif len(join_pairs) == 1:
        val, fname = join_pairs[0]
        # try_cast: an event value that can't coerce to the lookup key
        # type simply doesn't match (NULL key falls out of the join) —
        # an ANSI cast would abort the whole job on one bad event,
        # where the reference tags that one event and moves on
        event_key = val.expr().try_cast(lk_types[fname])
        lookup_key = fname
    else:
        filtered = filtered.withColumn(
            "_tkey", F.struct(*[F.col(f).alias(f"k{i}") for i, (_, f) in enumerate(join_pairs)])
        )
        event_key = F.struct(
            *[v.expr().try_cast(lk_types[f]).alias(f"k{i}") for i, (v, f) in enumerate(join_pairs)]
        )
        lookup_key = "_tkey"

    spec = EnrichSpec(
        event_key=event_key,
        lookup_key=lookup_key,
        fields=fields,
        docinfo_fields=docinfo_fields or {},
        aggregation_fields=aggregation_fields or {},
        result_size=size,
        sort=eff_sort,
        enable_sort=bool(eff_sort),
        broadcast=broadcast,
        **enrich_opts,
    )
    return Enricher(spec).apply(events, filtered)


def _theta_enrich(
    events: DataFrame,
    lookup: DataFrame,
    join_pairs: list,
    theta: list,
    fields: dict[str, str],
    docinfo_fields: dict[str, str],
    size: int,
    sort: list[tuple[str, str]],
    event_id: str,
    broadcast: bool,
) -> DataFrame:
    """Per-event inequality predicates: broadcast theta-join + regroup.

    The one template shape that cannot be answered by per-key
    pre-aggregation (a different hit set per event even for equal join
    keys). Cost model: one broadcast join (no shuffle of events) + one
    shuffle to regroup hits per event + one shuffle-join back — only
    paid when the template demands it, and the lookup side was already
    shrunk by the static pushdown.
    """
    from logstash_filter_elasticsearch_spark.operators.enrich import (
        extract_hits,
        hits_comparator,
    )

    need_roots: dict[str, None] = {}
    for p in list(fields) + list(docinfo_fields) + [s for s, _ in sort]:
        need_roots.setdefault(field_ref_to_path(p).split(".")[0], None)
    for node in theta:
        for f in _node_fields(node):
            need_roots.setdefault(f.split(".")[0], None)
    for _, f in join_pairs:
        need_roots.setdefault(f.split(".")[0], None)

    lk = lookup.select(
        *[F.col(c).alias(f"_lk_{c}") for c in lookup.columns if c in need_roots]
    )
    if broadcast:
        lk = F.broadcast(lk)

    def lk_res(f: str) -> Column:
        parts = field_ref_to_path(f).split(".")
        c = F.col(f"_lk_{parts[0]}")
        for p in parts[1:]:
            c = c[p]
        return c

    cond = F.lit(True)
    for val, f in join_pairs:
        expr = val.expr()
        cond = cond & expr.eqNullSafe(lk_res(f)) & expr.isNotNull()
    for node in theta:
        cond = cond & to_column(node, lk_res)

    # keep all event columns visible to the condition; Catalyst prunes
    # the unused ones after the groupBy below
    joined = events.join(lk, cond, "inner")
    hit_struct = F.struct(
        *[F.col(f"_lk_{r}").alias(r) for r in need_roots if f"_lk_{r}" in joined.columns]
    )
    grouped = joined.groupBy(event_id).agg(
        F.count(F.lit(1)).alias("_total_hits"),
        F.collect_list(hit_struct).alias("_hits_all"),
    )
    hits = F.col("_hits_all")
    if sort:
        hits = F.expr(f"array_sort(_hits_all, {hits_comparator(sort)})")
    grouped = grouped.withColumn("_hits", F.slice(hits, 1, size)).drop("_hits_all")
    for src, dest in {**fields, **docinfo_fields}.items():
        grouped = grouped.withColumn(dest, extract_hits(src))
    grouped = grouped.drop("_hits")

    out = events.join(grouped, on=event_id, how="left")
    out = out.withColumn("_meta_total_hits", F.coalesce("_total_hits", F.lit(0)))
    out = out.withColumn("matched", F.col("_meta_total_hits") > 0)
    return out.drop("_total_hits")


def _node_fields(node) -> list[str]:
    if isinstance(
        node, (Term, Terms, Range, Exists, Wildcard, Match, Prefix, Regexp, Fuzzy)
    ):
        return [node.field]
    if isinstance(node, Bool):
        out: list[str] = []
        for c in node.children:
            out.extend(_node_fields(c))
        return out
    return []
