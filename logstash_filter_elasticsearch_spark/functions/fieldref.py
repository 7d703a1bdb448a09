"""Logstash field-reference / sprintf semantics as Spark expressions.

Reference behaviors re-expressed:

* ``[a][b]`` field references and dotted-path extraction
  (reference: dsl_executor.rb:110-125 ``extract_path``/``extract_value``):
  a missing path aborts the copy in Ruby; in Spark a missing struct
  field is NULL natively, callers gate on a ``matched`` flag instead.
* ``%{[field]}`` per-event string interpolation
  (reference: dsl_executor.rb:31,37 ``event.sprintf``): becomes one
  ``concat`` expression column evaluated vectorized JVM-side — the
  per-event re-render disappears into whole-stage codegen.
* dotted-key -> nested structure ``generate_nested_structure``
  (reference: esql_executor.rb:120-127) and sub-element suppression
  ``mark_sub_elements`` (reference: esql_executor.rb:136-151): both are
  plan-time schema rules here, not per-row work.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_FIELD_REF = re.compile(r"\[([^\[\],]+)\]")
_SPRINTF = re.compile(r"%\{([^}]+)\}")


def field_ref_to_path(ref: str) -> str:
    """``"[a][b]"`` -> ``"a.b"``; bare names pass through.

    Mirrors the reference's field-reference grammar
    (dsl_executor.rb:110-117) mapped onto Spark dotted column paths.
    """
    parts = _FIELD_REF.findall(ref)
    if parts:
        return ".".join(parts)
    return ref


def sprintf_expr(template: str) -> Column:
    """``"logs-%{[source]}-%{[lang]}"`` -> concat expression column.

    Reference: event.sprintf interpolation of index names / query
    strings per event (dsl_executor.rb:31,37; docs/index.asciidoc:415-422).
    A NULL field renders as the literal ``%{ref}`` token, matching
    Logstash's leave-unresolved-references-verbatim behavior.
    """
    cols: list[Column] = []
    pos = 0
    for m in _SPRINTF.finditer(template):
        if m.start() > pos:
            cols.append(F.lit(template[pos : m.start()]))
        ref = m.group(1)
        path = field_ref_to_path(ref)
        cols.append(F.coalesce(F.col(path).cast("string"), F.lit(m.group(0))))
        pos = m.end()
    if pos < len(template):
        cols.append(F.lit(template[pos:]))
    if not cols:
        return F.lit("")
    return F.concat(*cols)


def mark_sub_elements(column_names: list[str]) -> tuple[list[str], list[str]]:
    """Split columns into (kept, suppressed-sub-elements).

    A column ``a.b`` is a sub-element if a column ``a`` is also present;
    sub-elements are excluded (reference: esql_executor.rb:82-86,136-151,
    docs/index.asciidoc:198-223). Same O(N log N + N*K) prefix-set idea,
    but run once at plan time against the schema, never per row.
    """
    names = set(column_names)
    kept, suppressed = [], []
    for name in column_names:
        parts = name.split(".")
        shadowed = any(".".join(parts[:i]) in names for i in range(1, len(parts)))
        (suppressed if shadowed else kept).append(name)
    return kept, suppressed


def nest_dotted(column_names: list[str]) -> list[Column]:
    """Build nested-struct select exprs from dotted column names.

    ``['id', 'status.code', 'status.desc']`` ->
    ``[col(id), struct(code, desc) AS status]`` — the plan-time
    equivalent of ``generate_nested_structure``
    (reference: esql_executor.rb:120-127). Shadowed sub-elements are
    suppressed first (esql_executor.rb:82-86).
    """
    kept, _ = mark_sub_elements(column_names)
    tree: dict = {}
    for name in kept:
        node = tree
        parts = name.split(".")
        for p in parts[:-1]:
            node = node.setdefault(p, {})
        node[parts[-1]] = name

    def build(node, prefix: str) -> Column:
        if isinstance(node, str):
            leaf = F.col(f"`{node}`") if "." in node else F.col(node)
            return leaf.alias(node.split(".")[-1])
        fields = [build(v, f"{prefix}.{k}" if prefix else k) for k, v in sorted(node.items())]
        return F.struct(*fields).alias(prefix.split(".")[-1])

    return [build(v, k) for k, v in sorted(tree.items())]
