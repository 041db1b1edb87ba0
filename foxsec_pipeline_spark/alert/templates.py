"""Deterministic alert-body templating — the engine analog of the
reference's FreeMarker stack (`alert/TemplateManager.java`,
`alert/AlertSlack.java` createAlertBody, `alert/AlertMailer.java`
createAlertMailBody, template files under
`src/main/resources/alert/templates/`).

Design: `compile_ftlh` compiles the reference's own `.ftlh` sources.
They use a small deterministic subset of FreeMarker — line-level
`<#if k == "v">`, `<#if k != "v">`, `<#if k??>`, `<#elseif ...>`,
`<#else>`, `</#if>` (nested) and `${placeholder}` — and a template
compiles ONCE to a single Catalyst conditional-concat expression, so
rendering is a JVM-side projection over the alerts DataFrame: no
per-row Python, no UDF. Placeholders resolve to alert columns
(``alert.alertId``, ``summary`` …) or metadata map entries.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_ALERT_COLS = {
    "alert.alertId": "alert_id",
    "alert.alert_id": "alert_id",
    "alert.summary": "summary",
    "summary": "summary",
    "category": "category",
    "subcategory": "subcategory",
    "severity": "severity",
    "timestamp": "timestamp",
}

_PLACEHOLDER_RX = re.compile(r"\$\{([^}]+)\}")


def _ref(name: str) -> Column:
    col = _ALERT_COLS.get(name)
    if col is not None:
        return F.col(col).cast("string")
    return F.col("metadata").getItem(name)


# Byte-parity with the reference's own golden outputs
# (src/test/resources/testdata/templateoutput/) is asserted in
# tests/test_templates.py.
#
# Documented divergences from full FreeMarker: a `== / !=` comparison
# against a MISSING key evaluates false / true respectively instead of
# raising (FreeMarker errors on undefined variables; the reference's
# pipelines always set the compared keys, and erroring per-row inside
# a projection is not a thing a column expression should do).

_FTL_DIRECTIVE_RX = re.compile(r"^\s*<(#if|#elseif|#else|/#if)(\s+[^>]*?|/)?>\s*$")
_FTL_EQ_RX = re.compile(r'^(\S+)\s*(==|!=)\s*"([^"]*)"$')
_FTL_DEF_RX = re.compile(r"^(\S+)\s*\?\?$")


@dataclass
class _FtlIf:
    # branches: [(condition-string | None for <#else>, child nodes)]
    branches: list[tuple[str | None, list]] = field(default_factory=list)


def parse_ftlh(text: str) -> list:
    """Parse the deterministic FreeMarker subset into an AST of
    str (verbatim content incl. newline) and `_FtlIf` nodes.

    Directive-only LINES vanish with their newline (FreeMarker's
    default white-space handling for tag lines — confirmed against the
    reference's golden outputs); all other lines are content."""
    root: list = []
    stack: list[_FtlIf] = []

    def _bucket() -> list:
        if not stack:
            return root
        return stack[-1].branches[-1][1]

    for line in text.splitlines(keepends=True):
        m = _FTL_DIRECTIVE_RX.match(line)
        if m is None:
            _bucket().append(line)
            continue
        kind = m.group(1)
        arg = (m.group(2) or "").strip().rstrip("/").strip()
        if kind == "#if":
            node = _FtlIf(branches=[(arg, [])])
            _bucket().append(node)
            stack.append(node)
        elif kind == "#elseif":
            if not stack:
                raise ValueError("elseif outside if")
            stack[-1].branches.append((arg, []))
        elif kind == "#else":
            if not stack:
                raise ValueError("else outside if")
            stack[-1].branches.append((None, []))
        else:  # /#if
            if not stack:
                raise ValueError("unbalanced </#if>")
            stack.pop()
    if stack:
        raise ValueError("unterminated <#if>")
    return root


def _ftl_cond(expr: str) -> Column:
    m = _FTL_EQ_RX.match(expr)
    if m:
        key, op, value = m.groups()
        if op == "==":
            return _ref(key) == F.lit(value)
        # missing key counts as "not equal" (renders the section)
        return F.coalesce(_ref(key) != F.lit(value), F.lit(True))
    m = _FTL_DEF_RX.match(expr)
    if m:
        return _ref(m.group(1)).isNotNull()
    raise ValueError(f"unsupported FreeMarker condition: {expr!r}")


def _ftl_text_col(chunk: str) -> list[Column]:
    parts: list[Column] = []
    pos = 0
    for m in _PLACEHOLDER_RX.finditer(chunk):
        if m.start() > pos:
            parts.append(F.lit(chunk[pos : m.start()]))
        parts.append(F.coalesce(_ref(m.group(1)).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(chunk):
        parts.append(F.lit(chunk[pos:]))
    return parts


def _ftl_nodes_col(nodes: list) -> Column:
    parts: list[Column] = []
    buf: list[str] = []

    def _flush():
        if buf:
            parts.extend(_ftl_text_col("".join(buf)))
            buf.clear()

    for nd in nodes:
        if isinstance(nd, str):
            buf.append(nd)
            continue
        _flush()
        col = F.lit("")
        for cond, children in reversed(nd.branches):
            child = _ftl_nodes_col(children)
            col = child if cond is None else F.when(_ftl_cond(cond), child).otherwise(col)
        parts.append(col)
    _flush()
    return F.concat(*parts) if parts else F.lit("")


def compile_ftlh(text: str) -> Column:
    """FreeMarker-subset template source -> one string Column."""
    return _ftl_nodes_col(parse_ftlh(text))


def render_ftlh(alerts: DataFrame, text: str, out_col: str = "body") -> DataFrame:
    """Render a .ftlh template source over an alerts DataFrame."""
    return alerts.withColumn(out_col, compile_ftlh(text))
