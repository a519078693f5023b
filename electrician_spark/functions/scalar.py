"""Scalar function pack — the reference's transformer vocabulary as
JVM-side Column expressions (never row-at-a-time Python; SURVEY §2.10).

Covers: keyword filter/classifier/tagger (the Feedback pipeline,
example/conduit_example/chain/main.go:21-59) and the
``{field}`` key-template expansion used by the Kafka/S3 writers
(adapter/kafkaclient/templates.go:9-60). Hashing and JSON are Spark
builtins (``F.sha2``, ``F.to_json``, ``F.get_json_object``).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F


def contains_any(col: Column, keywords: list[str]) -> Column:
    """True when any keyword occurs in the text — the reference's
    negativeFilter shape (chain/main.go:21-30) expressed as a single
    codegen'd boolean expression."""
    cond = F.lit(False)
    for kw in keywords:
        cond = cond | col.contains(kw)
    return cond


def classify(col: Column, rules: list[tuple[str, str]], default: str = "General") -> Column:
    """First-match keyword classifier with a default bucket — the
    feedback classifier (chain/main.go:32-47) as a when/otherwise chain."""
    expr = None
    for kw, label in rules:
        branch = F.when(col.contains(kw), F.lit(label))
        expr = branch if expr is None else expr.when(col.contains(kw), F.lit(label))
    return (expr.otherwise(F.lit(default))) if expr is not None else F.lit(default)


def tag_when(tags_col: Column, cond: Column, tag: str) -> Column:
    """Append a tag when a condition holds — the sentiment tagger
    (chain/main.go:49-59): array_union keeps tags unique."""
    return F.when(cond, F.array_union(tags_col, F.array(F.lit(tag)))).otherwise(tags_col)


_TEMPLATE_RE = re.compile(r"\{([A-Za-z_][A-Za-z0-9_]*)\}")


def expand_template(template: str) -> Column:
    """Expand ``{field}`` placeholders against row columns — the Kafka
    key/header template engine (adapter/kafkaclient/templates.go:9-60)
    compiled to one concat expression (codegen'd, no UDF)."""
    parts: list[Column] = []
    pos = 0
    for m in _TEMPLATE_RE.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos : m.start()]))
        parts.append(F.col(m.group(1)).cast("string"))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)
