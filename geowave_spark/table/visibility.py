"""Row/field-level visibility (authorization) filtering.

Reference semantics:

- ``core/store/.../data/visibility/VisibilityExpression.java:54-150`` — an
  expression is auth labels combined with ``&``/``|`` and parentheses,
  folded STRICTLY left-to-right with no operator precedence
  (``a|b&c`` == ``(a|b)&c``); the empty expression is public; whitespace is
  stripped; a row is visible iff the expression evaluates true under the
  query's auth set (``query/filter/ClientVisibilityFilter.java:30-38``).
- ``data/visibility/JsonFieldLevelVisibilityHandler.java:40-90`` — per-field
  visibility from a JSON object mapping field names (or regexes; exact name
  first, then first regex match in order) to expressions.
- ``statistics/index/DifferingVisibilityCountStatistic.java`` — visibility
  cardinality statistics.

Spark-first design: the auth set is a query constant and the visibility
column is low-cardinality (the reference itself caches just 50 parsed
expressions, ``VisibilityExpression.java:34-36``).  Evaluation is therefore
NOT per-row work: we aggregate the DISTINCT expressions (partial-agg
combines map-side, so the shuffle is O(labels), not O(rows)), parse and
evaluate each once on the driver, and filter with a codegen
``IN (<allowed>)`` predicate that the parquet scan can push down.  Zero
per-row Python anywhere.
"""
from __future__ import annotations

import re
from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A deployment with more distinct visibility expressions than this is using
# the column as data, not as labels; refuse to collect it to the driver.
MAX_DISTINCT_EXPRESSIONS = 10_000


# --------------------------------------------------------------------------
# expression evaluation (driver-side, once per distinct expression)
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"[()&|]|[^()&|\s]+")


def evaluate_expression(expression: str, auths: frozenset[str] | set[str]) -> bool:
    """Evaluate one visibility expression against an auth set.

    Mirrors ``VisibilityExpression.evaluate`` exactly: empty expression is
    public; operators fold left-to-right with equal precedence; malformed
    expressions raise ``ValueError`` (the reference raises ParseException).
    """
    expr = re.sub(r"\s+", "", expression or "")
    if not expr:
        return True
    tokens = _TOKEN_RE.findall(expr)
    val, pos = _parse(tokens, 0, auths)
    if pos != len(tokens):
        raise ValueError(f"unbalanced ')' in visibility expression {expression!r}")
    return val


def _parse(tokens: list[str], i: int, auths) -> tuple[bool, int]:
    left: bool | None = None
    op: str | None = None
    while i < len(tokens):
        t = tokens[i]
        if t == ")":
            break
        if t == "(":
            val, i = _parse(tokens, i + 1, auths)
            if i >= len(tokens) or tokens[i] != ")":
                raise ValueError("left parenthesis with no matching right parenthesis")
            i += 1
        elif t in ("&", "|"):
            if left is None:
                raise ValueError("operator with no left operand")
            if op is not None:
                raise ValueError("multiple sequential operators")
            op = t
            i += 1
            continue
        else:
            val = t in auths
            i += 1
        if left is None:
            left = val
        elif op is None:
            raise ValueError("multiple sequential operands with no operator")
        else:
            left = (left and val) if op == "&" else (left or val)
            op = None
    if left is None:
        raise ValueError("empty visibility sub-expression")
    if op is not None:
        raise ValueError("operator with no right operand")
    return left, i


def compose_visibility(expressions: Iterable[str]) -> str:
    """AND-compose per-field expressions into one row expression
    (``VisibilityComposer`` + ``addMinimalTokens`` analog: AND terms are
    flattened, OR sub-expressions stay parenthesized, duplicates dropped)."""
    tokens: list[str] = []
    seen: set[str] = set()
    for expr in expressions:
        e = re.sub(r"\s+", "", expr or "")
        if not e:
            continue
        # split top-level AND terms; keep anything containing '|' wrapped
        for term in _top_level_and_terms(e):
            if "|" in term and not term.startswith("("):
                term = f"({term})"
            if term not in seen:
                seen.add(term)
                tokens.append(term)
    return "&".join(tokens)


def _top_level_and_terms(expr: str) -> list[str]:
    terms, depth, cur = [], 0, []
    for ch in expr:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "&" and depth == 0:
            terms.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        terms.append("".join(cur))
    return terms


# --------------------------------------------------------------------------
# DataFrame operators
# --------------------------------------------------------------------------

def _allowed_expressions(df: DataFrame, vis_col: str, auths) -> tuple[list[str], bool]:
    """Distinct expressions that pass under ``auths`` (+ whether NULL passes).

    The distinct aggregate is the only distributed step; its partial agg
    collapses map-side so the shuffle carries O(distinct labels) rows.
    """
    distinct = [r[0] for r in df.select(vis_col).distinct().limit(
        MAX_DISTINCT_EXPRESSIONS + 1).collect()]
    if len(distinct) > MAX_DISTINCT_EXPRESSIONS:
        raise ValueError(
            f"{vis_col!r} has more than {MAX_DISTINCT_EXPRESSIONS} distinct "
            "visibility expressions; not a label column")
    aset = frozenset(auths)
    allowed = [e for e in distinct if e is not None and evaluate_expression(e, aset)]
    # NULL visibility == unset == public (ClientVisibilityFilter treats a
    # missing visibility as the empty expression)
    return allowed, None in distinct


def filter_visible(df: DataFrame, auths: Iterable[str],
                   vis_col: str = "visibility") -> DataFrame:
    """Keep only rows whose visibility expression passes under ``auths``.

    ``ClientVisibilityFilter`` analog.  The filter compiles to a codegen
    ``IN`` predicate on the label column — pushable to the parquet scan, so
    at 100 TB unauthorized row groups are skipped via dictionary/stats.
    """
    allowed, null_public = _allowed_expressions(df, vis_col, auths)
    cond: Column = F.col(vis_col).isin(allowed) if allowed else F.lit(False)
    if null_public:
        cond = cond | F.col(vis_col).isNull()
    return df.filter(cond)


def resolve_field_visibility(columns: Iterable[str],
                             field_vis: Mapping[str, str]) -> dict[str, str]:
    """Resolve a JSON-handler style {field-or-regex: expression} mapping to a
    concrete per-column expression map (exact name wins, then first regex
    match in mapping order — ``JsonFieldLevelVisibilityHandler.java:62-88``)."""
    out: dict[str, str] = {}
    for col in columns:
        if col in field_vis:
            out[col] = field_vis[col]
            continue
        for pat, expr in field_vis.items():
            if re.fullmatch(pat, col):
                out[col] = expr
                break
    return out


def apply_field_visibility(df: DataFrame, field_vis: Mapping[str, str],
                           auths: Iterable[str]) -> DataFrame:
    """Null out columns whose (static) visibility expression fails.

    ``FieldLevelVisibilityHandler`` with a table-constant field map: the
    pass/fail of every column is known at plan time, so this is a pure
    projection (kept column or typed NULL literal) — free under codegen.
    """
    aset = frozenset(auths)
    resolved = resolve_field_visibility(df.columns, field_vis)
    cols = []
    for f in df.schema.fields:
        expr = resolved.get(f.name, "")
        if evaluate_expression(expr, aset):
            cols.append(F.col(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)


def apply_json_field_visibility(df: DataFrame, vis_json_col: str,
                                auths: Iterable[str],
                                fields: Iterable[str]) -> DataFrame:
    """Per-ROW field visibility from a JSON column
    (``JsonFieldLevelVisibilityHandler``): each row carries
    ``{"field": "expr", ...}``; unauthorized fields become NULL.

    Spark-first: ``get_json_object`` extracts the per-field expression
    inside whole-stage codegen; the distinct expressions of each governed
    field are evaluated once on the driver and the null-out is a codegen
    ``CASE WHEN expr IN (<allowed>) OR expr IS NULL``.  Missing keys mean
    public (the handler returns null -> unconstrained).
    """
    fields = list(fields)
    out = df
    for name in fields:
        expr_col = F.get_json_object(F.col(vis_json_col), f"$.{name}")
        tag = f"__vis_{name}"
        out = out.withColumn(tag, expr_col)
    aset = frozenset(auths)
    for name in fields:
        tag = f"__vis_{name}"
        distinct = [r[0] for r in out.select(tag).distinct().limit(
            MAX_DISTINCT_EXPRESSIONS + 1).collect()]
        if len(distinct) > MAX_DISTINCT_EXPRESSIONS:
            raise ValueError(f"too many distinct visibility expressions for {name}")
        allowed = [e for e in distinct if e is not None and evaluate_expression(e, aset)]
        keep = F.col(tag).isNull() | F.col(tag).isin(allowed) if allowed else F.col(tag).isNull()
        f = next(f for f in out.schema.fields if f.name == name)
        out = out.withColumn(
            name, F.when(keep, F.col(name)).otherwise(F.lit(None).cast(f.dataType)))
    return out.drop(*[f"__vis_{n}" for n in fields])


def visibility_counts(df: DataFrame, vis_col: str = "visibility") -> DataFrame:
    """Row count per distinct visibility expression
    (``DifferingVisibilityCountStatistic``/``FieldVisibilityCountStatistic``
    analog) — one partial-agg groupBy, O(labels) shuffle."""
    return (df.groupBy(F.coalesce(F.col(vis_col), F.lit("")).alias("visibility"))
            .agg(F.count("*").alias("n_rows")))
