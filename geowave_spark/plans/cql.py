"""(E)CQL filter strings compiled to Spark SQL predicates.

The reference accepts OGC CQL filter text as a first-class query surface:
GeoTools ECQL is parsed and walked by
`core/geotime/.../filter/expression/CQLToGeoWaveFilterVisitor.java` (in
/root/reference) into its own filter expression tree, covering comparisons,
BETWEEN / LIKE / IS NULL / IN, AND / OR / NOT, INCLUDE / EXCLUDE, the
spatial predicates (BBOX, INTERSECTS, CONTAINS, WITHIN, DISJOINT, CROSSES,
TOUCHES, OVERLAPS, DWITHIN) and the temporal ones (BEFORE, AFTER, DURING).

Spark-first re-expression: compile the same grammar subset directly to a
Spark SQL boolean expression string.  Scalar predicates become plain SQL
(Catalyst pushes them into the parquet scan); spatial predicates become the
registered `Geom*` UDF surface (`functions/register.py`), which means a
compiled CQL filter composes with `plans/sqlrewrite.spatial_sql` and gets
the same cover-join / grid-disk index acceleration as hand-written SQL —
the Spark twin of the reference's `OptimalCQLQuery.java` (constraint
extraction from the CQL tree to drive the index scan).

No GeoTools, no ANTLR: the grammar subset is small enough for a hand-rolled
tokenizer + recursive-descent parser (~100 lines), and emitting SQL text
keeps the whole filter inside whole-stage codegen except for the Geom* UDF
calls the rewriter is expected to replace.
"""

from __future__ import annotations

import re

_GEOM_TYPES = ("MULTIPOLYGON", "MULTILINESTRING", "MULTIPOINT",
               "POLYGON", "LINESTRING", "POINT")

_SPATIAL = {"INTERSECTS": "GeomIntersects", "CONTAINS": "GeomContains",
            "WITHIN": "GeomWithin", "DISJOINT": "GeomDisjoint",
            "CROSSES": "GeomCrosses", "TOUCHES": "GeomTouches",
            "OVERLAPS": "GeomOverlaps", "EQUALS": "GeomEquals"}

_KEYWORDS = ({"AND", "OR", "NOT", "BETWEEN", "LIKE", "IS", "NULL", "IN",
              "BBOX", "DWITHIN", "BEFORE", "AFTER", "DURING",
              "INCLUDE", "EXCLUDE", "TRUE", "FALSE"}
             | set(_SPATIAL))

_TOKEN_RE = re.compile(r"""
    \s*(?:
      (?P<wkt>(?:MULTIPOLYGON|MULTILINESTRING|MULTIPOINT|POLYGON|LINESTRING|POINT)\s*\()
    | (?P<num>-?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)
    | (?P<str>'(?:[^']|'')*')
    | (?P<op><>|<=|>=|=|<|>)
    | (?P<punct>[(),])
    | (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    )""", re.VERBOSE)


class CQLError(ValueError):
    pass


def _tokenize(text: str) -> list[tuple[str, str]]:
    """-> [(kind, value)]; kind in {wkt,num,str,op,punct,kw,ident}."""
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise CQLError(f"CQL: cannot tokenize at: {text[pos:pos + 30]!r}")
        pos = m.end()
        if m.lastgroup == "wkt":
            # capture the full WKT literal: balance parens from the '('
            depth, start = 1, pos
            while pos < len(text) and depth:
                if text[pos] == "(":
                    depth += 1
                elif text[pos] == ")":
                    depth -= 1
                pos += 1
            if depth:
                raise CQLError("CQL: unbalanced parens in geometry literal")
            out.append(("wkt", (m.group("wkt") + text[start:pos]).strip()))
        elif m.lastgroup == "word":
            w = m.group("word")
            out.append(("kw", w.upper()) if w.upper() in _KEYWORDS
                       else ("ident", w))
        else:
            out.append((m.lastgroup, m.group(m.lastgroup)))
    return out


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]],
                 geom_map: dict[str, str]):
        self.toks = tokens
        self.i = 0
        self.geom_map = geom_map

    def peek(self, kind=None, value=None):
        if self.i >= len(self.toks):
            return None
        k, v = self.toks[self.i]
        if kind is not None and k != kind:
            return None
        if value is not None and v != value:
            return None
        return v

    def take(self, kind=None, value=None):
        v = self.peek(kind, value)
        if v is None:
            got = self.toks[self.i] if self.i < len(self.toks) else "<end>"
            raise CQLError(f"CQL: expected {value or kind}, got {got}")
        self.i += 1
        return v

    # expr := and_expr (OR and_expr)*
    def expr(self) -> str:
        parts = [self.and_expr()]
        while self.peek("kw", "OR"):
            self.take()
            parts.append(self.and_expr())
        return parts[0] if len(parts) == 1 else "(" + " OR ".join(parts) + ")"

    def and_expr(self) -> str:
        parts = [self.not_expr()]
        while self.peek("kw", "AND"):
            self.take()
            parts.append(self.not_expr())
        return parts[0] if len(parts) == 1 else "(" + " AND ".join(parts) + ")"

    def not_expr(self) -> str:
        if self.peek("kw", "NOT"):
            self.take()
            return f"(NOT {self.not_expr()})"
        return self.primary()

    def _geom_expr(self) -> str:
        """A geometry operand: an attribute (mapped through geom_map) or a
        WKT literal."""
        if self.peek("wkt"):
            return "'" + self.take("wkt") + "'"
        attr = self.take("ident")
        if attr not in self.geom_map:
            raise CQLError(
                f"CQL: geometry attribute {attr!r} has no mapping — pass "
                f"geom_map={{{attr!r}: '<SQL geometry expression>'}}")
        return self.geom_map[attr]

    def primary(self) -> str:
        if self.peek("punct", "("):
            self.take()
            e = self.expr()
            self.take("punct", ")")
            return f"({e})"
        if self.peek("kw", "INCLUDE"):
            self.take()
            return "true"
        if self.peek("kw", "EXCLUDE"):
            self.take()
            return "false"
        if self.peek("kw", "BBOX"):
            self.take()
            self.take("punct", "(")
            g = self._geom_expr()
            coords = []
            for _ in range(4):
                self.take("punct", ",")
                coords.append(float(self.take("num")))
            self.take("punct", ")")
            return self._bbox_pred(g, *coords)
        kw = self.peek("kw")
        if kw in _SPATIAL:
            self.take()
            self.take("punct", "(")
            a = self._geom_expr()
            self.take("punct", ",")
            b = self._geom_expr()
            self.take("punct", ")")
            return f"{_SPATIAL[kw]}({a}, {b})"
        if kw == "DWITHIN":
            self.take()
            self.take("punct", "(")
            a = self._geom_expr()
            self.take("punct", ",")
            b = self._geom_expr()
            self.take("punct", ",")
            r = float(self.take("num"))
            self.take("punct", ",")
            units = self.take("ident").lower()
            self.take("punct", ")")
            if units in ("meters", "metres", "m"):
                return f"GeodesicWithinDistance({a}, {b}, {r / 1000.0})"
            if units in ("kilometers", "km"):
                return f"GeodesicWithinDistance({a}, {b}, {float(r)})"
            if units != "degrees":
                raise CQLError(f"CQL: DWITHIN units {units!r} not supported")
            return f"GeomWithinDistance({a}, {b}, {r})"
        # attribute predicate
        attr = self.take("ident")
        if self.peek("kw", "IS"):
            self.take()
            neg = bool(self.peek("kw", "NOT")) and bool(self.take())
            self.take("kw", "NULL")
            return f"({attr} IS {'NOT ' if neg else ''}NULL)"
        if self.peek("kw", "NOT"):
            self.take()
            if self.peek("kw", "BETWEEN"):
                return f"(NOT {self._between(attr)})"
            if self.peek("kw", "LIKE"):
                return f"(NOT {self._like(attr)})"
            if self.peek("kw", "IN"):
                return f"(NOT {self._in(attr)})"
            raise CQLError("CQL: NOT must precede BETWEEN/LIKE/IN here")
        if self.peek("kw", "BETWEEN"):
            return self._between(attr)
        if self.peek("kw", "LIKE"):
            return self._like(attr)
        if self.peek("kw", "IN"):
            return self._in(attr)
        if self.peek("kw", "BEFORE"):
            self.take()
            return f"({attr} < {self._ts_literal()})"
        if self.peek("kw", "AFTER"):
            self.take()
            return f"({attr} > {self._ts_literal()})"
        if self.peek("kw", "DURING"):
            self.take()
            lo = self._ts_literal()
            self.take("punct", ",")  # ECQL uses 'ts1/ts2'; accept comma too
            hi = self._ts_literal()
            return f"({attr} >= {lo} AND {attr} <= {hi})"
        op = self.take("op")
        rhs = self._literal()
        return f"({attr} {op} {rhs})"

    def _bbox_pred(self, g, x0, y0, x1, y1) -> str:
        wkt = (f"POLYGON(({x0} {y0}, {x1} {y0}, {x1} {y1}, "
               f"{x0} {y1}, {x0} {y0}))")
        return f"GeomIntersects({g}, '{wkt}')"

    def _between(self, attr: str) -> str:
        self.take("kw", "BETWEEN")
        lo = self._literal()
        self.take("kw", "AND")
        hi = self._literal()
        return f"({attr} BETWEEN {lo} AND {hi})"

    def _like(self, attr: str) -> str:
        self.take("kw", "LIKE")
        pat = self.take("str")
        return f"({attr} LIKE {pat})"

    def _in(self, attr: str) -> str:
        self.take("kw", "IN")
        self.take("punct", "(")
        vals = [self._literal()]
        while self.peek("punct", ","):
            self.take()
            vals.append(self._literal())
        self.take("punct", ")")
        return f"({attr} IN ({', '.join(vals)}))"

    def _literal(self) -> str:
        if self.peek("num") is not None:
            return self.take("num")
        if self.peek("str") is not None:
            return self.take("str")
        if self.peek("kw", "TRUE"):
            self.take()
            return "true"
        if self.peek("kw", "FALSE"):
            self.take()
            return "false"
        raise CQLError(f"CQL: expected literal at token {self.i}")

    def _ts_literal(self) -> str:
        s = self.take("str")
        return f"TIMESTAMP {s}"


def cql_to_sql(cql: str, geom_map: dict[str, str] | None = None) -> str:
    """Compile a CQL filter string to a Spark SQL boolean expression.

    ``geom_map`` maps CQL geometry attribute names to SQL geometry
    expressions — typically ``{"geom": "GeomPoint(lon, lat)"}`` for a
    lon/lat point table, mirroring how the reference binds the CQL
    geometry attribute to the adapter's geometry field
    (`CQLQueryFilter.java`).
    """
    p = _Parser(_tokenize(cql), geom_map or {})
    out = p.expr()
    if p.i != len(p.toks):
        raise CQLError(f"CQL: trailing tokens from {p.toks[p.i:][:4]}")
    return out
