"""Guard against engine code that only the tests reach.

A transitive walk over the AST: the roots are the module-level code of
`geowave_spark/` (the query registry, decorators, constants), every file
under `tools/` and `perfbench/`, `bench.py`, `__spark_entry__.py`, and the
(module, function) string table of the CLI's `_INGEST_READERS`.  A name
in reached code marks the top-level def it resolves to through the
module's own defs and its `from`-imports; `alias.attr` resolves through a
module alias, and any other `x.attr` marks every def called `attr`
(an over-approximation, so the guard never fails on a real caller).
A def that the roots do not reach fails the test unless it is in
`testing.py`, on the allow-list below, or reached from an entry on it.

Run as a script to list the defs the roots do not reach, with line
counts: `python tests/test_surface.py`.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "geowave_spark"

# Test-only defs that stay in the engine package; the helpers they call
# are kept with them.
ALLOWED = {
    # scalar references that tests compare the engine's SQL and kernels with
    "sfc/utm.py:utm_forward", "sfc/utm.py:lonlat_zone",
    "sfc/conic.py:conic_forward",
    "sfc/pseudocyl.py:sinusoidal_forward", "sfc/pseudocyl.py:equirect_forward",
    "sfc/crs.py:merc_xy", "sfc/crs.py:tile_xy",
    "sfc/grid.py:cell_to_parent",
    "raster/tiles.py:assign_plan_pdf", "raster/tiles.py:assign_plan_df",
    "raster/tiles.py:level_res", "raster/tiles.py:_resample_tile",
    "raster/codec.py:psnr", "table/images.py:hamming64",
    # fixture writers: each shares its format's constants with its reader
    "raster/geotiff.py:write_geotiff", "table/avrofmt.py:write_avro_features",
    "table/geojson.py:write_geojsonl", "table/shapefile.py:write_shapefile",
    # held until a query or the join-tier planner gives them a caller
    "agg/stats.py:bloom_filter", "agg/stats.py:bloom_might_contain",
    "agg/stats.py:recommend_salt",
}


def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _resolve_from(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


class _Module:
    def __init__(self, path: Path):
        self.path = path
        self.name = _module_name(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {
            n.name: n for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        # local name -> (module, name) for names, (module, None) for modules
        self.aliases: dict[str, tuple[str, str | None]] = {}
        for n in ast.walk(self.tree):
            if isinstance(n, ast.ImportFrom):
                src = _resolve_from(self.name, self.is_pkg, n)
                for a in n.names:
                    self.aliases[a.asname or a.name] = (src, a.name)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    if a.asname:
                        self.aliases[a.asname] = (a.name, None)
                    else:
                        top = a.name.split(".")[0]
                        self.aliases[top] = (top, None)


class _Graph:
    def __init__(self, files: list[Path]):
        self.mods = {m.name: m for m in map(_Module, files)}
        self.by_name: dict[str, list[tuple[str, str]]] = {}
        for m in self.mods.values():
            for d in m.defs:
                self.by_name.setdefault(d, []).append((m.name, d))

    def _target(self, mod: str, name: str | None) -> tuple[str, str | None]:
        """Follow a `from mod import name` to a def or a module."""
        for _ in range(10):
            if name is None:
                return mod, None
            m = self.mods.get(mod)
            if m is None:
                sub = f"{mod}.{name}"
                return (sub, None) if sub in self.mods else (mod, name)
            if name in m.defs:
                return mod, name
            if name in m.aliases:
                mod, name = m.aliases[name]
                continue
            sub = f"{mod}.{name}"
            return (sub, None) if sub in self.mods else (mod, name)
        return mod, name

    def refs(self, mod: _Module, nodes) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        for root in nodes:
            for n in ast.walk(root):
                if isinstance(n, ast.Name):
                    if n.id in mod.defs:
                        out.add((mod.name, n.id))
                    elif n.id in mod.aliases:
                        t = self._target(*mod.aliases[n.id])
                        if t[1] is not None:
                            out.add(t)
                elif isinstance(n, ast.Attribute):
                    v = n.value
                    if isinstance(v, ast.Name) and v.id in mod.aliases:
                        tm, tn = self._target(*mod.aliases[v.id])
                        if tn is None:
                            out.add(self._target(tm, n.attr))
                            continue
                    out.update(self.by_name.get(n.attr, ()))
        return out

    def reach(self, seeds: set[tuple[str, str]]) -> set[tuple[str, str]]:
        seen: set[tuple[str, str]] = set()
        todo = [s for s in seeds if s[0] in self.mods and s[1] in self.mods[s[0]].defs]
        while todo:
            key = todo.pop()
            if key in seen:
                continue
            seen.add(key)
            m = self.mods[key[0]]
            for r in self.refs(m, [m.defs[key[1]]]):
                if r[0] in self.mods and r[1] in self.mods[r[0]].defs and r not in seen:
                    todo.append(r)
        return seen


def _py(path: Path) -> list[Path]:
    return sorted(p for p in path.rglob("*.py") if "__pycache__" not in p.parts)


def _ingest_readers(graph: _Graph) -> set[tuple[str, str]]:
    cli = graph.mods[f"{PKG}.cli"]
    for n in cli.tree.body:
        if isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_INGEST_READERS" for t in n.targets
        ):
            return {
                (f"{PKG}.{e.elts[0].value}", e.elts[1].value)
                for e in n.value.values
                if isinstance(e, ast.Tuple) and isinstance(e.elts[0], ast.Constant)
                and e.elts[0].value
            }
    raise AssertionError("cli._INGEST_READERS not found")


@functools.cache
def scan() -> dict[str, list[tuple[str, str, int]]]:
    """Defs in the package that the roots do not reach, as (path, name,
    lines): "kept" (the allow-list reaches them), "test_only" (only the
    tests reach them) and "unreached"."""
    pkg = _py(REPO / PKG)
    outside = _py(REPO / "tools") + _py(REPO / "perfbench") + [
        REPO / "bench.py", REPO / "__spark_entry__.py"]
    tests = _py(REPO / "tests")
    graph = _Graph(pkg + outside + tests)
    test_mods = {_module_name(p) for p in tests}

    def seeds(mods) -> set[tuple[str, str]]:
        out = set()
        for m in mods:
            body = [n for n in m.tree.body if not isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
            # decorators and base classes run at import time
            for n in m.defs.values():
                body.extend(n.decorator_list)
                body.extend(getattr(n, "bases", []))
            out |= graph.refs(m, body)
            if not m.name.startswith(PKG):
                out |= {(m.name, d) for d in m.defs}
        return out

    roots = [m for m in graph.mods.values() if m.name not in test_mods]
    live = graph.reach(seeds(roots) | _ingest_readers(graph))
    kept = graph.reach({(f"{PKG}." + p[:-3].replace("/", "."), n)
                        for p, n in (e.split(":") for e in ALLOWED)})
    from_tests = graph.reach(seeds([graph.mods[t] for t in test_mods]))
    out: dict[str, list[tuple[str, str, int]]] = {
        "kept": [], "test_only": [], "unreached": []}
    for m in graph.mods.values():
        if not m.name.startswith(PKG):
            continue
        rel = str(m.path.relative_to(REPO / PKG))
        for name, node in m.defs.items():
            key = (m.name, name)
            if key in live:
                continue
            kind = ("kept" if key in kept else
                    "test_only" if key in from_tests else "unreached")
            out[kind].append((rel, name, node.end_lineno - node.lineno + 1))
    return out


def test_no_engine_def_is_reached_only_from_tests():
    found = scan()
    bad = [f"{p}:{n} ({kind})" for kind in ("test_only", "unreached")
           for p, n, _ in found[kind] if p != "testing.py"]
    assert not bad, (
        "defs in geowave_spark/ that no query, CLI verb, tool or benchmark "
        "reaches (delete them, or give them a caller): " + ", ".join(sorted(bad)))


def test_allow_list_names_only_test_only_defs():
    """An entry that gained a real caller, or lost its def, must leave the
    list, or it would keep a later test-only def of that name."""
    kept = {f"{p}:{n}" for p, n, _ in scan()["kept"]}
    assert ALLOWED <= kept, sorted(ALLOWED - kept)


if __name__ == "__main__":
    for kind, rows in scan().items():
        print(f"{kind}: {len(rows)} defs, {sum(r[2] for r in rows)} lines")
        for p, n, k in sorted(rows):
            print(f"  {p}:{n} {k}")
