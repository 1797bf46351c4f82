"""Keep code that nothing reaches out of `biocypher_spark/`.

A top-level symbol of the package (function, class or module-level name)
stays only if a product, job, tool, the bench or the oracle harness
reaches it. The roots are `jobs/`, `tools/`, the non-test `perfbench/`
files, `bench.py`, `bench_extra.py`, `__spark_entry__.py`, the oracle
harness `biocypher_spark/queries.py` and the public API in
`biocypher_spark/__init__.py`. Tests are not roots: a symbol only a test
calls belongs under `tests/`.

The scan is by name, so it over-approximates what is reached and never
flags a used symbol. Every identifier in a reached body (names,
attributes, imported names, and the identifier-like words of string
constants, so perfbench's `module:function` hook strings count) reaches
every top-level symbol of that name. Docstrings are not uses. A reached
function, class or module-level assignment passes on the identifiers of
its whole body. Pure AST work: no Spark, no imports of the package.
"""

import ast
import functools
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "biocypher_spark"

# Kept although nothing reaches them; each reason is also in COVERAGE.md.
ALLOWED = {
    "config.read_config": "reference parity",
    "config.DEFAULTS": "reference parity",
    "config._read_yaml": "reference parity",
    "config._apply": "reference parity",
    "naming.sentencecase_to_snakecase": "reference parity",
    "similarity.ivf_assign": "reference for ivf_topk",
}

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _roots() -> list[Path]:
    files = [REPO / "bench.py", REPO / "bench_extra.py", REPO / "__spark_entry__.py",
             PKG / "queries.py", PKG / "__init__.py"]
    files += sorted((REPO / "jobs").glob("*.py")) + sorted((REPO / "tools").glob("*.py"))
    files += [p for p in sorted((REPO / "perfbench").glob("*.py"))
              if not p.name.startswith("test_")]
    return files


def _uses(node: ast.AST) -> set[str]:
    docstrings = {id(s.value) for s in ast.walk(node)
                  if isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant)}
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and id(n) not in docstrings):
            out.update(_WORD.findall(n.value))
    return out


def _symbols() -> dict[str, list[tuple[str, ast.stmt]]]:
    """name -> [(qualified name, defining statement)] over the package."""
    by_name: dict[str, list[tuple[str, ast.stmt]]] = {}
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py" and path.parent == PKG or path == PKG / "queries.py":
            continue
        parts = path.relative_to(PKG).with_suffix("").parts
        module = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [stmt.name]
            elif isinstance(stmt, ast.Assign):
                names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
            elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
                names = [stmt.target.id]
            else:
                continue
            for name in names:
                if not (name.startswith("__") and name.endswith("__")):
                    by_name.setdefault(name, []).append((f"{module}.{name}", stmt))
    return by_name


@functools.cache
def unreachable() -> dict[str, ast.stmt]:
    by_name = _symbols()
    todo: set[str] = set()
    for path in _roots():
        todo |= _uses(ast.parse(path.read_text()))
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, stmt in by_name.get(name, ()):
            todo |= _uses(stmt) - seen
    return {q: stmt for name, defs in by_name.items() if name not in seen for q, stmt in defs}


def test_every_package_symbol_is_reached_from_a_root():
    dead = unreachable()
    flagged = sorted(
        f"{q}:{s.lineno} ({s.end_lineno - s.lineno + 1} lines)"
        for q, s in dead.items() if q not in ALLOWED
    )
    assert not flagged, (
        "no product, job, tool, bench or oracle reaches these symbols; delete them, "
        "move test helpers under tests/, or allowlist them with a COVERAGE.md reason:\n  "
        + "\n  ".join(flagged)
    )


def test_allowlist_is_current_and_documented():
    dead = unreachable()
    coverage = (REPO / "COVERAGE.md").read_text()
    for qualified, reason in ALLOWED.items():
        assert qualified in dead, f"{qualified} is reached now; drop it from ALLOWED"
        name = qualified.rsplit(".", 1)[1]
        assert any(name in line and reason in line for line in coverage.splitlines()), (
            f"COVERAGE.md has no row naming {name} with the reason {reason!r}"
        )
