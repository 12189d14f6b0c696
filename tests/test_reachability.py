"""Every public function of the CVP modules has a caller in the package
or in perfbench: a function that only tests reach is either wired into
a CVP path or deleted. The check reads the source with ``ast``; it
starts no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "dev_dot_cvp_metadata_ingestion_spark"

CVP_MODULES = [
    *sorted(p for p in (PKG / "sources").glob("*.py") if p.name != "catalog.py"),
    PKG / "operators" / "validation.py",
    PKG / "operators" / "sequential.py",
    PKG / "operators" / "metadata.py",
    PKG / "plans" / "pipeline.py",
    PKG / "streaming" / "stream.py",
]

# reached by tests only, each waiting for the CLI to take it up or for
# its deletion
NO_CALLER_YET = {
    "csv_records": "S6 CSV input; the pipeline refuses DataType = csv",
    "audit_csv_headers": "S6 header audit; goes with CSV input",
    "static_prefix_filter": "P4 prefix filter; the CLI has no prefix option",
}


def _public_defs(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(encoding="utf-8"))
    return [
        node.name for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
    ]


def _references() -> set[tuple[str, Path, str | None]]:
    """(name, file, enclosing top-level def) for every name or attribute
    read in the package and in perfbench."""
    refs = set()
    for path in [*PKG.rglob("*.py"), *(ROOT / "perfbench").glob("*.py")]:
        for stmt in ast.parse(path.read_text(encoding="utf-8")).body:
            owner = getattr(stmt, "name", None)
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name):
                    refs.add((node.id, path, owner))
                elif isinstance(node, ast.Attribute):
                    refs.add((node.attr, path, owner))
    return refs


def test_every_cvp_function_has_a_caller():
    refs = _references()
    orphans, reached = [], []
    for module in CVP_MODULES:
        for name in _public_defs(module):
            called = any(
                ref == name and (path, owner) != (module, name)
                for ref, path, owner in refs
            )
            if called == (name in NO_CALLER_YET):
                (reached if called else orphans).append(
                    f"{module.relative_to(ROOT)}:{name}"
                )
    assert not orphans, f"reached by no package or perfbench code: {orphans}"
    # an exception that gained a caller comes off the list
    assert not reached, f"listed in NO_CALLER_YET but called: {reached}"
