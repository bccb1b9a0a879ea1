"""Every module under deduce_spark/ has an importer outside tests/.

A package module that only its own unit tests import is code nothing
runs: the driver contract, the jobs, the benchmark and the tools never
reach it.  Engine-free: imports are read with ``ast``, nothing is
imported.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
ENTRY_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
CODE_DIRS = ("deduce_spark", "jobs", "perfbench", "tools")


def _module_name(path: Path) -> str:
    parts = path.relative_to(REPO).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_names(path: Path) -> set[str]:
    """Dotted names a file imports; ``from a import b`` yields both
    ``a`` and ``a.b``, since ``b`` may be a submodule."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def test_every_package_module_has_a_non_test_importer():
    sources = [REPO / f for f in ENTRY_FILES] + [
        p
        for d in CODE_DIRS
        for p in (REPO / d).rglob("*.py")
        if "tests" not in p.relative_to(REPO).parts
    ]
    imported: set[str] = set()
    for src in sources:
        own = _module_name(src)
        imported |= {n for n in _imported_names(src) if n != own}
    modules = {
        _module_name(p)
        for p in (REPO / "deduce_spark").rglob("*.py")
        if p.name != "__init__.py"
    }
    orphans = sorted(modules - imported)
    assert not orphans, f"modules only tests import: {orphans}"
