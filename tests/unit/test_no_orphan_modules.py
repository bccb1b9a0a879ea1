"""Every module under deduce_spark/ has an importer outside tests/, and
every public function or class under deduce_spark/spark/ has a reader
outside tests/.

A package module or operator that only its own unit tests reach is code
nothing runs: the driver contract, the jobs, the benchmark and the tools
never call it.  Engine-free: sources are read with ``ast``, nothing is
imported.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
ENTRY_FILES = ("__spark_entry__.py", "bench.py", "bench_extra.py")
CODE_DIRS = ("deduce_spark", "jobs", "perfbench", "tools")

# public names kept without a non-test reader, each for a stated reason
KEPT_UNREAD = {
    "bpe_train": "trained the frozen _BPE_MERGES the scored "
                 "bpe_token_counts_docs query applies",
    "hll_estimate": "driver-side estimate over hll_registers' exact table; "
                    "the float result the integer sketch exists to feed",
    "token_count": "single-metric reference for textstats_all "
                   "(TestTextstatsFused compares the fused pass to it)",
    "quality_score": "single-metric reference for textstats_all "
                     "(TestTextstatsFused)",
    "lang_id": "single-metric reference for textstats_all "
               "(TestTextstatsFused)",
    "fingerprint_md5": "single-metric reference for textstats_all "
                       "(TestTextstatsFused)",
}


def _sources() -> list[Path]:
    return [REPO / f for f in ENTRY_FILES] + [
        p
        for d in CODE_DIRS
        for p in (REPO / d).rglob("*.py")
        if "tests" not in p.relative_to(REPO).parts
    ]


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


class _Readers(ast.NodeVisitor):
    """Names a file reads as a ``Name``, an ``Attribute`` or an import,
    leaving out a definition's mentions of its own name (recursion)."""

    def __init__(self) -> None:
        self.names: set[str] = set()
        self._defining: list[str] = []

    def _read(self, name: str) -> None:
        if name not in self._defining:
            self.names.add(name)

    def _definition(self, node) -> None:
        self._defining.append(node.name)
        self.generic_visit(node)
        self._defining.pop()

    visit_FunctionDef = visit_AsyncFunctionDef = visit_ClassDef = _definition

    def visit_Name(self, node: ast.Name) -> None:
        self._read(node.id)

    def visit_Attribute(self, node: ast.Attribute) -> None:
        self._read(node.attr)
        self.generic_visit(node)

    def visit_ImportFrom(self, node: ast.ImportFrom) -> None:
        for a in node.names:
            self._read(a.name)


def test_every_package_module_has_a_non_test_importer():
    imported: set[str] = set()
    for src in _sources():
        own = _module_name(src)
        imported |= {n for n in _imported_names(src) if n != own}
    modules = {
        _module_name(p)
        for p in (REPO / "deduce_spark").rglob("*.py")
        if p.name != "__init__.py"
    }
    orphans = sorted(modules - imported)
    assert not orphans, f"modules only tests import: {orphans}"


def test_every_public_spark_operator_has_a_non_test_reader():
    readers = _Readers()
    for src in _sources():
        readers.visit(ast.parse(src.read_text(), str(src)))
    orphans = sorted(
        f"{p.stem}.{node.name}"
        for p in (REPO / "deduce_spark" / "spark").rglob("*.py")
        for node in ast.parse(p.read_text(), str(p)).body
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        )
        and not node.name.startswith("_")
        and not node.name.endswith("_sql")  # DuckDB reference twins
        and node.name not in KEPT_UNREAD
        and node.name not in readers.names
    )
    assert not orphans, f"public names only tests read: {orphans}"
