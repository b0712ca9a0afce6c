"""One reader of table metadata: ``snapshot.Snapshot`` is the only module
that reads an encoded table's ``lineage/`` or ``deletes/`` dirs or lists
its ``blocks/`` files. Separate readers of those facts drifted apart and
gave silent wrong answers, so this test scans the package source and
fails on any new one. Writers of those dirs are listed by function."""
from __future__ import annotations

import ast
import pathlib
import re

import cuda_float_compress_spark

PKG = pathlib.Path(cuda_float_compress_spark.__file__).parent

# (module, function) that name lineage/ or deletes/ only to WRITE them
WRITERS = {
    ("operators/encode.py", "commit_blocks"),
    ("operators/merge.py", "merge_rows"),
    ("operators/deletes.py", "_commit_tombstones"),
}

_META_DIR = re.compile(r"(^|/)(lineage|deletes)(/|$)|blocks/\*")
_LISTERS = ("glob", "listdir", "scandir", "walk", "FileSelector")


def _metadata_sites(tree: ast.AST):
    """(function, line, what) for every non-docstring string naming a
    metadata dir and every directory listing that mentions blocks."""
    docs = {id(n.value) for n in ast.walk(tree)
            if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)}

    def visit(node, fn):
        for ch in ast.iter_child_nodes(node):
            name = (ch.name if isinstance(ch, (ast.FunctionDef,
                                               ast.AsyncFunctionDef))
                    else fn)
            if (isinstance(ch, ast.Constant) and isinstance(ch.value, str)
                    and id(ch) not in docs and _META_DIR.search(ch.value)):
                yield name, ch.lineno, repr(ch.value)
            if (isinstance(ch, ast.Call)
                    and any(k in ast.unparse(ch.func) for k in _LISTERS)
                    and "blocks" in ast.unparse(ch)):
                yield name, ch.lineno, ast.unparse(ch)
            yield from visit(ch, name)

    yield from visit(tree, "<module>")


def test_only_snapshot_reads_table_metadata():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel == "snapshot.py":
            continue
        for fn, line, what in _metadata_sites(ast.parse(path.read_text())):
            if (rel, fn) not in WRITERS:
                stray.append(f"{rel}:{line} in {fn}: {what}")
    assert not stray, (
        "table metadata read outside snapshot.Snapshot:\n" + "\n".join(stray)
    )
