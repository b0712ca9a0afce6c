"""One decode path and one chunk cutter: chunks are rebuilt from block
rows by ``decode.assemble_chunks`` alone, and cut from rows by
``encode.encode_part`` alone. Separate copies of those loops drifted
apart and gave silent wrong answers (a chunk split across files decoded
as two chunks; a copied block file read twice; a compaction that
ignored ``chunk_bytes``), so these tests scan the package source and
fail on a new one: a call of ``chunks.decode_column_chunk`` outside the
listed functions, a ``groupBy("part_id", "chunk_id")`` over block rows,
or a call of ``encode._encode_chunk_to_rows`` outside the cutter."""
from __future__ import annotations

import ast
import pathlib

import cuda_float_compress_spark

PKG = pathlib.Path(cuda_float_compress_spark.__file__).parent

# (module, function) allowed to call decode_column_chunk: the chunk
# assembler, and reencode_columns, which re-encodes single blocks
DECODERS = {
    ("operators/decode.py", "assemble_chunks"),
    ("operators/maintain.py", "reencode_columns"),
}


def _calls(tree: ast.AST):
    """(enclosing functions, call) for every call in ``tree``."""
    def visit(node, fns):
        for ch in ast.iter_child_nodes(node):
            inner = (fns + (ch.name,)
                     if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef))
                     else fns)
            if isinstance(ch, ast.Call):
                yield fns, ch
            yield from visit(ch, inner)

    yield from visit(tree, ())


def _name(func: ast.expr) -> str:
    return (func.attr if isinstance(func, ast.Attribute)
            else getattr(func, "id", ""))


def test_one_chunk_assembler():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fns, call in _calls(ast.parse(path.read_text())):
            where = f"{rel}:{call.lineno} in {'.'.join(fns) or '<module>'}"
            name = _name(call.func)
            if (name == "decode_column_chunk"
                    and not any((rel, fn) in DECODERS for fn in fns)):
                stray.append(f"{where}: decode_column_chunk")
            keys = {a.value for a in call.args
                    if isinstance(a, ast.Constant)}
            if name == "groupBy" and {"part_id", "chunk_id"} <= keys:
                stray.append(f"{where}: {ast.unparse(call)}")
    assert not stray, (
        "chunk decode outside decode.assemble_chunks:\n" + "\n".join(stray)
    )


def test_one_chunk_cutter():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fns, call in _calls(ast.parse(path.read_text())):
            if (_name(call.func) == "_encode_chunk_to_rows"
                    and not (rel == "operators/encode.py"
                             and "encode_part" in fns)):
                stray.append(f"{rel}:{call.lineno} in "
                             f"{'.'.join(fns) or '<module>'}")
    assert not stray, (
        "chunk cut outside encode.encode_part:\n" + "\n".join(stray)
    )
