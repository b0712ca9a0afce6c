"""One decode path and one chunk cutter: chunks are rebuilt from block
rows by ``decode.assemble_chunks`` alone, and cut from rows by
``encode.encode_part`` alone. Separate copies of those loops drifted
apart and gave silent wrong answers (a chunk split across files decoded
as two chunks; a copied block file read twice; a compaction that
ignored ``chunk_bytes``), so these tests scan the package source and
fail on a new one: a call of ``chunks.decode_column_chunk`` outside the
listed functions, a ``groupBy("part_id", "chunk_id")`` over block rows,
or a call of ``encode._encode_chunk_to_rows`` outside the cutter.

Block files are read through the Snapshot's file groups alone: a Spark
read of ``blocks/`` outside ``decode.blocks_of`` (the public Spark view
kept for tools and probes) fails, and so does any call of
``committed_blocks`` from the package.

Byte-string codecs have one table, ``codecs/core.BYTES_CODECS``: a second
codec table or an encoder/decoder under ``operators/`` fails.

Rows are filtered in one place, ``decode.exact_mask`` called from the
chunk assembler: a tombstone anti-join, a pyarrow comparison in the
local reader or a Spark filter or join in ``decode_table`` fails.

Engine frames start on the JVM: a ``parallelize`` call in the package,
or a ``createDataFrame`` of a Python list in the engine's read path,
fails.

Block rows are written in one place, ``encode.commit_blocks``: a Spark
write whose target names ``blocks`` anywhere else fails. Tombstones are
written in one place, ``deletes.commit_tombstones``: a Spark write, a
``pq.write_table`` or a ``copy_files`` in any other function that deals
with deletes or tombstones fails."""
from __future__ import annotations

import ast
import pathlib
import re

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


def test_no_spark_read_of_blocks():
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fns, call in _calls(ast.parse(path.read_text())):
            where = f"{rel}:{call.lineno} in {'.'.join(fns) or '<module>'}"
            name, text = _name(call.func), ast.unparse(call)
            if (name == "parquet" and ".read" in ast.unparse(call.func)
                    and "blocks" in text
                    and not (rel == "operators/decode.py"
                             and fns[-1:] == ("blocks_of",))):
                stray.append(f"{where}: {text}")
            if name in ("committed_blocks", "_committed_blocks"):
                stray.append(f"{where}: {text}")
    assert not stray, (
        "block rows read through Spark outside decode.blocks_of:\n"
        + "\n".join(stray)
    )


def test_one_bytes_codec_table():
    """Byte-string codecs have one home, ``codecs/core.py``. The engine
    once kept its own lengths+data copy of every codec beside the list
    codecs there, so the stored format of string and binary chunks was
    defined twice and two copies had to agree byte for byte. Fails on a
    dict literal keyed ``"bytes_zstd"`` (a codec table) outside
    ``codecs/core.py``, or on a function named ``*_encode``/``*_decode``
    in a module under ``operators/``."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Dict) and rel != "codecs/core.py"
                    and any(isinstance(k, ast.Constant)
                            and k.value == "bytes_zstd" for k in node.keys)):
                stray.append(f"{rel}:{node.lineno}: bytes codec table")
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and rel.startswith("operators/")
                    and node.name.endswith(("_encode", "_decode"))):
                stray.append(f"{rel}:{node.lineno}: {node.name}")
    assert not stray, (
        "byte-string codec outside codecs/core.py:\n" + "\n".join(stray)
    )


def test_one_row_filter():
    """The rows a read returns are decided once, in the chunk assembler.
    The Spark reader once anti-joined tombstones and filtered with a
    Spark Column while the local reader filtered with its own pyarrow
    mask, and the two disagreed on NaN, -0.0, null ``in`` members and
    date literals. Fails on a ``"left_anti"`` constant in the readers'
    modules, a ``pc`` comparison in ``localio.py``, or a ``.filter`` or
    ``.join`` call in ``decode.decode_table``."""
    stray = []
    for rel in ("operators/decode.py", "operators/deletes.py", "localio.py"):
        tree = ast.parse((PKG / rel).read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and node.value == "left_anti":
                stray.append(f"{rel}:{node.lineno}: left_anti join")
        for fns, call in _calls(tree):
            where = f"{rel}:{call.lineno} in {'.'.join(fns) or '<module>'}"
            name = _name(call.func)
            if (rel == "localio.py" and isinstance(call.func, ast.Attribute)
                    and ast.unparse(call.func.value) == "pc"
                    and (name in ("equal", "is_in")
                         or name.startswith(("less", "greater")))):
                stray.append(f"{where}: {ast.unparse(call)}")
            if (rel == "operators/decode.py" and "decode_table" in fns
                    and name in ("filter", "join")
                    # a str.join builds the schema string
                    and not isinstance(call.func.value, ast.Constant)):
                stray.append(f"{where}: {ast.unparse(call)}")
    assert not stray, (
        "rows filtered outside decode.exact_mask:\n" + "\n".join(stray)
    )


# modules whose DataFrames are built from Arrow tables, never from lists
ARROW_FRAMES = ("session.py", "operators/decode.py",
                "operators/metadata_agg.py")


def test_frames_start_on_the_jvm():
    """A DataFrame made from Python rows is a Python RDD: every task of a
    job over it first runs a Python worker pass that turns pickled rows
    into Spark rows. ``session.lpt_frame`` built every decode, compact
    and direct-encode frame that way; it now ships its bins as one Arrow
    table, a JVM LocalRelation. Fails on a ``parallelize`` call anywhere
    in the package, and on a ``createDataFrame`` whose first argument is
    a list display, a list comprehension or a ``sorted``/``list`` call
    in the modules of ``ARROW_FRAMES``."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fns, call in _calls(ast.parse(path.read_text())):
            where = f"{rel}:{call.lineno} in {'.'.join(fns) or '<module>'}"
            name = _name(call.func)
            first = call.args[0] if call.args else None
            if name == "parallelize" or (
                    name == "createDataFrame" and rel in ARROW_FRAMES
                    and (isinstance(first, (ast.List, ast.ListComp))
                         or (isinstance(first, ast.Call)
                             and _name(first.func) in ("sorted", "list")))):
                stray.append(f"{where}: {ast.unparse(call)}")
    assert not stray, (
        "engine frame built from Python rows:\n" + "\n".join(stray)
    )


def _spark_write(call: ast.Call) -> bool:
    """Whether ``call`` is part of a Spark writer chain (``.write`` or
    ``.writeTo``)."""
    func, names = call.func, set()
    while isinstance(func, (ast.Attribute, ast.Call)):
        if isinstance(func, ast.Attribute):
            names.add(func.attr)
            func = func.value
        else:
            func = func.func
    return bool({"write", "writeTo"} & names)


def test_one_block_writer():
    """Rows appended to ``blocks/`` count only once lineage commits their
    run, and ``encode.commit_blocks`` is the one writer that does both. A
    sink that appended block rows with Spark outside it wrote rows no
    read would ever return. Fails on a call in a Spark writer chain
    (``.write``/``.writeTo``) whose arguments name ``blocks``, outside
    ``encode.commit_blocks``."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fns, call in _calls(ast.parse(path.read_text())):
            args = call.args + [k.value for k in call.keywords]
            if (_spark_write(call)
                    and any("blocks" in ast.unparse(a) for a in args)
                    and not (rel == "operators/encode.py"
                             and "commit_blocks" in fns)):
                stray.append(f"{rel}:{call.lineno} in "
                             f"{'.'.join(fns) or '<module>'}: "
                             f"{ast.unparse(call)}")
    assert not stray, (
        "block rows written outside encode.commit_blocks:\n"
        + "\n".join(stray)
    )


def _bindings(fn: ast.AST) -> dict[str, list[str]]:
    """Each local name of ``fn`` -> the source of what it is assigned or
    iterated over."""
    out: dict[str, list[str]] = {}
    for n in ast.walk(fn):
        pairs = ([(t, n.value) for t in n.targets]
                 if isinstance(n, ast.Assign)
                 else [(n.target, n.iter)]
                 if isinstance(n, (ast.For, ast.comprehension)) else [])
        for target, value in pairs:
            for name in ast.walk(target):
                if isinstance(name, ast.Name):
                    out.setdefault(name.id, []).append(ast.unparse(value))
    return out


def _resolved(text: str, bindings: dict[str, list[str]]) -> str:
    """``text`` followed by the sources of the names it uses, and of the
    names those use, transitively."""
    out, todo, seen = [], [text], set()
    while todo:
        t = todo.pop()
        out.append(t)
        for name in set(re.findall(r"[A-Za-z_]\w*", t)) - seen:
            seen.add(name)
            todo += bindings.get(name, [])
    return "\n".join(out)


_TOMBSTONE_TARGET = re.compile(r"\bdeletes/|tombstone")


def test_one_tombstone_writer():
    """A delete run counts once its ``_SUCCESS`` marker exists, and
    ``deletes.commit_tombstones`` is the one writer that lays down a
    run's rows and then that marker. Delete, merge and re-encode each
    wrote tombstones their own way (a Spark job commit, a staged Spark
    write read back, restamped and renamed, a per-run file copy). Fails
    on a Spark writer chain, a ``write_table`` or a ``copy_files`` call
    whose arguments, with the local names they use resolved to what the
    function assigns them, name a ``deletes/`` dir or a tombstone,
    outside ``deletes.commit_tombstones``."""
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for fn in ast.walk(ast.parse(path.read_text())):
            if (not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                    or (rel, fn.name) == ("operators/deletes.py",
                                          "commit_tombstones")):
                continue
            bindings = _bindings(fn)
            for call in ast.walk(fn):
                if not (isinstance(call, ast.Call) and (
                        _spark_write(call)
                        or _name(call.func) in ("write_table",
                                                "copy_files"))):
                    continue
                args = " ".join(ast.unparse(a) for a in call.args + [
                    k.value for k in call.keywords])
                if _TOMBSTONE_TARGET.search(_resolved(args, bindings)):
                    stray.append(f"{rel}:{call.lineno} in {fn.name}: "
                                 f"{ast.unparse(call)}")
    assert not stray, (
        "tombstones written outside deletes.commit_tombstones:\n"
        + "\n".join(sorted(set(stray)))
    )
