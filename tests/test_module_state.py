"""The package holds no module-global mutable state: no function
rebinds a module-level name with a ``global`` statement, and no
function mutates the object a module-level name holds."""

from __future__ import annotations

import ast
import pathlib

import simdgraphprocessing_spark

PACKAGE = pathlib.Path(simdgraphprocessing_spark.__file__).parent
MUTATORS = {"append", "extend", "insert", "update", "add", "setdefault", "pop", "remove", "clear"}


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE.parent), ast.parse(path.read_text(), str(path))


def test_package_has_no_global_statements():
    found = [
        f"{name}:{node.lineno}: global {', '.join(node.names)}"
        for name, tree in _modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Global)
    ]
    assert found == []


def _assigned_names(nodes) -> set[str]:
    """Names bound by assignment (or as arguments) among ``nodes``."""
    names = set()
    for node in nodes:
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            names.add(node.id)
        elif isinstance(node, ast.arg):
            names.add(node.arg)
    return names


def _mutated_name(node) -> ast.Name | None:
    """The bare name ``node`` mutates in place: ``x.append(...)`` and the
    other container mutators, or ``x[k] = ...``."""
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in MUTATORS
    ):
        target = node.func.value
    elif isinstance(node, (ast.Assign, ast.AugAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        subscripts = [t.value for t in targets if isinstance(t, ast.Subscript)]
        target = subscripts[0] if subscripts else None
    else:
        return None
    return target if isinstance(target, ast.Name) else None


def test_no_function_mutates_a_module_level_name():
    found = []
    for name, tree in _modules():
        module_names = _assigned_names(
            target
            for stmt in tree.body
            if isinstance(stmt, (ast.Assign, ast.AnnAssign))
            for target in ast.walk(stmt)
        )
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            local = _assigned_names(ast.walk(fn))
            for node in ast.walk(fn):
                target = _mutated_name(node)
                if target is not None and target.id in module_names - local:
                    found.append(f"{name}:{node.lineno}: {fn.name} mutates {target.id}")
    assert found == []


SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
ITERATION = pathlib.Path("simdgraphprocessing_spark/iteration.py")


def test_one_source_for_the_partition_count():
    """Only the layout helper (``iteration``) reads
    ``spark.sql.shuffle.partitions``; every other engine module gets its
    partition count from a ``Layout``, so a new operator cannot fall out
    of co-partitioning by sizing its exchanges from the session. The
    session builder's ``.config(...)``, which sets the cap, is a write."""
    found = []
    for name, tree in _modules():
        if name == ITERATION:
            continue
        writes = {
            id(arg)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "config"
            for arg in node.args[:1]
        }
        for node in ast.walk(tree):
            reads_conf = isinstance(node, ast.Constant) and node.value == SHUFFLE_PARTITIONS
            reads_jvm = isinstance(node, ast.Attribute) and node.attr == "numShufflePartitions"
            if (reads_conf and id(node) not in writes) or reads_jvm:
                found.append(f"{name}:{node.lineno}")
    assert found == []


def test_only_the_superstep_driver_frees_checkpoint_blocks():
    """Only ``iteration`` names ``_local_ckpt_jrdd``, the handle on a
    ``localCheckpoint``'s blocks: lineage cutting and block freeing live
    in the superstep driver, and any other module frees a leaf it built
    through ``iteration.free_leaf``."""
    found = [
        str(path.relative_to(PACKAGE.parent))
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.relative_to(PACKAGE.parent) != ITERATION
        and "_local_ckpt_jrdd" in path.read_text()
    ]
    assert found == []
