"""Static locks on the engine layers, parsed with ``ast`` (no imports,
no Spark).

Every public engine function has a caller outside its own tests: a rung
reachable only from its own unit test is dead weight. It costs reading,
review and maintenance, and no catalog entry, pipeline, streaming job
or benchmark ever runs it.

No engine module keeps a process-wide driver cache: a module-level
container or memoized function outlives the SparkSession (and the py4j
gateway) that filled it, so a handle cached under one session dangles
under the next.

Storage a call pins for itself is released by ``Iteration``
(operators/iterate.py) when the call returns or raises: no other engine
module calls ``unpersist`` or an eager ``localCheckpoint``.
"""

from __future__ import annotations

import ast
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "bigdata_retailrocket_recsys_spark"
ENGINE_LAYERS = ("operators", "functions", "sources", "streaming", "pipelines")
# callers outside the package that count as real uses
EXTRA_ROOTS = ("perfbench", "scripts", "bench.py", "scale_bench.py", "__spark_entry__.py")

# name → why it stays without a non-test caller
ALLOWED_UNREACHED = {
    "bpe_encode": "pure-Python reference the Spark BPE is tested against",
    "avro_available": "skip probe the tests use when spark-avro is absent",
}


def _py_files(path: str):
    if path.endswith(".py"):
        yield path
        return
    for d, _, files in os.walk(path):
        yield from (os.path.join(d, f) for f in sorted(files) if f.endswith(".py"))


def _uses(tree: ast.Module):
    """(name, enclosing top-level def or None) for every Name/Attribute.
    Import aliases and docstrings are not ast.Name/ast.Attribute nodes,
    so neither counts as a use."""
    for top in tree.body:
        owner = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            else None
        )
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                yield node.id, owner
            elif isinstance(node, ast.Attribute):
                yield node.attr, owner


@pytest.mark.fast
def test_every_public_engine_function_is_reached():
    defs = {}  # name → defining files
    used = {}  # name → set of (file, enclosing def)
    roots = [os.path.join(ROOT, PKG)] + [os.path.join(ROOT, r) for r in EXTRA_ROOTS]
    for root in roots:
        for path in _py_files(root):
            rel = os.path.relpath(path, ROOT)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), rel)
            for name, owner in _uses(tree):
                used.setdefault(name, set()).add((rel, owner))
            layer = rel.split(os.sep)[1] if rel.startswith(PKG + os.sep) else None
            if layer not in ENGINE_LAYERS:
                continue
            for top in tree.body:
                if isinstance(
                    top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ) and not top.name.startswith("_"):
                    defs.setdefault(top.name, set()).add(rel)
    unreached = sorted(
        f"{'/'.join(sorted(files))}:{name}"
        for name, files in defs.items()
        if name not in ALLOWED_UNREACHED
        and not used.get(name, set()) - {(f, name) for f in files}
    )
    assert not unreached, (
        f"{len(unreached)} public engine functions have no caller outside "
        "their own tests — retire them or wire them in:\n  "
        + "\n  ".join(unreached)
    )


def _is_empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "set")
        and not node.args
        and not node.keywords
    )


def _is_memo_decorator(node: ast.expr) -> bool:
    if isinstance(node, ast.Call):
        node = node.func
    if isinstance(node, ast.Attribute):
        return node.attr in ("lru_cache", "cache")
    return isinstance(node, ast.Name) and node.id in ("lru_cache", "cache")


@pytest.mark.fast
def test_no_process_wide_driver_caches_in_engine():
    found = []
    for layer in ENGINE_LAYERS:
        for path in _py_files(os.path.join(ROOT, PKG, layer)):
            rel = os.path.relpath(path, ROOT)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), rel)
            for top in tree.body:
                if isinstance(top, ast.Assign) and _is_empty_container(top.value):
                    found += [f"{rel}:{ast.unparse(t)}" for t in top.targets]
                elif isinstance(top, ast.AnnAssign) and _is_empty_container(top.value):
                    found.append(f"{rel}:{ast.unparse(top.target)}")
                elif isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    if any(_is_memo_decorator(d) for d in top.decorator_list):
                        found.append(f"{rel}:{top.name}")
    assert not found, (
        "module-level driver caches outlive the session that filled them — "
        "scope them to the call or the session:\n  " + "\n  ".join(sorted(found))
    )


def _is_pin_release_or_eager_checkpoint(node: ast.AST) -> bool:
    if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
        return False
    if node.func.attr == "unpersist":
        return True
    eager = [a for a in node.args[:1]] + [
        k.value for k in node.keywords if k.arg == "eager"
    ]
    return node.func.attr == "localCheckpoint" and any(
        isinstance(e, ast.Constant) and e.value is True for e in eager
    )


@pytest.mark.fast
def test_pins_go_through_iteration():
    """A hand-written unpersist runs only on the path its author wrote:
    a raising job skips it and the pin stays for the whole session."""
    owner = os.path.join(PKG, "operators", "iterate.py")
    found = []
    for layer in ENGINE_LAYERS:
        for path in _py_files(os.path.join(ROOT, PKG, layer)):
            rel = os.path.relpath(path, ROOT)
            if rel == owner:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), rel)
            found += [
                f"{rel}:{node.lineno}:{node.func.attr}"
                for node in ast.walk(tree)
                if _is_pin_release_or_eager_checkpoint(node)
            ]
    assert not found, (
        "pin call-scoped storage through operators/iterate.Iteration "
        "(it.cache / it.checkpoint / it.result):\n  " + "\n  ".join(sorted(found))
    )


# the attributes that start, await or spawn a session for a stream
_STREAM_STARTS = {"writeStream", "awaitTermination", "newSession"}


@pytest.mark.fast
def test_streams_start_through_the_streaming_package():
    """Every stream starts in ``streaming/__init__.py``, in the caller's
    stream session: a query started anywhere else runs in the caller's
    session, with its shuffle width as state-store width and whatever
    confs the runner sets left behind in it."""
    owner = os.path.join(PKG, "streaming", "__init__.py")
    # Python micro-batch sources cannot run Trigger.AvailableNow (Spark
    # takes one batch and stops), so the generator polls its own
    # processing-time query to exhaustion — in the stream session
    poller = os.path.join(PKG, "sources", "generator.py")
    found = []
    for layer in ENGINE_LAYERS + ("plans",):
        for path in _py_files(os.path.join(ROOT, PKG, layer)):
            rel = os.path.relpath(path, ROOT)
            if rel == owner:
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), rel)
            names = {}  # enclosing top-level def → names it uses
            for name, owner_def in _uses(tree):
                names.setdefault(owner_def, set()).add(name)
            found += [
                f"{rel}:{owner_def}"
                for owner_def, used in names.items()
                if used & _STREAM_STARTS
                and not (rel == poller and "stream_session" in used)
            ]
    assert not found, (
        f"{len(found)} definitions start a stream themselves; build it on "
        "streaming.stream_session and run it with "
        "streaming.run_available_now:\n  " + "\n  ".join(sorted(found))
    )
