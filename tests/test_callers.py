"""Every entry point and every option has a caller.

A Spark-free AST scan over the repo. It fails when

- a public top-level function or class in `topk_spark/` is referenced from
  `tests/` only, or from nowhere, or
- a defaulted parameter of a function in `topk_spark/` is set by no call in
  the repo (`topk_spark/`, `perfbench/`, `tests/`, `__spark_entry__.py`).

Matching is by name, so the scan errs towards "has a caller": a name used
anywhere outside `tests/` counts as a caller of every definition with that
name. A parameter counts as set by a call that names it, by a call passing
enough positional arguments to reach it, by a call with `*args`/`**kwargs`,
and by any reference to the function that is not a call (a callback whose
caller the scan cannot see). `@register`ed query functions are called
through the registry and are exempt.

Print the findings without pytest:

    python tests/test_callers.py
"""

from __future__ import annotations

import ast
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Public names that keep no caller outside tests, each with its reason.
ALLOWED_TEST_ONLY = {
    "TopKMetricsListener": "streaming progress listener the observability work builds on",
    "closer_counters": "operator-facing reader of the window closer's per-batch counters",
    "drop_expired_partitions": "S10 retention for the raw sink's event_date= layout, run by a deployment's scheduler",
    "generate_order_events": "the seeded order-event fixture generator (FIXTURES.md §1) the streaming tests feed",
    "write_bucketed": "the bucketed layout whose shuffle-free join tests/test_plans.py pins",
}

# (function, parameter) pairs that no call sets, each with its reason: the
# deployment settings nothing in the repo varies.
ALLOWED_UNSET = {
    ("start_raw_sink", "trigger_seconds"): "deployment setting: the raw sink's processing-time trigger",
}


def _sources() -> dict[str, ast.Module]:
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("topk_spark", "perfbench", "tests"):
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, top)):
            dirnames[:] = [d for d in dirnames if not d.startswith(".")]
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    out = {}
    for path in sorted(files):
        with open(path) as fh:
            out[os.path.relpath(path, ROOT)] = ast.parse(fh.read(), path)
    return out


def _is_test(rel: str) -> bool:
    return rel.startswith("tests" + os.sep)


def _callee(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _annotations(node: ast.AST) -> list[ast.AST]:
    if isinstance(node, ast.arg):
        return [node.annotation] if node.annotation else []
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        return [node.returns] if node.returns else []
    if isinstance(node, ast.AnnAssign):
        return [node.annotation]
    return []


def _is_register(dec: ast.AST) -> bool:
    return isinstance(dec, ast.Call) and _callee(dec.func) == "register"


def _is_dataclass(cls: ast.ClassDef) -> bool:
    return any(_callee(d.func if isinstance(d, ast.Call) else d) == "dataclass" for d in cls.decorator_list)


def _defaulted(fn: ast.FunctionDef, is_method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) of each defaulted
    parameter; the index counts from the first argument a caller passes."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if is_method and pos and pos[0].arg in ("self", "cls") else 0
    out = []
    for i, arg in enumerate(pos[len(pos) - len(a.defaults):], len(pos) - len(a.defaults)):
        out.append((arg.arg, i - skip))
    out += [(arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _definitions(trees):
    """(rel, name, node, defaulted params, call name) for every function in
    `topk_spark/` and every dataclass's fields (its `__init__` parameters)."""
    out = []

    def walk(rel, body, cls=None):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                call_name = cls.name if cls is not None and node.name == "__init__" else node.name
                if not any(_is_register(d) for d in node.decorator_list):
                    out.append((rel, node.name, node, _defaulted(node, cls is not None), call_name))
                walk(rel, node.body)
            elif isinstance(node, ast.ClassDef):
                if _is_dataclass(node):
                    fields = [s for s in node.body if isinstance(s, ast.AnnAssign) and isinstance(s.target, ast.Name)]
                    params = [(s.target.id, i) for i, s in enumerate(fields) if s.value is not None]
                    out.append((rel, node.name, node, params, node.name))
                walk(rel, node.body, node)
            else:
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                        walk(rel, [child], cls)
                    elif hasattr(child, "body") and isinstance(getattr(child, "body"), list):
                        walk(rel, child.body, cls)

    for rel, tree in trees.items():
        if rel.startswith("topk_spark" + os.sep):
            walk(rel, tree.body)
    return out


def scan():
    """(test-only public names, unset defaulted parameters)."""
    trees = _sources()
    calls = defaultdict(list)  # callee name -> [ast.Call]
    refs = defaultdict(set)  # name -> {(rel, lineno)} of non-call references
    uses = defaultdict(list)  # name -> [(rel, lineno)] of any reference
    for rel, tree in trees.items():
        called = set()  # ids of nodes that are called or are annotations
        for node in ast.walk(tree):
            for ann in _annotations(node):
                called.update(id(n) for n in ast.walk(ann))
            if isinstance(node, ast.Call):
                name = _callee(node.func)
                if name:
                    calls[name].append(node)
                    called.add(id(node.func))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for alias in node.names:
                    uses[alias.name].append((rel, node.lineno))
                continue
            name = _callee(node) if isinstance(node, (ast.Name, ast.Attribute)) else None
            if name is None:
                continue
            uses[name].append((rel, node.lineno))
            if id(node) not in called:
                refs[name].add((rel, node.lineno))

    test_only = []
    for rel, tree in trees.items():
        if not rel.startswith("topk_spark" + os.sep):
            continue
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.ClassDef)) or node.name.startswith("_"):
                continue
            if any(_is_register(d) for d in node.decorator_list) or node.name in ALLOWED_TEST_ONLY:
                continue
            span = range(node.lineno, node.end_lineno + 1)
            outside = [
                (r, ln) for r, ln in uses[node.name]
                if not _is_test(r) and not (r == rel and ln in span)
            ]
            if not outside:
                test_only.append(f"{rel}:{node.lineno} {node.name}")

    unset = []
    for rel, name, node, params, call_name in _definitions(trees):
        if not params:
            continue
        span = range(node.lineno, node.end_lineno + 1)
        if any(not (r == rel and ln in span) for r, ln in refs[call_name]):
            continue  # referenced as a value (a callback): its caller is not visible
        for pname, index in params:
            if (name, pname) in ALLOWED_UNSET:
                continue
            set_by = False
            for call in calls[call_name]:
                if any(k.arg is None or k.arg == pname for k in call.keywords):
                    set_by = True
                elif any(isinstance(a, ast.Starred) for a in call.args):
                    set_by = True
                elif index is not None and len(call.args) > index:
                    set_by = True
                if set_by:
                    break
            if not set_by:
                unset.append(f"{rel}:{node.lineno} {name}({pname}=)")
    return test_only, unset


def test_every_public_name_has_a_caller_outside_tests():
    test_only, _ = scan()
    assert not test_only, "public names with no caller outside tests/:\n" + "\n".join(test_only)


def test_every_defaulted_parameter_is_set_somewhere():
    _, unset = scan()
    assert not unset, "defaulted parameters no call sets:\n" + "\n".join(unset)


def test_allowlist_names_exist():
    defined = set()
    for rel, tree in _sources().items():
        if rel.startswith("topk_spark" + os.sep):
            defined.update(
                n.name for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.ClassDef))
            )
    stale = set(ALLOWED_TEST_ONLY) - defined
    stale |= {fn for fn, _ in ALLOWED_UNSET} - defined
    assert not stale, f"allowlist names no definition: {sorted(stale)}"


if __name__ == "__main__":
    test_only, unset = scan()
    print(f"# {len(test_only)} public names with no caller outside tests/")
    print("\n".join(test_only))
    print(f"# {len(unset)} defaulted parameters no call sets")
    print("\n".join(unset))
    sys.exit(1 if test_only or unset else 0)
