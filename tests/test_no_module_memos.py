"""Session-scoped state lives in `session.state(spark)`: no module under
ozone_spark/ binds a module-level empty container, which would be a
process-global memo shared by every session."""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "ozone_spark")

# filled at import, and context-scoped, respectively
ALLOWED = {"oracle._CTES", "session._shipped_contexts"}


def _is_empty_container(node: ast.expr | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    if isinstance(node, ast.List):
        return not node.elts
    if isinstance(node, ast.Call):
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
        if name.startswith("Weak"):
            return True
        return name in ("set", "dict") and not node.args and not node.keywords
    return False


def _module_statements(body: list[ast.stmt]):
    """Module-level statements, including those under a module-level
    if/try/with; function and class bodies are not module level."""
    for stmt in body:
        yield stmt
        if isinstance(stmt, (ast.If, ast.Try, ast.With)):
            for block in ("body", "orelse", "finalbody", "handlers"):
                for sub in getattr(stmt, block, []):
                    yield from _module_statements(
                        sub.body if isinstance(sub, ast.ExceptHandler)
                        else [sub])


def module_memos(root: str = PKG) -> list[str]:
    found = []
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root)[:-3].replace(os.sep, ".")
            mod = rel.removesuffix(".__init__")
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for stmt in _module_statements(tree.body):
                if isinstance(stmt, ast.Assign):
                    targets, value = stmt.targets, stmt.value
                elif isinstance(stmt, ast.AnnAssign):
                    targets, value = [stmt.target], stmt.value
                else:
                    continue
                if not _is_empty_container(value):
                    continue
                for t in targets:
                    if isinstance(t, ast.Name):
                        found.append(f"{mod}.{t.id}")
    return sorted(found)


def test_no_module_level_memo_containers():
    assert [m for m in module_memos() if m not in ALLOWED] == []


def test_guard_sees_each_container_form(tmp_path):
    (tmp_path / "m.py").write_text(
        "import weakref\n"
        "A = {}\nB: list = []\nC = set()\nD = dict()\n"
        "E = weakref.WeakKeyDictionary()\nF = weakref.WeakSet()\n"
        "if True:\n    G = {}\n"
        "H = {1: 2}\nI = set((1,))\n"
        "def f():\n    J = {}\n"
        "class K:\n    L = []\n")
    assert module_memos(str(tmp_path)) == [
        f"m.{n}" for n in "ABCDEFG"]
