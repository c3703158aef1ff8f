"""Every script under ``tools/`` has a caller, and runs from any checkout.

A tool is kept only while something runs it: a test or ``bench.py``
imports or launches it, or a command in ``README.md`` or the verify
SKILL names it.  A tool nothing runs rots unnoticed."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TOOLS = sorted(p.stem for p in (ROOT / "tools").glob("*.py") if p.stem != "__init__")
COMMAND_DOCS = [ROOT / "README.md", ROOT / ".claude" / "skills" / "verify" / "SKILL.md"]


def _imported_or_run(tree: ast.AST) -> set[str]:
    """Tools a module imports (``from tools.x import``, ``import
    tools.x``) or names as a script path in a string that is not a
    docstring or other bare expression statement."""
    bare = {id(n.value) for n in ast.walk(tree) if isinstance(n, ast.Expr)}
    found: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ImportFrom) and n.module:
            parts = n.module.split(".")
            if parts[0] == "tools":
                found |= {parts[1]} if len(parts) > 1 else {a.name for a in n.names}
        elif isinstance(n, ast.Import):
            found |= {
                a.name.split(".")[1] for a in n.names if a.name.startswith("tools.")
            }
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in bare
        ):
            found |= {
                t for t in TOOLS if n.value == f"{t}.py" or f"tools/{t}.py" in n.value
            }
    return found


def _named_in_commands(text: str) -> set[str]:
    """Tools a fenced code block runs as ``python[3] tools/x.py`` or
    ``python[3] -m tools.x``."""
    blocks = re.findall(r"```[^\n]*\n(.*?)```", text, re.S)
    return {
        m
        for block in blocks
        for m in re.findall(r"python3?\s+(?:-m\s+)?tools[/.](\w+)", block)
    }


def test_every_tool_has_a_caller():
    called: set[str] = set()
    for path in [*sorted((ROOT / "tests").glob("*.py")), ROOT / "bench.py"]:
        called |= _imported_or_run(ast.parse(path.read_text()))
    for doc in COMMAND_DOCS:
        if doc.exists():
            called |= _named_in_commands(doc.read_text())
    assert sorted(set(TOOLS) - called) == []


def test_no_tool_puts_a_fixed_path_on_sys_path():
    """A tool derives the checkout from ``__file__``: a literal path on
    ``sys.path`` makes a tool imported from a second checkout (as in
    parent/change A/Bs) silently run the other tree's engine."""
    offenders = []
    for name in TOOLS:
        tree = ast.parse((ROOT / "tools" / f"{name}.py").read_text())
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in ("insert", "append")
                and ast.unparse(n.func.value) == "sys.path"
                and any(
                    isinstance(a, ast.Constant) and isinstance(a.value, str)
                    for a in n.args
                )
            ):
                offenders.append(f"{name}.py:{n.lineno}")
    assert offenders == []


def test_queries_md_is_the_generated_index():
    from tools.dump_queries import render

    assert (ROOT / "QUERIES.md").read_text() == render()
