"""No unreferenced top-level names in the package.

Every top-level def, class or assignment in ``landlensdb_spark/`` must be
named somewhere besides its own definition, in any ``.py`` file of the repo
(package, tests, tools, benchmarks). Decorated defs count as referenced:
the ``@query``-registered ``q_*`` functions are reached through their
decorator's registry.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "landlensdb_spark"


def _py_files() -> list[Path]:
    return [
        p
        for p in ROOT.rglob("*.py")
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]


def _top_level_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                names.append(node.name)
        elif isinstance(node, ast.Assign):
            names += [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names.append(node.target.id)
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def test_no_unreferenced_top_level_names():
    words: Counter[str] = Counter()
    for path in _py_files():
        words.update(re.findall(r"\w+", path.read_text(encoding="utf-8")))
    defs = {
        path: _top_level_names(ast.parse(path.read_text(encoding="utf-8")))
        for path in sorted(PACKAGE.rglob("*.py"))
    }
    # a name defined in several modules needs a use beyond all of its defs
    n_defs = Counter(name for names in defs.values() for name in names)
    dead = [
        f"{path.relative_to(ROOT)}: {name}"
        for path, names in defs.items()
        for name in names
        if words[name] <= n_defs[name]
    ]
    assert not dead, "unreferenced top-level names:\n" + "\n".join(dead)
