"""Count the engine's settable options.

An option is a parameter with a default value (positional or keyword-
only, private functions included) or a public dataclass field with a
default, anywhere under h3_rs_spark/. Required parameters and fields
are not options: every caller has to choose them.

    python tools/count_options.py          # prints the count
    python tools/count_options.py --list   # one line per option, then the count
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _is_dataclass(node: ast.ClassDef) -> bool:
    return any(
        getattr(d.func if isinstance(d, ast.Call) else d, "id", None)
        == "dataclass"
        for d in node.decorator_list
    )


def options(package: Path = ROOT / "h3_rs_spark") -> list[str]:
    """`path:line owner(name)` for every option in the package."""
    out = []
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package.parent)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                pos = a.posonlyargs + a.args
                named = pos[len(pos) - len(a.defaults):] + [
                    k for k, d in zip(a.kwonlyargs, a.kw_defaults)
                    if d is not None
                ]
                out += [f"{rel}:{p.lineno} {node.name}({p.arg})" for p in named]
            elif isinstance(node, ast.ClassDef) and _is_dataclass(node):
                out += [
                    f"{rel}:{s.lineno} {node.name}({s.target.id})"
                    for s in node.body
                    if isinstance(s, ast.AnnAssign)
                    and s.value is not None
                    and not s.target.id.startswith("_")
                ]
    return out


def main(argv: list[str]) -> None:
    found = options()
    if "--list" in argv:
        print("\n".join(found))
    print(len(found))


if __name__ == "__main__":
    main(sys.argv[1:])
