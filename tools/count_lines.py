"""Size of a Python module's code and public surface.

Usage: python tools/count_lines.py <module.py> [module.py ...]

Prints one line per module:
- lines: non-blank lines holding code, i.e. not only a comment and not
  inside a docstring (module, class or function docstrings, located
  with `ast`);
- public_functions: top-level `def`s whose name has no leading
  underscore;
- public_params: the parameters of those functions, *args/**kwargs
  included.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _docstring_lines(tree: ast.Module) -> set[int]:
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                lines.update(range(body[0].lineno, body[0].end_lineno + 1))
    return lines


def count(source: str) -> dict[str, int]:
    tree = ast.parse(source)
    code: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _NON_CODE:
            code.update(range(tok.start[0], tok.end[0] + 1))
    public = [
        n
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and not n.name.startswith("_")
    ]
    params = sum(
        len(a.posonlyargs) + len(a.args) + len(a.kwonlyargs) + (a.vararg is not None) + (a.kwarg is not None)
        for a in (f.args for f in public)
    )
    return {
        "lines": len(code - _docstring_lines(tree)),
        "public_functions": len(public),
        "public_params": params,
    }


def main(paths: list[str]) -> int:
    if not paths:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            c = count(fh.read())
        print(f"{path}: lines={c['lines']} public_functions={c['public_functions']} public_params={c['public_params']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
