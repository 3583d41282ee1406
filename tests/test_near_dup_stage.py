"""The MinHash-LSH near-duplicate stage has one implementation: the md5
minhash expression is written in exactly one function of the package,
which every template, Spark exec, oracle and the streaming twin call."""

import ast
from pathlib import Path

import usls_doc_spark

PKG = Path(usls_doc_spark.__file__).parent
MINHASH = "'{j}:' || s"


def _enclosing_function(tree: ast.AST, lineno: int) -> str | None:
    funcs = [
        n for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        and n.lineno <= lineno <= n.end_lineno
    ]
    return min(funcs, key=lambda f: f.end_lineno - f.lineno).name if funcs else None


def test_minhash_expression_written_once():
    homes = []
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        if MINHASH not in src:
            continue
        tree = ast.parse(src)
        for lineno, line in enumerate(src.splitlines(), 1):
            if MINHASH in line:
                homes.append((path.relative_to(PKG).as_posix(),
                              _enclosing_function(tree, lineno)))
    assert len(homes) == 1 and homes[0][1] is not None, homes
