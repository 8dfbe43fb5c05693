"""Count Python lines by kind: code, docstring, comment, blank.

A docstring line belongs to a bare string-literal statement (module,
class and function docstrings, and string statements used as comments);
a comment line holds only a ``#`` comment; a code line is any other
non-blank line.

    python tools/loc_count.py bert_etl_spark          # totals
    python tools/loc_count.py -v bert_etl_spark       # per file
"""

from __future__ import annotations

import ast
import io
import pathlib
import sys
import tokenize


def count(src: str) -> dict[str, int]:
    lines = src.splitlines()
    kind = ["blank" if not ln.strip() else "code" for ln in lines]
    for node in ast.walk(ast.parse(src)):
        if (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
            and isinstance(node.value.value, str)
        ):
            for i in range(node.lineno - 1, node.end_lineno):
                kind[i] = "docstring"
    code_rows = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in (
            tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
            tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER,
        ):
            code_rows.update(range(tok.start[0], tok.end[0] + 1))
    for i, k in enumerate(kind):
        if k == "code" and i + 1 not in code_rows:
            kind[i] = "comment"
    return {k: kind.count(k) for k in ("code", "docstring", "comment", "blank")}


def main(argv: list[str]) -> None:
    verbose = "-v" in argv
    roots = [a for a in argv if a != "-v"] or ["."]
    total = dict.fromkeys(("code", "docstring", "comment", "blank"), 0)
    for root in roots:
        paths = [pathlib.Path(root)]
        if paths[0].is_dir():
            paths = sorted(paths[0].rglob("*.py"))
        for path in paths:
            c = count(path.read_text())
            for k, v in c.items():
                total[k] += v
            if verbose:
                print(path, " ".join(f"{k}={v}" for k, v in c.items()))
    print("total", " ".join(f"{k}={v}" for k, v in total.items()))


if __name__ == "__main__":
    main(sys.argv[1:])
