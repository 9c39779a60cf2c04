"""Count code lines: not blank, not comment-only, not docstrings.

Usage: python tools/code_lines.py PATH [PATH ...]   (files or dirs)
Prints one count per .py file, then the total.
"""

import ast
import sys
import tokenize
from pathlib import Path

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}


def code_lines(path: Path) -> int:
    src = path.read_text()
    doc = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr) \
                and isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    lines = set()
    with path.open("rb") as fh:
        for tok in tokenize.tokenize(fh.readline):
            if tok.type not in _SKIP:
                lines.update(range(tok.start[0], tok.end[0] + 1))
    return len(lines - doc)


if __name__ == "__main__":
    files = [f for a in sys.argv[1:] for f in ([Path(a)] if a.endswith(".py") else sorted(Path(a).rglob("*.py")))]
    counts = {f: code_lines(f) for f in files}
    for f, n in counts.items():
        print(f"{n:7d} {f}")
    print(f"{sum(counts.values()):7d} total")
