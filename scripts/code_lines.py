"""Count code lines in a Python package: every line that holds a token,
excluding blank lines, comment-only lines and docstrings (a string
literal that is a whole statement).

Run: python scripts/code_lines.py [package_dir]
"""

from __future__ import annotations

import io
import sys
import tokenize
from pathlib import Path

_LAYOUT = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT, tokenize.ENDMARKER}


def code_lines(src: str) -> int:
    toks = [
        t
        for t in tokenize.generate_tokens(io.StringIO(src).readline)
        if t.type not in (tokenize.COMMENT, tokenize.NL)
    ]
    lines: set[int] = set()
    stmt_start = True
    for i, t in enumerate(toks):
        if t.type in _LAYOUT:
            stmt_start = stmt_start or t.type != tokenize.ENDMARKER
            continue
        docstring = (
            stmt_start
            and t.type == tokenize.STRING
            and toks[i + 1].type in (tokenize.NEWLINE, tokenize.ENDMARKER)
        )
        stmt_start = False
        if not docstring:
            lines.update(range(t.start[0], t.end[0] + 1))
    return len(lines)


def main() -> int:
    root = Path(sys.argv[1] if len(sys.argv) > 1 else "sentiment_analysis_vector_search_spark")
    print(sum(code_lines(p.read_text()) for p in sorted(root.rglob("*.py"))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
