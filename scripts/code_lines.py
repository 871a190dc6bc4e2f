"""Count code lines in a Python package: every line that holds a token,
excluding blank lines, comment-only lines and docstrings (a string
literal that is a whole statement).

Run: python scripts/code_lines.py [path ...]

Each path is a .py file or a directory (counted recursively); one count
per path is printed, then the total when more than one path is given.
With no path, the package directory is counted.
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


def path_lines(path: Path) -> int:
    files = [path] if path.is_file() else sorted(path.rglob("*.py"))
    return sum(code_lines(p.read_text()) for p in files)


def main() -> int:
    paths = [Path(a) for a in sys.argv[1:]] or [Path("sentiment_analysis_vector_search_spark")]
    missing = [str(p) for p in paths if not p.exists()]
    if missing:
        print(f"no such path: {', '.join(missing)}", file=sys.stderr)
        return 2
    counts = [path_lines(p) for p in paths]
    if len(paths) == 1:
        print(counts[0])
        return 0
    for p, n in zip(paths, counts):
        print(f"{n}\t{p}")
    print(f"{sum(counts)}\ttotal")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
