"""Regex compilation helpers for the pipeline config.

Reimplements (from observed behavior, in Python) two config-compile
steps of the reference engine:

- the verbose-regex cleaner (reference: ``config.go:151-169``,
  ``cleanSre2``): the config's human-readable multi-line regexes carry
  inline ``# comments``, arbitrary indentation whitespace, and literal
  ``\\n`` end-of-line markers; all are stripped before compilation.
- the Go date-layout -> ``strptime`` conversion (reference uses Go
  ``time.Parse`` layouts, ``datapool.go:125``; our engine runs on
  Python/pandas so layouts are translated once at config-compile time).

Everything here runs on the driver exactly once per config load. The
cleaner is the only rewrite a pattern gets: the engine's kernels and
the oracle compile the cleaned pattern as it is with Python ``re``, so
its group numbers, backreferences and conditionals stay the user's.
"""

from __future__ import annotations

import re


def clean_verbose_regex(raw: str) -> str:
    """Strip comments/whitespace from a human-readable config regex.

    Rules (matching the reference's observed behavior):

    - the pattern is split on *literal* ``\\n`` two-character markers
      (the config convention for "end of regex line");
    - on each resulting line, an unescaped ``#`` starts a comment that
      runs to the end of the line;
    - all unescaped whitespace is removed (use ``\\s`` or ``\\x20`` to
      match actual spaces).
    """
    out: list[str] = []
    for line in raw.split("\\n"):
        buf: list[str] = []
        i = 0
        n = len(line)
        while i < n:
            c = line[i]
            if c == "\\" and i + 1 < n:
                buf.append(line[i : i + 2])
                i += 2
                continue
            if c == "#":
                break  # comment to end-of-line
            if not c.isspace():
                buf.append(c)
            i += 1
        out.append("".join(buf))
    return "".join(out)


def compile_clean(raw: str) -> re.Pattern[str]:
    """Clean + compile a config regex, with a helpful error message."""
    cleaned = clean_verbose_regex(raw)
    try:
        return re.compile(cleaned)
    except re.error as exc:  # fail-fast like the reference's log.Fatalf
        raise ValueError(f"bad regex in config: {exc}\n  raw: {raw!r}\n  cleaned: {cleaned!r}") from exc


# Go reference-time layout fragments -> strptime directives, longest first.
# (Public Go time-package layout constants; the reference configs use
# e.g. "Jan  2 15:04:05" (rfc3164) and "2/Jan/2006:15:04:05 -0700".)
_GO_TOKENS: list[tuple[str, str]] = [
    ("2006", "%Y"),
    ("January", "%B"),
    ("Jan", "%b"),
    ("Monday", "%A"),
    ("Mon", "%a"),
    ("15", "%H"),
    ("01", "%m"),
    ("02", "%d"),
    ("04", "%M"),
    ("05", "%S"),
    (".000000", ".%f"),
    (".000", ".%f"),
    ("-0700", "%z"),
    ("-07:00", "%z"),
    ("Z0700", "%z"),
    ("MST", "%Z"),
    ("PM", "%p"),
    ("pm", "%p"),
    ("06", "%y"),
    ("03", "%I"),
    ("_2", "%d"),  # space-padded day; strptime tolerates the pad
    ("2", "%d"),  # bare day-of-month
    ("1", "%m"),  # bare month
]


def go_layout_to_strptime(layout: str) -> str:
    """Translate a Go time layout string into a ``strptime`` format.

    Covers the layout tokens that appear in log-date formats (month /
    day / time / year / zone). Literal text passes through; ``%`` is
    escaped. Unknown numeric runs are left as literals.
    """
    out: list[str] = []
    i = 0
    n = len(layout)
    while i < n:
        matched = False
        for tok, fmt in _GO_TOKENS:
            if layout.startswith(tok, i):
                out.append(fmt)
                i += len(tok)
                matched = True
                break
        if not matched:
            c = layout[i]
            out.append("%%" if c == "%" else c)
            i += 1
    return "".join(out)


def layout_has_year(layout: str) -> bool:
    """True if the Go layout carries a year (rfc3164 formats do not)."""
    return "2006" in layout or "06" in layout.replace("2006", "")
