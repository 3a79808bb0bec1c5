"""Graphite-style glob → regex compilation, plus the "current and next
level" hierarchical-browse regex.

Semantics follow the reference's POSIX-glob-with-braces compiler
(/root/reference/blueflood-core/.../utils/GlobPattern.java, itself the
public Hadoop GlobPattern algorithm) and the next-level expansion in
/root/reference/blueflood-elasticsearch/.../AbstractElasticIO.java:286-326.

These are driver-side pure functions: the compiled regex is embedded as a
literal into an `rlike` filter, so on the Spark path the matching runs
JVM-side inside whole-stage codegen — no UDF.

A catalog search answered on the driver (catalog.py) matches the same
regex string with Python's `re` instead, but only where the two engines
provably agree (python_matcher):
- the glob contains none of ``\\ [ ] ^ !``, so the regex is built only
  from literals (``\\.``, ``\\$``, ``\\(``, ``\\)``, ``\\|``, ``\\+`` where
  escaped), ``.``, ``.*``, ``[^.]*``, ``(a|b)``, ``{0,1}`` and the
  ``^(?:...)$`` anchors, which both engines read alike;
- no name contains a Java line terminator (``\\n``, ``\\r``, ``\\u0085``,
  ``\\u2028``, ``\\u2029``): Java's ``.`` excludes all five and its ``$``
  also matches before a final one; Python's do so only for ``\\n``.
Every other search keeps the `rlike` path.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

# regex metachars that are NOT glob special chars and must be escaped
_ESCAPE = {".", "$", "(", ")", "|", "+"}

TOKEN_SEP = r"\."
ONE_TOKEN = "[^.]*"

# glob characters that emit escapes, character classes or negation, whose
# reading may differ between Java's regex and Python's re
_JAVA_ONLY = frozenset("\\[]^!")
_LINE_TERMINATOR = re.compile("[\n\r\u0085\u2028\u2029]")


def glob_to_regex(glob: str) -> str:
    """Compile a glob (``*``, ``?``, ``[...]``, ``{a,b}``) to an (unanchored)
    regex string, mirroring GlobPattern.set()."""
    out: list[str] = []
    set_open = 0
    curly_open = 0
    i = 0
    n = len(glob)
    while i < n:
        c = glob[i]
        if c == "\\":
            i += 1
            if i >= n:
                raise ValueError(f"Missing escaped character in glob: {glob!r}")
            out.append("\\" + glob[i])
            i += 1
            continue
        if c in _ESCAPE:
            out.append("\\" + c)
        elif c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        elif c == "{":
            out.append("(")
            curly_open += 1
        elif c == ",":
            out.append("|" if curly_open > 0 else ",")
        elif c == "}":
            if curly_open > 0:
                curly_open -= 1
                out.append(")")
            else:
                out.append("}")
        elif c == "[":
            if set_open > 0:
                raise ValueError(f"Unclosed character class in glob: {glob!r}")
            set_open += 1
            out.append("[")
        elif c == "^":
            if set_open == 0:
                out.append("\\^")
            else:
                out.append("^")
        elif c == "!":
            out.append("^" if set_open > 0 and i > 0 and glob[i - 1] == "[" else "!")
        elif c == "]":
            set_open = 0
            out.append("]")
        else:
            out.append(c)
        i += 1
    if set_open > 0:
        raise ValueError(f"Unclosed character class in glob: {glob!r}")
    if curly_open > 0:
        raise ValueError(f"Unclosed group in glob: {glob!r}")
    return "".join(out)


def anchored(regex: str) -> str:
    """Full-match anchoring — Java ``matches()`` implies anchors; Spark
    ``rlike`` and DuckDB ``regexp_matches`` are substring searches."""
    return f"^(?:{regex})$"


def _capture_up_to_next_token(regex_part: str) -> str:
    # ".*" inside one glob level must not cross a "." boundary
    return regex_part.replace(".*", ONE_TOKEN)


def next_level_regex(query: str) -> str:
    """Regex matching metric names at the query's level AND one level deeper,
    for hierarchical browse (AbstractElasticIO.java:286-326).

    Example: query ``foo.bar.b*`` → ``foo\\.bar\\.b[^.]*(\\.[^.]*){0,1}``
    which matches ``foo.bar.baz`` (leaf at level) and ``foo.bar.baz.qux``
    (shows `foo.bar.baz` has a next level).
    """
    if not query:
        raise ValueError("Query(glob) string cannot be empty")
    query_regex = glob_to_regex(query)
    total_tokens = len(query.split("."))
    if total_tokens == 1:
        base = _capture_up_to_next_token(query_regex)
        return base + TOKEN_SEP + ONE_TOKEN
    parts = query_regex.split("\\.")
    base = _capture_up_to_next_token(TOKEN_SEP.join(parts[: total_tokens - 1]))
    last = _capture_up_to_next_token(parts[total_tokens - 1])
    return base + TOKEN_SEP + last + "(" + TOKEN_SEP + ONE_TOKEN + "){0,1}"


def python_matcher(glob: str, regex: str, names: Iterable[str | None]) -> re.Pattern | None:
    """`regex`, compiled from `glob`, as a Python pattern whose `search`
    gives Spark's `rlike` (Java's `find`) answer on every one of `names`;
    None when that is not proven (see the module docstring)."""
    if _JAVA_ONLY.intersection(glob) or any(n and _LINE_TERMINATOR.search(n) for n in names):
        return None
    return re.compile(regex)
