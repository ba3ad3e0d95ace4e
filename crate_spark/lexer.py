"""The engine's one string-literal lexer (the reference's
``SqlBaseLexer`` plus ``libs/sql-parser Literals.java``).

``mask`` makes one left-to-right pass over a statement and decides
what is a string literal: ``'…'`` with ``''`` escapes, ``E'…'`` escape
strings and ``$tag$…$tag$`` dollar quotes. Each literal is replaced by
a ``__LIT_n__`` token and kept in standard ``'…'`` form, so later
passes can match operators and clauses without ever matching text
inside a literal. ``"…"`` quoted identifiers are skipped whole and stay
in the masked text. ``find_close`` and ``split_top`` walk masked text.
"""

from __future__ import annotations

import re

#: a ``"…"`` quoted identifier (``""`` escapes a quote)
QUOTED_IDENT = r'"(?:[^"]|"")*"'

#: one literal's mask token
_TOKEN_RE = re.compile(r"__LIT_(\d+)__")

_LEX_RE = re.compile(
    rf"(?P<ident>{QUOTED_IDENT})"
    # the E must start a token: right after a quote it is the tail of
    # an ordinary literal ('E'), after a word char part of a name. The
    # check looks back from after the E so that every branch starts
    # with a fixed character, which lets the scan skip ahead.
    r"|[Ee](?<![\w'][Ee])'(?P<esc>(?:[^'\\]|''|\\.)*)'"
    # no nesting; the body may span lines (lexical-structure.rst:26-44)
    r"|\$(?P<tag>\w*)\$(?P<dollar>(?s:.*?))\$(?P=tag)\$"
    r"|'(?:[^']|'')*'"
)

_C_ESCAPES = {"b": "\b", "f": "\f", "n": "\n", "r": "\r", "t": "\t"}


def _decode_escapes(body: str) -> str:
    """The text of ``E'<body>'`` per ``Literals.replaceEscapedChars``
    (Literals.java:44-140): an UNRECOGNIZED escape drops the backslash
    and keeps the char (``E'Te\\%tch'`` is ``'Te%tch'``, so LIKE sees the
    % wildcard); octal starts 0-3 (``\\4x`` falls to the drop rule);
    ``\\x`` without hex digits emits 'x'; a malformed ``\\u``/``\\U``
    raises ValueError like the reference lexer."""
    out, i = [], 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            n = body[i + 1]
            if n in _C_ESCAPES:
                out.append(_C_ESCAPES[n])
                i += 2
                continue
            if n in ("\\", "'"):
                out.append(n)
                i += 2
                continue
            if n in ("u", "U"):
                width = 4 if n == "u" else 8
                u = re.match(r"[0-9A-Fa-f]{%d}" % width, body[i + 2 :])
                if not u:
                    raise ValueError(
                        "Invalid Unicode escape in escaped string "
                        "literal (Literals.java ESCAPED_UNICODE)"
                    )
                out.append(chr(int(u.group(0), 16)))
                i += 2 + width
                continue
            if n == "x":
                x = re.match(r"[0-9A-Fa-f]{1,2}", body[i + 2 :])
                if x:
                    out.append(chr(int(x.group(0), 16)))
                    i += 2 + len(x.group(0))
                else:
                    # hex sequence unmatched: original char
                    out.append("x")
                    i += 2
                continue
            o = re.match(r"[0-3][0-7]{0,2}", body[i + 1 :])
            if o:
                out.append(chr(int(o.group(0), 8)))
                i += 1 + len(o.group(0))
                continue
            # unrecognized escape: drop the backslash, the next char
            # is processed normally
            i += 1
            continue
        if c == "'" and i + 1 < len(body) and body[i + 1] == "'":
            # doubled quote inside the raw body is ONE quote char
            out.append("'")
            i += 2
            continue
        out.append(c)
        i += 1
    return "".join(out)


def mask(sql: str) -> tuple[str, list[str]]:
    """Replace every string literal in ``sql`` by ``__LIT_n__``;
    ``literals[n]`` is that literal in standard ``'…'`` form."""
    literals: list[str] = []

    def _token(m: re.Match) -> str:
        if m.group("ident") is not None:
            return m.group(0)
        if m.group("esc") is not None:
            lit = quote(_decode_escapes(m.group("esc")))
        elif m.group("tag") is not None:
            lit = quote(m.group("dollar"))
        else:
            lit = m.group(0)
        literals.append(lit)
        return f"__LIT_{len(literals) - 1}__"

    return _LEX_RE.sub(_token, sql), literals


def unmask(text: str, literals: list[str]) -> str:
    """Put ``literals`` back in one pass: text already put back is
    never scanned again, so a literal that reads like a token survives."""
    return _TOKEN_RE.sub(lambda m: literals[int(m.group(1))], text)


def quote(text: str) -> str:
    """``text`` as a standard ``'…'`` literal."""
    return "'" + text.replace("'", "''") + "'"


def unquote(text: str) -> str:
    """The string a standard ``'…'`` literal denotes; other text loses
    its surrounding quote characters (``"name"``, bare words)."""
    text = text.strip()
    if len(text) > 1 and text[0] == text[-1] == "'":
        return text[1:-1].replace("''", "'")
    return text.strip("'\"")


def find_close(s: str, open_idx: int) -> int:
    """Index of the ')' matching s[open_idx] == '('; -1 if unbalanced."""
    depth = 0
    for i in range(open_idx, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return -1


def split_top(s: str) -> list[str]:
    """Split masked text at commas outside (), [] and {}; parts are
    stripped and a blank last part is dropped."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i].strip())
            start = i + 1
    tail = s[start:].strip()
    if tail:
        parts.append(tail)
    return parts
