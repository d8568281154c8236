"""The one SQL lexer behind every text rewrite.

Flink 1.11 has a single SQL front door (flink-sql-parser's Calcite
lexer); this engine's compatibility layer is a set of text rewrites in
front of Spark's parser (``ddl``, ``group_windows``, ``sql_compat``,
``streaming/sql_over``, ``table_env.execute_script`` and
MATCH_RECOGNIZE).  They all read the same token stream from here, so a
quote, comment or paren means the same thing to every rewrite and to
the Spark parser downstream.

Token rules follow Spark's ``SqlBaseLexer``:

- ``str``: ``'...'`` and ``"..."`` with backslash escapes and
  doubled-quote escapes, plus the raw ``R'...'`` form (no escapes).
  The backslash rule is unconditional because Spark's lexer applies it
  in both ``escapedStringLiterals`` modes.
- ``ident``: ```...``` identifiers with the doubled-backtick escape.
- ``comment``: ``--`` to end of line (a backslash-newline continues it)
  and ``/* */``, which nests; an unclosed one runs to the end.
- ``hint``: the ``/*+`` that opens a hint and the ``*/`` that closes
  it.  A hint is not a comment: its body is lexed as code.
- ``word``: a run of word characters (keywords, names, numbers).
  ``Lexed.keywords`` keeps the words that can be keywords: all but
  those written right after a ``.``.
- ``punct``: any other single character, including the quote that
  opens an unterminated literal (Spark lexes it the same way).

Every token carries its nesting depth.  ``(`` and ``)`` nest; ``<`` and
``>`` nest only in type strings, where ``<`` directly follows ARRAY,
MAP, ROW or MULTISET.  An opener and its closer carry the depth outside
them, the tokens between one more.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from functools import lru_cache
from typing import NamedTuple

_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+)
      | (?P<comment>--(?:\\\n|[^\r\n])*+)
      | (?P<block>/\*(?!\+))
      | (?P<hint>/\*\+|\*/)
      | (?P<str>[Rr]'[^']*'|[Rr]"[^"]*"
               |'(?:[^'\\]|\\.|'')*'|"(?:[^"\\]|\\.|"")*")
      | (?P<ident>`(?:[^`]|``)*`)
      | (?P<word>\w+)
      | (?P<punct>.)""",
    re.DOTALL | re.VERBOSE,
)
_BLOCK_EDGE_RE = re.compile(r"/\*(?!\+)|\*/")
_TYPE_WORDS = {"ARRAY", "MAP", "ROW", "MULTISET"}
_OPAQUE = {"str", "ident", "comment"}


class Tok(NamedTuple):
    kind: str
    start: int
    end: int
    text: str
    depth: int


def _block_end(text: str, start: int) -> int:
    """End of the (nesting) bracketed comment opening at ``start``."""
    depth = 0
    for m in _BLOCK_EDGE_RE.finditer(text, start):
        depth += 1 if m.group() == "/*" else -1
        if depth == 0:
            return m.end()
    return len(text)


def _tokens(text: str) -> list[Tok]:
    toks: list[Tok] = []
    stack: list[str] = []
    prev = ""  # upper-cased text of the previous code token
    pos, n = 0, len(text)
    while pos < n:
        m = _TOKEN_RE.match(text, pos)
        kind, end = m.lastgroup, m.end()
        if kind == "ws":
            pos = end
            continue
        if kind == "block":
            kind, end = "comment", _block_end(text, pos)
        t = text[pos:end]
        depth = len(stack)
        if kind == "punct":
            if t == "(" or (t == "<" and prev in _TYPE_WORDS):
                stack.append(t)
            elif t == ")" and "(" in stack:
                while stack.pop() != "(":
                    pass  # an unclosed '<' ends with its paren
                depth = len(stack)
            elif t == ">" and stack and stack[-1] == "<":
                stack.pop()
                depth = len(stack)
            elif t == ";":  # a statement end closes whatever is open
                stack.clear()
                depth = 0
        toks.append(Tok(kind, pos, end, t, depth))
        if kind != "comment":
            prev = t.upper()
        pos = end
    return toks


class Lexed:
    """A lexed SQL text: its tokens plus the queries rewrites ask."""

    def __init__(self, text: str):
        self.text = text
        self.toks = tuple(_tokens(text))  # shared by every cache hit
        self._starts = [t.start for t in self.toks]
        # a word right after a '.' is a qualified name's part (the
        # ``group`` of ``src.group``), never a keyword
        self.keywords = tuple(
            t for p, t in zip((None, *self.toks), self.toks)
            if t.kind == "word"
            and not (p and p.text == "." and p.end == t.start))

    def is_code(self, pos: int) -> bool:
        """True unless ``pos`` lies in a string literal or a comment, or
        inside a backtick identifier past its opening backtick (a match
        starting AT the backtick is a quoted name, which stays
        rewritable)."""
        i = bisect_right(self._starts, pos) - 1
        if i < 0 or pos >= self.toks[i].end:
            return True  # whitespace between tokens
        t = self.toks[i]
        return t.kind not in _OPAQUE or (t.kind == "ident" and pos == t.start)

    def _parts(self, lo: int, hi: int, depth: int, sep: str) -> list[str]:
        """Text of toks[lo:hi] cut at ``sep`` tokens at ``depth``:
        stripped, empty parts dropped, comments replaced by a space."""
        out: list[str] = []
        buf: list[str] = []
        a = self.toks[lo - 1].end if lo else 0
        for t in self.toks[lo:hi]:
            if t.depth == depth and t.text.upper() == sep:
                out.append("".join(buf) + self.text[a:t.start])
                buf, a = [], t.end
            elif t.kind == "comment":
                buf += [self.text[a:t.start], " "]
                a = t.end
        b = self.toks[hi].start if hi < len(self.toks) else len(self.text)
        out.append("".join(buf) + self.text[a:b])
        return [p for p in (x.strip() for x in out) if p]

    def split(self, sep: str) -> list[str]:
        """Top-level split on ``,``, ``;`` or the keyword ``AND``."""
        return self._parts(0, len(self.toks), 0, sep)

    def call(self, open_idx: int) -> tuple[list[str], int]:
        """``(args, close_idx)`` for the balanced paren block opening at
        ``open_idx``: its top-level comma-separated arguments and the
        offset of the matching ``)``."""
        i = bisect_right(self._starts, open_idx) - 1
        if i < 0 or self.toks[i].start != open_idx or self.toks[i].text != "(":
            raise ValueError(f"no '(' token at offset {open_idx}")
        depth = self.toks[i].depth
        for j in range(i + 1, len(self.toks)):
            t = self.toks[j]
            if t.depth == depth and t.text == ")":
                return self._parts(i + 1, j, depth + 1, ","), t.start
        raise ValueError("unbalanced parentheses in call argument list")


lex = lru_cache(maxsize=64)(Lexed)
