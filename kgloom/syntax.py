"""The lexical layer shared by the Turtle, SPARQL and ShExML front ends.

Each front end keeps its own token regex and its own grammar; this
module holds what they share: the tokenizer loop (:func:`tokenize`),
the token cursor (:class:`Cursor`) and the one place where the
literal escape syntax and the canonical rendered form of a literal
are decided.

Escapes.  RDF 1.1 Turtle §6.4 defines the string escapes ``ECHAR``
(``\\t \\b \\n \\r \\f \\" \\' \\\\``) and the numeric escapes ``UCHAR``
(``\\uXXXX``, ``\\UXXXXXXXX``); N-Triples and SPARQL 1.1 §19.7 use them
unchanged.  :func:`unescape` decodes exactly those and rejects any
other backslash sequence with the caller's parse error.

Rendered form.  A literal term is written ``"lex"``, ``"lex"@lang`` or
``"lex"^^<dtype>`` with only the five escapes of
:data:`LITERAL_ESCAPES` applied; every other character, a control
character included, stands as itself.  Mapping output
(:func:`kgloom.exec.functions.escape_literal`), the N-Quads reader
(:mod:`kgloom.exec.rdfsource`) and SPARQL constants all write this
form, so two literals are equal strings exactly when they are the same
RDF term.
"""

from __future__ import annotations

import re
from typing import Optional

#: (character, escape) pairs a rendered literal keeps escaped, in
#: replacement order (the backslash first)
LITERAL_ESCAPES = (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"),
                   ("\r", "\\r"), ("\t", "\\t"))

_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
          '"': '"', "'": "'", "\\": "\\"}
_ESCAPE = re.compile(r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.))?",
                     re.DOTALL)


def unescape(lex: str, error: type[Exception]) -> str:
    """Decode the ``ECHAR`` and ``UCHAR`` escapes of a literal's
    lexical form; any other escape raises ``error``."""
    def decode(m: re.Match) -> str:
        code = m.group(1) or m.group(2)
        if code and int(code, 16) <= 0x10FFFF:
            return chr(int(code, 16))
        if m.group(3) in _ECHAR:
            return _ECHAR[m.group(3)]
        raise error(f"illegal escape {m.group()!r} in {lex!r}")
    return _ESCAPE.sub(decode, lex) if "\\" in lex else lex


def render_literal(lex: str, lang: Optional[str] = None,
                   dtype: Optional[str] = None) -> str:
    """A literal in the canonical rendered form."""
    for raw, esc in LITERAL_ESCAPES:
        lex = lex.replace(raw, esc)
    if lang:
        return f'"{lex}"@{lang}'
    return f'"{lex}"^^<{dtype}>' if dtype else f'"{lex}"'


def tokenize(pattern: re.Pattern, text: str,
             error: type[Exception]) -> list[tuple[str, str]]:
    """``(kind, text)`` tokens of ``text``, ``kind`` being the name of
    the group of ``pattern`` that matched; tokens of the ``skip`` group
    (whitespace and comments) are dropped."""
    out, pos = [], 0
    while pos < len(text):
        m = pattern.match(text, pos)
        if m is None or m.end() == pos:
            raise error(f"unexpected character at offset {pos}: "
                        f"{text[pos:pos + 30]!r}")
        pos = m.end()
        if m.lastgroup != "skip":
            out.append((m.lastgroup, m.group()))
    return out


class Cursor:
    """A recursive-descent parser's position in the tokens of one text.
    A subclass names its token regex (``grammar``) and its parse error
    (``error``); tokens of kind ``keyword_kind`` match :meth:`at`'s
    values case-insensitively.  Past the end, :meth:`peek` returns
    ``(None, None)``."""

    grammar: re.Pattern
    error: type[Exception]
    keyword_kind: Optional[str] = None

    def __init__(self, text: str):
        self.toks = tokenize(self.grammar, text, self.error)
        self.i = 0

    def peek(self, k: int = 0) -> tuple:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else (None, None)

    def next(self) -> tuple:
        if self.i >= len(self.toks):
            raise self.error("unexpected end of input")
        self.i += 1
        return self.toks[self.i - 1]

    def at(self, *vals: str, k: int = 0) -> bool:
        """Token ``k`` ahead is one of ``vals``."""
        kind, val = self.peek(k)
        return val in vals or (kind is not None and kind == self.keyword_kind
                               and val.upper() in vals)

    def accept(self, *vals: str) -> Optional[str]:
        """Consume the next token if it is one of ``vals``; its text
        (a keyword upper-cased), else ``None``."""
        if not self.at(*vals):
            return None
        kind, val = self.next()
        return val.upper() if kind == self.keyword_kind else val

    def expect(self, val: str, msg: Optional[str] = None) -> None:
        if not self.accept(val):
            raise self.error(msg or f"expected {val!r}, got "
                             f"{self.peek()[1] or 'the end of the input'!r}")
