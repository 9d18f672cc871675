"""Tokenizer for the wvlet language.

A fresh regex-driven scanner (the reference uses a hand-written Scala
scanner, wvlet-lang compiler/parser/Scanner.scala; behavior-equivalent
token classes, new implementation).
"""

from __future__ import annotations

import re
from dataclasses import dataclass


class WvletSyntaxError(Exception):
    def __init__(self, msg: str, line: int = -1, col: int = -1):
        super().__init__(f"{msg} (line {line}, col {col})" if line >= 0 else msg)
        self.line = line
        self.col = col


@dataclass
class Token:
    kind: str      # IDENT BQIDENT STRING TSTRING INT FLOAT DECIMAL OP EOF SQL_STRING INTERP_STRING
    text: str
    line: int
    col: int

    def __repr__(self):  # pragma: no cover
        return f"Token({self.kind},{self.text!r})"


# Multi-char operators first (longest match wins)
_OPERATORS = [
    "<=>", "::", "<=", ">=", "!=", "<>", "==", "->", "//", "||",
    "=", "<", ">", "+", "-", "*", "/", "%", "(", ")", "[", "]", "{", "}",
    ",", ";", ":", ".", "?", "$", "@", "!", "#", "|",
]

# One pattern tried once per position.  Alternatives are tried in order, so
# earlier ones win (`s"` is a string, not the identifier `s`).  Group names
# in upper case are token kinds; the others open a construct scanned below.
_TOKEN_RE = re.compile(r"""
    (?P<skip>[ \t\r\n]+ | (?s:---.*?---) | --[^\n]*)
  | (?P<block>/\*)
  | (?P<bq>s?`)
  | (?P<string>(?:sql|s)?"|')
  | (?P<DURATION>\d+(?:\.\d+)?(?:ms|s|m|h|d|w)\b)
  | (?P<FLOAT>(?:\d+\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)[fF]?|\d+[fF])
  | (?P<INT>\d+)
  | (?P<IDENT>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<OP>""" + "|".join(re.escape(op) for op in _OPERATORS) + ")",
    re.VERBOSE)
_STRING_KINDS = {"": "STRING", "s": "INTERP_STRING", "sql": "SQL_STRING"}
_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "\\": "\\", '"': '"', "'": "'"}


def tokenize(text: str) -> list[Token]:
    tokens: list[Token] = []
    pos, n, line, line_start = 0, len(text), 1, 0
    while pos < n:
        col = pos - line_start + 1
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            raise WvletSyntaxError(f"unexpected character {text[pos]!r}", line, col)
        kind, end = m.lastgroup, m.end()
        if kind == "bq":
            # `name` and s`...${expr}...` (interpolated table/result names;
            # reference: spec/basic/backquote-interpolation.wv)
            interp = end - pos == 2
            endq = text.find("`", end)
            if endq < 0:
                what = "interpolated" if interp else "backquoted"
                raise WvletSyntaxError(f"unterminated {what} identifier", line, col)
            tokens.append(Token("INTERP_BQIDENT" if interp else "BQIDENT",
                                text[end:endq], line, col))
            end = endq + 1
        elif kind == "block":  # /* ... */ (and /** ... */)
            end = text.find("*/", end) + 2
            if end < 2:
                raise WvletSyntaxError("unterminated block comment", line, col)
        elif kind == "string":
            # '...', "...", """...""", and the s"..." / sql"..." prefixes
            opener = m.group()
            kind = _STRING_KINDS[opener[:-1]]
            if text.startswith('"""', end - 1):
                body, end = _scan_triple(text, end - 1, line, col)
                kind = "TSTRING" if kind == "STRING" else kind
            else:
                body, end = _scan_quoted(text, end - 1, opener[-1], line, col)
            tokens.append(Token(kind, body, line, col))
        elif kind != "skip":
            tokens.append(Token(kind, m.group(), line, col))
            pos = end
            continue
        # comments, whitespace, strings and backquoted names may span lines
        nl = text.count("\n", pos, end)
        if nl:
            line += nl
            line_start = text.rfind("\n", pos, end) + 1
        pos = end
    tokens.append(Token("EOF", "", line, pos - line_start + 1))
    return tokens


def _scan_triple(text: str, start: int, line: int, col: int) -> tuple[str, int]:
    """Scan a triple-quoted string starting at `start` (the first quote).
    The closing delimiter is greedy: `\"\"\"select 1 as "id"\"\"\"` keeps the
    embedded trailing quote in the body (reference: spec/basic/triple-quote.wv)."""
    endq = text.find('"""', start + 3)
    if endq < 0:
        raise WvletSyntaxError("unterminated triple-quote string", line, col)
    n = len(text)
    while endq + 3 < n and text[endq + 3] == '"':
        endq += 1
    return text[start + 3 : endq], endq + 3


def _scan_quoted(text: str, start: int, quote: str, line: int, col: int) -> tuple[str, int]:
    """Scan a quoted string starting at `start` (the opening quote).
    Returns (body, end_pos_after_closing_quote). Supports backslash escapes
    and doubled quotes."""
    out = []
    i = start + 1
    n = len(text)
    while i < n:
        c = text[i]
        if c == "\\" and i + 1 < n:
            nxt = text[i + 1]
            out.append(_ESCAPES.get(nxt, "\\" + nxt))
            i += 2
            continue
        if c == quote:
            if i + 1 < n and text[i + 1] == quote:
                out.append(quote)
                i += 2
                continue
            return "".join(out), i + 1
        out.append(c)
        i += 1
    raise WvletSyntaxError("unterminated string literal", line, col)
