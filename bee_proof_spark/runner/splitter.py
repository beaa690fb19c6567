"""The runner's one HiveQL lexer, and the three passes that read it.

The reference delegates lexing to Hive's CliDriver (';'-separated
statements, ``--`` line comments; ManifestRunner.java:236). Here one
tokenizer, ``_tokens``, cuts a script into spans, and every lexical pass
reads those spans: statement splitting, literal/comment blanking (for the
CTAS classification and the release gates) and leading-comment stripping.
Separate scanners drifted apart three times (first-close block comments,
the '/*/' opener re-read, unterminated strings), so there is one.
"""

from __future__ import annotations

import re
from collections.abc import Iterator
from dataclasses import dataclass

#: One span per match, tried in order; together they cover any text. A
#: '/*' match is only the opener: ``_tokens`` extends it to the matching
#: '*/'. Strings take backslash escapes; an unterminated string, backtick
#: identifier or comment runs to the end of the text, as in Spark's lexer.
_TOKEN_RE = re.compile(
    r"""
    (?P<whitespace>\s+)
  | (?P<comment>--[^\n]*|/\*)
  | (?P<literal>'(?:[^'\\]|\\.?)*'?|"(?:[^"\\]|\\.?)*"?|`[^`]*`?)
  | (?P<semicolon>;)
  | (?P<code>(?:[^\s;'"`/-]|/(?!\*)|-(?!-))+)
    """,
    re.VERBOSE | re.DOTALL,
)

_BLOCK_DELIM_RE = re.compile(r"/\*|\*/")
_NOT_NEWLINE_RE = re.compile(r"[^\n]")


def _block_comment_end(sql: str, i: int) -> int:
    """Index just past the '*/' that closes the '/*' ending at ``i``.
    Spark nests bracketed comments (BRACKETED_COMMENT: '/*'
    (BRACKETED_COMMENT | .)*? '*/'), and both opener chars are already
    consumed, so '/*/' is unterminated, not complete."""
    depth = 1
    while depth:
        m = _BLOCK_DELIM_RE.search(sql, i)
        if m is None:
            return len(sql)
        depth += 1 if m.group() == "/*" else -1
        i = m.end()
    return i


def _tokens(sql: str) -> Iterator[tuple[str, str]]:
    """``(kind, text)`` spans whose texts concatenate back to ``sql``. Kinds:
    whitespace, comment, literal (string or backtick identifier), semicolon
    and code."""
    i, n = 0, len(sql)
    while i < n:
        m = _TOKEN_RE.match(sql, i)
        j = _block_comment_end(sql, m.end()) if m.group() == "/*" else m.end()
        yield m.lastgroup, sql[i:j]
        i = j


@dataclass(frozen=True)
class Statement:
    text: str
    line: int  # 1-based line of the first char that is not whitespace or comment


def split_statements(script: str) -> list[Statement]:
    """Split a script into ';'-terminated statements, never inside a
    string, backtick identifier or comment. Comments stay in statement
    text (Spark's parser accepts them); a statement that is only
    whitespace and comments is dropped."""
    statements: list[Statement] = []
    parts: list[str] = []
    line, start = 1, None
    for kind, text in _tokens(script):
        if kind == "semicolon":
            if start is not None:
                statements.append(Statement("".join(parts).strip(), start))
            parts, start = [], None
            continue
        if start is None and kind in ("literal", "code"):
            start = line
        parts.append(text)
        line += text.count("\n")
    if start is not None:
        statements.append(Statement("".join(parts).strip(), start))
    return statements


def blank_literals_and_comments(sql: str) -> str:
    """``sql`` with comments and the contents of strings and backtick
    identifiers turned into spaces. Quote chars and newlines are kept, so
    the length, every line number and ``\\s*`` matches across a blanked
    span survive. A keyword inside a string or comment can then neither
    trip a release gate nor make a CTAS, while a comment between AS and
    SELECT (``CREATE TABLE t AS -- note\\nSELECT``) cannot hide one."""
    out: list[str] = []
    for kind, text in _tokens(sql):
        if kind == "comment":
            text = _NOT_NEWLINE_RE.sub(" ", text)
        elif kind == "literal":
            end = len(text) - 1 if len(text) > 1 and text[-1] == text[0] else len(text)
            text = text[0] + _NOT_NEWLINE_RE.sub(" ", text[1:end]) + text[end:]
        out.append(text)
    return "".join(out)


def strip_leading_comments(sql: str) -> str:
    """Drop leading whitespace, ``--`` line comments and ``/* */`` blocks."""
    i = 0
    for kind, text in _tokens(sql):
        if kind not in ("whitespace", "comment"):
            break
        i += len(text)
    return sql[i:]
