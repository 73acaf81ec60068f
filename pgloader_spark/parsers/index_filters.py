"""MSSQL filtered-index WHERE-clause -> PostgreSQL syntax.

Re-expresses ``src/sources/mssql/mssql-index-filters.lisp:9-185``: a
small predicate grammar — comparisons (``= < > <= >= <>``),
arithmetic (``+ - * / %``), ``IS NULL`` / ``IS NOT NULL``, ``IN
(...)``, ``BETWEEN``, ``AND`` / ``OR``, bracketed ``[col]`` and
double-quoted ``"col"`` identifiers (SQLite writes the latter),
parenthesized groups, numeric literals (a ``-`` directly before a
digit is the literal's sign) and ``N'...'``/``'...'`` string literals
— translated token-wise to the PG spelling (identifiers double-quoted
only when needed, N-strings unprefixed). ``execute_database`` runs it
on each filtered index an MSSQL source reports, and on each SQLite
partial index's ``WHERE``, so the target index keeps its predicate.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pgloader_spark.catalog import quote_ident

_TOKEN = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<nstring>N'(?:[^']|'')*')
  | (?P<string>'(?:[^']|'')*')
  | (?P<bracket>\[[^\]]+\])
  | (?P<quoted>"(?:[^"]|"")+")
  | (?P<number>-?\d+(?:\.\d+)?)
  | (?P<op><=|>=|<>|!=|=|<|>|\(|\)|,|[-+*/%])
  | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
    """,
    re.VERBOSE,
)

_KEYWORDS = {"and", "or", "not", "is", "null", "in", "between", "like", "exists"}


class IndexFilterError(ValueError):
    pass


def translate_index_filter(
    filter_text: str, fold: Callable[[str], str] = lambda name: name
) -> str:
    """'([status]=(1) AND [type] IN (N'a', N'b'))' ->
    '(status = 1 AND type IN ('a', 'b'))'.  FOLD maps each column name
    to its target spelling (the migration's identifier case)."""
    out: list[str] = []
    pos = 0
    n = len(filter_text)
    while pos < n:
        m = _TOKEN.match(filter_text, pos)
        if not m:
            raise IndexFilterError(
                f"unparseable index filter at {pos}: {filter_text[pos:pos+20]!r}"
            )
        pos = m.end()
        kind = m.lastgroup
        tok = m.group()
        if kind == "ws":
            continue
        if kind == "nstring":
            out.append(tok[1:])  # drop the N prefix
        elif kind == "string" or kind == "number":
            out.append(tok)
        elif kind == "bracket":
            out.append(quote_ident(fold(tok[1:-1])))
        elif kind == "quoted":
            out.append(quote_ident(fold(tok[1:-1].replace('""', '"'))))
        elif kind == "op":
            out.append("<>" if tok == "!=" else tok)
        elif kind == "word":
            if tok.lower() in _KEYWORDS:
                out.append(tok.upper())
            else:
                out.append(quote_ident(fold(tok)))
    # re-join with spacing rules: no space after '(' or before ')' ','
    text = ""
    for tok in out:
        if not text:
            text = tok
        elif tok in (")", ","):
            text += tok
        elif text.endswith("("):
            text += tok
        else:
            text += " " + tok
    # MSSQL wraps literals in parens: (1) — collapse single-literal groups
    text = re.sub(r"\((-?\d+(?:\.\d+)?)\)", r"\1", text)
    text = re.sub(r"\(('(?:[^']|'')*')\)", r"\1", text)
    return text
