"""LOAD command DSL parser.

Re-expresses pgloader's command language
(``src/parsers/command-parser.lisp:14-92`` and the per-source grammars
``command-csv.lisp`` / ``command-fixed`` / ``command-options.lisp`` /
``command-cast-rules.lisp:1-193``) as a tokenizer + recursive-descent
parser producing a ``LoadCommand`` dataclass — the Spark-side IR that
the execution layer turns into reads, projections, and writes.

Covered surface::

    LOAD CSV|FIXED|COPY|DBF|IXF|DATABASE
         FROM <file|inline|stdin|http(s)|mysql://|sqlite://|...>
              [ALL FILENAMES MATCHING ~/re/ [IN DIRECTORY '...']]
              [FIRST FILENAME MATCHING ~/re/]
              [( field [from N for M] [null if blanks|'s']
                       [trim left|right|both whitespace]
                       [date format '...'] , ... )]
         INTO <postgresql://...>  [TARGET TABLE [schema.]name]
              [( col [type] [using (sexp)] , ... )]
         [WITH opt, opt = value, ...]
         [SET guc TO 'value', ...]
         [CAST rule, ...]
         [INCLUDING ONLY TABLE NAMES MATCHING ~/re/ [, ~/re/ ...]]
         [EXCLUDING TABLE NAMES MATCHING ~/re/ [, ~/re/ ...]]
         [BEFORE LOAD DO $$ sql $$ [, $$ sql $$ ...]]
         [AFTER LOAD DO $$ sql $$ [, $$ sql $$ ...]]
         [;  inline data follows]

CAST rules::

    type <name> [when <guard>...] to <pg-type>
        [drop|keep typemod|default|not null|extra]... [using <fn>]
    column <table>.<col> to <pg-type> [...same modifiers]
"""

from __future__ import annotations

import logging
import re
from dataclasses import dataclass, field as dfield

from pgloader_spark.operators.projection import ColumnSpec, FieldSpec
from pgloader_spark.sources.fixed import FixedField

log = logging.getLogger(__name__)

# --------------------------------------------------------------------------
# IR
# --------------------------------------------------------------------------


@dataclass
class CastRuleSpec:
    """Parsed CAST clause; compiled to casting.CastRule by the loader."""

    source_type: str | None = None
    column: tuple[str, str] | None = None  # (table, column)
    guards: dict = dfield(default_factory=dict)  # typemod/default/extra/signed
    target_type: str | None = None
    drop: list[str] = dfield(default_factory=list)  # typemod/default/not-null/extra
    keep: list[str] = dfield(default_factory=list)
    using: str | None = None


@dataclass
class LoadCommand:
    source_kind: str  # csv | fixed | copy | dbf | ixf | mysql | sqlite | mssql | pgsql
    source: str  # path / URI / "inline" / "stdin"
    source_regex: str | None = None  # ALL/FIRST FILENAMES MATCHING
    source_dir: str | None = None
    first_match_only: bool = False
    target: str | None = None  # postgresql URI
    target_table: str | None = None
    fields: list[FieldSpec] = dfield(default_factory=list)
    fixed_fields: list[FixedField] = dfield(default_factory=list)
    columns: list[ColumnSpec] = dfield(default_factory=list)
    options: dict = dfield(default_factory=dict)
    gucs: dict = dfield(default_factory=dict)
    cast_rules: list[CastRuleSpec] = dfield(default_factory=list)
    including: list[str] = dfield(default_factory=list)
    excluding: list[str] = dfield(default_factory=list)
    before_load: list[str] = dfield(default_factory=list)
    after_load: list[str] = dfield(default_factory=list)
    inline_data: str | None = None
    # archive commands: nested LOADs + FINALLY DO (command-archive.lisp)
    nested: list["LoadCommand"] = dfield(default_factory=list)
    finally_do: list[str] = dfield(default_factory=list)
    execute_files: list[str] = dfield(default_factory=list)  # BEFORE LOAD EXECUTE
    after_execute_files: list[str] = dfield(default_factory=list)  # AFTER LOAD EXECUTE
    # DECODING TABLE NAMES MATCHING ~/re/ AS enc (per-table encoding override)
    decoding_rules: list[tuple[list[str], str]] = dfield(default_factory=list)
    # ALTER TABLE/SCHEMA clauses -> plans.alter_rules.AlterRule inputs
    alter_rules: list[dict] = dfield(default_factory=list)
    # LOAD MESSAGES scanners: WHEN MATCHES <rule> IN <name> REGISTERING ...
    scanners: list[dict] = dfield(default_factory=list)


class ParseError(ValueError):
    pass


# --------------------------------------------------------------------------
# Tokenizer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<comment>--[^\n]*|/\*.*?\*/)
  | (?P<dollar>\$\$.*?\$\$)
  | (?P<regex>~/(?:[^/\\]|\\.)*/|~<(?:[^>\\]|\\.)*>|~\[(?:[^\]\\]|\\.)*\])
  | (?P<string>'(?:[^']|'')*')
  | (?P<qident>"(?:[^"]|"")*")
  | (?P<lparen>\()
  | (?P<rparen>\))
  | (?P<comma>,)
  | (?P<semi>;)
  | (?P<word>(?:(?!--)[^\s(),;])+)   # a word ends where a -- comment
                                     # starts, even glued: `= 4-- ,`
                                     # (sakila.load) is `4` + comment
    """,
    re.VERBOSE | re.DOTALL,
)


@dataclass
class Tok:
    kind: str
    value: str
    end: int = -1  # character offset just past this token in the source


def tokenize(text: str) -> list[Tok]:
    out: list[Tok] = []
    for m in _TOKEN_RE.finditer(text):
        kind = m.lastgroup or "word"
        if kind == "comment":
            continue
        v = m.group()
        if kind == "string":
            # backslash is LITERAL in DSL strings ('\' is an escape
            # char spec, '\N' a null marker); only '' doubles a quote
            v = v[1:-1].replace("''", "'")
        elif kind == "qident":
            v = v[1:-1].replace('""', '"')
        elif kind == "regex":
            v = v[2:-1]
        elif kind == "dollar":
            v = v[2:-2].strip()
        out.append(Tok(kind, v, m.end()))
    return out


# --------------------------------------------------------------------------
# Parser
# --------------------------------------------------------------------------

_SOURCE_KINDS = {
    "csv": "csv",
    "fixed": "fixed",
    "copy": "copy",
    "dbf": "dbf",
    "ixf": "ixf",
    "database": "database",
    "archive": "archive",
    "messages": "messages",
    # beyond the reference: the lake/corpus formats Spark reads natively
    # (JSONL is the de-facto training-corpus interchange format)
    "jsonl": "jsonl",
    "json": "json",
    "parquet": "parquet",
    "orc": "orc",
}

_SECTION_WORDS = {
    "into", "with", "set", "cast", "before", "after", "including",
    "excluding", "target", "having", "decoding", "alter", "when",
    "finally", "load", "and", "materialize", "distribute",
}


class _P:
    def __init__(self, toks: list[Tok]):
        self.toks = toks
        self.i = 0

    def peek(self, ahead: int = 0) -> Tok | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        if self.i >= len(self.toks):
            raise ParseError("unexpected end of command")
        t = self.toks[self.i]
        self.i += 1
        return t

    def at_word(self, *words: str) -> bool:
        t = self.peek()
        return t is not None and t.kind == "word" and t.value.lower() in words

    def eat_word(self, *words: str) -> str:
        t = self.next()
        if t.kind != "word" or t.value.lower() not in words:
            raise ParseError(f"expected {words}, got {t.value!r}")
        return t.value.lower()

    def eat(self, kind: str) -> str:
        t = self.next()
        if t.kind != kind:
            raise ParseError(f"expected {kind}, got {t.kind} {t.value!r}")
        return t.value


def expand_template_vars(text: str) -> str:
    """``{{VAR}}`` mustache expansion from the environment — the
    reference's template-variable support (sqlite-env.load;
    ``--context`` ini files and env both feed the same braces).
    Unset variables stay verbatim: a bare parse must not require the
    execution environment; the unexpanded braces then fail loudly at
    execution time (file-not-found naming the variable)."""
    import os as _os

    return re.sub(
        r"\{\{(\w+)\}\}",
        lambda m: _os.environ.get(m.group(1), m.group(0)),
        text,
    )


def parse_load(text: str) -> LoadCommand:
    text = expand_template_vars(text)
    toks = tokenize(text)
    p = _P(toks)
    cmd = _parse_one_command(p)
    if cmd.source == "inline":
        # inline data = raw text after the COMMAND's terminating
        # semicolon — found by token position, because the data itself
        # may contain ';' (serial.load's ;-separated fields)
        semi_end = -1
        for t in toks[: p.i]:
            if t.kind == "semi":
                semi_end = t.end
        if semi_end == -1:
            semi_end = text.rfind(";") + 1 or len(text)
        cmd.inline_data = text[semi_end:].lstrip("\n")
    return cmd


def _parse_one_command(p: _P) -> LoadCommand:
    p.eat_word("load")
    kind_word = p.next().value.lower()
    if kind_word not in _SOURCE_KINDS:
        raise ParseError(f"unsupported LOAD kind: {kind_word!r}")
    cmd = LoadCommand(source_kind=_SOURCE_KINDS[kind_word], source="")

    p.eat_word("from")
    _parse_from(p, cmd)

    while p.peek() is not None:
        t = p.peek()
        if t.kind == "semi":
            p.next()
            break
        if t.kind != "word":
            raise ParseError(f"unexpected token {t.value!r}")
        w = t.value.lower()
        if w == "and" and cmd.source_kind == "archive":
            # AND LOAD ... — next nested command (command-archive.lisp)
            p.next()
            cmd.nested.append(_parse_one_command(p))
            # nested command consumed the final semi, if any
            break
        if w == "and":
            break  # parent archive's separator — hand control back
        if w == "finally" and cmd.source_kind != "archive":
            break  # parent archive's FINALLY — hand control back
        if w == "into":
            p.next()
            cmd.target = p.next().value
            if p.peek() and p.peek().kind == "lparen":
                cmd.columns = _parse_columns(p)
        elif w == "target":
            p.next()
            sub = p.eat_word("table", "columns")
            if sub == "table":
                cmd.target_table = p.next().value
                if p.peek() and p.peek().kind == "lparen":
                    cmd.columns = _parse_columns(p)
            else:  # TARGET COLUMNS ( ... )
                cmd.columns = _parse_columns(p)
        elif w == "having":
            p.next()
            p.eat_word("fields")
            if cmd.source_kind == "fixed":
                cmd.fixed_fields = _parse_fixed_fields(p)
            else:
                cmd.fields = _parse_fields(p)
        elif w == "with" and cmd.source_kind == "messages":
            # scanner grammar block (ABNF): WITH apache = rsyslog
            # DATA = IP REST ... — captured raw; the regex compilation
            # happens in streaming/syslog.py scanner construction
            p.next()
            raw: list[str] = []
            while p.peek() is not None and p.peek().kind != "semi":
                nt = p.peek()
                if nt.kind == "word" and nt.value.lower() in ("when", "cast", "into"):
                    break
                if nt.kind == "word" and nt.value.lower() == "with" and raw:
                    break
                tok = p.next()
                # preserve token KINDS so the ABNF compiler can tell a
                # "." literal from a rule ref from a ~/regex/
                if tok.kind in ("string", "qident"):
                    raw.append('"' + tok.value + '"')
                elif tok.kind == "regex":
                    raw.append("~/" + tok.value + "/")
                else:
                    raw.append(tok.value)
            cmd.options.setdefault("abnf_blocks", []).append(" ".join(raw))
        elif w == "with":
            p.next()
            _parse_with(p, cmd)
        elif w == "set":
            p.next()
            _parse_set(p, cmd)
        elif w == "cast":
            p.next()
            _parse_casts(p, cmd)
        elif w in ("before", "after"):
            p.next()
            p.eat_word("load")
            target_list = cmd.before_load if w == "before" else cmd.after_load
            while p.at_word("do", "execute"):
                verb = p.next().value.lower()
                if verb == "do":
                    target_list.append(p.eat("dollar"))
                    while p.peek() and p.peek().kind == "comma":
                        p.next()
                        target_list.append(p.eat("dollar"))
                else:  # EXECUTE 'file.sql'
                    flist = (
                        cmd.execute_files
                        if w == "before"
                        else cmd.after_execute_files
                    )
                    flist.append(p.next().value)
                    while p.peek() and p.peek().kind == "comma":
                        p.next()
                        flist.append(p.next().value)
        elif w == "finally" and cmd.source_kind == "archive":
            p.next()
            p.eat_word("do")
            cmd.finally_do.append(p.eat("dollar"))
            while p.peek() and p.peek().kind == "comma":
                p.next()
                cmd.finally_do.append(p.eat("dollar"))
        elif w == "load" and cmd.source_kind == "archive":
            cmd.nested.append(_parse_one_command(p))
            # nested parse stops at AND / FINALLY / semi; consume ANDs here
            while p.at_word("and"):
                p.next()
                cmd.nested.append(_parse_one_command(p))
        elif w == "including":
            p.next()
            p.eat_word("only")
            p.eat_word("table")
            p.eat_word("names")
            verb = p.eat_word("matching", "like")
            pats = _parse_regex_list(p)
            if verb == "like":
                pats = [_like_to_regex(x) for x in pats]
            cmd.including = pats
            _maybe_in_schema(p)
        elif w == "excluding":
            p.next()
            p.eat_word("table")
            p.eat_word("names")
            verb = p.eat_word("matching", "like")
            pats = _parse_regex_list(p)
            if verb == "like":
                pats = [_like_to_regex(x) for x in pats]
            cmd.excluding = pats
            _maybe_in_schema(p)
        elif w == "decoding":
            # DECODING TABLE NAMES MATCHING ~/re/[, ...] AS enc
            p.next()
            p.eat_word("table")
            p.eat_word("names")
            p.eat_word("matching")
            pats = _parse_regex_list(p)
            p.eat_word("as")
            cmd.decoding_rules.append((pats, p.next().value))
        elif w == "alter":
            p.next()
            _parse_alter(p, cmd)
        elif w == "distribute":
            # DISTRIBUTE t USING col [FROM t1, t2] | DISTRIBUTE t AS REFERENCE
            p.next()
            tbl = p.next().value
            rule = {"table": tbl, "column": None, "from_tables": []}
            if p.at_word("as"):
                p.next()
                p.eat_word("reference")
                if p.at_word("table"):  # DISTRIBUTE t AS REFERENCE TABLE
                    p.next()
            else:
                p.eat_word("using")
                rule["column"] = p.next().value
                if p.at_word("from"):
                    p.next()
                    rule["from_tables"].append(p.next().value)
                    while p.peek() and p.peek().kind == "comma":
                        p.next()
                        rule["from_tables"].append(p.next().value)
            cmd.options.setdefault("distribute", []).append(rule)
        elif w == "when" and cmd.source_kind == "messages":
            p.next()
            _parse_scanner(p, cmd)
        elif w == "materialize":
            # MATERIALIZE [ALL] VIEWS [name[, ...]] — record names
            p.next()
            if p.at_word("all"):
                p.next()
            p.eat_word("views")
            views: list[tuple[str, str | None]] = []
            while p.peek() and p.peek().kind in ("word", "qident", "string"):
                if p.at_word(*_SECTION_WORDS):
                    break
                vname = p.next().value
                sql = None
                if p.at_word("as"):
                    p.next()
                    sql = p.eat("dollar")
                views.append((vname, sql))
                if p.peek() and p.peek().kind == "comma":
                    p.next()
            cmd.options["materialize_views"] = views or True
        else:
            raise ParseError(f"unexpected clause {w!r}")

    return cmd


def _maybe_in_schema(p: _P) -> None:
    """Optional `IN SCHEMA 'name'` suffix on INCLUDING/EXCLUDING."""
    if p.at_word("in"):
        p.next()
        p.eat_word("schema")
        p.next()  # schema name — scoping is carried by the regex list


def _parse_alter(p: _P, cmd: LoadCommand) -> None:
    """ALTER TABLE NAMES MATCHING <pat>[, ...] <action>  |
    ALTER SCHEMA 'x' RENAME TO 'y'  (alter-table.lisp grammar)."""
    kind = p.eat_word("table", "schema")
    if kind == "schema":
        name = p.next().value
        p.eat_word("rename")
        p.eat_word("to")
        cmd.alter_rules.append(
            {"scope": "schema", "kind": "rename", "match": name, "value": p.next().value}
        )
        return
    p.eat_word("names")
    p.eat_word("matching")
    pats = []
    while True:
        t = p.peek()
        if t is None:
            break
        if t.kind in ("regex", "string", "qident"):
            pats.append((p.next().value, t.kind == "regex"))
        elif t.kind == "comma":
            p.next()
            continue
        else:
            break
    action = p.eat_word("rename", "set")
    if action == "rename":
        p.eat_word("to")
        value = p.next().value
        kind_name = "rename"
    elif p.peek() is not None and p.peek().kind == "lparen":
        # SET (fillfactor='40', ...) — storage parameters verbatim
        value = _capture_sexp(p)
        kind_name = "set_storage"
    else:
        sub = p.eat_word("schema", "tablespace")
        value = p.next().value
        kind_name = f"set_{sub}"
    for pat, is_regex in pats:
        cmd.alter_rules.append(
            {
                "scope": "table",
                "kind": kind_name,
                "match": pat,
                "is_regex": is_regex,
                "value": value,
            }
        )


def _parse_scanner(p: _P, cmd: LoadCommand) -> None:
    """WHEN MATCHES <rule> IN <name> REGISTERING f1, f2 INTO uri
    [SET guc = 'v', ...]  (syslog scanners, command grammar)."""
    p.eat_word("matches")
    rule = p.next().value
    p.eat_word("in")
    name = p.next().value
    p.eat_word("registering")
    fields = [p.next().value]
    while p.peek() and p.peek().kind == "comma":
        p.next()
        fields.append(p.next().value)
    scanner = {"rule": rule, "name": name, "fields": fields, "target": None, "gucs": {}}
    if p.at_word("into"):
        p.next()
        scanner["target"] = p.next().value
    if p.at_word("set"):
        p.next()
        sub = LoadCommand(source_kind="messages", source="")
        _parse_set(p, sub)
        scanner["gucs"] = sub.gucs
    cmd.scanners.append(scanner)


def _parse_regex_list(p: _P) -> list[str]:
    out = [_regex_or_string(p)]
    while p.peek() and p.peek().kind == "comma":
        p.next()
        out.append(_regex_or_string(p))
    return out


def _like_to_regex(pat: str) -> str:
    """The MSSQL grammar filters with SQL LIKE patterns
    (command-mssql.lisp filter-list-like): % -> any run, _ -> any
    char, anchored (LIKE is a full match).  ``_parse_regex_list``
    already anchored plain names, so unwrap before translating."""
    if pat.startswith("^") and pat.endswith("$"):
        pat = pat[1:-1]
    # the anchored form was re.escape()d; undo for the LIKE wildcards
    pat = pat.replace(r"\%", "%").replace(r"\_", "_")
    return "^" + pat.replace("%", ".*").replace("_", ".") + "$"


def _regex_or_string(p: _P) -> str:
    t = p.next()
    if t.kind == "regex":
        # regex rules match with SEARCH semantics (the reference turns
        # them into MySQL REGEXP / cl-ppcre scan — mysql-schema.lisp:
        # filter-list-to-where-clause), so keep them unanchored
        return t.value
    # a quoted or bare name is an exact match (string-match-rule, `=`)
    return f"^{re.escape(t.value)}$"


def _parse_from(p: _P, cmd: LoadCommand) -> None:
    t = p.peek()
    if t is None:
        raise ParseError("FROM requires a source")
    if t.kind == "word" and t.value.lower() == "all":
        p.next()
        p.eat_word("filenames")
        p.eat_word("matching")
        cmd.source_regex = _regex_or_string(p)
        if p.at_word("in"):
            p.next()
            p.eat_word("directory")
            cmd.source_dir = p.next().value
        cmd.source = cmd.source_dir or "."
    elif t.kind == "word" and t.value.lower() == "first":
        p.next()
        p.eat_word("filename")
        p.eat_word("matching")
        cmd.source_regex = _regex_or_string(p)
        cmd.first_match_only = True
        if p.at_word("in"):
            p.next()
            p.eat_word("directory")
            cmd.source_dir = p.next().value
        cmd.source = cmd.source_dir or "."
    elif t.kind == "word" and t.value.lower() == "filename":
        # FROM FILENAME MATCHING ~/re/ — archive-member reference
        p.next()
        p.eat_word("matching")
        cmd.source_regex = _regex_or_string(p)
        cmd.first_match_only = True
        cmd.source = "."
    else:
        src = p.next().value
        cmd.source = "inline" if src.lower() == "inline" else src
    # `WITH ENCODING enc` glued to the FROM clause (archive members,
    # dbf files): applies to the source read, not the options section
    if p.at_word("with") and (
        (n1 := p.peek(1)) is not None
        and n1.kind == "word"
        and n1.value.lower() == "encoding"
    ):
        p.next()
        p.next()
        cmd.options["encoding"] = p.next().value
    if p.peek() and p.peek().kind == "lparen":
        if cmd.source_kind == "fixed":
            cmd.fixed_fields = _parse_fixed_fields(p)
        else:
            cmd.fields = _parse_fields(p)


def _bracket_delta(tok: Tok) -> int:
    """Net [ ] depth change carried by a word token (the tokenizer
    leaves square brackets glued to words)."""
    if tok.kind != "word":
        return 0
    return tok.value.count("[") - tok.value.count("]")


def _parse_fields(p: _P) -> list[FieldSpec]:
    p.eat("lparen")
    out: list[FieldSpec] = []
    cur: FieldSpec | None = None
    bdepth = 0
    while True:
        t = p.next()
        bdepth += _bracket_delta(t)
        if t.kind == "rparen":
            if cur:
                out.append(cur)
            break
        if t.kind == "comma":
            if bdepth > 0:
                continue  # comma separates options inside [...]
            if cur:
                out.append(cur)
            cur = None
            continue
        if cur is None:
            cur = FieldSpec(name=t.value)
            continue
        # option words, possibly wrapped in [...]
        w = t.value.strip("[]").lower()
        if not w:
            continue
        if w == "null":
            p.eat_word("if")
            nt = p.next()
            v = nt.value.strip("[]")
            if v.lower() == "blanks":
                cur.null_if_blanks = True
            else:
                cur.null_if = (*cur.null_if, v)
        elif w == "trim":
            side = p.next().value.strip("[]").lower()
            if p.at_word("whitespace"):
                p.next()
            else:
                nxt = p.peek()
                if nxt and nxt.kind == "word" and nxt.value.strip("[]").lower() == "whitespace":
                    p.next()
            cur.trim = side
        elif w == "date":
            p.eat_word("format")
            cur.date_format = p.next().value.strip("[]")
    return out


def _parse_fixed_fields(p: _P) -> list[FixedField]:
    """name from N for M [option...] — command-fixed grammar."""
    p.eat("lparen")
    out: list[FixedField] = []
    cur: dict | None = None

    def flush() -> None:
        nonlocal cur
        if cur is not None:
            out.append(
                FixedField(
                    cur["name"],
                    cur.get("start", 0),
                    cur.get("length", 0),
                    trim=cur.get("trim", None),
                    null_if_blanks=cur.get("null_if_blanks", False),
                )
            )
            cur = None

    bdepth = 0

    def take() -> str:
        # every token consumed inside an option branch must count its
        # glued [ ] toward bdepth, or a trailing `whitespace]` leaves
        # the depth stuck >0 and later commas stop flushing fields
        # (census-places.load's [trim right whitespace] regress)
        nonlocal bdepth
        t2 = p.next()
        bdepth += _bracket_delta(t2)
        return t2.value

    while True:
        t = p.next()
        bdepth += _bracket_delta(t)
        if t.kind == "rparen":
            flush()
            break
        if t.kind == "comma":
            if bdepth > 0:
                continue
            flush()
            continue
        if cur is None:
            cur = {"name": t.value}
            continue
        w = t.value.strip("[]").lower()
        if w == "from":
            cur["start"] = int(take().strip("[]"))
        elif w == "for":
            cur["length"] = int(take().strip("[]"))
        elif w == "null":
            p.eat_word("if")
            v = take().strip("[]")
            if v.lower() == "blanks":
                cur["null_if_blanks"] = True
        elif w == "trim":
            cur["trim"] = take().strip("[]").lower()
            nxt = p.peek()
            if (
                nxt
                and nxt.kind == "word"
                and nxt.value.strip("[]").lower() == "whitespace"
            ):
                take()
    return out


def _parse_columns(p: _P) -> list[ColumnSpec]:
    """col [pg-type words] [using (sexp)] , ... — command-csv.lisp."""
    p.eat("lparen")
    out: list[ColumnSpec] = []
    cur: ColumnSpec | None = None
    type_words: list[str] = []

    def flush() -> None:
        nonlocal cur, type_words
        if cur is not None:
            if type_words:
                cur.cast_to = " ".join(type_words)
            out.append(cur)
        cur = None
        type_words = []

    while True:
        t = p.next()
        if t.kind == "rparen":
            flush()
            break
        if t.kind == "comma":
            flush()
            continue
        if cur is None:
            cur = ColumnSpec(name=t.value)
            continue
        if t.kind == "word" and t.value.lower() == "using":
            nxt = p.peek()
            if nxt is not None and nxt.kind in ("string", "qident"):
                # `using "constant value"` — a constant column
                # (udc.load's user-defined-column form)
                cur.constant = p.next().value
            else:
                # capture the parenthesized sexp verbatim
                cur.transform = _capture_sexp(p)
        else:
            type_words.append(t.value)
    return out


def _capture_sexp(p: _P) -> str:
    """Re-assemble the original sexp text from tokens (incl. nesting)."""
    t = p.next()
    if t.kind != "lparen":
        # bare function name: (fn field) sugar
        return t.value
    depth = 1
    parts: list[str] = ["("]
    while depth > 0:
        t = p.next()
        if t.kind == "lparen":
            depth += 1
            parts.append("(")
        elif t.kind == "rparen":
            depth -= 1
            parts.append(")")
        elif t.kind in ("string", "qident"):
            # re-quote so parens/commas INSIDE the literal (a CL format
            # control like "(~a,~a)") cannot leak into sexp structure
            parts.append('"' + t.value + '"')
        else:
            parts.append(t.value)
    # join with spaces except adjacent parens
    text = ""
    for part in parts:
        if part == ")" or text.endswith("(") or not text:
            text += part
        else:
            text += " " + part
    return text


_WITH_FLAGS = {
    "truncate", "drop indexes", "create tables", "create indexes",
    "reset sequences", "data only", "schema only", "include drop",
    "no truncate", "disable triggers", "quote identifiers",
    "snake_case identifiers", "downcase identifiers",
    "on error stop", "on error resume next", "multiple readers per thread",
    "preserve index names", "uniquify index names", "downcase identifiers",
    # extension beyond the reference: post-load source-vs-target
    # checksum verification (plans/verify_load.py)
    "verify load",
}


def _parse_with(p: _P, cmd: LoadCommand) -> None:
    """Comma-separated options: flags, k = v, and the CSV phrase
    options (fields terminated by ..., skip header = N, null if 'x')
    — command-options.lisp / command-csv.lisp:56-179."""
    while True:
        words: list[str] = []
        value = None
        while True:
            t = p.peek()
            if t is None or t.kind in ("comma", "semi"):
                break
            if t.kind == "word" and t.value.lower() in _SECTION_WORDS and words:
                # 'verify load' is one option name — the only WITH
                # flag containing a section keyword
                if not (
                    t.value.lower() == "load"
                    and [w.lower() for w in words] == ["verify"]
                ):
                    break
            t = p.next()
            if t.kind == "word" and t.value == "=":
                value = p.next().value
                # absorb a size unit: `batch size = 1024 kB`
                nxt = p.peek()
                if (
                    nxt is not None
                    and nxt.kind == "word"
                    and nxt.value.lower() in ("kb", "mb", "gb")
                ):
                    value = f"{value} {p.next().value}"
                break
            if t.kind in ("string", "qident"):
                # `null "--"` / `delimiter '\t'`: quoted option value
                value = t.value
                break
            # handle '=' glued to words
            if t.kind == "word" and "=" in t.value and t.value != "=":
                left, _, right = t.value.partition("=")
                if left:
                    words.append(left.lower())
                value = right or p.next().value
                break
            words.append(t.value.lower())
        if words or value is not None:
            key = " ".join(words)
            _set_option(cmd, key, value)
        t = p.peek()
        if t is not None and t.kind == "comma":
            p.next()
            continue
        break


def _decode_char(s: str) -> str:
    """`0x02`-style hex separators (csv-json.load) and escape words."""
    if len(s) >= 3 and s[:2].lower() == "0x":
        try:
            return chr(int(s[2:], 16))
        except ValueError:
            return s
    return s


def _set_option(cmd: LoadCommand, key: str, value) -> None:
    key = key.strip()
    if key.startswith("fields optionally enclosed by") or key.startswith(
        "fields enclosed by"
    ):
        q = value if value is not None else key.rsplit(None, 1)[-1]
        cmd.options["quote"] = _decode_char(q)
    elif key.startswith("fields escaped by"):
        esc = value if value is not None else key.rsplit(None, 1)[-1]
        cmd.options["escape"] = {
            "double-quote": '"',
            "backslash-quote": "\\",
            "backslash": "\\",
        }.get(esc, _decode_char(esc))
    elif key.startswith("fields terminated by") or key.startswith("terminated by"):
        sep = value if value is not None else key.rsplit(None, 1)[-1]
        cmd.options["separator"] = {"\\t": "\t", "tab": "\t"}.get(
            sep, _decode_char(sep)
        )
    elif key.startswith("lines terminated by"):
        cmd.options["line_sep"] = value
    elif key == "skip header":
        cmd.options["skip_lines"] = int(value)
    elif key == "csv header":
        # first line names the fields (csv-header.load, csv-guess.load)
        cmd.options["header"] = True
    elif key in ("null if", "null"):
        cmd.options["null_as"] = value
    elif key == "delimiter":
        cmd.options["separator"] = {"\\t": "\t", "tab": "\t"}.get(value, value)
    elif key in ("timezone utc", "timezone gmt"):
        # bare-word zones (docs/ref/ixf.rst: UTC, GMT, or a quoted
        # location name — the quoted form arrives as a value)
        cmd.options["timezone"] = key.split()[1].upper()
    elif key in ("encoding", "batch rows", "batch size", "prefetch rows",
                 "workers", "concurrency", "rows per range", "chunk size",
                 "max parallel create index"):
        cmd.options[key.replace(" ", "_")] = value
    elif key in _WITH_FLAGS:
        cmd.options[key.replace(" ", "_")] = True
    elif value is not None:
        cmd.options[key.replace(" ", "_")] = value
    elif key:
        cmd.options[key.replace(" ", "_")] = True


def _parse_set(p: _P, cmd: LoadCommand) -> None:
    """SET [PostgreSQL|MySQL PARAMETERS] name TO|= 'value', ...

    ``cmd.gucs`` holds the PostgreSQL settings, SET on every target
    session.  MySQL parameters are source-session settings, not
    applied to the MySQL sessions: they are logged and dropped."""
    gucs = cmd.gucs
    if p.at_word("postgresql", "mysql"):
        if p.next().value.lower() == "mysql":
            gucs = {}
        p.eat_word("parameters")
    while True:
        name = p.next().value
        t = p.peek()
        if p.at_word("to"):
            p.next()
        elif t is not None and t.kind == "word" and t.value == "=":
            p.next()
        elif name.endswith("="):
            name = name[:-1]
        gucs[name] = p.next().value
        if p.peek() and p.peek().kind == "comma":
            p.next()
            continue
        break
    if gucs is not cmd.gucs:
        log.warning("SET MySQL PARAMETERS not applied: %s", gucs)


_DROP_KEEP_WORDS = {"typemod", "default", "extra"}


def _parse_casts(p: _P, cmd: LoadCommand) -> None:
    """type X [when ...] to Y [drop/keep ...] [using fn] , ... and
    column t.c to Y ... — command-cast-rules.lisp:1-193."""
    while True:
        rule = CastRuleSpec()
        lead = p.eat_word("type", "column")
        if lead == "type":
            rule.source_type = p.next().value
            # guards
            while p.at_word("when", "with"):
                w = p.next().value.lower()
                if w == "with":
                    p.eat_word("extra")
                    extra_words = []
                    while not p.at_word("to", "when", "with"):
                        extra_words.append(p.next().value)
                    rule.guards["extra"] = " ".join(extra_words)
                    continue
                # when <guard>
                t = p.peek()
                if t.kind == "lparen":
                    rule.guards["sexp"] = _capture_sexp(p)
                else:
                    gw = p.next().value.lower()
                    if gw in ("signed", "unsigned"):
                        rule.guards["signed"] = gw
                    elif gw == "default":
                        rule.guards["default"] = p.next().value
                    else:
                        rule.guards[gw] = True
        else:
            first = p.next()
            name = first.value
            nxt = p.peek()
            # `"tbl"."col"`: the quoted table arrives alone and the
            # tokenizer glues `."col"` (or `.col`) into the next token
            if first.kind == "qident" and nxt is not None and nxt.kind in ("word", "qident"):
                v = nxt.value
                if v.startswith("."):
                    p.next()
                    tbl, col = name, v[1:].strip('"')
                    rule.column = (tbl, col)
                    name = None
            if name is not None:
                if "." in name:
                    tbl, col = name.rsplit(".", 1)
                    tbl = tbl.strip('"')
                    col = col.strip('"')
                else:
                    tbl, col = "", name
                rule.column = (tbl, col)
        # `to <type>` is optional: `type date drop not null using f`
        if p.at_word("to"):
            p.next()
            rule.target_type = p.next().value
        while p.at_word("drop", "keep", "using"):
            w = p.next().value.lower()
            if w == "using":
                nt = p.peek()
                if nt is not None and nt.kind == "lparen":
                    rule.using = _capture_sexp(p)  # incl. (lambda ...) forms
                else:
                    rule.using = p.next().value
            else:
                t = p.next().value.lower()
                if t == "not":
                    p.eat_word("null")
                    t = "not null"
                (rule.drop if w == "drop" else rule.keep).append(t)
        cmd.cast_rules.append(rule)
        if p.peek() and p.peek().kind == "comma":
            p.next()
            continue
        break


def compile_cast_rules(specs: list[CastRuleSpec]):
    """CastRuleSpec -> casting.CastRule list (user rules, first match
    wins ahead of the per-source defaults)."""
    from pyspark.sql import types as T

    from pgloader_spark.casting import CastResult, CastRule, SourceField

    pg_to_spark = {
        "text": T.StringType(), "varchar": T.StringType(),
        "char": T.StringType(), "uuid": T.StringType(),
        "jsonb": T.StringType(), "json": T.StringType(),
        "xml": T.StringType(), "bytea": T.BinaryType(),
        "smallint": T.ShortType(), "int": T.IntegerType(),
        "integer": T.IntegerType(), "bigint": T.LongType(),
        "real": T.FloatType(), "float": T.DoubleType(),
        "double precision": T.DoubleType(), "numeric": T.DecimalType(38, 18),
        "boolean": T.BooleanType(), "date": T.DateType(),
        "timestamptz": T.TimestampType(),
        "timestamp with time zone": T.TimestampType(),
        "timestamp": T.TimestampType(), "time": T.StringType(),
    }

    out = []
    for spec in specs:
        def make_guard(s: CastRuleSpec):
            def guard(f: SourceField) -> bool:
                g = s.guards
                if "signed" in g:
                    if g["signed"] == "unsigned" and not f.unsigned:
                        return False
                    if g["signed"] == "signed" and f.unsigned:
                        return False
                if "default" in g and (f.default or "") != g["default"]:
                    return False
                if "extra" in g:
                    # the DSL writes `on update current timestamp`;
                    # MySQL's information_schema reports `on update
                    # CURRENT_TIMESTAMP` (5.x) / `DEFAULT_GENERATED on
                    # update CURRENT_TIMESTAMP` (8.x) — the reference
                    # treats these as one semantic token
                    # (command-keywords.lisp:165-170,
                    # mysql-cast-rules.lisp:223-227), so compare with
                    # underscores folded to spaces
                    want = g["extra"].lower().replace("_", " ")
                    have = (f.extra or "").lower().replace("_", " ")
                    if want not in have:
                        return False
                if "sexp" in g:
                    if not _eval_guard_sexp(g["sexp"], f):
                        return False
                return True

            return guard

        def make_target(s: CastRuleSpec):
            def target(f: SourceField) -> CastResult:
                # no "to <type>" clause keeps the source type name
                # (sakila.load: CAST type date drop not null ... stays
                # date; the rule only adjusts constraints/transform)
                tt = (s.target_type or s.source_type or "text").strip('"').lower()
                res = CastResult(
                    pg_type=tt,
                    spark_type=pg_to_spark.get(tt, T.StringType()),
                    transform=s.using,
                )
                if "typemod" in s.keep or (
                    "typemod" not in s.drop and f.type_mod and tt in ("varchar", "char", "numeric")
                ):
                    res.type_mod = f.type_mod
                if "default" in s.drop:
                    res.drop_default = True
                if "not null" in s.drop:
                    res.drop_not_null = True
                if "extra" in s.drop:
                    res.drop_extra = True
                return res

            return target

        out.append(
            CastRule(
                source_type=spec.source_type,
                column=spec.column,
                guard=make_guard(spec) if spec.guards else None,
                target=make_target(spec),
            )
        )
    return out


def _eval_guard_sexp(text: str, f) -> bool:
    """Typemod guard sexps: (and (= 18 precision) (= 6 scale)),
    (< precision 10), (> scale 0) — restricted arithmetic comparators
    over precision/scale only (casting-rules.lisp guard exprs)."""
    from pgloader_spark.parsers.sexp import Sym, parse_sexp

    p, s = f.typemod()
    env = {"precision": p, "scale": s}

    def ev(node) -> object:
        if isinstance(node, Sym):
            return env.get(node.name.lower())
        if isinstance(node, (int, float, str)):
            return node
        op = node[0].name.lower()
        args = [ev(a) for a in node[1:]]
        if op == "and":
            return all(args)
        if op == "or":
            return any(args)
        if any(a is None for a in args):
            return False
        if op == "=":
            return args[0] == args[1]
        if op == "<":
            return args[0] < args[1]
        if op == ">":
            return args[0] > args[1]
        if op == "<=":
            return args[0] <= args[1]
        if op == ">=":
            return args[0] >= args[1]
        raise ParseError(f"unsupported guard operator {op!r}")

    return bool(ev(parse_sexp(text)))
