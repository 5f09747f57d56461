"""SQL safety gate.

The reference has two gates: a live-mode hook that allows everything
(``sql_generator.py:65-67``) and a demo-mode keyword blocklist that
rejects DML/DDL-looking requests with a "SELECT only" reason
(``sql_generator.py:253-266``). Response objects carry
``is_blocked``/``block_reason`` (``main.py:48-49``).

This engine validates structurally: the first statement keyword
decides read-vs-write (robust to identifiers that merely *contain* a
blocked word, unlike the reference's substring scan), with a keyword
fallback for unparseable text. Write statements are blocked unless the
caller opts in (``allow_writes=True``), mirroring D2/D3 in SURVEY §2.9.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

#: Statement-leading keywords that read.
_READ_KEYWORDS = {"SELECT", "WITH", "VALUES", "TABLE", "SHOW", "DESCRIBE", "DESC", "EXPLAIN"}
#: Statement-leading keywords that mutate.
_WRITE_KEYWORDS = {
    "INSERT",
    "UPDATE",
    "DELETE",
    "MERGE",
    "DROP",
    "TRUNCATE",
    "CREATE",
    "ALTER",
    "REPLACE",
    "SET",
    "RESET",
    "GRANT",
    "REVOKE",
    "LOAD",
}

@dataclass(frozen=True)
class SafetyVerdict:
    is_blocked: bool
    block_reason: str | None
    is_write: bool
    #: the statement's leading word, upper-cased ("" when none): the
    #: router reads it instead of re-scanning the text
    keyword: str


def _skip_string(s: str, i: int) -> int:
    """``s[i]`` is an opening quote; return the index of the matching
    closing quote (or ``len(s)`` if unterminated).

    Escape rules match Spark's DEFAULT lexer
    (``spark.sql.parser.escapedStringLiterals=false``, which the
    engine's sessions never override): inside ``'...'`` and ``"..."``
    both the doubled-quote escape (``''``) AND the backslash escape
    (``\\'``) keep the scanner inside the literal — a scanner honoring
    only one of them can be desynced by the other, letting CTE-prefixed
    DML read as a SELECT body (the round-4 advice hole). Backtick
    identifiers know only the doubled-backtick escape; backslash is an
    ordinary character there."""
    quote = s[i]
    n = len(s)
    i += 1
    while i < n:
        ch = s[i]
        if ch == "\\" and quote in "'\"":
            i += 2  # backslash escapes the next char (incl. the quote)
            continue
        if ch == quote:
            if i + 1 < n and s[i + 1] == quote:  # doubled-quote escape
                i += 2
                continue
            return i
        i += 1
    return n


def _strip_comments(sql: str) -> str:
    """Remove ``--`` and ``/* */`` comments with the SAME quote-aware
    walk the classifier uses, so comment markers INSIDE string literals
    (``SELECT '--x'``) survive and quotes inside comments don't leak
    into the scan. (The previous regex pre-pass deleted ``'--x'``'s
    closing quote and unbalanced the paren walk — a front-door false
    positive on valid SELECTs.)"""
    out, i, n = [], 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"`":
            j = _skip_string(sql, i)
            out.append(sql[i : j + 1])
            i = j + 1
        elif ch == "-" and sql[i : i + 2] == "--":
            # Spark's SIMPLE_COMMENT is ``'--' ('\\\n' | ~[\r\n])*``:
            # a backslash immediately before a newline CONTINUES the
            # comment onto the next line, and a bare ``\r`` always
            # terminates (it is outside both alternatives). Ending at
            # the first newline — what this scanner did before round
            # 7's grammar-aware fuzz caught it — lets
            # ``--\<nl>SELECT decoy<nl>INSERT ...`` launder a write:
            # the scanner classifies the decoy SELECT while Spark's
            # lexer swallows it as comment and executes the INSERT.
            i += 2
            while i < n:
                if sql[i] == "\\" and i + 1 < n and sql[i + 1] == "\n":
                    i += 2  # line continuation: still inside the comment
                elif sql[i] in "\r\n":
                    i += 1
                    break
                else:
                    i += 1
            out.append(" ")
        elif ch == "/" and sql[i : i + 2] == "/*":
            # Spark (3.0+) bracketed comments NEST: '/* /* */ x */' is
            # one comment. Track depth — ending at the first '*/' would
            # resurface the tail ('x */ DROP ...') as live SQL and let a
            # write launder past the gate. Unterminated comments run to
            # EOF (matching Spark's lexer, which errors — nothing after
            # an unterminated opener can execute anyway).
            depth, i = 1, i + 2
            while i < n and depth:
                if sql[i : i + 2] == "/*":
                    depth, i = depth + 1, i + 2
                elif sql[i : i + 2] == "*/":
                    depth, i = depth - 1, i + 2
                else:
                    i += 1
            out.append(" ")
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _first_keyword(sql: str) -> str:
    """The leading word, whole: ``SELECT1`` is an identifier to Spark's
    lexer (maximal munch), not the keyword ``SELECT``."""
    stripped = _strip_comments(sql).strip().rstrip(";").strip()
    if stripped.startswith("("):
        # parenthesized query expression: can only be a read
        return "("
    m = re.match(r"[A-Za-z_]\w*", stripped)
    return m.group(0).upper() if m else ""


def _is_identifier_list(s: str) -> bool:
    """True when ``s`` parses as a comma-separated identifier list —
    the shape of a CTE column-alias list. Identifiers may be plain
    (any keyword counts: Spark's non-ANSI mode accepts ``(select)``
    as a column list) or backquoted with the doubled-backtick escape
    (a backquoted name may contain commas — split-on-comma is not
    enough, so this walks with the quote-aware scanner).

    Plain identifiers are ``[A-Za-z0-9_]+`` — DIGIT-LEADING included,
    because Spark's lexer rule is ``IDENTIFIER: (LETTER|DIGIT|'_')+``
    with maximal munch, so ``WITH c(2b) (SELECT 1) ...`` binds ``2b``
    as a column alias (round-8 advice: rejecting it made the walker
    treat the query paren as a parenthesized read body and launder a
    following INSERT). Over-accepting here is conservative-safe: a
    bare identifier list is never itself a valid query, so classifying
    a group as an alias list can only push the walk FORWARD to the
    real body keyword, never turn a write into a read."""
    i, n = 0, len(s)
    expect_ident, seen_any = True, False
    while i < n:
        ch = s[i]
        if ch.isspace():
            i += 1
        elif ch == "`":
            if not expect_ident:
                return False
            j = _skip_string(s, i)
            if j >= n:
                return False  # unterminated backquote
            i = j + 1
            expect_ident, seen_any = False, True
        elif re.match(r"[A-Za-z0-9_]", ch):
            if not expect_ident:
                return False
            i += re.match(r"[A-Za-z_0-9]+", s[i:]).end()
            expect_ident, seen_any = False, True
        elif ch == ",":
            if expect_ident:
                return False
            expect_ident = True
            i += 1
        else:
            return False
    return seen_any and not expect_ident


def _cte_body_keyword(sql: str) -> str:
    """Leading keyword of the statement BODY after a WITH clause.

    A CTE prefix does not make a statement a read: ``WITH d AS
    (SELECT ...) INSERT INTO t ...`` is DML (and Spark would happily
    execute it). Walk the CTE list at paren depth 0 — after each
    definition's closing paren the next token is either ``,`` (another
    CTE) or the body's first keyword. String literals and quoted
    identifiers are skipped with the full Spark escape rules
    (:func:`_skip_string`) so parens inside them don't count; a
    parenthesized body ``WITH a AS (...) (SELECT ...)`` classifies as
    the ``(`` read opener.

    ``AS`` is OPTIONAL in Spark's grammar (``namedQuery: name
    (columnAliases)? AS? '(' query ')'``) — the round-7 grammar-aware
    fuzz caught the walker treating the query paren of
    ``WITH c0(s) (SELECT ...) INSERT ...`` as a parenthesized read
    body and laundering the INSERT. Disambiguation now mirrors the
    parser's binding (verified empirically, incl. keyword-named and
    backquoted-comma columns): a depth-0 group shaped like an
    identifier list is a column-alias list, so a following ``(``
    opens this CTE's query; any other group is the query itself, so a
    following ``(`` opens the body. Returns "" when no body is found
    (malformed WITH) — the caller's conservative-block branch handles
    it."""
    stripped = _strip_comments(sql).strip().rstrip(";").strip()
    i, n, depth = 0, len(stripped), 0
    group_start = -1
    while i < n:
        ch = stripped[i]
        if ch in "'\"`":
            i = _skip_string(stripped, i)
        elif ch == "(":
            if depth == 0:
                group_start = i
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                inner = stripped[group_start + 1 : i]
                j = i + 1
                while j < n and stripped[j].isspace():
                    j += 1
                if j < n and stripped[j] == ",":
                    i = j  # next CTE definition
                elif j < n and stripped[j] == "(":
                    if _is_identifier_list(inner):
                        # the closed group was a column-alias list with
                        # AS omitted; the upcoming group is this CTE's
                        # query — reprocess it as a new depth-0 group
                        i = j - 1
                    else:
                        return "("  # parenthesized query body: a read
                else:
                    m = re.match(r"[A-Za-z_]+", stripped[j:])
                    tok = m.group(0).upper() if m else ""
                    if tok == "AS":
                        # the paren we just closed was a CTE column
                        # list (WITH t(n) AS ...): keep walking
                        i = j
                        continue
                    return tok
        i += 1
    return ""


def validate_sql_safety(sql: str, allow_writes: bool = False) -> SafetyVerdict:
    """Classify a statement and decide whether to block it.

    Read statements always pass. Write statements pass only with
    ``allow_writes`` (the engine's equivalent of the reference's
    live-mode allow-all hook); otherwise blocked with a reason string,
    matching the demo-mode behavior of ``sql_generator.py:253-266``.
    """
    if not sql or not sql.strip():
        return SafetyVerdict(True, "empty SQL statement", False, "")
    lead = kw = _first_keyword(sql)

    def verdict(is_blocked: bool, block_reason: str | None, is_write: bool):
        return SafetyVerdict(is_blocked, block_reason, is_write, lead)

    if kw == "WITH":
        # classify by the statement BODY: a CTE prefix on DML is DML
        body = _cte_body_keyword(sql)
        if body in _WRITE_KEYWORDS:
            kw = body
        elif body in _READ_KEYWORDS or body == "(" or body == "":
            # "" = malformed WITH; Spark's parser will reject it, and
            # a statement with no body cannot write
            return verdict(False, None, False) if body else verdict(
                True, "malformed WITH statement (no body)", False
            )
        else:
            return verdict(
                True, f"unrecognized WITH body statement: {body!r}", False
            )
    if kw in _READ_KEYWORDS or kw == "(":
        return verdict(False, None, False)
    if kw in _WRITE_KEYWORDS:
        if allow_writes:
            return verdict(False, None, True)
        return verdict(
            True, f"only read-only queries are allowed (statement starts with {kw})", True
        )
    # Unrecognized leading token: conservative block (the reference
    # would have sent it to the DB and surfaced the DB error).
    return verdict(True, f"unrecognized statement type: {kw or sql[:20]!r}", False)
