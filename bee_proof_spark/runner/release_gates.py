"""Per-release HiveQL feature gating for validate-only / execute runs.

The reference's whole point is per-release pins: ``Verification.for_release``
selects a jar whose hive-exec dependency is version-locked per EMR profile
(reference pom.xml:28-66 - emr-3 = Hive 0.13.1, emr-4 = Hive 1.0.0,
emr-5 = Hive 2.3.3), so a script using a construct that Hive version lacks
fails validation there at parse/analyze time. This module re-expresses that
contract as a release -> feature table derived from SURVEY.md section 2-B's
version gates (SURVEY.md:255-288; feature-to-version facts are public Hive
release knowledge):

- ``INTERSECT`` / ``EXCEPT`` / ``MINUS`` set operators: Hive 2.3 -> emr-5 only.
- ``UNION [DISTINCT]`` (bare UNION): Hive 1.2; Hive 0.13/1.0 parse only
  ``UNION ALL`` -> emr-5 only under our pins.
- scalar functions: initcap/add_months/last_day/greatest/least (1.1),
  months_between (1.2), md5/sha1/sha2/crc32 (1.3), bround (2.0), nullif (2.3).
- statement constructs (r10): DROP/ALTER ... PURGE (HIVE-7100, 0.14),
  CREATE TEMPORARY TABLE (HIVE-7090, 0.14), CURRENT_DATE/CURRENT_TIMESTAMP
  keywords (HIVE-5472, 1.2).

Detection runs on literal-and-comment-blanked statement text
(``splitter.blank_literals_and_comments``) so ``COMMENT 'use nullif here'``
or a ``-- TODO: INTERSECT`` comment can never trip a gate, while real
constructs always do. Violations carry a line offset within the statement
so the runner's error is line-addressed like the reference's Hive parse
errors (README.md:76).
"""

from __future__ import annotations

import re

#: Release -> pinned Hive version (reference pom.xml:33,45,59).
RELEASE_HIVE_VERSION: dict[str, tuple[int, int, int]] = {
    "emr-3": (0, 13, 1),
    "emr-4": (1, 0, 0),
    "emr-5": (2, 3, 3),
}

#: Scalar function -> minimum Hive version (SURVEY.md section 2-B fn tables).
_FN_GATES: dict[str, tuple[int, int, int]] = {
    "initcap": (1, 1, 0),
    "add_months": (1, 1, 0),
    "last_day": (1, 1, 0),
    "greatest": (1, 1, 0),
    "least": (1, 1, 0),
    "months_between": (1, 2, 0),
    "md5": (1, 3, 0),
    "sha1": (1, 3, 0),
    "sha2": (1, 3, 0),
    "crc32": (1, 3, 0),
    "bround": (2, 0, 0),
    "nullif": (2, 3, 0),
}

#: A set-operator keyword is only a set operator when the NEXT token can
#: start a query (SELECT/(/VALUES/TABLE) or is the ALL/DISTINCT qualifier.
#: Without the lookahead, a column or alias NAMED ``minus``/``union``/
#: ``except`` (all non-reserved identifiers in Hive 0.13 -
#: ``CREATE TABLE t (minus INT)`` is legal there) would be falsely
#: rejected under the old pins. FROM/MAP/REDUCE are deliberately NOT in
#: the lookahead even though Hive queries can start with them: ``x AS
#: union FROM t`` (alias named union) is the overwhelmingly likelier
#: parse of ``UNION FROM``, and a set-op branch written FROM-first is
#: vanishing-rare; gates err toward never rejecting legal old-pin SQL.
_QSTART = r"(?=\s*(SELECT\b|\(|ALL\b|DISTINCT\b|VALUES\b|TABLE\b))"

#: Keyword constructs -> minimum Hive version.
_KW_GATES: list[tuple[re.Pattern, str, tuple[int, int, int]]] = [
    (re.compile(r"\bINTERSECT\b" + _QSTART, re.IGNORECASE), "INTERSECT", (2, 3, 0)),
    (re.compile(r"\bEXCEPT\b" + _QSTART, re.IGNORECASE), "EXCEPT", (2, 3, 0)),
    (re.compile(r"\bMINUS\b" + _QSTART, re.IGNORECASE), "MINUS", (2, 3, 0)),
]

#: ``UNION`` followed by a query start but NOT by ``ALL`` = UNION
#: [DISTINCT] (Hive 1.2). The same identifier guard applies.
_UNION_RE = re.compile(
    r"\bUNION\b(?!\s+ALL\b)" + _QSTART, re.IGNORECASE
)

#: Scalar subquery as an expression operand (SURVEY.md:318: NOT in Hive
#: 0.13). Hive 0.13's subquery work (HIVE-784 era) covered only IN/EXISTS
#: predicates; scalar subqueries in expressions arrived with the Hive 2.x
#: subquery expansion - gate at 2.3 like INTERSECT/EXCEPT (emr-5 only).
#: Detection covers the unambiguous shapes only: a comparison or
#: arithmetic operator, a SELECT-list head (``SELECT (SELECT``), or a
#: CASE branch (``WHEN/THEN/ELSE (SELECT``) directly before ``(SELECT``.
#: IN/EXISTS subqueries are 0.13-legal and never match (their SELECT
#: follows ``IN (`` / ``EXISTS (``), and derived tables follow FROM/JOIN.
#: ``, (SELECT`` (non-head projection position) is deliberately NOT
#: matched: it is ambiguous with a comma cross-join's derived table
#: (``FROM a, (SELECT ...) b``) and gates err toward never rejecting
#: legal old-pin SQL.
#: ``SELECT DISTINCT (SELECT`` is as unambiguous as the plain head
#: (r9 advice) and is folded into the SELECT alternative.
_SCALAR_SUBQ_RE = re.compile(
    r"(?:=|<>|!=|<=|>=|<|>|\+|-|\*|/|%)\s*\(\s*SELECT\b"
    r"|\b(?:SELECT(?:\s+DISTINCT)?|WHEN|THEN|ELSE)\s*\(\s*SELECT\b",
    re.IGNORECASE,
)

#: Statement-level constructs -> minimum Hive version (r10 widening,
#: public Hive JIRA facts). PURGE is only a construct as the TRAILING
#: token of a DROP/ALTER statement (HIVE-7100: DROP TABLE ... PURGE,
#: 0.14; the same trailing shape covers DROP PARTITION ... PURGE), so an
#: identifier/table named ``purge`` never trips. CREATE TEMPORARY TABLE
#: is HIVE-7090 (0.14) - the regex requires TABLE so the 0.13-legal
#: CREATE TEMPORARY FUNCTION passes. CURRENT_DATE/CURRENT_TIMESTAMP are
#: HIVE-5472 (1.2) no-paren keywords; the lookarounds skip qualified
#: column refs (``t.current_date``) and longer identifiers. When a match
#: has a capture group, the violation is addressed at the GROUP (the
#: PURGE token), not the statement head.
_STMT_GATES: list[tuple[re.Pattern, str, tuple[int, int, int]]] = [
    (
        # Match ONLY the two statement shapes HIVE-7100/HIVE-9086 define:
        # ``DROP TABLE [IF EXISTS] <name> PURGE`` and ``ALTER TABLE ...
        # DROP ... PARTITION (...) [IGNORE PROTECTION] PURGE`` (r10 ADVICE:
        # the previous keyword-lookahead approach false-positived on
        # 0.13-legal statements whose last token is an identifier named
        # purge after OTHER keywords - DROP FUNCTION purge, ALTER TABLE t
        # RENAME TO purge, ... AFTER purge). The name atom alternates full
        # quoted spans with bare identifier runs (r11 ADVICE: the flat
        # char class couldn't cross the space in ``drop table `odd name`
        # purge``, false-negating Hive-0.14 purges on quoted names), so
        # both `odd name`.part and plain db.t shapes anchor correctly.
        # The bare branch is SINGLE-character (r12 ADVICE: ``[\w.]+``
        # nested inside the outer ``+`` backtracked exponentially on
        # non-PURGE drops of long bare names - 5.2 s at 26 chars; the
        # single-char branch makes the repetition unambiguous, O(n)).
        re.compile(
            r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?"
            r"(?:`[^`]*`|\"[^\"]*\"|[\w.])+\s+(PURGE)"
            r"\s*;?\s*$"
            r"|^\s*ALTER\s+TABLE\b[\s\S]*\bDROP\b[\s\S]*\bPARTITION\s*"
            r"\([\s\S]*\)\s+(?:IGNORE\s+PROTECTION\s+)?(PURGE)\s*;?\s*$",
            re.IGNORECASE,
        ),
        "PURGE",
        (0, 14, 0),
    ),
    (
        re.compile(r"\bCREATE\s+TEMPORARY\s+TABLE\b", re.IGNORECASE),
        "CREATE TEMPORARY TABLE",
        (0, 14, 0),
    ),
    (
        re.compile(r"(?<![\w.])(CURRENT_DATE)\b(?!\s*\()", re.IGNORECASE),
        "CURRENT_DATE",
        (1, 2, 0),
    ),
    (
        re.compile(r"(?<![\w.])(CURRENT_TIMESTAMP)\b(?!\s*\()", re.IGNORECASE),
        "CURRENT_TIMESTAMP",
        (1, 2, 0),
    ),
]

_FN_CALL_RE = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(")


def _fmt(v: tuple[int, int, int]) -> str:
    return ".".join(str(x) for x in v)


def violations(blanked_sql: str, release: str) -> list[tuple[str, str, int]]:
    """Gate violations for a statement under a release's Hive pin.

    ``blanked_sql`` must already have literal/comment contents blanked
    (splitter.blank_literals_and_comments). Returns
    ``[(construct, message, line_offset), ...]`` ordered by position;
    line_offset is 0-based lines from the statement start to the match.
    """
    pin = RELEASE_HIVE_VERSION.get(release)
    if pin is None or pin >= (2, 3, 3):
        return []  # emr-5 pin covers every gated construct

    found: list[tuple[int, str, tuple[int, int, int]]] = []
    for pat, name, need in _KW_GATES:
        if need > pin:
            for m in pat.finditer(blanked_sql):
                found.append((m.start(), name, need))
    if (1, 2, 0) > pin:
        for m in _UNION_RE.finditer(blanked_sql):
            found.append((m.start(), "UNION [DISTINCT]", (1, 2, 0)))
    if (2, 3, 0) > pin:
        for m in _SCALAR_SUBQ_RE.finditer(blanked_sql):
            found.append((m.start(), "scalar subquery", (2, 3, 0)))
    for pat, name, need in _STMT_GATES:
        if need > pin:
            for m in pat.finditer(blanked_sql):
                found.append((m.start(m.lastindex or 0), name, need))
    for m in _FN_CALL_RE.finditer(blanked_sql):
        need = _FN_GATES.get(m.group(1).lower())
        if need is not None and need > pin:
            found.append((m.start(), f"{m.group(1).lower()}()", need))

    found.sort()
    out = []
    for pos, name, need in found:
        msg = (
            f"{name} requires Hive {_fmt(need)} but release {release} pins "
            f"Hive {_fmt(pin)} (release gate; reference pom.xml:28-66)"
        )
        out.append((name, msg, blanked_sql.count("\n", 0, pos)))
    return out
