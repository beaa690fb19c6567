"""Sequential fail-fast script execution with dry-run (validate-only) mode.

Re-expresses the reference's execution core Spark-first:

- Sequential statement loop with abort-on-first-error
  (ManifestRunner.java:54-56, 231-246; CLIIGNOREERRORS=false :194).
- Dry-run: the reference javassist-blocks 19 Hive exec task classes so data
  movement prints ``> Skipped!`` and returns 0 while DDL/commands still run
  and ALL SQL still parses + analyzes (ManifestRunner.java:85-134). Here
  dry-run is a first-class mode: DDL/commands execute via ``spark.sql``;
  query/DML statements are validated through ``EXPLAIN EXTENDED`` (Catalyst
  parse + analyze against the catalog, no execution - verified: EXPLAIN of
  DML does not move data) and reported as skipped.
- Output protocol parity: ``>>>>>>>> Processing:  <script>`` (:235),
  ``> Skipped!`` (:127), ``> Total time:  <ms>ms`` (:262), error text carries
  Spark's line/pos addressing (README.md:76 shows Hive's equivalent).
"""

from __future__ import annotations

import re
import time
from collections.abc import Callable

from pyspark.sql import SparkSession

from bee_proof_spark.runner.release_gates import violations as release_violations
from bee_proof_spark.runner.setcmd import SetProcessor
from bee_proof_spark.runner.splitter import (
    Statement,
    blank_literals_and_comments as _blank_literals_and_comments,
    split_statements,
    strip_leading_comments,
)
from bee_proof_spark.runner.substitution import substitute


class StatementError(RuntimeError):
    """A statement failed to parse/analyze/execute; aborts the run."""

    def __init__(self, script: str, line: int, stmt: str, cause: str):
        self.script = script
        self.line = line
        self.stmt = stmt
        self.cause = cause
        super().__init__(f"{script}: statement at line {line} failed: {cause}")


#: CTAS = CREATE TABLE whose body starts a query after AS. All Spark CTAS
#: query forms are listed (SELECT / WITH / TABLE / VALUES / FROM / MAP /
#: REDUCE / parenthesized) - 'AS TABLE t' and 'AS VALUES ...' move data just
#: like 'AS SELECT'. Matched against literal-and-comment-blanked text (see
#: _blank_literals_and_comments): an AS or SELECT inside a string/backtick
#: (e.g. a COMMENT 'same as the daily select') must not flip a metadata-only
#: CREATE to exec, while a comment between AS and SELECT must not hide one.
_CTAS_RE = re.compile(
    r"^\s*CREATE\s+(TEMPORARY\s+)?(EXTERNAL\s+)?TABLE\b"
    r".*?\bAS\s*(\(|SELECT\b|WITH\b|TABLE\b|VALUES\b|FROM\b|MAP\b|REDUCE\b)",
    re.IGNORECASE | re.DOTALL,
)

#: Spark's own ${...} substitution, which a ScriptRunner turns off on its
#: session and run_manifest turns back to what it found.
_SUBSTITUTE = "spark.sql.variable.substitute"

#: Exception marker EXPLAIN EXTENDED embeds for analysis failures (observed
#: Spark 4 behavior: the Analyzed section carries the exception text).
_EXPLAIN_ERR_RE = re.compile(r"^(org\.apache\.spark\.[\w.]*Exception[^\n]*)", re.MULTILINE)


def _first_keyword(sql: str) -> str:
    """The statement's first word past leading comments, upper-cased."""
    words = strip_leading_comments(sql).split(None, 1)
    return words[0].upper() if words else ""


def classify(stmt: str) -> str:
    """Classify a statement: 'set' | 'command' | 'ddl' | 'exec'.

    'exec' statements are the ones Hive would run MR/move tasks for - blocked
    in dry-run. 'ddl'/'command' always execute (metastore/catalog effects only).
    """
    first = _first_keyword(stmt)
    if first == "SET":
        return "set"
    if first in {"ADD", "LIST", "RESET", "USE", "SHOW", "DESCRIBE", "DESC", "EXPLAIN",
                 "REFRESH", "CACHE", "UNCACHE"}:
        return "command"
    if first in {"CREATE", "DROP", "ALTER", "TRUNCATE", "MSCK"}:
        # CTAS moves data -> exec; everything else is catalog-only.
        if first == "CREATE" and _CTAS_RE.match(_blank_literals_and_comments(stmt)):
            return "exec"
        return "ddl"
    return "exec"  # SELECT / WITH / VALUES / INSERT / LOAD / ANALYZE / FROM ...


class ScriptRunner:
    """Runs HQL scripts against a SparkSession, reference-harness style."""

    def __init__(
        self,
        spark: SparkSession,
        execute: bool = False,
        verbose: bool = True,
        out: Callable[[str], None] | None = None,
        max_print_rows: int = 1000,
        release: str | None = None,
    ):
        self.spark = spark
        self.execute = execute  # False = dry-run (enableHadoop=false default)
        self.verbose = verbose
        self.out = out or print
        self.max_print_rows = max_print_rows
        # Per-release Hive-pin feature gating (release_gates.py). None = no
        # gating (engine-native surface); Verification always passes its
        # release so emr-3/emr-4 scripts fail on emr-5-only constructs at
        # validation time, matching the reference's version-pinned hive-exec.
        self.release = release
        self.setproc = SetProcessor(spark)
        # The runner owns ${...} substitution (Hive semantics: unresolved
        # references stay verbatim). Spark's built-in substitutor would
        # otherwise re-substitute inside spark.sql() with different rules.
        try:
            spark.conf.set(_SUBSTITUTE, "false")
        except Exception:
            pass

    # -- per-script ---------------------------------------------------------

    def run_script(self, path: str, variables: dict[str, str] | None = None) -> int:
        with open(path, encoding="utf-8") as f:
            text = f.read()
        return self.run_text(text, variables, script_name=path)

    def run_text(
        self,
        text: str,
        variables: dict[str, str] | None = None,
        script_name: str = "<inline>",
    ) -> int:
        """Run all statements; returns count executed. Raises StatementError."""
        count = 0
        # Expose the task-level hivevar namespace to SET display lookups so
        # 'SET hivevar:NAME' prints what ${NAME} would substitute.
        self.setproc.task_variables = dict(variables or {})
        # Hivevar scoping parity: the reference builds a fresh CliDriver per
        # task and setHiveVariables() REPLACES the session hivevar map
        # (ManifestRunner.java executeScript), so SET hivevar: definitions
        # from one script never leak into the next script or shadow a later
        # task's manifest variables. Reset the SET-defined namespace here so
        # each script starts from exactly its task's manifest variables.
        self.setproc.variables = {}
        for stmt in split_statements(text):
            # hivevar namespace = manifest task variables overridden by any
            # SET hivevar:NAME=... executed earlier in THIS script.
            merged_vars = {**(variables or {}), **self.setproc.variables}
            try:
                sub = substitute(stmt.text, merged_vars, self.setproc)
            except Exception as ex:  # cyclic/over-deep expansion fails the script
                raise StatementError(
                    script_name, stmt.line, stmt.text, str(ex)
                ) from ex
            if self.verbose:
                self.out(sub)
            self._run_statement(sub, stmt, script_name)
            count += 1
        return count

    def _run_statement(self, sql: str, stmt: Statement, script: str) -> None:
        kind = classify(sql)
        # Release gating runs in BOTH modes (the reference's version-pinned
        # hive-exec rejects unknown constructs at parse/analyze time, which
        # dry-run exercises too). SET statements are exempt: a variable VALUE
        # is only Hive text at its substitution site, where the gate re-checks.
        if self.release is not None and kind != "set":
            blanked = _blank_literals_and_comments(sql)
            viol = release_violations(blanked, self.release)
            if viol:
                name, msg, line_off = viol[0]
                # stmt.line addresses the first CONTENT char, but stmt.text
                # retains any leading comments, whose newlines would inflate
                # line_off. Blanking turns those comments into whitespace,
                # so the newline count of blanked's leading-whitespace run
                # is exactly the overcount to subtract.
                lead = blanked[: len(blanked) - len(blanked.lstrip())].count("\n")
                raise StatementError(script, stmt.line + line_off - lead, sql, msg)
        try:
            if kind == "set":
                for ln in self.setproc.process(strip_leading_comments(sql)):
                    self.out(ln)
            elif kind == "command":
                # SHOW/DESCRIBE/EXPLAIN... produce rows the reference CLI
                # prints (Hive CliDriver.processFile); dropping them made
                # the statements silently useless. Commands run in dry-run
                # too (catalog-only), so print in both modes. Same driver-
                # memory cap as the query branch: SHOW PARTITIONS on a
                # million-partition table must not collect a million rows.
                self._print_rows(self.spark.sql(sql))
            elif kind == "ddl":
                self.spark.sql(sql).collect()
            elif self.execute:
                df = self.spark.sql(sql)
                if self._is_query(sql):
                    self._print_rows(df)
                else:
                    df.collect()  # force eager DML side effects uniformly
            else:
                self._validate_only(sql)
                self.out("> Skipped!")
        except StatementError:
            raise
        except Exception as ex:  # ParseException, AnalysisException, runtime
            msg = str(ex).split("\n\tat ")[0].strip()
            raise StatementError(script, stmt.line, sql, msg) from ex

    def _print_rows(self, df) -> None:
        """Print up to ``max_print_rows`` rows tab-separated. The +1 sentinel
        row signals the cap instead of silently shaping the output (the
        reference CLI prints everything; the cap is this runner's
        driver-memory guard, so say when it bound)."""
        rows = df.limit(self.max_print_rows + 1).collect()
        for r in rows[: self.max_print_rows]:
            self.out("\t".join("NULL" if v is None else str(v) for v in r))
        if len(rows) > self.max_print_rows:
            self.out(f"> Output truncated at {self.max_print_rows} rows")

    @staticmethod
    def _is_query(sql: str) -> bool:
        return _first_keyword(sql) in {"SELECT", "WITH", "VALUES", "FROM", "TABLE", "MAP", "REDUCE"}

    def _validate_only(self, sql: str) -> None:
        """Parse + analyze without data movement (dry-run core).

        EXPLAIN EXTENDED parses and analyzes against the catalog but executes
        nothing; Spark embeds analysis failures in the output text instead of
        raising, so we scan for the exception marker and surface it.
        """
        from pyspark.errors import ParseException

        try:
            text = self.spark.sql(f"EXPLAIN EXTENDED {sql}").collect()[0][0]
        except ParseException:
            # Statement kind not EXPLAIN-wrappable (rare) - fall back to
            # parse-only, which re-raises if the inner SQL itself is bad.
            # ONLY parse errors take this fallback: an AnalysisException or
            # infra error here is a real failure the dry-run must surface,
            # not downgrade to parse-only (a bare except let dry-run print
            # '> Skipped!' past statements whose analysis failed).
            self.spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
            return
        m = _EXPLAIN_ERR_RE.search(text)
        if m:
            raise RuntimeError(m.group(1))

    # -- per-manifest -------------------------------------------------------


def run_manifest(
    manifest,
    spark: SparkSession,
    out: Callable[[str], None] | None = None,
    release: str | None = None,
) -> None:
    """Execute a parsed Manifest: sequential tasks, fail-fast, timing line."""
    out = out or print
    start = time.monotonic()
    prev_substitute = spark.conf.get(_SUBSTITUTE, None)  # ScriptRunner turns it off
    runner = ScriptRunner(
        spark,
        execute=manifest.enable_hadoop,
        verbose=manifest.verbose_output,
        out=out,
        release=release,
    )
    if manifest.debug_output:
        out(">>>>>>>> Current Spark Config:")
        for k, v in sorted(spark.sparkContext.getConf().getAll()):
            out(f"{k}={v}")
        out("")
    try:
        for task in manifest.tasks:
            out(f">>>>>>>> Processing:  {task.script}")
            runner.run_script(task.script, task.variables)
            out("")
            out("")
    finally:
        if prev_substitute is None:
            spark.conf.unset(_SUBSTITUTE)
        else:
            spark.conf.set(_SUBSTITUTE, prev_substitute)
        elapsed_ms = int((time.monotonic() - start) * 1000)
        out(f"> Total time:  {elapsed_ms}ms")
