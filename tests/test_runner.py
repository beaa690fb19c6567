"""Harness operator tests (SURVEY.md section 5.2): manifest defaults, statement
splitting, ${VAR} substitution, dry-run validation, fail-fast ordering,
emrhive SET shim, output protocol strings."""

from __future__ import annotations

import json

import pytest

from bee_proof_spark.runner.executor import ScriptRunner, StatementError, classify, run_manifest
from bee_proof_spark.runner.manifest import Manifest
from bee_proof_spark.runner.setcmd import SetProcessor
from bee_proof_spark.runner.splitter import split_statements
from bee_proof_spark.runner.substitution import substitute


# ---------------------------------------------------------------- splitter

def test_split_basic():
    stmts = split_statements("SELECT 1; SELECT 2;\nSELECT 3")
    assert [s.text for s in stmts] == ["SELECT 1", "SELECT 2", "SELECT 3"]


def test_split_quoted_semicolon():
    stmts = split_statements("SELECT 'a;b' AS x; SELECT \"c;d\"")
    assert len(stmts) == 2
    assert stmts[0].text == "SELECT 'a;b' AS x"


def test_split_escaped_quote():
    stmts = split_statements(r"SELECT 'it\'s; fine'; SELECT 2")
    assert len(stmts) == 2


def test_split_comments():
    script = "-- leading comment; not a split\nSELECT 1; -- trailing ; comment\nSELECT 2;\n/* block ; comment */ SELECT 3;"
    stmts = split_statements(script)
    assert len(stmts) == 3
    assert stmts[0].text.endswith("SELECT 1")


def test_split_comment_only_dropped():
    assert split_statements("-- nothing here\n;\n  ;") == []


def test_split_line_numbers():
    stmts = split_statements("SELECT 1;\n\nSELECT 2;\n-- c\nSELECT 3")
    assert [s.line for s in stmts] == [1, 3, 5]


def test_split_backtick():
    stmts = split_statements("SELECT `weird;col` FROM t; SELECT 2")
    assert len(stmts) == 2


def test_split_nested_block_comment():
    """Spark's lexer nests bracketed comments: a ';' between an inner '*/'
    and the outer close must NOT split (review-caught r8, the classify
    scanner's bug applied to the splitter)."""
    stmts = split_statements(
        "SELECT 1 /* outer /* inner */ ; still comment */; SELECT 2"
    )
    assert len(stmts) == 2
    assert stmts[0].text.startswith("SELECT 1")
    assert stmts[0].text.endswith("*/")
    assert stmts[1].text == "SELECT 2"


def test_split_comment_opener_consumes_both_chars():
    """'/*/' must NOT read its own '*' as half a closer (review-caught r8:
    the splitter's opener advanced one char, so '/*/ ; */' split at the
    ';' and '/*/*' miscounted depth - both now shared-scanner cases)."""
    stmts = split_statements("SELECT 1 /*/ ; */ SELECT 2")
    assert [s.text for s in stmts] == ["SELECT 1 /*/ ; */ SELECT 2"]
    stmts = split_statements("SELECT 1 /*/* ; */ */; SELECT 2")
    assert [s.text for s in stmts] == ["SELECT 1 /*/* ; */ */", "SELECT 2"]
    # unterminated comment: everything to EOF is comment, never resurrected
    stmts = split_statements("SELECT 1 /*/ ; SELECT 2")
    assert [s.text for s in stmts] == ["SELECT 1 /*/ ; SELECT 2"]
    # line numbers survive multi-line comments consumed in one bite
    stmts = split_statements("/* a\n/* b */\nc */\nSELECT 9;\nSELECT 10")
    assert [s.line for s in stmts] == [4, 5]


# ---------------------------------------------------------------- substitution

def test_substitute_plain_and_namespaced():
    vars = {"BANANA": "'ripe'", "A": "${B}", "B": "bee"}
    conf = {"k1": "v1"}
    assert substitute("SELECT ${BANANA} AS Banana", vars) == "SELECT 'ripe' AS Banana"
    assert substitute("${hivevar:BANANA}|${hiveconf:k1}", vars, conf) == "'ripe'|v1"
    assert substitute("${A}", vars) == "bee"  # nested


def test_substitute_unresolved_left_verbatim():
    assert substitute("SELECT ${NOPE}", {}) == "SELECT ${NOPE}"


def test_substitute_hivevar_wins_over_conf():
    assert substitute("${X}", {"X": "var"}, {"X": "conf"}) == "var"


# ---------------------------------------------------------------- manifest

def test_manifest_defaults():
    m = Manifest.from_json('{"tasks": [{"script": "a.hql", "variables": {"K": "1"}}]}')
    assert m.enable_hadoop is False  # dry-run is the default
    assert m.verbose_output is True
    assert m.debug_output is False
    assert m.tasks[0].script == "a.hql"
    assert m.tasks[0].variables == {"K": "1"}


def test_manifest_roundtrip():
    m = Manifest.from_json('{"enableHadoop": true, "tasks": []}')
    assert Manifest.from_json(m.to_json()).enable_hadoop is True


def test_manifest_missing_script_key():
    with pytest.raises(ValueError):
        Manifest.from_dict({"tasks": [{"variables": {}}]})


# ---------------------------------------------------------------- classify

@pytest.mark.parametrize(
    "sql,kind",
    [
        ("SELECT 1", "exec"),
        ("INSERT INTO t VALUES (1)", "exec"),
        ("CREATE TABLE t (a INT) USING parquet", "ddl"),
        ("CREATE TABLE t AS SELECT 1", "exec"),  # CTAS moves data
        ("CREATE VIEW v AS SELECT 1", "ddl"),
        ("DROP TABLE t", "ddl"),
        ("SHOW TABLES", "command"),
        ("set hive.exec.parallel=true", "set"),
        ("WITH c AS (SELECT 1) SELECT * FROM c", "exec"),
        ("-- leading comment\nCREATE TABLE t (a INT)", "ddl"),
        ("/* block */ SET a=b", "set"),
        # literal text must not flip classification (review-caught, r6):
        ("CREATE TABLE t (x INT) COMMENT 'same as the daily select snapshot'", "ddl"),
        ("CREATE TABLE t (`as` INT, `select` INT)", "ddl"),
        # non-SELECT CTAS forms move data -> exec:
        ("CREATE TABLE t2 AS TABLE t1", "exec"),
        ("CREATE TABLE t2 AS VALUES (1), (2)", "exec"),
        ("CREATE TABLE t2 AS WITH c AS (SELECT 1) SELECT * FROM c", "exec"),
        ("CREATE TABLE t2 AS (SELECT 1)", "exec"),
        # comments between AS and the query keyword must not hide a CTAS
        # from dry-run (review-caught r7: it classified 'ddl' and moved data)
        ("CREATE TABLE t AS -- note\nSELECT 1", "exec"),
        ("CREATE TABLE t AS /* staged\n copy */ SELECT 1", "exec"),
        ("CREATE TABLE t AS -- one\n-- two\nWITH c AS (SELECT 1) SELECT * FROM c", "exec"),
        # ...while a '--' inside a literal is not a comment, and a quote
        # inside a comment does not open a literal:
        ("CREATE TABLE t (x STRING) COMMENT 'as -- select'", "ddl"),
        ("CREATE TABLE t (x INT) /* don't AS SELECT */", "ddl"),
        # NESTED bracketed comments (Spark's lexer supports them): the
        # scanner must track depth, not close at the first '*/'
        # (review-caught r8: ' c */' stayed live and the CTAS classified
        # 'ddl' - a statement that moves data under dry-run)
        ("CREATE TABLE t AS /* a /* b */ c */ SELECT 1", "exec"),
        ("/* outer /* inner */ still comment */ SET a=b", "set"),
        ("CREATE TABLE t (x INT) /* as /* nested */ select */", "ddl"),
    ],
)
def test_classify(sql, kind):
    assert classify(sql) == kind


# ---------------------------------------------------------------- SET shim

def test_set_emr_shim(spark):
    sp = SetProcessor(spark)
    sp.process("SET hive.optimize.s3.query=true")  # must not raise (A9)
    assert sp.local_conf["emrhive.hive.optimize.s3.query"] == "true"


def test_set_reduce_tasks_maps_to_shuffle_partitions(spark):
    sp = SetProcessor(spark)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sp.process("SET mapred.reduce.tasks=7")
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_set_get_and_list(spark):
    sp = SetProcessor(spark)
    sp.process("SET my.custom.key=abc")
    assert sp.process("SET my.custom.key") == ["my.custom.key=abc"]
    assert "my.custom.key=abc" in sp.process("SET")


def test_set_hiveconf_prefixed_readback(spark):
    """'SET hiveconf:k' must read the key 'SET hiveconf:k=v' wrote (apply()
    strips the namespace prefix before storing - the display path must too)."""
    sp = SetProcessor(spark)
    sp.process("SET hiveconf:my.key=5")
    assert sp.process("SET hiveconf:my.key") == ["hiveconf:my.key=5"]
    assert sp.process("SET my.key") == ["my.key=5"]


def test_set_hivevar_display_sees_manifest_variables(spark, runner_out):
    """'SET hivevar:NAME' must print what ${NAME} substitution resolves -
    including manifest/task variables, with SET-defined ones winning."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    r.run_text("SET hivevar:T", {"T": "from-manifest"})
    assert lines == ["hivevar:T=from-manifest"]
    lines.clear()
    r.run_text("SET hivevar:T=set-wins; SET hivevar:T", {"T": "from-manifest"})
    assert lines == ["hivevar:T=set-wins"]


@pytest.mark.parametrize(
    "key, value",
    [
        ("bps.set.key", "from-set"),  # SET in the script
        ("spark.bps.session.key", "from-session"),  # set on the session
        ("spark.sql.optimizer.maxIterations", "100"),  # unset, has a default
        ("bps.unknown.key", None),  # unknown to both
    ],
)
def test_set_display_and_hiveconf_substitution_agree(spark, runner_out, key, value):
    """'SET hiveconf:key' prints what '${hiveconf:key}' substitutes; an
    unknown key prints <undefined> and its reference stays verbatim."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    spark.conf.set("spark.bps.session.key", "from-session")
    try:
        r.run_text(
            f"SET bps.set.key=from-set; SET hiveconf:{key}; "
            f"SELECT '${{hiveconf:{key}}}' AS v"
        )
    finally:
        spark.conf.unset("spark.bps.session.key")
    shown, substituted = lines
    if value is None:
        assert shown == f"hiveconf:{key}=<undefined>"
        assert substituted == f"${{hiveconf:{key}}}"
    else:
        assert (shown, substituted) == (f"hiveconf:{key}={value}", value)


# ---------------------------------------------------------------- executor

@pytest.fixture
def runner_out():
    lines = []
    return lines, lines.append


def test_dry_run_validates_and_skips(spark, runner_out, tmp_path):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out)
    r.run_text(
        f"""
        CREATE TABLE dryrun_t (a INT, b STRING) USING parquet LOCATION '{tmp_path}/dryrun_t';
        SELECT a, upper(b) FROM dryrun_t WHERE a > 1;
        INSERT INTO dryrun_t VALUES (1, 'x');
        """
    )
    assert lines.count("> Skipped!") == 2  # select + insert skipped, DDL ran
    assert spark.catalog.tableExists("dryrun_t")
    assert spark.table("dryrun_t").count() == 0  # insert did NOT run
    spark.sql("DROP TABLE dryrun_t")


def test_dry_run_catches_bad_column(spark, runner_out, tmp_path):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out)
    script = (
        f"CREATE TABLE dryrun_e (a INT) USING parquet LOCATION '{tmp_path}/dryrun_e';\n"
        "SELECT nope FROM dryrun_e;"
    )
    with pytest.raises(StatementError) as ei:
        r.run_text(script)
    assert "nope" in str(ei.value).lower() or "UNRESOLVED" in str(ei.value)
    assert ei.value.line == 2  # error addressed to the failing statement's line
    spark.sql("DROP TABLE dryrun_e")


def test_dry_run_catches_syntax_error(spark, runner_out):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out)
    with pytest.raises(StatementError):
        r.run_text("SELEC 1")


def test_dry_run_catches_optimizer_only_error(spark, runner_out, tmp_path):
    """An implicit cartesian product with cross joins disabled is raised by
    the optimizer, not the analyzer; dry-run must still fail at its line."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out)
    try:
        with pytest.raises(StatementError) as ei:
            r.run_text(
                f"CREATE TABLE cart_a (a INT) USING parquet LOCATION '{tmp_path}/cart_a';\n"
                f"CREATE TABLE cart_b (b INT) USING parquet LOCATION '{tmp_path}/cart_b';\n"
                "SET spark.sql.crossJoin.enabled=false;\n"
                "SELECT * FROM cart_a, cart_b;"
            )
    finally:
        spark.conf.unset("spark.sql.crossJoin.enabled")
        spark.sql("DROP TABLE IF EXISTS cart_a")
        spark.sql("DROP TABLE IF EXISTS cart_b")
    assert ei.value.line == 4
    assert "implicit cartesian product" in ei.value.cause
    assert lines == []


def test_dry_run_starts_no_spark_job(spark, runner_out, tmp_path):
    """Dry-run of data-moving statements runs no Spark job and leaves no
    table or row behind; the same script executed does run jobs, so the
    job-group count is not vacuous."""
    lines, out = runner_out
    sc = spark.sparkContext
    spark.sql(f"CREATE TABLE nojob_src (a INT) USING parquet LOCATION '{tmp_path}/nojob_src'")
    spark.sql(f"CREATE TABLE nojob_dst (a INT) USING parquet LOCATION '{tmp_path}/nojob_dst'")
    spark.sql("INSERT INTO nojob_src VALUES (1), (2), (3)")
    script = (
        "SELECT a, count(*) FROM nojob_src GROUP BY a;\n"
        "INSERT OVERWRITE TABLE nojob_dst SELECT a FROM nojob_src;\n"
        "CREATE TABLE nojob_ctas AS SELECT a FROM nojob_src;\n"
        "WITH c AS (SELECT a FROM nojob_src WHERE a > 1) SELECT sum(a) FROM c;"
    )
    jobs = {}
    try:
        for execute in (False, True):
            group = f"nojob-{execute}"
            sc.setJobGroup(group, group)
            try:
                ScriptRunner(spark, execute=execute, verbose=False, out=out).run_text(script)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            jobs[execute] = list(sc.statusTracker().getJobIdsForGroup(group))
            if not execute:
                assert lines.count("> Skipped!") == 4
                assert not spark.catalog.tableExists("nojob_ctas")
                assert spark.table("nojob_dst").count() == 0
    finally:
        for t in ("nojob_src", "nojob_dst", "nojob_ctas"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    assert jobs[False] == []
    assert jobs[True]


def test_execute_mode_runs_dml(spark, runner_out, tmp_path):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    r.run_text(
        f"""
        CREATE TABLE exec_t (a INT, b STRING) USING parquet LOCATION '{tmp_path}/exec_t';
        INSERT INTO exec_t VALUES (1, 'x'), (2, 'y');
        SELECT a, b FROM exec_t ORDER BY a;
        """
    )
    assert spark.table("exec_t").count() == 2
    assert lines[-2:] == ["1\tx", "2\ty"]  # query results printed
    spark.sql("DROP TABLE exec_t")


def test_fail_fast_stops_following_statements(spark, runner_out, tmp_path):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    with pytest.raises(StatementError):
        r.run_text(
            f"""
            CREATE TABLE ff_t (a INT) USING parquet LOCATION '{tmp_path}/ff_t';
            SELECT broken_col FROM ff_t;
            INSERT INTO ff_t VALUES (99);
            """
        )
    assert spark.table("ff_t").count() == 0  # insert after failure never ran
    spark.sql("DROP TABLE ff_t")


def test_variable_substitution_in_script(spark, runner_out):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    r.run_text("SELECT ${BANANA} AS Banana", {"BANANA": "'ripe'"})
    assert lines == ["ripe"]


def test_manifest_run_output_protocol(spark, tmp_path):
    script = tmp_path / "s1.hql"
    script.write_text("SELECT 1 AS one;")
    m = Manifest.from_dict(
        {"tasks": [{"script": str(script), "variables": {}}], "enableHadoop": False,
         "verboseOutput": False}
    )
    lines: list[str] = []
    run_manifest(m, spark, out=lines.append)
    assert lines[0] == f">>>>>>>> Processing:  {script}"
    assert "> Skipped!" in lines
    assert lines[-1].startswith("> Total time:  ") and lines[-1].endswith("ms")


def test_set_hivevar_defines_substitution_variable(spark, runner_out, tmp_path):
    """SET hivevar:NAME=v must feed ${NAME} / ${hivevar:NAME} in later
    statements (Hive routes hivevar: to the substitution map, not the conf)."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    r.run_text(
        f"""
        SET hivevar:T=hv_t;
        CREATE TABLE ${{T}} (a INT) USING parquet LOCATION '{tmp_path}/hv_t';
        INSERT INTO ${{hivevar:T}} VALUES (7);
        SELECT a FROM ${{T}};
        """
    )
    assert lines == ["7"]
    assert spark.catalog.tableExists("hv_t")
    spark.sql("DROP TABLE hv_t")


def test_set_hivevar_overrides_manifest_variable(spark, runner_out):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    r.run_text(
        "SET hivevar:V='set-wins'; SELECT ${V} AS v", {"V": "'manifest'"}
    )
    assert lines == ["set-wins"]


def test_set_hivevar_scoped_to_script(spark, runner_out):
    """SET hivevar: definitions die with their script: the reference builds
    a fresh CliDriver per task and setHiveVariables() REPLACES the hivevar
    map (ManifestRunner.java executeScript), so a SET from script 1 must not
    shadow script 2's manifest variable nor survive into a script that
    doesn't define the variable at all."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    r.run_text("SET hivevar:V='stale'; SELECT ${V} AS v", {"V": "'manifest1'"})
    assert lines == ["stale"]
    lines.clear()
    r.run_text("SELECT ${V} AS v", {"V": "'manifest2'"})
    assert lines == ["manifest2"]
    lines.clear()
    # No definition anywhere: unresolved ${...} stays verbatim (Hive keeps
    # unresolved references as-is; inside a string literal it is visible).
    r.run_text("SELECT '${V}' AS v")
    assert lines == ["${V}"]


def test_cyclic_substitution_aborts_script(spark, runner_out):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    with pytest.raises(StatementError, match="iterations"):
        r.run_text(
            "SET hivevar:A=${B};\nSET hivevar:B=${A};\nSELECT '${A}' AS x;"
        )


def test_set_role_is_ignored_command(spark, runner_out):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    r.run_text("SET ROLE admin; SELECT 1 AS one")
    assert any("unsupported command" in ln for ln in lines)
    assert lines[-1] == "1"


def test_cli_main_argv_and_manifest_errors(tmp_path, capsys):
    """CLI exit codes without ever starting Spark: usage error -> 2; missing
    or malformed manifest -> 1 with a clean [ERROR] line, not a traceback."""
    from bee_proof_spark.runner.__main__ import main

    assert main([]) == 2
    assert main(["a", "b"]) == 2
    assert main([str(tmp_path / "nope.json")]) == 1
    bad = tmp_path / "bad.json"
    bad.write_text("{not json")
    assert main([str(bad)]) == 1
    # valid JSON, wrong shape: a top-level list / non-dict task entries
    for content in ("[]", '{"tasks": [42]}'):
        bad.write_text(content)
        assert main([str(bad)]) == 1
    err = capsys.readouterr().err
    assert "[ERROR]" in err and "usage:" in err


def test_command_statements_print_rows(spark, runner_out, tmp_path):
    """SHOW/DESCRIBE output reaches the protocol stream (the reference CLI
    prints command results; review-caught r6 - they were collected and
    dropped). Commands print in dry-run too, since they execute there."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out)
    r.run_text(
        "CREATE TEMPORARY VIEW show_probe AS SELECT 1 AS x; "
        "SHOW TABLES LIKE 'show_probe'"
    )
    assert any("show_probe" in ln for ln in lines)


def test_query_output_truncation_is_announced(spark, runner_out):
    """Past max_print_rows the runner must SAY it truncated, not silently
    shape the output (the reference CLI prints everything; the cap is this
    runner's driver-memory guard)."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out, max_print_rows=2)
    r.run_text("SELECT explode(sequence(1, 5)) AS n")
    assert lines[-1] == "> Output truncated at 2 rows"
    assert len([ln for ln in lines if not ln.startswith(">")]) == 2


def test_hiveconf_substitution_falls_back_to_session_conf(spark, runner_out):
    """${hiveconf:key} resolves the LIVE session conf when no in-script SET
    wrote the key - matching Hive and this runner's own 'SET hiveconf:key'
    display path (review-caught r6: the two paths disagreed)."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out)
    r.run_text("SELECT '${hiveconf:spark.sql.session.timeZone}' AS tz")
    assert lines[-1] == "UTC"
    # in-script SET still wins over the session value
    r.run_text(
        "SET hiveconf:probe.key=local-wins; SELECT '${hiveconf:probe.key}' AS v"
    )
    assert lines[-1] == "local-wins"


def test_auto_convert_join_true_restores_threshold(spark):
    """SET hive.auto.convert.join is not a one-way door: 'true' restores the
    pre-'false' broadcast threshold (review-caught r6: -1 stayed pinned for
    the rest of the session)."""
    sp = SetProcessor(spark)
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        sp.process("SET hive.auto.convert.join=false")
        assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1"
        sp.process("SET hive.auto.convert.join=true")
        restored = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        assert restored == before if before != "-1" else restored != "-1"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_auto_convert_join_true_without_prior_false(spark):
    """'true' with no prior 'false' in the session only undoes a -1 pin; a
    custom session threshold this processor never changed stays (review-
    caught r7: it was clobbered to the hardcoded 10485760b)."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # custom threshold survives a bare 'true'
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "33554432b")
        SetProcessor(spark).process("SET hive.auto.convert.join=true")
        assert (
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            == "33554432b"
        )
        # ...but a -1 (broadcast off) IS what 'true' asks to undo
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        SetProcessor(spark).process("SET hive.auto.convert.join=true")
        assert (
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            == "10485760b"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", before)


def test_verification_run_leaves_foreign_session_alive(spark, tmp_path):
    """Verification.run() without a spark argument must NOT stop a live
    session it did not create - build_session() returns the pre-existing
    active session, so 'spark is None' is not ownership (review-caught r6:
    the finally block stopped the caller's session and reset its tmp
    warehouse)."""
    from bee_proof_spark.runner.verification import Verification

    script = tmp_path / "noop.hql"
    script.write_text("SELECT 1 AS one;")
    Verification.for_release("emr-5").add_task(str(script)).run(enable_hadoop=True)
    # the shared test session is still usable
    assert spark.sql("SELECT 2").collect()[0][0] == 2


@pytest.mark.parametrize("found", [None, "true"])
def test_verification_run_leaves_session_conf_unchanged(spark, tmp_path, found):
    """The runner turns Spark's own ${...} substitution off while it runs;
    on return the caller's session holds the value it had, or no value."""
    from bee_proof_spark.runner.verification import Verification

    key = "spark.sql.variable.substitute"
    script = tmp_path / "noop.hql"
    script.write_text("SELECT 1 AS one;")
    before = spark.conf.get(key, None)
    try:
        if found is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, found)
        Verification.for_release("emr-5").add_task(str(script)).run(
            spark=spark, out=lambda line: None
        )
        assert spark.conf.get(key, None) == found
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def test_manifest_without_tasks_key_is_malformed():
    """A manifest missing 'tasks' must error, not silently run zero tasks
    and exit 0 (caught live: passing a task object where a manifest belongs
    produced a clean no-op 'success'). Explicit empty tasks stays legal."""
    with pytest.raises(ValueError):
        Manifest.from_json('{"script": "a.hql"}')
    assert Manifest.from_json('{"tasks": []}').tasks == []


# ---------------------------------------------------------------- release gates

def test_release_gate_table_pure():
    """Gate facts (release_gates.py, from SURVEY section 2-B): emr-3 = Hive
    0.13.1 lacks 1.1+/2.x constructs; emr-4 = 1.0.0 gains nothing gated;
    emr-5 = 2.3.3 passes everything."""
    from bee_proof_spark.runner.release_gates import violations

    assert violations("SELECT nullif(a, b) FROM t", "emr-5") == []
    for rel in ("emr-3", "emr-4"):
        names = [v[0] for v in violations(
            "SELECT nullif(a,b), add_months(d,1), bround(x), NULLIF(1,2) FROM t", rel)]
        assert names == ["nullif()", "add_months()", "bround()", "nullif()"]
        assert [v[0] for v in violations("SELECT 1 INTERSECT SELECT 2", rel)] == ["INTERSECT"]
        assert [v[0] for v in violations("SELECT 1 EXCEPT SELECT 2", rel)] == ["EXCEPT"]
        # bare UNION = UNION DISTINCT (Hive 1.2); UNION ALL is 0.13-safe
        assert [v[0] for v in violations("SELECT 1 UNION SELECT 2", rel)] == ["UNION [DISTINCT]"]
        assert violations("SELECT 1 UNION ALL SELECT 2", rel) == []
    # months_between is 1.2: gated on emr-4 too
    assert violations("SELECT months_between(a, b) FROM t", "emr-4")
    # ungated releases (engine-native mode) never gate
    assert violations("SELECT 1 INTERSECT SELECT 2", "native") == []


def test_release_gate_line_offset_pure():
    from bee_proof_spark.runner.release_gates import violations

    v = violations("SELECT a\nFROM t\nUNION\nSELECT b FROM u", "emr-3")
    assert v[0][0] == "UNION [DISTINCT]"
    assert v[0][2] == 2  # 0-based line offset of the UNION token


def test_release_gate_rejects_in_dry_run(spark, runner_out):
    """The reference's version-pinned hive-exec rejects emr-5-only constructs
    at validation time (pom.xml:28-66 pins); our dry-run must too."""
    lines, out = runner_out
    script = "SELECT 1 AS one;\nSELECT nullif(1, 2) AS n;"
    # emr-5: validates clean
    ScriptRunner(spark, execute=False, verbose=False, out=out, release="emr-5").run_text(script)
    assert lines.count("> Skipped!") == 2
    # emr-3: line-addressed failure on statement 2
    with pytest.raises(StatementError) as ei:
        ScriptRunner(spark, execute=False, verbose=False, out=out, release="emr-3").run_text(script)
    assert "nullif" in str(ei.value) and "emr-3" in str(ei.value)
    assert ei.value.line == 2


def test_release_gate_literals_and_comments_do_not_trip(spark, runner_out):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out, release="emr-3")
    r.run_text(
        "-- TODO: rewrite with INTERSECT once off emr-3\n"
        "SELECT 'use nullif(a,b) here' AS note; /* EXCEPT */ SELECT 2 AS two;"
    )
    assert lines.count("> Skipped!") == 2


def test_unterminated_literal_never_trips_a_release_gate(spark, runner_out):
    """An unterminated string runs to the end of the text in every lexical
    pass, so a gated keyword inside it is string text: no gate fires, and
    the statement fails at its own line on Spark's parse error instead."""
    from pyspark.errors import ParseException

    from bee_proof_spark.runner.executor import _blank_literals_and_comments
    from bee_proof_spark.runner.release_gates import violations

    sql = "SELECT 'oops INTERSECT SELECT 2"
    assert violations(_blank_literals_and_comments(sql), "emr-3") == []
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out, release="emr-3")
    with pytest.raises(StatementError) as ei:
        r.run_text(f"SELECT 1 AS one;\n{sql}")
    assert ei.value.line == 2
    assert isinstance(ei.value.__cause__, ParseException)
    assert "release gate" not in ei.value.cause
    assert lines == ["> Skipped!"]


def test_release_gate_applies_in_execute_mode(spark, runner_out):
    lines, out = runner_out
    r = ScriptRunner(spark, execute=True, verbose=False, out=out, release="emr-4")
    with pytest.raises(StatementError) as ei:
        r.run_text("SELECT 1 AS a INTERSECT SELECT 1 AS a")
    assert "INTERSECT" in str(ei.value) and "2.3.0" in str(ei.value)


def test_release_gate_end_to_end_verification(spark, tmp_path, runner_out):
    """Same script: passes under emr-5, fails under emr-3 (VERDICT r8 #2)."""
    from bee_proof_spark.runner.verification import Verification

    lines, out = runner_out
    script = tmp_path / "gated.hql"
    script.write_text("SELECT greatest(1, 2) AS g;")
    Verification.for_release("emr-5").add_task(str(script)).run(spark=spark, out=out)
    with pytest.raises(StatementError) as ei:
        Verification.for_release("emr-3").add_task(str(script)).run(spark=spark, out=out)
    assert "greatest" in str(ei.value) and "Hive 0.13.1" in str(ei.value)


def test_command_output_truncation_is_announced(spark, runner_out):
    """SHOW/DESCRIBE output is capped like the query branch (VERDICT r8 #3:
    SHOW PARTITIONS on a million-partition table must not collect a million
    rows driver-side) and the cap is announced, not silent."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out, max_print_rows=5)
    r.run_text("SHOW FUNCTIONS")  # hundreds of rows
    assert lines[-1] == "> Output truncated at 5 rows"
    assert len([ln for ln in lines if not ln.startswith(">")]) == 5


def test_release_gate_scalar_subquery_emr5_only():
    """SURVEY.md:318: scalar subqueries are NOT in Hive 0.13; Hive's 0.13
    subquery work covered only IN/EXISTS predicates, expression-position
    scalar subqueries are a Hive 2.x feature -> emr-5 only. IN/EXISTS
    subqueries ARE 0.13-legal and must never match the conservative
    `<op> (SELECT` detector."""
    from bee_proof_spark.runner.release_gates import violations

    scalar = "SELECT * FROM t WHERE a > (SELECT avg(a) FROM t)"
    assert [v[0] for v in violations(scalar, "emr-3")] == ["scalar subquery"]
    assert [v[0] for v in violations(scalar, "emr-4")] == ["scalar subquery"]
    assert violations(scalar, "emr-5") == []
    # r9 review widening: projection-head, arithmetic-operand, and CASE-
    # branch scalar subqueries are the same Hive 2.x feature and equally
    # unambiguous shapes
    for bad in (
        "SELECT (SELECT max(a) FROM t) AS m FROM u",
        "SELECT a + (SELECT avg(a) FROM t) AS x FROM u",
        "SELECT a / (SELECT count(*) FROM t) AS x FROM u",
        "SELECT CASE WHEN (SELECT count(*) FROM t) > 0 THEN 1 ELSE 0 END FROM u",
        "SELECT CASE WHEN a THEN (SELECT max(b) FROM t) ELSE 0 END FROM u",
    ):
        assert [v[0] for v in violations(bad, "emr-3")] == ["scalar subquery"], bad
        assert violations(bad, "emr-5") == [], bad
    for ok in (
        "SELECT * FROM t WHERE a IN (SELECT a FROM u)",
        "SELECT * FROM t WHERE EXISTS (SELECT 1 FROM u WHERE u.a = t.a)",
        "SELECT x FROM (SELECT a AS x FROM u) d",          # derived table
        "SELECT x FROM t JOIN (SELECT a FROM u) d ON 1=1",  # join operand
        "SELECT a, (b) AS x FROM u",                        # plain parens
    ):
        assert violations(ok, "emr-3") == [], ok


def test_release_gate_setop_keywords_need_query_start():
    """minus/union/except are NON-RESERVED identifiers in Hive 0.13 -
    'CREATE TABLE t (minus INT)' and a column alias named union are legal
    emr-3 scripts and must NOT trip the set-operator gates; real set-ops
    (next token starts a query or is ALL/DISTINCT) still do."""
    from bee_proof_spark.runner.release_gates import violations

    for ok in (
        "CREATE TABLE t (minus INT, union STRING, except DOUBLE)",
        "SELECT a AS minus, b AS union FROM t",
        "SELECT t.minus FROM t JOIN union_members u ON t.id = u.id",
    ):
        assert violations(ok, "emr-3") == [], ok
    for bad, name in (
        ("SELECT 1 MINUS SELECT 2", "MINUS"),
        ("SELECT 1 EXCEPT DISTINCT SELECT 2", "EXCEPT"),
        ("SELECT 1 INTERSECT (SELECT 2)", "INTERSECT"),
        ("SELECT 1 UNION DISTINCT SELECT 2", "UNION [DISTINCT]"),
        ("SELECT 1 UNION\nSELECT 2", "UNION [DISTINCT]"),
    ):
        assert [v[0] for v in violations(bad, "emr-3")] == [name], bad
    assert violations("SELECT 1 UNION ALL SELECT 2", "emr-3") == []


def test_release_gate_statement_constructs_r10():
    """r10 widening (VERDICT r9 item 5): DROP/ALTER ... PURGE is HIVE-7100
    (Hive 0.14), CREATE TEMPORARY TABLE is HIVE-7090 (0.14),
    CURRENT_DATE/CURRENT_TIMESTAMP are HIVE-5472 (1.2) keywords. emr-3
    (0.13.1) rejects all; emr-4 (1.0.0) accepts the 0.14 pair but still
    gates the 1.2 keywords. Err-toward-accepting posture preserved:
    identifiers named purge,
    CREATE TEMPORARY FUNCTION, and qualified t.current_date never trip."""
    from bee_proof_spark.runner.release_gates import violations

    purge = "DROP TABLE IF EXISTS t PURGE"
    part_purge = "ALTER TABLE t DROP PARTITION (ds='x') PURGE"
    temp = "CREATE TEMPORARY TABLE tmp AS SELECT 1"
    for bad, name in (
        (purge, "PURGE"),
        (part_purge, "PURGE"),
        (temp, "CREATE TEMPORARY TABLE"),
        ("SELECT CURRENT_DATE FROM t", "CURRENT_DATE"),
        ("SELECT current_timestamp AS ts FROM t", "CURRENT_TIMESTAMP"),
    ):
        assert [v[0] for v in violations(bad, "emr-3")] == [name], bad
        assert violations(bad, "emr-5") == [], bad
    # emr-4 pins Hive 1.0.0: 0.14 constructs pass, 1.2 keywords still gate
    assert violations(purge, "emr-4") == []
    assert violations(temp, "emr-4") == []
    assert [v[0] for v in violations("SELECT CURRENT_DATE", "emr-4")] == [
        "CURRENT_DATE"
    ]
    # r11 ADVICE: the name atom spans full quoted identifiers, so a
    # quoted table name containing spaces still anchors the PURGE shape
    for quoted in (
        "DROP TABLE `odd name` PURGE",
        'DROP TABLE "odd name" PURGE;',
        "DROP TABLE IF EXISTS `db`.`odd name` PURGE",
    ):
        assert [v[0] for v in violations(quoted, "emr-3")] == ["PURGE"], quoted
        assert violations(quoted, "emr-4") == [], quoted
    for ok in (
        "SELECT purge FROM t",                       # identifier named purge
        "DROP TABLE purge",                          # table named purge
        "DROP TABLE `purge`",                        # quoted table named purge
        "CREATE TEMPORARY FUNCTION f AS 'X'",        # 0.13-legal since forever
        "CREATE TABLE temporary_table (a INT)",      # identifier contains it
        "SELECT t.current_date FROM t",              # qualified column ref
        "SELECT a AS current_date_ish FROM t",       # longer identifier
    ):
        assert violations(ok, "emr-3") == [], ok
    # line addressing: PURGE violation points at the PURGE token's line
    v = violations("DROP TABLE IF EXISTS t\nPURGE", "emr-3")
    assert v[0][0] == "PURGE" and v[0][2] == 1
    # adversarial comment/literal placement through the executor's real
    # blanking pass: a trailing comment after PURGE must not unmatch the
    # trailing-token anchor, and PURGE/CURRENT_DATE living ONLY inside a
    # comment or string literal must never trip
    from bee_proof_spark.runner.executor import _blank_literals_and_comments as bl

    assert [v[0] for v in violations(bl("DROP TABLE t PURGE -- bye"), "emr-3")] == [
        "PURGE"
    ]
    for ok in (
        "DROP TABLE t -- then PURGE it",
        "SELECT 'PURGE' AS s, 'CURRENT_DATE' AS d FROM t",
        "SELECT a /* CURRENT_DATE */ FROM t",
        "-- CREATE TEMPORARY TABLE tmp\nSELECT 1",
    ):
        assert violations(bl(ok), "emr-3") == [], ok


def test_release_gate_purge_name_atom_linear_time_r12():
    """r12 ADVICE (high): the PURGE name atom's bare-identifier branch was
    ``[\\w.]+`` nested inside the outer ``+`` - a classic ambiguous
    repetition that backtracked exponentially when a DROP TABLE of a LONG
    bare name did NOT end in PURGE (measured 5.2 s at 26 chars, ~4x per
    2 chars; a 40-char name effectively hung violations()). The branch is
    now single-character, making the repetition unambiguous and the scan
    O(n). Pin: a 500-char bare name resolves in well under a second both
    with and without the trailing PURGE, and semantics are unchanged."""
    import time

    from bee_proof_spark.runner.release_gates import violations

    name = "x" * 5000
    t0 = time.monotonic()
    assert violations(f"DROP TABLE {name} CASCADE", "emr-3") == []
    assert violations(f"DROP TABLE IF EXISTS db.{name}", "emr-3") == []
    assert [v[0] for v in violations(f"DROP TABLE {name} PURGE", "emr-3")] == [
        "PURGE"
    ]
    elapsed = time.monotonic() - t0
    # exponential form needed ~5 s at 26 chars (~4x per 2 chars), so at
    # 5000 chars it would effectively never return, while the O(n) form
    # stays sub-millisecond - the input size, not the wall-clock margin, is
    # what discriminates a regression (r13 ADVICE: a tight bound on a cold
    # or loaded CI host flakes; a 5 s bound on a 5000-char input cannot
    # pass the exponential form under ANY host load).
    assert elapsed < 5.0, f"PURGE name atom no longer linear: {elapsed:.3f}s"


def test_release_gate_scalar_subquery_distinct_head_r10():
    """ADVICE r9: SELECT DISTINCT (SELECT ...) head is as unambiguous as
    the plain head and gates the same; the ambiguous ', (SELECT' comma
    form stays excluded (err toward accepting)."""
    from bee_proof_spark.runner.release_gates import violations

    bad = "SELECT DISTINCT (SELECT max(a) FROM t) AS m FROM u"
    assert [v[0] for v in violations(bad, "emr-3")] == ["scalar subquery"]
    assert violations(bad, "emr-5") == []
    assert violations("SELECT x FROM a, (SELECT b FROM w) d", "emr-3") == []


# ------------------------------------------------- dry-run/execute property

def test_dry_run_never_moves_data_property(spark, runner_out):
    """End-to-end classify-vs-behavior invariant over adversarial comment/
    literal placement (the r6-r8 bug family: literal text flipping
    classification, comments hiding a CTAS's query keyword, nested
    comments resurrecting text): for ANY script assembled from these
    fragments, dry-run must (a) create plain-DDL tables EMPTY, (b) not
    create CTAS tables at all (validate-only), (c) never apply an INSERT;
    the same script under execute must materialize every table with its
    expected rows."""
    import itertools

    from hypothesis import given, settings
    from hypothesis import strategies as st

    lines, out = runner_out
    counter = itertools.count()

    ctas_sep = st.sampled_from([
        " ", " -- note; same as the daily select\n", " /* staged copy */ ",
        " /* a /* nested; */ c */ ", "\n-- one\n-- two\n",
    ])
    ddl_comment = st.sampled_from([
        "", " COMMENT 'same as the daily select snapshot'",
        " COMMENT 'as -- select'", " COMMENT 'use nullif(a,b); later'",
    ])

    @given(
        st.lists(
            st.tuples(st.sampled_from(["ddl", "ctas", "ddl_insert"]), ctas_sep, ddl_comment),
            min_size=1, max_size=4,
        )
    )
    @settings(max_examples=15, deadline=None)
    def check(parts):
        n = next(counter)
        stmts, expect = [], {}  # table -> (kind, rows_after_execute)
        for i, (kind, sep, comment) in enumerate(parts):
            t = f"dryprop_{n}_{i}"
            if kind == "ddl":
                stmts.append(f"CREATE TABLE {t} (a INT, b STRING) USING parquet{comment}")
                expect[t] = ("ddl", 0)
            elif kind == "ctas":
                stmts.append(f"CREATE TABLE {t} AS{sep}SELECT 1 AS a, 'x' AS b")
                expect[t] = ("ctas", 1)
            else:
                stmts.append(f"CREATE TABLE {t} (a INT, b STRING) USING parquet{comment}")
                stmts.append(f"INSERT INTO {t} VALUES (1, 'x'), (2, 'y')")
                expect[t] = ("ddl_insert", 2)
        script = ";\n".join(stmts) + ";"
        try:
            ScriptRunner(spark, execute=False, verbose=False, out=out).run_text(script)
            for t, (kind, _) in expect.items():
                if kind == "ctas":
                    assert not spark.catalog.tableExists(t), f"dry-run created CTAS {t}"
                else:
                    assert spark.catalog.tableExists(t), t
                    assert spark.table(t).count() == 0, f"dry-run moved data into {t}"
            # fresh-warehouse parity between phases: the reference resets
            # ./bee-proof-tmp per run, so CREATEs never collide across runs
            for t in expect:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
            ScriptRunner(spark, execute=True, verbose=False, out=out).run_text(script)
            for t, (_, rows) in expect.items():
                assert spark.table(t).count() == rows, t
        finally:
            for t in expect:
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    check()


def test_release_gate_line_addressing_comments_and_multiline_literals(spark, runner_out):
    """Line addressing stays correct when the statement text carries leading
    comments (whose newlines must NOT inflate the reported line) or
    multi-line string literals before the construct (whose newlines must
    not be LOST by blanking) - both found by r9 review."""
    lines, out = runner_out
    r = ScriptRunner(spark, execute=False, verbose=False, out=out, release="emr-3")
    # leading comment between statements: gate is on script line 3
    with pytest.raises(StatementError) as ei:
        r.run_text("SELECT 1 AS one;\n-- setup note\nSELECT nullif(1, 2) AS n;")
    assert ei.value.line == 3
    # multi-line literal before the construct: gate is on script line 4
    with pytest.raises(StatementError) as ei:
        r.run_text("SELECT 'a\nb\nc' AS s,\n nullif(1, 2) AS n")
    assert ei.value.line == 4


def test_cli_rejects_unknown_and_space_form_options(capsys):
    """r9 review: '--release emr-5' (space form) and any unknown '--foo'
    must be clean usage errors, never silently treated as manifest paths
    (which printed a misleading 'cannot load manifest --release' and ran
    with NO gating)."""
    from bee_proof_spark.runner.__main__ import main

    assert main(["--release", "emr-5", "m.json"]) == 2
    err = capsys.readouterr().err
    assert "unknown option '--release'" in err and "usage:" in err
    assert main(["--dry-run", "m.json"]) == 2
    assert "unknown option '--dry-run'" in capsys.readouterr().err


def test_cli_double_dash_ends_options(tmp_path, capsys):
    """r10 ADVICE: '--' ends option parsing so a manifest path that starts
    with '-' is passable at all. After '--' nothing is an option (exit 1 =
    reached the manifest loader; exit 2 = argv error)."""
    from bee_proof_spark.runner.__main__ import main

    assert main(["--", "-starts-with-dash.json"]) == 1
    assert "cannot load manifest" in capsys.readouterr().err
    # '--' consumes nothing else: a normal path still works after it,
    # and an option BEFORE the '--' still parses (bad release -> 2)
    assert main(["--", str(tmp_path / "nope.json")]) == 1
    capsys.readouterr()
    assert main(["--release=bogus", "--", "m.json"]) == 2
    assert "unknown release" in capsys.readouterr().err
    # options after '--' are paths -> two positional args is a usage error
    assert main(["--", "--release=emr-5", "m.json"]) == 2


def test_known_releases_derived_from_gate_table():
    """r9 review: the Verification release list and the gate table must be
    the same object-level source - a release accepted by one but absent
    from the other would silently get zero gating."""
    from bee_proof_spark.runner.release_gates import RELEASE_HIVE_VERSION
    from bee_proof_spark.runner.verification import KNOWN_RELEASES

    assert KNOWN_RELEASES == tuple(RELEASE_HIVE_VERSION)


def test_release_gate_line_addressing_property(spark, runner_out):
    """Property (r9 review follow-up): for ANY script assembled from filler
    statements, leading comments, multi-line block comments, multi-line
    string literals, and one gated construct, the StatementError line must
    equal the 1-based line where the construct's token actually sits in
    the SCRIPT text - computed independently of the splitter/blanker by
    counting newlines up to the token."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    lines, out = runner_out

    filler = st.sampled_from([
        "SELECT 1 AS one;\n",
        "SELECT 2 AS two;\n-- between-statement note\n",
        "SELECT 'x' AS s;\n/* block\nspanning\nlines */\n",
    ])
    lead = st.sampled_from([
        "", "-- lead one\n", "-- lead one\n-- lead two\n",
        "/* lead\nblock */ ", "/* a /* nested\n */ b */\n",
    ])
    item = st.sampled_from([
        "1 AS c", "'multi\nline\nliteral' AS s", "'a;b' AS semi",
        "-- inline note\n 2 AS d", "'quote '' inside' AS q",
    ])

    @given(
        fills=st.lists(filler, min_size=0, max_size=3),
        pre=lead,
        items=st.lists(item, min_size=0, max_size=3),
    )
    @settings(max_examples=40, deadline=None)
    def check(fills, pre, items):
        cols = ", ".join(
            f"{frag.rsplit(' AS ', 1)[0]} AS a{i}" for i, frag in enumerate(items)
        )
        gated = f"SELECT {cols + ', ' if cols else ''}nullif(1, 2) AS n;"
        script = "".join(fills) + pre + gated
        assert script.count("nullif") == 1
        expected = script[: script.index("nullif")].count("\n") + 1
        r = ScriptRunner(spark, execute=False, verbose=False, out=out, release="emr-3")
        with pytest.raises(StatementError) as ei:
            r.run_text(script)
        assert "nullif" in str(ei.value)
        assert ei.value.line == expected, script

    check()


# --------------------------------------------- whole-script e2e fuzz (r13)

# Surface 82 (VERDICT r12 item 6): the lexical layers (splitter,
# substitution, gates) have hypothesis coverage in test_properties.py, but
# nothing generated WHOLE multi-statement scripts and ran them through the
# real executor in BOTH modes. These two surfaces do: a generated script of
# CREATE/INSERT/SELECT/SET-hivevar/USE statements, decorated with
# semicolon-bearing comments and literals and ${VAR} substitution, is run
# through run_manifest in execute AND dry-run mode against a PREDICTED
# full protocol stream (Processing header, per-exec '> Skipped!' vs printed
# rows, blank-line trailer, '> Total time:' last even on failure),
# fail-fast state (rows inserted before a planted bad statement only, same
# line-addressed StatementError in both modes), and release-gate version
# monotonicity end-to-end across emr-3/4/5 with gate errors addressed to
# the gated statement's line. Soak with FUZZ_EXAMPLES_SCALE=12.

import itertools as _it
import os as _os
import tempfile as _tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SCALE = max(1, int(_os.environ.get("FUZZ_EXAMPLES_SCALE", "1")))
_E2E_IDS = _it.count()
_E2E_DIR = _tempfile.mkdtemp(prefix="bps_e2e_fuzz_")

_DECORATIONS = [
    "",
    "-- note; a semicolon lives in this comment",
    "/* block ; comment */",
    "-- ${W} in a comment is not a reference site",
]
_B_VALS = ["x", "a;b", "semi;co;lon", "plain_9", "w v"]


@st.composite
def _e2e_script_plan(draw):
    """A whole-script plan: op list + decorations + optional planted
    failure. Rendering (table names, expected streams) happens in the
    test body so shrink replays can't collide on catalog state."""
    ops = [{"kind": "create", "decs": draw(st.lists(st.sampled_from(_DECORATIONS), max_size=2))}]
    n = draw(st.integers(2, 6))
    v_defined = False
    for _ in range(n):
        kind = draw(st.sampled_from(
            ["insert", "query", "sel_lit", "sel_w", "sethv", "use"]
            + (["sel_v"] if v_defined else [])
        ))
        op = {"kind": kind, "decs": draw(st.lists(st.sampled_from(_DECORATIONS), max_size=2))}
        if kind == "insert":
            op["vals"] = draw(st.lists(st.sampled_from(_B_VALS), min_size=1, max_size=3))
        elif kind == "sel_lit":
            op["lit"] = draw(st.sampled_from(_B_VALS))
        elif kind == "sethv":
            op["val"] = draw(st.sampled_from(["hv1", "hv_2", "zz"]))
            v_defined = True
        elif kind == "sel_v":
            pass  # value resolved at render time from the last sethv
        ops.append(op)
    fail = draw(st.sampled_from([None, "analysis", "parse"]))
    if fail is not None:
        # the planted bad statement, then one insert that must never run
        ops.append({"kind": fail, "decs": draw(st.lists(st.sampled_from(_DECORATIONS), max_size=2))})
        ops.append({"kind": "insert", "decs": [], "vals": ["never"]})
    return ops


def _render_e2e(ops, tbl):
    """Render a plan to (script_text, rows, per_op, fail_line).

    ``per_op`` is one dict per statement: ``echo`` (the exact text
    verbose mode prints - leading comments attached by the splitter,
    leading blank lines stripped, ${...} substitution applied EVEN
    inside comment text, since substitution runs on the raw statement
    text), ``dry``/``exc`` (that statement's output lines per mode),
    and ``failing`` (True for the planted bad statement). ``rows`` is
    the table content execute mode must leave behind (fail-fast cut).
    """
    segs: list[str] = []
    line = 1
    next_a = _it.count(1)
    rows: list[tuple[int, str]] = []
    per_op: list[dict] = []
    v_val = None
    fail_line = None

    def _echo(decs, sql):
        parts = list(decs) + [sql]
        while parts and not parts[0].strip():
            parts.pop(0)  # splitter starts text at the first content char
        text = "\n".join(parts)
        text = text.replace("${W}", "'wv'")
        if v_val is not None:
            text = text.replace("${V}", f"'{v_val}'")
        return text

    for op in ops:
        for d in op["decs"]:
            segs.append(d)
            line += 1
        k = op["kind"]
        entry = {"dry": [], "exc": [], "failing": False}
        if k == "create":
            sql = f"CREATE TABLE {tbl} (a INT, b STRING) USING parquet"
        elif k == "insert":
            pairs = [(next(next_a), b) for b in op["vals"]]
            sql = f"INSERT INTO {tbl} VALUES " + ", ".join(
                f"({a}, '{b}')" for a, b in pairs
            )
            if fail_line is None:
                rows.extend(pairs)
                entry["dry"] = ["> Skipped!"]
        elif k == "query":
            sql = f"SELECT a, b FROM {tbl} ORDER BY a"
            if fail_line is None:
                entry["exc"] = [f"{a}\t{b}" for a, b in sorted(rows)]
                entry["dry"] = ["> Skipped!"]
        elif k == "sel_lit":
            sql = f"SELECT '{op['lit']}' AS s"
            if fail_line is None:
                entry["exc"] = [op["lit"]]
                entry["dry"] = ["> Skipped!"]
        elif k == "sel_w":
            sql = "SELECT ${W} AS w"
            if fail_line is None:
                entry["exc"] = ["wv"]
                entry["dry"] = ["> Skipped!"]
        elif k == "sel_v":
            sql = "SELECT ${V} AS v"
            if fail_line is None:
                entry["exc"] = [v_val]
                entry["dry"] = ["> Skipped!"]
        elif k == "use":
            sql = "USE default"
        elif k == "sethv":
            sql = f"SET hivevar:V='{op['val']}'"
        elif k == "analysis":
            sql = f"SELECT nope_col FROM {tbl}"
            if fail_line is None:
                fail_line = line
                entry["failing"] = True
        elif k == "parse":
            sql = "SELEC 1 FROMM nowhere"
            if fail_line is None:
                fail_line = line
                entry["failing"] = True
        # echo substitutes with the variables in effect BEFORE this
        # statement runs (run_text merges prior statements' SETs only)
        entry["echo"] = _echo(op["decs"], sql)
        if k == "sethv":
            v_val = op["val"]
        if fail_line is None or entry["failing"]:
            per_op.append(entry)
        segs.append(sql + ";")
        line += 1
    return "\n".join(segs) + "\n", rows, per_op, fail_line


def _run_e2e_manifest(spark, path, execute, verbose=False):
    from bee_proof_spark.runner.executor import run_manifest
    from bee_proof_spark.runner.manifest import Manifest

    m = Manifest.from_dict({
        "tasks": [{"script": path, "variables": {"W": "'wv'"}}],
        "enableHadoop": execute,
        "verboseOutput": verbose,
    })
    lines: list[str] = []
    err = None
    try:
        run_manifest(m, spark, out=lines.append)
    except StatementError as ex:
        err = ex
    return lines, err


@given(ops=_e2e_script_plan(), verbose=st.booleans())
@settings(
    max_examples=10 * _SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_runner_script_mode_parity(spark, ops, verbose):
    """Whole-script execute/dry-run protocol parity against a fully
    PREDICTED stream: same Processing header, dry-run replaces exactly the
    exec statements' output with '> Skipped!', execute prints exactly the
    predicted query rows (accumulated insert state, literal semicolons,
    ${W} manifest and SET-hivevar substitution), '> Total time:' is the
    last line in BOTH modes even when the script fails, a planted bad
    statement raises the SAME line-addressed StatementError in both modes,
    and fail-fast leaves only the rows inserted before it. In VERBOSE mode
    (the reference's verboseOutput=true default, r13 widening) the stream
    additionally interleaves each statement's ECHO - the exact substituted
    text, with splitter-attached leading comments, leading blank lines
    stripped, and ${...} resolved even inside comment text - including the
    failing statement's echo (printed before it runs) but nothing after."""
    case = next(_E2E_IDS)
    created = []
    try:
        for mode, suffix in ((False, "d"), (True, "e")):
            tbl = f"e2e_fz_{case}_{suffix}"
            created.append(tbl)
            script, rows, per_op, fail_line = _render_e2e(ops, tbl)
            path = f"{_E2E_DIR}/s_{case}_{suffix}.hql"
            with open(path, "w") as fh:
                fh.write(script)
            lines, err = _run_e2e_manifest(spark, path, execute=mode,
                                           verbose=verbose)
            assert lines[0] == f">>>>>>>> Processing:  {path}"
            assert lines[-1].startswith("> Total time:  ") and lines[-1].endswith("ms")
            expected: list[str] = []
            for entry in per_op:
                if verbose:
                    expected.append(entry["echo"])
                expected += entry["exc" if mode else "dry"]
            if fail_line is None:
                assert err is None
                body = lines[1:-1]
                assert body[-2:] == ["", ""]
                assert body[:-2] == expected, script
            else:
                assert err is not None and err.line == fail_line, script
                # everything up to and including the failing statement's
                # echo was emitted; nothing after
                assert lines[1:-1] == expected, script
            # fail-fast + dry-run-never-moves-data, from the catalog itself
            expect_rows = sorted(rows) if mode else []
            got = sorted(
                (r.a, r.b) for r in spark.table(tbl).collect()
            ) if spark.catalog.tableExists(tbl) else []
            assert got == expect_rows, script
    finally:
        for tbl in created:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


#: (single-line gated statement template, construct name, minimum Hive
#: version) - every template analyzes clean on emr-5 dry-run.
_GATED_FRAGS = [
    ("SELECT greatest(a, a) AS g FROM {t}", "greatest()", (1, 1, 0)),
    ("SELECT CURRENT_DATE AS d", "CURRENT_DATE", (1, 2, 0)),
    ("SELECT a FROM {t} UNION SELECT a FROM {t}", "UNION [DISTINCT]", (1, 2, 0)),
    ("SELECT md5(b) AS h FROM {t}", "md5()", (1, 3, 0)),
    ("SELECT bround(CAST(a AS DOUBLE)) AS r FROM {t}", "bround()", (2, 0, 0)),
    ("SELECT nullif(a, a) AS n FROM {t}", "nullif()", (2, 3, 0)),
    ("SELECT a FROM {t} INTERSECT SELECT a FROM {t}", "INTERSECT", (2, 3, 0)),
]


@given(
    frag=st.sampled_from(_GATED_FRAGS),
    pre_decs=st.lists(st.sampled_from(_DECORATIONS), max_size=3),
    n_before=st.integers(0, 2),
    trailing=st.booleans(),
)
@settings(
    max_examples=8 * _SCALE,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fuzz_runner_gate_version_monotonic_e2e(spark, frag, pre_decs, n_before, trailing):
    """Release-gate version monotonicity END-TO-END through the executor:
    one generated script carrying exactly one gated construct is dry-run
    under emr-3/emr-4/emr-5. Expected outcome is computed from the pin
    table alone (fails iff min_version > pin), so acceptance is monotone in
    the pin by construction of the assertion; additionally the gate error
    is line-addressed to the gated statement (past comment/blank
    decorations), names the construct, fail-fasts (later statements are
    not reached), and emr-5 never gate-fails."""
    from bee_proof_spark.runner.release_gates import RELEASE_HIVE_VERSION

    sql_tpl, construct, need = frag
    case = next(_E2E_IDS)
    tbl = f"e2e_gz_{case}"
    segs = [f"CREATE TABLE {tbl} (a INT, b STRING) USING parquet;"]
    line = 2
    for i in range(n_before):
        segs.append(f"SELECT {i} AS k{i};")
        line += 1
    for d in pre_decs:
        segs.append(d)
        line += 1
    gate_line = line
    segs.append(sql_tpl.format(t=tbl) + ";")
    if trailing:
        segs.append(f"SELECT a FROM {tbl};")
    script = "\n".join(segs) + "\n"
    failed = {}
    try:
        for release, pin in RELEASE_HIVE_VERSION.items():
            lines: list[str] = []
            r = ScriptRunner(spark, execute=False, verbose=False,
                             out=lines.append, release=release)
            if need > pin:
                with pytest.raises(StatementError) as ei:
                    r.run_text(script)
                assert ei.value.line == gate_line, (release, script)
                assert construct in str(ei.value) and "release gate" in str(ei.value)
                # fail-fast: only the n_before benign selects were skipped
                assert lines.count("> Skipped!") == n_before, (release, script)
                failed[release] = True
            else:
                r.run_text(script)
                assert lines.count("> Skipped!") == n_before + 1 + (1 if trailing else 0)
                failed[release] = False
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        # explicit monotonicity record: emr-5 never fails; an emr-4 failure
        # implies an emr-3 failure
        assert failed["emr-5"] is False
        assert not (failed["emr-4"] and not failed["emr-3"])
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
