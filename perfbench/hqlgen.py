"""Seeded generator of HiveQL manifests for the runner workload.

A pass is a list of manifests. Each script declares external tables over
the fixture (``USING parquet LOCATION '${SF}/...'``), sets variables
through ``SET hivevar:`` and ``SET hiveconf:``, reads them back through
``${VAR}`` and ``${hiveconf:...}``, and runs a fixed mix of aggregates,
multi-way joins, windows, CTEs, lateral views and ``INSERT OVERWRITE`` into
tables it declared itself. The seed picks literals, layout and order; the
mix of statements is the same for every seed, so a pass does the same
amount of work whatever the seed.

Every query is written so that Spark and DuckDB give it the same meaning
(integer-valued or exact aggregates, no float arithmetic across rows, no
ties under ORDER BY/LIMIT), in the style of ``tests/test_differential_fuzz.py``:
the expected rows come from DuckDB replaying the same statements over the
same parquet files. Lateral views, which DuckDB lacks, carry a DuckDB
spelling of the same query.

Dry-run manifests also include faulty scripts, each with one fault at a
known line: an unknown column, a missing table, or a construct the emr-3
release pin rejects (that manifest runs under ``emr-3``).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import asdict, dataclass

#: Fixture tables a script may declare: name in the script -> parquet file.
SOURCES = {
    "li": "lineitem",
    "ord": "orders",
    "cust": "customer",
    "nat": "nation",
    "reg": "region",
    "part_t": "part",
    "supp": "supplier",
}

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

FAULT_KINDS = ("unknown_column", "missing_table", "release_gate")


@dataclass
class Stmt:
    """One statement as the runner echoes it, and how to check it."""

    line: int  # 1-based script line of the statement's first SQL character
    echo: str  # substituted text, exactly as the runner's verbose echo prints it
    duck: str | None = None  # DuckDB statement replaying it (None: nothing to replay)
    query: bool = False  # prints rows in execute mode, compared with DuckDB
    rows: list[str] | None = None  # expected printed rows (execute mode, filled later)


@dataclass
class Script:
    path: str
    stmts: list[Stmt]


@dataclass
class Fault:
    kind: str
    script: str
    line: int  # the line the runner's StatementError must name
    index: int  # position of the faulty statement in the script


@dataclass
class ManifestSpec:
    path: str
    release: str
    execute: bool
    scripts: list[Script]
    fault: Fault | None = None


class _ScriptBuilder:
    """Accumulates one script: its file text (with ``${...}`` references)
    and the statements as the runner will echo them (references expanded)."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.lines: list[str] = []
        self.pending: list[str] = []  # blank and comment lines before the next statement
        self.stmts: list[Stmt] = []

    def add(self, sql: str, duck: str | None = None, query: bool = False,
            comment: str | None = None, **fields) -> Stmt:
        """Append ``sql``, a ``str.format`` template over ``fields``.

        A field value is a plain literal or a ``(reference, value)`` pair: the
        file holds the ``${...}`` reference and the echo the value. ``duck``
        is ``"same"`` (DuckDB runs the echoed statement), a template over the
        same fields, or None. A seeded share of statements gets a leading
        blank line or comment, which moves the line numbers after it.
        """
        in_file = {k: (v[0] if isinstance(v, tuple) else v) for k, v in fields.items()}
        expanded = {k: (v[1] if isinstance(v, tuple) else v) for k, v in fields.items()}
        text = sql.format(**expanded)
        if self.rng.random() < 0.3:
            self.pending.append("")
        if comment or self.rng.random() < 0.25:
            self.pending.append(f"-- {comment or 'step ' + str(len(self.stmts) + 1)}")
        self.lines.extend(self.pending)
        # The splitter keeps comments that precede a statement in its text
        # and strips the whitespace around it; the runner echoes that text.
        prefix = "\n".join(self.pending).lstrip("\n")
        self.pending = []
        line = len(self.lines) + 1
        self.lines.extend(sql.format(**in_file).split("\n"))
        self.lines[-1] += ";"
        if duck == "same":
            duck = text
        elif duck is not None:
            duck = duck.format(**expanded)
        stmt = Stmt(line=line, echo=prefix + "\n" + text if prefix else text,
                    duck=duck, query=query)
        self.stmts.append(stmt)
        return stmt

    def set_var(self, name: str, value: str) -> tuple[str, str]:
        self.add(f"SET hivevar:{name}={value}")
        return ("${" + name + "}", value)

    def set_conf(self, key: str, value: str) -> tuple[str, str]:
        self.add(f"SET hiveconf:{key}={value}")
        return ("${hiveconf:" + key + "}", value)

    def declare_sources(self, names: list[str], sf: tuple[str, str]) -> None:
        for name in names:
            self.add(f"DROP TABLE IF EXISTS {name}")
            self.add(
                f"CREATE TABLE {name} USING parquet LOCATION '{{SF}}/{SOURCES[name]}.parquet'",
                duck=f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{{SF}}/{SOURCES[name]}.parquet')",
                SF=sf,
            )

    def text(self) -> str:
        return "\n".join(self.lines) + "\n"


def _queries(b: _ScriptBuilder, minq, year, prio) -> None:
    """The fixed query mix, in seeded order, with seeded literals."""
    r = b.rng
    cust = r.randrange(0, 1500)
    supp_max = r.randrange(20, 80)
    big = r.randrange(150, 250)
    topn = r.randrange(2, 5)
    mix = [
        lambda: b.add(
            "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q,\n"
            "       min(l_extendedprice) AS lo, max(l_extendedprice) AS hi\n"
            "FROM li WHERE l_quantity >= {MINQ}\nGROUP BY l_returnflag, l_linestatus",
            duck="same", query=True, MINQ=minq),
        lambda: b.add(
            "SELECT n.n_name, count(*) AS n_orders, max(o.o_totalprice) AS top\n"
            "FROM ord o JOIN cust c ON o.o_custkey = c.c_custkey\n"
            "JOIN nat n ON c.c_nationkey = n.n_nationkey\n"
            "WHERE o.o_orderpriority = '{PRIO}'\nGROUP BY n.n_name",
            duck="same", query=True, PRIO=prio),
        lambda: b.add(
            "SELECT r.r_name, count(*) AS n_lines, sum(l.l_quantity) AS q\n"
            "FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey\n"
            "JOIN cust c ON o.o_custkey = c.c_custkey\n"
            "JOIN nat n ON c.c_nationkey = n.n_nationkey\n"
            "JOIN reg r ON n.n_regionkey = r.r_regionkey\n"
            "WHERE year(l.l_shipdate) = {YEAR}\nGROUP BY r.r_name",
            duck="same", query=True, YEAR=year),
        lambda: b.add(
            "SELECT c_nationkey, c_custkey, rk FROM (\n"
            "  SELECT c_nationkey, c_custkey,\n"
            "         rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk\n"
            "  FROM cust) t\nWHERE rk <= {TOPN}",
            duck="same", query=True, TOPN=str(topn)),
        lambda: b.add(
            "WITH big AS (\n"
            "  SELECT l_orderkey, sum(l_quantity) AS q FROM li\n"
            "  GROUP BY l_orderkey HAVING sum(l_quantity) > {BIG})\n"
            "SELECT o.o_orderstatus, count(*) AS n, sum(big.q) AS q\n"
            "FROM big JOIN ord o ON big.l_orderkey = o.o_orderkey\nGROUP BY o.o_orderstatus",
            duck="same", query=True, BIG=str(big)),
        lambda: b.add(
            "SELECT w, count(*) AS n, sum(p_size) AS s\n"
            "FROM part_t LATERAL VIEW explode(split(p_name, ' ')) x AS w\n"
            "WHERE p_size > {MINQ}\nGROUP BY w",
            duck="SELECT w, count(*) AS n, sum(p_size) AS s FROM (\n"
            "  SELECT unnest(string_split(p_name, ' ')) AS w, p_size FROM part_t\n"
            "  WHERE p_size > {MINQ}) x GROUP BY w",
            query=True, MINQ=minq),
        lambda: b.add(
            "SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n\n"
            "FROM li WHERE l_suppkey < {SUPP}\nGROUP BY l_suppkey HAVING count(*) > 500",
            duck="same", query=True, SUPP=str(supp_max)),
        lambda: b.add(
            "SELECT 'orders' AS t, count(*) AS n FROM ord WHERE year(o_orderdate) = {YEAR}\n"
            "UNION ALL\nSELECT 'parts' AS t, count(*) AS n FROM part_t WHERE p_size > {MINQ}",
            duck="same", query=True, YEAR=year, MINQ=minq),
        lambda: b.add(
            "SELECT o_orderkey, o_orderstatus, o_totalprice FROM ord\n"
            "WHERE o_custkey = {CUST}\nORDER BY o_orderkey",
            duck="same", query=True, CUST=str(cust)),
        lambda: b.add(
            "SELECT s.s_name, count(*) AS n FROM li l\n"
            "JOIN supp s ON l.l_suppkey = s.s_suppkey\n"
            "JOIN part_t p ON l.l_partkey = p.p_partkey\n"
            "WHERE p.p_type = 'PROMO' AND l.l_quantity >= {MINQ}\n"
            "GROUP BY s.s_name ORDER BY n DESC, s.s_name LIMIT 10",
            duck="same", query=True, MINQ=minq),
    ]
    r.shuffle(mix)
    for emit in mix:
        emit()


def _writes(b: _ScriptBuilder, tag: str, execute: bool, year) -> None:
    """DDL-declared write target, INSERT OVERWRITE, read back; in execute
    mode also a CTAS and its read-back (a dry-run CTAS target does not
    exist for later statements, so dry-run writes only declared tables)."""
    out = f"w_{tag}"
    b.add(f"DROP TABLE IF EXISTS {out}")
    b.add(f"CREATE TABLE {out} (flag STRING, n BIGINT, q DOUBLE) USING parquet",
          duck=f"CREATE OR REPLACE TABLE {out} (flag VARCHAR, n BIGINT, q DOUBLE)")
    body = ("SELECT l_returnflag, count(*), sum(l_quantity) FROM li\n"
            "WHERE year(l_shipdate) >= {YEAR} GROUP BY l_returnflag")
    b.add(f"INSERT OVERWRITE TABLE {out}\n" + body,
          duck=f"INSERT INTO {out} " + body, YEAR=year)
    b.add(f"SELECT flag, n, q FROM {out}", duck="same", query=True)
    if execute:
        ctas = f"c_{tag}"
        b.add(f"DROP TABLE IF EXISTS {ctas}")
        body = ("SELECT o_orderpriority AS prio, count(*) AS n FROM ord\n"
                "WHERE year(o_orderdate) = {YEAR} GROUP BY o_orderpriority")
        b.add(f"CREATE TABLE {ctas} USING parquet AS\n" + body,
              duck=f"CREATE OR REPLACE TABLE {ctas} AS " + body, YEAR=year)
        b.add(f"SELECT c.prio, c.n, w.n AS lines FROM {ctas} c CROSS JOIN {out} w\n"
              "WHERE w.flag = 'R'", duck="same", query=True)


def _clean_script(rng: random.Random, path: str, tag: str, execute: bool,
                  variables: dict[str, str]) -> tuple[Script, str]:
    b = _ScriptBuilder(rng)
    b.pending.append(f"-- perfbench generated script {tag}")
    sf = ("${SF}", variables["SF"])
    prio = ("${PRIO}", variables["PRIO"])
    minq = b.set_var("MINQ", str(rng.randrange(5, 45)))
    year = b.set_conf("bench.year", str(rng.randrange(1995, 2001)))
    b.declare_sources(list(SOURCES), sf)
    b.add("DESCRIBE li")
    _queries(b, minq, year, prio)
    _writes(b, tag, execute, year)
    return Script(path, b.stmts), b.text()


def _faulty_script(rng: random.Random, path: str, kind: str,
                   variables: dict[str, str]) -> tuple[Script, str, Fault]:
    """A short script whose fourth query statement carries ``kind``."""
    b = _ScriptBuilder(rng)
    b.pending.append(f"-- perfbench generated faulty script ({kind})")
    sf = ("${SF}", variables["SF"])
    minq = b.set_var("MINQ", str(rng.randrange(5, 45)))
    b.declare_sources(["li", "ord"], sf)
    for _ in range(3):
        b.add("SELECT l_linestatus, count(*) AS n FROM li\n"
              "WHERE l_quantity > {MINQ} GROUP BY l_linestatus", MINQ=minq)
    col = rng.choice(["l_nosuch", "l_discount_pct", "o_shipmode"])
    if kind == "unknown_column":
        stmt = b.add(f"SELECT l_orderkey, {col}\nFROM li WHERE l_quantity > {{MINQ}}",
                     MINQ=minq, comment="refers to a column the table lacks")
        line = stmt.line
    elif kind == "missing_table":
        stmt = b.add(f"SELECT count(*) AS n\nFROM missing_{col}\nWHERE x > {{MINQ}}",
                     MINQ=minq, comment="refers to a table never declared")
        line = stmt.line
    else:
        # greatest() needs Hive 1.1; the emr-3 pin is Hive 0.13.1. The call
        # sits on the statement's second line, so the error must carry the
        # gate's line offset, not the statement's first line.
        stmt = b.add("SELECT l_orderkey,\n       greatest(l_quantity, {MINQ}) AS g\nFROM li",
                     MINQ=minq, comment="uses a construct emr-3 lacks")
        line = stmt.line + 1
    # statements after the fault must never run (fail-fast)
    b.add("SELECT count(*) FROM ord")
    b.add("SELECT count(*) FROM li")
    return Script(path, b.stmts), b.text(), Fault(kind, path, line, b.stmts.index(stmt))


def generate(seed: int, out_dir: str, sf_dir: str, execute: bool,
             n_clean: int, faults: bool = False) -> list[ManifestSpec]:
    """Write one pass's manifests and scripts under ``out_dir``.

    ``n_clean`` manifests of one clean script each; with ``faults``, one
    more manifest per fault kind, each with one faulty script. Manifests
    run in a seeded order. The same arguments give byte-identical files.
    """
    rng = random.Random(f"{seed}:{'exec' if execute else 'dry'}")
    os.makedirs(out_dir, exist_ok=True)
    mode = "exec" if execute else "dry"
    specs: list[ManifestSpec] = []

    def write(path: str, text: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            f.write(text)

    jobs = [(f"{mode}{m}", None) for m in range(n_clean)]
    if faults:
        jobs += [(f"{mode}_fault_{kind}", kind) for kind in FAULT_KINDS]
    for tag, kind in jobs:
        variables = {"SF": sf_dir, "PRIO": rng.choice(PRIORITIES)}
        path = os.path.join(out_dir, f"{tag}.hql")
        if kind is None:
            script, text = _clean_script(rng, path, tag, execute, variables)
            fault = None
        else:
            script, text, fault = _faulty_script(rng, path, kind, variables)
        write(path, text)
        spec = ManifestSpec(os.path.join(out_dir, f"{tag}.json"),
                            "emr-3" if kind == "release_gate" else "emr-5",
                            execute, [script], fault)
        write(spec.path, json.dumps(
            {"enableHadoop": execute, "verboseOutput": True,
             "tasks": [{"script": path, "variables": variables}]}, indent=2))
        specs.append(spec)
    rng.shuffle(specs)
    return specs


def expect_rows(specs: list[ManifestSpec]) -> None:
    """Fill ``Stmt.rows`` for every execute-mode query by replaying each
    manifest's statements in DuckDB, formatted as the runner prints rows."""
    import duckdb

    for spec in specs:
        if not spec.execute:
            continue
        con = duckdb.connect()
        try:
            for script in spec.scripts:
                for st in script.stmts:
                    if st.duck is None:
                        continue
                    if st.query:
                        st.rows = sorted(
                            "\t".join("NULL" if v is None else str(v) for v in row)
                            for row in con.execute(st.duck).fetchall()
                        )
                    else:
                        con.execute(st.duck)
        finally:
            con.close()


def to_json(specs: list[ManifestSpec]) -> list[dict]:
    return [asdict(s) for s in specs]


def from_json(data: list[dict]) -> list[ManifestSpec]:
    out = []
    for d in data:
        scripts = [Script(s["path"], [Stmt(**st) for st in s["stmts"]]) for s in d["scripts"]]
        fault = Fault(**d["fault"]) if d["fault"] else None
        out.append(ManifestSpec(d["path"], d["release"], d["execute"], scripts, fault))
    return out
