"""Property-based tests (hypothesis) for the lexical harness layers.

The splitter and substitution engines are the parts most exposed to
adversarial user input (arbitrary script text); properties beat examples
here. SURVEY.md section 5.2 "hard parts": embedded semicolons/comments,
${VAR} namespace precedence.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from bee_proof_spark.runner.splitter import (
    blank_literals_and_comments,
    split_statements,
    strip_leading_comments,
)
from bee_proof_spark.runner.substitution import substitute

# ------------------------------------------------------------------ splitter

ident = st.text(st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=8)
# statement bodies that cannot themselves terminate/open lexical state
safe_body = st.text(
    st.characters(whitelist_characters=" abcdefgXYZ0123456789_=<>", whitelist_categories=()),
    min_size=1,
    max_size=40,
).filter(lambda s: s.strip())


@given(st.lists(safe_body, min_size=1, max_size=8))
@settings(max_examples=200, deadline=None)
def test_split_joins_back_to_parts(parts):
    script = ";\n".join(parts) + ";"
    got = [s.text for s in split_statements(script)]
    assert got == [p.strip() for p in parts if p.strip()]


@given(safe_body, safe_body)
@settings(max_examples=200, deadline=None)
def test_semicolon_inside_quotes_never_splits(a, b):
    lit = a.replace("'", "")
    script = f"SELECT '{lit};{lit}' AS x FROM {b.strip() or 't'}"
    stmts = split_statements(script + ";")
    assert len(stmts) == 1
    assert f"'{lit};{lit}'" in stmts[0].text


@given(safe_body)
@settings(max_examples=100, deadline=None)
def test_comment_only_scripts_yield_nothing(body):
    clean = body.replace("\n", " ")
    script = f"-- {clean}\n/* {clean} */\n"
    assert split_statements(script) == []


#: Every char or pair that opens, closes or escapes a lexical region, so
#: random text hits unterminated strings and comments, '/*/', a trailing
#: backslash and the like.
lex_text = st.lists(
    st.sampled_from(
        ["'", '"', "`", ";", "-", "--", "/*", "*/", "/", "*", "\n", "\\", "a", "SELECT", "''", " "]
    ),
    max_size=30,
).map("".join)


@given(lex_text)
@settings(max_examples=300, deadline=None)
def test_lexer_passes_hold_on_any_text(text):
    """The three passes over the one lexer: blanking keeps the length and
    every newline; stripping leaves a suffix that starts at neither
    whitespace nor a comment; no statement is empty."""
    blanked = blank_literals_and_comments(text)
    assert len(blanked) == len(text)
    newlines = [i for i, c in enumerate(text) if c == "\n"]
    assert [i for i, c in enumerate(blanked) if c == "\n"] == newlines
    rest = strip_leading_comments(text)
    assert text.endswith(rest)
    assert not rest[:1].isspace() and not rest.startswith(("--", "/*"))
    assert all(s.text for s in split_statements(text))


@st.composite
def _nested_comment(draw, depth=0):
    """A well-formed (possibly nested) bracketed comment whose body may
    contain ';' and newlines. Body chars exclude '*'/'/' so comment
    delimiters can only form where the generator places them - seams
    like body'*' + inner'/*' would otherwise create accidental '*/'
    tokens whose parse is ambiguous even for Spark's lexer; the lone-char
    cases are pinned by the explicit unit tests instead."""
    body = draw(
        st.text(
            st.characters(whitelist_characters=" ;ab\n", whitelist_categories=()),
            max_size=12,
        )
    )
    inner = ""
    if depth < 2 and draw(st.booleans()):
        inner = draw(_nested_comment(depth + 1))
    return f"/*{body}{inner}{body}*/"


@given(st.lists(safe_body, min_size=1, max_size=4), _nested_comment())
@settings(max_examples=150, deadline=None)
def test_nested_comments_never_split(parts, comment):
    """Splicing an arbitrary well-formed nested comment (which may contain
    ';') into every statement must not change the split: same count, and
    each statement still carries its comment intact."""
    script = ";\n".join(f"{p} {comment}" for p in parts) + ";"
    stmts = split_statements(script)
    expected = [p.strip() for p in parts if p.strip()]
    assert len(stmts) == len(expected)
    for s, p in zip(stmts, expected):
        assert s.text.startswith(p)
        assert s.text.endswith("*/")


@given(st.lists(safe_body, min_size=1, max_size=5), st.integers(0, 3))
@settings(max_examples=100, deadline=None)
def test_line_numbers_point_at_statement_start(parts, leading_blank):
    script = "\n" * leading_blank + ";\n".join(parts) + ";"
    stmts = split_statements(script)
    for s in stmts:
        # the reported line's content must contain the statement's first token
        line_text = script.split("\n")[s.line - 1]
        assert s.text.split()[0][:5] in line_text


# ------------------------------------------------------------------ substitution

var_name = st.text(st.characters(whitelist_categories=("Lu", "Ll")), min_size=1, max_size=6)
var_value = st.text(
    st.characters(whitelist_characters="abcXYZ123 _-", whitelist_categories=()), max_size=12
).filter(lambda v: "${" not in v)


@given(st.dictionaries(var_name, var_value, max_size=4), var_name)
@settings(max_examples=200, deadline=None)
def test_substitute_resolves_known_leaves_unknown(vars_, name):
    text = f"A ${{{name}}} Z"
    out = substitute(text, vars_)
    if name in vars_:
        assert out == f"A {vars_[name]} Z"
    else:
        assert out == text  # unresolved refs stay verbatim (Hive behavior)


@given(st.dictionaries(var_name, var_value, min_size=1, max_size=4))
@settings(max_examples=200, deadline=None)
def test_substitute_idempotent_on_plain_values(vars_):
    text = " ".join(f"${{{k}}}" for k in vars_)
    once = substitute(text, vars_)
    assert substitute(once, vars_) == once
    assert "${" not in once


@given(var_name, var_value)
@settings(max_examples=100, deadline=None)
def test_hivevar_namespace_equals_bare(name, value):
    assert substitute(f"${{hivevar:{name}}}", {name: value}) == value
    assert substitute(f"${{{name}}}", {name: value}) == value


@given(var_name, var_value, var_value)
@settings(max_examples=100, deadline=None)
def test_hivevar_wins_over_conf(name, v1, v2):
    out = substitute(f"${{{name}}}", {name: v1}, {name: v2})
    assert out == v1


def test_substitution_cycle_raises():
    # A -> B -> A must fail fast like Hive's VariableSubstitution
    # ('Substitution exceeds 40 iterations'), not silently pass through.
    from bee_proof_spark.runner.substitution import SubstitutionError

    with pytest.raises(SubstitutionError, match="exceeds 40 iterations"):
        substitute("${A}", {"A": "${B}", "B": "${A}"})


# ---------------------------------------------------------------- banded rank

@given(
    st.lists(
        st.tuples(
            st.sampled_from(["F", "O", "P"]),           # 3-value status
            st.integers(0, 50).map(float),              # price - duplicates likely
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(2, 5),  # band count - small so bands actually split groups
)
@settings(max_examples=25, deadline=None)
def test_banded_row_number_equals_plain_window(spark, rows, nbands):
    """_banded_row_number must equal the plain status-partitioned window for
    ANY data: duplicate prices (incl. ties spanning band boundaries), 1-row
    groups, all-equal-price groups (the hi==lo degenerate band), both
    directions. Unique keys are part of the contract (o_orderkey is the PK)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bee_proof_spark.queries.windows import _banded_row_number

    data = [(i, status, price) for i, (status, price) in enumerate(rows)]
    o = spark.createDataFrame(data, "o_orderkey long, o_orderstatus string, o_totalprice double")
    for descending in (False, True):
        order = [
            F.desc("o_totalprice") if descending else F.asc("o_totalprice"),
            F.asc("o_orderkey"),
        ]
        w = Window.partitionBy("o_orderstatus").orderBy(*order)
        plain = {
            r["o_orderkey"]: r["rn"]
            for r in o.select("o_orderkey", F.row_number().over(w).alias("rn")).collect()
        }
        banded = {
            r["o_orderkey"]: r["rn"]
            for r in _banded_row_number(o, nbands=nbands, descending=descending)
            .select("o_orderkey", "rn")
            .collect()
        }
        assert plain == banded


# ------------------------------------------------------------ interval union

@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),        # doc_id - few docs so they share the frame
            st.sets(st.integers(1, 40), min_size=1, max_size=15),
        ),
        min_size=1,
        max_size=4,
        unique_by=lambda t: t[0],
    )
)
@settings(max_examples=25, deadline=None)
def test_span_interval_union_equals_position_set(spark, docs):
    """ext_boilerplate_ngrams counts covered positions as
    5 + sum(min(5, delta-pos)) over the doc-keyed window. For ANY per-doc
    set of unique hit starts (adjacent, overlapping, gapped, single) that
    must equal the size of the union of [pos, pos+4] - the brute-force
    position set."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(d, p) for d, ps in docs for p in ps]
    hits = spark.createDataFrame(rows, "doc_id long, pos int")
    w = Window.partitionBy("doc_id").orderBy("pos")
    got = {
        r["doc_id"]: r["n_covered"]
        for r in (
            hits.withColumn("prev", F.lag("pos").over(w))
            .select(
                "doc_id",
                F.when(F.col("prev").isNull(), F.lit(5))
                .otherwise(F.least(F.lit(5), F.col("pos") - F.col("prev")))
                .alias("add"),
            )
            .groupBy("doc_id")
            .agg(F.sum("add").cast("bigint").alias("n_covered"))
            .collect()
        )
    }
    want = {
        d: len({c for p in ps for c in range(p, p + 5)}) for d, ps in docs
    }
    assert got == want


def test_emb_lsh_sign_margin_dwarfs_float_divergence():
    """ext_dedup_embedding_lsh is hash-checked against an oracle that
    REPLICATES the hyperplane bucket math, so its one cross-engine hazard
    is a sign flip when a plane dot sits within float-summation-order
    divergence of zero (~1e-13 relative). Pin that every fixture's minimum
    |dot(embedding, plane)| margin is orders of magnitude above that, for
    every seeded plane - the property that makes the bucket computation
    deterministic across engines."""
    import duckdb
    import numpy as np

    from bee_proof_spark.queries.extensions import _emb_lsh_planes

    planes = _emb_lsh_planes().reshape(-1, 64)
    con = duckdb.connect()
    for sf in ["sf0.001", "sf0.01", "sf0.1"]:
        emb = con.execute(
            "SELECT embedding FROM "
            f"read_parquet('/root/testdata/{sf}/embeddings.parquet')"
        ).fetch_df()
        vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        margin = np.abs(vecs @ planes.T).min()
        # measured: 3.9e-6 (sf0.1) .. 2.7e-5 (sf0.01); 1e-9 leaves three
        # orders of drift headroom while staying 1e4 above divergence
        assert margin > 1e-9, (sf, margin)


def test_knn_lsh_sign_margin_dwarfs_float_divergence():
    """Same property for ext_knn_lsh's seeded plane bank (upgraded from
    rows-only to a generated hash-checked oracle in r7): the minimum
    |dot(raw embedding, plane)| across every fixture and all 32 planes
    must dwarf summation-order divergence, or a BLAS-vs-sequential sign
    flip could silently diverge the bucket codes between engines.
    Measured: 7.9e-6 (sf0.001) .. 9.9e-5 (sf0.1)."""
    import duckdb
    import numpy as np

    from bee_proof_spark.queries.extensions import _knn_lsh_planes

    planes = _knn_lsh_planes().reshape(-1, 64)
    con = duckdb.connect()
    for sf in ["sf0.001", "sf0.01", "sf0.1"]:
        emb = con.execute(
            "SELECT embedding FROM "
            f"read_parquet('/root/testdata/{sf}/embeddings.parquet')"
        ).fetch_df()
        vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        margin = np.abs(vecs @ planes.T).min()
        assert margin > 1e-9, (sf, margin)


def test_ivf_assignment_margin_dwarfs_float_divergence():
    """Same property for ext_knn_ivf's FROZEN centroid bank (upgraded from
    rows-only to a generated hash-checked oracle in r8): the minimum
    assignment margin (best centroid dot minus second-best) and probe
    margin (probe-2 dot minus probe-3, query vectors only) across every
    fixture must dwarf summation-order divergence, or a BLAS-vs-sequential
    flip could diverge the list assignment between engines. Measured:
    assignment 1.7e-5 (sf0.1) .. 4.4e-5 (sf0.01); probe 4.3e-5 (sf0.001)
    .. 2.2e-3 (sf0.01)."""
    import duckdb
    import numpy as np

    from bee_proof_spark.queries._ivf_centroids import IVF_CENTROIDS

    cents = np.array(IVF_CENTROIDS, dtype=np.float64)
    con = duckdb.connect()
    for sf in ["sf0.001", "sf0.01", "sf0.1"]:
        emb = con.execute(
            "SELECT embedding FROM "
            f"read_parquet('/root/testdata/{sf}/embeddings.parquet')"
            " ORDER BY vec_id"
        ).fetch_df()
        vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        dots = np.sort(vecs @ cents.T, axis=1)[:, ::-1]
        # Assert the DOCUMENTED order of magnitude (measured floors are
        # 1.7e-5 assignment / 4.3e-5 probe), not just the 1e-9 hard floor:
        # a retrain landing near-degenerate margins must FAIL here, not
        # silently erode the safety factor the docstrings advertise
        # (r8 ADVICE). 1e-9 remains the absolute never-cross line.
        assert (dots[:, 0] - dots[:, 1]).min() > 1e-6, sf
        assert (dots[:10, 1] - dots[:10, 2]).min() > 1e-6, sf


def test_md5_hash_lane_cross_engine_parity_whole_corpus(spark):
    """The md5 double-hashing lane (r8: what makes ext_dedup_fuzzy /
    ext_dedup_simhash hash-checkable) must produce BYTE-IDENTICAL h1/h2
    integers in Spark and DuckDB for every shingle of a real corpus - not
    just the adversarial spike strings. A single divergent hex parse or
    md5 of any UTF-8 content would silently shift one signature."""
    import duckdb

    from pyspark.sql import functions as F

    from bee_proof_spark.queries import tbl
    from bee_proof_spark.queries.extensions import _shingle_postings

    sf = "/root/testdata/sf0.001"
    sdf = (
        _shingle_postings(tbl(spark, sf, "documents"))
        .select(
            "shingle",
            F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10)
            .cast("long")
            .alias("h1"),
            F.conv(F.substring(F.md5("shingle"), 9, 8), 16, 10)
            .cast("long")
            .alias("h2"),
        )
        .distinct()
    )
    spark_rows = {(r["shingle"], r["h1"], r["h2"]) for r in sdf.collect()}
    con = duckdb.connect()
    duck_rows = set(
        con.execute(
            f"""
            WITH sh AS (
              SELECT DISTINCT unnest(list_transform(
                       generate_series(1, greatest(len(words) - 2, 1)),
                       i -> array_to_string(words[i:i+2], ' '))) AS shingle
              FROM (SELECT string_split(text, ' ') AS words
                    FROM read_parquet('{sf}/documents.parquet'))
            )
            SELECT shingle,
                   ('0x' || substr(md5(shingle), 1, 8))::BIGINT,
                   ('0x' || substr(md5(shingle), 9, 8))::BIGINT
            FROM sh
            """
        ).fetchall()
    )
    con.close()
    assert len(spark_rows) > 1000
    assert spark_rows == duck_rows


def test_emb_lsh_planted_near_dups_all_caught(spark, tmp_path):
    """The complement of the subset-of-exact test: high-cosine near-dups
    must actually be CAUGHT. A deterministic planted fixture (2k isotropic
    gaussian vectors, 20 planted ~0.999-cosine duplicates - the miniature
    of tools/gen_scale.py --emb-realistic) must yield every planted pair
    in the output: at cosine 0.999 the per-table collision probability is
    p^8 ~= 0.92, union over 8 tables ~= 1 - 1e-8, and the fixture seed is
    fixed, so a miss is a code regression, never sampling luck. Measured
    corpus-wide recall at the 2M-vector fixture is 1.0 (SCALE.md r6)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries import load_all

    n, dup = 2000, 20
    rng = np.random.RandomState(41)
    base = rng.standard_normal((n, 64)).astype(np.float32)
    base[n - dup:] = base[:dup] + rng.standard_normal((dup, 64)).astype(np.float32) * 0.05
    t = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(base.reshape(-1)), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, size=n).astype(np.int32)),
    })
    pq.write_table(t, str(tmp_path / "embeddings.parquet"))
    got = {
        (r["id_a"], r["id_b"])
        for r in load_all()["ext_dedup_embedding_lsh"]
        .builder(spark, str(tmp_path))
        .filter("cosine >= 0.9")
        .collect()
    }
    planted = {(j, n - dup + j) for j in range(dup)}
    assert planted <= got, sorted(planted - got)


def test_pivot_empty_count_cell_is_zero_not_null(spark, tmp_path):
    """PivotFirst's missing-cell default is NULL, but a COUNT over an empty
    cell must be 0 (the oracle's FILTER form is). The shared fixture covers
    all (flag, status) combos and would mask a regression; spec-faithful
    TPC-H data has structurally empty (R,O)/(A,O) cells, so this plants
    one. Empty-cell SUM stays NULL (SUM of an empty set is NULL in SQL)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries import load_all

    pq.write_table(
        pa.table(
            {
                "l_returnflag": ["R", "R", "A", "N"],
                "l_linestatus": ["F", "F", "F", "O"],
                "l_quantity": [1.0, 2.0, 3.0, 4.0],
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    rows = {
        r["l_returnflag"]: r
        for r in load_all()["agg_pivot"].builder(spark, str(tmp_path)).collect()
    }
    assert rows["R"]["status_o"] == 0 and rows["R"]["qty_o"] is None
    assert rows["A"]["status_o"] == 0 and rows["A"]["qty_o"] is None
    assert rows["N"]["status_f"] == 0 and rows["N"]["status_o"] == 1


def test_any_null_ship_is_any_not_all(spark, tmp_path):
    """any_null_ship must be the ANY quantifier: one NULL among non-nulls
    -> true. (min over boolean null-flags is ALL - the inverted semantics
    a review caught mirrored in builder and oracle, invisible to the hash
    gate precisely because both sides agreed.)"""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries import load_all

    pq.write_table(
        pa.table(
            {
                "l_extendedprice": pa.array([10.0, 20.0, 30.0]),
                "l_shipdate": pa.array(
                    [1_000_000_000_000_000, None, 1_000_000_100_000_000],
                    type=pa.timestamp("us"),
                ),
            }
        ),
        str(tmp_path / "lineitem.parquet"),
    )
    row = load_all()["agg_global"].builder(spark, str(tmp_path)).collect()[0]
    assert row["any_null_ship"] is True
    assert row["cnt"] == 3


def test_smb_bucketed_tables_track_source_fingerprint(spark, tmp_path):
    """Regenerating a fixture in place (or pointing at a different corpus
    with the same basename) must produce fresh bucketed tables: the catalog
    key carries the source files' path+mtime+size fingerprint, so a stale
    bucketed copy is never silently served (review-caught, r6)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bee_proof_spark.queries import load_all

    build = load_all()["join_smb_bucketed"].builder

    def write(n_lines: int) -> None:
        pq.write_table(
            pa.table(
                {
                    "l_orderkey": pa.array([1] * n_lines, type=pa.int64()),
                    "l_extendedprice": [10.0] * n_lines,
                }
            ),
            str(tmp_path / "lineitem.parquet"),
        )
        pq.write_table(
            pa.table(
                {
                    "o_orderkey": pa.array([1], type=pa.int64()),
                    "o_orderpriority": ["1-URGENT"],
                }
            ),
            str(tmp_path / "orders.parquet"),
        )

    write(2)
    assert build(spark, str(tmp_path)).collect()[0]["n_lines"] == 2
    time.sleep(1.1)  # distinct integer mtime even on coarse filesystems
    write(3)
    os.utime(tmp_path / "lineitem.parquet")
    assert build(spark, str(tmp_path)).collect()[0]["n_lines"] == 3


def test_emb_lsh_candidates_subset_of_exact_at_threshold(spark):
    """Every pair ext_dedup_embedding_lsh emits must also clear the exact
    all-pairs >= 0.4 contract (LSH trades recall, never precision: the
    exact-cosine verify runs on every candidate). Checked corpus-wide at
    sf0.001 against a brute-force DuckDB all-pairs table."""
    import duckdb

    from bee_proof_spark.queries import load_all

    sf = "/root/testdata/sf0.001"
    got = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in load_all()["ext_dedup_embedding_lsh"].builder(spark, sf).collect()
    }
    assert got, "fixture must produce a non-trivial candidate set"
    con = duckdb.connect()
    allpairs = {
        (a, b, c)
        for a, b, c in con.execute(f"""
        WITH n AS (
          SELECT vec_id, list_transform(
            list_transform(embedding, x -> cast(x as double)),
            x -> x / sqrt(list_sum(list_transform(
              list_transform(embedding, e -> cast(e as double)), y -> y*y)))
          ) AS unit FROM read_parquet('{sf}/embeddings.parquet')
        )
        SELECT a.vec_id, b.vec_id, round(list_dot_product(a.unit, b.unit), 4)
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.unit, b.unit), 4) >= 0.4
        """).fetchall()
    }
    assert got <= allpairs


def test_knn_oracle_cosines_clear_of_4dp_rounding_boundaries():
    """The _KNN_ORACLE contract ranks on round(cosine, 4) in BOTH engines,
    but Spark and DuckDB round summation-order-divergent doubles: a true
    cosine sitting exactly on a x.xxxx5 boundary could round differently
    and flip a rank (r8 ADVICE - soundness was fixture-verified, not
    structural). Pin it structurally, mirroring the IVF assignment-margin
    pin: across EVERY fixture, for the all-pairs cosine superset of what
    ext_knn_* / ext_dedup_embedding* evaluate, the distance from each
    cosine to its nearest 5e-5 rounding boundary must dwarf the MEASURED
    cross-summation-order divergence by >=100x. Measured boundary floors:
    2.7e-10 (sf0.001), 2.0e-10 (sf0.01), 2.8e-12 (sf0.1); measured BLAS-vs-
    sequential divergence ~1e-16, so the slimmest margin still has ~4
    orders of headroom."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    for sf in ["sf0.001", "sf0.01", "sf0.1"]:
        emb = con.execute(
            "SELECT embedding FROM "
            f"read_parquet('/root/testdata/{sf}/embeddings.parquet')"
            " ORDER BY vec_id"
        ).fetch_df()
        vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        cos = unit @ unit.T  # BLAS summation order
        # distance (in cosine units) to the nearest x.xxxx5 round boundary;
        # exact self-cosines (1.0) sit mid-interval and are excluded
        scaled = cos * 10000.0
        dist = np.abs(scaled - np.floor(scaled) - 0.5) * 1e-4
        np.fill_diagonal(dist, 1.0)
        # worst divergence an engine's different summation order could show:
        # sequential per-element accumulation vs BLAS for a row sample
        seq = np.array(
            [sum(unit[0][k] * unit[j][k] for k in range(unit.shape[1]))
             for j in range(min(200, unit.shape[0]))]
        )
        divergence = np.abs(seq - cos[0, : len(seq)]).max()
        assert dist.min() > 1e-13, (sf, dist.min())
        assert dist.min() > 100 * max(divergence, 1e-16), (sf, dist.min(), divergence)


# ---------------------------------------------------------------- release gates

_gated_frags = st.sampled_from([
    "SELECT 1 INTERSECT SELECT 2",
    "SELECT 1 EXCEPT SELECT 2",
    "SELECT 1 UNION SELECT 2",
    "SELECT 1 UNION ALL SELECT 2",
    "SELECT nullif(a, b) FROM t",
    "SELECT add_months(d, 1) FROM t",
    "SELECT months_between(a, b) FROM t",
    "SELECT bround(x) FROM t",
    "SELECT greatest(1, 2)",
    "SELECT md5(s) FROM t",
    "SELECT a FROM t WHERE a > (SELECT max(a) FROM t)",
    "SELECT a FROM t WHERE a IN (SELECT a FROM u)",
    "SELECT upper(s), length(s) FROM t",
])


@given(st.lists(_gated_frags, min_size=1, max_size=5))
@settings(max_examples=200, deadline=None)
def test_release_gate_monotone_in_pin(frags):
    """Gate soundness invariant: an OLDER Hive pin can only reject MORE -
    for any statement, violations(emr-3) >= violations(emr-4) >=
    violations(emr-5) as multisets of constructs, and emr-5 is always
    empty (its 2.3.3 pin covers every gated feature)."""
    from bee_proof_spark.runner.release_gates import violations

    sql = ";\n".join(frags)
    v3 = [v[0] for v in violations(sql, "emr-3")]
    v4 = [v[0] for v in violations(sql, "emr-4")]
    v5 = [v[0] for v in violations(sql, "emr-5")]
    assert v5 == []
    # every emr-4 violation is also an emr-3 violation (with multiplicity)
    from collections import Counter
    c3, c4 = Counter(v3), Counter(v4)
    assert all(c3[k] >= n for k, n in c4.items())


@given(st.text(st.characters(whitelist_characters=" abcdef_'-\n;()", whitelist_categories=()), max_size=60))
@settings(max_examples=200, deadline=None)
def test_release_gate_never_fires_inside_literals(body):
    """Arbitrary text hidden in a blanked literal can never trip a gate -
    the executor blanks literal contents before the check; this pins the
    contract violations() assumes (pre-blanked input = no literal text)."""
    from bee_proof_spark.runner.executor import _blank_literals_and_comments
    from bee_proof_spark.runner.release_gates import violations

    lit = body.replace("'", "").replace("\n", " ")
    sql = f"SELECT 'nullif INTERSECT {lit} EXCEPT bround(' AS s FROM t"
    assert violations(_blank_literals_and_comments(sql), "emr-3") == []
