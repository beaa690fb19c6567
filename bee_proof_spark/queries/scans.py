"""Scans / sources / sinks (SURVEY.md section 2-B): parquet/csv/json/orc
roundtrips, CTAS, INSERT OVERWRITE/INTO, dynamic partitioned writes, external
tables, views.

Each sink query WRITES to a scratch dir (new per call) and reads back;
the oracle describes the end state via the source views. RCFile/SequenceFile
are documented out of scope (no native Spark writer - SURVEY section 2-B
seq_rcfile_note); Hive ACID UPDATE/DELETE/MERGE likewise (INSERT OVERWRITE is
the Spark-native rewrite pattern).

Scale posture: all writers are parallel executor-side writers (one file per
partition); dynamic partitioning uses partitionBy which is the Hive
dynamic-partition INSERT equivalent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bee_proof_spark.queries import _exact_sum, register, tbl
from bee_proof_spark.tmputil import fresh_dir


def _scratch(name: str) -> str:
    """A new, empty scratch dir for one call of a sink query.

    The returned read is often LAZY, so no later call (another fixture,
    thread or build of the same query) may rewrite a dir a caller has yet
    to collect from: every call gets its own leaf under ``pid_dir("sinks")``.
    """
    path = fresh_dir("sinks", name)
    os.makedirs(path)
    return path


@register(
    "scan_parquet",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORED AS PARQUET scan; projection prunes to 4 columns at the reader."""
    return tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


@register(
    "scan_pushdown_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    WHERE l_quantity = 50 AND l_returnflag = 'N'
    """,
)
def scan_pushdown_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter lands in the parquet scan as PushedFilters (asserted in
    tests/test_plans.py), skipping row groups via min/max stats at scale."""
    return (
        tbl(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") == 50) & (F.col("l_returnflag") == "N"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


_CSV_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice,
       cast(cast(o_orderdate as date) as varchar) AS o_date_str
FROM orders
"""


@register("roundtrip_csv", oracle=_CSV_ORACLE)
def roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTFILE/OpenCSVSerde equivalent: write csv, read back with explicit
    schema (schema-on-read, as Hive DDL declares it)."""
    path = _scratch("csv")
    src = tbl(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").cast("string").alias("o_date_str"),
    )
    src.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_date_str", T.StringType()),
        ]
    )
    return spark.read.option("header", True).schema(schema).csv(path)


_JSON_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
"""


@register("roundtrip_json", oracle=_JSON_ORACLE)
def roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JsonSerDe equivalent: write json lines, read back with schema."""
    path = _scratch("json")
    src = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    src.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
        ]
    )
    return spark.read.schema(schema).json(path)


_ORC_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
FROM lineitem WHERE l_returnflag = 'R'
"""


@register("roundtrip_orc", oracle=_ORC_ORACLE)
def roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORED AS ORC roundtrip (Hive 0.11+)."""
    path = _scratch("orc")
    src = (
        tbl(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
    )
    src.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


_XML_ORACLE = """
SELECT p_partkey, p_name, p_brand, p_retailprice FROM part
"""


@register("roundtrip_xml", oracle=_XML_ORACLE)
def roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML source/sink roundtrip via Spark 4's BUILT-IN xml datasource (the
    spark-xml package was folded into core in 4.0 - no external jar). Covers
    the Hive XML-SerDe use case the same way roundtrip_csv covers
    OpenCSVSerde: write with an explicit rowTag, read back schema-on-read.

    Scale shape: like the csv/json sinks, the write is embarrassingly
    parallel (one file per partition, no shuffle) and the read is a
    splittable-by-file scan; XML cannot push filters, so at warehouse scale
    this format is an INGEST/EXPORT boundary, not a query-layer format -
    query paths convert to parquet first (scan_parquet/ctas_table).
    """
    path = _scratch("xml")
    src = tbl(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_retailprice"
    )
    src.write.mode("overwrite").format("xml").option("rowTag", "part").save(path)
    schema = T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    )
    return (
        spark.read.format("xml").option("rowTag", "part").schema(schema).load(path)
    )


_CTAS_ORACLE = """
SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag
"""


@register("ctas_table", oracle=_CTAS_ORACLE)
def ctas_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE TABLE AS SELECT into the session catalog + read back."""
    path = _scratch("ctas")
    tbl(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_src")
    spark.sql("DROP TABLE IF EXISTS bps_ctas")
    spark.sql(
        f"""
        CREATE TABLE bps_ctas USING parquet LOCATION '{path}/t' AS
        SELECT l_returnflag, count(*) AS cnt FROM lineitem_src GROUP BY l_returnflag
        """
    )
    return spark.table("bps_ctas")


_OVERWRITE_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'
"""


@register("insert_overwrite", oracle=_OVERWRITE_ORACLE)
def insert_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT OVERWRITE TABLE: second write replaces the first entirely."""
    path = _scratch("overwrite")
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders_src")
    spark.sql("DROP TABLE IF EXISTS bps_ovr")
    spark.sql(
        f"CREATE TABLE bps_ovr (o_orderkey BIGINT, o_totalprice DOUBLE) "
        f"USING parquet LOCATION '{path}/t'"
    )
    spark.sql(
        "INSERT OVERWRITE TABLE bps_ovr "
        "SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderstatus = 'O'"
    )
    spark.sql(
        "INSERT OVERWRITE TABLE bps_ovr "
        "SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderstatus = 'F'"
    )
    return spark.table("bps_ovr")


_APPEND_ORACLE = """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
UNION ALL
SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
"""


@register("insert_into_append", oracle=_APPEND_ORACLE)
def insert_into_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT INTO TABLE appends (oracle: UNION ALL of both inserts)."""
    path = _scratch("append")
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders_src")
    spark.sql("DROP TABLE IF EXISTS bps_app")
    spark.sql(
        f"CREATE TABLE bps_app (o_orderkey BIGINT, o_totalprice DOUBLE) "
        f"USING parquet LOCATION '{path}/t'"
    )
    spark.sql(
        "INSERT INTO TABLE bps_app "
        "SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderstatus = 'O'"
    )
    spark.sql(
        "INSERT INTO TABLE bps_app "
        "SELECT o_orderkey, o_totalprice FROM orders_src WHERE o_orderstatus = 'P'"
    )
    return spark.table("bps_app")


_DYNPART_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
FROM lineitem
"""


@register("write_partitioned_dynamic", oracle=_DYNPART_ORACLE)
def write_partitioned_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition INSERT: partitionBy writes one dir per key value
    (hive-style layout); read back re-attaches partition columns."""
    path = _scratch("dynpart")
    src = tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus"
    )
    src.write.mode("overwrite").partitionBy("l_returnflag", "l_linestatus").parquet(path)
    return spark.read.parquet(path)


_EXTERNAL_ORACLE = """
SELECT s_suppkey, s_name, s_acctbal FROM supplier
"""


@register("external_table_scan", oracle=_EXTERNAL_ORACLE)
def external_table_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE EXTERNAL TABLE ... LOCATION over pre-existing files."""
    path = _scratch("external")
    tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal").write.mode(
        "overwrite"
    ).parquet(f"{path}/files")
    spark.sql("DROP TABLE IF EXISTS bps_ext")
    spark.sql(f"CREATE TABLE bps_ext USING parquet LOCATION '{path}/files'")
    return spark.table("bps_ext")


_VIEW_ORACLE = """
SELECT c_mktsegment, count(*) AS n FROM customer GROUP BY c_mktsegment
"""


@register("create_view_query", oracle=_VIEW_ORACLE)
def create_view_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE VIEW then query through it."""
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("customer_src")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY VIEW bps_seg_view AS "
        "SELECT c_mktsegment, count(*) AS n FROM customer_src GROUP BY c_mktsegment"
    )
    return spark.sql("SELECT c_mktsegment, n FROM bps_seg_view")


@register(
    "scan_binaryfile",
    oracle="""
    SELECT 'doc_' || doc_id || '.bin' AS fname,
           strlen(text) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 20
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-media source: ``spark.read.format("binaryFile")`` over a
    directory of payload files (the ingestion path for image/audio corpora).

    The fixture has no media files, so 20 document texts are materialized as
    .bin files first; the read-back exposes (path, length, content) exactly
    as it would for real media, and the features are md5/length - SQL-
    derivable from the source table. Scale notes: binaryFile shards by file
    with ``maxPartitionBytes`` respected; payloads go executor-side only
    (``content`` column pruned unless projected).
    """
    path = _scratch("binfiles")
    docs = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", "text")
        .collect()  # driver-ok: 20-row fixture materialization, test setup only
    )
    for r in docs:
        with open(os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    bf = spark.read.format("binaryFile").load(path)
    return bf.select(
        F.element_at(F.split("path", "/"), -1).alias("fname"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register("scan_textfile", oracle="SELECT text AS value FROM documents")
def scan_textfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-line source (``spark.read.text``): the classic line-per-row
    corpus ingestion path. Documents are written as text lines (fixture text
    is newline-free) and read back; content must round-trip exactly."""
    path = _scratch("textlines")
    tbl(spark, sf_dir, "documents").select("text").write.mode("overwrite").text(path)
    return spark.read.text(path)


@register(
    "msck_repair_discovery",
    oracle="""
    SELECT lang, count(*) AS n_docs FROM (
      SELECT lang FROM documents WHERE doc_id < 200
    ) GROUP BY lang
    """,
)
def msck_repair_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition discovery: externally-written partition directories are
    invisible to a freshly-declared partitioned table until MSCK REPAIR
    TABLE (Hive's classic register-what-landed step for external feeds)
    scans the location and registers them.

    Scale notes: repair lists directories, not data files' contents; the
    subsequent per-partition count prunes on the discovered partitions.
    """
    path = _scratch("msck")
    (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "lang")
        .write.partitionBy("lang")
        .mode("overwrite")
        .parquet(path)
    )
    spark.sql("DROP TABLE IF EXISTS bps_msck")
    spark.sql(
        "CREATE TABLE bps_msck (doc_id BIGINT) USING parquet "
        f"PARTITIONED BY (lang STRING) LOCATION '{path}'"
    )
    spark.sql("MSCK REPAIR TABLE bps_msck")
    out = (
        spark.table("bps_msck")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return out


@register(
    "analyze_stats",
    oracle="SELECT count(*) AS n_rows FROM orders",
)
def analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS: collect table-level stats, then
    surface the recorded row count from DESCRIBE EXTENDED (what the
    cost-based optimizer reads for join reordering / broadcast decisions).
    """
    path = _scratch("stats")
    tbl(spark, sf_dir, "orders").write.mode("overwrite").parquet(f"{path}/t")
    spark.sql("DROP TABLE IF EXISTS bps_stats")
    spark.sql(
        f"CREATE TABLE bps_stats USING parquet LOCATION '{path}/t'"
    )
    spark.sql("ANALYZE TABLE bps_stats COMPUTE STATISTICS")
    return (
        spark.sql("DESCRIBE EXTENDED bps_stats")
        .filter(F.col("col_name") == "Statistics")
        .select(
            F.regexp_extract("data_type", r"(\d+) rows", 1)
            .cast("bigint")
            .alias("n_rows")
        )
    )


@register(
    "ddl_lifecycle",
    oracle="""
    SELECT 'a' AS col_name, 'int' AS data_type
    UNION ALL SELECT 'b', 'string'
    UNION ALL SELECT 'c', 'double'
    """,
)
def ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE/ALTER/DESCRIBE/SHOW/DROP lifecycle smoke (dry-run surface).
    The DESCRIBE projection after ADD COLUMNS is deterministic, so the DDL
    side effects are oracle-checked through the resulting schema."""
    path = _scratch("ddl")
    spark.sql("DROP TABLE IF EXISTS bps_ddl")
    spark.sql(
        f"CREATE TABLE bps_ddl (a INT, b STRING) USING parquet LOCATION '{path}/t' "
        "COMMENT 'lifecycle smoke'"
    )
    spark.sql("ALTER TABLE bps_ddl ADD COLUMNS (c DOUBLE)")
    described = spark.sql("DESCRIBE TABLE bps_ddl").select("col_name", "data_type")
    spark.sql("DROP TABLE bps_ddl")
    return described


_MERGE_ORACLE = """
WITH src AS (
  SELECT o_custkey AS m_key,
         cast(sum(cast(o_totalprice as decimal(25,6))) as double) AS delta
  FROM orders GROUP BY o_custkey
  UNION ALL
  SELECT 100000 + o_custkey AS m_key,
         cast(sum(cast(o_totalprice as decimal(25,6))) as double) AS delta
  FROM orders WHERE o_custkey < 20 GROUP BY o_custkey
)
SELECT coalesce(m_key, c_custkey) AS c_custkey,
       coalesce(c_name, 'new-customer') AS c_name,
       round(coalesce(c_acctbal, 0.0) + coalesce(delta, 0.0), 4) AS c_acctbal
FROM customer FULL OUTER JOIN src ON c_custkey = m_key
"""


@register("dml_merge_rewrite", oracle=_MERGE_ORACLE)
def dml_merge_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO as the Spark-native INSERT OVERWRITE rewrite (Hive ACID
    UPDATE/DELETE/MERGE is declared out of scope - SURVEY.md section 7; this
    is the replacement pattern).

    WHEN MATCHED -> update (acctbal += delta), WHEN NOT MATCHED -> insert,
    target-only rows carry over: exactly a full outer join on the merge key,
    then an atomic INSERT OVERWRITE of the target.

    Scale notes: one shuffle on the merge key (or zero if the target is
    bucketed on it - see join_smb_bucketed); the overwrite is a metadata swap
    after the write completes. On a partitioned target, dynamic partition
    overwrite rewrites only touched partitions.
    """
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    # shared scaled-integer exact sum, not the slow wide-decimal accumulator
    dec_sum = _exact_sum(F.col("o_totalprice"), 6).cast("double")
    matched = orders.groupBy(F.col("o_custkey").alias("m_key")).agg(
        dec_sum.alias("delta")
    )
    inserts = (
        orders.filter(F.col("o_custkey") < 20)
        .groupBy((F.lit(100000) + F.col("o_custkey")).alias("m_key"))
        .agg(dec_sum.alias("delta"))
    )
    src = matched.unionAll(inserts)
    merged = (
        cust.join(src, cust.c_custkey == src.m_key, "full_outer")
        .select(
            F.coalesce("m_key", "c_custkey").alias("c_custkey"),
            F.coalesce("c_name", F.lit("new-customer")).alias("c_name"),
            F.round(
                F.coalesce("c_acctbal", F.lit(0.0)) + F.coalesce("delta", F.lit(0.0)),
                4,
            ).alias("c_acctbal"),
        )
    )
    path = _scratch("merge_target")
    merged.write.mode("overwrite").parquet(f"{path}/t")
    return spark.read.parquet(f"{path}/t")


_SCD2_ORACLE = """
WITH src AS (
  SELECT user_id, ts, event_type, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
changes AS (
  SELECT user_id, ts, event_type, event_id FROM src
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       cast(ts as varchar) AS valid_from,
       cast(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) as varchar) AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
FROM changes
"""


@register("dml_scd2_history", oracle=_SCD2_ORACLE)
def dml_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: collapse an event stream into attribute
    validity intervals (valid_from / valid_to / is_current) per key - the
    classic slowly-changing-dimension pattern, Hive-era UPDATE-free.

    Two windows over the SAME (user_id, order by ts) partitioning: the
    change-detection lag and the interval-closing lead reuse one sort/shuffle
    (Catalyst collapses same-spec Window operators). No self-join, no MERGE:
    history derives from the append-only log in one pass - the shape that
    holds when the log is 100 TB and the dimension is billions of keys.
    """
    from pyspark.sql import Window

    e = tbl(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "ts", "event_type", "event_id")
    )
    # Same window spec as the lag: one sort/shuffle serves both passes, and
    # the event_id tie-break keeps interval order total on both engines.
    valid_to = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").cast("string").alias("valid_from"),
        valid_to.cast("string").alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )
