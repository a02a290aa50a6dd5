"""Declared queries: reference scalar-function surface (E29), SAP type
conversions (E15), business-object nesting (E14), and the Avro schema
export (O28/O29 registry document)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s4hanaconnector_spark import functions as H
from s4hanaconnector_spark.mapping import ColumnMapping, Relation, TableMapping
from s4hanaconnector_spark.operators.nesting import (
    materialize_business_object,
    nest,
)
from s4hanaconnector_spark.queries.registry import register, t

# One column per branch of the reference's HANA->Avro switch
# (getDataType, S4HanaTableMapping.java:603-677), plus a ``::``-bearing
# PK name to exercise AvroNameEncoder encoding (S4HanaProducer.java:220).
_TYPE_GALLERY = TableMapping(
    name="typegallery",
    mastertable="typegallery",
    columnmappings=[
        ColumnMapping(a, f'"L1"."{a}"', d)
        for a, d in [
            ("ID", "BIGINT"), ("HEAD::KEY", "NVARCHAR(10)"),
            ("C_TINY", "TINYINT"), ("C_SMALL", "SMALLINT"),
            ("C_INT", "INTEGER"), ("C_DEC", "DECIMAL(15, 2)"),
            ("C_DECBARE", "DECIMAL"), ("C_SDEC", "SMALLDECIMAL"),
            ("C_REAL", "REAL"), ("C_DOUBLE", "DOUBLE"),
            ("C_CHAR", "CHAR(5)"), ("C_VARCHAR", "VARCHAR(100)"),
            ("C_NCHAR", "NCHAR(5)"), ("C_NVARCHAR", "NVARCHAR(200)"),
            ("C_ALPHANUM", "ALPHANUM(12)"), ("C_BINARY", "BINARY(16)"),
            ("C_VARBINARY", "VARBINARY(2000)"), ("C_BLOB", "BLOB"),
            ("C_BINTEXT", "BINTEXT"), ("C_DATE", "DATE"),
            ("C_TIME", "TIME"), ("C_TS", "TIMESTAMP"),
            ("C_SECDATE", "SECONDDATE"), ("C_CLOB", "CLOB"),
            ("C_NCLOB", "NCLOB"), ("C_TEXT", "TEXT"),
            ("C_SHORTTEXT", "SHORTTEXT(300)"), ("C_STPOINT", "ST_POINT"),
            ("C_STGEOM", "ST_GEOMETRY"), ("C_BOOL", "BOOLEAN"),
        ]
    ],
    pkcolumns=["ID", "HEAD::KEY"],
)


@register(
    "scalar_surface",
    """
SELECT o_orderkey,
       right(CAST(o_orderkey AS VARCHAR), 4) AS right4,
       o_orderpriority || '_' || o_orderstatus AS concat_pri,
       o_orderpriority LIKE '%HIGH%' AS is_high,
       ifnull(nullif(o_orderstatus, 'O'), 'X') AS status_or_x,
       least(o_totalprice, 100000.0) AS capped_price,
       o_orderdate + INTERVAL 7 DAY AS plus7d,
       o_orderdate + INTERVAL 3600 SECONDS AS plus1h
FROM orders
""",
)
def scalar_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E29: every scalar function the reference emits in generated SQL
    (SURVEY §2.1 list), mapped onto Spark builtins — all codegen'd, no UDFs."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey"),
        H.right(F.col("o_orderkey").cast("string"), 4).alias("right4"),
        H.concat(F.col("o_orderpriority"), "_", F.col("o_orderstatus")).alias("concat_pri"),
        H.like_escape(F.col("o_orderpriority"), "%HIGH%").alias("is_high"),
        H.ifnull(F.nullif(F.col("o_orderstatus"), F.lit("O")), "X").alias("status_or_x"),
        H.least(F.col("o_totalprice"), F.lit(100000.0)).alias("capped_price"),
        H.add_days(F.col("o_orderdate"), 7).alias("plus7d"),
        H.add_seconds(F.col("o_orderdate"), 3600).alias("plus1h"),
    )


@register(
    "sap_type_casts",
    """
WITH raw AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 19 = 0 THEN '00000000'
                ELSE strftime(o_orderdate, '%Y%m%d') END AS erdat,
           lpad(CAST(o_orderkey % 86400 AS VARCHAR), 6, '0') AS uzeit
    FROM orders
)
SELECT o_orderkey,
       CASE WHEN erdat = '00000000' THEN CAST(NULL AS VARCHAR)
            ELSE strftime(strptime(erdat, '%Y%m%d'), '%Y-%m-%d') END AS erdat_date,
       substr(uzeit, 1, 2) || ':' || substr(uzeit, 3, 2) || ':' || substr(uzeit, 5, 2) AS uzeit_time,
       lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS vbeln_alphanum
FROM raw
""",
)
def sap_type_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15: SAP storage conventions — NVARCHAR(8) 'yyyyMMdd' dates with
    '00000000' initial values -> NULL, NVARCHAR(6) times -> 'HH:mm:ss',
    to_alphanum zero-padding (VBAK.sql:1 patterns, §1.3)."""
    o = t(spark, sf_dir, "orders")
    raw = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 19 == 0, F.lit("00000000"))
        .otherwise(F.date_format("o_orderdate", "yyyyMMdd"))
        .alias("erdat"),
        F.lpad((F.col("o_orderkey") % 86400).cast("string"), 6, "0").alias("uzeit"),
    )
    return raw.select(
        "o_orderkey",
        F.date_format(H.sap_date(F.col("erdat")), "yyyy-MM-dd").alias("erdat_date"),
        H.sap_time(F.col("uzeit")).alias("uzeit_time"),
        H.to_alphanum(F.col("o_orderkey")).alias("vbeln_alphanum"),
    )


@register(
    "nest_orders_items",
    """
SELECT o.o_orderkey,
       o.o_orderstatus,
       count(l.l_orderkey) AS n_items,
       CAST(coalesce(sum(CAST(l.l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS qty_sum
FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderkey, o.o_orderstatus
""",
    headline=True,
)
def nest_orders_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14/O32: business-object nesting — lineitem rows nested under orders
    as an ``items`` array of structs (the SO.Header/SO.Item golden mapping,
    tmp JSON:76-160), then summarized FROM the nested array with
    higher-order functions so the oracle can verify the nesting's content
    without fragile nested-value hashing (exact item-level equality is
    asserted in tests/test_nesting.py)."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    nested = nest(
        o,
        l,
        joincondition=[{"left": "o_orderkey", "right": "l_orderkey"}],
        schemafield="items",
        detail_cols=["l_linenumber", "l_quantity", "l_extendedprice"],
        sort_detail_by=["l_linenumber"],
    )
    return nested.select(
        "o_orderkey",
        "o_orderstatus",
        F.size("items").cast("long").alias("n_items"),
        F.expr(
            "CAST(aggregate(items, CAST(0 AS DECIMAL(18,2)), "
            "(acc, x) -> CAST(acc + CAST(x.l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("qty_sum"),
    )


@register(
    "nest_customer_orders_items",
    """
SELECT c.c_custkey,
       c.c_name,
       count(DISTINCT o.o_orderkey) AS n_orders,
       count(l.l_orderkey) AS n_items,
       CAST(coalesce(sum(CAST(l.l_quantity AS DECIMAL(18,2))), 0) AS DOUBLE) AS qty_sum,
       CAST(coalesce(max(o.o_totalprice), 0) AS DOUBLE) AS max_order_price
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY c.c_custkey, c.c_name
""",
)
def nest_customer_orders_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O32 RECURSIVE nesting: the reference's latent BO model allows
    relations INSIDE detail mappings (nested ``relations`` key, tmp
    JSON:148) — a 2-level document customer -> orders[] -> items[] built by
    walking the mapping tree depth-first (materialize_business_object).
    Every output value is computed FROM the nested arrays with higher-order
    functions (list(struct) WITHIN list(struct) is unhashable across
    engines), so the oracle's flat 3-table rollup verifies both nesting
    levels: n_items/qty_sum are wrong unless each order's items landed
    inside that order's struct, and max_order_price is wrong unless the
    orders landed under the right customer. Struct-level equality of the
    inner arrays is asserted in tests/test_nesting.py. Scale: two
    agg-before-join levels, each one shuffle on its own join key —
    co-bucketing both levels (operators/bucketing.py) makes the whole walk
    shuffle-free."""
    items = TableMapping(
        name="so.item", mastertable="lineitem",
        columnmappings=[
            ColumnMapping("l_linenumber", '"L3"."l_linenumber"'),
            ColumnMapping("l_quantity", '"L3"."l_quantity"'),
        ],
        pkcolumns=["l_orderkey", "l_linenumber"],
    )
    orders = TableMapping(
        name="so.header", mastertable="orders",
        columnmappings=[
            ColumnMapping("o_orderkey", '"L2"."o_orderkey"'),
            ColumnMapping("o_totalprice", '"L2"."o_totalprice"'),
        ],
        pkcolumns=["o_orderkey"],
        relations=[
            Relation(detail=items, schemafield="items",
                     joincondition=[{"left": "o_orderkey", "right": "l_orderkey"}])
        ],
    )
    cust = TableMapping(
        name="so.customer", mastertable="customer",
        columnmappings=[
            ColumnMapping("c_custkey", '"L1"."c_custkey"'),
            ColumnMapping("c_name", '"L1"."c_name"'),
        ],
        pkcolumns=["c_custkey"],
        relations=[
            Relation(detail=orders, schemafield="orders",
                     joincondition=[{"left": "c_custkey", "right": "o_custkey"}])
        ],
    )
    doc = materialize_business_object(cust, lambda n: t(spark, sf_dir, n))
    dec = "CAST(0 AS DECIMAL(18,2))"
    return doc.select(
        "c_custkey",
        "c_name",
        F.size("orders").cast("long").alias("n_orders"),
        F.expr(
            "CAST(aggregate(orders, 0, (acc, o) -> acc + size(o.items)) AS BIGINT)"
        ).alias("n_items"),
        F.expr(
            f"CAST(aggregate(orders, {dec}, (acc, o) -> CAST(acc + "
            f"aggregate(o.items, {dec}, (a2, x) -> CAST(a2 + "
            f"CAST(x.l_quantity AS DECIMAL(18,2)) AS DECIMAL(18,2)))"
            " AS DECIMAL(18,2))) AS DOUBLE)"
        ).alias("qty_sum"),
        F.expr(
            "CAST(coalesce(array_max(transform(orders, o -> "
            "CAST(o.o_totalprice AS DOUBLE))), 0.0) AS DOUBLE)"
        ).alias("max_order_price"),
    )


@register(
    "sap_type_edges",
    """
SELECT o_orderkey,
       CAST(o_orderkey % 256 AS SMALLINT) AS tiny,
       lpad(CAST((o_orderkey % 86400) // 3600 AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST(((o_orderkey % 86400) % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST((o_orderkey % 86400) % 60 AS VARCHAR), 2, '0') AS time_s,
       strftime(date_trunc('second',
            make_timestamp(epoch_us(o_orderdate) + (o_orderkey % 86400) * 1000000
                           + (o_orderkey % 997) * 1003)),
            '%Y-%m-%d %H:%M:%S') AS seconddate_s,
       CAST(CAST(o_totalprice AS DECIMAL(38,10)) AS VARCHAR) AS dec38_s,
       CAST(CAST(o_totalprice AS DECIMAL(27,10))
            + CAST('0.0000000001' AS DECIMAL(27,10)) AS VARCHAR) AS dec_eps_s
FROM orders
""",
)
def sap_type_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HANA type-map EDGES as oracle-gated values, not
    just unit-tested declarations (S4HanaTableMapping.java:619-667):

      * TINYINT is UNSIGNED 0..255 (:619): mapped to SMALLINT/short, the
        0 and 255 boundaries round-trip as themselves (a signed-byte
        mapping would wrap 255 to -1 and fail the hash);
      * TIME -> 'HH:mm:ss' string encoding (types.py documented choice —
        Spark has no TimeType);
      * SECONDDATE truncates to SECOND precision (AvroTimestamp, :667):
        a synthetic timestamp with a live microsecond component must drop
        exactly the sub-second part on both engines;
      * DECIMAL(38,10) round-trips through the string form with full
        scale, and epsilon ARITHMETIC at the last decimal place survives
        at DECIMAL(27,10) (38,10 addition would force Spark's
        overflow-scale-reduction to (38,9) and silently drop the epsilon —
        the declared surface pins the widest scale-preserving width)."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    s = k % 86400
    return o.select(
        "o_orderkey",
        (k % 256).cast("short").alias("tiny"),
        F.concat(
            F.lpad(F.floor(s / 3600).cast("string"), 2, "0"), F.lit(":"),
            F.lpad(F.floor((s % 3600) / 60).cast("string"), 2, "0"), F.lit(":"),
            F.lpad((s % 60).cast("string"), 2, "0"),
        ).alias("time_s"),
        F.date_format(
            F.date_trunc(
                "second",
                F.timestamp_micros(
                    F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                    + s * 1000000 + (k % 997) * 1003
                ),
            ),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("seconddate_s"),
        F.col("o_totalprice").cast("decimal(38,10)").cast("string").alias("dec38_s"),
        (
            F.col("o_totalprice").cast("decimal(27,10)")
            + F.lit("0.0000000001").cast("decimal(27,10)")
        ).cast("string").alias("dec_eps_s"),
    )


@register(
    "avro_schema_export",
    """
SELECT * FROM (VALUES
 (CAST(1 AS BIGINT), 'ID', 'long', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), true, CAST(1 AS BIGINT), 'BIGINT'),
 (2, 'HEAD_x003a_x003aKEY', 'string', NULL, NULL, NULL, 10, true, 2, 'NVARCHAR(10)'),
 (3, 'C_TINY', 'int', NULL, NULL, NULL, NULL, false, NULL, 'TINYINT'),
 (4, 'C_SMALL', 'int', NULL, NULL, NULL, NULL, false, NULL, 'SMALLINT'),
 (5, 'C_INT', 'int', NULL, NULL, NULL, NULL, false, NULL, 'INTEGER'),
 (6, 'C_DEC', 'bytes', 'decimal', 15, 2, NULL, false, NULL, 'DECIMAL(15, 2)'),
 (7, 'C_DECBARE', 'bytes', 'decimal', 38, 10, NULL, false, NULL, 'DECIMAL'),
 (8, 'C_SDEC', 'bytes', 'decimal', 16, 0, NULL, false, NULL, 'SMALLDECIMAL'),
 (9, 'C_REAL', 'float', NULL, NULL, NULL, NULL, false, NULL, 'REAL'),
 (10, 'C_DOUBLE', 'double', NULL, NULL, NULL, NULL, false, NULL, 'DOUBLE'),
 (11, 'C_CHAR', 'string', NULL, NULL, NULL, 5, false, NULL, 'CHAR(5)'),
 (12, 'C_VARCHAR', 'string', NULL, NULL, NULL, 100, false, NULL, 'VARCHAR(100)'),
 (13, 'C_NCHAR', 'string', NULL, NULL, NULL, 5, false, NULL, 'NCHAR(5)'),
 (14, 'C_NVARCHAR', 'string', NULL, NULL, NULL, 200, false, NULL, 'NVARCHAR(200)'),
 (15, 'C_ALPHANUM', 'string', NULL, NULL, NULL, 12, false, NULL, 'ALPHANUM(12)'),
 (16, 'C_BINARY', 'bytes', NULL, NULL, NULL, NULL, false, NULL, 'BINARY(16)'),
 (17, 'C_VARBINARY', 'bytes', NULL, NULL, NULL, NULL, false, NULL, 'VARBINARY(2000)'),
 (18, 'C_BLOB', 'bytes', NULL, NULL, NULL, NULL, false, NULL, 'BLOB'),
 (19, 'C_BINTEXT', 'bytes', NULL, NULL, NULL, NULL, false, NULL, 'BINTEXT'),
 (20, 'C_DATE', 'int', 'date', NULL, NULL, NULL, false, NULL, 'DATE'),
 (21, 'C_TIME', 'int', 'time-millis', NULL, NULL, NULL, false, NULL, 'TIME'),
 (22, 'C_TS', 'long', 'timestamp-micros', NULL, NULL, NULL, false, NULL, 'TIMESTAMP'),
 (23, 'C_SECDATE', 'long', 'timestamp-millis', NULL, NULL, NULL, false, NULL, 'SECONDDATE'),
 (24, 'C_CLOB', 'string', NULL, NULL, NULL, NULL, false, NULL, 'CLOB'),
 (25, 'C_NCLOB', 'string', NULL, NULL, NULL, NULL, false, NULL, 'NCLOB'),
 (26, 'C_TEXT', 'string', NULL, NULL, NULL, NULL, false, NULL, 'TEXT'),
 (27, 'C_SHORTTEXT', 'string', NULL, NULL, NULL, NULL, false, NULL, 'SHORTTEXT(300)'),
 (28, 'C_STPOINT', 'string', NULL, NULL, NULL, NULL, false, NULL, 'ST_POINT'),
 (29, 'C_STGEOM', 'string', NULL, NULL, NULL, NULL, false, NULL, 'ST_GEOMETRY'),
 (30, 'C_BOOL', 'boolean', NULL, NULL, NULL, NULL, false, NULL, 'BOOLEAN')
) AS t(field_pos, field_name, avro_type, logical_type, "precision", scale, max_length, is_pk, pk_position, hanadatatype)
""",
)
def avro_schema_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O28/O29 registry document: the Avro schema the engine would publish
    for a mapping covering EVERY branch of the reference's HANA->Avro type
    switch (getDataType, S4HanaTableMapping.java:603-677), flattened to one
    row per field. The oracle is the hand-derived expectation transcribed
    from the reference source, so the gate is a line-by-line parity check
    of nullable-union types, decimal/date/time/timestamp logical types,
    bounded-string lengths, PK flags+positions (setPrimaryKey, :583-585)
    and ``_xHHHH`` name encoding. The full JSON document (nullable unions
    and all) is golden-tested in tests/test_avro_schema.py."""
    from s4hanaconnector_spark.avro_schema import schema_rows

    return spark.createDataFrame(
        schema_rows(_TYPE_GALLERY),
        schema=(
            "field_pos bigint, field_name string, avro_type string,"
            " logical_type string, precision bigint, scale bigint,"
            " max_length bigint, is_pk boolean, pk_position bigint,"
            " hanadatatype string"
        ),
    )


# ---------------------------------------------------------------------------
# O1/O3 — catalog scans over synthetic ABAP-dictionary tables
# ---------------------------------------------------------------------------

_DD_CTES = """
dd02l AS (
    SELECT upper(n_name) AS tabname,
           CASE WHEN n_nationkey % 5 = 0 THEN 'VIEW' ELSE 'TRANSP' END AS tabclass
    FROM nation
),
dd02t AS (
    SELECT upper(n_name) AS tabname,
           'Table of ' || n_name AS ddtext,
           CASE WHEN n_nationkey % 2 = 0 THEN 'E' ELSE 'D' END AS ddlanguage
    FROM nation
)
"""


def _dd_tables(spark: SparkSession, sf_dir: str):
    """Synthetic DD02L/DD02T derived arithmetically from nation — identical
    in both engines, so the catalog scan itself is oracle-checkable."""
    n = t(spark, sf_dir, "nation")
    dd02l = n.select(
        F.upper("n_name").alias("tabname"),
        F.when(F.col("n_nationkey") % 5 == 0, "VIEW").otherwise("TRANSP").alias("tabclass"),
    )
    dd02t = n.select(
        F.upper("n_name").alias("tabname"),
        F.concat(F.lit("Table of "), F.col("n_name")).alias("ddtext"),
        F.when(F.col("n_nationkey") % 2 == 0, "E").otherwise("D").alias("ddlanguage"),
    )
    return dd02l, dd02t


@register(
    "catalog_list_tables",
    f"""
WITH {_DD_CTES.strip()}
SELECT l.tabname, t.ddtext
FROM dd02l l LEFT OUTER JOIN dd02t t
  ON l.tabname = t.tabname AND t.ddlanguage = 'E'
WHERE l.tabclass = 'TRANSP'
ORDER BY 1
""",
)
def catalog_list_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 (S4HanaBrowse.java:85-102): transparent tables with English
    descriptions — the source-table browser, over synthetic DD02L/DD02T."""
    from s4hanaconnector_spark.catalog import list_source_tables

    dd02l, dd02t = _dd_tables(spark, sf_dir)
    return list_source_tables(dd02l, dd02t)


@register(
    "catalog_pk_fallback",
    """
WITH dd03l AS (
    SELECT 'ACDOCA' AS tabname,
           'F' || CAST(n_nationkey AS VARCHAR) AS fieldname,
           CASE WHEN n_nationkey < 4 THEN 'X' ELSE '' END AS keyflag,
           CASE WHEN n_nationkey % 7 = 0 THEN 'A' ELSE 'N' END AS as4local,
           n_nationkey AS position
    FROM nation
)
SELECT fieldname FROM dd03l
WHERE keyflag = 'X' AND as4local = 'A' AND tabname = 'ACDOCA'
ORDER BY position
""",
)
def catalog_pk_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 (S4HanaTableMapping.java:308-321): ABAP-dictionary PK fallback for
    tables without DB-level PK constraints (the ACDOCA case the reference
    comments on)."""
    from s4hanaconnector_spark.catalog import primary_keys_from_dictionary

    n = t(spark, sf_dir, "nation")
    dd03l = n.select(
        F.lit("ACDOCA").alias("tabname"),
        F.concat(F.lit("F"), F.col("n_nationkey").cast("string")).alias("fieldname"),
        F.when(F.col("n_nationkey") < 4, "X").otherwise("").alias("keyflag"),
        F.when(F.col("n_nationkey") % 7 == 0, "A").otherwise("N").alias("as4local"),
        F.col("n_nationkey").alias("position"),
    )
    return primary_keys_from_dictionary(dd03l, "ACDOCA")


@register(
    "catalog_table_exists",
    """
SELECT 'nation' AS tab, TRUE AS tab_exists
UNION ALL SELECT 'orders', TRUE
UNION ALL SELECT 'zz_nonexistent', FALSE
ORDER BY 1
""",
)
def catalog_table_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 under the oracle gate (S4HanaTableMapping.java:491-505): the
    existence probe the reference runs before creating triggers — one
    metadata lookup per candidate name, here against the session catalog
    after registering the fixture views. Driver-side by nature (the
    reference's probe is a 1-row SELECT): bounded by the probe list, never
    data-sized."""
    from s4hanaconnector_spark.catalog import register_views, table_exists

    register_views(spark, sf_dir, ["nation", "orders"])
    probes = ["nation", "orders", "zz_nonexistent"]
    rows = [(p, table_exists(spark, p)) for p in probes]
    return spark.createDataFrame(rows, "tab string, tab_exists boolean").orderBy(
        "tab"
    )


@register(
    "cdc_txn_latency_alert",
    """
WITH txns AS (SELECT o_orderkey % 180 AS age_s FROM orders),
c AS (
    SELECT CASE WHEN age_s > 60 THEN 'warn'
                WHEN age_s > 5 THEN 'info'
                ELSE 'ok' END AS level
    FROM txns
)
SELECT level, count(*) AS n FROM c GROUP BY level
""",
)
def cdc_txn_latency_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O22 under the oracle gate (S4HanaProducer.java:339-358): the open-
    transaction age classification that drives the replication-latency
    alerts — info above 5 s, warn above 60 s, STRICT inequalities at both
    thresholds. A synthetic in-flight population (ages 0..179 s from the
    orders keys) is classified engine-side with the SAME constants the
    Python classifier uses, and the classifier itself is pinned to the
    engine CASE on the exact boundary values (5/60 s classify below, just
    above classifies up) before the query returns — the alert path and the
    declared surface cannot drift apart."""
    import datetime as _dt

    from s4hanaconnector_spark.operators.cdc import (
        TXN_LATENCY_INFO_SECONDS,
        TXN_LATENCY_WARN_SECONDS,
        classify_txn_latency,
    )

    base = _dt.datetime(2026, 1, 1, 12, 0, 0)
    for secs, expect in [(5.0, "ok"), (5.1, "info"), (60.0, "info"), (60.1, "warn")]:
        got = classify_txn_latency(base, base + _dt.timedelta(seconds=secs))
        if got != expect:
            raise AssertionError(
                f"classify_txn_latency({secs}s) = {got!r}, expected {expect!r}"
            )
    o = t(spark, sf_dir, "orders")
    age = (F.col("o_orderkey") % 180).cast("double")
    level = (
        F.when(age > TXN_LATENCY_WARN_SECONDS, "warn")
        .when(age > TXN_LATENCY_INFO_SECONDS, "info")
        .otherwise("ok")
    )
    return o.select(level.alias("level")).groupBy("level").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "unpivot_order_metrics",
    """
SELECT metric, count(*) AS n, min(v) AS v_min, max(v) AS v_max
FROM (
    SELECT 'o_custkey' AS metric, CAST(o_custkey AS DOUBLE) AS v FROM orders
    UNION ALL
    SELECT 'o_totalprice', o_totalprice FROM orders
)
GROUP BY metric
""",
)
def unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshaping via the native ``DataFrame.unpivot`` (melt):
    two numeric columns become (metric, value) rows — Spark plans this as
    an Expand (each input row emits one row per metric, no shuffle, no
    self-union scan), then one aggregation profiles each metric. min/max
    of doubles are order-insensitive, so the whole output is exact."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").cast("double").alias("o_custkey"),
        "o_totalprice",
    )
    long = o.unpivot(
        ids=["o_orderkey"],
        values=["o_custkey", "o_totalprice"],
        variableColumnName="metric",
        valueColumnName="v",
    )
    return long.groupBy("metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    )


@register(
    "json_extract_events",
    """
WITH payload AS (
    SELECT '{"user": ' || user_id || ', "type": "' || event_type
           || '", "id": ' || event_id || '}' AS j
    FROM events
)
SELECT json_extract_string(j, '$.type') AS event_type,
       count(*) AS n,
       count(DISTINCT CAST(json_extract(j, '$.user') AS BIGINT)) AS n_users,
       max(CAST(json_extract(j, '$.id') AS BIGINT)) AS max_id
FROM payload
GROUP BY 1
""",
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion surface: events are re-serialized to JSON
    text (identical string arithmetic in both engines — integer and string
    fields only, so no float-formatting divergence), then every downstream
    value is recovered by JSON-path extraction (``get_json_object`` /
    ``json_extract``) and aggregated. The parse runs row-local inside
    codegen; only the |event-types| aggregate shuffles."""
    ev = t(spark, sf_dir, "events")
    j = F.concat(
        F.lit('{"user": '),
        F.col("user_id").cast("string"),
        F.lit(', "type": "'),
        F.col("event_type"),
        F.lit('", "id": '),
        F.col("event_id").cast("string"),
        F.lit("}"),
    )
    payload = ev.select(j.alias("j"))
    return (
        payload.select(
            F.get_json_object("j", "$.type").alias("event_type"),
            F.get_json_object("j", "$.user").cast("bigint").alias("u"),
            F.get_json_object("j", "$.id").cast("bigint").alias("id"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("u").alias("n_users"),
            F.max("id").alias("max_id"),
        )
    )
