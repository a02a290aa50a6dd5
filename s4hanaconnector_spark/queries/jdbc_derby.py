"""Declared queries: the JDBC source leg EXECUTED against embedded Derby
(INTEGRATION.md §1 steps 1/3/4 — the in-sandbox stand-in for a live HANA).

What the reference does on a real wire (all file:line into /root/reference):
  * bounds probe + partitioned parallel load: S4HanaProducer.java:510-532,
    fixed 10-connection pool :536, one connection per task :600;
  * generated quoted SQL with projection/filter pushdown:
    S4HanaTableMapping.java:740-761;
  * per-JDBC-type value conversion: S4HanaProducer.java:216-315.

Each query here stages fixture data into an embedded-Derby database via
Spark's JDBC writer (typed batch INSERTs — a real wire protocol), then reads
it back through ``JdbcSourceConfig`` exactly as a HANA initial load would
run, and is hash-compared against the DuckDB oracle on the original parquet.
Parity therefore proves the full write→DDL→INSERT→probe→partitioned-read
pipeline preserves values, not just that the options dict looks right.

Derby-vs-HANA deltas found by EXECUTION (documented, bridged, and pinned by
tests — none were visible to the option-level unit tests):
  * aliases must start with a letter (``AS __bounds`` → ERROR 42X01);
  * unquoted identifiers fold to uppercase → hand-written SQL quotes them;
  * Derby DECIMAL caps at precision 31 → DECIMAL(38,10) crosses as VARCHAR
    and is cast back on read;
  * Spark's Derby dialect advertises StringType as CLOB, so the writer
    calls ``setNull(Types.CLOB)`` for NULL strings — Derby rejects that
    against a VARCHAR column (ERROR 22005; non-null setString is fine both
    ways, pinned by tests/test_jdbc_derby.py's matrix test). Faithful
    VARCHAR/CHAR DDL therefore pairs with non-null string values here, and
    the gallery exercises NULLs on every non-string type instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s4hanaconnector_spark.queries.registry import register, scratch_root, t
from s4hanaconnector_spark.sources.derby import DRIVER, qident, stage_table
from s4hanaconnector_spark.sources.jdbc import (
    JdbcSourceConfig,
    prepare_pushdown_query,
)
from s4hanaconnector_spark.types import hana_to_spark

_ORDERS_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]

# faithful widths for the two (non-null) string columns; Spark's default DDL
# for StringType on Derby is CLOB, which a real schema would never declare
# for 1/15-char codes
_ORDERS_DDL = "o_orderstatus VARCHAR(1), o_orderpriority VARCHAR(15)"


def _staged_orders_url(spark: SparkSession, sf_dir: str) -> str:
    orders = t(spark, sf_dir, "orders").select(*_ORDERS_COLS)
    return stage_table(spark, sf_dir, "ORDERS", orders, create_types=_ORDERS_DDL)


def _cfg(url: str, table: str = "ORDERS", **kw) -> JdbcSourceConfig:
    props = {"driver": DRIVER, "preferTimestampNTZ": "true"}
    return JdbcSourceConfig(url=url, table=table, properties=props, **kw)


_ORDERS_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
"""


@register("source_jdbc_roundtrip", _ORDERS_ORACLE)
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17/O18 executed: live bounds probe + 10-way range-partitioned JDBC
    read (the reference's pool size, S4HanaProducer.java:536) over embedded
    Derby. One connection per partition task; Spark stripes
    ``o_orderkey BETWEEN lo..hi`` into 10 WHERE clauses exactly as the
    reference stripes partitions across its executor pool."""
    url = _staged_orders_url(spark, sf_dir)
    cfg = _cfg(url, partition_column="o_orderkey", num_partitions=10)
    cfg = cfg.with_discovered_bounds(spark)  # executes the min/max probe
    return cfg.load(spark).select(*_ORDERS_COLS)


@register(
    "source_jdbc_predicates",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 4 <> 3
""",
)
def source_jdbc_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-list partitioning executed: one connection per explicit
    WHERE clause (the analogue of the reference's PARTITION(n) clauses,
    S4HanaTableMapping.java:751-755). The predicate list selects exactly the
    UNION of its predicates — proven here by reading 3 of 4 mod-classes and
    hash-matching the oracle's ``% 4 <> 3`` filter."""
    url = _staged_orders_url(spark, sf_dir)
    k = qident("o_orderkey")
    cfg = _cfg(url, predicates=[f"MOD({k}, 4) = {i}" for i in range(3)])
    return cfg.load(spark).select(*_ORDERS_COLS)


@register(
    "source_jdbc_pushdown",
    """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 150000.0
""",
)
def source_jdbc_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection+filter pushdown executed server-side: the generated
    subquery shape of S4HanaTableMapping.java:740-761 runs inside Derby, so
    only 2 columns and the filtered rows ever cross the wire."""
    url = _staged_orders_url(spark, sf_dir)
    sub = prepare_pushdown_query(
        "ORDERS",
        [qident("o_orderkey"), qident("o_totalprice")],
        f'{qident("o_totalprice")} > 150000.0',
    )
    return _cfg(url, table=sub).load(spark).select("o_orderkey", "o_totalprice")


# ---------------------------------------------------------------------------
# Type gallery over the wire (INTEGRATION.md §1 step 4): one column per branch
# of the reference's HANA→Avro type switch (S4HanaTableMapping.java:603-677),
# staged into Derby with explicit DDL and read back through the real driver.
# ---------------------------------------------------------------------------

_K = "o_orderkey"
_NULL_EVERY = 68  # every 4th selected key carries NULLs in non-string columns


def _n(expr: str) -> str:
    """NULL-bearing variant (non-string columns only — see module docstring
    for why Derby cannot take a NULL through Spark's CLOB-typed setNull)."""
    return f"CASE WHEN {_K} % {_NULL_EVERY} = 0 THEN NULL ELSE ({expr}) END"


# (column, HANA decl, Spark SQL expression over orders)
_GALLERY_SPARK: list[tuple[str, str, str]] = [
    ("ID", "BIGINT", _K),
    ("HEAD::KEY", "NVARCHAR(10)", f"lpad(cast({_K} as string), 10, '0')"),
    ("C_TINY", "TINYINT", _n(f"cast({_K} % 256 as smallint)")),
    ("C_SMALL", "SMALLINT", _n(f"cast({_K} % 30000 - 15000 as smallint)")),
    ("C_INT", "INTEGER", _n(f"cast({_K} * 7919 % 2000000 - 1000000 as int)")),
    ("C_DEC", "DECIMAL(15, 2)",
     _n(f"cast({_K} as decimal(13,0)) + cast('0.25' as decimal(15,2))")),
    ("C_DECBARE", "DECIMAL",
     f"cast(cast({_K} as decimal(28,10)) + cast('0.1234567891' as decimal(28,10))"
     " as decimal(38,10))"),
    ("C_SDEC", "SMALLDECIMAL", _n(f"cast({_K} as decimal(16,0))")),
    ("C_REAL", "REAL", _n(f"cast(({_K} % 1024) / 4.0 as float)")),
    ("C_DOUBLE", "DOUBLE", _n(f"cast({_K} as double) / 8.0")),
    ("C_CHAR", "CHAR(5)", f"lpad(cast({_K} % 100000 as string), 5, '0')"),
    ("C_VARCHAR", "VARCHAR(100)", f"concat('order-', cast({_K} as string))"),
    ("C_NCHAR", "NCHAR(5)", f"lpad(cast({_K} % 100000 as string), 5, '9')"),
    ("C_NVARCHAR", "NVARCHAR(200)",
     f"concat('\\u00e4ren-\\u20ac-', cast({_K} as string))"),
    ("C_ALPHANUM", "ALPHANUM(12)", f"lpad(cast({_K} as string), 12, '0')"),
    ("C_BINARY", "BINARY(16)", _n(f"unhex(md5(cast({_K} as string)))")),
    ("C_VARBINARY", "VARBINARY(2000)",
     _n(f"encode(concat('payload-', cast({_K} as string)), 'UTF-8')")),
    ("C_BLOB", "BLOB", _n(f"encode(repeat('ab', cast({_K} % 7 as int) + 1), 'UTF-8')")),
    ("C_BINTEXT", "BINTEXT",
     _n(f"encode(concat('t\\u00e4xt-', cast({_K} as string)), 'UTF-8')")),
    ("C_DATE", "DATE", _n(f"date_add(DATE'1992-01-01', cast({_K} % 2000 as int))")),
    ("C_TIME", "TIME",
     f"concat(lpad(cast(({_K} % 86400) div 3600 as string),2,'0'),':',"
     f"lpad(cast(({_K} % 3600) div 60 as string),2,'0'),':',"
     f"lpad(cast({_K} % 60 as string),2,'0'))"),
    ("C_TS", "TIMESTAMP",
     _n(f"TIMESTAMP_NTZ'1995-03-04 05:06:07'"
        f" + make_dt_interval(0,0,0,cast({_K} % 100000 as int))")),
    ("C_SECDATE", "SECONDDATE",
     _n(f"TIMESTAMP_NTZ'2001-01-01 00:00:00'"
        f" + make_dt_interval(0,0,0,cast({_K} % 100000 as int))")),
    ("C_CLOB", "CLOB",
     f"concat(repeat('lorem ', cast({_K} % 5 as int) + 1), cast({_K} as string))"),
    ("C_NCLOB", "NCLOB",
     f"concat(repeat('l\\u00f8re ', cast({_K} % 5 as int) + 1), cast({_K} as string))"),
    ("C_TEXT", "TEXT", f"concat('text-', cast({_K} as string))"),
    ("C_SHORTTEXT", "SHORTTEXT(300)", f"concat('st-', cast({_K} as string))"),
    ("C_STPOINT", "ST_POINT",
     f"concat('POINT (', cast({_K} % 100 as string), ' ', cast({_K} % 7 as string), ')')"),
    ("C_STGEOM", "ST_GEOMETRY",
     f"concat('LINESTRING (0 0, ', cast({_K} % 9 as string), ' 1)')"),
    ("C_BOOL", "BOOLEAN", _n(f"{_K} % 3 = 0")),
]

# explicit Derby DDL for every string-typed column (CLOB default is
# unwritable through Spark's writer, see module docstring) + the
# DECIMAL-precision bridge for the >31-precision column
_GALLERY_DDL = ", ".join(
    [
        "`HEAD::KEY` VARCHAR(10)",
        "C_DECBARE VARCHAR(44)",
        "C_CHAR CHAR(5)",
        "C_VARCHAR VARCHAR(100)",
        "C_NCHAR CHAR(5)",
        "C_NVARCHAR VARCHAR(200)",
        "C_ALPHANUM VARCHAR(12)",
        "C_TIME VARCHAR(8)",
        "C_CLOB VARCHAR(100)",
        "C_NCLOB VARCHAR(100)",
        "C_TEXT VARCHAR(40)",
        "C_SHORTTEXT VARCHAR(300)",
        "C_STPOINT VARCHAR(50)",
        "C_STGEOM VARCHAR(60)",
    ]
)


def build_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic type-gallery frame derived from orders keys (one row per
    ``o_orderkey % 17 = 0``)."""
    o = t(spark, sf_dir, "orders").filter(f"{_K} % 17 = 0")
    return o.select([F.expr(e).alias(a) for a, _, e in _GALLERY_SPARK])


def stage_gallery(spark: SparkSession, sf_dir: str) -> str:
    """Stage the gallery into Derby; the >31-precision DECIMAL crosses the
    wire as VARCHAR (Derby cap) and is cast back on read."""
    g = build_gallery(spark, sf_dir).withColumn(
        "C_DECBARE", F.col("C_DECBARE").cast("string")
    )
    return stage_table(spark, sf_dir, "TYPEGALLERY", g, create_types=_GALLERY_DDL)


def read_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the staged gallery back through the real JDBC driver and apply
    the HANA→Spark type map (types.py) to the driver-reported columns — the
    runtime half of INTEGRATION.md §1 step 4 (until now the map was only
    ever applied to declared decls, never to wire metadata)."""
    url = stage_gallery(spark, sf_dir)
    raw = _cfg(url, table="TYPEGALLERY").load(spark)

    def target(decl: str):
        mapped = hana_to_spark(decl)
        # repo-wide convention: wall-clock timestamps stay TIMESTAMP_NTZ
        # (parquet fixtures and the DuckDB oracle are both tz-naive); the
        # wire read already returned NTZ via preferTimestampNTZ
        if mapped.simpleString() == "timestamp":
            return "timestamp_ntz"
        return mapped

    return raw.select(
        [F.col(a).cast(target(decl)).alias(a) for a, decl, _ in _GALLERY_SPARK]
    )


def _null_case(expr: str) -> str:
    return f"CASE WHEN k % {_NULL_EVERY} = 0 THEN NULL ELSE ({expr}) END"


def _gallery_oracle() -> str:
    body = {
        "ID": "k",
        "HEAD::KEY": "lpad(CAST(k AS VARCHAR), 10, '0')",
        "C_TINY": _null_case("k % 256"),
        "C_SMALL": _null_case("k % 30000 - 15000"),
        "C_INT": _null_case("k * 7919 % 2000000 - 1000000"),
        "C_DEC": _null_case(
            "CAST(CAST(k AS DECIMAL(13,0)) + CAST('0.25' AS DECIMAL(15,2)) AS DOUBLE)"
        ),
        "C_DECBARE": (
            "CAST(CAST(CAST(k AS DECIMAL(28,10)) + CAST('0.1234567891' AS "
            "DECIMAL(28,10)) AS DECIMAL(38,10)) AS VARCHAR)"
        ),
        "C_SDEC": _null_case("CAST(CAST(k AS DECIMAL(16,0)) AS DOUBLE)"),
        "C_REAL": _null_case("CAST((k % 1024) / 4.0 AS REAL)"),
        "C_DOUBLE": _null_case("CAST(k AS DOUBLE) / 8.0"),
        "C_CHAR": "lpad(CAST(k % 100000 AS VARCHAR), 5, '0')",
        "C_VARCHAR": "'order-' || CAST(k AS VARCHAR)",
        "C_NCHAR": "lpad(CAST(k % 100000 AS VARCHAR), 5, '9')",
        "C_NVARCHAR": "'ären-€-' || CAST(k AS VARCHAR)",
        "C_ALPHANUM": "lpad(CAST(k AS VARCHAR), 12, '0')",
        # binary columns cross the wire as bytes but are DECLARED as hex
        # strings: the external driver's pandas canonicalizer cannot sort or
        # hash bytearray cells (r8 CORRECTNESS err) — upper(hex(...)) on both
        # sides preserves byte-level parity and is hashable everywhere
        "C_BINARY": _null_case("upper(md5(CAST(k AS VARCHAR)))"),
        "C_VARBINARY": _null_case(
            "upper(hex(encode('payload-' || CAST(k AS VARCHAR))))"
        ),
        "C_BLOB": _null_case(
            "upper(hex(encode(repeat('ab', CAST(k % 7 AS INTEGER) + 1))))"
        ),
        "C_BINTEXT": _null_case("upper(hex(encode('täxt-' || CAST(k AS VARCHAR))))"),
        "C_DATE": _null_case(
            "strftime(DATE '1992-01-01' + CAST(k % 2000 AS INTEGER), '%Y-%m-%d')"
        ),
        "C_TIME": (
            "lpad(CAST((k % 86400) // 3600 AS VARCHAR),2,'0') || ':' || "
            "lpad(CAST((k % 3600) // 60 AS VARCHAR),2,'0') || ':' || "
            "lpad(CAST(k % 60 AS VARCHAR),2,'0')"
        ),
        "C_TS": _null_case(
            "TIMESTAMP '1995-03-04 05:06:07' + INTERVAL (k % 100000) SECOND"
        ),
        "C_SECDATE": _null_case(
            "TIMESTAMP '2001-01-01 00:00:00' + INTERVAL (k % 100000) SECOND"
        ),
        "C_CLOB": "repeat('lorem ', CAST(k % 5 AS INTEGER) + 1) || CAST(k AS VARCHAR)",
        "C_NCLOB": "repeat('løre ', CAST(k % 5 AS INTEGER) + 1) || CAST(k AS VARCHAR)",
        "C_TEXT": "'text-' || CAST(k AS VARCHAR)",
        "C_SHORTTEXT": "'st-' || CAST(k AS VARCHAR)",
        "C_STPOINT": "'POINT (' || CAST(k % 100 AS VARCHAR) || ' ' || CAST(k % 7 AS VARCHAR) || ')'",
        "C_STGEOM": "'LINESTRING (0 0, ' || CAST(k % 9 AS VARCHAR) || ' 1)'",
        "C_BOOL": _null_case("k % 3 = 0"),
    }
    cols = ",\n  ".join(f'{e} AS "{a}"' for a, e in body.items())
    return (
        f"WITH src AS (SELECT {_K} AS k FROM orders WHERE {_K} % 17 = 0)\n"
        f"SELECT\n  {cols}\nFROM src"
    )


# ---------------------------------------------------------------------------
# The poll lifecycle over a REAL JDBC wire: the reference's actual operating
# mode is "poll PKLOG + source table over a database connection"
# (S4HanaProducer.java:391-469); until this query, poll() had only ever read
# parquet-backed feeds. Everything the poll touches — PKLOG, the in-flight
# transaction view, and the partitioned source-table read — comes back
# through the embedded-Derby driver here.
# ---------------------------------------------------------------------------


# faithful widths for PKLOG's comparison-bearing string columns (the
# reference declares nvarchar(256) PK slots, S4HanaProducer.java:104-109);
# pk2..pk6 deliberately OMITTED -> CLOB default (all-NULL here, and NULL
# strings only cross the wire into CLOB — see the gallery module docstring)
_PKLOG_DDL = (
    "schema_name VARCHAR(30), change_type VARCHAR(1), "
    "pk1 VARCHAR(256), table_name VARCHAR(128)"
)


def _poll_oracle() -> str:
    # identical contract to cdc_poll_roundtrip: the wire is the variable
    # under test, not the delta semantics — reuse its registered oracle
    from s4hanaconnector_spark.queries import cdc as _cdc  # noqa: F401  (forces registration)
    from s4hanaconnector_spark.queries.registry import REGISTRY

    return REGISTRY["cdc_poll_roundtrip"].oracle


@register("cdc_poll_jdbc_wire", _poll_oracle())
def cdc_poll_jdbc_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O24 executed over a real JDBC wire (INTEGRATION.md §1): one FULL
    poll() — watermark over a Derby-read transaction view, impacted-table
    fan-out over a Derby-read PKLOG, the broadcast delta against a 10-way
    range-partitioned Derby read of the source table, and the exactly-once
    RangeCommitSink — then the committed range is read back and
    hash-compared against the same reference delta SQL that gates the
    parquet-fed cdc_poll_roundtrip.

    PKLOG DDL splits the string columns two ways (both execution findings):
    the comparison-bearing ones (schema_name/change_type/pk1/table_name —
    Spark pushes their equality filters into Derby, and Derby cannot compare
    CLOB with a literal, ERROR 42818) get faithful VARCHAR widths mirroring
    the reference's nvarchar(256) PKLOG (S4HanaProducer.java:104-109); the
    all-NULL pk2..pk6 ride the CLOB default, because setNull(Types.CLOB) is
    rejected against VARCHAR (module docstring) and IS NULL on CLOB is
    fine."""
    import os
    import tempfile

    from s4hanaconnector_spark.poll import RangeCommitSink, poll
    from s4hanaconnector_spark.queries.cdc import ORDERS_MAPPING
    from s4hanaconnector_spark.sources.pklog import (
        synthetic_pklog,
        synthetic_transactions,
    )

    orders = t(spark, sf_dir, "orders")
    orders_url = _staged_orders_url(spark, sf_dir)
    pklog_url = stage_table(
        spark, sf_dir, "PKLOG", synthetic_pklog(orders), create_types=_PKLOG_DDL
    )
    txn_url = stage_table(
        spark, sf_dir, "TXNS", synthetic_transactions(orders)
    )

    cfg = _cfg(orders_url, partition_column="o_orderkey", num_partitions=10)
    orders_jdbc = cfg.with_discovered_bounds(spark).load(spark)
    pklog_jdbc = _cfg(pklog_url, table="PKLOG").load(spark)
    txns_jdbc = _cfg(txn_url, table="TXNS").load(spark)

    out_dir = tempfile.mkdtemp(prefix="cdc_poll_jdbc_", dir=scratch_root())
    sink = RangeCommitSink(out_dir)
    hi = poll(
        spark,
        [ORDERS_MAPPING],
        lambda name: orders_jdbc,
        pklog_jdbc,
        txns_jdbc,
        from_txid=0,
        sink=sink,
        now_ts="2026-01-01 00:00:00",
    )
    if not sink.committed(ORDERS_MAPPING.name, hi):
        raise AssertionError(f"jdbc-wire poll range {hi} never committed")
    return spark.read.parquet(
        os.path.join(out_dir, ORDERS_MAPPING.name, f"txid_hi={hi}")
    )


@register("source_jdbc_type_gallery", _gallery_oracle())
def source_jdbc_type_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19/E15 executed on a real wire: every branch of the reference's
    HANA→Avro type switch (S4HanaTableMapping.java:603-677) staged into
    Derby with typed DDL, read back through the real JDBC driver, mapped by
    types.py, and byte/value-compared against the oracle — including NULLs
    in every non-string column, multi-byte UTF-8, a ``::``-bearing PK name
    (AvroNameEncoder's input, S4HanaProducer.java:220), 16-byte fixed
    binary, and the DECIMAL(38,10)→VARCHAR precision bridge.

    The four BINARY-family columns cross the WIRE as real bytes (the staged
    Derby table stays BINARY/VARBINARY/BLOB) but the DECLARED output maps
    them through ``upper(hex(...))``: the external driver's pandas
    canonicalizer cannot hash bytearray cells (the one red r8 row), and the
    hex image preserves byte-level parity exactly — the reference's
    BINARY/VARBINARY/BLOB rows, S4HanaTableMapping.java:638-641,650-651."""
    g = read_gallery(spark, sf_dir)

    def _hx(c: str):
        return F.upper(F.hex(F.col(c))).alias(c)

    # compare-friendly projection (repo-wide determinism conventions:
    # decimals → double/string, dates → ISO strings, binary → upper hex)
    return g.select(
        "ID",
        F.col("HEAD::KEY").alias("HEAD::KEY"),
        "C_TINY",
        "C_SMALL",
        "C_INT",
        F.col("C_DEC").cast("double").alias("C_DEC"),
        F.col("C_DECBARE").cast("string").alias("C_DECBARE"),
        F.col("C_SDEC").cast("double").alias("C_SDEC"),
        "C_REAL",
        "C_DOUBLE",
        "C_CHAR",
        "C_VARCHAR",
        "C_NCHAR",
        "C_NVARCHAR",
        "C_ALPHANUM",
        _hx("C_BINARY"),
        _hx("C_VARBINARY"),
        _hx("C_BLOB"),
        _hx("C_BINTEXT"),
        F.date_format("C_DATE", "yyyy-MM-dd").alias("C_DATE"),
        "C_TIME",
        "C_TS",
        "C_SECDATE",
        "C_CLOB",
        "C_NCLOB",
        "C_TEXT",
        "C_SHORTTEXT",
        "C_STPOINT",
        "C_STGEOM",
        "C_BOOL",
    )
