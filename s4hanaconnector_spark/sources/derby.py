"""Embedded-Derby execution leg for the JDBC source — the in-sandbox stand-in
for a live HANA server (INTEGRATION.md §1 steps 1/3/4).

The reference's initial load opens a fixed 10-connection pool and stripes the
table across tasks (S4HanaProducer.java:510-532, :536, one connection per
task :600). ``JdbcSourceConfig`` renders the same plan for Spark's JDBC
source; until this module existed nothing had ever EXECUTED those options
against a real database. PySpark ships embedded Apache Derby on the session
classpath (derby-10.16.1.1.jar), so the full wire path — DDL, typed INSERTs,
min/max bounds probe, 10-way range-partitioned read, predicate-list read,
pushdown subquery — runs here with zero extra infrastructure.

Execution findings this leg surfaced (none visible to the option unit tests):
  * SQL aliases must start with a letter — Derby rejects ``AS __bounds``
    (ERROR 42X01); ``bounds_query()``/``prepare_pushdown_query`` now emit
    letter-leading aliases.
  * Unquoted identifiers fold to uppercase; Spark's JDBC writer creates
    case-sensitive quoted columns, so hand-written probe SQL must quote
    (``qident``) exactly like the reference quotes its generated SQL
    (S4HanaTableMapping.java:740-761).
  * Derby DECIMAL caps at precision 31 — DECIMAL(38,10) columns cross the
    wire as VARCHAR and are cast back on read (documented bridge; HANA
    itself would take the native DECIMAL).

Staging is cached per-user under a fingerprinted tmp dir (uid + sf_dir +
staging version), so repeat correctness runs pay the INSERT cost once.
Embedded Derby is single-process: a concurrent booter gets a lock error and
falls back to a process-private dir rather than corrupting the shared one.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

# bump when the staged schema/content derivation changes — part of the cache
# fingerprint so stale caches self-invalidate (no hand-cleaned tmp dirs)
_STAGING_VERSION = "v1"


def qident(name: str) -> str:
    """Quote an identifier for hand-written Derby SQL (bounds probes,
    predicates, pushdown subqueries). Spark's writer creates case-sensitive
    quoted columns; unquoted references fold to uppercase and miss them."""
    return '"' + name.replace('"', '""') + '"'


def _user_cache_root() -> str:
    # per-user (uid-suffixed): a world-shared tmp path would let another
    # user on a shared host poison or collide with this cache
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"spark-graft-derby-u{uid}")
    os.makedirs(root, exist_ok=True)
    return root


def ensure_derby_home(spark: SparkSession) -> str:
    """Point derby.system.home (derby.log, lock files) at the per-user cache
    root instead of the process cwd. A no-op if Derby already booted — the
    property is only read at engine boot."""
    home = _user_cache_root()
    spark._jvm.java.lang.System.setProperty("derby.system.home", home)
    return home


def derby_url(db_dir: str, create: bool = True) -> str:
    return f"jdbc:derby:{db_dir}" + (";create=true" if create else "")


def _fingerprint(
    sf_dir: str, table: str, salt: str = "", create_types: str | None = None
) -> str:
    # create_types is part of the key: the same logical table staged with a
    # different DDL (e.g. VARCHAR vs CLOB strings) is a DIFFERENT database —
    # reusing the cached one would resurrect the exact wire errors the DDL
    # change fixed. Appended only when set, so DDL-less tables keep their
    # pre-existing cache keys (no mass re-stage + orphaned dirs).
    key = f"{_STAGING_VERSION}|{os.path.abspath(sf_dir)}|{table}|{salt}"
    if create_types is not None:
        key += f"|{create_types}"
    return hashlib.md5(key.encode()).hexdigest()[:16]


def stage_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    df: DataFrame,
    create_types: str | None = None,
    salt: str = "",
) -> str:
    """Write ``df`` into an embedded-Derby table (once per fingerprint) and
    return the JDBC url. The INSERT path is Spark's JDBC writer — the same
    typed-batch wire protocol a real server would see.

    Idempotent: a ``_SUCCESS_DERBY`` marker gates reuse; a concurrent
    embedded-boot conflict (Derby is single-process) falls back to a
    process-private directory instead of waiting on the lock.
    """
    ensure_derby_home(spark)
    db_dir = os.path.join(
        _user_cache_root(),
        f"{table}-{_fingerprint(sf_dir, table, salt, create_types)}",
    )
    marker = db_dir + ".SUCCESS_DERBY"
    if os.path.exists(marker):
        return derby_url(db_dir, create=False)
    try:
        _write(df, derby_url(db_dir), table, create_types)
    except Exception:
        # lock conflict or torn previous attempt: stage into a dir private to
        # this process and skip the shared marker
        db_dir = os.path.join(_user_cache_root(), f"{table}-pid{os.getpid()}")
        _write(df, derby_url(db_dir), table, create_types)
        return derby_url(db_dir, create=False)
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return derby_url(db_dir, create=False)


def _write(df: DataFrame, url: str, table: str, create_types: str | None) -> None:
    writer = df.write.mode("overwrite").format("jdbc")
    writer = writer.option("url", url).option("dbtable", table).option("driver", DRIVER)
    if create_types:
        writer = writer.option("createTableColumnTypes", create_types)
    writer.save()
