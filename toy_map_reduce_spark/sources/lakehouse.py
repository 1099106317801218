"""Lakehouse table-format connectors (Delta Lake / Iceberg / Hudi), gated
behind import-try: the execution image carries none of their jars, so these
surface a clear, actionable error instead of a py4j class-not-found at
execution time. The reader/writer call shapes are the real public APIs —
drop the jar on the classpath and they work unchanged.
"""

from __future__ import annotations

import contextlib
import functools
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

from toy_map_reduce_spark import scratch
from toy_map_reduce_spark.registry import register


class ConnectorUnavailable(RuntimeError):
    def __init__(self, fmt: str, package: str):
        super().__init__(
            f"{fmt} support needs its jar on the Spark classpath "
            f"(--packages {package}); not present in this image"
        )


def _jvm_class_exists(spark: SparkSession, cls: str) -> bool:
    """Whether ``cls`` is on the driver's classpath. The class is not
    initialised: Derby's driver boots its engine, and opens ``derby.log``
    in the working directory, when its class initialises."""
    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            cls, False, jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
        )
        return True
    except Exception:
        return False


def read_delta(spark: SparkSession, path: str) -> DataFrame:
    if not _jvm_class_exists(spark, "org.apache.spark.sql.delta.DeltaLog"):
        raise ConnectorUnavailable("Delta Lake", "io.delta:delta-spark_2.13:<ver>")
    return spark.read.format("delta").load(path)


def write_delta(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    if not _jvm_class_exists(df.sparkSession, "org.apache.spark.sql.delta.DeltaLog"):
        raise ConnectorUnavailable("Delta Lake", "io.delta:delta-spark_2.13:<ver>")
    df.write.format("delta").mode(mode).save(path)


def read_iceberg(spark: SparkSession, table: str) -> DataFrame:
    if not _jvm_class_exists(spark, "org.apache.iceberg.spark.source.IcebergSource"):
        raise ConnectorUnavailable(
            "Iceberg", "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver>"
        )
    return spark.read.format("iceberg").load(table)


def read_jdbc(spark: SparkSession, url: str, table: str, **options: str) -> DataFrame:
    """JDBC source (built into Spark; needs only the vendor driver jar).
    Predicate pushdown and partitioned reads via the standard options
    (partitionColumn/lowerBound/upperBound/numPartitions)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "overwrite", **options: str
) -> None:
    """JDBC sink (built into Spark; needs only the vendor driver jar)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@functools.cache
def _derby_home() -> str:
    """``derby.system.home``: Derby reads it once per JVM, when its engine
    boots, and writes ``derby.log`` there from then on, so it lives as
    long as the process, not in a query scope."""
    home = os.path.join(scratch.process_dir(), "derby")
    os.makedirs(home, exist_ok=True)
    return home


def _shut_down_derby(spark: SparkSession, url: str) -> None:
    """Close the query's embedded database before its directory goes.
    Derby reports a clean shutdown as an error (SQLState 08006), and one
    of a database that never booted (XJ004)."""
    with contextlib.suppress(Py4JJavaError):
        spark._jvm.java.sql.DriverManager.getConnection(f"{url};shutdown=true")  # type: ignore[union-attr]


def _derby_roundtrip_driver_side(
    spark: SparkSession, df: DataFrame, url: str, table: str
) -> DataFrame:
    """Derby-roundtrip path for multi-process masters (r12 local-cluster
    sweep finding): embedded Derby boots one engine PER JVM and holds an
    exclusive ``db.lck`` on the database dir, so Spark's JDBC writer —
    driver DDL connection plus executor task connections — is a
    guaranteed dual-boot crash the moment executors are separate
    processes. Production multi-process JDBC talks to a NETWORK database
    server (every executor a client); embedded Derby is the zero-service
    test stand-in and is single-process by design. So under a
    multi-process master every connection is pinned to the one JVM py4j
    can reach — the driver: write the dimension-sized input over
    java.sql, read it back through the same JDBC type mapping, and
    re-parallelize. Driver-side is the honest shape here too — the query
    ingests a 25-row dimension, exactly the metadata-feed case the
    docstring scopes JDBC to; the 100 TB fact path stays parquet."""
    jvm = spark._jvm
    type_map = {"bigint": "BIGINT", "int": "INTEGER",
                "double": "DOUBLE", "string": "VARCHAR(255)"}
    cols = [(f.name, type_map[f.dataType.simpleString()]) for f in df.schema.fields]
    con = jvm.java.sql.DriverManager.getConnection(url)  # type: ignore[union-attr]
    try:
        st = con.createStatement()
        try:
            st.executeUpdate(f"DROP TABLE {table}")
        except Exception:
            pass  # first run: table does not exist yet
        st.executeUpdate(
            f"CREATE TABLE {table} ("
            + ", ".join(f"{n} {t}" for n, t in cols) + ")"
        )
        ps = con.prepareStatement(
            f"INSERT INTO {table} VALUES ({', '.join('?' * len(cols))})"
        )
        for row in df.collect():
            for i, (n, t) in enumerate(cols, start=1):
                v = row[n]
                if v is None:
                    # JDBC setNull wants the parameter's DECLARED type;
                    # Derby rejects java.sql.Types.NULL outright.
                    sql_types = jvm.java.sql.Types  # type: ignore[union-attr]
                    null_type = {
                        "BIGINT": sql_types.BIGINT,
                        "INTEGER": sql_types.INTEGER,
                        "DOUBLE": sql_types.DOUBLE,
                    }.get(t, sql_types.VARCHAR)
                    ps.setNull(i, null_type)
                elif t == "BIGINT":
                    ps.setLong(i, int(v))
                elif t == "INTEGER":
                    ps.setInt(i, int(v))
                elif t == "DOUBLE":
                    ps.setDouble(i, float(v))
                else:
                    ps.setString(i, str(v))
            ps.addBatch()
        ps.executeBatch()
        rs = st.executeQuery(
            f"SELECT {', '.join(n for n, _ in cols)} FROM {table}"
        )
        out_rows = []
        while rs.next():
            vals = []
            for i, (_n, t) in enumerate(cols, start=1):
                if t == "BIGINT":
                    v: object = rs.getLong(i)
                elif t == "INTEGER":
                    v = rs.getInt(i)
                elif t == "DOUBLE":
                    v = rs.getDouble(i)
                else:
                    v = rs.getString(i)
                vals.append(None if rs.wasNull() else v)
            out_rows.append(tuple(vals))
    finally:
        con.close()
    return spark.createDataFrame(out_rows, df.schema)


_JDBC_ROUNDTRIP_ORACLE = """
SELECT CAST(n_regionkey AS BIGINT) AS n_regionkey,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
FROM nation
GROUP BY n_regionkey
"""


@register("source_jdbc_roundtrip", "G", oracle=_JDBC_ROUNDTRIP_ORACLE,
          doc="Real JDBC sink+source roundtrip through embedded Derby (its "
              "jars ship inside Spark for the Hive metastore): write nation "
              "over JDBC, read it back, aggregate — exercises Spark's "
              "whole JDBC dialect/type-mapping path with zero external "
              "services, the same reader that fronts an OLTP database in a "
              "production ingest")
def source_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derby is an in-JVM database, so this is a genuine cross-system
    roundtrip (Spark types -> Derby SQL types -> Spark types), not a
    parquet re-read. Scale note: a production JDBC read partitions via
    partitionColumn/lowerBound/upperBound; a 25-row dimension needs one
    partition, and anything 100 TB-sized would come from parquet/lakehouse,
    not JDBC — JDBC sources are for dimension/metadata feeds."""
    from pyspark.sql import functions as F

    from toy_map_reduce_spark.tables import load

    if not _jvm_class_exists(spark, _DERBY_DRIVER):
        raise ConnectorUnavailable("JDBC (Derby)", "org.apache.derby:derby:<ver>")

    # keep derby.log out of the working directory
    spark._jvm.java.lang.System.setProperty("derby.system.home", _derby_home())  # type: ignore[union-attr]
    db = f"jdbc:derby:{scratch.path('derby')}/db"
    scratch.on_exit(_shut_down_derby, spark, db)
    url = f"{db};create=true"

    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    if spark.sparkContext.master.startswith("local["):
        # single JVM: the full Spark JDBC dialect/type-mapping path
        write_jdbc(nation, url, "nation_rt", driver=_DERBY_DRIVER)
        back = read_jdbc(spark, url, "nation_rt", driver=_DERBY_DRIVER)
    else:
        # separate executor JVMs: embedded Derby is single-process —
        # pin every connection to the driver (see helper docstring)
        back = _derby_roundtrip_driver_side(spark, nation, url, "nation_rt")
    return back.groupBy(F.col("n_regionkey").cast("long").alias("n_regionkey")).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.sum("n_nationkey").cast("long").alias("sum_key"),
    )
