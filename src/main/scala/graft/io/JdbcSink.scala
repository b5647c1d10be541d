package graft.io

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.StringType

/** Typed JDBC table sink (SURVEY.md §2.1 S9; reference drops/creates a
  * typed PostgreSQL table and executemany-inserts one transaction at a
  * time, connect_postgre.py:209-321).
  *
  * Spark's JDBC dialect is the type map: at CREATE TABLE Spark maps
  * every column's Spark type through the URL's `JdbcDialect`
  * (`JdbcUtils.getJdbcType`). An entry of the `createTableColumnTypes`
  * write option does not land verbatim either: Spark parses it as Spark
  * DDL (`CatalystSqlParser.parseTableSchema`) and maps the parsed type
  * through the same dialect. So the only override that changes the DDL
  * is a string width: Derby's dialect maps a plain string to CLOB,
  * PostgreSQL's to TEXT, and `VARCHAR(n)` gives the reference's typed
  * column on both. Every other column keeps the dialect's type (BIGINT,
  * DATE, DOUBLE PRECISION / FLOAT8, REAL / FLOAT4, BOOLEAN). The writer
  * inserts per partition with batched statements — parallel connections
  * instead of the reference's single connection/transaction.
  */
object JdbcSink {

  /** Rows per batched INSERT. */
  private val BatchSize = 10000

  /** The `createTableColumnTypes` value: `<name> <stringSql>` for each
    * string column, nothing for the rest (see the object doc).
    */
  private[graft] def sparkColumnTypes(df: DataFrame, stringSql: String): String =
    df.schema.fields.filter(_.dataType == StringType)
      .map(f => s"${f.name} $stringSql").mkString(", ")

  /** The parameterized existence probe run against the `postgres` system
    * database (connect_postgre.py:92-96 parity). Exposed so the
    * postgres-dialect branch — unexecutable in this sandbox (no live
    * server) — has its emitted SQL pinned by IoSpec.
    */
  val PgExistsSql: String = "SELECT 1 FROM pg_database WHERE datname = ?"

  /** The CREATE DATABASE statement for a missing database
    * (connect_postgre.py:98-104 parity), with the safe-name gate only on
    * the CREATE path: the name is interpolated into DDL (CREATE DATABASE
    * takes no bind parameters), but an EXISTING database with an exotic
    * name ("my-db") must still bootstrap cleanly — the parameterized
    * existence check handles any name. Exposed for the same IoSpec
    * pinning as [[PgExistsSql]].
    */
  def pgCreateDatabaseSql(dbName: String): String = {
    require(dbName.matches("[A-Za-z_][A-Za-z0-9_]*"), s"unsafe database name: $dbName")
    s"""CREATE DATABASE "$dbName""""
  }

  /** Database bootstrap (SURVEY.md §2.1 S8; connect_postgre.py:68-119):
    * CREATE DATABASE if absent, via a plain driver-side JDBC connection to
    * the system database — not a Spark operator, mirrored for surface
    * completeness. PostgreSQL runs CREATE DATABASE outside transactions,
    * hence autocommit.
    */
  def createDatabaseIfAbsent(systemUrl: String, dbName: String, props: Properties): Unit = {
    val conn = java.sql.DriverManager.getConnection(systemUrl, props)
    try {
      conn.setAutoCommit(true)
      val ps = conn.prepareStatement(PgExistsSql)
      ps.setString(1, dbName)
      val exists = { val rs = ps.executeQuery(); try rs.next() finally rs.close() }
      if (!exists) {
        val sql = pgCreateDatabaseSql(dbName)
        val st = conn.createStatement()
        try st.executeUpdate(sql) finally st.close()
      }
    } finally conn.close()
  }

  /** For a `jdbc:postgresql://host[:port]/db` URL, the matching system
    * URL (same host, database `postgres`) and the target database name —
    * what [[createDatabaseIfAbsent]] needs. None for any other engine.
    */
  def pgSystemUrl(url: String): Option[(String, String)] = {
    val Pg = "^jdbc:postgresql://([^/?]+)/([^?/]+)(?:\\?.*)?$".r
    url match {
      case Pg(hostPort, db) => Some((s"jdbc:postgresql://$hostPort/postgres", db))
      case _                => None
    }
  }

  /** Engine-neutral database bootstrap, dispatching on the URL: embedded
    * engines (Derby) create the database as a URL attribute
    * (`;create=true`), so opening one connection IS create-if-absent;
    * PostgreSQL URLs are delegated to [[createDatabaseIfAbsent]] against
    * the server's `postgres` system database.
    */
  def ensureDatabase(url: String, props: Properties = new Properties()): Unit =
    pgSystemUrl(url) match {
      case Some((systemUrl, db)) => createDatabaseIfAbsent(systemUrl, db, props)
      case None => java.sql.DriverManager.getConnection(url, props).close()
    }

  /** Overwrite-write with the dialect's column types, string columns as
    * `stringSql`, and per-partition batching (DROP+CREATE semantics like
    * the reference's recreate-on-rerun).
    */
  def write(
      df: DataFrame,
      url: String,
      table: String,
      props: Properties = new Properties(),
      stringSql: String = "VARCHAR(10000)"): Unit = {
    val types = sparkColumnTypes(df, stringSql)
    df.write
      .mode(SaveMode.Overwrite)
      .options(if (types.isEmpty) Map.empty[String, String]
        else Map("createTableColumnTypes" -> types))
      .option("batchsize", BatchSize)
      .jdbc(url, table, props)
  }
}
