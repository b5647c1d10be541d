package graft.io

import java.nio.charset.Charset
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class IoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Build a minimal .ods (zip + content.xml) on the fly. */
  private def makeOds(rows: Seq[Seq[String]]): String = {
    val xmlRows = rows.map { r =>
      r.map {
        case null => "<table:table-cell/>"
        case v => s"<table:table-cell><text:p>$v</text:p></table:table-cell>"
      }.mkString(s"<table:table-row>", "", "</table:table-row>")
    }.mkString
    val xml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<office:document-content
         |  xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0"
         |  xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
         |  xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
         |<office:body><office:spreadsheet>
         |<table:table table:name="Sheet1">$xmlRows</table:table>
         |</office:spreadsheet></office:body></office:document-content>""".stripMargin
    val f = Files.createTempFile("fixture", ".ods")
    val zip = new ZipOutputStream(Files.newOutputStream(f))
    zip.putNextEntry(new ZipEntry("content.xml"))
    zip.write(xml.getBytes("UTF-8"))
    zip.closeEntry(); zip.close()
    f.toString
  }

  test("OdsReader: zip+content.xml parse, all-string cells, nulls for empties") {
    val path = makeOds(Seq(
      Seq("ÍNDICE DE DESEMPENHO NO ATENDIMENTO", null),
      Seq("GRUPO ECONÔMICO", "2015-01-01 00:00:00"),
      Seq("CLARO", "87,50")))
    val df = spark.read.format("ods").load(path)
    assert(df.columns.toSeq == Seq("_c0", "_c1"))
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows(2).getString(0) == "CLARO" && rows(2).getString(1) == "87,50")
    assert(rows(0).isNullAt(1))
  }

  test("OdsReader honors number-columns-repeated") {
    val xml =
      """<?xml version="1.0"?>
        |<doc xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        |     xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<table:table><table:table-row>
        |<table:table-cell table:number-columns-repeated="3"><text:p>X</text:p></table:table-cell>
        |<table:table-cell><text:p>Y</text:p></table:table-cell>
        |</table:table-row></table:table></doc>""".stripMargin
    val rows = OdsReader.parseContentXml(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    assert(rows == Seq(Seq("X", "X", "X", "Y")))
  }

  test("CsvEncodingReader detects latin-1 and reads accented text intact") {
    val f = Files.createTempFile("fixture", ".tsv")
    val content = "GRUPO ECONÔMICO\tVALOR\nSÃO PAULO\t87,50\n"
    Files.write(f, content.getBytes(Charset.forName("ISO-8859-1")))
    assert(CsvEncodingReader.detectEncoding(f.toString) == "ISO-8859-1")
    val df = CsvEncodingReader.read(spark, f.toString)
    val rows = df.collect()
    assert(rows(1).getString(0) == "SÃO PAULO")
    assert(df.columns.length == 2) // null padding trimmed
  }

  test("CsvEncodingReader: clean utf-8 stays utf-8") {
    val f = Files.createTempFile("fixture", ".tsv")
    Files.write(f, "a\tb\n1\t2\n".getBytes("UTF-8"))
    assert(CsvEncodingReader.detectEncoding(f.toString) == "UTF-8")
    // a sample that ends inside a multibyte character ("Ô" is 2 bytes)
    Files.write(f, "GRUPO ECONÔMICO\tVALOR\n".getBytes("UTF-8"))
    val cut = "GRUPO ECON".length + 1
    assert(CsvEncodingReader.detectEncoding(f.toString, sampleBytes = cut) == "UTF-8")
  }

  private def tsvRow(width: Int): String = {
    val f = Files.createTempFile("fixture", ".tsv")
    Files.write(f, (1 to width).map(i => s"v$i").mkString("", "\t", "\n").getBytes("UTF-8"))
    f.toString
  }

  test("CsvEncodingReader rejects a row wider than 64 fields instead of truncating it") {
    // PERMISSIVE CSV keeps only the schema's width of tokens: a 70-field
    // row must fail, not come back as 64 columns
    val path = tsvRow(70)
    val ex = intercept[IllegalArgumentException](CsvEncodingReader.read(spark, path).collect())
    assert(ex.getMessage.contains("wider than 64 columns"))
  }

  test("CsvEncodingReader reads a 64-field row intact") {
    val df = CsvEncodingReader.read(spark, tsvRow(64))
    assert(df.columns.length == 64)
    assert(df.collect().map(_.toSeq).toSeq == Seq((1 to 64).map(i => s"v$i")))
  }

  test("OdsWriter -> OdsReader round trip: strings, nulls, XML escapes, repeats") {
    val rows = Seq(
      Seq("n_nationkey", "n_name", "n_comment"),
      Seq("0", "ALGERIA", "a<b & \"c\">d"),
      Seq("1", null, "plain"),
      Seq("2", "BRAZIL", null))
    val f = Files.createTempFile("graft-odsw", ".ods")
    OdsWriter.write(rows, f.toString)
    val back = OdsReader.readRows(Files.newInputStream(f))
    assert(back == rows)
    // and through the DSv2 format("ods") read path
    val df = spark.read.format("ods").load(f.toString)
    assert(df.columns.toSeq == Seq("_c0", "_c1", "_c2"))
    assert(df.count() == 4)
  }

  test("OdsReader caps hostile empty-string repeats; single empty cell stays \"\"") {
    // a foreign/hostile file: one empty <text:p/> cell claiming a
    // billion repeated columns must not expand in driver memory
    val xml =
      """<?xml version="1.0"?>
        |<doc xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0"
        |     xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">
        |<table:table><table:table-row>
        |<table:table-cell table:number-columns-repeated="1000000000"><text:p/></table:table-cell>
        |<table:table-cell><text:p>Y</text:p></table:table-cell>
        |</table:table-row>
        |<table:table-row>
        |<table:table-cell><text:p/></table:table-cell>
        |<table:table-cell table:number-columns-repeated="1000000000"/>
        |</table:table-row></table:table></doc>""".stripMargin
    val rows = OdsReader.parseContentXml(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    assert(rows.length == 2)
    assert(rows(0).length <= 4097 && rows(0).last == "Y" && rows(0).head == "")
    // null filler still collapses to one; a lone empty <text:p/> is ""
    assert(rows(1) == Seq("", null))
  }

  test("OdsWriter replaces lone surrogates; valid astral pairs round-trip") {
    val astral = new String(Character.toChars(0x1F600)) // a valid surrogate pair
    val rows = Seq(Seq("hi\uD800there", "\uDC00", astral))
    val f = Files.createTempFile("graft-odsw4", ".ods")
    OdsWriter.write(rows, f.toString)
    val back = OdsReader.readRows(Files.newInputStream(f))
    // lone high/low surrogates become U+FFFD (unencodable in UTF-8);
    // the real astral pair survives intact — and the XML stays parseable
    assert(back == Seq(Seq("hi�there", "�", astral)))
  }

  test("JdbcSink.createDatabaseIfAbsent existence check precedes the safe-name gate") {
    // no live PG in the sandbox: assert via the failure mode. A name that
    // fails the CREATE-path pattern must reach the CONNECTION attempt
    // (SQLException on the bogus URL), not die in require() first.
    val ex = intercept[Exception] {
      JdbcSink.createDatabaseIfAbsent(
        "jdbc:postgresql://127.0.0.1:1/postgres?connectTimeout=1&socketTimeout=1",
        "my-db", new java.util.Properties())
    }
    assert(ex.isInstanceOf[java.sql.SQLException],
      s"expected connection failure, got ${ex.getClass}: ${ex.getMessage}")
  }

  test("OdsWriter round trip preserves empty strings and survives control chars") {
    val rows = Seq(
      Seq("", "x", null),
      Seq("a\u0000b\u0007c", "tab\tnl\ncr\rend", ""))
    val f = Files.createTempFile("graft-odsw3", ".ods")
    OdsWriter.write(rows, f.toString)
    val back = OdsReader.readRows(Files.newInputStream(f))
    // "" and null are distinct on read-back; XML-illegal C0 controls are
    // dropped (unrepresentable in XML 1.0); \r survives via &#13;
    assert(back == Seq(
      Seq("", "x", null),
      Seq("abc", "tab\tnl\ncr\rend", "")))
  }

  test("JdbcSink.pgSystemUrl dispatches postgres URLs, passes engines through") {
    assert(JdbcSink.pgSystemUrl("jdbc:postgresql://db.host:5432/analytics")
      .contains(("jdbc:postgresql://db.host:5432/postgres", "analytics")))
    assert(JdbcSink.pgSystemUrl("jdbc:postgresql://db.host/analytics?ssl=true")
      .contains(("jdbc:postgresql://db.host/postgres", "analytics")))
    assert(JdbcSink.pgSystemUrl("jdbc:derby:memory:graftdb;create=true").isEmpty)
  }

  test("OdsWriter emits a standards-shaped package (mimetype first, stored)") {
    val f = Files.createTempFile("graft-odsw2", ".ods")
    OdsWriter.write(Seq(Seq("x")), f.toString)
    val zip = new java.util.zip.ZipInputStream(Files.newInputStream(f))
    val first = zip.getNextEntry
    assert(first.getName == "mimetype")
    assert(first.getMethod == ZipEntry.STORED)
    val names = Iterator.continually(zip.getNextEntry).takeWhile(_ != null).map(_.getName).toSet
    assert(names == Set("META-INF/manifest.xml", "content.xml"))
    zip.close()
  }

  test("JdbcSink round trip against embedded Derby: bootstrap, typed write, read-back") {
    System.setProperty("derby.stream.error.file",
      Files.createTempDirectory("graft-derby").resolve("derby.log").toString)
    val url = "jdbc:derby:memory:graftspec;create=true"
    JdbcSink.ensureDatabase(url) // S8: create-if-absent (URL-native for Derby)
    import spark.implicits._
    // the float column guards the FloatType→REAL DDL mapping: FLOAT in
    // Derby DDL means FLOAT(53) ≡ DOUBLE, which would come back DoubleType
    val df = Seq(
      (1L, "CLARO", Some(87.5), true, 1.5f),
      (2L, "VIVO", None: Option[Double], false, -0.25f),
      (3L, "a<b'c\"d", Some(-1.25), true, 3.75f))
      .toDF("id", "grupo", "valor", "flag", "ratio")
    JdbcSink.write(df, url, "ida_rt", stringSql = "VARCHAR(255)")
    // the DDL that landed: Derby's dialect types, the string override
    val conn = java.sql.DriverManager.getConnection(url)
    val ddl =
      try {
        val rs = conn.getMetaData.getColumns(null, null, "IDA_RT", null)
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getString("COLUMN_NAME"), r.getString("TYPE_NAME"), r.getInt("COLUMN_SIZE")))
          .toList
      } finally conn.close()
    assert(ddl.map { case (n, t, _) => (n, t) } == Seq(
      "id" -> "BIGINT", "grupo" -> "VARCHAR", "valor" -> "DOUBLE",
      "flag" -> "BOOLEAN", "ratio" -> "REAL"))
    assert(ddl(1)._3 == 255)
    val back = spark.read.jdbc(url, "ida_rt", new java.util.Properties())
    assert(back.schema.map(f => (f.name, f.dataType)).toSeq ==
      df.schema.map(f => (f.name, f.dataType)).toSeq)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ==
      df.orderBy("id").collect().map(_.toSeq).toSeq)
    // S9 recreate-on-rerun: a second overwrite with fewer rows wins
    JdbcSink.write(df.filter($"id" === 1L), url, "ida_rt", stringSql = "VARCHAR(255)")
    assert(spark.read.jdbc(url, "ida_rt", new java.util.Properties()).count() == 1)
  }

  test("postgres dialect branch: exact bootstrap SQL, URL routing, and TEXT/DOUBLE PRECISION DDL pinned") {
    // The pg branch of ensureDatabase cannot execute here (no live
    // server — SURVEY §7.5), so its EMITTED strings are pinned instead:
    // the system-db probe and CREATE DATABASE must match the reference's
    // bootstrap (connect_postgre.py:92-104) byte-for-byte.
    assert(JdbcSink.PgExistsSql == "SELECT 1 FROM pg_database WHERE datname = ?")
    assert(JdbcSink.pgCreateDatabaseSql("ida_metrics") == """CREATE DATABASE "ida_metrics"""")
    // injection-shaped names never reach the interpolated DDL
    intercept[IllegalArgumentException] {
      JdbcSink.pgCreateDatabaseSql("""x"; DROP TABLE ida; --""")
    }
    // URL routing: a postgres URL resolves to the `postgres` system DB +
    // target name; port and query params survive; other engines -> None
    assert(JdbcSink.pgSystemUrl("jdbc:postgresql://db:5432/ida") ==
      Some(("jdbc:postgresql://db:5432/postgres", "ida")))
    assert(JdbcSink.pgSystemUrl("jdbc:postgresql://db/ida?ssl=true") ==
      Some(("jdbc:postgresql://db/postgres", "ida")))
    assert(JdbcSink.pgSystemUrl("jdbc:derby:memory:x;create=true").isEmpty)
    // the column DDL Spark emits for the canonical IDA table through
    // PostgreSQL's dialect (connect_postgre.py:162-169): TEXT strings and
    // FLOAT8 (= DOUBLE PRECISION) by default, and JdbcSink's override
    // changes only the string columns
    import org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.types._
    val ida = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("id", LongType), StructField("grupo_economico", StringType),
        StructField("servico", StringType), StructField("mes_referencia", DateType),
        StructField("valor", DoubleType), StructField("tipo_servico", StringType))))
    val pg = JdbcDialects.get("jdbc:postgresql://db:5432/ida")
    def ddl(stringType: String) =
      s""""id" BIGINT , "grupo_economico" $stringType , "servico" $stringType , """ +
        s""""mes_referencia" DATE , "valor" FLOAT8 , "tipo_servico" $stringType """
    assert(JdbcUtils.schemaString(pg, ida.schema, caseSensitive = false) == ddl("TEXT"))
    assert(JdbcUtils.schemaString(pg, ida.schema, caseSensitive = false,
      Some(JdbcSink.sparkColumnTypes(ida, "VARCHAR(255)"))) == ddl("VARCHAR(255)"))
  }
}
