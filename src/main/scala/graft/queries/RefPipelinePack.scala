package graft.queries

import org.apache.spark.sql.functions._
import graft.fn.{CleanValues, LocaleNumber}
import graft.{QueryDef, QueryPack, Tables}

/** Oracle-checked queries for the reference's value-normalization and
  * reshape operators (SURVEY.md §2.8 F4/F5, §2.9 R1/R2).
  *
  * The messy-locale inputs are synthesized deterministically from lineitem
  * prices inside the query (both sides exploit that all monetary columns
  * are exactly 2dp, verified in the data profile), so the DuckDB oracle can
  * assert the parse as a round-trip identity instead of re-implementing the
  * string surgery.
  */
object RefPipelinePack extends QueryPack {

  /** One Derby log location per JVM: the bench invokes q_jdbc_roundtrip
    * three times (warm-up + 2 timed passes), and setting the property
    * with a fresh temp dir on every invocation leaked a directory each
    * pass.
    */
  private lazy val derbyLogInit: Unit =
    System.setProperty("derby.stream.error.file",
      java.nio.file.Files.createTempDirectory("graft-derby").resolve("derby.log").toString)

  // ---- q_ida_e2e fixture: the raw spreadsheet shapes of FIXTURES.md §A1 ----

  /** The two .ods fixture files, written ONCE per JVM (lazy val): the
    * spreadsheets are immutable reference data, so bench iterations and
    * plan dumps re-read the same files instead of leaking a temp dir and
    * redoing driver-side zip writes on every invocation.
    */
  /** q_fileskip_*'s standing layout+index: built once per (JVM, lineitem
    * content version) through [[graft.io.IndexCatalog]] — a corpus
    * rewrite invalidates it like every other standing index.
    */
  private def fileskipIndexDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.io.IndexCatalog.resolve(s, "fileskip", s"$dir/lineitem.parquet") { tmp =>
      val slice = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"),
          col("l_quantity").cast("long").as("qty"))
      graft.io.RangeSortedSink.write(slice, s"$tmp/data", numFiles = 16,
        col("l_orderkey"))
      graft.io.FileSkipIndex.build(Tables.read(s, s"$tmp/data"),
          Seq("l_orderkey"), measures = Seq("qty"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/index")
    }

  /** Hash-distributed layout + per-file Bloom index on a near-unique key
    * — the layout where min/max envelopes span the whole domain and only
    * membership bits can skip files (q_fileskip_bloom).
    */
  private def bloomIndexDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.io.IndexCatalog.resolve(s, "fileskip-bloom", s"$dir/lineitem.parquet") { tmp =>
      val slice = Tables.lineitem(s, dir)
        .select((col("l_orderkey") * 10 + col("l_linenumber")).as("line_uid"),
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("qty"))
      slice.repartition(16, col("line_uid"))
        .write.mode("overwrite").parquet(s"$tmp/data")
      graft.io.FileSkipIndex.buildBloom(Tables.read(s, s"$tmp/data"), "line_uid")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/index")
    }

  /** Load + clean the two ODS fixture files CONCURRENTLY. The per-file
    * driver work — the DSv2 inferSchema StAX parse plus plan construction
    * — was the serial, boot-sensitive cost behind q_ida_e2e's bench
    * variance (the reference parses its spreadsheets one by one,
    * main.py:259-276; nothing in the semantics requires that). Two
    * Futures overlap the per-file stages; the parse memo
    * ([[graft.io.OdsReader.readRowsCached]]) then lets the executor-side
    * read reuse the plan-time parse instead of unzipping again.
    */
  private def cleanedOdsFiles(
      s: org.apache.spark.sql.SparkSession, tmp: String): Seq[org.apache.spark.sql.DataFrame] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(
      Future.traverse(Seq("SMP" -> s"$tmp/smp_2015.ods", "STFC" -> s"$tmp/stfc_2015.ods")) {
        case (servico, path) =>
          // localCheckpoint per cleaned file (fixture-sized long rows):
          // the consolidated frame is consumed several times downstream
          // (the view's dynamic-pivot collect, the sequential-id count
          // job, the main action), and without the checkpoint every
          // consumer re-ran the whole ODS read + clean plan — the
          // materialization happens inside the Future, so the two files'
          // checkpoint jobs overlap like the parses already did
          Future(graft.ops.IdaPipeline.cleanFile(
            s.read.format("ods").load(path), servico).localCheckpoint())
      }, Duration.Inf)
  }

  private[graft] lazy val idaFixtureDir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ida-e2e").toString
    graft.io.OdsWriter.write(idaFileSmp, s"$tmp/smp_2015.ods")
    graft.io.OdsWriter.write(idaFileStfc, s"$tmp/stfc_2015.ods")
    // the SCM file arrives as a latin-1 TSV (the reference's other ingest
    // path, main.py:306-344): the Ô/ç/õ bytes are NOT valid UTF-8, so
    // CsvEncodingReader's strict-decode probe must fall through to
    // ISO-8859-1 for the header even to be found
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tmp/scm_2015.tsv"),
      idaFileScm.map(_.map(c => Option(c).getOrElse("")).mkString("\t")).mkString("\n")
        .getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
    tmp
  }

  private val Ida = "Indicador de Desempenho no Atendimento (IDA)"

  /** SMP file: metadata preamble + blank row + header buried at index 3,
    * timestamp-formatted month names, pt-BR decimals, trailing zeros,
    * invalid markers (ND, -), a lossy multi-dot cell, null cells, and one
    * exact duplicate data row (main.py:202-257, 398-428, 450-474,
    * 531-582, 647).
    */
  private def idaFileSmp: Seq[Seq[String]] = {
    val claro = Seq("CLARO", Ida, "80,00", "88.00", "110", "99,0", "90,00")
    Seq(
      Seq("ÍNDICE DE DESEMPENHO NO ATENDIMENTO (IDA)", null, null, null, null, null, null),
      Seq("SERVIÇO: SMP", "PERÍODO: 2015", "FONTE: ANATEL", null, null, null, null),
      Seq(null, null, null, null, null, null, null),
      Seq("GRUPO ECONÔMICO", "VARIAVEL", "2015-01-01 00:00:00", "2015-02-01 00:00:00",
        "2015-03-01 00:00:00", "2015-04-01 00:00:00", "2015-05-01 00:00:00"),
      Seq("ALGAR", Ida, "0,00", "10", "12,00", "ND", null),
      claro,
      claro, // exact duplicate — consolidation must drop_duplicates it
      Seq("OI", Ida, "1.000,00", "1.250,00", "1.500,00", "ND", null),
      Seq("TIM", Ida, "300,00", "345.00", "293,25", null, null),
      Seq("VIVO", Ida, null, "50", "60,00", null, null),
      Seq("TIM", "Taxa de Resolvidas em 5 dias úteis", "1.234.56", "95,5", "-", null, null))
  }

  /** STFC file: header at index 0, already-normalized month names, a
    * blank row and a metadata row INSIDE the data (exercising
    * dropAllNullRows / dropMetadataRows after header promotion), and an
    * empty-string invalid cell.
    */
  private def idaFileStfc: Seq[Seq[String]] = Seq(
    Seq("GRUPO ECONÔMICO", "VARIAVEL", "2015-02", "2015-03", "2015-04"),
    Seq("CLARO", Ida, "40,00", "50.00", "45,0"),
    Seq("CLARO", "Quantidade de Sollicitações", "1.234.56", "-", ""),
    Seq(null, null, null, null, null),
    Seq("PARA MAIORES INFORMAÇÕES, ACESSE WWW.ANATEL.GOV.BR", null, null, null, null))

  /** SCM file: the TSV/latin-1 ingest sibling — metadata row above the
    * header, already-normalized month names, an invalid marker, and a
    * non-IDA variable row with latin-1 accents in the data; one trailing
    * metadata row inside the data (dropMetadataRows on the CSV path).
    */
  private def idaFileScm: Seq[Seq[String]] = Seq(
    Seq("SERVIÇO: SCM", "PERÍODO: 2015", "FONTE: ANATEL", null, null),
    Seq("GRUPO ECONÔMICO", "VARIAVEL", "2015-03", "2015-04", "2015-05"),
    Seq("CLARO", Ida, "55,00", "66.00", "60,5"),
    Seq("SERCOMTEL", Ida, "120,00", "150,00", "ND"),
    Seq("SERCOMTEL", "Quantidade de Reclamações", "10", "20", "30"),
    Seq("PARA MAIORES INFORMAÇÕES, ACESSE WWW.ANATEL.GOV.BR", null, null, null, null))

  /** Post-unpivot long rows of the SCM TSV fixture. */
  private def scmOracleRows: Seq[String] = {
    val mC = Seq("2015-03", "2015-04", "2015-05")
    oracleRows("CLARO", Ida, mC, Seq("55,00", "66.00", "60,5"), "SCM") ++
    oracleRows("SERCOMTEL", Ida, mC, Seq("120,00", "150,00", "ND"), "SCM") ++
    oracleRows("SERCOMTEL", "Quantidade de Reclamações", mC, Seq("10", "20", "30"), "SCM")
  }

  /** The q_ida_e2e oracle replays the fixture's post-unpivot long rows as
    * a VALUES table and pushes them through the SAME SQL stages the
    * engine runs: whole-row DISTINCT, the locale parse
    * (invalid-markers → NULL; '1.234,56' → 1234.56; '1234,56' → 1234.56;
    * multi-dot → digit concat), month-date cast, per-(month, group) AVG,
    * then the view's own SQL body ([[graft.ops.MetricsView.oracleBody]]).
    */
  private def oracleRows(g: String, s: String, months: Seq[String], raws: Seq[String], tipo: String) =
    months.zip(raws).map { case (m, r) =>
      val rv = Option(r).map(v => s"'$v'").getOrElse("NULL")
      s"('$g', '$s', '$m', $rv, '$tipo')"
    }

  /** Post-unpivot long rows of the two ODS fixture files. */
  private def odsOracleRows: Seq[String] = {
    val mA = Seq("2015-01", "2015-02", "2015-03", "2015-04", "2015-05")
    val mB = Seq("2015-02", "2015-03", "2015-04")
    oracleRows("ALGAR", Ida, mA, Seq("0,00", "10", "12,00", "ND", null), "SMP") ++
    oracleRows("CLARO", Ida, mA, Seq("80,00", "88.00", "110", "99,0", "90,00"), "SMP") ++
    oracleRows("CLARO", Ida, mA, Seq("80,00", "88.00", "110", "99,0", "90,00"), "SMP") ++
    oracleRows("OI", Ida, mA, Seq("1.000,00", "1.250,00", "1.500,00", "ND", null), "SMP") ++
    oracleRows("TIM", Ida, mA, Seq("300,00", "345.00", "293,25", null, null), "SMP") ++
    oracleRows("VIVO", Ida, mA, Seq(null, "50", "60,00", null, null), "SMP") ++
    oracleRows("TIM", "Taxa de Resolvidas em 5 dias úteis",
      mA, Seq("1.234.56", "95,5", "-", null, null), "SMP") ++
    oracleRows("CLARO", Ida, mB, Seq("40,00", "50.00", "45,0"), "STFC") ++
    oracleRows("CLARO", "Quantidade de Sollicitações", mB, Seq("1.234.56", "-", ""), "STFC")
  }

  private def idaOracle: String =
    idaOracleFor(odsOracleRows, Seq("ALGAR", "CLARO", "OI", "TIM", "VIVO"))

  private def idaOracleFor(valueRows: Seq[String], groups: Seq[String]): String = {
    val values = valueRows.mkString(",\n    ")
    val view = graft.ops.MetricsView.oracleBody(
      "monthly", "mes_referencia", "grupo_economico", "taxa_variacao_media", groups)
    s"""WITH raw(grupo_economico, servico, mes, valor_raw, tipo_servico) AS (
       |  VALUES
       |    $values
       |), dedup AS (
       |  SELECT DISTINCT * FROM raw
       |), stripped AS (
       |  SELECT *, regexp_replace(valor_raw, '[^0-9.,]', '', 'g') AS s FROM dedup
       |), parsed AS (
       |  SELECT grupo_economico, servico,
       |    CAST(mes || '-01' AS DATE) AS mes_referencia,
       |    CASE
       |      WHEN valor_raw IS NULL THEN NULL
       |      WHEN trim(valor_raw) IN ('-', '--', '---', 'ND', 'N/D', 'nan', 'NaN', '') THEN NULL
       |      WHEN s = '' THEN NULL
       |      WHEN contains(s, ',') AND contains(s, '.')
       |        THEN CAST(replace(replace(s, '.', ''), ',', '.') AS DOUBLE)
       |      WHEN contains(s, ',') THEN CAST(replace(s, ',', '.') AS DOUBLE)
       |      WHEN length(s) - length(replace(s, '.', '')) > 1
       |        THEN CAST(replace(s, '.', '') AS DOUBLE)
       |      ELSE CAST(s AS DOUBLE)
       |    END AS valor,
       |    tipo_servico
       |  FROM stripped
       |), monthly AS (
       |  SELECT mes_referencia, grupo_economico, AVG(valor) AS valor_atual
       |  FROM parsed WHERE servico = '$Ida'
       |  GROUP BY 1, 2
       |), $view
       |SELECT * FROM pivoted
       |ORDER BY mes_referencia DESC""".stripMargin
  }

  def queries: Map[String, QueryDef] = Map(

    // The WHOLE reference system as one hash-gated query
    // (/root/reference/main.py:719-751 + README.md:119-219): two raw
    // spreadsheets (metadata preamble, buried header, timestamped month
    // columns, pt-BR numbers, lossy multi-dot, invalid markers,
    // duplicates) written as real .ods zips, read back via format("ods"),
    // cleaned per-file, consolidated, and fed to the consolidacao view in
    // its ORIGINAL shape (dynamic group list, month granularity). Every
    // stage was already individually oracled; this row gates the
    // COMPOSITION. Fixture is scale-invariant by design: spreadsheets are
    // driver-side reference data, the view runs distributed.
    "q_ida_e2e" -> QueryDef(
      "Reference system e2e: raw ODS files -> cleanFile -> consolidate -> consolidacao view",
      (s, dir) => {
        val tmp = idaFixtureDir
        // checkpoint the consolidated table before the view: the
        // reference MATERIALIZES consolidation (a Postgres table) before
        // the view queries it, and overIda's dynamic-pivot collect plus
        // the main action would otherwise each re-run the whole
        // clean+consolidate chain (including its sort + zipWithIndex)
        graft.ops.MetricsView.overIda(
          graft.ops.IdaPipeline.consolidate(cleanedOdsFiles(s, tmp)).localCheckpoint())
      },
      Some(idaOracle)),

    // The same composed pipeline with the OTHER ingest path in the mix:
    // a latin-1 TSV (S5 encoding-fallback reader) joins the two ODS files
    // through the identical clean/consolidate/view flow — proving the
    // consolidation is source-format-agnostic and gating the CSV reader
    // inside the composition, not just in isolation (q_csv_latin1).
    "q_ida_e2e_csv" -> QueryDef(
      "Reference e2e with mixed ingest: 2 ODS + 1 latin-1 TSV -> consolidate -> view",
      (s, dir) => {
        val tmp = idaFixtureDir
        val odsCleaned = cleanedOdsFiles(s, tmp)
        val csvCleaned = graft.ops.IdaPipeline.cleanFile(
          graft.io.CsvEncodingReader.read(s, s"$tmp/scm_2015.tsv"), "SCM")
          .localCheckpoint()
        // materialized-consolidation posture as q_ida_e2e
        graft.ops.MetricsView.overIda(
          graft.ops.IdaPipeline.consolidate(odsCleaned :+ csvCleaned).localCheckpoint())
      },
      Some(idaOracleFor(odsOracleRows ++ scmOracleRows,
        Seq("ALGAR", "CLARO", "OI", "SERCOMTEL", "TIM", "VIVO")))),

    // The reference system INCLUDING its load stage (connect_postgre.py:
    // 240-294 DROP+CREATE, typed DDL, batched executemany): the
    // consolidated table lands in an embedded-Derby JDBC database with
    // engine-generated column types, is read BACK through JDBC, and the
    // consolidacao view runs over the read-back frame — so the S8/S9
    // load path is gated inside the composition, and the round trip must
    // be value-exact for the view to hash-match the same oracle as
    // q_ida_e2e_csv (dates, doubles, accented strings all survive DDL
    // mapping + batch insert + read-back).
    "q_ida_e2e_load" -> QueryDef(
      "Reference e2e incl. load: consolidate -> typed JDBC table -> read back -> view",
      (s, dir) => {
        derbyLogInit
        val tmp = idaFixtureDir
        val odsCleaned = cleanedOdsFiles(s, tmp)
        val csvCleaned = graft.ops.IdaPipeline.cleanFile(
          graft.io.CsvEncodingReader.read(s, s"$tmp/scm_2015.tsv"), "SCM")
          .localCheckpoint()
        // no checkpoint of the consolidated frame: the JDBC write is its
        // only consumer (the view reads the written table back), and an
        // interleaved min-of-3 A/B timed it no slower without one
        val consolidated = graft.ops.IdaPipeline.consolidate(odsCleaned :+ csvCleaned)
        val url = "jdbc:derby:memory:graftdb;create=true"
        graft.io.JdbcSink.ensureDatabase(url)
        graft.io.JdbcSink.write(consolidated, url, "ida_consolidada",
          stringSql = "VARCHAR(255)")
        graft.ops.MetricsView.overIda(
          s.read.jdbc(url, "ida_consolidada", new java.util.Properties()))
      },
      Some(idaOracleFor(odsOracleRows ++ scmOracleRows,
        Seq("ALGAR", "CLARO", "OI", "SERCOMTEL", "TIM", "VIVO")))),

    // F5 — locale parse across all its branches: pt-BR thousands+comma,
    // bare comma-decimal, lossy multi-dot concat, invalid markers.
    "q_locale_number" -> QueryDef(
      "LocaleNumber.parse over synthesized pt-BR/multi-dot/invalid strings (main.py:531-582)",
      (s, dir) => {
        val en = format_number(col("l_extendedprice"), 2) // '1,234.56'
        val li = Tables.lineitem(s, dir)
          .withColumn("s_ptbr", translate(en, ",.", ".,")) // '1.234,56'
          .withColumn("s_comma", regexp_replace(regexp_replace(en, ",", ""), "\\.", ",")) // '1234,56'
          .withColumn("s_multidot", regexp_replace(en, ",", ".")) // '1.234.56' (lossy) or '234.56'
          .withColumn("s_invalid",
            when(col("l_orderkey") % 7 === 0, lit("ND"))
              .when(col("l_orderkey") % 7 === 1, lit("-"))
              .otherwise(translate(en, ",.", ".,")))
        li.groupBy("l_returnflag")
          .agg(
            round(sum(LocaleNumber.parseToDouble(col("s_ptbr"))), 2).as("sum_ptbr"),
            round(sum(LocaleNumber.parseToDouble(col("s_comma"))), 2).as("sum_comma"),
            round(sum(LocaleNumber.parseToDouble(col("s_multidot"))), 2).as("sum_multidot"),
            count(LocaleNumber.parseToDouble(col("s_invalid"))).as("n_valid"),
            round(sum(LocaleNumber.parseToDouble(col("s_invalid"))), 2).as("sum_valid"))
          .orderBy("l_returnflag")
      },
      // Round-trip identities: parse(ptbr(x)) = x; parse(multidot(x)) =
      // digits-concat = x*100 when a thousands dot existed (x >= 1000).
      Some("""SELECT l_returnflag,
             |  ROUND(SUM(l_extendedprice), 2) AS sum_ptbr,
             |  ROUND(SUM(l_extendedprice), 2) AS sum_comma,
             |  ROUND(SUM(CASE WHEN l_extendedprice >= 1000
             |                 THEN ROUND(l_extendedprice * 100, 0)
             |                 ELSE l_extendedprice END), 2) AS sum_multidot,
             |  COUNT(CASE WHEN l_orderkey % 7 NOT IN (0, 1) THEN 1 END) AS n_valid,
             |  ROUND(SUM(CASE WHEN l_orderkey % 7 NOT IN (0, 1)
             |                 THEN l_extendedprice END), 2) AS sum_valid
             |FROM lineitem
             |GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // F4 — trailing-zero trim ('0.10'→'0.1', '0.00'→'0').
    "q_trailing_zero" -> QueryDef(
      "CleanValues.trimTrailingZeros over formatted discounts (main.py:450-474)",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .withColumn("v", CleanValues.trimTrailingZeros(format_number(col("l_discount"), 2)))
          .groupBy("v")
          .agg(count(lit(1)).as("n"))
          .orderBy("v"),
      Some("""SELECT regexp_replace(regexp_replace(format('{:.2f}', l_discount),
             |         '(\.\d*?)0+$', '\1'), '\.$', '') AS v,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY v""".stripMargin)),

    // R1 — wide→long unpivot (Spark 4 Dataset.unpivot; main.py:482-518).
    "q_unpivot" -> QueryDef(
      "unpivot 3 measure columns to (metric, val) long form + rollup",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
          .unpivot(
            Array(col("l_orderkey"), col("l_linenumber")),
            Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
            "metric", "val")
          .groupBy("metric")
          .agg(count(lit(1)).as("n"), round(sum("val"), 2).as("sum_val"))
          .orderBy("metric"),
      Some("""SELECT metric, COUNT(*) AS n, ROUND(SUM(val), 2) AS sum_val
             |FROM (
             |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
             |  UNION ALL
             |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
             |  UNION ALL
             |  SELECT 'l_discount', l_discount FROM lineitem
             |)
             |GROUP BY metric ORDER BY metric""".stripMargin)),

    // The flagship (SparkEntry.entry): the reference's view over events.
    "metrics_view" -> QueryDef(
      "The reference's consolidacao_de_metricas view: month-over-month % variation " +
        "of average IDA per group (LAG + pivot + HAVING)",
      (s, dir) => graft.ops.MetricsView(Tables.events(s, dir)),
      Some(graft.ops.MetricsView.oracle)),

    // Two-pass dynamic-pivot form (the engine-API entry point users call
    // when the group list is not known up front). The testdata's
    // event_type domain equals MetricsView.eventTypes, so the collected
    // list — and therefore the result — matches the fixed-list oracle.
    "metrics_view_dynamic" -> QueryDef(
      "The flagship with the pivot group list collected from the data (two-pass " +
        "dynamic pivot), the reference's original dynamic-column shape",
      (s, dir) => graft.ops.MetricsView.dynamic(Tables.events(s, dir)),
      Some(graft.ops.MetricsView.oracle)),

    // The flagship view SHAPE over the orders fact table (SURVEY.md §7.0:
    // the consolidacao family re-expressed over orders as well as events):
    // month × priority avg -> LAG pct-change -> pivot -> HAVING -> DESC.
    "metrics_view_orders" -> QueryDef(
      "consolidacao shape over orders: monthly avg per priority, LAG pct-change, pivot",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        val monthly = Tables.orders(s, dir)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("mes"), col("o_orderpriority"))
          .agg(avg("o_totalprice").as("valor_atual"))
        val w = Window.partitionBy("o_orderpriority").orderBy("mes")
        // taxa_var deliberately UNROUNDED here (unlike the flagship's
        // reference-exact round-then-average): averaging 1dp-rounded
        // values lands exactly on .x5 boundaries, where cross-engine
        // summation-order ulps flip ROUND(x,1) — observed at sf0.001
        val taxa = monthly
          .withColumn("valor_anterior", lag(col("valor_atual"), 1).over(w))
          .filter(col("valor_anterior").isNotNull && col("valor_anterior") =!= 0)
          .withColumn("taxa_var",
            (col("valor_atual") - col("valor_anterior")) /
              when(col("valor_anterior") === 0, lit(null)).otherwise(col("valor_anterior")) * 100)
        val pivotCols = priorities.zipWithIndex.map { case (p, i) =>
          coalesce(round(avg(when(col("o_orderpriority") === p, col("taxa_var"))), 1), lit(0.0))
            .as(s"taxa_p${i + 1}")
        }
        taxa.groupBy("mes")
          .agg(round(avg(col("taxa_var")), 1).as("taxa_media"),
            pivotCols :+ countDistinct(col("o_orderpriority")).as("n_prio"): _*)
          .filter(col("n_prio") >= 2)
          .drop("n_prio")
          .orderBy(col("mes").desc)
      },
      Some {
        val pivot = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
          .zipWithIndex.map { case (p, i) =>
            s"COALESCE(ROUND(AVG(CASE WHEN o_orderpriority = '$p' THEN taxa_var END), 1), 0.0) AS taxa_p${i + 1}"
          }.mkString(", ")
        s"""WITH base AS (
           |  SELECT strftime(o_orderdate, '%Y-%m') AS mes, o_orderpriority,
           |         AVG(o_totalprice) AS valor_atual
           |  FROM orders GROUP BY 1, 2
           |), lagged AS (
           |  SELECT mes, o_orderpriority, valor_atual,
           |    LAG(valor_atual) OVER (PARTITION BY o_orderpriority ORDER BY mes) AS valor_anterior
           |  FROM base
           |), taxa AS (
           |  SELECT mes, o_orderpriority,
           |    (valor_atual - valor_anterior) / NULLIF(valor_anterior, 0) * 100 AS taxa_var
           |  FROM lagged WHERE valor_anterior IS NOT NULL AND valor_anterior <> 0
           |)
           |SELECT mes, ROUND(AVG(taxa_var), 1) AS taxa_media, $pivot
           |FROM taxa GROUP BY mes
           |HAVING COUNT(DISTINCT o_orderpriority) >= 2
           |ORDER BY mes DESC""".stripMargin
      }),

    // CSV round trip (S6 sink + S7 inferred reader) made oracle-checked:
    // a lineitem slice goes parquet → partitioned CSV (header) → CSV read
    // with schema inference → aggregation. The oracle aggregates the
    // ORIGINAL parquet, so the round trip must be a value-exact identity
    // — including doubles, which Spark prints shortest-repr and re-parses
    // bit-equal.
    "q_csv_roundtrip" -> QueryDef(
      "Parquet -> CSV -> read-back identity, aggregated per returnflag",
      (s, dir) => {
        val slice = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 20 === 0)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-csv").toString
        graft.io.CsvSink.write(slice, tmp)
        s.read.option("header", "true").option("inferSchema", "true").csv(tmp)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            (sum(round(col("l_extendedprice") * 100, 0).cast("long")) / 100.0)
              .as("sum_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
             |FROM lineitem WHERE l_orderkey % 20 = 0
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Gzip-compressed CSV ingest: the common interchange format for
    // exported feeds. SCALE NOTE: gzip is NON-SPLITTABLE — one task per
    // file regardless of size, so a 100 TB feed must arrive as many
    // files (or be re-compressed to bzip2/zstd-seekable) or parallelism
    // collapses to the file count; the write side here produces one
    // .csv.gz per partition, which is exactly that many-files shape.
    "q_csv_gzip" -> QueryDef(
      "CSV + gzip codec round trip, aggregated per priority",
      (s, dir) => {
        val slice = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 30 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-csvgz").toString
        slice.write.mode("overwrite")
          .option("header", "true").option("compression", "gzip")
          .csv(tmp)
        s.read
          .schema("o_orderkey LONG, o_orderpriority STRING, price_cents LONG")
          .option("header", "true")
          .csv(tmp)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM orders WHERE o_orderkey % 30 = 0
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Malformed-row tolerance: real CSV feeds carry broken lines (wrong
    // arity, uncastable fields) and a 100 TB ingest cannot abort on one.
    // A corrupt line is INJECTED after the write; the schema-bound
    // DROPMALFORMED read must shed exactly that line, so the aggregate
    // equals the clean original — which is what the oracle checks.
    "q_csv_malformed" -> QueryDef(
      "CSV ingest with an injected corrupt line: DROPMALFORMED sheds it, aggregate = clean",
      (s, dir) => {
        val slice = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 50 === 0)
          .select(col("o_orderkey"), col("o_orderpriority"),
            round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-csvbad").toString
        graft.io.CsvSink.write(slice, tmp, singleFile = true)
        // re-home the file before appending: Hadoop's local FS keeps a
        // .crc sidecar that a raw append invalidates (ChecksumException)
        val written = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".csv")).get.toPath
        val feedDir = java.nio.file.Files.createTempDirectory("graft-csvbad-feed")
        val feed = feedDir.resolve("feed.csv")
        java.nio.file.Files.copy(written, feed)
        java.nio.file.Files.writeString(feed,
          "not_a_number,BROKEN-LINE,also_not_a_number\n",
          java.nio.file.StandardOpenOption.APPEND)
        s.read
          .schema("o_orderkey LONG, o_orderpriority STRING, price_cents LONG")
          .option("header", "true").option("mode", "DROPMALFORMED")
          .csv(feedDir.toString)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM orders WHERE o_orderkey % 50 = 0
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Encoding-fallback ingest, oracle-gated end-to-end: a latin-1 TSV
    // (bytes that are INVALID utf-8, so detection must fall through to
    // ISO-8859-1) built deterministically from the nation dim, read via
    // CsvEncodingReader's detect-then-distributed-read path, header row
    // dropped, values compared byte-exact against the same accent
    // transformation computed by DuckDB on the source table. The file
    // write collects 25 dim rows — spreadsheet-scale ingest is
    // driver-side by design (SCALING.md "Ingest").
    "q_csv_latin1" -> QueryDef(
      "Latin-1 TSV with encoding detection: accented text survives byte-exact",
      (s, dir) => {
        val rows = Tables.nation(s, dir).select("n_nationkey", "n_name")
          .collect().sortBy(_.getAs[Number](0).longValue)
        val content = "chave\tnome\n" + rows.map { r =>
          s"${r.getAs[Number](0).longValue}\t${r.getString(1).replace('A', 'Ã').replace('E', 'É')}"
        }.mkString("\n") + "\n"
        val f = java.nio.file.Files.createTempFile("graft-latin1", ".tsv")
        java.nio.file.Files.write(f,
          content.getBytes(java.nio.charset.Charset.forName("ISO-8859-1")))
        graft.io.CsvEncodingReader.read(s, f.toString)
          .filter(col("_c0") =!= "chave") // header row is data until promoted
          .select(col("_c0").cast("long").as("chave"), col("_c1").as("nome"))
          .orderBy("chave")
      },
      Some("""SELECT n_nationkey AS chave,
             |  replace(replace(n_name, 'A', 'Ã'), 'E', 'É') AS nome
             |FROM nation ORDER BY chave""".stripMargin)),

    // JSON-lines round trip (same identity pattern as q_csv_roundtrip):
    // typed write -> schema-bound read-back -> aggregate; the oracle
    // aggregates the original parquet, so serialization must be lossless.
    "q_json_roundtrip" -> QueryDef(
      "Parquet -> JSON-lines -> read-back identity, aggregated per priority",
      (s, dir) => {
        val slice = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 25 === 0)
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"),
            col("o_orderpriority"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-json").toString
        slice.write.mode("overwrite").json(tmp)
        s.read.schema(slice.schema).json(tmp)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM orders WHERE o_orderkey % 25 = 0
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // JDBC round trip against embedded Derby (ships with Spark) — closes
    // the reference's database load path end-to-end (SURVEY.md §2.1
    // S8+S9, /root/reference/connect_postgre.py:209-321): ensureDatabase
    // bootstrap, typed-DDL overwrite write, JDBC read-back. The oracle
    // aggregates the ORIGINAL parquet, so the database round trip must be
    // a value-exact identity.
    "q_jdbc_roundtrip" -> QueryDef(
      "DataFrame -> Derby JDBC table (typed DDL) -> read-back identity per segment",
      (s, dir) => {
        derbyLogInit
        val url = "jdbc:derby:memory:graftdb;create=true"
        graft.io.JdbcSink.ensureDatabase(url)
        val slice = Tables.customer(s, dir)
          .filter(col("c_custkey") % 10 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            round(col("c_acctbal") * 100, 0).cast("long").as("acctbal_cents"),
            col("c_mktsegment"))
        graft.io.JdbcSink.write(slice, url, "customer_rt", stringSql = "VARCHAR(255)")
        s.read.jdbc(url, "customer_rt", new java.util.Properties())
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n"), sum("acctbal_cents").as("sum_cents"),
            min("c_custkey").as("min_key"), max("c_custkey").as("max_key"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents,
             |  MIN(c_custkey) AS min_key, MAX(c_custkey) AS max_key
             |FROM customer WHERE c_custkey % 10 = 0
             |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ODS round trip — the reference's PRIMARY ingest format
    // (/root/reference/main.py:259-276) finally oracle-gated: a frame goes
    // OdsWriter → .ods zip → format("ods") read (all-string, positional
    // columns) → the real pipeline header promotion (Reshape) → typed
    // re-cast. The oracle reads the ORIGINAL table, so the spreadsheet
    // round trip must be a value-exact identity.
    "q_ods_roundtrip" -> QueryDef(
      "DataFrame -> .ods file -> format(\"ods\") read + header promotion vs original",
      (s, dir) => {
        val nat = Tables.nation(s, dir)
          .orderBy("n_nationkey")
          .collect()
        // ODS is a driver-side exchange format (spreadsheet-sized by
        // construction): header row + all-string data rows
        val rows: Seq[Seq[String]] =
          Seq(Seq("n_nationkey", "n_name", "n_regionkey")) ++
            nat.map(r => Seq(r.getInt(0).toString, r.getString(1), r.getInt(2).toString)).toSeq
        val tmp = java.nio.file.Files.createTempDirectory("graft-ods").toString
        graft.io.OdsWriter.write(rows, s"$tmp/nation.ods")
        val raw = s.read.format("ods").load(s"$tmp/nation.ods")
        val promoted = graft.ops.Reshape.promoteHeader(
          graft.ops.Reshape.withRowIndex(raw), headerIdx = 0)
        promoted.select(
            col("n_nationkey").cast("int").as("n_nationkey"),
            col("n_name"),
            col("n_regionkey").cast("int").as("n_regionkey"))
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
             |FROM nation ORDER BY n_nationkey""".stripMargin)),

    // ORC round trip — the third columnar-interchange format next to
    // parquet and CSV; types survive natively so the schema is re-read.
    "q_orc_roundtrip" -> QueryDef(
      "Parquet -> ORC -> read-back identity, aggregated per returnflag",
      (s, dir) => {
        val slice = Tables.lineitem(s, dir)
          .filter(col("l_orderkey") % 25 === 0)
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity").cast("long").as("qty"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-orc").toString
        slice.write.mode("overwrite").orc(tmp)
        s.read.schema(slice.schema).orc(tmp)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem WHERE l_orderkey % 25 = 0
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Avro round trip through the engine's OWN DataSource V2
    // (io/AvroDataSource.scala — the spark-avro connector module is not
    // shipped in this distribution, so read AND write are implemented
    // directly on the Avro container-file library): an events slice
    // incl. its timestamp goes parquet -> snappy Avro (one file per
    // task, the many-files layout a 1000-executor write produces) ->
    // DSv2 read with embedded-writer-schema inference -> aggregation.
    // The oracle aggregates the ORIGINAL parquet, so string / long /
    // double / timestamp-micros values must survive both conversions
    // bit-exact. AvroSpec covers the remaining type surface (arrays,
    // decimal, binary, date, nulls).
    "q_avro_roundtrip" -> QueryDef(
      "Parquet -> Avro (own DSv2, write+read) -> read-back identity per event_type",
      (s, dir) => {
        graft.io.AvroDataSource.enable(s)
        val slice = Tables.events(s, dir)
          .filter(col("event_id") % 7 === 0)
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), col("ts"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-avro").toString
        slice.write.format("avro").mode("overwrite").save(tmp)
        s.read.format("avro").load(tmp)
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(round(col("value") * 100, 0).cast("long")).as("value_cents"),
            max(Tables.epochSeconds(col("ts"))).as("max_ts_s"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents,
             |  MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS max_ts_s
             |FROM events WHERE event_id % 7 = 0
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Globally range-sorted write (RangeSortedSink): repartitionByRange
    // samples balanced boundaries — a distributed total sort with no
    // driver involvement — so file N's keys all precede file N+1's and
    // parquet zone maps become perfectly selective for the sort key.
    // GlobalSortSpec proves the per-file ranges are disjoint + sorted;
    // the oracle proves the sorted layout is invisible in results.
    "q_global_sort" -> QueryDef(
      "Globally range-sorted parquet write + integrity read-back per ship-year",
      (s, dir) => {
        val slice = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
            col("l_quantity").cast("long").as("qty"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-rangesort").toString
        graft.io.RangeSortedSink.write(slice, tmp, numFiles = 8,
          col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        s.read.schema(slice.schema).parquet(tmp)
          .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
          .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"))
          .orderBy("ship_year")
      },
      Some("""SELECT EXTRACT(year FROM l_shipdate) AS ship_year, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem
             |GROUP BY ship_year ORDER BY ship_year""".stripMargin)),

    // Morton (z-order) routing key: the bit math behind ZOrderSink,
    // oracled value-by-value. The magic-mask spreading is plain integer
    // arithmetic on codegen'd built-ins, so DuckDB replays the identical
    // 8-4-2-1 shift cascade with `<<`, `&`, `|` and integer division —
    // the clustered-layout write (q_zorder_layout) then rides on a key
    // the driver has already hash-checked.
    "q_zorder_key" -> QueryDef(
      "Morton z-values of (user bucket, day index) — ZOrderSink's routing key",
      (s, dir) => {
        val u = graft.io.ZOrderSink.boundedBucket(col("user_id"), 1L << 20)
        val d = datediff(to_date(col("ts")), to_date(lit("2024-01-01"))).cast("long")
        Tables.events(s, dir)
          .filter(col("event_id") < 2000)
          .select(col("event_id"), u.as("u16"), d.as("d16"),
            graft.io.ZOrderSink.zValue(u, d).as("z"))
          .orderBy("event_id")
      },
      Some("""WITH b AS (
             |  SELECT event_id,
             |    (user_id * 65536) // 1048576 AS u16,
             |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d16
             |  FROM events WHERE event_id < 2000),
             |s1 AS (SELECT event_id, u16, d16,
             |  ((u16 & 65535) | ((u16 & 65535) << 8)) & 16711935 AS ua,
             |  ((d16 & 65535) | ((d16 & 65535) << 8)) & 16711935 AS da FROM b),
             |s2 AS (SELECT event_id, u16, d16,
             |  ((ua | (ua << 4)) & 252645135) AS ub,
             |  ((da | (da << 4)) & 252645135) AS db FROM s1),
             |s3 AS (SELECT event_id, u16, d16,
             |  ((ub | (ub << 2)) & 858993459) AS uc,
             |  ((db | (db << 2)) & 858993459) AS dc FROM s2),
             |s4 AS (SELECT event_id, u16, d16,
             |  ((uc | (uc << 1)) & 1431655765) AS ud,
             |  ((dc | (dc << 1)) & 1431655765) AS dd FROM s3)
             |SELECT event_id, u16, d16, ud | (dd << 1) AS z
             |FROM s4 ORDER BY event_id""".stripMargin)),

    // Z-order clustered write (ZOrderSink): range-partition + sort on
    // the Morton value of (user bucket, day), so per-file min/max stats
    // stay narrow on BOTH columns and a 2-D box predicate prunes files
    // on either dimension — the multi-column complement to
    // q_global_sort's 1-D total sort. ZOrderSpec proves the pruning
    // property on the actual footer stats; the oracle proves the
    // clustered layout is invisible in results (identity round trip).
    "q_zorder_layout" -> QueryDef(
      "Z-order clustered parquet write + 2-D box read-back vs original",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"),
            datediff(to_date(col("ts")), to_date(lit("2024-01-01")))
              .cast("long").as("day"),
            col("value"))
        // one STABLE layout dir per (sfDir, events content version) for
        // the JVM's lifetime: the clustered write (mode overwrite) still
        // runs on every invocation — it IS the operator under test — but
        // bench/plan-dump repeats rewrite in place instead of leaking a
        // directory per pass
        val tmp = graft.io.IndexCatalog.resolve(
          s, "zorder", s"$dir/events.parquet")(_ => ())
        graft.io.ZOrderSink.write(ev, tmp, numFiles = 8,
          graft.io.ZOrderSink.boundedBucket(col("user_id"), 1L << 20), col("day"))
        s.read.schema(ev.schema).parquet(tmp)
          .filter(col("user_id").between(3, 60) && col("day").between(5, 12))
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
            min("event_id").as("min_event"), max("event_id").as("max_event"))
      },
      Some("""SELECT COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value,
             |  MIN(event_id) AS min_event, MAX(event_id) AS max_event
             |FROM events
             |WHERE user_id BETWEEN 3 AND 60
             |  AND date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) BETWEEN 5 AND 12""".stripMargin)),

    // Partitioned-layout round trip: write a slice partitioned by
    // priority, read it back with a partition predicate. At 100 TB this
    // layout turns the filter into directory pruning — the scan never
    // opens non-matching partitions (PlanSpec asserts PartitionFilters).
    // Oracle aggregates the original table: the round trip must be the
    // identity.
    "q_partition_prune" -> QueryDef(
      "Parquet partitionBy write + partition-pruned read-back vs original",
      (s, dir) => {
        val slice = Tables.orders(s, dir)
          .filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("price_cents"),
            col("o_orderpriority"))
        val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
        slice.write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
        // explicit schema: an all-empty write leaves no footer to infer from
        s.read.schema(slice.schema).parquet(tmp)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("price_cents").as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM orders
             |WHERE o_orderkey % 10 = 0
             |  AND o_orderpriority IN ('1-URGENT', '5-LOW')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // DYNAMIC partition OVERWRITE (partitionOverwriteMode=dynamic) —
    // the daily-restatement write mode: overwriting with a frame that
    // touches ONE partition value replaces only that directory; every
    // other partition survives byte-for-byte. Static mode (the default)
    // would truncate the whole table first — the classic
    // restate-yesterday-wipe-everything accident. The fixture writes
    // the full events table partitioned by type, restates only 'click'
    // with doubled values, and aggregates the read-back; the oracle
    // computes the post-restatement truth directly, so a wiped or
    // duplicated partition is a hash failure. The session conf is
    // restored in a finally — write modes must not leak across queries.
    "q_dynamic_overwrite" -> QueryDef(
      "Dynamic partition overwrite restates one partition; the rest survive",
      (s, dir) => {
        def evSel = Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
        val root = graft.io.IndexCatalog.resolve(
          s, "dyn-overwrite", s"$dir/events.parquet") { tmp =>
          val ev = evSel
          ev.write.partitionBy("event_type").parquet(s"$tmp/t")
          val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
          s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
          try
            ev.filter(col("event_type") === "click")
              .withColumn("value", round(col("value") * 2, 2))
              .write.mode("overwrite").partitionBy("event_type").parquet(s"$tmp/t")
          finally prev match {
            case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
            case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
          }
        }
        // explicit schema: an all-empty table leaves no footer to infer from
        s.read.schema(evSel.schema).parquet(s"$root/t")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"),
            count_distinct(col("event_id")).as("n_ids"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  ROUND(SUM(CASE WHEN event_type = 'click'
             |                 THEN ROUND(value * 2, 2) ELSE value END), 2)
             |    AS sum_value,
             |  COUNT(DISTINCT event_id) AS n_ids
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // DYNAMIC partition pruning — q_partition_prune's static filter
    // replaced by a dim-side predicate the optimizer cannot see at plan
    // time: the fact is partitioned by the join key, the dim carries the
    // filtered attribute, and Spark injects the dim's qualifying keys as
    // a runtime PartitionFilter on the fact scan (reusing the broadcast
    // exchange). At 100 TB this is THE star-schema scan killer — the
    // fact directory listing shrinks before any data is read, driven by
    // a predicate only the dim knows. PlanSpec asserts the
    // dynamicpruning expression is present on the scan.
    "q_dpp_join" -> QueryDef(
      "Dim-filtered star join with dynamic partition pruning on the partitioned fact",
      (s, dir) => {
        val lay = graft.io.IndexCatalog.resolve(
          s, "dpp-layout", s"$dir/orders.parquet") { tmp =>
          Tables.orders(s, dir)
            .select(col("o_orderkey"),
              round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
              col("o_orderpriority"))
            .write.partitionBy("o_orderpriority").mode("overwrite")
            .parquet(s"$tmp/fact")
          // the dim must be FILE-backed: a LocalRelation dim gets its
          // filter constant-folded away (ConvertToLocalRelation), and
          // with no visible selective predicate the optimizer never
          // injects the dynamic pruning subquery
          s.createDataFrame(Seq(
            ("1-URGENT", "fast"), ("2-HIGH", "fast"), ("3-MEDIUM", "mid"),
            ("4-NOT SPECIFIED", "slow"), ("5-LOW", "slow")))
            .toDF("o_orderpriority", "speed")
            .coalesce(1).write.mode("overwrite").parquet(s"$tmp/dim")
        }
        val dim = Tables.read(s, s"$lay/dim")
        // explicit schema: an all-empty partitioned write leaves no
        // partition dirs or footers to infer from (partition column
        // matched by name)
        s.read.schema("o_orderkey BIGINT, cents BIGINT, o_orderpriority STRING")
          .parquet(s"$lay/fact")
          .join(dim.filter(col("speed") === "fast"), Seq("o_orderpriority"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM orders
             |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // File-level data skipping (io/FileSkipIndex): a range-sorted layout
    // plus a standing min/max/count index per file — the manifest-stats
    // pattern of a lake table format, owned by the engine. The read path
    // consults the tiny index, opens ONLY the files whose envelope
    // intersects the predicate (FileSkipIndexSpec proves the file-list
    // shrinkage), and re-applies the exact predicate. Complements
    // q_partition_prune (directory-level) and q_zorder_layout
    // (multi-dim): at 100 TB this skips objects WITHOUT reading footers.
    "q_fileskip_prune" -> QueryDef(
      "Range-sorted layout + min/max file index: pruned range read vs original",
      (s, dir) => {
        val idx = fileskipIndexDir(s, dir)
        val schema = Tables.schemaOf(s, s"$idx/data")
        graft.io.FileSkipIndex.prunedRead(
            s, Tables.read(s, s"$idx/index"), schema, "l_orderkey", 1000L, 3000L)
          .agg(count(lit(1)).as("n"),
            count_distinct(col("l_orderkey")).as("n_orders"),
            sum("qty").as("sum_qty"),
            min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
      },
      Some("""SELECT COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS n_orders,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
             |FROM lineitem
             |WHERE l_orderkey BETWEEN 1000 AND 3000""".stripMargin)),

    // Metadata-only range aggregation over the SAME standing index:
    // COUNT/SUM answered from per-file index rows for every file whose
    // envelope sits fully inside the range; only the (≤2 on a sorted
    // layout) boundary files are read and residual-filtered. The oracle
    // is the plain full-scan SQL — so the driver hash-gate proves the
    // metadata path computes the identical answer while touching almost
    // no data. The lake-format "aggregate from manifests" trick as an
    // engine primitive.
    "q_fileskip_agg" -> QueryDef(
      "Manifest-style COUNT/SUM: index rows for covered files + boundary-file residual",
      (s, dir) => {
        val idx = fileskipIndexDir(s, dir)
        val schema = Tables.schemaOf(s, s"$idx/data")
        graft.io.FileSkipIndex.metadataRangeAgg(
          s, Tables.read(s, s"$idx/index"), schema, "l_orderkey", 500L, 20000L, "qty")
      },
      Some("""SELECT COUNT(*) AS n_rows,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
             |FROM lineitem
             |WHERE l_orderkey BETWEEN 500 AND 20000""".stripMargin)),

    // Per-file BLOOM skipping (io/FileSkipIndex.buildBloom) — the point
    // lookup the min/max index CANNOT serve: the layout is
    // hash-distributed on a near-unique key, so every file's envelope
    // spans the whole domain, but each file's 4096-bit Bloom answers
    // "could this file contain the key?" with no false negatives. The
    // probe touches the candidate files only (FileSkipIndexSpec proves
    // ~1 of 16 files read) and the residual equality discards false
    // positives. At 100 TB this is the needle-in-haystack primary-key
    // fetch: a metadata-sized index probe + one object read instead of
    // a corpus scan. Oracle = the plain full-scan lookup.
    "q_fileskip_bloom" -> QueryDef(
      "Bloom-index point lookup on a hash-distributed layout: ~1 file read of 16",
      (s, dir) => {
        val idx = bloomIndexDir(s, dir)
        val schema = Tables.schemaOf(s, s"$idx/data")
        graft.io.FileSkipIndex.bloomPointRead(
            s, Tables.read(s, s"$idx/index"), schema, "line_uid", 10001L)
          .select(col("l_orderkey"),
            col("l_linenumber").cast("long").as("lineno"), col("qty"))
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS lineno,
             |  CAST(l_quantity AS BIGINT) AS qty
             |FROM lineitem
             |WHERE l_orderkey * 10 + l_linenumber = 10001""".stripMargin)),

    // Schema evolution — the lake-table reality a long-lived 100 TB
    // dataset cannot avoid: early batches were written before a column
    // existed, later batches carry it, and ONE mergeSchema read serves
    // both vintages (old files surface the new column as null; no
    // rewrite of petabytes of history). The oracle recomputes the same
    // rollup from the source table, so the hash gate proves the merged
    // read loses nothing across the schema boundary.
    "q_schema_evolution" -> QueryDef(
      "mergeSchema read across two batch vintages (column added mid-history)",
      (s, dir) => {
        val lay = graft.io.IndexCatalog.resolve(
          s, "schema-evo", s"$dir/orders.parquet") { tmp =>
          val base = Tables.orders(s, dir)
            .select(col("o_orderkey"),
              round(col("o_totalprice") * 100, 0).cast("long").as("cents"),
              col("o_orderpriority"))
          base.filter(col("o_orderkey") % 2 === 0)
            .select("o_orderkey", "cents")
            .write.mode("overwrite").parquet(s"$tmp/t/batch=a")
          base.filter(col("o_orderkey") % 2 === 1)
            .withColumn("channel", col("o_orderpriority"))
            .select("o_orderkey", "cents", "channel")
            .write.mode("overwrite").parquet(s"$tmp/t/batch=b")
        }
        s.read.option("mergeSchema", "true")
          .schema("o_orderkey BIGINT, cents BIGINT, channel STRING, batch STRING")
          .parquet(s"$lay/t")
          .groupBy(coalesce(col("channel"), lit("legacy")).as("channel"))
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .orderBy("channel")
      },
      Some("""SELECT
             |  CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
             |       ELSE 'legacy' END AS channel,
             |  COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
             |FROM orders GROUP BY 1 ORDER BY channel""".stripMargin)),

    // Small-file compaction (io/Compactor): a 64-fragment layout —
    // what a streaming sink or drip-feed load leaves behind — rewritten
    // in place into 8 range-sorted files (write tmp → rename swap, so a
    // racing reader sees old or new, never a mix). The oracle is the
    // plain aggregate over the source table: compaction must be
    // READ-INVISIBLE, and the hash gate proves it bit-for-bit. The
    // rewrite also restores tight FileSkipIndex envelopes
    // (CompactorSpec asserts the clustering).
    "q_compact_roundtrip" -> QueryDef(
      "64-fragment layout compacted in place to 8 sorted files; result unchanged",
      (s, dir) => {
        val cdir = graft.io.IndexCatalog.resolve(
          s, "compact", s"$dir/lineitem.parquet") { tmp =>
          val slice = Tables.lineitem(s, dir)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_quantity").cast("long").as("qty"))
          slice.repartition(64).write.mode("overwrite").parquet(s"$tmp/t")
          graft.io.Compactor.compact(s, s"$tmp/t", numFiles = 8,
            col("l_orderkey"), col("l_linenumber"))
          ()
        }
        Tables.read(s, s"$cdir/t")
          .groupBy(pmod(col("l_orderkey"), lit(7L)).as("bucket"))
          .agg(count(lit(1)).as("n"), sum("qty").as("sum_qty"),
            min("l_orderkey").as("min_key"), max("l_orderkey").as("max_key"))
          .orderBy("bucket")
      },
      Some("""SELECT l_orderkey % 7 AS bucket, COUNT(*) AS n,
             |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             |  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
             |FROM lineitem
             |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Position-delete read path (io/DeletionVectors) — DELETE without
    // rewriting a single data file, the other half of the lakehouse
    // write story beside q_compact_roundtrip's rewrite: two delete
    // commits record (file_path, row_index) tombstones via the parquet
    // reader's own _metadata columns (cost rides matched rows), and the
    // read anti-joins them back (tombstones broadcast — the small-delete
    // regime where deletion vectors beat rewriting at all). The oracle
    // replays both predicates as a plain NOT(...) filter on the source
    // table, so the hash gate pins delete semantics bit-for-bit,
    // including the overlap where one row matches both commits.
    "q_delete_vectors" -> QueryDef(
      "Two position-delete commits applied at read time; no data file rewritten",
      (s, dir) => {
        val ddir = graft.io.IndexCatalog.resolve(
          s, "delvec", s"$dir/orders.parquet") { tmp =>
          Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_orderstatus"),
              round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
            .repartition(8)
            .write.mode("overwrite").parquet(s"$tmp/t")
          graft.io.DeletionVectors.delete(s, s"$tmp/t", s"$tmp/dv",
            col("o_orderstatus") === "F" && col("o_orderkey") % 3 === 0)
          graft.io.DeletionVectors.delete(s, s"$tmp/t", s"$tmp/dv",
            pmod(col("cents"), lit(10L)) === 7)
          ()
        }
        graft.io.DeletionVectors.read(s, s"$ddir/t", s"$ddir/dv")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .orderBy("o_orderstatus")
      },
      Some("""WITH t AS (
             |  SELECT o_orderkey, o_orderstatus,
             |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
             |  FROM orders)
             |SELECT o_orderstatus, COUNT(*) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS sum_cents
             |FROM t
             |WHERE NOT ((o_orderstatus = 'F' AND o_orderkey % 3 = 0)
             |        OR cents % 10 = 7)
             |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // Commit-log time travel (io/VersionedTable) — snapshot isolation
    // and history on plain parquet: three commits (overwrite, append,
    // overwrite-that-drops-a-type, the GDPR-purge shape) each publish a
    // checkpoint-style manifest with an atomic rename, and the SAME
    // query runs at versions 1, 2, and 3 off one small manifest read
    // each — no log replay, immutable data dirs, so concurrent readers
    // at different versions never interfere. The oracle replays each
    // version's visible-row definition from the source table; the hash
    // gate proves every historical snapshot resolves exactly.
    "q_time_travel" -> QueryDef(
      "Same aggregate at table versions 1/2/3 across overwrite+append history",
      (s, dir) => {
        val tdir = graft.io.IndexCatalog.resolve(
          s, "timetravel", s"$dir/events.parquet") { tmp =>
          val ev = Tables.events(s, dir)
            .select(col("event_id"), col("event_type"),
              round(col("value") * 100, 0).cast("long").as("cents"))
          graft.io.VersionedTable.commit(s, s"$tmp/t",
            ev.filter(col("event_id") % 2 === 0), overwrite = true)
          graft.io.VersionedTable.commit(s, s"$tmp/t",
            ev.filter(col("event_id") % 2 === 1))
          graft.io.VersionedTable.commit(s, s"$tmp/t",
            ev.filter(col("event_type") =!= "click"), overwrite = true)
          ()
        }
        def at(v: Int) = graft.io.VersionedTable
          .readAt(s, s"$tdir/t", Some(v))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .withColumn("version", lit(v))
        at(1).unionAll(at(2)).unionAll(at(3))
          .select("version", "event_type", "n", "sum_cents")
          .orderBy("version", "event_type")
      },
      Some("""WITH e AS (
             |  SELECT event_id, event_type,
             |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
             |  FROM events),
             |v AS (
             |  SELECT 1 AS version, event_type, cents FROM e
             |  WHERE event_id % 2 = 0
             |  UNION ALL
             |  SELECT 2, event_type, cents FROM e
             |  UNION ALL
             |  SELECT 3, event_type, cents FROM e
             |  WHERE event_type <> 'click')
             |SELECT version, event_type, COUNT(*) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS sum_cents
             |FROM v GROUP BY version, event_type
             |ORDER BY version, event_type""".stripMargin)),

    // Minor compaction as a COMMIT (io/VersionedTable.compactCommits) —
    // the q_compact_roundtrip maintenance pass upgraded with snapshot
    // isolation: a fragmented per-batch history (three exactly-once
    // commitBatch commits, the streaming-ingest residue) merges into one
    // range-sorted dir whose swap is ONE manifest rename — no
    // between-renames not-found instant, and the pre-compaction version
    // stays time-travelable until vacuum. The oracle is the plain
    // aggregate over the source rows: compaction must be read-invisible
    // at the latest snapshot, and the hash gate proves it bit-for-bit.
    "q_versioned_compact" -> QueryDef(
      "Per-batch commit history minor-compacted as a new version; result unchanged",
      (s, dir) => {
        val tdir = graft.io.IndexCatalog.resolve(
          s, "vercompact", s"$dir/events.parquet") { tmp =>
          val ev = Tables.events(s, dir)
            .select(col("event_id"), col("event_type"), col("user_id"),
              round(col("value") * 100, 0).cast("long").as("cents"))
          (0 until 3).foreach { b =>
            graft.io.VersionedTable.commitBatch(
              s, s"$tmp/t", ev.filter(pmod(col("event_id"), lit(3L)) === b), b.toLong)
          }
          graft.io.VersionedTable.compactCommits(
            s, s"$tmp/t", numFiles = 2, col("user_id"))
          ()
        }
        graft.io.VersionedTable.readAt(s, s"$tdir/t")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            count_distinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             |    AS sum_cents,
             |  COUNT(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Snapshot-expiry GC (io/VersionedTable.vacuum) — the lifecycle
    // piece after time travel / WAP / merge / compaction: manifests
    // below the retention floor are deleted and every data directory no
    // retained manifest references is physically removed. The history
    // is built so the expired set is EXACTLY KNOWN (v1 overwrite dir +
    // v2 append delta — v3 is an overwrite, so it references only its
    // own dir): the vacuum counters land in the gated output as data,
    // and the latest snapshot must read back bit-identically AFTER its
    // history is gone — GC must be read-invisible at the retained
    // version, which is the whole contract. Counters persist beside the
    // table so the once-per-corpus-version build (IndexCatalog) serves
    // cache hits too. Scale: vacuum is manifest-count file ops + one
    // directory listing — no data is read, ever.
    "q_versioned_vacuum" -> QueryDef(
      "Vacuum expires v1/v2 (2 manifests + 2 data dirs); latest snapshot unchanged",
      (s, dir) => {
        val tdir = graft.io.IndexCatalog.resolve(
          s, "vervacuum", s"$dir/events.parquet") { tmp =>
          val ev = Tables.events(s, dir)
            .select(col("event_id"), col("event_type"),
              round(col("value") * 100, 0).cast("long").as("cents"))
          graft.io.VersionedTable.commit(s, s"$tmp/t",
            ev.filter(col("event_id") % 2 === 0), overwrite = true)
          graft.io.VersionedTable.commit(s, s"$tmp/t",
            ev.filter(col("event_id") % 2 === 1))
          graft.io.VersionedTable.commit(s, s"$tmp/t",
            ev.filter(col("event_type") =!= "click"), overwrite = true)
          val (nm, nd) = graft.io.VersionedTable.vacuum(s, s"$tmp/t", keepFrom = 3)
          import s.implicits._
          Seq((nm.toLong, nd.toLong)).toDF("manifests_removed", "dirs_removed")
            .coalesce(1).write.parquet(s"$tmp/gc")
          ()
        }
        val gc = Tables.read(s, s"$tdir/gc")
        graft.io.VersionedTable.readAt(s, s"$tdir/t")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .crossJoin(broadcast(gc))
          .select("event_type", "n", "sum_cents", "manifests_removed", "dirs_removed")
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
             |    AS sum_cents,
             |  CAST(2 AS BIGINT) AS manifests_removed,
             |  CAST(2 AS BIGINT) AS dirs_removed
             |FROM events WHERE event_type <> 'click'
             |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Row-level MERGE as a COMMIT (io/VersionedTable.merge) — q_upsert's
    // full-outer/COALESCE semantics upgraded with atomicity and history:
    // updates reprice the %10 keys, inserts add synthetic keys beyond
    // the domain, a delete PREDICATE (never a collected key list) drops
    // the %7 keys, and the whole merge publishes as one OVERWRITE
    // version — readers see pre-merge or post-merge, never a torn mix,
    // and version 1 stays time-travelable. The query aggregates BOTH
    // snapshots so the oracle pins the before AND after states through
    // one hash.
    "q_versioned_merge" -> QueryDef(
      "MERGE (update+insert+delete) published as an atomic version; both snapshots gated",
      (s, dir) => {
        val tdir = graft.io.IndexCatalog.resolve(
          s, "vermerge", s"$dir/orders.parquet") { tmp =>
          val base = Tables.orders(s, dir)
            .select(col("o_orderkey"), col("o_orderstatus"),
              round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
          graft.io.VersionedTable.commit(s, s"$tmp/t", base)
          val updates = base.filter(col("o_orderkey") % 10 === 0)
            .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
              expr("cents * 11 DIV 10").as("cents"))
          val inserts = base.filter(col("o_orderkey") % 1000 === 1)
            .select((col("o_orderkey") + 10000000000L).as("o_orderkey"),
              lit("N").as("o_orderstatus"), col("cents"))
          graft.io.VersionedTable.merge(s, s"$tmp/t",
            updates.unionAll(inserts), "o_orderkey",
            delete = Some(col("o_orderkey") % 7 === 0))
          ()
        }
        def at(v: Int) = graft.io.VersionedTable
          .readAt(s, s"$tdir/t", Some(v))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
          .withColumn("version", lit(v))
        at(1).unionAll(at(2))
          .select("version", "o_orderstatus", "n", "sum_cents")
          .orderBy("version", "o_orderstatus")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey, o_orderstatus,
             |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
             |  FROM orders),
             |merged AS (
             |  SELECT o_orderkey,
             |    CASE WHEN o_orderkey % 10 = 0 THEN 'R'
             |         ELSE o_orderstatus END AS o_orderstatus,
             |    CASE WHEN o_orderkey % 10 = 0 THEN cents * 11 // 10
             |         ELSE cents END AS cents
             |  FROM base
             |  UNION ALL
             |  SELECT o_orderkey + 10000000000, 'N', cents
             |  FROM base WHERE o_orderkey % 1000 = 1),
             |v AS (
             |  SELECT 1 AS version, o_orderstatus, cents FROM base
             |  UNION ALL
             |  SELECT 2, o_orderstatus, cents FROM merged
             |  WHERE o_orderkey % 7 <> 0)
             |SELECT version, o_orderstatus, COUNT(*) AS n,
             |  CAST(SUM(cents) AS BIGINT) AS sum_cents
             |FROM v GROUP BY version, o_orderstatus
             |ORDER BY version, o_orderstatus""".stripMargin)),

    // Incremental upsert — the scale-friendly alternative to the
    // reference's DROP-and-recreate load (connect_postgre.py:240): new
    // keys inserted, existing keys updated, absent keys kept, as one
    // full-outer join with per-column COALESCE. At 100 TB the same shape
    // backs a MERGE INTO against a keyed table layout.
    "q_upsert" -> QueryDef(
      "Full-outer-join upsert of a 10%-repriced order slice into orders",
      (s, dir) => {
        // all money math in integer CENTS: round(x*1.1, 2) on doubles
        // hits half-up ties that Spark (BigDecimal) and DuckDB resolve
        // differently by 1 cent, and double sums drift by partial-sum
        // order; integer cents are exact in both engines everywhere
        val base = Tables.orders(s, dir)
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100, 0).cast("long").as("b_cents"),
            col("o_orderstatus"))
        val updates = base.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"),
            expr("b_cents * 11 DIV 10").as("u_cents"),
            lit("R").as("u_orderstatus"))
        base.join(updates, Seq("o_orderkey"), "full_outer")
          .select(col("o_orderkey"),
            coalesce(col("u_cents"), col("b_cents")).as("cents"),
            coalesce(col("u_orderstatus"), col("o_orderstatus")).as("status"))
          .groupBy("status")
          .agg(count(lit(1)).as("n"),
            (sum("cents") / 100.0).as("total_price"))
          .orderBy("status")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey,
             |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS b_cents,
             |    o_orderstatus
             |  FROM orders),
             |updates AS (
             |  SELECT o_orderkey, b_cents * 11 // 10 AS u_cents,
             |         'R' AS u_orderstatus
             |  FROM base WHERE o_orderkey % 10 = 0),
             |merged AS (
             |  SELECT COALESCE(u.u_cents, b.b_cents) AS cents,
             |         COALESCE(u.u_orderstatus, b.o_orderstatus) AS status
             |  FROM base b FULL OUTER JOIN updates u USING (o_orderkey))
             |SELECT status, COUNT(*) AS n,
             |  CAST(SUM(cents) AS BIGINT) / 100.0 AS total_price
             |FROM merged GROUP BY status ORDER BY status""".stripMargin)),

    // R2 — long→wide dynamic pivot (groupBy().pivot(), README.md:167-203).
    "q_pivot_wide" -> QueryDef(
      "groupBy(day).pivot(event_type) daily value sums (manual-pivot analogue)",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(to_date(col("ts")).as("dia"))
          .pivot("event_type", graft.ops.MetricsView.eventTypes)
          .agg(round(sum("value"), 2))
          .orderBy("dia"),
      Some("""SELECT CAST(ts AS DATE) AS dia,
             |  ROUND(SUM(CASE WHEN event_type = 'click'    THEN value END), 2) AS click,
             |  ROUND(SUM(CASE WHEN event_type = 'error'    THEN value END), 2) AS error,
             |  ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
             |  ROUND(SUM(CASE WHEN event_type = 'signup'   THEN value END), 2) AS signup,
             |  ROUND(SUM(CASE WHEN event_type = 'view'     THEN value END), 2) AS view
             |FROM events
             |GROUP BY 1 ORDER BY dia""".stripMargin))
  )
}
