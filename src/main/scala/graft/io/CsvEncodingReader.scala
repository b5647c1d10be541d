package graft.io

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{Charset, CodingErrorAction}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** CSV/TSV reader with encoding fallback (SURVEY.md §2.1 S5; reference
  * tries utf-8 → latin-1 → iso-8859-1 → cp1252,
  * /root/reference/main.py:308-324).
  *
  * Spark's CSV reader does not validate encodings (malformed bytes become
  * replacement chars silently), so detection is explicit: strict-decode a
  * sample of the file on the driver and pick the first charset that
  * decodes cleanly, then hand that charset to the distributed read. The
  * detection cost is O(sample), the read stays fully distributed.
  */
object CsvEncodingReader {

  /** Reference's fallback chain (latin-1 and iso-8859-1 are the same
    * charset in Java; windows-1252 is the cp1252 superset).
    */
  val Encodings: Seq[String] = Seq("UTF-8", "ISO-8859-1", "windows-1252")

  /** First charset that strict-decodes the first `sampleBytes` of the
    * file. ISO-8859-1 maps every byte, so it only ever falls through on
    * charsets before it in the chain. A sample shorter than the file is
    * decoded as a prefix (`endOfInput = false`): it may end inside a
    * multibyte character, and only an error, not a sequence cut short at
    * the end, rejects the charset.
    */
  def detectEncoding(path: String, sampleBytes: Int = 1 << 20): String = {
    val f = Paths.get(path)
    val fileSize = Files.size(f)
    val size = math.min(fileSize, sampleBytes.toLong).toInt
    val in = Files.newInputStream(f)
    val buf = try in.readNBytes(size) finally in.close()
    Encodings.find { enc =>
      val dec = Charset.forName(enc).newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
      val out = CharBuffer.allocate(math.ceil(size * dec.maxCharsPerByte.toDouble).toInt)
      !dec.decode(ByteBuffer.wrap(buf), out, size == fileSize).isError
    }.getOrElse("ISO-8859-1")
  }

  /** Widest row [[read]] accepts: 64 columns covers 5 years of a monthly
    * ANATEL sheet (2 id columns + 12 months per year).
    */
  private val MaxCols = 64

  /** All-string, tab-separated, headerless read (header rows are data
    * until the pipeline promotes them — main.py:320's header=None,
    * dtype=str). The schema holds one column past the 64 accepted: Spark's
    * PERMISSIVE mode would silently drop the fields of a wider row, so a
    * value in that column fails the read instead.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val enc = detectEncoding(path)
    val schema = StructType((0 to MaxCols).map(i => StructField(s"_c$i", StringType)))
    val raw = spark.read
      .option("sep", "\t")
      .option("encoding", enc)
      .option("header", "false")
      .schema(schema)
      .csv(path)
    // one job counts the non-null cells of every column: it finds the
    // too-wide rows and the all-null padding past the widest real row
    val nonNullCounts = raw.columns.map(c =>
      org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.col(c)).as(c))
    val counts = raw.agg(nonNullCounts.head, nonNullCounts.tail: _*).collect()(0)
    require(counts.getLong(MaxCols) == 0,
      s"$path has rows wider than $MaxCols columns")
    val keep = raw.columns.zipWithIndex.filter { case (_, i) => counts.getLong(i) > 0 }.map(_._1)
    raw.select(keep.map(org.apache.spark.sql.functions.col): _*)
  }
}
