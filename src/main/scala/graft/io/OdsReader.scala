package graft.io

import java.io.InputStream
import java.util.zip.ZipInputStream
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable.ArrayBuffer

/** ODS (OpenDocument Spreadsheet) parsing (SURVEY.md §2.1 S4; reference
  * reads ODS via pandas+odfpy, main.py:259-276).
  *
  * No Spark ODS source exists. An .ods file is a zip whose
  * `content.xml` holds `table:table-row` / `table:table-cell` elements;
  * a StAX parse suffices for spreadsheet-sized files (they are small by
  * construction — this is an ingest format, not a data-lake format).
  * Every cell is read as a STRING, matching the reference's `dtype=str`
  * read: at this stage column names are still buried in the data
  * (header promotion happens later in the pipeline).
  *
  * This object only parses. The one way from an .ods file to a DataFrame
  * is the DataSource V2 source built on it, [[OdsDataSource]]:
  * `spark.read.format("ods").load(path)`.
  */
object OdsReader {

  /** Bound on `table:number-columns-repeated` expansion for EMPTY-string
    * cells (`<text:p/>` with a repeat count): wide enough for any real
    * spreadsheet, small enough that a hostile repeat count cannot balloon
    * a row in driver memory. Null filler cells collapse to 1 regardless.
    */
  private val MaxEmptyRepeat = 4096

  /** Per-JVM parse memo keyed on (path, content digest): the DSv2 path
    * parses each file TWICE per query — once on the driver for
    * inferSchema (width only) and once in the reader task — and the
    * composed e2e queries re-read the same fixture files per run. The
    * cache collapses those to one StAX parse per file content per JVM.
    * Spreadsheets are small by construction (see the scale note above),
    * so hashing the bytes is cheap and makes the key exact — a
    * same-length rewrite inside mtime granularity re-parses, where a
    * (length, mtime) key would serve stale rows. Access-order LRU with
    * per-entry eviction keeps a many-files workload from accreting
    * without the old wholesale clear().
    */
  private val parsed =
    new java.util.LinkedHashMap[String, Seq[Seq[String]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[Seq[String]]]): Boolean = size > 64
    }

  def readRowsCached(path: String): Seq[Seq[String]] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val digest = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
    val key = path + "|" + java.util.Base64.getEncoder.encodeToString(digest)
    parsed.synchronized(Option(parsed.get(key))) match {
      case Some(rows) => rows
      case None =>
        // parse outside the lock: concurrent misses may parse twice,
        // converging to the same value — better than serializing parses
        val rows = readRows(new java.io.ByteArrayInputStream(bytes))
        parsed.synchronized(parsed.put(key, rows))
        rows
    }
  }

  /** Unzip → locate content.xml → parse the first table's rows. */
  def readRows(in: InputStream): Seq[Seq[String]] = {
    val zip = new ZipInputStream(in)
    try {
      Iterator.continually(zip.getNextEntry)
        .takeWhile(_ != null)
        .find(_.getName == "content.xml")
        .map(_ => parseContentXml(zip))
        .getOrElse(throw new IllegalArgumentException("not an ODS file: no content.xml"))
    } finally zip.close()
  }

  /** StAX parse of content.xml: first table:table only; honors
    * table:number-columns-repeated; cell text is the concatenation of its
    * text:p children; trailing empty cells (the huge repeated filler ODS
    * writers emit) are trimmed.
    */
  def parseContentXml(in: InputStream): Seq[Seq[String]] = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(in)

    val rows = ArrayBuffer[Seq[String]]()
    var row: ArrayBuffer[String] = null
    var cellText: StringBuilder = null
    var cellRepeat = 1
    var sawP = false
    var inText = false
    var tableDepth = 0
    var tablesSeen = 0

    while (r.hasNext && tablesSeen < 2) {
      r.next() match {
        case XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "table" if r.getName.getPrefix == "table" =>
              tablesSeen += 1; tableDepth += 1
            case "table-row" if tablesSeen == 1 =>
              row = ArrayBuffer[String]()
            case "table-cell" | "covered-table-cell" if row != null =>
              cellText = new StringBuilder
              sawP = false
              cellRepeat = Option(r.getAttributeValue(
                "urn:oasis:names:tc:opendocument:xmlns:table:1.0", "number-columns-repeated"))
                .map(_.toInt).getOrElse(1)
            case "p" if cellText != null =>
              sawP = true
              inText = true
            case _ =>
          }
        case XMLStreamConstants.CHARACTERS if inText =>
          cellText.append(r.getText)
        case XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "p" => inText = false
            case "table-cell" | "covered-table-cell" if row != null && cellText != null =>
              val v = cellText.toString
              // a cell with NO text:p is null; a text:p with no text is
              // the empty string (the writer emits exactly this shape) —
              // distinguishing the two makes "" round-trip instead of
              // silently collapsing to null
              val isNull = !sawP && v.isEmpty
              // cap absurd repeats of filler cells: null cells collapse to
              // one (foreign files pad rows with 16k null fillers), and a
              // repeated EMPTY string is capped too — a hostile
              // <text:p/> + number-columns-repeated=10^9 must not expand
              // in memory. repeat=1 keeps "" distinct from null.
              val rep =
                if (isNull) math.min(cellRepeat, 1)
                else if (v.isEmpty) math.min(cellRepeat, MaxEmptyRepeat)
                else cellRepeat
              (0 until rep).foreach(_ => row += (if (isNull) null else v))
              cellText = null
            case "table-row" if row != null =>
              rows += row.toSeq
              row = null
            case "table" => tableDepth -= 1
            case _ =>
          }
        case _ =>
      }
    }
    r.close()
    // drop fully-empty trailing rows
    rows.toSeq.reverse.dropWhile(_.forall(_ == null)).reverse
  }
}
