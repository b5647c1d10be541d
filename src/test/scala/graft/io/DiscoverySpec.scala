package graft.io

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The discovery→download chain (reference main.py:35-116, 347-369)
  * driven end-to-end through the injectable [[Transport]] seam: dataset
  * search, resource listing, relevance filter, and the auth-fallback
  * download retry — all against a canned double that records every
  * request, so the HTTP contract (urls, headers, retry order) is pinned
  * without egress.
  */
class DiscoverySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Records (url, headers) per call; scripted responses per url, served
    * in order (last response repeats).
    */
  private class Canned(script: Map[String, Seq[Transport.Response]]) extends Transport {
    val requests = scala.collection.mutable.ArrayBuffer[(String, Map[String, String])]()
    private val served = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def get(url: String, headers: Map[String, String], timeoutMs: Int): Transport.Response = {
      requests += ((url, headers))
      val rs = script.getOrElse(url,
        throw new java.io.IOException(s"unscripted url: $url"))
      val i = served(url); served(url) = i + 1
      rs(math.min(i, rs.size - 1))
    }
  }

  private def ok(body: String) =
    Transport.Response(200, body.getBytes("UTF-8"))

  private val searchUrl = s"${Discovery.BaseUrl}/conjuntos-dados?" +
    s"nomeConjuntoDados=${Discovery.DatasetSlug}&dadosAbertos=true&isPrivado=false&pagina=1"

  test("findDatasetId: first result's id, auth headers on the search request") {
    val t = new Canned(Map(searchUrl -> Seq(ok(
      """[{"id": "ida-123", "title": "Índice de Desempenho no Atendimento"},
        |{"id": "other-999", "title": "decoy"}]""".stripMargin))))
    val got = new Discovery(t, apiKey = Some("k-test")).findDatasetId(spark)
    assert(got.contains("ida-123"))
    val (url, headers) = t.requests.head
    assert(url == searchUrl)
    assert(headers == Map("accept" -> "application/json",
      "chave-api-dados-abertos" -> "k-test"))
  }

  test("findDatasetId degrades to None: empty list, HTTP error, transport failure") {
    assert(new Discovery(new Canned(Map(searchUrl -> Seq(ok("[]")))))
      .findDatasetId(spark).isEmpty)
    assert(new Discovery(new Canned(Map(searchUrl ->
        Seq(Transport.Response(500, "boom".getBytes)))))
      .findDatasetId(spark).isEmpty)
    val dead = new Transport {
      def get(u: String, h: Map[String, String], t: Int) =
        throw new java.net.SocketTimeoutException("timeout")
    }
    assert(new Discovery(dead).findDatasetId(spark).isEmpty)
  }

  test("fetchResources: recursos frame on 2xx, throws on HTTP error (reference re-raises)") {
    val dsUrl = s"${Discovery.BaseUrl}/conjuntos-dados/ida-123"
    val t = new Canned(Map(dsUrl -> Seq(ok(
      """{"recursos": [
        |  {"link": "https://x/ida\\2015\\SMP_2015.ods", "titulo": "SMP 2015", "formato": "ODS"},
        |  {"link": "https://x/relatorio.pdf", "titulo": "SCM 2016", "formato": "PDF"}
        |]}""".stripMargin))))
    val d = new Discovery(t)
    assert(d.fetchResources(spark, "ida-123").count() == 2)

    val bad = new Canned(Map(dsUrl -> Seq(Transport.Response(404, "nope".getBytes))))
    val err = intercept[java.io.IOException] {
      new Discovery(bad).fetchResources(spark, "ida-123")
    }
    assert(err.getMessage.contains("404"))
  }

  test("download: 200 on first try is a single authed request") {
    val t = new Canned(Map("https://x/a.ods" -> Seq(ok("bytes!"))))
    val got = new Discovery(t, apiKey = Some("k")).download("https://x/a.ods")
    assert(got.map(new String(_, "UTF-8")).contains("bytes!"))
    assert(t.requests.size == 1)
    assert(t.requests.head._2.contains("chave-api-dados-abertos"))
  }

  test("download: non-200 with auth retries ONCE anonymously (main.py:355-359)") {
    val t = new Canned(Map("https://x/pub.ods" -> Seq(
      Transport.Response(403, "denied".getBytes), ok("public bytes"))))
    val got = new Discovery(t, apiKey = Some("k")).download("https://x/pub.ods")
    assert(got.map(new String(_, "UTF-8")).contains("public bytes"))
    assert(t.requests.map(_._1) == Seq("https://x/pub.ods", "https://x/pub.ods"))
    assert(t.requests(0)._2.contains("chave-api-dados-abertos"))
    assert(t.requests(1)._2.isEmpty) // the retry drops ALL headers
  }

  test("download: both attempts failing (or transport throwing) yields None") {
    val t = new Canned(Map("https://x/gone.ods" -> Seq(
      Transport.Response(403, Array.emptyByteArray),
      Transport.Response(404, Array.emptyByteArray))))
    assert(new Discovery(t, apiKey = Some("k")).download("https://x/gone.ods").isEmpty)
    assert(t.requests.size == 2)
    val dead = new Transport {
      def get(u: String, h: Map[String, String], t: Int) =
        throw new java.net.ConnectException("refused")
    }
    assert(new Discovery(dead).download("https://x/gone.ods").isEmpty)
  }

  test("end-to-end: discover -> list -> filter -> download -> ODS ingest") {
    // canned ODS bytes built by the engine's own writer
    val odsBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      OdsWriter.writeTo(Seq(
        Seq("GRUPO", "VALOR"), Seq("CLARO", "87,5"), Seq("VIVO", "90,0")), bos)
      bos.toByteArray
    }
    val dsUrl = s"${Discovery.BaseUrl}/conjuntos-dados/ida-123"
    val t = new Canned(Map(
      searchUrl -> Seq(ok("""[{"id": "ida-123", "title": "IDA"}]""")),
      dsUrl -> Seq(ok(
        """{"recursos": [
          |  {"link": "https://x/ida\\2015\\SMP_2015.ods", "titulo": "SMP 2015", "formato": "ODS"},
          |  {"link": "https://x/relatorio.pdf", "titulo": "SCM 2016", "formato": "PDF"}
          |]}""".stripMargin)),
      // NOTE the filter-fixed URL (backslashes -> slashes) is what gets fetched
      "https://x/ida/2015/SMP_2015.ods" ->
        Seq(Transport.Response(401, Array.emptyByteArray),
          Transport.Response(200, odsBytes))))
    val d = new Discovery(t, apiKey = Some("k"))

    val id = d.findDatasetId(spark)
    assert(id.contains("ida-123"))
    val relevant = ResourceCatalog.relevantResources(d.fetchResources(spark, id.get))
      .collect()
    assert(relevant.map(_.getString(0)).toSeq == Seq("https://x/ida/2015/SMP_2015.ods"))

    val bytes = d.download(relevant.head.getString(0)).get
    val f = java.nio.file.Files.createTempFile("disc-e2e", ".ods")
    java.nio.file.Files.write(f, bytes)
    val df = spark.read.format("ods").load(f.toString)
    assert(df.count() == 3) // header + 2 data rows, promotion is downstream's job
  }
}
