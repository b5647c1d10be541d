package graft.io

import org.apache.spark.sql.SparkSession

/** One lifecycle authority for the engine's STANDING indexes (inverted
  * index, LSH bands, IVF cells, graph adjacency, Z-order/skip fixtures):
  * every index is cached per `(kind, corpus dir, corpus CONTENT
  * version)`, where the content version is a fingerprint of the corpus
  * listing (root-relative path, length, mtime of every data file). A
  * corpus rewrite — [[Compactor]], a replayed ingest, a new arrival
  * batch — changes the
  * fingerprint, so every dependent index transparently rebuilds on next
  * use, while a byte-identical corpus keeps serving the built index.
  * This replaces the previous per-module `ConcurrentHashMap[dir → index]`
  * caches, which had no invalidation story: nothing tied "corpus version
  * changed" to "dependent index stale".
  *
  * The fingerprint is one recursive driver-side listing — metadata-only,
  * no data read; at cluster scale this is the same cost every table
  * format pays to resolve a snapshot. Index payloads land in fresh temp
  * dirs, so concurrent versions never collide; superseded versions are
  * abandoned to temp-dir cleanup (a production deployment would GC by
  * version key).
  */
object IndexCatalog {

  private val built = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Fingerprint of the corpus listing ([[DataFiles.version]]). Files
    * that Spark's listing skips below the corpus root (`_`/`.` prefixed:
    * success markers, in-flight swap staging) are invisible to reads, so
    * they do not perturb the version either.
    */
  def contentVersion(spark: SparkSession, corpusDir: String): String =
    DataFiles.version(spark, corpusDir)

  /** Serve the index of `kind` over `corpusDir`, building it (into a
    * fresh temp dir handed to `build`) only if this corpus CONTENT has
    * not been indexed yet in this JVM.
    */
  def resolve(spark: SparkSession, kind: String, corpusDir: String)(
      build: String => Unit): String = {
    val key = s"$kind|$corpusDir|${contentVersion(spark, corpusDir)}"
    built.computeIfAbsent(key, _ => {
      val tmp = java.nio.file.Files.createTempDirectory(s"graft-$kind-").toString
      build(tmp)
      tmp
    })
  }

  /** Garbage-collect superseded index versions: every cached entry whose
    * corpus content has changed since it was built (its recorded version
    * no longer equals the corpus' CURRENT fingerprint) is dropped from
    * the cache and its payload directory deleted. Returns the number of
    * entries collected. Run from a maintenance window — an in-flight
    * query that resolved the old payload before the corpus changed may
    * still be reading it (the same caveat every snapshot-expiry GC
    * carries); current versions are never touched.
    */
  def gc(spark: SparkSession): Int = {
    import scala.jdk.CollectionConverters._
    var n = 0
    // key layout: kind|corpusDir|version — kind and version are |-free
    // (identifier, md5), so the dir is everything in between
    built.keySet().asScala.toSeq.foreach { key =>
      val first = key.indexOf('|')
      val last = key.lastIndexOf('|')
      if (first > 0 && last > first) {
        val dir = key.substring(first + 1, last)
        val ver = key.substring(last + 1)
        if (ver != contentVersion(spark, dir)) {
          val payload = built.remove(key)
          if (payload != null) {
            deleteRecursively(java.nio.file.Paths.get(payload))
            n += 1
          }
        }
      }
    }
    n
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }
}
