package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Tables, TestSpark}
import graft.ext.Retrieval

/** The standing-index lifecycle contract: an index is rebuilt exactly
  * when its corpus CONTENT changes — a compaction (file rewrite)
  * invalidates, a no-op does not, and hidden staging files never
  * perturb the version.
  */
class IndexCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("same corpus content -> one build; compaction -> rebuild") {
    val tmp = java.nio.file.Files.createTempDirectory("idxcat-spec").toString
    Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"))
      .repartition(8).write.mode("overwrite").parquet(s"$tmp/t")

    var builds = 0
    def serve(): String =
      IndexCatalog.resolve(spark, "spec-idx", s"$tmp/t") { _ => builds += 1 }

    val first = serve()
    assert(serve() == first && builds == 1,
      "unchanged corpus must serve the cached index without rebuilding")

    // corpus rewrite: every file replaced — dependent index must rebuild
    Compactor.compact(spark, s"$tmp/t", numFiles = 2, col("l_orderkey"))
    val second = serve()
    assert(second != first && builds == 2,
      "compaction must invalidate the standing index")
    assert(serve() == second && builds == 2, "and the new version caches")
  }

  test("hidden files (success markers, swap staging) do not perturb the version") {
    val tmp = java.nio.file.Files.createTempDirectory("idxcat-hidden").toString
    Tables.region(spark, sf).write.mode("overwrite").parquet(s"$tmp/t")
    val v1 = IndexCatalog.contentVersion(spark, s"$tmp/t")
    // plant a hidden staging artifact and an underscore marker
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$tmp/t/.staging-junk"))
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$tmp/t/_marker"))
    assert(IndexCatalog.contentVersion(spark, s"$tmp/t") == v1)
  }

  test("a genuinely new visible file changes the version") {
    val tmp = java.nio.file.Files.createTempDirectory("idxcat-newfile").toString
    Tables.region(spark, sf).write.mode("overwrite").parquet(s"$tmp/t")
    val v1 = IndexCatalog.contentVersion(spark, s"$tmp/t")
    Tables.region(spark, sf).write.mode("append").parquet(s"$tmp/t")
    assert(IndexCatalog.contentVersion(spark, s"$tmp/t") != v1)
  }

  test("gc deletes superseded versions, keeps current ones, and is idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("idxcat-gc").toString
    Tables.region(spark, sf).write.mode("overwrite").parquet(s"$tmp/t")
    val p1 = IndexCatalog.resolve(spark, "gc-spec", s"$tmp/t") { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/payload"), "v1")
    }
    // gc is global (other suites' stale fixtures may collect too) — the
    // contract asserted here is that a CURRENT version is never touched
    IndexCatalog.gc(spark)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$p1/payload")))
    // corpus changes -> a NEW version builds; the old payload is now stale
    Tables.region(spark, sf).write.mode("append").parquet(s"$tmp/t")
    val p2 = IndexCatalog.resolve(spark, "gc-spec", s"$tmp/t") { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/payload"), "v2")
    }
    assert(p2 != p1)
    assert(IndexCatalog.gc(spark) >= 1, "stale version must be collected")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p1)),
      "superseded payload directory must be deleted")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$p2/payload")),
      "current payload must survive")
    // idempotent: a second pass finds nothing new for this kind/corpus
    val before = IndexCatalog.resolve(spark, "gc-spec", s"$tmp/t")(_ => fail("must be cached"))
    assert(before == p2)
  }

  test("under a hidden ancestor, an appended batch changes the version and resolve rebuilds") {
    val t = java.nio.file.Files.createTempDirectory("idxcat-ancestor").toString + "/.hidden/t"
    Tables.region(spark, sf).write.parquet(t)
    var builds = 0
    def serve(): String =
      IndexCatalog.resolve(spark, "hidden-ancestor-spec", t) { _ => builds += 1 }
    val v1 = IndexCatalog.contentVersion(spark, t)
    val first = serve()
    Tables.region(spark, sf).write.mode("append").parquet(t)
    assert(IndexCatalog.contentVersion(spark, t) != v1)
    assert(serve() != first && builds == 2, "the grown corpus must rebuild its index")
  }

  test("under a hidden ancestor, compaction aborts when a batch lands mid-compaction") {
    val session = spark
    import session.implicits._
    val docs = (1L to 40L)
      .map(i => (i, s"the slow fox $i jumps over the slow dog ${i % 7}"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("standing-race").toString + "/.hidden/idx"
    Retrieval.writePositionalIndex(docs.filter(col("doc_id") <= 30), dir)
    Retrieval.retractFromPositionalIndex(docs.filter(col("doc_id") === 3).select("doc_id"), dir)
    val e = intercept[java.io.IOException] {
      StandingIndex.compact(spark, dir) { tmp =>
        StandingIndex.dropRetracted(spark.read.parquet(s"$dir/pos"),
            StandingIndex.tombstones(spark, dir, "doc_id"), "doc_id")
          .write.parquet(s"$tmp/pos")
        // the race: an admission batch lands after the compactor's snapshot
        BatchFiles.land(
          Retrieval.positionRows(docs.filter(col("doc_id") > 30)), s"$dir/pos", 1L)
      }
    }
    assert(e.getMessage.contains("concurrent refresh"))
    assert(new java.io.File(s"$dir/deleted").exists())
    assert(spark.read.parquet(s"$dir/pos").count() ==
      Retrieval.positionRows(docs).count(), "the prior layout and the landed batch stay")
  }
}
