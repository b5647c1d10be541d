package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup, Hashing}
import graft.{QueryDef, QueryPack, Tables}

/** Deduplication extension queries over `documents`: exact, n-gram
  * Jaccard, MinHash-LSH, SimHash — every one oracle-checked, the hash
  * family being md5-derived so DuckDB reproduces it bit-for-bit
  * (see [[graft.ext.Hashing]]).
  */
object DedupPack extends QueryPack {

  /** The md5-32 token hash, DuckDB spelling. */
  private val H = "CAST(('0x'||substring(md5(t),1,8)) AS BIGINT)"

  /** Shared oracle for dedup_minhash_incremental AND dedup_minhash_indexed:
    * the indexed form must produce IDENTICAL verdicts — only the corpus
    * side's physical source (inline recompute vs materialized parquet)
    * differs.
    */
  /** The exact-dedup batch-classification replay; `corpusPred` drops
    * retracted docs from the corpus pool (dedup_incremental_lifecycle's
    * survivor oracle — shared-fingerprint semantics fall out of the
    * DISTINCT over surviving copies).
    */
  private def incrementalDedupOracleWhere(corpusPred: String): String =
    s"""WITH m AS (
       |  SELECT doc_id, source,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       |    doc_id % 5 = 4 AS is_new
       |  FROM documents),
       |idx AS (SELECT DISTINCT fp FROM m WHERE NOT is_new$corpusPred),
       |inc AS (
       |  SELECT m.*, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
       |  FROM m WHERE is_new),
       |cls AS (
       |  SELECT inc.doc_id, inc.source,
       |    CASE WHEN idx.fp IS NOT NULL THEN 'dup_corpus'
       |         WHEN rk > 1 THEN 'dup_batch' ELSE 'kept' END AS status
       |  FROM inc LEFT JOIN idx ON inc.fp = idx.fp)
       |SELECT source, COUNT(*) AS n_in,
       |  CAST(SUM(CASE WHEN status = 'dup_corpus' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_corpus,
       |  CAST(SUM(CASE WHEN status = 'dup_batch' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_batch,
       |  CAST(SUM(CASE WHEN status = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM cls GROUP BY source ORDER BY source""".stripMargin

  private lazy val incrementalNearDupOracle: String =
    incrementalNearDupOracleWhere("")

  /** [[incrementalNearDupOracle]] with an extra predicate on the CORPUS
    * side of the candidate join — the survivor-rebuild oracle of
    * dedup_minhash_lifecycle (e.g. `" AND c.doc_id % 7 != 0"` removes
    * the retracted corpus docs from the match pool before
    * classification, exactly what the tombstoned/compacted index
    * serves).
    */
  private def incrementalNearDupOracleWhere(corpusPred: String): String = {
    val H60 = "CAST(('0x'||substring(md5(g),1,15)) AS BIGINT)"
    val sigEntries = Hashing.MinHashParams.map { case (a, b) =>
      s"list_min(list_transform(sh, t -> ($a * $H + $b) % ${Hashing.MinHashPrime}))"
    }.mkString(",\n    ")
    val bandKeys = (0 until 4).map { b =>
      val parts = (1 to 4).map(r => s"sig[${b * 4 + r}]").mkString(", ")
      s"WHEN $b THEN concat_ws('_', $parts)"
    }.mkString(" ")
    s"""WITH raw AS (
       |  SELECT doc_id, doc_id % 5 = 4 AS is_new,
       |    regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |d AS (
       |  SELECT doc_id, is_new,
       |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
       |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
       |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
       |  FROM raw),
       |hs AS (
       |  SELECT doc_id, is_new, list_transform(sh, g -> $H60) AS hsh FROM d),
       |h AS (
       |  SELECT doc_id, is_new, [
       |    $sigEntries] AS sig
       |  FROM d),
       |b AS (
       |  SELECT doc_id, is_new, band, CASE band $bandKeys END AS key
       |  FROM h, (SELECT unnest(range(4)) AS band)),
       |cand AS (
       |  SELECT DISTINCT i.doc_id, c.doc_id AS corpus_id
       |  FROM b i JOIN b c ON i.band = c.band AND i.key = c.key
       |  WHERE i.is_new AND NOT c.is_new$corpusPred),
       |v AS (
       |  SELECT cand.doc_id, cand.corpus_id,
       |    len(list_intersect(hi.hsh, hc.hsh))::DOUBLE /
       |      (len(hi.hsh) + len(hc.hsh) - len(list_intersect(hi.hsh, hc.hsh))) AS jac
       |  FROM cand
       |  JOIN hs hi ON hi.doc_id = cand.doc_id
       |  JOIN hs hc ON hc.doc_id = cand.corpus_id),
       |best AS (
       |  SELECT doc_id, corpus_id AS match_id, ROUND(jac, 4) AS jaccard,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY jac DESC, corpus_id ASC) AS rk
       |  FROM v WHERE jac >= 0.3)
       |SELECT r.doc_id,
       |  CASE WHEN best.match_id IS NOT NULL THEN 'near_dup' ELSE 'novel' END AS status,
       |  best.match_id, best.jaccard
       |FROM raw r LEFT JOIN best ON best.doc_id = r.doc_id AND best.rk = 1
       |WHERE r.is_new ORDER BY r.doc_id""".stripMargin
  }

  /** Exact 3-gram Jaccard ≥ threshold pairs — shared ground truth for
    * dedup_ngram_jaccard (τ=0.3) and dedup_jaccard_prefix (τ=0.8): two
    * engine plans, one oracle shape.
    */
  // The intersection runs over the portable 60-bit md5-derived hash —
  // the engine narrows shingles to 8-byte keys before its inverted-index
  // self-join (the incrementalNearDup identity), and the oracle replays
  // the identical hash so parity is bit-exact.
  private def exactJaccardPairsOracle(threshold: Double): String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
       |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
       |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
       |  FROM d),
       |hs AS (
       |  SELECT doc_id, list_transform(sh,
       |    g -> CAST(('0x'||substring(md5(g),1,15)) AS BIGINT)) AS h
       |  FROM s),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.h, b.h))::DOUBLE /
       |      (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) AS jac
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard
       |FROM p WHERE jac >= $threshold ORDER BY doc_a, doc_b""".stripMargin

  /** Exact Jaccard over the hashed (60-bit md5) shingle sets — the
    * contract [[Dedup.jaccardPrefixPairs]] serves: 8-byte keys ride the
    * engine's shuffles, and DuckDB replays the identical hash so parity
    * is bit-exact (the dedup_minhash_* oracles' H60 convention).
    */
  private def hashedJaccardPairsOracle(threshold: Double): String = {
    val H60 = "CAST(('0x'||substring(md5(g),1,15)) AS BIGINT)"
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
       |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
       |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
       |  FROM d),
       |hs AS (
       |  SELECT doc_id, list_distinct(list_transform(sh, g -> $H60)) AS h
       |  FROM s),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    len(list_intersect(a.h, b.h))::DOUBLE /
       |      (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) AS jac
       |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard
       |FROM p WHERE jac >= $threshold ORDER BY doc_a, doc_b""".stripMargin
  }

  /** The exact-substring family's corpus: documents with within-doc
    * repetition synthesized (doc_id % 17 doubles its own text) so the
    * total-occurrence semantics stay non-vacuous vs the distinct-doc
    * twin — shared by the one-shot gate and every lifecycle gate.
    */
  private def substringDocs(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(17L)) === 0,
        concat(col("text"), lit(" "), col("text")))
        .otherwise(col("text")).as("text"))

  /** Oracle for the exact-substring INDEX family: the same augmented
    * corpus, grams collapsed to the engine's portable 60-bit md5 hash
    * (the standing layout's key — replayed so the gate hash is exact),
    * duplicated = TOTAL occurrences ≥ 2, then the shared interval merge.
    * `corpusWhere` restricts membership (the retraction gate).
    */
  private def substringIndexOracle(corpusWhere: String): String =
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 17 = 0 THEN text || ' ' || text ELSE text END AS text
       |  FROM documents$corpusWhere),
       |d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM raw),
       |g AS (
       |  SELECT doc_id, i - 1 AS pos,
       |    CAST(('0x'||substring(md5(
       |      array_to_string(list_slice(t, i, i + 4), ' ')),1,15)) AS BIGINT) AS gram
       |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
       |        FROM d WHERE len(t) >= 5)),
       |f AS (SELECT gram FROM (
       |        SELECT gram, COUNT(*) AS occ FROM g GROUP BY gram) x
       |      WHERE occ >= 2),
       |c AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
       |m AS (SELECT doc_id, pos,
       |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
       |sid AS (SELECT doc_id, pos,
       |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
       |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
       |        FROM m)
       |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
       |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
       |FROM sid GROUP BY doc_id, span_id
       |ORDER BY doc_id, span_start""".stripMargin

  def queries: Map[String, QueryDef] = Map(

    "dedup_exact" -> QueryDef(
      "Exact dedup via normalized-text fingerprint: per-source doc vs distinct counts",
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct(graft.ext.TextAnalysis.fingerprint(col("text"))).as("n_unique"))
          .orderBy(asc_nulls_last("source")),
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))) AS n_unique
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // Cross-source content-overlap matrix — which crawls/sources share
    // text. Works on distinct (source, 5-gram shingle) pairs, so the
    // self-join's per-shingle width is bounded by |sources| (never by
    // how often a source repeats the shingle) — a boilerplate phrase
    // duplicated a million times inside one crawl contributes ONE row
    // per source. Output is the upper triangle of a (sources×sources)
    // matrix: bounded at any corpus size.
    "dedup_source_overlap" -> QueryDef(
      "Cross-source overlap matrix: distinct shared 5-gram shingles per source pair",
      (s, dir) => {
        // shingleRows' explode-barrier keeps the token split single-eval
        // (13 s → ~1 s on sf0.1 by itself); shingles collapse to the
        // portable 60-bit md5 hash immediately (8-byte keys through
        // every shuffle instead of ~30-byte strings; both engines hash
        // identically, so the oracle stays bit-exact); and instead of a
        // self-join the per-shingle source SET is aggregated once and
        // expanded map-side into its s(s-1)/2 pairs — the pair stream
        // partial-aggregates into at most |sources|² rows per task.
        // The distinct (source, hash) table is a STANDING artifact
        // (IndexCatalog-versioned): the tokenize + shingle + distinct
        // pass runs once per corpus version, overlap serving reads it.
        val shDir = graft.io.IndexCatalog.resolve(
          s, "source-shingles", s"$dir/documents.parquet") { tmp =>
          graft.ext.Dedup.shingleRows(
              Tables.documents(s, dir), n = 5, keyCol = "source")
            .select(col("source"),
              graft.ext.Hashing.portableTokenHash60(col("sh")).as("h"))
            .distinct()
            .write.mode("overwrite").parquet(s"$tmp/sh")
        }
        val sh = Tables.read(s, s"$shDir/sh")
        sh.groupBy("h").agg(array_sort(collect_set(col("source"))).as("srcs"))
          .filter(size(col("srcs")) >= 2)
          .select(explode(expr(
            """flatten(transform(srcs, (x, i) ->
              |  transform(slice(srcs, i + 2, size(srcs) - i - 1),
              |            y -> struct(x AS src_a, y AS src_b))))""".stripMargin)).as("p"))
          .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy("src_a", "src_b")
      },
      Some("""WITH d AS (
             |  SELECT source, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |sh AS (
             |  SELECT DISTINCT source,
             |    CAST(('0x'||substring(md5(g),1,15)) AS BIGINT) AS h
             |  FROM (
             |    SELECT source, unnest(
             |      CASE WHEN len(t) < 5 THEN []::VARCHAR[]
             |           ELSE list_transform(range(1, len(t) - 3),
             |                  i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]) END) AS g
             |    FROM d))
             |SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
             |FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
             |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin)),

    // Incremental (batch-vs-corpus) dedup — the daily-ingest shape: the
    // standing corpus participates ONLY as its fingerprint index (16
    // bytes/doc), never as text, so admitting a batch costs one fp join
    // + one window over the batch. doc_id % 5 == 4 stands in for the
    // incoming batch.
    "dedup_incremental" -> QueryDef(
      "Classify an incoming batch against the corpus fp index: dup_corpus/dup_batch/kept",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = pmod(col("doc_id"), lit(5L)) === 4
        Dedup.incrementalDedup(
            Dedup.fingerprintIndex(docs.filter(!isNew)), docs.filter(isNew))
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_in"),
            sum(when(col("status") === "dup_corpus", 1L).otherwise(0L)).as("n_dup_corpus"),
            sum(when(col("status") === "dup_batch", 1L).otherwise(0L)).as("n_dup_batch"),
            sum(when(col("status") === "kept", 1L).otherwise(0L)).as("n_kept"))
          .orderBy(asc_nulls_last("source"))
      },
      Some(incrementalDedupOracleWhere(""))),

    // The counted lifecycle of the exact-dedup index — the last
    // dedup artifact without materialized verbs, and the one whose
    // deletion CANNOT be a tombstone: a fingerprint is shared by every
    // doc with the same normalized text, so retracting one copy must
    // DECREMENT (the fp keeps matching while survivors hold it; the
    // last copy's retraction drops it). The layout is a delta log of
    // positive (fp, n) batch files from build/refresh plus a distinct
    // (fp, doc_id) retraction LEDGER (doc-idempotent — a duplicate
    // retract under a new batchId or a post-compaction replay is
    // absorbed, where a signed −n delta would double-decrement);
    // serving keeps admitted − retracted > 0; compaction squashes both
    // under a listing-guarded swap. Oracle = the incremental replay
    // with the retracted docs dropped from the corpus pool — shared-fp
    // semantics fall out exactly (a fp survives iff any copy does).
    // NON-VACUOUS by construction: the corpus carries no exact-duplicate
    // pairs at the gated SFs, so a %-split batch would classify all-kept
    // and a broken index could pass — instead the probe batch is
    // SYNTHESIZED from corpus docs (ids moved to +1,000,000, text
    // uppercased with whitespace injected — fingerprint-EQUAL under the
    // normalization the index hashes), so every probe whose source
    // survives must come back dup_corpus and every probe whose source
    // was retracted must flip to kept. The per-doc rows are gated (not
    // a rollup), so one wrong verdict breaks the hash.
    "dedup_incremental_lifecycle" -> QueryDef(
      "Fp-equal probes vs signed fingerprint index after build half + refresh half + retract + compact",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "fp-lifecycle", s"$dir/documents.parquet") { t =>
          Dedup.writeFingerprintIndex(docs.filter(pmod(col("doc_id"), lit(2L)) === 0), t)
          Dedup.refreshFingerprintIndex(
            docs.filter(pmod(col("doc_id"), lit(2L)) === 1), t, batchId = 1L)
          Dedup.retractFromFingerprintIndex(
            docs.filter(pmod(col("doc_id"), lit(7L)) === 0), t, batchId = 2L)
          Dedup.compactFingerprintIndex(s, t)
        }
        val probes = docs.filter(pmod(col("doc_id"), lit(11L)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(upper(col("text")), lit("  ")).as("text"))
        Dedup.incrementalDedupIndexed(s, idx, probes)
          .select("doc_id", "status")
          .orderBy("doc_id")
      },
      Some("""WITH m AS (
             |  SELECT doc_id,
             |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |  FROM documents),
             |idx AS (SELECT DISTINCT fp FROM m WHERE doc_id % 7 != 0),
             |probes AS (
             |  SELECT doc_id + 1000000 AS doc_id, fp FROM m WHERE doc_id % 11 = 0),
             |inc AS (
             |  SELECT probes.*, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rk
             |  FROM probes),
             |cls AS (
             |  SELECT inc.doc_id,
             |    CASE WHEN idx.fp IS NOT NULL THEN 'dup_corpus'
             |         WHEN rk > 1 THEN 'dup_batch' ELSE 'kept' END AS status
             |  FROM inc LEFT JOIN idx ON inc.fp = idx.fp)
             |SELECT doc_id, status FROM cls ORDER BY doc_id""".stripMargin)),

    // The fuzzy sibling of dedup_incremental — batch-vs-corpus NEAR-dup
    // through the standing LSH artifacts (banded signatures + 8-byte
    // hashed shingle rows), corpus text never rescanned. Same %5 batch
    // split; per incoming doc: best verified corpus match or 'novel'.
    "dedup_minhash_incremental" -> QueryDef(
      "Incoming batch vs corpus LSH index: best Jaccard>=0.3 corpus match per doc, else novel",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = pmod(col("doc_id"), lit(5L)) === 4
        Dedup.incrementalNearDup(docs.filter(!isNew), docs.filter(isNew), threshold = 0.3)
          .orderBy("doc_id")
      },
      Some(incrementalNearDupOracle)),

    // The SERVING shape of the same operator: the corpus's LSH artifacts
    // are MATERIALIZED parquet tables (Dedup.writeNearDupIndex — built
    // once per corpus, like any standing index) and batch admission is
    // two index scans + the batch's own shingling. Verdicts are
    // identical by construction (shared oracle); what this entry adds is
    // the honest production cost: the inline twin above re-derives the
    // corpus artifacts every run, which at 100 TB you would never do.
    "dedup_minhash_indexed" -> QueryDef(
      "Batch vs MATERIALIZED corpus LSH index (serving shape): verdicts identical to dedup_minhash_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = pmod(col("doc_id"), lit(5L)) === 4
        val idx = graft.io.IndexCatalog.resolve(s, "neardup", s"$dir/documents.parquet")(
          t => Dedup.writeNearDupIndex(Tables.documents(s, dir).filter(!isNew), t))
        Dedup.incrementalNearDupIndexed(s, idx, docs.filter(isNew), threshold = 0.3)
          .orderBy("doc_id")
      },
      Some(incrementalNearDupOracle)),

    // The COMPLETE near-dup index lifecycle in one gate — the LSH
    // artifacts were the last standing index family without
    // refresh/retract/compact verbs. Build over half the corpus, admit
    // the other half as a replay-idempotent batch
    // (Dedup.refreshNearDupIndex — band and shingle rows are per-doc,
    // no cross-doc state to merge), retract the %7 corpus members
    // (tombstones at the candidate filter: a deleted doc stops being
    // anyone's match the moment the tombstone lands), compact
    // physically (guarded root swap), then classify the %5 batch.
    // Oracle = the incremental replay over the SURVIVOR corpus — one
    // hash gating refresh ≡ rebuild, retract ≡ survivor pool, and
    // compaction read-invisibility together.
    "dedup_minhash_lifecycle" -> QueryDef(
      "Batch vs LSH index after build half + refresh half + retract + compact: == survivor rebuild",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = pmod(col("doc_id"), lit(5L)) === 4
        val corpus = docs.filter(!isNew)
        val idx = graft.io.IndexCatalog.resolve(
          s, "neardup-lifecycle", s"$dir/documents.parquet") { t =>
          Dedup.writeNearDupIndex(corpus.filter(pmod(col("doc_id"), lit(2L)) === 0), t)
          Dedup.refreshNearDupIndex(
            corpus.filter(pmod(col("doc_id"), lit(2L)) === 1), t, batchId = 1L)
          Dedup.retractFromNearDupIndex(
            corpus.filter(pmod(col("doc_id"), lit(7L)) === 0).select("doc_id"), t)
          Dedup.compactNearDupIndex(s, t)
        }
        Dedup.incrementalNearDupIndexed(s, idx, docs.filter(isNew), threshold = 0.3)
          .orderBy("doc_id")
      },
      Some(incrementalNearDupOracleWhere(" AND c.doc_id % 7 != 0"))),

    "dedup_ngram_jaccard" -> QueryDef(
      "3-gram shingle Jaccard >= 0.3 via inverted-index similarity join (exact)",
      (s, dir) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.3)
          .orderBy("doc_a", "doc_b"),
      Some(exactJaccardPairsOracle(0.3))),

    // ASYMMETRIC containment — the sub-document duplication detector
    // Jaccard structurally misses: a short doc quoted whole inside a
    // long one has containment ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0. Rows
    // are DIRECTED (inner, outer). On this corpus document lengths are
    // uniform, so containment ≈ Jaccard and the 50 gated rows pin the
    // arithmetic; the operator's distinct value (quote/boilerplate-
    // embedding detection) shows on real mixed-length corpora.
    "dedup_containment" -> QueryDef(
      "Directed 3-gram containment >= 0.5 via inverted-index join (|A-intersect-B|/|A|)",
      (s, dir) =>
        Dedup.containmentPairs(Tables.documents(s, dir), n = 3, threshold = 0.5)
          .orderBy("doc_inner", "doc_outer"),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
             |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
             |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
             |  FROM d),
             |hs AS (
             |  SELECT doc_id, list_transform(sh,
             |    g -> CAST(('0x'||substring(md5(g),1,15)) AS BIGINT)) AS h
             |  FROM s),
             |p AS (
             |  SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
             |    len(list_intersect(a.h, b.h))::DOUBLE / len(a.h) AS cont
             |  FROM hs a JOIN hs b ON a.doc_id <> b.doc_id AND len(a.h) > 0)
             |SELECT doc_inner, doc_outer, ROUND(cont, 4) AS containment
             |FROM p WHERE cont >= 0.5 ORDER BY doc_inner, doc_outer""".stripMargin)),

    // The LOSSLESS scale path for containment — the directed prefix
    // filter (jaccardPrefixPairs' asymmetric analogue): the contained
    // side joins only its |A|−⌈τ·|A|⌉+1 RAREST shingles (any qualifying
    // pair must witness on one of them — pigeonhole on |A∖B| ≤
    // |A|−⌈τ·|A|⌉), the container side its full 8-byte hashed rows, and
    // map-side array intersection verifies exactly. Output ≡ the
    // unfiltered containmentPairs over the same hashed sets; the oracle
    // replays the identical md5-derived hash, so the gate is bit-exact.
    // This is the plan that survives a boilerplate-heavy 100 TB corpus:
    // hot shingles are pushed out of every inner prefix, so Σ df² never
    // rides them (SHUFFLE.md carries both rows for the comparison).
    "dedup_containment_prefix" -> QueryDef(
      "Directed 3-gram containment >= 0.5 via prefix-filtered join (lossless, exact-verified)",
      (s, dir) =>
        Dedup.containmentPrefixPairs(Tables.documents(s, dir), n = 3, threshold = 0.5)
          .orderBy("doc_inner", "doc_outer"),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
             |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
             |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
             |  FROM d),
             |hs AS (
             |  SELECT doc_id, list_distinct(list_transform(sh,
             |    g -> CAST(('0x'||substring(md5(g),1,15)) AS BIGINT))) AS h
             |  FROM s),
             |p AS (
             |  SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer,
             |    len(list_intersect(a.h, b.h))::DOUBLE / len(a.h) AS cont
             |  FROM hs a JOIN hs b ON a.doc_id <> b.doc_id AND len(a.h) > 0)
             |SELECT doc_inner, doc_outer, ROUND(cont, 4) AS containment
             |FROM p WHERE cont >= 0.5 ORDER BY doc_inner, doc_outer""".stripMargin)),

    // Sub-document dedup (the Lee et al. 2022 shape): positions covered
    // by a 5-gram appearing in >= 2 distinct docs coalesce into maximal
    // masked spans — the ranges an exact-substring cleaner cuts instead
    // of dropping whole documents. Join-back of duplicated grams is
    // LINEAR in df (d rows for a gram in d docs, never the pair family's
    // d²), so this shape needs no hot-shingle valve; the interval merge
    // is a per-doc window over the already-shrunk covered stream.
    "dedup_span_mask" -> QueryDef(
      "Maximal cross-doc duplicated 5-gram spans per document (sub-document dedup)",
      (s, dir) =>
        Dedup.duplicateSpans(Tables.documents(s, dir), n = 5, materializeGrams = true)
          .orderBy("doc_id", "span_start"),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    CAST(('0x'||substring(md5(
             |      array_to_string(list_slice(t, i, i + 4), ' ')),1,15)) AS BIGINT) AS gram
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |        FROM d WHERE len(t) >= 5)),
             |f AS (SELECT gram FROM (
             |        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram) x
             |      WHERE df >= 2),
             |c AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
             |m AS (SELECT doc_id, pos,
             |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
             |sid AS (SELECT doc_id, pos,
             |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |        FROM m)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
             |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
             |FROM sid GROUP BY doc_id, span_id
             |ORDER BY doc_id, span_start""".stripMargin)),

    // The corpus-level report over the same spans: how much of each
    // source is cross-document duplicated text. One extra broadcast-side
    // join (per-doc token counts) and a source-keyed final aggregate.
    "dedup_span_stats" -> QueryDef(
      "Per-source duplicated-span profile: masked docs, tokens, masked %",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val perDoc = Dedup.duplicateSpans(docs, n = 5)
          .groupBy("doc_id").agg(sum("span_len").as("masked"))
        docs.select(col("doc_id"), col("source"),
            size(graft.ext.TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
          .join(perDoc, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("masked").isNotNull, 1L).otherwise(0L)).as("n_masked_docs"),
            coalesce(sum("masked"), lit(0L)).as("masked_tokens"),
            round(coalesce(sum("masked"), lit(0L)) * 100.0 / sum("n_tok"), 2)
              .as("masked_pct"))
          .orderBy(asc_nulls_last("source"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    CAST(('0x'||substring(md5(
             |      array_to_string(list_slice(t, i, i + 4), ' ')),1,15)) AS BIGINT) AS gram
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |        FROM d WHERE len(t) >= 5)),
             |f AS (SELECT gram FROM (
             |        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram) x
             |      WHERE df >= 2),
             |c AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
             |m AS (SELECT doc_id, pos,
             |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
             |sid AS (SELECT doc_id, pos,
             |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |        FROM m),
             |sp AS (SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end
             |       FROM sid GROUP BY doc_id, span_id),
             |per AS (SELECT doc_id, SUM(span_end - span_start + 1) AS masked
             |        FROM sp GROUP BY doc_id),
             |tok AS (SELECT doc_id, source, len(t) AS n_tok FROM d)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN masked IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_masked_docs,
             |  CAST(COALESCE(SUM(masked), 0) AS BIGINT) AS masked_tokens,
             |  ROUND(COALESCE(SUM(masked), 0) * 100.0 / SUM(n_tok), 2) AS masked_pct
             |FROM tok LEFT JOIN per USING (doc_id)
             |GROUP BY source ORDER BY source""".stripMargin)),

    // EXACT repeated-substring dedup (Lee et al. ExactSubstr): positions
    // inside ANY substring of length >= 5 that occurs >= 2 times in the
    // corpus — TOTAL occurrences, so within-doc repeats mask too, the
    // semantics the df-distinct-docs twin (dedup_span_mask) cannot
    // express. The suffix array of the single-node tool is replaced by
    // the gram-keyed shuffle (equal L-windows meet by grouping, the same
    // adjacency the suffix sort manufactures); coverage == the suffix-
    // array cut set exactly (see Dedup.exactSubstringSpans's proof).
    // NON-VACUOUS on both semantics axes: the corpus carries natural
    // cross-doc duplicated 5-grams (dedup_span_mask's 71 spans), and
    // within-doc repetition is synthesized (doc_id % 17 == 0 doubles its
    // own text) so occurrence-counting must mask spans the distinct-doc
    // rule would miss — a wrong HAVING clause breaks the hash.
    "dedup_substring_exact" -> QueryDef(
      "Exact repeated-substring spans, total-occurrence semantics (ExactSubstr)",
      (s, dir) =>
        Dedup.exactSubstringSpans(substringDocs(s, dir), minLen = 5)
          .orderBy("doc_id", "span_start"),
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 17 = 0 THEN text || ' ' || text ELSE text END AS text
             |  FROM documents),
             |d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM raw),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    array_to_string(list_slice(t, i, i + 4), ' ') AS gram
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |        FROM d WHERE len(t) >= 5)),
             |f AS (SELECT gram FROM (
             |        SELECT gram, COUNT(*) AS occ FROM g GROUP BY gram) x
             |      WHERE occ >= 2),
             |c AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
             |m AS (SELECT doc_id, pos,
             |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
             |sid AS (SELECT doc_id, pos,
             |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |        FROM m)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
             |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
             |FROM sid GROUP BY doc_id, span_id
             |ORDER BY doc_id, span_start""".stripMargin)),

    // The KEEP-ONE policy on the same corpus: cut every occurrence of a
    // duplicated substring EXCEPT its global first (doc_id, pos) holder
    // — what a pipeline that wants exactly one surviving copy of each
    // repeated passage runs instead of the cut-all mask. Same single
    // gram-keyed shuffle (a ranked window instead of a count). The
    // doubled %17 docs make the policies diverge non-vacuously: under
    // cut-all their whole text masks; under keep-first the first copy
    // of each window survives.
    "dedup_substring_keep_first" -> QueryDef(
      "Exact-substring spans cutting all but the first occurrence of each window",
      (s, dir) =>
        Dedup.exactSubstringSpansKeepFirst(substringDocs(s, dir), minLen = 5)
          .orderBy("doc_id", "span_start"),
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 17 = 0 THEN text || ' ' || text ELSE text END AS text
             |  FROM documents),
             |d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM raw),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    array_to_string(list_slice(t, i, i + 4), ' ') AS gram
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |        FROM d WHERE len(t) >= 5)),
             |c AS (
             |  SELECT doc_id, pos FROM (
             |    SELECT doc_id, pos,
             |      ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
             |    FROM g) x
             |  WHERE rn > 1),
             |m AS (SELECT doc_id, pos,
             |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
             |sid AS (SELECT doc_id, pos,
             |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |        FROM m)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
             |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
             |FROM sid GROUP BY doc_id, span_id
             |ORDER BY doc_id, span_start""".stripMargin)),

    // The QUALITY-RANKED keep policy real pipelines compose: each
    // duplicated window's kept copy lives in the highest-Gopher-score
    // doc holding it (Curation.gopherQuality — the exact expressions
    // the curation_gopher_rules gate pins), ties broken by (doc_id,
    // pos). The quality join is DOC-granular and upstream of the gram
    // explosion (broadcast hash join in the plan), so the gram stream
    // still pays its one shuffle and nothing new moves. Divergence from
    // keep_first is non-vacuous: the %17-doubled docs fail the length
    // or repetition rule, so windows they'd hold first under (doc_id,
    // pos) order are instead kept in later, higher-quality docs.
    "dedup_substring_keep_best" -> QueryDef(
      "Exact-substring spans keeping each window's copy in the highest-quality doc",
      (s, dir) => {
        val aug = substringDocs(s, dir)
        Dedup.exactSubstringSpansKeepBest(aug, minLen = 5,
            Curation.gopherQuality(aug))
          .orderBy("doc_id", "span_start")
      },
      Some {
        val stopUnion = graft.ext.TextAnalysis.Stopwords.values.flatten.toSeq.distinct.sorted
          .map(w => s"'$w'").mkString(", ")
        s"""WITH raw AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 17 = 0 THEN text || ' ' || text ELSE text END AS text
           |  FROM documents),
           |t AS (
           |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS tk,
           |    CAST(length(text) AS DOUBLE) AS nchar,
           |    CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
           |         AS DOUBLE) AS npunct
           |  FROM raw),
           |base AS (
           |  SELECT doc_id, len(tk) AS ntok,
           |    list_sum(list_transform(tk, x -> length(x))) AS toklen,
           |    len(list_filter(tk, x -> x IN ($stopUnion))) AS nstop,
           |    npunct, nchar
           |  FROM t),
           |tokc AS (
           |  SELECT doc_id, tok, COUNT(*) AS n
           |  FROM (SELECT doc_id, unnest(tk) AS tok FROM t) GROUP BY 1, 2),
           |top AS (
           |  SELECT doc_id, CAST(MAX(n) AS DOUBLE) / SUM(n) AS top_share
           |  FROM tokc GROUP BY 1),
           |q AS (
           |  SELECT doc_id,
           |    (CASE WHEN ntok BETWEEN 10 AND 2000 THEN 1 ELSE 0 END)
           |    + (CASE WHEN CAST(toklen AS DOUBLE) / ntok BETWEEN 3.0 AND 10.0
           |            THEN 1 ELSE 0 END)
           |    + (CASE WHEN top_share <= 0.1 THEN 1 ELSE 0 END)
           |    + (CASE WHEN nstop >= 2 THEN 1 ELSE 0 END)
           |    + (CASE WHEN npunct / nchar <= 0.15 THEN 1 ELSE 0 END) AS q
           |  FROM base JOIN top USING (doc_id)),
           |d AS (
           |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
           |  FROM raw),
           |g AS (
           |  SELECT doc_id, i - 1 AS pos,
           |    array_to_string(list_slice(t, i, i + 4), ' ') AS gram
           |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
           |        FROM d WHERE len(t) >= 5)),
           |c AS (
           |  SELECT doc_id, pos FROM (
           |    SELECT g.doc_id AS doc_id, pos,
           |      ROW_NUMBER() OVER (PARTITION BY gram
           |        ORDER BY q.q DESC, g.doc_id, pos) AS rn
           |    FROM g JOIN q USING (doc_id)) x
           |  WHERE rn > 1),
           |m AS (SELECT doc_id, pos,
           |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
           |sid AS (SELECT doc_id, pos,
           |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
           |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
           |        FROM m)
           |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
           |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
           |FROM sid GROUP BY doc_id, span_id
           |ORDER BY doc_id, span_start""".stripMargin
      }),

    // The exact-substring semantics served from the STANDING span-mask
    // index (byOccurrence mode: weight = total occurrences, the
    // ExactSubstr flip at >= 2): one layout, one set of lifecycle verbs,
    // two masking semantics. Gram keys are the portable 60-bit hash —
    // the at-scale trade the index family makes (the one-shot
    // dedup_substring_exact gate stays text-keyed as the exactness
    // reference); the oracle replays the hash, so the gate is exact.
    "dedup_substring_indexed" -> QueryDef(
      "Exact-substring spans served from the standing occurrence-counted index",
      (s, dir) => {
        val idx = graft.io.IndexCatalog.resolve(
          s, "substr-index", s"$dir/documents.parquet")(
          t => Dedup.writeSpanMaskIndex(substringDocs(s, dir), t, n = 5,
            byOccurrence = true))
        Tables.read(s, s"$idx/spans").orderBy("doc_id", "span_start")
      },
      Some(substringIndexOracle(""))),

    // Admission under occurrence counting keeps the retroactive property
    // (a batch doc quoting a unique corpus passage re-masks the OLD doc)
    // and adds the one distinct-doc counting cannot express: a batch doc
    // whose own text repeats a gram flips it to duplicated ALL BY
    // ITSELF. The %5 batch intersected with the %17 doubling guarantees
    // such docs exist (doc_id % 85 == 68), so a wrong counting mode in
    // the admission path breaks the hash. Oracle = full rebuild over
    // corpus ∪ batch.
    "dedup_substring_incremental" -> QueryDef(
      "Batch admission into the occurrence-counted substring index == full rebuild",
      (s, dir) => {
        val aug = substringDocs(s, dir)
        val isNew = pmod(col("doc_id"), lit(5L)) === 4
        val idx = graft.io.IndexCatalog.resolve(
          s, "substr-incr", s"$dir/documents.parquet")(
          t => Dedup.writeSpanMaskIndex(aug.filter(!isNew), t, n = 5,
            byOccurrence = true))
        Dedup.incrementalSpans(s, idx, aug.filter(isNew), n = 5,
            byOccurrence = true)
          .orderBy("doc_id", "span_start")
      },
      Some(substringIndexOracle(""))),

    // Retraction under occurrence counting decrements each gram by the
    // VICTIMS' OCCURRENCE COUNT (a doubled victim doc holding a gram
    // twice removes 2, not 1 — a distinct-doc decrement here would
    // leave phantom duplication); down-flipped grams retroactively
    // un-mask the survivors holding them. Oracle = survivor rebuild.
    "dedup_substring_retract" -> QueryDef(
      "Doc retraction from the occurrence-counted substring index == survivor rebuild",
      (s, dir) => {
        val aug = substringDocs(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "substr-retract", s"$dir/documents.parquet")(
          t => Dedup.writeSpanMaskIndex(aug, t, n = 5, byOccurrence = true))
        Dedup.retractSpans(s, idx,
            aug.filter(pmod(col("doc_id"), lit(7L)) === 0).select("doc_id"),
            n = 5, byOccurrence = true)
          .orderBy("doc_id", "span_start")
      },
      Some(substringIndexOracle(" WHERE doc_id % 7 != 0"))),

    // Stream-maintained exact-substring masking: occurrence partials are
    // additive over disjoint doc sets exactly like df partials, so the
    // same delta-log layout serves (SpanMaskIngest with byOccurrence);
    // batch 1 deliberately replayed — the replay must converge, and the
    // served spans must equal the one-shot occurrence build including
    // cross-batch retroactive masking.
    "dedup_substring_stream" -> QueryDef(
      "Exact-substring spans from a stream-maintained occurrence index (3 batches, one replayed)",
      (s, dir) => {
        val aug = substringDocs(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "substr-stream", s"$dir/documents.parquet") { tmp =>
          (0L to 2L).foreach(b =>
            graft.streaming.SpanMaskIngest.ingestBatch(
              aug.filter(pmod(col("doc_id"), lit(3)) === b), b, tmp, n = 5,
              byOccurrence = true))
          graft.streaming.SpanMaskIngest.ingestBatch(
            aug.filter(pmod(col("doc_id"), lit(3)) === 1L), 1L, tmp, n = 5,
            byOccurrence = true)
        }
        graft.streaming.SpanMaskIngest.servedSpans(s, idx, n = 5)
          .orderBy("doc_id", "span_start")
      },
      Some(substringIndexOracle(""))),

    // Incremental span masking — the admission shape with RETROACTIVE
    // propagation: a batch doc quoting a previously-unique corpus
    // passage must change the OLD doc's masking too (whole-doc dedup
    // never propagates backwards; span masking must). Corpus text is
    // never rescanned: the standing postings/df/spans artifacts serve,
    // the batch-vocabulary join finds flipped grams, and only touched +
    // batch docs re-merge intervals. The oracle is the FULL REBUILD over
    // corpus ∪ batch (with the engine's md5-derived gram hash replayed),
    // so the hash gate IS the incremental ≡ rebuild proof.
    "dedup_span_incremental" -> QueryDef(
      "Batch admission into the standing span-mask index == full rebuild (retroactive masking)",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val isNew = pmod(col("doc_id"), lit(5L)) === 4
        val idx = graft.io.IndexCatalog.resolve(s, "spanmask", s"$dir/documents.parquet")(
          t => Dedup.writeSpanMaskIndex(docs.filter(!isNew), t, n = 5))
        Dedup.incrementalSpans(s, idx, docs.filter(isNew), n = 5)
          .orderBy("doc_id", "span_start")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    CAST(('0x'||substring(md5(
             |      array_to_string(list_slice(t, i, i + 4), ' ')),1,15)) AS BIGINT) AS gram
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |        FROM d WHERE len(t) >= 5)),
             |f AS (SELECT gram FROM (
             |        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram) x
             |      WHERE df >= 2),
             |c AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
             |m AS (SELECT doc_id, pos,
             |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
             |sid AS (SELECT doc_id, pos,
             |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |        FROM m)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
             |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
             |FROM sid GROUP BY doc_id, span_id
             |ORDER BY doc_id, span_start""".stripMargin)),

    // Stream-maintained span masking: per-batch postings + df-delta
    // files (replay-idempotent; batch 1 deliberately replayed), spans
    // derived at serve time — the only honest streaming layout for a
    // RETROACTIVE operator, since any batch can change any earlier
    // doc's spans. Oracle = the full one-shot rebuild with hashed grams,
    // so the gate proves stream-maintained ≡ batch-built including the
    // cross-batch retroactive masking.
    "dedup_span_stream" -> QueryDef(
      "Spans served from a stream-maintained index (3 batches, one replayed) == one-shot build",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "spanmask-stream", s"$dir/documents.parquet") { tmp =>
          (0L to 2L).foreach(b =>
            graft.streaming.SpanMaskIngest.ingestBatch(
              docs.filter(pmod(col("doc_id"), lit(3)) === b), b, tmp, n = 5))
          graft.streaming.SpanMaskIngest.ingestBatch(
            docs.filter(pmod(col("doc_id"), lit(3)) === 1L), 1L, tmp, n = 5)
        }
        graft.streaming.SpanMaskIngest.servedSpans(s, idx, n = 5)
          .orderBy("doc_id", "span_start")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    CAST(('0x'||substring(md5(
             |      array_to_string(list_slice(t, i, i + 4), ' ')),1,15)) AS BIGINT) AS gram
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |        FROM d WHERE len(t) >= 5)),
             |f AS (SELECT gram FROM (
             |        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram) x
             |      WHERE df >= 2),
             |c AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
             |m AS (SELECT doc_id, pos,
             |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
             |sid AS (SELECT doc_id, pos,
             |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |        FROM m)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
             |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
             |FROM sid GROUP BY doc_id, span_id
             |ORDER BY doc_id, span_start""".stripMargin)),

    // Span-mask index COMPACTION — the family's last missing lifecycle
    // verb: the stream-maintained delta log (per-batch postings + df
    // partials, spans a serve-time view) squashes into the BATCH layout
    // (one postings file set, one df row per gram, spans MATERIALIZED)
    // through one guarded root-dir swap. The gate serves the compacted
    // spans/ table directly; oracle = the full one-shot rebuild — so
    // compacted serve ≡ delta-log serve (dedup_span_stream shares the
    // oracle) ≡ rebuild, and the spec additionally proves the layout
    // row-equals writeSpanMaskIndex's and that incrementalSpans /
    // retractSpans run against it.
    "dedup_span_compacted" -> QueryDef(
      "Spans served from the compacted (stream -> batch layout) span-mask index == one-shot build",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "spanmask-compact", s"$dir/documents.parquet") { tmp =>
          (0L to 2L).foreach(b =>
            graft.streaming.SpanMaskIngest.ingestBatch(
              docs.filter(pmod(col("doc_id"), lit(3)) === b), b, tmp, n = 5))
          graft.streaming.SpanMaskIngest.ingestBatch(
            docs.filter(pmod(col("doc_id"), lit(3)) === 1L), 1L, tmp, n = 5)
          graft.streaming.SpanMaskIngest.compactToBatchLayout(s, tmp, n = 5)
        }
        Tables.read(s, s"$idx/spans").orderBy("doc_id", "span_start")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    CAST(('0x'||substring(md5(
             |      array_to_string(list_slice(t, i, i + 4), ' ')),1,15)) AS BIGINT) AS gram
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |        FROM d WHERE len(t) >= 5)),
             |f AS (SELECT gram FROM (
             |        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram) x
             |      WHERE df >= 2),
             |c AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
             |m AS (SELECT doc_id, pos,
             |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
             |sid AS (SELECT doc_id, pos,
             |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |        FROM m)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
             |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
             |FROM sid GROUP BY doc_id, span_id
             |ORDER BY doc_id, span_start""".stripMargin)),

    // Span-mask RETRACTION — the right-to-be-forgotten pass over DERIVED
    // state: deleting docs decrements gram dfs, and grams falling below
    // the threshold retroactively UN-mask the surviving docs that hold
    // them (spans shrink/vanish — the inverse of dedup_span_incremental's
    // retroactive masking). Oracle = full rebuild over the survivors
    // (hashed grams replayed), so the hash gate proves retraction ≡
    // survivor rebuild — the sim_topk_ivf_retract contract, now for
    // derived span state rather than index membership.
    "dedup_span_retract" -> QueryDef(
      "Doc retraction from the span-mask index == survivor rebuild (retroactive un-masking)",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(s, "spanmask-full", s"$dir/documents.parquet")(
          t => Dedup.writeSpanMaskIndex(docs, t, n = 5))
        val victims = docs.filter(pmod(col("doc_id"), lit(7L)) === 2).select("doc_id")
        Dedup.retractSpans(s, idx, victims, n = 5)
          .orderBy("doc_id", "span_start")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents WHERE doc_id % 7 <> 2),
             |g AS (
             |  SELECT doc_id, i - 1 AS pos,
             |    CAST(('0x'||substring(md5(
             |      array_to_string(list_slice(t, i, i + 4), ' ')),1,15)) AS BIGINT) AS gram
             |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
             |        FROM d WHERE len(t) >= 5)),
             |f AS (SELECT gram FROM (
             |        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram) x
             |      WHERE df >= 2),
             |c AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
             |m AS (SELECT doc_id, pos,
             |        LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM c),
             |sid AS (SELECT doc_id, pos,
             |          SUM(CASE WHEN prev IS NULL OR pos > prev + 5 THEN 1 ELSE 0 END)
             |            OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
             |        FROM m)
             |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 4 AS span_end,
             |  MAX(pos) + 4 - MIN(pos) + 1 AS span_len
             |FROM sid GROUP BY doc_id, span_id
             |ORDER BY doc_id, span_start""".stripMargin)),

    // Same exact-pairs contract as dedup_ngram_jaccard (the oracle is
    // literally shared — prefix filtering is LOSSLESS), but candidates
    // meet only on each doc's rarest shingles, so the join never rides
    // the hot boilerplate keys that make Σ df² explode at corpus scale.
    // τ=0.8 is the technique's operating point (prefix length
    // |x|−⌈τ|x|⌉+1 ≈ 0.2|x|; at τ=0.3 the prefix is 70% of the doc and
    // the filter buys nothing) — and the threshold near-dup dedup
    // actually runs at.
    "dedup_jaccard_prefix" -> QueryDef(
      "3-gram Jaccard >= 0.8 via prefix-filtered similarity join (lossless, exact-verified)",
      (s, dir) =>
        Dedup.jaccardPrefixPairs(Tables.documents(s, dir), n = 3, threshold = 0.8)
          .orderBy("doc_a", "doc_b"),
      Some(hashedJaccardPairsOracle(0.8))),

    // Boilerplate detector: the highest-document-frequency shingles are
    // the repeated headers/footers/templates a training pipeline strips
    // (and exactly the hot keys ngramJaccardPairs' maxShingleDf valve
    // caps). shingleRows is map-only; one partial+final count per
    // shingle; TakeOrdered for the report.
    "text_boilerplate" -> QueryDef(
      "Top-20 3-gram shingles by document frequency (boilerplate candidates)",
      (s, dir) =>
        Dedup.shingleRows(Tables.documents(s, dir))
          .groupBy("sh")
          .agg(count(lit(1)).as("df"))
          .orderBy(col("df").desc, col("sh").asc)
          .limit(20),
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |s AS (
             |  SELECT doc_id,
             |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
             |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
             |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS shs
             |  FROM d)
             |SELECT sh, CAST(COUNT(*) AS BIGINT) AS df
             |FROM (SELECT doc_id, unnest(shs) AS sh FROM s)
             |GROUP BY sh ORDER BY df DESC, sh ASC LIMIT 20""".stripMargin)),

    "dedup_minhash_lsh" -> QueryDef(
      "Shingle MinHash(16)+LSH(4 bands of 4) candidates, exact-Jaccard-verified >= 0.3",
      (s, dir) =>
        Dedup.minHashLshPairs(Tables.documents(s, dir), threshold = 0.3)
          .orderBy("doc_a", "doc_b"),
      Some {
        val sigEntries = Hashing.MinHashParams.map { case (a, b) =>
          s"list_min(list_transform(sh, t -> ($a * $H + $b) % ${Hashing.MinHashPrime}))"
        }.mkString(",\n    ")
        val bandKeys = (0 until 4).map { b =>
          val parts = (1 to 4).map(r => s"sig[${b * 4 + r}]").mkString(", ")
          s"WHEN $b THEN concat_ws('_', $parts)"
        }.mkString(" ")
        s"""WITH raw AS (
           |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
           |  FROM documents),
           |d AS (
           |  SELECT doc_id,
           |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
           |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
           |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
           |  FROM raw),
           |h AS (
           |  SELECT doc_id, [
           |    $sigEntries] AS sig
           |  FROM d),
           |b AS (
           |  SELECT doc_id, band, CASE band $bandKeys END AS key
           |  FROM h, (SELECT unnest(range(4)) AS band)),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
           |hs AS (
           |  SELECT doc_id, list_transform(sh,
           |    g -> CAST(('0x'||substring(md5(g),1,15)) AS BIGINT)) AS hsh
           |  FROM d),
           |v AS (
           |  SELECT doc_a, doc_b,
           |    len(list_intersect(da.hsh, db.hsh))::DOUBLE /
           |      (len(da.hsh) + len(db.hsh) - len(list_intersect(da.hsh, db.hsh))) AS jac
           |  FROM cand JOIN hs da ON da.doc_id = doc_a JOIN hs db ON db.doc_id = doc_b)
           |SELECT doc_a, doc_b, ROUND(jac, 4) AS jaccard
           |FROM v WHERE jac >= 0.3 ORDER BY doc_a, doc_b""".stripMargin
      }),

    // LSH quality evaluation — the sim_recall_eval pattern applied to
    // the MinHash band index: recall of the banded candidate generator
    // against the EXACT Jaccard pairs (dedup_ngram_jaccard's contract)
    // and the candidate set's precision, the two numbers that justify a
    // band configuration before pointing it at a corpus. Verified pairs
    // are cand ∩ true by construction (LSH verifies candidates with the
    // exact Jaccard), so recall = |verified|/|true| measures exactly the
    // pairs banding loses — and |cand ∩ true| computes as a pair-set
    // join, no re-verification needed. Scale: BOTH towers are STANDING
    // artifacts (the band table and the exact-pairs table, each built
    // once per corpus version and shared with the CC family), so the
    // eval itself is the band self-join plus two pair-set-sized joins —
    // it no longer rebuilds three shingle towers per run.
    "dedup_lsh_recall" -> QueryDef(
      "Recall/precision of MinHash(16)+LSH(4x4) banding vs exact Jaccard >= 0.3",
      (s, dir) => {
        val banded = Tables.read(s, s"${lshBandsDir(s, dir)}/bands")
        val truth = Tables.read(s, s"${jaccardPairsDir(s, dir)}/pairs")
          .select("doc_a", "doc_b")
        // shuffle_hash: corpus-sized signature self-join, same engine
        // pin as minHashLshPairs (round-16 broadcast-estimate hazard)
        val cand = banded.select(col("band"), col("key"), col("doc_id").as("doc_a"))
          .join(banded.select(col("band"), col("key"), col("doc_id").as("doc_b"))
            .hint("shuffle_hash"), Seq("band", "key"))
          .filter(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
        val nCand = cand.agg(count(lit(1)).as("n_candidates"))
        val nTrue = truth.agg(count(lit(1)).as("n_true"))
        val nVerified = cand.join(truth, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_verified"))
        nTrue.crossJoin(nCand).crossJoin(nVerified)
          .select(col("n_true"), col("n_candidates"), col("n_verified"),
            round(col("n_verified").cast("double") /
              nullif(col("n_true").cast("double"), lit(0.0)), 6).as("recall"),
            round(col("n_verified").cast("double") /
              nullif(col("n_candidates").cast("double"), lit(0.0)), 6)
              .as("cand_precision"))
      },
      Some {
        val sigEntries = Hashing.MinHashParams.map { case (a, b) =>
          s"list_min(list_transform(sh, t -> ($a * $H + $b) % ${Hashing.MinHashPrime}))"
        }.mkString(",\n    ")
        val bandKeys = (0 until 4).map { b =>
          val parts = (1 to 4).map(r => s"sig[${b * 4 + r}]").mkString(", ")
          s"WHEN $b THEN concat_ws('_', $parts)"
        }.mkString(" ")
        s"""WITH raw AS (
           |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
           |  FROM documents),
           |d AS (
           |  SELECT doc_id,
           |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
           |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
           |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
           |  FROM raw),
           |h AS (
           |  SELECT doc_id, [
           |    $sigEntries] AS sig
           |  FROM d),
           |b AS (
           |  SELECT doc_id, band, CASE band $bandKeys END AS key
           |  FROM h, (SELECT unnest(range(4)) AS band)),
           |cand AS (
           |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM b x JOIN b y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
           |sr AS (SELECT doc_id, CAST(('0x'||substring(md5(g0),1,15)) AS BIGINT) AS g
           |      FROM (SELECT doc_id, unnest(sh) AS g0 FROM d) q0),
           |cnt AS (SELECT doc_id, len(sh) AS n_sh FROM d),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
           |  FROM sr a JOIN sr b ON a.g = b.g AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |tru AS (
           |  SELECT doc_a, doc_b FROM inter
           |  JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.3),
           |ver AS (SELECT doc_a, doc_b FROM cand INTERSECT SELECT doc_a, doc_b FROM tru),
           |agg AS (
           |  SELECT (SELECT COUNT(*) FROM tru) AS n_true,
           |         (SELECT COUNT(*) FROM cand) AS n_candidates,
           |         (SELECT COUNT(*) FROM ver) AS n_verified)
           |SELECT n_true, n_candidates, n_verified,
           |  ROUND(CAST(n_verified AS DOUBLE) /
           |    NULLIF(CAST(n_true AS DOUBLE), 0.0), 6) AS recall,
           |  ROUND(CAST(n_verified AS DOUBLE) /
           |    NULLIF(CAST(n_candidates AS DOUBLE), 0.0), 6) AS cand_precision
           |FROM agg""".stripMargin
      }),

    // The BAND-GEOMETRY sweep — dedup_lsh_recall pins the 4×4 operating
    // point; this pins the whole recall/precision/cost curve over every
    // split of the 16-hash signature (16×1 … 1×16): the S-curve
    // steepness trade a user reads to pick banding for their Jaccard
    // threshold. The signature frame is computed ONCE and re-banded per
    // geometry; truth is the standing exact-pairs artifact. The dedup
    // twin of sim_recall_sweep / sim_mih_radius_sweep.
    "dedup_lsh_band_sweep" -> QueryDef(
      "Recall/precision/cost per MinHash band geometry (16x1..1x16) vs exact Jaccard >= 0.3",
      (s, dir) =>
        Dedup.lshBandSweep(Tables.documents(s, dir),
            Tables.read(s, s"${jaccardPairsDir(s, dir)}/pairs"),
            rowsPerBandSettings = Seq(1, 2, 4, 8, 16))
          .orderBy("rows_per_band"),
      Some {
        val sigEntries = Hashing.MinHashParams.map { case (a, b) =>
          s"list_min(list_transform(sh, t -> ($a * $H + $b) % ${Hashing.MinHashPrime}))"
        }.mkString(",\n    ")
        def bandCase(r: Int) = (0 until 16 / r).map { b =>
          val parts = (1 to r).map(k => s"sig[${b * r + k}]").mkString(", ")
          s"WHEN $b THEN concat_ws('_', $parts)"
        }.mkString(" ")
        val perGeom = Seq(1, 2, 4, 8, 16).map { r =>
          s"""SELECT ${16 / r} AS bands, $r AS rows_per_band, doc_id, band,
             |    CASE band ${bandCase(r)} END AS key
             |  FROM h, (SELECT unnest(range(${16 / r})) AS band)""".stripMargin
        }.mkString("\n  UNION ALL\n  ")
        s"""WITH raw AS (
           |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
           |  FROM documents),
           |d AS (
           |  SELECT doc_id,
           |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
           |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
           |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
           |  FROM raw),
           |h AS (
           |  SELECT doc_id, [
           |    $sigEntries] AS sig
           |  FROM d),
           |b AS (
           |  $perGeom),
           |cand AS (
           |  SELECT DISTINCT x.bands AS bands, x.rows_per_band AS rows_per_band,
           |    x.doc_id AS doc_a, y.doc_id AS doc_b
           |  FROM b x JOIN b y
           |    ON x.rows_per_band = y.rows_per_band AND x.band = y.band
           |   AND x.key = y.key AND x.doc_id < y.doc_id),
           |sr AS (SELECT doc_id, CAST(('0x'||substring(md5(g0),1,15)) AS BIGINT) AS g
           |      FROM (SELECT doc_id, unnest(sh) AS g0 FROM d) q0),
           |cnt AS (SELECT doc_id, len(sh) AS n_sh FROM d),
           |inter AS (
           |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, COUNT(*) AS n_inter
           |  FROM sr a JOIN sr b2 ON a.g = b2.g AND a.doc_id < b2.doc_id
           |  GROUP BY 1, 2),
           |tru AS (
           |  SELECT doc_a, doc_b FROM inter
           |  JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
           |  WHERE CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter) >= 0.3),
           |geoms AS (SELECT * FROM (VALUES (16,1),(8,2),(4,4),(2,8),(1,16))
           |          AS g(bands, rows_per_band)),
           |cc AS (SELECT bands, rows_per_band, COUNT(*) AS n_candidates
           |       FROM cand GROUP BY 1, 2),
           |vv AS (SELECT c.bands, c.rows_per_band, COUNT(*) AS n_verified
           |       FROM cand c JOIN tru t2
           |         ON t2.doc_a = c.doc_a AND t2.doc_b = c.doc_b
           |       GROUP BY 1, 2),
           |tt AS (SELECT COUNT(*) AS n_true FROM tru)
           |SELECT CAST(g.bands AS BIGINT) AS bands,
           |  CAST(g.rows_per_band AS BIGINT) AS rows_per_band,
           |  CAST(tt.n_true AS BIGINT) AS n_true,
           |  CAST(COALESCE(cc.n_candidates, 0) AS BIGINT) AS n_candidates,
           |  CAST(COALESCE(vv.n_verified, 0) AS BIGINT) AS n_verified,
           |  ROUND(COALESCE(vv.n_verified, 0) /
           |    NULLIF(CAST(tt.n_true AS DOUBLE), 0.0), 6) AS recall,
           |  ROUND(COALESCE(vv.n_verified, 0) /
           |    NULLIF(CAST(cc.n_candidates AS DOUBLE), 0.0), 6) AS cand_precision
           |FROM geoms g CROSS JOIN tt
           |LEFT JOIN cc ON cc.bands = g.bands AND cc.rows_per_band = g.rows_per_band
           |LEFT JOIN vv ON vv.bands = g.bands AND vv.rows_per_band = g.rows_per_band
           |ORDER BY rows_per_band""".stripMargin
      }),

    // Edit-distance near-dup (classic unit-cost Levenshtein DP — identical
    // in Spark and DuckDB). O(n²·len²), hence the hard 80-doc slice: this
    // modality exists for short-text / high-precision use; set-based
    // methods above are the scale path.
    "dedup_edit_distance" -> QueryDef(
      "Levenshtein distance <= 100 over an 80-doc slice",
      (s, dir) => {
        val d = Tables.documents(s, dir).filter(col("doc_id") < 80)
          .select(col("doc_id"), col("text"))
        // repartition the probe side BEFORE the broadcast join: the single
        // parquet split would otherwise emit one task, and the levenshtein
        // filter gets predicate-pushed below any post-join repartition —
        // serializing the O(len²) DP work
        val a = d.select(col("doc_id").as("doc_a"), col("text").as("ta")).repartition(32)
        val b = d.select(col("doc_id").as("doc_b"), col("text").as("tb"))
        a.join(broadcast(b), col("doc_a") < col("doc_b"))
          .withColumn("dist", levenshtein(col("ta"), col("tb")))
          .filter(col("dist") <= 100)
          .select("doc_a", "doc_b", "dist")
          .orderBy("doc_a", "doc_b")
      },
      Some("""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  levenshtein(a.text, b.text) AS dist
             |FROM documents a JOIN documents b
             |  ON a.doc_id < b.doc_id AND a.doc_id < 80 AND b.doc_id < 80
             |WHERE levenshtein(a.text, b.text) <= 100
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // The SCALE path for edit-distance dedup: length-band bucket join +
    // prefix band generate candidates relationally; the threshold-variant
    // levenshtein verifies candidates only. Runs over the FULL corpus (no
    // doc slice) — the oracle replicates the same candidate algebra, so
    // the result is hash-exact, and DedupSpec separately proves the
    // prefixLen=0 form ≡ the all-pairs form on the bounded slice.
    "dedup_edit_banded" -> QueryDef(
      "Banded edit-distance near-dup over the full corpus: length bucket + 12-char prefix band, levenshtein on candidates only",
      (s, dir) =>
        Dedup.editDistancePairs(Tables.documents(s, dir), maxDist = 100, prefixLen = 12)
          .orderBy("doc_a", "doc_b"),
      Some("""WITH d AS (
             |  SELECT doc_id, text, length(text) AS len, substring(text, 1, 12) AS pfx
             |  FROM documents)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  levenshtein(a.text, b.text) AS dist
             |FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
             |WHERE abs(a.len - b.len) <= 100
             |  AND levenshtein(a.text, b.text) <= 100
             |ORDER BY doc_a, doc_b""".stripMargin)),

    "dedup_simhash_pairs" -> QueryDef(
      "SimHash near-dup pairs: hamming(xor) <= 10 over a 200-doc slice",
      (s, dir) => {
        val sh = Dedup.simHashRows(Tables.documents(s, dir).filter(col("doc_id") < 200))
          .withColumnRenamed("simhash", "sh")
        val a = sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("hamming", Dedup.hamming(col("sh_a"), col("sh_b")))
          .filter(col("hamming") <= 10)
          .select("doc_a", "doc_b", "hamming")
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, list_distinct(regexp_split_to_array(lower(text), '\s+')) AS toks
             |  FROM documents WHERE doc_id < 200),
             |t AS (
             |  SELECT doc_id, CAST(('0x'||substring(md5(unnest(toks)),1,15)) AS BIGINT) AS h
             |  FROM d),
             |v AS (
             |  SELECT doc_id, j,
             |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             |  FROM t, (SELECT unnest(range(60)) AS j)
             |  GROUP BY doc_id, j),
             |s AS (
             |  SELECT doc_id,
             |    SUM(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS sh
             |  FROM v GROUP BY doc_id)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  bit_count(xor(a.sh, b.sh)) AS hamming
             |FROM s a JOIN s b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sh, b.sh)) <= 10
             |ORDER BY doc_a, doc_b""".stripMargin)),

    "dedup_simhash" -> QueryDef(
      "60-bit SimHash signatures from md5 token hashes (first 50 docs)",
      (s, dir) =>
        Dedup.simHashRows(Tables.documents(s, dir).filter(col("doc_id") < 50))
          .orderBy("doc_id"),
      Some("""WITH d AS (
             |  SELECT doc_id, list_distinct(regexp_split_to_array(lower(text), '\s+')) AS toks
             |  FROM documents WHERE doc_id < 50),
             |t AS (
             |  SELECT doc_id, CAST(('0x'||substring(md5(unnest(toks)),1,15)) AS BIGINT) AS h
             |  FROM d),
             |v AS (
             |  SELECT doc_id, j,
             |    SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS vote
             |  FROM t, (SELECT unnest(range(60)) AS j)
             |  GROUP BY doc_id, j)
             |SELECT doc_id,
             |  CAST(SUM(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
             |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Dup-cluster formation: pairs → connected components → per-cluster
    // stats. Spark side is iterative min-label propagation
    // (Dedup.connectedComponents); the oracle replays the same fixpoint as
    // a recursive transitive closure — iteration-count-independent, so
    // both agree exactly.
    "dedup_cc_clusters" -> QueryDef(
      "Near-dup clusters: connected components over 3-gram Jaccard >= 0.3 pairs",
      (s, dir) =>
        Tables.read(s, s"${ccLabelsDir(s, dir)}/labels")
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_docs"),
            min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
          .orderBy("cluster"),
      Some(CcLabelsCte +
        """
          |SELECT cluster, COUNT(*) AS n_docs,
          |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
          |FROM labels GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // INCREMENTAL cluster maintenance, oracle-gated end-to-end: the
    // standing label table is built over the doc_id<300 subgraph only,
    // the remaining near-dup edges arrive as a BATCH through
    // Dedup.incrementalComponents — which solves CC on the CONTRACTED
    // representative graph (≤ 2·|batch| nodes, independent of corpus
    // size) and relabels the standing table through one broadcast join;
    // global CC never re-runs and the historical edge list is never
    // revisited. The oracle is the FULL-graph recursive closure — the
    // driver hash gate IS the incremental ≡ rebuild proof, the
    // refresh posture of every other standing index applied to the last
    // one without it (cluster labels).
    "dedup_cc_incremental" -> QueryDef(
      "CC labels maintained incrementally (base <300 subgraph + edge batch) == full rebuild",
      (s, dir) => {
        val pairs = Tables.read(s, s"${jaccardPairsDir(s, dir)}/pairs")
          .select("doc_a", "doc_b")
        val base = pairs.filter(col("doc_a") < 300 && col("doc_b") < 300)
        val batch = pairs.filter(col("doc_a") >= 300 || col("doc_b") >= 300)
        val labels0 = Dedup.connectedComponents(base)
        Dedup.incrementalComponents(labels0, batch)
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_docs"),
            min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
          .orderBy("cluster")
      },
      Some(CcLabelsCte +
        """
          |SELECT cluster, COUNT(*) AS n_docs,
          |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
          |FROM labels GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // DECREMENTAL cluster maintenance — the right-to-be-forgotten path
    // for the LAST piece of derived dedup state without one. Cluster
    // labels can't be tombstoned (deleting a doc changes OTHER docs'
    // labels: the min member leaves, or a cut vertex splits the
    // cluster), but splits are CONFINED to the clusters holding a
    // retracted doc — so Dedup.retractComponents keeps every untouched
    // cluster's labels verbatim (broadcast anti join, standing rows
    // never shuffle) and re-solves CC only over the affected clusters'
    // surviving edges (request-bounded; the standing pair table scans
    // once, pruned map-side by the broadcast member set). Survivors
    // isolated by the retraction drop — exactly rebuild semantics. The
    // oracle is the recursive closure over the SURVIVOR pair set (every
    // edge touching a doc ≡ 0 mod 3 dropped) — the driver hash gate IS
    // the retract ≡ rebuild proof.
    "dedup_cc_retract" -> QueryDef(
      "CC labels maintained under doc retraction (affected clusters re-solve) == survivor rebuild",
      (s, dir) => {
        val pairs = Tables.read(s, s"${jaccardPairsDir(s, dir)}/pairs")
          .select("doc_a", "doc_b")
        val labels = Tables.read(s, s"${ccLabelsDir(s, dir)}/labels")
        val vic = Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(3L)) === 0).select("doc_id")
        Dedup.retractComponents(labels, pairs, vic)
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_docs"),
            min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
          .orderBy("cluster")
      },
      Some(ccLabelsCteWhere(" AND doc_a % 3 != 0 AND doc_b % 3 != 0") +
        """
          |SELECT cluster, COUNT(*) AS n_docs,
          |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
          |FROM labels GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // The dedup DELIVERABLE: survivor counts after keeping one canonical
    // doc (the min id) per near-dup cluster.
    "dedup_survivors" -> QueryDef(
      "Corpus size after canonical-per-cluster dedup (keep min doc per component)",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Tables.read(s, s"${ccLabelsDir(s, dir)}/labels")
          .agg(count(lit(1)).as("n_clustered"),
            countDistinct("cluster").as("n_clusters"))
          .crossJoin(docs.agg(count(lit(1)).as("n_corpus")))
          .select(col("n_corpus"), col("n_clustered"), col("n_clusters"),
            (col("n_corpus") - col("n_clustered") + col("n_clusters")).as("n_survivors"))
      },
      Some(CcLabelsCte +
        """
          |SELECT (SELECT COUNT(*) FROM documents) AS n_corpus,
          |  COUNT(*) AS n_clustered,
          |  COUNT(DISTINCT cluster) AS n_clusters,
          |  (SELECT COUNT(*) FROM documents) - COUNT(*) + COUNT(DISTINCT cluster) AS n_survivors
          |FROM labels""".stripMargin)),

    // Quality-aware canonicalization — the curation upgrade over
    // dedup_survivors' min-id rule: within each near-dup cluster keep
    // the HIGHEST-quality member (TextAnalysis.qualityScore; ties by
    // doc_id), which is what a production pipeline actually wants when
    // duplicates differ in cruft. The per-cluster argmax is a window
    // over cluster-sized groups (near-dup clusters are small by nature);
    // the quality score is per-row math, so the oracle replays the
    // whole selection exactly.
    "dedup_keep_best" -> QueryDef(
      "Quality-argmax survivor per near-dup cluster (keep best, not min id)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val labels = Tables.read(s, s"${ccLabelsDir(s, dir)}/labels")
        val w = Window.partitionBy("cluster")
          .orderBy(col("q").desc, col("doc_id").asc)
        labels
          .join(docs.select(col("doc_id"),
            graft.ext.TextAnalysis.qualityScore(col("text")).as("q")), Seq("doc_id"))
          .withColumn("rk", row_number().over(w))
          .groupBy("cluster")
          .agg(count(lit(1)).as("n_docs"),
            max(when(col("rk") === 1, col("doc_id"))).as("best_doc"),
            round(max(when(col("rk") === 1, col("q"))), 4).as("best_q"))
          .orderBy("cluster")
      },
      Some(CcLabelsCte +
        s""",
           |qs AS (
           |  SELECT doc_id,
           |    ROUND(LEAST(1.0, ntok / 50.0) * (1.0 - npunct / nchar)
           |          * (0.5 + 0.5 * nstop / ntok), 4) AS q
           |  FROM (SELECT doc_id,
           |      len(regexp_split_to_array(lower(text), '\\s+')) AS ntok,
           |      len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
           |          t -> t IN ($EnStopSql))) AS nstop,
           |      length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS npunct,
           |      length(text) AS nchar
           |    FROM documents)),
           |r AS (
           |  SELECT l.cluster, l.doc_id, qs.q,
           |    ROW_NUMBER() OVER (PARTITION BY l.cluster
           |                       ORDER BY qs.q DESC, l.doc_id ASC) AS rk
           |  FROM labels l JOIN qs ON qs.doc_id = l.doc_id)
           |SELECT cluster, COUNT(*) AS n_docs,
           |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS best_doc,
           |  ROUND(MAX(CASE WHEN rk = 1 THEN q END), 4) AS best_q
           |FROM r GROUP BY cluster ORDER BY cluster""".stripMargin)),

    // Near-dup-AWARE train/val/test split — the leakage
    // train_split_grouped cannot see: two near-duplicate documents from
    // DIFFERENT sources can straddle train/eval under any per-doc (or
    // per-domain) hash, leaking eval content into training. Here the
    // split hash runs on each doc's near-dup CLUSTER representative
    // (the component min id; singletons represent themselves), so a
    // whole cluster moves as one unit BY CONSTRUCTION — the gated
    // n_straddling_clusters column must be 0. Scale: reuses the
    // standing CC label table (built once per corpus version); the
    // split itself is one label join + map-side md5 bucket.
    "train_split_dedup_aware" -> QueryDef(
      "90/5/5 split hashed on near-dup cluster representatives (clusters never straddle)",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val labels = Tables.read(s, s"${ccLabelsDir(s, dir)}/labels")
        val rep = coalesce(col("cluster"), col("doc_id"))
        val bucket = pmod(Hashing.portableTokenHash(rep.cast("string")), lit(20L))
        val split = when(bucket < 18, "train").when(bucket === 18, "val")
          .otherwise("test")
        val tagged = docs.join(broadcast(labels), Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_chars"), rep.as("rep"), split.as("split"))
        val straddle = tagged.groupBy("rep")
          .agg(count_distinct(col("split")).as("n_splits"))
          .agg(count(when(col("n_splits") > 1, 1)).as("n_straddling_clusters"))
        tagged.groupBy("split")
          .agg(count(lit(1)).as("n_docs"),
            count_distinct(col("rep")).as("n_reps"),
            sum("n_chars").as("sum_chars"))
          .crossJoin(broadcast(straddle))
          .orderBy("split")
      },
      Some(CcLabelsCte +
        """,
          |tagged AS (
          |  SELECT d.doc_id, d.n_chars,
          |    COALESCE(l.cluster, d.doc_id) AS rep,
          |    CASE WHEN CAST(('0x'||substring(md5(
          |             CAST(COALESCE(l.cluster, d.doc_id) AS VARCHAR)),1,8)) AS BIGINT)
          |           % 20 < 18 THEN 'train'
          |         WHEN CAST(('0x'||substring(md5(
          |             CAST(COALESCE(l.cluster, d.doc_id) AS VARCHAR)),1,8)) AS BIGINT)
          |           % 20 = 18 THEN 'val'
          |         ELSE 'test' END AS split
          |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
          |straddle AS (
          |  SELECT COUNT(*) FILTER (WHERE n_splits > 1) AS n_straddling_clusters
          |  FROM (SELECT rep, COUNT(DISTINCT split) AS n_splits
          |        FROM tagged GROUP BY rep))
          |SELECT split, COUNT(*) AS n_docs,
          |  COUNT(DISTINCT rep) AS n_reps,
          |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
          |  ANY_VALUE(n_straddling_clusters) AS n_straddling_clusters
          |FROM tagged CROSS JOIN straddle
          |GROUP BY split ORDER BY split""".stripMargin))
  )

  /** Shared oracle prefix: 3-gram Jaccard pairs (same CTE as
    * dedup_ngram_jaccard) → symmetric edges → recursive reachability →
    * min-reachable-id labels. Every node with an edge reaches itself via
    * any neighbor (edges are symmetric), so MIN(b) is the component min
    * including the node's own id.
    */
  /** The English stopword set as a SQL IN-list — same rendering as
    * TextPack's, for the quality-score replay in dedup_keep_best.
    */
  private val EnStopSql: String =
    graft.ext.TextAnalysis.Stopwords("en").map(s => s"'$s'").mkString(", ")

  /** Materialized near-dup cluster labels (3-gram Jaccard ≥ 0.3 →
    * connected components), built ONCE per corpus content version and
    * served from parquet — the standing-index pattern the ANN/graph/
    * retrieval families already use. Three queries consume the labels
    * (clusters, survivors, keep-best); without this each re-derived the
    * shingle inverted-index self-join AND re-ran the CC iteration.
    * IndexCatalog's content-version key rebuilds it when the corpus
    * changes.
    */
  /** Materialized exact 3-gram Jaccard ≥ 0.3 pair table — the "ground
    * truth" tower THREE consumers previously each rebuilt per run (the
    * CC label build, dedup_cc_incremental's edge source, and
    * dedup_lsh_recall's truth side). Built once per corpus content
    * version; every consumer reads the parquet. Resolved OUTSIDE any
    * other index's builder (nested `computeIfAbsent` on one
    * ConcurrentHashMap is illegal), hence the sequential resolve in
    * [[ccLabelsDir]].
    */
  private def jaccardPairsDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.io.IndexCatalog.resolve(s, "jaccard-pairs", s"$dir/documents.parquet") { tmp =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), n = 3, threshold = 0.3)
        .write.mode("overwrite").parquet(s"$tmp/pairs")
    }

  /** Materialized full-corpus MinHash band table (band, key, doc_id) —
    * the candidate filter dedup_lsh_recall evaluates. The batch-vs-
    * corpus "neardup" index is built over the corpus SUBSET, so the eval
    * needs its own full-corpus tower; like every standing index it is
    * built once per corpus version and served from parquet.
    */
  private def lshBandsDir(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.io.IndexCatalog.resolve(s, "lsh-bands", s"$dir/documents.parquet") { tmp =>
      Dedup.bandedSignatures(Dedup.shingleRows(Tables.documents(s, dir)))
        .write.mode("overwrite").parquet(s"$tmp/bands")
    }

  private def ccLabelsDir(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    // resolve the pairs artifact FIRST (sequentially — see jaccardPairsDir)
    val pairs = jaccardPairsDir(s, dir)
    graft.io.IndexCatalog.resolve(s, "cc-labels", s"$dir/documents.parquet") { tmp =>
      Dedup.connectedComponents(Tables.read(s, s"$pairs/pairs"))
        .write.mode("overwrite").parquet(s"$tmp/labels")
    }
  }

  private val CcLabelsCte: String = ccLabelsCteWhere("")

  /** [[CcLabelsCte]] with an extra predicate on the pair set — the
    * survivor-rebuild oracle of dedup_cc_retract (e.g.
    * `" AND doc_a % 3 != 0 AND doc_b % 3 != 0"` drops every edge
    * touching a retracted doc before the closure runs).
    */
  private def ccLabelsCteWhere(edgePred: String): String =
    s"""WITH RECURSIVE raw AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
      |  FROM documents),
      |d AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 3 THEN []::VARCHAR[]
      |         ELSE list_distinct(list_transform(range(1, len(t) - 1),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS sh
      |  FROM raw),
      |hs AS (
      |  SELECT doc_id, list_transform(sh,
      |    g -> CAST(('0x'||substring(md5(g),1,15)) AS BIGINT)) AS h
      |  FROM d),
      |p AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    len(list_intersect(a.h, b.h))::DOUBLE /
      |      (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) AS jac
      |  FROM hs a JOIN hs b ON a.doc_id < b.doc_id),
      |pairs AS (SELECT doc_a, doc_b FROM p WHERE jac >= 0.3$edgePred),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION
      |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
      |reach(a, b) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
      |labels AS (
      |  SELECT a AS doc_id, MIN(b) AS cluster FROM reach GROUP BY a)""".stripMargin
}
