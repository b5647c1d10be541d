package graft.queries

import org.apache.spark.sql.functions._
import graft.ext.TextAnalysis
import graft.{QueryDef, QueryPack, Tables}

/** Text-analysis extension queries over `documents` (builder contract:
  * token counting, quality scoring, language-ID, fingerprinting — each
  * oracle-checked).
  */
object TextPack extends QueryPack {

  private val EnStop = TextAnalysis.Stopwords("en").map(s => s"'$s'").mkString(", ")

  /** Shared oracle for every BM25 query: corpus BM25 replayed from the
    * raw documents (optionally restricted by `where` — the retraction
    * queries score against the SURVIVING documents only). One SQL
    * serving every physical layout (one-shot batch index, incrementally
    * refreshed, streaming delta log, tombstoned merge-on-read,
    * compacted) is exactly the parity claim: the layout must never
    * change scores.
    */
  /** Shared oracle for every positional-index phrase query — the bm25
    * pattern: one SQL (phrase 'slow hash batch', adjacency-joined from
    * the raw documents, optionally restricted by `where` for the
    * retraction gates) serving every physical layout (one-shot build,
    * incremental refresh, streaming batch files, tombstoned
    * merge-on-read, compacted). The layout must never change hits.
    */
  private def phraseOracle(where: String = ""): String =
    s"""WITH d AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |  FROM documents$where),
       |p AS (
       |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
       |  FROM d),
       |a AS (SELECT doc_id, pos AS p0 FROM p WHERE tok = 'slow'),
       |m1 AS (SELECT a.doc_id, a.p0 FROM a JOIN p
       |       ON p.doc_id = a.doc_id AND p.pos = a.p0 + 1 AND p.tok = 'hash'),
       |m2 AS (SELECT m1.doc_id, m1.p0 FROM m1 JOIN p
       |       ON p.doc_id = m1.doc_id AND p.pos = m1.p0 + 2 AND p.tok = 'batch')
       |SELECT doc_id, COUNT(*) AS n_occurrences
       |FROM m2 GROUP BY doc_id
       |ORDER BY n_occurrences DESC, doc_id ASC LIMIT 10""".stripMargin

  private def bm25TopKOracle(where: String = ""): String =
    s"""WITH toked AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      |  FROM documents$where),
      |tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(toks) AS tok FROM toked)
      |  GROUP BY doc_id, tok),
      |dlen AS (SELECT doc_id, len(toks) AS len FROM toked),
      |stats AS (SELECT COUNT(*) AS n_docs, AVG(len) AS avg_len FROM dlen),
      |dftab AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
      |qtoks AS (
      |  SELECT DISTINCT doc_id AS query_id, tok FROM (
      |    SELECT doc_id, unnest(toks[1:8]) AS tok FROM toked WHERE doc_id < 3)),
      |perdoc AS (
      |  SELECT q.query_id, tf.doc_id,
      |    ROUND(SUM(
      |      ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) *
      |      tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * l.len / s.avg_len))), 6) AS score
      |  FROM tf
      |  JOIN qtoks q USING (tok)
      |  JOIN dftab d USING (tok)
      |  JOIN dlen l ON tf.doc_id = l.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY q.query_id, tf.doc_id),
      |ranked AS (
      |  SELECT query_id, doc_id, score,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM perdoc)
      |SELECT query_id, rank, doc_id, score FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** The shared BM25 query side: leading-8-token vocabularies of the
    * first 3 docs, then per-query top-5 over the scored docs.
    */
  private def bm25TopK(
      s: org.apache.spark.sql.SparkSession, dir: String,
      perDocFor: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val qtoks = Tables.documents(s, dir).filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        explode(slice(TextAnalysis.tokens(col("text")), 1, 8)).as("tok"))
      .distinct()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    perDocFor(qtoks).withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** text_langid_ngram classify pass: score(l) = |{profile grams of l
    * present in doc}| — profile grams are distinct, so summing presence
    * flags equals the distinct-overlap count. A doc matching no profile
    * gram of any language is absent from the inner-join oracle ⇒ filtered
    * out. Scores are higher-order filters over 50-gram literal arrays —
    * deliberately NOT a 50-term codegen'd when(instr…) sum: that form
    * measured ~7 s of Janino compile for 0.14 s of execution; the HOF is
    * CodegenFallback (tiny generated code) and the interpreted contains()
    * scan is trivial per row. The explode(array(struct(scores))) is a
    * barrier: Project collapse would otherwise inline each score HOF into
    * greatest() and every when() arm (~4× code duplication → ~4× Janino
    * compile time), and a predicate on generator output cannot be pushed
    * below the Generate — so each score is computed (and compiled) exactly
    * once, and everything downstream is cheap field access.
    */
  private def classify(
      docs: org.apache.spark.sql.DataFrame,
      byLang: Seq[(String, Seq[String])]): org.apache.spark.sql.DataFrame = {
    val langs = byLang.map(_._1)
    val scoreCols = byLang.map { case (l, gs) =>
      size(filter(array(gs.map(lit): _*), g => contains(col("t"), g)))
        .as(s"score_$l")
    }
    val scored = docs
      .select(col("lang"), lower(col("text")).as("t"))
      .select(col("lang"), explode(array(struct(scoreCols: _*))).as("s"))
    def score(l: String) = col("s").getField(s"score_$l")
    val best =
      if (langs.size == 1) score(langs.head)
      else greatest(langs.map(score): _*)
    // filter(best >= 1) guarantees some score equals best, so the
    // when-chain needs no otherwise; asc lang order tie-breaks asc
    val predicted = langs.tail.foldLeft(
      when(score(langs.head) === best, langs.head)) {
      (acc, l) => acc.when(score(l) === best, l)
    }
    scored
      .filter(best >= 1)
      .select(col("lang"), predicted.as("predicted"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_last("lang"), asc_nulls_last("predicted"))
  }

  def queries: Map[String, QueryDef] = Map(

    "text_tokens" -> QueryDef(
      "Whitespace + BPE-ish regex token counts per language",
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(TextAnalysis.tokenCount(col("text"))).as("sum_ws_tokens"),
            sum(TextAnalysis.bpeishTokenCount(col("text"))).as("sum_bpeish_tokens"),
            round(avg(TextAnalysis.tokenCount(col("text"))), 4).as("avg_ws_tokens"))
          .orderBy(asc_nulls_last("lang")),
      Some(s"""SELECT lang, COUNT(*) AS n_docs,
              |  CAST(SUM(len(regexp_split_to_array(lower(text), '\\s+'))) AS BIGINT) AS sum_ws_tokens,
              |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS BIGINT) AS sum_bpeish_tokens,
              |  ROUND(AVG(len(regexp_split_to_array(lower(text), '\\s+'))), 4) AS avg_ws_tokens
              |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // BPE merge induction — the actual tokenizer-TRAINING step, two
    // rounds of the merge loop run for real: count adjacent symbol
    // pairs over all token instances, merge the winning pair into one
    // symbol ('¤', absent from the corpus) corpus-wide, recount. Round 2
    // counts genuinely differ (pairs overlapping the merged span are
    // consumed), which is what makes this BPE and not a static n-gram
    // count. Each round is one map-only explode + one pair-keyed count;
    // the winning pair travels by broadcast — at 100 TB each merge
    // round is one aggregation pass, the standard distributed-BPE shape.
    // Two rounds keeps the oracle tractable; the N-round operator (fresh
    // merge symbol per round, localCheckpoint-truncated lineage) is
    // TextAnalysis.bpeMerges, spec-proven to round 10.
    "text_bpe_merge" -> QueryDef(
      "Two BPE merge rounds: top pair, merge corpus-wide, top-10 recount",
      (s, dir) => {
        def pairsOf(df: org.apache.spark.sql.DataFrame) =
          df.filter(length(col("tok")) >= 2)
            .select(explode(expr(
              "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
              .as("pair"))
            .groupBy("pair").agg(count(lit(1)).as("n"))
        // tokenize ONCE (checkpoint): both rounds' pair counts read the
        // token stream back instead of re-running the corpus tokenize —
        // the bpeMerges (N-round) posture, where the merged corpus is
        // checkpointed per round at the same token-instance scale
        val toks = Tables.documents(s, dir)
          .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
          .localCheckpoint()
        // round-1 winner COLLECTED (one row — the bpeMerges loop shape):
        // the broadcast-join form re-derived the whole p1 aggregate twice
        // (once under the merge, once in the final union)
        val top1Row = pairsOf(toks)
          .orderBy(col("n").desc, col("pair").asc).limit(1).collect()
        import s.implicits._
        if (top1Row.isEmpty)
          // no pair anywhere: the old form's empty-broadcast crossJoin
          // yielded an empty result — keep that contract
          Seq.empty[(Int, String, Long)].toDF("round", "pair", "n")
        else {
          val (mp, n1) = (top1Row(0).getString(0), top1Row(0).getLong(1))
          val merged = toks
            .select(org.apache.spark.sql.functions.replace(
              col("tok"), lit(mp), lit("¤")).as("tok"))
          val top10r2 = pairsOf(merged)
            .orderBy(col("n").desc, col("pair").asc).limit(10)
            .select(lit(2).as("round"), col("pair"), col("n"))
          Seq((1, mp, n1)).toDF("round", "pair", "n")
            .unionAll(top10r2)
            .orderBy(col("round").asc, col("n").desc, col("pair").asc)
        }
      },
      Some("""WITH toks AS (
             |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             |  FROM documents),
             |p1 AS (
             |  SELECT pair, COUNT(*) AS n FROM (
             |    SELECT unnest(list_transform(range(1, length(tok)),
             |             i -> substring(tok, i, 2))) AS pair
             |    FROM toks WHERE length(tok) >= 2)
             |  GROUP BY pair),
             |top1 AS (SELECT pair, n FROM p1 ORDER BY n DESC, pair ASC LIMIT 1),
             |merged AS (
             |  SELECT replace(tok, (SELECT pair FROM top1), '¤') AS tok FROM toks),
             |p2 AS (
             |  SELECT pair, COUNT(*) AS n FROM (
             |    SELECT unnest(list_transform(range(1, length(tok)),
             |             i -> substring(tok, i, 2))) AS pair
             |    FROM merged WHERE length(tok) >= 2)
             |  GROUP BY pair),
             |t2 AS (SELECT 2 AS round, pair, n FROM p2 ORDER BY n DESC, pair ASC LIMIT 10)
             |SELECT round, pair, CAST(n AS BIGINT) AS n FROM (
             |  SELECT 1 AS round, pair, n FROM top1
             |  UNION ALL
             |  SELECT round, pair, n FROM t2)
             |ORDER BY round, n DESC, pair ASC""".stripMargin)),

    // LM-perplexity quality scoring: train an add-one bigram model on
    // the corpus, score each doc in bits/bigram, roll up per source.
    // The integer n_bigrams column is hash-exact; the bit scores round
    // to 4 decimals (log2 last-ulp differences between engines sit ten
    // orders of magnitude below that).
    "text_lm_bits" -> QueryDef(
      "Bigram-LM quality score: avg/max bits-per-bigram per source (add-one smoothing)",
      (s, dir) =>
        // the per-doc LM profile is a STANDING score table (what a
        // curation pipeline persists): the tokenize + bigram model +
        // per-doc scoring runs once per corpus version, rollups read it
        Tables.read(s, graft.io.IndexCatalog.resolve(
            s, "lm-profile", s"$dir/documents.parquet") { tmp =>
            graft.ext.TextAnalysis.bigramLmProfile(Tables.documents(s, dir))
              .write.mode("overwrite").parquet(s"$tmp/p")
          } + "/p")
          .groupBy("source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum("n_bg").as("n_bigrams"),
            round(avg("bits"), 4).as("avg_bits"),
            round(max("bits"), 4).as("max_bits"))
          .orderBy(asc_nulls_last("source")),
      Some("""WITH toked AS (
             |  SELECT doc_id, source, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |pos AS (
             |  SELECT doc_id, source, t,
             |    unnest(generate_series(1, len(t) - 1)) AS i
             |  FROM toked WHERE len(t) >= 2),
             |inst AS (
             |  SELECT doc_id, source, t[i] AS a, t[i + 1] AS b, COUNT(*) AS c_db
             |  FROM pos GROUP BY 1, 2, 3, 4),
             |bg AS (SELECT a, b, SUM(c_db) AS c_b FROM inst GROUP BY a, b),
             |ctx AS (SELECT a, SUM(c_b) AS ca FROM bg GROUP BY a),
             |v AS (
             |  SELECT COUNT(DISTINCT tok) AS vsz
             |  FROM (SELECT unnest(t) AS tok FROM toked)),
             |perdoc AS (
             |  SELECT i.doc_id, i.source, SUM(i.c_db) AS n_bg,
             |    SUM(i.c_db * -log2((bg.c_b + 1.0) / (ctx.ca + v.vsz))) /
             |      SUM(i.c_db) AS bits
             |  FROM inst i
             |  JOIN bg USING (a, b) JOIN ctx USING (a) CROSS JOIN v
             |  GROUP BY 1, 2)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(n_bg) AS BIGINT) AS n_bigrams,
             |  ROUND(AVG(bits), 4) AS avg_bits,
             |  ROUND(MAX(bits), 4) AS max_bits
             |FROM perdoc GROUP BY source ORDER BY source""".stripMargin)),

    // Collocation mining by PMI (TextAnalysis.pmiPairs) — association-
    // ranked bigrams, the signal raw frequency misses (a pair can be
    // frequent only because both words are). Every count is integral and
    // the PMI is per-row math over those integers, so the top-k cut is
    // engine-exact; the cut itself runs as a distributed TakeOrdered,
    // and the BOUNDARY is deterministic because both engines rank the
    // identical unrounded doubles with the (a,b) tiebreak.
    "text_pmi_pairs" -> QueryDef(
      "Top-20 adjacent-token collocations by PMI (min pair count 5)",
      (s, dir) =>
        graft.ext.TextAnalysis.pmiPairs(Tables.documents(s, dir), minCount = 5L, k = 20)
          .orderBy(col("pmi").desc, col("a").asc, col("b").asc),
      Some("""WITH toked AS (
             |  SELECT regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
             |bg AS (
             |  SELECT t[i] AS a, t[i + 1] AS b, COUNT(*) AS c_ab
             |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
             |        FROM toked WHERE len(t) >= 2)
             |  GROUP BY 1, 2),
             |uni AS (
             |  SELECT tok, COUNT(*) AS c
             |  FROM (SELECT unnest(t) AS tok FROM toked) GROUP BY tok),
             |nb AS (SELECT CAST(SUM(c_ab) AS DOUBLE) AS n_bg FROM bg),
             |nu AS (SELECT CAST(SUM(c) AS DOUBLE) AS n_uni FROM uni),
             |scored AS (
             |  SELECT g.a, g.b, g.c_ab, ua.c AS c_a, ub.c AS c_b,
             |    log2((g.c_ab / nb.n_bg) /
             |         ((ua.c / nu.n_uni) * (ub.c / nu.n_uni))) AS pmi_raw
             |  FROM bg g
             |  JOIN uni ua ON ua.tok = g.a
             |  JOIN uni ub ON ub.tok = g.b
             |  CROSS JOIN nb CROSS JOIN nu
             |  WHERE g.c_ab >= 5)
             |SELECT a, b, CAST(c_ab AS BIGINT) AS c_ab, CAST(c_a AS BIGINT) AS c_a,
             |  CAST(c_b AS BIGINT) AS c_b, ROUND(pmi_raw, 6) AS pmi
             |FROM scored
             |ORDER BY pmi_raw DESC, a ASC, b ASC LIMIT 20""".stripMargin)),

    // The APPLY side of BPE: train 2 merge rounds (TextAnalysis.bpeMerges
    // — only the 2-row merge table is collected), then encode the corpus
    // with the learned merges and report per-language compression. The
    // encode pass is a map-only replace chain — the production tokenizer
    // shape (small learned model, one codegen scan); the oracle re-derives
    // the same merges in SQL and replays the chain, so train AND apply are
    // both hash-gated. Integer char counts; the ratio is a division of
    // exact ints, identical in both engines.
    "text_bpe_encode" -> QueryDef(
      "Apply 2 learned BPE merges corpus-wide: per-language char compression",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val toks = docs.select(col("lang"),
          explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
        // the trained tokenizer is a STANDING artifact: the 2-row merge
        // table is induced once per corpus content version and served
        // from parquet (the production posture — a tokenizer trains
        // once, encodes forever); only the map-only encode pass runs
        // per query. IndexCatalog rebuilds the model if the corpus
        // changes.
        val modelDir = graft.io.IndexCatalog.resolve(
          s, "bpe-merges", s"$dir/documents.parquet") { tmp =>
          graft.ext.TextAnalysis.bpeMerges(toks.select("tok"), rounds = 2)
            .write.mode("overwrite").parquet(s"$tmp/merges")
        }
        val merges = Tables.read(s, s"$modelDir/merges").collect()
        val encoded = merges.sortBy(_.getInt(0)).foldLeft(col("tok")) { (c, m) =>
          org.apache.spark.sql.functions.replace(
            c, lit(m.getString(1)), lit((0xE000 + m.getInt(0)).toChar.toString))
        }
        toks.select(col("lang"), length(col("tok")).as("raw"),
            length(encoded).as("enc"))
          .groupBy("lang")
          .agg(
            sum("raw").as("chars_raw"),
            sum("enc").as("chars_enc"))
          .withColumn("ratio", round(col("chars_enc") / col("chars_raw"), 4))
          .orderBy(asc_nulls_last("lang"))
      },
      Some("""WITH toks AS (
             |  SELECT lang, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             |  FROM documents),
             |p1 AS (
             |  SELECT pair, COUNT(*) AS n FROM (
             |    SELECT unnest(list_transform(range(1, length(tok)),
             |             i -> substring(tok, i, 2))) AS pair
             |    FROM toks WHERE length(tok) >= 2)
             |  GROUP BY pair HAVING COUNT(*) >= 2),
             |t1 AS (SELECT pair FROM p1 ORDER BY n DESC, pair ASC LIMIT 1),
             |m1 AS (
             |  SELECT lang, replace(tok, (SELECT pair FROM t1), chr(57345)) AS tok
             |  FROM toks),
             |p2 AS (
             |  SELECT pair, COUNT(*) AS n FROM (
             |    SELECT unnest(list_transform(range(1, length(tok)),
             |             i -> substring(tok, i, 2))) AS pair
             |    FROM m1 WHERE length(tok) >= 2)
             |  GROUP BY pair HAVING COUNT(*) >= 2),
             |t2 AS (SELECT pair FROM p2 ORDER BY n DESC, pair ASC LIMIT 1),
             |m2 AS (
             |  SELECT lang, replace(tok, (SELECT pair FROM t2), chr(57346)) AS tok
             |  FROM m1),
             |raw AS (SELECT lang, SUM(length(tok)) AS chars_raw FROM toks GROUP BY lang),
             |enc AS (SELECT lang, SUM(length(tok)) AS chars_enc FROM m2 GROUP BY lang)
             |SELECT r.lang, CAST(r.chars_raw AS BIGINT) AS chars_raw,
             |  CAST(e.chars_enc AS BIGINT) AS chars_enc,
             |  ROUND(1.0 * e.chars_enc / r.chars_raw, 4) AS ratio
             |FROM raw r JOIN enc e ON r.lang = e.lang
             |ORDER BY r.lang""".stripMargin)),

    "text_quality" -> QueryDef(
      "Heuristic quality score (length, punctuation, stopword fluency) per language",
      (s, dir) =>
        Tables.documents(s, dir)
          .withColumn("q", TextAnalysis.qualityScore(col("text")))
          // nullif: empty text ⇒ NULL ratio (DuckDB div-by-zero yields
          // NULL; ANSI Spark would throw) — avg() then skips it, both
          // engines alike
          .withColumn("punct_ratio",
            TextAnalysis.punctCount(col("text")).cast("double") /
              nullif(length(col("text")).cast("double"), lit(0.0)))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            round(avg("q"), 4).as("avg_quality"),
            round(avg("punct_ratio"), 4).as("avg_punct_ratio"))
          .orderBy(asc_nulls_last("lang")),
      Some(s"""WITH m AS (
              |  SELECT lang,
              |    len(regexp_split_to_array(lower(text), '\\s+')) AS ntok,
              |    len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
              |        t -> t IN ($EnStop))) AS nstop,
              |    length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')) AS npunct,
              |    length(text) AS nchar
              |  FROM documents)
              |SELECT lang, COUNT(*) AS n_docs,
              |  ROUND(AVG(ROUND(LEAST(1.0, ntok / 50.0) * (1.0 - npunct / nchar)
              |        * (0.5 + 0.5 * nstop / ntok), 4)), 4) AS avg_quality,
              |  ROUND(AVG(npunct / nchar), 4) AS avg_punct_ratio
              |FROM m GROUP BY lang ORDER BY lang""".stripMargin)),

    "text_langid" -> QueryDef(
      "Stopword-profile language ID; confusion counts vs the labeled lang",
      (s, dir) =>
        Tables.documents(s, dir)
          .withColumn("predicted", TextAnalysis.langId(col("text")))
          .groupBy("lang", "predicted")
          .agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_last("lang"), asc_nulls_last("predicted")),
      Some {
        def hits(l: String) = {
          val set = TextAnalysis.Stopwords(l).map(s => s"'$s'").mkString(", ")
          s"len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t IN ($set)))"
        }
        s"""WITH sc AS (
           |  SELECT lang, ${hits("de")} AS s_de, ${hits("en")} AS s_en,
           |         ${hits("es")} AS s_es, ${hits("fr")} AS s_fr
           |  FROM documents),
           |p AS (
           |  SELECT lang, CASE
           |    WHEN s_de + s_en + s_es + s_fr = 0 THEN 'und'
           |    WHEN s_de >= GREATEST(s_en, s_es, s_fr) THEN 'de'
           |    WHEN s_en >= GREATEST(s_es, s_fr) THEN 'en'
           |    WHEN s_es >= s_fr THEN 'es'
           |    ELSE 'fr' END AS predicted
           |  FROM sc)
           |SELECT lang, predicted, COUNT(*) AS n
           |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin
      }),

    // Corpus vocabulary statistics: vocab size, hapax legomena, coverage
    // of the top-10 tokens.
    "text_vocab_stats" -> QueryDef(
      "Corpus vocabulary: size, hapax count, top-10 token mass",
      (s, dir) => {
        val tokenCounts = Tables.documents(s, dir)
          .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("n"))
        val top10 = tokenCounts.orderBy(col("n").desc, col("tok").asc).limit(10)
          .agg(sum("n").as("top10_mass"))
        tokenCounts.agg(
          count(lit(1)).as("vocab_size"),
          sum("n").as("total_tokens"),
          count(when(col("n") === 1, 1)).as("n_hapax"))
          .crossJoin(top10)
      },
      Some("""WITH tc AS (
             |  SELECT tok, COUNT(*) AS n
             |  FROM (SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY tok
             |), top10 AS (
             |  SELECT CAST(SUM(n) AS BIGINT) AS top10_mass
             |  FROM (SELECT n FROM tc ORDER BY n DESC, tok ASC LIMIT 10)
             |)
             |SELECT COUNT(*) AS vocab_size, CAST(SUM(n) AS BIGINT) AS total_tokens,
             |  COUNT(CASE WHEN n = 1 THEN 1 END) AS n_hapax, top10_mass
             |FROM tc, top10
             |GROUP BY top10_mass""".stripMargin)),

    // Count-min-sketch heavy hitters (ext/Sketches): the exact top-15
    // tokens estimated from a FIXED 4×1024-counter summary of the whole
    // token stream. The sketch's md5-derived universal hashes are the
    // MinHash family's rows 0..3, so DuckDB replays every counter and
    // every min-over-rows estimate exactly — the overcount column is
    // the sketch's actual collision error, hash-gated, not a tolerance.
    // At 100 TB: the sketch builds map-side (shuffle ≤ 4096 rows after
    // partial agg), merges bucket-wise across batches, broadcasts to
    // estimate any candidate set from 16 KB.
    // Frequent-items sketch (Misra-Gries, ext/FreqSketches) beside the
    // CMS below — the heavy-hitter answer that needs NO candidate list:
    // the sketch carries its items, with the published guarantee that
    // under NO_FALSE_NEGATIVES every token of true count > N/maxMapSize
    // is returned. Gated the sketch-family way: the output rows are the
    // EXACT top-10 (count desc, tok asc) and `found` asserts each is in
    // the sketch's frequent set — the guarantee says TRUE always (top
    // tokens here sit far above the N/1024 bound), so a sketch/merge
    // bug is a hash failure. Build is per-partition bounded sketches +
    // one typed-Aggregator merge; the frequent set collected driver-side
    // is ≤ maxMapSize strings (bounded metadata).
    "sketch_freq_items" -> QueryDef(
      "Misra-Gries frequent-items sketch covers the exact top-10 tokens (guarantee-gated)",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
        val skRows = graft.ext.FreqSketches.buildSketch(tok, "tok").collect()
        val freq = // empty corpus → no groups → no sketch row
          if (skRows.isEmpty) Seq.empty[String]
          else graft.ext.FreqSketches.frequentItems(skRows.head.getAs[Array[Byte]](0))
        tok.groupBy("tok").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok").asc).limit(10)
          .withColumn("found", col("tok").isInCollection(freq))
          .orderBy(col("n").desc, col("tok").asc)
      },
      Some("""WITH tok AS (
             |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             |  FROM documents)
             |SELECT tok, COUNT(*) AS n, TRUE AS found
             |FROM tok GROUP BY tok
             |ORDER BY n DESC, tok ASC LIMIT 10""".stripMargin)),

    "text_heavy_hitters" -> QueryDef(
      "Count-min sketch estimates of the exact top-15 tokens, with per-token overcount",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
        val sketch = graft.ext.Sketches.cmsBuild(tok, "tok")
        val top = tok.groupBy("tok").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("tok").asc).limit(15)
        graft.ext.Sketches.cmsEstimate(sketch, top, "tok")
          .select(col("tok"), col("exact_n"), col("cms_n"),
            (col("cms_n") - col("exact_n")).as("overcount"))
          .orderBy(col("exact_n").desc, col("tok").asc)
      },
      Some("""WITH tok AS (
             |  SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok FROM documents),
             |hx AS (
             |  SELECT tok, CAST(('0x'||substring(md5(tok),1,8)) AS BIGINT) AS hx FROM tok),
             |buckets AS (
             |  SELECT r.row,
             |    ((CASE r.row WHEN 0 THEN 387412301*hx + 12097
             |                 WHEN 1 THEN 204209821*hx + 29063
             |                 WHEN 2 THEN 918273647*hx + 40213
             |                 ELSE 536870923*hx + 17389 END) % 4294967311) % 1024 AS bucket
             |  FROM hx CROSS JOIN (VALUES (0), (1), (2), (3)) r(row)),
             |cms AS (
             |  SELECT row, bucket, COUNT(*) AS cnt FROM buckets GROUP BY row, bucket),
             |top AS (
             |  SELECT tok, COUNT(*) AS exact_n FROM tok GROUP BY tok
             |  ORDER BY exact_n DESC, tok ASC LIMIT 15),
             |est AS (
             |  SELECT t.tok, t.exact_n, MIN(c.cnt) AS cms_n
             |  FROM (SELECT tok, exact_n,
             |          CAST(('0x'||substring(md5(tok),1,8)) AS BIGINT) AS hx FROM top) t
             |  CROSS JOIN (VALUES (0), (1), (2), (3)) r(row)
             |  JOIN cms c ON c.row = r.row AND c.bucket =
             |    ((CASE r.row WHEN 0 THEN 387412301*t.hx + 12097
             |                 WHEN 1 THEN 204209821*t.hx + 29063
             |                 WHEN 2 THEN 918273647*t.hx + 40213
             |                 ELSE 536870923*t.hx + 17389 END) % 4294967311) % 1024
             |  GROUP BY t.tok, t.exact_n)
             |SELECT tok, exact_n, cms_n, cms_n - exact_n AS overcount
             |FROM est ORDER BY exact_n DESC, tok ASC""".stripMargin)),

    // Per-doc token-distribution Shannon entropy (bits/token) — the
    // quality signal that separates natural text (high entropy) from
    // boilerplate/repetition (low). Both float sums — per-doc Σ p·log2 p
    // and the per-lang mean — go through DECIMAL(20,14), so the
    // aggregation is order-independent at any parallelism and replays
    // exactly in DuckDB; every per-term double is a pure function of
    // (n, N) computed identically by both engines.
    "text_entropy" -> QueryDef(
      "Per-lang mean token-entropy (bits/token) with low-entropy doc count",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tf = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("n"))
        val wDoc = Window.partitionBy("doc_id")
        val p = col("n").cast("double") / sum("n").over(wDoc).cast("double")
        val perDoc = tf
          .withColumn("term", (-(p * log2(p))).cast("decimal(20,14)"))
          .groupBy("doc_id", "lang")
          .agg(sum("term").cast("double").as("h"))
        perDoc.groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            round(sum(col("h").cast("decimal(20,14)")).cast("double") / count(lit(1)), 6)
              .as("avg_entropy"),
            count(when(col("h") < 3.0, 1)).as("n_low_entropy"))
          .orderBy(asc_nulls_last("lang"))
      },
      Some("""WITH tf AS (
             |  SELECT doc_id, lang, tok, COUNT(*) AS n
             |  FROM (SELECT doc_id, lang,
             |          unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             |        FROM documents)
             |  GROUP BY doc_id, lang, tok),
             |terms AS (
             |  SELECT doc_id, lang,
             |    CAST(-((CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY doc_id) AS DOUBLE))
             |      * log2(CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY doc_id) AS DOUBLE)))
             |      AS DECIMAL(20,14)) AS term
             |  FROM tf),
             |per_doc AS (
             |  SELECT doc_id, lang, CAST(SUM(term) AS DOUBLE) AS h
             |  FROM terms GROUP BY doc_id, lang)
             |SELECT lang, COUNT(*) AS n_docs,
             |  ROUND(CAST(SUM(CAST(h AS DECIMAL(20,14))) AS DOUBLE) / COUNT(*), 6) AS avg_entropy,
             |  COUNT(CASE WHEN h < 3.0 THEN 1 END) AS n_low_entropy
             |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin)),

    "text_chargrams" -> QueryDef(
      "Top-20 character trigrams across the corpus (n-gram profile)",
      (s, dir) =>
        Tables.documents(s, dir)
          // explode the INDEX sequence and slice with a plain row-level
          // substr: every step is whole-stage codegen. A transform()
          // lambda would run interpreted per element (CodegenFallback)
          .select(lower(col("text")).as("t"))
          // len < 3 guard: sequence(1, len-2) would generate DESCENDING
          .select(col("t"), explode(
            when(length(col("t")) >= 3, sequence(lit(1), length(col("t")) - 2))
              .otherwise(array().cast("array<int>"))).as("i"))
          .select(substr(col("t"), col("i"), lit(3)).as("gram"))
          .groupBy("gram")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("gram").asc)
          .limit(20),
      Some("""SELECT gram, COUNT(*) AS n
             |FROM (SELECT unnest(list_transform(range(1, length(text) - 1),
             |               i -> substring(lower(text), i, 3))) AS gram
             |      FROM documents)
             |GROUP BY gram
             |ORDER BY n DESC, gram ASC
             |LIMIT 20""".stripMargin)),

    // N-gram-profile language ID: top-50 char trigrams per labeled
    // language form the profile; docs classify to the profile with the
    // largest distinct-trigram overlap (ties: lang asc). Two-pass: the
    // profile pass is relational (explode → partial-agg → top-k) over a
    // BOUNDED training slice (doc_id < 500 — same trainCap shape as the
    // k-means/PQ models: profiles converge on a sample, and exploding
    // every trigram of a 100 TB corpus just to pick 50 per language is
    // wasted work); the ~|langs|×50-row profile is then COLLECTED (the
    // standard train-then-broadcast shape) and the classify pass scores
    // EVERY doc with codegen'd instr() presence checks — no second
    // explode, no doc×gram shuffle, no per-doc window. At 100 TB the
    // classify pass is a single map-only scan.
    "text_langid_ngram" -> QueryDef(
      "Char-trigram profile language ID (500-doc training slice); confusion counts vs labels",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        // guard sub-3-char texts: sequence(1, len-2) would generate a
        // DESCENDING sequence for len < 3 (Spark defaults step to -1),
        // where the oracle's range(1, len-1) is empty
        val positions = when(length(col("t")) >= 3, sequence(lit(1), length(col("t")) - 2))
          .otherwise(array().cast("array<int>"))
        val grams = docs
          .filter(col("doc_id") < 500)
          .select(col("lang"), lower(col("text")).as("t"))
          .select(col("lang"), explode(positions).as("i"), col("t"))
          .select(col("lang"), substr(col("t"), col("i"), lit(3)).as("gram"))

        // profile pass: groupBy(lang, gram) collapses map-side to
        // ~|langs|×|distinct grams| per partition; top-50 per lang
        val profiles = grams.groupBy(col("lang").as("p_lang"), col("gram"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("p_lang").orderBy(col("n").desc, col("gram").asc)))
          .filter(col("rk") <= 50)
          .select("p_lang", "gram")
          .collect()
        val byLang: Seq[(String, Seq[String])] = profiles
          .groupBy(_.getString(0)).view
          .mapValues(_.map(_.getString(1)).toSeq).toSeq
          .sortBy(_._1) // asc order ⇒ the when() chain below tie-breaks asc

        if (byLang.isEmpty) {
          // no grams at all (empty corpus / all sub-3-char texts): the
          // oracle's inner joins yield nothing — degrade to empty, don't
          // throw (RobustnessSpec contract)
          import s.implicits._
          Seq.empty[(String, String, Long)].toDF("lang", "predicted", "n")
        } else classify(docs, byLang)
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, lang,
             |    unnest(list_transform(range(1, length(text) - 1),
             |      i -> substring(lower(text), i, 3))) AS gram
             |  FROM documents
             |), doc_grams AS (
             |  SELECT DISTINCT doc_id, lang, gram FROM grams
             |), profile_counts AS (
             |  SELECT lang AS p_lang, gram, COUNT(*) AS n
             |  FROM grams WHERE doc_id < 500 GROUP BY lang, gram
             |), profiles AS (
             |  SELECT p_lang, gram FROM (
             |    SELECT p_lang, gram,
             |      ROW_NUMBER() OVER (PARTITION BY p_lang ORDER BY n DESC, gram ASC) AS rk
             |    FROM profile_counts)
             |  WHERE rk <= 50
             |), scored AS (
             |  SELECT doc_id, lang, p_lang, COUNT(*) AS score
             |  FROM doc_grams d JOIN profiles p USING (gram)
             |  GROUP BY doc_id, lang, p_lang
             |), best AS (
             |  SELECT doc_id, lang, p_lang FROM (
             |    SELECT doc_id, lang, p_lang,
             |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang ASC) AS rk
             |    FROM scored)
             |  WHERE rk = 1
             |)
             |SELECT lang, p_lang AS predicted, COUNT(*) AS n
             |FROM best GROUP BY lang, p_lang ORDER BY lang, predicted""".stripMargin)),

    // TF-IDF document similarity (sparse vectors as (doc, token, weight)
    // ROWS; pair dot products via the shared-token join — no dense
    // vectors, no cross product). Linear idf (N/df, not ln) on purpose:
    // ln differs in final ulps across libm implementations, while
    // +,*,/ arithmetic is bit-identical, keeping the oracle exact. Ranks
    // order by the ROUNDED cosine so sub-1e-6 cross-engine summation
    // differences cannot flip neighbors.
    "text_tfidf_sim" -> QueryDef(
      "Most-similar document per doc by tf-idf cosine (200-doc slice)",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir).filter(col("doc_id") < 200)
        val nDocs = 200.0
        // tf checkpoints (one tokenize+count pass): df and the weight
        // join read it back; w checkpoints too because it feeds THREE
        // consumers (norms + both self-join sides) — un-materialized,
        // the tokenize subtree re-ran once per consumer through the
        // plan tree (6 evaluations for one query)
        val tf = docs
          .select(col("doc_id"), explode(graft.ext.TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).cast("double").as("tf"))
          .localCheckpoint()
        val df = tf.groupBy("tok").agg(count(lit(1)).cast("double").as("df"))
        val w = tf.join(df, Seq("tok"))
          .select(col("doc_id"), col("tok"), (col("tf") * (lit(nDocs) / col("df"))).as("w"))
          .localCheckpoint()
        val norms = w.groupBy("doc_id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
        val a = w.select(col("doc_id").as("doc_a"), col("tok"), col("w").as("wa"))
        val b = w.select(col("doc_id").as("doc_b"), col("tok"), col("w").as("wb"))
        val dots = a.join(b, Seq("tok"))
          .filter(col("doc_a") =!= col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(col("wa") * col("wb")).as("dot"))
        val cos = dots
          .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), Seq("doc_a"))
          .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), Seq("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            round(col("dot") / (col("na") * col("nb")), 6).as("cosine"))
        val wBest = Window.partitionBy("doc_a").orderBy(col("cosine").desc, col("doc_b").asc)
        cos.withColumn("rk", row_number().over(wBest))
          .filter(col("rk") === 1)
          .select(col("doc_a").as("doc_id"), col("doc_b").as("nn_id"), col("cosine"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             |  FROM documents WHERE doc_id < 200
             |), tf AS (
             |  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
             |  FROM d GROUP BY doc_id, tok
             |), idf AS (
             |  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY tok
             |), w AS (
             |  SELECT doc_id, tok, tf * (200.0 / df) AS w
             |  FROM tf JOIN idf USING (tok)
             |), norms AS (
             |  SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM w GROUP BY doc_id
             |), dots AS (
             |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
             |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id <> b.doc_id
             |  GROUP BY a.doc_id, b.doc_id
             |), cos AS (
             |  SELECT doc_a, doc_b,
             |    ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
             |  FROM dots
             |  JOIN norms na ON na.doc_id = doc_a
             |  JOIN norms nb ON nb.doc_id = doc_b
             |), best AS (
             |  SELECT doc_a, doc_b, cosine,
             |    ROW_NUMBER() OVER (PARTITION BY doc_a
             |                       ORDER BY cosine DESC, doc_b ASC) AS rk
             |  FROM cos)
             |SELECT doc_a AS doc_id, doc_b AS nn_id, cosine
             |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin)),

    // Token frequency spectrum (frequency-of-frequencies): how many
    // token types occur exactly k times — the Zipf/Good-Turing view a
    // curation pipeline reads to size rare-token filters and estimate
    // unseen mass. Two partial-combined aggregations (tok, then count):
    // the first absorbs hot tokens map-side, the second's key space is
    // bounded by the max frequency. Output = the 20 rarest frequencies
    // (the Good-Turing head), bounded at any corpus size.
    "text_freq_spectrum" -> QueryDef(
      "Token frequency-of-frequencies: types per occurrence count, 20 rarest ks",
      (s, dir) => {
        val counts = Tables.documents(s, dir)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("k"))
        counts
          .groupBy("k")
          .agg(count(lit(1)).as("n_types"), sum("k").as("n_instances"))
          .orderBy("k")
          .limit(20)
      },
      Some("""WITH counts AS (
             |  SELECT tok, COUNT(*) AS k FROM (
             |    SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
             |    FROM documents)
             |  GROUP BY tok)
             |SELECT k, COUNT(*) AS n_types, CAST(SUM(k) AS BIGINT) AS n_instances
             |FROM counts
             |GROUP BY k ORDER BY k LIMIT 20""".stripMargin)),

    // BM25 retrieval over the corpus — query-based corpus filtering, the
    // retrieval primitive of targeted data curation. Queries are the
    // leading 8 tokens of the first 3 docs (data-derived, so both
    // engines replay them). Scale shape: tf aggregates on the skew-free
    // (doc, tok) key; the corpus joins a BROADCAST query vocabulary
    // (map-side kill of non-matching tokens); df/len attach to the
    // surviving slice only; and the per-query top-5 rank filter rides
    // WindowGroupLimit (partial top-k below the shuffle), so a stopword
    // query cannot single-task the window. Scores round to 6 decimals
    // BEFORE ranking so cross-engine ln() ulp noise cannot flip ranks;
    // ties break on doc_id.
    // Served from the STANDING inverted index (ext/Retrieval: tf/df/
    // dlen/stats parquet, built once per corpus version): the query
    // side tokenizes only its 3 query docs; the corpus text is never
    // re-tokenized per query — the retrieval-engine serving contract.
    "text_bm25_topk" -> QueryDef(
      "BM25 (k1=1.2, b=0.75) top-5 docs per query; queries from first 3 docs",
      (s, dir) => {
        import graft.ext.Retrieval
        val idx = Retrieval.indexFor(dir, Tables.documents(s, dir))
        bm25TopK(s, dir, qtoks => Retrieval.bm25Scores(s, idx, qtoks))
      },
      Some(bm25TopKOracle())),

    // Incremental index admission, oracle-gated end-to-end: the index is
    // built over 90% of the corpus, the remaining docs arrive as a DELTA
    // through Retrieval.refreshInvertedIndex (only the delta is
    // tokenized; df/stats merge as index-table aggregates), and the SAME
    // BM25 query as text_bm25_topk runs against the refreshed index. The
    // oracle is the full-corpus BM25 — so the driver hash gate IS the
    // refresh ≡ full-rebuild proof, the dedup_minhash_incremental
    // pattern applied to retrieval. Cached per corpus content version
    // (IndexCatalog), like every standing index.
    // Exact PHRASE search over a POSITIONAL index — the standard
    // postings upgrade past tf-only BM25 (bag-of-words cannot tell
    // "slow hash batch" from the three terms scattered): one
    // (doc_id, tok, pos) row per occurrence, built once per corpus
    // version; the phrase match is the classic adjacency join — each
    // term pulls only its own index-pruned posting slice and joins on
    // (doc_id, anchor_pos + i), so query cost is bounded by the rarest
    // prefix's occurrences, never the corpus. The test phrase occurs 8
    // times across 5 docs at sf0.01, so the count/tie ordering is
    // genuinely exercised.
    "retrieval_phrase" -> QueryDef(
      "Exact phrase search ('slow hash batch') over the positional index, top-10 by occurrences",
      (s, dir) => {
        import graft.ext.Retrieval
        val idx = graft.io.IndexCatalog.resolve(
          s, "posidx", s"$dir/documents.parquet")(
          tmp => Retrieval.writePositionalIndex(Tables.documents(s, dir), tmp))
        Retrieval.phraseTopK(s, idx, Seq("slow", "hash", "batch"), k = 10)
      },
      Some(phraseOracle())),

    // Positional-index RETRACTION, oracle-gated end-to-end — the
    // lifecycle asymmetry the round-12 audit flagged: the inverted and
    // IVF indexes had tombstoned deletes, but a doc deleted from the
    // corpus kept serving phrase hits. Here every doc_id%7==3 document
    // is tombstoned (|batch| rows written, nothing rescanned) and the
    // phrase serves MERGE-ON-READ: dead docs drop from each term's
    // index-pruned posting slice via the broadcast anti join. Oracle =
    // the phrase over SURVIVING documents only — the hash gate proves
    // tombstoned serving ≡ rebuild-without-the-deleted.
    "retrieval_phrase_retract" -> QueryDef(
      "Phrase search after tombstone retraction of doc_id%7==3 (merge-on-read)",
      (s, dir) => {
        import graft.ext.Retrieval
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "posidx-retract", s"$dir/documents.parquet") { tmp =>
          Retrieval.writePositionalIndex(docs, tmp)
          Retrieval.retractFromPositionalIndex(
            docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), tmp)
        }
        Retrieval.phraseTopK(s, idx, Seq("slow", "hash", "batch"), k = 10)
      },
      Some(phraseOracle(" WHERE doc_id % 7 <> 3"))),

    // Incremental positional admission ≡ rebuild: the index is built
    // over 90% of the corpus, the rest arrives as a delta through
    // refreshPositionalIndex (only the delta is tokenized — positions
    // are per-doc, so admission is a pure append, no cross-doc merge),
    // and the full-corpus oracle hash gate IS the refresh ≡ rebuild
    // proof — the inverted index's retrieval_bm25_refresh pattern.
    "retrieval_phrase_refresh" -> QueryDef(
      "Phrase search served from an incrementally refreshed positional index",
      (s, dir) => {
        import graft.ext.Retrieval
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "posidx-refresh", s"$dir/documents.parquet") { tmp =>
          Retrieval.writePositionalIndex(
            docs.filter(pmod(col("doc_id"), lit(10)) =!= 7), tmp)
          Retrieval.refreshPositionalIndex(
            docs.filter(pmod(col("doc_id"), lit(10)) === 7), tmp, batchId = 0L)
        }
        Retrieval.phraseTopK(s, idx, Seq("slow", "hash", "batch"), k = 10)
      },
      Some(phraseOracle())),

    // STREAM-maintained positional index ≡ one-shot build: the corpus
    // arrives as three micro-batches through RetrievalIngest
    // (withPositions — occurrence rows land as replay-idempotent batch
    // files alongside tf/dlen/df), batch 1 is REPLAYED to prove a retry
    // converges, and the phrase serves from the landed files. Full-
    // corpus oracle: stream-maintained ≡ batch-built, across the replay
    // — the retrieval_stream_bm25 guarantee extended to positions.
    "retrieval_phrase_stream" -> QueryDef(
      "Phrase search served from a stream-maintained positional index (3 batches, one replayed)",
      (s, dir) => {
        import graft.ext.Retrieval
        import graft.streaming.RetrievalIngest
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "posidx-stream", s"$dir/documents.parquet") { tmp =>
          (0L to 2L).foreach(b =>
            RetrievalIngest.ingestBatch(
              docs.filter(pmod(col("doc_id"), lit(3)) === b), b, tmp,
              withPositions = true))
          RetrievalIngest.ingestBatch(
            docs.filter(pmod(col("doc_id"), lit(3)) === 1L), 1L, tmp,
            withPositions = true)
        }
        Retrieval.phraseTopK(s, idx, Seq("slow", "hash", "batch"), k = 10)
      },
      Some(phraseOracle())),

    // The full positional LIFECYCLE in one gate — stream ingest +
    // tombstone retraction + COMPACTION (occurrence rows of dead docs
    // drop, append deltas collapse, one root-dir swap with the racing-
    // retraction guard). Serving runs the canonical fast path (no
    // merge-on-read left); oracle = phrase over survivors, proving
    // compaction changed the physical layout and nothing else.
    "retrieval_phrase_compacted" -> QueryDef(
      "Phrase search after stream-ingest + retraction + positional compaction",
      (s, dir) => {
        import graft.ext.Retrieval
        import graft.streaming.RetrievalIngest
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "posidx-compact", s"$dir/documents.parquet") { tmp =>
          (0L to 2L).foreach(b =>
            RetrievalIngest.ingestBatch(
              docs.filter(pmod(col("doc_id"), lit(3)) === b), b, tmp,
              withPositions = true))
          Retrieval.retractFromPositionalIndex(
            docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), tmp)
          Retrieval.compactPositionalIndex(s, tmp)
        }
        Retrieval.phraseTopK(s, idx, Seq("slow", "hash", "batch"), k = 10)
      },
      Some(phraseOracle(" WHERE doc_id % 7 <> 3"))),

    // Proximity ranking over the same positional index — the relevance
    // signal between bag-of-words (BM25) and the exact phrase: both
    // terms within 4 positions, ranked by tightest co-occurrence then
    // pair count. The position join is doc-keyed and bounded by the two
    // terms' per-doc occurrence counts; the window predicate is the
    // q_band_join shape on postings.
    "retrieval_proximity" -> QueryDef(
      "Proximity search: 'hash' near 'join' (window 4) over the positional index, top-10",
      (s, dir) => {
        import graft.ext.Retrieval
        val idx = graft.io.IndexCatalog.resolve(
          s, "posidx", s"$dir/documents.parquet")(
          tmp => Retrieval.writePositionalIndex(Tables.documents(s, dir), tmp))
        Retrieval.proximityTopK(s, idx, "hash", "join", window = 4, k = 10)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
             |  FROM d),
             |pr AS (
             |  SELECT a.doc_id, ABS(a.pos - b.pos) AS dist
             |  FROM (SELECT doc_id, pos FROM p WHERE tok = 'hash') a
             |  JOIN (SELECT doc_id, pos FROM p WHERE tok = 'join') b
             |    ON b.doc_id = a.doc_id AND ABS(a.pos - b.pos) <= 4)
             |SELECT doc_id, COUNT(*) AS n_pairs, MIN(dist) AS min_dist
             |FROM pr GROUP BY doc_id
             |ORDER BY min_dist ASC, n_pairs DESC, doc_id ASC LIMIT 10""".stripMargin)),

    // K-TERM windowed proximity — the general query shape the two-term
    // form special-cases, and what real retrieval serves ("all of these
    // words near each other"): every occurrence combination of the 3
    // terms spanning ≤ 8 positions, ranked by tightest span then
    // combination count. The engine's k-way doc-keyed join applies the
    // span bound PROGRESSIVELY (a tuple's span only grows, so early
    // pruning is lossless); the oracle replays the same k-tuple algebra
    // flat. At sf0.01 the fixture has span ties at both rank keys, so
    // the total ordering is genuinely exercised.
    "retrieval_proximity_kterm" -> QueryDef(
      "3-term proximity: slow+hash+join within 8 positions, ranked by tightest span, top-10",
      (s, dir) => {
        import graft.ext.Retrieval
        val idx = graft.io.IndexCatalog.resolve(
          s, "posidx", s"$dir/documents.parquet")(
          tmp => Retrieval.writePositionalIndex(Tables.documents(s, dir), tmp))
        Retrieval.proximityKTermTopK(
          s, idx, Seq("slow", "hash", "join"), window = 8, k = 10)
      },
      Some("""WITH d AS (
             |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos, unnest(t) AS tok
             |  FROM d),
             |pr AS (
             |  SELECT a.doc_id,
             |    GREATEST(a.pos, b.pos, c.pos) - LEAST(a.pos, b.pos, c.pos) AS span
             |  FROM (SELECT doc_id, pos FROM p WHERE tok = 'slow') a
             |  JOIN (SELECT doc_id, pos FROM p WHERE tok = 'hash') b
             |    ON b.doc_id = a.doc_id
             |  JOIN (SELECT doc_id, pos FROM p WHERE tok = 'join') c
             |    ON c.doc_id = a.doc_id
             |  WHERE GREATEST(a.pos, b.pos, c.pos) - LEAST(a.pos, b.pos, c.pos) <= 8)
             |SELECT doc_id, COUNT(*) AS n_windows, MIN(span) AS min_span
             |FROM pr GROUP BY doc_id
             |ORDER BY min_span ASC, n_windows DESC, doc_id ASC LIMIT 10""".stripMargin)),

    "retrieval_bm25_refresh" -> QueryDef(
      "BM25 top-5 served from an incrementally refreshed inverted index",
      (s, dir) => {
        import graft.ext.Retrieval
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "invidx-refresh", s"$dir/documents.parquet") { tmp =>
          Retrieval.writeInvertedIndex(docs.filter(pmod(col("doc_id"), lit(10)) =!= 7), tmp)
          Retrieval.refreshInvertedIndex(docs.filter(pmod(col("doc_id"), lit(10)) === 7), tmp)
        }
        bm25TopK(s, dir, qtoks => Retrieval.bm25Scores(s, idx, qtoks))
      },
      Some(bm25TopKOracle())),

    // STREAMING index maintenance, oracle-gated end-to-end: the corpus
    // arrives as three micro-batches through
    // streaming/RetrievalIngest.ingestBatch (each batch tokenized once,
    // its tf/dlen/df contributions landing as replay-idempotent batch
    // files — the delta-log layout), batch 1 is REPLAYED to prove a
    // retry converges rather than double-counts, and the same BM25
    // query is served from the log. The oracle is the full-corpus BM25
    // — the driver hash gate proves streaming-maintained ≡ batch-built,
    // including across the replay.
    "retrieval_stream_bm25" -> QueryDef(
      "BM25 top-5 served from a stream-maintained inverted index (3 batches, one replayed)",
      (s, dir) => {
        import graft.streaming.RetrievalIngest
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "invidx-stream", s"$dir/documents.parquet") { tmp =>
          (0L to 2L).foreach(b =>
            RetrievalIngest.ingestBatch(
              docs.filter(pmod(col("doc_id"), lit(3)) === b), b, tmp))
          // replayed delivery of batch 1 — must converge, not double-count
          RetrievalIngest.ingestBatch(
            docs.filter(pmod(col("doc_id"), lit(3)) === 1L), 1L, tmp)
        }
        bm25TopK(s, dir, qtoks => RetrievalIngest.bm25(s, idx, qtoks))
      },
      Some(bm25TopKOracle())),

    // Document RETRACTION, oracle-gated end-to-end: every doc_id%7==3
    // document is deleted from the index via tombstones
    // (Retrieval.retractFromIndex — writes |batch| rows, rescans
    // nothing) and BM25 serves MERGE-ON-READ: dead docs drop from the
    // query-token tf slice, df decrements by exactly their
    // contribution, stats re-derive from live doc lengths. The oracle
    // is BM25 over the SURVIVING documents only — the driver hash gate
    // proves tombstoned serving ≡ rebuild-without-the-deleted, which is
    // the right-to-be-forgotten contract a 100 TB corpus needs (a full
    // index rebuild per deletion request is not a deployable answer).
    "retrieval_bm25_retract" -> QueryDef(
      "BM25 top-5 after tombstone retraction of doc_id%7==3 (merge-on-read)",
      (s, dir) => {
        import graft.ext.Retrieval
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "invidx-retract", s"$dir/documents.parquet") { tmp =>
          Retrieval.writeInvertedIndex(docs, tmp)
          Retrieval.retractFromIndex(
            docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), tmp)
        }
        bm25TopK(s, dir, qtoks => Retrieval.bm25Scores(s, idx, qtoks))
      },
      Some(bm25TopKOracle(" WHERE doc_id % 7 <> 3"))),

    // The full index LIFECYCLE in one gate: streaming ingest (delta-log
    // layout), tombstone retraction, then COMPACTION
    // (Retrieval.compactIndex) — tf drops tombstoned docs, df/dlen/
    // stats re-derive from surviving tf (collapsing the df delta log),
    // and the new layout lands through ONE root-dir swap. Serving runs
    // on the canonical fast path (no merge-on-read work left), and the
    // oracle — BM25 over surviving documents — proves compaction
    // changed the physical layout and nothing else.
    "retrieval_bm25_compacted" -> QueryDef(
      "BM25 top-5 after stream-ingest + retraction + index compaction",
      (s, dir) => {
        import graft.ext.Retrieval
        import graft.streaming.RetrievalIngest
        val docs = Tables.documents(s, dir)
        val idx = graft.io.IndexCatalog.resolve(
          s, "invidx-compact", s"$dir/documents.parquet") { tmp =>
          (0L to 2L).foreach(b =>
            RetrievalIngest.ingestBatch(
              docs.filter(pmod(col("doc_id"), lit(3)) === b), b, tmp))
          Retrieval.retractFromIndex(
            docs.filter(pmod(col("doc_id"), lit(7)) === 3).select("doc_id"), tmp)
          Retrieval.compactIndex(s, tmp)
        }
        bm25TopK(s, dir, qtoks => Retrieval.bm25Scores(s, idx, qtoks))
      },
      Some(bm25TopKOracle(" WHERE doc_id % 7 <> 3"))),

    "text_fingerprint" -> QueryDef(
      "md5 content fingerprint of normalized text (exact-dedup key), first 20 docs",
      (s, dir) =>
        Tables.documents(s, dir)
          .filter(col("doc_id") < 20)
          .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
             |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin)),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    // the adjacent-token co-occurrence graph, non-stopword tokens only.
    // Reuses the engine's integer-deterministic damped iteration
    // (ext/Curation.domainRank — all-BIGINT arithmetic, bit-identical
    // across engines) so the oracle replays the exact ranks, not an
    // approximation. Cost shape at 100 TB: ONE corpus pass builds the
    // edge list (a per-doc LEAD window — shuffle keyed by doc_id, frame
    // bounded by doc length), and every iteration after that is
    // VOCABULARY-sized (edges × 3 node joins), never corpus-sized — the
    // same fact-once/iterate-small split as train_domain_rank.
    "text_textrank_keywords" -> QueryDef(
      "Top-15 keywords by 3-iteration integer TextRank over token co-occurrence",
      (s, dir) => {
        val stop = TextAnalysis.Stopwords("en")
        // adjacent pairs come from zip_with over the token ARRAY — pure
        // map-side, nothing shuffles at token cardinality (the earlier
        // per-doc LEAD window sorted/shuffled every token row by doc_id:
        // measured 10+ s spikes at the ×32 corpus, vs the distinct's
        // map-side partial dedup collapsing hot pairs before the only
        // shuffle here)
        // bind the token array to a real attribute first (the house
        // explode(array(..)) barrier — see Similarity.withNormalized):
        // referenced bare, the tokenize regex re-evaluates once per
        // slice/size occurrence after CollapseProject inlining
        val arr = col("arr")
        val und = Tables.documents(s, dir)
          .select(explode(array(TextAnalysis.tokens(col("text")))).as("arr"))
          .select(explode(zip_with(
            slice(arr, lit(1), greatest(size(arr) - 1, lit(0))),
            slice(arr, lit(2), greatest(size(arr) - 1, lit(0))),
            (a, b) => struct(a.as("tok"), b.as("nxt")))).as("pr"))
          .select(col("pr.tok").as("tok"), col("pr.nxt").as("nxt"))
          .filter(col("tok") =!= col("nxt") &&
            !col("tok").isin(stop: _*) && !col("nxt").isin(stop: _*))
          .select(least(col("tok"), col("nxt")).as("s"),
            greatest(col("tok"), col("nxt")).as("d"))
          .distinct()
          // the co-occurrence graph feeds SIX consumers (both edge
          // orientations × the rank iterations' joins + outdeg + node
          // init); checkpointing the distinct edge set runs the
          // tokenize+pair+dedup text pass once instead of per consumer
          .localCheckpoint()
        val edges = und.select(col("s").as("src"), col("d").as("dst"))
          .unionAll(und.select(col("d").as("src"), col("s").as("dst")))
        val nodes = edges.select(col("src").as("node")).distinct()
        graft.ext.Curation.domainRank(nodes, edges, iterations = 3)
          .select(col("node").as("token"), col("rank"))
          .orderBy(col("rank").desc, col("token").asc)
          .limit(15)
      },
      Some(s"""WITH toked AS (
             |  SELECT regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
             |adj AS (
             |  SELECT t[i] AS a, t[i + 1] AS b
             |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
             |        FROM toked WHERE len(t) >= 2)),
             |und AS (
             |  SELECT DISTINCT least(a, b) AS s, greatest(a, b) AS d
             |  FROM adj
             |  WHERE a <> b AND a NOT IN ($EnStop) AND b NOT IN ($EnStop)),
             |edges AS (
             |  SELECT s AS src, d AS dst FROM und
             |  UNION ALL SELECT d, s FROM und),
             |outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
             |r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS rank FROM edges),
             |r1 AS (
             |  SELECT n.node, 150000 + COALESCE(m.in_mass, 0) AS rank
             |  FROM r0 n LEFT JOIN (
             |    SELECT e.dst, SUM((r.rank * 85 // 100) // o.deg) AS in_mass
             |    FROM r0 r JOIN edges e ON r.node = e.src JOIN outdeg o ON e.src = o.src
             |    GROUP BY e.dst) m ON n.node = m.dst),
             |r2 AS (
             |  SELECT n.node, 150000 + COALESCE(m.in_mass, 0) AS rank
             |  FROM r1 n LEFT JOIN (
             |    SELECT e.dst, SUM((r.rank * 85 // 100) // o.deg) AS in_mass
             |    FROM r1 r JOIN edges e ON r.node = e.src JOIN outdeg o ON e.src = o.src
             |    GROUP BY e.dst) m ON n.node = m.dst),
             |r3 AS (
             |  SELECT n.node, 150000 + COALESCE(m.in_mass, 0) AS rank
             |  FROM r2 n LEFT JOIN (
             |    SELECT e.dst, SUM((r.rank * 85 // 100) // o.deg) AS in_mass
             |    FROM r2 r JOIN edges e ON r.node = e.src JOIN outdeg o ON e.src = o.src
             |    GROUP BY e.dst) m ON n.node = m.dst)
             |SELECT node AS token, CAST(rank AS BIGINT) AS rank
             |FROM r3 ORDER BY rank DESC, token ASC LIMIT 15""".stripMargin))
  )
}
