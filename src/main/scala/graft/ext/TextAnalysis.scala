package graft.ext

import graft.Tables
import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis operators for an LLM training-data pipeline over the
  * `documents` table (north-star extensions, SURVEY.md §7.2 step 8):
  * quality stats, token counting (whitespace + BPE-ish regex), language
  * identification (stopword-profile + script heuristic), and document
  * fingerprinting (polynomial rolling hash).
  *
  * All of these are narrow per-row projections — no shuffle at all (the
  * oracle protocol's presentation sort lives in SparkEntry, not here), so
  * they scale linearly with input splits at 100 TB. Everything stays
  * inside whole-stage codegen (built-in + higher-order functions only; no
  * UDFs).
  */
object TextAnalysis {

  /** Per-document quality statistics. `avg_token_len` is derived
    * arithmetically from char counts (not an array aggregate) so the same
    * closed form runs on both engines. */
  /** Dataset datasheet rollup — the release-card statistics every
    * published training corpus ships (dataset cards / datasheets for
    * datasets, Gebru et al. 2021): doc counts, size, token totals, and
    * mean doc length per (source, lang) slice, per source, and overall,
    * in ONE pass via GROUPING SETS (a single shuffle; Spark plans it as
    * one Expand + hash aggregate — the cube family's 100 TB shape, no
    * per-slice rescans). Level labels are derived from `GROUPING()`, not
    * `coalesce`: a rollup row prints 'ALL' while a GENUINE NULL (or a
    * literal 'ALL' string) in the data stays itself — the two cannot be
    * conflated no matter what values the corpus carries. */
  def corpusStats(spark: SparkSession, sfDir: String): DataFrame =
    // rollup(source, lang) IS GROUPING SETS ((source,lang),(source),())
    // — pure DataFrame form, no temp view: the earlier
    // createOrReplaceTempView mutated session-global state, so two
    // corpusStats frames over different sfDirs both resolved against
    // whichever registration ran last
    Tables.documents(spark, sfDir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .rollup(col("source"), col("lang"))
      .agg(grouping(col("source")).as("gs"), grouping(col("lang")).as("gl"),
        count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("total_chars"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        round(avg(col("n_tokens")) + lit(1e-9), 4).as("avg_doc_tokens"))
      .select(
        when(col("gs") === 1, lit("ALL")).otherwise(col("source")).as("source"),
        when(col("gl") === 1, lit("ALL")).otherwise(col("lang")).as("lang"),
        col("n_docs"), col("total_chars"), col("total_tokens"),
        col("avg_doc_tokens"))

  val corpusStatsSql: String =
    """SELECT CASE WHEN GROUPING(source) = 1 THEN 'ALL' ELSE source END AS source,
      |       CASE WHEN GROUPING(lang) = 1 THEN 'ALL' ELSE lang END AS lang,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |       round(avg(len(string_split(text, ' '))) + 1e-9, 4) AS avg_doc_tokens
      |FROM documents
      |GROUP BY GROUPING SETS ((source, lang), (source), ())
      |ORDER BY source, lang""".stripMargin

  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    // widen: the regex/array work below is ~100× the scan cost per byte,
    // and a single-split scan would run it all on one core (guide §2.5)
    Tables.widen(Tables.documents(spark, sfDir))
      .withColumn("tokens", split(col("text"), " "))
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(col("tokens")).as("n_tokens"),
        size(array_distinct(col("tokens"))).as("n_distinct"),
        size(expr("regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^ ]', 0)")).as("n_tokens_bpe"),
        Num.r4(length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("tokens")))
          .as("avg_token_len"),
        Num.r4(size(filter(col("tokens"), t => t.isin("the", "a", "and", "of", "to")))
          .cast("double") / size(col("tokens"))).as("stopword_ratio"),
        Num.r4(size(array_distinct(col("tokens"))).cast("double") / size(col("tokens")))
          .as("ttr"))

  val textStatsSql: String =
    """SELECT doc_id,
      |       length(text) AS n_chars,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       len(list_distinct(string_split(text, ' '))) AS n_distinct,
      |       len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^ ]')) AS n_tokens_bpe,
      |       round(length(replace(text, ' ', '')) * 1.0 / len(string_split(text, ' ')) + 1e-9, 4) AS avg_token_len,
      |       round(len(list_filter(string_split(text, ' '),
      |             t -> t IN ('the', 'a', 'and', 'of', 'to'))) * 1.0
      |             / len(string_split(text, ' ')) + 1e-9, 4) AS stopword_ratio,
      |       round(len(list_distinct(string_split(text, ' '))) * 1.0
      |             / len(string_split(text, ' ')) + 1e-9, 4) AS ttr
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Language ID by stopword-profile counts + non-ASCII script detection.
    * (The synthetic corpus is English-vocabulary throughout, so the point
    * is the operator's deterministic argmax semantics, verified against
    * the oracle, not label accuracy.) */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
    def hits(name: String, words: Seq[String]) =
      size(filter(col("tokens"), t => t.isin(words: _*))).as(name)
    docs.select(
        col("doc_id"), col("lang"),
        hits("en_hits", Seq("the", "a", "and", "of")),
        hits("de_hits", Seq("der", "die", "und", "ein")),
        hits("fr_hits", Seq("le", "la", "et", "un")),
        hits("es_hits", Seq("el", "los", "y", "un")),
        (octet_length(col("text")) > length(col("text"))).as("has_nonascii"))
      .withColumn("pred_lang",
        when(col("has_nonascii"), "zh")
          .when(col("de_hits") > col("en_hits") && col("de_hits") >= col("fr_hits") &&
            col("de_hits") >= col("es_hits"), "de")
          .when(col("fr_hits") > col("en_hits") && col("fr_hits") >= col("es_hits"), "fr")
          .when(col("es_hits") > col("en_hits"), "es")
          .when(col("en_hits") > 0, "en")
          .otherwise("und"))
  }

  val langIdSql: String =
    """WITH scored AS (
      |  SELECT doc_id, lang,
      |         len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'and', 'of'))) AS en_hits,
      |         len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'und', 'ein'))) AS de_hits,
      |         len(list_filter(string_split(text, ' '), t -> t IN ('le', 'la', 'et', 'un'))) AS fr_hits,
      |         len(list_filter(string_split(text, ' '), t -> t IN ('el', 'los', 'y', 'un'))) AS es_hits,
      |         octet_length(encode(text)) > length(text) AS has_nonascii
      |  FROM documents)
      |SELECT doc_id, lang, en_hits, de_hits, fr_hits, es_hits, has_nonascii,
      |       CASE WHEN has_nonascii THEN 'zh'
      |            WHEN de_hits > en_hits AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
      |            WHEN fr_hits > en_hits AND fr_hits >= es_hits THEN 'fr'
      |            WHEN es_hits > en_hits THEN 'es'
      |            WHEN en_hits > 0 THEN 'en'
      |            ELSE 'und' END AS pred_lang
      |FROM scored ORDER BY doc_id""".stripMargin

  /** Corpus token statistics: document frequency and smoothed IDF for
    * the 20 most common tokens. Inverted-index explode + count — one
    * shuffle on the token, top-k via TakeOrderedAndProject. */
  def tokenFreq(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Corpus size N joins in as a broadcast 1-row aggregate, so the whole
    // operator is a single job (no separate driver-side count() action).
    val n = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    docs.select(explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("doc_freq"))
      .crossJoin(n)
      .withColumn("idf", Num.r4(log((col("n_docs") + 1.0) / (col("doc_freq") + 1.0))))
      .drop("n_docs")
      .orderBy(desc("doc_freq"), asc("token"))
      .limit(20)
  }

  val tokenFreqSql: String =
    """SELECT token, count(*) AS doc_freq,
      |       round(ln(((SELECT count(*) FROM documents) + 1.0) / (count(*) + 1.0)) + 1e-9, 4) AS idf
      |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY doc_freq DESC, token ASC LIMIT 20""".stripMargin

  /** Corpus bigram statistics: the n-gram counting stage of corpus
    * analysis (co-occurrence, contamination screens). One explode + one
    * token-keyed shuffle with map-side partial counts; top-k via
    * TakeOrderedAndProject, so ordering is the semantics here. */
  def ngramCounts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |  i -> concat(tokens[i], ' ', tokens[i+1]))""".stripMargin)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("bigram"))
      .limit(20)

  val ngramCountsSql: String =
    """SELECT bigram, count(*) AS n_occurrences
      |FROM (
      |  SELECT unnest(list_transform(
      |           range(1, len(string_split(text, ' '))),
      |           i -> string_split(text, ' ')[CAST(i AS INT)] || ' ' ||
      |                string_split(text, ' ')[CAST(i + 1 AS INT)])) AS bigram
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2)
      |GROUP BY bigram
      |ORDER BY n_occurrences DESC, bigram ASC LIMIT 20""".stripMargin

  /** Composite quality filter — the keep/drop stage of a training-data
    * pipeline, combining the textStats signals into one predicate. */
  def qualityFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tokens")))
      .withColumn("ttr",
        size(array_distinct(col("tokens"))).cast("double") / col("n_tokens"))
      .filter(col("n_tokens").between(20, 100) && col("ttr") >= 0.25)
      .select(col("doc_id"), col("n_tokens"), Num.r4(col("ttr")).as("ttr"))

  val qualityFilterSql: String =
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       round(len(list_distinct(string_split(text, ' '))) * 1.0
      |             / len(string_split(text, ' ')) + 1e-9, 4) AS ttr
      |FROM documents
      |WHERE len(string_split(text, ' ')) BETWEEN 20 AND 100
      |  AND len(list_distinct(string_split(text, ' '))) * 1.0
      |      / len(string_split(text, ' ')) >= 0.25
      |ORDER BY doc_id""".stripMargin

  /** Model-based quality scoring — the classifier-filter family of modern
    * corpus curation (fastText spam/quality gates, FineWeb-Edu's scorer,
    * DCLM's logistic filter), as distinct from the heuristic gates
    * ([[qualityFilter]], [[repetitionFilter]]) and the LM-perplexity
    * screens ([[lmQuality]], [[bigramLm]]): a logistic model over
    * interpretable per-document features. Weights are pinned constants (a
    * production deployment would load trained ones — same dataflow); the
    * features (stopword ratio, mean token length, type-token ratio, log
    * length) are each one codegen'd fold over the token array, so the
    * whole scorer is a shuffle-free map-pass — at 100 TB every row is
    * scored in the scan, nothing aggregates until the quality histogram.
    * Emits the rounded score and the keep/drop verdict at the 0.5 cut. */
  def classifierScore(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("the", "a")
    val stopArr = s"array(${stop.map(s => s"'$s'").mkString(",")})"
    Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tokens")).cast("double"))
      .withColumn("stop_ratio",
        expr(s"size(filter(tokens, t -> array_contains($stopArr, t)))")
          .cast("double") / col("n_tokens"))
      .withColumn("mean_len",
        expr("aggregate(tokens, 0D, (a, t) -> a + length(t))") / col("n_tokens"))
      .withColumn("ttr",
        size(array_distinct(col("tokens"))).cast("double") / col("n_tokens"))
      .withColumn("z",
        lit(-2.0) + lit(3.0) * col("stop_ratio") + lit(0.2) * col("mean_len")
          + lit(1.5) * col("ttr") + lit(0.1) * log(col("n_tokens")))
      // the verdict compares the ROUNDED score (the repetitionFilter /
      // lmQuality boundary-safety device): z carries a libm ln, so a raw
      // sigmoid within an ulp of 0.5 could verdict differently across
      // engines while the emitted score rounds identically
      .withColumn("score", Num.r4(lit(1.0) / (lit(1.0) + exp(-col("z")))))
      .select(col("doc_id"), col("score"),
        when(col("score") >= 0.5, lit("keep"))
          .otherwise(lit("drop")).as("verdict"))
  }

  val classifierScoreSql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
      |    len(list_filter(string_split(text, ' '),
      |        t -> list_contains(['the', 'a'], t)))
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
      |    list_sum(list_transform(string_split(text, ' '),
      |        t -> CAST(length(t) AS DOUBLE)))
      |      / len(string_split(text, ' ')) AS mean_len,
      |    len(list_distinct(string_split(text, ' ')))
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr
      |  FROM documents),
      |z AS (
      |  SELECT doc_id,
      |    -2.0 + 3.0 * stop_ratio + 0.2 * mean_len + 1.5 * ttr
      |      + 0.1 * ln(n_tokens) AS z
      |  FROM f)
      |SELECT doc_id, score,
      |       CASE WHEN score >= 0.5 THEN 'keep' ELSE 'drop' END AS verdict
      |FROM (SELECT doc_id,
      |        round(1.0 / (1.0 + exp(-z)) + 1e-9, 4) AS score
      |      FROM z) ORDER BY doc_id""".stripMargin

  /** Document fingerprint: polynomial rolling hash over per-token codes
    * (token length and leading byte), mod a Mersenne prime. A pure
    * higher-order fold — codegen-friendly, shuffle-free. */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        expr(
          """aggregate(
            |  transform(split(text, ' '), t -> cast(length(t) * 31 + ascii(t) AS BIGINT)),
            |  cast(0 AS BIGINT),
            |  (acc, x) -> (acc * 131 + x) % 2147483647)""".stripMargin).as("fp"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(text, ' '),
      |             t -> CAST(length(t) * 31 + ascii(t) AS BIGINT))),
      |         (a, b) -> (a * 131 + b) % 2147483647) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** BM25 keyword search (Robertson–Spärck Jones; k₁ = 1.2, b = 0.75) —
    * the retrieval stage of corpus tooling (eval-set mining, targeted
    * subset extraction): score every document against a fixed query-term
    * set and keep the top 20. Corpus statistics (N, avg doc length, per-
    * term document frequencies) reduce to ONE broadcast row, so scoring is
    * a shuffle-free map-side projection over the scan and the top-k is a
    * TakeOrderedAndProject — the same shape at 100 TB, where the scored
    * corpus never shuffles. Ordering is the semantics (top-k): ranked by
    * the ROUNDED score then doc_id, so the cutoff is engine-deterministic
    * (raw-double ordering could disagree across engines in the last ulp of
    * ln; rounded ties break identically — see Num.r4). */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val docs = Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("dl", size(col("tokens")))
    val statCols =
      Seq(count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl")) ++
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          sum(when(array_contains(col("tokens"), t), 1).otherwise(0))
            .cast("double").as(s"df$i")
        }
    val corpusStats = docs.agg(statCols.head, statCols.tail: _*)
    val score = Bm25Terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("tokens"), x => x === t)).cast("double")
      val idf = log(lit(1.0) +
        (col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5))
      idf * tf * lit(k1 + 1) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    docs.crossJoin(broadcast(corpusStats))
      .select(col("doc_id"), Num.r4(score).as("score"))
      .filter(col("score") > 0)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  /** Query terms for the BM25 demonstrator (any set works — the operator
    * is parametric in spirit; pinned so the oracle replays). */
  val Bm25Terms: Seq[String] = Seq("spark", "window", "merge")

  val bm25SearchSql: String = {
    val dfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
    }.mkString(", ")
    val terms = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"""ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5))
         |         * len(list_filter(toks, x -> x = '$t')) * 2.2
         |         / (len(list_filter(toks, x -> x = '$t'))
         |            + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))""".stripMargin
    }.mkString("\n       + ")
    s"""WITH d AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |         len(string_split(text, ' ')) AS dl
       |  FROM documents),
       |s AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
       |             $dfCols
       |      FROM d)
       |SELECT doc_id, score FROM (
       |  SELECT doc_id,
       |         round($terms + 1e-9, 4) AS score
       |  FROM d, s)
       |WHERE score > 0
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** TF-IDF cosine retrieval — the vector-space sibling of [[bm25Search]]
    * (same fixed query-term set, same top-20 contract): documents rank by
    * the cosine between their tf·idf vector and the query's idf vector,
    * so long documents are norm-penalized geometrically instead of via
    * BM25's length saturation. Dataflow at 100 TB: postings
    * (doc_id, term, tf) are one explode+groupBy; idf is |V| rows
    * (broadcast here; at open-vocab scale the weight join shuffles on
    * `term`, everything downstream is unchanged); per-doc norms are one
    * more groupBy on doc_id; only docs containing a query term reach the
    * scoring agg, and the top-k is a TakeOrderedAndProject. Ranked by the
    * ROUNDED score then doc_id — same engine-determinism contract as
    * BM25. */
  /** Postings (doc_id, term, tf) + idf relation — the stage BOTH tf-idf
    * operators build from; one definition so a tokenizer or smoothing
    * change cannot silently give retrieval and keyword extraction
    * different weights. */
  private def tfidfPostingsIdf(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame) = {
    val post = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val nDocs = Tables.documents(spark, sfDir)
      .agg(count(lit(1)).cast("double").as("n_docs"))
    val idf = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .select(col("term"), log(col("n_docs") / col("df")).as("idf"))
    (post, idf)
  }

  /** Term-sorted sequential fold of `valueExpr` over a doc's weight
    * rows — the determinism device for tf-idf's float sums: a plain
    * `sum()` accumulates in partial-agg order, which varies with
    * partitioning (and differs from DuckDB's), so a score within the
    * summation-order delta of a rounding boundary would flap. Folding
    * the term-sorted list left-to-right is bit-reproducible across
    * runs and engines (the lmQuality/pagerank family solves this by
    * integer scaling; tf·idf weights span too many orders of magnitude
    * for a single scale, so the fixed fold ORDER is the device here). */
  private def termSortedSum(valueExpr: String): Column =
    expr(s"""aggregate(
            |  transform(array_sort(collect_list(struct(term, $valueExpr AS v))),
            |            s -> s.v),
            |  0D, (a, x) -> a + x)""".stripMargin)

  def tfidfSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val (post, idf) = tfidfPostingsIdf(spark, sfDir)
    val w = post.join(broadcast(idf), Seq("term"))
      .select(col("doc_id"), col("term"), (col("tf") * col("idf")).as("w"),
        col("idf"))
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(termSortedSum("w * w")).as("norm_d"))
    val qNorm = idf.filter(col("term").isin(Bm25Terms: _*))
      .agg(sqrt(termSortedSum("idf * idf")).as("norm_q"))
    w.filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id")).agg(termSortedSum("w * idf").as("dot"))
      .join(norms, Seq("doc_id"))
      .crossJoin(broadcast(qNorm))
      .select(col("doc_id"),
        Num.r4(col("dot") / (col("norm_d") * col("norm_q"))).as("score"))
      .filter(col("score") > 0)
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }

  val tfidfSearchSql: String = {
    val inList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH post AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM post GROUP BY doc_id, term),
       |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
       |idf AS (
       |  SELECT term, ln(n_docs / count(*)) AS idf
       |  FROM tf, nd GROUP BY term, n_docs),
       |w AS (
       |  SELECT doc_id, tf.term, tf * idf AS w, idf
       |  FROM tf JOIN idf ON tf.term = idf.term),
       |norms AS (
       |  SELECT doc_id, sqrt(list_reduce(
       |    list_prepend(CAST(0 AS DOUBLE), list(w * w ORDER BY term)),
       |    (a, b) -> a + b)) AS norm_d FROM w GROUP BY doc_id),
       |qn AS (
       |  SELECT sqrt(list_reduce(
       |    list_prepend(CAST(0 AS DOUBLE), list(idf * idf ORDER BY term)),
       |    (a, b) -> a + b)) AS norm_q FROM idf
       |  WHERE term IN ($inList)),
       |dots AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(0 AS DOUBLE), list(w * idf ORDER BY term)),
       |    (a, b) -> a + b) AS dot FROM w
       |  WHERE term IN ($inList) GROUP BY doc_id)
       |SELECT doc_id, score FROM (
       |  SELECT d.doc_id, round(dot / (norm_d * norm_q) + 1e-9, 4) AS score
       |  FROM dots d JOIN norms n ON d.doc_id = n.doc_id, qn)
       |WHERE score > 0
       |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin
  }

  /** Per-document keyword extraction: the top-3 terms by tf·idf weight —
    * the topic-tagging primitive of corpus curation (cluster labeling,
    * domain mixing diagnostics). Reuses the retrieval dataflow's postings
    * and idf stages; the per-doc top-3 is a ranking window over the
    * weight rows (partitioned by doc_id — bounded by each doc's DISTINCT
    * term count, never the corpus). Ranked by the ROUNDED weight then
    * term, so rank cutoffs replay across engines. */
  def tfidfKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val (post, idf) = tfidfPostingsIdf(spark, sfDir)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(desc("weight"), asc("term"))
    post.join(broadcast(idf), Seq("term"))
      .select(col("doc_id"), col("term"),
        Num.r4(col("tf") * col("idf")).as("weight"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"), col("weight"))
  }

  val tfidfKeywordsSql: String =
    """WITH post AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      |  FROM post GROUP BY doc_id, term),
      |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
      |idf AS (
      |  SELECT term, ln(n_docs / count(*)) AS idf
      |  FROM tf, nd GROUP BY term, n_docs),
      |w AS (
      |  SELECT doc_id, tf.term, round(tf * idf + 1e-9, 4) AS weight
      |  FROM tf JOIN idf ON tf.term = idf.term)
      |SELECT doc_id, rank, term, weight FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |            ORDER BY weight DESC, term ASC) AS INT) AS rank
      |  FROM w)
      |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin

  /** Bigram (conditional) LM quality — the word-ORDER-sensitive sibling
    * of [[lmQuality]]: score each document by the mean negative log of
    * p(tᵢ | tᵢ₋₁) = c(tᵢ₋₁tᵢ)/Σ_b c(tᵢ₋₁b), estimated from the corpus
    * itself (scored corpus = training corpus, so every bigram is seen and
    * no smoothing mass is needed — a held-out deployment would add it).
    * A shuffled or word-salad document scores high nll2 even when its
    * unigram mix is perfectly fluent, which is exactly the gap CCNet-style
    * unigram screens leave open. Same portability contract as the unigram
    * model (integer-scaled log-probs before the per-doc sum = exact fold),
    * same broadcast shape (the conditional table is |V|² at worst — here
    * 31² — and broadcasts; at a scale where it cannot, the lookup becomes
    * a bigram-keyed shuffle join and everything else is unchanged). Docs
    * under 2 tokens have no bigram and drop out. */
  def bigramLm(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |  i -> struct(tokens[i] AS a, tokens[i+1] AS b))""".stripMargin)).as("p"))
      .select(col("doc_id"), col("p.a"), col("p.b"))
    val c2 = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val c1 = c2.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val lp = c2.join(c1, Seq("a"))
      .select(col("a"), col("b"),
        round(log(col("cab").cast("double") / col("ca")) * lit(1e6) + lit(1e-9), 0)
          .cast("long").as("lp_int"))
    pairs.join(broadcast(lp), Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_int")).as("s"))
      .select(col("doc_id"), col("n_bigrams"),
        Num.r4(-col("s") / (col("n_bigrams") * lit(1e6))).as("nll2"))
  }

  val bigramLmSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |pr AS (
      |  SELECT doc_id, p.a AS a, p.b AS b FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
      |             i -> struct_pack(a := toks[CAST(i AS INT)],
      |                              b := toks[CAST(i + 1 AS INT)]))) AS p
      |    FROM d)),
      |c2 AS (SELECT a, b, count(*) AS cab FROM pr GROUP BY a, b),
      |c1 AS (SELECT a, sum(cab) AS ca FROM c2 GROUP BY a),
      |lp AS (
      |  SELECT a, b,
      |         CAST(round(ln(CAST(cab AS DOUBLE) / ca) * 1000000 + 1e-9)
      |              AS BIGINT) AS lp_int
      |  FROM c2 JOIN c1 USING (a)),
      |s AS (
      |  SELECT doc_id, count(*) AS n_bigrams, sum(lp_int) AS s
      |  FROM pr JOIN lp USING (a, b) GROUP BY doc_id)
      |SELECT doc_id, n_bigrams,
      |       round(-s / (n_bigrams * 1000000.0) + 1e-9, 4) AS nll2
      |FROM s ORDER BY doc_id""".stripMargin

  /** PageRank over the token co-occurrence graph — the iterative
    * graph-compute family beside connected components (`d_dedup_groups`):
    * nodes = tokens, directed edges = adjacent-token pairs weighted by
    * occurrence count, damping 0.85, three unrolled power iterations from
    * the uniform vector. Dataflow per iteration: ONE edge-keyed join
    * (ranks joined to the edge list on source) + ONE target-keyed
    * partial-sum aggregate — the standard Pregel-on-DataFrames shape. At
    * web-graph scale the edge list is the big table and shuffles once per
    * iteration on its join key (co-partitioning ranks and edges on the
    * node key holds that to a local join); rank state is O(nodes).
    * Determinism contract: per-edge contributions ((r·w)/w_out, a fixed
    * operand order both engines evaluate identically) are integer-scaled
    * to 1e9 BEFORE the per-target sum, so each iteration's aggregate is
    * an exact BIGINT fold — order-independent under any partitioning —
    * and the new rank re-rounds to 9 dp. Dangling nodes: none exist in
    * this graph (every token is adjacent to another in some document);
    * the general fix (redistribute dangling mass) is documented, not
    * built, to keep the oracle 1:1. */
  def tokenPagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 2)
    val edges = docs
      .select(explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |  i -> struct(tokens[i] AS src, tokens[i+1] AS dst))""".stripMargin)).as("e"))
      .select(col("e.src"), col("e.dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    // The edge list and node set are referenced by EVERY iteration;
    // localCheckpoint materializes them once and flattens lineage (same
    // hygiene as the CC contraction in Dedup) — without it each
    // iteration's lazy plan re-runs the corpus tokenize + edge groupBy.
    val e = edges.join(outw, Seq("src")).localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst"))).distinct().localCheckpoint()
    val nc = broadcast(nodes.agg(count(lit(1)).cast("double").as("n")))
    var ranks = nodes.crossJoin(nc)
      .select(col("node"), round(lit(1.0) / col("n") + lit(1e-9), 9).as("r"))
    for (_ <- 0 until 3) {
      val contribs = e.join(ranks, col("src") === col("node"))
        .select(col("dst"),
          round((col("r") * col("w")) / col("wout") * lit(1e9) + lit(1e-9), 0)
            .cast("long").as("c_int"))
        .groupBy(col("dst")).agg(sum(col("c_int")).as("s"))
      ranks = nodes.join(contribs, col("node") === col("dst"), "left")
        .crossJoin(nc)
        .select(col("node"),
          round(lit(0.15) / col("n")
            + lit(0.85) * (coalesce(col("s"), lit(0L)) / lit(1e9)) + lit(1e-9), 9)
            .as("r"))
    }
    ranks.select(col("node").as("token"), round(col("r") + lit(1e-9), 6).as("rank"))
      // orderBy, NOT the single-partition form (round 22, reverting the
      // round-21 swap): this child ends in distribution-required
      // exchanges (the per-iteration contribution aggregates), so the
      // range sampling pass does NOT "re-run all three iteration joins"
      // as the r21 comment claimed — shuffle stages below the boundary
      // are reused and broadcasts materialize once per execution; it
      // re-executes only the cheap last stage (final 31-row rank join).
      // Same-box same-core A/B (plans/r22/extended_same_core.txt):
      // orderBy (r20 form) 0.666 s vs single-partition (r21 form)
      // 0.816/1.036 s at local[32] sf0.01. Matches SparkEntry.srt's
      // child-aware rule for shuffle-reduced children.
      .orderBy(desc("rank"), asc("token"))
  }

  val tokenPagerankSql: String = {
    def iter(prev: String, cur: String): String =
      s"""c$cur AS (
         |  SELECT dst, sum(CAST(round((r.r * e.w) / e.wout * 1000000000 + 1e-9)
         |                       AS BIGINT)) AS s
         |  FROM e JOIN r$prev r ON r.node = e.src GROUP BY dst),
         |r$cur AS (
         |  SELECT n.node,
         |         round(0.15 / nc.n + 0.85 * (COALESCE(c.s, 0) / 1000000000.0)
         |               + 1e-9, 9) AS r
         |  FROM nodes n CROSS JOIN nc LEFT JOIN c$cur c ON c.dst = n.node)""".stripMargin
    s"""WITH toks AS (
       |  SELECT string_split(text, ' ') AS tokens FROM documents
       |  WHERE len(string_split(text, ' ')) >= 2),
       |e0 AS (
       |  SELECT unnest(list_transform(range(1, len(tokens)),
       |           i -> struct_pack(src := tokens[CAST(i AS INT)],
       |                            dst := tokens[CAST(i + 1 AS INT)]))) AS p
       |  FROM toks),
       |edges AS (SELECT p.src AS src, p.dst AS dst, count(*) AS w
       |          FROM e0 GROUP BY p.src, p.dst),
       |outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY src),
       |e AS (SELECT edges.src, edges.dst, edges.w, outw.wout
       |      FROM edges JOIN outw USING (src)),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |nc AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |r0 AS (SELECT node, round(1.0 / n + 1e-9, 9) AS r
       |       FROM nodes CROSS JOIN nc),
       |${iter("0", "1")},
       |${iter("1", "2")},
       |${iter("2", "3")}
       |SELECT node AS token, round(r + 1e-9, 6) AS rank
       |FROM r3 ORDER BY rank DESC, token ASC""".stripMargin
  }

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over corpus token
    * frequencies — the fixed-memory sketch family a 100 TB vocabulary scan
    * ships: the sketch is a depth×width (4×64) grid of counters, built by
    * ONE map-side-combinable aggregate over at most depth·width fixed keys
    * regardless of corpus size, and cells are sums, so per-shard sketches
    * merge by addition (the reduce tree a 1000-executor count uses anyway).
    * Hashing reuses the engine's portable family: one md5-prefix fold per
    * token, then cheap BIGINT universal re-hashes per row (same a_j/b_j
    * constants as MinHash — [[Dedup.slotA]] — so the DuckDB twin replays
    * bit-for-bit). The query side here estimates the 20 head tokens and
    * reports estimate vs truth: est = min over rows of the token's cell,
    * CMS's one-sided guarantee (est ≥ true, spec-asserted). The
    * truth join is the validation harness; production keeps only the
    * 256-cell grid. */
  // private[graft]: the native one-pass aggregate (functions.CmsSketch)
  // defaults to THESE constants, so tuning the grid cannot silently
  // desynchronize the two formulations
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 64

  private[graft] def cmsBucketArr: Column =
    array((0 until CmsDepth).map(j =>
      (col("h") * Dedup.slotA(j) + Dedup.slotB(j)) % Dedup.SlotP % CmsWidth): _*)

  /** The CMS cell grid (j, bucket, c) for a documents relation. The
    * dataflow is MODE-AGNOSTIC — explode + fixed-key groupBy — so the
    * identical function runs as a batch aggregate here and as a streaming
    * Update/Complete aggregate with permanently-bounded state (≤ 256
    * groups) on a readStream input; StreamIngestSpec asserts the streamed
    * sketch converges to this batch grid. */
  private[graft] def cmsCellsOf(docs: DataFrame): DataFrame = {
    graft.functions.Md5Prefix60.register(docs.sparkSession)
    docs
      .select(explode(split(col("text"), " ")).as("token"))
      .select((expr("md5_prefix60(token)") % Dedup.SlotP).as("h"))
      .select(posexplode(cmsBucketArr).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  def cmsTokens(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.Md5Prefix60.register(spark)
    // ONE corpus pass: the (token, h, tf) aggregate. The cell grid is then
    // a weighted sum over this vocabulary-sized relation (cell count =
    // Σ tf over tokens hashing into the cell — the map-side-combine view
    // of per-occurrence increments; the streaming variant cmsCellsOf keeps
    // the per-occurrence path). localCheckpoint materializes the tiny
    // vocabulary relation so the two consumers below cannot re-run the
    // corpus scan (plan-identical subtrees are only reused at runtime by
    // AQE stage reuse, which the checkpoint makes unconditional).
    val truth = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .select(col("token"), (expr("md5_prefix60(token)") % Dedup.SlotP).as("h"))
      .groupBy(col("token"), col("h"))
      .agg(count(lit(1)).as("true_cnt"))
      .localCheckpoint()
    val cells = truth
      .select(col("true_cnt"), posexplode(cmsBucketArr).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(sum(col("true_cnt")).as("c"))
    truth
      .select(col("token"), col("true_cnt"), posexplode(cmsBucketArr).as(Seq("j", "bucket")))
      .join(broadcast(cells), Seq("j", "bucket"))
      .groupBy(col("token"), col("true_cnt"))
      .agg(min(col("c")).as("est_cnt"))
      .select(col("token"), col("true_cnt"), col("est_cnt"),
        (col("est_cnt") - col("true_cnt")).as("overcount"))
      .orderBy(desc("true_cnt"), asc("token"))
      .limit(20)
  }

  val cmsTokensSql: String = {
    val aArr = (0 until CmsDepth).map(Dedup.slotA).mkString("[", ", ", "]")
    val bArr = (0 until CmsDepth).map(Dedup.slotB).mkString("[", ", ", "]")
    val jList = (0 until CmsDepth).mkString("[", ", ", "]")
    val p = Dedup.SlotP
    s"""WITH toks AS (
       |  SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       |hh AS (
       |  SELECT token,
       |         list_reduce(list_transform(range(0, 15),
       |           q -> CAST(strpos('0123456789abcdef',
       |                  substr(md5(token), CAST(q + 1 AS INT), 1)) - 1 AS BIGINT)),
       |           (a, b) -> a * 16 + b) % $p AS h
       |  FROM toks),
       |buck AS (
       |  SELECT token, h, j,
       |         ((h * ($aArr)[j + 1] + ($bArr)[j + 1]) % $p) % $CmsWidth AS bucket
       |  FROM hh CROSS JOIN (SELECT unnest($jList) AS j)),
       |cells AS (SELECT j, bucket, count(*) AS c FROM buck GROUP BY j, bucket),
       |truth AS (SELECT token, h, count(*) AS true_cnt FROM hh GROUP BY token, h),
       |est AS (
       |  SELECT t.token, t.true_cnt, min(c.c) AS est_cnt
       |  FROM truth t
       |  JOIN (SELECT DISTINCT token, j, bucket FROM buck) b ON b.token = t.token
       |  JOIN cells c ON c.j = b.j AND c.bucket = b.bucket
       |  GROUP BY t.token, t.true_cnt)
       |SELECT token, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
       |FROM est ORDER BY true_cnt DESC, token ASC LIMIT 20""".stripMargin
  }

  /** Misra-Gries heavy hitters (Misra & Gries 1982) in its deterministic
    * merged form (Agarwal et al. 2012, "Mergeable Summaries"): each shard's
    * exact partial counts are a zero-error MG summary, and the k-way merge
    * rule — add counts, subtract the (K+1)-th largest, drop non-positive —
    * applied once over the combined counts yields the canonical summary
    * `est(t) = max(0, c(t) − c₍K₊₁₎)`. Unlike the streaming one-pass MG,
    * this is ORDER-INDEPENDENT (a pure function of the global counts), so
    * the sketch itself is fully oracle-able, with the MG error bound
    * `c(t) − est(t) = c₍K₊₁₎ ≤ N/(K+1)` spec-asserted. Dataflow: map-side
    * partial token counts (only (token, count) pairs shuffle), then a
    * distributed top-(K+1) (`TakeOrderedAndProject`: per-partition heaps
    * of K+1 rows, merged on the driver) — NO global sort and NO
    * single-partition rank window, because the vocabulary relation is
    * millions of rows when the corpus is 100 TB and a
    * `Window.orderBy` without a partition spec would funnel all of it
    * through one task. The (K+1)-th count (the MG threshold) is then
    * read out of the ≤(K+1)-row frame with plain array algebra — one
    * single-group aggregate, no window anywhere in the plan (the
    * no-unpartitioned-window invariant is spec-asserted registry-wide in
    * PlanShapeSpec). Ties at the threshold break by token asc, so the
    * K-row cut is engine-deterministic. */
  private[ext] val MgK = 20

  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("true_cnt"))
    // Distributed top-(K+1) under (count desc, token asc); the negated
    // count makes the struct's natural ascending sort equal that order.
    val top = counts
      .orderBy(desc("true_cnt"), asc("token"))
      .limit(MgK + 1)
      .select(struct((-col("true_cnt")).as("neg"), col("token"),
        col("true_cnt")).as("s"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
      .select(col("arr"),
        when(size(col("arr")) === MgK + 1,
          element_at(col("arr"), MgK + 1).getField("true_cnt"))
          .otherwise(lit(0L)).as("thr"))
    top
      .select(col("thr"), posexplode(col("arr")).as(Seq("pos", "s")))
      .filter(col("pos") < MgK)
      .select(col("s.token").as("token"), col("s.true_cnt").as("true_cnt"),
        (col("s.true_cnt") - col("thr")).as("est_cnt"))
      .filter(col("est_cnt") > 0)
      .orderBy(desc("est_cnt"), asc("token"))
  }

  val heavyHittersSql: String =
    s"""WITH counts AS (
       |  SELECT token, count(*) AS true_cnt
       |  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
       |  GROUP BY token),
       |ranked AS (
       |  SELECT token, true_cnt,
       |         row_number() OVER (ORDER BY true_cnt DESC, token ASC) AS rn
       |  FROM counts),
       |thr AS (
       |  SELECT COALESCE(max(CASE WHEN rn = ${MgK + 1} THEN true_cnt END), 0) AS thr
       |  FROM ranked)
       |SELECT token, true_cnt, CAST(true_cnt - thr AS BIGINT) AS est_cnt
       |FROM ranked, thr
       |WHERE rn <= $MgK AND true_cnt - thr > 0
       |ORDER BY est_cnt DESC, token ASC""".stripMargin

  /** KMV (k-minimum-values / bottom-k) distinct-count sketch (Bar-Yossef
    * et al. 2002; Beyer et al. 2007): per language, keep the K smallest
    * 60-bit hashes of the distinct bigrams; the K-th smallest hₖ estimates
    * the cardinality as (K−1)·2⁶⁰/hₖ. The bottom-K summary is mergeable
    * (union = merge-and-truncate, the reduce tree a 1000-executor scan
    * already has) and the estimate is a pure deterministic function of the
    * hash set, so unlike HLL the sketch itself replays bit-for-bit in the
    * oracle: hashes come from the engine's portable md5-prefix fold and
    * the arithmetic is IEEE double on both engines. Groups with fewer than
    * K distinct values report exactly. The bottom-K state lives in the
    * native [[graft.functions.KmvSketch]] TypedImperativeAggregate: each
    * map task folds its rows into a K-entry tree, and only those K-value
    * buffers move through the merge tree — a one-pass aggregate with no
    * per-row shuffle (the earlier rank≤K window formulation survives as
    * the spec-asserted equivalence). `true_distinct` joins in as the
    * validation harness (same contract as [[cmsTokens]]); production
    * keeps only the K hashes per group. */
  private[graft] val KmvK = 64
  private[graft] val KmvDomain = 1.152921504606846976e18 // 2^60, exact in double

  def kmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.Md5Prefix60.register(spark)
    graft.functions.SketchAggs.register(spark)
    val bigrams = Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 2)
      .select(col("lang"), explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |  i -> concat(tokens[i], ' ', tokens[i+1]))""".stripMargin)).as("bigram"))
      .distinct()
    val hashed = bigrams
      .select(col("lang"), expr("md5_prefix60(bigram)").as("h"))
    val bottomK = hashed
      .groupBy(col("lang"))
      .agg(expr("kmv_sketch(h)").as("sk"))
      .select(col("lang"),
        element_at(col("sk"), size(col("sk"))).as("hk"),
        size(col("sk")).cast("long").as("n_seen"))
    val exact = bigrams.groupBy(col("lang")).agg(count(lit(1)).as("true_distinct"))
    exact.join(bottomK, Seq("lang"))
      .select(col("lang"), col("true_distinct"),
        Num.r4(when(col("n_seen") < KmvK, col("true_distinct").cast("double"))
          .otherwise(lit((KmvK - 1).toDouble) * lit(KmvDomain) / col("hk").cast("double")))
          .as("est_distinct"))
  }

  val kmvDistinctSql: String =
    s"""WITH bg AS (
       |  SELECT DISTINCT lang, bigram FROM (
       |    SELECT lang, unnest(list_transform(range(1, len(toks)),
       |             i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)]))
       |           AS bigram
       |    FROM (SELECT lang, string_split(text, ' ') AS toks FROM documents)
       |    WHERE len(toks) >= 2)),
       |hh AS (
       |  SELECT lang,
       |         list_reduce(list_transform(range(0, 15),
       |           q -> CAST(strpos('0123456789abcdef',
       |                  substr(md5(bigram), CAST(q + 1 AS INT), 1)) - 1 AS BIGINT)),
       |           (a, b) -> a * 16 + b) AS h
       |  FROM bg),
       |bk AS (
       |  SELECT lang, max(h) AS hk, count(*) AS n_seen FROM (
       |    SELECT lang, h,
       |           row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
       |    FROM hh)
       |  WHERE rn <= $KmvK GROUP BY lang),
       |ex AS (SELECT lang, count(*) AS true_distinct FROM bg GROUP BY lang)
       |SELECT e.lang, e.true_distinct,
       |       round(CASE WHEN b.n_seen < $KmvK THEN CAST(e.true_distinct AS DOUBLE)
       |                  ELSE ${KmvK - 1}.0 * 1152921504606846976.0
       |                       / CAST(b.hk AS DOUBLE) END + 1e-9, 4) AS est_distinct
       |FROM ex e JOIN bk b USING (lang)
       |ORDER BY lang""".stripMargin

  /** Unigram-LM quality scoring — the CCNet recipe (Wenzek et al. 2020:
    * score documents with a language model, then keep/drop by perplexity
    * quantile). The "model" here is the corpus's own unigram distribution:
    * token counts reduce to a tiny (vocabulary-sized) broadcast table, so
    * scoring is a map-side lookup join plus a per-document aggregate, and
    * the corpus text itself never shuffles. Two determinism devices make
    * the operator fully oracle-able despite floating-point aggregation:
    * (1) per-token log-probs are integer-scaled (round(ln(p)·1e6)) BEFORE
    * the per-document sum, so the aggregate is an exact integer fold —
    * order-independent, hence identical across engines and partitionings;
    * (2) quartile bucketing uses exact-percentile cutoffs computed as a
    * 1-row broadcast aggregate and compared map-side (bucket 1 = most
    * fluent), NOT a global ntile window — the same comparison at 100 TB
    * swaps `percentile` for the approx_percentile sketch and keeps the
    * plan shuffle-free past the vocabulary count. */
  def lmQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    // Corpus total derives from the vocabulary aggregate (a second tiny
    // pass over |V| rows), NOT a separate corpus re-scan.
    val counts = toks.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    val vocab = counts
      .crossJoin(broadcast(total))
      .select(col("token"),
        round(log(col("cnt") / col("n_total")) * lit(1e6) + lit(1e-9), 0)
          .cast("long").as("lp_int"))
    val scored = toks.join(broadcast(vocab), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("lp_int")).as("lp_sum"))
      .select(col("doc_id"), col("n_tokens"),
        Num.r4(-col("lp_sum") / (col("n_tokens") * lit(1e6))).as("nll"))
    // Cutoffs round to the same 4-dp grid as nll before the comparison:
    // the raw interpolated percentile could differ between engines in the
    // last ulp (lower+(hi-lo)·frac vs (1-frac)·lo+frac·hi), and a doc
    // whose nll sits exactly on a cutoff would flip buckets. Snapped to
    // the grid, both engines compare identical doubles.
    val cuts = scored.agg(
      expr("transform(percentile(nll, array(0.25D, 0.5D, 0.75D)), x -> round(x + 1e-9, 4))")
        .as("q"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens"), col("nll"),
        when(col("nll") <= element_at(col("q"), 1), 1)
          .when(col("nll") <= element_at(col("q"), 2), 2)
          .when(col("nll") <= element_at(col("q"), 3), 3)
          .otherwise(4).as("ppl_bucket"))
  }

  val lmQualitySql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM toks),
      |vocab AS (
      |  SELECT token,
      |         CAST(round(ln(CAST(count(*) AS DOUBLE) / n_total) * 1000000 + 1e-9)
      |              AS BIGINT) AS lp_int
      |  FROM toks, tot GROUP BY token, n_total),
      |scored AS (
      |  SELECT doc_id, count(*) AS n_tokens, sum(lp_int) AS lp_sum
      |  FROM toks JOIN vocab USING (token) GROUP BY doc_id),
      |sc AS (
      |  SELECT doc_id, n_tokens,
      |         round(-lp_sum / (n_tokens * 1000000.0) + 1e-9, 4) AS nll
      |  FROM scored),
      |cuts AS (SELECT list_transform(quantile_cont(nll, [0.25, 0.5, 0.75]),
      |                                x -> round(x + 1e-9, 4)) AS q FROM sc)
      |SELECT doc_id, n_tokens, nll,
      |       CASE WHEN nll <= q[1] THEN 1
      |            WHEN nll <= q[2] THEN 2
      |            WHEN nll <= q[3] THEN 3
      |            ELSE 4 END AS ppl_bucket
      |FROM sc, cuts ORDER BY doc_id""".stripMargin

  /** Intra-document repetition screen (the Gopher-style repetition rules:
    * Rae et al. 2021 §A1.1 use duplicate-n-gram and top-n-gram fractions
    * as quality gates). Two signals per document — the fraction of bigrams
    * that are repeats of an earlier bigram in the SAME document, and the
    * fraction of the document occupied by its single most frequent token —
    * plus the keep/drop verdict. Emits every document with its signals and
    * the `kept` flag (the drop itself is a trivial downstream filter, and
    * pipelines want the scores for threshold tuning).
    *
    * Pure per-row projection over higher-order functions: no shuffle, no
    * UDF; the nested filter-inside-transform stays a codegen'd expression.
    * The top-token scan is O(distinct × tokens) per row — bounded by the
    * document length the quality gate itself caps, so it does not grow
    * with corpus size. Thresholds compare the ROUNDED values so the
    * verdict is boundary-safe across engines (see Num.r4). */
  /** Within-document repeated-span REMOVAL — the rewrite stage beside
    * the [[repetitionFilter]] flag (MassiveText/RefinedWeb-style rules
    * flag or drop whole docs; curation pipelines additionally strip the
    * repeated spans themselves and keep the rest): every non-FIRST
    * occurrence of a duplicated `SpanN`-gram marks its `SpanN` token
    * positions for removal, and the document is rebuilt from the kept
    * positions in order. Set-logic formulation (no per-doc iteration):
    * explode grams with positions → per-(doc, gram) min position is the
    * canonical occurrence → later occurrences explode into covered
    * positions → anti-join against the token positions → ordered
    * re-aggregation. Everything keys on (doc_id, position), so the
    * shuffles carry token-sized rows and the rebuild is one
    * per-doc sorted collect — at 100 TB this is the standard
    * explode/agg shape, no driver state, no windows over the corpus. */
  private[ext] val SpanN = 8

  def spanDedup(spark: SparkSession, sfDir: String): DataFrame =
    spanDedupOnDocs(Tables.documents(spark, sfDir))

  def spanDedupOnDocs(documents: DataFrame): DataFrame = {
    val toks = documents
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "token")))
    val grams = documents
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= SpanN)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(tokens) - $SpanN),
           |  i -> struct(i AS q, concat_ws(' ', slice(tokens, i + 1, $SpanN)) AS g))"""
          .stripMargin)).as("o"))
      .select(col("doc_id"), col("o.q").as("q"), col("o.g").as("g"))
    val firsts = grams.groupBy(col("doc_id"), col("g"))
      .agg(min(col("q")).as("first_q"))
    val covered = grams.join(firsts, Seq("doc_id", "g"))
      .filter(col("q") > col("first_q"))
      .select(col("doc_id"),
        explode(sequence(col("q"), col("q") + lit(SpanN - 1))).as("p"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "p"), "left_anti")
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr("transform(array_sort(collect_list(struct(p, token))), s -> s.token)"))
          .as("clean_text"))
      .join(documents.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens")), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        (col("n_tokens") - col("n_kept")).as("n_removed"), col("clean_text"))
  }

  val spanDedupSql: String =
    s"""WITH tl AS (SELECT doc_id, string_split(text, ' ') AS tokens FROM documents),
       |toks AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p, tokens[CAST(i + 1 AS INT)] AS token
       |  FROM (SELECT doc_id, tokens, unnest(range(0, len(tokens))) AS i FROM tl)),
       |grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS q,
       |         array_to_string(tokens[CAST(i + 1 AS INT):CAST(i + $SpanN AS INT)], ' ') AS g
       |  FROM (SELECT doc_id, tokens, unnest(range(0, len(tokens) - $SpanN + 1)) AS i
       |        FROM tl WHERE len(tokens) >= $SpanN)),
       |firsts AS (SELECT doc_id, g, min(q) AS first_q FROM grams GROUP BY 1, 2),
       |covered AS (
       |  SELECT DISTINCT gr.doc_id, CAST(gr.q + d AS BIGINT) AS p
       |  FROM grams gr JOIN firsts f ON f.doc_id = gr.doc_id AND f.g = gr.g
       |  CROSS JOIN (SELECT unnest(range(0, $SpanN)) AS d)
       |  WHERE gr.q > f.first_q),
       |kept AS (
       |  SELECT t.doc_id, t.p, t.token FROM toks t
       |  ANTI JOIN covered c ON c.doc_id = t.doc_id AND c.p = t.p)
       |SELECT k.doc_id,
       |       CAST(len(tl.tokens) AS INT) AS n_tokens,
       |       CAST(count(*) AS BIGINT) AS n_kept,
       |       CAST(len(tl.tokens) - count(*) AS BIGINT) AS n_removed,
       |       string_agg(k.token, ' ' ORDER BY k.p) AS clean_text
       |FROM kept k JOIN tl ON tl.doc_id = k.doc_id
       |GROUP BY k.doc_id, len(tl.tokens)
       |ORDER BY k.doc_id""".stripMargin

  def repetitionFilter(spark: SparkSession, sfDir: String): DataFrame =
    repetitionOnDocs(Tables.documents(spark, sfDir))

  def repetitionOnDocs(documents: DataFrame): DataFrame =
    documents
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tokens")))
      // Guard the 1-token edge: Spark's sequence(0, -1) DESCENDS while
      // DuckDB's range(1, 1) is empty — pin both to dup_frac = 0.
      .withColumn("dup_bigram_frac", Num.r4(when(col("n_tokens") < 2, 0.0)
        .otherwise(lit(1.0) - size(array_distinct(expr(
          """transform(sequence(0, size(tokens) - 2),
            |  i -> concat(tokens[i], ' ', tokens[i+1]))""".stripMargin)))
          .cast("double") / (col("n_tokens") - 1))))
      .withColumn("top_token_frac", Num.r4(
        expr("""array_max(transform(array_distinct(tokens),
               |  d -> size(filter(tokens, t -> t = d))))""".stripMargin)
          .cast("double") / col("n_tokens")))
      .select(col("doc_id"), col("n_tokens"),
        col("dup_bigram_frac"), col("top_token_frac"),
        (col("dup_bigram_frac") <= 0.05 && col("top_token_frac") <= 0.15)
          .as("kept"))

  val repetitionFilterSql: String =
    """SELECT doc_id, n_tokens, dup_bigram_frac, top_token_frac,
      |       dup_bigram_frac <= 0.05 AND top_token_frac <= 0.15 AS kept
      |FROM (
      |  SELECT doc_id,
      |         len(toks) AS n_tokens,
      |         round(CASE WHEN len(toks) < 2 THEN 0.0
      |               ELSE 1.0 - len(list_distinct(list_transform(
      |                 range(1, len(toks)),
      |                 i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])))
      |               * 1.0 / (len(toks) - 1) END + 1e-9, 4) AS dup_bigram_frac,
      |         round(list_max(list_transform(list_distinct(toks),
      |                 d -> len(list_filter(toks, t -> t = d))))
      |               * 1.0 / len(toks) + 1e-9, 4) AS top_token_frac
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Per-stratum rates for the corpus-mixing sampler: upsample the
    * under-represented languages relative to dominant English. Each rate
    * is a 4-hex-digit md5 cutoff (rate ≈ cutoff/16⁴), so membership is a
    * pure string compare on md5(doc_id) — deterministic, engine-portable,
    * and stable under corpus growth (a doc's fate never depends on other
    * rows, unlike rank-based quota sampling, which reshuffles the whole
    * selection every time data is added). */
  val StratRates: Seq[(String, String)] = Seq(
    "en" -> "4000", // 25 %
    "de" -> "8000", // 50 %
    "es" -> "8000",
    "fr" -> "8000",
    "zh" -> "g") // 100 % — every hex digest sorts below 'g'

  /** Stratified (per-language) hash sampling — the data-mixing stage of a
    * training-data pipeline: reweight language composition by keeping a
    * deterministic md5-keyed fraction per stratum. Shuffle-free: one
    * codegen'd projection + filter over the scan; the per-stratum cutoff
    * arrives via a CASE chain, not a join. */
  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = StratRates.tail.foldLeft(
      when(col("lang") === StratRates.head._1, lit(StratRates.head._2))) {
      case (acc, (l, c)) => acc.when(col("lang") === l, lit(c))
    }.otherwise(lit("0"))
    Tables.documents(spark, sfDir)
      .withColumn("skey", substring(md5(concat(lit("strat:"), col("doc_id"))), 1, 4))
      .filter(col("skey") < cutoff)
      .select(col("doc_id"), col("lang"), col("source"), col("skey"))
  }

  val stratifiedSampleSql: String = {
    val cases = StratRates
      .map { case (l, c) => s"WHEN lang = '$l' THEN '$c'" }.mkString(" ")
    s"""SELECT doc_id, lang, source,
       |       substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4) AS skey
       |FROM documents
       |WHERE substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 4)
       |      < (CASE $cases ELSE '0' END)
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature-weighted corpus mixing (the multilingual-sampling rule of
    * Devlin et al. 2019 / Conneau & Lample 2019: sample languages
    * ∝ p^α, α = 0.5 here): unlike [[stratifiedSample]]'s hand-pinned
    * rates, the per-language keep-rates are COMPUTED from the corpus —
    * rate_l = min(1, T·w_l/c_l) with w_l = √c_l / Σ_k √c_k and target
    * total T = N/2 — so rare languages are boosted toward (but never past)
    * full retention while dominant ones are thinned. Membership is the
    * same deterministic md5-cutoff gate as every sampler here: doc fate
    * never depends on other rows, so the selection is stable under
    * re-partitioning and incremental corpus growth given fixed rates.
    *
    * Engine portability: √ and ÷ are IEEE correctly-rounded in both
    * engines, and the rate is rounded to 6 decimals (tie-nudged, see
    * Num.r4) before the 24-bit cutoff compare, so the Σ√c summation-order
    * ulp can never flip a verdict. Scale shape: two tiny aggregates (per-
    * language counts ⇒ 5 rows) broadcast back onto the scan — the corpus
    * itself is never shuffled. */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val byLang = docs.groupBy(col("lang")).agg(count(lit(1)).cast("double").as("c"))
    val tot = byLang.agg(sum(sqrt(col("c"))).as("z"), sum(col("c")).as("n"))
    val rates = byLang.crossJoin(broadcast(tot))
      .withColumn("rate",
        round(least(lit(1.0),
          lit(0.5) * col("n") * (sqrt(col("c")) / col("z")) / col("c")) + lit(1e-9), 6))
      .select(col("lang"), col("rate"))
    docs
      .join(broadcast(rates), Seq("lang"))
      .withColumn("u24",
        conv(substring(md5(concat(lit("temp:"), col("doc_id"))), 1, 6), 16, 10)
          .cast("long"))
      .filter(col("u24") < floor(col("rate") * lit(16777216.0)).cast("long"))
      .select(col("doc_id"), col("lang"), col("source"), col("rate"))
  }

  val temperatureMixSql: String =
    """WITH by_lang AS (
      |  SELECT lang, CAST(count(*) AS DOUBLE) AS c FROM documents GROUP BY lang),
      |tot AS (SELECT sum(sqrt(c)) AS z, sum(c) AS n FROM by_lang),
      |rates AS (
      |  SELECT lang,
      |         round(least(1.0, 0.5 * n * (sqrt(c) / z) / c) + 1e-9, 6) AS rate
      |  FROM by_lang, tot),
      |gated AS (
      |  SELECT doc_id, lang, source,
      |         list_reduce(list_transform(range(0, 6),
      |           p -> CAST(strpos('0123456789abcdef',
      |                  substr(md5('temp:' || CAST(doc_id AS VARCHAR)),
      |                         CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
      |           (a, b) -> a * 16 + b) AS u24
      |  FROM documents)
      |SELECT g.doc_id, g.lang, g.source, r.rate
      |FROM gated g JOIN rates r ON g.lang = r.lang
      |WHERE g.u24 < CAST(floor(r.rate * 16777216.0) AS BIGINT)
      |ORDER BY g.doc_id""".stripMargin

  /** Token-budget shard packing — the sequence-packing stage: within each
    * source (the parallelism unit, so no global ordering bottleneck),
    * documents in doc_id order accumulate into shards of ≤ `budget`
    * tokens (oversized docs get their own shard rather than splitting).
    * The raw bucket is floor(exclusive-prefix-sum / budget) in pure
    * integer arithmetic; a dense_rank over the same partition then
    * compacts bucket ids so shard numbering stays contiguous even when a
    * single document spans multiple budget multiples (a >2·budget doc
    * would otherwise leave holes). Both windows share the one shuffle
    * keyed by source (the second is orderBy a column monotone in the
    * first's order — no re-exchange). At 100 TB the per-source window is
    * the scale unit — packing parallelism equals source cardinality, and
    * no stage sees more than one source's rows sorted. */
  def packChunks(spark: SparkSession, sfDir: String): DataFrame =
    packOnDocs(Tables.documents(spark, sfDir))

  def packOnDocs(documents: DataFrame, budget: Int = 2000): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wd = Window.partitionBy(col("source")).orderBy(col("shard_raw"))
    documents
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      // integer `div`, not double `/`+cast: a double quotient loses ulps
      // above 2^53 cumulative tokens per source and could mis-bucket a
      // doc (the Tables.events precision note) — and the scaladoc's
      // "pure integer arithmetic" claim should be true
      .withColumn("shard_raw",
        expr(s"(cum_tokens - n_tokens) div $budget"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        (dense_rank().over(wd) - 1).cast("long").as("shard_id"))
  }

  /** Text normalization — the cleaning stage that runs BEFORE exact/near
    * dedup in a training-data pipeline (casefold → strip non-alphanumerics
    * → collapse runs of spaces → trim), plus the sha256 of the normalized
    * form (the key normalized exact-dedup groups on) and a `changed` flag
    * so the pipeline can measure how much of the corpus was non-canonical.
    * Pure per-row projection: no shuffle, stays in whole-stage codegen,
    * and every step (lower / regexp_replace / trim / sha256) is
    * byte-identical in DuckDB. */
  def normalize(spark: SparkSession, sfDir: String): DataFrame =
    normalizeOnDocs(Tables.documents(spark, sfDir))

  def normalizeOnDocs(documents: DataFrame): DataFrame =
    documents
      .withColumn("norm_text",
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ")))
      .select(col("doc_id"), col("norm_text"),
        (col("norm_text") =!= col("text")).as("changed"),
        sha2(col("norm_text"), 256).as("norm_hash"))

  val normalizeSql: String =
    """SELECT doc_id, norm_text, norm_text != text AS changed,
      |       sha256(norm_text) AS norm_hash
      |FROM (
      |  SELECT doc_id, text,
      |         trim(regexp_replace(
      |           regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |           ' +', ' ', 'g')) AS norm_text
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** PII pattern redaction — the privacy-scrub stage every LLM corpus
    * passes before training (emails → `<EMAIL>`, North-American phone
    * numbers → `<PHONE>`, IPv4 addresses → `<IP>`), as a staged
    * `regexp_replace` cascade with per-document, per-category redaction
    * counts. Counts are taken per STAGE (emails on the raw text, phones
    * on the email-scrubbed text, IPs on the phone-scrubbed text) so each
    * count states exactly how many replacements its stage performed —
    * the audit number a privacy review asks for. The cascade is
    * idempotent (replacement tokens contain no digits or '@', so no
    * pattern can re-match its own output — spec-asserted), which is what
    * lets a pipeline re-run the scrub safely after appends.
    *
    * The `documents` fixture text is digit-free by construction, so the
    * registered query scrubs `withSyntheticPii`'s deterministically
    * planted contact footer (id-derived email/phone/IP — built
    * IDENTICALLY in the DuckDB oracle, so the regex semantics themselves
    * are what the oracle verifies). Pure per-row projection: no shuffle,
    * whole-stage codegen, linear at 100 TB. */
  private[ext] val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[ext] val PhoneRe = """\b\d{3}-\d{3}-\d{4}\b"""
  private[ext] val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  /** DuckDB twin of [[withSyntheticPii]]'s planted contact footer, as an
    * expression over (doc_id, text) — shared by [[piiRedactSql]] and the
    * daily-ingest composite oracle so the two cannot drift. No line may
    * START with `||`: the fragment is interpolated into stripMargin
    * strings, which would eat the first pipe of a line-leading operator. */
  private[ext] val syntheticPiiSqlExpr: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ||\n" +
      "      CASE WHEN doc_id % 3 = 0 THEN ' cc admin@test.org' ELSE '' END ||\n" +
      "      ' ip 10.2.' || CAST(doc_id % 250 AS VARCHAR) || '.7' ||\n" +
      "      CASE WHEN doc_id % 2 = 0\n" +
      "           THEN ' tel 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')\n" +
      "           ELSE '' END"

  /** Deterministic PII footer keyed off doc_id: 1-2 emails, 0-1 phones,
    * exactly one IP per doc, so counts vary across the corpus. */
  def withSyntheticPii(documents: DataFrame): DataFrame =
    documents.withColumn("raw_text", concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
      when(col("doc_id") % 3 === 0, lit(" cc admin@test.org")).otherwise(lit("")),
      lit(" ip 10.2."), (col("doc_id") % 250).cast("string"), lit(".7"),
      when(col("doc_id") % 2 === 0,
        concat(lit(" tel 415-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))))

  def piiRedact(spark: SparkSession, sfDir: String): DataFrame =
    piiRedactOnDocs(withSyntheticPii(Tables.documents(spark, sfDir)), "raw_text")

  def piiRedactOnDocs(documents: DataFrame, textCol: String): DataFrame =
    documents
      .withColumn("t0", col(textCol))
      .withColumn("t1", regexp_replace(col("t0"), EmailRe, "<EMAIL>"))
      .withColumn("t2", regexp_replace(col("t1"), PhoneRe, "<PHONE>"))
      .withColumn("red_text", regexp_replace(col("t2"), Ipv4Re, "<IP>"))
      .select(col("doc_id"), col("red_text"),
        size(expr(s"regexp_extract_all(t0, '${EmailRe.replace("\\", "\\\\")}', 0)"))
          .cast("long").as("n_emails"),
        size(expr(s"regexp_extract_all(t1, '${PhoneRe.replace("\\", "\\\\")}', 0)"))
          .cast("long").as("n_phones"),
        size(expr(s"regexp_extract_all(t2, '${Ipv4Re.replace("\\", "\\\\")}', 0)"))
          .cast("long").as("n_ips"))

  val piiRedactSql: String =
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    $syntheticPiiSqlExpr AS t0
       |  FROM documents),
       |st AS (
       |  SELECT doc_id, t0,
       |    regexp_replace(t0, '$EmailRe', '<EMAIL>', 'g') AS t1
       |  FROM raw),
       |st2 AS (
       |  SELECT doc_id, t0, t1,
       |    regexp_replace(t1, '$PhoneRe', '<PHONE>', 'g') AS t2
       |  FROM st)
       |SELECT doc_id,
       |  regexp_replace(t2, '$Ipv4Re', '<IP>', 'g') AS red_text,
       |  CAST(len(regexp_extract_all(t0, '$EmailRe')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(t1, '$PhoneRe')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(t2, '$Ipv4Re')) AS BIGINT) AS n_ips
       |FROM st2
       |ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm): over each document's sequence of
    * 4-gram hashes, slide a window of w = 4 and keep the window MINIMUM
    * (rightmost on ties, the paper's rule), de-duplicated into
    * (position, fingerprint) pairs. The guarantee `d_fingerprint`'s
    * single rolling hash cannot give: any shared substring of length
    * ≥ w + k − 1 tokens between two documents produces at least one
    * IDENTICAL selected fingerprint in both — local, position-robust
    * overlap detection (plagiarism / mirror detection) with expected
    * density 2/(w+1) instead of keeping every k-gram. Entirely
    * higher-order-function algebra on both engines (the window argmin is
    * `array_min` over a slice + rightmost-match via `array_max(filter)`),
    * shuffle-free per row; the fingerprint table is the ~30 %-density
    * index a 100 TB overlap join buckets on (fp), never on raw text. */
  def winnow(spark: SparkSession, sfDir: String): DataFrame =
    winnowOnDocs(Tables.documents(spark, sfDir))

  def winnowOnDocs(documents: DataFrame): DataFrame = {
    graft.functions.Md5Prefix60.register(documents.sparkSession)
    documents
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 4)
      .withColumn("kg", expr(
        """transform(sequence(0, size(toks) - 4),
          |  i -> md5_prefix60(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])))""".stripMargin))
      .withColumn("fp", explode(expr(
        """array_distinct(transform(sequence(0, greatest(size(kg) - 4, 0)), j ->
          |  struct(
          |    j + array_max(filter(sequence(0, least(4, size(kg)) - 1),
          |      t -> element_at(kg, j + t + 1) = array_min(slice(kg, j + 1, 4)))) AS pos,
          |    array_min(slice(kg, j + 1, 4)) AS fp)))""".stripMargin)))
      // no .distinct(): the per-row array_distinct above already dedupes
      // (all of a doc's selections come from ONE array), so the operator
      // stays a shuffle-free map pass — plan-shape spec-asserted.
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.fp").as("fp"))
  }

  val winnowSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 4),
      |kgr AS (
      |  SELECT doc_id, list_transform(range(0, len(toks) - 3), i ->
      |    list_reduce(list_transform(range(0, 15),
      |      p -> CAST(strpos('0123456789abcdef',
      |             substr(md5(array_to_string(list_slice(toks,
      |               CAST(i + 1 AS INT), CAST(i + 4 AS INT)), ' ')),
      |               CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b)) AS kg
      |  FROM t),
      |sel AS (
      |  -- no list_distinct here: DuckDB 1.0 can't hash struct lists;
      |  -- the outer SELECT DISTINCT performs the dedup instead
      |  SELECT doc_id, unnest(
      |    list_transform(range(0, greatest(len(kg) - 4, 0) + 1), j -> {
      |      'pos': j + list_max(list_filter(range(0, least(4, len(kg))),
      |        t -> kg[CAST(j + t + 1 AS INT)]
      |          = list_min(list_slice(kg, CAST(j + 1 AS INT), CAST(j + 4 AS INT))))),
      |      'fp': list_min(list_slice(kg, CAST(j + 1 AS INT), CAST(j + 4 AS INT)))
      |    })) AS u
      |  FROM kgr)
      |SELECT DISTINCT doc_id, CAST(u.pos AS INT) AS pos, u.fp AS fp
      |FROM sel
      |ORDER BY doc_id, pos""".stripMargin

  /** Pairwise overlap detection via the winnowing index — what the
    * fingerprint table is FOR: bucket documents on selected fingerprints
    * (inverted index keyed on `fp` — Σ n_fp² candidate work, never
    * all-pairs), keep pairs sharing ≥ 2 distinct fingerprints, and score
    * containment = shared / min(|fps_a|, |fps_b|) — the MOSS report
    * metric (how much of the SMALLER document is covered, which catches
    * a short doc pasted into a long one where Jaccard dilutes to
    * nothing). Complements the dedup family: winnowing fingerprints
    * localize overlap to positions, so a downstream pass can show WHERE
    * the copied run sits. */
  def winnowOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    // eager: four branches of one action read u, and a lazy checkpoint
    // lets concurrent stages compute the same partition twice
    val u = winnow(spark, sfDir).select(col("doc_id"), col("fp"))
      .distinct().localCheckpoint(true)
    val shared = u.select(col("doc_id").as("doc_a"), col("fp"))
      .join(u.select(col("doc_id").as("doc_b"), col("fp")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
    val cnt = u.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    shared
      .join(cnt.select(col("doc_id").as("doc_a"), col("n_fp").as("na")), "doc_a")
      .join(cnt.select(col("doc_id").as("doc_b"), col("n_fp").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        Num.r4(col("n_shared").cast("double") / least(col("na"), col("nb")))
          .as("containment"))
  }

  lazy val winnowOverlapSql: String =
    s"""WITH fpt AS (
       |  SELECT DISTINCT doc_id, fp FROM ($winnowSql)),
       |sh AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(count(*) AS BIGINT) AS n_shared
       |  FROM fpt a JOIN fpt b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |cnt AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fpt GROUP BY 1)
       |SELECT sh.doc_a, sh.doc_b, sh.n_shared,
       |  round(sh.n_shared * 1.0 / least(ca.n_fp, cb.n_fp) + 1e-9, 4)
       |    AS containment
       |FROM sh JOIN cnt ca ON ca.doc_id = sh.doc_a
       |        JOIN cnt cb ON cb.doc_id = sh.doc_b
       |ORDER BY sh.doc_a, sh.doc_b""".stripMargin

  /** PMI collocation mining — the phrase-extraction stage of corpus
    * analysis (word2vec's phrase pass, Mikolov et al. 2013; Church &
    * Hanks 1990): rank adjacent bigrams by pointwise mutual information
    * PMI(a,b) = log₂( p(a,b) / (p(a)·p(b)) ), which surfaces pairs that
    * co-occur far more than their unigram frequencies predict — true
    * collocations rather than merely frequent pairs (the `d_ngram_counts`
    * top-k is dominated by high-frequency filler; PMI normalizes it
    * away). A minimum pair count (≥ 5) screens the low-count PMI bias.
    * Top-20 by ROUNDED PMI then bigram, so the rank cutoff is
    * engine-stable. 100 TB shape: two hash aggregates (unigrams,
    * bigrams) + a broadcast-size join — the unigram table is
    * Zipf-bounded vocabulary, the corpus is never shuffled, and the
    * 1-row totals cross-join in broadcast. The top-20 cut is a
    * distributed `TakeOrderedAndProject` (per-partition 20-row heaps,
    * merged on the driver), NOT a global rank window — `Window.orderBy`
    * with no partition spec would drag the whole filtered-bigram
    * relation through one task; ranks are then re-derived inside the
    * ≤20-row frame by sorting a collected struct array, so the plan
    * carries no window at all (spec-asserted registry-wide in
    * PlanShapeSpec). */
  def pmiColloc(spark: SparkSession, sfDir: String): DataFrame =
    pmiCollocOnDocs(Tables.documents(spark, sfDir))

  def pmiCollocOnDocs(documents: DataFrame): DataFrame = {
    val docs = documents
      .withColumn("tokens", split(col("text"), " "))
    val uni = docs.select(explode(col("tokens")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n_t"))
    val totals = docs
      .select(sum(size(col("tokens"))).as("n_tok"),
        sum(greatest(size(col("tokens")) - 1, lit(0))).as("n_big"))
    val pairs = docs.filter(size(col("tokens")) >= 2)
      .select(explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |  i -> struct(tokens[i] AS a, tokens[i+1] AS b))""".stripMargin)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 5)
    val scored = pairs
      .join(broadcast(uni.select(col("t").as("a"), col("n_t").as("n_a"))), "a")
      .join(broadcast(uni.select(col("t").as("b"), col("n_t").as("n_b"))), "b")
      .crossJoin(broadcast(totals))
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"),
        col("a"), col("b"), col("n_pair"),
        Num.r4(log2((col("n_pair").cast("double") / col("n_big"))
          / ((col("n_a").cast("double") / col("n_tok"))
            * (col("n_b").cast("double") / col("n_tok"))))).as("pmi"))
    // Distributed top-20 under (pmi desc, a asc, b asc); the struct's
    // ascending natural order on (−pmi, a, b) reproduces that ordering
    // inside the collected ≤20-row frame, so rank = position + 1. The
    // negated pmi is sort-only; the original value is carried through
    // untouched (−0.0 never reaches the output).
    scored
      .orderBy(desc("pmi"), asc("a"), asc("b"))
      .limit(20)
      .select(struct((-col("pmi")).as("neg"), col("a"), col("b"),
        col("n_pair"), col("pmi"), col("bigram")).as("s"))
      .agg(sort_array(collect_list(col("s"))).as("arr"))
      .select(posexplode(col("arr")).as(Seq("pos", "s")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("s.bigram").as("bigram"), col("s.n_pair").as("n_pair"),
        col("s.pmi").as("pmi"))
  }

  val pmiCollocSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |uni AS (
      |  SELECT u AS tok, CAST(count(*) AS BIGINT) AS n_t
      |  FROM (SELECT unnest(toks) AS u FROM t) GROUP BY 1),
      |tot AS (
      |  SELECT CAST(sum(len(toks)) AS BIGINT) AS n_tok,
      |         CAST(sum(greatest(len(toks) - 1, 0)) AS BIGINT) AS n_big
      |  FROM t),
      |pr AS (
      |  SELECT a, b, CAST(count(*) AS BIGINT) AS n_pair FROM (
      |    SELECT toks[CAST(i AS INT)] AS a, toks[CAST(i + 1 AS INT)] AS b
      |    FROM (SELECT toks, unnest(range(1, len(toks))) AS i
      |          FROM t WHERE len(toks) >= 2))
      |  GROUP BY 1, 2 HAVING count(*) >= 5),
      |sc AS (
      |  SELECT pr.a || ' ' || pr.b AS bigram, pr.a, pr.b, pr.n_pair,
      |    round(log2((pr.n_pair * 1.0 / tot.n_big)
      |      / ((ua.n_t * 1.0 / tot.n_tok) * (ub.n_t * 1.0 / tot.n_tok)))
      |      + 1e-9, 4) AS pmi
      |  FROM pr JOIN uni ua ON ua.tok = pr.a
      |          JOIN uni ub ON ub.tok = pr.b
      |          CROSS JOIN tot)
      |SELECT rank, bigram, n_pair, pmi FROM (
      |  SELECT *, CAST(row_number() OVER (
      |    ORDER BY pmi DESC, a ASC, b ASC) AS INT) AS rank
      |  FROM sc)
      |WHERE rank <= 20 ORDER BY rank""".stripMargin

  /** BPE merge learning — the tokenizer-TRAINING stage of an LLM
    * pipeline (Sennrich et al. 2016) as an oracled query: starting from
    * character segmentations, repeatedly count adjacent symbol pairs
    * (weighted by word frequency) and merge the most frequent pair,
    * emitting the learned merge table (round, pair, n) — the artifact a
    * real tokenizer ships. Ties break lexicographically so both engines
    * learn the identical vocabulary.
    *
    * 100 TB shape: BPE never trains on the corpus — it trains on the
    * WORD-FREQUENCY table (Zipf: the vocab is orders of magnitude
    * smaller than the corpus), which is one hash aggregate here. Each
    * round is then a map-side pair explode over vocab rows + one top-1
    * reduce; selecting the winning pair is a 1-row collect, the same
    * bounded driver control flow as the CC rounds in `dedupGroups` (the
    * rounds are inherently sequential — that is BPE, not a Spark
    * limitation). Applying a merge is a per-row string pass; the
    * segmentation table is `localCheckpoint`ed per round for the same
    * lineage-growth reason as the CC loop. Merge application doubles the
    * separators first so one literal non-overlapping `replace` pass is
    * exactly BPE's greedy left-to-right merge ("a a a" merges once, not
    * twice — both engines' replace() share that contract). */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    bpeMergesOnDocs(spark, Tables.documents(spark, sfDir))

  def bpeMergesOnDocs(spark: SparkSession, documents: DataFrame,
      rounds: Int = 6): DataFrame = {
    import spark.implicits._
    bpeTrain(documents, rounds)._1.toDF("round", "pair", "n")
  }

  /** Shared BPE trainer: returns the learned merge table AND the final
    * word-level segmentations (the trained tokenizer's working state —
    * what [[bpeEncodeOnDocs]] applies). */
  private def bpeTrain(documents: DataFrame,
      rounds: Int): (Seq[(Int, String, Long)], DataFrame) = {
    var seg = documents
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        concat_ws(" ", expr("regexp_extract_all(word, '.', 0)")).as("seg"))
      // lazy (round 21): each round's top-pair collect is the
      // materializing action — eager ran a second job per round for the
      // same blocks, doubling the (job-latency-bound) training wall time
      .localCheckpoint(false)
    val learned = Seq.newBuilder[(Int, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = seg
        .withColumn("toks", split(col("seg"), " "))
        .filter(size(col("toks")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
          .as("pair"))
        .groupBy(col("pair")).agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        learned += ((r, pair, top(0).getLong(1)))
        // Bound literals, not SQL-string interpolation: a learned token
        // containing a quote or backslash must reach replace() verbatim.
        val search = " " + pair.replace(" ", "  ") + " "
        val repl = " " + pair.replace(" ", "") + " "
        seg = seg.select(col("cnt"),
          trim(regexp_replace(
            replace(
              concat(lit(" "), replace(col("seg"), lit(" "), lit("  ")), lit(" ")),
              lit(search), lit(repl)),
            " +", " ")).as("seg"))
          .localCheckpoint(false)
        r += 1
      }
    }
    (learned.result(), seg)
  }

  /** BPE ENCODING — the tokenizer-application stage that makes the
    * learned merge table useful: re-derive the trained segmentations
    * (train once on the word-frequency table; applying to unseen text
    * would replay the merge list in order — same per-word string pass)
    * and emit the corpus token histogram, i.e. what the corpus looks
    * like THROUGH the learned vocabulary: (token, n) with n summed over
    * word frequencies. This is the vocabulary-coverage artifact a
    * tokenizer pipeline ships next to the merges (how often each
    * learned symbol actually fires). 100 TB shape: the encode is a
    * map-side string pass over the Zipf-bounded WORD table (the corpus
    * contributes only its word counts, aggregated once), and the
    * histogram is one hash aggregate over segment tokens. */
  def bpeEncode(spark: SparkSession, sfDir: String): DataFrame =
    bpeEncodeOnDocs(spark, Tables.documents(spark, sfDir))

  def bpeEncodeOnDocs(spark: SparkSession, documents: DataFrame,
      rounds: Int = 6): DataFrame = {
    val (_, seg) = bpeTrain(documents, rounds)
    seg.select(col("cnt"), explode(split(col("seg"), " ")).as("token"))
      .groupBy(col("token")).agg(sum(col("cnt")).as("n"))
  }

  /** DuckDB twin of [[bpeMerges]]: the same rounds unrolled as CTE
    * triples (pair counts pᵣ → winning merge mᵣ → re-segmentation sᵣ),
    * with the winner applied via scalar subqueries — no driver loop, the
    * whole training replayed declaratively. Every CTE is
    * `AS MATERIALIZED`: DuckDB 1.0 otherwise INLINES the chain and the
    * per-round scalar subqueries re-evaluate the whole upstream tree
    * combinatorially — fatal by round 12 (the depth that proves the
    * unrolled-iteration pattern scales past toy size). */
  def bpeMergesSqlFor(rounds: Int): String = {
    val union = (1 to rounds).map(r => s"SELECT round, pair, n FROM m$r")
      .mkString("\nUNION ALL\n")
    s"${bpeCtesFor(rounds)}\n$union\nORDER BY round"
  }

  /** The shared WITH-ladder (v, s0, then (pᵣ, mᵣ, sᵣ) per round) both
    * BPE oracles build on. When the merges EXHAUST before `rounds`
    * (every word fully merged — m_r empty), each remaining s_r must be
    * a NO-OP: the scalar search/replace subqueries then return NULL,
    * and a bare replace(seg, NULL, NULL) would NULL-poison every later
    * segmentation (the Spark loop instead stops and keeps the last
    * seg). coalesce substitutes an unmatchable sentinel (chr(1) never
    * appears in a segmentation) so the ladder carries s_{r-1} through
    * unchanged. */
  private def bpeCtesFor(rounds: Int): String = {
    val head =
      """WITH v AS MATERIALIZED (
        |  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY 1),
        |s0 AS MATERIALIZED (
        |  SELECT cnt, array_to_string(regexp_extract_all(word, '.'), ' ') AS seg
        |  FROM v)""".stripMargin
    val blocks = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(toks)),
         |      i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])) AS pair
         |    FROM (SELECT cnt, string_split(seg, ' ') AS toks FROM s${r - 1})
         |    WHERE len(toks) >= 2)
         |  GROUP BY 1),
         |m$r AS MATERIALIZED (
         |  SELECT $r AS round, pair, n FROM p$r ORDER BY n DESC, pair LIMIT 1),
         |s$r AS MATERIALIZED (
         |  SELECT cnt, trim(regexp_replace(
         |    replace(' ' || replace(seg, ' ', '  ') || ' ',
         |      coalesce(
         |        (SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM m$r),
         |        chr(1)),
         |      coalesce(
         |        (SELECT ' ' || replace(pair, ' ', '') || ' ' FROM m$r), '')),
         |    ' +', ' ', 'g')) AS seg
         |  FROM s${r - 1})""".stripMargin
    }
    s"$head,\n${blocks.mkString(",\n")}"
  }

  val bpeMergesSql: String = bpeMergesSqlFor(6)

  /** DuckDB twin of [[bpeEncodeOnDocs]]: the same CTE ladder, final
    * segmentation s_rounds exploded into the token histogram. */
  def bpeEncodeSqlFor(rounds: Int): String =
    s"""${bpeCtesFor(rounds)}
       |SELECT token, CAST(sum(cnt) AS BIGINT) AS n
       |FROM (SELECT cnt, unnest(string_split(seg, ' ')) AS token FROM s$rounds)
       |GROUP BY 1
       |ORDER BY token""".stripMargin

  val bpeEncodeSql: String = bpeEncodeSqlFor(6)

  /** 12-round BPE training — the same learner at double depth, proving
    * the unrolled CTE ladder (and the Spark driver loop it mirrors)
    * scales past toy merge counts. */
  def bpeMerges12(spark: SparkSession, sfDir: String): DataFrame =
    bpeMergesOnDocs(spark, Tables.documents(spark, sfDir), rounds = 12)

  val bpeMerges12Sql: String = bpeMergesSqlFor(12)

  /** Sliding-window chunking — the context-window splitting stage that
    * runs before tokenize-and-pack in a training pipeline: each document
    * yields overlapping windows of `width` tokens advancing by `stride`
    * (overlap = width − stride tokens of shared context so no training
    * example starts cold mid-sentence). A window is emitted only if it
    * contributes at least one token not covered by its predecessor
    * (start = 0 or start < n − overlap), so a short tail never produces a
    * fully-duplicated chunk. Pure per-row explode — tokens never leave
    * their input split, no shuffle, stays in whole-stage codegen; at
    * 100 TB output volume is input × (width/stride) ≈ 1.33×, the expected
    * overlap tax. Complements `packChunks` (which assigns whole docs to
    * token-budget shards; this splits within docs). */
  def chunkOverlap(spark: SparkSession, sfDir: String): DataFrame =
    chunkOverlapOnDocs(Tables.documents(spark, sfDir))

  def chunkOverlapOnDocs(documents: DataFrame, width: Int = 32,
      stride: Int = 24): DataFrame = {
    val overlap = width - stride
    documents
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("n_tokens", size(col("tokens")))
      .select(col("doc_id"), col("tokens"), col("n_tokens"),
        posexplode(expr(
          s"filter(sequence(0, n_tokens - 1, $stride), s -> s = 0 OR s < n_tokens - $overlap)"))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx"), col("start"),
        concat_ws(" ", slice(col("tokens"), col("start") + 1, lit(width)))
          .as("chunk_text"),
        least(lit(width), col("n_tokens") - col("start")).as("chunk_tokens"))
  }

  val chunkOverlapSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tokens,
      |         len(string_split(text, ' ')) AS n_tokens
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, tokens, n_tokens,
      |         unnest(starts) AS start,
      |         generate_subscripts(starts, 1) - 1 AS chunk_idx
      |  FROM (SELECT doc_id, tokens, n_tokens,
      |          list_filter(generate_series(0, n_tokens - 1, 24),
      |                      s -> s = 0 OR s < n_tokens - 8) AS starts
      |        FROM t))
      |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, CAST(start AS INT) AS start,
      |       array_to_string(list_slice(tokens, start + 1, start + 32), ' ') AS chunk_text,
      |       CAST(least(32, n_tokens - start) AS INT) AS chunk_tokens
      |FROM s ORDER BY doc_id, chunk_idx""".stripMargin

  val packChunksSql: String =
    """SELECT doc_id, source, n_tokens,
      |       CAST(dense_rank() OVER (PARTITION BY source ORDER BY shard_raw)
      |            - 1 AS BIGINT) AS shard_id
      |FROM (
      |  SELECT doc_id, source, n_tokens,
      |         (cum_tokens - n_tokens) // 2000 AS shard_raw
      |  FROM (
      |    SELECT doc_id, source,
      |           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |           CAST(sum(len(string_split(text, ' '))) OVER (
      |             PARTITION BY source ORDER BY doc_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |             AS cum_tokens
      |    FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Triangle counting + local clustering coefficient over the token
    * co-occurrence graph (same adjacent-bigram edges as
    * [[tokenPagerank]]) — the third iterative-graph family member beside
    * PageRank and the CC contraction, and the structure metric corpus
    * linguistics uses for collocation cliques. Degree-ordered
    * node-iterator (Schank & Wagner 2005): every edge orients from its
    * lower-(degree, name) endpoint, each triangle is found EXACTLY once
    * as a wedge at its lowest vertex closed by one edge lookup, and the
    * wedge fan-out is bounded by graph arboricity instead of max degree
    * — the difference between a hot stopword exploding the join and the
    * O(m^1.5) bound that survives a web-scale graph. Wedge join and
    * closing-edge lookup both key on node/edge ids; nothing is ever
    * all-pairs. Output: per-token triangle count and local clustering
    * coefficient 2T/(deg·(deg−1)), the mislabel/degeneracy signal. */
  def tokenTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 2)
    val und = docs
      .select(explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |  i -> struct(tokens[i] AS a, tokens[i+1] AS b))""".stripMargin)).as("e"))
      .select(least(col("e.a"), col("e.b")).as("u"),
        greatest(col("e.a"), col("e.b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val deg = und.select(col("u").as("node"))
      .unionAll(und.select(col("v")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
    val oriented = withDeg.select(
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        col("u")).otherwise(col("v")).as("src"),
      when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
        col("v")).otherwise(col("u")).as("dst"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("w0"), col("e1.dst").as("w1"), col("e2.dst").as("w2"))
    val tri = wedges.join(und,
      least(col("w1"), col("w2")) === col("u")
        && greatest(col("w1"), col("w2")) === col("v"))
      .select(col("w0"), col("w1"), col("w2"))
    val perNode = tri
      .select(explode(array(col("w0"), col("w1"), col("w2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("token"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        Num.r4(when(col("deg") < 2, 0.0)
          .otherwise(coalesce(col("n_triangles"), lit(0L)).cast("double") * 2.0
            / (col("deg") * (col("deg") - 1)))).as("clustering"))
  }

  val tokenTrianglesSql: String =
    """WITH bi AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, len(string_split(text, ' ')) - 1),
      |           i -> {'a': string_split(text, ' ')[CAST(i + 1 AS INT)],
      |                 'b': string_split(text, ' ')[CAST(i + 2 AS INT)]})) AS e
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |und AS (
      |  SELECT DISTINCT least(e.a, e.b) AS u, greatest(e.a, e.b) AS v
      |  FROM bi WHERE e.a != e.b),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v FROM und)
      |  GROUP BY node),
      |ori AS (
      |  SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
      |         CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst
      |  FROM und
      |  JOIN (SELECT node AS u, deg AS du FROM deg) USING (u)
      |  JOIN (SELECT node AS v, deg AS dv FROM deg) USING (v)),
      |tri AS (
      |  SELECT e1.src AS w0, e1.dst AS w1, e2.dst AS w2
      |  FROM ori e1 JOIN ori e2 ON e1.src = e2.src AND e1.dst < e2.dst
      |  JOIN und ON least(e1.dst, e2.dst) = und.u
      |          AND greatest(e1.dst, e2.dst) = und.v),
      |pern AS (
      |  SELECT node, count(*) AS n_triangles FROM (
      |    SELECT w0 AS node FROM tri
      |    UNION ALL SELECT w1 FROM tri
      |    UNION ALL SELECT w2 FROM tri)
      |  GROUP BY node)
      |SELECT d.node AS token,
      |       COALESCE(p.n_triangles, 0) AS n_triangles,
      |       round(CASE WHEN d.deg < 2 THEN 0.0
      |             ELSE COALESCE(p.n_triangles, 0) * 2.0
      |                  / (d.deg * (d.deg - 1)) END + 1e-9, 4) AS clustering
      |FROM deg d LEFT JOIN pern p ON p.node = d.node
      |ORDER BY token""".stripMargin

  /** Per-document Shannon entropy of the token distribution — the
    * information-theoretic quality signal the ratio heuristics miss: a
    * doc that repeats one phrase has low H even when its type-token
    * ratio looks healthy, and H/ln(n_distinct) (the evenness in [0,1])
    * separates "diverse vocabulary" from "uniform babble". One
    * explode+groupBy for per-(doc, token) counts, one doc-keyed sum.
    * Determinism device (same as the LM screens): each token's
    * −p·ln p term integer-scales to 1e9 BEFORE the per-doc sum, so the
    * aggregate is an exact fold under any partitioning and replays in
    * DuckDB. */
  def tokenEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).cast("double").as("c"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"))
    counts.join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("n_distinct"),
        round(-(col("c") / col("n")) * log(col("c") / col("n")) * lit(1e9)
          + lit(1e-9), 0).cast("long").as("h_int"))
      .groupBy(col("doc_id"), col("n_distinct"))
      .agg(sum(col("h_int")).as("h_sum"))
      .select(col("doc_id"),
        Num.r4(col("h_sum") / lit(1e9)).as("entropy"),
        Num.r4(when(col("n_distinct") <= 1, 0.0)
          .otherwise(col("h_sum") / lit(1e9) / log(col("n_distinct").cast("double"))))
          .as("evenness"))
  }

  val tokenEntropySql: String =
    """WITH c AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |cnt AS (
      |  SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS c
      |  FROM c GROUP BY doc_id, token),
      |tot AS (
      |  SELECT doc_id, sum(c) AS n, count(*) AS n_distinct
      |  FROM cnt GROUP BY doc_id),
      |terms AS (
      |  SELECT cnt.doc_id, tot.n_distinct,
      |         CAST(round(-(c / n) * ln(c / n) * 1e9 + 1e-9, 0) AS BIGINT) AS h_int
      |  FROM cnt JOIN tot ON cnt.doc_id = tot.doc_id),
      |h AS (
      |  SELECT doc_id, n_distinct, sum(h_int) AS h_sum
      |  FROM terms GROUP BY doc_id, n_distinct)
      |SELECT doc_id,
      |       round(h_sum / 1e9 + 1e-9, 4) AS entropy,
      |       round(CASE WHEN n_distinct <= 1 THEN 0.0
      |             ELSE h_sum / 1e9 / ln(CAST(n_distinct AS DOUBLE)) END
      |             + 1e-9, 4) AS evenness
      |FROM h ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test split — the dataset-partitioning
    * primitive every training run starts from, with the two properties
    * that matter at scale: (1) portable determinism — the assignment is
    * a pure function of the row (md5 hex-prefix thresholds, the same
    * device as `q_sample_hash`), so any engine, any partitioning, any
    * rerun produces the identical split; (2) leakage safety — the hash
    * keys on the CONTENT, not the id, so byte-identical duplicates land
    * in the SAME split and can never straddle train/test (the classic
    * contamination bug id-keyed splits ship). Thresholds 0xcc/0xe6 give
    * ≈80/10/10 in expectation; shuffle-free map-pass. */
  def datasetSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        substring(md5(col("text").cast("binary")), 1, 2).as("h2"))
      .select(col("doc_id"), col("h2"),
        when(col("h2") < "cc", lit("train"))
          .when(col("h2") < "e6", lit("val"))
          .otherwise(lit("test")).as("split"))

  val datasetSplitSql: String =
    """SELECT doc_id, substring(md5(text), 1, 2) AS h2,
      |       CASE WHEN substring(md5(text), 1, 2) < 'cc' THEN 'train'
      |            WHEN substring(md5(text), 1, 2) < 'e6' THEN 'val'
      |            ELSE 'test' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Seeded global shuffle + sharding — the read-order primitive of a
    * training run: before data loads, the corpus must be shuffled (so
    * batches are i.i.d.-ish, not crawl-ordered) and split into shard
    * files a data-loader fleet can stream independently. Both come from
    * ONE portable hash: `skey = md5_prefix60(seed ':' doc_id)` gives a
    * pseudo-random 60-bit rank; `shard = skey mod shards` is a pure
    * map-side assignment (statistically balanced, no global barrier),
    * and `pos = row_number` within the shard ordered by (skey, doc_id)
    * is the shard's shuffled read order. Deliberately NOT a single
    * global row_number: that is an unpartitioned window — one reducer
    * owning the universe — while the per-shard window shuffles each row
    * exactly once on its shard key, the same cost class as writing the
    * shard files themselves. Changing the seed re-deals everything;
    * re-running with the same seed is bit-identical on any engine and
    * any partitioning (same md5-prefix determinism contract as
    * [[datasetSplit]] / `q_sample_hash`). */
  def corpusShuffle(spark: SparkSession, sfDir: String): DataFrame =
    corpusShuffle(spark, sfDir, seed = "graft42", shards = 8)

  private[graft] def corpusShuffle(spark: SparkSession, sfDir: String,
      seed: String, shards: Int): DataFrame =
    corpusShuffleOn(Tables.documents(spark, sfDir), seed, shards)

  /** The deal itself, over any (doc_id)-bearing relation — split out so
    * the ScalaCheck property can drive arbitrary id sets through the
    * identical dataflow the registry query uses. */
  private[graft] def corpusShuffleOn(docs: DataFrame,
      seed: String, shards: Int): DataFrame = {
    graft.functions.Md5Prefix60.register(docs.sparkSession)
    val w = Window.partitionBy(col("shard")).orderBy(col("skey"), col("doc_id"))
    docs
      .select(col("doc_id"),
        expr(s"md5_prefix60(concat('$seed', ':', CAST(doc_id AS STRING)))")
          .as("skey"))
      .withColumn("shard", pmod(col("skey"), lit(shards.toLong)).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  val corpusShuffleSql: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    list_reduce(list_transform(range(0, 15),
      |      p -> CAST(strpos('0123456789abcdef',
      |             substr(md5('graft42:' || CAST(doc_id AS VARCHAR)),
      |                    CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS skey
      |  FROM documents)
      |SELECT doc_id, CAST(skey % 8 AS INT) AS shard,
      |       CAST(row_number() OVER (PARTITION BY skey % 8
      |                               ORDER BY skey, doc_id) AS BIGINT) AS pos
      |FROM k
      |ORDER BY doc_id""".stripMargin

  /** Deterministic corpus MIXING — re-balance the corpus to a target
    * per-source distribution, the step a training pipeline runs after
    * filtering and before sharding ("2 parts code, 1 part web, ...").
    * Semantics: each source carries an integer target weight w (here
    * `(srcN's N mod 4) + 1`, so the fixture exercises a 1:2:3:4 mix);
    * the mix takes the LARGEST total volume for which every source can
    * fill its share from what it has — the per-weight-unit volume is
    * `u = min over sources of n/w`, so the binding source is taken
    * whole and everything else is downsampled — and each source keeps
    * exactly `quota = ⌊w·u⌋` docs:
    * the quota docs with the SMALLEST shuffle keys, ties by doc_id.
    * Every step is engine-portable: the shuffle key is the same
    * md5-prefix device as [[corpusShuffle]], and the quota arithmetic
    * is EXACT integer math — weights {1,2,3,4} all divide 12, so
    * `v = n·(12/w)` and `quota = (w·min(v)) div 12` never touch a
    * float and can never round differently across engines. Dataflow at
    * 100 TB: one tiny per-source count aggregate broadcast back, one
    * rank-within-source window (the same single-shuffle cost class as
    * [[corpusShuffle]]'s per-shard deal); a FEW giant sources make
    * that window skew-bound, in which case the exact per-group rank
    * becomes a two-phase distributed selection (per-partition counts →
    * prefix offsets) — the quota/threshold semantics are unchanged. */
  def corpusMix(spark: SparkSession, sfDir: String): DataFrame =
    corpusMixOn(Tables.documents(spark, sfDir), seed = "mix42")

  private[graft] def corpusMixOn(docs: DataFrame, seed: String): DataFrame = {
    graft.functions.Md5Prefix60.register(docs.sparkSession)
    val keyed = docs.select(col("doc_id"), col("source"),
      expr(s"md5_prefix60(concat('$seed', ':', CAST(doc_id AS STRING)))")
        .as("skey"),
      (pmod(substring(col("source"), 4, 10).cast("long"), lit(4L)) + lit(1L))
        .as("w"))
    // per-source counts: a 20-row aggregate of a corpus-sized scan —
    // pinned eagerly so the min-volume scalar and the per-source quotas
    // both read the materialized rows instead of re-running the scan
    // (without the pin, the cross-joined min recomputes the whole
    // aggregate subtree: three corpus scans instead of two)
    val caps = keyed.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("n"))
      .withColumn("v", col("n") * (lit(12.0) / col("w")).cast("long"))
      .localCheckpoint(true)
    val t12 = caps.agg(min(col("v")).as("t12"))
    val quotas = caps.crossJoin(broadcast(t12))
      .select(col("source"), expr("(w * t12) div 12").as("quota"))
    val w = Window.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))
    keyed
      .join(broadcast(quotas), Seq("source"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("pos"), col("quota"),
        (col("pos") <= col("quota")).as("kept"))
  }

  val corpusMixSql: String =
    """WITH k AS (
      |  SELECT doc_id, source,
      |    list_reduce(list_transform(range(0, 15),
      |      p -> CAST(strpos('0123456789abcdef',
      |             substr(md5('mix42:' || CAST(doc_id AS VARCHAR)),
      |                    CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS skey,
      |    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w
      |  FROM documents),
      |c AS (SELECT source, w, count(*) AS n, count(*) * (12 // w) AS v
      |      FROM k GROUP BY 1, 2),
      |t AS (SELECT min(v) AS t12 FROM c),
      |q AS (SELECT source, (w * t12) // 12 AS quota FROM c, t)
      |SELECT doc_id, k.source AS source,
      |       CAST(row_number() OVER (PARTITION BY k.source
      |                               ORDER BY skey, doc_id) AS BIGINT) AS pos,
      |       quota,
      |       CAST(row_number() OVER (PARTITION BY k.source
      |                               ORDER BY skey, doc_id) AS BIGINT)
      |         <= quota AS kept
      |FROM k JOIN q ON q.source = k.source
      |ORDER BY doc_id""".stripMargin

  /** INCREMENTAL corpus mixing — the arrival-sequence twin of
    * [[corpusMix]], completing the corpus-ops family the way
    * [[graft.ext.Dedup.dedupStreamed]] completed dedup: the corpus
    * arrives in FOUR waves that cut ACROSS sources (`wave =
    * (doc_id div 20) mod 4` — the fixture assigns source by
    * `doc_id mod 20`, so a residue-of-doc_id wave would still arrive
    * source-group-by-source-group and a source-keyed split would leave
    * per-source counts static after arrival; the div-20 stride grows
    * EVERY source EVERY wave) and after each wave the mix is
    * RE-QUOTAED over everything on hand,
    * under the identical exact-integer law (`u12 = min over present
    * sources of n·(12/w)`, `quota = (w·u12) div 12`, kept = the quota
    * docs with the smallest shuffle keys). The kept set is genuinely
    * DYNAMIC under arrivals — a wave that introduces a new source with
    * few docs SHRINKS u12 and evicts previously-kept docs ("the binding
    * source moved"), while growth of the binding source admits new ones
    * — and the per-wave columns pin exactly that: one row per document
    * with its arrival wave, its final-state (pos, quota), and keptᵏ for
    * every wave k (NULL before the doc arrived). Oracled like the
    * streamed-dedup twin: the DuckDB SQL replays all four re-quotas as a
    * generated CTE chain over the same md5-prefix key and div/mod
    * arithmetic. Dataflow at 100 TB: each re-quota is [[corpusMix]]'s
    * one tiny broadcast aggregate + one rank window, and a daily job
    * would run ONE re-quota over the accumulated corpus (the four here
    * replay a whole arrival history for the oracle); the final
    * per-doc_id assembly joins are co-partitioned on doc_id.
    *
    * Wave-law precondition (here and in every `(doc_id // 20) % 4`
    * twin below, plus StreamDsir/StreamDrift): doc_id >= 0. Spark's
    * `pmod(doc_id DIV 20, 4)` truncates-then-wraps while DuckDB's
    * `//`/`%` floor-then-sign-follow, so the two laws agree only on
    * non-negative ids; generated doc_ids are sequential naturals. */
  def corpusMixIncr(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("wave",
        pmod(floor(col("doc_id") / 20), lit(4L)).cast("int"))
    corpusMixIncrOn(docs, seed = "incr42", waves = 4)
  }

  /** The re-quota sequence over any (doc_id, source, wave) relation —
    * split out so the ScalaCheck property can drive arbitrary arrival
    * shapes through the identical dataflow the registry query uses. */
  private[graft] def corpusMixIncrOn(docs: DataFrame, seed: String,
      waves: Int): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("wave"))
    val perWave = (0 until waves).map(k =>
      corpusMixOn(base.filter(col("wave") <= k), seed))
    val last = perWave(waves - 1)
    val start = base.join(
      last.select(col("doc_id"), col("pos"), col("quota")), Seq("doc_id"))
    (0 until waves).foldLeft(start) { (acc, k) =>
      acc.join(perWave(k).select(col("doc_id"), col("kept").as(s"kept$k")),
        Seq("doc_id"), "left")
    }
  }

  /** Generated CTE chain: one (counts → min-volume → quotas → ranks)
    * block per wave prefix, same portable md5-prefix key and integer
    * quota arithmetic as [[corpusMixSql]]. */
  lazy val corpusMixIncrSql: String =
    corpusMixIncrSqlGen(", r3.pos AS pos, r3.quota AS quota")

  /** The same 4-wave law WITHOUT the rank columns — the oracle for the
    * streaming replay twin ([[graft.streaming.StreamMix.corpusMixStreamed]]),
    * whose threshold-based dataflow never materializes a per-doc rank. */
  lazy val corpusMixStreamedSql: String = corpusMixIncrSqlGen("")

  private def corpusMixIncrSqlGen(rankCols: String): String = {
    val head =
      """WITH k AS (
        |  SELECT doc_id, source,
        |    list_reduce(list_transform(range(0, 15),
        |      p -> CAST(strpos('0123456789abcdef',
        |             substr(md5('incr42:' || CAST(doc_id AS VARCHAR)),
        |                    CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS skey,
        |    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w,
        |    CAST((doc_id // 20) % 4 AS INT) AS wave
        |  FROM documents)""".stripMargin
    val waveBlocks = (0 until 4).map { j =>
      s""",
         |c$j AS (SELECT source, w, count(*) AS n, count(*) * (12 // w) AS v
         |      FROM k WHERE wave <= $j GROUP BY 1, 2),
         |t$j AS (SELECT min(v) AS t12 FROM c$j),
         |q$j AS (SELECT source, (w * t12) // 12 AS quota FROM c$j, t$j),
         |r$j AS (SELECT doc_id,
         |        CAST(row_number() OVER (PARTITION BY k.source
         |                                ORDER BY skey, doc_id) AS BIGINT) AS pos,
         |        quota
         |      FROM k JOIN q$j ON q$j.source = k.source
         |      WHERE k.wave <= $j)""".stripMargin
    }.mkString
    val keptCols = (0 until 4)
      .map(j => s"r$j.pos <= r$j.quota AS kept$j").mkString(",\n       ")
    val leftJoins = (0 until 3)
      .map(j => s"LEFT JOIN r$j ON r$j.doc_id = k.doc_id").mkString("\n")
    s"""$head$waveBlocks
       |SELECT k.doc_id, k.source, k.wave$rankCols,
       |       $keptCols
       |FROM k
       |$leftJoins
       |JOIN r3 ON r3.doc_id = k.doc_id
       |ORDER BY k.doc_id""".stripMargin
  }

  /** TOKEN-budget corpus mixing with EPOCHING — [[corpusMix]] counts
    * documents; real training mixtures are specified in TOKENS, and a
    * source whose weight demands more tokens than it has is REPEATED
    * (epoched) rather than silently under-filled. Semantics: the global
    * budget B is the corpus's own token total; source s with weight w_s
    * (same `(srcN mod 4)+1` fixture mix as [[corpusMix]]) owns the
    * token quota `b_s = (w_s·B) div Σw`. With t_s tokens on hand the
    * source contributes `full_epochs = b_s div t_s` complete copies of
    * itself plus a PARTIAL epoch of `rem = b_s mod t_s` tokens, filled
    * greedily in shuffle-key order: a doc joins the partial epoch iff
    * the tokens STRICTLY BEFORE it (cum_before) leave budget — so the
    * partial epoch overshoots by at most one document and never
    * understates while rem > 0. Output is one row per document (not
    * per copy — an exploded output would be Σepochs× the corpus):
    * `copies = full_epochs + (in_partial ? 1 : 0)` is the doc's
    * repetition count in the mixture. Every step is integer-exact and
    * engine-portable: the same md5-prefix shuffle key, `div`/`mod`
    * quota arithmetic, and the whitespace token count every other text
    * op here uses. Dataflow at 100 TB: one tiny per-source aggregate
    * (pinned, broadcast back), then ONE window shuffle — `row_number`
    * and the running `sum` share the same (source | skey, doc_id)
    * partitioning+ordering, so Spark plans them in a single Window
    * over a single Exchange+Sort; the skew note on [[corpusMix]]
    * applies unchanged. */
  def corpusMixTokens(spark: SparkSession, sfDir: String): DataFrame =
    corpusMixTokensOn(Tables.documents(spark, sfDir), seed = "epoch42")

  private[graft] def corpusMixTokensOn(docs: DataFrame, seed: String): DataFrame = {
    graft.functions.Md5Prefix60.register(docs.sparkSession)
    // NULL text counts as zero tokens — the same defined semantic as
    // the streaming twin (StreamMixTokens.weightExpr), so the two halves
    // cannot diverge on a NULL-text doc (fixture-free edge; the DuckDB
    // twin never sees one)
    val keyed = docs.select(col("doc_id"), col("source"),
      coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)).as("tok"),
      expr(s"md5_prefix60(concat('$seed', ':', CAST(doc_id AS STRING)))")
        .as("skey"),
      (pmod(substring(col("source"), 4, 10).cast("long"), lit(4L)) + lit(1L))
        .as("w"))
    // per-source token totals: tiny (one row per source) but computed
    // from a corpus-sized scan — pinned so the grand-total scalar and
    // the per-source quotas read materialized rows (same rationale as
    // corpusMixOn's caps pin)
    val caps = keyed.groupBy(col("source"), col("w"))
      .agg(sum(col("tok")).as("t_s"))
      .localCheckpoint(true)
    val tot = caps.agg(sum(col("t_s")).as("b"), sum(col("w")).as("wsum"))
    // t_s = 0 (a source whose every doc is zero-token / NULL-text)
    // yields zero epochs + zero remainder — the streaming twin's
    // defined semantic (StreamMixTokens.quotas); a bare division
    // would raise DIVIDE_BY_ZERO under ANSI-on sessions
    val quotas = caps.crossJoin(broadcast(tot))
      .select(col("source"), col("t_s"), expr("(w * b) div wsum").as("b_s"))
      .select(col("source"),
        expr("CASE WHEN t_s = 0 THEN 0 ELSE b_s div t_s END").as("full_epochs"),
        expr("CASE WHEN t_s = 0 THEN 0 ELSE b_s % t_s END").as("rem"))
    val win = Window.partitionBy(col("source")).orderBy(col("skey"), col("doc_id"))
    keyed
      .join(broadcast(quotas), Seq("source"))
      .withColumn("pos", row_number().over(win).cast("long"))
      .withColumn("cum_before", coalesce(
        sum(col("tok")).over(win.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("doc_id"), col("source"), col("tok"), col("pos"),
        col("full_epochs"),
        (col("cum_before") < col("rem")).as("in_partial"),
        (col("full_epochs")
          + when(col("cum_before") < col("rem"), lit(1L)).otherwise(lit(0L)))
          .as("copies"))
  }

  val corpusMixTokensSql: String =
    """WITH k AS (
      |  SELECT doc_id, source,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |    list_reduce(list_transform(range(0, 15),
      |      p -> CAST(strpos('0123456789abcdef',
      |             substr(md5('epoch42:' || CAST(doc_id AS VARCHAR)),
      |                    CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
      |      (a, b) -> a * 16 + b) AS skey,
      |    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w
      |  FROM documents),
      |c AS (SELECT source, w, sum(tok) AS t_s FROM k GROUP BY 1, 2),
      |t AS (SELECT sum(t_s) AS b, sum(w) AS wsum FROM c),
      |q AS (SELECT source,
      |             CAST((w * b) // wsum // t_s AS BIGINT) AS full_epochs,
      |             CAST(((w * b) // wsum) % t_s AS BIGINT) AS rem
      |      FROM c, t),
      |r AS (SELECT doc_id, k.source AS source, tok,
      |        CAST(row_number() OVER (PARTITION BY k.source
      |                                ORDER BY skey, doc_id) AS BIGINT) AS pos,
      |        COALESCE(sum(tok) OVER (PARTITION BY k.source
      |                                ORDER BY skey, doc_id
      |                                ROWS BETWEEN UNBOUNDED PRECEDING
      |                                         AND 1 PRECEDING), 0) AS cum_before,
      |        full_epochs, rem
      |      FROM k JOIN q ON q.source = k.source)
      |SELECT doc_id, source, tok, pos, full_epochs,
      |       cum_before < rem AS in_partial,
      |       full_epochs + CASE WHEN cum_before < rem THEN 1 ELSE 0 END AS copies
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** Generated CTE chain oracling the TOKEN-weighted streaming mixer's
    * 4-wave replay twin ([[graft.streaming.StreamMixTokens.corpusMixTokensStreamed]]):
    * one (token-sums → budget → epoch-quotas → running-cum copies) block
    * per wave prefix, the identical integer arithmetic as
    * [[corpusMixTokensSql]] and the same `(doc_id div 20) mod 4` arrival
    * law as [[corpusMixIncrSql]]. The streaming operator computes NONE
    * of this the same way — its state is a per-source (threshold key,
    * cumulative-token) pair moved by density-guided probes — so the
    * oracle pins the threshold dataflow to the rank-free law. */
  lazy val corpusMixTokensStreamedSql: String = {
    val head =
      """WITH k AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
        |    list_reduce(list_transform(range(0, 15),
        |      p -> CAST(strpos('0123456789abcdef',
        |             substr(md5('epoch42:' || CAST(doc_id AS VARCHAR)),
        |                    CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
        |      (a, b) -> a * 16 + b) AS skey,
        |    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w,
        |    CAST((doc_id // 20) % 4 AS INT) AS wave
        |  FROM documents)""".stripMargin
    val waveBlocks = (0 until 4).map { j =>
      s""",
         |c$j AS (SELECT source, w, sum(tok) AS t_s
         |      FROM k WHERE wave <= $j GROUP BY 1, 2),
         |t$j AS (SELECT sum(t_s) AS b, sum(w) AS wsum FROM c$j),
         |q$j AS (SELECT source,
         |             CAST((w * b) // wsum // t_s AS BIGINT) AS fe,
         |             CAST(((w * b) // wsum) % t_s AS BIGINT) AS rem
         |      FROM c$j, t$j),
         |r$j AS (SELECT doc_id,
         |        fe + CASE WHEN COALESCE(sum(tok) OVER (
         |                PARTITION BY k.source ORDER BY skey, doc_id
         |                ROWS BETWEEN UNBOUNDED PRECEDING
         |                         AND 1 PRECEDING), 0) < rem
         |             THEN 1 ELSE 0 END AS copies
         |      FROM k JOIN q$j ON q$j.source = k.source
         |      WHERE k.wave <= $j)""".stripMargin
    }.mkString
    val copiesCols = (0 until 4)
      .map(j => s"r$j.copies AS copies$j").mkString(",\n       ")
    val leftJoins = (0 until 3)
      .map(j => s"LEFT JOIN r$j ON r$j.doc_id = k.doc_id").mkString("\n")
    s"""$head$waveBlocks
       |SELECT k.doc_id, k.source, k.wave,
       |       $copiesCols
       |FROM k
       |$leftJoins
       |JOIN r3 ON r3.doc_id = k.doc_id
       |ORDER BY k.doc_id""".stripMargin
  }

  /** Quality-gate ensemble — what a production pipeline actually ships:
    * the four INDEPENDENT screen families ([[qualityFilter]] heuristic
    * bounds, [[repetitionFilter]] degeneracy, [[lmQuality]] perplexity —
    * pass = not the worst quartile, [[classifierScore]] model gate) voted
    * into one per-document verdict (keep at ≥3 of 4). Disagreement
    * BETWEEN gates is the actionable signal: a doc failing only the LM
    * screen reads differently from one failing only the classifier, so
    * every vote is emitted, not just the tally. Dataflow: each gate is
    * its own shuffle-light pass (see their Scaladocs), and the votes
    * join on the doc_id key — four co-partitioned joins at 100 TB, or
    * one pass if the gates are fused map-side (they compose; the
    * operator keeps them separate so each gate's output stays reusable
    * and individually oracle-checked). */
  def qualityEnsemble(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.documents(spark, sfDir).select(col("doc_id"))
    val qf = qualityFilter(spark, sfDir)
      .select(col("doc_id"), lit(true).as("heuristic_pass"))
    val rep = repetitionFilter(spark, sfDir)
      .select(col("doc_id"), col("kept").as("repetition_pass"))
    val lm = lmQuality(spark, sfDir)
      .select(col("doc_id"), (col("ppl_bucket") <= 3).as("lm_pass"))
    val cls = classifierScore(spark, sfDir)
      .select(col("doc_id"), (col("verdict") === "keep").as("classifier_pass"))
    base
      .join(qf, Seq("doc_id"), "left")
      .join(rep, Seq("doc_id"))
      .join(lm, Seq("doc_id"))
      .join(cls, Seq("doc_id"))
      .withColumn("heuristic_pass", coalesce(col("heuristic_pass"), lit(false)))
      .withColumn("n_pass",
        (col("heuristic_pass").cast("int") + col("repetition_pass").cast("int")
          + col("lm_pass").cast("int") + col("classifier_pass").cast("int")))
      .withColumn("ensemble",
        when(col("n_pass") >= 3, lit("keep")).otherwise(lit("drop")))
  }

  val qualityEnsembleSql: String =
    s"""WITH qf AS ($qualityFilterSql),
       |rep AS ($repetitionFilterSql),
       |lm AS ($lmQualitySql),
       |cls AS ($classifierScoreSql)
       |SELECT d.doc_id,
       |       COALESCE(qf.doc_id IS NOT NULL, FALSE) AS heuristic_pass,
       |       rep.kept AS repetition_pass,
       |       lm.ppl_bucket <= 3 AS lm_pass,
       |       cls.verdict = 'keep' AS classifier_pass,
       |       CAST((qf.doc_id IS NOT NULL) AS INT) + CAST(rep.kept AS INT)
       |         + CAST(lm.ppl_bucket <= 3 AS INT)
       |         + CAST(cls.verdict = 'keep' AS INT) AS n_pass,
       |       CASE WHEN CAST((qf.doc_id IS NOT NULL) AS INT)
       |                 + CAST(rep.kept AS INT)
       |                 + CAST(lm.ppl_bucket <= 3 AS INT)
       |                 + CAST(cls.verdict = 'keep' AS INT) >= 3
       |            THEN 'keep' ELSE 'drop' END AS ensemble
       |FROM documents d
       |LEFT JOIN qf ON qf.doc_id = d.doc_id
       |JOIN rep ON rep.doc_id = d.doc_id
       |JOIN lm ON lm.doc_id = d.doc_id
       |JOIN cls ON cls.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ————— DSIR importance weighting (Xie et al., NeurIPS 2023: "Data
  // Selection for Language Models via Importance Resampling") —————
  //
  // Hashed-n-gram importance weights: fit bag-of-hashed-grams unigram
  // models p (target domain) and q (raw pool) over B buckets with
  // Laplace smoothing, weight each raw doc by
  //   w(doc) = Σ_f c_f(doc) · (ln p_f − ln q_f)
  // and keep the top-k (deterministic heuristic) or Gumbel-top-k
  // (seeded importance resample) docs.
  //
  // Engine-exactness device (hardened in r18): EVERY logarithm in the
  // family — the per-bucket log-ratios AND the per-doc Gumbel term —
  // goes through [[graft.functions.IlogMicro]], an integer fixed-point
  // ln in micro-nats computed with integer ops only; the DuckDB twins
  // replay the identical recurrence ([[IlogMicro.duckDbSql]]) on the
  // same interpolated constants. Both engines therefore evaluate ONLY
  // integer arithmetic: no libm enters the law anywhere, closing the
  // r17 driver-red cross-libm quantization fragility (a one-ulp ln
  // difference flipping floor(ln·1e6 + 0.5) on a bucket). Per-doc
  // weights stay exact BIGINT sums of the quantized bucket values — no
  // float-summation-order divergence between partial-agg schedules.
  //
  // 100 TB dataflow: two map-side explodes (unigrams + bigrams) feeding
  // bounded-key aggregates (B = 512 buckets), the B-row log-ratio
  // relation broadcast back, one (doc_id, f) partial-agg shuffle, and a
  // TakeOrderedAndProject top-k — no global window, no all-pairs, no
  // driver state beyond two scalar totals.

  /** Hashed-feature bucket count B. 512 suits the gate-scale corpora;
    * real 100 TB deployments raise B into the 10⁴–10⁶ range of the DSIR
    * paper (Xie et al. 2023) as distinct-gram vocabulary grows — the
    * dataflow is unchanged (bounded-key aggregates, a B-row broadcast
    * model, the same integer log), only the broadcast model and the KL
    * spine grow linearly in B. Env-overridable so a deployment retunes
    * the WHOLE family in one place: every oracle CTE interpolates this
    * same val, so retuning cannot desynchronize the twins; the scale
    * probe (`d_dsir_buckets` in [[graft.ScaleUpBench]]) instead passes
    * explicit `buckets` arguments to compare several B in one JVM. */
  private[graft] val DsirBuckets: Int =
    sys.env.get("SPARK_GRAFT_DSIR_BUCKETS").map { v =>
      // validated here, not a bare toInt: a malformed value at object
      // init would otherwise surface as an opaque
      // ExceptionInInitializerError with the NumberFormatException
      // buried as its cause
      val b = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_DSIR_BUCKETS must be a positive integer, got '$v'"))
      require(b > 0,
        s"SPARK_GRAFT_DSIR_BUCKETS must be a positive integer, got '$v'")
      b
    }.getOrElse(512)
  /** The scale-remedy bucket count `d_dsir_weights_wide` runs (and
    * oracles) the weight law at — just below the paper's 10⁴–10⁶
    * range: the largest B that stays sign-sane at gate scale (see the
    * SCALING.md §8b calibration caveat — at sf0.1, B=8192 already
    * leaves zero positive weights; rank selection is unaffected).
    * Deployments pick B with [[dsirCalibratedBuckets]] instead. */
  private[graft] val DsirWideBuckets = 8192
  private[graft] val DsirK = 100
  private[graft] val DsirTargetSources = Seq("src0", "src1")
  // interpolated into the oracle CTEs like DsirBuckets/DsirK, so
  // re-targeting the constant cannot silently desynchronize the twins
  private val dsirTargetsSql: String =
    DsirTargetSources.map(s => s"'$s'").mkString(", ")

  /** Hashed (unigram ∪ bigram) features per doc: (doc_id, source, f)
    * with multiplicity, f = md5_prefix60(gram) mod B — the same
    * portable 60-bit hash the mixers key on. Empty grams are filtered
    * (`length(g) > 0`, same predicate in the twins): `split` yields
    * [""] on an empty string in both engines, so without the filter an
    * empty-text doc would smuggle one empty-string unigram into the
    * pool — with it, zero-gram docs (NULL OR empty text) carry no
    * evidence and drop out of the pool by law.
    * NULL-source docs are defined OUT of the family entirely (neither
    * model evidence nor candidates): a three-valued `isin` would
    * exclude them from the pool while `otherwise`-counting them into
    * the raw model q — silently diverging from the oracle twins, whose
    * `IN`/`NOT IN` predicates both drop NULL. */
  /** The PRE-HASH gram stream (doc_id, source, g): unigrams ∪ bigrams
    * with multiplicity, NULL sources and empty grams dropped — the
    * one gram law every DSIR consumer shares. Split out of
    * [[dsirGrams]] so [[dsirCalibratedBuckets]] can size B from the
    * raw vocabulary before any mod-B hashing erases it. */
  private[graft] def dsirRawGrams(documents: DataFrame): DataFrame =
    documents
      .filter(col("source").isNotNull)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tokens"))
      .select(col("doc_id"), col("source"), explode(expr(
        """concat(tokens,
          |  CASE WHEN size(tokens) >= 2
          |       THEN transform(sequence(0, size(tokens) - 2),
          |                      i -> concat(tokens[i], ' ', tokens[i + 1]))
          |       ELSE CAST(array() AS array<string>) END)""".stripMargin)).as("g"))
      .filter(length(col("g")) > 0)

  private[graft] def dsirGrams(documents: DataFrame,
      buckets: Int = DsirBuckets): DataFrame = {
    graft.functions.Md5Prefix60.register(documents.sparkSession)
    dsirRawGrams(documents)
      .select(col("doc_id"), col("source"),
        expr(s"md5_prefix60(g) % $buckets").as("f"))
  }

  /** Corpus-matched bucket-count calibration — closes SCALING.md §8b's
    * hand-tuning gap: B is corpus-COUPLED (512 suits the gate corpora,
    * 10⁴–10⁶ suits 100 TB vocabularies), and both failure directions
    * are real — B far below the distinct-gram vocabulary saturates
    * every bucket and washes lr_u toward 0 (the measured x100 collapse,
    * BENCH_SCALEUP `dsir_buckets`), while B far above it buys nothing
    * and, near the TARGET gram total, depresses every weight through
    * the Laplace ln((cr_tot+B)/(ct_tot+B)) term (the measured gate-
    * scale sign flip at B=8192). The rule is the store-bucket-count
    * pattern the repo already uses (`StreamDedup.bucketsFor`): one
    * `approx_count_distinct` over the RAW grams, rounded DOWN to a
    * power of two (floor keeps B ≤ vocabulary, on the sign-sane side),
    * clamped to [512, 65536] — 512 is the gate floor, 65536 the
    * largest model the probe measured (a 65536×16 B broadcast is still
    * trivial). Picks 512 at both gate SFs (≈960 distinct grams) and
    * 65536 at the x100 replica (≈96k) — exactly the Bs the lr_u probe
    * validated. One bounded aggregate over the gram explode; HLL++ is
    * deterministic, so the pick is stable across runs. Registered
    * queries keep PINNED constants ([[DsirBuckets]]/[[DsirWideBuckets]])
    * so their oracles stay byte-deterministic; this helper is for
    * deployments and the scale probes. */
  def dsirCalibratedBuckets(documents: DataFrame): Int = {
    val distinct = dsirRawGrams(documents)
      .agg(approx_count_distinct(col("g")).as("d")).head().getLong(0)
    val p = java.lang.Long.highestOneBit(math.max(distinct, 1L))
    math.min(math.max(p, 512L), 65536L).toInt
  }

  /** The one logarithm of the family — [[graft.functions.IlogMicro]]
    * as a Column (registered per session by the callers). */
  private def ilogC(c: Column): Column = call_function("ilog_micro", c)

  /** (f, lr_u) for every bucket 0..B-1: the Laplace-smoothed log-ratio
    * ln((c_t+1)/(CT+B)) − ln((c_r+1)/(CR+B)) in integer micro-nats —
    * evaluated as ilog(c_t+1) − ilog(CT+B) − ilog(c_r+1) + ilog(CR+B)
    * with [[graft.functions.IlogMicro]]'s integer recurrence, so the
    * law never touches libm. B rows — pinned and broadcast to the
    * per-doc join. */
  private[graft] def dsirLogRatios(grams: DataFrame,
      buckets: Int = DsirBuckets): DataFrame = {
    val spark = grams.sparkSession
    graft.functions.IlogMicro.register(spark)
    val isTgt = col("source").isin(DsirTargetSources: _*)
    val byF = grams.groupBy(col("f")).agg(
      sum(when(isTgt, 1L).otherwise(0L)).as("c_t"),
      sum(when(isTgt, 0L).otherwise(1L)).as("c_r"))
    val tot = byF.agg(sum(col("c_t")).as("ct_tot"), sum(col("c_r")).as("cr_tot"))
    val b = lit(buckets.toLong)
    spark.range(buckets).toDF("f")
      .join(byF, Seq("f"), "left")
      .na.fill(0L, Seq("c_t", "c_r"))
      .crossJoin(broadcast(tot))
      .select(col("f"),
        (ilogC(col("c_t") + lit(1L)) - ilogC(col("ct_tot") + b)
          - ilogC(col("c_r") + lit(1L)) + ilogC(col("cr_tot") + b)).as("lr_u"))
      .localCheckpoint(true)
  }

  /** Raw-pool doc weights in micro-nats (exact BIGINT): (doc_id,
    * w_micro). Target-domain docs are the model, not candidates. */
  private def dsirWeightFrame(documents: DataFrame,
      buckets: Int = DsirBuckets): DataFrame = {
    val grams = dsirGrams(documents, buckets)
    val lr = dsirLogRatios(grams, buckets)
    dsirWeightsAgainst(
      grams.filter(!col("source").isin(DsirTargetSources: _*)), lr)
  }

  /** Per-doc exact weights from a PRECOMPUTED gram frame and log-ratio
    * model — the scoring half [[graft.streaming.StreamDsir]] reuses
    * against its FROZEN persisted model (train-once/score-as-you-go). */
  private[graft] def dsirWeightsAgainst(grams: DataFrame,
      model: DataFrame): DataFrame =
    grams.groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("c"))
      .join(broadcast(model), Seq("f"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("lr_u")).as("w_micro"))

  /** Seeded Gumbel key on the micro-nat grid: w_micro + g_micro with
    * g_micro ≈ ⌊−ln(−ln u)·1e6⌉ and u = (h+½)/2⁶⁰ from the md5-keyed
    * 60-bit stream — the one scoring law both [[dsirResampleOn]] and
    * the streaming selector derive keys from. Evaluated entirely on
    * the integer log ([[graft.functions.IlogMicro]] — no libm, so the
    * r17 ulp-near-a-.5-boundary fragility is gone by construction):
    *   −ln u  = ln 2⁶¹ − ln(2h+1)      ⇒ a = max(1, C₆₁ − ilog(2h+1))
    *   −ln(−ln u) = ln 10⁶ − ln(a)     ⇒ g_micro = C₁ₘ − ilog(a)
    * (a is −ln u in micro-nats; the max-1 clamp is the integer analog
    * of the old u < 1 clamp — h within rounding of 2⁶⁰ would otherwise
    * send ilog to −∞'s doorstep at a = 0, outside its domain). */
  private[graft] def dsirGumbelKey(weights: DataFrame, seed: String): DataFrame = {
    graft.functions.IlogMicro.register(weights.sparkSession)
    graft.functions.Md5Prefix60.register(weights.sparkSession)
    weights
      .withColumn("a_u", greatest(lit(1L),
        lit(graft.functions.IlogMicro.Ilog2Pow61) - ilogC(
          call_function("md5_prefix60",
            concat(lit(seed), lit(":"), col("doc_id").cast("string")))
            * lit(2L) + lit(1L))))
      .withColumn("g_micro",
        lit(graft.functions.IlogMicro.Ilog1e6) - ilogC(col("a_u")))
      .select(col("doc_id"), col("w_micro"),
        (col("w_micro") + col("g_micro")).as("gkey"))
  }

  /** Hashed gram frame + frozen-model scoring entry for the streaming
    * selector: (doc_id, gkey) for every doc in `pool` that carries at
    * least one gram. */
  private[graft] def dsirScore(pool: DataFrame, model: DataFrame,
      seed: String, buckets: Int = DsirBuckets): DataFrame = {
    // Loud B-consistency guard: the model is a DENSE B-row spine, so a
    // frozen store scored by a JVM with a different B (an env flip, a
    // retuned deployment) would hash grams mod the NEW B against the
    // OLD model and compute silently wrong keys. The model's own row
    // count carries its B; refuse the mismatch instead.
    val modelB = model.count()
    require(modelB == buckets,
      s"dsirScore: frozen model has $modelB bucket rows but scoring at " +
        s"B=$buckets — the store was fit under a different " +
        "DsirBuckets (SPARK_GRAFT_DSIR_BUCKETS changed?); refit the " +
        "model or restore the original B")
    dsirGumbelKey(dsirWeightsAgainst(dsirGrams(pool, buckets), model), seed)
      .select(col("doc_id"), col("gkey"))
  }

  /** The frozen dense B-row model over an arbitrary reference corpus —
    * what [[graft.streaming.StreamDsir.modelWrite]] persists. */
  private[graft] def dsirModel(documents: DataFrame,
      buckets: Int = DsirBuckets): DataFrame =
    dsirLogRatios(dsirGrams(documents, buckets), buckets)

  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame =
    dsirWeightsOn(Tables.documents(spark, sfDir))

  /** `d_dsir_weights`: (doc_id, w_micro, selected) over the raw pool —
    * selected ⟺ top-[[DsirK]] by (w_micro desc, doc_id asc), computed
    * as a TakeOrderedAndProject + broadcast semi-join, never a global
    * window. The weight frame is checkpointed ONCE (one row per doc —
    * tiny next to its scan→explode→aggregate input) so the top-k probe
    * and the final join both read the materialized frame instead of
    * re-running the dominant subtree twice (the r17 doubled-plan
    * finding). */
  def dsirWeightsOn(documents: DataFrame,
      buckets: Int = DsirBuckets): DataFrame = {
    val w = dsirWeightFrame(documents, buckets).localCheckpoint(true)
    val topk = w.orderBy(col("w_micro").desc, col("doc_id"))
      .limit(DsirK).select(col("doc_id"), lit(true).as("selected"))
    w.join(broadcast(topk), Seq("doc_id"), "left")
      .select(col("doc_id"), col("w_micro"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** `d_dsir_weights_wide`: the SAME weight law at the 100 TB bucket
    * count — B = [[DsirWideBuckets]] instead of the gate-scale 512 —
    * proving the capacity remedy SCALING.md documents (wider B stops
    * lr_u washing out as vocabulary grows) stays twin-synchronized: the
    * oracle interpolates the identical B into the identical CTEs, so
    * the driver hash pins the parameterized dataflow, not just the
    * default constant. Plan shape is unchanged (bounded-key aggregates,
    * a B-row broadcast, TakeOrderedAndProject); only the broadcast
    * model and the bucket spine grow with B. */
  def dsirWeightsWide(spark: SparkSession, sfDir: String): DataFrame =
    dsirWeightsOn(Tables.documents(spark, sfDir), DsirWideBuckets)

  def dsirResample(spark: SparkSession, sfDir: String): DataFrame =
    dsirResampleOn(Tables.documents(spark, sfDir), "dsir42")

  /** `d_dsir_resample`: seeded Gumbel-top-k importance RESAMPLE — the
    * paper's sampling rule, derandomized portably: u(doc) from the
    * md5-keyed 60-bit stream, Gumbel noise −ln(−ln u) quantized to the
    * same micro-nat grid as the weights, key = w_micro + g_micro,
    * selected ⟺ top-k by (key desc, doc_id asc). Equivalent to
    * sampling k docs without replacement ∝ exp(w) at temperature 1,
    * yet bit-reproducible across engines and runs. Keyed frame
    * checkpointed once (per-doc rows) so top-k probe and final join
    * share one run of the dominant scan→explode→aggregate subtree. */
  def dsirResampleOn(documents: DataFrame, seed: String): DataFrame = {
    graft.functions.Md5Prefix60.register(documents.sparkSession)
    val w = dsirGumbelKey(dsirWeightFrame(documents), seed)
      .localCheckpoint(true)
    val topk = w.orderBy(col("gkey").desc, col("doc_id"))
      .limit(DsirK).select(col("doc_id"), lit(true).as("selected"))
    w.join(broadcast(topk), Seq("doc_id"), "left")
      .select(col("doc_id"), col("w_micro"), col("gkey"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }

  /** Hashed-gram oracle CTEs (`grams`: doc_id, source, f) — the DuckDB
    * replay of [[dsirGrams]]: md5 60-bit idiom, NULL sources and empty
    * grams filtered like the Spark side. Shared by the weight CTEs and
    * the KL diagnostic. `b` mirrors [[dsirGrams]]'s `buckets`. */
  private def dsirGramCtes(b: Int = DsirBuckets): String =
    s"""tl AS (SELECT doc_id, source, string_split(text, ' ') AS tokens
       |       FROM documents WHERE source IS NOT NULL),
       |uni AS (SELECT doc_id, source, unnest(tokens) AS g FROM tl),
       |bi AS (SELECT doc_id, source,
       |         unnest(list_transform(range(0, len(tokens) - 1),
       |           i -> tokens[CAST(i + 1 AS INT)] || ' ' ||
       |                tokens[CAST(i + 2 AS INT)])) AS g
       |       FROM tl),
       |grams AS (
       |  SELECT doc_id, source,
       |    list_reduce(list_transform(range(0, 15),
       |      p -> CAST(strpos('0123456789abcdef',
       |             substr(md5(g), CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
       |      (a, b) -> a * 16 + b) % $b AS f
       |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
       |  WHERE len(g) > 0)""".stripMargin

  /** Shared oracle CTEs: hashed grams, per-bucket smoothed log-ratios
    * via the [[graft.functions.IlogMicro]] integer recurrence (the
    * oracle evaluates only integer ops — no libm anywhere in the law),
    * exact per-doc BIGINT weights. */
  private def dsirWeightCtes(b: Int = DsirBuckets): String = {
    import graft.functions.IlogMicro.duckDbSql
    s"""${dsirGramCtes(b)},
       |tgt AS (SELECT * FROM grams WHERE source IN ($dsirTargetsSql)),
       |raw AS (SELECT * FROM grams WHERE source NOT IN ($dsirTargetsSql)),
       |ct AS (SELECT f, count(*) AS c_t FROM tgt GROUP BY 1),
       |cr AS (SELECT f, count(*) AS c_r FROM raw GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM tgt) AS ct_tot,
       |               (SELECT count(*) FROM raw) AS cr_tot),
       |spine AS (SELECT CAST(range AS BIGINT) AS f FROM range(0, $b)),
       |lr AS (
       |  SELECT spine.f,
       |    ${duckDbSql("COALESCE(c_t, 0) + 1")}
       |    - ${duckDbSql(s"ct_tot + $b")}
       |    - ${duckDbSql("COALESCE(c_r, 0) + 1")}
       |    + ${duckDbSql(s"cr_tot + $b")} AS lr_u
       |  FROM spine LEFT JOIN ct ON spine.f = ct.f
       |             LEFT JOIN cr ON spine.f = cr.f, tot),
       |docf AS (SELECT doc_id, f, count(*) AS c FROM raw GROUP BY 1, 2),
       |w AS (SELECT doc_id, CAST(sum(c * lr_u) AS BIGINT) AS w_micro
       |      FROM docf JOIN lr ON docf.f = lr.f GROUP BY 1)""".stripMargin
  }

  /** Shared Gumbel-key CTEs over `w` — [[dsirGumbelKey]]'s integer law
    * verbatim: h from the md5 60-bit fold, a = max(1, C₆₁ − ilog(2h+1)),
    * gkey = w_micro + C₁ₘ − ilog(a). */
  private def dsirGumbelCtes(seed: String): String = {
    import graft.functions.{IlogMicro => I}
    s"""gh AS (
       |  SELECT doc_id, w_micro,
       |    list_reduce(list_transform(range(0, 15),
       |      p -> CAST(strpos('0123456789abcdef',
       |             substr(md5('$seed:' || CAST(doc_id AS VARCHAR)),
       |                    CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
       |      (a, b) -> a * 16 + b) AS h
       |  FROM w),
       |ga AS (SELECT doc_id, w_micro,
       |         GREATEST(CAST(1 AS BIGINT),
       |                  ${I.Ilog2Pow61} - ${I.duckDbSql("2 * h + 1")}) AS a_u
       |       FROM gh),
       |gk AS (SELECT doc_id, w_micro,
       |         CAST(w_micro + (${I.Ilog1e6} - ${I.duckDbSql("a_u")})
       |              AS BIGINT) AS gkey
       |       FROM ga)""".stripMargin
  }

  /** Weight-law oracle at bucket count `b` — `d_dsir_weights` uses the
    * default, `d_dsir_weights_wide` the [[DsirWideBuckets]] remedy. */
  def dsirWeightsSqlAt(b: Int): String =
    s"""WITH ${dsirWeightCtes(b)},
       |sel AS (SELECT doc_id FROM w
       |        ORDER BY w_micro DESC, doc_id LIMIT $DsirK)
       |SELECT w.doc_id, w_micro,
       |       (sel.doc_id IS NOT NULL) AS selected
       |FROM w LEFT JOIN sel ON w.doc_id = sel.doc_id
       |ORDER BY w.doc_id""".stripMargin

  val dsirWeightsSql: String = dsirWeightsSqlAt(DsirBuckets)
  val dsirWeightsWideSql: String = dsirWeightsSqlAt(DsirWideBuckets)

  /** Oracle for the streaming selector's 4-wave replay twin
    * (`graft.streaming.StreamDsir.dsirStreamed`): the running
    * Gumbel-top-k invariant says the selected set after wave j is
    * exactly the batch top-k over the docs arrived through wave j, so
    * the twin re-derives each wave's selection with an independent
    * LIMIT-k ranking — admitted = membership at the arrival wave, kept
    * = membership at the final wave. Pins the monotone-threshold
    * dataflow (the part the stream computes incrementally) to the
    * batch law. */
  val dsirStreamedSql: String = {
    val selCtes = (0 until 4).map(j =>
      s"""s$j AS (SELECT doc_id FROM gw WHERE wave <= $j
         |        ORDER BY gkey DESC, doc_id LIMIT $DsirK)""".stripMargin)
      .mkString(",\n")
    s"""WITH ${dsirWeightCtes()},
       |${dsirGumbelCtes("dsir42")},
       |gw AS (SELECT doc_id, gkey,
       |         CAST((doc_id // 20) % 4 AS INT) AS wave FROM gk),
       |$selCtes
       |SELECT doc_id, gkey, wave,
       |  CASE wave
       |    WHEN 0 THEN doc_id IN (SELECT doc_id FROM s0)
       |    WHEN 1 THEN doc_id IN (SELECT doc_id FROM s1)
       |    WHEN 2 THEN doc_id IN (SELECT doc_id FROM s2)
       |    ELSE doc_id IN (SELECT doc_id FROM s3) END AS admitted,
       |  doc_id IN (SELECT doc_id FROM s3) AS kept
       |FROM gw ORDER BY doc_id""".stripMargin
  }

  val dsirResampleSql: String =
    s"""WITH ${dsirWeightCtes()},
       |${dsirGumbelCtes("dsir42")},
       |sel AS (SELECT doc_id FROM gk
       |        ORDER BY gkey DESC, doc_id LIMIT $DsirK)
       |SELECT gk.doc_id, w_micro, gkey,
       |       (sel.doc_id IS NOT NULL) AS selected
       |FROM gk LEFT JOIN sel ON gk.doc_id = sel.doc_id
       |ORDER BY gk.doc_id""".stripMargin

  def dsirKl(spark: SparkSession, sfDir: String): DataFrame =
    dsirKlOn(Tables.documents(spark, sfDir))

  /** `d_dsir_kl`: per-source domain-drift diagnostic — the
    * Laplace-smoothed KL divergence KL(p̂_s ‖ q̂) in integer micro-nats
    * between each source's hashed-gram distribution and the raw pool's
    * (the DSIR q — the model the weight family scores against), every
    * logarithm through [[graft.functions.IlogMicro]]:
    *   kl_micro = max(0, Σ_f (c_sf+1)·lr_u(s,f)) div (cs_tot+B)
    *   lr_u(s,f) = ilog(c_sf+1) − ilog(cs_tot+B)
    *             − ilog(c_qf+1) + ilog(cq_tot+B)
    * Target sources read HIGH (they differ most from the pool — the
    * signal DSIR exploits); a pool source drifting upward is the
    * pipeline alarm this exists for. The max-0 clamp keeps the
    * integer division portable (Spark `div` truncates toward zero,
    * DuckDB `//` floors — they disagree only below zero, and smoothing
    * quantization can push a true-zero KL a few micro-nats negative);
    * Gibbs' inequality guarantees the true value is never negative.
    *
    * Exactness & scale: the per-bucket term is (c+1)·lr with the count
    * cast to DECIMAL(38,0) BEFORE the multiply (the BIGINT product
    * wraps around 2.2·10¹¹ grams-per-bucket — reachable at 100 TB) and
    * the per-source sum runs in DECIMAL(38,0) (Spark) / HUGEINT
    * (DuckDB) — both exact, both agreeing bit-for-bit. Dataflow: one
    * corpus-proportional (source, f) partial-agg shuffle over ≤
    * |sources|·B keys, the q side broadcast back, a |sources|·B-row
    * dense spine — the [[dsirLogRatios]] posture, no per-doc state. */
  def dsirKlOn(documents: DataFrame): DataFrame = {
    val isTgt = col("source").isin(DsirTargetSources: _*)
    // ONE corpus pass: the (source, f) partial-agg shuffle (≤
    // |sources|·B keys, map-side combined); the q side, both totals
    // and the spine all derive from this tiny checkpointed frame —
    // never re-scan or materialize the exploded gram stream.
    val sByF = dsirSourceCounts(documents).localCheckpoint(true)
    val qByF = sByF.filter(!isTgt).groupBy(col("f"))
      .agg(sum(col("c_s")).as("c_q"))
    // coalesce: sum over an EMPTY pool (all-target corpus) is NULL in
    // Spark but the twin's count(*) is 0 — pin the degenerate case
    val qTot = sByF.filter(!isTgt)
      .agg(coalesce(sum(col("c_s")), lit(0L)).as("cq_tot"))
    dsirKlAgainst(sByF, qByF, qTot)
  }

  /** The KL law proper, over PRECOMPUTED (source, f) counts and a q
    * model — ONE implementation for the batch diagnostic (q derived
    * from the same corpus's pool) and the streaming drift monitor
    * ([[graft.streaming.StreamDrift]]: q frozen at fit time), so the
    * two can never diverge. `sByF` (source, f, c_s) must carry only
    * sources with evidence; `qByF` (f, c_q) may be sparse (absent
    * buckets smooth as 0); `qTot` is one non-null (cq_tot) row. */
  private[graft] def dsirKlAgainst(sByF: DataFrame, qByF: DataFrame,
      qTot: DataFrame): DataFrame = {
    val spark = sByF.sparkSession
    graft.functions.IlogMicro.register(spark)
    val b = lit(DsirBuckets.toLong)
    val sTot = sByF.groupBy(col("source")).agg(sum(col("c_s")).as("cs_tot"))
    val spine = sTot.crossJoin(spark.range(DsirBuckets).toDF("f"))
    spine
      .join(sByF, Seq("source", "f"), "left").na.fill(0L, Seq("c_s"))
      .join(broadcast(qByF), Seq("f"), "left").na.fill(0L, Seq("c_q"))
      .crossJoin(broadcast(qTot))
      .select(col("source"), col("cs_tot"),
        ((col("c_s") + lit(1L)).cast("decimal(38,0)") *
          (ilogC(col("c_s") + lit(1L)) - ilogC(col("cs_tot") + b)
            - ilogC(col("c_q") + lit(1L)) + ilogC(col("cq_tot") + b)))
          .as("term"))
      .groupBy(col("source"), col("cs_tot"))
      .agg(sum(col("term")).as("num"))
      .select(col("source"), col("cs_tot").as("n_grams"),
        expr(s"CAST(greatest(num, CAST(0 AS DECIMAL(38,0))) DIV " +
          s"(cs_tot + $DsirBuckets) AS BIGINT)").as("kl_micro"))
  }

  /** Per-(source, f) gram counts — the streaming drift monitor's
    * per-batch delta and the frozen-model fit both reduce to this. */
  private[graft] def dsirSourceCounts(documents: DataFrame): DataFrame =
    dsirGrams(documents)
      .groupBy(col("source"), col("f")).agg(count(lit(1)).as("c_s"))

  /** DuckDB twin of `StreamDrift.dsirKlStreamed` (registry
    * `d_dsir_kl_streamed`): each wave's running KL re-derived from
    * CUMULATIVE wave-prefix counts against the frozen full-corpus
    * pool q — pins the streaming count accumulation to the batch law
    * wave for wave. Wave law assumes doc_id >= 0 (see
    * [[corpusMixIncr]]'s precondition note). */
  val dsirKlStreamedSql: String = {
    import graft.functions.IlogMicro.duckDbSql
    s"""WITH ${dsirGramCtes()},
       |gw AS (SELECT source, f, CAST((doc_id // 20) % 4 AS INT) AS wave
       |       FROM grams),
       |q AS (SELECT f, count(*) AS c_q FROM grams
       |      WHERE source NOT IN ($dsirTargetsSql) GROUP BY 1),
       |qt AS (SELECT count(*) AS cq_tot FROM grams
       |       WHERE source NOT IN ($dsirTargetsSql)),
       |wv AS (SELECT CAST(range AS INT) AS wave FROM range(0, 4)),
       |cum AS (SELECT wv.wave, g.source, g.f, count(*) AS c_s
       |        FROM gw g JOIN wv ON g.wave <= wv.wave GROUP BY 1, 2, 3),
       |st AS (SELECT wave, source, CAST(sum(c_s) AS BIGINT) AS cs_tot
       |       FROM cum GROUP BY 1, 2),
       |spine AS (SELECT st.wave, st.source, st.cs_tot,
       |                 CAST(range AS BIGINT) AS f
       |          FROM st, range(0, $DsirBuckets)),
       |terms AS (
       |  SELECT spine.wave, spine.source, spine.cs_tot,
       |    CAST(COALESCE(c_s, 0) + 1 AS HUGEINT) *
       |      (${duckDbSql("COALESCE(c_s, 0) + 1")}
       |       - ${duckDbSql(s"cs_tot + $DsirBuckets")}
       |       - ${duckDbSql("COALESCE(c_q, 0) + 1")}
       |       + ${duckDbSql(s"cq_tot + $DsirBuckets")}) AS term
       |  FROM spine LEFT JOIN cum ON spine.wave = cum.wave
       |                          AND spine.source = cum.source
       |                          AND spine.f = cum.f
       |             LEFT JOIN q ON spine.f = q.f, qt),
       |agg AS (SELECT wave, source, cs_tot AS n_grams, sum(term) AS num
       |        FROM terms GROUP BY 1, 2, 3)
       |SELECT wave, source, n_grams,
       |  CAST(GREATEST(num, 0) // (n_grams + $DsirBuckets) AS BIGINT)
       |    AS kl_micro
       |FROM agg ORDER BY wave, source""".stripMargin
  }

  /** DuckDB twin of [[dsirKlOn]] — same integer recurrence, HUGEINT
    * sums (exact, like the Spark side's DECIMAL(38,0)). */
  val dsirKlSql: String = {
    import graft.functions.IlogMicro.duckDbSql
    s"""WITH ${dsirGramCtes()},
       |q AS (SELECT f, count(*) AS c_q FROM grams
       |      WHERE source NOT IN ($dsirTargetsSql) GROUP BY 1),
       |qt AS (SELECT count(*) AS cq_tot FROM grams
       |       WHERE source NOT IN ($dsirTargetsSql)),
       |st AS (SELECT source, count(*) AS cs_tot FROM grams GROUP BY 1),
       |sf AS (SELECT source, f, count(*) AS c_s FROM grams GROUP BY 1, 2),
       |spine AS (SELECT st.source, st.cs_tot, CAST(range AS BIGINT) AS f
       |          FROM st, range(0, $DsirBuckets)),
       |terms AS (
       |  SELECT spine.source, spine.cs_tot,
       |    CAST(COALESCE(c_s, 0) + 1 AS HUGEINT) *
       |      (${duckDbSql("COALESCE(c_s, 0) + 1")}
       |       - ${duckDbSql(s"cs_tot + $DsirBuckets")}
       |       - ${duckDbSql("COALESCE(c_q, 0) + 1")}
       |       + ${duckDbSql(s"cq_tot + $DsirBuckets")}) AS term
       |  FROM spine LEFT JOIN sf ON spine.source = sf.source
       |                         AND spine.f = sf.f
       |             LEFT JOIN q ON spine.f = q.f, qt),
       |agg AS (SELECT source, cs_tot AS n_grams, sum(term) AS num
       |        FROM terms GROUP BY 1, 2)
       |SELECT source, n_grams,
       |  CAST(GREATEST(num, 0) // (n_grams + $DsirBuckets) AS BIGINT)
       |    AS kl_micro
       |FROM agg ORDER BY source""".stripMargin
  }
}
