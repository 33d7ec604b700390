package graft.ext

import graft.Tables
import graft.ops.Num
import graft.streaming.StreamStoreOps
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for an LLM training-data pipeline over the
  * `documents` table (north-star extensions, SURVEY.md §7.2 step 8).
  *
  * Scale design: every variant reduces to a hash-shuffle on a FIXED-SIZE
  * key (sha256 / minhash signature / simhash bucket), never a pairwise
  * self-join of the corpus. The only O(candidate-pair) work is the exact
  * n-gram Jaccard verifier, which at 100 TB runs AFTER LSH banding has cut
  * the candidate set (`dedupPipeline` is exactly that composition); the
  * standalone inverted-index form additionally applies the AllPairs prefix
  * filter (Bayardo, Ma, Srikant: "Scaling Up All Pairs Similarity Search",
  * WWW 2007) so the postings join stays bounded without the df heuristic
  * being load-bearing.
  *
  * Hash portability: MinHash/SimHash signatures derive from md5 — one
  * digest per shingle via the native `Md5Prefix60` expression (≡ DuckDB's
  * hex fold, so even the sketch operators are fully oracle-checkable;
  * same trick family as the deterministic LSH planes in
  * Similarity.scala) followed by pure-BIGINT universal re-hashes. md5 is
  * ~3× the cost of xxhash64 per digest; at 100 TB swap the shingle hash
  * for xxhash64 (one line, same dataflow) if cross-engine verifiability
  * is not needed.
  */
object Dedup {

  /** Exact dedup keyed on a content fingerprint. GroupBy on sha256 — the
    * 100 TB path shuffles 32-byte keys, not document bodies. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(sha2(col("text"), 256).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("fingerprint"), col("n_copies"))

  val dedupExactSql: String =
    """SELECT min(doc_id) AS keep_id, sha256(text) AS fingerprint,
      |       count(*) AS n_copies
      |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin

  /** Universal-hash family for the MinHash slots: slot_j(h) =
    * ((h mod p) · a_j + b_j) mod p over the Mersenne prime p = 2³¹−1, with
    * multipliers a_j = K^(j+1) mod p (K = Knuth's 2654435761 — same family
    * as the LSH planes in Similarity.scala; p prime and a_j ≢ 0 keep each
    * slot map a bijection of Z_p). POWERS of K, not multiples: with
    * a_j = K·(j+1) the slots are (j+1)·(K·h) mod p, so any shingle whose
    * K·h mod p lands below p/16 wins EVERY slot without wrapping and the
    * 16 slots collapse into one (observed: est 0.75 vs true 0.01 on
    * shared-stopword pairs). With powers, slot_j = K·slot_{j−1} mod p,
    * and multiplying any value ≥ 1 by K wraps the modulus, decorrelating
    * consecutive slots. Every intermediate stays below 2⁶² (h mod p < 2³¹,
    * a_j < 2³¹), so the math is overflow-free BIGINT in both the JVM and
    * DuckDB — what makes the signatures engine-portable without per-slot
    * string hashing. */
  private[graft] val SlotP = 2147483647L
  private[graft] def slotA(j: Int): Long =
    BigInt(2654435761L).modPow(BigInt(j + 1), BigInt(SlotP)).toLong
  private[graft] def slotB(j: Int): Long = (40503L * (j + 1)) % SlotP

  /** 16-slot MinHash signature over 3-word shingles. Shingles become ROWS,
    * md5-hashed ONCE each into a 60-bit integer (first 15 hex digits via
    * `conv`); the 16 signature slots are map-side partial `min` aggregates
    * of the cheap universal re-hashes above. An earlier formulation
    * re-md5'd every shingle once per slot — 17 string hashes per shingle —
    * which benchmarked 4× slower at sf0.1 for identical dedup quality.
    * (A per-row lambda formulation is tempting but CollapseProject inlines
    * the whole shingle build into each of the 16 slot lambdas — 16× the
    * string hashing — and giant per-row arrays don't scale to long
    * documents anyway. Rows + partial agg do.) Docs under 3 tokens have no
    * shingle and drop out here; `dedupPipeline` re-admits them as CC
    * singletons. */
  /** The 3-word-shingle set of `tokens` — THE single definition of the
    * signature's sketch universe. minhashSlots explodes it to rows;
    * minhashEstimate intersects it directly; the SQL twins replay it via
    * [[shingleListSql]]. One definition on each side, so the estimator's
    * "exact Jaccard over the same universe" contract cannot drift. */
  private val shingleSetExpr =
    expr("""array_distinct(transform(sequence(0, size(tokens) - 3),
           |  i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))""".stripMargin)

  /** (doc_id, shl: array<string>) for every doc with ≥ 3 tokens. */
  private def shingleSets(documents: DataFrame): DataFrame = documents
    .withColumn("tokens", split(col("text"), " "))
    .filter(size(col("tokens")) >= 3)
    .select(col("doc_id"), shingleSetExpr.as("shl"))

  private def minhashSlots(documents: DataFrame): DataFrame = {
    // Native md5-prefix expression: numerically identical to
    // conv(substring(md5(s),1,15),16,10) but with no hex-string
    // materialization per shingle (see Md5Prefix60's scaladoc; the
    // equivalence is spec-asserted in ExtensionsSpec).
    graft.functions.Md5Prefix60.register(documents.sparkSession)
    // Explode shingleSetExpr DIRECTLY — never a named array column: when
    // the generator input is an attribute, InferFiltersFromGenerate adds
    // `size(shl) > 0 AND isnotnull(shl)` and pushdown substitutes the
    // WHOLE shingle-build expression into the Filter, recomputing it ~3×
    // per document (measured 1.0 s → 4.3 s at sf0.1). With the expression
    // inline in Generate the rule stays off and the build runs once.
    val shingleHashes = documents
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 3)
      .select(col("doc_id"), explode(shingleSetExpr).as("s"))
      .select(col("doc_id"), (expr("md5_prefix60(s)") % SlotP).as("h"))
    val slots = (0 until 16).map(j =>
      min((col("h") * slotA(j) + slotB(j)) % SlotP).as(s"m$j"))
    shingleHashes.groupBy(col("doc_id")).agg(slots.head, slots.tail: _*)
  }

  private def bandCol(b: Int) =
    md5(concat_ws(",", (4 * b until 4 * b + 4).map(j => col(s"m$j")): _*))

  /** MinHash signatures banded 4×4 for LSH bucketing. Near-dup GROUPS come
    * from a window over the full signature — a shuffle keyed on the
    * signature string, not a pairwise join. Fully oracle-checked since the
    * md5 slot hashes replay bit-for-bit in DuckDB. */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    // widen: one md5 per shingle is the dominant cost and a single-split
    // scan would hash every shingle on one core (guide §2.5)
    minhashSlots(Tables.widen(Tables.documents(spark, sfDir)))
      .select(col("doc_id"),
        bandCol(0).as("band0"), bandCol(1).as("band1"),
        bandCol(2).as("band2"), bandCol(3).as("band3"),
        concat_ws(",", (0 until 16).map(j => col(s"m$j")): _*).as("sig_key"))
      .select(col("doc_id"), col("band0"), col("band1"), col("band2"), col("band3"),
        count(lit(1)).over(Window.partitionBy(col("sig_key"))).as("n_sig_mates"))

  /** Shared oracle-SQL fragments replaying minhashSlots in DuckDB: the
    * shingle CTE, the hex→BIGINT fold (DuckDB lacks `conv`, so the first
    * 15 md5 hex digits fold via `list_reduce(acc·16 + digit)` — identical
    * value), the 16 universal-hash slot aggregates with a_j/b_j
    * interpolated from the SAME Scala constants the operator uses, and the
    * band concatenations — shared by the signature oracle and the pipeline
    * oracle so the twins cannot drift from each other. */
  private val slotMinsSql: String =
    (0 until 16)
      .map(j => s"min((h * ${slotA(j)} + ${slotB(j)}) % $SlotP) AS m$j")
      .mkString(", ")
  private def bandSql(b: Int): String =
    (4 * b until 4 * b + 4)
      .map(j => s"CAST(m$j AS VARCHAR)").mkString(" || ',' || ")
  /** DuckDB twin of [[shingleSetExpr]] over a `toks` list column. */
  private val shingleListSql: String =
    """list_distinct(list_transform(
      |    range(0, len(toks) - 2),
      |    i -> array_to_string(list_slice(toks, CAST(i + 1 AS INT), CAST(i + 3 AS INT)), ' ')))""".stripMargin

  private val sigCtesSql: String =
    s"""docs0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest($shingleListSql) AS s
       |  FROM docs0 WHERE len(toks) >= 3),
       |hh0 AS (SELECT doc_id, md5(s) AS hx FROM sh),
       |hh AS (
       |  SELECT doc_id,
       |         list_reduce(list_transform(range(0, 15),
       |           p -> CAST(strpos('0123456789abcdef',
       |                  substr(hx, CAST(p + 1 AS INT), 1)) - 1 AS BIGINT)),
       |           (a, b) -> a * 16 + b) % $SlotP AS h
       |  FROM hh0),
       |sig AS (SELECT doc_id, $slotMinsSql FROM hh GROUP BY doc_id)""".stripMargin

  /** The 4-band relation CTE body over `sig` — ONE definition shared by
    * every oracle that bands (lshScurve, incremental, streamed,
    * minhashEstimate, pipeline, dailyIngest), so an edit to the banding
    * cannot silently diverge the twins. */
  private val bandsCteBodySql: String =
    s"""  SELECT doc_id, 0 AS bi, md5(${bandSql(0)}) AS b FROM sig UNION ALL
       |  SELECT doc_id, 1, md5(${bandSql(1)}) FROM sig UNION ALL
       |  SELECT doc_id, 2, md5(${bandSql(2)}) FROM sig UNION ALL
       |  SELECT doc_id, 3, md5(${bandSql(3)}) FROM sig""".stripMargin

  val dedupMinhashSql: String =
    s"""WITH $sigCtesSql
       |SELECT doc_id,
       |       md5(${bandSql(0)}) AS band0, md5(${bandSql(1)}) AS band1,
       |       md5(${bandSql(2)}) AS band2, md5(${bandSql(3)}) AS band3,
       |       CAST(count(*) OVER (PARTITION BY
       |         ${(0 until 16).map(j => s"CAST(m$j AS VARCHAR)").mkString(" || ',' || ")}) AS BIGINT) AS n_sig_mates
       |FROM sig
       |ORDER BY doc_id""".stripMargin

  /** SimHash: 64-bit signature from per-token hash bit votes; documents
    * sharing the top-16-bit bucket are near-dup candidates. Same
    * fixed-key-shuffle scale profile as MinHash. The 64 bits come from the
    * first 16 hex digits of md5(token) (bit i = bit (i mod 4) of digit
    * (i div 4)), the signature is emitted as a 16-char hex string, and all
    * vote arithmetic is integer — so DuckDB replays it exactly and the
    * operator is fully oracled. The `array(md5(t))[0]` wrapper hashes each
    * token ONCE instead of once per hex digit (named-subexpression trick —
    * HOF lambdas have no `let`). */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    // widen: one md5 + 64 bit-votes per distinct token, all in interpreted
    // higher-order lambdas — the heaviest per-row projection in the file
    Tables.widen(Tables.documents(spark, sfDir))
      .withColumn("toks", array_distinct(split(col("text"), " ")))
      .withColumn("tokdigits", expr(
        """transform(toks, t -> transform(array(md5(t)), h ->
          |  transform(sequence(0, 15),
          |    p -> instr('0123456789abcdef', substring(h, CAST(p + 1 AS INT), 1)) - 1))[0])""".stripMargin))
      .withColumn("bitsums", expr(
        """aggregate(tokdigits, array_repeat(0, 64),
          |  (acc, ds) -> zip_with(acc, sequence(0, 63),
          |    (a, i) -> a + IF((shiftright(ds[CAST(i div 4 AS INT)], CAST(i % 4 AS INT)) % 2) = 1,
          |                     1, -1)))""".stripMargin))
      .withColumn("simhash", expr(
        """concat_ws('', transform(sequence(0, 15), j ->
          |  substring('0123456789abcdef',
          |    aggregate(sequence(0, 3), 0,
          |      (acc, r) -> acc + IF(bitsums[CAST(4 * j + r AS INT)] > 0,
          |                           CAST(shiftleft(1, CAST(r AS INT)) AS INT), 0)) + 1, 1)))""".stripMargin))
      .withColumn("bucket", substring(col("simhash"), 1, 4))
      .select(col("doc_id"), col("simhash"), col("bucket"),
        count(lit(1)).over(Window.partitionBy(col("bucket"))).as("n_bucket_mates"))

  val dedupSimhashSql: String =
    """WITH docs AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents),
      |td AS (
      |  SELECT doc_id, list_transform(toks, t ->
      |    list_transform(range(0, 16),
      |      p -> strpos('0123456789abcdef', substr(md5(t), CAST(p + 1 AS INT), 1)) - 1)) AS tokdigits
      |  FROM docs),
      |bs AS (
      |  SELECT doc_id, list_transform(range(0, 64), i ->
      |    list_sum(list_transform(tokdigits, ds ->
      |      CASE WHEN ((ds[CAST(i // 4 + 1 AS INT)] >> CAST(i % 4 AS INT)) & 1) = 1
      |           THEN 1 ELSE -1 END))) AS bitsums
      |  FROM td),
      |shx AS (
      |  SELECT doc_id, array_to_string(list_transform(range(0, 16), j ->
      |    substr('0123456789abcdef', CAST(
      |        (CASE WHEN bitsums[CAST(4 * j + 1 AS INT)] > 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN bitsums[CAST(4 * j + 2 AS INT)] > 0 THEN 2 ELSE 0 END)
      |      + (CASE WHEN bitsums[CAST(4 * j + 3 AS INT)] > 0 THEN 4 ELSE 0 END)
      |      + (CASE WHEN bitsums[CAST(4 * j + 4 AS INT)] > 0 THEN 8 ELSE 0 END)
      |      + 1 AS INT), 1)), '') AS simhash
      |  FROM bs)
      |SELECT doc_id, simhash, substr(simhash, 1, 4) AS bucket,
      |       CAST(count(*) OVER (PARTITION BY substr(simhash, 1, 4)) AS BIGINT) AS n_bucket_mates
      |FROM shx
      |ORDER BY doc_id""".stripMargin

  /** Hot-token guard for candidate generation: tokens with document
    * frequency above this fraction of the corpus never vouch for a
    * candidate pair. With the prefix filter in place the cap is a backstop
    * (it only bites on documents composed ENTIRELY of near-universal
    * tokens, where prefixes contain hot tokens); 0.1 is a genuinely-rare
    * bar that holds at any corpus size. The scale-preferred path is to not
    * rely on token heuristics at all and take candidates from MinHash
    * bands — see dedupPipeline. */
  val DefaultMaxDfFrac = 0.1

  /** Fixture-tuned cap for the registered query + oracle twin ONLY: the
    * synthetic corpus has a 31-token vocabulary with every token at
    * df ≈ 0.8·N (max 0.83·N), so a realistic cap would empty the candidate
    * set there. 0.85 is loss-free on that fixture and nowhere else.
    * Defined once and interpolated into BOTH oracle SQL strings so the
    * operator and its oracles cannot drift apart. */
  val FixtureDfCap = 0.85

  /** The registered `d_ngram_jaccard` form: fixture cap, matching the
    * interpolated oracle. Library callers should use ngramJaccardOnDocs
    * (safe default) or dedupPipeline (band candidates, no token
    * heuristics). */
  def ngramJaccardFixture(spark: SparkSession, sfDir: String): DataFrame =
    ngramJaccardOnDocs(Tables.documents(spark, sfDir), FixtureDfCap)

  /** Candidate-pair generation via a df-capped, PREFIX-FILTERED inverted
    * index (AllPairs, Bayardo et al. WWW 2007): order each document's
    * sub-cap tokens by ascending global df (ties by token), and keep only
    * the first |toks| − ⌈threshold·|toks|⌉ + 1 as postings. Lossless for
    * the final Jaccard-≥-threshold output: any pair with J ≥ t shares a
    * token inside both prefixes, and because sub-cap (rare) tokens sort
    * before hot ones, a shared sub-cap token is always inside the prefix.
    * On a corpus where every token is frequent (this fixture) the prefix
    * cuts the postings join ~25× — the df cap alone cannot, since capping
    * tokens at df ≈ 0.8·N would empty the result. The df join, the prefix
    * window, and the postings pair-join all share the same shuffle keys. */
  def ngramJaccardCandidates(documents: DataFrame,
      maxDfFrac: Double = DefaultMaxDfFrac,
      threshold: Double = 0.8): DataFrame = {
    val docs = documents
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      .withColumn("sz", size(col("toks")))
    val nDocs = broadcast(docs.agg(count(lit(1)).as("n_docs")))
    val postings = docs.select(col("doc_id"), col("sz"), explode(col("toks")).as("t"))
    val docFreq = postings.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val sub = postings.join(docFreq, "t").crossJoin(nDocs)
      .filter(col("df") <= col("n_docs") * maxDfFrac)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))
    // NOT pinned before the self-join: although the plan duplicates the
    // prefix subtree per join side, AQE's shuffle-stage cache dedups the
    // identical sides at runtime (measured round 21: an eager
    // localCheckpoint here only added its materialization job).
    val prefix = sub
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(col("sz") * threshold) + 1)
      .select(col("doc_id"), col("t"))
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact-Jaccard verifier over an arbitrary candidate-pair frame: the
    * Jaccard is computed EXACTLY per candidate — `array_intersect` of the
    * full distinct-token sets, hot tokens included — inside one codegen'd
    * projection. Integer division is IEEE-exact so the ≥ threshold agrees
    * bit-for-bit across engines. */
  def jaccardVerify(documents: DataFrame, candidates: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val docs = documents
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    jaccardJoin(candidates, docs, docs, threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard_raw") + lit(1e-9), 4).as("jaccard"))
  }

  /** Capped+prefix-filtered candidates + exact verification over an
    * arbitrary (doc_id, text) DataFrame — the library entry point. Results
    * equal the all-pairs formulation whenever every qualifying pair shares
    * at least one sub-cap token (a pair sharing only stopwords is, by
    * construction, not a near-duplicate worth keeping). */
  def ngramJaccardOnDocs(documents: DataFrame,
      maxDfFrac: Double = DefaultMaxDfFrac): DataFrame =
    jaccardVerify(documents, ngramJaccardCandidates(documents, maxDfFrac))

  /** Oracle twin replaying the capped algorithm (df ≤ cap·N candidate
    * generation + exact per-candidate scoring), not the naive all-pairs
    * form — so correctness does not hinge on the fixture's df distribution
    * staying below the cap. The twin deliberately does NOT replay the
    * prefix filter: the filter is provably lossless for the J ≥ 0.8
    * output, so an oracle WITHOUT it independently checks that claim. The
    * cap is interpolated from FixtureDfCap. */
  val ngramJaccardSql: String =
    s"""WITH docs AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents),
      |post AS (SELECT doc_id, unnest(toks) AS t FROM docs),
      |dfreq AS (SELECT t, count(*) AS df FROM post GROUP BY t),
      |nd AS (SELECT count(*) AS n FROM docs),
      |rare AS (
      |  SELECT doc_id, post.t FROM post JOIN dfreq ON post.t = dfreq.t, nd
      |  WHERE df <= $FixtureDfCap * n),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM rare a JOIN rare b ON a.t = b.t AND a.doc_id < b.doc_id),
      |j AS (
      |  SELECT doc_a, doc_b, len(list_intersect(da.toks, db.toks)) AS i,
      |         len(da.toks) AS na, len(db.toks) AS nb
      |  FROM cand JOIN docs da ON da.doc_id = doc_a
      |            JOIN docs db ON db.doc_id = doc_b)
      |SELECT doc_a, doc_b,
      |       round(i * 1.0 / (na + nb - i) + 1e-9, 4) AS jaccard
      |FROM j WHERE i * 1.0 / (na + nb - i) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Benchmark-contamination screen — the decontamination stage of a
    * training-data pipeline: flag corpus documents sharing any VERBATIM
    * k-token shingle with a benchmark/eval set (stand-in here: docs 0-4).
    * Exact shingle strings, no hashing, so it is fully oracle-checkable.
    * k = 4 on this corpus (its 31-token vocabulary makes 8-grams never
    * collide; production screens use 8-13 grams — same dataflow). The
    * benchmark side is tiny by construction (eval sets are small), so it
    * broadcasts and the corpus side streams through map-side — the corpus
    * is never shuffled. */
  def contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 4
    val docs = Tables.documents(spark, sfDir)
    def shingles(df: DataFrame, idCol: String): DataFrame =
      shinglesOf(df, idCol, k)
    val bench = shingles(docs.filter(col("doc_id") < 5), "bench_id")
    val corpus = shingles(docs.filter(col("doc_id") >= 5), "doc_id")
    corpus.join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  val contaminationSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_transform(
      |           range(0, len(string_split(text, ' ')) - 3),
      |           i -> array_to_string(list_slice(string_split(text, ' '),
      |                  CAST(i + 1 AS INT), CAST(i + 4 AS INT)), ' ')))) AS shingle
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 4)
      |SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_shared_shingles
      |FROM sh c JOIN sh b ON c.shingle = b.shingle
      |WHERE b.doc_id < 5 AND c.doc_id >= 5
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Bloom-prefiltered decontamination — same contract as [[contamination]]
    * (flag corpus docs sharing a verbatim 4-token shingle with the eval
    * set, docs 0-4), but the corpus is first screened map-side against a
    * Bloom filter of the eval shingles before ANY join runs.
    *
    * Why this exists at 100 TB: the plain variant broadcasts the eval
    * shingle SET and hash-joins every corpus shingle against it. That is
    * already map-side, but the broadcast hash relation for a production
    * eval suite (~1e6-1e7 shingles × ~50 B) is tens-to-hundreds of MB per
    * executor, and every corpus shingle pays a hash-table probe. A Bloom
    * filter at 10 bits/key is 1-12 MB REGARDLESS of shingle width, probes
    * in k=5 cache-friendly bit tests, and eliminates the ~99.97 % of
    * corpus shingles that match nothing before the exact join sees them.
    * Exactness is preserved because Bloom filters have NO false negatives:
    * every truly-shared shingle survives the screen, and the exact verify
    * join on the survivors discards the false positives. Output is
    * therefore bit-identical to [[contamination]] (shared oracle).
    *
    * Implementation notes: the filter is built by computing the k bit
    * positions WITH Spark's own `xxhash64` expression on the (tiny,
    * bounded — eval sets are small by definition) bench side and
    * collecting just the positions, so driver code never re-implements the
    * hash; the probe is pure codegen'd column algebra (element_at +
    * shiftright + bitwise AND on a broadcast Array[Long] literal), no UDF
    * in the hot path. m is sized at ~16 bits/key rounded up to a power of
    * two (fpp ≈ 4e-4 at k=5); at 1e7 eval shingles that is a 20 MB bit
    * array — still broadcast-trivial. */

  /** The distinct k-token shingles of the token-array column `toksCol`,
    * as one array — THE k-shingle expression of the decontamination
    * family ([[shinglesOf]], [[paraScreen]] and the streaming screens in
    * StreamIngest), so the shingle form cannot drift between them. */
  private[graft] def shingleArray(toksCol: String, k: Int): Column = expr(
    s"""array_distinct(transform(sequence(0, size($toksCol) - $k),
       |  i -> concat_ws(' ', slice($toksCol, i + 1, $k))))""".stripMargin)

  /** k-gram shingle explosion over a (doc_id, text) frame — ONE
    * definition for the whole decontamination family (contamination,
    * bloomDecontamination, dailyIngest, and the streaming screens in
    * StreamIngest), so a tokenizer change cannot leave the family
    * internally inconsistent. Docs shorter than k tokens emit nothing. */
  private[graft] def shinglesOf(df: DataFrame, idCol: String,
      k: Int): DataFrame = df
    .withColumn("tokens", split(col("text"), " "))
    .filter(size(col("tokens")) >= k)
    .select(col("doc_id").as(idCol), explode(shingleArray("tokens", k)).as("shingle"))

  /** Build a Bloom bit array over a one-column (`shingle`) DataFrame. The
    * k bit positions are computed WITH Spark's own `xxhash64` expression
    * (seeds 0..numHashes-1) and only the positions are collected —
    * bounded by numHashes × |keys|, and driver code never re-implements
    * the hash, so [[bloomProbeSql]] probes the exact same function. m is
    * sized at `bitsPerKey` per key rounded up to a power of two. */
  def bloomBits(keys: DataFrame, numHashes: Int = 5,
      bitsPerKey: Int = 16): Array[Long] = {
    val n = keys.select(countDistinct(col("shingle"))).head().getLong(0)
    var mBits = 64L
    while (mBits < n * bitsPerKey) mBits <<= 1
    val bits = new Array[Long]((mBits / 64).toInt)
    keys.select(array((0 until numHashes).map(i =>
        pmod(xxhash64(col("shingle"), lit(i)), lit(mBits))): _*).as("pos"))
      .select(explode(col("pos")).as("p")).distinct()
      .collect().foreach { r =>
        val p = r.getLong(0)
        bits((p / 64).toInt) |= (1L << (p % 64).toInt)
      }
    bits
  }

  /** SQL predicate testing all `numHashes` Bloom bits for the expression
    * `term` — pure codegen'd column algebra (element_at + shiftleft +
    * bitwise AND on an inline array literal), usable inside higher-order
    * lambdas (streaming screens probe each element of a shingle array).
    * The shift amount is a column, hence the SQL-function form
    * (functions.shiftleft only takes a literal Int). */
  def bloomProbeSql(bits: Array[Long], numHashes: Int, term: String): String = {
    val mBits = bits.length * 64L
    // No `L` literal suffix: Long.MinValue cannot be written as -(2^63)L
    // (the positive half overflows at parse); CAST of the plain decimal
    // literal is safe for every long.
    val arr = bits.map(v => s"CAST($v AS BIGINT)").mkString("array(", ",", ")")
    // ONE inline copy of the bit array and ONE xxhash64 per hash term:
    // the earlier per-term AND-chain inlined the array literal (and
    // evaluated the hash) once per DIV/MOD use — at the scaladoc's own
    // production sizing (1e7 keys → ~2.6M-element literal) that is
    // numHashes copies of a multi-MB expression tree for Catalyst to
    // analyze. forall/transform bind the literal a single time; bh/bp
    // are chosen not to collide with callers' outer lambda variables
    // (the streaming screens wrap this probe in `filter(shl, s -> …)`).
    s"forall(transform(sequence(0, ${numHashes - 1}), " +
      s"bh -> pmod(xxhash64($term, bh), $mBits)), " +
      s"bp -> (element_at($arr, cast(bp div 64 as int) + 1)" +
      s" & shiftleft(1L, cast(bp % 64 as int))) <> 0L)"
  }

  def bloomDecontamination(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 4
    val numHashes = 5
    val docs = Tables.documents(spark, sfDir)
    def shingles(df: DataFrame, idCol: String): DataFrame =
      shinglesOf(df, idCol, k)
    val bench = shingles(docs.filter(col("doc_id") < 5), "bench_id")
    val corpus = shingles(docs.filter(col("doc_id") >= 5), "doc_id")

    // Screen: all numHashes bits set ⇒ candidate; runs map-side inside
    // whole-stage codegen, before any join.
    val bits = bloomBits(bench.select(col("shingle")), numHashes)
    val screened = corpus.filter(expr(bloomProbeSql(bits, numHashes, "shingle")))

    // Exact verify join restores exactness: false positives die here,
    // false negatives cannot exist.
    screened.join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Oracle: identical to [[contaminationSql]] — the Bloom screen is a
    * pure prefilter and must not change the result. */
  val bloomDecontaminationSql: String = contaminationSql

  /** LSH S-curve measurement — the index-selection eval for the DEDUP
    * side, the exact analog of `e_ann_recall` for ANN: per Jaccard
    * decile, what fraction of truly-similar pairs does 4×4 MinHash
    * banding actually catch, next to the textbook expectation
    * 1 − (1 − s^r)^b at the decile midpoint? Before trusting banding
    * alone at 100 TB (skipping exact verification), a pipeline measures
    * THIS curve on a sample — and the measurement is itself an oracled
    * query. Ground truth is exact shingle-set Jaccard over the same
    * 3-gram universe the signature sketches (one definition,
    * [[shingleSetExpr]] — the estimator contract cannot drift); truth
    * pairs come from a shingle-keyed inverted-index join (Σ n_s², never
    * all-pairs — pairs sharing NO shingle have J = 0 exactly and are
    * out of scope; pairs sharing ≥ 1 shingle with J < 0.1 land in
    * bucket 0, the curve's floor, where banding should catch ~nothing).
    * Deciles are INTEGER arithmetic — bucket = (10·|∩|) div |∪| — so no
    * float boundary can disagree between engines. J = 1 pairs land in
    * bucket 10 and are caught by construction (equal shingle sets ⇒
    * equal signatures), which the spec pins. Fixture-quadratic like the
    * rest of the pair family: correctness at sf0.01, banded pipeline is
    * the 100 TB path. */
  def lshScurve(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val shl = shingleSets(docs).localCheckpoint(false)
    val sizes = shl.select(col("doc_id"), size(col("shl")).as("sz"))
    val post = shl.select(col("doc_id"), explode(col("shl")).as("s"))
    val inter = post.as("a")
      .join(post.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    val truePairs = inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .withColumn("bucket", expr("cast((inter * 10) div uni as int)"))
    val sig = minhashSlots(docs).localCheckpoint(false)
    val bands = sig.select(col("doc_id"),
      posexplode(array(bandCol(0), bandCol(1), bandCol(2), bandCol(3)))
        .as(Seq("bi", "b")))
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.bi") === col("y.bi") && col("x.b") === col("y.b") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    truePairs
      .join(cand.withColumn("caught", lit(1)), Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("caught"), lit(0))).cast("long").as("n_caught"))
      .select(col("bucket"), col("n_true"), col("n_caught"),
        Num.r4(col("n_caught").cast("double") / col("n_true")).as("recall"),
        Num.r4(lit(1.0) - pow(lit(1.0)
          - pow(least(col("bucket") * lit(0.1) + lit(0.05), lit(1.0)), lit(4.0)),
          lit(4.0))).as("theory"))
  }

  val lshScurveSql: String =
    s"""WITH $sigCtesSql,
       |bands AS (
       |$bandsCteBodySql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id),
       |docsh AS (
       |  SELECT doc_id, $shingleListSql AS shl
       |  FROM docs0 WHERE len(toks) >= 3),
       |post AS (SELECT doc_id, unnest(shl) AS s FROM docsh),
       |ip AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(count(*) AS BIGINT) AS inter
       |  FROM post a JOIN post b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |tb AS (
       |  SELECT doc_a, doc_b,
       |         CAST((inter * 10) // (len(da.shl) + len(db.shl) - inter) AS INT)
       |           AS bucket
       |  FROM ip JOIN docsh da ON da.doc_id = ip.doc_a
       |          JOIN docsh db ON db.doc_id = ip.doc_b),
       |fl AS (
       |  SELECT tb.bucket,
       |         CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS caught
       |  FROM tb LEFT JOIN cand c
       |    ON c.doc_a = tb.doc_a AND c.doc_b = tb.doc_b)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(caught) AS BIGINT) AS n_caught,
       |  round(sum(caught) * 1.0 / count(*) + 1e-9, 4) AS recall,
       |  round(1.0 - pow(1.0 - pow(least(bucket * 0.1 + 0.05, 1.0), 4), 4)
       |    + 1e-9, 4) AS theory
       |FROM fl GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** Paragraph-level decontamination — [[contamination]] screens whole
    * documents, but real eval-set leakage hides in ONE paragraph of an
    * otherwise-clean document (a quoted benchmark question inside a blog
    * post), and a doc-level verdict either over-drops the whole doc or
    * under-reports partial leaks. This operator screens each PARAGRAPH
    * against the eval-set shingles and aggregates per-document verdicts:
    * `clean` (no paragraph flagged), `partial` (some), `contaminated`
    * (every paragraph flagged) — `partial` is the actionable class, the
    * docs a pipeline salvages by dropping only the leaked paragraphs.
    *
    * Segmentation is pluggable upstream of [[paraScreen]]: production
    * corpora split on blank lines ([[parasFromNewlines]], the splitter
    * the planted-leak spec drives); the `documents` fixture is
    * newline-free by construction, so the registered query segments into
    * fixed 16-token windows ([[parasFixedWindow]]) — same screen, same
    * verdict algebra, deterministic in both engines. 100 TB shape is the
    * doc-level screen's: eval shingles broadcast, paragraphs explode
    * map-side (no corpus shuffle until the tiny per-paragraph hit
    * aggregate), and the per-doc rollup shuffles (doc_id, para verdicts)
    * — rows, never text bodies. */
  def parasFromNewlines(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"),
        posexplode(split(col("text"), "\n{2,}")).as(Seq("para_idx", "para")))
      .select(col("doc_id"), col("para_idx"),
        // \s+, not ' +': paragraphs split only on BLANK lines, so a
        // single newline (hard wrap) is intra-paragraph whitespace — a
        // space-only split would leave it embedded in a token ("b\nc")
        // and a genuinely leaked shingle spanning the wrap would be
        // reported clean
        split(trim(col("para")), "\\s+").as("ptoks"))

  def parasFixedWindow(documents: DataFrame, width: Int = 16): DataFrame =
    documents
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (size(toks) - 1) div $width),
           |  i -> slice(toks, i * $width + 1, $width))""".stripMargin))
        .as(Seq("para_idx", "ptoks")))

  /** Screen paragraphs (doc_id, para_idx, ptoks) against the k-gram
    * shingle set of `benchDocs` (doc_id, text) and roll up per-doc
    * verdicts. Short paragraphs (< k tokens) cannot be flagged but still
    * count toward `n_paras` — the denominator is the document. */
  def paraScreen(paras: DataFrame, benchDocs: DataFrame, k: Int = 4): DataFrame = {
    // bench side tokenizes on \s+ like parasFromNewlines' paragraphs —
    // both sides must normalize hard wraps identically or a shingle
    // spanning a newline never matches (space-only fixture: identical)
    val benchSet = benchDocs
      .withColumn("btoks", split(trim(col("text")), "\\s+"))
      .filter(size(col("btoks")) >= k)
      .select(explode(shingleArray("btoks", k)).as("shingle")).distinct()
    // both output branches below re-read `paras`; pin the paragraph
    // explosion once (lazy — materialized on first use)
    val parasP = paras.localCheckpoint(false)
    val hits = parasP
      .withColumn("shl",
        when(size(col("ptoks")) >= k, shingleArray("ptoks", k))
          .otherwise(array().cast("array<string>")))
      .select(col("doc_id"), col("para_idx"), explode(col("shl")).as("shingle"))
      .join(broadcast(benchSet), "shingle")
      .groupBy(col("doc_id"), col("para_idx"))
      .agg(count(lit(1)).as("n_shared"))
    parasP.select(col("doc_id"), col("para_idx"))
      .join(hits, Seq("doc_id", "para_idx"), "left")
      .na.fill(0L, Seq("n_shared"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("n_shared") > 0, 1L).otherwise(0L)).as("n_flagged_paras"),
        max(col("n_shared")).as("max_shared"))
      .withColumn("verdict",
        when(col("n_flagged_paras") === 0, lit("clean"))
          .when(col("n_flagged_paras") === col("n_paras"), lit("contaminated"))
          .otherwise(lit("partial")))
  }

  def paraContamination(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    paraScreen(parasFixedWindow(docs.filter(col("doc_id") >= 5)),
      docs.filter(col("doc_id") < 5))
  }

  val paraContaminationSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bsh AS (
      |  SELECT DISTINCT unnest(list_distinct(list_transform(
      |    range(0, len(toks) - 3),
      |    i -> array_to_string(list_slice(toks, CAST(i + 1 AS INT),
      |           CAST(i + 4 AS INT)), ' ')))) AS shingle
      |  FROM t WHERE doc_id < 5 AND len(toks) >= 4),
      |p AS (
      |  SELECT doc_id,
      |         CAST(unnest(range(0, (len(toks) + 15) // 16)) AS INT) AS para_idx,
      |         toks
      |  FROM t WHERE doc_id >= 5),
      |p2 AS (
      |  SELECT doc_id, para_idx,
      |         list_slice(toks, para_idx * 16 + 1, para_idx * 16 + 16) AS ptoks
      |  FROM p),
      |psh AS (
      |  SELECT doc_id, para_idx,
      |    unnest(list_distinct(list_transform(range(0, len(ptoks) - 3),
      |      i -> array_to_string(list_slice(ptoks, CAST(i + 1 AS INT),
      |             CAST(i + 4 AS INT)), ' ')))) AS shingle
      |  FROM p2 WHERE len(ptoks) >= 4),
      |fl AS (
      |  SELECT doc_id, para_idx, CAST(count(*) AS BIGINT) AS n_shared
      |  FROM psh WHERE shingle IN (SELECT shingle FROM bsh)
      |  GROUP BY 1, 2),
      |pp AS (
      |  SELECT p2.doc_id, p2.para_idx, coalesce(fl.n_shared, 0) AS n_shared
      |  FROM p2 LEFT JOIN fl
      |    ON fl.doc_id = p2.doc_id AND fl.para_idx = p2.para_idx)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_paras,
      |  CAST(sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged_paras,
      |  CAST(max(n_shared) AS BIGINT) AS max_shared,
      |  CASE WHEN sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) = 0 THEN 'clean'
      |       WHEN sum(CASE WHEN n_shared > 0 THEN 1 ELSE 0 END) = count(*)
      |         THEN 'contaminated'
      |       ELSE 'partial' END AS verdict
      |FROM pp GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Cross-modal dedup — candidates from one modality, verification in
    * the other: embedding-space LSH proposes near-dup pairs (the
    * `documents`/`embeddings` fixtures share ids — row i's text and
    * vector describe the same item, as in any production corpus), and
    * exact token-set Jaccard over the TEXT verifies each pair, labeling
    * it `dup` (surface duplicate, J ≥ 0.8) or `semantic_only` (the pairs
    * SemDeDup prunes and string dedup misses — the curation signal this
    * op exists for). 100 TB shape: candidate volume is bounded by the
    * LSH bucketing (never an all-pairs join in either modality), and the
    * text verify joins candidates to documents on the id key — float
    * vectors and text bodies never shuffle together. */
  def crossmodalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val cand = Similarity.cosineDedupLsh(spark, sfDir)
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
    cand
      .join(toks.select(col("doc_id").as("vec_a"), col("toks").as("ta")), "vec_a")
      .join(toks.select(col("doc_id").as("vec_b"), col("toks").as("tb")), "vec_b")
      .withColumn("i", size(array_intersect(col("ta"), col("tb"))).cast("double"))
      .withColumn("jr",
        col("i") / (size(col("ta")) + size(col("tb")) - col("i")))
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("sim"),
        Num.r4(col("jr")).as("jaccard"),
        when(col("jr") >= 0.8, lit("dup"))
          .otherwise(lit("semantic_only")).as("verdict"))
  }

  val crossmodalDedupSql: String =
    s"""WITH cand AS (
       |${Similarity.cosineDedupLshCoreSql}
       |), toks AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents
       |), j AS (
       |  SELECT cand.vec_a AS doc_a, cand.vec_b AS doc_b, cand.sim,
       |         len(list_intersect(ta.toks, tb.toks)) AS i,
       |         len(ta.toks) AS na, len(tb.toks) AS nb
       |  FROM cand JOIN toks ta ON ta.doc_id = cand.vec_a
       |            JOIN toks tb ON tb.doc_id = cand.vec_b)
       |SELECT doc_a, doc_b, sim,
       |       round(i * 1.0 / (na + nb - i) + 1e-9, 4) AS jaccard,
       |       CASE WHEN i * 1.0 / (na + nb - i) >= 0.8
       |            THEN 'dup' ELSE 'semantic_only' END AS verdict
       |FROM j
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Connected components over an edge list via alternating large-star /
    * small-star contraction (Kiveris, Lattanzi, Mirrokni, Rastogi,
    * Vassilvitskii: "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — O(log² n) rounds on ANY graph topology, vs
    * rounds ≈ diameter for plain min-label propagation. Each round is two
    * {self-join on node key + partial-min aggregate} stages; edges stay
    * canonically oriented (u > v) throughout. Convergence check (round 22,
    * VERDICT r21 item 5): the per-round count job also computes an
    * order-insensitive `bit_xor(xxhash64(u,v))` fingerprint in the SAME
    * aggregate (xor, not sum — ANSI mode makes a long-sum overflow a task
    * failure, and the frames are distinct'd so xor self-cancellation
    * cannot occur); the exact one-sided `except` runs ONLY when count AND
    * fingerprint both match, so a mid-run count collision between
    * different edge sets costs one comparison of two longs instead of a
    * distributed anti-join, while the final verdict stays exact (no
    * convergence is ever declared on the fingerprint alone). Measured at
    * sf0.01/sf0.1 the except fired exactly once — at the true fixed
    * point — even before this change (counts never collided mid-run on
    * this corpus; plans/r22/d_dedup_groups_rounds.txt), so the job-count
    * delta here is hardening, not a bench win. Returns the
    * node→component-min labeling (doc_id, group_id, group_size) plus the
    * round count so specs can assert the logarithmic bound;
    * [[componentLabelsWithRounds]] is the same without `group_size`.
    * Always star contraction: only the streaming step, through the
    * labels-only function, finishes small graphs on the driver. */
  def connectedComponentsWithRounds(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 25): (DataFrame, Int) = {
    val (labels, rounds) = componentLabelsWithRounds(nodes, pairs, maxRounds)
    val sizes = labels.groupBy(col("group_id")).agg(count(lit(1)).as("group_size"))
    (labels.join(sizes, "group_id")
      .select(col("doc_id"), col("group_id"), col("group_size")), rounds)
  }

  /** The distinct rows of `df`, collected by ONE result job (after any
    * shuffle stages of `df`'s own plan) with the distinct done on the
    * driver; None when there are more than `cap`. Each task ships at most
    * `cap + 1` distinct rows, so the driver holds at most partitions ×
    * (cap + 1) — a `distinct()` before the collect would cost an exchange
    * job, and a `limit` collect scans partitions in several jobs. */
  private def distinctUpTo(df: DataFrame, cap: Long): Option[IndexedSeq[Row]] = {
    val shipped = df.mapPartitions { rows =>
      val seen = scala.collection.mutable.HashSet.empty[Row]
      while (rows.hasNext && seen.size <= cap) seen += rows.next()
      seen.iterator
    }(Encoders.row(df.schema)).collect()
    Some(shipped.distinct.toIndexedSeq).filter(_.length <= cap)
  }

  /** The (doc_id, group_id) labeling of [[connectedComponentsWithRounds]]
    * and its round count. `localMaxEdges` is the driver-finish bound: when
    * the canonical edge set holds at most that many distinct edges, one
    * bounded collect ([[distinctUpTo]]) brings it to the
    * driver, where union-find ([[localStar]]) finishes it in 0 rounds
    * instead of star contraction. A
    * micro-batch's within-batch graph is tiny, and each contraction round
    * costs several small jobs whatever the data volume. The labels are the
    * component minimum on both paths, so they are identical; the default 0
    * (always contraction) is what [[connectedComponentsWithRounds]] and so
    * every batch caller uses. */
  def componentLabelsWithRounds(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 25, localMaxEdges: Long = 0L): (DataFrame, Int) = {
    // Eager localCheckpoint, not cache(): each round's plan references the
    // previous round's edge set ~5×, so an uncheckpointed lineage grows
    // exponentially with rounds (an 8-round run OOM'd the driver just
    // BUILDING the plan string). Checkpointing truncates the logical plan
    // to a scan of the materialized blocks; the ContextCleaner reclaims
    // each round's blocks once the next round drops the reference.
    // LAZY checkpoints (round 21): eager=true ran one extra materializing
    // job per frame; eager=false still truncates lineage and caches the
    // blocks, but lets the round's OWN count() action be the materializer
    // — one job per round instead of two, same blocks, same reclamation.
    val canonical = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
    // Under the bound, one bounded collect (distinct on the driver) feeds
    // the union-find directly: no distinct exchange, no count job, no
    // second read of a checkpoint. Past it the collect is wasted and the
    // rounds below recompute the edges.
    val local = Option.when(localMaxEdges > 0)(
      distinctUpTo(canonical, localMaxEdges)).flatten
    var edges = local.fold(canonical.distinct().localCheckpoint(false))(
      es => localStar(pairs.sparkSession, es))
    // Carry each round's count AND xor-fingerprint forward instead of
    // re-computing them on the (checkpointed) previous edge set — one
    // fewer job per round, and the fingerprint gates the exact except.
    def countAndXor(df: DataFrame): (Long, Long) = {
      val row = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }
    var (edgeCount, edgeXor) = if (local.isDefined) (0L, 0L) else countAndXor(edges)
    var rounds = 0
    var done = local.isDefined || edgeCount == 0
    while (!done) {
      require(rounds < maxRounds,
        s"star contraction did not converge in $maxRounds rounds")
      // large-star: every strictly-larger neighbor of u attaches to
      // m = min(N(u) ∪ {u}); output edges keep the (big, small) orientation
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val afterLarge = sym.join(lmins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: all (smaller) neighbors of u, and u itself, attach to
      // the minimum neighbor
      val smins = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = afterLarge.join(smins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(smins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      val (nextCount, nextXor) = countAndXor(next)
      // Exact convergence, fingerprint-gated: the distributed anti-join
      // runs only when count and xor already agree (in practice exactly
      // once, at the true fixed point — see scaladoc).
      done = nextCount == edgeCount && nextXor == edgeXor &&
        next.except(edges).isEmpty
      edges = next
      edgeCount = nextCount
      edgeXor = nextXor
      rounds += 1
    }
    // Converged: edges form a star forest with each component's min as the
    // center, so the labeling is one left join away; checkpointing it
    // releases the last round's edge blocks once callers drop this frame.
    // DETERMINISM PRECONDITION (ADVICE r21): this is a LAZY checkpoint
    // that can fan out into two consumers (connectedComponentsWithRounds'
    // sizes aggregate and join) within one action — before the cache
    // fills, partitions can be computed more than once concurrently, so
    // the upstream lineage must be deterministic (it is: checkpointed
    // edges or a driver-built star + a join; no sample/rand). A future
    // nondeterministic upstream here requires eager=true or the two
    // consumers can diverge.
    (nodes.select(col("doc_id"))
      .join(edges.select(col("u").as("doc_id"), col("v").as("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("group_id"))
      .localCheckpoint(false), rounds)
  }

  /** Driver-side finish of [[componentLabelsWithRounds]]: union-find over
    * the collected canonical (u, v) edges, always linking the larger root
    * under the smaller, so every root is its component's minimum. Returns
    * the converged star forest the contraction rounds would reach: one
    * (u → min) edge per non-minimum node. */
  private def localStar(spark: SparkSession, edges: Seq[Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root) root = parent(root)
      var y = x
      while (y != root) { val up = parent(y); parent(y) = root; y = up }
      root
    }
    edges.foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val star = parent.keys.toSeq.map(u => (u, find(u)))
    spark.createDataFrame(star).toDF("u", "v")
  }

  /** Near-duplicate GROUPS from a precomputed similarity pair frame — the
    * dedup endgame: transitively-linked near-dups collapse into one group
    * (keep `group_id`, drop the rest). Edges are a parameter so any
    * candidate generator can feed it: `dedupGroups` wires in the fixture
    * Jaccard graph (oracle parity), `dedupPipeline` the MinHash-band
    * graph (the 100 TB composition). */
  def dedupGroupsFromPairs(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(nodes, pairs)._1

  /** Registered form over the fixture-capped exact-Jaccard pair graph.
    * The DuckDB twin is a recursive transitive-closure CTE over the same
    * graph: same components, independently computed. */
  def dedupGroups(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    dedupGroupsFromPairs(docs.select(col("doc_id")),
      ngramJaccardFixture(spark, sfDir).select(col("doc_a"), col("doc_b")))
  }

  /** Recursive-CTE oracle over the same capped pair graph the Spark
    * operator uses (see ngramJaccardSql). */
  val dedupGroupsSql: String =
    s"""WITH RECURSIVE docs AS (
      |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents),
      |post AS (SELECT doc_id, unnest(toks) AS t FROM docs),
      |dfreq AS (SELECT t, count(*) AS df FROM post GROUP BY t),
      |nd AS (SELECT count(*) AS n FROM docs),
      |rare AS (
      |  SELECT doc_id, post.t FROM post JOIN dfreq ON post.t = dfreq.t, nd
      |  WHERE df <= $FixtureDfCap * n),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM rare a JOIN rare b ON a.t = b.t AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT doc_a, doc_b, len(list_intersect(da.toks, db.toks)) AS i,
      |           len(da.toks) AS na, len(db.toks) AS nb
      |    FROM cand JOIN docs da ON da.doc_id = doc_a
      |              JOIN docs db ON db.doc_id = doc_b)
      |  WHERE i * 1.0 / (na + nb - i) >= 0.8),
      |e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach(s, d) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s)
      |SELECT doc_id, group_id,
      |       CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
      |FROM (SELECT s AS doc_id, min(d) AS group_id FROM reach GROUP BY s)
      |ORDER BY doc_id""".stripMargin

  /** (doc_id, band_idx, band) — one row per document per MinHash band,
    * the LSH bucketing relation candidate generation joins on. */
  def minhashBands(documents: DataFrame): DataFrame =
    minhashSlots(documents)
      .select(col("doc_id"),
        posexplode(array(bandCol(0), bandCol(1), bandCol(2), bandCol(3)))
          .as(Seq("band_idx", "band")))

  /** Candidate pairs = documents agreeing on ANY MinHash band. The pair
    * join is keyed on (band_idx, band) — candidate volume is
    * Σ_buckets n_b²/2, never n²/2, and needs no token-frequency
    * heuristics. This is the generator a 100 TB dedup actually runs. */
  def bandCandidates(documents: DataFrame): DataFrame = {
    // no pin: the signature pipeline ends in the groupBy(doc_id)
    // exchange, and AQE's stage cache serves both self-join sides from
    // one computation of it (a pin only added a job — measured r21)
    val bands = minhashBands(documents)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The band pair join over a PERSISTED bucketed band table — how a
    * recurring 100 TB dedup actually runs: [[bandCandidates]] re-shuffles
    * both sides of the self-join every invocation, but with the bands
    * landed once bucketed-by-(band_idx, band)
    * ([[graft.sources.TableOps.resetBucketedTable]]) both scan sides
    * arrive pre-partitioned on the join key and the pair join plans with
    * NO Exchange (spec-asserted in ScaleToolsSpec) — each recurring run
    * (incremental dedup, threshold sweeps, S-curve calibration) pays
    * zero shuffle for candidate generation. Returns the raw pair stream;
    * [[bandCandidatesBucketed]] adds the distinct (whose small
    * candidate-sized shuffle is the only Exchange in the pipeline). */
  def bandPairsBucketed(spark: SparkSession, documents: DataFrame,
      table: String = "minhash_bands_b", nBuckets: Int = 8): DataFrame = {
    graft.sources.TableOps.resetBucketedTable(spark, table,
      minhashBands(documents), Seq("band_idx", "band"), nBuckets)
    val bands = spark.table(table)
    bands.as("a")
      .join(bands.as("b").hint("merge"),
        col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
  }

  /** Deduplicated candidate set from the bucketed pair join — result
    * contract identical to [[bandCandidates]]. */
  def bandCandidatesBucketed(spark: SparkSession, documents: DataFrame): DataFrame =
    bandPairsBucketed(spark, documents).distinct()

  /** The end-to-end banded near-dedup pipeline — the one operator a 100 TB
    * training-data pipeline actually runs, welded from the three
    * individually-verified stages: MinHash 4×4 bands → band-bucket
    * candidate pairs → exact Jaccard ≥ 0.8 verification → connected
    * components. Every stage is a fixed-size-key shuffle or a
    * candidate-bounded join; no token-df heuristic is load-bearing
    * anywhere. Docs too short to shingle (< 3 tokens) generate no bands
    * and come out as singleton groups. Fully oracled: the DuckDB twin
    * replays the identical md5 signature math, banding, verification, and
    * a recursive-CTE closure. */
  def dedupPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    // widen: the pipeline re-reads documents for signatures AND for the
    // verify join's token sets; both are shingle/md5-heavy per-row work
    val docs = Tables.widen(Tables.documents(spark, sfDir))
    val pairs = jaccardVerify(docs, bandCandidates(docs))
      .select(col("doc_a"), col("doc_b"))
    dedupGroupsFromPairs(docs.select(col("doc_id")), pairs)
  }

  /** The same end-to-end pipeline with candidate generation served from
    * the PERSISTED bucketed band table ([[bandPairsBucketed]]) — the
    * recurring-run posture: the pair join is Exchange-free, and the
    * result is REQUIRED to be identical to [[dedupPipeline]] (same
    * oracle — physical layout must never leak into answers). */
  def dedupPipelineBucketed(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.widen(Tables.documents(spark, sfDir))
    val pairs = jaccardVerify(docs, bandCandidatesBucketed(spark, docs))
      .select(col("doc_a"), col("doc_b"))
    dedupGroupsFromPairs(docs.select(col("doc_id")), pairs)
  }

  /** Incremental (cross-snapshot) near-dedup — the recurring production
    * job: a NEW crawl snapshot arrives and must be deduplicated AGAINST
    * the corpus already ingested, without re-deduplicating the old corpus
    * against itself. Snapshot split here: sources src0-src9 are the
    * standing corpus, src10-src19 the arriving snapshot. A new document is
    * dropped when it band-collides with ≥ 1 old document (same MinHash
    * 4×4 banding as [[dedupPipeline]]) AND the collision verifies at
    * token-set Jaccard ≥ 0.8; every new document is emitted with its
    * verdict (`kept`), its verified-match count, and the smallest old
    * doc_id it duplicates (NULL when kept).
    *
    * 100 TB shape: the old side reduces to its band relation — 4 rows of
    * (16-byte band, doc_id) per document, precomputable once and reusable
    * across every future snapshot — so each incremental run shuffles the
    * NEW snapshot's bands against a stored index, never old document
    * bodies; the verify join then touches only candidate-matched old
    * docs. Old-old pairs are never generated (the join is old×new by
    * construction, not a self-join with an id inequality). */
  def dedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("src_num", substring(col("source"), 4, 10).cast("int"))
    val oldDocs = docs.filter(col("src_num") < 10)
    val newDocs = docs.filter(col("src_num") >= 10)
    val cands = minhashBands(oldDocs).as("o")
      .join(minhashBands(newDocs).as("n"),
        col("o.band_idx") === col("n.band_idx") && col("o.band") === col("n.band"))
      .select(col("o.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
      .distinct()
    val matches = jaccardVerify(docs, cands)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(count(lit(1)).as("n_matches"), min(col("doc_a")).as("matched_old"))
    newDocs.select(col("doc_id"), col("source"))
      .join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("matched_old"),
        col("n_matches").isNull.as("kept"))
  }

  val dedupIncrementalSql: String =
    s"""WITH $sigCtesSql,
       |srcs AS (SELECT doc_id, source,
       |                CAST(substr(source, 4) AS INT) AS src_num
       |         FROM documents),
       |bands AS (
       |$bandsCteBodySql),
       |cand AS (
       |  SELECT DISTINCT o.doc_id AS doc_a, n.doc_id AS doc_b
       |  FROM bands o JOIN srcs so ON so.doc_id = o.doc_id
       |       JOIN bands n ON o.bi = n.bi AND o.b = n.b
       |       JOIN srcs sn ON sn.doc_id = n.doc_id
       |  WHERE so.src_num < 10 AND sn.src_num >= 10),
       |docsd AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM docs0),
       |m AS (
       |  SELECT doc_b AS doc_id, CAST(count(*) AS BIGINT) AS n_matches,
       |         min(doc_a) AS matched_old
       |  FROM (
       |    SELECT doc_a, doc_b, len(list_intersect(da.dtoks, db.dtoks)) AS i,
       |           len(da.dtoks) AS na, len(db.dtoks) AS nb
       |    FROM cand JOIN docsd da ON da.doc_id = doc_a
       |              JOIN docsd db ON db.doc_id = doc_b)
       |  WHERE i * 1.0 / (na + nb - i) >= 0.8
       |  GROUP BY doc_b)
       |SELECT s.doc_id, s.source,
       |       coalesce(m.n_matches, 0) AS n_matches, m.matched_old,
       |       m.n_matches IS NULL AS kept
       |FROM srcs s LEFT JOIN m ON m.doc_id = s.doc_id
       |WHERE s.src_num >= 10
       |ORDER BY s.doc_id""".stripMargin

  /** [[jaccardVerify]] over PRE-TOKENIZED sides: `toksA`/`toksB` are
    * (doc_id, toks) frames whose `toks` column is the distinct-token
    * array (`array_distinct(split(text, ' '))` — the exact form
    * [[jaccardVerify]] builds internally, and the form the streaming
    * dedup STORE persists so verification never needs old document
    * bodies). Same exact-Jaccard math, same IEEE-exact ≥ threshold;
    * returns just the surviving (doc_a, doc_b) pairs. */
  private[graft] def jaccardVerifyToks(candidates: DataFrame,
      toksA: DataFrame, toksB: DataFrame,
      threshold: Double = 0.8): DataFrame =
    jaccardJoin(candidates, toksA, toksB, threshold)
      .select(col("doc_a"), col("doc_b"))

  /** THE exact-Jaccard verification join — the single definition both
    * [[jaccardVerify]] (text input) and [[jaccardVerifyToks]] (the
    * streaming store's pre-tokenized form) project from, so the
    * intersect/union/threshold math cannot drift between the batch and
    * streaming paths. Emits (doc_a, doc_b, jaccard_raw). */
  private def jaccardJoin(candidates: DataFrame,
      toksA: DataFrame, toksB: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(toksA.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")), "doc_a")
      .join(toksB.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")), "doc_b")
      .withColumn("i", size(array_intersect(col("toks_a"), col("toks_b"))))
      .withColumn("jaccard_raw",
        col("i").cast("double") /
          (size(col("toks_a")) + size(col("toks_b")) - col("i")))
      .filter(col("jaccard_raw") >= threshold)

  /** ONE micro-batch step of ONLINE near-dedup — the shared core of the
    * streaming filter ([[graft.streaming.StreamDedup]]) and its oracled
    * batch twin [[dedupStreamed]]: a batch of arriving documents is
    * deduplicated (a) against the accumulated KEPT corpus, represented
    * only by its MinHash band relation + distinct-token sets (never old
    * document bodies), then (b) within itself by the same banded
    * candidate generation + exact-Jaccard verification + connected
    * components as [[dedupPipeline]], keeping each component's min
    * doc_id.
    *
    * Returns (verdicts, keptBands, keptToks): verdicts carries every
    * batch doc as (doc_id, source, kept, matched_old) — matched_old is
    * the smallest verified kept-corpus match for store-dropped docs, the
    * component representative for within-batch drops, NULL for kept
    * docs — and keptBands/keptToks are exactly the store rows the kept
    * docs contribute (the caller appends them; this function never
    * writes).
    *
    * Store-side self-pairs are excluded by doc_id, so re-processing a
    * batch whose kept docs already landed in the store (the crash-replay
    * state) converges instead of dropping every doc as a duplicate of
    * itself. 100 TB shape: the batch side of every join is one
    * micro-batch; the store-bands join is key-equi on (band_idx, band)
    * (bucket the persisted store on those keys and the big side arrives
    * pre-partitioned, as [[bandPairsBucketed]] proves); verification
    * touches only candidate-matched store docs' token sets. Batch inputs
    * and the verified store matches are eagerly localCheckpoint'ed once —
    * signatures and the store verify run once per batch, not once per
    * downstream join. The within-batch components are finished on the
    * driver when their graph has at most `maxLocalEdges` edges; a larger
    * graph runs the star contraction rounds from a truncated lineage.
    *
    * `prune = true` turns on PROBE-SIDE STORE PRUNING — the serve-path
    * optimization for a parquet-backed store that dwarfs the micro-batch
    * (the `StreamDedup` production shape; the x100 serve sweep showed the
    * two store scans are the whole growth term). Each store table is read
    * once, by a pinned broadcast semi-join on the batch's own keys
    * (`StreamStoreOps.probe`), BEFORE the joins: bands on the batch's
    * (band_idx, band) pairs, toks on the store candidates' doc_ids. Both
    * key frames are micro-batch-bounded (≤ bands-per-doc × batch docs
    * pairs, ≤ verified-candidate fan-in ids). Semantically a no-op — each
    * probe restricts an equi-join input to the only keys the join could
    * match. Physically the toks probe also pushes the candidates' doc_id
    * range, so a doc_id-sorted store skips the row groups outside it, and
    * an empty candidate set reads no toks at all (the no-candidates fast
    * path); the md5 band keys span their keyspace, so the bands probe
    * pushes no range. [[streamDedupServe]] is the same step with the toks probe also
    * covering the caller's append guards. */
  private[graft] def streamDedupStep(batch: DataFrame, storeBands: DataFrame,
      storeToks: DataFrame,
      pre: Option[(DataFrame, DataFrame)] = None,
      prune: Boolean = false,
      maxLocalEdges: Int = MaxLocalEdges): (DataFrame, DataFrame, DataFrame) = {
    val s = streamDedupServe(batch, storeBands, storeToks, prune, guard = None,
      maxLocalEdges, pre)
    (s.verdicts, s.keptBands, s.keptToks)
  }

  /** Default driver-finish bound of the streaming step's within-batch
    * component graph, in edges ([[componentLabelsWithRounds]]). */
  private[graft] val MaxLocalEdges = 100000

  /** [[streamDedupServe]]'s result: [[streamDedupStep]]'s three frames
    * plus the store frames the step read — each a pinned probe when
    * pruned, else the caller's frame as given. */
  private[graft] final case class Served(verdicts: DataFrame,
      keptBands: DataFrame, keptToks: DataFrame,
      bandsRead: DataFrame, toksRead: DataFrame)

  /** [[streamDedupStep]] with ONE read per store table, shared with the
    * caller's append guards (`StreamDedup.processBatch`). Pruned, each
    * store table is read once, by a pinned semi-join probe:
    *
    *   - bands: on the batch's (band_idx, band) pairs. The candidate join
    *     reads it unchanged — a row outside those pairs matches no batch
    *     band — and the caller's (doc_id, band_idx) guard reads it too: a
    *     crashed attempt's band rows for a batch doc carry the same pairs;
    *   - toks: on the candidate doc_ids, plus, with `guard` (the
    *     [[graft.streaming.StreamStoreOps.KeyRange]] of the caller's batch
    *     doc_ids), the batch's own doc_ids, read by the verify join and
    *     by the caller's toks guard. The pushed range is the candidates'
    *     range OR the guard range. */
  private[graft] def streamDedupServe(batch: DataFrame, storeBands: DataFrame,
      storeToks: DataFrame, prune: Boolean,
      guard: Option[StreamStoreOps.KeyRange],
      maxLocalEdges: Int = MaxLocalEdges,
      pre: Option[(DataFrame, DataFrame)] = None): Served = {
    // The batch's band/token frames are pinned EAGERLY (one job each):
    // the store join, the within-batch self-join, both verify joins and
    // the kept frames re-read them (and CC rounds over a graph above the
    // bound once per round), and re-hashing every shingle per read costs
    // far more than the two materialization jobs. A caller that already
    // holds them — the batch twin computes signatures ONCE for all four
    // waves — passes them via `pre` and pays neither hash nor job.
    val (bandsB, toksB) = pre.getOrElse((
      minhashBands(batch).localCheckpoint(true),
      batch.select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("toks")).localCheckpoint(true)))
    val bandsRead =
      if (prune) StreamStoreOps.probe(storeBands, bandsB.select(col("band_idx"), col("band")))
      else storeBands
    // No distinct: a pair sharing k bands appears k ≤ 4 times, which
    // the toks probe's semi-join and the verify's min aggregate absorb,
    // and a distinct costs an exchange job.
    val storeCand0 = bandsRead.as("o")
      .join(bandsB.as("n"),
        col("o.band_idx") === col("n.band_idx") && col("o.band") === col("n.band") &&
          col("o.doc_id") =!= col("n.doc_id"))
      .select(col("o.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
    // The toks probe needs the candidate ids, and the verify join reuses
    // the frame — pin it once (observing its doc_id range) so the band
    // join runs once, not twice (candidates are micro-batch-bounded:
    // band-collision fan-in of one batch).
    val (storeCand, toksRead) = if (!prune) (storeCand0, storeToks) else {
      val (cand, candRange) = StreamStoreOps.pinRanged(storeCand0, "doc_a")
      val candKeys = cand.select(col("doc_a").as("doc_id"))
      (cand, StreamStoreOps.probe(storeToks,
        guard.fold(candKeys)(_ => candKeys.union(toksB.select(col("doc_id")))),
        candRange +: guard.toSeq: _*))
    }
    // Pinned once: the survivors anti-join (the within-batch candidates
    // and the component nodes) and the verdict join all read it, and
    // unpinned each would re-run the verify join and the toks store scan.
    // Bounded by the micro-batch: at most one row per batch doc, as are
    // `survivors`, the component labels and the kept ids. All four are
    // broadcast by hint: their pinned inputs carry no size estimate the
    // planner trusts, and adaptive execution would otherwise shuffle
    // both sides of each join and only then turn it into a broadcast —
    // three jobs per join instead of one.
    val storeMatch = broadcast(jaccardVerifyToks(storeCand, toksRead, toksB)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("matched_old"))
      .localCheckpoint(true))
    val survivors = batch.select(col("doc_id"))
      .join(storeMatch.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val bandsR = bandsB.join(broadcast(survivors), "doc_id")
    val withinCand = bandsR.as("a")
      .join(bandsR.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withinPairs = jaccardVerifyToks(withinCand, toksB, toksB)
    // Labels only (group_size is never read), finished on the driver when
    // the within-batch graph has at most `maxLocalEdges` edges.
    val groups = componentLabelsWithRounds(survivors, withinPairs,
      localMaxEdges = maxLocalEdges.toLong)._1
    // kept: survived the store check AND is its component's representative.
    // group_id is NULL exactly for store-dropped docs (not in `survivors`),
    // so the conjunction below is never NULL: the left conjunct is false
    // precisely when the right one is NULL.
    val verdicts = batch.select(col("doc_id"), col("source"))
      .join(storeMatch, Seq("doc_id"), "left")
      .join(broadcast(groups), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        (col("matched_old").isNull && col("group_id") === col("doc_id")).as("kept"),
        coalesce(col("matched_old"),
          when(col("group_id") =!= col("doc_id"), col("group_id"))).as("matched_old"))
      .localCheckpoint(true)
    val keptIds = broadcast(verdicts.filter(col("kept")).select(col("doc_id")))
    Served(verdicts, bandsB.join(keptIds, "doc_id"), toksB.join(keptIds, "doc_id"),
      bandsRead, toksRead)
  }

  /** The oracled batch twin of the streaming dedup filter: the documents
    * table arrives in FOUR waves (src0-4, src5-9, src10-14, src15-19 —
    * the same source-split device as [[dedupIncremental]], one step
    * further: a whole arrival SEQUENCE, not one old/new split), and each
    * wave runs [[streamDedupStep]] against the kept corpus accumulated
    * from the waves before it. Greedy-arrival semantics fall out: a doc
    * is dropped against the kept corpus or its within-wave component
    * representative, and a doc whose only near-dup was itself dropped in
    * an EARLIER wave is KEPT (its match never entered the store) — the
    * order-sensitivity every online dedup has, pinned here by the oracle
    * rather than papered over. The DuckDB twin replays all four waves
    * (generated CTE chain, one recursive closure per wave) over the
    * identical signature/band/verify math. */
  def dedupStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .withColumn("wave",
        floor(substring(col("source"), 4, 10).cast("int") / 5).cast("int"))
      .localCheckpoint(true)
    // Signatures and token sets for the WHOLE corpus, hashed exactly
    // once (two jobs) — each wave then slices them by doc_id instead of
    // re-deriving from text (lazy per-wave frames measured ~1.5× slower
    // at sf0.01: the CC rounds re-read them once per round). The live
    // stream has no such luxury — its batches ARRIVE one at a time —
    // which is exactly why `pre` is optional. The twin's wall clock is
    // dominated by 4 × (CC rounds × sequential job scheduling), a floor
    // that amortizes at real batch sizes and is why Bench excludes it.
    val allBands = minhashBands(docs).localCheckpoint(true)
    val allToks = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks")).localCheckpoint(true)
    val empty = docs.filter(lit(false))
    var storeBands = minhashBands(empty)
    var storeToks = empty.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("toks"))
    val waves = (0 until 4).map { w =>
      val b = docs.filter(col("wave") === w)
        .select(col("doc_id"), col("source"), col("text"))
      val ids = b.select(col("doc_id"))
      val (v, kb, kt) = streamDedupStep(b, storeBands, storeToks,
        pre = Some((allBands.join(ids, "doc_id"), allToks.join(ids, "doc_id"))))
      // per-wave checkpoint: the store frames are re-read by every later
      // wave's candidate join AND each of its CC rounds — pinning the
      // union keeps those reads one scan instead of a re-evaluated
      // join chain per read
      storeBands = storeBands.union(kb).localCheckpoint(true)
      storeToks = storeToks.union(kt).localCheckpoint(true)
      v.withColumn("wave", lit(w))
    }
    waves.reduce(_.union(_))
      .select(col("doc_id"), col("source"), col("wave"),
        col("kept"), col("matched_old"))
  }

  /** Generated 4-wave DuckDB unroll of [[dedupStreamed]]: per wave —
    * kept-union of prior waves, store-candidate bands join + exact
    * verify (min match), survivors, within-wave banded pairs + verify,
    * one recursive transitive closure, component minima, verdicts. */
  val dedupStreamedSql: String = {
    def waveSql(i: Int): String = {
      val keptUnion =
        if (i == 0) "SELECT CAST(NULL AS BIGINT) AS doc_id WHERE FALSE"
        else (0 until i).map(j => s"SELECT doc_id FROM k$j").mkString(" UNION ALL ")
      s"""ks$i AS MATERIALIZED ($keptUnion),
         |smc$i AS MATERIALIZED (
         |  SELECT DISTINCT o.doc_id AS doc_a, n.doc_id AS doc_b
         |  FROM bands o JOIN ks$i ko ON ko.doc_id = o.doc_id
         |       JOIN bands n ON o.bi = n.bi AND o.b = n.b
         |                    AND o.doc_id <> n.doc_id
         |       JOIN srcs sn ON sn.doc_id = n.doc_id AND sn.wave = $i),
         |sm$i AS MATERIALIZED (
         |  SELECT doc_b AS doc_id, min(doc_a) AS matched_old
         |  FROM (SELECT doc_a, doc_b,
         |               len(list_intersect(da.dtoks, db.dtoks)) AS it,
         |               len(da.dtoks) AS na, len(db.dtoks) AS nb
         |        FROM smc$i JOIN docsd da ON da.doc_id = doc_a
         |                   JOIN docsd db ON db.doc_id = doc_b)
         |  WHERE it * 1.0 / (na + nb - it) >= 0.8
         |  GROUP BY doc_b),
         |r$i AS MATERIALIZED (SELECT s.doc_id FROM srcs s WHERE s.wave = $i
         |        AND s.doc_id NOT IN (SELECT doc_id FROM sm$i)),
         |wc$i AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN r$i ra ON ra.doc_id = a.doc_id
         |       JOIN bands b ON a.bi = b.bi AND a.b = b.b
         |                    AND a.doc_id < b.doc_id
         |       JOIN r$i rb ON rb.doc_id = b.doc_id),
         |wp$i AS MATERIALIZED (
         |  SELECT doc_a, doc_b
         |  FROM (SELECT doc_a, doc_b,
         |               len(list_intersect(da.dtoks, db.dtoks)) AS it,
         |               len(da.dtoks) AS na, len(db.dtoks) AS nb
         |        FROM wc$i JOIN docsd da ON da.doc_id = doc_a
         |                  JOIN docsd db ON db.doc_id = doc_b)
         |  WHERE it * 1.0 / (na + nb - it) >= 0.8),
         |we$i AS MATERIALIZED (SELECT doc_a AS s, doc_b AS d FROM wp$i
         |         UNION ALL SELECT doc_b, doc_a FROM wp$i),
         |reach$i(s, d) AS (
         |  SELECT doc_id, doc_id FROM r$i
         |  UNION
         |  SELECT r.s, e.d FROM reach$i r JOIN we$i e ON r.d = e.s),
         |g$i AS MATERIALIZED (SELECT s AS doc_id, min(d) AS group_id FROM reach$i GROUP BY s),
         |k$i AS MATERIALIZED (SELECT doc_id FROM g$i WHERE group_id = doc_id),
         |v$i AS MATERIALIZED (
         |  SELECT s.doc_id, s.source, $i AS wave,
         |         CASE WHEN sm.doc_id IS NOT NULL THEN FALSE
         |              WHEN g.group_id <> s.doc_id THEN FALSE
         |              ELSE TRUE END AS kept,
         |         CASE WHEN sm.doc_id IS NOT NULL THEN sm.matched_old
         |              WHEN g.group_id <> s.doc_id THEN g.group_id END AS matched_old
         |  FROM srcs s LEFT JOIN sm$i sm ON sm.doc_id = s.doc_id
         |       LEFT JOIN g$i g ON g.doc_id = s.doc_id
         |  WHERE s.wave = $i)""".stripMargin
    }
    s"""WITH RECURSIVE $sigCtesSql,
       |bands AS MATERIALIZED (
       |$bandsCteBodySql),
       |srcs AS MATERIALIZED (SELECT doc_id, source,
       |                CAST(floor(CAST(substr(source, 4) AS INT) / 5.0) AS INT) AS wave
       |         FROM documents),
       |docsd AS MATERIALIZED (SELECT doc_id, list_distinct(toks) AS dtoks FROM docs0),
       |${(0 until 4).map(waveSql).mkString(",\n")}
       |SELECT doc_id, source, wave, kept, matched_old
       |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1
       |      UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3)
       |ORDER BY doc_id""".stripMargin
  }

  /** Fuzzy (edit-distance) dedup: near-identical documents that differ by
    * small in-place edits — the family MinHash/Jaccard under-serves
    * because token-set measures ignore token ORDER and small substitutions.
    * Scale shape: block on a short exact prefix (the classic sorted-
    * neighborhood/blocking compromise: an O(n²) metric is only ever paid
    * within a block), then score block-mates by Levenshtein distance over
    * a fixed-length head — bounding the per-pair cost at headLen² char
    * ops regardless of document size. Both `levenshtein` and the blocking
    * are byte-identical in DuckDB, so the operator is fully oracled. */
  def dedupFuzzy(spark: SparkSession, sfDir: String): DataFrame =
    fuzzyOnDocs(Tables.documents(spark, sfDir))

  def fuzzyOnDocs(documents: DataFrame, blockLen: Int = 16,
      headLen: Int = 80, maxDist: Int = 24): DataFrame = {
    val d = documents.select(col("doc_id"),
      substring(col("text"), 1, blockLen).as("blk"),
      substring(col("text"), 1, headLen).as("head"))
    d.as("a")
      .join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.head"), col("b.head")).as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)

  }

  val dedupFuzzySql: String =
    """WITH d AS (
      |  SELECT doc_id, substr(text, 1, 16) AS blk, substr(text, 1, 80) AS head
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(levenshtein(a.head, b.head) AS INT) AS edit_dist
      |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE levenshtein(a.head, b.head) <= 24
      |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash estimator accuracy, first-class: for every band-candidate
    * pair, the signature-estimated Jaccard (matching slots / 16 — an exact
    * power-of-two division, bit-identical everywhere) next to the exact
    * Jaccard over the SAME universe the signature sketches: the distinct
    * 3-word shingle sets (comparing against token-set Jaccard would
    * conflate sketch error with the shingle-vs-token measure gap). This is
    * the operator that tells a 100 TB pipeline whether its sketch
    * parameters (16 slots, 4×4 bands) are tight enough to skip exact
    * verification — and being fully oracled, it proves the whole
    * signature math end-to-end across engines. */
  def minhashEstimate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Lazy localCheckpoint: the signature aggregation feeds THREE plan
    // branches (band-candidate generation + both pair sides); without it
    // each branch re-runs the corpus-wide shingle hashing. Lazy, so no
    // job runs at query construction — the first action materializes the
    // blocks once and all branches read them.
    val sig = minhashSlots(docs).localCheckpoint(false)
    val bands = sig.select(col("doc_id"),
      posexplode(array(bandCol(0), bandCol(1), bandCol(2), bandCol(3)))
        .as(Seq("band_idx", "band")))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") && col("a.band") === col("b.band") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    def side(tag: String) = sig.select(
      col("doc_id").as(s"doc_$tag") +:
        (0 until 16).map(j => col(s"m$j").as(s"${tag}m$j")): _*)
    val matches = (0 until 16)
      .map(j => when(col(s"am$j") === col(s"bm$j"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand
      .join(side("a"), "doc_a").join(side("b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (matches.cast("double") / 16.0).as("est_jaccard"))
    // both exact-side joins read the corpus-wide shingle build; pin it
    // once (the lshScurve pattern) instead of re-shingling per side
    val shl = shingleSets(docs).localCheckpoint(false)
    est
      .join(shl.select(col("doc_id").as("doc_a"), col("shl").as("shl_a")), "doc_a")
      .join(shl.select(col("doc_id").as("doc_b"), col("shl").as("shl_b")), "doc_b")
      .withColumn("i", size(array_intersect(col("shl_a"), col("shl_b"))))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        round(col("i").cast("double")
          / (size(col("shl_a")) + size(col("shl_b")) - col("i")) + lit(1e-9), 4)
          .as("jaccard"))
  }

  val minhashEstimateSql: String =
    s"""WITH $sigCtesSql,
       |bands AS (
       |$bandsCteBodySql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT doc_a, doc_b,
       |         (${(0 until 16).map(j =>
                    s"(CASE WHEN sa.m$j = sb.m$j THEN 1 ELSE 0 END)")
                    .mkString(" + ")}) / 16.0 AS est_jaccard
       |  FROM cand JOIN sig sa ON sa.doc_id = doc_a
       |            JOIN sig sb ON sb.doc_id = doc_b),
       |docsh AS (
       |  SELECT doc_id, $shingleListSql AS shl
       |  FROM docs0 WHERE len(toks) >= 3)
       |SELECT doc_a, doc_b, est_jaccard,
       |       round(len(list_intersect(da.shl, db.shl)) * 1.0
       |             / (len(da.shl) + len(db.shl)
       |                - len(list_intersect(da.shl, db.shl))) + 1e-9, 4) AS jaccard
       |FROM est JOIN docsh da ON da.doc_id = doc_a
       |         JOIN docsh db ON db.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  val dedupPipelineSql: String =
    s"""WITH RECURSIVE $sigCtesSql,
       |bands AS (
       |$bandsCteBodySql),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.bi = b.bi AND a.b = b.b AND a.doc_id < b.doc_id),
       |docsd AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM docs0),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b, len(list_intersect(da.dtoks, db.dtoks)) AS i,
       |           len(da.dtoks) AS na, len(db.dtoks) AS nb
       |    FROM cand JOIN docsd da ON da.doc_id = doc_a
       |              JOIN docsd db ON db.doc_id = doc_b)
       |  WHERE i * 1.0 / (na + nb - i) >= 0.8),
       |e AS (SELECT doc_a AS s, doc_b AS d FROM pairs
       |      UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(s, d) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s)
       |SELECT doc_id, group_id,
       |       CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size
       |FROM (SELECT s AS doc_id, min(d) AS group_id FROM reach GROUP BY s)
       |ORDER BY doc_id""".stripMargin

  /** The day-2 composite — the operators above welded into the pipeline a
    * standing 100 TB corpus actually runs when a new crawl snapshot lands,
    * each stage FEEDING the next (not a side-by-side rerun of the
    * individually-verified pieces):
    *
    *   1. ingest: sources src10-19 arrive raw (with the deterministic
    *      planted PII footer), src0-9 are the standing corpus;
    *   2. PII scrub at ingest ([[TextAnalysis.piiRedactOnDocs]]) — every
    *      downstream stage sees only the SCRUBBED text, so the residual
    *      `<EMAIL>`/`<IP>` tokens correctly participate in shingling;
    *   3. Bloom-prefiltered decontamination screen of the scrubbed batch
    *      against the eval set (standing docs 0-4), verbatim 4-gram
    *      shingles — same bits/probe as [[bloomDecontamination]];
    *   4. incremental near-dedup of the batch against the standing bands
    *      (old×new only, as [[dedupIncremental]]), verifying candidates at
    *      token-set Jaccard ≥ 0.8 over the scrubbed lake;
    *   5. acceptance manifest: per-doc verdict (`kept` = neither
    *      contaminated nor a near-dup) plus an order-independent modular
    *      checksum of the accepted ids — the day-2 analog of
    *      `q_table_checksum`'s fingerprint, broadcast back onto every row
    *      so the batch's audit record rides with its verdicts.
    *
    * 100 TB shape is inherited stage by stage: the scrub is per-row
    * projection, the screen is a broadcast Bloom + bounded verify join,
    * the dedup shuffles only fixed-size band keys old×new, and the
    * checksum is a 1-row aggregate broadcast back (never a corpus
    * shuffle). The DuckDB oracle replays the full chain via a shadowing
    * `documents` CTE (standing ∪ scrubbed batch) so every downstream
    * fragment — including the REUSED signature CTEs — reads the
    * pipeline's intermediate state, exactly like the engine.
    *
    * After acceptance, the standing lake's maintenance tail runs OUTSIDE
    * the query: the accepted batch appends small files to the current
    * day's partition, so the day-2 job closes with
    * [[graft.sources.TableOps.compactPartition]] over just that slice
    * (crash-safe stage+swap, sibling partitions untouched — spec'd in
    * ScaleToolsSpec) rather than a table-wide rewrite. */
  def dailyIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val numHashes = 5
    val k = 4
    val docs = Tables.documents(spark, sfDir)
      .withColumn("src_num", substring(col("source"), 4, 10).cast("int"))
    val standing = docs.filter(col("src_num") < 10)
      .select(col("doc_id"), col("source"), col("text"))
    val scrub = TextAnalysis.piiRedactOnDocs(
      TextAnalysis.withSyntheticPii(docs.filter(col("src_num") >= 10)), "raw_text")
    // Lazy localCheckpoint: the scrubbed batch feeds FOUR branches
    // (contamination shingles, band signatures, verify join, verdicts);
    // without it each branch re-runs the regexp cascade.
    val arriving = docs.filter(col("src_num") >= 10)
      .select(col("doc_id"), col("source"))
      .join(scrub, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("red_text").as("text"),
        (col("n_emails") + col("n_phones") + col("n_ips")).as("n_pii"))
      .localCheckpoint(false)

    def shingles4(df: DataFrame, idCol: String): DataFrame =
      shinglesOf(df, idCol, k)
    val bench = shingles4(standing.filter(col("doc_id") < 5), "bench_id")
    val bits = bloomBits(bench.select(col("shingle")), numHashes)
    val contam = shingles4(arriving, "doc_id")
      .filter(expr(bloomProbeSql(bits, numHashes, "shingle")))
      .join(broadcast(bench), "shingle")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contam"))

    val cands = minhashBands(standing).as("o")
      .join(minhashBands(arriving).as("n"),
        col("o.band_idx") === col("n.band_idx") && col("o.band") === col("n.band"))
      .select(col("o.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
      .distinct()
    val lake = standing.unionByName(arriving.select("doc_id", "source", "text"))
    val dups = jaccardVerify(lake, cands)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_a")).as("matched_old"))

    val verdicts = arriving.select(col("doc_id"), col("source"), col("n_pii"))
      .join(contam, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_pii"),
        col("n_contam").isNotNull.as("contaminated"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("matched_old"),
        (col("n_contam").isNull && col("n_dups").isNull).as("kept"))
      .localCheckpoint(false) // feeds both the manifest agg and the output
    val manifest = verdicts.filter(col("kept"))
      .agg(coalesce(
        pmod(sum(pmod(col("doc_id") * lit(2654435761L), lit(4294967291L))),
          lit(4294967291L)), lit(0L)).as("batch_checksum"))
    verdicts.crossJoin(broadcast(manifest))
  }

  // lazy: TextAnalysis's fragments may not be initialized yet if ITS init
  // (transitively) touched this object first — a plain val would freeze
  // the literal string "null" into the SQL (see graft-build-loop notes).
  lazy val dailyIngestSql: String = {
    import TextAnalysis.{EmailRe, PhoneRe, Ipv4Re, syntheticPiiSqlExpr}
    s"""WITH scrub AS MATERIALIZED (
       |  SELECT doc_id, source,
       |         regexp_replace(t2, '$Ipv4Re', '<IP>', 'g') AS text,
       |         CAST(len(regexp_extract_all(t0, '$EmailRe')) +
       |              len(regexp_extract_all(t1, '$PhoneRe')) +
       |              len(regexp_extract_all(t2, '$Ipv4Re')) AS BIGINT) AS n_pii
       |  FROM (
       |    SELECT doc_id, source, t0, t1,
       |           regexp_replace(t1, '$PhoneRe', '<PHONE>', 'g') AS t2
       |    FROM (
       |      SELECT doc_id, source, t0,
       |             regexp_replace(t0, '$EmailRe', '<EMAIL>', 'g') AS t1
       |      FROM (SELECT doc_id, source, $syntheticPiiSqlExpr AS t0
       |            FROM main.documents
       |            WHERE CAST(substr(source, 4) AS INT) >= 10)))),
       |documents AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM main.documents
       |  WHERE CAST(substr(source, 4) AS INT) < 10
       |  UNION ALL
       |  SELECT doc_id, source, text FROM scrub),
       |$sigCtesSql,
       |srcs AS (SELECT doc_id, CAST(substr(source, 4) AS INT) AS src_num
       |         FROM documents),
       |bands AS (
       |$bandsCteBodySql),
       |cand AS (
       |  SELECT DISTINCT o.doc_id AS doc_a, n.doc_id AS doc_b
       |  FROM bands o JOIN srcs so ON so.doc_id = o.doc_id
       |       JOIN bands n ON o.bi = n.bi AND o.b = n.b
       |       JOIN srcs sn ON sn.doc_id = n.doc_id
       |  WHERE so.src_num < 10 AND sn.src_num >= 10),
       |docsd AS (SELECT doc_id, list_distinct(toks) AS dtoks FROM docs0),
       |dup AS (
       |  SELECT doc_b AS doc_id, CAST(count(*) AS BIGINT) AS n_dups,
       |         min(doc_a) AS matched_old
       |  FROM (
       |    SELECT doc_a, doc_b, len(list_intersect(da.dtoks, db.dtoks)) AS i,
       |           len(da.dtoks) AS na, len(db.dtoks) AS nb
       |    FROM cand JOIN docsd da ON da.doc_id = doc_a
       |              JOIN docsd db ON db.doc_id = doc_b)
       |  WHERE i * 1.0 / (na + nb - i) >= 0.8
       |  GROUP BY doc_b),
       |sh4 AS MATERIALIZED (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(0, len(string_split(text, ' ')) - 3),
       |           i -> array_to_string(list_slice(string_split(text, ' '),
       |                  CAST(i + 1 AS INT), CAST(i + 4 AS INT)), ' ')))) AS shingle
       |  FROM documents WHERE len(string_split(text, ' ')) >= 4),
       |contam AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM sh4 c JOIN sh4 b ON c.shingle = b.shingle
       |       JOIN srcs sc ON sc.doc_id = c.doc_id
       |       JOIN srcs sb ON sb.doc_id = b.doc_id
       |  WHERE b.doc_id < 5 AND sb.src_num < 10 AND sc.src_num >= 10),
       |verdicts AS MATERIALIZED (
       |  SELECT s.doc_id, s.source, s.n_pii,
       |         c.doc_id IS NOT NULL AS contaminated,
       |         coalesce(d.n_dups, 0) AS n_dups, d.matched_old,
       |         (c.doc_id IS NULL AND d.doc_id IS NULL) AS kept
       |  FROM scrub s LEFT JOIN contam c ON c.doc_id = s.doc_id
       |       LEFT JOIN dup d ON d.doc_id = s.doc_id),
       |manifest AS (
       |  SELECT CAST(coalesce(
       |           sum((doc_id * 2654435761) % 4294967291) % 4294967291, 0)
       |         AS BIGINT) AS batch_checksum
       |  FROM verdicts WHERE kept)
       |SELECT v.doc_id, v.source, v.n_pii, v.contaminated, v.n_dups,
       |       v.matched_old, v.kept, m.batch_checksum
       |FROM verdicts v CROSS JOIN manifest m
       |ORDER BY v.doc_id""".stripMargin
  }
}
