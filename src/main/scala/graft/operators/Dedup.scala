package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

import graft.util.Ids

/** Deduplication operators for LLM training-data pipelines, each designed
  * as shuffle-bounded relational plans that survive a 100 TB corpus:
  *
  *   - exact:   hash-groupBy on a content digest — one shuffle on digest;
  *   - jaccard: blocked pairwise word-set Jaccard — candidate generation
  *     restricted by blocking keys AND the AllPairs/PPJoin prefix filter,
  *     so the self-join never goes quadratic in the corpus or in a block
  *     full of ubiquitous words;
  *   - minhash: MinHash signatures + banded LSH — candidates only for
  *     pairs sharing a band bucket, verified with exact Jaccard;
  *   - simhash: 64-bit SimHash + pigeonhole block index for Hamming<=k
  *     candidate pairs.
  *
  * All pair emission is bucket-local (groupBy/join on bucket keys), never
  * a driver-side loop; hot buckets are AQE-splittable skew joins.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact duplicate groups by md5 digest: one row per duplicated digest
    * with the keeper (min id) and the duplicate count. Portable to any
    * SQL oracle (md5 is md5 everywhere).
    */
  def exactDupGroups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("digest"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col(idCol)).as("keeper_id"))
      .filter(col("n_docs") > 1)

  /** Corpus with exact duplicates removed (keep min id per digest).
    *
    * Shape: `groupBy(digest).agg(min(id))` + left-semi join back — all
    * algebraic, so the map-side partial absorbs a viral digest duplicated
    * millions of times. (A `row_number` window partitioned by digest would
    * funnel every copy of a hot digest through one task; windows are not
    * AQE-splittable. PlanAuditSpec asserts this plan stays window-free.)
    */
  def dropExactDups(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val keepers = docs
      .groupBy(md5(col(textCol)).as("__digest"))
      .agg(min(col(idCol)).as("__keeper"))
    // <=> on the digest: md5(null text) is null and a null-unsafe ===
    // would silently drop ALL null-text rows (the oracle's row_number
    // formulation groups them and keeps the min id)
    docs.join(keepers,
      (md5(col(textCol)) <=> keepers("__digest")) &&
        col(idCol) === keepers("__keeper"),
      "left_semi")
  }

  // ------------------------------------------------- blocked word Jaccard

  /** Distinct word n-gram tokens: whitespace words for n=1, space-joined
    * sliding n-grams otherwise (a doc shorter than n words contributes
    * its whole text as one token, like [[shingles]]). Plain Scala so the
    * n>1 tokenization runs in a typed flatMap — a Column formulation via
    * `transform(sequence, slice, concat_ws)` is interpreted per gram and
    * measured ~6x slower over the corpus.
    */
  def ngramTokenSet(text: String, n: Int): Set[String] = {
    // non-empty-token semantics (round-13 fuzz): Java .trim strips all
    // chars <= 0x20 where the oracle's SQL trim strips spaces only, so
    // edge newlines produced different token strings cross-engine;
    // dropping empties is the convention both sides mirror. A doc with
    // no word content contributes no tokens at all.
    val w = (if (text == null) "" else text).split("\\s+")
      .filter(_.nonEmpty)
    if (w.isEmpty) Set.empty
    else if (n <= 1) w.toSet
    else if (w.length >= n) w.sliding(n).map(_.mkString(" ")).toSet
    else Set(w.mkString(" "))
  }

  /** Doc id as long, failing fast on a lossy cast — see
    * [[graft.util.Ids.longId]].
    */
  private def longId(idCol: String): Column = Ids.longId(idCol)

  /** (id, lang, blk, word) rows: one per distinct token per doc, with the
    * (lang, length-bucket) blocking key near-dups must share. n=1 stays
    * on the codegen'd split/explode path; n-grams take a typed flatMap.
    */
  private def blockedWords(docs: DataFrame, lenBucket: Int,
      textCol: String, idCol: String, ngram: Int): DataFrame =
    if (ngram <= 1)
      docs.select(
        longId(idCol).as("id"),
        col("lang"),
        floor(col("n_chars") / lenBucket.toDouble).cast("long").as("blk"),
        explode(array_distinct(filter(split(trim(col(textCol)), "\\s+"),
          w => w =!= ""))).as("word"))
    else {
      val spark = docs.sparkSession
      import spark.implicits._
      docs
        .select(longId(idCol).as("id"), col("lang"),
          floor(col("n_chars") / lenBucket.toDouble).cast("long").as("blk"),
          col(textCol).as("t"))
        .as[(Long, String, Long, String)]
        .flatMap { case (id, lang, blk, t) =>
          // null text emits no tokens — matching the n=1 Column path,
          // where explode(split(trim(null))) drops the row
          if (t == null) Iterator.empty
          else ngramTokenSet(t, ngram).iterator.map(g => (id, lang, blk, g))
        }
        .toDF("id", "lang", "blk", "word")
    }

  /** Within-block document frequency per token — feeds both the profile
    * sort order AND the per-block routing decision in [[jaccardPairs]].
    */
  private def dfTable(words: DataFrame): DataFrame =
    words.groupBy("lang", "blk", "word").agg(count(lit(1)).as("df"))

  /** Per-doc profile for the prefix-filtered join: the doc's full word
    * set sorted by within-block document frequency ascending (word as
    * tie-break), its size, and two prefix slices — the probing prefix
    * `n - ceil(t*n) + 1` and the shorter indexing prefix
    * `n - ceil((2t/(1+t))*n) + 1` (PPJoin's asymmetric prefixes; the
    * indexing bound holds for the smaller set of a pair). One df join +
    * one per-doc collect; the sort and slice happen in a typed map over
    * each doc's own (bounded) vocabulary — no window over an unbounded
    * key.
    */
  private def profilesFromWords(
      words: DataFrame,
      df: DataFrame,
      threshold: Double): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    words
      .join(df, Seq("lang", "blk", "word"))
      .groupBy("id", "lang", "blk")
      .agg(collect_list(struct(col("df"), col("word"))).as("wd"))
      .select(col("id").cast("long").as("id"), col("lang"), col("blk"),
        col("wd"))
      .as[(Long, String, Long, Seq[(Long, String)])]
      .map { case (id, lang, blk, wd) =>
        val sorted = wd.sorted // (df asc, word asc): rarest first
        val n = sorted.length
        val probeLen = n - math.ceil(threshold * n).toInt + 1
        val indexLen =
          n - math.ceil(2 * threshold / (1 + threshold) * n).toInt + 1
        (id, lang, blk, n, sorted.map(_._2),
          sorted.take(probeLen).map(_._2), sorted.take(indexLen).map(_._2))
      }
      .toDF("id", "lang", "blk", "n_words", "words", "prefix", "index_prefix")
  }

  /** Prefix-join candidate pairs over doc profiles: by the prefix-filter
    * lemma (Bayardo et al. WWW'07; Xiao et al. PPJoin) any pair with
    * Jaccard >= t has overlap >= ceil(t/(1+t)*(n1+n2)), which forces a
    * shared word between the SMALLER doc's indexing prefix and the larger
    * doc's probing prefix — so joining those prefixes loses no true pair
    * while ubiquitous words (the quadratic-blowup drivers) never enter
    * the join. A size-ratio filter (J <= min/max) prunes before
    * verification.
    */
  private def candidatesFromProfiles(profiles: DataFrame,
      threshold: Double): DataFrame = {
    // smaller set (by n, id tie-break) contributes its short indexing
    // prefix; the larger contributes the probing prefix. Positions ride
    // along for the positional filter below.
    val idx = profiles.select(col("lang"), col("blk"),
      posexplode(col("index_prefix")).as(Seq("posa", "word")),
      col("id").as("ida"), col("n_words").as("na"))
    val prb = profiles.select(col("lang"), col("blk"),
      posexplode(col("prefix")).as(Seq("posb", "word")),
      col("id").as("idb"), col("n_words").as("nb"))
    idx.join(prb, Seq("lang", "blk", "word"))
      .filter(col("na") < col("nb") ||
        (col("na") === col("nb") && col("ida") < col("idb")))
      // necessary size condition: J <= min(n1,n2)/max(n1,n2)
      .filter(col("na").cast("double") >=
        lit(threshold) * col("nb").cast("double"))
      // PPJoin positional filter, applied BEFORE the distinct: a match at
      // 0-based positions (i, j) bounds the overlap by
      // 1 + min(na-i-1, nb-j-1); J >= t needs overlap >=
      // t/(1+t)*(na+nb). Lossless: both docs sort by the same
      // block-global (df, word) order, so for a true pair the FIRST
      // common token's row always satisfies the bound — later, tighter
      // rows may drop, shrinking the distinct's input. The right side is
      // computed in floats, so it gets an epsilon of slack and NO ceil:
      // rounding the bound UP by one ulp would over-prune a boundary
      // true pair (e.g. t=0.43, na+nb=143: ceil(fp) = 44 but the true
      // minimal overlap is 43) — losing real output — while epsilon
      // under-pruning merely passes a few extra rows to the exact
      // verification stage.
      .filter(lit(1) + least(col("na") - col("posa") - 1,
          col("nb") - col("posb") - 1) >=
        lit(threshold / (1 + threshold)) * (col("na") + col("nb")) - lit(1e-9))
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
      .distinct()
  }

  /** PPJoin-side verification: candidates joined back to the profiles'
    * word arrays, one `array_intersect` per pair.
    */
  private def verifyFromProfiles(profiles: DataFrame,
      threshold: Double): DataFrame =
    candidatesFromProfiles(profiles, threshold)
      .join(profiles.select(col("id").as("id1"), col("words").as("w1"),
        col("n_words").as("n1")), "id1")
      .join(profiles.select(col("id").as("id2"), col("words").as("w2"),
        col("n_words").as("n2")), "id2")
      .withColumn("n_inter", size(array_intersect(col("w1"), col("w2"))))
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")

  /** Naive-side verification for dense blocks: a (block, word) self-join
    * counts each pair's shared words directly — the grouped-intersection
    * formulation. For a block whose candidate volume Σ df² is small this
    * is one shuffle join + one aggregation, with none of the PPJoin
    * machinery's constant factor (profile collect, prefix posexplode,
    * candidate distinct, array_intersect verify).
    */
  private def naivePairs(words: DataFrame, threshold: Double): DataFrame = {
    val sizes = words.groupBy("id").agg(count(lit(1)).as("n_words"))
    val a = words.select(col("lang"), col("blk"), col("word"),
      col("id").as("id1"))
    val b = words.select(col("lang"), col("blk"), col("word"),
      col("id").as("id2"))
    a.join(b, Seq("lang", "blk", "word"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select(col("id").as("id1"), col("n_words").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n_words").as("n2")), "id2")
      .withColumn("jaccard",
        round(col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Default per-block routing limit for [[jaccardPairs]]: blocks whose
    * naive (block, word) self-join would emit more than this many rows
    * (Σ df² over the block's vocabulary) take the PPJoin path; smaller
    * blocks take the naive grouped-intersection join. 2e8 rows is a few
    * seconds of one shuffle on 32 cores and scales out linearly with
    * executors, while the PPJoin constant factor only pays off past it.
    */
  val DefaultNaiveBlockVolume: Long = 200000000L

  /** Candidate pairs only, always via the prefix-filter path (exposed
    * for plan/volume assertions — linearity of candidate generation is
    * a property of THIS path, which [[jaccardPairs]] routes big blocks
    * through).
    *
    * `idCol` must be castable to long (see [[jaccardPairs]]).
    */
  def jaccardCandidates(
      docs: DataFrame,
      threshold: Double = 0.5,
      lenBucket: Int = 100,
      textCol: String = "text",
      idCol: String = "doc_id",
      ngram: Int = 1): DataFrame = {
    val words = blockedWords(docs, lenBucket, textCol, idCol, ngram)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.util.CacheRelease.afterFirstAction(
      candidatesFromProfiles(
        profilesFromWords(words, dfTable(words), threshold), threshold),
      Seq(words))
  }

  /** Pairwise token-set Jaccard >= `threshold` within (language, length
    * bucket) blocks, emitted as (id1 < id2, jaccard). Tokens are words
    * for `ngram = 1`, sliding word n-grams otherwise.
    *
    * Output is EXACTLY the naive blocked all-pairs join (the oracle SQL
    * keeps that formulation); the plan routes each block by its naive
    * candidate volume Σ df² (from the token df table the prefix sort
    * needs anyway):
    *
    *   - dense/small blocks (volume <= `naiveBlockVolume`) take the
    *     grouped-intersection (block, word) self-join — when the output
    *     is a large fraction of all pairs (tiny shared vocabulary),
    *     prefix filtering prunes almost nothing and its constant factor
    *     (profile collect, posexplode join, candidate distinct,
    *     array_intersect verify) makes it strictly slower;
    *   - big/skewed blocks take the AllPairs/PPJoin prefix-filter path —
    *     immune to ubiquitous high-df words that send the naive join
    *     quadratic (the adversarial bench entry: naive ≈ 7.5e9 rows,
    *     prefix path linear).
    *
    * Both paths compute the identical exact result, so routing never
    * changes output — only the plan. Blocks are (lang × length-bucket),
    * a bounded-cardinality key, so the routing table broadcasts.
    *
    * The token table, df table, and PPJoin profile table are persisted
    * for the duration of the FIRST action on the returned frame and
    * released by [[graft.util.CacheRelease]] when it completes;
    * re-executing the same frame afterwards recomputes them.
    *
    * `idCol` must be castable to long — like [[minhashPairs]] and
    * [[simhashPairs]], ids are compared and emitted as longs. A lossy
    * cast (non-numeric string id) raises an error at scan time rather
    * than silently dropping the doc's pairs.
    */
  def jaccardPairs(
      docs: DataFrame,
      threshold: Double = 0.5,
      lenBucket: Int = 100,
      textCol: String = "text",
      idCol: String = "doc_id",
      ngram: Int = 1,
      naiveBlockVolume: Long = DefaultNaiveBlockVolume): DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persisted: tokenization feeds the df agg, the routing split, and
    // (on each route) the pair joins — without it the (flatMap)
    // tokenization would run once per consumer
    val words = blockedWords(docs, lenBucket, textCol, idCol, ngram)
      .persist(mem)
    val df = dfTable(words).persist(mem)
    // (lang, blk) keys routed to the prefix path; bounded cardinality
    // (languages × length buckets), so both route filters broadcast.
    // Volume in double, not long: a ubiquitous token's df can reach 1e9+
    // at corpus scale, df² approaches Long.MaxValue and a long sum would
    // silently wrap negative — routing exactly the quadratic-killer
    // blocks AWAY from the prefix path. Double loses precision past 2^53
    // but never sign; routing only needs magnitude.
    val ppBlocks = df.groupBy("lang", "blk")
      .agg(sum(col("df").cast("double") * col("df")).as("__vol"))
      .filter(col("__vol") > lit(naiveBlockVolume.toDouble))
      .select("lang", "blk")
    val naive = naivePairs(
      words.join(broadcast(ppBlocks), Seq("lang", "blk"), "left_anti"),
      threshold)
    val profiles = profilesFromWords(
      words.join(broadcast(ppBlocks), Seq("lang", "blk"), "left_semi"),
      df, threshold)
      .persist(mem)
    graft.util.CacheRelease.afterFirstAction(
      naive.unionByName(verifyFromProfiles(profiles, threshold)),
      Seq(words, df, profiles))
  }

  // ----------------------------------------------------------- MinHash LSH

  /** Stable 32-bit token hash: the code-point murmur3
    * ([[graft.text.SqlText.murmurCp]] — bit-identical to
    * `MurmurHash3.stringHash` on BMP text, and identical to the DuckDB
    * replay on supplementary-plane text too, closing HashSql's
    * documented BMP-only precondition).
    */
  def tokenHash(s: String, seed: Int): Int =
    graft.text.SqlText.murmurCp(s, seed)

  private val MaxPerm = 256
  private val P = 4294967311L // first prime > 2^32
  // (a*x + b) mod p universal-hash constants, fixed seed — computed once
  // per JVM, not per row.
  private lazy val (permA, permB) = {
    val rnd = new java.util.Random(0x5eed)
    val as = Array.fill(MaxPerm)(1 + rnd.nextInt(Int.MaxValue).toLong)
    val bs = Array.fill(MaxPerm)(rnd.nextInt(Int.MaxValue).toLong)
    (as, bs)
  }

  /** The (a, b) universal-hash constants for the first `numPerm`
    * permutations — exposed for the q33 oracle SQL builder
    * (`HashSql`), which interpolates the SAME constants the signatures
    * use so query and oracle cannot drift.
    */
  private[graft] def permConstants(numPerm: Int): (Seq[Long], Seq[Long]) = {
    require(numPerm <= MaxPerm)
    (permA.take(numPerm).toSeq, permB.take(numPerm).toSeq)
  }

  /** The MinHash modulus, shared with the oracle SQL builder. */
  private[graft] def minhashP: Long = P

  /** MinHash signature of a token set: one min over the token hashes per
    * permutation, permutations simulated by the classic (a*x + b) mod p
    * universal family with constants derived from a fixed seed.
    */
  def minhashSignature(tokens: Iterable[String], numPerm: Int): Array[Long] = {
    require(numPerm <= MaxPerm, s"numPerm <= $MaxPerm")
    val as = permA
    val bs = permB
    val sig = Array.fill(numPerm)(Long.MaxValue)
    tokens.foreach { t =>
      val x = tokenHash(t, 42).toLong & 0xffffffffL
      var i = 0
      while (i < numPerm) {
        val h = (as(i) * x + bs(i)) % P
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Character shingles of width k (the classic near-dup unit). */
  def shingles(text: String, k: Int = 5): Set[String] =
    if (text == null || text.length < k) Set(if (text == null) "" else text)
    else (0 to text.length - k).view.map(i => text.substring(i, i + k)).toSet

  /** Candidate near-dup pairs via banded MinHash LSH, verified with exact
    * shingle Jaccard. `numPerm` = bands * rowsPerBand.
    *
    * Scale path: signatures are computed per-row (map-only); candidates
    * come from a groupBy on (band, bandHash) — pairs are only formed
    * within a bucket, and verification re-reads only candidate ids via a
    * join back to the corpus (no N^2 stage anywhere).
    */
  /** (id, band, bucket) LSH bucket keys for every doc: the banded MinHash
    * signature reduced to one hash per band. Shared by the self-join
    * ([[minhashPairs]]) and the batch-vs-base probe
    * ([[minhashPairsAgainst]]) so both populate identical buckets.
    */
  private def bandedBuckets(
      docs: DataFrame,
      bands: Int,
      rowsPerBand: Int,
      shingleK: Int,
      textCol: String,
      idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val numPerm = bands * rowsPerBand

    // Floor the projected (id, text) pairs' parallelism before the
    // CPU-heavy signature map: input splits track bytes, not compute,
    // and a single split must not serialize the whole corpus through
    // one task. cpuBoundAny (not an unconditional repartition): on a
    // many-partition cluster table this is a structural no-op.
    val sigs = graft.util.Spread.cpuBoundAny(docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .as[(Long, String)])
      .map { case (id, t) =>
        (id, minhashSignature(shingles(t, shingleK), numPerm))
      }
      .toDF("id", "sig")

    sigs.select(col("id"), posexplode(
      array((0 until bands).map { b =>
        hash(lit(b) +: (0 until rowsPerBand)
          .map(r => col("sig").getItem(b * rowsPerBand + r)): _*)
      }: _*)).as(Seq("band", "bucket")))
  }

  def minhashPairs(
      docs: DataFrame,
      threshold: Double = 0.7,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      shingleK: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    val banded = bandedBuckets(docs, bands, rowsPerBand, shingleK,
      textCol, idCol)

    val l = banded.select(col("band"), col("bucket"), col("id").as("id1"))
    val r = banded.select(col("band"), col("bucket"), col("id").as("id2"))
    val candidates = l
      .join(r, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()

    // Exact-verify candidates with shingle Jaccard.
    val texts = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("t"))
    graft.util.Spread.cpuBoundPost(candidates
      .join(texts.select(col("id").as("id1"), col("t").as("t1")), "id1")
      .join(texts.select(col("id").as("id2"), col("t").as("t2")), "id2")
      // using-column joins reorder columns (join key first) and
      // .as[Tuple] binds by ordinal — select explicitly or ids swap
      .select(col("id1"), col("id2"), col("t1"), col("t2")))
      // verify is CPU-bound (two shingle sets + intersect per pair);
      // AQE coalesces the small post-join BYTES into one partition and
      // serializes it (measured: a 9.8 s single-task stage) — spread via
      // cpuBoundPost, which never drops below the session's configured
      // shuffle width on a cluster
      .as[(Long, Long, String, String)]
      .map { case (id1, id2, t1, t2) =>
        val s1 = shingles(t1, shingleK)
        val s2 = shingles(t2, shingleK)
        val inter = s1.intersect(s2).size
        val jac =
          if (s1.isEmpty && s2.isEmpty) 1.0
          else inter.toDouble / (s1.size + s2.size - inter)
        (id1, id2, math.rint(jac * 1e6) / 1e6)
      }
      .toDF("id1", "id2", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  // ----------------------------------------------- incremental dedup

  /** Banded-MinHash probe of a NEW batch against an existing base corpus:
    * candidate (batch, base) pairs from shared LSH buckets, verified with
    * exact shingle Jaccard >= `threshold`. Neither side is paired with
    * itself — the rolling-crawl shape, where the base's buckets are
    * conceptually precomputed once and each incoming batch only probes
    * them (cost per batch: |batch| signatures + a bucket equi-join,
    * independent of |base| pair structure).
    */
  def minhashPairsAgainst(
      base: DataFrame,
      batch: DataFrame,
      threshold: Double = 0.7,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      shingleK: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._

    val baseBuckets = bandedBuckets(base, bands, rowsPerBand, shingleK,
        textCol, idCol)
      .select(col("band"), col("bucket"), col("id").as("base_id"))
    val batchBuckets = bandedBuckets(batch, bands, rowsPerBand, shingleK,
        textCol, idCol)
      .select(col("band"), col("bucket"), col("id").as("batch_id"))

    val candidates = batchBuckets
      .join(baseBuckets, Seq("band", "bucket"))
      .select("batch_id", "base_id")
      .distinct()

    val batchTexts = batch.select(col(idCol).cast("long").as("batch_id"),
      col(textCol).as("t1"))
    val baseTexts = base.select(col(idCol).cast("long").as("base_id"),
      col(textCol).as("t2"))
    graft.util.Spread.cpuBoundPost(candidates
      .join(batchTexts, "batch_id")
      .join(baseTexts, "base_id")
      // explicit select: using-column joins put the key first and the
      // tuple encoder binds by ordinal
      .select(col("batch_id"), col("base_id"), col("t1"), col("t2")))
      // CPU-bound verify: keep AQE's byte-based coalescing from
      // funnelling it into one task (see minhashPairs)
      .as[(Long, Long, String, String)]
      .map { case (batchId, baseId, t1, t2) =>
        val s1 = shingles(t1, shingleK)
        val s2 = shingles(t2, shingleK)
        val inter = s1.intersect(s2).size
        val jac =
          if (s1.isEmpty && s2.isEmpty) 1.0
          else inter.toDouble / (s1.size + s2.size - inter)
        (batchId, baseId, math.rint(jac * 1e6) / 1e6)
      }
      .toDF("batch_id", "base_id", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Exact-hash incremental check of a NEW batch against the base corpus:
    * each batch doc with the lowest-id base doc sharing its md5 digest
    * (`dup_of` NULL = content unseen). One digest map over each side and
    * one join on digest — the base is never re-paired with itself.
    */
  def incrementalExact(base: DataFrame, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val digests = base
      .select(md5(col(textCol)).as("digest"),
        col(idCol).cast("long").as("base_id"))
      .groupBy("digest")
      .agg(min("base_id").as("dup_of"))
    batch
      .select(col(idCol).cast("long").as(idCol), md5(col(textCol)).as("digest"))
      .join(digests, Seq("digest"), "left")
      .select(col(idCol), col("digest"), col("dup_of"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Full incremental-ingest classification of a batch against the base:
    * `exact_dup` (identical content exists) beats `near_dup` (a verified
    * MinHash neighbor at `threshold` exists) beats `new`. `dup_of` is the
    * matched base doc (exact match's keeper, else the lowest-id verified
    * neighbor). The production rolling-crawl gate: only `new` rows enter
    * the corpus, so the base never needs re-deduplication.
    */
  def incrementalLabel(base: DataFrame, batch: DataFrame,
      threshold: Double = 0.7,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      shingleK: Int = 5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val exact = incrementalExact(base, batch, textCol, idCol)
      .select(col(idCol), col("dup_of").as("exact_of"))
    val near = minhashPairsAgainst(base, batch, threshold, bands,
        rowsPerBand, shingleK, textCol, idCol)
      .groupBy("batch_id")
      .agg(min("base_id").as("near_of"))
      .withColumnRenamed("batch_id", idCol)
    batch
      .select(col(idCol).cast("long").as(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .select(
        col(idCol),
        when(col("exact_of").isNotNull, lit("exact_dup"))
          .when(col("near_of").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("label"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Exact embedding-cosine near-dup pairs: all (id1 < id2) with rounded
    * cosine >= threshold. Quadratic — the correctness baseline for
    * [[embeddingPairsLsh]] and small-table use only.
    */
  def embeddingPairsExact(
      embeddings: DataFrame,
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val a = embeddings.select(col(idCol).cast("long").as("id1"),
      col(vecCol).as("v1"))
    val b = embeddings.select(col(idCol).cast("long").as("id2"),
      col(vecCol).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("v1"), col("v2"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .flatMap { case (i1, i2, v1, v2) =>
        VectorSearch.finiteRoundedCosine(v1, v2).map(c => (i1, i2, c))
      }
      .toDF("id1", "id2", "cos_sim")
      .filter(col("cos_sim") >= threshold)
  }

  /** Generic Hamming-distance pairing over 64-bit fingerprints by
    * pigeonhole blocking: the bits split into `maxDist + 1` blocks, two
    * hashes within distance k must agree on ≥ 1 whole block, so
    * candidates come from a bucket-local equi-join on (block index,
    * block value) — never a quadratic scan — and each is verified with
    * an exact popcount. Shared by SimHash text dedup, perceptual-hash
    * image dedup and audio-fingerprint dedup; input is any
    * `(id: long, hash: long)` frame.
    */
  def hammingPairs(hashes: DataFrame, maxDist: Int,
      idCol: String = "id", hashCol: String = "hash"): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"bad maxDist $maxDist")
    val spark = hashes.sparkSession
    import spark.implicits._
    val nBlocks = maxDist + 1
    val width = 64 / nBlocks
    val blocks = hashes
      .select(col(idCol).cast("long"), col(hashCol).cast("long"))
      .as[(Long, Long)]
      .flatMap { case (id, ph) =>
        (0 until nBlocks).iterator.map { b =>
          val lo = b * width
          val hi = if (b == nBlocks - 1) 64 else lo + width
          val mask = if (hi - lo == 64) -1L else ((1L << (hi - lo)) - 1) << lo
          (b, ph & mask, id, ph)
        }
      }
      .toDF("blk", "blkval", "id", "phash")
    val a = blocks.select(col("blk"), col("blkval"),
      col("id").as("id1"), col("phash").as("h1"))
    val b = blocks.select(col("blk"), col("blkval"),
      col("id").as("id2"), col("phash").as("h2"))
    a.join(b, Seq("blk", "blkval"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
      .distinct()
  }

  /** SemDeDup-style semantic dup pairs (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): k-means-cluster the embedding space (deterministic
    * [[Ivf.trainCentroids]] — no RNG), then compare pairs only WITHIN a
    * cluster. The cluster bound is what makes semantic dedup tractable
    * at corpus scale: the pairwise stage is quadratic per cluster, not
    * per corpus — with C balanced clusters the candidate count drops by
    * ~C× — and the equi-join on `cell` is AQE-splittable if one cluster
    * runs hot. Cross-cluster near-dups are missed by construction; the
    * paper's (and this operator's) contract is that a cluster count
    * sized to the corpus keeps that miss rate small.
    *
    * Output (id1, id2, cos_sim ≥ threshold), id1 < id2 — same shape as
    * [[embeddingPairsExact]]/[[embeddingPairsLsh]], so the transitive
    * drop composes via [[DupGraph.dropNearDups]] unchanged.
    */
  def embeddingPairsKmeans(
      embeddings: DataFrame,
      threshold: Double,
      nClusters: Int = 16,
      iters: Int = 3,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    embeddingPairsKmeansFrom(embeddings,
      Ivf.trainCentroids(embeddings, nClusters, iters, idCol, vecCol),
      threshold, idCol, vecCol)

  /** The apply half of [[embeddingPairsKmeans]] against a PRE-TRAINED
    * centroid table — the production shape (the cluster model is a
    * versioned artifact) and what makes the pairing
    * DuckDB-oracle-expressible when the centroids are the frozen
    * committed [[FrozenCentroids.coarse16]].
    */
  def embeddingPairsKmeansFrom(
      embeddings: DataFrame,
      cents: Array[Array[Double]],
      threshold: Double,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cents)
    val assigned = embeddings
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .as[(Long, Array[Float])]
      .map { case (id, v) => (id, v, Ivf.nearestCell(v, bc.value)) }
      .toDF("id", "vec", "cell")
    val a = assigned.select(col("cell"), col("id").as("id1"), col("vec").as("v1"))
    val b = assigned.select(col("cell"), col("id").as("id2"), col("vec").as("v2"))
    a.join(b, Seq("cell"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("v1"), col("v2"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .flatMap { case (i1, i2, v1, v2) =>
        VectorSearch.finiteRoundedCosine(v1, v2).map(c => (i1, i2, c))
      }
      .toDF("id1", "id2", "cos_sim")
      .filter(col("cos_sim") >= threshold)
  }

  /** Scale path: signed-random-projection LSH with `tables` independent
    * hash tables of `nBits` hyperplane bits each — candidates share a
    * bucket in >= 1 table, then exact-cosine verified. Map-only signature
    * pass, bucket-local candidate joins, no quadratic stage. Recall per
    * true pair at cosine c is 1-(1-p^nBits)^tables with
    * p = 1 - arccos(c)/pi; tune (nBits, tables) to the threshold.
    */
  def embeddingPairsLsh(
      embeddings: DataFrame,
      threshold: Double,
      nBits: Int = 2,
      tables: Int = 4,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // all tables' signatures in ONE typed pass over the primitive vector
    // (bit-identical to the Column/HOF formulation, ~20x cheaper — the
    // signature pass touches every row × tables × nBits planes)
    val allPlanes = Array.tabulate(tables)(t =>
      VectorSearch.hyperplanes(nBits, dim, seed = 0x5eedL + t))
    val vecs = embeddings.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec"))
    val banded = vecs
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, v, allPlanes.map(p => VectorSearch.srpSignatureArray(v, p)).toSeq)
      }
      .toDF("id", "vec", "sigs")
      .select(col("id"), col("vec"),
        posexplode(col("sigs")).as(Seq("table", "bucket")))
    val l = banded.select(col("table"), col("bucket"), col("id").as("id1"))
    val r = banded.select(col("table"), col("bucket"), col("id").as("id2"))
    // dedup candidates on ids ONLY (distinct over vector payloads would
    // shuffle the vectors once per table), then join the vectors back
    val candidates = l.join(r, Seq("table", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
    candidates
      .join(vecs.select(col("id").as("id1"), col("vec").as("v1")), "id1")
      .join(vecs.select(col("id").as("id2"), col("vec").as("v2")), "id2")
      .select(col("id1"), col("id2"), col("v1"), col("v2"))
      .as[(Long, Long, Array[Float], Array[Float])]
      .flatMap { case (i1, i2, v1, v2) =>
        VectorSearch.finiteRoundedCosine(v1, v2).map(c => (i1, i2, c))
      }
      .toDF("id1", "id2", "cos_sim")
      .filter(col("cos_sim") >= threshold)
  }

  // -------------------------------------------------------------- SimHash

  /** 64-bit SimHash over whitespace tokens (unweighted): sign of the
    * per-bit vote across stable token hashes.
    */
  def simhash64(tokens: Iterable[String]): Long = {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h1 = tokenHash(t, 7).toLong & 0xffffffffL
      val h2 = tokenHash(t, 13).toLong & 0xffffffffL
      val h = (h1 << 32) | h2
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Near-dup pairs with Hamming distance <= maxDist via the pigeonhole
    * trick: split the 64-bit hash into maxDist+1 blocks; any pair within
    * distance must agree on >= 1 block, so candidates are an equi-join on
    * (blockIndex, blockValue).
    */
  def simhashPairs(
      docs: DataFrame,
      maxDist: Int = 3,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nBlocks = maxDist + 1
    val width = 64 / nBlocks

    val hashes = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .map { case (id, t) =>
        // null behaves like the empty doc, as in shingles(null) ==
        // shingles("") — every dedup family treats null text uniformly
        (id, simhash64((if (t == null) "" else t).trim.split("\\s+").toSeq))
      }
      .toDF("id", "sh")

    val blocks = hashes.select(col("id"), col("sh"), posexplode(
      array((0 until nBlocks).map { b =>
        // top block keeps the remaining high bits
        val lo = b * width
        val w = if (b == nBlocks - 1) 64 - lo else width
        (shiftrightunsigned(col("sh"), lo)
          .bitwiseAND(lit(if (w == 64) -1L else (1L << w) - 1L)))
      }: _*)).as(Seq("blk", "blkval")))

    val l = blocks.select(col("blk"), col("blkval"),
      col("id").as("id1"), col("sh").as("sh1"))
    val r = blocks.select(col("blk"), col("blkval"),
      col("id").as("id2"), col("sh").as("sh2"))
    l.join(r, Seq("blk", "blkval"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("sh1").bitwiseXOR(col("sh2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }
}
