package graft.queries

import graft.Tables
import graft.operators.{Decontamination, Dedup, Multimodal, TextAnalysis, TfIdf, VectorSearch}
import graft.pipeline.DirtPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (dedup, text analysis, similarity
  * search, multimodal plumbing) and the DIRT pipeline itself, as
  * driver-checkable queries.
  *
  * The fixture corpus has no exact duplicates, so dedup queries that need
  * them run over `dupCorpus`: documents unioned with a copy of the first
  * 50 docs under offset ids — deterministic, fixture-derived, and exactly
  * expressible in the oracle SQL (`UNION ALL` + `doc_id + 100000`).
  */
object PipelineQueries {

  private val DupOffset = 100000L

  /** Guard for every DupOffset-shifted augmentation (ADVICE r11): the
    * shift is hardcoded in both engines' corpus constructions, so a
    * fixture whose ids reach DupOffset would silently merge shifted
    * copies with real docs. Fail loudly instead — the cost is one
    * column-pruned max() scan per augmenting query.
    */
  private def requireIdHeadroom(docs: DataFrame): DataFrame = {
    // max() over zero rows is a null cell — an empty fixture trivially
    // has headroom, and getLong on it would NPE instead of failing loud
    val row = docs.agg(max(col("doc_id").cast("long"))).head()
    if (!row.isNullAt(0)) {
      val mx = row.getLong(0)
      require(mx < DupOffset,
        s"fixture doc_id max $mx >= shift $DupOffset: dup ids would collide")
    }
    docs
  }

  /** documents ∪ re-id'd copy of docs 0-49 (guaranteed exact dups). */
  def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = requireIdHeadroom(Tables.documents(s, d))
    docs.unionByName(
      docs.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + DupOffset))
  }

  private val dupCorpusSql =
    """(SELECT * FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
        FROM documents WHERE doc_id < 50)"""

  // Exact dedup groups (md5 digest) over the dup'd corpus — also exercises
  // union (O3).
  val q30 = Q.checked(
    "q30_dedup_exact_groups",
    s"""SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS keeper_id
        FROM $dupCorpusSql
        GROUP BY digest
        HAVING count(*) > 1
        ORDER BY digest""") { (s, d) =>
    Dedup.exactDupGroups(dupCorpus(s, d)).orderBy("digest")
  }

  // Exact-dup removal: keep min doc_id per digest.
  val q31 = Q.checked(
    "q31_dedup_drop_exact",
    s"""SELECT doc_id FROM $dupCorpusSql
        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
        ORDER BY doc_id""") { (s, d) =>
    Dedup.dropExactDups(dupCorpus(s, d)).select("doc_id").orderBy("doc_id")
  }

  // Blocked word-set Jaccard near-dup pairs (block = lang + length bucket).
  val q32 = Q.checked(
    "q32_dedup_jaccard",
    """WITH words AS (
         SELECT doc_id AS id, lang,
                CAST(floor(n_chars / 100.0) AS BIGINT) AS blk,
                unnest(list_distinct(list_filter(
                  regexp_split_to_array(text, '[\s\x0B]+'),
                  x -> x <> ''))) AS word
         FROM documents),
       counts AS (SELECT id, count(*) AS n_words FROM words GROUP BY id),
       inter AS (
         SELECT a.id AS id1, b.id AS id2, count(*) AS n_inter
         FROM words a
         JOIN words b ON a.lang = b.lang AND a.blk = b.blk AND a.word = b.word
         WHERE a.id < b.id
         GROUP BY a.id, b.id)
       SELECT id1, id2, jaccard FROM (
         SELECT id1, id2,
                round(n_inter / (c1.n_words + c2.n_words - n_inter), 6) AS jaccard
         FROM inter
         JOIN counts c1 ON c1.id = id1
         JOIN counts c2 ON c2.id = id2)
       WHERE jaccard >= 0.5
       ORDER BY id1, id2""") { (s, d) =>
    Dedup.jaccardPairs(graft.util.Spread.cpuBound(Tables.documents(s, d)),
        threshold = 0.5)
      .orderBy("id1", "id2")
  }

  // Word-TRIGRAM Jaccard near-dup pairs: same prefix-filtered machinery
  // on sliding 3-gram tokens — far more discriminating than unigrams
  // (word order matters), the "n-gram Jaccard" dedup variant. The oracle
  // recomputes the naive all-pairs formulation with a DuckDB list
  // comprehension; output-exactness of the prefix filter makes the two
  // formulations hash-equal.
  val q53 = Q.checked(
    "q53_dedup_ngram_jaccard",
    """WITH t AS (
         SELECT doc_id AS id, lang,
                CAST(floor(n_chars / 100.0) AS BIGINT) AS blk,
                list_filter(regexp_split_to_array(text, '[\s\x0B]+'),
                            x -> x <> '') AS toks
         FROM documents),
       g AS (
         SELECT id, lang, blk, word FROM (
           SELECT id, lang, blk,
                  unnest(CASE WHEN len(toks) >= 3
                    THEN list_distinct([array_to_string(toks[i:i+2], ' ')
                                        for i in range(1, len(toks) - 1)])
                    ELSE [array_to_string(toks, ' ')] END) AS word
           FROM t)
         WHERE word <> ''),
       counts AS (SELECT id, count(*) AS n_words FROM g GROUP BY id),
       inter AS (
         SELECT a.id AS id1, b.id AS id2, count(*) AS n_inter
         FROM g a
         JOIN g b ON a.lang = b.lang AND a.blk = b.blk AND a.word = b.word
         WHERE a.id < b.id
         GROUP BY a.id, b.id)
       SELECT id1, id2, jaccard FROM (
         SELECT id1, id2,
                round(n_inter / (c1.n_words + c2.n_words - n_inter), 6) AS jaccard
         FROM inter
         JOIN counts c1 ON c1.id = id1
         JOIN counts c2 ON c2.id = id2)
       WHERE jaccard >= 0.5
       ORDER BY id1, id2""") { (s, d) =>
    Dedup.jaccardPairs(graft.util.Spread.cpuBound(Tables.documents(s, d)), threshold = 0.5, ngram = 3)
      .orderBy("id1", "id2")
  }

  // A fixed-size slice of the dup'd corpus (200 base docs + the 50
  // planted twins) for brute-force property oracles: the slice never
  // grows with SF, so an exact quadratic check over it costs the same
  // at sf0.001 and sf100.
  private def dupSlice(s: SparkSession, d: String): DataFrame =
    dupCorpus(s, d)
      .filter(col("doc_id") < 200 ||
        (col("doc_id") >= DupOffset && col("doc_id") < DupOffset + 50))
      .select(col("doc_id").cast("long").as("id"), col("text"))

  // MinHash LSH near-dup candidates + exact verify — murmur3-seeded, not
  // SQL-expressible: rows-only (the dup'd corpus guarantees hits).
  // Tight banding (8x16: candidate prob ~ J^16 per band) — the fixture
  // docs share one small vocabulary, so shingle sets overlap heavily and
  // loose 4-row bands would make candidate generation quadratic.
  //
  // PROPERTY ORACLE (in-query): candidate recall against the exact pair
  // set — every slice pair with true shingle Jaccard >= threshold+0.2
  // (brute-forced over the fixed 250-doc slice, the same metric the
  // operator verifies with) must surface in the LSH output; at J >= 0.9
  // the 8x16 banding's per-pair hit probability is >0.998 and the seeded
  // signatures make the outcome deterministic. The 50 planted twins
  // (J = 1.0 exactly, identical signatures => structurally guaranteed
  // candidates) keep the check non-vacuous at every SF.
  // Round 12: hash-oracled — `HashSql.minhashPairs` replays murmur3
  // string hashing, the 128-permutation signature, band-slice candidate
  // join and exact-Jaccard verify in DuckDB from the same constants.
  val q33 = Q.checked("q33_dedup_minhash", HashSql.minhashPairs) { (s, d) =>
    import s.implicits._
    val got = Dedup.minhashPairs(dupCorpus(s, d), threshold = 0.7,
      bands = 8, rowsPerBand = 16).persist()
    val slice = dupSlice(s, d)
    val exactHigh = slice.select(col("id").as("id1"), col("text").as("t1"))
      .join(slice.select(col("id").as("id2"), col("text").as("t2")),
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("t1"), col("t2"))
      .as[(Long, Long, String, String)]
      .map { case (i1, i2, t1, t2) =>
        val s1 = Dedup.shingles(t1)
        val s2 = Dedup.shingles(t2)
        val inter = s1.intersect(s2).size
        val j = if (s1.isEmpty && s2.isEmpty) 1.0
        else inter.toDouble / (s1.size + s2.size - inter)
        (i1, i2, j)
      }
      .toDF("id1", "id2", "j")
      .filter(col("j") >= 0.9)
    val nHigh = exactHigh.count()
    require(nHigh >= 50,
      s"property oracle vacuous: only $nHigh exact slice pairs at J>=0.9")
    val missed = exactHigh.join(got, Seq("id1", "id2"), "left_anti").count()
    require(missed == 0,
      s"MinHash LSH missed $missed of $nHigh exact slice pairs at J>=0.9")
    graft.util.CacheRelease.afterFirstAction(
      got.orderBy("id1", "id2"), Seq(got))
  }

  // SimHash pigeonhole Hamming<=3 pairs — rows-only for the same reason.
  //
  // PROPERTY ORACLE (in-query): the pigeonhole split is a THEOREM — two
  // hashes within Hamming maxDist must agree on >= 1 of maxDist+1 blocks
  // — so exact recall is 100% at any SF: every slice pair whose
  // brute-forced simhash distance is <= maxDist must appear in the
  // output, planted twins (distance 0) included.
  // Round 12: hash-oracled — `HashSql.simhashPairs` replays murmur3,
  // the per-bit vote, the pigeonhole block join and the Hamming verify.
  val q34 = Q.checked("q34_dedup_simhash", HashSql.simhashPairs) { (s, d) =>
    import s.implicits._
    val got = Dedup.simhashPairs(dupCorpus(s, d), maxDist = 3).persist()
    val slice = dupSlice(s, d)
    val hashed = slice
      .as[(Long, String)]
      .map { case (id, t) =>
        (id, Dedup.simhash64((if (t == null) "" else t).trim.split("\\s+").toSeq))
      }
      .toDF("id", "sh")
    val exactClose = hashed.select(col("id").as("id1"), col("sh").as("h1"))
      .join(hashed.select(col("id").as("id2"), col("sh").as("h2")),
        col("id1") < col("id2"))
      .filter(bit_count(col("h1").bitwiseXOR(col("h2"))) <= 3)
      .select("id1", "id2")
    val nClose = exactClose.count()
    require(nClose >= 50,
      s"property oracle vacuous: only $nClose exact slice pairs at dist<=3")
    val missed = exactClose.join(got, Seq("id1", "id2"), "left_anti").count()
    require(missed == 0,
      s"SimHash pigeonhole missed $missed of $nClose exact slice pairs — " +
        "the block-agreement theorem was violated")
    graft.util.CacheRelease.afterFirstAction(
      got.orderBy("id1", "id2"), Seq(got))
  }

  // Embedding-cosine near-dup, exact variant — the oracle-checked
  // correctness baseline for the LSH scale path. The all-pairs join is
  // documented "small-table use only", so the query bounds its input the
  // way any real caller must (vec_id < 1000 covers the whole sf0.01
  // fixture — correctness coverage unchanged — and stops the bench from
  // spending a quarter of its budget on a deliberately quadratic plan).
  val q45 = Q.checked(
    "q45_dedup_embedding_exact",
    """SELECT id1, id2, cos_sim FROM (
         SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]), 6) AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 1000 AND b.vec_id < 1000)
       WHERE cos_sim >= 0.4
       ORDER BY id1, id2""") { (s, d) =>
    Dedup.embeddingPairsExact(
      Tables.embeddings(s, d).filter(col("vec_id") < 1000), threshold = 0.4)
      .orderBy("id1", "id2")
  }

  // The same exact embedding near-dup through the NATIVE cosine_sim
  // Catalyst expression (whole-stage codegen, no typed flatMap, no HOFs)
  // — same oracle as q45, so the expression's cross-engine numeric
  // semantics are pinned. isnan guard: Spark SQL orders NaN above all
  // doubles, so a bare `>= threshold` would KEEP degenerate vectors the
  // typed path drops.
  val q60 = Q.checked(
    "q60_native_cosine_expr",
    """SELECT id1, id2, cos_sim FROM (
         SELECT a.vec_id AS id1, b.vec_id AS id2,
                round(list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]), 6) AS cos_sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 1000 AND b.vec_id < 1000)
       WHERE cos_sim >= 0.4
       ORDER BY id1, id2""") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 1000)
    val a = emb.select(col("vec_id").as("id1"), col("embedding").as("v1"))
    val b = emb.select(col("vec_id").as("id2"), col("embedding").as("v2"))
    a.join(b, col("id1") < col("id2"))
      // explode(array(e)) is a deliberate pushdown barrier: a bare
      // projected cos_sim would be substituted into the filter and pushed
      // into the join CONDITION, evaluating the kernel 2x per candidate
      // pair (isnan + threshold) plus once per survivor — measured 2.6x
      // slower. Behind the Generate it runs exactly once per pair in a
      // codegen'd stage, which is also the plan you'd want at 100 TB.
      .select(col("id1"), col("id2"),
        explode(array(round(
          graft.functions.GraftFunctions.cosineSim(col("v1"), col("v2")), 6)))
          .as("cos_sim"))
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= 0.4)
      .orderBy("id1", "id2")
  }

  // LSH-bucketed variant (hyperplane-seeded → rows-only); recall vs the
  // exact baseline asserted in DedupEmbeddingSpec AND require-gated
  // in-query: >= 0.8 of the exact pairs on the fixed vec_id < 1000
  // slice (q45's oracled formulation — the bounded slice keeps the
  // quadratic check constant-cost at any SF) must appear in the LSH
  // output. Seeded hyperplanes make the gate deterministic (0.94
  // observed).
  // Round 12: hash-oracled — seeded hyperplanes interpolated into the
  // `AnnSql.srpPairs` twin (signature, bucket join, rounded-cosine
  // verify all replayed in DuckDB); the recall-floor gate stays.
  val q46 = Q.checked("q46_dedup_embedding_lsh", AnnSql.srpPairs) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val got = Dedup.embeddingPairsLsh(Tables.embeddings(s, d),
      threshold = 0.4, nBits = 2, tables = 4).persist()
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 1000)
    val exact = emb.select(col("vec_id").as("id1"), col("embedding").as("v1"))
      .join(emb.select(col("vec_id").as("id2"), col("embedding").as("v2")),
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        explode(array(round(
          graft.functions.GraftFunctions.cosineSim(col("v1"), col("v2")), 6)))
          .as("cos_sim"))
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= 0.4)
      .select("id1", "id2")
    val nExact = exact.count()
    val hit = exact
      .join(got.select("id1", "id2"), Seq("id1", "id2"), "left_semi")
      .count()
    require(nExact > 0 && hit.toDouble / nExact >= 0.8,
      s"embedding-LSH recall $hit/$nExact below 0.8 on the exact slice")
    graft.util.CacheRelease.afterFirstAction(
      got.orderBy("id1", "id2"), Seq(got))
  }

  // Exact brute-force cosine top-k against DuckDB's list_cosine_similarity
  // (both sides compute in float64; scores rounded to 6dp before ranking).
  val q35 = Q.checked(
    "q35_ann_cosine_topk",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                  FROM embeddings WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)),
       scored AS (
         SELECT q.query_id, e.vec_id AS neighbor_id,
                round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.qvec AS DOUBLE[])), 6) AS cos_sim
         FROM embeddings e CROSS JOIN q
         WHERE e.vec_id <> q.query_id)
       SELECT query_id, neighbor_id, cos_sim, rank FROM (
         SELECT query_id, neighbor_id, cos_sim,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
         FROM scored)
       WHERE rank <= 5
       ORDER BY query_id, neighbor_id""") { (s, d) =>
    VectorSearch.cosineTopK(Tables.embeddings(s, d), queryIds = 0L to 9L, k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "neighbor_id")
  }

  // The same exact top-k through the typed-UDAF surface: the k-bounded
  // TopKAggregator in groupByKey(...).agg — partial aggregation bounds
  // shuffle bytes per query at k, the UDAF twin of q35's mapPartitions
  // plan. Same oracle formulation as q35, so the two surfaces can never
  // drift apart silently.
  val q50 = Q.checked(
    "q50_udaf_topk",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                  FROM embeddings WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)),
       scored AS (
         SELECT q.query_id, e.vec_id AS neighbor_id,
                round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.qvec AS DOUBLE[])), 6) AS cos_sim
         FROM embeddings e CROSS JOIN q
         WHERE e.vec_id <> q.query_id)
       SELECT query_id, neighbor_id, cos_sim, rank FROM (
         SELECT query_id, neighbor_id, cos_sim,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
         FROM scored)
       WHERE rank <= 5
       ORDER BY query_id, neighbor_id""") { (s, d) =>
    import s.implicits._
    VectorSearch.cosineScores(Tables.embeddings(s, d), queryIds = 0L to 9L)
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(t => (t._2, t._3))
      .agg(graft.functions.TopKAggregator(5).toColumn.name("topk"))
      .flatMap { case (q, topk) =>
        topk.iterator.zipWithIndex.map { case ((id, sc), i) =>
          (q, id, sc, (i + 1).toLong)
        }
      }
      .toDF("query_id", "neighbor_id", "cos_sim", "rank")
      .orderBy("query_id", "neighbor_id")
  }

  // In-query ANN recall floor for the approximate-search family: the
  // approximate result must contain at least `floor` of the
  // oracled-exact top-5 pairs — q35's exact formulation recomputed here
  // (one broadcast query-set pass over the corpus, the same cost class
  // as the q35 baseline every ANN variant is graded against). All the
  // approximate paths are RNG-free/seeded, so measured recall is
  // deterministic and a floor is a real gate, not a coin flip.
  private def requireAnnRecall(s: SparkSession, d: String, got0: DataFrame,
      floor: Double, label: String): DataFrame = {
    // the ANN result feeds both the recall gate (an action here) and
    // the caller's output action: persist it so the operator runs once,
    // released after the caller's first action (the q78 pattern)
    val got = got0.persist()
    val exact = VectorSearch.cosineTopK(Tables.embeddings(s, d),
      queryIds = 0L to 9L, k = 5)
      .select("query_id", "neighbor_id")
    val nExact = exact.count()
    val hit = exact
      .join(got.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_semi")
      .count()
    require(nExact > 0 && hit.toDouble / nExact >= floor,
      s"$label recall $hit/$nExact below floor $floor vs the exact top-k")
    graft.util.CacheRelease.afterFirstAction(got, Seq(got))
  }

  /** Frozen per-fixture quantizer artifacts with a live-training
    * fallback for corpora without a committed quantizer (scale probes,
    * new fixtures) -- same recipe either way, so behavior off the
    * frozen fixtures is exactly the pre-freeze operator.
    *
    * IN-QUERY drift gate (the FrozenClassifier discipline): artifacts
    * are keyed only by dir BASENAME, so a regenerated corpus in a dir
    * named sf0.01/sf0.1 would otherwise silently get a quantizer fitted
    * to the old data -- and q86/q108/q137 carry no recall floor that
    * could catch it at run time. On first frozen use per (JVM, dir),
    * retrain live with the freeze recipe and require the frozen
    * artifact within CentroidDriftTolerance (float treeAggregate reduce
    * order is the only slack tolerated -- a corpus or recipe change
    * fails the driver run loudly). Training stays load-bearing in every
    * query execution path, not just in FrozenCentroidsSpec.
    */
  private val CentroidDriftTolerance = 1e-8
  private val centroidDriftChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def requireCentroidDrift(kind: String, d: String,
      frozen: Array[Array[Double]], live: Array[Array[Double]]): Unit = {
    require(frozen.length == live.length,
      s"$kind($d): frozen has ${frozen.length} rows, live ${live.length}")
    var worst = 0.0
    for (i <- frozen.indices; j <- frozen(i).indices) {
      val e = math.abs(frozen(i)(j) - live(i)(j))
      if (e > worst) worst = e
    }
    require(worst <= CentroidDriftTolerance,
      s"$kind($d): frozen artifact drifts $worst from live retrain -- " +
        "corpus or recipe changed; regenerate via graft.FreezeCentroids")
  }

  /** Run the one-time frozen-quantizer drift gates eagerly, OUTSIDE any
    * timed region (Bench warmup): the gates are per-JVM verification,
    * not query work, and first-touch inside a timed entry would charge
    * the retrain to whichever ann-family entry runs first.
    */
  def warmFrozenQuantizers(s: SparkSession, d: String): Unit = {
    frozenCoarse(s, d)
    frozenCodebooks(s, d)
    ()
  }

  private def frozenCoarse(s: SparkSession, d: String): Array[Array[Double]] =
    graft.operators.FrozenCentroids.coarseFor(d) match {
      case Some(frozen) =>
        // only a PASSING check is recorded: a failure swallowed by a
        // tolerant caller (Bench warmup) must re-fire loudly on the
        // next use, not vanish
        if (!centroidDriftChecked.contains(s"coarse:$d")) {
          // raw single-split read: the frozen artifacts' provenance is
          // the deterministic scan order (see FreezeCentroids), so the
          // drift retrain reproduces that order at any core count
          requireCentroidDrift("coarse", d, frozen,
            graft.operators.Ivf.trainCentroids(Tables.raw(s, d, "embeddings"),
              nList = 16, iters = 2))
          centroidDriftChecked.add(s"coarse:$d")
        }
        frozen
      case None =>
        graft.operators.Ivf.trainCentroids(Tables.embeddings(s, d),
          nList = 16, iters = 2)
    }

  private def frozenCodebooks(s: SparkSession,
      d: String): graft.operators.Pq.Codebooks =
    graft.operators.FrozenCentroids.codebooksFor(d) match {
      case Some(frozen) =>
        if (!centroidDriftChecked.contains(s"pq:$d")) {
          val live = graft.operators.Pq.trainCodebooks(
            Tables.raw(s, d, "embeddings"), m = 8, ksub = 16, iters = 2)
          for (j <- 0 until frozen.m)
            requireCentroidDrift(s"pq[$j]", d, frozen.cents(j), live.cents(j))
          centroidDriftChecked.add(s"pq:$d")
        }
        frozen
      case None =>
        graft.operators.Pq.trainCodebooks(Tables.embeddings(s, d),
          m = 8, ksub = 16, iters = 2)
    }

  // SRP-LSH approximate top-k — hyperplane-seeded, rows-only. Multi-table
  // (16 tables × 4 bits): the fixture's true top-5 neighbors sit at low
  // cosine (the hard, near-random regime), where a single table's bucket
  // recall is ~5%; unioning independent tables restores it the way any
  // production SRP deployment does.
  // Round 12: hash-oracled — the hyperplanes are a pure function of the
  // committed seeds, so `AnnSql.srpTopK` interpolates them and DuckDB
  // replays signature, bucket probe and exact ranking bit-for-bit.
  val q36 = Q.checked("q36_ann_srp_topk", AnnSql.srpTopK) { (s, d) =>
    requireAnnRecall(s, d,
      VectorSearch.srpTopK(Tables.embeddings(s, d), queryIds = 0L to 9L,
        k = 5, nBits = 4, tables = 16),
      floor = 0.5, label = "SRP-LSH")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "neighbor_id")
  }

  // IVF coarse-quantized ANN over the FROZEN 16-cell quantizer
  // (round 12): assignment, probing and ranking are deterministic
  // relational algebra both engines replay from the same committed
  // centroids (`AnnSql.ivfTopK`), so the driver hash-compares the whole
  // search. Training stays live elsewhere: drift-gated in
  // FrozenCentroidsSpec, recall-gated at sf0.1 by the bench require.
  val q44 = Q.checked("q44_ann_ivf_topk", AnnSql.ivfTopK) { (s, d) =>
    requireAnnRecall(s, d,
      graft.operators.Ivf.ivfTopKFrom(Tables.embeddings(s, d),
        frozenCoarse(s, d), queryIds = 0L to 9L, k = 5, nProbe = 6),
      floor = 0.9, label = "IVF")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "neighbor_id")
  }

  // Product-quantization ADC ANN — 8 subspaces × 16 codes over the
  // 64-dim embeddings (32× compression; scoring touches only code ids
  // + per-query lookup tables). Round 12: the codebooks are the FROZEN
  // committed artifacts, so encode + ADC + shortlist + exact re-rank
  // hash-match the DuckDB twin (`AnnSql.pqTopK`); training drift-gated
  // in FrozenCentroidsSpec, reconstruction-cosine identity in PqSpec.
  val q85 = Q.checked("q85_ann_pq_topk", AnnSql.pqTopK) { (s, d) =>
    requireAnnRecall(s, d,
      graft.operators.Pq.pqTopKFrom(Tables.embeddings(s, d),
        frozenCodebooks(s, d), queryIds = 0L to 9L, k = 5, rerank = 50),
      floor = 0.6, label = "PQ/ADC")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "neighbor_id")
  }

  // SemDeDup semantic near-dup pairs: k-means clusters bound the
  // pairwise cosine stage (quadratic per CLUSTER, not per corpus).
  // Round 12: clusters come from the FROZEN quantizer, so assignment +
  // within-cluster scoring hash-match the DuckDB twin
  // (`AnnSql.kmeansPairs`); within-cluster equivalence to brute force
  // stays asserted in DedupEmbeddingSpec.
  val q86 = Q.checked("q86_dedup_semantic_kmeans", AnnSql.kmeansPairs) {
    (s, d) =>
      Dedup.embeddingPairsKmeansFrom(Tables.embeddings(s, d),
        frozenCoarse(s, d), threshold = 0.4)
        .orderBy("id1", "id2")
  }

  // Distributed BPE merge training over the corpus word histogram —
  // tokenizer training as iterative relational passes. Round 11:
  // hash-oracled — `BpeTrainSql` unrolls the 12 training rounds as
  // chained materialized CTEs where each round's argmax WINNER is a
  // one-row CTE cross-joined into the next round's merge application,
  // so DuckDB retrains the table from scratch (no frozen literals) and
  // the driver hash-compares training itself: pair counting, the
  // (-count, left, right) tie-break, and greedy replay all at once.
  // The in-query distributed==sequential require stays (it gates the
  // BENCH run at sf0.1, where the oracle doesn't look), and BpeSpec
  // additionally pins the sequential reference itself against an
  // independent implementation and the paper's hand-checked merges.
  val q88 = Q.checked("q88_bpe_merges", BpeTrainSql.sql) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val got = graft.operators.Bpe.trainMerges(docs, nMerges = 12)
    val hist = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect().toSeq
    val want = graft.operators.Bpe.sequentialMerges(hist, 12)
    val gotSeq = got.as[(Int, String, String, Long)].collect().toSeq
      .sortBy(_._1)
    require(gotSeq == want,
      s"distributed BPE merges diverge from the sequential reference " +
        s"(first got=${gotSeq.headOption} want=${want.headOption})")
    got.orderBy("rank")
  }

  // Gopher-style composite quality filter: the integer-exact rules
  // (token-count range, mean word length in deci-chars, top-bigram and
  // duplicate-token permille caps) plus the pass verdict. Thresholds
  // are interpolated into the oracle from the same Scala constants, so
  // query and oracle cannot drift.
  private val GfMinTok = 20L
  private val GfMaxTok = 80L
  private val GfMinWl = 30L
  private val GfMaxWl = 60L
  private val GfMaxBigram = 250L
  private val GfMaxDup = 400L

  val q89 = Q.checked(
    "q89_text_gopher_filter",
    s"""WITH t AS (
         SELECT doc_id, list_filter(regexp_split_to_array(text, '[\\s\\x0B]+'),
                                    x -> x <> '') AS toks
         FROM documents),
       g AS (
         SELECT doc_id,
                unnest([toks[i] || ' ' || toks[i + 1]
                        for i in range(1, len(toks))]) AS gram
         FROM t WHERE len(toks) >= 2),
       cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
       topb AS (SELECT doc_id, max(c) AS topb FROM cnt GROUP BY 1),
       m AS (
         SELECT t.doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(CASE WHEN len(toks) > 0
                     THEN 10 * length(array_to_string(toks, '')) // len(toks)
                     ELSE 0 END AS BIGINT) AS word_len_deci,
                CAST(CASE WHEN len(toks) > 0
                     THEN 2000 * coalesce(topb.topb, 0) // len(toks)
                     ELSE 0 END AS BIGINT) AS bigram_permille,
                CAST(CASE WHEN len(toks) > 0
                     THEN 1000 * (len(toks) - len(list_distinct(toks))) // len(toks)
                     ELSE 0 END AS BIGINT) AS dup_token_permille
         FROM t LEFT JOIN topb ON t.doc_id = topb.doc_id)
       SELECT doc_id, n_tokens, word_len_deci, bigram_permille,
              dup_token_permille,
              (n_tokens BETWEEN $GfMinTok AND $GfMaxTok
               AND word_len_deci BETWEEN $GfMinWl AND $GfMaxWl
               AND bigram_permille <= $GfMaxBigram
               AND dup_token_permille <= $GfMaxDup) AS pass
       FROM m
       ORDER BY doc_id""") { (s, d) =>
    TextAnalysis.gopherFilter(Tables.documents(s, d),
      minTokens = GfMinTok, maxTokens = GfMaxTok,
      minWordLenDeci = GfMinWl, maxWordLenDeci = GfMaxWl,
      maxBigramPermille = GfMaxBigram, maxDupPermille = GfMaxDup)
      .orderBy("doc_id")
  }

  // Misra-Gries heavy hitters: the sketch supplies the candidate set
  // and its guarantees are require-verified in-query against exact
  // counts; the OUTPUT is the exact-counted >n/k tokens — deterministic
  // and fully oracle-able even though sketch content is
  // merge-order-dependent. Completes the sketch family (HLL q14, GK
  // q51, Bloom q62, MinHash/SimHash/SRP).
  val q90 = Q.checked(
    "q90_text_heavy_hitters",
    """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS word
                    FROM documents),
       t2 AS (SELECT word FROM tok WHERE word <> ''),
       c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM t2 GROUP BY word),
       n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t2)
       SELECT word, cnt FROM c CROSS JOIN n
       WHERE cnt > n // 30
       ORDER BY word""") { (s, d) =>
    TextAnalysis.heavyHitters(Tables.documents(s, d), k = 30)
      .orderBy("word")
  }

  /** The q91/q161 synthetic messy URL (mixed-case scheme/host, default
    * port, utm_* params, fragments), built identically in both engines
    * from doc_id.
    */
  private def syntheticUrl: org.apache.spark.sql.Column = concat(
    lit("HTTP://WWW.Example"), (col("doc_id") % 7).cast("string"),
    lit(".COM:80/Path/"), (col("doc_id") % 13).cast("string"),
    when(col("doc_id") % 3 === 0,
      concat(lit("/?utm_source=x&id="), (col("doc_id") % 5).cast("string")))
      .when(col("doc_id") % 3 === 1,
        concat(lit("?id="), (col("doc_id") % 5).cast("string"),
          lit("&utm_campaign=y")))
      .otherwise(lit("/")),
    when(col("doc_id") % 2 === 0, lit("#Frag")).otherwise(lit("")))

  // URL canonicalization + URL-keyed dedup: synthetic messy URLs
  // (mixed-case scheme/host, default port, utm_* params, fragments)
  // built identically on both sides from doc_id, normalized by the
  // SAME regex chain (no capture-group replacements — the one syntax
  // where Java regex and RE2 disagree), then keeper-joined on the
  // canonical form. Window-free: groupBy(min) + equi-join.
  val q91 = Q.checked(
    "q91_curation_url_dedup",
    """WITH u AS (
         SELECT doc_id,
                'HTTP://WWW.Example' || (doc_id % 7) || '.COM:80/Path/' ||
                (doc_id % 13) ||
                CASE WHEN doc_id % 3 = 0
                     THEN '/?utm_source=x&id=' || (doc_id % 5)
                     WHEN doc_id % 3 = 1
                     THEN '?id=' || (doc_id % 5) || '&utm_campaign=y'
                     ELSE '/' END ||
                CASE WHEN doc_id % 2 = 0 THEN '#Frag' ELSE '' END AS url
         FROM documents),
       n AS (
         SELECT doc_id, url,
                lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
         FROM u),
       h AS (
         SELECT doc_id, url, scheme,
                lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
                regexp_replace(rest, '^[^/?#]*', '') AS tail
         FROM n),
       m AS (
         SELECT doc_id, url,
                CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END ||
                CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
                     WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
                     ELSE hostport END ||
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(tail, '#.*', ''),
                        '&utm_[^&]*', '', 'g'),
                      '\?utm_[^&]*&', '?'),
                    '\?utm_[^&]*$', ''),
                  '/+$', '') AS norm_url
         FROM h)
       SELECT doc_id, url, norm_url, keeper_id
       FROM m
       JOIN (SELECT norm_url, min(doc_id) AS keeper_id
             FROM m GROUP BY norm_url) k USING (norm_url)
       ORDER BY doc_id""") { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), syntheticUrl.as("url"))
      .withColumn("norm_url", graft.operators.Curation.normalizeUrl(col("url")))
    val keepers = t.groupBy("norm_url").agg(min("doc_id").as("keeper_id"))
    t.join(keepers, "norm_url")
      .select("doc_id", "url", "norm_url", "keeper_id")
      .orderBy("doc_id")
  }

  // Second end-to-end curation composition, over THIS round's stages:
  // URL-keyed dedup (q91's synthetic urls; keep doc_id == keeper) →
  // chunk-level dedup on the survivors (q81, cleaned text, empty docs
  // dropped) → Gopher filter on the CLEANED text (q89 rules) →
  // temperature mixture weights per language over what passed (q82).
  // One DuckDB CTE chain composes the four stage oracles — catching
  // interface drift between them, like q78 does for the round-7 stages.
  val q92 = Q.checked(
    "q92_curate_webcrawl_pipeline",
    s"""WITH u AS (
         SELECT doc_id,
                'HTTP://WWW.Example' || (doc_id % 7) || '.COM:80/Path/' ||
                (doc_id % 13) ||
                CASE WHEN doc_id % 3 = 0
                     THEN '/?utm_source=x&id=' || (doc_id % 5)
                     WHEN doc_id % 3 = 1
                     THEN '?id=' || (doc_id % 5) || '&utm_campaign=y'
                     ELSE '/' END ||
                CASE WHEN doc_id % 2 = 0 THEN '#Frag' ELSE '' END AS url
         FROM documents),
       n0 AS (
         SELECT doc_id,
                lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
         FROM u),
       h0 AS (
         SELECT doc_id, scheme,
                lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport,
                regexp_replace(rest, '^[^/?#]*', '') AS tail
         FROM n0),
       m0 AS (
         SELECT doc_id,
                CASE WHEN scheme = '' THEN '' ELSE scheme || '://' END ||
                CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
                     WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
                     ELSE hostport END ||
                regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(tail, '#.*', ''),
                        '&utm_[^&]*', '', 'g'),
                      '\\?utm_[^&]*&', '?'),
                    '\\?utm_[^&]*$$', ''),
                  '/+$$', '') AS norm_url
         FROM h0),
       survivors AS (
         SELECT d.doc_id, d.text, d.lang
         FROM documents d
         JOIN (SELECT doc_id, norm_url FROM m0) mu ON mu.doc_id = d.doc_id
         JOIN (SELECT norm_url, min(doc_id) AS keeper_id
               FROM m0 GROUP BY norm_url) k
           ON k.norm_url = mu.norm_url AND k.keeper_id = d.doc_id),
       t AS (SELECT doc_id, lang,
                    regexp_split_to_array(trim(text), '[\\s\\x0B]+') AS toks
             FROM survivors),
       c AS (SELECT doc_id, i AS idx,
                    array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS chunk
             FROM (SELECT doc_id, toks,
                          unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
                   FROM t)),
       dupc AS (SELECT chunk FROM c
                GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
       kept AS (SELECT doc_id, idx, chunk FROM c
                WHERE chunk NOT IN (SELECT chunk FROM dupc)),
       rebuilt AS (SELECT doc_id,
                          string_agg(chunk, ' ' ORDER BY idx) AS clean_text
                   FROM kept GROUP BY doc_id),
       cleaned AS (
         SELECT t.doc_id, t.lang, r.clean_text,
                regexp_split_to_array(trim(r.clean_text), '[\\s\\x0B]+') AS ctoks
         FROM t JOIN rebuilt r ON r.doc_id = t.doc_id
         WHERE r.clean_text <> ''),
       g2 AS (
         SELECT doc_id,
                unnest([ctoks[i] || ' ' || ctoks[i + 1]
                        for i in range(1, len(ctoks))]) AS gram
         FROM cleaned WHERE len(ctoks) >= 2),
       cnt2 AS (SELECT doc_id, gram, count(*) AS cg FROM g2 GROUP BY 1, 2),
       topb2 AS (SELECT doc_id, max(cg) AS topb FROM cnt2 GROUP BY 1),
       metrics AS (
         SELECT cl.doc_id, cl.lang,
                CAST(len(ctoks) AS BIGINT) AS n_tokens,
                CAST(CASE WHEN len(ctoks) > 0
                     THEN 10 * length(array_to_string(ctoks, '')) // len(ctoks)
                     ELSE 0 END AS BIGINT) AS word_len_deci,
                CAST(CASE WHEN len(ctoks) > 0
                     THEN 2000 * coalesce(tb.topb, 0) // len(ctoks)
                     ELSE 0 END AS BIGINT) AS bigram_permille,
                CAST(CASE WHEN len(ctoks) > 0
                     THEN 1000 * (len(ctoks) - len(list_distinct(ctoks))) // len(ctoks)
                     ELSE 0 END AS BIGINT) AS dup_token_permille
         FROM cleaned cl LEFT JOIN topb2 tb ON tb.doc_id = cl.doc_id),
       passed AS (
         SELECT doc_id, lang FROM metrics
         WHERE n_tokens BETWEEN $GfMinTok AND $GfMaxTok
           AND word_len_deci BETWEEN $GfMinWl AND $GfMaxWl
           AND bigram_permille <= $GfMaxBigram
           AND dup_token_permille <= $GfMaxDup),
       lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
              FROM passed GROUP BY lang),
       sc AS (SELECT lang, n_docs,
                     CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
                       AS score
              FROM lc),
       tot AS (SELECT CAST(sum(score) AS BIGINT) AS total_score FROM sc)
       SELECT lang, n_docs,
              (1000000 * score) // total_score AS weight_ppm,
              (10000 * ((1000000 * score) // total_score)) // 1000000
                AS target_docs
       FROM sc CROSS JOIN tot
       ORDER BY lang""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val url = concat(
      lit("HTTP://WWW.Example"), (col("doc_id") % 7).cast("string"),
      lit(".COM:80/Path/"), (col("doc_id") % 13).cast("string"),
      when(col("doc_id") % 3 === 0,
        concat(lit("/?utm_source=x&id="), (col("doc_id") % 5).cast("string")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("?id="), (col("doc_id") % 5).cast("string"),
            lit("&utm_campaign=y")))
        .otherwise(lit("/")),
      when(col("doc_id") % 2 === 0, lit("#Frag")).otherwise(lit("")))
    val withNorm = docs
      .withColumn("norm_url", graft.operators.Curation.normalizeUrl(url))
    val keepers = withNorm.groupBy("norm_url")
      .agg(min("doc_id").as("keeper_id"))
    val survivors = withNorm.join(keepers,
      withNorm("norm_url") === keepers("norm_url") &&
        col("doc_id") === col("keeper_id"), "left_semi")
    val cleaned = graft.operators.Passages.dedupChunks(survivors)
      .filter(col("clean_text") =!= "")
      .select(col("doc_id"), col("clean_text"))
    val withLang = cleaned.join(docs.select("doc_id", "lang"), "doc_id")
    val passed = TextAnalysis.gopherFilter(withLang,
      minTokens = GfMinTok, maxTokens = GfMaxTok,
      minWordLenDeci = GfMinWl, maxWordLenDeci = GfMaxWl,
      maxBigramPermille = GfMaxBigram, maxDupPermille = GfMaxDup,
      textCol = "clean_text")
      .filter(col("pass"))
      .join(withLang.select("doc_id", "lang"), "doc_id")
    graft.operators.Curation
      .temperatureWeights(passed, groupCol = "lang")
      .orderBy("lang")
  }

  // foreachBatch custom sink, made effectively-once: the events table
  // streamed (file source, AvailableNow) through writeBatchIdempotent
  // and read back via readCommitted must equal the plain table —
  // exactly-once through the at-least-once escape hatch. Replay and
  // torn-write behavior are pinned in StreamOpsSpec.
  val q93 = Q.checked(
    "q93_stream_foreachbatch_sink",
    """SELECT event_id, user_id, event_type, value
       FROM events ORDER BY event_id""") { (s, d) =>
    val out = s"${sys.props("java.io.tmpdir")}/graft_fbsink_${ProcessHandle.current().pid()}"
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(root, true) // markers from a previous sf would skip writes
    // explicit pruned schema: the file's TIMESTAMP(NANOS) ts column is
    // unreadable without a legacy conf, and this sink doesn't need it —
    // requesting only these columns keeps the reader off it entirely
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    // the file-stream source requires a DIRECTORY; stage the single
    // fixture file into one
    val inDir = new org.apache.hadoop.fs.Path(s"$out/in")
    fs.mkdirs(inDir)
    org.apache.hadoop.fs.FileUtil.copy(
      fs, new org.apache.hadoop.fs.Path(s"$d/events.parquet"),
      fs, new org.apache.hadoop.fs.Path(inDir, "events.parquet"),
      false, s.sessionState.newHadoopConf())
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/_ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        graft.streaming.StreamOps.writeBatchIdempotent(df, id, s"$out/data")
        ()
      }
      .start()
    q.awaitTermination()
    graft.streaming.StreamOps.readCommitted(s, s"$out/data")
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  // Ordered funnel (view → click → purchase, first-touch semantics):
  // per-step min-ts chain, window-free — the oracle is the same
  // min-chain as correlated CTEs.
  val q94 = Q.checked(
    "q94_events_funnel",
    """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                  FROM events),
       s1 AS (SELECT user_id, min(ts) AS t FROM e
              WHERE event_type = 'view' GROUP BY user_id),
       s2 AS (SELECT e.user_id, min(e.ts) AS t FROM e
              JOIN s1 ON s1.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.t
              GROUP BY e.user_id),
       s3 AS (SELECT e.user_id, min(e.ts) AS t FROM e
              JOIN s2 ON s2.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.t
              GROUP BY e.user_id)
       SELECT * FROM (
         SELECT 1 AS step, 'view' AS step_name,
                CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
         UNION ALL
         SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
         UNION ALL
         SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT))
       ORDER BY step""") { (s, d) =>
    graft.operators.EventAnalytics
      .funnel(Tables.events(s, d), Seq("view", "click", "purchase"))
  }

  // Weekly retention cohorts: cohort = Monday-truncated first-activity
  // week; both engines' date_trunc('week') is ISO-Monday, and the
  // distinct (user, week) reduction is integer-exact.
  val q95 = Q.checked(
    "q95_events_retention",
    """WITH w AS (SELECT DISTINCT user_id,
                         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week
                  FROM events),
       c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY user_id)
       SELECT c.cohort_week,
              CAST(date_diff('day', c.cohort_week, w.week) // 7 AS INT) AS week_offset,
              CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
       FROM w JOIN c ON c.user_id = w.user_id
       GROUP BY 1, 2
       ORDER BY 1, 2""") { (s, d) =>
    graft.operators.EventAnalytics.retention(Tables.events(s, d))
      .orderBy("cohort_week", "week_offset")
  }

  // Count-Min token estimates beside exact counts: the sketch's
  // never-underestimates invariant is require-checked per row. Round
  // 12: hash-oracled — the sketch is exactly reproducible (murmur3 row
  // hashes, exact Long counters, order-independent merge), so
  // `HashSql.countMin` rebuilds the identical counter matrix in DuckDB
  // and replays every estimate (determinism + error bounds stay pinned
  // in CountMinSpec).
  val q98 = Q.checked("q98_text_countmin", HashSql.countMin) { (s, d) =>
    TextAnalysis.cmTokenEstimates(Tables.documents(s, d))
      .orderBy("word")
  }

  // FastText-style quality classifier, trained ON the engine (60
  // rounds of distributed full-batch logistic gradient descent over
  // hashing-trick features) to recover a planted token signal (docs
  // containing 'spark' — the fixture's lang column is uncorrelated
  // with its text by construction, so a planted label is the honest
  // learnability probe, same pattern as q66/q70's constructed
  // inputs), then scored map-only. Round 12: hash-oracled via the
  // frozen-artifact discipline — the committed FrozenClassifier
  // checkpoint (quantized Long weights) makes the scoring margin
  // exact BIGINT arithmetic both engines replay (ClassifierSql), and
  // TRAINING stays load-bearing: the live-trained weights must land
  // within DriftTolerance (1e-8) of the frozen artifact or the query
  // require-fails — float treeAggregate reduce order is the only
  // slack tolerated, a recipe change is a driver-visible failure.
  // Unknown corpora (scale probes) fall back to live float scoring.
  val q99 = Q.checked("q99_classifier_quality",
    ClassifierSql.quantizedScores) { (s, d) =>
    import graft.operators.FrozenClassifier
    val docs = Tables.documents(s, d)
      .withColumn("label",
        array_contains(split(trim(col("text")), "\\s+"), "spark")
          .cast("double"))
    // binary presence features: the fixture docs share one small
    // vocabulary, so the signal is WHICH tokens appear — 0/1 features
    // keep its gradient scale independent of doc length
    val w = graft.operators.Classifier.train(docs, dim = 2048, iters = 60,
      lr = 2.0, binary = true)
    val scored = FrozenClassifier.weightsQFor(d) match {
      case Some(wq) =>
        val drift = w.zipWithIndex.map { case (x, i) =>
          math.abs(math.rint(x * FrozenClassifier.Scale).toLong - wq(i))
        }.max
        require(drift <= FrozenClassifier.DriftTolerance,
          s"live-trained weights drifted $drift quantized units from the " +
            "frozen artifact — regenerate with runMain " +
            "graft.FreezeClassifierWeights")
        graft.operators.Classifier.scoreQuantized(docs, wq,
          FrozenClassifier.Scale)
      case None =>
        graft.operators.Classifier.score(docs, w, binary = true)
    }
    val joined = scored.join(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("label")),
      "doc_id")
    val n = joined.count().toDouble
    val correct = joined
      .filter((col("p") > 0.5) === (col("label") === 1.0)).count()
    require(correct / n >= 0.9,
      f"classifier training accuracy ${correct / n}%.3f below 0.9")
    joined
      .select(col("doc_id"), round(col("p"), 6).as("p"), col("label"))
      .orderBy("doc_id")
  }

  // Per-group heavy hitters (one Misra-Gries sketch per language):
  // sketch guarantees require-verified per group, output = each
  // group's exact-counted >n_g/k tokens — fully oracle-able like q90.
  val q100 = Q.checked(
    "q100_text_heavy_hitters_grouped",
    """WITH tok AS (SELECT lang AS grp,
                           unnest(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS word
                    FROM documents),
       t2 AS (SELECT grp, word FROM tok WHERE word <> ''),
       c AS (SELECT grp, word, CAST(count(*) AS BIGINT) AS cnt
             FROM t2 GROUP BY grp, word),
       n AS (SELECT grp, CAST(count(*) AS BIGINT) AS total
             FROM t2 GROUP BY grp)
       SELECT c.grp AS lang, c.word, c.cnt
       FROM c JOIN n ON n.grp = c.grp
       WHERE c.cnt > n.total // 30
       ORDER BY lang, word""") { (s, d) =>
    TextAnalysis.heavyHittersByGroup(Tables.documents(s, d), k = 30)
      .orderBy("lang", "word")
  }

  // Deflate compression ratio (the RefinedWeb gibberish/boilerplate
  // signal). Round 12 (VERDICT r11 #5): hash-oracled against a
  // committed expected table computed by CPython's zlib (level 6 —
  // an independent implementation of the same RFC-1950/1951 coder the
  // query runs through java.util.zip.Deflater; outputs spot-verified
  // byte-identical), regenerated by `tools/freeze_compression.py`.
  // DuckDB cannot deflate, but it can replay the frozen expectation —
  // so the driver's hash compare certifies UTF-8 encoding, the drain
  // loop and the permille arithmetic against a second zlib. The
  // monotonicity closed forms stay pinned in CompressionSpec.
  val q101 = Q.checked("q101_text_compression_ratio",
    FrozenCompressionSql.sql) { (s, d) =>
    TextAnalysis.compressionStats(Tables.documents(s, d))
      .orderBy("doc_id")
  }

  // Per-event sessionization (gaps-and-islands, 30-min gap): windows
  // partitioned per USER (bounded state) with a unique (ts, event_id)
  // tiebreak so the running session counter is deterministic.
  val q104 = Q.checked(
    "q104_events_sessionize",
    """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
                  FROM events),
       m AS (SELECT event_id, user_id, ts,
                    CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                         THEN 1 ELSE 0 END AS new_s
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       SELECT event_id, user_id, ts,
              CAST(sum(new_s) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                AS session_seq
       FROM m ORDER BY user_id, ts, event_id""") { (s, d) =>
    graft.operators.EventAnalytics
      .sessionize(Tables.events(s, d).select("event_id", "user_id", "ts"))
      .select("event_id", "user_id", "ts", "session_seq")
      .orderBy("user_id", "ts", "event_id")
  }

  // Winsorization per event type at exact P5/P95 (q47 already pins
  // percentile == quantile_cont parity): clipped values rounded on
  // both sides.
  val q105 = Q.checked(
    "q105_curation_winsorize",
    """WITH b AS (SELECT event_type,
                         quantile_cont(value, 0.05) AS lo,
                         quantile_cont(value, 0.95) AS hi
                  FROM events GROUP BY event_type)
       SELECT e.event_id, e.event_type,
              round(e.value, 6) AS value,
              round(least(greatest(e.value, b.lo), b.hi), 6)
                AS value_winsorized
       FROM events e JOIN b ON b.event_type = e.event_type
       ORDER BY e.event_id""") { (s, d) =>
    graft.operators.Curation
      .winsorize(Tables.events(s, d).select("event_id", "event_type", "value"),
        valueCol = "value", groupCol = "event_type")
      .select(col("event_id"), col("event_type"),
        round(col("value"), 6).as("value"),
        round(col("value_winsorized"), 6).as("value_winsorized"))
      .orderBy("event_id")
  }

  // Image near-dup dedup by perceptual hash (LAION-style): every doc
  // gets a patterned PNG; docs < 50 also get a sparsely-noised twin
  // under an offset id. The aHash/pigeonhole machinery must pair every
  // planted twin with its original (require-checked in-query) without
  // quadratic scans. ImageIO + murmur-free but codec-bound — rows-only;
  // hash determinism + twin-distance bounds pinned in the spec.
  // Round 12: hash-oracled — the planted pattern is closed-form and
  // the PNG round-trip lossless, so `MediaSql.imageDedup` recomputes
  // every aHash as pure integer arithmetic and brute-forces the
  // Hamming pairs; a codec bug Spark-side changes its hashes and
  // fails the compare.
  val q106 = Q.checked("q106_multimodal_image_dedup", MediaSql.imageDedup) {
    (s, d) =>
    import s.implicits._
    val ids = graft.util.Spread.cpuBound(
      Tables.documents(s, d).select(col("doc_id").cast("long")).as[Long])
    val media = ids.mapPartitions(_.flatMap { id =>
      val a = 1 + (id % 97).toInt
      val b = 1 + (id % 89).toInt
      val base = (id,
        graft.operators.Multimodal.encodePatternPng(32, 32, a, b, noise = false))
      if (id < 50)
        Iterator(base, (id + DupOffset,
          graft.operators.Multimodal.encodePatternPng(32, 32, a, b, noise = true)))
      else Iterator(base)
    }).toDF("doc_id", "payload")
    val pairs = graft.operators.Multimodal.imageDupPairs(media, maxDist = 6)
    val planted = pairs
      .filter(col("id2") === col("id1") + DupOffset && col("id1") < 50)
      .count()
    require(planted == 50,
      s"expected all 50 planted twins within Hamming 6, found $planted")
    pairs.orderBy("id1", "id2")
  }

  // Audio near-dup dedup by energy-envelope fingerprint — the audio
  // twin of q106: every doc gets an envelope-patterned WAV, docs < 50
  // also a perturbed twin; all 50 planted twins must pair within
  // Hamming 6 through the shared pigeonhole machinery (a ranges over
  // 1..28 — a ≡ 0 mod 29 would make the envelope CONSTANT, every frame
  // tied at the mean, and the twin's perturbation would flip 13 bits
  // at once). Codec-bound,
  // rows-only; distances pinned in MultimodalPhashSpec.
  // Round 12: hash-oracled — `MediaSql.audioDedup`, the audio twin of
  // the q106 promotion (closed-form envelope, lossless PCM).
  val q107 = Q.checked("q107_multimodal_audio_dedup", MediaSql.audioDedup) {
    (s, d) =>
    import s.implicits._
    val ids = graft.util.Spread.cpuBound(
      Tables.documents(s, d).select(col("doc_id").cast("long")).as[Long])
    val media = ids.mapPartitions(_.flatMap { id =>
      val a = 1 + (id % 28).toInt // never 0 mod 29: envelope stays varied
      val b = (id % 29).toInt
      val base = (id,
        graft.operators.Multimodal.encodeEnvelopeWav(a, b, noise = false))
      if (id < 50)
        Iterator(base, (id + DupOffset,
          graft.operators.Multimodal.encodeEnvelopeWav(a, b, noise = true)))
      else Iterator(base)
    }).toDF("doc_id", "payload")
    val pairs = graft.operators.Multimodal.audioDupPairs(media, maxDist = 6)
    val planted = pairs
      .filter(col("id2") === col("id1") + DupOffset && col("id1") < 50)
      .count()
    require(planted == 50,
      s"expected all 50 planted audio twins within Hamming 6, found $planted")
    pairs.orderBy("id1", "id2")
  }

  // SemDeDup end-to-end: the q86 k-means-bounded semantic pairs fed
  // through the SAME connected-components + keeper-drop machinery the
  // text dedup family uses (the pair-shape compatibility claim, made
  // concrete) — embeddings in, deduplicated keeper ids out. Round 12:
  // frozen quantizer makes the whole composition hash-match the DuckDB
  // twin (`AnnSql.kmeansDrop` — pairs + recursive-CTE closure + min-id
  // keeper, the q68/q69 oracle pattern).
  val q108 = Q.checked("q108_dedup_semantic_drop", AnnSql.kmeansDrop) {
    (s, d) =>
    val emb = Tables.embeddings(s, d)
    val pairs = Dedup.embeddingPairsKmeansFrom(emb,
      frozenCoarse(s, d), threshold = 0.4)
    // cached: the label table feeds THREE consumers (the node/component
    // gate agg, the keeper-drop anti-join, and nothing else) — without
    // the cache each action re-runs the labeling aggregation over the
    // checkpointed fixed-point edges (guide §1.2: don't recompute what
    // you already have)
    val comps = graft.operators.DupGraph.components(pairs).persist()
    val kept = graft.operators.DupGraph
      .dropNearDupsByComponents(emb, comps, idCol = "vec_id")
      .select(col("vec_id").cast("long").as("vec_id"))
    // structural invariant, NOT a fixture-tuned band: keeper-drop keeps
    // exactly one vec per near-dup component plus every singleton, so
    // kept == n − (pair-graph nodes − components) — derived from the
    // pair graph itself, it holds at any SF and any threshold.
    // One agg job computes both graph counts (was two separate counts).
    val n = emb.count()
    val k = kept.count()
    val g = comps.agg(count(lit(1)), countDistinct(col("component"))).head()
    val (nodes, nComp) = (g.getLong(0), g.getLong(1))
    require(nodes > nComp,
      s"semantic pair graph is edgeless ($nodes nodes, $nComp components)")
    require(k == n - (nodes - nComp),
      s"keeper-drop broke the component invariant: kept $k of $n, " +
        s"graph $nodes nodes in $nComp components")
    // the returned frame's anti-join still reads the cached labels; the
    // cache is released after the caller's first action (q136 idiom)
    graft.util.CacheRelease.afterFirstAction(kept.orderBy("vec_id"), Seq(comps))
  }

  // IVF-PQ (FAISS's IVFADC-R layout): coarse cells bound the candidate
  // set, PQ codes bound the bytes scanned, an exact re-rank restores
  // recall. Round 12: BOTH frozen quantizers, so probe + encode + ADC +
  // re-rank hash-match the DuckDB twin (`AnnSql.ivfPqTopK`); recall vs
  // the exact search stays require-gated in-query and specced in PqSpec.
  val q109 = Q.checked("q109_ann_ivfpq_topk", AnnSql.ivfPqTopK) { (s, d) =>
    requireAnnRecall(s, d,
      graft.operators.Pq.ivfPqTopKFrom(Tables.embeddings(s, d),
        frozenCoarse(s, d), frozenCodebooks(s, d),
        queryIds = 0L to 9L, k = 5, nProbe = 6, rerank = 50),
      floor = 0.6, label = "IVF-PQ")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "neighbor_id")
  }

  // Text-analysis projection (all-Column, UDF-free) — the closed-form
  // quality/lang-ID formulas recomputed exactly by the oracle.
  val q37 = Q.checked("q37_text_analysis", TextAnalysisSql.sql) { (s, d) =>
    TextAnalysis.analyze(Tables.documents(s, d))
      .drop("fingerprint")
      .withColumn("n_tokens", col("n_tokens").cast("long"))
      .withColumn("n_subwords", col("n_subwords").cast("long"))
      .orderBy("doc_id")
  }

  // Rolling-hash winnowing fingerprint — hash-oracled as of round 11:
  // the wraparound rolling update is polynomial evaluation in Z/2^64,
  // which `FingerprintSql` recomputes window-by-window in HUGEINT (see
  // its scaladoc), so the driver now hash-compares every doc's signed
  // 64-bit minimum across engines. The window-containment PROPERTY
  // gate stays: the fingerprint is the MIN over all 8-gram window
  // hashes, so embedding a doc's text inside a longer string can only
  // LOWER it (its windows are a subset of the superstring's) — require
  // fp(pad + text + pad) <= fp(text) for every doc long enough to have
  // a window. A wrong window slide/boundary term breaks this
  // containment invariant immediately.
  val q38 = Q.checked("q38_text_fingerprint", FingerprintSql.sql) { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val fpr = graft.functions.GraftFunctions.rollingFingerprint _
    val violations = Tables.documents(s, d)
      .filter(length(col("text")) >= TextAnalysis.FingerprintK)
      .select(
        fpr(col("text")).as("fp"),
        fpr(concat(lit("zzpadzz "), col("text"), lit(" zzpadzz")))
          .as("fp_wide"))
      .filter(col("fp_wide") > col("fp"))
      .count()
    require(violations == 0,
      s"window-containment invariant violated for $violations docs")
    TextAnalysis.analyze(Tables.documents(s, d))
      .select("doc_id", "fingerprint")
      .orderBy("doc_id")
  }

  // Multimodal plumbing: documents wrapped as binary payloads + typed
  // metadata, run through the partition-batched (stub) decode. The stub's
  // deterministic dimensions are recomputed by the oracle, so the schema /
  // batching / metadata path is fully correctness-checked.
  val q39 = Q.checked(
    "q39_multimodal_features",
    """SELECT doc_id,
              'text/plain' AS media_type,
              CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
              CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                   ELSE 16 + octet_length(encode(text)) % 64 END AS INT) AS width,
              CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                   ELSE 16 + (octet_length(encode(text)) // 64) % 64 END AS INT) AS height,
              CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                   ELSE 1 END AS INT) AS frames
       FROM documents
       ORDER BY doc_id""") { (s, d) =>
    Multimodal.extractFeatures(Multimodal.asMediaTable(Tables.documents(s, d)))
      .toDF()
      .select("doc_id", "media_type", "n_bytes", "width", "height", "frames")
      .orderBy("doc_id")
  }

  // REAL image decode: per fixture doc, a solid-gray PNG (dims + gray
  // level closed-form in doc_id) is encoded through the JDK's ImageIO PNG
  // writer, then decoded back by the partition-batched decode path — the
  // oracle recomputes what the real codec must report (dimensions, exact
  // integer mean luminance). Round-trips the actual PNG codec, not a stub.
  val q52 = Q.checked(
    "q52_multimodal_image_decode",
    """SELECT doc_id,
              'image/png' AS media_type,
              CAST(16 + doc_id % 48 AS INT) AS width,
              CAST(16 + doc_id % 31 AS INT) AS height,
              CAST(1 AS INT) AS frames,
              CAST(doc_id % 256 AS INT) AS mean_luma
       FROM documents
       ORDER BY doc_id""") { (s, d) =>
    Multimodal.extractFeatures(
      Multimodal.syntheticPngTable(Tables.documents(s, d)))
      .toDF()
      .select("doc_id", "media_type", "width", "height", "frames", "mean_luma")
      .orderBy("doc_id")
  }

  // Streaming operators run in batch mode (they are plain event-time
  // transformations; the watermark is a no-op on a bounded DF), so the
  // exact same code the streaming specs exercise micro-batched gets an
  // oracle row here. Tumbling window start == floor(epoch/21600)*21600,
  // built with make_timestamp(µs) — NOT to_timestamp, whose TIMESTAMPTZ→
  // TIMESTAMP cast shifts by the DuckDB session TimeZone and would break
  // the compare in any non-UTC environment.
  val q41 = Q.checked(
    "q41_stream_tumbling_batch",
    """SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600
                AS BIGINT) * 1000000) AS window_start,
              event_type,
              count(*) AS n_events,
              round(sum(value), 2) AS sum_value
       FROM events
       GROUP BY window_start, event_type
       ORDER BY window_start, event_type""") { (s, d) =>
    graft.streaming.StreamOps
      .tumblingCounts(Tables.events(s, d), "6 hours", "1 hour")
      .orderBy("window_start", "event_type")
  }

  // Sliding windows (6h long, 2h slide): each event lands in exactly
  // windowDur/slide = 3 windows, starts floor(epoch/slide)*slide - k*slide
  // for k in 0..2 — the overlapping-window batch twin, so every streaming
  // operator has a driver-checkable oracle row.
  val q43 = Q.checked(
    "q43_stream_sliding_batch",
    """SELECT make_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 7200) * 7200
                - k * 7200 AS BIGINT) * 1000000) AS window_start,
              user_id,
              count(*) AS n_events
       FROM events CROSS JOIN (VALUES (0), (1), (2)) ks(k)
       GROUP BY window_start, user_id
       ORDER BY window_start, user_id""") { (s, d) =>
    graft.streaming.StreamOps
      .slidingUserActivity(Tables.events(s, d), "6 hours", "2 hours", "1 hour")
      .orderBy("window_start", "user_id")
  }

  // Session windows (gap 2h) vs the gaps-and-islands SQL formulation:
  // a new session starts when the gap to the previous event is >= 2h;
  // session end = last event + gap (Spark session_window semantics).
  val q42 = Q.checked(
    "q42_stream_session_batch",
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
       d AS (SELECT user_id, ts,
                    CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
                         THEN 1 ELSE 0 END AS new_sess
             FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       s AS (SELECT user_id, ts,
                    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sess_id
             FROM d)
       SELECT min(ts) AS session_start,
              max(ts) + INTERVAL 2 HOUR AS session_end,
              user_id,
              count(*) AS n_events
       FROM s
       GROUP BY user_id, sess_id
       ORDER BY user_id, session_start""") { (s, d) =>
    graft.streaming.StreamOps
      .sessionCounts(Tables.events(s, d), "2 hours", "1 hour")
      .orderBy("user_id", "session_start")
  }

  // Stream-stream interval join, batch twin: clicks paired with the same
  // user's purchases within the following hour — the classic attribution
  // join. The streaming mode (watermarked both sides, bounded state) is
  // exercised in StreamOpsSpec; this oracle pins the join semantics.
  val q56 = Q.checked(
    "q56_stream_interval_join",
    """SELECT c.event_id AS left_id, p.event_id AS right_id, c.user_id
       FROM events c
       JOIN events p
         ON c.user_id = p.user_id
        AND c.event_type = 'click' AND p.event_type = 'purchase'
        AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
       ORDER BY left_id, right_id""") { (s, d) =>
    val ev = Tables.events(s, d)
    graft.streaming.StreamOps.intervalJoin(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "purchase"),
      "1 hour", maxGapHours = 1)
      .orderBy("left_id", "right_id")
  }

  // Stream-static enrichment join, batch twin: every event left-joined
  // to its user's customer dimension row (full key coverage in the
  // fixture, but LEFT is the operator's contract — see
  // StreamOps.enrichEvents). The per-micro-batch streaming behavior and
  // static-side broadcast are exercised in StreamOpsSpec.
  val q84 = Q.checked(
    "q84_stream_static_enrich",
    """SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.user_id,
              e.event_type, e.value, c.c_name, c.c_nationkey
       FROM events e
       LEFT JOIN customer c ON c.c_custkey = e.user_id
       ORDER BY e.event_id""") { (s, d) =>
    graft.streaming.StreamOps
      .enrichEvents(Tables.events(s, d).drop("props"), Tables.customer(s, d))
      .select("event_id", "ts", "user_id", "event_type", "value",
        "c_name", "c_nationkey")
      .orderBy("event_id")
  }

  // The mapGroupsWithState custom-state operator, batch twin: on a
  // bounded Dataset the state machine sees each user's full group in one
  // pass, so its output must equal the plain groupBy — giving the
  // custom-keyed-state surface an oracle row (the cross-micro-batch
  // behavior is exercised in StreamOpsSpec).
  val q59 = Q.checked(
    "q59_stateful_user_stats",
    """SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
       FROM events
       GROUP BY user_id
       ORDER BY user_id""") { (s, d) =>
    import s.implicits._
    graft.streaming.StreamOps.runningUserStats(
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.StreamOps.UserEvent])
      .toDF()
      .select(col("user_id"), col("n_events"), col("sum_value"))
      .orderBy("user_id")
  }

  // flatMapGroupsWithState, batch twin: alerts for every event past a
  // per-user count — on a bounded Dataset the group is consumed in one
  // ordered pass, so the output equals the row_number() formulation.
  val q61 = Q.checked(
    "q61_stateful_burst_alerts",
    """SELECT user_id, event_id, seq FROM (
         SELECT user_id, event_id,
                CAST(row_number() OVER (PARTITION BY user_id
                                        ORDER BY event_id) AS BIGINT) AS seq
         FROM events)
       WHERE seq > 50
       ORDER BY user_id, event_id""") { (s, d) =>
    import s.implicits._
    graft.streaming.StreamOps.burstAlerts(
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .as[graft.streaming.StreamOps.UserEvent],
      maxEvents = 50)
      .toDF()
      .select("user_id", "event_id", "seq")
      .orderBy("user_id", "event_id")
  }

  // Reproducible content-hash train/val/test split: the bucket is an
  // integer derived from the salted md5 of the text (conv(hex) in Spark,
  // '0x'-cast in DuckDB — same value), so the split is stable across
  // runs/engines/partitionings, unlike RNG sampling. Map-only.
  val q54 = Q.checked(
    "q54_curation_hash_split",
    """SELECT doc_id,
              CASE WHEN b < 1000 THEN 'test'
                   WHEN b < 2000 THEN 'val'
                   ELSE 'train' END AS split
       FROM (SELECT doc_id,
                    ('0x' || substr(md5('graft' || text), 1, 8))::BIGINT % 10000 AS b
             FROM documents)
       ORDER BY doc_id""") { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        graft.operators.Curation.splitLabel(col("text")).as("split"))
      .orderBy("doc_id")
  }

  // Sequence packing summary: docs binned into 512-token context windows
  // by a running token sum per (source, content-hash shard) — the
  // deterministic first-fit a packer applies reading docs in id order;
  // sharding bounds each running-sum partition (scale note in Curation).
  val q55 = Q.checked(
    "q55_curation_pack_bins",
    """WITH d AS (
         SELECT doc_id, source,
                CAST(len(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS BIGINT) AS n_tokens,
                ('0x' || substr(md5('graft' || text), 1, 8))::BIGINT % 10000 % 8 AS shard
         FROM documents),
       b AS (
         SELECT source, shard, n_tokens,
                CAST(floor((sum(n_tokens) OVER (PARTITION BY source, shard
                                                ORDER BY doc_id
                                                ROWS UNBOUNDED PRECEDING)
                            - n_tokens) / 512.0) AS BIGINT) AS bin
         FROM d)
       SELECT source, shard, bin,
              count(*) AS n_docs,
              CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
       FROM b
       GROUP BY source, shard, bin
       ORDER BY source, shard, bin""") { (s, d) =>
    graft.operators.Curation.packBins(Tables.documents(s, d),
      ctxTokens = 512, nShards = 8)
      .orderBy("source", "shard", "bin")
  }

  // Data-mixing sample: per-source keep fractions (upsample src0,
  // downsample the bulk) over the same content-hash bucket as q54 —
  // deterministic mixture weighting, the training-mix counterpart of the
  // split query.
  val q63 = Q.checked(
    "q63_curation_mixture_sample",
    """SELECT doc_id FROM (
         SELECT doc_id,
                ('0x' || substr(md5('graft' || text), 1, 8))::BIGINT % 10000 AS b,
                source
         FROM documents)
       WHERE b < CASE source WHEN 'src0' THEN 8000
                             WHEN 'src1' THEN 5000
                             WHEN 'src2' THEN 2000
                             ELSE 1000 END
       ORDER BY doc_id""") { (s, d) =>
    graft.operators.Curation.mixtureSample(Tables.documents(s, d),
      fractions = Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.2),
      defaultFraction = 0.1)
      .select("doc_id")
      .orderBy("doc_id")
  }

  // Gopher-style repetition metrics: top-bigram coverage and duplicate
  // -token share per doc, integer-valued (counts + floor-permille via
  // integer division — both engines' // on BIGINT) so no rounding
  // boundary can flip the compare.
  val q64 = Q.checked(
    "q64_text_repetition",
    """WITH t AS (
         SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s\x0B]+'),
                                    x -> x <> '') AS toks
         FROM documents),
       g AS (
         SELECT doc_id,
                unnest([toks[i] || ' ' || toks[i + 1]
                        for i in range(1, len(toks))]) AS gram
         FROM t WHERE len(toks) >= 2),
       cnt AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
       topb AS (SELECT doc_id, max(c) AS topb FROM cnt GROUP BY 1),
       m AS (
         SELECT t.doc_id,
                CAST(len(toks) AS BIGINT) AS n_tokens,
                CAST(coalesce(topb.topb, 0) AS BIGINT) AS top_bigram_n,
                CAST(len(list_distinct(toks)) AS BIGINT) AS nd
         FROM t LEFT JOIN topb ON t.doc_id = topb.doc_id)
       SELECT doc_id, n_tokens, top_bigram_n,
              CAST(CASE WHEN n_tokens > 0
                   THEN 2000 * top_bigram_n // n_tokens
                   ELSE 0 END AS BIGINT) AS bigram_permille,
              CAST(CASE WHEN n_tokens > 0
                   THEN 1000 * (n_tokens - nd) // n_tokens
                   ELSE 0 END AS BIGINT) AS dup_token_permille
       FROM m
       ORDER BY doc_id""") { (s, d) =>
    graft.operators.TextAnalysis.repetitionStats(Tables.documents(s, d))
      .orderBy("doc_id")
  }

  // Bloom-pruned blocklist removal: corpus minus the every-20th-doc
  // blocklist. The oracle is the plain anti-join, spelled NOT EXISTS —
  // NOT IN would return zero rows if the blocklist ever contained a null
  // text (three-valued logic), diverging from anti-join semantics. The
  // engine runs the broadcast-Bloom pre-filter + exact verify, whose
  // output is identical by construction (false positives die in the
  // verify anti-join).
  val q62 = Q.checked(
    "q62_curation_bloom_blocklist",
    """SELECT d.doc_id FROM documents d
       WHERE NOT EXISTS (SELECT 1 FROM documents b
                         WHERE b.doc_id % 20 = 0 AND b.text = d.text)
       ORDER BY d.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.operators.Curation.blocklistFilter(
      docs, docs.filter(col("doc_id") % 20 === 0))
      .select("doc_id")
      .orderBy("doc_id")
  }

  // REAL audio decode: per fixture doc, a mono 16-bit square-wave WAV
  // (frame count + amplitude closed-form in doc_id) is encoded through
  // the JDK's own WAV writer, then decoded back by the partition-batched
  // javax.sound path — the audio twin of q52. Every sample of a ±A square
  // wave squares to A², so RMS == A exactly and the oracle recomputes all
  // decoder outputs closed-form; duration_ms is integer division in both
  // engines.
  val q65 = Q.checked(
    "q65_multimodal_audio_decode",
    """SELECT doc_id,
              CAST(8000 AS INT) AS sample_rate,
              CAST(1 AS INT) AS channels,
              CAST(800 + doc_id % 800 AS BIGINT) AS n_samples,
              CAST((800 + doc_id % 800) * 1000 // 8000 AS BIGINT) AS duration_ms,
              CAST(1 + doc_id % 30000 AS BIGINT) AS rms
       FROM documents
       ORDER BY doc_id""") { (s, d) =>
    Multimodal.audioFeatures(
      Multimodal.syntheticWavTable(Tables.documents(s, d)))
      .orderBy("doc_id")
  }

  // Benchmark decontamination: corpus docs sharing any word 3-gram with
  // the benchmark set (every 37th doc, so bench docs flag themselves) are
  // dropped; docs shorter than 3 words can never be flagged. The oracle
  // is the plain overlap anti-join the engine's broadcast formulation
  // must equal row-for-row.
  val q66 = Q.checked(
    "q66_decontaminate",
    """WITH t AS (
         SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s\x0B]+'),
                                    x -> x <> '') AS toks
         FROM documents),
       g AS (
         SELECT doc_id,
                unnest([array_to_string(toks[i:i+2], ' ')
                        for i in range(1, len(toks) - 1)]) AS gram
         FROM t WHERE len(toks) >= 3),
       bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0),
       bad AS (SELECT DISTINCT doc_id FROM g
               WHERE gram IN (SELECT gram FROM bg))
       SELECT d.doc_id FROM documents d
       WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = d.doc_id)
       ORDER BY d.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    Decontamination.decontaminate(docs, docs.filter(col("doc_id") % 37 === 0))
      .select("doc_id")
      .orderBy("doc_id")
  }

  // Watermarked stateful dedup (dropDuplicatesWithinWatermark) run in
  // batch mode over an event stream with guaranteed exact duplicates
  // (events ∪ copy of the first 100): duplicate rows are byte-identical,
  // so whichever copy the state keeps, the output rows equal DISTINCT —
  // the deterministic oracle for a keep-first operator.
  val q67 = Q.checked(
    "q67_stream_dedup_batch",
    """SELECT DISTINCT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
              event_type, value
       FROM (SELECT * FROM events
             UNION ALL
             SELECT * FROM events WHERE event_id < 100)
       ORDER BY event_id""") { (s, d) =>
    val ev = Tables.events(s, d)
    graft.streaming.StreamOps
      .dedupEvents(ev.unionByName(ev.filter(col("event_id") < 100)), "1 hour")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  // Shared CTE prefix for q68/q69: the EXACT q32 near-dup pair
  // formulation (including its round-to-6 threshold compare, proven
  // hash-equal to the engine's prefix-filtered join) symmetrized into an
  // undirected edge list, plus the recursive closure labelling every
  // node with the min id it can reach.
  private val dupGraphCtes =
    """WITH RECURSIVE words AS (
         SELECT doc_id AS id, lang,
                CAST(floor(n_chars / 100.0) AS BIGINT) AS blk,
                unnest(list_distinct(list_filter(
                  regexp_split_to_array(text, '[\s\x0B]+'),
                  x -> x <> ''))) AS word
         FROM documents),
       counts AS (SELECT id, count(*) AS n_words FROM words GROUP BY id),
       inter AS (
         SELECT a.id AS id1, b.id AS id2, count(*) AS n_inter
         FROM words a
         JOIN words b ON a.lang = b.lang AND a.blk = b.blk AND a.word = b.word
         WHERE a.id < b.id
         GROUP BY a.id, b.id),
       pairs AS (
         SELECT id1, id2 FROM (
           SELECT id1, id2,
                  round(n_inter / (c1.n_words + c2.n_words - n_inter), 6) AS jaccard
           FROM inter
           JOIN counts c1 ON c1.id = id1
           JOIN counts c2 ON c2.id = id2)
         WHERE jaccard >= 0.5),
       edges AS (SELECT id1 AS u, id2 AS v FROM pairs
                 UNION SELECT id2 AS u, id1 AS v FROM pairs),
       reach AS (
         SELECT u AS id, u AS lab FROM edges
         UNION
         SELECT e.u AS id, r.lab FROM edges e JOIN reach r ON r.id = e.v),
       comp AS (
         SELECT id, CAST(min(lab) AS BIGINT) AS component
         FROM reach GROUP BY id)"""

  // Connected components over the near-dup pair graph (alternating
  // large-star/small-star): pairwise dedup output turned into transitive
  // cluster labels — A~B, B~C must cluster {A,B,C} even when A≁C. The
  // oracle computes the same closure with a recursive CTE.
  val q68 = Q.checked(
    "q68_dedup_components",
    s"""$dupGraphCtes
       SELECT id AS doc_id, component FROM comp ORDER BY doc_id""") { (s, d) =>
    graft.operators.DupGraph
      .components(Dedup.jaccardPairs(Tables.documents(s, d), threshold = 0.5))
      .select(col("id").as("doc_id"), col("component"))
      .orderBy("doc_id")
  }

  // Cluster-keeper dedup: corpus minus every doc that is not its
  // cluster's minimum — the end-to-end "drop near-duplicates
  // transitively" operation (singletons, absent from the pair graph,
  // are always kept).
  val q69 = Q.checked(
    "q69_dedup_drop_clusters",
    s"""$dupGraphCtes
       SELECT d.doc_id FROM documents d
       WHERE NOT EXISTS (SELECT 1 FROM comp
                         WHERE comp.id = d.doc_id
                           AND comp.component <> d.doc_id)
       ORDER BY d.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.operators.DupGraph
      .dropNearDups(docs, Dedup.jaccardPairs(docs, threshold = 0.5))
      .select("doc_id")
      .orderBy("doc_id")
  }

  // PII redaction over docs with deterministic synthetic PII appended
  // in-plan on BOTH sides (emails/IPs/phones derived from doc_id — the
  // fixture text alone contains none, which would make the redaction
  // vacuous). Patterns are string-interpolated from Curation.PiiPatterns
  // so operator and oracle can never drift; they restrict to syntax with
  // identical Java-regex/RE2 semantics (see PiiPatterns doc).
  private val piiDocsSql =
    """SELECT doc_id,
              text || ' contact u' || CAST(doc_id AS VARCHAR) ||
              '@example.com or +1555000' ||
              CAST(doc_id % 10000 AS VARCHAR) || ' at 10.0.' ||
              CAST(doc_id % 256 AS VARCHAR) || '.7' AS text
       FROM documents"""

  private def piiDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com or +1555000"),
        (col("doc_id") % 10000).cast("string"), lit(" at 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7")).as("text"))

  val q70 = Q.checked(
    "q70_curation_pii_redact", {
      val Seq((emailRe, _), (ipRe, _), (phoneRe, _)) =
        graft.operators.Curation.PiiPatterns
      // each kind counted on the text AFTER the previous kinds were
      // replaced, mirroring redactPii's staged counting exactly
      s"""WITH d AS ($piiDocsSql),
         r1 AS (SELECT doc_id, text,
                       regexp_replace(text, '$emailRe', '<EMAIL>', 'g') AS t1
                FROM d),
         r2 AS (SELECT *, regexp_replace(t1, '$ipRe', '<IP>', 'g') AS t2
                FROM r1)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '$emailRe')) AS BIGINT) AS n_email,
                CAST(len(regexp_extract_all(t1, '$ipRe')) AS BIGINT) AS n_ip,
                CAST(len(regexp_extract_all(t2, '$phoneRe')) AS BIGINT) AS n_phone,
                regexp_replace(t2, '$phoneRe', '<PHONE>', 'g') AS redacted
         FROM r2 ORDER BY doc_id"""
    }) { (s, d) =>
    graft.operators.Curation.redactPii(piiDocs(s, d)).orderBy("doc_id")
  }

  // Corpus vocabulary with document frequencies, top-100: per-doc
  // distinct tokens, one count per token, deterministic df-then-token
  // tie-break so both engines cut the same top-k.
  val q71 = Q.checked(
    "q71_text_token_df",
    """SELECT word, CAST(count(*) AS BIGINT) AS df
       FROM (SELECT unnest(list_distinct(regexp_split_to_array(trim(text), '[\s\x0B]+'))) AS word
             FROM documents)
       GROUP BY word
       ORDER BY df DESC, word
       LIMIT 100""") { (s, d) =>
    TextAnalysis.tokenDf(Tables.documents(s, d), k = 100)
  }

  // Salted two-phase aggregation: partial count/sum per (key, salt),
  // merged on the key — must equal the plain GROUP BY the oracle runs,
  // proving the hot-key spreading is a pure physical rewrite.
  val q74 = Q.checked(
    "q74_salted_agg",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
              round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
       FROM events
       GROUP BY event_type
       ORDER BY event_type""") { (s, d) =>
    graft.operators.SkewJoin
      .saltedAgg(Tables.events(s, d).select("event_type", "value"),
        keys = Seq("event_type"), sumCols = Seq("value"))
      .select(col("event_type"), col("n_rows"),
        round(col("sum_value"), 2).as("sum_value"))
      .orderBy("event_type")
  }

  // TF-IDF top-5 terms per doc, ranked by the log-free inverse-frequency
  // weight tf/df (one IEEE division — bit-identical cross-engine; see the
  // TfIdf class doc). All output columns are integers, so the hash compare
  // never touches a float.
  val q75 = Q.checked(
    "q75_tfidf_top_terms",
    """WITH tok AS (SELECT doc_id,
                unnest(regexp_split_to_array(trim(lower(text)), '[\s\x0B]+')) AS term
         FROM documents),
       tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM tok WHERE term <> '' GROUP BY doc_id, term),
       df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       ranked AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                  CAST(row_number() OVER (PARTITION BY tf.doc_id
                    ORDER BY CAST(tf.tf AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
                             tf.term) AS BIGINT) AS rank
                  FROM tf JOIN df USING (term))
       SELECT doc_id, term, tf, df, rank FROM ranked
       WHERE rank <= 5 ORDER BY doc_id, rank""") { (s, d) =>
    TfIdf.topTerms(Tables.documents(s, d), k = 5).orderBy("doc_id", "rank")
  }

  /** q76's fixed query-term bag (shared with the oracle SQL builder). */
  private val Bm25Terms = Seq("spark", "join", "window")

  // BM25 top-10 retrieval for a fixed 3-term query. Every arithmetic step
  // is mirrored operation-for-operation in the oracle (rational idf, no
  // ln; per-term conditional sums added left-to-right), so the raw double
  // scores are bit-identical and the floor-quantization is safe for the
  // hash compare (round() would not be — half-up differs cross-engine).
  val q76 = Q.checked(
    "q76_bm25_search", {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val pivots = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN term = '$t' THEN c ELSE 0.0 END) AS c$i"
      }.mkString(",\n                  ")
      val total = Bm25Terms.indices.map(i => s"c$i").mkString(" + ")
      s"""WITH d AS (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '[\\s\\x0B]+') AS toks
          FROM documents),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM tok WHERE term IN ($termList) GROUP BY doc_id, term),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        contrib AS (SELECT tf.doc_id, tf.term,
            ((CAST(stats.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
            ((tf.tf * (1.2 + 1.0)) /
             (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 *
               (dl.dl / (CAST(stats.tot AS DOUBLE) / CAST(stats.n AS DOUBLE)))))) AS c
          FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
        piv AS (SELECT doc_id, $pivots FROM contrib GROUP BY doc_id)
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY $total DESC, doc_id) AS BIGINT) AS rank,
               CAST(floor(($total) * 10000.0) AS BIGINT) AS score_q
        FROM piv ORDER BY $total DESC, doc_id LIMIT 10"""
    }) { (s, d) =>
    TfIdf.bm25(Tables.documents(s, d), Bm25Terms, k = 10)
      .select(col("doc_id"), col("rank"),
        floor(col("score") * lit(10000.0)).cast("long").as("score_q"))
      .orderBy("rank")
  }

  // Per-source quota cap (sourceCap): at most 10 docs per source,
  // selected by salted content-hash order with doc_id tiebreak. The
  // engine runs the bounded smallest-k Aggregator (map-side partials cap
  // per-source shuffle bytes at k — a hot source costs the same shuffle
  // as a tiny one); the oracle is the row_number window twin over the
  // same 60-bit rank key, which funnels each source through one task and
  // is exactly the formulation the Aggregator exists to avoid.
  val q77 = Q.checked(
    "q77_curation_source_cap",
    """WITH ranked AS (
         SELECT doc_id, source,
                ('0x' || substr(md5('graft' || text), 1, 15))::BIGINT AS rk
         FROM documents),
       keep AS (
         SELECT doc_id,
                row_number() OVER (PARTITION BY source
                                   ORDER BY rk, doc_id) AS rn
         FROM ranked)
       SELECT doc_id FROM keep WHERE rn <= 10 ORDER BY doc_id""") { (s, d) =>
    graft.operators.Curation
      .sourceCap(Tables.documents(s, d), maxPerSource = 10)
      .select("doc_id")
      .orderBy("doc_id")
  }

  // ---- q78: end-to-end corpus curation composition ----
  // The north-star demo: exact-drop -> near-dup transitive drop ->
  // decontaminate -> PII-redact -> mixture-sample -> sequence-pack, as
  // ONE declared query — every stage is individually oracled (q31, q69,
  // q66, q70, q63, q55); the composition catches interface drift between
  // them. The near-dup pair graph and its transitive closure are computed
  // ONCE and shared between labeling and dropping (dropNearDupsByComponents),
  // and the expensive stage outputs (c1, c2) are persisted for the single
  // action and released after it (CacheRelease), so no stage re-scans the
  // corpus prefix.
  val q78 = Q.checked(
    "q78_curate_corpus_pipeline", {
      val Seq((emailRe, _), (ipRe, _), (phoneRe, _)) =
        graft.operators.Curation.PiiPatterns
      s"""WITH RECURSIVE
         corpus AS (SELECT * FROM documents
                    UNION ALL
                    SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
                    FROM documents WHERE doc_id < 50),
         c1 AS (SELECT * FROM corpus
                QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
         words AS (SELECT doc_id AS id, lang,
                          CAST(floor(n_chars / 100.0) AS BIGINT) AS blk,
                          unnest(list_distinct(list_filter(
                            regexp_split_to_array(text, '[\\s\\x0B]+'),
                            x -> x <> ''))) AS word
                   FROM c1),
         counts AS (SELECT id, count(*) AS n_words FROM words GROUP BY id),
         inter AS (SELECT a.id AS id1, b.id AS id2, count(*) AS n_inter
                   FROM words a
                   JOIN words b ON a.lang = b.lang AND a.blk = b.blk AND a.word = b.word
                   WHERE a.id < b.id
                   GROUP BY a.id, b.id),
         pairs AS (SELECT id1, id2 FROM (
                     SELECT id1, id2,
                            round(n_inter / (cw1.n_words + cw2.n_words - n_inter), 6) AS jaccard
                     FROM inter
                     JOIN counts cw1 ON cw1.id = id1
                     JOIN counts cw2 ON cw2.id = id2)
                   WHERE jaccard >= 0.5),
         edges AS (SELECT id1 AS u, id2 AS v FROM pairs
                   UNION SELECT id2 AS u, id1 AS v FROM pairs),
         reach AS (SELECT u AS id, u AS lab FROM edges
                   UNION
                   SELECT e.u AS id, r.lab FROM edges e JOIN reach r ON r.id = e.v),
         comp AS (SELECT id, CAST(min(lab) AS BIGINT) AS component
                  FROM reach GROUP BY id),
         c2 AS (SELECT * FROM c1 x
                WHERE NOT EXISTS (SELECT 1 FROM comp
                                  WHERE comp.id = x.doc_id
                                    AND comp.component <> x.doc_id)),
         ct AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\\s\\x0B]+') AS toks FROM c2),
         cg AS (SELECT doc_id,
                       unnest([array_to_string(toks[i:i+7], ' ')
                               for i in range(1, len(toks) - 6)]) AS gram
                FROM ct WHERE len(toks) >= 8),
         bt AS (SELECT regexp_split_to_array(trim(text), '[\\s\\x0B]+') AS toks
                FROM documents WHERE doc_id % 37 = 0),
         bg AS (SELECT DISTINCT unnest([array_to_string(toks[i:i+7], ' ')
                                        for i in range(1, len(toks) - 6)]) AS gram
                FROM bt WHERE len(toks) >= 8),
         bad AS (SELECT DISTINCT doc_id FROM cg
                 WHERE gram IN (SELECT gram FROM bg)),
         c3 AS (SELECT * FROM c2 y
                WHERE NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = y.doc_id)),
         c4 AS (SELECT doc_id, source,
                       regexp_replace(regexp_replace(regexp_replace(
                         text || ' contact u' || CAST(doc_id AS VARCHAR) ||
                         '@example.com or +1555000' ||
                         CAST(doc_id % 10000 AS VARCHAR) || ' at 10.0.' ||
                         CAST(doc_id % 256 AS VARCHAR) || '.7',
                         '$emailRe', '<EMAIL>', 'g'),
                         '$ipRe', '<IP>', 'g'),
                         '$phoneRe', '<PHONE>', 'g') AS text
                FROM c3),
         c5 AS (SELECT * FROM c4
                WHERE ('0x' || substr(md5('graft' || text), 1, 8))::BIGINT % 10000 <
                      CASE source WHEN 'src0' THEN 8000
                                  WHEN 'src1' THEN 5000
                                  WHEN 'src2' THEN 2000
                                  ELSE 1000 END),
         d AS (SELECT doc_id, source,
                      CAST(len(regexp_split_to_array(trim(text), '[\\s\\x0B]+')) AS BIGINT) AS n_tokens,
                      ('0x' || substr(md5('graft' || text), 1, 8))::BIGINT % 10000 % 8 AS shard
               FROM c5),
         b AS (SELECT source, shard, n_tokens,
                      CAST(floor((sum(n_tokens) OVER (PARTITION BY source, shard
                                                      ORDER BY doc_id
                                                      ROWS UNBOUNDED PRECEDING)
                                  - n_tokens) / 512.0) AS BIGINT) AS bin
               FROM d)
         SELECT source, shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM b GROUP BY source, shard, bin
         ORDER BY source, shard, bin"""
    }) { (s, d) =>
    import org.apache.spark.storage.StorageLevel
    val c1 = Dedup.dropExactDups(dupCorpus(s, d))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // pair graph + transitive closure computed ONCE, shared between the
    // (implicit) labeling and the drop — the dropNearDupsByComponents
    // path the round-7 verdict asked for
    val comps = graft.operators.DupGraph
      .components(Dedup.jaccardPairs(c1, threshold = 0.5))
    val c2 = graft.operators.DupGraph.dropNearDupsByComponents(c1, comps)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bench = Tables.documents(s, d).filter(col("doc_id") % 37 === 0)
    // 8-gram contamination (vs q66's trigrams): the fixture's shared
    // synthetic vocabulary makes trigram overlap near-universal (it kept
    // 15 of 277 docs at sf0.1 — a vacuous tail for the later stages);
    // 8-grams drop the benchmark docs themselves plus true shared
    // passages, the C4/GPT-style n for decontamination
    val c3 = graft.operators.Decontamination.decontaminate(c2, bench, n = 8)
    val withPii = c3.select(
      col("doc_id"),
      concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
        lit("@example.com or +1555000"),
        (col("doc_id") % 10000).cast("string"), lit(" at 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7")).as("text"),
      col("source"))
    val c4 = graft.operators.Curation.redactPii(withPii, keep = Seq("source"))
      .select(col("doc_id"), col("redacted").as("text"), col("source"))
    val c5 = graft.operators.Curation.mixtureSample(c4,
      fractions = Map("src0" -> 0.8, "src1" -> 0.5, "src2" -> 0.2),
      defaultFraction = 0.1)
    val out = graft.operators.Curation.packBins(c5)
      .orderBy("source", "shard", "bin")
    graft.util.CacheRelease.afterFirstAction(out, Seq(c1, c2))
  }

  // Unigram-LM quality score (CCNet-style filtering signal): every doc
  // scored by the arithmetic-mean add-1-smoothed probability of its
  // tokens under a model trained on the doc_id % 11 reference slice.
  // The score is one exact integer sum divided once — no float
  // summation, no ln — so the raw double hash-matches cross-engine
  // (the ln/perplexity variant is unit-pinned in TextAnalysisSpec).
  val q79 = Q.checked(
    "q79_text_lm_quality",
    """WITH rt AS (SELECT unnest(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS token
                   FROM documents WHERE doc_id % 11 = 0),
       rc AS (SELECT token, CAST(count(*) AS BIGINT) AS c_ref
              FROM rt WHERE token <> '' GROUP BY token),
       st AS (SELECT CAST(sum(c_ref) AS BIGINT) AS lm_t,
                     CAST(count(*) AS BIGINT) AS lm_v FROM rc),
       dt AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS token
              FROM documents),
       j AS (SELECT d.doc_id, coalesce(rc.c_ref, 0) + 1 AS sh
             FROM dt d LEFT JOIN rc ON rc.token = d.token
             WHERE d.token <> ''),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                      CAST(sum(sh) AS BIGINT) AS smoothed_hits
               FROM j GROUP BY doc_id)
       SELECT doc_id, n_tokens, smoothed_hits,
              CAST(smoothed_hits AS DOUBLE) /
              CAST(n_tokens * (lm_t + lm_v) AS DOUBLE) AS lm_score
       FROM agg CROSS JOIN st
       ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    TextAnalysis.lmScore(docs, docs.filter(col("doc_id") % 11 === 0))
      .orderBy("doc_id")
  }

  // Duplicate-passage contamination (Lee et al. exact-substring dedup,
  // word 5-gram flavor): per doc, how many of its overlapping 5-grams
  // occur in other docs and how many token positions those spans cover
  // (interval union via position explode + distinct). All-integer
  // output; the fixture has ~1.1k naturally duplicated 5-grams, so the
  // signal is non-trivial without a doctored corpus.
  val q80 = Q.checked(
    "q80_dedup_passages",
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS toks
                  FROM documents),
       g AS (SELECT doc_id, i - 1 AS pos,
                    array_to_string(toks[i:i+4], ' ') AS gram
             FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
                   FROM t WHERE len(toks) >= 5)),
       dupg AS (SELECT gram FROM g
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       duppos AS (SELECT doc_id, pos FROM g
                  WHERE gram IN (SELECT gram FROM dupg)),
       cov AS (SELECT doc_id,
                      CAST(count(DISTINCT pos) AS BIGINT) AS n_dup_grams,
                      CAST(count(DISTINCT tokidx) AS BIGINT) AS dup_covered_tokens
               FROM (SELECT doc_id, pos, unnest(range(pos, pos + 5)) AS tokidx
                     FROM duppos)
               GROUP BY doc_id)
       SELECT t.doc_id,
              CAST(len(toks) AS BIGINT) AS n_tokens,
              CAST(CASE WHEN len(toks) >= 5 THEN len(toks) - 4 ELSE 0 END AS BIGINT)
                AS n_grams,
              COALESCE(n_dup_grams, 0) AS n_dup_grams,
              COALESCE(dup_covered_tokens, 0) AS dup_covered_tokens,
              CASE WHEN len(toks) > 0
                   THEN (1000 * COALESCE(dup_covered_tokens, 0)) // len(toks)
                   ELSE 0 END AS dup_permille
       FROM t LEFT JOIN cov ON cov.doc_id = t.doc_id
       ORDER BY t.doc_id""") { (s, d) =>
    graft.operators.Passages.duplicatePassageStats(Tables.documents(s, d))
      .orderBy("doc_id")
  }

  // CCNet-style chunk-level dedup: 10-word chunks whose text occurs in
  // ≥2 distinct docs are dropped from every doc, survivors reassembled
  // in document order (127 chunks duplicate naturally in the fixture).
  // string_agg ORDER BY idx == sort_array(collect_list(struct)) — both
  // deterministic; COALESCE matches Spark's empty-array '' for docs
  // whose every chunk was boilerplate.
  val q81 = Q.checked(
    "q81_dedup_chunks",
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS toks
                  FROM documents),
       c AS (SELECT doc_id, i AS idx,
                    array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS chunk
             FROM (SELECT doc_id, toks,
                          unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS i
                   FROM t)),
       dupc AS (SELECT chunk FROM c
                GROUP BY chunk HAVING count(DISTINCT doc_id) >= 2),
       kept AS (SELECT doc_id, idx, chunk FROM c
                WHERE chunk NOT IN (SELECT chunk FROM dupc)),
       total AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
                 FROM c GROUP BY doc_id),
       rebuilt AS (SELECT doc_id,
                          CAST(count(*) AS BIGINT) AS n_kept,
                          string_agg(chunk, ' ' ORDER BY idx) AS clean_text
                   FROM kept GROUP BY doc_id)
       SELECT t.doc_id, n_chunks,
              COALESCE(n_kept, 0) AS n_kept,
              COALESCE(clean_text, '') AS clean_text
       FROM total t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
       ORDER BY t.doc_id""") { (s, d) =>
    graft.operators.Passages.dedupChunks(Tables.documents(s, d))
      .orderBy("doc_id")
  }

  // Deterministic integer PageRank over the q32 near-dup pair graph
  // (doc centrality within boilerplate clusters): the oracle unrolls
  // the same fixed-point power iteration as SQL CTEs — generated by the
  // same loop bound, so iteration counts can't drift — on top of the
  // shared q68 CTE prefix (whose `edges` IS the symmetrized pair
  // graph). All arithmetic is BIGINT (integer division, integer sums),
  // so the ranks are bit-identical cross-engine; see DupGraph.pageRank.
  // private[graft]: Bench's shared-pair-graph override must run the
  // SAME iteration count / fixed-point scale the declared query runs
  private[graft] val PrIters = 4
  private[graft] val PrScale = 1000000000000L

  private def pageRankCtes: String = {
    val iter = (1 to PrIters).map { k =>
      s"""pr$k AS (
           SELECT d.id,
                  CAST((15 * ($PrScale // nn.n)) // 100
                       + (85 * COALESCE(c.contrib, 0)) // 100 AS BIGINT) AS rank
           FROM deg d CROSS JOIN nn
           LEFT JOIN (SELECT e.v AS id,
                             CAST(sum(p.rank // g.deg) AS BIGINT) AS contrib
                      FROM edges e
                      JOIN pr${k - 1} p ON p.id = e.u
                      JOIN deg g ON g.id = e.u
                      GROUP BY e.v) c ON c.id = d.id)"""
    }.mkString(",\n")
    s"""deg AS (SELECT u AS id, CAST(count(*) AS BIGINT) AS deg
                FROM edges GROUP BY u),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       pr0 AS (SELECT id, CAST($PrScale // n AS BIGINT) AS rank
               FROM deg CROSS JOIN nn),
       $iter"""
  }

  val q83 = Q.checked(
    "q83_dedup_pagerank",
    s"""$dupGraphCtes,
       $pageRankCtes
       SELECT id AS doc_id, rank FROM pr$PrIters ORDER BY doc_id""") { (s, d) =>
    graft.operators.DupGraph
      .pageRank(Dedup.jaccardPairs(Tables.documents(s, d), threshold = 0.5),
        iterations = PrIters, scale = PrScale)
      .select(col("id").as("doc_id"), col("rank"))
      .orderBy("doc_id")
  }

  // Temperature-scaled mixture weights (α = 1/2) over the language
  // groups (218/75/73/70/64 — usefully non-uniform): weights are exact
  // integers in both engines because sqrt and the 1e6 fixed-point
  // multiply are correctly-rounded IEEE ops and the normalizer is an
  // integer (order-free) sum — see Curation.temperatureWeights.
  val q82 = Q.checked(
    "q82_mixture_temperature",
    """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
                  FROM documents GROUP BY lang),
       s AS (SELECT lang, n_docs,
                    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT)
                      AS score
             FROM c),
       t AS (SELECT CAST(sum(score) AS BIGINT) AS total_score FROM s)
       SELECT lang, n_docs,
              (1000000 * score) // total_score AS weight_ppm,
              (10000 * ((1000000 * score) // total_score)) // 1000000
                AS target_docs
       FROM s CROSS JOIN t
       ORDER BY lang""") { (s, d) =>
    graft.operators.Curation
      .temperatureWeights(Tables.documents(s, d), groupCol = "lang")
      .orderBy("lang")
  }

  // DIRT pipeline end-to-end on the committed PLANTED biarc corpus
  // (corpus lines are not a fixture table, so rows-only) — but
  // self-verifying: the corpus plants three path-pair families with
  // closed-form Lin scores, require-checked in-query against the
  // pipeline output (the q106/q107 planted-twin pattern):
  //   - 50 twin pairs (identical slot/word count profiles): the
  //     numerator equals the denominator sum feature-for-feature, so
  //     score == 1.0 exactly (up to float summation order);
  //   - 25 disjoint pairs (no shared filler in either slot): empty
  //     feature intersection, score == 0.0 exactly;
  //   - 25 partial pairs (half the fillers shared per slot): strictly
  //     between, 0 < score < 1.
  // The MiniCorpus hand-computed scores stay pinned in DirtPipelineSpec.
  // Round 12: hash-oracled — `DirtSql.plantedSimilarity` regenerates
  // the planted instances relationally and replays the ENTIRE DIRT
  // algebra (triples, margins, N, ln-MI + 0.001 threshold, SumMI, pair
  // intersection, Lin geometric mean) in DuckDB; the closed-form family
  // requires stay as the non-oracle-scale gates.
  val q40 = Q.checked("q40_dirt_similarity", DirtSql.plantedSimilarity) {
    (s, _) =>
    import s.implicits._
    val scored = DirtPipeline.run(s,
      s.createDataset(PlantedBiarc.lines),
      PlantedBiarc.testSet).persist()
    def family(tag: String) = scored.filter(col("path1").contains(tag))
    val twinN = family("vtw").count()
    val twinOff = family("vtw")
      .filter(abs(col("score") - 1.0) > 1e-9).count()
    require(twinN == 50 && twinOff == 0,
      s"twin pairs: $twinN scored, $twinOff off the closed-form 1.0")
    val djN = family("vdj").count()
    val djOff = family("vdj").filter(col("score") =!= 0.0).count()
    require(djN == 25 && djOff == 0,
      s"disjoint pairs: $djN scored, $djOff off the closed-form 0.0")
    val ptN = family("vpt").count()
    val ptOff = family("vpt")
      .filter(col("score") <= 0.0 || col("score") >= 1.0).count()
    require(ptN == 25 && ptOff == 0,
      s"partial pairs: $ptN scored, $ptOff outside (0, 1)")
    graft.util.CacheRelease.afterFirstAction(
      scored
        .select(col("path1"), col("path2"), round(col("score"), 6).as("score"))
        .orderBy("path1", "path2"),
      Seq(scored))
  }

  // Record linkage: every customer-name pair within edit distance 1,
  // via SymSpell deletion-neighborhood blocking + exact levenshtein
  // verify (the FastSS exactness theorem — FuzzyJoin scaladoc). The
  // oracle is the N² formulation; blocking changes the cost, never the
  // answer, so the two agree row-for-row.
  val q110 = Q.checked(
    "q110_fuzzy_join_editdist",
    """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
              CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
       FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
       WHERE levenshtein(a.c_name, b.c_name) <= 1
       ORDER BY id1, id2""") { (s, d) =>
    graft.operators.FuzzyJoin
      .editDistanceSelfJoin(graft.util.Spread.cpuBound(Tables.customer(s, d)),
        "c_custkey", "c_name", maxDist = 1)
      .orderBy("id1", "id2")
  }

  // Deterministic stratified sample: the 40 smallest md5(doc_id)-ranked
  // docs of every lang stratum, via the k-bounded MinK aggregation (a
  // row_number window would funnel each stratum through one task —
  // Curation.stratifiedSample scaladoc). The oracle IS that window
  // formulation: same rank key, same (rk, doc_id) tie order.
  val q111 = Q.checked(
    "q111_stratified_sample",
    """WITH r AS (SELECT lang, doc_id,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS rk
                  FROM documents),
       w AS (SELECT lang, doc_id,
                    CAST(row_number() OVER (PARTITION BY lang
                                            ORDER BY rk, doc_id) AS BIGINT) AS rn
             FROM r)
       SELECT lang, doc_id, rn FROM w WHERE rn <= 40
       ORDER BY lang, doc_id""") { (s, d) =>
    graft.operators.Curation
      .stratifiedSample(Tables.documents(s, d), n = 40)
      .orderBy("lang", "doc_id")
  }

  // Stupid-backoff bigram-LM quality score (Brants et al. 2007): model
  // trained on the doc_id % 7 slice, every doc scored by its mean
  // integer micro-probability per transition — exact BIGINT arithmetic
  // end-to-end (the q79 device), so the held-out backoff branch and the
  // seen-bigram branch both hash-match cross-engine. The real-ln twin
  // is unit-pinned in NgramLmSpec.
  val q112 = Q.checked(
    "q112_bigram_lm_backoff",
    """WITH tr AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS t
                   FROM documents WHERE doc_id % 7 = 0),
       al AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS t
              FROM documents),
       big AS (SELECT t[i] AS w1, t[i+1] AS w2,
                      CAST(count(*) AS BIGINT) AS cb
               FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tr)
               WHERE t[i] <> '' AND t[i+1] <> ''
               GROUP BY w1, w2),
       uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
               FROM (SELECT unnest(t) AS w FROM tr)
               WHERE w <> '' GROUP BY w),
       tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM uni),
       trans AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                 FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM al)
                 WHERE t[i] <> '' AND t[i+1] <> ''),
       p AS (SELECT doc_id,
                    CASE WHEN cb IS NOT NULL THEN (1000000 * cb) // c1.cu
                         ELSE (400000 * COALESCE(c2.cu, 0)) // n_total
                    END AS p_micro
             FROM trans
             LEFT JOIN big ON big.w1 = trans.w1 AND big.w2 = trans.w2
             LEFT JOIN uni c1 ON c1.w = trans.w1
             LEFT JOIN uni c2 ON c2.w = trans.w2
             CROSS JOIN tot),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
                      CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
               FROM p GROUP BY doc_id)
       SELECT d.doc_id,
              COALESCE(n_trans, 0) AS n_trans,
              COALESCE(sum_p_micro, 0) AS sum_p_micro,
              CASE WHEN COALESCE(n_trans, 0) > 0
                   THEN sum_p_micro // n_trans ELSE 0 END AS mean_p_micro
       FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
       ORDER BY d.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.operators.NgramLm
      .stupidBackoffScore(docs, docs.filter(col("doc_id") % 7 === 0))
      .orderBy("doc_id")
  }

  // DSIR importance weights (Xie et al. 2023): target = the lang='en'
  // slice, raw = the whole corpus; per-doc centered micro-ratio sum
  // (the exact-rational linearization of the log-weight — Dsir scaladoc;
  // the real-ln weight is unit-pinned in DsirSpec). Positive w_micro =
  // more target-like than the corpus average.
  val q113 = Q.checked(
    "q113_dsir_importance",
    """WITH tgt AS (SELECT unnest(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS token
                    FROM documents WHERE lang = 'en'),
       ct AS (SELECT token, CAST(count(*) AS BIGINT) AS c_t
              FROM tgt WHERE token <> '' GROUP BY token),
       rawt AS (SELECT unnest(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS token
                FROM documents),
       cr AS (SELECT token, CAST(count(*) AS BIGINT) AS c_r
              FROM rawt WHERE token <> '' GROUP BY token),
       vocab AS (SELECT COALESCE(ct.token, cr.token) AS token,
                        COALESCE(c_t, 0) AS c_t, COALESCE(c_r, 0) AS c_r
                 FROM ct FULL OUTER JOIN cr ON ct.token = cr.token),
       norms AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t,
                        CAST(sum(c_r) AS BIGINT) AS n_r,
                        CAST(count(*) AS BIGINT) AS v FROM vocab),
       ratios AS (SELECT token,
                         (1000000 * (c_t + 1) * (n_r + v)) // ((c_r + 1) * (n_t + v))
                           - 1000000 AS lr_micro
                  FROM vocab CROSS JOIN norms),
       dt AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS token
              FROM documents)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(lr_micro) AS BIGINT) AS w_micro
       FROM dt JOIN ratios ON ratios.token = dt.token
       WHERE dt.token <> ''
       GROUP BY doc_id
       ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.operators.Dsir
      .importanceWeights(docs, docs.filter(col("lang") === "en"))
      .orderBy("doc_id")
  }

  // Tokenizer runtime (round 11: hash-oracled, VERDICT r10 #5): encode
  // the corpus with the FROZEN 40-merge BPE table — the committed
  // artifact a production tokenizer ships (provenance + drift gate:
  // `FrozenVocab` / `FrozenVocabSpec`; training itself stays oracled by
  // q88). Freezing makes the encode DuckDB-expressible: `BpeEncodeSql`
  // replays the same table as 40 chained replace CTEs, so the driver
  // hash-compares the greedy merge-replay ALGORITHM across engines. The
  // lossless roundtrip stays required IN-QUERY — stripping the </w>
  // markers must reproduce the whitespace-normalized input for EVERY
  // document (the property that makes n_subwords a true token count).
  val q114 = Q.checked("q114_bpe_encode", BpeEncodeSql.sql) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val merges = graft.operators.FrozenVocab.bpeMerges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
    val enc = graft.operators.Bpe.encodeDocs(docs, merges).persist()
    val broken = enc
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .filter(
        trim(regexp_replace(
          regexp_replace(col("subword_text"), lit(" "), lit("")),
          lit(java.util.regex.Pattern.quote(graft.operators.Bpe.EndMark)),
          lit(" "))) =!=
          // non-empty-token join (round 14): trim+collapse kept an edge
          // control char's phantom '' token as a stray space, firing
          // this gate on adversarial input the kernel handles correctly
          concat_ws(" ", filter(split(col("text"), "\\s+"),
            t => length(t) > 0)))
      .count()
    require(broken == 0, s"BPE roundtrip broke on $broken docs")
    graft.util.CacheRelease.afterFirstAction(
      enc.select("doc_id", "n_words", "n_subwords").orderBy("doc_id"),
      Seq(enc))
  }

  /** CDC latest-wins snapshot merge (q116): MERGE semantics over plain
    * parquet. The changelog is derived deterministically from the
    * fixture — each order is a change event for its customer carrying a
    * full new row image (name from the dimension, balance =
    * o_totalprice), with op mapped from o_orderstatus (P→delete,
    * F→update, O→insert). `Cdc.latestWinsMerge` collapses the log to
    * one winner per key via partial-aggregated max(struct) — no window,
    * a billion-change hot key ships one row per map task — then one
    * full-outer join applies it to the snapshot. The oracle replays the
    * identical semantics with a row_number CTE + FULL JOIN in DuckDB.
    */
  val q116 = Q.checked(
    "q116_cdc_latest_wins_merge",
    """WITH ch AS (
         SELECT o_custkey AS k, c_name AS name, o_totalprice AS bal,
                o_orderdate AS ts, o_orderkey AS tieb,
                CASE o_orderstatus WHEN 'P' THEN 'D' WHEN 'F' THEN 'U'
                     ELSE 'I' END AS op
         FROM orders JOIN customer ON o_custkey = c_custkey),
       w AS (
         SELECT k, name, bal, op,
                row_number() OVER (PARTITION BY k
                                   ORDER BY ts DESC, tieb DESC) AS rn
         FROM ch),
       last AS (SELECT k, name, bal, op FROM w WHERE rn = 1)
       SELECT COALESCE(b.c_custkey, last.k) AS c_custkey,
              CASE WHEN last.k IS NOT NULL THEN last.name
                   ELSE b.c_name END AS c_name,
              CASE WHEN last.k IS NOT NULL THEN last.bal
                   ELSE b.c_acctbal END AS c_acctbal
       FROM customer b FULL JOIN last ON b.c_custkey = last.k
       WHERE COALESCE(last.op, '') <> 'D'
       ORDER BY c_custkey""") { (s, d) =>
    val base = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_acctbal")
    val changes = Tables.orders(s, d)
      .join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("o_totalprice").as("c_acctbal"),
        col("o_orderdate").as("ts"),
        col("o_orderkey").as("tieb"),
        when(col("o_orderstatus") === "P", "D")
          .when(col("o_orderstatus") === "F", "U")
          .otherwise("I").as("op"))
    graft.operators.Cdc
      .latestWinsMerge(base, changes, "c_custkey", Seq("ts", "tieb"))
      .orderBy("c_custkey")
  }

  /** SCD2 validity intervals (q117): the events stream read as a
    * per-user attribute changelog becomes the standard type-2 dimension
    * — every change versioned with [valid_from, valid_to) and a
    * current flag. The one window is partitioned per USER (bounded
    * state, `sessionize`'s acceptable shape) with the unique event id
    * as tiebreak; the oracle runs the identical window in DuckDB.
    */
  val q117 = Q.checked(
    "q117_scd2_intervals",
    """SELECT user_id, event_id, event_type, value,
              CAST(ts AS TIMESTAMP) AS valid_from,
              lead(CAST(ts AS TIMESTAMP)) OVER w AS valid_to,
              (lead(CAST(ts AS TIMESTAMP)) OVER w IS NULL) AS is_current
       FROM events
       WINDOW w AS (PARTITION BY user_id
                    ORDER BY CAST(ts AS TIMESTAMP), event_id)
       ORDER BY user_id, valid_from, event_id""") { (s, d) =>
    graft.operators.EventAnalytics
      .scd2(Tables.events(s, d).select(
        "user_id", "event_id", "event_type", "value", "ts"))
      .select("user_id", "event_id", "event_type", "value",
        "valid_from", "valid_to", "is_current")
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** Sliding-window RAG chunking (q118): every document split into
    * overlapping 50-token windows at stride 40 — map-only fan-out
    * (explode over a closed-form chunk count), one projected scan, no
    * shuffle. The oracle rebuilds the identical chunks with DuckDB's
    * list slicing; token spans are 1-based inclusive on both sides.
    */
  val q118 = Q.checked(
    "q118_rag_sliding_chunks",
    """WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks
                  FROM documents),
       n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM t),
       c AS (SELECT doc_id, toks, n,
                    unnest(generate_series(0,
                      greatest(0, CAST(ceil((n - 50) / 40.0) AS BIGINT))))
                      AS chunk_idx
             FROM n)
       SELECT doc_id, chunk_idx,
              chunk_idx * 40 + 1 AS token_start,
              least(chunk_idx * 40 + 50, n) AS token_end,
              array_to_string(toks[(chunk_idx * 40 + 1):(chunk_idx * 40 + 50)],
                              ' ') AS chunk_text
       FROM c
       ORDER BY doc_id, chunk_idx""") { (s, d) =>
    graft.operators.Chunking
      .slidingChunks(Tables.documents(s, d), window = 50, stride = 40)
      .orderBy("doc_id", "chunk_idx")
  }

  /** Unigram-LM subword tokenizer (q119, SentencePiece's model): train
    * on the doc_id % 5 slice, encode the whole corpus. Round 12
    * (VERDICT r11 #6): hash-oracled via `UnigramEncodeSql` — q119's
    * training recipe IS the frozen-table recipe (`FrozenVocabSpec`
    * pins frozen == retrained bit-exactly), so the q150 Viterbi twin's
    * counts are the expected output of the LIVE-trained encode too,
    * and a training drift becomes a hash mismatch, not just a spec
    * failure. The in-query property gates stay, the q88/q114 pattern:
    * (a) the distributed EM loop must EQUAL `Unigram.sequentialTrain`
    * (plain Scala) on the collected histogram — legitimate driver
    * state, vocabulary-bounded by the same contract as BPE — and
    * (b) the segmentation must be a lossless roundtrip for EVERY
    * document (concatenated pieces == whitespace-stripped input),
    * which is what makes `n_pieces` a true token count.
    */
  val q119 = Q.checked("q119_unigram_encode", UnigramEncodeSql.sql) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val slice = docs.filter(col("doc_id") % 5 === 0)
    val table = graft.operators.Unigram
      .train(slice, vocabSize = 120, iters = 2, maxPieceLen = 4,
        seedSize = 300).persist()
    val hist = graft.operators.Unigram.wordHistogram(slice)
      .as[(String, Long)].collect().toSeq
    val want = graft.operators.Unigram
      .sequentialTrain(hist, vocabSize = 120, iters = 2, maxPieceLen = 4,
        seedSize = 300)
    val gotTable = table.as[(String, Double)].collect().toMap
    require(gotTable == want,
      s"distributed unigram train diverges from the sequential reference " +
        s"(|got|=${gotTable.size} |want|=${want.size})")
    val enc = graft.operators.Unigram.encodeDocs(docs, table).persist()
    val broken = enc
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .filter(
        regexp_replace(col("piece_text"), lit(" "), lit("")) =!=
          regexp_replace(trim(col("text")), lit("\\s+"), lit("")))
      .count()
    require(broken == 0, s"unigram roundtrip broke on $broken docs")
    graft.util.CacheRelease.afterFirstAction(
      enc.select("doc_id", "n_words", "n_pieces").orderBy("doc_id"),
      Seq(enc, table))
  }

  /** Within-document repeated-bigram span removal (q120) — C4's
    * duplicate-span cleanup at word-bigram granularity: a token is
    * dropped when any bigram covering it repeats an earlier occurrence
    * in the same document; first occurrences always survive. Every
    * shuffle is keyed by doc (or doc+gram), state bounded by document
    * length. The oracle replays the identical window algebra in DuckDB.
    */
  val q120 = Q.checked(
    "q120_drop_repeated_ngrams",
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS toks
                  FROM documents),
       tok0 AS (SELECT doc_id, toks,
                       unnest(generate_series(1, CAST(len(toks) AS BIGINT)))
                         AS i
                FROM t),
       tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS word
               FROM tok0 WHERE toks[i] <> ''),
       g AS (SELECT doc_id, pos, word,
                    CASE WHEN lead(word, 1) OVER w IS NOT NULL
                         THEN word || ' ' || (lead(word, 1) OVER w)
                    END AS gram
             FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       r AS (SELECT doc_id, pos, word, gram,
                    CASE WHEN gram IS NOT NULL AND
                         row_number() OVER (PARTITION BY doc_id, gram
                                            ORDER BY pos) > 1
                         THEN 1 ELSE 0 END AS rep
             FROM g),
       c AS (SELECT doc_id, pos, word,
                    max(rep) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)
                      AS covered,
                    count(*) OVER (PARTITION BY doc_id) AS n_before
             FROM r)
       SELECT doc_id, n_before, CAST(count(*) AS BIGINT) AS n_after,
              string_agg(word, ' ' ORDER BY pos) AS clean_text
       FROM c WHERE covered = 0
       GROUP BY doc_id, n_before
       ORDER BY doc_id""") { (s, d) =>
    graft.operators.TextAnalysis
      .dropRepeatedNgrams(Tables.documents(s, d), n = 2)
      .orderBy("doc_id")
  }

  /** PCA over the embedding corpus (q121): covariance via ONE
    * treeAggregate moment pass (driver state = the 64×64 block), top-4
    * eigenpairs by deterministic power iteration, map-only projection.
    * Not SQL-expressible (iterative eigensolve), rows-only — but gated
    * in-query: (a) each eigenpair satisfies ‖Cv − λv‖∞ ≤ 1e-8·max(1,λ)
    * on the independently re-accumulated covariance, (b) eigenvalues
    * strictly ordered and the top one dominates every coordinate
    * variance, (c) components orthonormal, and (d) DISTRIBUTED check:
    * avg(pc_i²) over the projected corpus must equal λ_i (the defining
    * variance identity of PCA) to 1e-6 relative.
    */
  /** Residual tolerance for the q121 eigen gates: Jacobi diagonalizes
    * to ~1e-14·‖C‖ regardless of eigenvalue gaps (the reason Pca uses
    * it over power iteration, which stalls on the fixture's flat bulk
    * spectrum), so 1e-9 is generous while still catching any broken
    * rotation or moment pass.
    */
  private val PcaResidTol = 1e-9

  // Round 12: hash-oracled — `AnnSql.pcaProject` projects onto the
  // FROZEN committed components (drift-gated equal to this live fit by
  // FrozenCentroidsSpec), so the moment pass, Jacobi eigensolver and
  // projection all hash-compare; outputs round to 6 on both engines.
  val q121 = Q.checked("q121_pca_project", AnnSql.pcaProject) { (s, d) =>
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val comps = graft.operators.Pca.fitTopK(emb, k = 4)
    val rows = comps.select("comp_id", "eigenvalue", "vector", "mean")
      .as[(Int, Double, Seq[Double], Seq[Double])].collect().sortBy(_._1)
    val (n, sums, gram) = graft.operators.Pca.moments(emb)
    val dd = sums.length
    val cov = graft.operators.Pca.covariance(n, sums, gram)
    for (((_, lam, v, _), i) <- rows.zipWithIndex) {
      val resid = (0 until dd).map { r =>
        val cvr = (0 until dd).map(c0 => cov(r * dd + c0) * v(c0)).sum
        math.abs(cvr - lam * v(r))
      }.max
      require(resid <= PcaResidTol * math.max(1.0, math.abs(lam)),
        s"eigen residual $resid too large for component $i (lambda=$lam)")
      val norm = math.sqrt(v.map(x => x * x).sum)
      require(math.abs(norm - 1.0) <= 1e-10, s"component $i not unit norm")
    }
    for (i <- rows.indices; j <- 0 until i) {
      val dotIj = rows(i)._3.zip(rows(j)._3).map { case (a, b) => a * b }.sum
      require(math.abs(dotIj) <= 1e-7,
        s"components $i,$j not orthogonal: $dotIj")
      require(rows(j)._2 >= rows(i)._2 - 1e-9,
        s"eigenvalues out of order at $j,$i")
    }
    val maxCoordVar = (0 until dd).map(i => cov(i * dd + i)).max
    require(rows(0)._2 >= maxCoordVar - 1e-9,
      s"top eigenvalue ${rows(0)._2} below max coordinate variance $maxCoordVar")
    val proj = graft.operators.Pca.project(emb, comps).persist()
    val varRow = proj.agg(
      avg(col("pc0") * col("pc0")), avg(col("pc1") * col("pc1")),
      avg(col("pc2") * col("pc2")), avg(col("pc3") * col("pc3"))).head()
    for (i <- 0 until 4) {
      val lam = rows(i)._2
      require(math.abs(varRow.getDouble(i) - lam) <= 1e-6 * math.max(1.0, lam),
        s"projected variance ${varRow.getDouble(i)} != lambda $lam for pc$i")
    }
    graft.util.CacheRelease.afterFirstAction(
      proj.select(col("vec_id"),
        round(col("pc0"), 6).as("pc0"), round(col("pc1"), 6).as("pc1"),
        round(col("pc2"), 6).as("pc2"), round(col("pc3"), 6).as("pc3"))
        .orderBy("vec_id"), Seq(proj))
  }

  /** Weighted sampling without replacement (q122, Efraimidis–Spirakis):
    * top-25 per language by u^(1/n_chars) with u a deterministic
    * integer-LCG variate of doc_id — the draw is engine-portable, so
    * the DuckDB oracle replays it EXACTLY (same integers, same pow; key
    * gaps are ~1e-6 while cross-engine pow differs at ~1e-16, so the
    * order can't flip). Per-group state is bounded at k by the TopK
    * UDAF — no window over the corpus.
    */
  val q122 = Q.checked(
    "q122_weighted_sample",
    """WITH k AS (
         SELECT lang, doc_id,
                CASE WHEN n_chars > 0 THEN
                  power(CAST((doc_id * 48271 + 11) % 2147483647 AS DOUBLE)
                          / 2147483647.0,
                        1.0 / n_chars)
                ELSE 0.0 END AS key
         FROM documents),
       r AS (SELECT lang, doc_id,
                    row_number() OVER (PARTITION BY lang
                                       ORDER BY key DESC, doc_id) AS rank
             FROM k)
       SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank
       FROM r WHERE rank <= 25
       ORDER BY lang, rank""") { (s, d) =>
    graft.operators.Curation.weightedSample(Tables.documents(s, d), k = 25)
      .orderBy("lang", "rank")
  }

  /** Span-masking decontamination (q123): the PaLM-style variant of q66
    * — benchmark 3-gram hits mask the covered tokens instead of
    * dropping the document. Bench set = the q66 slice (doc_id % 37).
    * The oracle replays the identical gram/coverage window algebra in
    * DuckDB over the same slice.
    */
  val q123 = Q.checked(
    "q123_decontaminate_mask_spans",
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS toks
                  FROM documents),
       tok0 AS (SELECT doc_id, toks,
                       unnest(generate_series(1, CAST(len(toks) AS BIGINT)))
                         AS i
                FROM t),
       tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS word
               FROM tok0 WHERE toks[i] <> ''),
       g AS (SELECT doc_id, pos, word,
                    CASE WHEN lead(word, 2) OVER w IS NOT NULL
                         THEN word || ' ' || (lead(word, 1) OVER w) || ' '
                              || (lead(word, 2) OVER w)
                    END AS gram
             FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       bg AS (SELECT DISTINCT gram FROM g
              WHERE doc_id % 37 = 0 AND gram IS NOT NULL),
       f AS (SELECT doc_id, pos, word,
                    CASE WHEN gram IS NOT NULL AND
                              gram IN (SELECT gram FROM bg)
                         THEN 1 ELSE 0 END AS contaminated
             FROM g),
       c AS (SELECT doc_id, pos, word,
                    max(contaminated) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS covered
             FROM f)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(covered) AS BIGINT) AS n_masked,
              string_agg(CASE WHEN covered = 1 THEN '<extra_id_0>'
                              ELSE word END, ' ' ORDER BY pos) AS masked_text
       FROM c GROUP BY doc_id
       ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.operators.Decontamination
      .maskContaminatedSpans(docs, docs.filter(col("doc_id") % 37 === 0),
        n = 3)
      .orderBy("doc_id")
  }

  /** Incremental aggregate maintenance (q125): fold the post-cutoff
    * order rows into the pre-cutoff per-customer (cnt, total) snapshot.
    * The ORACLE is the full recompute over all orders — the refresh
    * invariant that makes incremental maintenance trustworthy — and the
    * in-query require checks the same equivalence distributed (1e-6 on
    * the float totals: a two-term merged sum may differ from the
    * one-pass sum in the last ulp).
    */
  val q125 = Q.checked(
    "q125_incremental_agg_merge",
    """SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cnt,
              round(sum(o_totalprice), 2) AS total
       FROM orders GROUP BY 1 ORDER BY 1""") { (s, d) =>
    val orders = Tables.orders(s, d)
    val cutoff = "1997-01-01"
    val snap = orders.filter(col("o_orderdate") < lit(cutoff))
      .groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("total"))
    val delta = orders.filter(col("o_orderdate") >= lit(cutoff))
      .select(col("o_custkey").as("k"), col("o_totalprice"))
    val merged = graft.operators.Cdc
      .mergeAggDelta(snap, delta, "k", "o_totalprice").persist()
    val full = orders.groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("cnt"), sum("o_totalprice").as("total"))
    val bad = merged.alias("m")
      .join(full.alias("f"), Seq("k"), "full_outer")
      .filter(col("m.cnt").isNull || col("f.cnt").isNull ||
        col("m.cnt") =!= col("f.cnt") ||
        abs(col("m.total") - col("f.total")) > 1e-6)
      .count()
    require(bad == 0,
      s"incremental merge diverges from full recompute on $bad keys")
    graft.util.CacheRelease.afterFirstAction(
      merged.select(col("k"), col("cnt"),
        round(col("total"), 2).as("total")).orderBy("k"),
      Seq(merged))
  }

  /** Sequence packing with position ids (q126): concat-then-split to
    * seqLen=128 over 8 content-hash shards, documents straddling
    * sequence boundaries. The oracle replays the prefix-sum +
    * generate_series algebra in DuckDB; in-query require: every
    * sequence but each shard's last holds exactly 128 tokens (the
    * packing invariant).
    */
  val q126 = Q.checked(
    "q126_pack_sequences",
    """WITH d AS (SELECT doc_id,
                    ('0x' || substr(md5('graft' || text), 1, 8))::BIGINT
                      % 10000 % 8 AS shard,
                    CAST(len(regexp_split_to_array(trim(text), '[\s\x0B]+'))
                      AS BIGINT) AS n_toks
              FROM documents),
       s AS (SELECT doc_id, shard, n_toks,
                    CAST(COALESCE(sum(n_toks) OVER (PARTITION BY shard
                      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS BIGINT) AS g_start
             FROM d),
       sp AS (SELECT shard, doc_id, g_start, n_toks,
                     unnest(generate_series(g_start // 128,
                       (g_start + n_toks - 1) // 128)) AS seq_id
              FROM s)
       SELECT shard, seq_id, doc_id,
              greatest(g_start, seq_id * 128) - seq_id * 128 AS seq_off,
              greatest(g_start, seq_id * 128) - g_start AS pos_start,
              least(g_start + n_toks, (seq_id + 1) * 128)
                - greatest(g_start, seq_id * 128) AS span_toks
       FROM sp ORDER BY shard, seq_id, seq_off""") { (s, d) =>
    val packed = graft.operators.Curation
      .packSequences(Tables.documents(s, d), seqLen = 128, nShards = 8)
      .persist()
    val lastSeq = packed.groupBy("shard").agg(max("seq_id").as("last_seq"))
    val notFull = packed.groupBy("shard", "seq_id")
      .agg(sum("span_toks").as("toks"))
      .join(lastSeq, Seq("shard"))
      .filter(col("seq_id") < col("last_seq") && col("toks") =!= 128)
      .count()
    require(notFull == 0, s"$notFull non-final sequences not exactly full")
    graft.util.CacheRelease.afterFirstAction(
      packed.orderBy("shard", "seq_id", "seq_off"), Seq(packed))
  }

  /** Unicode normalization (q128): NFC composition (native codegen
    * Expression) + control strip + whitespace collapse, against
    * DuckDB's nfc_normalize + the same RE2-portable regexes. A
    * decomposed-é suffix and a BEL control are planted on every doc so
    * the composition provably fires at every row (the fixture corpus is
    * ASCII); the in-query require checks every normalized text ends
    * with the PRECOMPOSED form.
    */
  val q128 = Q.checked(
    "q128_text_nfc_normalize",
    """SELECT doc_id,
              trim(regexp_replace(regexp_replace(
                nfc_normalize(text || ' caf' || chr(101) || chr(769)
                  || ' ' || chr(7)),
                '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                '[\s\x0B]+', ' ', 'g')) AS norm_text,
              CAST(length(text || ' caf' || chr(101) || chr(769) || ' '
                  || chr(7))
                - length(trim(regexp_replace(regexp_replace(
                    nfc_normalize(text || ' caf' || chr(101) || chr(769)
                      || ' ' || chr(7)),
                    '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                    '[\s\x0B]+', ' ', 'g'))) AS BIGINT) AS removed_chars
       FROM documents ORDER BY doc_id""") { (s, d) =>
    graft.functions.GraftFunctions.register(s)
    val planted = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"), lit(" caf"), lit("e\u0301"), lit(" \u0007"))
        .as("text"))
    val out = graft.operators.TextAnalysis.normalizeText(planted).persist()
    val bad = out.filter(!col("norm_text").endsWith(" caf\u00e9")).count()
    require(bad == 0, s"$bad rows missing the composed café suffix")
    graft.util.CacheRelease.afterFirstAction(out.orderBy("doc_id"), Seq(out))
  }

  /** Hard-negative mining (q129): per query vector, the exact top-5
    * most-cosine-similar vectors with a DIFFERENT label — the
    * contrastive-training sampling step. The oracle is the q35
    * formulation plus the label inequality, so the label filter and the
    * ranking are both hash-checked.
    */
  val q129 = Q.checked(
    "q129_hard_negatives",
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
                         label AS qlabel
                  FROM embeddings WHERE vec_id IN (0,1,2,3,4,5,6,7,8,9)),
       scored AS (
         SELECT q.query_id, e.vec_id AS neighbor_id,
                round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                             CAST(q.qvec AS DOUBLE[])), 6)
                  AS cos_sim
         FROM embeddings e JOIN q ON e.label <> q.qlabel)
       SELECT query_id, neighbor_id, cos_sim, rank FROM (
         SELECT query_id, neighbor_id, cos_sim,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
         FROM scored)
       WHERE rank <= 5
       ORDER BY query_id, neighbor_id""") { (s, d) =>
    VectorSearch.hardNegatives(Tables.embeddings(s, d), queryIds = 0L to 9L,
        k = 5)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Quality-keeper transitive dedup (q130): the q69 cluster drop, but
    * keeping each near-dup cluster's LONGEST member (n_chars, ties to
    * the lower id) instead of the arbitrary min id — "keep the fullest
    * copy", the curation-grade keeper rule. Shares the q68/q69
    * recursive-closure oracle prefix.
    */
  val q130 = Q.checked(
    "q130_dedup_keep_best",
    s"""$dupGraphCtes,
       scored AS (SELECT comp.id, comp.component, d.n_chars
                  FROM comp JOIN documents d ON d.doc_id = comp.id),
       keepers AS (SELECT component, id AS keeper FROM (
                     SELECT component, id,
                            row_number() OVER (PARTITION BY component
                              ORDER BY n_chars DESC, id) AS rn
                     FROM scored)
                   WHERE rn = 1),
       losers AS (SELECT s.id FROM scored s
                  JOIN keepers k ON k.component = s.component
                  WHERE s.id <> k.keeper)
       SELECT d.doc_id FROM documents d
       WHERE NOT EXISTS (SELECT 1 FROM losers WHERE losers.id = d.doc_id)
       ORDER BY d.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    val comps = graft.operators.DupGraph
      .components(Dedup.jaccardPairs(docs, threshold = 0.5))
    graft.operators.DupGraph
      .dropNearDupsKeepBest(docs, comps, scoreCol = "n_chars")
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Per-group adaptive quality threshold (q132): keep each language's
    * top-25%-longest docs — threshold from the group's OWN p75, exact
    * percentile with linear interpolation on both engines (Spark
    * `percentile` == DuckDB `quantile_cont`), agg + broadcast join
    * instead of a skew-prone percent_rank window.
    */
  val q132 = Q.checked(
    "q132_quantile_keep",
    """WITH thr AS (SELECT lang, quantile_cont(n_chars, 0.75) AS thr
                    FROM documents WHERE lang IS NOT NULL GROUP BY lang)
       SELECT d.doc_id, d.lang, d.n_chars, round(t.thr, 6) AS thr
       FROM documents d JOIN thr t ON d.lang = t.lang
       WHERE d.n_chars >= t.thr
       ORDER BY d.doc_id""") { (s, d) =>
    graft.operators.Curation
      .quantileKeep(Tables.documents(s, d), valueCol = "n_chars",
        groupCol = "lang", q = 0.75)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("thr"), 6).as("thr"))
      .orderBy("doc_id")
  }

  /** Top-p (nucleus) source truncation (q133): order sources by total
    * char weight, keep the smallest prefix covering >= 800‰ of the
    * corpus — all-integer (permille + ceil division), so the DuckDB
    * twin replays the identical cut.
    */
  val q133 = Q.checked(
    "q133_top_p_sources",
    """WITH w AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS weight
                  FROM documents GROUP BY source),
       t AS (SELECT CAST(sum(weight) AS BIGINT) AS total FROM w),
       c AS (SELECT source, weight,
                    CAST(sum(weight) OVER (ORDER BY weight DESC, source
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_weight,
                    total
             FROM w, t)
       SELECT source, weight, cum_weight FROM c
       WHERE cum_weight - weight < (total * 800 + 999) // 1000
       ORDER BY source""") { (s, d) =>
    graft.operators.Curation
      .topPSources(Tables.documents(s, d), pPermille = 800)
      .orderBy("source")
  }

  // -------------------------------------------------- incremental ingest

  /** Synthetic incoming batch for the incremental-dedup queries, derived
    * from the fixture: exact copies (+1e6 ids), tail-appended near-dups
    * (+2e6, restricted to n_chars >= 200 so shingle Jaccard stays well
    * above threshold), and reversed texts (+3e6 — shingle-disjoint from
    * every base doc, i.e. genuinely new content).
    */
  private val IncrTail = " incremental probe tail"

  def incrBatch(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .unionByName(
        docs.filter(col("doc_id") % 10 === 1 && col("n_chars") >= 200)
          .withColumn("doc_id", col("doc_id") + 2000000)
          .withColumn("text", concat(col("text"), lit(IncrTail))))
      .unionByName(
        docs.filter(col("doc_id") % 10 === 2)
          .withColumn("doc_id", col("doc_id") + 3000000)
          .withColumn("text", reverse(col("text"))))
      .select("doc_id", "text")
  }

  private val incrBatchSql =
    s"""(SELECT doc_id + 1000000 AS doc_id, text
         FROM documents WHERE doc_id % 10 = 0
         UNION ALL
         SELECT doc_id + 2000000 AS doc_id,
                text || '$IncrTail' AS text
         FROM documents WHERE doc_id % 10 = 1 AND n_chars >= 200
         UNION ALL
         SELECT doc_id + 3000000 AS doc_id, reverse(text) AS text
         FROM documents WHERE doc_id % 10 = 2)"""

  /** Incremental exact-hash dedup (q135): the new batch left-joined to
    * the base corpus's digest→keeper table — the rolling-crawl gate's
    * first stage, with the base never re-paired against itself.
    */
  val q135 = Q.checked(
    "q135_incremental_exact",
    s"""WITH batch AS (SELECT * FROM $incrBatchSql AS b),
       digests AS (SELECT md5(text) AS digest, min(doc_id) AS dup_of
                   FROM documents GROUP BY 1)
       SELECT batch.doc_id, md5(batch.text) AS digest,
              digests.dup_of, digests.dup_of IS NOT NULL AS is_dup
       FROM batch LEFT JOIN digests ON md5(batch.text) = digests.digest
       ORDER BY batch.doc_id""") { (s, d) =>
    Dedup.incrementalExact(Tables.documents(s, d), incrBatch(s, d))
      .orderBy("doc_id")
  }

  /** Incremental ingest classification (q136): exact → near (banded
    * MinHash probe batch→base, Jaccard-verified) → new. Round 12
    * (VERDICT r11 #3): hash-oracled — the DuckDB twin recomputes the
    * labels FROM SCRATCH with brute-force exact shingle Jaccard (every
    * batch×base pair), so the hash compare certifies the LSH probe's
    * candidate recall, the verification algebra and the label/keeper
    * precedence all at once. This is sound because both sides are
    * deterministic (fixed MinHash seed) and the fixtures have NO
    * boundary pairs: a round-12 brute-force sweep of every batch→base
    * pair at sf0.01 AND sf0.1 found qualifying Jaccards only at ≥ 0.88
    * (tail-appends) and 1.0 (copies) — nothing in [0.5, 0.85] — while
    * 16-band × 4-row LSH misses a 0.88 pair with probability < 1e-7
    * (and deterministically finds every planted one here). The planted
    * family gates stay for the non-oracled scales: every +1e6 row must
    * come back `exact_dup` pointing at its origin, every +2e6
    * tail-append `near_dup`, every +3e6 reversal `new`.
    */
  val q136 = Q.checked(
    "q136_incremental_ingest",
    s"""WITH batch AS (SELECT * FROM $incrBatchSql AS b),
       digests AS (SELECT md5(text) AS digest, min(doc_id) AS dup_of
                   FROM documents GROUP BY 1),
       ex AS (SELECT batch.doc_id, digests.dup_of AS exact_of
              FROM batch LEFT JOIN digests ON md5(batch.text) = digests.digest),
       bsh AS (SELECT doc_id,
                      CASE WHEN length(text) < 5 THEN [text]
                           ELSE list_distinct([substr(text, i, 5)
                                               for i in range(1, length(text) - 3)])
                      END AS s
               FROM batch),
       dsh AS (SELECT doc_id,
                      CASE WHEN length(text) < 5 THEN [text]
                           ELSE list_distinct([substr(text, i, 5)
                                               for i in range(1, length(text) - 3)])
                      END AS s
               FROM documents),
       near AS (
         SELECT bid AS doc_id, min(did) AS near_of FROM (
           SELECT b.doc_id AS bid, d.doc_id AS did,
                  len(list_intersect(b.s, d.s)) AS inter,
                  len(b.s) AS l1, len(d.s) AS l2
           FROM bsh b CROSS JOIN dsh d)
         WHERE inter > 0
           AND round(inter / (l1 + l2 - inter), 6) >= 0.7
         GROUP BY 1)
       SELECT ex.doc_id,
              CASE WHEN ex.exact_of IS NOT NULL THEN 'exact_dup'
                   WHEN near.near_of IS NOT NULL THEN 'near_dup'
                   ELSE 'new' END AS label,
              coalesce(ex.exact_of, near.near_of) AS dup_of
       FROM ex LEFT JOIN near ON near.doc_id = ex.doc_id
       ORDER BY ex.doc_id""") { (s, d) =>
    val out = Dedup.incrementalLabel(
      Tables.documents(s, d), incrBatch(s, d), threshold = 0.7).persist()
    val wrongExact = out
      .filter(col("doc_id").between(1000000L, 1999999L) &&
        (col("label") =!= "exact_dup" ||
          col("dup_of") =!= col("doc_id") - 1000000L))
      .count()
    require(wrongExact == 0,
      s"$wrongExact planted exact copies not labeled exact_dup@origin")
    val wrongNear = out
      .filter(col("doc_id").between(2000000L, 2999999L) &&
        col("label") =!= "near_dup")
      .count()
    require(wrongNear == 0,
      s"$wrongNear planted tail-appended docs not labeled near_dup")
    val wrongNew = out
      .filter(col("doc_id") >= 3000000L && col("label") =!= "new")
      .count()
    require(wrongNew == 0,
      s"$wrongNew reversed docs not labeled new")
    graft.util.CacheRelease.afterFirstAction(out.orderBy("doc_id"), Seq(out))
  }

  /** Cluster-balanced diversity sampling (q137): an exact per-k-means-cell
    * quota over the embedding corpus — even semantic-space coverage
    * instead of the crawl's topical skew. Round 12: cells come from the
    * FROZEN quantizer, so assignment + hash-rank quota hash-match the
    * DuckDB twin (`AnnSql.diversitySample`, the q111 rank-key idiom);
    * the in-query gates keep pinning the quota semantics (ranks dense
    * from 1, never above the quota, one rank per id) and the spec pins
    * exact per-cell counts against an independent assignment.
    */
  val q137 = Q.checked("q137_cluster_diversity_sample",
    AnnSql.diversitySample) { (s, d) =>
    val out = graft.operators.ClusterSample
      .diversitySampleFrom(Tables.embeddings(s, d),
        frozenCoarse(s, d), nPerCluster = 5)
      .persist()
    val overQuota = out.groupBy("cell").count()
      .filter(col("count") > 5).count()
    require(overQuota == 0, s"$overQuota cells exceed the quota")
    // ranks are dense 1..k(cell): max rank == cell count, no duplicates
    val badRanks = out.groupBy("cell")
      .agg(max("rn").as("mx"), count(lit(1)).as("n"),
        countDistinct("rn").as("nd"))
      .filter(col("mx") =!= col("n") || col("nd") =!= col("n"))
      .count()
    require(badRanks == 0, s"$badRanks cells with non-dense ranks")
    val cells = out.select("cell").distinct().count()
    require(cells >= 8, s"only $cells of 16 cells represented")
    graft.util.CacheRelease.afterFirstAction(
      out.orderBy("cell", "rn"), Seq(out))
  }

  /** Image resize (q138): exact integer area-average downscale of the
    * solid-gray [[graft.operators.Multimodal.syntheticPngTable]] to 8×8,
    * decoded back through the SAME ImageIO codec path the rest of the
    * image family uses. Solid stays solid under any correct area
    * average, and the 299/587/114 luma of gray g is exactly g
    * ((299+587+114)·g / 1000 = g), so the thumbnail's dimensions and
    * mean are closed-form in doc_id — a full DuckDB hash-match oracle
    * over a real encode→resize→re-encode→decode round-trip. Patterned
    * (non-solid) inputs are pinned against an independent sequential
    * area-average in MultimodalResizeSpec.
    */
  val q138 = Q.checked(
    "q138_multimodal_image_resize",
    """SELECT doc_id, 8 AS width, 8 AS height,
       doc_id % 256 AS mean_luma
       FROM documents ORDER BY doc_id""") { (s, d) =>
    import s.implicits._
    graft.operators.Multimodal.resizeImages(
      graft.operators.Multimodal.syntheticPngTable(Tables.documents(s, d)),
      targetW = 8, targetH = 8)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, png) =>
        graft.operators.Multimodal.decodeImage(png).map(dec =>
          (id, dec.width, dec.height, dec.mean_luma))
      })
      .toDF("doc_id", "width", "height", "mean_luma")
      .orderBy("doc_id")
  }

  /** Video frame sampling (q139, round 13 on a STANDARD container):
    * every 3rd frame of each uncompressed-DIB RIFF/AVI clip in
    * [[graft.operators.Multimodal.syntheticAviTable]] — payloads any
    * external tool (ffmpeg, a media player) can read — with exact
    * integer per-frame palette-resolved mean luma. The synthetic
    * construction makes every output column closed-form in (doc_id,
    * frame_idx) — dimensions, frame count, and the solid frame level
    * (doc_id + 7·frame_idx) mod 256 (a 256-gray palette is lossless for
    * solid frames, and luma(g,g,g) = g exactly) — so DuckDB recomputes
    * the whole result with generate_series: a real RIFF chunk-grammar
    * parse + temporal subsample under a hash-match oracle. Truncated/
    * forged-container rejection, cross-container agreement with GIF and
    * non-solid frame means are pinned in MultimodalAviSpec.
    */
  val q139 = Q.checked(
    "q139_multimodal_video_frame_sample",
    """SELECT doc_id, frame_idx,
       16 + doc_id % 16 AS width,
       16 + doc_id % 8 AS height,
       8 + doc_id % 8 AS n_frames,
       (doc_id + 7 * frame_idx) % 256 AS mean_luma
       FROM (SELECT doc_id,
               unnest(generate_series(0, 7 + doc_id % 8, 3)) AS frame_idx
             FROM documents) t
       ORDER BY doc_id, frame_idx""") { (s, d) =>
    graft.operators.Multimodal.aviFrameSample(
      graft.operators.Multimodal.syntheticAviTable(Tables.documents(s, d)),
      stride = 3)
      .orderBy("doc_id", "frame_idx")
  }

  /** DSIR-shaped importance selection (q140): top-50 docs whose unigram
    * profile is closest to the lang='en' target slice, scored by the
    * integer-quantized probability-ratio sum (`Selection`'s class doc:
    * the ln-free exact twin of the Xie-et-al log-likelihood ratio, the
    * same correctly-rounded-arithmetic discipline as q76/q79). Every
    * output column is a BIGINT — counts, the quantized weight, the
    * div-quantized mean score, the rank — so the oracle compare never
    * touches a float anywhere in a two-model pipeline.
    */
  val q140 = Q.checked(
    "q140_dsir_importance_select",
    """WITH tok AS (SELECT doc_id, lang,
              unnest(regexp_split_to_array(trim(lower(text)), '[\s\x0B]+')) AS term
            FROM documents),
       tf AS (SELECT doc_id, term,
              max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS is_t,
              CAST(count(*) AS BIGINT) AS tf
              FROM tok WHERE term <> '' GROUP BY doc_id, term),
       rq AS (SELECT term,
              (CAST(sum(tf * is_t) AS BIGINT) + 1) * 1000000
                // (CAST(sum(tf) AS BIGINT) + 1) AS r_q
              FROM tf GROUP BY term),
       w AS (SELECT tf.doc_id,
             CAST(sum(tf.tf) AS BIGINT) AS n_toks,
             CAST(sum(tf.tf * rq.r_q) AS BIGINT) AS weight
             FROM tf JOIN rq USING (term) GROUP BY tf.doc_id),
       sel AS (SELECT doc_id, n_toks, weight,
               weight // n_toks AS score_q FROM w)
       SELECT doc_id, n_toks, weight, score_q,
              CAST(row_number() OVER (ORDER BY score_q DESC, doc_id)
                AS BIGINT) AS rank
       FROM sel ORDER BY score_q DESC, doc_id LIMIT 50""") { (s, d) =>
    graft.operators.Selection
      .selectByImportance(Tables.documents(s, d),
        isTarget = col("lang") === "en", k = 50)
      .orderBy("rank")
  }

  /** q141's dictionary (shared with the oracle SQL builder). The last
    * two keywords are deliberately BORDERFUL ("oo" has border "o",
    * "ana" has border "a"), so overlapping self-matches genuinely occur
    * in English-ish text ("banana" holds two "ana"s) and the oracle
    * must count every end position, not non-overlapping occurrences.
    */
  private val TagKeywords =
    Seq("spark", "join", "stream", "art", "key order", "agg", "oo", "ana")

  // Multi-keyword tagging (q141): ONE Aho–Corasick pass per doc counts
  // every dictionary keyword — substring matches ("art" inside "part"),
  // cross-word phrases ("key order"), and OVERLAPPING self-matches
  // included — against a position-based DuckDB twin built from the same
  // Scala list: one probe per (doc, keyword, start position), counting
  // exactly the automaton's every-end-position semantics for ANY
  // dictionary (the r9 replace()-count twin was valid only for
  // border-free keywords; this one has no such restriction). The
  // position series is UNCORRELATED (one series up to max doc length,
  // bounded per row by a filter): DuckDB 1.0.0's binder fails with an
  // INTERNAL error on a correlated unnest(generate_series(...)) that a
  // later predicate references.
  val q141 = Q.checked(
    "q141_keyword_tag_ac", {
      val kwList = TagKeywords.map(k => s"'$k'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, lower(text) AS txt FROM documents),
         k AS (SELECT unnest([$kwList]) AS kw),
         mx AS (SELECT max(length(txt)) AS m FROM t),
         p AS (SELECT unnest(generate_series(1, (SELECT m FROM mx))) AS p),
         m2 AS (SELECT doc_id, kw, p
                FROM t CROSS JOIN k CROSS JOIN p
                WHERE p <= length(txt) - length(kw) + 1
                  AND substr(txt, CAST(p AS INTEGER), length(kw)) = kw)
         SELECT doc_id, kw AS keyword, CAST(count(*) AS BIGINT) AS n_matches
         FROM m2 GROUP BY doc_id, kw ORDER BY doc_id, keyword"""
    }) { (s, d) =>
    graft.operators.KeywordTag
      .tag(Tables.documents(s, d), TagKeywords)
      .orderBy("doc_id", "keyword")
  }

  // Snapshot diff (q143): row-level reconciliation between two keyed
  // table versions — the `next` snapshot is constructed in-query from
  // the fixture by three deterministic doc_id rules (drop %10==7 →
  // removed, append ' v2' to %10==3 → changed, re-id docs <25 → added),
  // so the oracle rebuilds the identical snapshot and replays the same
  // full-outer classification. Composes with q142: the manifest says
  // WHICH partition drifted, this says WHAT changed.
  val q143 = Q.checked(
    "q143_snapshot_diff",
    """WITH nxt AS (
         SELECT doc_id,
                CASE WHEN doc_id % 10 = 3 THEN text || ' v2'
                     ELSE text END AS text
         FROM documents WHERE doc_id % 10 <> 7
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, text
         FROM documents WHERE doc_id < 25),
       d AS (SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
               CASE WHEN p.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN p.text IS DISTINCT FROM n.text THEN 'changed'
               END AS change
             FROM documents p FULL OUTER JOIN nxt n
               ON p.doc_id = n.doc_id)
       SELECT doc_id, change FROM d WHERE change IS NOT NULL
       ORDER BY doc_id""") { (s, d) =>
    val prev = Tables.documents(s, d)
    val next = prev
      .filter(col("doc_id") % 10 =!= 7)
      .withColumn("text",
        when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(prev.filter(col("doc_id") < 25)
        .withColumn("doc_id", col("doc_id") + 1000000L))
    graft.operators.Snapshot
      .diff(prev, next, keyCols = Seq("doc_id"), compareCols = Seq("text"))
      .orderBy("doc_id")
  }

  // PMI collocation mining (q144): top-50 adjacent bigrams by the
  // integer-quantized pointwise mutual information (the reference's MI
  // statistic lifted from dependency slots to surface bigrams; ln-free
  // per the q140/q79 discipline, so every output column is BIGINT or
  // string). The oracle forms bigrams by zipping the two shifted list
  // slices — structurally different from the engine's array transform,
  // same adjacency pairs.
  val q144 = Q.checked(
    "q144_pmi_collocations",
    """WITH d AS (SELECT list_filter(
              regexp_split_to_array(trim(lower(text)), '[\s\x0B]+'),
              t -> t <> '') AS toks FROM documents),
       uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c
              FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w),
       big AS (SELECT unnest(toks[1:len(toks)-1]) AS w1,
                      unnest(toks[2:len(toks)]) AS w2
               FROM d WHERE len(toks) >= 2),
       bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy
              FROM big GROUP BY w1, w2),
       tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uc) AS n_u,
                      (SELECT CAST(sum(c_xy) AS BIGINT) FROM bc) AS n_b),
       sel AS (SELECT bc.w1, bc.w2, bc.c_xy, x.c AS c_x, y.c AS c_y,
                 bc.c_xy * tot.n_u * tot.n_u * 1000
                   // (x.c * y.c * tot.n_b) AS pmi_q
               FROM bc JOIN uc x ON bc.w1 = x.w
                 JOIN uc y ON bc.w2 = y.w CROSS JOIN tot
               WHERE bc.c_xy >= 5)
       SELECT w1, w2, c_xy, c_x, c_y, pmi_q FROM sel
       ORDER BY pmi_q DESC, w1, w2 LIMIT 50""") { (s, d) =>
    graft.operators.Collocations
      .topBigramsByPmi(Tables.documents(s, d), k = 50, minCount = 5L,
        scale = 1000L)
  }

  /** Animated-GIF frame sampling (q145): the q139 temporal-subsample
    * contract over a REAL public container — every clip is encoded
    * through the standard ImageIO GIF sequence writer and decoded back
    * through the standard reader, with the same closed-form
    * construction (solid frames survive palettization losslessly, and
    * 299/587/114 luma of gray g is exactly g), so the same
    * generate_series oracle hash-matches a genuine encode→decode
    * round-trip that any external tool could reproduce.
    */
  val q145 = Q.checked(
    "q145_multimodal_gif_frame_sample",
    """SELECT doc_id, frame_idx,
       16 + doc_id % 16 AS width,
       16 + doc_id % 8 AS height,
       8 + doc_id % 8 AS n_frames,
       (doc_id + 7 * frame_idx) % 256 AS mean_luma
       FROM (SELECT doc_id,
               unnest(generate_series(0, 7 + doc_id % 8, 3)) AS frame_idx
             FROM documents) t
       ORDER BY doc_id, frame_idx""") { (s, d) =>
    graft.operators.Multimodal.gifFrameSample(
      graft.operators.Multimodal.syntheticGifTable(Tables.documents(s, d)),
      stride = 3)
      .orderBy("doc_id", "frame_idx")
  }

  // Hybrid-retrieval RRF fusion (q146): the q76 BM25 top-20 and the
  // q35 cosine top-20 (query vector = vec_id 0) fused by reciprocal
  // rank — both retrievers' ranks are already proven bit-identical
  // cross-engine by their own oracles, so the fused score
  // 1/(60+r_lex) + 1/(60+r_sem), added left-to-right from BIGINT ranks,
  // hash-matches after floor-quantization. The oracle repeats both
  // retrieval formulations verbatim and fuses with the same coalesce
  // arithmetic; a doc retrieved by only one list keeps a NULL rank.
  val q146 = Q.checked(
    "q146_hybrid_rrf_fusion", {
      val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
      val pivots = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"sum(CASE WHEN term = '$t' THEN c ELSE 0.0 END) AS c$i"
      }.mkString(",\n                  ")
      val total = Bm25Terms.indices.map(i => s"c$i").mkString(" + ")
      s"""WITH d AS (SELECT doc_id,
                 regexp_split_to_array(trim(lower(text)), '[\\s\\x0B]+') AS toks
          FROM documents),
        dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(dl) AS BIGINT) AS tot FROM dl),
        tok AS (SELECT doc_id, unnest(toks) AS term FROM d),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM tok WHERE term IN ($termList) GROUP BY doc_id, term),
        df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        contrib AS (SELECT tf.doc_id, tf.term,
            ((CAST(stats.n AS DOUBLE) - df.df + 0.5) / (df.df + 0.5)) *
            ((tf.tf * (1.2 + 1.0)) /
             (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 *
               (dl.dl / (CAST(stats.tot AS DOUBLE) / CAST(stats.n AS DOUBLE)))))) AS c
          FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats),
        piv AS (SELECT doc_id, $pivots FROM contrib GROUP BY doc_id),
        lex AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY $total DESC, doc_id) AS BIGINT) AS r_lex
                FROM piv ORDER BY $total DESC, doc_id LIMIT 20),
        q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        semscored AS (SELECT e.vec_id AS doc_id,
            round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                         CAST(q.qvec AS DOUBLE[])), 6) AS cos_sim
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0),
        sem AS (SELECT doc_id,
                  CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS r_sem
                FROM semscored ORDER BY cos_sim DESC, doc_id LIMIT 20),
        fused AS (SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
                    r_lex, r_sem,
                    coalesce(1e0 / (60 + r_lex), 0e0) +
                    coalesce(1e0 / (60 + r_sem), 0e0) AS rrf
                  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
        SELECT doc_id, r_lex, r_sem,
               CAST(floor(rrf * 1e9) AS BIGINT) AS rrf_q,
               CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        FROM fused ORDER BY rrf DESC, doc_id LIMIT 10"""
    }) { (s, d) =>
    val lex = TfIdf.bm25(Tables.documents(s, d), Bm25Terms, k = 20)
      .select(col("doc_id"), col("rank").as("r_lex"))
    val sem = VectorSearch
      .cosineTopK(Tables.embeddings(s, d), queryIds = Seq(0L), k = 20)
      .select(col("neighbor_id").as("doc_id"),
        col("rank").cast("long").as("r_sem"))
    graft.operators.HybridSearch
      .rrfFuse(Seq(lex -> "r_lex", sem -> "r_sem"), idCol = "doc_id",
        k = 10, c = 60)
      .select(col("doc_id"), col("r_lex"), col("r_sem"),
        floor(col("rrf_score") * lit(1e9)).cast("long").as("rrf_q"),
        col("rank"))
      .orderBy("rank")
  }

  /** Mergeable HLL distinct sketches (q147): per-source distinct
    * (doc, term) incidence, estimated by the engine-native DataSketches
    * HLL — the manifest statistic that stays maintainable across ingest
    * batches at 100 TB where `count(distinct)` cannot. DuckDB's
    * approx_count_distinct is a different HLL implementation, so no
    * recomputation oracle — but register-max merge is commutative, the
    * estimates are deterministic for the fixture, and round 13 pins
    * them via the committed frozen table (tools/freeze_sketches.py):
    * the oracle recomputes the exact incidence count live with the same
    * tokenization and joins the frozen one-shot + union estimates. The
    * in-query gates stay, SF-agnostic — BOTH the one-shot sketch and
    * the union-of-two-ingest-halves sketch must sit within 4·rsd(lgK=12)
    * (≈6.5%) of the EXACT count for every source — a wrong union
    * (register loss, batch double-count) lands far outside the band at
    * any scale; a plausible drift trips the pin.
    */
  val q147 = Q.checked("q147_hll_distinct_sketch",
    FrozenSketchSql.q147) { (s, d) =>
    val lgK = 12
    // raw single-split read: the frozen HLL estimates are HIP
    // (stream-order) dependent — see Tables.raw
    val out = graft.operators.DistinctSketch
      .bySource(Tables.raw(s, d, "documents"), lgK = lgK)
      .select(col("source"), col("n_exact"),
        col("est_whole").cast("long").as("est_whole"),
        col("est_merged").cast("long").as("est_merged"))
      .orderBy("source")
    val band = 4.0 * graft.operators.DistinctSketch.rsd(lgK)
    val bad = out.filter(
      abs(col("est_whole") - col("n_exact")) > col("n_exact") * band ||
        abs(col("est_merged") - col("n_exact")) > col("n_exact") * band)
      .count()
    require(bad == 0L,
      s"$bad sources have an HLL estimate outside the 4·rsd band of exact")
    out
  }

  // Duplicate-span REMOVAL (q149): the Lee et al. span surgery that
  // q80 only measures — every token covered by a cross-doc duplicated
  // 5-gram is cut, survivors reassembled in order (71 fixture docs lose
  // tokens; adjacent/overlapping spans merge via the distinct covered
  // position set). The oracle rebuilds the text with string_agg ORDER
  // BY position — the q81 reassembly discipline — so the cleaned TEXT
  // itself is hash-compared, not just the counts.
  val q149 = Q.checked(
    "q149_passage_span_removal",
    """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS toks
                  FROM documents),
       g AS (SELECT doc_id, i - 1 AS pos,
                    array_to_string(toks[i:i+4], ' ') AS gram
             FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
                   FROM t WHERE len(toks) >= 5)),
       dupg AS (SELECT gram FROM g
                GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
       cov AS (SELECT DISTINCT doc_id, tokidx
               FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS tokidx
                     FROM g WHERE gram IN (SELECT gram FROM dupg))),
       tok AS (SELECT doc_id, i - 1 AS tokidx, toks[i] AS tok
               FROM (SELECT doc_id, toks,
                            unnest(range(1, len(toks) + 1)) AS i FROM t)),
       kept AS (SELECT tok.doc_id, tok.tokidx, tok.tok
                FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id
                  AND tok.tokidx = cov.tokidx
                WHERE cov.doc_id IS NULL),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                      string_agg(tok, ' ' ORDER BY tokidx) AS clean_text
               FROM kept GROUP BY doc_id)
       SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
              COALESCE(n_kept, 0) AS n_kept,
              CAST(len(toks) AS BIGINT) - COALESCE(n_kept, 0) AS n_removed,
              COALESCE(clean_text, '') AS clean_text
       FROM t LEFT JOIN agg ON agg.doc_id = t.doc_id
       ORDER BY t.doc_id""") { (s, d) =>
    graft.operators.Passages.removeDuplicateSpans(Tables.documents(s, d))
      .orderBy("doc_id")
  }

  /** Frozen-table Unigram-LM encode (q150, round 11): the third
    * tokenizer family gets the same checked-encode treatment as BPE
    * (q114) and WordPiece (q148) — encode the whole corpus with the
    * COMMITTED piece table (`FrozenVocab.unigramTable`, the q119
    * training recipe, drift-gated by `FrozenVocabSpec`), so the
    * driver hash-compares the Viterbi max-log-prob segmentation
    * ALGORITHM across engines: `UnigramEncodeSql` replays the exact
    * DP (bounded frontier, longer-piece tie-break, −1000 unk penalty)
    * as a recursive CTE. Training itself stays property-gated in-query
    * by q119 (distributed == sequential) — this query is the
    * production shape: a versioned tokenizer artifact applied map-only
    * to an arbitrary corpus. The lossless-roundtrip require holds for
    * ANY corpus (single-char unk fallback never fails), which is what
    * makes `n_pieces` a true token count at sf0.1 too, where the
    * corpus contains words the sf0.01-trained table never saw.
    */
  val q150 = Q.checked("q150_unigram_encode_frozen", UnigramEncodeSql.sql) {
    (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val table = graft.operators.FrozenVocab.unigramTable
        .toDF("piece", "logp")
      val enc = graft.operators.Unigram
        .encodeDocs(docs, table, maxPieceLen = 4).persist()
      val broken = enc
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .filter(
          regexp_replace(col("piece_text"), lit(" "), lit("")) =!=
            regexp_replace(trim(col("text")), lit("\\s+"), lit("")))
        .count()
      require(broken == 0, s"frozen unigram roundtrip broke on $broken docs")
      graft.util.CacheRelease.afterFirstAction(
        enc.select("doc_id", "n_words", "n_pieces").orderBy("doc_id"),
        Seq(enc))
  }

  /** Per-source training-token accounting (q153): encode the corpus
    * with the frozen BPE table and aggregate docs/words/tokens by
    * source — the statistic that sizes mixture weights and epoch math
    * before any training run ("source X contributes N tokens"). Pure
    * composition of the q114 map-only encode (broadcast merge table)
    * with one partial-aggregated rollup keyed by source; the oracle
    * replays the identical frozen merge chain and re-aggregates by
    * source, so the token totals hash-match exactly.
    */
  val q153 = Q.checked(
    "q153_source_token_accounting", BpeEncodeSql.bySourceSql) { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val merges = graft.operators.FrozenVocab.bpeMerges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }
      .toDF("rank", "left", "right")
    graft.operators.Bpe.encodeDocs(docs.select("doc_id", "text"), merges)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_subwords").as("n_tokens"))
      .orderBy("source")
  }

  /** Cross-source contamination matrix (q152): distinct shared 5-gram
    * digests per source pair — the lineage observability statistic a
    * curation pipeline consults BEFORE dedup (which source re-scrapes
    * which). Output bounded by |sources|² whatever the corpus size;
    * Spark side is a digest-keyed distinct + pair equi-join (≤
    * |sources| rows per digest key), plan-audited window/cartesian
    * free. Fully deterministic → DuckDB hash-match (32 pairs at
    * sf0.01).
    */
  val q152 = Q.checked(
    "q152_source_overlap_matrix",
    """WITH t AS (SELECT doc_id, source,
                    regexp_split_to_array(trim(text), '[\s\x0B]+') AS toks
                  FROM documents),
       g AS (SELECT DISTINCT source,
               array_to_string(toks[i:i+4], ' ') AS gram
             FROM (SELECT doc_id, source, toks,
                     unnest(range(1, len(toks) - 3)) AS i
                   FROM t WHERE len(toks) >= 5))
       SELECT a.source AS source_a, b.source AS source_b,
              CAST(count(*) AS BIGINT) AS n_shared_grams
       FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
       GROUP BY 1, 2
       ORDER BY 1, 2""") { (s, d) =>
    graft.operators.Passages
      .sourceOverlapMatrix(Tables.documents(s, d))
      .orderBy("source_a", "source_b")
  }

  /** Sentence-level cross-doc dedup (q151): the RefinedWeb boilerplate
    * cut at SENTENCE granularity — the repetition mode the fixed-width
    * family (q80/q149 token spans, q81 word chunks) can't match
    * cleanly. Keeper rule is globally deterministic (first occurrence
    * by (doc_id, pos)), so the whole operator — counts AND the
    * reassembled kept text — hash-matches a DuckDB twin that replays
    * the identical split/normalize/first-wins algebra. Spark side is
    * window-free (partial-agg min(struct) keyed by sentence digest +
    * digest join); the twin's row_number is DuckDB-local idiom only.
    * The fixture corpus has NO exact duplicate sentences, so both
    * engines first augment it identically: every `doc_id % 3 == 0`
    * doc gains a shifted-id copy carrying a shared boilerplate
    * sentence — the copies' sentences all lose to their originals and
    * the boilerplate survives exactly once, so the DROP path (not
    * just the keep path) is what the hash compare certifies.
    */
  val q151 = Q.checked(
    "q151_dedup_sentences",
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 100000,
                text || '. Subscribe to our newsletter today.'
         FROM documents WHERE doc_id % 3 = 0),
       t AS (SELECT doc_id,
                    regexp_split_to_array(text, '[.!?]+') AS segs
                  FROM corpus),
       s0 AS (SELECT doc_id, i - 1 AS pos,
                trim(regexp_replace(lower(segs[i]), '[\s\x0B]+', ' ', 'g')) AS norm
              FROM (SELECT doc_id, segs,
                      unnest(range(1, len(segs) + 1)) AS i FROM t)),
       s AS (SELECT * FROM s0 WHERE norm <> ''),
       r AS (SELECT doc_id, pos, norm,
               row_number() OVER (PARTITION BY norm
                                  ORDER BY doc_id, pos) AS rn
             FROM s),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
                 CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
                 string_agg(CASE WHEN rn = 1 THEN norm END, '. '
                            ORDER BY pos) AS kept_text
               FROM r GROUP BY doc_id)
       SELECT d.doc_id,
              coalesce(n_sentences, 0) AS n_sentences,
              coalesce(n_kept, 0) AS n_kept,
              coalesce(n_sentences, 0) - coalesce(n_kept, 0) AS n_dup,
              coalesce(kept_text, '') AS clean_text
       FROM corpus d LEFT JOIN agg USING (doc_id)
       ORDER BY d.doc_id""") { (s, d) =>
    val docs = requireIdHeadroom(Tables.documents(s, d))
      .select("doc_id", "text")
    val corpus = docs.unionByName(
      docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"),
            lit(". Subscribe to our newsletter today.")).as("text")))
    graft.operators.Passages
      .dropDuplicateSentences(corpus)
      .orderBy("doc_id")
  }

  /** WordPiece encode (q148): the BERT-family tokenizer as the third
    * trained-tokenizer surface (BPE q88/q114, Unigram-LM q119). Round
    * 11 (VERDICT r10 #5): hash-oracled — the query encodes with the
    * FROZEN committed vocabulary (`FrozenVocab`, drift-gated by
    * `FrozenVocabSpec`; the distributed==sequential TRAINING pin lives
    * in `WordPieceSpec`), and `WordPieceEncodeSql` replays greedy
    * longest-match-first in DuckDB so the driver hash-compares the
    * max-munch ALGORITHM across engines, `[UNK]` semantics included.
    * The roundtrip stays required in-query for every n_unk = 0 doc:
    * stripping `##` continuations reproduces the whitespace-normalized
    * input (with a frozen vocabulary, zero-UNK is a corpus property the
    * ORACLE now checks via n_unk rather than a hard require).
    */
  val q148 = Q.checked("q148_wordpiece_encode", WordPieceEncodeSql.sql) {
    (s, d) =>
      val docs = Tables.documents(s, d)
      val wp = graft.operators.WordPiece
      val enc = wp.encodeDocs(docs,
        graft.operators.FrozenVocab.wordPieceVocab.toSet).persist()
      val broken = enc
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
        .filter(
          regexp_replace(col("subword_text"), lit(" ##"), lit("")) =!=
            // non-empty-token join (round 14) — see the q114 gate
            concat_ws(" ", filter(split(col("text"), "\\s+"),
              t => length(t) > 0)) &&
            col("n_unk") === 0)
        .count()
      require(broken == 0, s"WordPiece roundtrip broke on $broken docs")
      graft.util.CacheRelease.afterFirstAction(
        enc.select("doc_id", "n_words", "n_subwords", "n_unk")
          .orderBy("doc_id"),
        Seq(enc))
  }

  // Output manifest (q142): per-(lang, source) order-independent
  // content fingerprint — exact row count, XOR of each row's 60-bit
  // md5 content key, min/max key. XOR needs no overflow handling at any
  // scale, so the identical arithmetic runs in both engines verbatim
  // (the q77/q91 portable-hash construction, aggregated).
  val q142 = Q.checked(
    "q142_output_manifest",
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
       bit_xor(('0x' || substr(md5(coalesce(doc_id::VARCHAR, '') || chr(0)
         || coalesce(text, '')), 1, 15))::BIGINT) AS xor_check,
       min(('0x' || substr(md5(coalesce(doc_id::VARCHAR, '') || chr(0)
         || coalesce(text, '')), 1, 15))::BIGINT) AS min_key,
       max(('0x' || substr(md5(coalesce(doc_id::VARCHAR, '') || chr(0)
         || coalesce(text, '')), 1, 15))::BIGINT) AS max_key
       FROM documents GROUP BY lang, source ORDER BY lang, source""") { (s, d) =>
    graft.operators.Manifest
      .fingerprint(Tables.documents(s, d),
        keyCols = Seq("lang", "source"), hashCols = Seq("doc_id", "text"))
      .orderBy("lang", "source")
  }

  /** The synthetic HTML column for q154/q155 — the Spark twin of
    * [[HtmlSql.htmlExpr]] (see that scaladoc for what each planted
    * fragment certifies). Built from `documents`, identical on both
    * engines character-for-character.
    */
  private def syntheticHtml: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><script type=\"text/javascript\">var t = 1 < 2 && 3 > 2;</script>"),
    lit("<style>.nav { color: red; }</style></head><body><!-- chrome -->"),
    lit("<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
    lit("<h1>"), col("source"), lit(" &amp; "), col("lang"), lit("</h1><p>"),
    regexp_replace(col("text"), "\\. ", ".</p><p>"), lit("</p>"),
    lit("<div class=\"footer\"><a href=\"/p\">Privacy</a> <a href=\"/t\">Terms</a>&nbsp;&#39;2026&#39;</div></body></html>"))

  /** Whole-document HTML → text extraction (q154): comments / script /
    * style dropped, tags stripped, entities decoded (`&amp;` last),
    * whitespace collapsed — trafilatura's job as a map-only codegen'd
    * regex chain ([[graft.operators.HtmlExtract.extractText]]). The
    * in-query gates pin the two failure modes a hash mismatch alone
    * would localize poorly: script leakage (no `var t` may survive) and
    * the entity decode (every doc's h1 must yield a literal ` & `).
    */
  val q154 = Q.checked(
    "q154_html_extract_text", HtmlSql.extractTextSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val res = graft.operators.HtmlExtract
      .extractText(docs.withColumn("html", syntheticHtml))
      .persist()
    val leaked = res.filter(
      col("clean_text").contains("var t") ||
        !col("clean_text").contains(" & ")).count()
    require(leaked == 0,
      s"q154: script leaked or entity undecoded in $leaked docs")
    graft.util.CacheRelease.afterFirstAction(
      res.orderBy("doc_id"), Seq(res))
  }

  /** jusText-lite boilerplate-block filter (q155): segment on
    * block-level tags, drop short and link-dense blocks (nav, footer,
    * title chrome), keep headline + paragraphs in document order
    * ([[graft.operators.HtmlExtract.extractBlocks]]). The DuckDB twin
    * replays the identical segmentation / link-density / reassembly
    * algebra, so the hash compare certifies the drop path and the keep
    * path; the in-query gate pins the boilerplate actually being
    * dropped (every doc loses at least the nav and title blocks).
    */
  val q155 = Q.checked(
    "q155_html_boilerplate_blocks", HtmlSql.extractBlocksSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val res = graft.operators.HtmlExtract
      .extractBlocks(docs.withColumn("html", syntheticHtml))
      .persist()
    val bad = res.filter(
      col("n_blocks") === 0 || col("n_dropped") < 2 ||
        col("clean_text").contains("Home About Contact")).count()
    require(bad == 0, s"q155: boilerplate survived in $bad docs")
    graft.util.CacheRelease.afterFirstAction(
      res.orderBy("doc_id"), Seq(res))
  }

  /** WARC record parsing (q156): the CommonCrawl container grammar —
    * header/payload split on the first blank line, typed header
    * extraction, and the declared-vs-actual Content-Length truncation
    * check ([[graft.operators.Warc.parseRecords]]). Both engines build
    * the records identically from `documents` (CRLF spelled `chr(13) ||
    * chr(10)` in SQL — DuckDB literals don't process escapes); the
    * payload round-trips as an md5 digest so the hash compare certifies
    * byte-exact payload extraction without shipping the text twice.
    */
  val q156 = Q.checked(
    "q156_warc_parse",
    """WITH r AS (SELECT doc_id,
         'WARC/1.0' || chr(13) || chr(10) ||
         'WARC-Type: response' || chr(13) || chr(10) ||
         'WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-' ||
           lpad(CAST(doc_id AS VARCHAR), 12, '0') || '>' ||
           chr(13) || chr(10) ||
         'WARC-Target-URI: https://example' ||
           CAST(doc_id % 7 AS VARCHAR) || '.com/page/' ||
           CAST(doc_id AS VARCHAR) || chr(13) || chr(10) ||
         'Content-Length: ' || CAST(length(text) AS VARCHAR) ||
           chr(13) || chr(10) || chr(13) || chr(10) || text AS record
         FROM documents),
       hs AS (SELECT doc_id, record,
         regexp_replace(record, '(?s)\r\n\r\n.*$', '') AS hdr
         FROM r),
       x AS (SELECT doc_id,
         regexp_extract(hdr, '(?m)^WARC-Type: ([^\r\n]+)', 1) AS warc_type,
         regexp_extract(hdr, '(?m)^WARC-Record-ID: <([^>]+)>', 1)
           AS record_id,
         regexp_extract(hdr, '(?m)^WARC-Target-URI: ([^\r\n]+)', 1)
           AS target_uri,
         CAST(regexp_extract(hdr, '(?m)^Content-Length: ([0-9]+)', 1)
           AS BIGINT) AS content_length,
         regexp_replace(record, '(?s)^.*?\r\n\r\n', '') AS payload
         FROM hs)
       SELECT doc_id, warc_type, record_id, target_uri, content_length,
              CAST(length(payload) AS BIGINT) AS payload_len,
              content_length = CAST(length(payload) AS BIGINT) AS len_ok,
              md5(payload) AS payload_md5
       FROM x ORDER BY doc_id""") { (s, d) =>
    val crlf = lit("\r\n")
    val record = concat(
      lit("WARC/1.0"), crlf,
      lit("WARC-Type: response"), crlf,
      lit("WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-"),
      lpad(col("doc_id").cast("string"), 12, "0"), lit(">"), crlf,
      lit("WARC-Target-URI: https://example"),
      (col("doc_id") % 7).cast("string"), lit(".com/page/"),
      col("doc_id").cast("string"), crlf,
      lit("Content-Length: "), length(col("text")).cast("string"),
      crlf, crlf, col("text"))
    val res = graft.operators.Warc
      .parseRecords(Tables.documents(s, d).withColumn("record", record))
      .persist()
    val bad = res.filter(!col("len_ok") ||
      col("warc_type") =!= "response").count()
    require(bad == 0, s"q156: $bad truncated or mistyped records")
    graft.util.CacheRelease.afterFirstAction(
      res.orderBy("doc_id"), Seq(res))
  }

  /** CCNet perplexity bucketing (q157): the Wenzek et al. 2020
    * head/middle/tail split — reference bigram LM trained on the
    * `doc_id % 7` slice (the q112 model), every doc scored by exact
    * integer micro-probability, then cut at each LANGUAGE'S own
    * 25th/75th score percentiles
    * ([[graft.operators.NgramLm.perplexityBuckets]]). The oracle
    * replays the full composition — LM training, scoring, per-group
    * `quantile_cont`, bucket assignment — so the hash compare certifies
    * the pipeline end-to-end, boundary semantics included (`>=` on the
    * unrounded threshold; thresholds exported rounded for display
    * only).
    */
  val q157 = Q.checked(
    "q157_ccnet_perplexity_buckets",
    """WITH tr AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS t
                   FROM documents WHERE doc_id % 7 = 0),
       al AS (SELECT doc_id, regexp_split_to_array(trim(text), '[\s\x0B]+') AS t
              FROM documents),
       big AS (SELECT t[i] AS w1, t[i+1] AS w2,
                      CAST(count(*) AS BIGINT) AS cb
               FROM (SELECT t, unnest(range(1, len(t))) AS i FROM tr)
               WHERE t[i] <> '' AND t[i+1] <> ''
               GROUP BY w1, w2),
       uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu
               FROM (SELECT unnest(t) AS w FROM tr)
               WHERE w <> '' GROUP BY w),
       tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n_total FROM uni),
       trans AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
                 FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM al)
                 WHERE t[i] <> '' AND t[i+1] <> ''),
       p AS (SELECT doc_id,
                    CASE WHEN cb IS NOT NULL THEN (1000000 * cb) // c1.cu
                         ELSE (400000 * COALESCE(c2.cu, 0)) // n_total
                    END AS p_micro
             FROM trans
             LEFT JOIN big ON big.w1 = trans.w1 AND big.w2 = trans.w2
             LEFT JOIN uni c1 ON c1.w = trans.w1
             LEFT JOIN uni c2 ON c2.w = trans.w2
             CROSS JOIN tot),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
                      CAST(sum(p_micro) AS BIGINT) AS sum_p_micro
               FROM p GROUP BY doc_id),
       sc AS (SELECT d.doc_id, d.lang,
                     CASE WHEN COALESCE(n_trans, 0) > 0
                          THEN sum_p_micro // n_trans ELSE 0
                     END AS mean_p_micro
              FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id),
       thr AS (SELECT lang, quantile_cont(mean_p_micro, 0.25) AS lo,
                      quantile_cont(mean_p_micro, 0.75) AS hi
               FROM sc WHERE lang IS NOT NULL GROUP BY lang)
       SELECT s.doc_id, s.lang, mean_p_micro,
              round(lo, 6) AS lo, round(hi, 6) AS hi,
              CASE WHEN mean_p_micro >= hi THEN 'head'
                   WHEN mean_p_micro >= lo THEN 'middle'
                   ELSE 'tail' END AS bucket
       FROM sc s JOIN thr USING (lang)
       ORDER BY s.doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
    graft.operators.NgramLm
      .perplexityBuckets(docs, docs.filter(col("doc_id") % 7 === 0))
      .select(col("doc_id"), col("lang"), col("mean_p_micro"),
        round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
        col("bucket"))
      .orderBy("doc_id")
  }

  /** End-to-end crawl-ingestion composition (q158): WARC-wrap the HTML,
    * re-extract the payload through the record grammar (so the
    * header/payload split is certified to feed downstream INTACT, not
    * just parsed — [[graft.operators.Warc.payload]]), run the
    * jusText-lite block chain, keep docs whose cleaned text still has
    * ≥ 30 tokens, and account per (lang, source) — the ingest-side twin
    * of the q78/q92 curation compositions. The oracle replays every
    * stage, sharing the q155 block CTEs verbatim; the in-query gate
    * pins the WARC round-trip (`len_ok` for every record).
    */
  val q158 = Q.checked(
    "q158_ingest_pipeline", HtmlSql.ingestPipelineSql) { (s, d) =>
    val docs = Tables.documents(s, d)
    val withHtml = docs.withColumn("html", syntheticHtml)
    val crlf = lit("\r\n")
    val recs = withHtml.withColumn("record", concat(
      lit("WARC/1.0"), crlf,
      lit("WARC-Type: response"), crlf,
      lit("WARC-Target-URI: https://example"),
      (col("doc_id") % 7).cast("string"), lit(".com/page/"),
      col("doc_id").cast("string"), crlf,
      lit("Content-Length: "), length(col("html")).cast("string"),
      crlf, crlf, col("html")))
    val truncated = graft.operators.Warc.parseRecords(recs)
      .filter(!col("len_ok")).count()
    require(truncated == 0, s"q158: $truncated records failed round-trip")
    val rehtml = recs.select(col("doc_id"),
      graft.operators.Warc.payload(col("record")).as("html"))
    val perdoc = graft.operators.HtmlExtract.extractBlocks(rehtml)
      .withColumn("n_clean_toks",
        when(col("clean_text") === "", lit(0L))
          .otherwise(size(split(col("clean_text"), "[ \\n]+")).cast("long")))
    perdoc
      .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
      .filter(col("n_clean_toks") >= 30)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum("n_blocks").as("sum_blocks"),
        sum("n_kept").as("sum_kept_blocks"),
        sum("n_clean_toks").as("sum_clean_toks"))
      .orderBy("lang", "source")
  }

  /** Longest-prefix-match rule join (q159): robots.txt/blocklist path
    * rules matched at scale ([[graft.operators.PrefixJoin]] — segment
    * fan-out + equi-join + decomposable `max_by`, never a
    * LIKE-nested-loop). Both engines build the same synthetic paths and
    * two-level rule table (7 top-level rules, 6 nested — so
    * longest-match discrimination, partial matches, and no-match docs
    * all occur); the oracle replays fan-out, join, and `max_by`
    * verbatim. The in-query gate pins match soundness: every reported
    * prefix must literally prefix its path.
    */
  val q159 = Q.checked(
    "q159_prefix_match_join",
    """WITH p AS (SELECT doc_id,
            '/page/' || CAST(doc_id % 13 AS VARCHAR) || '/sec/' ||
            CAST(doc_id % 5 AS VARCHAR) AS path
          FROM documents),
       rules AS (SELECT '/page/' || CAST(i AS VARCHAR) AS prefix
                 FROM range(7) t(i)
                 UNION ALL
                 SELECT '/page/' || CAST(i AS VARCHAR) || '/sec/' ||
                        CAST(j AS VARCHAR)
                 FROM range(3) t(i) CROSS JOIN range(2) u(j)),
       parts AS (SELECT doc_id, path, string_split(path, '/') AS seg
                 FROM p),
       pref AS (SELECT doc_id, array_to_string(seg[1:i], '/') AS prefix
                FROM (SELECT doc_id, seg,
                        unnest(range(2, len(seg) + 1)) AS i FROM parts)),
       m AS (SELECT doc_id, max_by(prefix, length(prefix)) AS matched_prefix
             FROM pref JOIN rules USING (prefix) GROUP BY doc_id)
       SELECT p.doc_id, p.path,
              coalesce(matched_prefix, '') AS matched_prefix,
              CAST(coalesce(length(matched_prefix), 0) AS BIGINT)
                AS match_len
       FROM p LEFT JOIN m USING (doc_id)
       ORDER BY p.doc_id""") { (s, d) =>
    import s.implicits._
    val docs = Tables.documents(s, d)
    val items = docs.select(col("doc_id"),
      concat(lit("/page/"), (col("doc_id") % 13).cast("string"),
        lit("/sec/"), (col("doc_id") % 5).cast("string")).as("path"))
    val rules = ((0 until 7).map(i => s"/page/$i") ++
      (for (i <- 0 until 3; j <- 0 until 2)
        yield s"/page/$i/sec/$j")).toDF("prefix")
    val res = graft.operators.PrefixJoin
      .longestPrefixMatch(items, rules).persist()
    val unsound = res.filter(col("match_len") > 0 &&
      col("path").substr(lit(1), col("match_len"))
        =!= col("matched_prefix")).count()
    require(unsound == 0, s"q159: $unsound matches are not path prefixes")
    graft.util.CacheRelease.afterFirstAction(
      res.orderBy("doc_id"), Seq(res))
  }

  /** Content-defined chunk dedup (q160): rsync/FastCDC-family boundaries
    * ([[graft.operators.Chunking.contentDefinedChunks]] — split where
    * the rolling k-char hash's low bits are zero), then cross-doc
    * chunk-digest dedup over the dup-augmented corpus, where the exact
    * duplicates guarantee every copy's chunks are all duplicated — the
    * edit-robust alternative to q81's fixed-width chunks. The oracle
    * replays boundary hashes via the q38 polynomial identity and the
    * same dedup algebra; the in-query gates pin losslessness (per doc,
    * chunk lengths sum to the text length) and the copy property (every
    * augmented copy has n_dup_chunks == n_chunks).
    */
  val q160 = Q.checked("q160_dedup_cdc_chunks", CdcChunkSql.sql) { (s, d) =>
    val corpus = dupCorpus(s, d)
    val chunks = graft.operators.Chunking
      .contentDefinedChunks(corpus).persist()
    val dig = chunks.select(col("id"),
      md5(col("chunk").cast("binary")).as("dg"),
      length(col("chunk")).cast("long").as("clen"))
    val dup = dig.groupBy("dg")
      .agg(countDistinct("id").as("dc"))
      .filter(col("dc") >= 2)
      .select(col("dg"), lit(1).as("isdup"))
    val perdoc = dig.join(dup, Seq("dg"), "left")
      .groupBy("id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("isdup") === 1, lit(1L)).otherwise(lit(0L)))
          .as("n_dup_chunks"),
        sum("clen").as("sum_len"),
        max("clen").as("max_len"))
      .withColumnRenamed("id", "doc_id")
    val res = corpus
      .select(col("doc_id"), length(col("text")).cast("long").as("tlen"))
      .join(perdoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("sum_len"), lit(0L)).as("sum_len"),
        coalesce(col("max_len"), lit(0L)).as("max_len"),
        coalesce(col("tlen"), lit(0L)).as("tlen"))
      .persist()
    val lost = res.filter(col("sum_len") =!= col("tlen")).count()
    require(lost == 0, s"q160: chunking lost characters in $lost docs")
    val copies = res.filter(col("doc_id") >= 100000 &&
      col("n_dup_chunks") =!= col("n_chunks")).count()
    require(copies == 0, s"q160: $copies augmented copies not fully duplicated")
    graft.util.CacheRelease.afterFirstAction(
      res.select("doc_id", "n_chunks", "n_dup_chunks", "sum_len", "max_len")
        .orderBy("doc_id"),
      Seq(chunks, res))
  }

  /** Per-registrable-domain crawl cap (q161): the RefinedWeb/C4 budget
    * rule — `a.blog.example.com` and `b.blog.example.com` share one
    * quota — via [[graft.operators.Curation.registrableDomain]]
    * (public-suffix-lite: port and `www.` stripped, last two labels)
    * over the q91 messy URLs, capped with the q77 MinK machinery keyed
    * by domain (window-free: per-domain state bounded at the cap). The
    * oracle replays domain extraction and the md5-rank row_number cut;
    * the in-query gate pins the cap itself (no domain exceeds it).
    */
  val q161 = Q.checked(
    "q161_domain_cap",
    """WITH u AS (
         SELECT doc_id,
                'HTTP://WWW.Example' || (doc_id % 7) || '.COM:80/Path/' ||
                (doc_id % 13) ||
                CASE WHEN doc_id % 3 = 0
                     THEN '/?utm_source=x&id=' || (doc_id % 5)
                     WHEN doc_id % 3 = 1
                     THEN '?id=' || (doc_id % 5) || '&utm_campaign=y'
                     ELSE '/' END ||
                CASE WHEN doc_id % 2 = 0 THEN '#Frag' ELSE '' END AS url
         FROM documents),
       n AS (SELECT doc_id,
               lower(regexp_extract(
                 regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                 '^([^/?#]*)', 1)) AS hostport
             FROM u),
       h AS (SELECT doc_id,
               regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''),
                 '^www\.', '') AS host
             FROM n),
       dmn AS (SELECT doc_id,
                 CASE WHEN host LIKE '%.%'
                      THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
                      ELSE host END AS domain
               FROM h),
       ranked AS (SELECT d.doc_id, domain,
                    ('0x' || substr(md5('graft' || text), 1, 15))::BIGINT AS rk
                  FROM dmn JOIN documents d USING (doc_id)),
       keep AS (SELECT doc_id, domain,
                  row_number() OVER (PARTITION BY domain
                                     ORDER BY rk, doc_id) AS rn
                FROM ranked)
       SELECT doc_id, domain FROM keep WHERE rn <= 60
       ORDER BY doc_id""") { (s, d) =>
    val docs = Tables.documents(s, d)
      .withColumn("url", syntheticUrl)
      .withColumn("domain",
        graft.operators.Curation.registrableDomain(col("url")))
    val kept = graft.operators.Curation
      .sourceCap(docs, maxPerSource = 60, sourceCol = "domain")
      .select("doc_id", "domain").persist()
    val over = kept.groupBy("domain").agg(count(lit(1)).as("n"))
      .filter(col("n") > 60).count()
    require(over == 0, s"q161: $over domains exceed the cap")
    graft.util.CacheRelease.afterFirstAction(
      kept.orderBy("doc_id"), Seq(kept))
  }

  /** Trained language ID (q162, VERDICT r12 #3): the hashed-char-n-gram
    * NB model ([[graft.operators.LangId]]) scored over the corpus —
    * map-only, exact-BIGINT margins, the production replacement for the
    * marker heuristic. The oracle ([[LangIdSql]]) replays gram
    * extraction, the polynomial-31 bucket hash and the quantized score
    * sums from the SAME in-memory model literals, so engine and oracle
    * cannot drift; per-lang scores are part of the checked output, not
    * just the argmax. Accuracy is gated on the committed held-out
    * sentences in `LangIdSpec` (the corpus is the checkpoint — training
    * is exact integer counting, so drift is impossible by construction).
    */
  val q162 = Q.checked("q162_langid_model", LangIdSql.q162) { (s, d) =>
    graft.operators.LangId.predictDocs(Tables.documents(s, d))
      .orderBy("doc_id")
  }

  /** Exactly-once streaming ingestion into the transactional table
    * (q166): the events table file-streamed (AvailableNow, one file
    * per micro-batch) through foreachBatch into
    * [[graft.operators.GraftTable.appendBatchIdempotent]] — each batch
    * one atomic version carrying its (appId, batchId) writer
    * transaction (Delta's SetTransaction). In-query gates: a manual
    * REPLAY of batch 0 (the post-crash at-least-once case) must be a
    * no-op (no version, no rows) FOR ITS OWN writer; a DIFFERENT
    * writer's batch 0 must NOT be swallowed by this writer's watermark
    * (the r15 fresh-checkpoint data-loss defect — proven with an empty
    * batch so the oracle row set is untouched); and a COMPACT
    * afterwards must preserve the row set while the history reads
    * CREATE/APPEND.../COMPACT. The final table must equal the plain
    * events table — exactly-once end to end, the q93 discipline
    * upgraded from marker directories to transactional versions.
    */
  val q166 = Q.checked(
    "q166_table_stream_ingest",
    """SELECT event_id, user_id, event_type, value
       FROM events ORDER BY event_id""") { (s, d) =>
    val out = s"${sys.props("java.io.tmpdir")}/graft_tsi_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    // stage the fixture as 4 files -> 4 micro-batches
    val inDir = s"$out/in"
    s.read.schema(schema).parquet(s"$d/events.parquet")
      .repartition(4).write.parquet(inDir)
    val root = s"$out/table"
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)
    val q = stream.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$out/_ckpt")
      .foreachBatch { (df: DataFrame, id: Long) =>
        graft.operators.GraftTable.appendBatchIdempotent(df, id, root,
          appId = "q166-ingest")
        ()
      }
      .start()
    q.awaitTermination()
    val gt = graft.operators.GraftTable
    val nVersions = gt.latestVersion(s, root) + 1
    val nRows = gt.read(s, root).count()
    // at-least-once replay of batch 0 must be a no-op FOR ITS WRITER
    val replayed = gt.appendBatchIdempotent(
      s.read.schema(schema).parquet(inDir).limit(10), 0L, root,
      appId = "q166-ingest")
    require(!replayed, "batch 0 replay was not detected as committed")
    require(gt.latestVersion(s, root) + 1 == nVersions,
      "replay added a version")
    require(gt.read(s, root).count() == nRows, "replay added rows")
    // a DIFFERENT writer's batch 0 is NOT a replay (the watermark is
    // per-appId — Delta SetTransaction): a fresh-checkpoint query or a
    // second ingest stream must not be swallowed by this one's maxima.
    // An empty batch keeps the oracle's row set unchanged.
    val freshWriter = gt.appendBatchIdempotent(
      s.read.schema(schema).parquet(inDir).limit(0), 0L, root,
      appId = "q166-ingest-fresh-ckpt")
    require(freshWriter,
      "a new writer's batch 0 was swallowed by another writer's watermark")
    require(gt.read(s, root).count() == nRows,
      "empty new-writer batch changed rows")
    // maintenance: compaction preserves the row set
    gt.compact(s, root, gt.latestVersion(s, root))
    require(gt.read(s, root).count() == nRows, "compaction changed rows")
    val ops = gt.history(s, root).map(_.op)
    require(ops.head == "CREATE" && ops.last == "COMPACT" &&
      ops.tail.dropRight(1).forall(_ == "APPEND"),
      s"unexpected history: $ops")
    gt.read(s, root)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Table-format schema evolution (q167): ALTER-ADD-COLUMNS + APPEND
    * as one atomic commit — version 0 is (c_custkey, c_name) from
    * customer, version 1 appends rows carrying an extra c_acctbal
    * column via [[graft.operators.GraftTable.appendEvolve]]. The
    * latest read must null-fill the historic rows' new column while a
    * time-travel read of version 0 keeps the narrow schema (in-query
    * REQUIRE); the oracle reconstructs the evolved snapshot with a
    * UNION of a NULL-extended base and the typed appended slice.
    */
  val q167 = Q.checked(
    "q167_table_schema_evolution",
    """SELECT c_custkey, c_name, c_acctbal FROM (
         SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS c_acctbal
         FROM customer
         UNION ALL
         SELECT c_custkey + 1000000, c_name, c_acctbal
         FROM customer WHERE c_custkey % 3 = 0)
       ORDER BY c_custkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_sev_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val cust = Tables.customer(s, d)
    val gt = graft.operators.GraftTable
    gt.create(cust.select("c_custkey", "c_name"), root)
    val wide = cust.filter(col("c_custkey") % 3 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        col("c_name"), col("c_acctbal"))
    gt.appendEvolve(wide, root, expectedVersion = 0L)
    require(gt.readVersion(s, root, 0L).columns.toSeq ==
      Seq("c_custkey", "c_name"),
      "evolution bled backwards into version 0")
    gt.read(s, root)
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Motion-JPEG frame sampling (q165, VERDICT r13 #5): the q139
    * pipeline over [[graft.operators.Multimodal.syntheticMjpegAviTable]]
    * — the first COMPRESSED video codec at the ingest edge, each frame
    * chunk a complete ImageIO JPEG inside the standard MJPG AVI
    * container. Solid-gray JPEG roundtrips bit-exactly at quality 1.0
    * (all-ones quantization tables; probed over all 256 grays), so the
    * closed-form q139 oracle covers this table VERBATIM — the real
    * JPEG codec runs under a hash-match gate, no tolerance band.
    * Rejection hygiene (non-JPEG chunks, dims mismatch, truncation)
    * and MJPG==DIB==GIF cross-container agreement are pinned in
    * MultimodalAviSpec.
    */
  val q165 = Q.checked(
    "q165_multimodal_mjpeg_frame_sample",
    """SELECT doc_id, frame_idx,
       16 + doc_id % 16 AS width,
       16 + doc_id % 8 AS height,
       8 + doc_id % 8 AS n_frames,
       (doc_id + 7 * frame_idx) % 256 AS mean_luma
       FROM (SELECT doc_id,
               unnest(generate_series(0, 7 + doc_id % 8, 3)) AS frame_idx
             FROM documents) t
       ORDER BY doc_id, frame_idx""") { (s, d) =>
    graft.operators.Multimodal.aviFrameSample(
      graft.operators.Multimodal.syntheticMjpegAviTable(
        Tables.documents(s, d)),
      stride = 3)
      .orderBy("doc_id", "frame_idx")
  }

  /** Table-format time travel (q163, VERDICT r13 #3): build a
    * [[graft.operators.GraftTable]] in a temp root — version 0 CREATE
    * from orders, version 1 an ACID MERGE of a changelog derived
    * closed-form from the same rows (delete keys ≡3 mod 17, double the
    * price of remaining keys ≡0 mod 10, insert key+10M copies of keys
    * ≡5 mod 23 at price+1000) — then read BOTH versions back through
    * the commit log. The oracle recomputes each snapshot as pure SQL
    * over orders, so a torn commit, a mis-carried manifest, or a
    * latest-wins bug all surface as a hash mismatch. Arithmetic is
    * float-exact (×2 and +1000 on parquet doubles).
    */
  val q163 = Q.checked(
    "q163_table_time_travel",
    """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
       v1 AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS o_totalprice
         FROM b WHERE o_orderkey % 17 <> 3
         UNION ALL
         SELECT o_orderkey + 10000000, o_totalprice + 1000
         FROM b WHERE o_orderkey % 23 = 5)
       SELECT CAST(0 AS BIGINT) AS version, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice
       FROM b
       UNION ALL
       SELECT 1, o_orderkey, round(o_totalprice, 2) FROM v1
       ORDER BY version, o_orderkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_ttl_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val v0 = graft.operators.GraftTable.create(base, root)
    val k = col("o_orderkey")
    val del = base.filter(k % 17 === 3)
      .select(k, col("o_totalprice"), lit("D").as("op"))
    val upd = base.filter(k % 17 =!= 3 && k % 10 === 0)
      .select(k, (col("o_totalprice") * 2).as("o_totalprice"),
        lit("U").as("op"))
    val ins = base.filter(k % 23 === 5)
      .select((k + 10000000L).as("o_orderkey"),
        (col("o_totalprice") + 1000).as("o_totalprice"),
        lit("I").as("op"))
    val changes = del.unionByName(upd).unionByName(ins)
      .withColumn("seq", lit(1L))
    graft.operators.GraftTable.merge(root, changes, key = "o_orderkey",
      ordering = Seq("seq"), expectedVersion = v0)
    val read0 = graft.operators.GraftTable.readVersion(s, root, 0L)
    val read1 = graft.operators.GraftTable.readVersion(s, root, 1L)
    read0.select(lit(0L).as("version"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .unionByName(read1.select(lit(1L).as("version"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice")))
      .orderBy("version", "o_orderkey")
  }

  /** Concurrent-writer isolation (q164): two writers race MERGEs at
    * the same expected version; the commit-log CAS must reject the
    * stale writer (its un-published data invisible to every reader),
    * and the retry against the observed latest must serialize AFTER
    * the winner. Output = per-version history with row counts and a
    * content probe (suffixed-name count), all recomputed closed-form by
    * the oracle — the in-query intercept REQUIREs the conflict
    * actually fired, so a lost update fails the query rather than
    * producing plausible rows.
    */
  val q164 = Q.checked(
    "q164_table_conflict_isolation",
    """WITH b AS (SELECT n_nationkey, n_name FROM nation)
       SELECT CAST(0 AS BIGINT) AS version, 'CREATE' AS op,
              (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_rows,
              CAST(0 AS BIGINT) AS n_suffixed
       UNION ALL
       SELECT 1, 'MERGE',
              (SELECT CAST(count(*) AS BIGINT) FROM b),
              (SELECT CAST(count(*) AS BIGINT) FROM b
               WHERE n_nationkey % 2 = 0)
       UNION ALL
       SELECT 2, 'MERGE',
              (SELECT CAST(count(*) AS BIGINT) FROM b
               WHERE n_nationkey % 3 <> 0),
              (SELECT CAST(count(*) AS BIGINT) FROM b
               WHERE n_nationkey % 2 = 0 AND n_nationkey % 3 <> 0)
       ORDER BY version""") { (s, d) =>
    import s.implicits._
    val root = s"${sys.props("java.io.tmpdir")}/graft_cfl_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val base = Tables.nation(s, d).select("n_nationkey", "n_name")
    graft.operators.GraftTable.create(base, root)
    val k = col("n_nationkey")
    // writer A: suffix every even key's name
    val a = base.filter(k % 2 === 0)
      .select(k, concat(col("n_name"), lit("_a")).as("n_name"),
        lit("U").as("op"), lit(1L).as("seq"))
    // writer B: delete keys divisible by 3
    val b = base.filter(k % 3 === 0)
      .select(k, col("n_name"), lit("D").as("op"), lit(1L).as("seq"))
    graft.operators.GraftTable.merge(root, a, "n_nationkey", Seq("seq"), 0L)
    // B races with the stale expected version and MUST lose
    val conflicted =
      try { graft.operators.GraftTable.merge(root, b, "n_nationkey",
        Seq("seq"), 0L); false }
      catch { case _: graft.operators.GraftTable.ConflictException => true }
    require(conflicted, "stale-version merge did not conflict")
    // retry against the observed latest serializes after A
    graft.operators.GraftTable.merge(root, b, "n_nationkey", Seq("seq"), 1L)
    val rows = graft.operators.GraftTable.history(s, root).map { c =>
      val snap = graft.operators.GraftTable.readVersion(s, root, c.version)
      (c.version, c.op, snap.count(),
        snap.filter(col("n_name").endsWith("_a")).count())
    }
    rows.toDF("version", "op", "n_rows", "n_suffixed")
      .orderBy("version")
  }

  /** File-pruned ACID MERGE (q168, VERDICT r14 #5): the table is
    * created range-partitioned on the key with per-file min/max stats
    * ([[graft.operators.GraftTable.createPartitioned]]); a changelog
    * confined to keys ≤ max/4 (deletes ≡1 mod 13, price×3 on ≡0 mod 7,
    * key+20M inserts at price+500 for ≡2 mod 19) is applied with
    * [[graft.operators.GraftTable.mergePruned]], which must rewrite
    * ONLY the files containing matched keys. In-query REQUIREs: the
    * new manifest provably carries ≥1 of version 0's files UNCHANGED
    * (file-list intersection — the write-amplification claim itself)
    * and rewrote ≥1. The oracle recomputes both snapshots closed-form,
    * so any pruning unsoundness (a carried file that did hold a change
    * key, a dropped insert, a missed delete) is a hash mismatch.
    * Arithmetic is float-exact-deterministic (×3, +500 on parquet
    * doubles — the q163 class).
    */
  val q168 = Q.checked(
    "q168_table_pruned_merge",
    """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
       t AS (SELECT max(o_orderkey) // 4 AS thr FROM b),
       v1 AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey <= (SELECT thr FROM t)
                          AND o_orderkey % 13 <> 1 AND o_orderkey % 7 = 0
                     THEN o_totalprice * 3 ELSE o_totalprice END
                  AS o_totalprice
         FROM b
         WHERE NOT (o_orderkey <= (SELECT thr FROM t)
                    AND o_orderkey % 13 = 1)
         UNION ALL
         SELECT o_orderkey + 20000000, o_totalprice + 500
         FROM b WHERE o_orderkey <= (SELECT thr FROM t)
                      AND o_orderkey % 19 = 2),
       v2 AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey = (SELECT max(o_orderkey) FROM b)
                     THEN o_totalprice + 111 ELSE o_totalprice END
                  AS o_totalprice
         FROM v1)
       SELECT CAST(0 AS BIGINT) AS version, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice
       FROM b
       UNION ALL
       SELECT 1, o_orderkey, round(o_totalprice, 2) FROM v1
       UNION ALL
       SELECT 2, o_orderkey, round(o_totalprice, 2) FROM v2
       ORDER BY version, o_orderkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_prm_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val gt = graft.operators.GraftTable
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    // driver-side 1-row scalar (bounded), mirrored by the oracle's
    // (SELECT max(..) // 4) — Long division truncates; keys positive
    val thr = base.agg(max("o_orderkey")).head().getLong(0) / 4
    val v0 = gt.createPartitioned(base, root, "o_orderkey", numFiles = 8)
    val k = col("o_orderkey")
    val inScope = k <= thr
    val del = base.filter(inScope && k % 13 === 1)
      .select(k, col("o_totalprice"), lit("D").as("op"))
    val upd = base.filter(inScope && k % 13 =!= 1 && k % 7 === 0)
      .select(k, (col("o_totalprice") * 3).as("o_totalprice"),
        lit("U").as("op"))
    val ins = base.filter(inScope && k % 19 === 2)
      .select((k + 20000000L).as("o_orderkey"),
        (col("o_totalprice") + 500).as("o_totalprice"),
        lit("I").as("op"))
    val changes = del.unionByName(upd).unionByName(ins)
      .withColumn("seq", lit(1L))
    gt.mergePruned(root, changes, key = "o_orderkey",
      ordering = Seq("seq"), expectedVersion = v0)
    // version 2: a 1-row point update through the DELETION-VECTOR
    // shape (VERDICT r17 next-round #3) — the commit must rewrite ZERO
    // data files: every v1 file carried, one small image file added,
    // one single-row dv mask recorded
    val maxKey = base.agg(max("o_orderkey")).head().getLong(0)
    val point = base.filter(k === maxKey)
      .select(k, (col("o_totalprice") + 111).as("o_totalprice"),
        lit("U").as("op"), lit(2L).as("seq"))
    gt.mergePruned(root, point, key = "o_orderkey",
      ordering = Seq("seq"), expectedVersion = 1L, op = "op",
      deletionVectors = true)
    val h = gt.history(s, root)
    val carried = h(1).files.toSet.intersect(h(0).files.toSet)
    require(carried.nonEmpty,
      "pruned merge carried no untouched files — pruning is inert")
    require((h(0).files.toSet -- h(1).files.toSet).nonEmpty,
      "pruned merge rewrote no files — changes were lost")
    require(h(1).files.forall(h(2).files.contains),
      "DV point update rewrote a data file")
    require(h(2).files.filterNot(h(1).files.toSet).size == 1,
      "DV point update must add exactly one image file")
    require(h(2).dvs.size == 1 &&
      h(2).dvs.values.head.map(r => r._2 - r._1 + 1).sum == 1L,
      s"DV point update must mask exactly one row: ${h(2).dvs}")
    val read0 = gt.readVersion(s, root, 0L)
    val read1 = gt.readVersion(s, root, 1L)
    val read2 = gt.readVersion(s, root, 2L)
    read0.select(lit(0L).as("version"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .unionByName(read1.select(lit(1L).as("version"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice")))
      .unionByName(read2.select(lit(2L).as("version"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice")))
      .orderBy("version", "o_orderkey")
  }

  /** Table-format change-data feed (q169): a five-version lifecycle —
    * CREATE, APPEND, MERGE (deletes ≡2 mod 11, price×2 on ≡0 mod 9, a
    * NO-OP upsert class ≡3 mod 37 whose image equals the base row,
    * upsert-INSERTS at key+30M, and deletes on ABSENT keys at key+40M),
    * COMPACT, DELETE WHERE — read back as ONE incremental stream via
    * [[graft.operators.GraftTable.readChanges]]. The oracle recomputes
    * every change row closed-form, so a missed pre-image, a
    * misclassified upsert, an unsuppressed no-op, or a compaction that
    * leaks "changes" all hash-mismatch. In-query REQUIRE: the COMPACT
    * version's slice of the feed is EMPTY (a physical rewrite is not a
    * logical change). Arithmetic is the q163 float-exact class (×2,
    * +10, +77 on parquet doubles).
    */
  val q169 = Q.checked(
    "q169_table_change_feed",
    """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
       ap AS (SELECT o_orderkey + 5000000 AS o_orderkey,
                     o_totalprice + 10 AS o_totalprice
              FROM b WHERE o_orderkey % 29 = 4),
       t1 AS (SELECT * FROM b UNION ALL SELECT * FROM ap),
       t2 AS (
         SELECT o_orderkey,
                CASE WHEN o_orderkey % 9 = 0 THEN o_totalprice * 2
                     ELSE o_totalprice END AS o_totalprice
         FROM t1 WHERE o_orderkey % 11 <> 2
         UNION ALL
         SELECT o_orderkey + 30000000, o_totalprice + 77
         FROM b WHERE o_orderkey % 31 = 6)
       SELECT CAST(0 AS BIGINT) AS _commit_version,
              'insert' AS _change_type, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice
       FROM b
       UNION ALL
       SELECT 1, 'insert', o_orderkey, round(o_totalprice, 2) FROM ap
       UNION ALL
       SELECT 2, 'delete', o_orderkey, round(o_totalprice, 2)
       FROM t1 WHERE o_orderkey % 11 = 2
       UNION ALL
       SELECT 2, 'update_preimage', o_orderkey, round(o_totalprice, 2)
       FROM t1 WHERE o_orderkey % 11 <> 2 AND o_orderkey % 9 = 0
       UNION ALL
       SELECT 2, 'update_postimage', o_orderkey, round(o_totalprice * 2, 2)
       FROM t1 WHERE o_orderkey % 11 <> 2 AND o_orderkey % 9 = 0
       UNION ALL
       SELECT 2, 'insert', o_orderkey + 30000000, round(o_totalprice + 77, 2)
       FROM b WHERE o_orderkey % 31 = 6
       UNION ALL
       SELECT 4, 'delete', o_orderkey, round(o_totalprice, 2)
       FROM t2 WHERE o_orderkey % 13 = 8
       ORDER BY _commit_version, _change_type, o_orderkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_cdf_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val gt = graft.operators.GraftTable
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val k = col("o_orderkey")
    val v0 = gt.create(base, root)
    val appended = base.filter(k % 29 === 4)
      .select((k + 5000000L).as("o_orderkey"),
        (col("o_totalprice") + 10).as("o_totalprice"))
    val v1 = gt.append(appended, root, v0)
    val t1 = base.unionByName(appended)
    // one op per key by construction (mod classes disjoint), so
    // latest-wins never depends on `seq`
    val del = t1.filter(k % 11 === 2)
      .select(k, col("o_totalprice"), lit("D").as("op"))
    val upd = t1.filter(k % 11 =!= 2 && k % 9 === 0)
      .select(k, (col("o_totalprice") * 2).as("o_totalprice"),
        lit("U").as("op"))
    // image identical to the base row: the feed must SUPPRESS these
    val noop = t1.filter(k % 11 =!= 2 && k % 9 =!= 0 && k % 37 === 3)
      .select(k, col("o_totalprice"), lit("U").as("op"))
    // upsert on absent keys: classified as inserts
    val insU = base.filter(k % 31 === 6)
      .select((k + 30000000L).as("o_orderkey"),
        (col("o_totalprice") + 77).as("o_totalprice"), lit("U").as("op"))
    // delete on absent keys: a no-op, not a change
    val delA = base.filter(k % 41 === 7)
      .select((k + 40000000L).as("o_orderkey"), col("o_totalprice"),
        lit("D").as("op"))
    val changes = del.unionByName(upd).unionByName(noop)
      .unionByName(insU).unionByName(delA)
      .withColumn("seq", lit(1L))
    val v2 = gt.merge(root, changes, key = "o_orderkey",
      ordering = Seq("seq"), expectedVersion = v1)
    val v3 = gt.compact(s, root, v2, numFiles = 2)
    require(gt.readChanges(s, root, v3, v3).isEmpty,
      "compaction leaked rows into the change feed")
    gt.deleteWhere(s, root, k % 13 === 8, v3)
    gt.readChanges(s, root, 0L, 4L)
      .select(col("_commit_version"), col("_change_type"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy("_commit_version", "_change_type", "o_orderkey")
  }

  /** Stats-pruned table read (q170): a range-partitioned
    * [[graft.operators.GraftTable]] (10 files with per-file min/max
    * key stats) plus one APPEND of far-away keys (+10M), read back
    * with [[graft.operators.GraftTable.readRange]] over the middle
    * quartile of the BASE key space. In-query REQUIREs: the manifest
    * pruning selected STRICTLY fewer files than the snapshot holds,
    * and the appended (out-of-range) file was among the pruned — so a
    * read that silently degrades to scan-everything fails the query,
    * not just a perf report. The oracle is the plain SQL BETWEEN over
    * the same logical table, so pruning UNSOUNDNESS (a skipped file
    * that held in-range rows) is a hash mismatch.
    */
  val q170 = Q.checked(
    "q170_table_pruned_read",
    """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
       ap AS (SELECT o_orderkey + 10000000 AS o_orderkey,
                     o_totalprice + 10 AS o_totalprice
              FROM b WHERE o_orderkey % 29 = 4),
       t1 AS (SELECT * FROM b UNION ALL SELECT * FROM ap),
       r AS (SELECT max(o_orderkey) // 4 AS lo,
                    max(o_orderkey) // 2 AS hi FROM b)
       SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
       FROM t1
       WHERE o_orderkey >= (SELECT lo FROM r)
         AND o_orderkey <= (SELECT hi FROM r)
       ORDER BY o_orderkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_prd_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val gt = graft.operators.GraftTable
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    val k = col("o_orderkey")
    // driver-side 1-row scalar (bounded), mirrored by the oracle's
    // (SELECT max(..) // N) — Long division truncates; keys positive
    val mx = base.agg(max("o_orderkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    val v0 = gt.createPartitioned(base, root, "o_orderkey", numFiles = 10)
    val appended = base.filter(k % 29 === 4)
      .select((k + 10000000L).as("o_orderkey"),
        (col("o_totalprice") + 10).as("o_totalprice"))
    val v1 = gt.append(appended, root, v0)
    val h = gt.history(s, root)
    val selected = gt.filesForRange(s, root, v1, lo, hi)
    require(selected.size < h(1).files.size,
      s"range read pruned nothing: ${selected.size} of " +
        s"${h(1).files.size} files selected")
    val addedByV1 = h(1).files.toSet -- h(0).files.toSet
    require(selected.toSet.intersect(addedByV1).isEmpty,
      "the out-of-range appended file was not pruned")
    gt.readRange(s, root, lo, hi)
      .select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** Table-format STREAMING SOURCE (q171): the commit log tailed by
    * Structured Streaming ([[org.apache.spark.sql.graft.GraftTableSource]]
    * — offsets are table versions). Two AvailableNow runs on ONE
    * checkpoint: the first serves the full feed (CREATE inserts + the
    * merge's classified changes), the table then gains an APPEND while
    * the stream is down, and the second run must serve ONLY the new
    * version — REQUIREd in-query (`_commit_version == 2` exactly), so
    * a replay or a miss fails the query, not just a comparison. The
    * combined feed hash-matches the closed-form SQL.
    */
  val q171 = Q.checked(
    "q171_table_stream_source",
    """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders
                  WHERE o_orderkey % 3 = 0)
       SELECT CAST(0 AS BIGINT) AS _commit_version,
              'insert' AS _change_type, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice
       FROM b
       UNION ALL
       SELECT 1, 'delete', o_orderkey, round(o_totalprice, 2)
       FROM b WHERE o_orderkey % 13 = 1
       UNION ALL
       SELECT 1, 'update_preimage', o_orderkey, round(o_totalprice, 2)
       FROM b WHERE o_orderkey % 13 <> 1 AND o_orderkey % 11 = 0
       UNION ALL
       SELECT 1, 'update_postimage', o_orderkey, round(o_totalprice * 2, 2)
       FROM b WHERE o_orderkey % 13 <> 1 AND o_orderkey % 11 = 0
       UNION ALL
       SELECT 2, 'insert', o_orderkey + 7000000, round(o_totalprice + 5, 2)
       FROM b WHERE o_orderkey % 17 = 2
       ORDER BY _commit_version, _change_type, o_orderkey""") { (s, d) =>
    val base0 = s"${sys.props("java.io.tmpdir")}/graft_tss_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(base0)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base0), true)
    val gt = graft.operators.GraftTable
    val root = s"$base0/table"
    val k = col("o_orderkey")
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      .filter(k % 3 === 0)
    val v0 = gt.create(base, root)
    val del = base.filter(k % 13 === 1)
      .select(k, col("o_totalprice"), lit("D").as("op"))
    val upd = base.filter(k % 13 =!= 1 && k % 11 === 0)
      .select(k, (col("o_totalprice") * 2).as("o_totalprice"),
        lit("U").as("op"))
    val v1 = gt.merge(root, del.unionByName(upd).withColumn("seq", lit(1L)),
      key = "o_orderkey", ordering = Seq("seq"), expectedVersion = v0)

    def streamOnce(outDir: String): Unit = {
      val q = s.readStream
        .format("org.apache.spark.sql.graft.GraftTableSourceProvider")
        .option("path", root).load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base0/ckpt")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir)
          ()
        }
        .start()
      q.awaitTermination()
    }

    streamOnce(s"$base0/out1")
    val feed1 = s.read.parquet(s"$base0/out1")
    require(feed1.agg(max("_commit_version")).head().getLong(0) == v1,
      "first run did not reach the latest version")
    // the table moves while the stream is down
    val appended = base.filter(k % 17 === 2)
      .select((k + 7000000L).as("o_orderkey"),
        (col("o_totalprice") + 5).as("o_totalprice"))
    val v2 = gt.append(appended, root, v1)
    // resume on the SAME checkpoint: ONLY the new version may arrive
    streamOnce(s"$base0/out2")
    val feed2 = s.read.parquet(s"$base0/out2")
    require(feed2.filter(col("_commit_version") =!= v2).isEmpty,
      "resumed stream replayed already-committed versions")
    require(!feed2.isEmpty, "resumed stream missed the new version")
    feed1.unionByName(feed2)
      .select(col("_commit_version"), col("_change_type"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy("_commit_version", "_change_type", "o_orderkey")
  }

  /** Multi-column stats pruning (q172, VERDICT r15 #7): the table
    * carries per-file min/max for BOTH o_orderkey (the layout key) and
    * o_custkey, and a conjunctive
    * [[graft.operators.GraftTable.readRanges]] prunes on both. The
    * appended slab keeps its o_orderkey INSIDE the queried band but
    * shifts o_custkey by +10M, so only the SECONDARY column can prune
    * it — REQUIREd in-query: the key-only selection keeps the appended
    * files, the conjunctive selection drops them, and the key bound
    * itself pruned base files. Pruning UNSOUNDNESS (a skipped file
    * holding qualifying rows) is a hash mismatch against the plain
    * two-predicate SQL.
    */
  val q172 = Q.checked(
    "q172_table_multicol_pruned_read",
    """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
       ap AS (SELECT o_orderkey, o_custkey + 10000000 AS o_custkey,
                     o_totalprice + 10 AS o_totalprice
              FROM b WHERE o_orderkey % 23 = 5),
       t1 AS (SELECT * FROM b UNION ALL SELECT * FROM ap),
       r AS (SELECT max(o_orderkey) // 4 AS lo,
                    max(o_orderkey) // 2 AS hi,
                    max(o_custkey) AS mc FROM b)
       SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
       FROM t1
       WHERE o_orderkey >= (SELECT lo FROM r)
         AND o_orderkey <= (SELECT hi FROM r)
         AND o_custkey >= 0 AND o_custkey <= (SELECT mc FROM r)
       ORDER BY o_orderkey, o_custkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_mcp_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val gt = graft.operators.GraftTable
    val base = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val k = col("o_orderkey")
    val mx = base.agg(max("o_orderkey")).head().getLong(0)
    val mc = base.agg(max("o_custkey")).head().getLong(0)
    val (lo, hi) = (mx / 4, mx / 2)
    val v0 = gt.createPartitioned(base, root,
      Seq("o_orderkey", "o_custkey"), numFiles = 10)
    // in-key-band rows whose CUSTKEY is out of band: only the secondary
    // column's stats can prune these files
    val appended = base.filter(k % 23 === 5)
      .select(k, (col("o_custkey") + 10000000L).as("o_custkey"),
        (col("o_totalprice") + 10).as("o_totalprice"))
    val v1 = gt.append(appended, root, v0)
    val h = gt.history(s, root)
    val addedByV1 = h(1).files.toSet -- h(0).files.toSet
    val selKey = gt.filesForRanges(s, root, v1,
      Map("o_orderkey" -> (lo, hi)))
    val selBoth = gt.filesForRanges(s, root, v1,
      Map("o_orderkey" -> (lo, hi), "o_custkey" -> (0L, mc)))
    require(selKey.size < h(1).files.size,
      "the key bound pruned nothing")
    require(selKey.toSet.intersect(addedByV1).nonEmpty,
      "fixture broken: the appended slab should survive key-only pruning")
    require(selBoth.toSet.intersect(addedByV1).isEmpty,
      "the secondary column's stats did not prune the appended files")
    gt.readRanges(s, root,
      Map("o_orderkey" -> (lo, hi), "o_custkey" -> (0L, mc)))
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy("o_orderkey", "o_custkey")
  }

  /** Streaming source across schema evolution (q173, VERDICT r15 #5):
    * the q171 harness with an [[graft.operators.GraftTable.appendEvolve]]
    * between the two runs of ONE checkpoint. Run 1's schema is pinned
    * pre-evolution (REQUIREd: the frame has no o_custkey column); the
    * restarted run re-resolves the schema and must serve the added
    * column's committed values (Delta's pin-per-run /
    * refresh-at-restart contract, here as a hash-matched oracle
    * instead of prose). The combined feed: run 1's rows null-extended,
    * run 2's carrying real values.
    */
  val q173 = Q.checked(
    "q173_table_stream_source_evolution",
    """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                  WHERE o_orderkey % 5 = 0)
       SELECT CAST(0 AS BIGINT) AS _commit_version,
              'insert' AS _change_type, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice,
              CAST(NULL AS BIGINT) AS o_custkey
       FROM b
       UNION ALL
       SELECT 1, 'insert', o_orderkey + 5000000,
              round(o_totalprice + 3, 2), o_custkey
       FROM b WHERE o_orderkey % 7 = 3
       ORDER BY _commit_version, o_orderkey""") { (s, d) =>
    val base0 = s"${sys.props("java.io.tmpdir")}/graft_sse_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(base0)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(base0), true)
    val gt = graft.operators.GraftTable
    val root = s"$base0/table"
    val k = col("o_orderkey")
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      .filter(k % 5 === 0)
    val v0 = gt.create(base, root)

    def streamOnce(outDir: String): Unit = {
      val q = s.readStream
        .format("org.apache.spark.sql.graft.GraftTableSourceProvider")
        .option("path", root).load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$base0/ckpt")
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir)
          ()
        }
        .start()
      q.awaitTermination()
    }

    streamOnce(s"$base0/out1")
    val feed1 = s.read.parquet(s"$base0/out1")
    require(!feed1.columns.contains("o_custkey"),
      "run 1 must be pinned to the pre-evolution schema")
    // the table EVOLVES while the stream is down: new rows carry a
    // column run 1 never saw
    val evolved = Tables.orders(s, d)
      .filter(k % 5 === 0 && k % 7 === 3)
      .select((k + 5000000L).as("o_orderkey"),
        (col("o_totalprice") + 3).as("o_totalprice"),
        col("o_custkey"))
    val v1 = gt.appendEvolve(evolved, root, v0)
    streamOnce(s"$base0/out2")
    val feed2 = s.read.parquet(s"$base0/out2")
    require(feed2.columns.contains("o_custkey"),
      "restarted run did not pick up the evolved schema")
    require(feed2.filter(col("_commit_version") =!= v1).isEmpty,
      "restarted run replayed already-served versions")
    require(feed2.filter(col("o_custkey").isNull).isEmpty,
      "evolved column lost its committed values")
    feed1
      .withColumn("o_custkey",
        lit(null).cast(org.apache.spark.sql.types.LongType))
      .unionByName(feed2)
      .select(col("_commit_version"), col("_change_type"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"),
        col("o_custkey"))
      .orderBy("_commit_version", "o_orderkey")
  }

  /** Streaming SINK as a first-class format (q174): the q166 pipeline
    * with the hand-rolled foreachBatch replaced by
    * `writeStream.format(GraftTableSourceProvider).option("path", root)`
    * — each micro-batch one atomic version via
    * [[graft.operators.GraftTable.appendBatchIdempotent]], the writer
    * id defaulting to the streaming query's checkpoint-pinned id.
    * In-query gates: a SECOND AvailableNow run on the SAME checkpoint
    * must leave the table untouched (the file source serves nothing
    * new; the sink's writer id is checkpoint-pinned); a manual replay
    * of batch 0 under the RECORDED writer id (read back from the
    * manifest's txn map) must be adjudicated a no-op — the post-crash
    * at-least-once path, hit directly; and the final table equals the
    * plain events table. Exactly-once with zero user-written
    * idempotence code.
    */
  val q174 = Q.checked(
    "q174_table_sink_format",
    """SELECT event_id, user_id, event_type, value
       FROM events ORDER BY event_id""") { (s, d) =>
    val out = s"${sys.props("java.io.tmpdir")}/graft_tsf_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))
    val inDir = s"$out/in"
    s.read.schema(schema).parquet(s"$d/events.parquet")
      .repartition(4).write.parquet(inDir)
    val root = s"$out/table"
    def ingest(): Unit = {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir)
        .writeStream
        .format("org.apache.spark.sql.graft.GraftTableSourceProvider")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/_ckpt")
        .option("path", root)
        .start()
      q.awaitTermination()
    }
    ingest()
    val gt = graft.operators.GraftTable
    val nVersions = gt.latestVersion(s, root) + 1
    require(nVersions >= 2, "expected one version per micro-batch")
    val nRows = gt.read(s, root).count()
    // restart on the SAME checkpoint with no new input: every re-planned
    // batch must be a replay no-op (the writer id is checkpoint-pinned)
    ingest()
    require(gt.latestVersion(s, root) + 1 == nVersions,
      "checkpointed restart added versions")
    require(gt.read(s, root).count() == nRows, "restart added rows")
    // the post-crash at-least-once path, hit directly: replay batch 0
    // under the writer id the sink recorded (the streaming query's id,
    // read back from the manifest) — must be a no-op
    val txns = gt.manifest(s, root, nVersions - 1).txns
    require(txns.size == 1, s"expected one writer, got $txns")
    val replayed = gt.appendBatchIdempotent(
      s.read.schema(schema).parquet(inDir).limit(10), 0L, root,
      txns.keys.head)
    require(!replayed, "batch-0 replay under the recorded writer id " +
      "was not detected as committed")
    require(gt.read(s, root).count() == nRows, "replay added rows")
    gt.read(s, root)
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Update-mode streaming sink (q175, VERDICT r16 next-round #5): a
    * staging GraftTable holds the events in four event_id-RANGE
    * chunks (one version each, committed in id order), and a streaming
    * query tails it through the graft SOURCE with
    * `maxVersionsPerTrigger=1` — four bounded micro-batches — into the
    * graft SINK in UPDATE mode (`mergeKey=user_id`,
    * `mergeOrdering=event_id`): each batch an ACID latest-wins UPSERT
    * via [[graft.operators.GraftTable.mergeBatchIdempotent]], writer-
    * scoped idempotence shared with the append sink. Every user
    * appears in every chunk, so keys repeat ACROSS batches and the
    * final table is the closed-form latest-wins answer — per user, the
    * image with the globally maximal event_id (range chunking makes
    * any batching of the version order converge to it). In-query
    * gates: the upsert table stays ONE ROW PER USER across all
    * batches; cross-batch updates provably fired (update_postimage
    * rows in the table's own change feed); a drained re-run adds no
    * version; and a manual replay of batch 0 under the RECORDED writer
    * id is adjudicated a no-op.
    */
  val q175 = Q.checked(
    "q175_table_sink_update_mode",
    """SELECT user_id, event_id, round(value, 2) AS value
       FROM (SELECT user_id, event_id, value,
                    row_number() OVER (PARTITION BY user_id
                                       ORDER BY event_id DESC) AS rn
             FROM events)
       WHERE rn = 1
       ORDER BY user_id""") { (s, d) =>
    val out = s"${sys.props("java.io.tmpdir")}/graft_tsu_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(out), true)
    val gt = graft.operators.GraftTable
    val events = s.read.parquet(s"$d/events.parquet")
      .select("user_id", "event_id", "value")
    // driver-side 1-row scalar (bounded): the range-chunk divisor
    val maxId = events.agg(max("event_id")).head().getLong(0)
    val chunkOf = (col("event_id") * 4.0 / (maxId + 1)).cast("long")
    val stage = s"$out/stage"
    val root = s"$out/table"
    (0L to 3L).foreach { c =>
      val chunk = events.filter(chunkOf === c)
      if (c == 0L) gt.create(chunk, stage)
      else gt.append(chunk, stage, expectedVersion = c - 1L)
      ()
    }
    def drainOne(): Unit = {
      val q = s.readStream
        .format("org.apache.spark.sql.graft.GraftTableSourceProvider")
        .option("path", stage)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .select("user_id", "event_id", "value")
        .writeStream
        .format("org.apache.spark.sql.graft.GraftTableSourceProvider")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$out/_ckpt")
        .option("path", root)
        .option("mergeKey", "user_id")
        .option("mergeOrdering", "event_id")
        .start()
      q.awaitTermination()
    }
    // AvailableNow snapshots ONE rate-capped offset per run: four runs
    // drain the four staged versions as four individually committed
    // upsert batches
    (1 to 4).foreach(_ => drainOne())
    val nVersions = gt.latestVersion(s, root) + 1
    require(nVersions == 4,
      s"expected 4 upsert versions (create + 3 merges), got $nVersions")
    val nUsers = events.select("user_id").distinct().count()
    require(gt.read(s, root).count() == nUsers,
      "upsert table is not one row per user")
    // cross-batch updates actually fired: the table's own change feed
    // carries update images for the re-upserted keys
    val updated = gt.readChanges(s, root, 1L, nVersions - 1)
      .filter(col("_change_type") === "update_postimage").count()
    require(updated > 0, "no cross-batch upserts were recorded")
    // a drained re-run replays nothing and adds no version
    drainOne()
    require(gt.latestVersion(s, root) + 1 == nVersions,
      "drained restart added upsert versions")
    // the post-crash at-least-once path, hit directly: replay batch 0
    // under the writer id the sink recorded
    val txns = gt.manifest(s, root, nVersions - 1).txns
    require(txns.size == 1, s"expected one writer, got $txns")
    val replayed = gt.mergeBatchIdempotent(
      events.limit(10), 0L, root, txns.keys.head,
      "user_id", Seq("event_id"))
    require(!replayed, "batch-0 replay under the recorded writer id " +
      "was not detected as committed")
    gt.read(s, root)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 2).as("value"))
      .orderBy("user_id")
  }

  /** Timestamp time travel (q176, VERDICT r17 next-round #4): build a
    * three-version table (CREATE from orders, APPEND of shifted copies,
    * DELETE of a residue class), then read it back at FOUR wall-clock
    * probes straddling the recorded commit timestamps — the exact
    * stamp of v0, the midpoint between v0 and v1, the exact stamp of
    * v1, and one hour past v2 (Delta's `timestampAsOf` semantics:
    * latest version committed at-or-before the probe). The probes are
    * taken FROM the manifests, so the output is deterministic whatever
    * the wall clock; in-query REQUIREs pin the resolution of each probe
    * and the before-first-commit error, so a mis-resolved timestamp
    * fails the query rather than serving a plausible snapshot. The
    * oracle recomputes each probe's snapshot closed-form from orders.
    */
  val q176 = Q.checked(
    "q176_table_timestamp_travel",
    """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
       a AS (SELECT o_orderkey + 20000000 AS o_orderkey,
                    o_totalprice + 500 AS o_totalprice
             FROM b WHERE o_orderkey % 7 = 0),
       v1 AS (SELECT * FROM b UNION ALL SELECT * FROM a),
       v2 AS (SELECT * FROM v1 WHERE o_orderkey % 5 <> 1)
       SELECT CAST(0 AS BIGINT) AS probe, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice
       FROM b
       UNION ALL SELECT 1, o_orderkey, round(o_totalprice, 2) FROM b
       UNION ALL SELECT 2, o_orderkey, round(o_totalprice, 2) FROM v1
       UNION ALL SELECT 3, o_orderkey, round(o_totalprice, 2) FROM v2
       ORDER BY probe, o_orderkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_tts_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val gt = graft.operators.GraftTable
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    gt.create(base, root)
    // stamps are millisecond wall-clock; the sleeps separate them so
    // the midpoint probe is strictly between two versions
    Thread.sleep(20)
    val k = col("o_orderkey")
    gt.append(base.filter(k % 7 === 0)
      .select((k + 20000000L).as("o_orderkey"),
        (col("o_totalprice") + 500).as("o_totalprice")), root, 0L)
    Thread.sleep(20)
    gt.deleteWhere(s, root, k % 5 === 1, 1L)
    val ts = gt.history(s, root).map(_.ts.getOrElse(
      sys.error("manifest missing its commit timestamp")))
    require(ts == ts.sorted && ts(0) < ts(1) && ts(1) < ts(2),
      s"commit stamps not strictly increasing: $ts")
    // probe -> (timestamp, version it must resolve to)
    val probes = Seq(
      0L -> (ts(0), 0L),
      1L -> ((ts(0) + ts(1)) / 2, 0L),
      2L -> (ts(1), 1L),
      3L -> (ts(2) + 3600L * 1000, 2L))
    probes.foreach { case (p, (t, v)) =>
      val got = gt.versionAtTimestamp(s, root, t)
      require(got == v, s"probe $p at $t resolved to v$got, wanted v$v")
    }
    // a timestamp before the first commit must error, not serve v0
    val early =
      try { gt.versionAtTimestamp(s, root, ts(0) - 1L); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    require(early.exists(_.contains("predates the first commit")),
      s"pre-creation probe did not error: $early")
    probes.map { case (p, (t, _)) =>
      gt.readTimestamp(s, root, t)
        .select(lit(p).as("probe"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
    }.reduce(_.unionByName(_)).orderBy("probe", "o_orderkey")
  }

  /** OPTIMIZE with Z-ORDER clustering integrated into the table format
    * (q177, VERDICT r17 next-round #7): a table range-partitioned
    * linearly on its head key cannot prune a filter on the SECONDARY
    * column — every file spans the full custkey range, so a
    * custkey-selective read opens all of them. `compact(zorderBy =
    * (o_orderkey, o_custkey))` rewrites the same rows clustered on the
    * Morton interleave; the fresh per-file stats become tight in both
    * columns and the SAME `readRanges` box opens STRICTLY fewer files
    * — REQUIREd in-query, along with pre/post row identity (probe 0 =
    * pre-compact read, probe 1 = post-compact read of the same box; a
    * compaction that changed any row hash-mismatches). The oracle is
    * the plain SQL filter, emitted once per probe.
    */
  val q177 = Q.checked(
    "q177_table_zorder_compact",
    """WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
       r AS (SELECT max(o_custkey) // 8 AS mc FROM b),
       sel AS (SELECT o_orderkey, o_custkey,
                      round(o_totalprice, 2) AS o_totalprice
               FROM b WHERE o_custkey >= 0
                        AND o_custkey <= (SELECT mc FROM r))
       SELECT CAST(0 AS BIGINT) AS probe, * FROM sel
       UNION ALL
       SELECT 1, * FROM sel
       ORDER BY probe, o_orderkey, o_custkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_zoc_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val gt = graft.operators.GraftTable
    val base = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val mx = base.agg(max("o_orderkey")).head().getLong(0)
    val mc = base.agg(max("o_custkey")).head().getLong(0)
    val v0 = gt.createPartitioned(base, root,
      Seq("o_orderkey", "o_custkey"), numFiles = 10)
    val box = Map("o_orderkey" -> (0L, mx), "o_custkey" -> (0L, mc / 8))
    val openBefore = gt.filesForRanges(s, root, v0, box).size
    require(openBefore == gt.manifest(s, root, v0).files.size,
      "fixture broken: the linear layout should prune nothing on the " +
        "secondary column (custkey is uncorrelated with the sort key)")
    val probe0 = gt.readRanges(s, root, box, v0)
    val v1 = gt.compact(s, root, v0, numFiles = 10,
      zorderBy = Seq("o_orderkey", "o_custkey"))
    val openAfter = gt.filesForRanges(s, root, v1, box).size
    require(openAfter < openBefore,
      s"z-order compact did not reduce the same box's file count: " +
        s"$openAfter vs $openBefore")
    // every rewritten file carries fresh stats on BOTH columns
    val h1 = gt.manifest(s, root, v1)
    require(h1.files.forall(f =>
      h1.ranges.get(f).exists(_.keySet == Set("o_orderkey", "o_custkey"))),
      "z-order compact lost per-file stats")
    val probe1 = gt.readRanges(s, root, box, v1)
    def shaped(df: org.apache.spark.sql.DataFrame, p: Long) =
      df.select(lit(p).as("probe"), col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    shaped(probe0, 0L).unionByName(shaped(probe1, 1L))
      .orderBy("probe", "o_orderkey", "o_custkey")
  }

  /** RESTORE — metadata-only rollback as a first-class table operation
    * (q178, Delta's RESTORE TABLE recipe): build CREATE → APPEND →
    * DELETE, then restore to the pre-delete version. The restore must
    * move ZERO data (its manifest lists exactly the target's files —
    * REQUIREd), the rolled-back snapshot must equal the target's
    * (probe 0, recomputed closed-form by the oracle), and its change
    * feed must be ROW-EXACT (probe 1): only the deleted rows come back
    * as inserts — the rows the delete's rewrite merely moved between
    * files cancel, REQUIREd as zero delete rows in the feed, where a
    * file-level add/remove diff would have double-fed every survivor.
    * Restoring to a future version is REQUIREd to error, and the
    * restore's own commit stamp must resolve through timestamp travel.
    */
  val q178 = Q.checked(
    "q178_table_restore",
    """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
       a AS (SELECT o_orderkey + 20000000 AS o_orderkey,
                    o_totalprice + 500 AS o_totalprice
             FROM b WHERE o_orderkey % 7 = 0),
       v1 AS (SELECT * FROM b UNION ALL SELECT * FROM a),
       gone AS (SELECT * FROM v1 WHERE o_orderkey % 5 = 1)
       SELECT CAST(0 AS BIGINT) AS probe, 'snap' AS change, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice
       FROM v1
       UNION ALL
       SELECT 1, 'insert', o_orderkey, round(o_totalprice, 2) FROM gone
       ORDER BY probe, o_orderkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_rst_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val gt = graft.operators.GraftTable
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    gt.create(base, root)
    val k = col("o_orderkey")
    gt.append(base.filter(k % 7 === 0)
      .select((k + 20000000L).as("o_orderkey"),
        (col("o_totalprice") + 500).as("o_totalprice")), root, 0L)
    gt.deleteWhere(s, root, k % 5 === 1, 1L)
    val v3 = gt.restore(s, root, expectedVersion = 2L, toVersion = 1L)
    // zero data movement: the restore manifest is the target's file
    // list verbatim — nothing staged under the restore's own version
    val h1 = gt.manifest(s, root, 1L)
    val h3 = gt.manifest(s, root, v3)
    require(h3.files == h1.files && h3.op == "RESTORE",
      s"restore moved data: ${h3.files.diff(h1.files)}")
    // a restore cannot invent future state
    val bad =
      try { gt.restore(s, root, v3, toVersion = 99L); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    require(bad.exists(_.contains("restore rolls back")),
      s"future-version restore did not error: $bad")
    // the restore's stamp participates in timestamp travel
    val ts3 = h3.ts.getOrElse(sys.error("restore manifest missing ts"))
    require(gt.versionAtTimestamp(s, root, ts3) == v3,
      "restore stamp did not resolve to the restore version")
    val feed = gt.readChanges(s, root, v3, v3)
    // row-exact: a pure rollback of a delete feeds ONLY inserts — the
    // survivors the delete's rewrite moved between files cancel
    require(feed.filter(col("_change_type") =!= "insert").isEmpty,
      "restore feed leaked rewrite-overlap rows")
    val probe0 = gt.read(s, root)
      .select(lit(0L).as("probe"), lit("snap").as("change"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    val probe1 = feed
      .select(lit(1L).as("probe"), col("_change_type").as("change"),
        col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    probe0.unionByName(probe1).orderBy("probe", "o_orderkey")
  }

  /** CHECK constraints as first-class table metadata (q179, Delta's
    * ALTER TABLE ADD CONSTRAINT): add `price_nonneg`, REQUIRE a
    * violating append is refused with nothing written, commit a valid
    * append (probe 0), REQUIRE the constraint rides through COMPACT
    * (maintenance must not drop governance metadata), drop it, and
    * commit the previously-refused rows (probe 1). Both probes are
    * recomputed closed-form by the oracle; the refusals are in-query
    * REQUIREs — a constraint that silently admits bad rows or drops
    * valid ones changes a probe's hash.
    */
  val q179 = Q.checked(
    "q179_table_check_constraint",
    """WITH b AS (SELECT o_orderkey, o_totalprice FROM orders),
       pos AS (SELECT o_orderkey + 20000000 AS o_orderkey,
                      o_totalprice AS o_totalprice
               FROM b WHERE o_orderkey % 11 = 0),
       neg AS (SELECT o_orderkey + 40000000 AS o_orderkey,
                      -o_totalprice AS o_totalprice
               FROM b WHERE o_orderkey % 13 = 0),
       v_ok AS (SELECT * FROM b UNION ALL SELECT * FROM pos),
       v_all AS (SELECT * FROM v_ok UNION ALL SELECT * FROM neg)
       SELECT CAST(0 AS BIGINT) AS probe, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice
       FROM v_ok
       UNION ALL
       SELECT 1, o_orderkey, round(o_totalprice, 2) FROM v_all
       ORDER BY probe, o_orderkey""") { (s, d) =>
    val root = s"${sys.props("java.io.tmpdir")}/graft_chk_${ProcessHandle.current().pid()}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val gt = graft.operators.GraftTable
    val base = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
    gt.create(base, root)
    val v1 = gt.addCheckConstraint(s, root, 0L, "price_nonneg",
      "o_totalprice >= 0")
    val k = col("o_orderkey")
    val pos = base.filter(k % 11 === 0)
      .select((k + 20000000L).as("o_orderkey"), col("o_totalprice"))
    val neg = base.filter(k % 13 === 0)
      .select((k + 40000000L).as("o_orderkey"),
        (-col("o_totalprice")).as("o_totalprice"))
    // a violating append is refused and nothing lands
    val refused =
      try { gt.append(neg, root, v1); None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    require(refused.exists(_.contains("price_nonneg")),
      s"violating append was not refused: $refused")
    require(gt.latestVersion(s, root) == v1,
      "a refused append must write nothing")
    val v2 = gt.append(pos, root, v1)
    val probe0 = gt.read(s, root)
    // the constraint survives maintenance
    val v3 = gt.compact(s, root, v2)
    require(gt.manifest(s, root, v3).checks.contains("price_nonneg"),
      "compact dropped the constraint")
    val v4 = gt.dropCheckConstraint(s, root, v3, "price_nonneg")
    gt.append(neg, root, v4)
    val probe1 = gt.read(s, root)
    def shaped(df: org.apache.spark.sql.DataFrame, p: Long) =
      df.select(lit(p).as("probe"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
    shaped(probe0, 0L).unionByName(shaped(probe1, 1L))
      .orderBy("probe", "o_orderkey")
  }
}

/** Planted biarc corpus for the self-verifying q40: 100 verb groups,
  * each materializing the `X <verb> from Y` / `X <verb> of Y` path pair
  * with a controlled filler-profile relationship (identical / disjoint /
  * half-overlapping), 8 weighted instances per path — ~1.6k lines in
  * the reference's biarc format (`head \t tok/POS/dep/headIdx... \t
  * count`, DirtDriver.java:527-552; score semantics `:972-975`).
  *
  * Why the closed forms hold regardless of corpus-wide margins: MI
  * values depend on global N and the margins, but twin paths see
  * IDENTICAL triple profiles, so their kept-feature sets and MI values
  * coincide feature-for-feature — numerator Σ(mi1+mi2) and denominator
  * (Σmi1)+(Σmi2) are the same sum, sim = 1 per slot. Disjoint fillers
  * make the (slot, word) intersection empty — numerator 0. Partial
  * overlap keeps 0 < numerator < denominator (unique features have
  * positive MI under the >0.001 filter).
  */
object PlantedBiarc {
  private val FillersPerPath = 8
  private def cnt(j: Int): Int = 1 + (j % 3)

  private def line(v: String, x: String, prep: String, y: String,
      c: Int): String =
    s"$v\t$x/NNS/nsubj/2 $v/VBP/ROOT/0 $prep/IN/prep/2 $y/NN/pobj/3\t$c"

  val lines: Seq[String] = {
    val twins = for {
      k <- 0 until 50
      j <- 0 until FillersPerPath
      prep <- Seq("from", "of") // identical profiles for both paths
    } yield line(s"vtw$k", s"a$k${"x"}$j", prep, s"b$k${"y"}$j", cnt(j))
    val disjoint = for {
      k <- 0 until 25
      j <- 0 until FillersPerPath
      prep <- Seq("from", "of")
    } yield line(s"vdj$k", s"d$prep$k${"x"}$j", prep, s"e$prep$k${"y"}$j",
      cnt(j))
    val partial = for {
      k <- 0 until 25
      j <- 0 until FillersPerPath
      prep <- Seq("from", "of")
      // fillers 0..3 shared between the two paths, 4..7 disjoint
    } yield {
      val (x, y) =
        if (j < FillersPerPath / 2) (s"p$k${"x"}$j", s"q$k${"y"}$j")
        else (s"p$prep$k${"x"}$j", s"q$prep$k${"y"}$j")
      line(s"vpt$k", x, prep, y, cnt(j))
    }
    twins ++ disjoint ++ partial
  }

  val testSet: Seq[String] =
    (0 until 50).map(k => s"X vtw$k from Y\tX vtw$k of Y") ++
      (0 until 25).map(k => s"X vdj$k from Y\tX vdj$k of Y") ++
      (0 until 25).map(k => s"X vpt$k from Y\tX vpt$k of Y")

  /** The same planted construction generated DISTRIBUTED at any scale:
    * `groups` verb groups per family (twin / disjoint / partial), 48
    * lines per group (8 fillers × 2 preps × 3 families), so the
    * closed-form score requires hold at millions of lines exactly as
    * they do on the 1.6k-line q40 corpus — per-group profiles never
    * interact across groups, and the closed forms are margin-free (the
    * PlantedBiarc class doc). This is the past-the-startup-knee DIRT
    * probe: millions of corpus lines, a vocabulary that scales WITH the
    * corpus (every group brings its own fillers), and a test set of
    * 3·groups pairs riding the broadcast-members path.
    */
  def scaledLines(spark: org.apache.spark.sql.SparkSession,
      groups: Int): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val fp = FillersPerPath
    val g = groups.toLong
    spark.range(g * 3 * fp * 2).map { idx =>
      val prep = if (idx % 2 == 0) "from" else "of"
      val j = ((idx / 2) % fp).toInt
      val k = (idx / (2 * fp)) % g
      val fam = (idx / (2 * fp * g)).toInt
      fam match {
        case 0 => line(s"vtw$k", s"a${k}x$j", prep, s"b${k}y$j", cnt(j))
        case 1 =>
          line(s"vdj$k", s"d$prep${k}x$j", prep, s"e$prep${k}y$j", cnt(j))
        case _ =>
          if (j < fp / 2) line(s"vpt$k", s"p${k}x$j", prep, s"q${k}y$j", cnt(j))
          else line(s"vpt$k", s"p$prep${k}x$j", prep, s"q$prep${k}y$j", cnt(j))
      }
    }
  }

  def scaledTestSet(groups: Int): Seq[String] =
    (0 until groups).map(k => s"X vtw$k from Y\tX vtw$k of Y") ++
      (0 until groups).map(k => s"X vdj$k from Y\tX vdj$k of Y") ++
      (0 until groups).map(k => s"X vpt$k from Y\tX vpt$k of Y")

  /** Hub-and-spoke SKEW variant (round 11, VERDICT r10 #4): the three
    * uniform families plus one Zipf-hot family — a single hub path
    * (`vzhub`, lexicographically ABOVE every spoke so canonical pair
    * ordering puts it on the p2 side) paired against `spokes` spoke
    * paths that all share the hub's 4 (x, y) filler pairs and carry 4
    * unique fillers each. In `DirtPipeline.similarity`'s feature
    * self-equi-join the broadcast pair fan-out tags every spoke's
    * shared-filler features with p2 = hub, so the 8 join keys
    * `(vzhub-path, slot, hx/hy_j)` each carry `spokes` probe-side rows
    * while every uniform-family key carries one — exactly the hot-key
    * partition skew AQE's OptimizeSkewedJoin exists for
    * (`DirtSkewSpec` pins the split firing; SURVEY.md §4).
    *
    * Closed forms stay margin-free: twins exact 1.0, disjoint exact
    * 0.0, partial in (0, 1) as in [[scaledLines]]; every hub–spoke pair
    * lands strictly in (0, 1) because (a) shared-filler MI is positive —
    * `mi = ln(N / (ps·(spokes+1)))` with N ≈ 192·groups dominating for
    * `groups > spokes/12` — and (b) each spoke's unique fillers keep its
    * SumMI strictly above the shared numerator.
    */
  def skewLines(spark: org.apache.spark.sql.SparkSession, groups: Int,
      spokes: Int, shared: Int = 4,
      unique: Int = 4): org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    val hub = spark.range(spokes.toLong + 1).flatMap { k =>
      if (k == spokes.toLong)
        (0 until shared).map(j => line("vzhub", s"hx$j", "from", s"hy$j", cnt(j)))
      else
        (0 until shared).map(j =>
          line(s"vsp$k", s"hx$j", "from", s"hy$j", cnt(j))) ++
          (0 until unique).map(u =>
            line(s"vsp$k", s"sx${k}u$u", "from", s"sy${k}u$u", cnt(u)))
    }
    scaledLines(spark, groups).union(hub)
  }

  def skewTestSet(groups: Int, spokes: Int): Seq[String] =
    scaledTestSet(groups) ++
      (0 until spokes).map(k => s"X vsp$k from Y\tX vzhub from Y")
}

/** Mini biarc corpus shared by the DIRT driver query and benches — same
  * shape as DirtPipelineSpec's hand-computed fixture (die from/of + a
  * distractor verb), format `head \t word/POS/dep/head... \t count`.
  */
object MiniCorpus {
  val lines: Seq[String] = Seq(
    "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 cancer/NN/pobj/3\t10",
    "die\tpeople/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 smoking/NN/pobj/3\t5",
    "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 of/IN/prep/2 cancer/NN/pobj/3\t7",
    "die\tmen/NNS/nsubj/2 die/VBP/ROOT/0 of/IN/prep/2 boredom/NN/pobj/3\t2",
    "suffer\tpatients/NNS/nsubj/2 suffer/VBP/ROOT/0 from/IN/prep/2 cancer/NN/pobj/3\t4")

  val testSet: Seq[String] = Seq(
    "X die from Y\tX die of Y",
    "X die from Y\tX suffer from Y")
}

/** DuckDB SQL twin of the BPE ENCODE pass (round 11, VERDICT r10 #5):
  * the frozen merge table replayed rank-by-rank as 40 chained string
  * `replace` CTEs. Each symbol is wrapped `chr(1)·sym·chr(2)`, so one
  * merge `(l, r) → lr` is one literal replacement whose non-overlapping
  * left-to-right scan is EXACTLY `Bpe.mergePair`'s greedy rule — with
  * per-symbol delimiters on BOTH sides, consecutive matches share no
  * delimiter and the replace cursor advances past complete symbols only
  * (a single shared separator would make `a a a a` merge as
  * `[aa, a, aa]`, diverging from the greedy `[aa, aa, a]`). The final
  * subword count is the chr(1) count. Assembled programmatically from
  * [[graft.operators.FrozenVocab.bpeMerges]] so the two engines can
  * never drift table-wise.
  *
  * PRECONDITION (round 14): the chr(1)/chr(2) wrapping is IN-BAND —
  * input text containing U+0001/U+0002 corrupts the SQL-side symbol
  * stream, so this twin is exact only for text free of those two code
  * points (true of every fixture and of the fuzz generator, which
  * excludes them by design). The ENGINE has no such restriction: the
  * Scala kernel segments over string lists with no marker characters
  * (`BpeSpec` pins a U+0001-containing word end to end).
  */
object BpeEncodeSql {
  private def esc(s: String): String = s.replace("'", "''")
  private def wrap(sym: String): String = s"chr(1)||'${esc(sym)}'||chr(2)"

  val sql: String = {
    val merges = graft.operators.FrozenVocab.bpeMerges
    val steps = merges.zipWithIndex.map { case ((l, r), i) =>
      s"s${i + 1} AS (SELECT w, replace(s, ${wrap(l)}||${wrap(r)}, ${wrap(l + r)}) AS s FROM s$i)"
    }
    val last = s"s${merges.size}"
    s"""WITH words AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[\\s\\x0B]+')) AS w
         FROM documents),
       wf AS (SELECT doc_id, w FROM words WHERE w <> ''),
       dw AS (SELECT DISTINCT w FROM wf),
       s0 AS (SELECT w, regexp_replace(w, '(.)', chr(1)||'\\1'||chr(2), 'g')
                 || ${wrap(graft.operators.Bpe.EndMark)} AS s FROM dw),
       ${steps.mkString(",\n       ")},
       seg AS (SELECT w, length(s) - length(replace(s, chr(1), '')) AS n_sub
               FROM $last),
       agg AS (SELECT doc_id, count(*) AS n_words,
                 CAST(sum(n_sub) AS BIGINT) AS n_subwords
               FROM wf JOIN seg USING (w) GROUP BY doc_id)
       SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
              coalesce(n_subwords, 0) AS n_subwords
       FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       ORDER BY d.doc_id"""
  }

  /** Per-SOURCE token accounting (q153) over the same frozen merge
    * chain: the "how many training tokens does each source contribute"
    * statistic that sizes mixture weights and epoch math before any
    * training run. Identical merge-replay CTEs; only the final
    * aggregation differs (by source, via each word occurrence's doc).
    */
  val bySourceSql: String = {
    val merges = graft.operators.FrozenVocab.bpeMerges
    val steps = merges.zipWithIndex.map { case ((l, r), i) =>
      s"s${i + 1} AS (SELECT w, replace(s, ${wrap(l)}||${wrap(r)}, ${wrap(l + r)}) AS s FROM s$i)"
    }
    val last = s"s${merges.size}"
    s"""WITH words AS (
         SELECT doc_id, source,
                unnest(regexp_split_to_array(trim(text), '[\\s\\x0B]+')) AS w
         FROM documents),
       wf AS (SELECT doc_id, source, w FROM words WHERE w <> ''),
       dw AS (SELECT DISTINCT w FROM wf),
       s0 AS (SELECT w, regexp_replace(w, '(.)', chr(1)||'\\1'||chr(2), 'g')
                 || ${wrap(graft.operators.Bpe.EndMark)} AS s FROM dw),
       ${steps.mkString(",\n       ")},
       seg AS (SELECT w, length(s) - length(replace(s, chr(1), '')) AS n_sub
               FROM $last),
       agg AS (SELECT source, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(n_sub) AS BIGINT) AS n_tokens
               FROM wf JOIN seg USING (w) GROUP BY source),
       docs AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM documents GROUP BY source)
       SELECT docs.source, n_docs,
              coalesce(n_words, 0) AS n_words,
              coalesce(n_tokens, 0) AS n_tokens
       FROM docs LEFT JOIN agg ON docs.source = agg.source
       ORDER BY docs.source"""
  }
}

/** DuckDB SQL twin of BPE TRAINING (q88): the 12 merge rounds unrolled
  * as chained CTEs with NO frozen literals — round r's argmax winner is
  * a one-row CTE (`ORDER BY count DESC, left, right LIMIT 1`, the exact
  * `Bpe.trainMerges` tie-break) CROSS JOINed into round r+1's merge
  * application, so DuckDB genuinely retrains the table from the corpus.
  * Pair extraction zips adjacent symbols parsed back out of the
  * delimiter-wrapped word string (the [[BpeEncodeSql]] representation);
  * the apply step is the same single delimiter-wrapped replace, which
  * is exactly the greedy left-to-right non-overlapping rule. Every
  * multiply-referenced CTE is `MATERIALIZED` — DuckDB inlines CTEs by
  * default, and `h_r` feeding both the round-r argmax and round r+1
  * would otherwise re-derive the whole chain per reference
  * (exponential; measured: >120 s inlined vs 0.8 s materialized).
  */
object BpeTrainSql {
  val rounds = 12

  val sql: String = {
    val parts = Seq.newBuilder[String]
    parts += """words AS (
      SELECT unnest(regexp_split_to_array(trim(text), '[\s\x0B]+')) AS w
      FROM documents)"""
    parts += """hist AS MATERIALIZED (
      SELECT w, count(*) AS f FROM words WHERE w <> '' GROUP BY w)"""
    parts += ("""h0 AS MATERIALIZED (
      SELECT regexp_replace(w, '(.)', chr(1)||'\1'||chr(2), 'g')
        || chr(1)||'""" + graft.operators.Bpe.EndMark +
      """'||chr(2) AS s, f FROM hist)""")
    (0 until rounds).foreach { r =>
      parts += s"""p$r AS (
        SELECT z[1] AS l, z[2] AS rr, sum(f) AS c FROM (
          SELECT unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS z, f
          FROM (SELECT regexp_extract_all(s,
                  chr(1)||'([^'||chr(2)||']*)'||chr(2), 1) AS syms, f
                FROM h$r)
        ) t(z, f)
        GROUP BY z[1], z[2])"""
      parts += s"""w$r AS MATERIALIZED (
        SELECT l, rr, c FROM p$r ORDER BY c DESC, l, rr LIMIT 1)"""
      parts += s"""h${r + 1} AS MATERIALIZED (
        SELECT replace(h.s, chr(1)||w.l||chr(2)||chr(1)||w.rr||chr(2),
                 chr(1)||w.l||w.rr||chr(2)) AS s, h.f
        FROM h$r h CROSS JOIN w$r w)"""
    }
    val sel = (0 until rounds).map { r =>
      s"""SELECT $r AS rank, l AS "left", rr AS "right",
          CAST(c AS BIGINT) AS pair_count FROM w$r"""
    }.mkString("\nUNION ALL\n")
    s"WITH ${parts.result().mkString(",\n")}\nSELECT * FROM (\n$sel\n) ORDER BY rank"
  }
}

/** DuckDB SQL twin of the WordPiece ENCODE pass: greedy
  * longest-match-first against the frozen vocabulary, unrolled to
  * [[steps]] per-position CTEs (every step consumes ≥ 1 character, and
  * a word longer than the unroll yields NULL — a visible hash mismatch,
  * never a silent undercount). Step 0 matches bare units, later steps
  * `##` continuations, mirroring `WordPiece.segment`'s positional
  * prefix; a position with no match turns the whole word into one
  * `[UNK]` exactly as the Scala runtime does. Assembled from
  * [[graft.operators.FrozenVocab.wordPieceVocab]].
  */
object WordPieceEncodeSql {
  private def esc(s: String): String = s.replace("'", "''")
  val steps = 12

  val sql: String = {
    val vlist = graft.operators.FrozenVocab.wordPieceVocab
      .map(v => s"'${esc(v)}'").mkString(", ")
    val chain = (1 until steps).flatMap { i =>
      Seq(
        s"""m$i AS (SELECT w, rem, unk, n_sub,
           (SELECT max(length(u) - 2) FROM vocab
             WHERE u LIKE '##%' AND substr(u, 3) = left(rem, length(u) - 2)) AS c
           FROM s${i - 1})""",
        s"""s$i AS (SELECT w,
           CASE WHEN rem = '' OR c IS NULL THEN '' ELSE substr(rem, c + 1) END AS rem,
           CASE WHEN rem <> '' AND c IS NULL THEN 1 ELSE unk END AS unk,
           CASE WHEN rem = '' THEN n_sub WHEN c IS NULL THEN 1
                ELSE n_sub + 1 END AS n_sub
           FROM m$i)""")
    }
    s"""WITH words AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[\\s\\x0B]+')) AS w
         FROM documents),
       wf AS (SELECT doc_id, w FROM words WHERE w <> ''),
       dw AS (SELECT DISTINCT w FROM wf),
       vocab(u) AS (SELECT unnest([$vlist])),
       m0 AS (SELECT w,
         (SELECT max(length(u)) FROM vocab
           WHERE u NOT LIKE '##%' AND u = left(w, length(u))) AS c FROM dw),
       s0 AS (SELECT w,
         CASE WHEN c IS NULL THEN '' ELSE substr(w, c + 1) END AS rem,
         CASE WHEN c IS NULL THEN 1 ELSE 0 END AS unk,
         1 AS n_sub FROM m0),
       ${chain.mkString(",\n       ")},
       seg AS (SELECT w, CASE WHEN rem <> '' THEN NULL ELSE n_sub END AS n_sub,
                 unk
               FROM s${steps - 1}),
       agg AS (SELECT doc_id, count(*) AS n_words,
                 CAST(sum(n_sub) AS BIGINT) AS n_subwords,
                 CAST(sum(unk) AS BIGINT) AS n_unk
               FROM wf JOIN seg USING (w) GROUP BY doc_id)
       SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
              coalesce(n_subwords, 0) AS n_subwords,
              coalesce(n_unk, 0) AS n_unk
       FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       ORDER BY d.doc_id"""
  }
}

/** DuckDB SQL twin of [[graft.operators.TextAnalysis.analyze]] (minus the
  * fingerprint UDF), assembled programmatically so the marker lists and
  * formula constants can never drift from the Scala definitions.
  */
object TextAnalysisSql {
  val sql: String = {
    val stopArr = TextAnalysis.EnStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH t AS (
         SELECT doc_id, text,
                regexp_split_to_array(trim(text), '[\\s\\x0B]+') AS toks
         FROM documents),
       m AS (
         SELECT doc_id, text,
                len(toks) AS n_tokens,
                len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')) AS n_subwords,
                len(list_filter(toks, w -> list_contains($stopArr, w))) AS n_stop,
                length(regexp_replace(text, '[\\s\\x0B]+', '', 'g')) AS n_nonspace,
                length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS n_punct,
                length(text) AS n_chars
         FROM t),
       ${LangIdSql.scoreCtes("t")}
       SELECT m.doc_id,
              CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(n_subwords AS BIGINT) AS n_subwords,
              round(n_nonspace / greatest(n_tokens, 1), 6) AS avg_token_len,
              round(n_stop / greatest(n_tokens, 1), 6) AS stopword_ratio,
              round(n_punct / greatest(n_chars, 1), 6) AS punct_ratio,
              CAST(greatest(0,
                least(n_chars, 500)
                + (300 * least(n_stop * 5, greatest(n_tokens, 1))) // greatest(n_tokens, 1)
                - (200 * least(n_punct * 4, greatest(n_chars, 1))) // greatest(n_chars, 1)
                + 200) AS BIGINT) AS quality,
              p.lang_pred
       FROM m JOIN lid_pred p USING (doc_id)
       ORDER BY doc_id"""
  }
}

/** DuckDB SQL twin of the frozen-table Unigram-LM ENCODE pass (q150):
  * Viterbi max-log-prob segmentation per distinct word, expressed as a
  * recursive CTE that carries the DP frontier as bounded row state —
  * (b0..b3, c0..c3) = best score / piece count for the last
  * `maxPieceLen = 4` suffix lengths, exactly the window the recurrence
  * `best(i) = max_l logp(piece) + best(i+l)` can reach. Each iteration
  * extends the suffix by one character (right-to-left, the same
  * direction as `Unigram.segmentWord`), scores the ≤ 4 candidate
  * pieces via scalar lookups into the frozen vocab (missing single
  * chars fall back to the same −1000.0 unk penalty; missing longer
  * pieces are excluded via NULL), and shifts the frontier. Ties prefer
  * the LONGER piece — the CASE checks l = 4 first, mirroring the
  * Scala kernel's descending-length strict-> scan. Score sums are the
  * identical left-to-right IEEE-754 addition chains on both engines
  * (the frozen literals round-trip bit-exactly), so the argmax — and
  * therefore `n_pieces` — matches bit-for-bit, never approximately.
  */
object UnigramEncodeSql {
  private def esc(s: String): String = s.replace("'", "''")

  val sql: String = {
    val rows = graft.operators.FrozenVocab.unigramTable
      .map { case (p, lp) => s"('${esc(p)}', ${lp}::DOUBLE)" }
      .mkString(",\n         ")
    s"""WITH RECURSIVE vocab(piece, logp) AS (
         VALUES $rows),
       words AS (
         SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[\\s\\x0B]+')) AS w
         FROM documents),
       wf AS (SELECT doc_id, w FROM words WHERE w <> ''),
       dw AS (SELECT DISTINCT w FROM wf),
       dp AS (
         SELECT w, 0 AS m,
           0.0::DOUBLE AS b0, NULL::DOUBLE AS b1,
           NULL::DOUBLE AS b2, NULL::DOUBLE AS b3,
           0 AS c0, NULL::INTEGER AS c1,
           NULL::INTEGER AS c2, NULL::INTEGER AS c3
         FROM dw
         UNION ALL
         SELECT w, m + 1,
           best, b0, b1, b2,
           CASE WHEN s4 IS NOT NULL AND s4 = best THEN c3 + 1
                WHEN s3 IS NOT NULL AND s3 = best THEN c2 + 1
                WHEN s2 IS NOT NULL AND s2 = best THEN c1 + 1
                ELSE c0 + 1 END,
           c0, c1, c2
         FROM (
           SELECT *,
             greatest(coalesce(s1, -1e308), coalesce(s2, -1e308),
                      coalesce(s3, -1e308), coalesce(s4, -1e308)) AS best
           FROM (
             SELECT w, m, b0, b1, b2, b3, c0, c1, c2, c3,
               coalesce((SELECT logp FROM vocab WHERE piece = left(rem, 1)),
                        -1000.0::DOUBLE) + b0 AS s1,
               (SELECT logp FROM vocab WHERE piece = left(rem, 2)) + b1 AS s2,
               (SELECT logp FROM vocab WHERE piece = left(rem, 3)) + b2 AS s3,
               (SELECT logp FROM vocab WHERE piece = left(rem, 4)) + b3 AS s4
             FROM (SELECT w, m, b0, b1, b2, b3, c0, c1, c2, c3,
                     right(w, m + 1) AS rem
                   FROM dp WHERE m < length(w)) z
           ) y
         ) x),
       fin AS (SELECT w, c0 AS n_sub FROM dp WHERE m = length(w)),
       agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(n_sub) AS BIGINT) AS n_pieces
               FROM wf JOIN fin USING (w) GROUP BY doc_id)
       SELECT d.doc_id, coalesce(n_words, 0) AS n_words,
              coalesce(n_pieces, 0) AS n_pieces
       FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
       ORDER BY d.doc_id"""
  }
}

/** DuckDB SQL twin of [[graft.operators.TextAnalysis.fingerprintOf]]
  * (q38): the rolling Karp–Rabin update `h = (h − c_out·B^7)·B + c_in`
  * over Java longs IS polynomial evaluation in Z/2^64, so each window's
  * value can be recomputed NON-rolling as
  * `Σ_j c_j · (B^(7−j) mod 2^64)  (mod 2^64)`, reinterpreted as a
  * signed 64-bit value — products fit HUGEINT (code point < 2^16,
  * power < 2^64 → term < 2^80 < 2^127). The fixture is all-ASCII, so
  * DuckDB's code-point indexing equals Java's UTF-16 `charAt`. min()
  * over windows then matches the Scala signed-long min exactly; docs
  * shorter than one window get the same 0 sentinel via the left join.
  */
object FingerprintSql {
  val sql: String = {
    val K = graft.operators.TextAnalysis.FingerprintK
    val M = BigInt(2).pow(64)
    val pows = (0 until K)
      .map(j => BigInt(graft.operators.TextAnalysis.FingerprintB).pow(K - 1 - j).mod(M))
    val terms = pows.zipWithIndex.map { case (p, j) =>
      s"CAST(ord(substr(text, CAST(i AS INT) + $j, 1)) AS HUGEINT) * ${p}::HUGEINT"
    }.mkString("\n             + ")
    s"""WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents),
       w AS (SELECT doc_id, text,
               unnest(generate_series(1, n - ${K - 1})) AS i
             FROM t WHERE n >= $K),
       h AS (SELECT doc_id,
               ($terms) % ${M}::HUGEINT AS hu
             FROM w),
       hs AS (SELECT doc_id,
                CAST(CASE WHEN hu >= ${BigInt(2).pow(63)}::HUGEINT
                          THEN hu - ${M}::HUGEINT ELSE hu END AS BIGINT) AS h
              FROM h),
       agg AS (SELECT doc_id, min(h) AS fingerprint FROM hs GROUP BY doc_id)
       SELECT d.doc_id, coalesce(agg.fingerprint, 0) AS fingerprint
       FROM documents d LEFT JOIN agg USING (doc_id)
       ORDER BY d.doc_id"""
  }
}

/** DuckDB twin of [[graft.operators.Chunking.contentDefinedChunks]] +
  * the q160 chunk-dedup accounting. Boundary hashes reuse the
  * [[FingerprintSql]] identity (rolling Karp–Rabin in Z/2^64 == per-window
  * polynomial sum in HUGEINT); the boundary predicate `h & mask == 0`
  * equals `hu % (mask+1) == 0` because mask+1 is a power of two, so the
  * low bits of the signed and unsigned representations agree. The
  * lead()-window span reconstruction is DuckDB-local idiom — the Spark
  * side emits chunks directly from the per-doc flatMap scan.
  */
object CdcChunkSql {
  val sql: String = {
    val K = graft.operators.TextAnalysis.FingerprintK
    val M = BigInt(2).pow(64)
    val div = 64 // mask 63: expected chunk ~64 chars
    val pows = (0 until K)
      .map(j => BigInt(graft.operators.TextAnalysis.FingerprintB).pow(K - 1 - j).mod(M))
    val terms = pows.zipWithIndex.map { case (p, j) =>
      s"CAST(ord(substr(text, CAST(i AS INT) + $j, 1)) AS HUGEINT) * ${p}::HUGEINT"
    }.mkString("\n             + ")
    s"""WITH corpus AS (SELECT * FROM documents
          UNION ALL
          SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
          FROM documents WHERE doc_id < 50),
       t AS (SELECT doc_id, text, length(text) AS n FROM corpus),
       w AS (SELECT doc_id, unnest(generate_series(2, n - ${K - 1})) AS i
             FROM t WHERE n >= ${K + 1}),
       h AS (SELECT w.doc_id, i,
               ($terms) % ${M}::HUGEINT AS hu
             FROM w JOIN t ON w.doc_id = t.doc_id),
       b AS (SELECT doc_id, i FROM h WHERE hu % ${div}::HUGEINT = 0),
       starts AS (SELECT doc_id, 1 AS s FROM t WHERE n >= 1
                  UNION ALL SELECT doc_id, i FROM b),
       sp AS (SELECT starts.doc_id, s,
                lead(s) OVER (PARTITION BY starts.doc_id ORDER BY s) AS e,
                n, text
              FROM starts JOIN t ON starts.doc_id = t.doc_id),
       dig AS (SELECT doc_id,
                 md5(substr(text, s, coalesce(e, n + 1) - s)) AS dg,
                 CAST(coalesce(e, n + 1) - s AS BIGINT) AS clen
               FROM sp),
       dup AS (SELECT dg
               FROM (SELECT dg, count(DISTINCT doc_id) AS dc
                     FROM dig GROUP BY dg)
               WHERE dc >= 2),
       perdoc AS (SELECT doc_id,
                    CAST(count(*) AS BIGINT) AS n_chunks,
                    CAST(sum(CASE WHEN dg IN (SELECT dg FROM dup)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
                    CAST(sum(clen) AS BIGINT) AS sum_len,
                    CAST(max(clen) AS BIGINT) AS max_len
                  FROM dig GROUP BY doc_id)
       SELECT c.doc_id,
              coalesce(n_chunks, 0) AS n_chunks,
              coalesce(n_dup_chunks, 0) AS n_dup_chunks,
              coalesce(sum_len, 0) AS sum_len,
              coalesce(max_len, 0) AS max_len
       FROM corpus c LEFT JOIN perdoc USING (doc_id)
       ORDER BY c.doc_id"""
  }
}
