package graft

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan invariants for the headline queries — the properties that
  * keep them fast at 100 TB, locked as assertions so a regression in plan
  * shape fails CI, not just the bench:
  *
  *   - filters reach the parquet scan (PushedFilters);
  *   - projections prune the scan (ReadSchema);
  *   - dimension joins broadcast;
  *   - the exact top-k contains no Window over the scored corpus;
  *   - aggregations are two-phase (map-side partial before the exchange).
  */
class PlanAuditSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4)

  val sf = "/root/testdata/sf0.001"

  def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q17: filter is pushed down to the lineitem parquet scan") {
    val p = plan("q17_math_fns")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("LessThan(l_orderkey,1000)"), p.take(2000))
  }

  test("q18: documents scan prunes to the two referenced columns") {
    val p = plan("q18_explode_wordcount")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(2000))
  }

  test("q02: dimension joins broadcast, fact tables do not") {
    val p = plan("q02_join_multiway")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q01: aggregation is two-phase (map-side partial)") {
    val p = plan("q01_agg_sum_groupby")
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(p.contains("partial_sum"), p.take(2000))
  }

  test("q35: exact top-k plans no Window over the scored corpus") {
    val p = plan("q35_ann_cosine_topk")
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q31: exact-dup drop plans no Window over the digest groups") {
    // groupBy(digest).min(id) + semi-join back: algebraic, AQE-splittable.
    // A row_number window partitioned by digest would funnel a viral
    // duplicate through one task.
    val p = plan("q31_dedup_drop_exact")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("LeftSemi"), p.take(3000))
  }

  test("q32: prefix-filtered jaccard plans equi-joins only, no windows") {
    // every stage must stay an equi-join/aggregation — a nested-loop or
    // cartesian would mean candidate generation regressed to all-pairs,
    // and a Window would mean per-key single-task ranking came back
    Seq("q32_dedup_jaccard", "q53_dedup_ngram_jaccard").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q: ${p.take(3000)}")
      assert(!p.contains("Window"), s"$q: ${p.take(3000)}")
    }
  }

  test("q55: packing window partitions by (source, shard), not source alone") {
    // the content-hash shard bounds each running-sum partition; losing it
    // from the window spec would funnel a whole source through one task
    val p = plan("q55_curation_pack_bins")
    assert("Window .*\\[source#\\d+L?, shard#\\d+L?\\]".r.findFirstIn(p).isDefined
      || "windowspecdefinition\\(source#\\d+L?, shard#\\d+L?".r.findFirstIn(p).isDefined,
      p.take(4000))
  }

  test("q27: bucketed join plans no exchange on the join key") {
    // force a non-broadcast join so the assertion can't pass vacuously —
    // with auto-broadcast on, tiny test tables would broadcast and never
    // plan an exchange regardless of bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q27_bucketed_join")(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p.take(3000))
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q70: PII redaction is map-only and prunes the scan") {
    val p = plan("q70_curation_pii_redact")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(2000))
    // no shuffle before the final presentation sort: redaction itself is
    // a projected scan
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      p.take(3000))
  }

  test("q68: dup-graph star rounds plan equi-joins only, no cartesian") {
    // the iterative rounds run at execution time behind localCheckpoint,
    // so audit the REAL largeStar/smallStar plans directly (they are
    // private[graft] for exactly this)
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDS()
    Seq(
      "largeStar" -> graft.operators.DupGraph.largeStar(edges),
      "smallStar" -> graft.operators.DupGraph.smallStar(edges)
    ).foreach { case (name, round) =>
      val p = round.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(3000)}")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: ${p.take(3000)}")
      assert(!p.contains("Window"), s"$name: ${p.take(3000)}")
    }
  }

  test("q75: tf-idf prunes the scan and aggregates two-phase") {
    val p = plan("q75_tfidf_top_terms")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(2000))
    assert(p.contains("partial_count"), p.take(3000))
  }

  test("q76: bm25 broadcasts df and plans distributed top-k, no global sort") {
    val p = plan("q76_bm25_search")
    // the |terms|-row df side is hint-broadcast; top-k is
    // TakeOrderedAndProject (per-partition heaps), never a full Sort
    // feeding a Limit
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q78: curation composition reuses cached stages, never re-scans the corpus") {
    // constructing q78 runs the pair-graph closure eagerly and persists
    // the c1 (exact-deduped) and c2 (near-dup-dropped) stage outputs; the
    // FINAL plan must consume those via InMemoryTableScan — the corpus
    // parquet may appear only for the benchmark slice (decontamination's
    // broadcast side) and c1's one cached-lineage definition, never once
    // per downstream stage
    val df = SparkEntry.queries("q78_curate_corpus_pipeline")(spark, sf)
    // walk the physical TREE, not the explain string — the string prints
    // each InMemoryRelation's cached lineage (parquet scans and all)
    // once per consumer, while the tree stops at the cache boundary,
    // which is exactly the "does a stage re-scan or reuse" question
    val phys = df.queryExecution.sparkPlan
    val cacheScans = phys.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }.size
    val parquetScans = phys.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    assert(cacheScans >= 2,
      s"stages should consume the persisted c2 via cache scans, got $cacheScans")
    assert(parquetScans <= 2,
      s"$parquetScans corpus parquet scans in the composition plan (want ≤2: the benchmark slice)")
    // composition must execute end-to-end (releases the stage caches)
    assert(df.count() >= 0)
  }

  test("q07: window functions share one shuffle on the partition key") {
    val p = plan("q07_window_funcs")
    // rn/lag/lead/run_sum3 share ORDER BY (ts, event_id); only value_rank
    // needs its own sort — never more than 2 exchanges for user_id.
    val exchanges = "Exchange hashpartitioning\\(user_id".r
      .findAllIn(p).size
    assert(exchanges <= 2, s"$exchanges user_id exchanges:\n${p.take(3000)}")
  }

  test("q80/q81: passage dedup prunes the scan, no windows or cartesians") {
    Seq("q80_dedup_passages", "q81_dedup_chunks").foreach { name =>
      val p = plan(name)
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name: ${p.take(2000)}")
      assert(!p.contains("Window"), s"$name: ${p.take(3000)}")
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(3000)}")
    }
  }

  test("q84: stream-static enrich broadcasts the dimension, not the events") {
    val p = plan("q84_stream_static_enrich")
    // the dim table is the RIGHT side of the left join by construction,
    // so BuildRight == the dimension is the broadcast side
    assert(p.contains("BroadcastHashJoin LeftOuter BuildRight"), p.take(3000))
    // one broadcast in the TREE rendering (the details section repeats
    // the node name once more per node)
    assert("\\+- BroadcastExchange".r.findAllIn(p).size == 1, p.take(3000))
  }

  test("q89: gopher filter is a single map-only pass (no shuffle before sort)") {
    val p = plan("q89_text_gopher_filter")
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      p.take(3000))
  }

  test("q87: the clustered read-back pushes the range filter to the scan") {
    val df = SparkEntry.queries("q87_clustered_write_skipping")(spark, sf)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(user_id,10)") &&
      p.contains("LessThanOrEqual(user_id,19)"), p.take(3000))
  }

  test("srpTopK multi-table: candidates dedup on ids only, vectors rejoin after") {
    // the candidate-dedup aggregate must group (query_id, id) and nothing
    // else — vector payloads rejoin AFTER the distinct, so extra hash
    // tables never shuffle vectors once per table; and no stage may fall
    // back to a cartesian/window
    val p = graft.operators.VectorSearch
      .srpTopK(Tables.embeddings(spark, sf), queryIds = 0L to 9L,
        k = 5, nBits = 4, tables = 4)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("Keys [2]: [query_id"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(3000))
  }

  test("heavyHittersByGroup: sketches partial-aggregate; guard rides the union") {
    // one Misra-Gries sketch per group via the typed Aggregator: the agg
    // must be two-phase (<= k-1 counters per partition shuffle, never raw
    // token streams), and the coverage guard must be IN the plan (a
    // Union branch), not a driver-side collect
    val p = graft.operators.TextAnalysis
      .heavyHittersByGroup(Tables.documents(spark, sf), k = 10)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(p.toLowerCase.contains("partial_"), p.take(3000))
    assert(p.contains("Union"), p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(3000))
  }

  test("q110: blocked edit-distance join is equi-join only, never all-pairs") {
    // the SymSpell deletion-neighborhood key MUST drive a hash equi-join;
    // a cartesian or nested-loop means candidate generation regressed to
    // the N² formulation that survives only in the oracle
    val p = plan("q110_fuzzy_join_editdist")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q111: stratified sample partial-aggregates, no per-stratum window") {
    // the MinK aggregator must ride two-phase aggregation (<= n pairs per
    // stratum shuffle from each map task); a Window would funnel every
    // stratum through one task
    val p = plan("q111_stratified_sample")
    assert(!p.contains("Window"), p.take(3000))
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(p.toLowerCase.contains("partial_"), p.take(3000))
  }

  test("q112/q113: LM and DSIR scoring prune the scan and partial-aggregate") {
    Seq("q112_bigram_lm_backoff", "q113_dsir_importance").foreach { name =>
      val p = plan(name)
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$name: ${p.take(2000)}")
      assert(p.contains("partial_count"), s"$name: ${p.take(3000)}")
      assert(!p.contains("Window"), s"$name: ${p.take(3000)}")
      assert(!p.contains("CartesianProduct"), s"$name: ${p.take(3000)}")
    }
  }

  test("q116: CDC merge collapses the changelog with partial agg, no window") {
    // latest-wins must reduce via max(struct) two-phase aggregation — a
    // row_number window would funnel each hot key through one task
    val p = plan("q116_cdc_latest_wins_merge")
    assert(!p.contains("Window"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(p.toLowerCase.contains("partial_max"), p.take(3000))
  }

  test("slidingChunks: chunking is map-only — no exchange, no window") {
    import spark.implicits._
    val docs = Seq((0L, "a b c d e f")).toDF("doc_id", "text")
    val p = graft.operators.Chunking.slidingChunks(docs, 4, 3)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("encodeDocs: BPE encoding is map-only — no exchange, no window") {
    // the merge table is collected+broadcast by construction; the corpus
    // pass must stay a projected scan + typed map (audited directly like
    // largeStar — q114 wraps it in the roundtrip gate)
    import spark.implicits._
    val docs = Seq((0L, "low lower")).toDF("doc_id", "text")
    val merges = Seq((0, "l", "o", 2L))
      .toDF("rank", "left", "right", "pair_count")
    val p = graft.operators.Bpe.encodeDocs(docs, merges)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Exchange"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q123: benchmark grams broadcast; corpus never self-joins") {
    val p = plan("q123_decontaminate_mask_spans")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q124: triangle counting plans equi-joins only") {
    // wedge join + closing semi-join must stay hash/merge equi-joins; a
    // nested-loop would mean the degree orientation regressed to
    // all-pairs
    val p = plan("q124_graph_triangles")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q126: packing scan prunes to doc_id+text; one window per shard") {
    val p = plan("q126_pack_sequences")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(2000))
    // exactly one Window operator (the per-shard running sum) in the
    // final adaptive plan; AQE's formatted output also prints the
    // initial tree, so restrict the count to the final section
    val finalTree = p.split("== Initial Plan ==").head
    assert(finalTree.linesIterator.count(_.contains("Window")) == 1,
      p.take(3000))
  }

  test("q127: salted join shuffles on (key, salt), no broadcast") {
    val p = plan("q127_salted_skew_join")
    assert(!p.contains("BroadcastHashJoin"), p.take(3000))
    assert(p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("__salt"), p.take(3000))
  }

  test("q131: bloom prefilter runs at the probe scan, before the join") {
    val p = plan("q131_bloom_prefilter_join")
    // the UDF filter must sit under the join (probe side reduced before
    // any exchange), and the filtered build side must broadcast
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    val filterIdx = p.indexOf("Filter")
    val joinIdx = p.indexOf("BroadcastHashJoin")
    assert(filterIdx >= 0 && filterIdx != joinIdx, p.take(3000))
  }

  test("q132: per-group thresholds broadcast back onto the corpus") {
    val p = plan("q132_quantile_keep")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("Window"), p.take(3000))
  }

  test("q134: histogram sketch partial-aggregates and prunes the scan") {
    val p = plan("q134_histogram_quantiles")
    // the corpus-side bin count is two-phase (the partial agg IS the
    // sketch merge), and the scan reads only the sketched column
    assert(p.contains("partial_count"), p.take(4000))
    assert(p.contains("ReadSchema: struct<l_extendedprice:double>"),
      p.take(4000))
  }

  test("q138/q139: multimodal synth+process prunes the scan to doc_id") {
    // both pipelines derive their media from the fixture docs table and
    // must read ONLY doc_id from it — a scan that drags text/lang along
    // under binary payloads is the wrong plan at any scale; and neither
    // may plan a window or cartesian anywhere
    Seq("q138_multimodal_image_resize", "q139_multimodal_video_frame_sample")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("ReadSchema: struct<doc_id:bigint>"), p.take(3000))
        assert(!p.contains("CartesianProduct") && !p.contains("Window"),
          p.take(3000))
      }
  }

  test("q140: importance top-k plans bounded heaps, not a global sort") {
    // the corpus-wide cut must be TakeOrderedAndProject (per-partition
    // heaps); the only Window tolerated is the rank assignment OVER the
    // <= k surviving rows (it sits above the top-k in the plan); both
    // aggregations (term counts, doc weights) must be two-phase
    val p = plan("q140_dsir_importance_select")
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(p.contains("partial_sum"), p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      p.take(4000))
    // tf is persisted (ratio model + scoring join share ONE corpus
    // tokenize at runtime; explain prints the build subtree per
    // reference, so assert the cache, not the textual scan count)
    assert(p.contains("InMemoryRelation") || p.contains("InMemoryTableScan"),
      p.take(4000))
  }

  test("q141: automaton tagging is map-only — no join, no aggregate") {
    // ONE broadcast automaton pass per doc: the only exchange allowed is
    // the final presentation sort; any Join/Aggregate/Window means the
    // dictionary stopped riding the closure and started shuffling
    val p = plan("q141_keyword_tag_ac")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(3000))
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"), p.take(3000))
  }

  test("q142: manifest fingerprint partial-aggregates the XOR") {
    // count/xor/min/max must all merge map-side (the whole point of an
    // order-independent checksum: partials combine anywhere)
    val p = plan("q142_output_manifest")
    assert(p.contains("partial_count"), p.take(4000))
    assert(p.toLowerCase.contains("partial_bit_xor") ||
      p.contains("partial_xor") || p.contains("bit_xor"), p.take(4000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(4000))
  }

  test("q143: snapshot diff is one equi-join, never nested-loop") {
    // the full-outer classification must key on doc_id (SMJ/shuffled
    // hash — broadcast cannot do full outer); a BNL or cartesian means
    // the null-safe key compare stopped being an equi-condition
    val p = plan("q143_snapshot_diff")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      p.take(4000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(4000))
  }

  test("q144: bigrams come from the array, not a positional self-join") {
    // adjacency is array structure: exactly the two unigram-count joins
    // plus the broadcast totals may appear — a third shuffle join means
    // bigram formation regressed to the exploded positional self-join;
    // top-k must be bounded heaps, aggs two-phase
    val p = plan("q144_pmi_collocations")
    val shuffleJoins =
      "SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size
    assert(shuffleJoins <= 2, s"$shuffleJoins shuffle joins\n${p.take(4000)}")
    assert(p.contains("TakeOrderedAndProject"), p.take(4000))
    assert(p.contains("partial_count"), p.take(4000))
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      p.take(4000))
    // both count tables are persisted (totals normalizer + scoring join
    // share one corpus tokenize per table at runtime)
    assert(p.contains("InMemoryRelation") || p.contains("InMemoryTableScan"),
      p.take(4000))
  }

  test("q150: frozen unigram encode reuses the cached pass, no window/cartesian") {
    // the Viterbi encode is a broadcast-table map; the returned plan may
    // only re-read the PERSISTED encode (the roundtrip require already
    // materialized it) and range-sort it — re-deriving the corpus scan,
    // any Window, or a non-equi join means the map-only claim regressed
    val p = plan("q150_unigram_encode_frozen")
    assert(p.contains("InMemoryRelation") || p.contains("InMemoryTableScan"),
      p.take(4000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q151: sentence dedup is window-free with two-phase digest aggs") {
    // keeper selection must be the partial-aggregated min(struct) keyed
    // by sentence digest — a Window over the global sentence stream is
    // exactly the single-task funnel the operator exists to avoid; the
    // digest join must stay equi-join
    val p = plan("q151_dedup_sentences")
    assert(!p.contains("Window"), p.take(4000))
    assert(p.contains("partial_min") || p.contains("partial_count"),
      p.take(4000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q37: no UDF node in the text-analysis projection") {
    // the rolling_fingerprint Catalyst expression replaced the Scala
    // UDF on this hot path — a UDF node reappearing here is the
    // regression (boxing + serialization per row at corpus scale).
    // The POSITIVE assert (the native expression, inside WSCG) lives in
    // RollingFingerprintExpressionSpec; formatted explain elides long
    // projection lists, so only node-type absence is checkable here.
    val p = plan("q37_text_analysis")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"),
      p.take(3000))
    assert(!p.contains("Exchange") || p.contains("Sort"), p.take(3000))
  }

  test("q154: whole-doc HTML extraction is map-only (zero exchanges)") {
    // the regex chain must stay a single projected scan — any Exchange
    // means the extraction stopped being embarrassingly parallel
    val p = plan("q154_html_extract_text")
    // the only allowed exchange is the final presentation sort's range
    // partitioning; a second one means the chain stopped being map-only
    // (formatted explain names each node twice — tree and details — so
    // count the numbered details headers, one per physical node)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(3000))
    assert(!p.contains("hashpartitioning"),
      s"a key shuffle crept into the extraction chain: ${p.take(3000)}")
    assert(!p.contains("Window") && !p.contains("HashAggregate"),
      p.take(3000))
    assert(p.contains("ReadSchema"), p.take(3000))
  }

  test("q155: block filter is window-free, one doc-keyed aggregation") {
    // reassembly must be the partial-agg'd collect_list keyed by doc id
    // (per-key state bounded by one document's blocks); a Window over
    // the corpus-wide block stream is the regression
    val p = plan("q155_html_boilerplate_blocks")
    assert(!p.contains("Window"), p.take(4000))
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      p.take(4000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q152: source overlap pairs via digest equi-join, two-phase distinct") {
    // the (digest, source) distinct must partial-aggregate before its
    // exchange, and the pair join must be a digest equi-join (the
    // a.src < b.src inequality rides as a post-join filter) — a
    // nested-loop or cartesian means the join key degenerated
    val p = plan("q152_source_overlap_matrix")
    assert(p.contains("HashAggregate"), p.take(4000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("q162: trained lang-ID scoring is map-only (no shuffle before the sort)") {
    // NB scoring is prior + n*floor + Σ delta(bucket) computed row-local
    // with the model in executor class constants — the 100 TB shape is a
    // projected scan; any Exchange other than the presentation sort's
    // means a join/agg crept into the scoring path. The scan must also
    // prune to (doc_id, text).
    val p = plan("q162_langid_model")
    // formatted explain prints each node once in the tree and once in
    // the detail section -> exactly one Exchange node = two mentions,
    // and it must be the presentation sort's range partitioning
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size == 1,
      s"non-sort exchange in the scoring path: ${p.take(4000)}")
    assert(p.contains("rangepartitioning") && !p.contains("hashpartitioning"),
      p.take(4000))
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      p.take(4000))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(2000))
  }
}
