package graft

/** Plan-shape regression tests: the performance properties the engine
  * depends on (dimension broadcasts, scan-level filter pushdown, column
  * pruning, top-k pushdown, no accidental cartesian products) asserted
  * against the actual physical plans, so a refactor that silently
  * degrades a plan fails CI rather than a 100 TB run.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan.toString

  test("star join broadcasts every dimension and never sort-merges") {
    val p = plan("q3_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(800))
    assert(!p.contains("SortMergeJoin"))
  }

  test("date-window predicate reaches the parquet scan") {
    val p = plan("q2_date_window")
    assert(p.contains("o_orderdate") && p.contains("1995-03-01"),
      "window filter not pushed into the scan")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      "no pushed filters on the scan")
  }

  test("flagship aggregation prunes the scan to referenced columns") {
    val p = plan("q1_agg")
    assert(p.contains("l_quantity") && p.contains("l_extendedprice"))
    assert(!p.contains("l_shipdate") && !p.contains("l_comment"),
      "scan reads columns the query never touches")
  }

  test("top-k per group gets the WindowGroupLimit pushdown") {
    assert(plan("q9_topk_per_group").contains("WindowGroupLimit"),
      "per-partition top-k pushdown missing — full sort per group at scale")
  }

  test("context-window chunking plans ZERO exchanges (pure map-side op)") {
    // Tables.spread's round-robin repartition (single-file fixture
    // workaround) is the loader's, not the operator's — mask it out
    val p = plan("q62_chunking")
      .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
    assert(!p.contains("Exchange"), "chunking introduced a shuffle:\n" + p.take(1200))
  }

  test("Bloom semi-join probes the literal filter on the fact scan side and broadcasts the dim") {
    val p = plan("q67_bloom_join")
    assert(p.contains("bloomContains"), "no Bloom probe in the plan:\n" + p.take(1200))
    assert(p.contains("BroadcastHashJoin"), "dim side not broadcast")
    // the probe must sit BELOW the join (scan-side pre-filter, not post-join)
    assert(p.indexOf("bloomContains") > p.indexOf("BroadcastHashJoin"),
      "Bloom probe is not on the scan side of the join")
  }

  test("CDC merge is ONE key shuffle: no join, no window sort, single hash exchange") {
    val p = plan("q61_cdc_merge")
      .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "the union+max_by merge must not plan a join")
    assert(!p.contains("Window"), "latest-wins must be an aggregate, not a window sort")
    // exactly the input-union shuffle to the key, plus the final q61
    // reporting aggregation — nothing else
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"CDC merge shuffles $exchanges times:\n${p.take(1200)}")
  }

  test("repetition metrics are two partial-agg shuffles, no sort, no join") {
    val p = plan("q92_repetition")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      "q92 must shuffle exactly twice ((doc, gram) then doc):\n" + p.take(1200))
    assert(!"\\bSort \\[".r.findAllIn(p).hasNext, "q92 must not sort")
    assert(!p.contains("Join"), "q92 must not join")
  }

  test("dup spans stack the islands reduction on ONE window sort") {
    // gaps-and-islands: the row_number window is the only Sort in the
    // plan; the run/grp and per-doc aggregations ride the doc_id
    // partitioning it established instead of re-shuffling
    val p = plan("q93_dup_spans")
    assert("\\bSort \\[".r.findAllIn(p).size == 1,
      "q93 must sort exactly once (the islands window):\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "q93's joins must stay broadcast at this scale:\n" + p.take(1500))
  }

  test("no query plans a cartesian product") {
    // q37/q53/q56/q69 execute eagerly when built (iterative loop / sketch
    // collect) and are covered by their own specs
    val skip = Set("q37_dedup_clusters", "q53_heavy_hitters",
      "q56_dedup_funnel", "q69_best_keeper")
    SparkEntry.queries.keys.filterNot(skip).toSeq.sorted.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q plans a cartesian")
    }
  }

  test("LSH ANN keeps the corpus scan shuffle-free (broadcast query side)") {
    val p = plan("q22_ann_lsh")
    assert(p.contains("BroadcastHashJoin"), "query side not broadcast")
  }

  test("SQ8 search: milli-unit queries broadcast, corpus never sort-merges pre-window") {
    val p = plan("q147_sq8_ann")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the query table must ride a broadcast against the code scan:\n" +
        p.take(1200))
  }

  test("perplexity joins exploded tokens to a broadcast LM, not a shuffle") {
    // The token⋈LM join keys on Zipf-skewed terms; the default broadcastLm
    // path must keep the hot terms out of any exchange.
    val p = plan("q58_perplexity")
    assert(p.contains("BroadcastHashJoin"), "LM side not broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"), "token⋈LM fell back to a shuffle join")
  }

  test("bigram LM: context counts ride a broadcast and the tokenization is lambda-bound") {
    val p = plan("q114_bigram_lm")
    // the c1/vocab lookups must be map-side (explicit broadcast hint) so
    // the corpus bigram stream shuffles only for the c2 join
    assert(p.contains("BroadcastHashJoin"),
      "context-count side not broadcast:\n" + p.take(1200))
    // O(tokens^2) tripwire: element_at applied straight to the split
    // result inside a lambda re-runs the regex per bigram index
    assert(!p.contains("element_at(split("),
      "bigram builder re-evaluates the tokenization per index")
  }

  test("shingle builders bind the token array before the index loop") {
    // O(tokens^2) tripwire (r12): slice() applied straight to the split
    // result inside transform's lambda re-tokenizes once per shingle;
    // shingles must bind the array to a lambda variable first.
    for (q <- Seq("q17_minhash_pairs", "q19_ngram_jaccard", "q68_dup_ngrams")) {
      val p = plan(q)
      assert(!p.contains("slice(split("),
        s"$q re-tokenizes per shingle index:\n" + p.take(1200))
    }
  }

  test("URL filter: exact + parent-suffix blocklist joins all broadcast, zero wide shuffles") {
    val p = plan("q119_url_filter")
    // 1 exact-host + MaxSuffixJoins parent-suffix joins, every one a
    // broadcast hash join against the same dim — the corpus side must
    // never shuffle for a blocklist probe
    assert("BroadcastHashJoin".r.findAllIn(p).size ==
      1 + graft.functions.UrlFilter.MaxSuffixJoins,
      "blocklist joins not all broadcast:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "a blocklist join fell back to a shuffle join")
    // hash exchanges are allowed ONLY for the dim's defensive dedup —
    // one per broadcast branch in the initial plan (runtime exchange
    // reuse collapses them); with every join broadcast and no SMJ the
    // corpus side provably never shuffles for a blocklist probe
    assert("Exchange hashpartitioning".r.findAllIn(p).size <=
      1 + graft.functions.UrlFilter.MaxSuffixJoins,
      "a non-dim hash exchange appeared:\n" + p.take(1500))
  }

  test("head-metadata, feed parsing, markdown, lang-attr stay one map-side pass each") {
    for (q <- Seq("q134_meta_tags", "q135_feed_parse", "q138_markdown",
        "q139_lang_attr", "q145_vector_sq8")) {
      val p = plan(q)
        .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
      assert(!p.contains("Exchange"),
        s"$q must be shuffle-free:\n" + p.take(1200))
      assert(!p.contains("Join"), s"$q must not join:\n" + p.take(1200))
    }
  }

  test("domain cap: one shuffle by host, per-host window, total on a broadcast") {
    for (q <- Seq("q136_domain_cap", "q143_domain_cap_quality")) {
      val p = plan(q)
      assert("Exchange hashpartitioning\\(host".r.findAllIn(p).nonEmpty,
        s"$q: the window must partition by host:\n" + p.take(1500))
      assert(!p.contains("Exchange rangepartitioning"),
        s"$q planned a GLOBAL sort — the window must stay per-host:\n" +
          p.take(1500))
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"$q: the one-row corpus total must ride a broadcast:\n" +
          p.take(1500))
      assert(!p.contains("SortMergeJoin"),
        s"$q: no join in this operator may shuffle:\n" + p.take(1500))
    }
  }

  test("feed→recrawl composition: url-keyed exchanges only, no global sort") {
    val p = plan("q144_feed_recrawl")
    assert("Exchange hashpartitioning\\(url_id".r.findAllIn(p).nonEmpty,
      "both aggs must key by url_id:\n" + p.take(1500))
    assert(!p.contains("Exchange rangepartitioning"),
      "the composition planned a global sort:\n" + p.take(1500))
    assert(!p.contains("CartesianProduct"),
      "the feed join must be an equi-join:\n" + p.take(1500))
  }

  test("Heaps audit: the term shuffle is the only wide exchange") {
    val p = plan("q140_heaps_audit")
    assert("Exchange hashpartitioning\\(term".r.findAllIn(p).size == 1,
      "first-occurrence-per-term must be exactly one term shuffle:\n" +
        p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "a bounded frame shuffle-joined:\n" + p.take(1500))
    assert(!p.contains("Exchange rangepartitioning"),
      "the audit planned a global sort on corpus rows:\n" + p.take(1500))
  }

  test("robots-meta directives stay one map-side pass") {
    val p = plan("q125_robots_meta")
      .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
    assert(!p.contains("Exchange"),
      "q125 must be shuffle-free:\n" + p.take(1200))
    assert(!p.contains("Join"), "q125 must not join:\n" + p.take(1200))
  }

  test("DSIR: bounded model broadcasts, corpus never shuffle-joins") {
    val p = plan("q126_dsir_select")
    // the ≤1024-row (bucket, w) model and the rank offsets must ride
    // broadcasts; the scored corpus's only wide shuffles are its own
    // groupBys — a SortMergeJoin would mean the corpus shuffled for a
    // bounded dim
    assert(p.contains("BroadcastHashJoin"),
      "model/offsets not broadcast:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "a bounded-dim join fell back to a shuffle join:\n" + p.take(1500))
    // the model join runs inside the rank build's input snapshot, so
    // assert its broadcast on the pre-rank scored frame (q126's inputs)
    import org.apache.spark.sql.functions.col
    val docs = Tables(spark, sf0001).documents
    val b = graft.etl.Sampling.bucket(col("doc_id"))
    val sp = graft.functions.Dsir.scored(
      docs.where(col("lang") === "en" && b < 5000), docs.where(b >= 5000),
      docs, "doc_id", "text", 1024).queryExecution.executedPlan.toString
    assert(sp.contains("BroadcastHashJoin"),
      "the bucket model is not broadcast:\n" + sp.take(1500))
    assert(!sp.contains("SortMergeJoin"),
      "the scored corpus shuffle-joined the model:\n" + sp.take(1500))
  }

  test("KMV sketch cuts via TakeOrdered, never a global sort exchange") {
    val p = plan("q127_kmv_overlap")
    assert(p.contains("TakeOrderedAndProject"),
      "k-min cut must be per-partition top-k:\n" + p.take(1500))
    assert(!p.contains("Exchange rangepartitioning"),
      "sketch cut planned a global sort:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "a bounded sketch frame shuffle-joined:\n" + p.take(1500))
  }

  test("fetch schedule: broadcast policy dim, bounded shuffles, one window sort") {
    val p = plan("q124_fetch_schedule")
    assert(p.contains("BroadcastHashJoin"),
      "policy dim not broadcast:\n" + p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "policy join fell back to a shuffle join")
    // keeper groupBy + the per-host window re-key — nothing else wide
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "q124 shuffles more than keeper-groupBy + window re-key:\n" +
        p.take(1500))
  }

  test("zero-fill outer join broadcasts the aggregated (buildable) side") {
    // A left-outer join can only build right; the broadcast hint must sit on
    // the aggregated side or Spark discards it and shuffle-joins (r2 verdict).
    val p = plan("q7_zero_fill")
    assert(p.contains("BroadcastHashJoin"), "aggregate side not broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"), "zero-fill fell back to a shuffle join")
  }

  test("point-in-time feature join is ONE user shuffle: all frames share a single window sort") {
    val p = plan("q87_pit_features")
      .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
    // one hash exchange for the user partitioning, no join anywhere
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "features did not share one shuffle:\n" + p.take(1500))
    assert(!p.contains("Join"), "labels x activity join sneaked in")
    // exactly one Sort feeds all four RANGE frames
    assert("\\bSort \\[".r.findAllIn(p).size == 1,
      "window frames did not stack on a single sort:\n" + p.take(1500))
  }

  test("q20/q84 sizing count never shuffles data (no round-robin exchange)") {
    // VERDICT r10: the entries sized planes/k by counting the spread()
    // frame — scan → full-data round-robin exchange → count, a 100 TB
    // shuffle at scale. The sizing count must read the raw parquet scan;
    // its only exchange is the one-row-per-partition partial-count merge.
    val p = registry.Shared.sizingCountFrame(spark, sf0001, "embeddings")
      .queryExecution.executedPlan.toString
    assert(!p.contains("RoundRobinPartitioning"),
      "sizing count shuffles the data before counting:\n" + p.take(1200))
    assert("Exchange".r.findAllIn(p).size <= 1,
      "sizing count plans more than the single-row merge exchange:\n" + p.take(1200))
  }

  test("BM25 index search prunes partitions and never rebuilds corpus stats") {
    val idx = java.nio.file.Files.createTempDirectory("planbm25").toString
    graft.functions.Bm25.buildIndex(
      Tables(spark, sf0001).documents, "doc_id", "text", idx, nBuckets = 16)
    val p = graft.functions.Bm25
      .searchIndex(spark, idx, Seq(0L -> Seq("spark", "window")), k = 5)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters"), "no partition pruning on the index scan")
    assert(!p.toLowerCase.contains("tokenslower") && !p.contains("explode"),
      "search path re-tokenized the corpus:\n" + p.take(1200))
  }

  test("WARC transcode decodes each body exactly once") {
    // the reason column derives from the materialized text; an inline
    // failReason would re-run the strict decode per record (r11 100×)
    val p = plan("q100_warc_transcode")
    assert("decodeKernel".r.findAllIn(p).size == 1,
      "q100 plans more than one strict decode per record:\n" + p.take(1200))
  }

  test("URL-canon dedup: both window functions share ONE shuffle") {
    // count + is-keeper min partition on the same canonical key; a
    // second exchange would mean the window specs diverged
    val p = plan("q104_url_canon")
      .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      "canonical dedup should be exactly one key shuffle:\n" + p.take(1200))
    assert("Window".r.findAllIn(p).size <= 2, p.take(1200))
  }

  test("robots gate broadcasts the per-host policy dim") {
    val p = plan("q105_robots_gate")
    assert(p.contains("BroadcastHashJoin"), "robots dim not broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("PageRank dangling redistribution builds its node index without a single-partition window") {
    // VERDICT r11: the old index was row_number().over(Window.orderBy(node))
    // over the ENTIRE node set — every node id through ONE task on a
    // 10⁹-node graph. The distributed build (range-partition → per-pid
    // window + broadcast offsets) must plan NO SinglePartition exchange
    // and its window must carry a partition spec.
    import org.apache.spark.sql.functions._
    val nodes = Tables(spark, sf0001).events
      .select(col("user_id").cast("long").as("node")).distinct()
    val p = graft.graph.PageRank.nodeIndexFrame(nodes)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      "node index funnels through one partition:\n" + p.take(1500))
    assert(p.contains("windowspecdefinition(pid"),
      "index window lost its pid partition spec:\n" + p.take(1500))
  }

  test("host report: distinct pages via two-stage rollup, never EXPAND") {
    // count(distinct page) as a grouped re-aggregate keeps rows narrow;
    // an Expand node would mean the plan multiplied the input instead
    val p = plan("q107_host_report")
      .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
    assert(!p.contains("Expand"), "host report plans an EXPAND:\n" + p.take(1200))
    // two hash exchanges (page partial, host rollup); the broadcast
    // exchange for the robots dim is not a shuffle of the fact side
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      "host report plans more than its two rollup shuffles:\n" + p.take(1200))
  }

  test("HLL sketch: register max is a two-stage aggregate (map-side combine)") {
    val p = plan("q159_hll_distinct")
    assert(p.contains("partial_max"),
      "no partial register max — every token row would cross the wire:\n" +
        p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("code filter battery plans ZERO exchanges (pure map-side op)") {
    val p = plan("q161_code_filters")
      .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
    assert(!p.contains("Exchange"),
      "code filters introduced a shuffle:\n" + p.take(1200))
  }

  test("JL ANN: queries broadcast against the projected corpus scan") {
    val p = plan("q162_ann_jl")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the query side must ride a broadcast:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("rocAudit prefix sums plan NO single-partition exchange (distributed rank build)") {
    // VERDICT r16 task 3: the r16 Eval ran Window.orderBy(s) twice —
    // one task for the whole distinct-score frame. The distributed
    // build (range-partition → per-pid window + broadcast offsets)
    // must plan no SinglePartition exchange and keep a partitioned
    // window spec (the PageRank nodeIndex gate, applied to Eval).
    import org.apache.spark.sql.functions._
    val bys = Tables(spark, sf0001).documents
      .select((col("doc_id") % 97).as("s"),
        (col("doc_id") % 2).as("np"), lit(1L).as("nn"))
      .groupBy("s").agg(sum("np").as("np"), sum("nn").as("nn"))
    val p = graft.functions.Eval.cumBelowFrame(bys)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      "rocAudit cumulative counts funnel through one partition:\n" +
        p.take(1500))
    assert(p.contains("windowspecdefinition(pid"),
      "the prefix-sum window lost its pid partition spec:\n" + p.take(1500))
  }

  test("global-rank queries plan no single-partition exchange") {
    // every global rank goes through etl.Prefix (range partitions +
    // broadcast offsets); a Window.orderBy over rows would plan an
    // Exchange SinglePartition over the rows here. An exchange over a
    // keyless partial aggregate (a global agg's merge, e.g. UniMax's
    // capped boundary) moves one row per partition and is not a funnel.
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def funnels(p: SparkPlan): Seq[SparkPlan] = {
      val here = p match {
        case e: ShuffleExchangeExec
            if e.outputPartitioning == SinglePartition =>
          e.child match {
            case a: BaseAggregateExec if a.groupingExpressions.isEmpty => Nil
            case _ => Seq(e)
          }
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children ++ p.subqueries
      }
      here ++ kids.flatMap(funnels)
    }
    for (q <- Seq("q64_length_trim", "q121_unimax", "q126_dsir_select",
        "q170_lorenz_sources", "q171_token_quantiles")) {
      val ep = SparkEntry.queries(q)(spark, sf0001).queryExecution.executedPlan
      assert(funnels(ep).isEmpty,
        s"$q funnels rows through one partition:\n" + ep.toString.take(1500))
    }
  }

  test("PCA: the Gram aggregate combines map-side and nothing goes cartesian") {
    val p = plan("q164_pca_power")
    assert(p.contains("partial_sum"),
      "Gram aggregation lost its map-side combine:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"))
  }

  test("scene cuts: the lag window and aggregates share the doc_id exchanges") {
    val p = plan("q158_scene_cuts")
      .replaceAll("Exchange RoundRobinPartitioning[^\\n]*", "<loader>")
    assert(!p.contains("CartesianProduct"))
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 4,
      "scene cuts plans more doc_id shuffles than its window+agg shape:\n" +
        p.take(1500))
  }
}
