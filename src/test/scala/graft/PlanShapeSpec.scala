package graft

/** CI-enforced plan-shape audit: the scale properties the engine
  * promises (pushdown, broadcast dims, no cartesian products, no
  * single-partition funnels, no UDFs in plans) asserted as tests, so a
  * future change that silently regresses a plan fails here — not in a
  * 100 TB deployment.
  *
  * Note: the near-dup operators (q21/q22/q42…) materialize eagerly and
  * return a localCheckpoint scan, so their interesting plan shape is
  * asserted in their own specs (DedupSpec flood/cache tests); here they
  * still participate in the "no cartesian / no UDF" sweeps via the
  * plans built BEFORE checkpointing is reached.
  */
class PlanShapeSpec extends SparkSpec {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  /** Every node of an executed plan, through AQE and its query stages. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  /** The nodes fused into a whole-stage-codegen stage, among `nodes`. */
  private def fused(nodes: Seq[SparkPlan]): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
    def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case _: InputAdapter => Nil
      case other => other.children.flatMap(stage)
    })
    nodes.collect { case w: WholeStageCodegenExec => stage(w.child) }.flatten
  }

  /** Physical-plan string per query, built once. Building a plan is
    * cheap; the handful of eager (checkpointing) operators execute at
    * sf0.001, which keeps this suite fast.
    */
  lazy val plans: Map[String, String] =
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      name -> SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
    }.toMap

  test("no query plans a cartesian product") {
    // the exact-ANN baseline is intentionally a broadcast-nested-loop
    // (documented); CartesianProduct — both sides materialized per
    // partition pair — must never appear
    val bad = plans.collect { case (n, p) if p.contains("CartesianProduct") => n }
    assert(bad.isEmpty, s"cartesian products in: ${bad.mkString(", ")}")
  }

  test("no query funnels rows through a single-partition exchange") {
    // Exchange SinglePartition = the whole dataset through one task —
    // the classic global-window/global-sort scale killer. Final
    // presentation orderBy plans as rangepartitioning, never this.
    //
    // Whitelisted: scalar global aggregates, where the ONLY rows
    // crossing the single-partition exchange are per-task partial
    // aggregation buffers (#partitions rows, not data) — the correct
    // plan for a one-row answer at any scale.
    val scalarAggregates = Set(
      "q06_revenue_filter",   // one global sum row
      "q11_set_ops",          // counts of set-op branches
      "q30_small_quantity",   // TPC-H Q17 scalar: one avg row
      "q88_profile_table",    // ANALYZE: one wide profile row (per-task
                              // partial agg buffers cross, then stack)
      "q106_category_drift",  // snapshot totals: a scalar agg whose
                              // INPUT is already category-sized (the
                              // per-category count frame), partial
                              // buffers cross, broadcast back
      "q141_sales_opportunity", // scalar positive-balance average (the
                              // q06/q30 shape): partial avg buffers
                              // cross, broadcast back to the filter
      "q147_user_growth",     // cumulative window over the DAILY frame
                              // (|days| rows by construction — both
                              // corpus aggregates below it are
                              // ordinary parallel partial aggs)
      "q126_dq_audit",        // predicate-rule block: ONE scalar agg
                              // with 2 conditional buffers per rule
                              // (the q88 shape), stacked to k rows;
                              // the unique/FK legs are ordinary keyed
                              // aggregates
      "q160_ab_experiment",   // the experiment-totals scalar: ONE
                              // global sum over the 2-row per-arm
                              // frame (partial sum buffers cross),
                              // broadcast back into the chi-squared
                              // expectation
      "q152_basket_lift",     // the basket-total scalar: ONE global
                              // count(distinct basket) row (partial
                              // distinct-count buffers cross), joined
                              // back into the lift division
      "q149_skyline",         // the grid-width scalar: ONE global
                              // max(_x) row (the q06 shape — partial
                              // max buffers cross, broadcast back as
                              // the bucket width); the suffix-max
                              // threshold step is a B×B broadcast
                              // self-join, not a global window
      "q169_temperature_mix", // the Σ√n weight scalar: ONE global
                              // decimal sum whose INPUT is the
                              // source-count frame (|sources| rows by
                              // construction — the corpus aggregate
                              // below it is an ordinary keyed count);
                              // partial sum buffers cross, broadcast
                              // back as the rate denominator
      "q178_salt_plan",       // the (total, nkeys) scalar: ONE global
                              // agg whose INPUT is the per-key count
                              // frame (keys rows by construction — the
                              // corpus count below it is an ordinary
                              // keyed aggregate); partial buffers
                              // cross, broadcast back as the skew
                              // threshold
      "q186_t_closeness",     // the global-N scalar: ONE sum over the
                              // |domain|-sized value-count frame
                              // (partial buffers cross), broadcast
                              // back as the TVD denominator; the cell
                              // and group aggregates are ordinary
                              // keyed aggregates
      "q187_gini_profile",    // per-column impurity summary: ONE
                              // scalar agg per column whose INPUT is
                              // the keyed value-count frame (partial
                              // buffers cross, one row out), stacked
                              // by union — the q88/q183 shape
      "q191_join_cardinality", // two scalar legs by construction: the
                              // est min over the 4-row inner-product
                              // frame and the exact-size sum over the
                              // keyed count-join frame — partial
                              // buffers cross in both, one row out
      "q211_unigram_tokenize", // the vocabulary-total scalar: ONE sum
                              // over the final VOCAB frame (≤ chars +
                              // keepMulti rows by construction — the
                              // corpus word count below it is an
                              // ordinary keyed aggregate); partial
                              // buffers cross, one row broadcasts
                              // back as the micro-log2 denominator
      "q206_benford_audit",   // the total-N scalar: ONE sum over the
                              // ≤9-row digit-count frame (partial
                              // buffers cross), broadcast back as the
                              // ppm denominator; the digit count
                              // itself is an ordinary keyed aggregate
      "q183_fd_discovery",    // per-candidate-pair FD summary: ONE
                              // scalar agg per pair whose INPUT is the
                              // keyed count-distinct frame (partial
                              // buffers cross, one summary row out),
                              // stacked by union — the q88 shape per
                              // candidate
      "q164_hybrid_rrf",      // RRF fuse: the global rank window runs
                              // over the JOINED TOP-K ARMS (≤ arms·k
                              // = 100 rows by construction — each arm
                              // bounded itself with its own top-k
                              // before the fuse); the BM25/dot arms
                              // below are ordinary parallel plans
      "q213_target_encoding", // the m·prior scalar: ONE sum over the
                              // |categories|-sized stats frame (partial
                              // buffers cross, one row out), broadcast
                              // back into the encode projection; the
                              // category stats themselves are an
                              // ordinary keyed aggregate
      "q231_leakage_safe_split", // the leaked_pairs audit scalar: ONE
                              // global count over the (bounded)
                              // near-dup pair frame (partial count
                              // buffers cross), broadcast back onto
                              // the 3-row split summary; components
                              // and the split assignment below are
                              // ordinary id-keyed plans
      "q234_dsir_select",     // the (R, T) totals scalar: ONE sum per
                              // model over the ≤nBuckets-row bucket
                              // frame (partial buffers cross, one row
                              // broadcasts back into the bucket
                              // weights); the corpus token count is an
                              // ordinary keyed aggregate and the top-k
                              // is a TakeOrdered, not a global sort
      "q253_ccnet_buckets",   // the q211 shape plus the q109 bucketer:
                              // the vocabulary-total scalar is ONE sum
                              // over the ≤ chars+keepMulti vocab frame
                              // (partial buffers cross, one row
                              // broadcasts back as the micro-log2
                              // denominator), and the histogram
                              // quantile walk runs over the ≤256-row
                              // merged sketch; the corpus scans below
                              // both are ordinary keyed aggregates
      "q256_bleu_score",      // the q243 chain plus ONE more scalar
                              // reduction: the score assembles from
                              // the maxN-row counts frame (partial
                              // buffers cross, one row out) — every
                              // corpus-sized aggregate below it is the
                              // q243 keyed shape
      "q243_bleu_counts",     // two scalar legs by construction: the
                              // per-order matched/total sums over the
                              // already-(id, n, hash)-keyed gram-count
                              // join (partial buffers cross, maxN rows
                              // out), and the corpus length totals —
                              // ONE sum pair over the pair table
                              // (partial buffers cross, one row
                              // broadcasts back onto the 4-row output)
      "q219_apportion_select", // Hamilton seats: the leftover-seat rank
                              // window and the N / leftover scalars run
                              // over the COUNT frame (one row per
                              // source by construction — the corpus
                              // count below is an ordinary keyed
                              // aggregate with partial buffers); the
                              // selection rank itself is keyed
                              // (source, bucket) windows
      "q248_domain_budget",   // the q219 shape over registrable
                              // domains: seat window + two scalars on
                              // the per-domain count frame; selection
                              // windows keyed (domain, bucket)
      "q76_kmeans_counts",    // the k-means centroid row: ONE
                              // collect_list over the ≤nlist-row
                              // checkpointed centroid frame per
                              // assignment (partial buffers cross,
                              // one row broadcasts back onto the
                              // corpus); the per-dimension means are
                              // ordinary keyed aggregates
      "q232_prototype_prune", // the q76 centroid row (k-means fit and
                              // final assignment); the per-cluster
                              // ranks are centroid-keyed windows
      "q158_pq_topk",         // the q76 centroid row once per PQ
                              // codebook (≤nlist rows each), for the
                              // encode and for the ADC query tables
      "q128_winsorize",       // the (low, high) threshold row: ONE max
                              // pair over the 2-row quantile frame
                              // (partial buffers cross), broadcast
                              // back onto the clamp projection
      "q108_histogram_quantiles") // the rank-walk window runs over the
                              // MERGED HISTOGRAM (≤ bins = 256 rows by
                              // construction) — the corpus scan behind
                              // it is an ordinary parallel aggregate.
                              // (q109 needs no entry: its rank walk
                              // runs eagerly at plan-build time, so
                              // the gate-visible plan is scan →
                              // comparison chain → presentation sort)
    val bad = plans.collect {
      case (n, p) if p.contains("SinglePartition") && !scalarAggregates(n) => n
    }
    assert(bad.isEmpty, s"single-partition exchanges in: ${bad.mkString(", ")}")
    // the whitelist itself must hold: partial aggregation below the
    // exchange (only agg buffers cross), never a raw-data exchange
    scalarAggregates.foreach { n =>
      assert(plans(n).contains("partial"),
        s"$n exchanges to one partition without partial aggregation")
    }
  }

  test("no query plan contains a UDF") {
    val bad = plans.collect {
      case (n, p) if p.contains("ScalaUDF") || p.contains("BatchEval") => n
    }
    assert(bad.isEmpty, s"UDFs in plans of: ${bad.mkString(", ")}")
  }

  test("LATERAL top-k decorrelates to a keyed rank window") {
    // the declarative correlated form must reach the scalable plan —
    // a per-customer re-execution (or worse, a cartesian) would be a
    // decorrelation regression
    val p = plans("q203_lateral_topk")
    assert(p.contains("Window"), s"no window in q203 plan:\n$p")
  }

  test("partition-keyed dim join injects dynamic partition pruning") {
    // the date-partitioned fact scan must carry the runtime
    // dynamicpruning subquery — without it the join reads all ~30
    // partitions for a 5-day dim at every scale
    val p = plans("q204_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in q204 plan:\n$p")
  }

  test("selective scans push their filters into the parquet reader") {
    // regressing one of these to a post-scan filter re-reads full
    // row-groups at 100 TB
    val expectPushdown = Seq(
      "q02_filter_project", "q03_shipping_priority", "q06_revenue_filter",
      "q17_read_path")
    val re = "PushedFilters: \\[[^\\]]".r
    val bad = expectPushdown.filterNot(n => re.findFirstIn(plans(n)).nonEmpty)
    assert(bad.isEmpty, s"no parquet pushdown in: ${bad.mkString(", ")}")
  }

  test("dimension-sided joins broadcast the dimension") {
    val expectBroadcast = Seq(
      "q03_shipping_priority", "q05_local_supplier", "q07_top_customers",
      "q37_volume_shipping", "q43_decontaminate", "q45_min_cost_supplier")
    val bad = expectBroadcast.filterNot { n =>
      val p = plans(n)
      p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange") ||
        p.contains("BroadcastNestedLoopJoin")
    }
    assert(bad.isEmpty, s"dim side not broadcast in: ${bad.mkString(", ")}")
  }

  test("q71's final plan still broadcasts the geocode dimension") {
    // the enrichment join carries no hint: the planner alone must keep
    // the small dimension on the broadcast side of the left join
    val df = SparkEntry.queries("q71_geocode_enrich")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter, BuildRight"),
      s"geocode dimension not broadcast:\n$p")
  }

  test("bucketed join: sort-merge with no exchange keyed on the join key") {
    // the whole point of the bucketed layout: the join consumes bucket
    // files directly — a shuffle on the join key means the layout was
    // ignored (mismatched bucket counts, disabled bucketing, a lost
    // output partitioning). The aggregate AFTER the join still
    // exchanges on c_mktsegment; only a c_custkey exchange is a bug.
    val p = plans("q57_bucketed_join")
    assert(p.contains("SortMergeJoin"), s"bucketed join not sort-merge:\n$p")
    assert(!p.contains("hashpartitioning(c_custkey"),
      s"bucketed join re-shuffles on the bucket key:\n$p")
    assert(p.contains("SelectedBucketsCount"),
      s"join sides are not bucketed scans:\n$p")
  }

  test("exact dedup never ships document content through an exchange") {
    // the r5 scale nit: the old window-by-fingerprint formulation sent
    // every text payload through its shuffle. The id-join formulation
    // exchanges (hash, id) pairs only — asserted on the FINAL adaptive
    // plan's shuffle outputs, not the plan string.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q18_exact_dedup")(spark, sfDir)
    df.collect() // finalize the AQE plan
    val bad = flatten(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeLike if e.output.exists(_.name == "text") => e
    }
    assert(bad.isEmpty,
      s"content column crosses an exchange in q18:\n${bad.mkString("\n")}")
  }

  test("snapshot diff ships only keys and fingerprints through exchanges") {
    // Diff.snapshotDiff's contract: value columns reduce to a 16-byte
    // md5 map-side; every shuffle carries (key, hash, count) triples
    // only. Asserted on the FINAL adaptive plan of q100 — a
    // formulation change that let o_custkey/o_orderstatus cross an
    // exchange would ship the table's full width at 100 TB.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q100_snapshot_diff")(spark, sfDir)
    df.collect() // finalize the AQE plan
    val valueCols = Set("o_custkey", "o_orderstatus")
    val bad = flatten(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeLike if e.output.exists(a => valueCols(a.name)) => e
    }
    assert(bad.isEmpty,
      s"value column crosses an exchange in q100:\n${bad.mkString("\n")}")
  }

  test("IVF index build: no shuffle above the corpus scan, centroids broadcast") {
    // the r5 scale nit: the old broadcast-expand + window formulation
    // sent every corpus vector through an exchange nlist times during
    // index build. The assignment must be scan → broadcast-nested-loop
    // join with the one-row centroid frame → projection → explode — a
    // 10⁹-vector build is then embarrassingly parallel. Shuffles may
    // only feed the centroid row's own (broadcast) side.
    import org.apache.spark.sql.functions.col
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val centroids = emb
      .select(col("vec_id").as("centroid_id"), col("embedding").as("_centroid"))
      .orderBy(col("centroid_id")).limit(8)
    val assigned = graft.operators.Similarity
      .assignToCentroid(emb, centroids, "vec_id", "embedding", "neighbor_id")
    assigned.collect() // finalize the AQE plan
    val shuffles = StreamedShuffles(assigned)
    assert(shuffles.isEmpty,
      s"IVF build assignment shuffles the corpus:\n${shuffles.mkString("\n")}")
    assert(assigned.queryExecution.executedPlan.toString.contains("BroadcastNestedLoopJoin"),
      s"centroids not broadcast:\n${assigned.queryExecution.executedPlan}")
  }

  test("passage scrub: shingle strings never cross an exchange; content crosses once") {
    // q82's scale contract: the common-shingle detection and the
    // occurrence match-back shuffle ONLY (md5, id, position) — the
    // n-gram strings die before the exchange — and the document tokens
    // cross exactly one id-keyed exchange (window + reassembly reuse
    // the same partitioning).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val df = SparkEntry.queries("q82_passage_scrub")(spark, sfDir)
    df.collect() // finalize the AQE plan
    val shuffles = flatten(df.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e }
    val shingleBearing = shuffles.filter(_.output.exists(_.name == "_sh"))
    assert(shingleBearing.isEmpty,
      s"shingle strings cross an exchange in q82:\n${shingleBearing.mkString("\n")}")
    // `Tables.widen`'s round-robin fixture-spreading repartition fires
    // at sf0.001 (stats-driven; a production-sized input skips it) —
    // the scale claim is about KEYED exchanges, where content bytes
    // pay shuffle-hash + sort cost: exactly one, the union→window one.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val tokenBearing = shuffles.filter(e =>
      e.outputPartitioning.isInstanceOf[HashPartitioning] &&
        e.output.exists(a => a.name == "_tok" || a.name == "text"))
    assert(tokenBearing.size == 1,
      s"document content crosses ${tokenBearing.size} keyed exchanges in q82 (expected exactly 1)")

    // q84's twin contract: per-row pairwise products partially
    // aggregate map-side; no exchange ever carries the embedding
    // column — only (i, j, count, sum) cell buffers.
    val cov = SparkEntry.queries("q84_embedding_covariance")(spark, sfDir)
    cov.collect()
    val covShuffles = flatten(cov.queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeLike => e }
    val embBearing = covShuffles.filter(e =>
      e.outputPartitioning.isInstanceOf[HashPartitioning] &&
        e.output.exists(_.name == "embedding"))
    assert(embBearing.isEmpty,
      s"embedding column crosses a keyed exchange in q84:\n${embBearing.mkString("\n")}")
    assert(plans("q84_embedding_covariance").contains("partial"),
      s"no map-side partial aggregation in q84")
  }

  test("zone-map scan: the zone predicate reaches PartitionFilters and prunes files") {
    // q175's scale contract: filtering on the zone partition column
    // must prune at planning time — a post-scan filter would read
    // every zone's files at 100 TB
    import org.apache.spark.sql.functions._
    val path = graft.queries.Det.scratchPath("zonespec", sfDir) + "/t"
    graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("l_shipdate"))
      .withColumn("zone", expr(
        "CAST(datediff(to_date(l_shipdate), DATE '1995-01-01') div 90 AS INT)"))
      .write.partitionBy("zone").mode("overwrite").parquet(path)
    val pruned = spark.read.parquet(path).filter(col("zone").isin(8, 9))
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && !p.contains("PartitionFilters: []"),
      s"zone predicate not in PartitionFilters:\n$p")
    val allZones = spark.read.parquet(path).select("zone").distinct().count()
    assert(allZones > 2, "fixture should span more than two zones")
    // the pruned read touches only the two zones' rows
    val full = spark.read.parquet(path)
      .filter(col("zone").isin(8, 9)).count()
    assert(pruned.count() == full)
  }

  test("unified pruning API: both predicate shapes reach PartitionFilters") {
    // q212's scale contract: pruneFiles consults zone maps + Bloom
    // manifests and prunedRead must plan the survivors as PARTITION
    // filters — for an equality AND a range predicate through the
    // same API (a post-scan filter would open every file at 100 TB)
    import org.apache.spark.sql.functions._
    import graft.sinks.Pruning
    val path = graft.queries.Det.scratchPath("prunespec", sfDir) + "/t"
    graft.sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"),
        expr("CAST(datediff(to_date(l_shipdate), DATE '1995-01-01') AS INT)")
          .as("ship_day"))
      .withColumn("zone", expr("CAST(ship_day div 90 AS INT)"))
      .write.partitionBy("zone").mode("overwrite").parquet(path)
    Pruning.writeManifest(spark, path, "zone",
      zoneCols = Seq("ship_day", "l_orderkey"),
      bloomCols = Seq("l_orderkey"), numBits = 8192, numHashes = 4)
    val nZones = spark.read.parquet(path).select("zone").distinct().count()
    for ((tag, preds) <- Seq(
        "range" -> Seq(Pruning.Pred.range("ship_day", 731L, 911L)),
        "equality" -> Seq(Pruning.Pred.eq("l_orderkey", 42L)))) {
      val keep = Pruning.pruneFiles(spark, path, preds)
      assert(keep.size < nZones,
        s"$tag predicate pruned nothing (${keep.size} of $nZones zones)")
      val pruned = Pruning.prunedRead(spark, path, "zone", preds)
      val p = pruned.queryExecution.executedPlan.toString
      assert(p.contains("PartitionFilters: [") &&
        !p.contains("PartitionFilters: []"),
        s"$tag predicate not in PartitionFilters:\n$p")
      // soundness: the restricted scan finds exactly the full-scan rows
      val full = spark.read.parquet(path).filter(preds.map(pr =>
        Seq(pr.lo.map(col(pr.column) >= _), pr.hi.map(col(pr.column) <= _))
          .flatten.reduce(_ && _)).reduce(_ && _)).count()
      assert(pruned.count() == full, s"$tag pruned scan lost rows")
    }
  }

  test("a frontier probe adds no round-robin exchange to the batch") {
    // probeFrontier runs once per crawl micro-batch: a widen before its
    // canonicalize battery would be one more shuffle on every batch
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-fprobe").toString
    def urls(ids: Range) =
      ids.map(i => (i.toLong, s"https://h${i % 5}.example.com/p/$i")).toDF("id", "url")
    graft.operators.Urls.writeFrontierIndex(urls(0 until 20), "url", tmp)
    val probe = graft.operators.Urls.probeFrontier(spark, tmp, urls(10 until 30), "id", "url")
    probe.collect() // finalize THIS df's AQE plan
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange") && !plan.contains("RoundRobinPartitioning"), plan)
  }

  test("a keyed corpus-ingest batch plans no round-robin exchange") {
    // CorpusIngest runs once per micro-batch: a widen in its signature
    // pass would be one more shuffle on every batch
    import spark.implicits._
    import graft.streaming.CorpusIngest
    val tmp = java.nio.file.Files.createTempDirectory("graft-cplan").toString
    // doc i's text is a function of i % 100: doc 110 repeats doc 10
    def ingest(ids: Range, id: Long): Long = CorpusIngest.ingestBatch(
      ids.map(i => (i.toLong, (0 until 12).map(k => java.lang.Long.toHexString(
        ((i % 100) * 7919L + k) * 2654435761L & 0xffffffffffL)).mkString(" ")))
        .toDF("doc_id", "text"),
      s"$tmp/idx", s"$tmp/out", "doc_id", "text", batchId = Some(id))
    ingest(0 until 20, 0L): Unit
    var kept = 0L
    val plans = SparkEvents.capture(spark) { kept = ingest(110 until 140, 1L) }.plans
    assert(kept == 20L, "the 10 repeated docs must drop")
    assert(plans.exists(_.contains("Exchange")), plans.mkString("\n"))
    val bad = plans.filter(_.contains("RoundRobinPartitioning"))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("hot aggregation queries stay inside whole-stage codegen") {
    // "*(n)" marks operators fused into a generated stage; a plan with
    // none at all has fallen out of codegen entirely. Codegen insertion
    // happens at execution under AQE, so these run first.
    val hot = Seq("q01_pricing_summary", "q02_filter_project",
      "q06_revenue_filter", "q08_window_rank", "q19_text_stats")
    val bad = hot.filterNot { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.collect() // finalize THIS df's AQE plan (count() spawns its own)
      df.queryExecution.executedPlan.toString.contains("*(")
    }
    assert(bad.isEmpty, s"no whole-stage codegen span in: ${bad.mkString(", ")}")
  }

  test("canonicalize resolves to one expression node over its input") {
    // the Column composition it replaced resolved to 2,221 nodes for
    // canonical_url alone, and every Dataset step re-analyzed them
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val analyzed = Seq("https://e.com/").toDF("u")
      .select(graft.operators.Urls.canonicalize(col("u")).as("c"))
      .queryExecution.analyzed
    val nodes = analyzed.expressions.map(_.collect { case e => e }.size).sum
    assert(nodes <= 3, s"$nodes expression nodes:\n${analyzed.expressions.mkString("\n")}")
  }

  test("the frontier fetch set canonicalizes inside whole-stage codegen, no HOF") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, GetStructField, HigherOrderFunction}
    import org.apache.spark.sql.execution.ProjectExec
    val tmp = java.nio.file.Files.createTempDirectory("graft-fetchset").toString
    // a range, not a local Seq: a LocalRelation would fold the projection
    def urls(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      concat(lit("HTTPS://H"), (col("id") % 5).cast("string"), lit(".example.com/p/"),
        col("id").cast("string"), lit("?utm_source=x")).as("url"))
    graft.operators.Urls.writeFrontierIndex(urls(0, 20), "url", tmp)
    val fetch = graft.operators.Urls.frontierFetchSet(spark, tmp, urls(10, 30), "id", "url")
    assert(fetch.collect().length == 10) // finalize THIS df's AQE plan
    val nodes = flatten(fetch.queryExecution.executedPlan)
    val inCodegen = fused(nodes)
    val canon = nodes.collect {
      case p: ProjectExec if p.projectList.exists {
        // computed here, not read back out of the aggregate's struct
        case a: Alias => a.name == "canonical_url" && !(a.child match {
          case _: Attribute | GetStructField(_: Attribute, _, _) => true
          case _ => false
        })
        case _ => false
      } => p
    }
    assert(canon.nonEmpty, fetch.queryExecution.executedPlan.toString)
    for (p <- canon) {
      assert(inCodegen.exists(_ eq p), s"canonicalizing Project outside whole-stage codegen:\n$p")
      assert(!p.projectList.exists(_.exists(_.isInstanceOf[HigherOrderFunction])),
        s"higher-order function in the canonicalizing Project:\n$p")
    }
  }

  test("the frontier fetch set canonicalizes each row once") {
    // a filter on canonical_url would be pushed below the projection
    // with the alias substituted: a second canonicalize per row
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.expressions.CanonicalizeUrlExpression
    val tmp = java.nio.file.Files.createTempDirectory("graft-fetchonce").toString
    def urls(lo: Long, hi: Long) = spark.range(lo, hi).select(col("id"),
      concat(lit("https://h"), (col("id") % 5).cast("string"), lit(".example.com/p/"),
        col("id").cast("string")).as("url"))
    graft.operators.Urls.writeFrontierIndex(urls(0, 20), "url", tmp)
    val fetch = graft.operators.Urls.frontierFetchSet(spark, tmp, urls(10, 30), "id", "url")
    val plan = fetch.queryExecution.optimizedPlan
    val n = plan.collect { case p => p.expressions }.flatten
      .map(_.collect { case e: CanonicalizeUrlExpression => e }.size).sum
    assert(n == 1, s"$n canonicalize_url expressions:\n$plan")
  }

  test("sign shingles each row once, natively, inside whole-stage codegen") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.ProjectExec
    import graft.expressions.ShingleSetExpression
    // a range, not a local Seq: a LocalRelation would fold the projection
    val docs = spark.range(0, 40).select(col("id").as("doc_id"),
      concat(lit("a document of some length, number "), col("id").cast("string")).as("text"))
    val sigs = graft.operators.Dedup.sign(docs, "doc_id", "text", 7, 96, 24)
    val opt = sigs.queryExecution.optimizedPlan
    val exprs = opt.collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    assert(exprs.count(_.isInstanceOf[ShingleSetExpression]) == 1, opt)
    assert(!exprs.exists(_.isInstanceOf[HigherOrderFunction]), opt)
    assert(!exprs.exists(_.isInstanceOf[CodegenFallback]), opt)
    assert(sigs.collect().length == 40) // finalize THIS df's AQE plan
    val nodes = flatten(sigs.queryExecution.executedPlan)
    val inCodegen = fused(nodes)
    val shingling = nodes.collect {
      case p: ProjectExec if p.projectList.exists(_.exists(_.isInstanceOf[ShingleSetExpression])) => p
    }
    assert(shingling.size == 1, sigs.queryExecution.executedPlan)
    assert(inCodegen.exists(_ eq shingling.head),
      s"shingling Project outside whole-stage codegen:\n${sigs.queryExecution.executedPlan}")
  }

  test("no Filter of a keyed corpus-ingest batch shingles, signs or canonicalizes") {
    // each of these in a Filter means the expression runs twice per
    // row: once to filter, once in the projection above it
    import org.apache.spark.sql.functions.{col, concat, lit}
    import graft.streaming.CorpusIngest
    val tmp = java.nio.file.Files.createTempDirectory("graft-cfilter").toString
    // a parquet batch, as a stream's micro-batch file is read (a local
    // Seq would fold the plan into a LocalRelation). Doc i's text is a
    // function of i % 100: doc 110 repeats doc 10
    def ingest(lo: Long, hi: Long, id: Long): Long = {
      spark.range(lo, hi).select(col("id").as("doc_id"),
        concat(lit("corpus text of one document, variant "),
          (col("id") % 100 * 7919).cast("string"), lit(" and its tail")).as("text"))
        .write.parquet(s"$tmp/in$id")
      CorpusIngest.ingestBatch(spark.read.parquet(s"$tmp/in$id"),
        s"$tmp/idx", s"$tmp/out", "doc_id", "text", batchId = Some(id))
    }
    ingest(0, 20, 0L): Unit
    val plans = SparkEvents.capture(spark) { ingest(110, 140, 1L): Unit }.plans
    // the formatted plan: one block per node, headed "(n) Name"
    val filters = plans.flatMap(_.split("\n(?=\\(\\d+\\) )"))
      .filter(_.matches("(?s)\\(\\d+\\) Filter.*"))
    assert(filters.exists(_.contains("length(text")), plans.mkString("\n"))
    val costly = Seq("shingle_set", "minhashsignature", "bandkeys", "canonicalize_url",
      "lambdafunction")
    val bad = filters.filter(f => costly.exists(f.toLowerCase.contains))
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
