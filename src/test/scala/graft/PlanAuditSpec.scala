package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** The catalog's scale posture is a set of PHYSICAL-PLAN properties
  * (filters reach the scan, small dims broadcast, no accidental Expand,
  * exchange counts) — PLANS.md documents them; this spec PINS them, so a
  * refactor that silently regresses a plan fails the suite, not just the
  * next bench read. All checks run against the pre-execution plan at
  * sf0.001 (the properties asserted are static — none depend on AQE
  * runtime re-planning). */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame =
    SparkEntry.catalog.find(_.name == name).get.run(spark, sf)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p.children ++ (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan) // materialized stages hold their subtree here
      case i: InMemoryTableScanExec =>
        Seq(i.relation.cachedPlan) // a cached subtree is still planned work
      case _ => Nil
    })
    p +: kids.flatMap(nodes)
  }

  private def planOf(name: String): (Seq[SparkPlan], String) = {
    val p = run(name).queryExecution.executedPlan
    (nodes(p), p.toString)
  }

  private def shuffles(ns: Seq[SparkPlan]): Seq[SparkPlan] =
    ns.filter(_.isInstanceOf[ShuffleExchangeLike])

  test("q01: the shipdate filter is pushed down to the parquet scan") {
    val (_, s) = planOf("q01_pricing_summary")
    assert("PushedFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(s).isDefined,
      s"no pushed l_shipdate filter in:\n$s")
  }

  test("q04: the orderdate range filter is pushed down to the scan") {
    val (_, s) = planOf("q04_join_agg")
    assert(
      "PushedFilters: \\[[^\\]]*o_orderdate".r.findFirstIn(s).isDefined,
      s"no pushed o_orderdate filter in:\n$s")
  }

  test("q02: the lineitem scan is column-pruned (no full-width read)") {
    val (ns, _) = planOf("q02_projection_case")
    val scans = ns.filter(_.nodeName.contains("Scan"))
    assert(scans.nonEmpty)
    // lineitem is 11 columns wide; the projection needs 5
    assert(scans.forall(_.output.size <= 6),
      s"scan reads too many columns: ${scans.map(_.output.map(_.name))}")
  }

  test("q03: snowflake dims broadcast (no sort-merge join anywhere)") {
    val (ns, _) = planOf("q03_dim_join")
    assert(ns.exists(_.nodeName.contains("BroadcastHashJoin")))
    assert(!ns.exists(_.nodeName.contains("SortMergeJoin")))
  }

  test("q17: the dual-distinct aggregate plans WITHOUT Expand" +
      " (pre-aggregated branches, the round-2 fix)") {
    val (ns, _) = planOf("q17_product_perf")
    assert(!ns.exists(_.nodeName.contains("Expand")),
      "q17 regressed to the Expand-x3 dual-countDistinct plan")
  }

  test("q15: the daily-KPI dual-distinct plans WITHOUT Expand" +
      " (pre-aggregated branches, the round-3 fix)") {
    val (ns, _) = planOf("q15_daily_kpis")
    assert(!ns.exists(_.nodeName.contains("Expand")),
      "q15 regressed to the Expand-x3 dual-countDistinct plan")
  }

  test("q30: CUBE does plan via Expand (the control for q17's check)") {
    val (ns, _) = planOf("q30_cube")
    assert(ns.exists(_.nodeName.contains("Expand")))
  }

  test("q37: the band join broadcasts the interval dim (nested-loop," +
      " fact side never shuffles before the aggregate)") {
    val (ns, _) = planOf("q37_band_join")
    assert(ns.exists(_.nodeName.contains("BroadcastNestedLoopJoin")))
  }

  test("q39: exactly one hash exchange feeds distinct+window+groupBy" +
      " (plus the final presentation sort)") {
    val (ns, _) = planOf("q39_gaps_islands")
    val ex = shuffles(ns)
    assert(ex.size == 2,
      s"expected 2 exchanges (1 hash + 1 final sort), got ${ex.size}:\n" +
        ex.mkString("\n"))
  }

  test("q42: the cohort matrix has no self-join — one window over the" +
      " user-keyed activity, no join node at all") {
    val (ns, _) = planOf("q42_cohort")
    assert(!ns.exists(_.nodeName.contains("Join")),
      "q42 regressed to the self-join formulation")
    assert(ns.exists(_.nodeName.contains("Window")))
  }

  test("q41: sliding windows replicate via ONE Expand; tumbling (q36)" +
      " plans none") {
    val (slide, _) = planOf("q41_sliding")
    assert(slide.count(_.nodeName.contains("Expand")) >= 1)
    val (tumble, _) = planOf("q36_tumbling")
    assert(!tumble.exists(_.nodeName.contains("Expand")))
  }

  test("t13: chunking is a narrow generate — its only exchange beyond the" +
      " corpus load repartition is the final presentation sort") {
    val (ns, _) = planOf("t13_chunk_overlap")
    assert(ns.exists(_.nodeName.contains("Generate")))
    // Tables.documents repartitions the single-file local corpus by id on
    // load (PLANS.md: AQE-coalesce fix) — that REPARTITION_BY_NUM exchange
    // is the loader's, not the query's
    val queryShuffles = shuffles(ns).filter {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        s.shuffleOrigin ==
          org.apache.spark.sql.execution.exchange.ENSURE_REQUIREMENTS
      case _ => true
    }
    assert(queryShuffles.size == 1,
      s"chunking should not shuffle payload:\n$queryShuffles")
  }

  test("d09: edit-distance matching joins on the BLOCK key — never a" +
      " cartesian/nested-loop all-pairs") {
    val (ns, _) = planOf("d09_edit_distance")
    assert(!ns.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")))
    assert(ns.exists(n => n.nodeName.contains("HashJoin") ||
      n.nodeName.contains("SortMergeJoin")))
  }

  test("q49: histogram binning is join-free — bucket id is pure column" +
      " arithmetic (the grid path q37's band join documents)") {
    val (ns, _) = planOf("q49_histogram")
    assert(!ns.exists(_.nodeName.contains("Join")))
    assert(shuffles(ns).size == 2, // agg + final sort only
      s"unexpected exchanges:\n${shuffles(ns)}")
  }

  test("runtime bloom-filter join pruning: a selective dim filter" +
      " injects might_contain on the fact side of a shuffle join") {
    // At 100 TB the fact side of a shuffled dim join should be pre-pruned
    // by a bloom filter built from the filtered dim keys (semi-join
    // reduction) — Spark's InjectRuntimeFilter does exactly that. Local
    // tables sit under the size thresholds, so the thresholds are lowered
    // here to prove the engine's queries are SHAPED so the rule applies
    // (equi-join + selective creation-side filter + shuffle regime).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val plan = run("q04_join_agg").queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom-filter runtime pruning in:\n$plan")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("d13: semantic dedup plans cluster-locally — the centroid set" +
      " broadcasts and the pair scan is an EQUI-join on the cell key," +
      " never all-pairs") {
    // a PRIOR test may have materialized d13's caches (suite order);
    // pin the fresh plan, not whatever AQE finalized for the old one
    spark.catalog.clearCache()
    val (ns, s) = planOf("d13_semdedup")
    // the assignment subtree lives inside the cached relation; nodes()
    // descends into it
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")), s)
    assert(ns.exists(_.nodeName.contains("BroadcastNestedLoopJoin")),
      "centroid assignment broadcasts the centroid set")
    assert(ns.exists(n => n.nodeName.contains("SortMergeJoin") ||
      n.nodeName.contains("ShuffledHashJoin") ||
      n.nodeName.contains("BroadcastHashJoin")),
      s"pair scan should key on the cell:\n$s")
  }

  test("t19: the bucket-weight table joins the gram stream by" +
      " BROADCAST (256 rows regardless of corpus size); nothing" +
      " cartesian") {
    spark.catalog.clearCache()
    val (ns, s) = planOf("t19_importance_weight")
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")), s)
    assert(ns.exists(_.nodeName.contains("BroadcastHashJoin")),
      s"weights should broadcast onto the grams:\n$s")
  }

  test("d14: boilerplate strip joins only on the short chunk key and" +
      " reconstructs per doc — no nested-loop, no cartesian") {
    val (ns, s) = planOf("d14_boilerplate_strip")
    assert(!ns.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")), s)
  }

  test("m08: multimodal packing is one window over narrow per-doc" +
      " costs — join-free") {
    val (ns, s) = planOf("m08_mm_pack")
    assert(!ns.exists(_.nodeName.toLowerCase.contains("join")), s)
    assert(ns.exists(_.nodeName.contains("Window")), s)
  }

  test("s09: filtered kNN broadcasts the query side; the corpus is" +
      " filtered BEFORE ranking and never sort-merge joined") {
    val (ns, _) = planOf("s09_filtered_knn")
    assert(ns.exists(_.nodeName.contains("BroadcastNestedLoopJoin")))
    assert(!ns.exists(_.nodeName.contains("SortMergeJoin")))
  }

  test("q72: the brand dim and count sides broadcast; the pair" +
      " self-join hashes on the order key (never a cartesian)") {
    val (ns, s) = planOf("q72_basket_affinity")
    assert(ns.exists(_.nodeName.contains("BroadcastHashJoin")), s)
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")), s)
  }

  test("t25: the benchmark shingle inventory broadcasts — the corpus" +
      " side is never shuffled on shingle keys") {
    val (ns, s) = planOf("t25_bench_contamination")
    assert(ns.exists(_.nodeName.contains("BroadcastHashJoin")), s)
    assert(!ns.exists(_.nodeName.contains("SortMergeJoin")), s)
  }

  test("q73: survival grid joins by broadcast; one keyed shuffle for" +
      " the lag window") {
    val (ns, s) = planOf("q73_repeat_survival")
    assert(!ns.exists(_.nodeName.contains("SortMergeJoin")), s)
    assert(ns.exists(_.nodeName.contains("Window")), s)
  }

  test("d16: the leakage audit reduces to distinct (hash, source) rows" +
      " BEFORE the degree join — no join carries the text payload") {
    val (ns, s) = planOf("d16_cross_source_leakage")
    // both join inputs are aggregates (the distinct), so the only
    // columns in flight are the 32-hex hash + source name
    assert(ns.exists(_.nodeName.contains("HashAggregate")), s)
    val joins = ns.filter(_.nodeName.toLowerCase.contains("join"))
    assert(joins.nonEmpty && joins.forall(j =>
      !j.output.exists(_.name == "text")),
      "text payload reached a join:\n" + s)
  }

  test("dynamic partition pruning: a selective dim filter becomes a" +
      " runtime partition filter on the partitioned fact scan") {
    // At 100 TB a fact table is hive-partitioned and a dim-filtered join
    // must not scan every partition: DPP turns the filtered dim's keys
    // into a runtime PartitionFilter on the fact scan (broadcast-reuse
    // form). The catalog's single-file test tables can't show this, so
    // the fixture is a small partitioned table of the same shape as the
    // ingest layout (S4/S5 partitioned sinks).
    import org.apache.spark.sql.functions.{col, sum}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dpp").toString
    spark.range(0, 10000)
      .select(col("id"), (col("id") % 20).as("pd"))
      .write.partitionBy("pd").mode("overwrite").parquet(s"$dir/fact")
    val fact = spark.read.parquet(s"$dir/fact")
    val dim = spark.range(0, 20).select(col("id").as("pd"),
      (col("id") % 5).as("grp"))
    val q = fact.join(dim.filter(col("grp") === 0), "pd").agg(sum("id"))
    q.collect()
    val s = q.queryExecution.executedPlan.toString
    assert(s.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n$s")
  }

  test("s01: the query side broadcasts against the corpus (no corpus" +
      " shuffle before ranking)") {
    val (ns, _) = planOf("s01_knn_brute")
    assert(ns.exists(n => n.nodeName.contains("BroadcastNestedLoopJoin") ||
      n.nodeName.contains("BroadcastHashJoin")))
  }

  test("q52: the moment aggregation plans WITHOUT Expand (one pass, no" +
      " distinct branches) and reads only the 3 needed part columns") {
    val (ns, s) = planOf("q52_stats_regression")
    assert(!ns.exists(_.nodeName.contains("Expand")),
      "q52's single-pass moment aggregate grew an Expand")
    assert("ReadSchema:[^\\n]*p_brand".r.findFirstIn(s).isDefined &&
      !s.contains("p_name"),
      s"part scan not pruned to (p_brand, p_size, p_retailprice):\n$s")
  }

  test("d11: chunk boilerplate joins hash-partitioned on the chunk key" +
      " — no nested-loop or cartesian anywhere") {
    val (ns, _) = planOf("d11_boilerplate_chunks")
    assert(!ns.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")),
      "d11 planned an all-pairs join shape")
  }

  test("s07: the ADC scan joins the per-query lookup tables by" +
      " BROADCAST (the compressed corpus side never becomes the build" +
      " side of an unbounded join)") {
    val (ns, _) = planOf("s07_pq_rerank")
    assert(ns.exists(_.nodeName.contains("BroadcastHashJoin")),
      "no broadcast join in s07's ADC stage")
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")),
      "s07 planned a cartesian product")
  }

  test("q54: pointer-doubling rounds are TRUNCATED out of the final" +
      " plan (checkpointed leaves — no join, no plan-size blowup)") {
    val (ns, _) = planOf("q54_hierarchy_flatten")
    // the 6 rounds ran eagerly behind localCheckpoint; the final frame
    // must read a checkpointed leaf, not re-derive 2^6 joins of lineage
    assert(!ns.exists(_.nodeName.contains("Join")),
      "q54's final plan re-derives the doubling joins — checkpoint lost")
    assert(shuffles(ns).size <= 1, // the final total-order sort only
      s"q54 shuffles: ${shuffles(ns).map(_.nodeName)}")
  }

  test("q55: mode ranks PRE-REDUCED counts (window input is the count" +
      " aggregate, never the raw customer fact) and the scan is pruned") {
    val (ns, s) = planOf("q55_mode")
    assert(!ns.exists(_.nodeName.contains("Expand")))
    // customer is 8 columns wide; the query needs 2
    val scans = ns.filter(_.nodeName.contains("Scan"))
    assert(scans.nonEmpty && scans.forall(_.output.size <= 2),
      s"customer scan not pruned: ${scans.map(_.output.map(_.name))}")
    val windows = ns.filter(_.nodeName.contains("Window"))
    assert(windows.nonEmpty)
    // count agg emits (nation, segment, n): window input stays ≤ 4 cols
    assert(windows.forall(_.children.head.output.size <= 4),
      "q55's window consumes more than the pre-reduced count rows")
  }

  test("t17: the documents scan is pruned to (doc_id, text) and no" +
      " cartesian/NLJ shape appears") {
    val (ns, _) = planOf("t17_token_gini")
    val scans = ns.filter(_.nodeName.contains("Scan"))
    assert(scans.nonEmpty && scans.forall(_.output.size <= 2),
      s"documents scan not pruned: ${scans.map(_.output.map(_.name))}")
    assert(!ns.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")))
  }

  test("AQE splits a skewed sort-merge join at runtime (the engine's" +
      " built-in answer to q14's manual salting)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // force a shuffle join and lower the skew thresholds so the test
      // corpus (one dominant key with padding vs uniform keys) trips them
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "65536")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      // pad must DEPEND on a column (a literal is pruned/folded before
      // the exchange) and be INCOMPRESSIBLE (skew detection reads the
      // lz4-compressed shuffle partition sizes — a repeated-char pad
      // compresses under the threshold; observed: AQE coalesced instead)
      val md5 = org.apache.spark.sql.functions.md5 _
      val idStr = col("id").cast("string")
      val skewed = spark.range(0, 400000)
        .select(when(col("id") % 10 =!= 0, lit(7L))
          .otherwise(col("id") % 1000).as("k"), // ~90% share key 7
          org.apache.spark.sql.functions.concat(
            md5(idStr.cast("binary")),
            md5(org.apache.spark.sql.functions.concat(idStr, lit("a"))
              .cast("binary")),
            md5(org.apache.spark.sql.functions.concat(idStr, lit("b"))
              .cast("binary"))).as("pad"))
      val dim = spark.range(0, 1000).select(col("id").as("k"),
        col("id").cast("string").as("v"))
      // The consumer must NOT require the join's hash partitioning: a
      // groupBy(k) downstream makes AQE REJECT the skew split (splitting
      // would break the distribution requirement; observed: coalesced
      // instead). A global aggregate has no per-key requirement. Also
      // keep the pad alive into the join output so the shuffle carries
      // real bytes.
      val joined = skewed.join(dim, "k")
        .agg(org.apache.spark.sql.functions.max("pad"))
      // execute THIS QueryExecution (AQE finalizes in place); a write
      // action builds its own QE and leaves this plan isFinalPlan=false
      joined.collect()
      val s = joined.queryExecution.executedPlan.toString
      assert(s.contains("skew=true"),
        s"AQE did not mark the skewed join (no skew=true):\n$s")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q59: the basket self-join is keyed on the order (hash join," +
      " never nested-loop over line items)") {
    val (ns, _) = planOf("q59_market_basket")
    assert(!ns.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")),
      "q59 planned an all-pairs join shape")
  }

  test("q60: the rollup aggregates the flattened (checkpointed)" +
      " hierarchy — no recursive re-derivation in the final plan") {
    val (ns, _) = planOf("q60_hierarchy_rollup")
    // exactly the joins the rollup needs: part ⋈ flat; flat is a leaf
    assert(ns.count(_.nodeName.contains("Join")) <= 2,
      s"q60 join count: ${ns.map(_.nodeName).filter(_.contains("Join"))}")
  }

  test("d12: the canonical-selection window consumes doc STATS only" +
      " (the text payload never enters the shuffle)") {
    val (ns, _) = planOf("d12_cluster_canonical")
    val windows = ns.filter(_.nodeName.contains("Window"))
    assert(windows.nonEmpty)
    assert(windows.forall(w =>
      !w.children.head.output.exists(_.name == "text")),
      "d12's window input carries the text payload")
    spark.catalog.clearCache() // d06-style pair cache cleanup
  }

  test("CBO: ANALYZE ... FOR COLUMNS turns a selective equality filter" +
      " into a tight cardinality estimate (the stats surface a cost-" +
      "based planner needs)") {
    import org.apache.spark.sql.functions.col
    spark.sql("DROP TABLE IF EXISTS cbo_fact")
    Tables.orders(spark, sf).write.mode("overwrite")
      .saveAsTable("cbo_fact")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      spark.sql("ANALYZE TABLE cbo_fact COMPUTE STATISTICS")
      val total = spark.table("cbo_fact").count()
      def estimate(): Option[BigInt] =
        spark.table("cbo_fact").filter(col("o_custkey") === 1L)
          .queryExecution.optimizedPlan.stats.rowCount
      spark.sql(
        "ANALYZE TABLE cbo_fact COMPUTE STATISTICS FOR COLUMNS o_custkey")
      val withCol = estimate()
      assert(withCol.isDefined, "column stats must yield a rowCount")
      assert(withCol.get < total / 10,
        s"estimate ${withCol.get} not selective vs $total rows")
    } finally {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      spark.sql("DROP TABLE IF EXISTS cbo_fact")
    }
  }

  test("q61: the KMV rank cut gets WindowGroupLimit pushdown (per-" +
      "partition top-k BEFORE the exchange) and nothing plans cartesian") {
    val (ns, s) = planOf("q61_kmv_overlap")
    assert(ns.exists(_.nodeName.contains("WindowGroupLimit")),
      s"no WindowGroupLimit in:\n$s")
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")),
      "q61 planned a cartesian product")
  }

  test("q62: every funnel step scan pushes its event_type filter and" +
      " reads only (user_id, event_type, ts)") {
    val (ns, s) = planOf("q62_funnel")
    assert("PushedFilters: \\[[^\\]]*event_type".r.findFirstIn(s).isDefined,
      s"no pushed event_type filter in:\n$s")
    val scans = ns.filter(n => n.nodeName.contains("Scan") &&
      n.output.exists(_.name.contains("event_type")))
    assert(scans.nonEmpty && scans.forall(_.output.size <= 3),
      s"funnel scans over-read: ${scans.map(_.output.map(_.name))}")
  }

  test("m09: hamming near-dup candidates meet in an EQUI-join on the" +
      " (kind, band, value) key — never a cartesian/NLJ all-pairs") {
    val (ns, _) = planOf("m09_hamming_neardup")
    assert(!ns.exists(n => n.nodeName.contains("CartesianProduct") ||
      n.nodeName.contains("BroadcastNestedLoopJoin")),
      "m09 planned an all-pairs join shape")
  }

  test("s10: the MMR candidate pool cuts top-12 via TakeOrdered (per-" +
      "partition top-k) — never a single-partition global rank window") {
    val (ns, _) = planOf("s10_mmr")
    assert(ns.exists(_.nodeName.contains("TakeOrderedAndProject")),
      s"pool must plan TakeOrdered: ${ns.map(_.nodeName).distinct}")
    spark.catalog.clearCache() // normed() cache cleanup
  }

  test("q66: the first-order flag is ONE customer-keyed window over the" +
      " fact — no self-join (the q42 no-self-join rule)") {
    val (ns, _) = planOf("q66_new_vs_returning")
    assert(!ns.exists(_.nodeName.contains("Join")),
      s"q66 planned a join: ${ns.map(_.nodeName).filter(_.contains("Join"))}")
    assert(ns.exists(_.nodeName.contains("Window")))
  }

  test("q65: the spend aggregate meets the customer dim in a broadcast" +
      " hash join (never a shuffle of the segment side)") {
    val (ns, _) = planOf("q65_revenue_gini")
    assert(ns.exists(_.nodeName.contains("BroadcastHashJoin")),
      s"q65 join nodes: ${ns.map(_.nodeName).filter(_.contains("Join"))}")
  }

  test("t20: BPE pair counting is two map-side-combined aggregates and" +
      " a TakeOrdered top-k — no Expand, no global sort of the pairs") {
    val (ns, _) = planOf("t20_bpe_pairs")
    assert(!ns.exists(_.nodeName.contains("Expand")),
      "t20 planned an Expand")
    assert(ns.exists(_.nodeName.contains("TakeOrderedAndProject")),
      s"t20's limit should plan TakeOrderedAndProject: ${ns.map(_.nodeName)}")
  }

  test("q69: cohort sizes broadcast (the cohort dim never shuffles the" +
      " activity side a second time)") {
    val (ns, _) = planOf("q69_retention")
    assert(ns.exists(_.nodeName.contains("BroadcastHashJoin")),
      s"q69 join nodes: ${ns.map(_.nodeName).filter(_.contains("Join"))}")
  }

  test("q70: the SCD2 point-in-time probe is an EQUI-join on (cell," +
      " customer); the only NLJ is the literal month-spine cross") {
    val (ns, s) = planOf("q70_pit_snapshot")
    assert(!ns.exists(_.nodeName.contains("CartesianProduct")),
      s"q70 planned a cartesian: ${
        ns.map(_.nodeName).filter(_.contains("Join"))}")
    // the deliberate spine × customers cross (80 literal rows,
    // broadcast) is the ONE permitted nested loop
    assert(ns.count(_.nodeName.contains("BroadcastNestedLoopJoin")) <= 1,
      s"q70 joins: ${ns.map(_.nodeName).filter(_.contains("Join"))}")
    // the interval probe itself hashes on the grid cell
    assert(s.contains("__cell"),
      s"PIT probe not an equi-join on the grid cell:\n$s")
  }

  test("q71: the fact pre-reduces to one first-ship row per order" +
      " BEFORE meeting orders (partial aggregate below the join)") {
    val (ns, _) = planOf("q71_fulfillment_lag")
    val plan = ns.map(_.nodeName)
    assert(!ns.exists(n => n.nodeName.contains("NestedLoop") ||
      n.nodeName.contains("CartesianProduct")), s"$plan")
    assert(ns.exists(_.nodeName.contains("HashAggregate")), s"$plan")
  }
}
