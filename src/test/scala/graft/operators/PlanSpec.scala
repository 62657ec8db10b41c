package graft.operators

import graft.SparkSpec

/** Guards the 100 TB scale posture at the PLAN level: these assertions
  * fail if a refactor drops predicate pushdown, broadcast joins, or
  * partial aggregation — the properties that keep the engine linear at
  * 1000 executors regardless of what the small-scale timings say.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q01: filters are pushed to the parquet scan and columns pruned") {
    val p = plan(RelationalQueries.q01_filter_project(spark, sf()))
    assert(p.contains("PushedFilters:") && p.contains("l_quantity"),
      s"expected pushed filters in:\n$p")
    // projection needs 4 columns; the scan must not read the other 7
    val readSchema = "ReadSchema: struct<l_orderkey"
    assert(p.contains(readSchema), s"expected pruned ReadSchema in:\n$p")
    assert(!p.contains("l_shipdate"), s"unused column not pruned:\n$p")
  }

  test("q05/q06: dimension joins broadcast (no fact-side shuffle join)") {
    val p5 = plan(RelationalQueries.q05_join_agg(spark, sf()))
    assert(p5.contains("BroadcastHashJoin"), s"customer not broadcast:\n$p5")
    val p6 = plan(RelationalQueries.q06_join_chain(spark, sf()))
    assert(p6.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p6")
  }

  test("q03: aggregation is partial+final (map-side combine)") {
    val p = plan(RelationalQueries.q03_agg_group(spark, sf()))
    assert(p.contains("partial_"), s"expected partial aggregation in:\n$p")
  }

  test("a10: array Aggregator runs partial+final, no explode/shuffle blowup") {
    val p = plan(ArrayQueries.a10_agg_elementwise(spark, sf()))
    assert(p.contains("partial_elementwise"),
      s"expected partial elementwise agg in:\n$p")
    assert(!p.toLowerCase.contains("generate"), // no explode in this plan
      s"elementwise agg must not explode:\n$p")
  }

  test("a01: array primitives stay whole-stage codegen'd") {
    val df = ArrayQueries.a01_scalar_math(spark, sf())
    df.collect() // AQE finalizes the plan (and codegen spans) on execution
    val p = df.queryExecution.executedPlan.toString
    // codegen'd operators render with the "*(n)" stage prefix
    assert(p.contains("*("), s"expected whole-stage-codegen spans:\n$p")
  }

  test("d08: LSH band candidate join is a hash join, never cartesian") {
    val p = plan(DedupQueries.d08_dedup_emblsh(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"band join degenerated to a product:\n$p")
    assert(p.contains("HashJoin"), s"expected a hash join on band keys:\n$p")
  }

  test("p01: pipeline scoring is scan-parallel; only hash-partitioned shuffles") {
    val p = plan(PipelineQueries.p01_corpus_pipeline(spark, sf()))
    // the dedup window and final agg shuffle by uniform hash keys; there
    // must be no single-partition global window (Exchange SinglePartition
    // appears only for the 1-row final aggregate)
    assert(p.contains("hashpartitioning"),
      s"expected hash-partitioned dedup window in:\n$p")
    assert(p.contains("partial_"), s"expected partial aggregation in:\n$p")
  }

  test("bucketed fragments reproduce the reference's aligned join with NO shuffle") {
    // The reference's only join is a positional aligned merge over dense
    // sorted id_dim (oph_io_server_query_blocks.c:845-1082). At 100 TB the
    // equivalent plan is a bucketed sort-merge join: bucket both fragments
    // by id_dim and the join needs no Exchange at all.
    import org.apache.spark.sql.functions._
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toFile.getAbsolutePath
    val s = spark
    import s.implicits._
    val savedThreshold = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = (1L to 1000L).map(i => (i, i.toDouble)).toDF("id_dim", "m1")
      val b = (1L to 1000L).map(i => (i, i * 2.0)).toDF("id_dim", "m2")
      a.write.bucketBy(8, "id_dim").sortBy("id_dim")
        .option("path", s"$wh/fa").mode("overwrite").saveAsTable("frag_a")
      b.write.bucketBy(8, "id_dim").sortBy("id_dim")
        .option("path", s"$wh/fb").mode("overwrite").saveAsTable("frag_b")
      val joined = s.table("frag_a").join(s.table("frag_b"), "id_dim")
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
      assert(!p.contains("Exchange"), s"bucketed join must not shuffle:\n$p")
    } finally {
      savedThreshold.fold(s.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
      s.sql("DROP TABLE IF EXISTS frag_a")
      s.sql("DROP TABLE IF EXISTS frag_b")
    }
  }

  test("q33: bucketed tables join with zero join-side exchanges") {
    val df = RelationalQueries.q33_bucketed_join(spark, sf())
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"expected sort-merge join:\n$p")
    assert(p.contains("Bucketed: true"), s"expected bucketed scans:\n$p")
    // the only exchanges allowed are AFTER the join: the final groupBy
    // and the presentation sort. A shuffled join would add two more.
    // (AQE's toString appends an "== Initial Plan ==" copy — count only
    // the final plan.)
    val finalP = p.split("== Initial Plan ==")(0)
    val nEx = "Exchange".r.findAllIn(finalP).length
    assert(nEx <= 2, s"join must not shuffle its inputs ($nEx exchanges):\n$p")
  }

  test("q35: dim filter prunes fact partitions at runtime (DPP)") {
    val df = RelationalQueries.q35_partition_pruning(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"expected a dynamic partition-pruning filter on the fact scan:\n$p")
  }

  test("q37: z-range predicate prunes parquet row groups on the 2-D box") {
    val df = RelationalQueries.q37_zorder_layout(spark, sf())
    df.collect() // populate scan metrics
    def nodes(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val scans = nodes(df.queryExecution.executedPlan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "expected a parquet scan of the z-ordered layout")
    val scanned = scans.map(_.metrics("numOutputRows").value).sum
    val total = graft.core.Tables.orders(spark, sf()).count()
    // stats on the single zval column skip the row groups outside the
    // Morton image of the box; without pruning the scan emits ~all rows
    assert(scanned < total / 4,
      s"z-order pruning ineffective: scanned $scanned of $total rows")
    // the pushed z filter must reach the parquet reader
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("zval"),
      s"zval range not pushed to the scan:\n$p")
  }

  test("q38: the salted join shuffles on (key, salt), not the bare hot key") {
    val df = RelationalQueries.q38_salted_skew_join(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"salting demo requires the shuffled-join path:\n$p")
    // the exchange key must carry the salt — that IS the skew fix
    assert("hashpartitioning\\([^)]*__salt".r.findFirstIn(p).isDefined,
      s"expected __salt inside the join's hash partitioning:\n$p")
  }

  test("q41: compaction collapses the small-file scatter to the size-derived target") {
    RelationalQueries.q41_compact_small_files(spark, sf()).collect()
    // the SAME tag the query derives — a hand-rolled format here once
    // went stale against a scoping change and the spec silently counted
    // a previous round's leftover /tmp directory
    val tag = graft.core.SessionMemo.pathTag(spark, sf())
    def parquets(p: String): Int = {
      val d = new java.io.File(System.getProperty("java.io.tmpdir"), p)
      Option(d.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
    }
    val (nSmall, nCompact) = (parquets(s"graft_q41_small_$tag"),
      parquets(s"graft_q41_compact_$tag"))
    assert(nSmall == 200, s"ingest scatter should be 200 files, was $nSmall")
    // sf0.001 lineitem is ~a few hundred KB: one 128 MiB-target file
    assert(nCompact >= 1 && nCompact <= 4,
      s"compaction target missed: $nCompact files")
  }

  test("q53: ONE user_id exchange feeds all three chained Window operators") {
    val df = RelationalQueries.q53_funnel(spark, sf())
    df.collect() // AQE finalizes the plan
    // keep only the final adaptive plan (the string renders the initial
    // plan a second time below it, doubling every count)
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    val windows = "\\+- Window ".r.findAllIn(p).length
    assert(exchanges == 1,
      s"the three funnel windows must share ONE user_id exchange, got $exchanges:\n$p")
    assert(windows == 3, s"expected 3 chained Window operators, got $windows:\n$p")
  }

  test("d19: the localCheckpoint verify barrier survives optimization") {
    val df = DedupQueries.d19_editdist(spark, sf())
    val p = plan(df)
    // the candidate set is pinned behind an RDD scan…
    assert(p.contains("Scan ExistingRDD"),
      s"localCheckpoint barrier missing (pushdown would re-enter the joins):\n$p")
    // …the CPU-bound verify stage is row-count-repartitioned…
    assert("Exchange hashpartitioning\\(doc_a".r.findFirstIn(p).isDefined,
      s"explicit verify repartition missing (AQE would serialize it):\n$p")
    // …and no join evaluates Levenshtein in its condition (the r11 bug:
    // the threshold pushed into the anchor join ran the O(len²) DP once
    // per ORDERED bucket pair)
    val levJoinLines = p.linesIterator.filter(l =>
      l.contains("Join") && l.toLowerCase.contains("levenshtein")).toSeq
    assert(levJoinLines.isEmpty,
      s"levenshtein leaked into a join condition:\n${levJoinLines.mkString("\n")}")
  }

  test("q50: DV and delta merge as broadcast ANTI joins; base is never rewritten") {
    val df = RelationalQueries.q50_merge_on_read(spark, sf())
    val p = plan(df)
    val antis = "BroadcastHashJoin .*LeftAnti".r.findAllIn(p).length
    assert(antis == 2, s"expected 2 broadcast anti joins (DV + delta), got $antis:\n$p")
    assert(!p.contains("SortMergeJoin"), s"merge must not shuffle the base:\n$p")
    // the positional DV actually uses the scan's metadata row index
    assert(p.contains("row_index") || p.contains("_metadata"),
      s"DV join should key on the parquet row position:\n$p")
  }

  test("d03/d04: LSH band buckets are triangle-split — group id joins the bucket") {
    // the tgrp pair-group must be part of the band-bucket join key (and
    // bsalt must survive for the canonical-pair filter), so a mega-bucket
    // at scale splits into bounded sub-tasks instead of one quadratic
    // straggler — losslessly: every pair survives in exactly one group
    val p3 = plan(DedupQueries.d03_minhash_lsh(spark, sf()))
    assert(p3.contains("tgrp") && p3.contains("bsalt"),
      s"d03 band join lost the triangle split:\n$p3")
    val p4 = plan(DedupQueries.d04_simhash(spark, sf()))
    assert(p4.contains("tgrp") && p4.contains("bsalt"),
      s"d04 band join lost the triangle split:\n$p4")
  }

  test("p02: the eval gram set broadcasts — the train side never shuffles for the join") {
    val p = plan(PipelineQueries.p02_contamination(spark, sf()))
    assert(p.contains("BroadcastHashJoin"),
      s"expected broadcast of the eval gram set:\n$p")
  }

  test("s01: query side is broadcast; scan side streams once") {
    val p = plan(SimilarityQueries.s01_ann_bruteforce(spark, sf()))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast of the query vectors:\n$p")
  }

  test("q24: as-of is union + ONE window shuffle, never a pairwise join") {
    val p = plan(RelationalQueries.q24_asof_join(spark, sf()))
    assert(!p.contains("Join"), s"as-of must not materialize pairs:\n$p")
    assert(p.contains("Union") && p.contains("Window"),
      s"expected union + running-state window:\n$p")
  }

  test("q25: range join is an equi hash join on (user, bucket), not a product") {
    val p = plan(RelationalQueries.q25_range_join(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a product:\n$p")
    assert(p.contains("HashJoin"), s"expected bucket equi-join:\n$p")
  }

  test("p05: the per-domain window partitioning is reused by the aggregation") {
    val df = PipelineQueries.p05_domain_mix(spark, sf())
    val p = plan(df)
    // exactly one hash Exchange (source) + one range Exchange (orderBy):
    // the groupBy must reuse the window's hash partitioning
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"expected ONE hash exchange, found $hashEx:\n$p")
  }

  test("s06: custom TopKPerKeyExec replaces Sort+Window (no sort in the plan)") {
    val p = plan(SimilarityQueries.s06_ann_topk_operator(spark, sf()))
    assert(p.contains("TopKPerKey"), s"custom operator not planned:\n$p")
    assert(!p.contains("Window"), s"window survived:\n$p")
  }

  test("d12: the within-cluster pair join is hash-partitioned by cid") {
    val p = plan(DedupQueries.d12_semantic_dedup(spark, sf()))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"cluster pair join degenerated to a product:\n$p")
  }
  test("t09: the bigram count model joins back as hash joins, never a product") {
    val p = plan(TextQueries.t09_bigram_lm(spark, sf()))
    assert(!p.contains("CartesianProduct"),
      s"count-model join degenerated to a product:\n$p")
    // the 1-row vocab aggregate must broadcast, not shuffle-join
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"vocab scalar not broadcast:\n$p")
  }

  test("d15: dup-gram counting is partial+final; join back is a hash join") {
    val p = plan(DedupQueries.d15_dup_ngram_spans(spark, sf()))
    assert(p.contains("partial_"), s"expected partial count agg:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"gram join degenerated to a product:\n$p")
  }

  test("s07: the block-norm screen keeps the scan side unshuffled (broadcast queries)") {
    val p = plan(SimilarityQueries.s07_range_search(spark, sf()))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query set must broadcast against the streamed scan:\n$p")
    assert(!"Exchange hashpartitioning".r.findAllIn(p).exists(_ => true),
      s"range search must not shuffle the vector scan:\n$p")
  }

  test("p08: the weight table broadcasts; one window + partial+final agg") {
    val p = plan(PipelineQueries.p08_domain_temperature(spark, sf()))
    assert(p.contains("BroadcastExchange"), s"weights not broadcast:\n$p")
    assert(p.contains("partial_"), s"expected partial aggregation:\n$p")
  }

  test("t14: vocabulary ranking is bounded TopKPerKey, not a global sort window") {
    val p = plan(TextQueries.t14_zipf_curve(spark, sf()))
    // ranks come from the partial→final bounded-heap operator: the plan
    // must carry both stages and no Window at all — a regression back to
    // row_number() would reintroduce the SinglePartition vocabulary sort
    assert(p.contains("TopKPartial") && p.contains("TopKPerKey"),
      s"expected bounded top-k rank stages:\n$p")
    assert(!p.contains("Window"),
      s"rank must not run through a sort window:\n$p")
    // the only SinglePartition exchange allowed is the ~30-row
    // presentation sort at the very top, never below the rank operator
    val belowRank = p.substring(p.indexOf("TopKPartial"))
    assert(!belowRank.contains("SinglePartition"),
      s"vocabulary still funnels through one task:\n$p")
  }

  test("s10: the metadata filter reaches the parquet scan before the distance math") {
    val p = plan(SimilarityQueries.s10_ann_filtered(spark, sf()))
    // filtered search must read the label-filtered subset, not post-filter
    // ranked results — the pushed filter is the 100 TB scan reduction
    assert(p.contains("GreaterThanOrEqual(label,2)") &&
      p.contains("LessThanOrEqual(label,5)"),
      s"label predicate not pushed to the scan:\n$p")
    assert(p.contains("TopKPartial"), s"expected bounded top-k ranking:\n$p")
  }

  test("p04/p13: the only unpartitioned prefix-sum window is superblock-level") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // three-level scan: at 100 B docs the per-block table is ~200 M rows
    // — any global window over it single-threads; only the 512×-smaller
    // superblock table may pass through one task
    Seq(
      PipelineQueries.p04_sequence_packing(spark, sf()),
      PipelineQueries.p10_weighted_sample(spark, sf()),
      DedupQueries.p13_dedup_aware_sample(spark, sf())
    ).foreach { df =>
      val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      val globals = wins.filter(_.partitionSpec.isEmpty)
      assert(globals.nonEmpty, "expected the superblock prefix window")
      globals.foreach { w =>
        assert(w.child.output.exists(_.name == "__sup_wt"),
          s"global window runs over non-superblock rows: ${w.child.output}")
      }
      // block starts must be computed under a partitioned window
      assert(wins.exists(_.partitionSpec.nonEmpty),
        "expected partitioned per-block/per-doc windows")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    // when neither side broadcasts (both 100-TB-large), Catalyst's
    // InjectRuntimeFilter must still push a bloom filter built from the
    // selective side onto the fact scan — the row-level analogue of
    // q35's partition-level DPP. Thresholds are lowered because the
    // spec corpus is tiny; at production scale the defaults fire.
    val c = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val saved = keys.map(k => k -> c.getOption(k)).toMap
    try {
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val li = graft.core.Tables.lineitem(spark, sf())
      val ord = graft.core.Tables.orders(spark, sf())
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("long")).as("qty"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom"),
        s"no runtime bloom filter injected on the fact side:\n$opt")
      // and the filter must land on the LINEITEM (application) side,
      // i.e. above its scan, keyed by the join key
      assert(opt.contains("l_orderkey"),
        s"bloom filter not keyed on the join key:\n$opt")
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("c12: clipped n-gram overlap stays in-row — no Generate, one join") {
    val df = ClusterQueries.c12_ngram_overlap_eval(spark, sf())
    val plan = df.queryExecution.optimizedPlan
    // the multiset clip must run inside the row via the sorted-merge
    // kernel: a per-gram explode would shuffle |doc|x4 gram rows and is
    // exactly the scale failure the operator's design avoids
    val generates = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g }
    assert(generates.isEmpty,
      s"per-gram explode found — clip left the row:\n$plan")
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1,
      s"expected exactly the successor self-join, got ${joins.size}")
    assert(plan.toString.contains("graft_sorted_intersect_size"),
      "clip must run through the SortedIntersectSize kernel")
  }

  test("s14: MaxSim is broadcast-query + TopKPerKey — doc side never shuffles") {
    val p = plan(SimilarityQueries.s14_maxsim_multivector(spark, sf()))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query set not broadcast:\n$p")
    assert(p.contains("TopKPerKey"), s"ranking not the bounded heap operator:\n$p")
    assert(!p.contains("Window"), s"global window survived:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"interaction degenerated to a shuffled product:\n$p")
  }

  test("q73: probe side broadcasts; the bit manifests stream (never broadcast)") {
    val p = plan(RelationalQueries.q73_bloom_skip_index(spark, sf()))
    // the tiny probe set must be the build side of every filter join —
    // broadcasting the (file, bit) manifests would ship ~19 bits/key of
    // metadata to every executor at 100 TB
    assert(p.contains("BroadcastHashJoin"), s"probe set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a filter-probe join degenerated to a sort-merge shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("p24: bucket weights broadcast back onto the token stream; counts are partial+final") {
    val p = plan(PipelineQueries.p24Scored(spark, sf())._1)
    assert(p.contains("BroadcastHashJoin"),
      s"weight table must broadcast, not shuffle the tokens:\n$p")
    assert(p.contains("partial_"), s"bucket counts need map-side combine:\n$p")
  }

  test("s16: both ANN stages plan through the bounded-heap TopKPerKey") {
    val p = plan(SimilarityQueries.s16_ann_binary_quant(spark, sf()))
    val heaps = "TopKPerKey".r.findAllIn(p).size
    // one heap node per stage (Hamming candidates, exact rerank) and NO
    // Window fallback anywhere
    assert(heaps >= 2, s"expected a heap per ANN stage:\n$p")
    assert(!p.contains("Window"), s"heap operator fell back to a window:\n$p")
    assert(p.contains("BroadcastExchange"), s"query side must broadcast:\n$p")
  }

  test("t26: LM count joins never materialize a product; counts partial+final") {
    val p = plan(TextQueries.t26_stupid_backoff(spark, sf()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"backoff chain must stay equi-join:\n$p")
    assert(p.contains("partial_"), s"gram counts need map-side combine:\n$p")
  }

  test("s18: persisted IVF serve reads pruned buckets with zero index-side exchange") {
    val df = SimilarityQueries.s18_ann_persisted(spark, sf())
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    val finalP = p.split("== Initial Plan ==")(0)
    assert(finalP.contains("Bucketed: true"),
      s"index scan must come from the persisted bucketed table:\n$p")
    assert(finalP.contains("SelectedBucketsCount"),
      s"probed-cell isin must prune bucket files at planning time:\n$p")
    // the persisted index is never re-clustered per batch: no shuffle on
    // the cell column anywhere in the serve plan
    assert(!finalP.contains("hashpartitioning(cell"),
      s"index side must not re-shuffle on cell:\n$p")
    // allowed exchanges: broadcasts of the tiny query/assignment sets,
    // the top-k window's query_id shuffle, and the presentation sort —
    // nothing proportional to the index
    val shuffles = "Exchange hashpartitioning".r.findAllIn(finalP).size
    assert(shuffles <= 1, s"only the query_id window may shuffle:\n$p")
  }

  test("s19: PQ serve scans pruned buckets; both top-k stages are bounded heaps") {
    val df = SimilarityQueries.s19_pq_persisted(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalP = p.split("== Initial Plan ==")(0)
    assert(finalP.contains("Bucketed: true") &&
      finalP.contains("SelectedBucketsCount"),
      s"codes must come from the pruned persisted table:\n$p")
    assert(!finalP.contains("hashpartitioning(label"),
      s"index side must not re-shuffle on the cell:\n$p")
    // ADC gather and rerank both go through the bounded heap operator
    assert("TopKPartial".r.findAllIn(finalP).size >= 2,
      s"expected two bounded top-k stages (ADC top-20, rerank top-5):\n$p")
    assert(!finalP.contains("Window"),
      s"no window over the candidate volume:\n$p")
  }

  test("s22: broad arm prunes buckets; narrow arm pushes the label filter") {
    val df = SimilarityQueries.s22_ann_filtered_serve(spark, sf())
    df.collect() // finalize AQE
    val p = df.queryExecution.executedPlan.toString
    val finalP = p.split("== Initial Plan ==")(0)
    // broad path: probed-cell isin prunes bucket files at planning
    assert(finalP.contains("SelectedBucketsCount"),
      s"probed-cell isin must prune bucket files:\n$p")
    // narrow path: the label-partitioned index twin + the broadcast
    // equi-join on label gives DYNAMIC partition pruning — the scan
    // reads only the queried labels' partitions instead of streaming
    // the whole index past the predicate
    assert(finalP.contains("dynamicpruning"),
      s"narrow path must partition-prune on label:\n$p")
    // the index scans themselves must never re-shuffle
    assert(!finalP.contains("hashpartitioning(cell"),
      s"index side must not re-shuffle on cell:\n$p")
  }

  test("qc07: bucketed intercube join needs no exchange on either member") {
    val df = CubeQueries.qc07_intercube(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalP = p.split("== Initial Plan ==")(0)
    assert(!finalP.contains("hashpartitioning(id_dim"),
      s"intercube join must align bucket-to-bucket, not re-shuffle:\n$p")
  }

  test("q84: the aligned hilbert window is pushed to the layout scan") {
    val df = RelationalQueries.q84_hilbert_layout(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GreaterThanOrEqual(hv,512)") &&
      p.contains("LessThanOrEqual(hv,767)"),
      s"hv window not pushed to the parquet scan:\n$p")
    // only the layout columns the query needs are read
    assert(!p.contains("o_custkey"),
      s"scan must not read the pre-layout clustering inputs:\n$p")
  }

  test("qn13: quarantine accounting is ONE partial+final aggregate over the JSON scan") {
    val p = plan(NetCDFQueries.qn13_jsonl_quarantine(spark, sf()))
    assert(p.contains("partial_"), s"expected map-side combine:\n$p")
    assert(p.contains("Scan json"), s"expected a native JSON scan:\n$p")
    // one exchange for the final agg + one for the output sort — any
    // more means the quarantine split re-shuffled the corpus
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3, s"unexpected extra shuffles ($exchanges):\n$p")
  }
}
