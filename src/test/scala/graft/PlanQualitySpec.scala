package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties that keep these plans
  * viable at 100 TB must hold structurally, not by luck. A plan that
  * reads all columns for a 2-column projection, or sort-merge-joins a
  * 25-row dimension, is wrong even if it returns correct rows.
  */
class PlanQualitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get
  private val SF = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // materialize so AQE finalizes
    df.queryExecution.executedPlan
  }

  private def fullPlanString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("rel_agg_pricing: filter and pruning reach the parquet scan") {
    val plan = fullPlanString(SparkEntry.queries("rel_agg_pricing")(spark, SF))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
    // only the 7 needed columns in ReadSchema, not all 11
    val read = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_suppkey") && !read.contains("l_orderkey"), read)
  }

  test("rel_join_star_revenue: dimension joins are broadcast, not sort-merge") {
    val plan = fullPlanString(SparkEntry.queries("rel_join_star_revenue")(spark, SF))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 4, s"expected 4 broadcast hash joins, got $broadcasts:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dimension join fell back to sort-merge:\n$plan")
  }

  test("whole-stage codegen covers the scalar-function pipeline") {
    val plan = fullPlanString(SparkEntry.queries("fn_sequence_ops")(spark, SF))
    // the '*(n)' prefix marks whole-stage-codegen'd operators; the
    // Project evaluating our expressions must carry it
    val projLine = plan.linesIterator.find(l => l.contains("Project") && l.contains("complement"))
    assert(projLine.exists(_.contains("*(")), s"scalar Project not codegen'd:\n$plan")
  }

  test("format scan pushes pruning into the DSv2 scan description") {
    val df = graft.sources.GraftIO
      .read_fasta(spark, "src/test/resources/fixtures/fasta/test.fasta")
      .selectExpr("id")
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("id"))
  }

  test("minhash LSH: no quadratic nested-loop join in the plan") {
    val plan = fullPlanString(SparkEntry.queries("dedup_minhash_lsh")(spark, SF))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("dedup_winnowing: posting join is an equi hash join, fingerprints materialized once") {
    val plan = fullPlanString(SparkEntry.queries("dedup_winnowing")(spark, SF))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // both self-join sides read the checkpointed posting list, not a
    // recomputed gram-hash/window-min pipeline
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"expected checkpointed posting scan:\n${plan.take(4000)}")
  }

  test("minhash LSH: signature aggregate is materialized once, not per join side") {
    // the band-bucket self-join would otherwise recompute the 32xmin
    // aggregate on each side (no ReusedExchange fires across a
    // broadcast/hash exchange pair) — lshVerifiedPairs checkpoints the
    // buckets, so the final plan must contain NO min-signature pipeline
    val plan = fullPlanString(SparkEntry.queries("dedup_minhash_lsh")(spark, SF))
    assert(!plan.contains("partial_min"),
      s"signature aggregate recomputed inside the pair join:\n${plan.take(4000)}")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"expected checkpointed bucket scan:\n${plan.take(4000)}")
  }

  test("ann_lsh_bucketed: probe join is a hash join on bucket, not a nested loop") {
    // the Hamming<=1 probe is expressed as query-side explosion into 17
    // bucket keys + equi-join; a bit_count(bucket^qb) predicate would
    // force a BroadcastNestedLoopJoin — quadratic in the query set
    val plan = fullPlanString(SparkEntry.queries("ann_lsh_bucketed")(spark, SF))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"ANN probe fell back to nested loop:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast hash join on the probe bucket:\n${plan.take(4000)}")
  }

  test("dedup_semantic: pair join is an equi join on the cell id over the barriered assignment") {
    // SemDeDup's whole point is bounding the pair space by cluster; the
    // pair join must consume the CHECKPOINTED assignment (no Lloyd
    // re-derivation per side, whose 1-row centroid broadcasts would
    // show up as nested-loop joins) and join by cid equality
    val plan = finalPlan(SparkEntry.queries("dedup_semantic")(spark, SF))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"pair join degenerated past the cid key:\n${plan.take(4000)}")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"expected checkpointed assignment scan:\n${plan.take(4000)}")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"expected an equi join on cid:\n${plan.take(4000)}")
  }

  test("dedup_span_removal: segments materialized once; window and reassembly are keyed, no pair space") {
    val plan = fullPlanString(SparkEntry.queries("dedup_span_removal")(spark, SF))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // totals + window both consume the barriered segment frame — the
    // split/explode pipeline must not run twice
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"expected checkpointed segment scan:\n${plan.take(4000)}")
    assert("\\bWindow\\b".r.findAllIn(plan).nonEmpty, s"expected window:\n${plan.take(2000)}")
  }

  test("ann_int8_quant: quantization is map-only — no exchange before the output sort") {
    val plan = finalPlan(SparkEntry.queries("ann_int8_quant")(spark, SF))
    // exactly the one range exchange for the final orderBy; quantizing
    // itself must not shuffle
    val exchanges = "Exchange".r.findAllIn(plan).length -
      "ReusedExchange".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected only the sort exchange, got $exchanges:\n${plan.take(4000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("rel_interval_closest / jaccard / complement: the sweeps plan NO join of any kind") {
    for (name <- Seq("rel_interval_closest", "rel_interval_jaccard",
        "rel_interval_complement", "rel_interval_subtract", "rel_event_funnel")) {
      val plan = finalPlan(SparkEntry.queries(name)(spark, SF))
      assert(!plan.contains("Join"),
        s"$name sweep degenerated into a join:\n${plan.take(4000)}")
      assert("\\bWindow\\b".r.findAllIn(plan).nonEmpty,
        s"$name: expected window sweep:\n${plan.take(2000)}")
    }
  }

  test("ann_int8_topk: corpus side scores map-side against broadcast query codes") {
    val plan = finalPlan(SparkEntry.queries("ann_int8_topk")(spark, SF))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"corpus side shuffled for the probe:\n${plan.take(4000)}")
    // the only wide ops are the per-query top-k window and the output
    // sort — scoring itself must ride a broadcast
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast query codes:\n${plan.take(4000)}")
  }

  test("ann_radius_prune: candidate fan-out is keyed — no corpus pair space") {
    val plan = finalPlan(SparkEntry.queries("ann_radius_prune")(spark, SF))
    // the exactness proof allows pruning, never an all-pairs scan: the
    // corpus may only meet queries through the cid equi-join, with the
    // query/centroid/bound frames broadcast. The only nested-loop
    // shapes allowed are the ONE-ROW packed broadcasts (centroid list
    // fanned onto the corpus — assignTo's map-only kernel), which plan
    // as BuildRight Cross BNLJs; a corpus-vs-query nested loop would
    // surface as an Inner/condition BNLJ or a CartesianProduct.
    assert(!plan.contains("CartesianProduct"),
      s"radius search degenerated into a pair scan:\n${plan.take(4000)}")
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(l => l.contains("Cross")),
      s"non-packed nested loop in the radius plan:\n${bnlj.mkString("\n")}")
    assert(plan.contains("BroadcastExchange"),
      s"expected broadcast query/bound frames:\n${plan.take(2000)}")
  }

  test("dedup_radius_pairs: members fan in through keyed cid joins, never a raw corpus self-join") {
    val plan = finalPlan(SparkEntry.queries("dedup_radius_pairs")(spark, SF))
    assert(!plan.contains("CartesianProduct"),
      s"self-pairs degenerated into all-pairs:\n${plan.take(4000)}")
    // nested loops allowed only for the one-row packed centroid fan
    // (assignTo) and the k x k cell-pair crossJoin — both Cross shapes
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")),
      s"non-packed nested loop in the self-pairs plan:\n${bnlj.mkString("\n")}")
  }

  test("pipe_source_cap: per-domain cap runs as the two-level salted top-K") {
    val plan = finalPlan(SparkEntry.queries("pipe_source_cap")(spark, SF))
    val windows = "\\bWindow\\b".r.findAllIn(plan).size
    assert(windows == 2,
      s"expected salted + final rank windows, found $windows:\n${plan.take(4000)}")
    // level 1 must partition by (source, salt) — a single-key window
    // would reintroduce the one-task-per-domain sort
    assert(plan.contains("(doc_id#") || plan.contains("% 8"),
      s"first window lost its salt key:\n${plan.take(4000)}")
  }

  /** The AQE final plan only — executedPlan.toString repeats operators
    * under "== Initial Plan ==", which double-counts occurrence asserts. */
  private def finalPlan(df: DataFrame): String =
    fullPlanString(df).split("== Initial Plan ==")(0)

  test("text_heavy_hitters_cms: sketch screen and exact verify ride broadcasts over the checkpointed gram stream") {
    // the CMS promise is bounded state + no corpus reshuffle for the
    // screen/verify: every join must consume a broadcast (the sketch
    // rows and the screened candidates are both tiny by construction);
    // a SortMergeJoin here means the gram stream itself got shuffled
    val plan = finalPlan(SparkEntry.queries("text_heavy_hitters_cms")(spark, SF))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"gram stream shuffled for a join that should broadcast:\n${plan.take(4000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast sketch/candidate joins:\n${plan.take(4000)}")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan ExistingRDD"),
      s"expected checkpointed gram scan:\n${plan.take(4000)}")
  }

  test("text_bm25_topk: df joins broadcast, top-k is TakeOrdered, no global sort") {
    // the term filter bounds all aggregate state at |matching docs| x
    // |query terms|; the df frame must broadcast back onto it, and the
    // final top-k must be a TakeOrdered (a global Sort would shuffle
    // every scored doc to rank 10 of them)
    val plan = finalPlan(SparkEntry.queries("text_bm25_topk")(spark, SF))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"df join fell back to sort-merge:\n${plan.take(4000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast df join:\n${plan.take(4000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k is not TakeOrdered:\n${plan.take(4000)}")
  }

  test("pipe_model_quality_score: the model table broadcasts onto the gram stream") {
    // weights are vocabulary-bounded; the corpus gram stream must look
    // them up on a broadcast, never shuffle for the join
    val plan = finalPlan(SparkEntry.queries("pipe_model_quality_score")(spark, SF))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"weight lookup fell back to sort-merge:\n${plan.take(4000)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast weight join:\n${plan.take(4000)}")
  }

  test("pipe_leakage_safe_split: component labels broadcast onto the doc table") {
    // the component frame is pair-bounded; the corpus-side doc table
    // must never shuffle for the label join
    val plan = finalPlan(SparkEntry.queries("pipe_leakage_safe_split")(spark, SF))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the component frame broadcast onto docs:\n${plan.take(4000)}")
  }

  test("rel_bucketed_join: co-located join and agg run with zero exchange below the join") {
    // the write-once-bucketed contract: scan partitioning satisfies the
    // join AND the group-by, so neither plans a shuffle — the property
    // that turns a 100 TB fact-to-fact join into a local merge
    // string-level checks on the AQE final plan (collect() does not
    // traverse into finalized query stages)
    val str = fullPlanString(SparkEntry.queries("rel_bucketed_join")(spark, SF))
    val finalPlan = str.split("== Initial Plan ==").head
    assert(finalPlan.contains("SortMergeJoin"),
      s"expected a sort-merge join over bucketed scans:\n$finalPlan")
    assert(finalPlan.contains("Bucketed: true"), s"scan did not use bucketing:\n$finalPlan")
    // the join AND the group-by reuse the scan partitioning: the only
    // exchange anywhere is the output orderBy's range exchange
    val exchanges = "Exchange (hash|range)partitioning".r.findAllIn(finalPlan).toList
    assert(exchanges == List("Exchange rangepartitioning"),
      s"expected only the orderBy range exchange, got $exchanges:\n$finalPlan")
  }

  test("dedup_incremental: batch probes broadcast onto the corpus index, no corpus reshuffle") {
    // the scale contract of incremental dedup: the batch side (buckets,
    // shingle sets, content hashes) is broadcast onto the corpus stream,
    // so a daily delta never reshuffles the corpus; a sort-merge probe
    // or a nested loop would mean per-batch corpus movement
    val plan = fullPlanString(SparkEntry.queries("dedup_incremental")(spark, SF))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"a probe join reshuffles the corpus:\n${plan.take(4000)}")
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 3,
      s"expected broadcast probes for buckets/verify/exact, got $broadcasts:\n${plan.take(4000)}")
  }

  test("ann_pq_adc: codebook and LUT stay broadcast; the corpus never sort-merges") {
    // PQ's scale contract: encode is a map against a broadcast packed
    // codebook and ADC is a map against a broadcast LUT — if either
    // join degrades to sort-merge the corpus reshuffles per query batch
    for (entry <- Seq("ann_pq_adc", "ann_ivfpq_topk")) {
      val plan = fullPlanString(SparkEntry.queries(entry)(spark, SF))
      assert(!plan.contains("SortMergeJoin"),
        s"$entry: corpus-side join fell back to sort-merge:\n${plan.take(4000)}")
      assert(!plan.contains("CartesianProduct"), plan)
      assert(plan.contains("BroadcastExchange"),
        s"$entry: expected broadcast codebook/LUT:\n${plan.take(4000)}")
    }
  }

  test("rel_interval_bin_join / window_join: overlap joins are equi on (chrom, bin), no nested loop") {
    // the point of the bin explosion is that the planner sees equi keys;
    // a raw overlap predicate over chrom-only would plan a per-chrom
    // nested loop — quadratic in rows-per-chromosome at genomics scale
    for (name <- Seq("rel_interval_bin_join", "rel_interval_window_join")) {
      val plan = fullPlanString(SparkEntry.queries(name)(spark, SF))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to nested loop:\n${plan.take(4000)}")
      assert(!plan.contains("CartesianProduct"), s"$name: $plan")
    }
  }

  test("pipe_decontaminate: gram join is a semi join, no doc-by-doc pair space") {
    val plan = fullPlanString(SparkEntry.queries("pipe_decontaminate")(spark, SF))
    assert(plan.contains("LeftSemi"), s"expected semi join on the gram key:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("text_unigram_rarity: vocab rejoins the token stream by broadcast") {
    // the vocab side is vocabulary-sized (bounded), the token stream is
    // corpus-sized (unbounded): a sort-merge join would shuffle the
    // whole corpus on the token key for nothing
    val plan = fullPlanString(SparkEntry.queries("text_unigram_rarity")(spark, SF))
    assert(plan.contains("BroadcastHashJoin"),
      s"vocab join not broadcast:\n${plan.take(4000)}")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled on token key:\n${plan.take(4000)}")
  }

  test("interval merge/coverage: single-sort window sweeps, no self-join") {
    // both sweeps must plan as window passes over ONE keyed sort — any
    // Join node means the plan degenerated to the quadratic shape the
    // sweep exists to avoid
    Seq("rel_interval_merge", "rel_interval_merge_scalable",
        "rel_interval_coverage").foreach { name =>
      val plan = executed(SparkEntry.queries(name)(spark, SF))
      val joins = plan.toString.linesIterator.count(_.contains("Join"))
      assert(joins == 0, s"$name: expected a join-free window sweep:\n${plan.toString.take(4000)}")
      assert(plan.toString.contains("Window"), s"$name: no Window node")
    }
  }

  test("pipe_decontam_bloom: bloom prefilter sits below the first shuffle") {
    // the point of the bloom phase is that the corpus is filtered
    // MAP-SIDE: the UDF filter must be a descendant of the scan with no
    // Exchange between them — if a shuffle sneaks below it, the plan has
    // the semi-join's cost plus the bloom's, the worst of both
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // AQE hides stage contents behind leaf QueryStageExec nodes; flatten
    // through them so "below" means below in the REAL dataflow
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val all = flatten(executed(SparkEntry.queries("pipe_decontam_bloom")(spark, SF)))
    val udfFilters = all.collect {
      case f: FilterExec if f.condition.toString.contains("UDF") => f
    }
    assert(udfFilters.nonEmpty, s"no bloom UDF filter in plan")
    udfFilters.foreach { f =>
      val below = flatten(f.child)
      assert(!below.exists(p => p.isInstanceOf[Exchange] || p.isInstanceOf[QueryStageExec]),
        s"shuffle below the bloom prefilter:\n${f.toString.take(4000)}")
    }
    // PushPredicateThroughExplode must NOT turn the bloom UDF into an
    // interpreted exists() row guard — that guard re-evaluates the whole
    // gram pipeline outside codegen and doubles the UDF calls (measured
    // 16x at the sf10 tier). The UDF appears ONLY as the post-explode
    // filter.
    assert(!all.exists(_.toString.contains("exists(")),
      "bloom UDF was pushed into an exists() pre-filter")
  }

  test("pipe_token_budget: global windows only over the band frame; corpus prefix is band-partitioned") {
    // the scale contract of the two-level prefix sum: an unpartitioned
    // ordered window (Spark executes it on ONE task) may only ever see
    // the small band-aggregate frame, never corpus rows — and the
    // within-band running sum above the broadcast rejoin must be
    // partitioned
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val all = flatten(executed(SparkEntry.queries("pipe_token_budget")(spark, SF)))
    assert(all.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "band offsets must rejoin the corpus via broadcast")
    val windows = all.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected window operators in the plan")
    windows.foreach { w =>
      val below = flatten(w.child)
      if (w.partitionSpec.isEmpty) {
        // global window: must sit over the band aggregate, with no join
        // below (i.e. it consumes band rows, not corpus rows)
        assert(!below.exists(_.isInstanceOf[BroadcastHashJoinExec]) &&
          below.exists(_.isInstanceOf[BaseAggregateExec]),
          s"global-order window over corpus rows:\n${w.toString.take(2000)}")
      } else if (below.exists(_.isInstanceOf[BroadcastHashJoinExec])) {
        // the within-band running sum: partitioned by construction —
        // this branch just documents that it is the one over the join
        assert(w.partitionSpec.nonEmpty)
      }
    }
  }

  test("compressed scan statistics honor fileCompressionFactor") {
    // compressed bytes understate row size ~4x; a bgzf table must not
    // masquerade as a broadcast candidate when the user sets Spark's
    // compensation knob (default 1.0 = vanilla Spark semantics)
    val path = "src/test/resources/fixtures/fasta/test.fasta.gz"
    def sizeOf(): BigInt = graft.sources.GraftIO.read_fasta(spark, path)
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val k = "spark.sql.sources.fileCompressionFactor"
    val base = sizeOf()
    spark.conf.set(k, "4.0")
    try assert(sizeOf() == base * 4, s"base=$base scaled=${sizeOf()}")
    finally spark.conf.set(k, "1.0")
  }

  test("dedup_edit_verify: length-gap prune sits below the banded levenshtein") {
    val plan = fullPlanString(SparkEntry.queries("dedup_edit_verify")(spark, SF))
    // the banded (3-arg) metric is in the plan...
    assert(plan.contains("levenshtein"), s"no levenshtein in plan:\n$plan")
    // ...and the length-gap filter exists so the DP only ever sees
    // pairs that could qualify (lossless prune, see Dedup scaladoc)
    assert(plan.contains("abs("), s"length-gap prune missing:\n$plan")
  }

  test("ann_mrl_rerank: wide vectors stay out of the stage-1 top-C shuffle") {
    val plan = executed(SparkEntry.queries("ann_mrl_rerank")(spark, SF))
    // every exchange must not carry a vector column: stage 1 shuffles
    // (q_id, vec_id, pcos) only; vectors re-join after the candidate
    // cut (AQE folds exchanges into query stages — expand them)
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
      case q: QueryStageExec        => p +: allNodes(q.plan)
      case other                    => p +: other.children.flatMap(allNodes)
    }
    val shuffles = allNodes(plan).collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.nonEmpty, s"no shuffle found:\n$plan")
    shuffles.foreach { s =>
      val carried = s.output.map(_.name)
      assert(!carried.exists(n => n == "v" || n == "qv" || n == "__v" || n == "__qv"),
        s"vector column rides a shuffle: $carried")
    }
  }

  test("text_zipf_profile: head cut is TakeOrdered, never a global sort of the vocab") {
    val plan = fullPlanString(SparkEntry.queries("text_zipf_profile")(spark, SF))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K head cut is not TakeOrdered:\n$plan")
    // the only Sort allowed is the bounded K-row window's local sort
    val globalSorts = plan.linesIterator.count(l =>
      l.contains("Sort ") && l.contains("global=true"))
    assert(globalSorts == 0, s"global sort in zipf plan:\n$plan")
  }

  test("fmt_kmer_count: spectrum aggregation is partial before the shuffle") {
    val plan = fullPlanString(SparkEntry.queries("fmt_kmer_count")(spark, SF))
    // map-side partial aggregation bounds the shuffle by distinct-kmer
    // cardinality per task — the property that makes k-mer counting
    // feasible at corpus scale
    assert(plan.contains("partial_count") || plan.contains("HashAggregate(keys=[kmer"),
      s"no partial aggregation in k-mer plan:\n$plan")
  }

  test("codegen sweep: no graft expression in the fn_*/text_* battery falls back to interpreted eval") {
    // the ngram episode (round 3) showed CodegenFallback creeping in
    // silently under Generate; this sweeps every scalar/text entry and
    // fails if any graft-authored expression lacks doGenCode, or if the
    // Project evaluating one sits outside a WholeStageCodegen span
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, WholeStageCodegenExec}
    val names = SparkEntry.queries.keys.filter(n =>
      n.startsWith("fn_") || n.startsWith("text_")).toSeq.sorted
    assert(names.nonEmpty)
    names.foreach { name =>
      val plan = executed(SparkEntry.queries(name)(spark, SF))
      // 1) no graft-authored CodegenFallback expressions anywhere
      val fallbacks = plan.collect { case p =>
        p.expressions.flatMap(_.collect {
          case e: CodegenFallback if e.getClass.getName.startsWith("graft") =>
            e.getClass.getSimpleName
        })
      }.flatten.distinct
      assert(fallbacks.isEmpty, s"$name: graft expressions without codegen: $fallbacks")
      // 2) every Project evaluating a graft expression is codegen'd
      def graftProject(p: ProjectExec): Boolean =
        p.projectList.exists(_.collectFirst {
          case e if e.getClass.getName.startsWith("graft") => e
        }.isDefined)
      val naked = scala.collection.mutable.ArrayBuffer.empty[String]
      def walk(p: org.apache.spark.sql.execution.SparkPlan, inWsc: Boolean): Unit = p match {
        case w: WholeStageCodegenExec => w.children.foreach(walk(_, inWsc = true))
        case a: InputAdapter          => a.children.foreach(walk(_, inWsc = false))
        case pr: ProjectExec =>
          if (!inWsc && graftProject(pr)) naked += pr.verboseString(2)
          pr.children.foreach(walk(_, inWsc))
        case other => other.children.foreach(walk(_, inWsc))
      }
      walk(plan, inWsc = false)
      assert(naked.isEmpty,
        s"$name: graft-expression Project outside WholeStageCodegen:\n${naked.mkString("\n")}")
    }
  }

  test("pipe_ngram_novelty: joins meet at doc granularity, never on the gram key") {
    val plan = fullPlanString(SparkEntry.queries("pipe_ngram_novelty")(spark, SF))
    // the corpus-sized gram table must never be a join input — the
    // owner and per-doc aggregates meet at doc cardinality
    assert(!"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \\[g#".r
      .findFirstIn(plan).isDefined, s"join keyed on the gram column:\n$plan")
    // count joins in the FINAL plan section only (the AQE plan string
    // repeats the tree under '== Initial Plan ==')
    val finalSection = plan.split("== Initial Plan ==")(0)
    val joins = "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)".r
      .findAllIn(finalSection).length
    assert(joins == 1, s"expected exactly one doc-level join, got $joins:\n$plan")
  }

  test("rel_interval_makewindows: join-free single-aggregation profile") {
    val plan = fullPlanString(SparkEntry.queries("rel_interval_makewindows")(spark, SF))
    assert(!plan.contains("Join"), s"window profile plans a join:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("fmt_fasta_stats: N50 window runs over the length histogram, scalars broadcast") {
    val df = SparkEntry.queries("fmt_fasta_stats")(spark, SF)
    val plan = fullPlanString(df)
    // the two scalar-row combiners must be broadcast nested loops (1-row
    // sides), never a shuffled join
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"scalar combine fell back to a shuffled join:\n$plan")
    // the Window's child must aggregate by len (histogram) first
    val winIdx = plan.indexOf("Window")
    val aggBelow = plan.indexOf("HashAggregate", winIdx)
    assert(winIdx >= 0 && aggBelow > winIdx,
      s"N50 window does not sit over the length-histogram aggregate:\n$plan")
  }

  test("fmt_gff_parentage: the transcript map broadcasts onto the exon links") {
    val plan = fullPlanString(SparkEntry.queries("fmt_gff_parentage")(spark, SF))
    assert(plan.contains("BroadcastHashJoin"),
      s"exon->transcript hop is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"annotation join sort-merges:\n$plan")
  }

  test("fmt_gtf_splice_sites: intron derivation is one transcript window, no join") {
    val plan = fullPlanString(SparkEntry.queries("fmt_gtf_splice_sites")(spark, SF))
      .split("== Initial Plan ==").head
    assert(!plan.contains("Join"), s"splice-site derivation plans a join:\n$plan")
    assert("Window".r.findAllIn(plan).length == 1,
      s"expected exactly one lag() window over transcripts:\n$plan")
  }

  test("ann_filtered_topk: the label predicate reaches the parquet scan before any distance math") {
    val plan = fullPlanString(SparkEntry.queries("ann_filtered_topk")(spark, SF))
      .split("== Initial Plan ==").head
    assert(plan.contains("PushedFilters: [In(label") ||
      plan.contains("PushedFilters: [IsNotNull(label"),
      s"label filter not pushed into the embeddings scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"query fan fell back to a shuffled join:\n$plan")
  }

  test("fmt_sam_pileup: reference broadcasts onto the base stream, reads never sort-merge") {
    val plan = fullPlanString(SparkEntry.queries("fmt_sam_pileup")(spark, SF))
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"reference side is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"pileup join reshuffles the read corpus:\n$plan")
  }

  test("fmt_sam_markdup: one signature window over a codegen'd CIGAR fold — no join, no explode") {
    val plan = finalPlan(SparkEntry.queries("fmt_sam_markdup")(spark, SF))
    assert(!plan.contains("Join"), s"markdup plans a join:\n${plan.take(3000)}")
    assert(!plan.contains("Generate"),
      s"markdup exploded the CIGAR instead of folding it:\n${plan.take(3000)}")
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"markdup should plan exactly one window:\n${plan.take(3000)}")
  }

  test("ann_hamming_topk: queries broadcast; the corpus side never sort-merges") {
    val plan = fullPlanString(SparkEntry.queries("ann_hamming_topk")(spark, SF))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"hamming fan is not a broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"hamming corpus side sort-merges:\n${plan.take(3000)}")
  }

  test("rel_market_basket: per-part frequencies re-join by broadcast; pair join is equi on the order key") {
    val plan = fullPlanString(SparkEntry.queries("rel_market_basket")(spark, SF))
    assert(plan.contains("BroadcastHashJoin"),
      s"part frequencies not broadcast:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"),
      s"basket pairing degenerated into a cartesian product:\n${plan.take(3000)}")
  }

  test("pipe_triangle_stats: closure is a semi join; no cartesian product anywhere") {
    val plan = fullPlanString(SparkEntry.queries("pipe_triangle_stats")(spark, SF))
    assert(plan.contains("LeftSemi"),
      s"triangle closure is not a semi join:\n${plan.take(3000)}")
    // the only nested-loop allowed is the deliberate 1-row x 1-row
    // (triangles x wedges) combine; the wedge/closure joins must be keyed
    assert(!plan.contains("CartesianProduct"),
      s"triangle counting plans a cartesian product:\n${plan.take(3000)}")
    assert("BroadcastNestedLoopJoin".r.findAllIn(finalPlan(
        SparkEntry.queries("pipe_triangle_stats")(spark, SF))).size <= 1,
      s"more than the 1-row combine rides a nested loop:\n${plan.take(3000)}")
  }

  test("fmt_gvcf_combine: block lookup is an equi join on (sample, bin), never a range nested loop") {
    val plan = fullPlanString(SparkEntry.queries("fmt_gvcf_combine")(spark, SF))
    assert(!plan.contains("CartesianProduct"),
      s"gvcf combine plans a cartesian product:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin"),
      s"gvcf combine: expected hash joins:\n${plan.take(3000)}")
  }

  test("rel_interval_flank / rel_value_histogram: map-only arithmetic, partial agg before the shuffle") {
    for (name <- Seq("rel_interval_flank", "rel_value_histogram")) {
      val plan = fullPlanString(SparkEntry.queries(name)(spark, SF))
      assert(!plan.contains("Join"), s"$name plans a join:\n$plan")
      assert(!plan.contains("Window"), s"$name plans a window:\n$plan")
      // group-key cardinality is tiny (16 strand groups / ~20 bins), so
      // the shuffle must carry combined partials, not raw rows
      val exIdx = plan.indexOf("Exchange")
      val partialBelow = plan.indexOf("HashAggregate", exIdx)
      assert(exIdx >= 0 && partialBelow > exIdx,
        s"$name shuffles raw rows instead of combined partials:\n$plan")
    }
  }

  test("round-9 broadcast shapes: LCA taxonomy, demux whitelist, anomaly stats ride broadcast joins") {
    // the small side (13-node taxonomy / 4-barcode whitelist / 9-row
    // per-type stats) must broadcast — a shuffled join here reshuffles
    // the corpus-sized side on a key it doesn't need
    for (name <- Seq("fmt_taxon_lca", "fmt_fastq_demux", "rel_anomaly_hours")) {
      val plan = fullPlanString(SparkEntry.queries(name)(spark, SF))
      assert(plan.contains("Broadcast"), s"$name plans no broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name fell back to sort-merge on a tiny dimension:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
  }

  test("rel_weighted_median: ordered window consumes the collapsed (type, value) histogram, not raw rows") {
    val plan = fullPlanString(SparkEntry.queries("rel_weighted_median")(spark, SF))
    // the cumulative-weight window must sit ABOVE the (event_type, v)
    // hash aggregate — a window over raw events is the α≈1.0 shape
    // ScaleProbe caught in round 9. The executed-plan string renders a
    // node above its children, so window-index < histogram-agg-index
    // pins the ordering (WindowExec hides inside AQE query stages, so
    // a typed collect can't see it).
    val winIdx = "Window \\[sum\\(w#\\d+L\\) windowspecdefinition\\(event_type"
      .r.findFirstMatchIn(plan).map(_.start)
    assert(winIdx.isDefined, s"no type-partitioned cum-weight window:\n$plan")
    val histIdx = "HashAggregate\\(keys=\\[event_type#\\d+, v#\\d+L\\]"
      .r.findAllMatchIn(plan).map(_.start).toSeq
    assert(histIdx.exists(_ > winIdx.get),
      s"cumulative window runs over raw rows, not the (type, value) histogram:\n$plan")
  }

  test("rel_hhi_by_segment: customer dim broadcasts; two keyed aggs with map-side partials") {
    val plan = fullPlanString(SparkEntry.queries("rel_hhi_by_segment")(spark, SF))
    assert(plan.contains("BroadcastHashJoin"),
      s"customer dimension not broadcast onto orders:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dim join fell to sort-merge:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"),
      s"segment agg shuffles raw rows (no map-side partials):\n$plan")
  }

  test("rel_cusum_changepoint / rel_log2_histogram / fmt_vcf_sfs_folded / fmt_pdb_gyration: keyed shapes, no cartesian") {
    // cusum: one type-partitioned window + broadcast totals; log2 /
    // sfs_folded / gyration: map-only projection + one partial agg
    for (name <- Seq("rel_cusum_changepoint", "rel_log2_histogram",
        "fmt_vcf_sfs_folded", "fmt_pdb_gyration")) {
      val plan = fullPlanString(SparkEntry.queries(name)(spark, SF))
      assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
        s"$name plans a pairwise/sort-merge shape:\n$plan")
    }
    val cusum = fullPlanString(SparkEntry.queries("rel_cusum_changepoint")(spark, SF))
    assert("windowspecdefinition\\(event_type".r.findFirstIn(cusum).isDefined,
      s"cusum window is not partitioned by event_type:\n$cusum")
    assert(cusum.contains("BroadcastHashJoin"),
      s"cusum totals do not broadcast:\n$cusum")
  }

  test("round-10 monitoring ops: type-partitioned windows, partial aggs, no pairwise shapes") {
    // bollinger/autocorr windows must be keyed by event_type (an
    // unpartitioned window drags the hourly frame to one task); the
    // count/text aggs must combine map-side; nothing plans a cartesian
    for (name <- Seq("rel_bollinger_bands", "rel_daily_autocorr")) {
      val plan = fullPlanString(SparkEntry.queries(name)(spark, SF))
      assert("windowspecdefinition\\(event_type".r.findFirstIn(plan).isDefined,
        s"$name window is not partitioned by event_type:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian:\n$plan")
    }
    for (name <- Seq("rel_rate_correlation", "rel_sign_runs",
        "text_simpson_diversity", "text_hapax_census",
        "fmt_newick_rf_distance")) {
      val plan = fullPlanString(SparkEntry.queries(name)(spark, SF))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name degenerated to a pairwise join:\n$plan")
    }
    // benford's 1-row-total fan is a deliberate bounded BNLJ (9 digit
    // rows × one aggregate row); only a true cartesian would be wrong
    val benford = fullPlanString(SparkEntry.queries("rel_benford_first_digit")(spark, SF))
    assert(!benford.contains("CartesianProduct"),
      s"benford plans a cartesian:\n$benford")
    val simpson = fullPlanString(SparkEntry.queries("text_simpson_diversity")(spark, SF))
    assert(simpson.contains("partial_sum") || simpson.contains("partial_count"),
      s"simpson aggregation shuffles raw tokens without map-side partials:\n$simpson")
  }

  test("fmt_fastq_demux: variant-key BroadcastHashJoin, never a Hamming-theta BNLJ") {
    // the 1-mismatch whitelist match must be enumerate-variants +
    // equi-join (reads side = hash probe, O(reads) at any whitelist
    // size), not a reads × whitelist BroadcastNestedLoopJoin on the
    // Hamming predicate — fine at 4 barcodes, wrong at 384–3072
    val plan = fullPlanString(SparkEntry.queries("fmt_fastq_demux")(spark, SF))
    assert(plan.contains("BroadcastHashJoin"),
      s"demux whitelist match is not a broadcast EQUI-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"demux degenerated to a reads × whitelist nested loop:\n$plan")
    // the probe key is the enumerated variant column
    assert("BroadcastHashJoin \\[bc6".r.findFirstIn(plan).isDefined,
      s"demux hash join is not keyed on the barcode prefix:\n$plan")
  }

  test("fmt_pdb_contacts: chain-keyed equi self-join, never an all-pairs nested loop") {
    val plan = fullPlanString(SparkEntry.queries("fmt_pdb_contacts")(spark, SF))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"contact join degenerated to all-pairs:\n$plan")
  }

  test("rel_time_gap_fill: spine comes from a 1-row aggregate, not a global window") {
    val plan = fullPlanString(SparkEntry.queries("rel_time_gap_fill")(spark, SF))
    // the LOCF window must be partitioned by event_type; an empty
    // PARTITION BY would drag every row to one task. Assert the
    // partition key POSITIVELY (windowspecdefinition(event_type...) —
    // the unpartitioned form never renders as empty parens, so a
    // negative match would be vacuous.
    assert("windowspecdefinition\\(event_type".r.findFirstIn(plan).isDefined,
      s"gap fill window is not partitioned by event_type:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("Broadcast"),
      s"min/max spine bounds not broadcast:\n$plan")
  }

  test("minhash LSH: band self-join is keyed on the band bucket, positively") {
    // the sf10 decade evidence rests on the pair space staying
    // band-bounded: the self-join must be an EQUI-join whose keys are
    // the band-bucket column (bb), not a theta condition that Catalyst
    // would have to nested-loop. Assert the keys by name, not just the
    // absence of bad node types.
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val all = flatten(executed(SparkEntry.queries("dedup_minhash_lsh")(spark, SF)))
    val bandJoin = all.collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.toString.startsWith("bb#")) => j
    }
    assert(bandJoin.nonEmpty,
      s"no equi-join keyed on the band bucket (bb) in the plan:\n" +
        all.map(_.nodeName).mkString(", "))
  }

  test("connected components: the doubling loop sizes its own shuffle partitioning") {
    // the round-10 sf10 A/B inversion: a global partition count tuned
    // for corpus-sized shuffles (128+) triples the CC loop, whose cost
    // is (scheduling floor × partitions) per round over a tiny frame.
    // The loop must therefore self-size from the measured edge count —
    // with the global knob pinned absurdly high, the materialized label
    // frame must come out at the self-sized count, not the global one.
    val pairs = spark.range(0, 2000)
      .selectExpr("id AS id_a", "id + 1 AS id_b") // one long chain
    val labels = graft.pipeline.Exec.withShufflePartitions(spark, 509) {
      graft.pipeline.CorpusOps.connectedComponents(pairs)
    }
    assert(labels.rdd.getNumPartitions <= 8,
      s"CC loop inherited the global shuffle knob: " +
        s"${labels.rdd.getNumPartitions} partitions")
    // correctness unchanged: a 2001-node chain is one component rooted at 0
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val row = labels.agg(max(col("label")), count(lit(1))).collect()(0)
    assert(row.getLong(0) == 0L && row.getLong(1) == 2001L)
  }

  test("kendall/mann-kendall: the O(n^2) pair stage joins broadcast AGGREGATED frames") {
    // both trend tests collapse the corpus to a calendar-bounded daily
    // frame before the pairwise stage; the pair join must be a
    // broadcast join (the frame is tiny by construction) and the plan
    // must keep exactly ONE corpus-scale parquet scan per side-sharing
    // aggregate — i.e. no CartesianProduct over base rows.
    for (name <- Seq("rel_kendall_tau", "rel_mann_kendall")) {
      val plan = fullPlanString(SparkEntry.queries(name)(spark, SF))
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$name pair stage not broadcast:\n$plan")
      assert(plan.contains("partial_"),
        s"$name daily agg lost its map-side partial phase:\n$plan")
    }
  }

  test("rel_winsorized_mean: bounds come back as a broadcast, corpus scanned map-side") {
    val plan = fullPlanString(SparkEntry.queries("rel_winsorized_mean")(spark, SF))
    assert(plan.contains("BroadcastHashJoin"),
      s"winsor bounds join not broadcast:\n$plan")
    // the rank window that finds the bounds is type-partitioned, never global
    assert("windowspecdefinition\\(event_type".r.findFirstIn(plan).isDefined,
      s"winsor rank window not partitioned by event_type:\n$plan")
  }

  test("ann_centroid_shift: one corpus pass; global centroid re-aggregates the label frame") {
    // the embeddings parquet must be scanned exactly once — the global
    // centroid is a re-aggregation of the per-label sums, not a second
    // corpus explode.
    val plan = fullPlanString(SparkEntry.queries("ann_centroid_shift")(spark, SF))
    // the label-sum frame is barriered, so the downstream plan reads the
    // materialized frame (ExistingRDD) and the parquet corpus never
    // appears twice — or at all — in the final plan
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 0 && plan.contains("ExistingRDD"),
      s"expected barriered label-sum frame (0 parquet scans), got $scans:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"global-centroid join not broadcast:\n$plan")
  }

  test("ann_label_margin: k x corpus scoring via broadcast centroids, one corpus scan") {
    // the confusable-mass census must not self-join the corpus: the
    // packed centroid frame is barriered (ExistingRDD) and fans onto
    // the corpus as ONE broadcast row (a Cross BNLJ, the assignTo
    // packed-fan shape), so the embeddings parquet appears exactly
    // once (the scoring pass) and the per-dim explode + corpus·k·64
    // re-aggregation of the old shape cannot sneak back in.
    val plan = fullPlanString(SparkEntry.queries("ann_label_margin")(spark, SF))
    // count scans in the AQE FINAL plan only (the string repeats the
    // dataflow under "== Initial Plan ==")
    val finalPlan = plan.split("== Initial Plan ==").head
    val scans = "Scan parquet".r.findAllIn(finalPlan).length
    assert(scans == 1, s"expected 1 embeddings scan, got $scans:\n$finalPlan")
    assert(plan.contains("BroadcastExchange"),
      s"centroid fan not broadcast:\n$plan")
    val bnlj = plan.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("Cross")),
      s"non-packed nested loop in the margin plan:\n${bnlj.mkString("\n")}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), s"corpus-sized join in plan:\n$plan")
    // r13: the scoring projection runs the codegen'd kernel, not the
    // interpreted DECIMAL zip_with/aggregate HOF chain (verdict item 4)
    assert(finalPlan.contains("graft_label_margin_scores"),
      s"native margin kernel missing from the scoring projection:\n$finalPlan")
    assert(!finalPlan.contains("zip_with"),
      s"interpreted HOF back in the scoring projection:\n$finalPlan")
  }

  test("Exec.spread: no-op on a pre-widened frame, repartition only on narrow scans") {
    import org.apache.spark.sql.functions.col
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // pre-widened (>= half the session parallelism): must pass through
    // UNTOUCHED — the guard is what makes every spread call site a
    // no-op on a real multi-file deployment (verdict item 5)
    val wide = spark.range(1000).toDF("doc_id").repartition(target)
    assert(graft.pipeline.Exec.spread(wide, "doc_id") eq wide,
      "spread added an exchange to an already-wide frame")
    // a single staged parquet file scans as one partition: spread must
    // repartition it to the session parallelism
    val dir = java.nio.file.Files.createTempDirectory("spread-narrow").toString
    spark.range(1000).toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(dir)
    val narrow = spark.read.parquet(dir)
    val sprd = graft.pipeline.Exec.spread(narrow, "doc_id")
    assert(sprd ne narrow, "spread ignored a narrow single-file scan")
    assert(sprd.rdd.getNumPartitions == target,
      s"expected $target partitions, got ${sprd.rdd.getNumPartitions}")
  }

  test("Exec.spread: many small files that scan as one partition still get spread") {
    // Spark packs small files into few partitions (maxPartitionBytes +
    // openCostInBytes), so a file count >= half the target proves nothing
    val dir = java.nio.file.Files.createTempDirectory("spread-small").toString
    spark.range(64).toDF("doc_id").repartition(8).write.mode("overwrite").parquet(dir)
    val k = "spark.sql.files.minPartitionNum"
    spark.conf.set(k, "1")
    try graft.pipeline.Exec.withShufflePartitions(spark, 16) {
      val narrow = spark.read.parquet(dir)
      assert(narrow.inputFiles.length * 2 >= 16, "fixture needs >= target/2 files")
      assert(narrow.rdd.getNumPartitions <= 2, "fixture should scan as 1-2 partitions")
      val sprd = graft.pipeline.Exec.spread(narrow, "doc_id")
      assert(sprd.rdd.getNumPartitions == 16,
        s"expected 16 partitions, got ${sprd.rdd.getNumPartitions}")
    } finally spark.conf.unset(k)
  }

  test("rel_pareto_share / rel_discount_lift: rank windows and baselines stay off the corpus") {
    // pareto's global rank runs on the per-customer AGGREGATE frame
    // (partial_sum below the shuffle proves the corpus collapsed
    // map-side first); discount_lift's zero-band baseline comes back
    // as a broadcast, not a re-scan join keyed on the corpus.
    val pareto = fullPlanString(SparkEntry.queries("rel_pareto_share")(spark, SF))
    assert(pareto.contains("partial_sum"),
      s"pareto lost its map-side partial agg:\n$pareto")
    val lift = fullPlanString(SparkEntry.queries("rel_discount_lift")(spark, SF))
    assert(lift.contains("BroadcastNestedLoopJoin") ||
      lift.contains("BroadcastExchange"),
      s"discount baseline not broadcast:\n$lift")
    assert(lift.contains("partial_sum") || lift.contains("partial_count"),
      s"discount agg lost its map-side partial phase:\n$lift")
  }

  test("rel_rfm_segments: quartile thresholds broadcast, no rank window anywhere") {
    // the design promise: segmentation via a one-row threshold frame,
    // never a global ntile sort — the plan must carry ZERO window
    // operators and at least two broadcast exchanges (anchor day +
    // thresholds) back onto the customer frame.
    val plan = fullPlanString(SparkEntry.queries("rel_rfm_segments")(spark, SF))
    assert(!plan.contains("Window"), s"rfm grew a window operator:\n$plan")
    val bcasts = "BroadcastExchange".r.findAllIn(
      plan.split("== Initial Plan ==").head).length
    assert(bcasts >= 2, s"expected >=2 broadcast exchanges, got $bcasts:\n$plan")
    assert(plan.contains("partial_"),
      s"customer rollup lost its map-side partial phase:\n$plan")
  }

  test("rel_cdc_latest: last-write-wins is a keyed agg with partials, not a sort window") {
    // one max(struct) agg per key — partial_max below the exchange is
    // what keeps per-key history off the shuffle at 100 TB; a
    // row_number-over-user formulation would show WindowExec + Sort.
    val plan = fullPlanString(SparkEntry.queries("rel_cdc_latest")(spark, SF))
    assert(!plan.contains("Window"), s"cdc compaction fell back to a window:\n$plan")
    assert(plan.contains("partial_max"),
      s"cdc agg lost its map-side partial max:\n$plan")
  }

  test("ann_knn_graph: neighbor search stays cell-bounded, census reads the barriered graph") {
    // the kNN self-join must be an EQUI-join on the trained quantizer
    // cell id (never a cartesian / nested-loop corpus product) — the
    // property that keeps the pair space sum(|cell|^2) ~ 64n linear.
    // Pinned on the un-barriered edge frame, where the join is visible.
    val edges = queries.Similarity.knnGraphEdges(spark, SF)
    val ePlan = fullPlanString(edges)
    assert(!ePlan.contains("CartesianProduct") &&
      !ePlan.contains("BroadcastNestedLoopJoin"),
      s"knn join lost its cell equi-key:\n$ePlan")
    assert(ePlan.contains("SortMergeJoin") ||
      ePlan.contains("ShuffledHashJoin") || ePlan.contains("BroadcastHashJoin"),
      s"no hash/merge equi-join on the cell id:\n$ePlan")
    // and the reciprocity census must re-read the barriered kNN frame
    // (ExistingRDD), not the parquet corpus.
    val plan = fullPlanString(SparkEntry.queries("ann_knn_graph")(spark, SF))
    assert(!plan.contains("CartesianProduct"),
      s"knn join lost its cell equi-key:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"census re-derives the kNN frame instead of reading the barrier:\n$plan")
    val scans = "Scan parquet".r.findAllIn(
      plan.split("== Initial Plan ==").head).length
    assert(scans == 0, s"census re-scanned parquet past the barrier:\n$plan")
  }

  test("fmt_mash_jaccard: sketch-to-pair fan rides equi-joins, not an OR-condition BNLJ") {
    // each sketch row must hash onto the broadcast pair frame twice
    // (A side, B side) — an OR join key would force a
    // BroadcastNestedLoopJoin scanning every sketch row against all
    // G^2/2 pairs.
    val plan = fullPlanString(SparkEntry.queries("fmt_mash_jaccard")(spark, SF))
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"pair fan fell back to a nested-loop OR join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"fmt_mash_jaccard:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"pair frame not broadcast onto the sketches:\n$plan")
  }

  test("new pair-stage entries broadcast their bounded frames") {
    // text_source_vocab_jaccard: 20x50 head-term sets; mm_dhash_pairs:
    // 16-byte hash rows; pipe_link_prediction: candidate anti-join.
    // All pair fans run over bounded frames and must be broadcast
    // joins — a SortMergeJoin here means the bounded side shuffled.
    // the dhash theta join (d2 > d1) has no equi-key, so its broadcast
    // form is the nested-loop over the 16-byte hash frame — bounded by
    // design, same as mm_ahash_pairs
    for (name <- Seq("text_source_vocab_jaccard", "mm_dhash_pairs")) {
      val plan = fullPlanString(SparkEntry.queries(name)(spark, SF))
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$name pair stage not broadcast:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
    val lp = fullPlanString(SparkEntry.queries("pipe_link_prediction")(spark, SF))
    assert(!lp.contains("CartesianProduct"), s"link prediction:\n$lp")
    assert(lp.contains("LeftAnti"),
      s"existing-edge exclusion lost its anti join:\n$lp")
  }

  test("pipe_compaction_plan: the packing sum is a source-partitioned window") {
    // the manifest running sum must parallelize per table partition —
    // a global ORDER BY window would single-partition the manifest.
    val plan = fullPlanString(SparkEntry.queries("pipe_compaction_plan")(spark, SF))
    assert("windowspecdefinition\\(source".r.findFirstIn(plan).isDefined,
      s"packing window not partitioned by source:\n$plan")
    assert(plan.contains("partial_"),
      s"group census lost its map-side partial agg:\n$plan")
  }

  test("rel_seasonality_strength: means broadcast back, corpus aggregated once") {
    // the eta^2 decomposition re-joins two calendar-bounded frames to
    // the daily frame — both joins must be broadcast, and the daily
    // collapse must keep its partial phase.
    val plan = fullPlanString(SparkEntry.queries("rel_seasonality_strength")(spark, SF))
    assert(plan.contains("BroadcastHashJoin"),
      s"mean join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"calendar-bounded frame fell back to sort-merge:\n$plan")
    assert(plan.contains("partial_"),
      s"daily agg lost its map-side partial phase:\n$plan")
  }

  test("fmt_gfa_bubbles: degree joins read the barriered edge frame") {
    // the edge frame is barriered once; the fork/branch/sink joins must
    // consume the materialized frame (ExistingRDD), never re-run the
    // GFA scan per join arm.
    val plan = fullPlanString(SparkEntry.queries("fmt_gfa_bubbles")(spark, SF))
    assert(plan.contains("ExistingRDD"),
      s"degree joins re-derive the edge scan:\n$plan")
    assert(!plan.contains("BatchScan gfa"),
      s"a join arm re-ran the GFA scan past the barrier:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("fmt_paf_synteny: chain windows are partitioned by (query, target, strand)") {
    // gaps-islands over the alignment frame — the lag/run-sum windows
    // must carry the 3-column partition spec (parallel per chain key),
    // never a global sort.
    val plan = fullPlanString(SparkEntry.queries("fmt_paf_synteny")(spark, SF))
    assert("windowspecdefinition\\(query_name".r.findFirstIn(plan).isDefined,
      s"synteny window not partitioned by chain key:\n$plan")
  }

  test("text_source_cosine: pair stage is an equi-join on the bigram key, norms broadcast") {
    // the pairwise-source cosine survives 100 TB only if the pair space
    // is generated by an EQUI-join on the bigram type key (bounded by
    // shared-type cardinality), never a source x source theta scan, and
    // the per-source norms come back as broadcasts onto the tiny pair
    // frame.
    val plan = fullPlanString(SparkEntry.queries("text_source_cosine")(spark, SF))
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"norm joins not broadcast:\n$plan")
    assert("SortMergeJoin \\[bg#|BroadcastHashJoin \\[bg#|\\[coalesce\\(bg#".r
        .findFirstIn(plan).isDefined ||
      plan.contains("hashpartitioning(bg#"),
      s"pair join not keyed on the bigram column:\n$plan")
  }

  test("rel_burst_orders: the velocity window is partitioned per customer") {
    // the RANGE frame must carry the customer partition spec — a
    // global-ordered window here would serialize the whole order
    // stream through one task at 100 TB.
    val plan = fullPlanString(SparkEntry.queries("rel_burst_orders")(spark, SF))
    assert("windowspecdefinition\\(o_custkey".r.findFirstIn(plan).isDefined,
      s"velocity window not partitioned by customer:\n$plan")
    assert(plan.contains("partial_"),
      s"census agg lost its map-side partial phase:\n$plan")
  }

  test("rel_cohort_ltv: the LTV window is partitioned per cohort") {
    val plan = fullPlanString(SparkEntry.queries("rel_cohort_ltv")(spark, SF))
    assert("windowspecdefinition\\(m0".r.findFirstIn(plan).isDefined,
      s"LTV window not partitioned by cohort month:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"\n$plan")
  }

  test("rel_ks_two_sample: the corpus collapses to the bin frame before any window") {
    // the ECDF window is single-partition BY DESIGN (price-bounded
    // frame); what must hold structurally is that the window's input
    // is the aggregated bin frame — i.e. a partial/final agg pair sits
    // below the Window, and the orders->customer join broadcast the
    // dimension side.
    val plan = fullPlanString(SparkEntry.queries("rel_ks_two_sample")(spark, SF))
    assert(plan.contains("partial_"),
      s"bin agg lost its map-side partial phase:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"orders->customer join not broadcast:\n$plan")
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"no aggregate below the ECDF window:\n$plan")
  }

  test("dedup_method_agreement: the MinHash side stays banded (bb-keyed equi-join)") {
    // the agreement audit must inherit the LSH scale shape — the
    // J>=0.8 side generated by the band-bucket equi-join, not an
    // all-pairs scan (the SimHash side IS bounded all-pairs by the
    // audit-slice predicate, which is its documented design).
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: kids.flatMap(flatten)
    }
    val all = flatten(executed(
      SparkEntry.queries("dedup_method_agreement")(spark, SF)))
    val bandJoin = all.collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.toString.startsWith("bb#")) => j
    }
    assert(bandJoin.nonEmpty,
      s"MinHash side lost the band-bucket equi-join:\n" +
        all.map(_.nodeName).mkString(", "))
  }
}
