package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, DataFrame-in / DataFrame-out corpus operators — the API a
  * user calls on their OWN tables, and the one implementation the
  * oracle-checked `SparkEntry` entries run over the test tables, so the
  * correctness gate covers this surface too.
  *
  * All operators are shuffle-keyed and driver-light by construction
  * (see SCALE.md): near-dup candidate generation is banded LSH (no
  * pair space), components converge in O(log diameter) keyed-join
  * rounds, interval merge is a window sweep with optional within-key
  * range-bucketing.
  *
  * Oracle discipline: thresholds are integer comparisons
  * (5*inter >= 4*union, i.e. J >= 0.8) and scores are summed as
  * integer micro-units, so no float boundary or summation order can
  * flip a row between engines.
  */
object CorpusOps {

  /** The dedup/component operators key their shuffles and labels on
    * long ids; a non-integral id column would cast to null and silently
    * corrupt results (every row in one null partition, joins matching
    * nothing) — fail loudly instead. */
  private def requireIntegralId(df: DataFrame, idCol: String, method: String): Unit = {
    import org.apache.spark.sql.types._
    // resolve the way Spark's analyzer does by default: case-insensitive
    val field = df.schema.find(_.name.equalsIgnoreCase(idCol)).getOrElse(
      throw new IllegalArgumentException(
        s"CorpusOps.$method: no column '$idCol' in [${df.columns.mkString(", ")}]"))
    val ok = field.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case d: DecimalType => d.scale == 0 && d.precision <= 18 // lossless in a long
      case _ => false
    }
    require(ok,
      s"CorpusOps.$method requires an integral id column; '$idCol' is " +
        s"${field.dataType.simpleString}. Derive one first (e.g. xxhash64 of a " +
        "string key, or monotonically_increasing_id with a join back).")
  }

  /** doc_id + distinct 3-word shingles from any (doc_id, text) frame
    * (one kernel call per row,
    * [[graft.functions.PipelineKernels.wordShingles]]). */
  private[graft] def shingleSets(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(docs.sparkSession)
    docs
      .withColumn("w", split(col("text"), " "))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), call_function("graft_word_shingles", col("w")).as("sh"))
  }

  /** A shingle-set frame plus `bands`, its 16 banded MinHash bucket
    * keys from one per-row kernel call
    * ([[graft.functions.PipelineKernels.minhashBands]]): 32 permutation
    * mins folded into 16 two-row bands; docs with J >= 0.8 collide in
    * some band with near-certainty (r=2, b=16: the miss probability at
    * the observed J >= 0.98 dup pairs is ~1e-24). Map-only, so a batch
    * index and a stream's rows compute identical keys. */
  private[graft] def withBands(sets: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.registerAll(sets.sparkSession)
    sets.withColumn("bands", call_function("graft_minhash_bands", col("sh")))
  }

  /** (doc_id, bb) banded MinHash bucket keys of a shingle-set frame —
    * this IS the LSH index: at scale it is computed once and
    * persisted, then self-joined (full dedup) or probed by a new batch
    * (incremental dedup). */
  private[graft] def bandBucketsOf(sets: DataFrame): DataFrame =
    withBands(sets).select(col("doc_id"), explode(col("bands")).as("bb"))

  /** Verified near-duplicate pairs over 3-word shingles via
    * MinHash(32)+LSH(16x2) candidate banding and exact verification.
    * Input: any frame with an integral id column and a string text
    * column. Output: (id_a, id_b, inter, uni) with Jaccard >= 4/5,
    * integer-exact (`5*inter >= 4*uni`). The banding miss probability
    * makes candidates-then-verify equal the exhaustive pair set (the
    * dedup_minhash_lsh oracle).
    */
  def nearDupPairs(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    requireIntegralId(docs, idCol, "nearDupPairs")
    val shingles = shingleSets(
      docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text")))
    // localCheckpoint, not cache: both materialize once, but checkpoint
    // blocks are released by the ContextCleaner as soon as the plan is
    // unreferenced (cache() pins them for the session), and the truncated
    // lineage stops the self-join below from re-deriving each side.
    // Trade-off at cluster scale: no lineage means an executor loss costs
    // a stage retry from the checkpoint job instead of a partition
    // recompute — acceptable for a 1-job window; a multi-hour pipeline
    // would use reliable checkpointing to the DFS instead. The band keys
    // are a per-row kernel, so they ride in the same barrier: the
    // bucket self-join reads them, the verify join reads `sh`.
    val sets = withBands(shingles).transform(Exec.barrier)
    // Candidate pairs via an equi-self-join on the bucket key. Unlike a
    // per-bucket collect_set + pair explosion (one task owns the whole
    // bucket; needs a cap that silently DROPS hot buckets), the join
    // produces the exact candidate set and a stop-shingle-skewed bucket
    // is split across tasks by AQE's skew-join handling — pathological
    // skew degrades speed, never results.
    val bucketed = sets.select(col("doc_id"), explode(col("bands")).as("bb"))
    val cand = bucketed.as("x").join(bucketed.as("y"),
        col("x.bb") === col("y.bb") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b")).distinct()
    val a = sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        (size(col("sh_a")) + size(col("sh_b"))
          - size(array_intersect(col("sh_a"), col("sh_b")))).as("uni"))
      .where(col("inter") * 5 >= col("uni") * 4) // J >= 0.8
  }

  /** Containment pairs — the near-superset detector Jaccard misses: a
    * doc lifted whole into a 10x longer one has J ~ 0.1 but containment
    * ~ 1.0 (Broder's resemblance-vs-containment distinction). Pairs
    * whose 3-word-shingle containment inter / min(|A|, |B|) reaches
    * `minPct`/100, decided by integer cross-multiplication. Bounded
    * posting-join shape: candidates are pairs sharing a shingle, sizes
    * broadcast back; see SCALE.md on hot-shingle skew.
    * Output: (id_a, id_b, inter, sz_a, sz_b), id_a < id_b. */
  def containmentPairs(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", minPct: Int = 90): DataFrame = {
    requireIntegralId(docs, idCol, "containmentPairs")
    require(minPct >= 1 && minPct <= 100,
      s"CorpusOps.containmentPairs: minPct ($minPct) must be in [1, 100]")
    val posting = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .withColumn("w", split(col("text"), " "))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("shingle"))
      .distinct()
      .transform(Exec.barrier) // 3 consumers: both join sides + sizes
    val sizes = posting.groupBy("doc_id").agg(count(lit(1)).cast("int").as("sz"))
    posting.as("pa").join(posting.as("pb"),
        col("pa.shingle") === col("pb.shingle") && col("pa.doc_id") < col("pb.doc_id"))
      .groupBy(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"))
      .agg(count(lit(1)).cast("int").as("inter"))
      .join(broadcast(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a"))), "id_a")
      .join(broadcast(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b"))), "id_b")
      .where(col("inter") * 100 >= least(col("sz_a"), col("sz_b")) * minPct)
      .select(col("id_a"), col("id_b"), col("inter"), col("sz_a"), col("sz_b"))
  }

  /** Edit-distance-verified near-dup pairs — the exact-confirmation
    * stage of a fuzzy-dedup pipeline (sketches nominate, an exact
    * string metric confirms). Shingle-posting candidates survive iff
    * `100 * levenshtein(a, b) <= maxPct * max(len_a, len_b)`,
    * integer-exact.
    *
    * Scale: two lossless prunes keep the O(len_a * len_b) DP off almost
    * every candidate. (1) Length gap: levenshtein >= |len_a - len_b|,
    * so pairs whose gap alone exceeds the budget are dropped by a
    * comparison on two ints (64% of candidates on the gate corpus).
    * (2) The DP itself runs BANDED via Spark's 3-arg `levenshtein`
    * (threshold = the pair's edit budget): it explores only the
    * +-threshold diagonal band and bails to -1 on overflow, turning the
    * worst case into O(threshold * len) per pair. Both prunes change
    * cost only, never the kept set, so the oracle is the plain
    * unbanded metric over the same candidates.
    * Output: (id_a, id_b, dist, len_max), id_a < id_b. */
  def editDistancePairs(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", maxPct: Int = 20): DataFrame = {
    requireIntegralId(docs, idCol, "editDistancePairs")
    require(maxPct >= 1 && maxPct <= 100,
      s"CorpusOps.editDistancePairs: maxPct ($maxPct) must be in [1, 100]")
    // barrier: the doc frame feeds the posting build plus two text-join
    // sides; without it the candidate self-join re-derives each.
    val d = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .transform(Exec.barrier)
    val posting = d
      .withColumn("w", split(col("text"), " "))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("shingle"))
      .distinct()
    val cand = posting.as("pa").join(posting.as("pb"),
        col("pa.shingle") === col("pb.shingle") && col("pa.doc_id") < col("pb.doc_id"))
      .select(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"))
      .distinct()
    cand
      .join(d.select(col("doc_id").as("id_a"), col("text").as("ta"),
        length(col("text")).as("len_a")), "id_a")
      .join(d.select(col("doc_id").as("id_b"), col("text").as("tb"),
        length(col("text")).as("len_b")), "id_b")
      .withColumn("len_max", greatest(col("len_a"), col("len_b")).cast("int"))
      .withColumn("budget", expr(s"cast(len_max * $maxPct div 100 as int)"))
      .where(abs(col("len_a") - col("len_b")) <= col("budget"))
      .withColumn("dist", expr("levenshtein(ta, tb, budget)"))
      .where(col("dist") >= 0) // 3-arg levenshtein: -1 = band overflow
      .select(col("id_a"), col("id_b"), col("dist"), col("len_max"))
  }

  /** Zipf/Heaps corpus profile: least-squares fit of
    * ln(freq) ~ a + slope * ln(rank) over the `topK` most frequent
    * tokens (a healthy natural corpus sits near slope -1; boilerplate
    * or templated spam pushes it away), plus vocab / total-token
    * counts. One row: (n_terms, vocab, total_tokens, sx, sy, sxy, sxx,
    * zipf_slope). See the text_zipf_profile entry comment for the
    * scale/determinism rationale. */
  def zipfProfile(docs: DataFrame, textCol: String = "text",
                  topK: Int = 1000): DataFrame = {
    require(docs.columns.contains(textCol),
      s"CorpusOps.zipfProfile: no column '$textCol'")
    require(topK >= 2, s"CorpusOps.zipfProfile: topK ($topK) must be >= 2")
    val tok = docs
      .select(explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .transform(Exec.barrier) // feeds freq + corpus totals
    val freq = tok.groupBy("tok").agg(count(lit(1)).as("c"))
    // TakeOrdered top-K, then one window bounded by the constant K
    val top = freq.orderBy(col("c").desc, col("tok").asc).limit(topK)
    val ranked = top.withColumn("rnk",
      row_number().over(Window.orderBy(col("c").desc, col("tok").asc)))
    val pts = ranked.selectExpr(
      "cast(round(1e6 * ln(rnk)) as bigint) AS x",
      "cast(round(1e6 * ln(c)) as bigint) AS y")
    val sums = pts.agg(
      count(lit(1)).cast("int").as("n_terms"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
    val totals = tok.agg(count(lit(1)).as("total_tokens"),
      countDistinct(col("tok")).as("vocab"))
    sums.crossJoin(totals).selectExpr(
      "n_terms", "vocab", "total_tokens", "sx", "sy", "sxy", "sxx",
      "round((cast(n_terms as double) * sxy - cast(sx as double) * sy) / " +
        "(cast(n_terms as double) * sxx - cast(sx as double) * sx), 6) AS zipf_slope")
  }

  /** Threshold-sweep calibration of a score-based filter: for every
    * candidate cut t (bucket floors of `scoreCol`), the confusion
    * counts of "keep if score >= t" against the boolean `labelCol` —
    * the table that turns threshold-picking from a guess into a read.
    * Output: (threshold, tp, fp, fn, tn), integer-exact;
    * precision/recall are display-time divisions.
    *
    * Scale: per-bucket (n_pos, n_neg) is one keyed agg with map-side
    * partials; the running sums run over the BUCKET frame, whose size
    * is range/`bucket` — independent of corpus size (never a
    * corpus-wide ordered window). fn/tn derive from broadcast totals.
    * t is always a bucket floor, so score >= t iff floor(score) >= t:
    * the sweep is exact at its thresholds. */
  def thresholdSweep(scored: DataFrame, scoreCol: String = "score",
                     labelCol: String = "label", bucket: Long = 1L): DataFrame = {
    require(scored.columns.contains(scoreCol) && scored.columns.contains(labelCol),
      s"CorpusOps.thresholdSweep: need columns '$scoreCol' and '$labelCol'")
    require(bucket >= 1, s"thresholdSweep: bucket ($bucket) must be >= 1")
    val b = scored.select(
      expr(s"cast(floor(`$scoreCol` / $bucket.0) as bigint) * $bucket").as("threshold"),
      col(labelCol).cast("boolean").as("lbl"))
    val agg = b.groupBy("threshold").agg(
      sum(when(col("lbl"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("lbl"), 0L).otherwise(1L)).as("n_neg"))
      .transform(Exec.barrier) // window + totals read it once
    val w = Window.orderBy(col("threshold").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = agg.agg(sum("n_pos").as("tot_pos"), sum("n_neg").as("tot_neg"))
    agg
      .withColumn("tp", sum(col("n_pos")).over(w))
      .withColumn("fp", sum(col("n_neg")).over(w))
      .crossJoin(broadcast(totals))
      .select(col("threshold"), col("tp"), col("fp"),
        (col("tot_pos") - col("tp")).as("fn"),
        (col("tot_neg") - col("fp")).as("tn"))
  }

  /** Winnowed-fingerprint pairs (SIGMOD'03 winnowing): docs sharing >=
    * `minShared` fingerprints over word `gramWidth`-grams with window
    * `window`. Unlike [[nearDupPairs]] (whole-doc similarity with a
    * probabilistic miss bound), this DETERMINISTICALLY catches local
    * overlap: any common run of `gramWidth + window - 1` words
    * guarantees a shared fingerprint — the lifted-paragraph case. That
    * guarantee holds at the default `minShared = 1` (a minimal run can
    * collapse to ONE distinct fingerprint); raise the threshold only to
    * trade it for noise rejection on short common phrases.
    * Output: (id_a, id_b, n_shared).
    */
  def winnowingPairs(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", gramWidth: Int = 4,
                     window: Int = 4, minShared: Int = 1): DataFrame = {
    requireIntegralId(docs, idCol, "winnowingPairs")
    require(gramWidth >= 1 && window >= 1 && minShared >= 1,
      s"winnowingPairs: gramWidth ($gramWidth), window ($window) and " +
        s"minShared ($minShared) must all be >= 1")
    val gramCols = (0 until gramWidth).map(j => s"w[i+$j]").mkString(", ")
    // spread: gram hashing + window mins run in the scan stage
    val posting = Exec.spread(
        docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text")), "doc_id")
      .withColumn("w", split(col("text"), " "))
      .where(size(col("w")) >= gramWidth + window - 1) // >= one full window
      .withColumn("hs", expr(
        s"""transform(sequence(0, size(w) - $gramWidth), i ->
              cast(conv(substr(md5(concat_ws(' ', $gramCols)), 1, 15), 16, 10) as bigint))"""))
      .select(col("doc_id"), explode(expr(
        s"array_distinct(transform(sequence(0, size(hs) - $window), j -> array_min(slice(hs, j + 1, $window))))")).as("fp"))
      .transform(Exec.barrier) // both sides of the self-join
    posting.as("a").join(posting.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).cast("int").as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Connected components of an undirected pair list (first two columns
    * = edge endpoints): returns (node, label) with label = min reachable
    * id.
    *
    * Min-label propagation with pointer doubling: each round relabels
    * via graph edges AND via the current label chain
    * (node -> label(label(node))), so convergence takes O(log diameter)
    * rounds instead of O(diameter) — a diameter-4096 path converges in
    * ~12 rounds. Labels only ever decrease, so the label sum strictly
    * decreases until the fixpoint; that sum, observed on each round's
    * own barrier job ([[Exec.observedBarrier]]), is the convergence
    * check. Runs to TRUE convergence; if the (absurd) round
    * bound trips, it throws rather than return partial labels. The loop
    * sizes its own shuffles from the edge count
    * ([[Exec.loopPartitions]]).
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val c = pairs.columns
    requireIntegralId(pairs, c(0), "connectedComponents")
    requireIntegralId(pairs, c(1), "connectedComponents")
    val edges = pairs.select(col(c(0)).cast("long"), col(c(1)).cast("long")).toDF("ea", "eb")
    // the edge count sizes the loop's shuffles; it and every label sum
    // below are observed on their barrier's own job, no extra action
    val labelSum = coalesce(sum(col("label")), lit(0L))
    val (sym, nEdges) = Exec.observedBarrier(
      edges.union(edges.select(col("eb"), col("ea"))).toDF("src", "dst"), count(lit(1)))
    Exec.withShufflePartitions(sym.sparkSession, Exec.loopPartitions(nEdges)) {
    // Seed with round 1 computed as ONE keyed agg: starting from
    // labels(x) = x, the first propagation round's output is exactly
    // min(node, min neighbor) — so fold it into the seed (one shuffle)
    // instead of paying a full join round to derive it. Same label
    // sequence from here on, one fewer round.
    // prevSum = the seed's own sum: labels only decrease, so an
    // unchanged sum == fixpoint — seeding the comparison lets an
    // already-converged seed (cliques, star-shaped dup clusters) exit
    // after ONE join round, not two.
    var (labels, prevSum) = Exec.observedBarrier(sym.groupBy(col("src").as("node"))
      .agg(least(col("src"), min(col("dst"))).as("label")), labelSum)
    var converged = false
    var rounds = 0
    val MaxRounds = 64 // log2-scale: diameter would need to exceed 2^64
    while (!converged) {
      if (rounds >= MaxRounds)
        throw new IllegalStateException(
          s"connected components failed to converge after $MaxRounds doubling rounds")
      // ONE join per round instead of three frames: the chain hop
      // node -> label(label(node)) is the same join shape as the edge
      // hop once each label row is read as an edge label(n) -> n, so
      // both propagate through a single (src)-keyed equi-join against
      // the label frame. The self term (labels itself) is redundant:
      // every node n receives label(label(n)) via its chain edge, and
      // label(label(n)) <= label(n) because label(x) <= x for all x —
      // so dropping the self-union changes nothing. Round cost falls
      // from ~5 exchanges (3 label sides + edges + union re-agg) to 2
      // (labels by node, edges∪chain by src; the min-agg reuses the
      // join's partitioning).
      val edgesAll = sym.union(labels.select(col("label").as("src"), col("node").as("dst")))
      // the barrier doubles as per-round lineage truncation: without it
      // each round's plan nests the previous round's, and the driver
      // pays quadratic planning time by round ~10. Superseded rounds'
      // blocks are freed by the ContextCleaner once unreferenced.
      val (propagated, sum0) = Exec.observedBarrier(
        edgesAll.join(labels, col("src") === col("node"))
          .groupBy(col("dst").as("node")).agg(min(col("label")).as("label")), labelSum)
      labels.unpersist()
      labels = propagated
      converged = sum0 == prevSum
      prevSum = sum0
      rounds += 1
    }
    labels
    } // withShufflePartitions
  }

  /** Keep the best row of each near-dup cluster (the production
    * keep-policy): clusters = connected components over `pairs` (two
    * id columns, e.g. the output of [[nearDupPairs]]); within each
    * cluster the row maximizing `qualityCol` wins, ties broken by
    * lowest id; docs in no pair are their own cluster and always kept.
    * Returns the surviving rows with all their columns.
    */
  def canonicalPerCluster(docs: DataFrame, pairs: DataFrame,
                          qualityCol: String,
                          idCol: String = "doc_id"): DataFrame = {
    requireIntegralId(docs, idCol, "canonicalPerCluster")
    val comps = connectedComponents(pairs)
      .select(col("node").as(idCol), col("label").as("__component"))
    docs.join(comps, Seq(idCol), "left")
      .withColumn("__component",
        coalesce(col("__component"), col(idCol).cast("long")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("__component")
          .orderBy(col(qualityCol).desc, col(idCol).asc)))
      .where(col("__rn") === 1)
      .drop("__component", "__rn")
  }

  /** Leakage-safe train/val split: every near-dup CLUSTER (connected
    * components over `pairs`, e.g. the output of [[nearDupPairs]]) lands
    * wholly in one split, so a benchmark held out from training never
    * contains a near-duplicate of a training doc. The assignment is a
    * deterministic md5 bucket of the cluster label — a pure function of
    * content, stable across runs, engines, and task retries (`rand()`
    * per doc is the leakage bug this operator exists to fix). Of
    * `buckets` hash buckets the last `valBuckets` go to 'val', the rest
    * to 'train'; docs in no pair split on their own id. The component
    * frame is pair-bounded — tiny next to the corpus — and broadcast
    * onto `docs`. Returns `docs` columns plus (component, split).
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id", buckets: Int = 10,
                       valBuckets: Int = 2): DataFrame = {
    requireIntegralId(docs, idCol, "leakageSafeSplit")
    val pc = pairs.columns
    requireIntegralId(pairs, pc(0), "leakageSafeSplit")
    requireIntegralId(pairs, pc(1), "leakageSafeSplit")
    require(buckets >= 2 && valBuckets >= 1 && valBuckets < buckets,
      s"CorpusOps.leakageSafeSplit: need 1 <= valBuckets < buckets >= 2, " +
        s"got buckets=$buckets valBuckets=$valBuckets")
    require(!docs.columns.exists(c => c.equalsIgnoreCase("component") ||
        c.equalsIgnoreCase("split")),
      "CorpusOps.leakageSafeSplit: docs already has a 'component' or 'split' column")
    val comp = connectedComponents(pairs)
    docs.join(broadcast(comp), docs(idCol) === comp("node"), "left")
      .withColumn("component", coalesce(col("label"), col(idCol).cast("long")))
      .drop("node", "label")
      .withColumn("split",
        when(expr(s"cast(conv(substr(md5(cast(component as string)), 1, 8), 16, 10) as bigint) % $buckets")
            < buckets - valBuckets,
          lit("train")).otherwise(lit("val")))
  }

  /** Count-Min-Sketch heavy hitters: the values of `valueCol` whose
    * occurrence count reaches `threshold`, found with sketch state of
    * fixed size `depth` x `width` regardless of value cardinality.
    * `depth` md5-hex hash rows (<= 4: the 32 hex chars of one md5 give
    * four disjoint 8-char windows). The sketch never under-counts, so
    * no heavy hitter is missed; screened candidates are then
    * exact-counted, so the reported counts carry no sketch error.
    * Returns (`valueCol`, est, cnt) — est is the sketch estimate
    * (>= cnt; the gap is the collision mass, a direct width
    * diagnostic). Size `width` >> distinct-values/threshold so the
    * screen actually prunes.
    */
  def heavyHitters(values: DataFrame, valueCol: String, threshold: Long,
                   depth: Int = 3, width: Int = 2048): DataFrame = {
    require(values.columns.exists(_.equalsIgnoreCase(valueCol)),
      s"CorpusOps.heavyHitters: no column '$valueCol' in [${values.columns.mkString(", ")}]")
    require(!Seq("est", "cnt").exists(_.equalsIgnoreCase(valueCol)),
      "CorpusOps.heavyHitters: valueCol collides with an output column (est, cnt)")
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    require(depth >= 1 && depth <= 4, s"depth must be in [1, 4], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    val v = values.select(col(valueCol).cast("string").as("g"))
      .where(col("g").isNotNull)
    def bucket(i: Int) =
      expr(s"cast(conv(substr(md5(g), ${8 * i + 1}, 8), 16, 10) as bigint) % $width")
    // three consumers below (sketch, candidate distinct, exact verify)
    val bucketed = Exec.barrier(
      v.select(col("g") +: (0 until depth).map(i => bucket(i).as(s"b$i")): _*))
    val sketch = bucketed
      .select(posexplode(array((0 until depth).map(i => col(s"b$i")): _*))
        .as(Seq("i", "b")))
      .groupBy("i", "b").agg(count(lit(1)).as("c"))
    def row(i: Int) = broadcast(
      sketch.where(col("i") === i).select(col("b").as(s"b$i"), col("c").as(s"c$i")))
    val est = (0 until depth).map(i => col(s"c$i")) match {
      case Seq(one) => one
      case cs => least(cs: _*)
    }
    val screened = (0 until depth).foldLeft(bucketed.distinct()) {
      (df, i) => df.join(row(i), s"b$i")
    }.select(col("g"), est.as("est"))
      .where(col("est") >= threshold)
    bucketed.select("g")
      .join(broadcast(screened), "g")
      .groupBy("g", "est").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= threshold)
      .withColumnRenamed("g", valueCol)
  }

  /** BM25 top-k retrieval over a whitespace-tokenized text column —
    * Okapi scoring (default k1=1.2, b=0.75), top `k` rows by
    * (score desc, id asc): "which corpus docs match this query".
    *
    * Scale: the corpus is exploded once and filtered to the query's
    * terms BEFORE any shuffle, so the (doc, term) aggregate is bounded
    * by |matching docs| x |terms|, not the corpus; df comes from that
    * same tiny frame and joins broadcast; top-k is TakeOrdered, never a
    * global sort. Determinism across engines: each term's contribution
    * is rounded to integer MICRO-points and summed as BIGINT (a double
    * sum would depend on shuffle order); the only cross-engine float
    * ops are two divisions and one ln with identical operand order on
    * both sides. Corpus stats (N, total tokens) are one 1-row
    * aggregate. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
               idCol: String = "doc_id", textCol: String = "text",
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    Seq(idCol, textCol).foreach { c =>
      require(docs.columns.exists(_.equalsIgnoreCase(c)),
        s"CorpusOps.bm25TopK: no column '$c' in [${docs.columns.mkString(", ")}]")
    }
    require(terms.nonEmpty, "CorpusOps.bm25TopK: empty term list")
    require(terms.forall(t => t.nonEmpty && !t.contains("'")),
      "CorpusOps.bm25TopK: terms must be non-empty and quote-free")
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 > 0 && b >= 0 && b <= 1,
      s"BM25 parameters out of range: k1=$k1 (must be > 0), b=$b (must be in [0, 1])")
    val base = docs
      .select(col(idCol).as("bm_id"), split(col(textCol), " ").as("w"))
      .withColumn("dl", size(col("w")))
    val st = base.agg(count(lit(1)).as("n"),
      sum(col("dl").cast("long")).as("tot")).head
    // empty corpus (or all-null text: sum(dl) is null): nothing to score
    if (st.getLong(0) == 0L || st.isNullAt(1))
      return docs.select(col(idCol)).limit(0)
        .withColumn("n_terms", lit(null).cast("long"))
        .withColumn("score", lit(null).cast("double"))
    val (n, tot) = (st.getLong(0), st.getLong(1))
    val inList = terms.map(q => s"'$q'").mkString(", ")
    val tf = base
      // pre-filter BEFORE the explode: a doc with no query term never
      // enters the Generate at all (vs exploding every token of every
      // doc and filtering after — ~|corpus tokens| rows saved)
      .where(expr(s"arrays_overlap(w, array($inList))"))
      .select(col("bm_id"), col("dl"), explode(col("w")).as("term"))
      .where(expr(s"term IN ($inList)"))
      .groupBy("bm_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .withColumn("c", expr(
        s"cast(round(1e6 * ln(($n - df + 0.5) / (df + 0.5) + 1.0) * tf * ${k1 + 1} / " +
        s"(tf + $k1 * (${1 - b} + $b * (cast(dl as bigint) * $n) / cast($tot as double))), 0) as bigint)"))
      .groupBy("bm_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("c")).as("micro"))
      .select(col("bm_id").as(idCol), col("n_terms"),
        (col("micro").cast("double") / expr("1e6")).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Corpus-trained bigram-LM scoring (the CCNet-style perplexity
    * filter): an add-one-smoothed bigram model
    * P(cur | prev) = (c(prev, cur) + 1) / (c(prev as context) + V)
    * trained on `docs` itself, each doc scored by its mean negative
    * log-likelihood (low NLL = the corpus LM finds the doc
    * predictable; the filter keeps a band). Returns (`idCol`,
    * n_bigrams, nll); docs with fewer than two tokens are omitted (no
    * bigram to score). Per-bigram -ln P is rounded to integer
    * micro-nats and summed as BIGINT, so the score is shuffle-order
    * independent and engine-reproducible.
    *
    * Scale: the LM "tables" are the (prev, cur) and (prev) aggregates —
    * bounded by bigram-TYPE cardinality, not corpus size — joined back
    * onto the bigram stream as keyed equi-joins with NO forced
    * broadcast hint: a hinted BroadcastExchange FAILS the job past the
    * 8 GB / driver-memory limit, whereas bigram-type cardinality grows
    * with the corpus, so the strategy is left to AQE. V is a 1-row
    * driver scalar. The bigram stream feeds three consumers (two
    * counts + the score join), so it is barriered once. */
  def bigramLmNll(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    Seq(idCol, textCol).foreach { c =>
      require(docs.columns.exists(_.equalsIgnoreCase(c)),
        s"CorpusOps.bigramLmNll: no column '$c' in [${docs.columns.mkString(", ")}]")
    }
    require(!Seq("n_bigrams", "nll").exists(_.equalsIgnoreCase(idCol)),
      "CorpusOps.bigramLmNll: idCol collides with an output column (n_bigrams, nll)")
    bigramLmNllUnsorted(docs, idCol, textCol).orderBy(idCol)
  }

  /** [[bigramLmNll]] without the presentation sort — the form
    * [[perplexityBuckets]] re-aggregates: a global Sort ahead of a
    * groupBy is pure cost, and the barrier on that frame would
    * otherwise materialize it. */
  private def bigramLmNllUnsorted(docs: DataFrame, idCol: String,
                                  textCol: String): DataFrame = {
    // V over ALL non-empty tokens (including docs too short to produce
    // a bigram), so the smoothing denominator reflects the full
    // vocabulary. Zero-length tokens (empty text, consecutive/leading/
    // trailing spaces in the single-space split) are dropped BEFORE
    // both the vocabulary and the bigram transform — 'a  b' bigrams as
    // (a,b), not (a,'')+('',b) — mirrored in the DuckDB oracle.
    val v = docs.select(explode(split(col(textCol), " ")).as("tok"))
      .where(col("tok") =!= "")
      .agg(countDistinct(col("tok"))).head.getLong(0)
    val base = docs
      .select(col(idCol).as("bl_id"),
        expr(s"filter(split($textCol, ' '), x -> x != '')").as("w"))
      .where(size(col("w")) >= 2)
    // NO spread before the explode: measured both rounds (r12 slice
    // A/B 1.85→2.50, r13 back-to-back 1.90→2.80) — the post-shuffle
    // stages fan to 32 tasks over KB-sized frames and the scheduling
    // floor outweighs the single-core explode it relieves. The ln/join
    // work per bigram is too cheap relative to one row shuffle (the
    // r12 revert rule), unlike the md5-per-gram CMS core.
    val bg = Exec.barrier(base.select(col("bl_id"), explode(expr(
        "transform(sequence(1, size(w) - 1), i -> named_struct('prev', w[i-1], 'cur', w[i]))")).as("p"))
      .select(col("bl_id"), col("p.prev").as("prev"), col("p.cur").as("cur")))
    val c2 = bg.groupBy("prev", "cur").agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy("prev").agg(count(lit(1)).as("c1"))
    bg.join(c2, Seq("prev", "cur"))
      .join(c1, Seq("prev"))
      .withColumn("micro",
        expr(s"cast(round(-1e6 * ln((c2 + 1.0) / (c1 + $v)), 0) as bigint)"))
      .groupBy("bl_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("micro")).as("micro"))
      .select(col("bl_id").as(idCol), col("n_bigrams"),
        expr("round(cast(micro as double) / n_bigrams / 1e6, 6)").as("nll"))
  }

  /** n-gram expansion over a pre-split word array `w`. */
  private[graft] def gramExpr(n: Int): String = {
    val terms = (0 until n).map(j => if (j == 0) "w[i]" else s"w[i+$j]").mkString(", ")
    s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', $terms))"
  }

  /** fastText-shaped model-based quality scoring: a linear classifier
    * over hashed bigram features. `weights` is the trained model as a
    * (gram string, weight bigint) table — vocabulary-bounded, so it
    * BROADCASTS; the corpus explodes its bigrams once, looks weights up
    * on the broadcast, and re-aggregates per doc (map-side partial agg
    * collapses each doc to ~1 shuffled row). Integer weights keep the
    * score exactly reproducible regardless of shuffle order — the
    * lineage-stability property a curation filter needs (a float dot
    * product would be summation-order-dependent). Unknown grams score
    * 0; docs with < 2 tokens score 0 with n_feats = 0 (explode_outer
    * keeps them). Returns (idCol, n_feats, score_raw, keep) with
    * keep = score_raw >= threshold. */
  def qualityScore(docs: DataFrame, weights: DataFrame,
                   idCol: String = "doc_id", textCol: String = "text",
                   threshold: Long = 0L): DataFrame = {
    Seq(idCol, textCol).foreach { c =>
      require(docs.columns.exists(_.equalsIgnoreCase(c)),
        s"CorpusOps.qualityScore: no column '$c' in [${docs.columns.mkString(", ")}]")
    }
    Seq("gram", "weight").foreach { c =>
      require(weights.columns.exists(_.equalsIgnoreCase(c)),
        s"CorpusOps.qualityScore: weights table needs (gram, weight), got [${weights.columns.mkString(", ")}]")
    }
    val grams = docs
      .select(col(idCol).as("qs_id"), split(col(textCol), " ").as("w"))
      .select(col("qs_id"), explode_outer(
        when(size(col("w")) >= 2, expr(gramExpr(2)))
          .otherwise(expr("cast(array() as array<string>)"))).as("gram"))
    grams
      .join(broadcast(weights.select(col("gram"),
        col("weight").cast("long").as("weight"))), Seq("gram"), "left")
      .groupBy("qs_id")
      .agg(count(col("gram")).as("n_feats"),
        coalesce(sum(col("weight")), lit(0L)).as("score_raw"))
      .select(col("qs_id").as(idCol), col("n_feats"), col("score_raw"),
        (col("score_raw") >= threshold).as("keep"))
  }

  /** Token-budget selection: keep the best rows by `scoreCol` (DESC,
    * ties broken by lowest id) until `budgetTokens` whitespace tokens of
    * `textCol` are spent — the "best data under budget" cut after
    * scoring. The budget-crossing row is the last one kept; rows are
    * returned with all their columns. The running sum is the two-level
    * distributed prefix sum of [[tokenBudgetCore]], so the cut
    * parallelizes at corpus scale; a constant score degrades to
    * id-range bands of `1 << 20` rows each, still bounded.
    */
  def selectUnderTokenBudget(docs: DataFrame, budgetTokens: Long,
                             scoreCol: String, idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    requireIntegralId(docs, idCol, "selectUnderTokenBudget")
    Seq(scoreCol, textCol).foreach { c =>
      require(docs.columns.exists(_.equalsIgnoreCase(c)),
        s"CorpusOps.selectUnderTokenBudget: no column '$c' in [${docs.columns.mkString(", ")}]")
    }
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(!docs.columns.exists(_.equalsIgnoreCase("__tb_tokens")),
      "CorpusOps.selectUnderTokenBudget: docs already has a '__tb_tokens' column")
    tokenBudgetCore(
        docs.withColumn("__tb_tokens", size(split(col(textCol), " ")).cast("long")),
        idCol, scoreCol, "__tb_tokens",
        budgetTokens = Some(budgetTokens), budgetPermille = None)
      .drop("__tb_tokens")
  }

  /** Token-budget selection core behind [[selectUnderTokenBudget]]
    * (and pipe_token_budget, which budgets a fraction of the corpus):
    * keep rows in (`scoreCol` DESC, `idCol` ASC) order while the
    * cumulative token mass BEFORE a row is under the budget.
    *
    * The global running sum is a two-level distributed prefix sum, NOT
    * a single-partition global window (the classic scale trap: Spark
    * executes an unpartitioned ordered window on ONE task):
    *   1. rows group into (score, id div `subRange`) bands — band count
    *      is bounded by score cardinality x corpus/subRange, tiny next
    *      to the corpus;
    *   2. per-band token totals get prefix-summed on the small band
    *      frame (the only unpartitioned window, over bands not rows)
    *      and rejoin via broadcast;
    *   3. each row's global prefix = its band's offset + a within-band
    *      running sum, windowed per band — thousands of bounded
    *      partitions instead of one corpus-sized one.
    * Because `id div subRange` is monotone in id, per-band order (score
    * DESC, sub ASC, id ASC) concatenates to exactly the global order.
    *
    * Budget: `budgetTokens` absolute, or `budgetPermille` as an
    * integer-exact fraction of the total token mass ((total * p) div
    * 1000 — no float boundary for engines to disagree on). `scoreCol`
    * must be non-null (null ordering differs across engines). */
  private[graft] def tokenBudgetCore(d: DataFrame, idCol: String,
      scoreCol: String, tokensCol: String, budgetTokens: Option[Long],
      budgetPermille: Option[Int], subRange: Long = 1L << 20): DataFrame = {
    require(budgetTokens.isDefined != budgetPermille.isDefined,
      "tokenBudgetCore: exactly one of budgetTokens / budgetPermille")
    val banded = d
      .withColumn("__score", col(scoreCol))
      .withColumn("__sub", expr(s"`$idCol` div $subRange"))
    val bands = banded.groupBy("__score", "__sub")
      .agg(sum(col(tokensCol).cast("long")).as("__bt"))
    val wPrefix = Window.orderBy(col("__score").desc, col("__sub").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bands
      .withColumn("__offset", sum(col("__bt")).over(wPrefix) - col("__bt"))
      .withColumn("__total", sum(col("__bt")).over(Window.partitionBy()))
      .withColumn("__budget", budgetTokens.map(lit(_).cast("long"))
        .getOrElse(expr(s"(__total * ${budgetPermille.get}) div 1000")))
      .select(col("__score"), col("__sub"), col("__offset"), col("__budget"))
    val wIn = Window.partitionBy("__score", "__sub").orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(offsets), Seq("__score", "__sub"))
      .withColumn("__cum_before",
        col("__offset") + sum(col(tokensCol).cast("long")).over(wIn)
          - col(tokensCol).cast("long"))
      .where(col("__cum_before") < col("__budget"))
      .drop("__score", "__sub", "__offset", "__budget", "__cum_before")
  }

  /** Incremental dedup — the daily-delta shape: drop `batch` rows that
    * duplicate a `corpus` doc, exactly (content-hash equality, covers
    * docs too short to shingle) or nearly (MinHash-band collision +
    * exact Jaccard >= 0.8 over 3-word shingles). Returns the CLEAN
    * batch rows with all their columns. The batch side is broadcast
    * onto the corpus stream, so the corpus is never reshuffled —
    * per-delta cost is a map over the corpus plus index work on the
    * batch.
    */
  def dedupAgainstCorpus(batch: DataFrame, corpus: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    requireIntegralId(batch, idCol, "dedupAgainstCorpus")
    requireIntegralId(corpus, idCol, "dedupAgainstCorpus")
    def adapt(df: DataFrame) = df.select(
      col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
    val dups = incrementalDupMatches(adapt(batch), adapt(corpus))
      .select(col("batch_id").as(idCol))
    batch.join(dups, Seq(idCol), "left_anti")
  }

  /** Incremental-dedup core behind [[dedupAgainstCorpus]]: which
    * `batch` docs (doc_id, text) duplicate a `corpus` doc — exact
    * (content-hash equality) or near (band collision + exact
    * Jaccard >= 0.8). Returns (batch_id, dup_of = lowest matching
    * corpus id). At scale the corpus buckets are the persisted LSH
    * index, computed once and reused every batch (rebuilt per call
    * here). */
  private[graft] def incrementalDupMatches(batch: DataFrame, corpus: DataFrame): DataFrame = {
    val b = batch.select(col("doc_id"), col("text"))
    val c = corpus.select(col("doc_id"), col("text"))
    // each side's shingle sets feed its buckets AND the verify join
    val setsB = shingleSets(b).transform(Exec.barrier)
    val setsC = shingleSets(c).transform(Exec.barrier)
    val cand = bandBucketsOf(setsC).select(col("doc_id").as("corpus_id"), col("bb"))
      .join(broadcast(bandBucketsOf(setsB)
        .select(col("doc_id").as("batch_id"), col("bb"))), Seq("bb"))
      .select("batch_id", "corpus_id").distinct()
    // verify with the CORPUS side streaming. The candidate relation is
    // collision-bounded, NOT batch-bounded (a stop-shingle bucket can
    // pair one batch doc with millions of corpus docs), so it is NOT
    // broadcast-hinted: AQE picks broadcast from runtime stats in the
    // normal case (the plan gate asserts no sort-merge at gate scale)
    // and degrades to a shuffle instead of an executor/driver OOM if a
    // pathological corpus explodes the candidate count. Only the truly
    // batch-bounded shingle lookup is forced broadcast.
    val near = setsC.select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
      .join(cand.join(
        broadcast(setsB.select(col("doc_id").as("batch_id"), col("sh").as("sh_b"))),
        "batch_id"), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        size(array_intersect(col("sh_b"), col("sh_c"))).as("inter"),
        (size(col("sh_b")) + size(col("sh_c"))
          - size(array_intersect(col("sh_b"), col("sh_c")))).as("uni"))
      .where(col("inter") * 5 >= col("uni") * 4) // J >= 0.8
      .select("batch_id", "corpus_id")
    val exact = c.select(col("doc_id").as("corpus_id"), md5(col("text").cast("binary")).as("mh"))
      .join(broadcast(b.select(col("doc_id").as("batch_id"),
        md5(col("text").cast("binary")).as("mh"))), Seq("mh"))
      .select("batch_id", "corpus_id")
    near.union(exact)
      .groupBy("batch_id").agg(min(col("corpus_id")).as("dup_of"))
  }

  /** Span-level dedup REMOVAL (the ExactSubstr policy of Lee et al.
    * arXiv:2107.06499 at fixed segment granularity): every
    * `segWords`-word segment keeps exactly its FIRST corpus-wide
    * occurrence (min (id, position) via a row_number window keyed by
    * segment content); later occurrences are cut and each document is
    * rebuilt from its surviving segments in order — the
    * boilerplate-stripping step whole-doc dedup can't do. Output:
    * (idCol, n_segs, n_kept, text_clean); a doc emptied entirely keeps
    * its row with n_kept = 0 and empty text, so "emptied" differs from
    * "missing". Two keyed shuffles (segment window + per-doc
    * reassembly), no pair space; the reassembly buffer is bounded by
    * one document's length.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String = "doc_id",
                           textCol: String = "text",
                           segWords: Int = 10): DataFrame = {
    requireIntegralId(docs, idCol, "removeDuplicateSpans")
    require(segWords >= 1, s"CorpusOps.removeDuplicateSpans: segWords ($segWords) must be >= 1")
    val segs = docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .where(length(col("text")) > 0)
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0, size(w) - 1, $segWords)")).as("i"))
      .selectExpr("doc_id", "i", s"concat_ws(' ', slice(w, i + 1, $segWords)) AS seg")
      .transform(Exec.barrier) // totals + window both consume it
    val kept = segs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("doc_id"), col("i"))))
      .where(col("rn") === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(i, seg))), p -> p.seg)"))
          .as("text_clean"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .withColumnRenamed("doc_id", idCol)
  }

  /** Semantic dedup (SemDeDup, Abbas et al. arXiv:2303.09540): drop
    * rows whose embedding has cosine >= `minCosine` to a lower-id row
    * in the same k-means cell, returning the SURVIVING rows with all
    * their columns. The cluster partitioning bounds the pair space —
    * pairs are computed within a cell only (sum |cell|^2 ~= n^2/k), so
    * pick `k` ~ corpusSize / targetCellSize at scale; no all-pairs path
    * exists. Clustering is the deterministic 2-round Lloyd shared with
    * the ANN operators (seeds = the k lowest ids). `vecCol` is any
    * numeric array column; ids must be integral ([[requireIntegralId]]).
    * `probes` > 1 assigns each vector to its `probes` nearest cells —
    * the boundary-miss recall knob (pairs straddling a cell boundary
    * still meet in a shared second-choice cell) at a ~probes^2-bounded
    * pair-space cost.
    */
  def semanticDedup(embeddings: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding", k: Int = 8,
                    minCosine: Double = 0.9, probes: Int = 1): DataFrame = {
    requireIntegralId(embeddings, idCol, "semanticDedup")
    require(k >= 1, s"semanticDedup: k ($k) must be >= 1")
    // an array cast, not transform(x -> cast(x as double)): the same
    // element casts, but codegen'd, so the scan's stage stays whole
    val e = embeddings.select(
      col(idCol).cast("long").as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val dropped = semanticDropped(e, k, minCosine, probes)
      .select(col("dropped_id").as(idCol))
    embeddings.join(dropped, Seq(idCol), "left_anti")
  }

  /** SemDeDup core behind [[semanticDedup]] (Abbas et al.,
    * arXiv:2303.09540): k-means-partitioned within-cluster cosine
    * dedup over the deterministic 2-round Lloyd shared with the ANN
    * operators ([[VectorOps.kmeansAssigned]]). The pair join keys on
    * cluster id — pair count sum(|cell|^2) ~= n^2/k for balanced
    * cells, so no all-pairs path exists. Input: (vec_id, v double
    * array); output: (dropped_id, cid, n_dups, max_cos) — one row per
    * vector that has a LOWER-id neighbor in a shared cell with cosine
    * >= `minCosine` (greedy-by-id keep-one-exemplar policy). With
    * `probes` > 1 a pair meeting in several shared cells is collapsed
    * to one (min cell id) before counting, so n_dups counts NEIGHBORS,
    * not cell coincidences, and the probes = 1 output is unchanged. */
  private[graft] def semanticDropped(e: DataFrame, k: Int = 8,
                                     minCosine: Double = 0.4,
                                     probes: Int = 1): DataFrame = {
    graft.functions.GraftFunctions.registerAll(e.sparkSession)
    // barrier: both pair-join sides consume the assignment — without it
    // the full Lloyd pipeline (two broadcast-assign passes + centroid
    // aggregation) re-derives per side
    val assigned = VectorOps.kmeansAssigned(e, k, probes)._1.transform(Exec.barrier)
    val a = assigned.select(col("cid"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = assigned.select(col("cid"), col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("cid")).where(col("id_a") < col("id_b"))
      .withColumn("cos", expr("round(graft_cosine_sim(va, vb), 6)"))
      .where(col("cos") >= minCosine)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("cid")).as("cid"), max(col("cos")).as("cos"))
      .groupBy(col("id_b"))
      .agg(min(col("cid")).as("cid"), count(lit(1)).as("n_dups"),
        max(col("cos")).as("max_cos"))
      .select(col("id_b").as("dropped_id"), col("cid"), col("n_dups"), col("max_cos"))
  }

  /** Drop train documents that share a `gramWidth`-gram with the eval
    * set (benchmark decontamination), returning the CLEAN train rows
    * with all their columns. Physical plan is the 100 TB one: an exact
    * Bloom filter over the eval grams is broadcast and applied
    * map-side — the train corpus is never shuffled — and only the
    * surviving ~fpp fraction reaches the exact verify join, so the
    * answer is exact (no false negatives exist; false positives die in
    * the verify join).
    */
  def bloomDecontaminate(train: DataFrame, evalDocs: DataFrame,
                         idCol: String = "doc_id", textCol: String = "text",
                         gramWidth: Int = 5,
                         expectedEvalGrams: Long = 1000L * 1000L,
                         fpp: Double = 0.01): DataFrame = {
    val contaminated = bloomContaminated(
      train = train.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      evalDocs = evalDocs.select(col(textCol).as("text")),
      gramWidth = gramWidth, keep = Seq("doc_id"),
      expectedEvalGrams = expectedEvalGrams, fpp = fpp)
    train.join(contaminated.select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Bloom-prefiltered exact decontamination core behind
    * [[bloomDecontaminate]] (see the pipe_decontam_bloom entry comment
    * for the plan rationale): the DISTINCT `keep` columns of train docs
    * sharing a `gramWidth`-gram with the eval set. */
  private[graft] def bloomContaminated(train: DataFrame, evalDocs: DataFrame,
      gramWidth: Int, keep: Seq[String],
      expectedEvalGrams: Long, fpp: Double): DataFrame = {
    def withGrams(df: DataFrame) =
      df.withColumn("w", split(col("text"), " "))
        .where(size(col("w")) >= gramWidth)
    val evalGrams = Exec.barrier(withGrams(evalDocs)
      .select(explode(expr(gramExpr(gramWidth))).as("g")).distinct())
    val bf = evalGrams.stat.bloomFilter("g", expectedEvalGrams, fpp)
    val bfB = evalGrams.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((g: String) => g != null && bfB.value.mightContain(g))
    withGrams(train)
      .select(keep.map(col) :+ explode(expr(gramExpr(gramWidth))).as("g"): _*)
      .where(mightContain(col("g")))
      .join(evalGrams, Seq("g"), "left_semi")
      .select(keep.head, keep.tail: _*).distinct()
  }

  /** Deterministic weighted sampling: keep each row with probability
    * `probCol` (clamped to [0, 1]) — the quality-weighted downsampling
    * step. The keep decision is a pure function of the id (md5-derived
    * unit uniform vs the row's probability), so task retries and
    * speculative execution can never double- or drop-count a row —
    * `rand()` cannot promise that, and at 1000 executors retries are
    * routine, not rare. Returns the kept rows with all their columns.
    */
  def weightedSample(df: DataFrame, probCol: String,
                     idCol: String = "doc_id"): DataFrame = {
    requireIntegralId(df, idCol, "weightedSample")
    val id = s"`${idCol.replace("`", "``")}`"
    val p = s"`${probCol.replace("`", "``")}`"
    df.where(expr(
      s"""cast(conv(substr(md5(cast($id as string)), 1, 8), 16, 10) as bigint) % 1000000
          < cast(greatest(0D, least(1D, cast($p as double))) * 1000000 as bigint)"""))
  }

  /** Distance from each `a` interval to its nearest same-chrom `b`
    * interval (bedtools closest): 0 when overlapping or touching, null
    * when the chrom has no `b` feature. Input columns on both frames:
    * key `chrom`, bounds `s`/`e` (long). Output: (chrom, s, e, dist),
    * one row per `a` row. Join-free — one union sorted per chrom and
    * two window passes: the nearest B on the left is the running max
    * of B ends over rows with b_s <= a_s (overlap iff that max reaches
    * a_s); on the right, the running min of B starts over following
    * rows (overlap iff it falls inside A). B rows sort before A rows at
    * equal position, so a B starting exactly at a_s lands in the left
    * frame and reads as overlap; least() skips a null side.
    * Parallelism is chrom-bounded like the plain merge sweep;
    * property-checked against brute force in IntervalOpsSpec.
    */
  def closestFeatures(a: DataFrame, b: DataFrame): DataFrame = {
    val nl = lit(null).cast("long")
    val u = a.select(col("chrom"), col("s").as("pos"), lit(1).as("side"),
        col("e").as("a_e"), nl.as("b_s"), nl.as("b_e"))
      .unionByName(b.select(col("chrom"), col("s").as("pos"), lit(0).as("side"),
        nl.as("a_e"), col("s").as("b_s"), col("e").as("b_e")))
    val byPos = Window.partitionBy("chrom").orderBy(col("pos"), col("side"))
    // The suffix min runs over the REVERSED sort as a growing
    // (unboundedPreceding) frame: a currentRow->unboundedFollowing
    // frame is a shrinking frame, which WindowExec re-aggregates from
    // scratch for every row — O(rows^2) per chromosome, a scale
    // killer on deep chroms. Reversed, both passes use the O(n)
    // running-frame processor; same partitioning, so the second sort
    // is in-partition with no extra shuffle. Tie safety: at equal pos
    // the DESC order puts the A row before its same-pos B rows, so
    // (like the ASC left pass) a B starting exactly at a_s stays OUT
    // of the right frame and is counted once, on the left.
    val byPosDesc = Window.partitionBy("chrom")
      .orderBy(col("pos").desc, col("side").desc)
    u.withColumn("prev_b_e", max(col("b_e")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_b_s", min(col("b_s")).over(
        byPosDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("side") === 1)
      .select(col("chrom"), col("pos").as("s"), col("a_e").as("e"),
        least(
          when(col("prev_b_e").isNotNull,
            greatest(lit(0L), col("pos") - col("prev_b_e"))),
          when(col("next_b_s").isNotNull,
            greatest(lit(0L), col("next_b_s") - col("a_e")))).as("dist"))
  }

  /** A \ B over interval SETS per chrom (bedtools subtract, summarized):
    * per-chrom (a_bp, sub_bp, n_fragments) — covered A span, surviving
    * span, and the count of maximal surviving fragments — sorted by
    * chrom. Input columns on both frames: `chrom`, `s`, `e` (long).
    * Join-free [[coverageSegments]] sweep; property-checked against
    * brute force in IntervalOpsSpec. */
  def subtractIntervals(a: DataFrame, b: DataFrame): DataFrame = {
    val w = Window.partitionBy("chrom").orderBy("pos")
    coverageSegments(a, b)
      .withColumn("f", col("np").isNotNull && col("ca") > 0 && col("cb") === 0)
      .withColumn("starts",
        col("f") && !coalesce(lag(col("f"), 1).over(w), lit(false)))
      .groupBy("chrom")
      .agg(
        sum(when(col("np").isNotNull && col("ca") > 0, col("np") - col("pos"))
          .otherwise(0L)).as("a_bp"),
        sum(when(col("f"), col("np") - col("pos")).otherwise(0L)).as("sub_bp"),
        sum(when(col("starts"), 1L).otherwise(0L)).as("n_fragments"))
      .orderBy("chrom")
  }

  /** Two-channel coverage sweep shared by rel_interval_jaccard and
    * rel_interval_subtract: each side contributes ±1 deltas on its own
    * counter, deltas collapse by (chrom, pos) so the running sums are
    * shuffle-order independent, and each output row describes the
    * segment [pos, np) with A-depth `ca` and B-depth `cb` (np null on
    * the last boundary of a chrom). Raw unmerged intervals feed it
    * directly — depth>0 is identical to merged coverage. One keyed
    * groupBy + one (chrom)-keyed window sort, no join anywhere. */
  private[graft] def coverageSegments(a: DataFrame, b: DataFrame): DataFrame = {
    def deltas(iv: DataFrame, da: Int, db: Int) =
      iv.select(col("chrom"), col("s").as("pos"),
          lit(da.toLong).as("da"), lit(db.toLong).as("db"))
        .unionAll(iv.select(col("chrom"), col("e").as("pos"),
          lit(-da.toLong).as("da"), lit(-db.toLong).as("db")))
    val g = deltas(a, 1, 0).unionAll(deltas(b, 0, 1))
      .groupBy("chrom", "pos")
      .agg(sum(col("da")).as("da"), sum(col("db")).as("db"))
    val w = Window.partitionBy("chrom").orderBy("pos")
    g.withColumn("ca", sum(col("da")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cb", sum(col("db")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("np", lead(col("pos"), 1).over(w))
      .select("chrom", "pos", "ca", "cb", "np")
  }

  /** Keep at most `k` rows per `keyCol` (a source/domain quota),
    * best-first by (`orderCol` DESC, `idCol` ASC). Returns the kept
    * rows with all input columns. Runs as a two-level salted top-K so
    * one dominant key never serializes into a single sort task —
    * result provably equals the single-window rank (the
    * pipe_source_cap oracle). */
  def capPerKey(df: DataFrame, keyCol: String, orderCol: String, k: Int,
                idCol: String = "doc_id", salts: Int = 8): DataFrame = {
    requireIntegralId(df, idCol, "capPerKey")
    Seq(keyCol, orderCol).foreach { c =>
      require(df.columns.exists(_.equalsIgnoreCase(c)),
        s"CorpusOps.capPerKey: no column '$c' in [${df.columns.mkString(", ")}]")
    }
    require(k > 0 && salts > 0, "CorpusOps.capPerKey: k and salts must be positive")
    val id = s"`${idCol.replace("`", "``")}`"
    val w1 = Window.partitionBy(col(keyCol), expr(s"$id % $salts"))
      .orderBy(col(orderCol).desc, col(idCol).asc)
    val w2 = Window.partitionBy(keyCol)
      .orderBy(col(orderCol).desc, col(idCol).asc)
    df.withColumn("__rn1", row_number().over(w1)).where(col("__rn1") <= k)
      .withColumn("__rn", row_number().over(w2)).where(col("__rn") <= k)
      .drop("__rn1", "__rn")
  }

  /** DSIR-style importance weights (Xie et al., arXiv:2302.03169):
    * per-doc mean target-vs-raw unigram log-likelihood ratio, where
    * `isTarget` marks the rows whose token distribution defines the
    * target. Output: (idCol, n_tokens, score, keep) — positive score =
    * looks more like the target. Docs with no non-empty token are
    * absent (no features to score). See the pipe_dsir_weights entry
    * comment for the scale/determinism rationale. */
  def dsirWeights(docs: DataFrame, isTarget: Column,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(docs.columns.exists(_.equalsIgnoreCase(textCol)),
      s"CorpusOps.dsirWeights: no column '$textCol' in [${docs.columns.mkString(", ")}]")
    val txt = s"`${textCol.replace("`", "``")}`"
    val toks = Exec.barrier(docs
      .select(col(idCol).as("__id"), isTarget.as("__t"),
        explode(expr(s"filter(split($txt, ' '), x -> x != '')")).as("tok")))
    val raw = toks.groupBy("tok").agg(count(lit(1)).as("cr"))
    val tgt = toks.where(col("__t")).groupBy("tok").agg(count(lit(1)).as("ct"))
    val stats = toks.agg(count(lit(1)).as("nr"),
      sum(when(col("__t"), 1L).otherwise(0L)).as("nt"),
      countDistinct(col("tok")).as("v"))
    toks.join(raw, Seq("tok"))
      .join(tgt, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("micro", expr(
        "cast(round(1e6 * (ln((coalesce(ct, 0) + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v))), 0) as bigint)"))
      .groupBy("__id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("micro")).as("micro"))
      .select(col("__id").as(idCol), col("n_tokens"),
        expr("round(cast(micro as double) / n_tokens / 1e6, 6)").as("score"))
      .withColumn("keep", col("score") > 0)
      .orderBy(idCol)
  }

  /** CCNet-style perplexity terciles over the corpus-trained bigram LM:
    * (bucket head|middle|tail, n_docs, min_nll, max_nll). Docs too
    * short for a bigram are absent, like [[bigramLmNll]]. The
    * boundaries come from running counts over the DISTINCT-VALUE frame
    * instead of a corpus-wide ntile window (see the
    * text_perplexity_buckets entry comment). */
  def perplexityBuckets(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(docs.columns.exists(_.equalsIgnoreCase(textCol)),
      s"CorpusOps.perplexityBuckets: no column '$textCol' in [${docs.columns.mkString(", ")}]")
    // barrier: the NLL frame feeds BOTH the tercile-bound scan (via the
    // broadcast subquery) and the bucketing probe side — unbarriered,
    // the whole bigram pipeline (corpus scan, explode, LM joins, per-doc
    // agg) re-executes once per consumer (guide §5: materialize the
    // branch invariant once). The frame is one row per doc — tiny.
    val nll = Exec.barrier(bigramLmNllUnsorted(docs, idCol, textCol))
    val cnts = nll.groupBy("nll").agg(count(lit(1)).as("cnt"))
    val run = cnts
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy("nll")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
    val bounds = run.agg(
      min(when(col("cum") * 3 >= col("n"), col("nll"))).as("b1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("nll"))).as("b2"))
    nll.crossJoin(broadcast(bounds))
      .withColumn("bucket", when(col("nll") <= col("b1"), "head")
        .when(col("nll") <= col("b2"), "middle").otherwise("tail"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("nll")).as("min_nll"), max(col("nll")).as("max_nll"))
      .orderBy("bucket")
  }

  /** Merge overlapping-or-touching intervals per key (bedtools merge).
    * Input columns: key `chrom`, bounds `s`/`e` (long). Output:
    * (chrom, region_start, region_end, n_intervals). With
    * `bucketWidth = Some(w)` the sweep partitions by (chrom, s div w)
    * and a second sweep stitches bucket-boundary regions — same answer
    * (merge is associative; property-checked in IntervalOpsSpec),
    * parallel WITHIN a key instead of bounded by key count.
    */
  def mergeIntervals(intervals: DataFrame,
                     bucketWidth: Option[Long] = None): DataFrame = {
    val iv = intervals.select(col("chrom"), col("s"), col("e"))
      .withColumn("weight", lit(1L))
    val first = mergeSweep(iv, bucketWidth)
    bucketWidth match {
      case None => first
      case Some(_) => mergeSweep(
        first.selectExpr("chrom", "region_start AS s", "region_end AS e",
          "n_intervals AS weight"), bucketWidth = None)
    }
  }

  /** One [[mergeIntervals]] pass over (chrom, s, e, weight) rows:
    * n_intervals = sum weight, so the stitching pass over bucket
    * regions carries their interval counts. */
  private def mergeSweep(iv: DataFrame, bucketWidth: Option[Long]): DataFrame = {
    val bucketed = bucketWidth match {
      case Some(bw) => iv.withColumn("bucket", expr(s"s div $bw"))
      case None => iv.withColumn("bucket", lit(0L))
    }
    val w = Window.partitionBy("chrom", "bucket").orderBy(col("s"), col("e"))
    val prevMax = max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    bucketed
      .withColumn("opens", when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("grp", sum(col("opens")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("chrom", "bucket", "grp")
      .agg(min(col("s")).as("region_start"), max(col("e")).as("region_end"),
        sum(col("weight")).as("n_intervals"))
      .select("chrom", "region_start", "region_end", "n_intervals")
  }

  /** Corpus novelty curve: per document, the fraction of its distinct
    * word `n`-grams NOT seen in any lower-id document (first owner =
    * min id per gram) — the audit behind "is this crawl adding
    * anything"; a feed whose novelty decays to ~0 is re-serving known
    * content. One gram-keyed aggregation (map-side partial min) plus a
    * posting rejoin, bounded by distinct grams. Output: (`idCol`,
    * n_grams, n_novel, novelty). */
  def noveltyCurve(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", n: Int = 3): DataFrame = {
    require(docs.columns.contains(idCol) && docs.columns.contains(textCol),
      s"CorpusOps.noveltyCurve: need columns '$idCol' and '$textCol'")
    require(n >= 1, s"CorpusOps.noveltyCurve: n ($n) must be >= 1")
    val gram = (0 until n).map(k => s"element_at(__w, i + $k)").mkString(", ")
    // Raw grams as rows — array_distinct under the Generate is
    // CodegenFallback and measured ~12x slower (pipe_decontaminate
    // note); dedup happens inside the aggregations below instead.
    // Barriered: the owner and per-doc aggregations both read it.
    val grams = docs
      .selectExpr(s"`$idCol` AS __nid", s"split(`$textCol`, ' ') AS __w")
      .where(expr(s"size(__w) >= $n"))
      .selectExpr("__nid",
        s"""explode(transform(sequence(1, size(__w) - ${n - 1}),
             i -> concat_ws(' ', $gram))) AS g""")
      .transform(Exec.barrier)
    // Each distinct gram credits exactly one novel owner — its min id —
    // so novelty falls out of two doc-keyed aggregates joined at DOC
    // granularity; the corpus-sized gram<->first-owner join the naive
    // plan shuffles (grams JOIN first ON g) never happens.
    val novel = grams.groupBy("g").agg(min(col("__nid")).as("fo"))
      .groupBy("fo").agg(count(lit(1)).as("n_novel"))
    grams.groupBy("__nid").agg(countDistinct(col("g")).as("n_grams"))
      .join(novel, col("__nid") === col("fo"), "left")
      .select(col("__nid"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .selectExpr(s"__nid AS `$idCol`", "n_grams", "n_novel",
        "round(n_novel / n_grams, 6) AS novelty")
      .orderBy(idCol)
  }

  /** Cross-key duplication matrix: near-dup `pairs` (two id columns,
    * e.g. from [[nearDupPairs]]) lifted to unordered (`keyCol`,
    * `keyCol`) cells with pair counts — the audit separating one feed
    * mirroring another from within-source boilerplate. Output:
    * (src_a, src_b, n_pairs), src_a <= src_b. */
  def dupSourceMatrix(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id",
                      keyCol: String = "source"): DataFrame = {
    require(docs.columns.contains(idCol) && docs.columns.contains(keyCol),
      s"CorpusOps.dupSourceMatrix: need columns '$idCol' and '$keyCol'")
    val pc = pairs.columns
    require(pc.length >= 2, "CorpusOps.dupSourceMatrix: pairs needs two id columns")
    val src = docs.select(col(idCol), col(keyCol))
    pairs.select(col(pc(0)).as("id_a"), col(pc(1)).as("id_b"))
      .join(src.select(col(idCol).as("id_a"), col(keyCol).as("__sa")), Seq("id_a"))
      .join(src.select(col(idCol).as("id_b"), col(keyCol).as("__sb")), Seq("id_b"))
      .selectExpr("least(__sa, __sb) AS src_a", "greatest(__sa, __sb) AS src_b")
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }
}
