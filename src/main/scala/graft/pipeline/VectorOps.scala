package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public, DataFrame-in / DataFrame-out similarity search over an
  * embedding column (`array<float>` or `array<double>`) — the API a
  * user calls on their OWN vector tables. The PQ machinery, the k-means
  * quantizer and the radius search here are THE implementations the
  * oracle-checked ANN gate entries run, so the correctness gate covers
  * these code paths.
  *
  * Scale contract (see SCALE.md): the corpus side never shuffles — the
  * query set broadcasts (brute force), or the probe is an equi-join on
  * a cell key (IVF), or the scan folds a broadcast LUT over 1-byte
  * codes (PQ) — and the only wide operation is the per-query top-k
  * window.
  */
object VectorOps {

  /** Backtick-quote a user-supplied column name for splicing into a SQL
    * expression string (names with spaces/dots/hyphens; embedded
    * backticks doubled per the SQL rule). */
  private def q(name: String): String = "`" + name.replace("`", "``") + "`"

  /** All user-supplied names resolve as LITERAL column names (backtick
    * semantics) — consistently across idCol/vecCol/cellCol; a dotted
    * name is a column called "a.b", not nested-field access. */
  private def asVec(df: DataFrame, idCol: String, vecCol: String,
                    extra: Seq[(String, String)] = Nil): DataFrame =
    df.select(col(q(idCol)).cast("long").as("__id") +:
      expr(s"transform(${q(vecCol)}, x -> cast(x as double))").as("__v") +:
      extra.map { case (c, a) => col(q(c)).as(a) }: _*)

  /** Codegen'd kernel (PipelineKernels.cosine) — identical left-to-right
    * accumulation to the HOF formula it replaced, so every facade's
    * ranking values are unchanged; the interpreted-lambda cost in the
    * per-candidate scoring loop is gone. */
  private val Cos = "graft_cosine_sim(__qv, __v)"

  /** EXACT cosine-threshold (radius) search: every (query, corpus)
    * pair with round(cosine, 6) >= `tau`, pairs with equal ids
    * excluded. Output: (q_id, vec_id, cos), ordered. Unlike the top-k
    * family this is not approximate — k-means cells are pruned by the
    * triangle inequality in the unit-normalized space, which provably
    * cannot drop a qualifying pair (losslessness property-checked in
    * RadiusSearchSpec; the ann_radius_prune gate entry hash-matches a
    * brute-force oracle). Scanned fraction behaves like IVF, recall is
    * 1.0 by construction. */
  def radiusSearch(corpus: DataFrame, queries: DataFrame, tau: Double,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    require(tau > -1.0 && tau <= 1.0, s"radiusSearch: tau ($tau) must be in (-1, 1]")
    radiusSearchFrames(
      asVec(corpus, idCol, vecCol).select(col("__id").as("vec_id"), col("__v").as("v")),
      asVec(queries, idCol, vecCol).select(col("__id").as("vec_id"), col("__v").as("v")),
      tau)
  }

  /** Radius-search core over (vec_id, v) frames with ORIGINAL
    * (unnormalized) double vectors, pairs with equal ids excluded —
    * bit-identical to brute force, proven by the triangle inequality
    * rather than sampled recall:
    *
    * On UNIT vectors, cos(a,b) >= tau  <=>  ||â-b̂||² <= 2-2·tau, so a
    * cosine radius is an L2 ball of radius r = sqrt(2-2·tau) in the
    * normalized space. Corpus vectors are k-means-partitioned (any
    * partition works — determinism of the clustering is irrelevant to
    * exactness); each cell keeps its pivot distance bound crad =
    * max_member ||v̂-ĉ||. For a qualifying pair, dist(q̂,ĉ) <=
    * dist(q̂,v̂) + dist(v̂,ĉ) <= r + crad, so scanning only cells with
    * dist(q̂,ĉ) <= r + crad + eps misses nothing (eps = 1e-5 absorbs
    * the round-6 acceptance slack ~5e-7 and normalization FP noise).
    * Final verify recomputes exact cosine on the ORIGINAL vectors with
    * the same kernel/rounding as the brute-force oracle.
    *
    * Scale: the scanned fraction is the classic IVF ratio but with
    * recall = 1 by construction; candidate fan-out is a cid-keyed
    * equi-join (corpus never self-joins), queries/centroids/bounds all
    * broadcast. */
  private[graft] def radiusSearchFrames(e: DataFrame, q: DataFrame, tau: Double): DataFrame = {
    graft.functions.GraftFunctions.registerAll(e.sparkSession)
    // graft_l2_normalize = the fused codegen'd kernel; the transform/
    // aggregate HOF idiom it replaces re-evaluated the norm aggregate
    // per ELEMENT, interpreted (64x64 lambda steps per row) — and this
    // normalization runs on every corpus pass of the quantizer (r13).
    // Bit-identical: same left-to-right sum, same per-element division.
    val norm = "graft_l2_normalize(v)"
    // vo = the ORIGINAL vector rides alongside its normalized twin all
    // the way through assignment and the ringed barrier, so the exact
    // verify below needs no corpus-by-id re-join: the old
    // `.join(e, vec_id)` shuffled the corpus a second time (both sides
    // keyed on vec_id) purely to re-attach bytes the pipeline had
    // already read — guide §2.4 (remove shuffles outright) / §8 (move
    // heavy payloads once).
    val en = e.select(col("vec_id"), expr(norm).as("v"), col("v").as("vo"))
    val (assigned0, cents) = kmeansAssigned(en)
    // Ring-partitioned bounds (the dedup_radius_pairs self-join uses
    // the same rings): the per-cell
    // max radius is outlier-fragile (one isotropic member blows the
    // bound to unit scale), so members bucket into fixed 0.25-wide
    // distance-to-centroid rings and the bound is per (cell, ring). md
    // and the query-centroid distance round to 6 before comparing
    // (sound: the 1e-5 eps absorbs the ≤1e-6 round-off) so the
    // survival decision replays identically in an external
    // re-implementation. ONE barrier on the ringed frame serves its
    // two consumers (sub-cell bounds + the member side); assigned0
    // itself has a single consumer now, so it carries no barrier.
    // vn once per vector (the verify fan is the entry's dominant cost at
    // low tau where the triangle prune passes most sub-cells)
    val ringed = Exec.barrier(assigned0.join(broadcast(cents), Seq("cid"))
      .withColumn("md", expr("round(sqrt(graft_l2_sq(v, cv)), 6)"))
      .withColumn("rid", least(floor(col("md") / lit(0.25)).cast("int"), lit(7)))
      .select(col("vec_id"), col("cid"), col("rid"), col("md"), col("vo"),
        expr("graft_l2norm(vo)").as("vn")))
    val cells = ringed.groupBy("cid", "rid").agg(max(col("md")).as("crad"))
    val r = math.sqrt(2.0 - 2.0 * tau)
    val survive = q.select(col("vec_id").as("q_id"), expr(norm).as("qvn"))
      .crossJoin(broadcast(cents.join(cells, Seq("cid"))))
      .where(expr("round(sqrt(graft_l2_sq(qvn, cv)), 6)") <= lit(r) + col("crad") + lit(1e-5))
      .select(col("q_id"), col("cid"), col("rid"))
    ringed.select(col("vec_id"), col("cid"), col("rid"), col("vo").as("v"),
        col("vn").as("nb_s"))
      .join(broadcast(survive), Seq("cid", "rid"))
      .join(broadcast(q.select(col("vec_id").as("q_id"), col("v").as("qv"),
        expr("graft_l2norm(v)").as("na_s"))), Seq("q_id"))
      .where(col("vec_id") =!= col("q_id"))
      // bit-identical to round(graft_cosine_sim(qv, v), 6), with the
      // norms hoisted out of the per-pair loop
      .select(col("q_id"), col("vec_id"),
        expr("round(graft_dot(qv, v) / (na_s * nb_s), 6)").as("cos"))
      .where(col("cos") >= tau)
      .orderBy("q_id", "vec_id")
  }

  /** Exact cosine top-k: for every query row, the `k` most similar
    * corpus rows. Output: (query id `q_id`, corpus id `id`, `cos`,
    * rank `rn`). The query set is broadcast — size it accordingly
    * (thousands, not millions); the corpus streams through map-side
    * scoring into a per-query top-k.
    *
    * `excludeSelfIds` (default true) drops corpus rows whose id equals
    * the query's id — right when querying a table against itself; pass
    * false when the query table has its own id space, or corpus rows
    * that legitimately share a query id would silently vanish.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     excludeSelfIds: Boolean = true): DataFrame = {
    val c = asVec(corpus, idCol, vecCol)
    val qs = asVec(queries, idCol, vecCol)
      .select(col("__id").as("__qid"), col("__v").as("__qv"))
    rank(c.crossJoin(broadcast(qs)), k, excludeSelfIds)
  }

  /** Matryoshka (MRL) two-stage top-k: score every corpus row on the
    * first `prefixDims` dimensions only, keep the top `candidates` per
    * query, then rerank just those on the full vector. The cheap stage
    * does `prefixDims / dim` of the arithmetic and the expensive stage
    * touches `candidates` rows per query instead of the corpus —
    * embeddings trained matryoshka-style keep most of the ranking
    * signal in the prefix, so recall stays high at a fraction of the
    * cost. Approximate by construction; measure recall against
    * [[bruteForceTopK]] on a sample. Output: (q_id, id, cos, rn). */
  def mrlRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    prefixDims: Int = 16, candidates: Int = 50,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    excludeSelfIds: Boolean = true): DataFrame = {
    require(prefixDims >= 1, s"mrlRerankTopK: prefixDims ($prefixDims) must be >= 1")
    require(candidates >= k,
      s"mrlRerankTopK: candidates ($candidates) must be >= k ($k)")
    graft.functions.GraftFunctions.registerAll(corpus.sparkSession)
    val c = asVec(corpus, idCol, vecCol)
    val qs = asVec(queries, idCol, vecCol)
      .select(col("__id").as("__qid"), col("__v").as("__qv"),
        slice(col("__v"), 1, prefixDims).as("__qp"))
    val w1 = Window.partitionBy(col("__qid"))
      .orderBy(col("pcos").desc, col("__id").asc)
    // stage 1 shuffles only (qid, id, pcos) — wide vectors stay out of
    // the top-C window; stage 2 is a candidate-bounded keyed join back
    val cand = c.select(col("__id"), slice(col("__v"), 1, prefixDims).as("__vp"))
      .crossJoin(broadcast(qs.select(col("__qid"), col("__qp"))))
      .where(if (excludeSelfIds) col("__id") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__id"),
        expr("round(graft_cosine_sim(__qp, __vp), 6)").as("pcos"))
      .withColumn("rn1", row_number().over(w1))
      .where(col("rn1") <= candidates)
      .select("__qid", "__id")
    rank(cand.join(c, "__id")
      .join(broadcast(qs.select(col("__qid").as("__qid2"), col("__qv"))),
        col("__qid") === col("__qid2")),
      k, excludeSelfIds)
  }

  /** IVF-restricted cosine top-k: rows carry a coarse cell key
    * (`cellCol` — a cluster id, a trained centroid assignment, any
    * partitioner) and each query searches only its own cell, touching
    * |corpus| / cells rows. The probe is an equi-join on the cell key,
    * never a full scan. Recall depends on the cell structure; compose
    * with [[bruteForceTopK]] on a sample to measure it.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              cellCol: String,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              excludeSelfIds: Boolean = true): DataFrame = {
    val c = asVec(corpus, idCol, vecCol, Seq(cellCol -> "__cell"))
    val qs = asVec(queries, idCol, vecCol, Seq(cellCol -> "__qcell"))
      .select(col("__id").as("__qid"), col("__v").as("__qv"), col("__qcell"))
    rank(c.join(broadcast(qs), col("__cell") === col("__qcell")), k, excludeSelfIds)
  }

  /** Product-quantization top-k: each corpus vector compresses to
    * `subspaces` codebook codes — `dim * 4` bytes become `subspaces`
    * bytes — and queries rank by asymmetric distance (their
    * per-subspace distance LUT, broadcast, folded over the code array
    * per row). The codebook is `centroids` centroids per subspace,
    * trained with one Lloyd round from the `centroids` lowest-id
    * corpus vectors. Approximate by design: ranks reflect quantized
    * squared-L2 (`ad`), not exact distances — measure recall against
    * [[bruteForceTopK]] on a sample. The vector length must be
    * divisible by `subspaces` and uniform across corpus and queries
    * (checked per row, loudly).
    *
    * Scale contract: encode and scan are map-only against broadcast
    * codebook/LUT — the corpus never shuffles; only the bounded
    * codebook aggregations and the per-query top-k window are wide.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             subspaces: Int = 8, centroids: Int = 4,
             idCol: String = "vec_id",
             vecCol: String = "embedding",
             excludeSelfIds: Boolean = true): DataFrame = {
    val c = asVec(corpus, idCol, vecCol)
    // probe a non-null row for the dimension (a null embedding must not
    // NPE the probe; null rows then die loudly in the per-row check)
    val dim = c.where(col("__v").isNotNull)
      .select(size(col("__v"))).take(1) match {
      case Array(r) => r.getInt(0)
      case _ => // empty corpus: empty result, correct schema
        return c.sparkSession.emptyDataFrame
          .select(lit(0L).as("q_id"), lit(0L).as("id"),
            lit(0.0).as("ad"), lit(0).as("rn")).limit(0)
    }
    require(dim % subspaces == 0,
      s"vector length $dim not divisible by $subspaces subspaces")
    val qs = asVec(queries, idCol, vecCol)
      .select(col("__id").as("__qid"), col("__v").as("__qv"))
    val (codes, lut) = pqMachinery(checkDim(c, "__v", dim),
      checkDim(qs, "__qv", dim), subspaces, dim / subspaces, centroids,
      distRound = None, meanRound = None)
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("ad").asc, col("__id").asc)
    codes.crossJoin(broadcast(lut))
      .where(if (excludeSelfIds) col("__id") =!= col("__qid") else lit(true))
      .withColumn("ad", adcExpr(subspaces, distRound = None))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("__qid").as("q_id"), col("__id").as("id"), col("ad"), col("rn"))
  }

  /** Per-row loud length check — a FILTER, not a projected assertion,
    * so the optimizer cannot prune it (assert_true returns null on
    * pass, throws on violation). */
  private def checkDim(df: DataFrame, v: String, dim: Int): DataFrame =
    df.where(expr(
      s"""assert_true(size($v) = $dim, 'vector length mismatch: expected $dim, got '
          || coalesce(cast(size($v) as string), 'null')) is null"""))

  /** ADC distance: LUT-sum over the code array, folded per-row in fixed
    * subspace order (deterministic summation). The oracle-facing gate
    * entries round to 6 decimals so DuckDB agrees bit-for-bit; the
    * facade keeps full precision. */
  private[graft] def adcExpr(subspaces: Int, distRound: Option[Int]): Column = {
    val sum = s"""aggregate(sequence(0, ${subspaces - 1}), 0D,
         (acc, m) -> acc + filter(dt[m], p -> p.cid = codes[m])[0].d)"""
    expr(distRound.map(n => s"round($sum, $n)").getOrElse(sum))
  }

  /** PQ core shared by the facade and the oracle-checked gate entries:
    * trains the codebook (one Lloyd round from the `centroids`
    * lowest-id corpus vectors), encodes the corpus, and builds the
    * per-query LUT. Inputs: corpus (`__id`, `__v`, plus passthrough
    * columns carried onto `codes`) and queries (`__qid`, `__qv`, plus
    * passthrough carried onto the LUT). `distRound`/`meanRound` exist
    * for the gate's oracle determinism (round-6 distances / round-9
    * means so DuckDB replays identically); the facade passes None.
    * Encode/assign are map-only against the packed broadcast codebook
    * (argmin via array_min over (d, cid) structs, ties to lowest cid).
    */
  private[graft] def pqMachinery(c: DataFrame, qs: DataFrame,
      subspaces: Int, subDim: Int, centroids: Int,
      distRound: Option[Int], meanRound: Option[Int]): (DataFrame, DataFrame) = {
    val cExtra = c.columns.filterNot(Set("__id", "__v")).toSeq
    val qExtra = qs.columns.filterNot(Set("__qid", "__qv")).toSeq
    def rDist(e: String) = distRound.map(n => s"round($e, $n)").getOrElse(e)
    def rMean(e: Column) = meanRound.map(n => round(e, n)).getOrElse(e)
    def subs(df: DataFrame, id: String, v: String, extra: Seq[String]) =
      df.select((col(id) +: extra.map(col)) :+ explode(expr(
          s"transform(sequence(0, ${subspaces - 1}), m -> named_struct('m', m, 'sv', slice($v, m * $subDim + 1, $subDim)))")).as("z"): _*)
        .select((col(id) +: extra.map(col)) ++ Seq(col("z.m").as("m"), col("z.sv").as("sv")): _*)
    // consumed by seeds, Lloyd assign, encode — barrier it
    val sub = subs(c, "__id", "__v", cExtra).transform(Exec.barrier)
    val seedIds = c.orderBy("__id").limit(centroids).select("__id")
    val seedCb = sub.join(broadcast(seedIds), "__id")
      .select(col("m"), col("__id").as("cid"), col("sv").as("cv"))
    def assign(cb: DataFrame): DataFrame = {
      val packed = cb.groupBy("m").agg(
        expr("array_sort(collect_list(struct(cid, cv)))").as("cs"))
      sub.join(broadcast(packed), "m")
        .withColumn("best", expr(
          s"""array_min(transform(cs, c -> struct(
               ${rDist("aggregate(zip_with(sv, c.cv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)")} AS d,
               c.cid AS cid)))"""))
        .select((col("__id") +: cExtra.map(col)) ++
          Seq(col("m"), col("sv"), col("best.cid").as("cid")): _*)
    }
    val cb = assign(seedCb)
      .select(col("m"), col("cid"), posexplode(col("sv")).as(Seq("dim", "x")))
      .groupBy("m", "cid", "dim").agg(rMean(avg(col("x"))).as("mu"))
      .groupBy("m", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(dim, mu))), p -> p.mu)").as("cv"))
      .transform(Exec.barrier) // consumed by encode + LUT
    // the compressed corpus: `subspaces` small codes per vector, m-ordered
    val codes = assign(cb).groupBy("__id", cExtra: _*)
      .agg(expr("transform(array_sort(collect_list(struct(m, cid))), p -> p.cid)").as("codes"))
    // per-query LUT: dt[m] = codebook distances of subspace m, cid-keyed
    val lut = subs(qs, "__qid", "__qv", qExtra).join(broadcast(cb), "m")
      .select((col("__qid") +: qExtra.map(col)) ++ Seq(col("m"), col("cid"),
        expr(rDist("aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)")).as("d")): _*)
      .groupBy("__qid", qExtra :+ "m": _*)
      .agg(expr("array_sort(collect_list(struct(cid, d)))").as("dl"))
      .groupBy("__qid", qExtra: _*)
      .agg(expr("transform(array_sort(collect_list(struct(m, dl))), p -> p.dl)").as("dt"))
    (codes, lut)
  }

  /** SQ8 core shared with the oracle-checked `ann_int8_quant` gate
    * entry: per-vector symmetric int8 quantization over (vec_id, v) —
    * adds `s` (scale = max|x| / 127) and `codes` (array<int>, each in
    * [-127, 127]; dequantize as codes[i] * s). `floor(x/s + 0.5)`
    * instead of round() because both engines floor identically while
    * round() half-case conventions differ. A zero vector (s = 0) codes
    * to all zeros rather than dividing by zero. Map-only — no shuffle.
    */
  private[graft] def sq8Quantized(e: DataFrame): DataFrame =
    e.withColumn("s", expr("array_max(transform(v, x -> abs(x))) / 127D"))
      .withColumn("codes", expr(
        "transform(v, x -> cast(if(s = 0D, 0D, floor(x / s + 0.5D)) as int))"))

  /** Symmetric int8 scalar quantization (SQ8): the standard 4x
    * embedding-memory cut (float32 -> int8, typically <0.5% recall
    * cost; PQ compresses further but lossier). Output: the id column,
    * `scale` (double, per-vector = max|x|/127) and `codes`
    * (array<int>, each in [-127, 127]); dequantize as
    * `codes[i] * scale`. Per-row map-only — quantizing a 100 TB corpus
    * is one shuffle-free pass. */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val e = asVec(df, idCol, vecCol)
      .select(col("__id").as("vec_id"), col("__v").as("v"))
    sq8Quantized(e)
      .select(col("vec_id").as(idCol), col("s").as("scale"), col("codes"))
  }

  /** Trained-IVF cosine top-k with multi-cell probing — the end-to-end
    * IVF path when rows DON'T already carry a cell key (contrast
    * [[ivfTopK]]): a deterministic 2-round k-means over the corpus
    * builds `cells` centroids, every corpus vector lands in its
    * nearest cell, and each query probes its `nprobe` nearest cells —
    * the standard recall knob; `nprobe = cells` degrades gracefully to
    * exact brute force (spec-pinned). Corpus assignment and probing
    * are map-only against one broadcast centroid row; the probe itself
    * is an equi-join on the cell id, touching ~nprobe/cells of the
    * corpus. Output: (q_id, id, cos, rn). */
  def kmeansIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    cells: Int = 8, nprobe: Int = 1,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    excludeSelfIds: Boolean = true): DataFrame = {
    require(nprobe >= 1 && nprobe <= cells,
      s"kmeansIvfTopK: nprobe ($nprobe) must be in [1, cells=$cells]")
    val c = asVec(corpus, idCol, vecCol)
      .select(col("__id").as("vec_id"), col("__v").as("v"))
    val (assigned, centroids) =
      kmeansAssigned(c, cells)
    val qs = asVec(queries, idCol, vecCol)
      .select(col("__id").as("vec_id"), col("__v").as("v"))
    val probed = assignTo(qs, centroids, nprobe)
      .select(col("vec_id").as("__qid"), col("cid"), col("v").as("__qv"))
    // corpus vectors sit in ONE cell and probe cells are distinct, so
    // a (query, corpus) pair appears at most once — no dedup needed
    rank(assigned.select(col("vec_id").as("__id"), col("cid"), col("v").as("__v"))
      .join(broadcast(probed), Seq("cid")), k, excludeSelfIds)
  }

  /** Deterministic 2-round Lloyd over (vec_id, v): seeds = the k lowest
    * vec_ids, one centroid-update round, then the final assignment.
    * Returns (assigned: vec_id, cid, v — the post-update assignment;
    * centroids: cid, cv). MAP-ONLY assignment: the k centroids pack
    * into ONE broadcast row (collect_list of k structs) and the argmin
    * happens inside a single per-row expression — array_min over
    * (distance, cid) structs is the lexicographic minimum, ties to the
    * lowest cid. No shuffle, no window, no agg buffer copying the
    * vector; the corpus is touched once per round. (A per-vec window
    * shuffles |corpus| x k scored pairs; a min(struct(..., v))
    * aggregation copies the 64-double array on every buffer update —
    * both measured slower.) Distances round to 6 and means to 9
    * decimals so the DuckDB oracle replays bit-for-bit despite
    * different summation orders. Shared by ann_kmeans_ivf (cell
    * stats) and dedup_semantic (SemDeDup cluster partitioning).
    *
    * `probes` > 1 multi-assigns each vector to its `probes` nearest
    * cells in the FINAL assignment (Lloyd's update round always uses
    * the argmin) — the standard boundary-miss recall knob: a vector
    * pair straddling a cell boundary still meets in a shared
    * second-choice cell. Pair space grows ~probes^2-bounded; measured
    * at gate scale (see SCALE.md): recall 24/59 -> 49/59 for 3.7x
    * pairs. */
  private[graft] def kmeansAssigned(e: DataFrame, k: Int = 8,
                                    probes: Int = 1): (DataFrame, DataFrame) = {
    require(probes >= 1 && probes <= k,
      s"kmeansAssigned: probes ($probes) must be in [1, k=$k]")
    val seeds = e.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    def update(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("cid", "dim").agg(round(avg(col("x")), 9).as("m"))
        .groupBy("cid")
        .agg(expr("array_sort(collect_list(struct(dim, m))).m").as("cv"))
    // barrier: c1 is consumed by the final assignment AND by callers
    // joining centroid stats — without it the corpus-wide centroid
    // aggregation (a full pass over the assigned corpus) re-derives
    // per consumer
    val c1 = update(assignTo(e, seeds)).transform(Exec.barrier)
    (assignTo(e, c1, probes), c1)
  }

  /** Nearest-cell assignment of (vec_id, v) rows against a (cid, cv)
    * centroid frame — the shared map-only kernel: centroids pack into
    * ONE broadcast row; probes = 1 takes the argmin in one native
    * kernel call (graft_nearest_cell), probes > 1 slices the same (d, cid)-sorted list and
    * explodes one row per (vector, cell). Distances round to 6 so the
    * DuckDB oracle's row_number tie-break replays identically. */
  private[graft] def assignTo(e: DataFrame, centroids: DataFrame,
                              probes: Int = 1): DataFrame = {
    // output = cid prepended to ALL of e's columns (order changed in
    // round 12 from the old (vec_id, cid, v) — callers select by name);
    // reserved intermediate names would clobber or ambiguate
    require(!e.columns.exists(Set("cid", "cs", "best")),
      s"assignTo input must not carry cid/cs/best, got ${e.columns.mkString(",")}")
    graft.functions.GraftFunctions.registerAll(e.sparkSession)
    // graft_l2_sq = the codegen'd kernel; accumulates left-to-right,
    // bit-identical to the aggregate(zip_with(...)) HOF pair it
    // replaced (the DuckDB oracles replay that exact order) at ~10x
    // less per-centroid cost in this innermost loop
    val dExpr = "round(graft_l2_sq(v, c.cv), 6) AS d, c.cid AS cid"
    val packed = centroids.agg(expr("collect_list(struct(cid, cv))").as("cs"))
    val scored = e.crossJoin(broadcast(packed))
    // probes = 1: graft_nearest_cell is the argmin loop of
    // array_min(transform(cs, c -> struct($dExpr))).cid, with its
    // (d, cid) order and null semantics, without the interpreted lambda
    val withCid =
      if (probes == 1) scored.withColumn("cid", expr("graft_nearest_cell(v, cs)"))
      else
        scored.withColumn("best", explode(expr(
          s"slice(array_sort(transform(cs, c -> struct($dExpr))), 1, $probes)")))
          .withColumn("cid", col("best.cid"))
    // carry every input column through (not just vec_id + v): callers
    // that thread payload columns alongside the vector (e.g. the radius
    // family's original-scale vectors) keep them without re-joining the
    // corpus by id after assignment
    withCid.select(col("cid") +: e.columns.map(col): _*)
  }

  /** Sign of hyperplane `j` in dimension `d`: the md5 parity of
    * "p{j}_{d}", so the DuckDB oracle can recompute the identical
    * planes (and therefore identical buckets — the dot products fold in
    * the same dimension order, so even the sign of a near-zero
    * projection matches bit-for-bit). */
  private def planeSign(j: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val b0 = md.digest(s"p${j}_$d".getBytes("UTF-8"))(0)
    if (((b0 >> 4) & 1) == 1) 1.0 else -1.0
  }

  /** LSH-bucketed cosine top-k: random-hyperplane signatures (`bits`
    * sign bits from deterministic md5-parity planes) bucket both sides;
    * each query probes its own bucket plus, at `hamming = 1`, every
    * bucket one bit-flip away, and only bucket-collided candidates get
    * the exact cosine re-rank. The probe is an equi-join on the bucket
    * key (query side exploded into its bits+1 probe keys and broadcast)
    * — the corpus streams through a hash join, never a nested-loop
    * bit_count scan, so the shape stays linear as the query set grows.
    * Recall depends on bits/hamming; measure against [[bruteForceTopK]]
    * on a sample. Vector dimension is taken from the first corpus row.
    * Output: (q_id, id, cos, rn). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 16, hamming: Int = 1,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              excludeSelfIds: Boolean = true): DataFrame = {
    require(bits >= 1 && bits <= 63, s"lshTopK: bits ($bits) must be in [1, 63]")
    require(hamming == 0 || hamming == 1,
      s"lshTopK: hamming radius ($hamming) must be 0 or 1")
    require(k >= 1, s"k must be >= 1, got $k")
    graft.functions.GraftFunctions.registerAll(corpus.sparkSession)
    val c = asVec(corpus, idCol, vecCol)
    val first = c.select(expr("size(__v)").as("d")).limit(1).collect()
    if (first.isEmpty) // empty corpus: schema-stable empty result
      return c.select(col("__id").as("q_id"), col("__id").as("id"),
        lit(null).cast("double").as("cos"), lit(null).cast("int").as("rn")).limit(0)
    val dim = first(0).getInt(0)
    val planesSql = Array.tabulate(bits, dim)(planeSign)
      .map(p => s"array(${p.map(x => s"${x}D").mkString(", ")})")
      .mkString("array(", ", ", ")")
    def withBucket(df: DataFrame) = df
      .withColumn("__planes", expr(planesSql))
      .withColumn("__b", expr("graft_lsh_bucket(__planes, __v)"))
      .drop("__planes")
    val cb = withBucket(c)
    val qb = withBucket(asVec(queries, idCol, vecCol))
      .select(col("__id").as("__qid"), col("__v").as("__qv"), col("__b").as("__qb"))
    val probes =
      if (hamming == 0) qb.withColumn("__probe", col("__qb"))
      else qb.withColumn("__probe", explode(expr(
        s"concat(array(__qb), transform(sequence(0, ${bits - 1}), j -> __qb ^ shiftleft(1L, j)))")))
    rank(cb.join(broadcast(probes), col("__b") === col("__probe")), k, excludeSelfIds)
  }

  /** Cosine top-k over int8-quantized vectors — the search half of SQ8:
    * both sides quantize via [[quantizeInt8]]'s core and rank by cosine
    * over the CODE arrays. Cosine is scale-invariant, so code-space
    * ranking equals dequantized ranking exactly, and differs from
    * float32 ranking only by quantization error (typically <0.5%
    * recall; measure against [[bruteForceTopK]] on a sample). The
    * corpus-side scan touches 4x fewer bytes and the arithmetic is
    * integer multiplies. Zero vectors have no cosine direction and are
    * excluded from both sides. Output: (q_id, id, cos, rn). */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding",
               excludeSelfIds: Boolean = true): DataFrame = {
    // codes cast to double for the cosine kernel: int products up to
    // 127*127 are exact in double, so ranking values are unchanged
    def codesOf(df: DataFrame) = sq8Quantized(
      asVec(df, idCol, vecCol).select(col("__id"), col("__v").as("v")))
      .where(col("s") > 0)
      .select(col("__id"), expr("transform(codes, x -> cast(x as double))").as("__v"))
    val qs = codesOf(queries)
      .select(col("__id").as("__qid"), col("__v").as("__qv"))
    rank(codesOf(corpus).crossJoin(broadcast(qs)), k, excludeSelfIds)
  }

  private def rank(scored: DataFrame, k: Int, excludeSelfIds: Boolean): DataFrame = {
    graft.functions.GraftFunctions.registerAll(scored.sparkSession)
    val w = Window.partitionBy(col("__qid"))
      .orderBy(col("cos").desc, col("__id").asc)
    scored
      .where(if (excludeSelfIds) col("__id") =!= col("__qid") else lit(true))
      .select(col("__qid"), col("__id"), expr(s"round($Cos, 6)").as("cos"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("__qid").as("q_id"), col("__id").as("id"), col("cos"), col("rn"))
  }
}
