package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.pipeline.{Exec, VectorOps}

/** Similarity search over the embedding column.
  *
  *  - Brute-force top-k: broadcast the (small) query set against the
  *    corpus; per-row double-precision cosine in a codegen'd
  *    higher-order expression, then a per-query window top-k. At scale
  *    the corpus side stays partitioned — no shuffle of the big side;
  *    the window is per-query-key with a TakeOrderedAndProject shape.
  *  - LSH-bucketed (random hyperplane signs): the scale path; buckets
  *    shrink the candidate set so the expensive exact re-rank touches a
  *    fraction of the corpus. Spark-side only (hyperplanes are seeded
  *    constants); its recall against brute force is spec-tested, and its
  *    oracle-facing guarantee is "results are a subset of the corpus
  *    with correctly computed cosines", checked by re-ranking.
  */
object Similarity {
  import Q.t

  private def vecs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
  }

  private val CosSql = "round(graft_cosine_sim(qv, v), 6)"

  /** DuckDB expression for the random-hyperplane bucket of a vector
    * column `v`: 16 planes x 64 dims, each sign the md5 parity of
    * "p{j}_{d}" (the planes VectorOps.lshTopK derives), folded in the
    * same dimension order so even a near-zero projection's sign
    * matches bit-for-bit. */
  private def bucketSql(v: String): String = {
    val bits = (0 until 16).map { j =>
      s"""(CASE WHEN list_sum([CASE WHEN CAST(('0x' || substr(md5('p${j}_' || CAST(d - 1 AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 1
                 THEN $v[d] ELSE -$v[d] END for d in range(1, 65)]) >= 0
           THEN ${1L << j} ELSE 0 END)"""
    }
    bits.mkString("(", " + ", ")")
  }

  /** ann_knn_graph machinery: exact in-cell kNN edges (k=3 per vector,
    * ties by neighbor id) over TRAINED coarse-quantizer cells sized to
    * the corpus — k = max(8, ceil(n/64)) k-means cells from
    * [[VectorOps.kmeansAssigned]], so cells hold ~64 vectors at ANY corpus size
    * and the in-cell pair space sum(|cell|^2) ~ 64n stays linear (a
    * FIXED cell count makes it quadratic: the round-11 ScaleProbe
    * measured alpha -> 1.07/decade on the 10-label key). The corpus
    * count is a 1-row staging action sizing the quantizer; assignment
    * is map-only against the broadcast centroid pack, and the kNN
    * join is an EQUI-join on the cell id (PlanQualitySpec pins it on
    * this un-barriered frame). The n*k assignment term is quadratic
    * in principle (k grows with n) but 64x below the pair space a
    * fixed-k quantizer would cost; past ~10^7 vectors a deployment
    * caps it with a sample-trained hierarchical quantizer. */
  private[graft] def knnGraphEdges(s: SparkSession, dir: String): DataFrame = {
    val e = vecs(s, dir).transform(Exec.barrier)
    val k = math.max(8L, (e.count() + 63) / 64).toInt
    val (assigned, _) = VectorOps.kmeansAssigned(e.select("vec_id", "v"), k)
    // the quantizer drops non-key columns; rejoin the label for the
    // census, and barrier so the left/right sides of the kNN
    // self-join read ONE materialized assignment
    val a = assigned.join(e.select("vec_id", "label"), "vec_id")
      .transform(Exec.barrier)
    val l = a.select(col("cid"), col("label"), col("vec_id").as("src"),
      col("v").as("qv"))
    val r = a.select(col("cid").as("cid2"), col("vec_id").as("dst"), col("v"))
    val w = Window.partitionBy("src")
      .orderBy(col("cos_micro").desc, col("dst"))
    l.join(r, col("cid") === col("cid2") && col("src") =!= col("dst"))
      .select(col("label"), col("src"), col("dst"),
        expr("CAST(round(graft_cosine_sim(qv, v) * 1000000) AS BIGINT)")
          .as("cos_micro"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select("label", "src", "dst", "cos_micro")
  }

  /** PQ-ADC machinery for ann_pq_adc / ann_ivfpq_topk — delegates to
    * the PUBLIC implementation ([[VectorOps.pqMachinery]],
    * the facade's pqTopK path), so the oracle gate proves the code a
    * user actually calls. Gate parameterization: K=4 centroids per
    * 8-dim subspace, seeds = the 4 lowest vec_ids, distances rounded to
    * 6 / means to 9 so the DuckDB oracle replays identically. Returns
    *  - codes: (vec_id, label, codes[8]) — the compressed corpus,
    *    m-ordered, built map-only against the packed broadcast codebook;
    *  - lut:   (q_id, q_label, dt[8][4]) — per-query subspace distance
    *    tables for the 5 query vectors, one broadcastable row each. */
  private def pqCodesAndLut(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = vecs(s, dir)
    val (codes, lut) = VectorOps.pqMachinery(
      e.select(col("vec_id").as("__id"), col("v").as("__v"), col("label")),
      e.where(col("vec_id") < 5)
        .select(col("vec_id").as("__qid"), col("v").as("__qv"), col("label").as("q_label")),
      subspaces = 8, subDim = 8, centroids = 4,
      distRound = Some(6), meanRound = Some(9))
    (codes.withColumnRenamed("__id", "vec_id"),
      lut.withColumnRenamed("__qid", "q_id"))
  }

  /** ADC distance: LUT-sum over the code array, folded per-row in fixed
    * subspace order (deterministic summation, final round to 6). */
  private val AdcExpr =
    VectorOps.adcExpr(subspaces = 8, distRound = Some(6))

  /** The ann_radius_prune search (queries = vec_id < qBelow) over
    * [[VectorOps.radiusSearchFrames]], exposed for RadiusSearchSpec's
    * losslessness property check. */
  private[graft] def radiusSearch(e: DataFrame, qBelow: Long, tau: Double): DataFrame =
    VectorOps.radiusSearchFrames(e, e.where(col("vec_id") < qBelow), tau)

  /** EXACT cosine similarity SELF-join (every unordered pair with
    * round(cos, 6) >= tau) with CELL-PAIR pruning — the whole-corpus
    * sibling of [[VectorOps.radiusSearchFrames]] (whose query-broadcast design
    * assumes a small query set; with queries == corpus the survive
    * frame would be corpus-sized). Here pruning happens between CELLS:
    * pair (c1, c2) survives iff dist(cv1, cv2) <= r + crad1 + crad2 +
    * eps — by two triangle hops, a qualifying (a in c1, b in c2) pair
    * forces exactly that, so dropping a cell pair never drops an
    * answer. The k² cell-pair frame is tiny and broadcasts; members
    * fan in through TWO keyed equi-joins on cid (corpus never
    * self-joins raw); the exact verify runs only inside surviving cell
    * pairs — Σ over surviving (c1,c2) of |c1|·|c2| candidates instead
    * of n². Self-pairs and (b,a) mirrors are excluded by id order.
    * Shared by dedup_radius_pairs; losslessness property-checked in
    * RadiusSearchSpec. */
  private[graft] def radiusSelfPairs(e: DataFrame, tau: Double, k: Int = 8): DataFrame = {
    // both member sides read the barriered assignment, which carries
    // the ORIGINAL vector (selfPruneFrames threads it through the
    // quantizer) — no corpus-by-id re-join to re-attach bytes the
    // pipeline already read
    val (assigned, cellPairs) = selfPruneFrames(e, tau, k)
    // Candidates are screened BLOCK-against-BLOCK instead of row-fan:
    // at low tau the triangle prune passes most sub-cell pairs (the
    // ann_radius_stats gauge reads candidate_fraction 1.0 at the 10x
    // tier), so the old a⋈cellPairs⋈b join materialized ~n² candidate
    // ROWS just to filter them — ~100 ns of join/row plumbing per pair
    // against ~5 ns for the same dot inside one fused loop. Members
    // pack into one row per (cell, ring); each surviving sub-cell pair
    // runs graft_radius_block_screen (a LOSSLESS conservative screen —
    // threshold tau − 1e-6 < the exact round-6 acceptance bound, and
    // the kernel's dot replays the verify's IEEE ops exactly), and the
    // few surviving pairs re-verify through the UNCHANGED exact SQL
    // expression, so the declared result is computed by the same
    // arithmetic as before. Parallelism = sub-cell pairs (k·rings)² —
    // thousands of independent block tasks at any corpus size.
    val blocks = Exec.barrier(assigned
      .groupBy("cid", "rid")
      .agg(expr("collect_list(struct(vec_id, vo, vn))").as("ms")))
    val a = blocks.select(col("cid").as("c1"), col("rid").as("ring1"),
      col("ms").as("ms_a"))
    val b = blocks.select(col("cid").as("c2"), col("rid").as("ring2"),
      col("ms").as("ms_b"))
    a.join(broadcast(cellPairs), Seq("c1", "ring1"))
      .join(b, Seq("c2", "ring2"))
      .select(explode(expr(
        s"graft_radius_block_screen(ms_a, ms_b, CAST(${tau - 1e-6} AS DOUBLE))")).as("p"))
      // p.c is the kernel's dot/(na·nb) — bit-identical to
      // graft_cosine_sim(qv, v) (same dot accumulator; sqrt(na)*sqrt(nb)
      // with the same operands in the same order, norms computed once
      // per VECTOR upstream — LabelMarginKernelSpec pins the prenorm
      // identity). The round-and-compare that decides the declared
      // result stays HERE in SQL, unchanged.
      .selectExpr("p.id_a AS id_a", "p.id_b AS id_b", "round(p.c, 6) AS cos")
      .where(col("cos") >= tau)
      .orderBy("id_a", "id_b")
  }

  /** The sub-cell machinery behind [[radiusSelfPairs]], shared with
    * the [[radiusPruneStats]] instrumentation so the reported survival
    * is the EXACT frame the search runs, not a re-derivation:
    * (assigned(vec_id, cid, rid, vo = ORIGINAL vector, md),
    * cellPairs(c1, ring1, c2, ring2)). The original vector rides the
    * barrier so the verify stage needs no corpus-by-id re-join; the
    * normalized twin is dropped once md/rid are fixed.
    *
    * `k` is the pruning knob: more cells → tighter per-sub-cell radius
    * bounds → fewer surviving pairs and fewer Σ|c1|·|c2| candidates,
    * at the price of a (k·rings)² pair frame (build side must stay
    * broadcastable — k up to a few thousand is fine, k ≈ sqrt(n/1000)
    * is a good default scaling so mean cell size ~1000) and an extra
    * O(n·k) assignment cost. On TRULY isotropic embeddings even ring
    * bounds stop helping (every sub-cell sits ~1 from its centroid
    * while centroids crowd the origin) and survival degrades toward
    * all-pairs — WATCH [[radiusPruneStats]].candidate_fraction; near
    * 1.0 means the prune is buying nothing and the honest answer is
    * that an exact radius search on that geometry IS n².
    *
    * Rounding: crad and the centroid-pair distance round to 6 before
    * the comparison. Soundness is untouched — the true qualifying-pair
    * bound needs dist ≤ r + crad1 + crad2, and the ≤ 1.5e-6 total
    * round-off is absorbed by the 1e-5 eps — while making the survival
    * decision replayable bit-for-bit by the DuckDB oracle (same
    * round-then-compare on both engines). */
  private[graft] def selfPruneFrames(e: DataFrame, tau: Double,
                                     k: Int): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.registerAll(e.sparkSession)
    // graft_l2_normalize = the fused codegen'd kernel; the transform/
    // aggregate HOF idiom it replaces re-evaluated the norm aggregate
    // per ELEMENT, interpreted (64x64 lambda steps per row) — and this
    // normalization runs on every corpus pass of the quantizer (r13).
    // Bit-identical: same left-to-right sum, same per-element division.
    val norm = "graft_l2_normalize(v)"
    // vo = original vector threaded through the quantizer (assignTo
    // preserves payload columns) so the exact-verify stage never
    // re-joins the corpus by id — see radiusSelfPairs
    val en = e.select(col("vec_id"), expr(norm).as("v"), col("v").as("vo"))
    val (assigned0, cents) = VectorOps.kmeansAssigned(en, k)
    // Ring partitioning: a cell's bound is a MAX over members, so ONE
    // isotropic outlier per cell blows every crad to ~unit scale and
    // survival collapses to all-pairs (measured in RadiusSearchSpec:
    // 25% background noise -> candidate_fraction 1.0). Bucketing each
    // cell's members by distance-to-centroid (fixed 0.25-wide rings on
    // the normalized sphere, md <= 2) quarantines outliers in outer
    // rings with tight per-(cell, ring) bounds; the triangle argument
    // is unchanged — a sub-cell is just a cell whose centroid happens
    // to be shared. md rounds to 6 BEFORE ring selection and the crad
    // max so the oracle replays ring membership bit-for-bit.
    // Consumed by sub-cell stats AND both member sides — materialize
    // the assignment once instead of re-running Lloyd per consumer.
    // vn = sqrt(Σ vo²) computed ONCE per vector (graft_l2norm replays
    // the cosine kernel's norm accumulator bit-for-bit): with tau this
    // low the triangle prune passes most cell pairs (ann_radius_stats
    // reads candidate_fraction 1.0 at the 10x tier), so the verify
    // stage IS ~n²/2 cosines — re-deriving both norms inside every
    // pair was 3x the FLOPs of the dot that actually decides (r13).
    val assigned = Exec.barrier(
      assigned0.join(broadcast(cents), Seq("cid"))
        .withColumn("md", expr("round(sqrt(graft_l2_sq(v, cv)), 6)"))
        .withColumn("rid", least(floor(col("md") / lit(0.25)).cast("int"), lit(7)))
        .select(col("vec_id"), col("cid"), col("rid"), col("vo"), col("md"),
          expr("graft_l2norm(vo)").as("vn")))
    val cells = assigned
      .groupBy("cid", "rid").agg(max(col("md")).as("crad"))
      .join(cents, Seq("cid"))
    val r = math.sqrt(2.0 - 2.0 * tau)
    // BOTH orientations survive (no c1 <= c2 cut): members fan in as
    // a -> c1, b -> c2 only, so the (5,2) pair must exist alongside
    // (2,5) or an a-in-5, b-in-2 answer would silently vanish; the
    // unordered-pair dedup happens at the id level (id_a < id_b)
    val cellPairs = cells.select(col("cid").as("c1"), col("rid").as("ring1"),
        col("crad").as("r1"), col("cv").as("cv1"))
      .crossJoin(broadcast(cells.select(col("cid").as("c2"), col("rid").as("ring2"),
        col("crad").as("r2"), col("cv").as("cv2"))))
      .where(expr("round(sqrt(graft_l2_sq(cv1, cv2)), 6)") <=
        lit(r) + col("r1") + col("r2") + lit(1e-5))
      .select(col("c1"), col("ring1"), col("c2"), col("ring2"))
    (assigned, cellPairs)
  }

  /** Pruning-effectiveness report for the exact self-join: how much of
    * the n² pair space the sub-cell-pair prune actually removed. One
    * row: (n_vectors, n_cells = non-empty (cell, ring) sub-cells,
    * surviving_cell_pairs, cell_pairs_total = n_cells²,
    * candidate_pairs = Σ over surviving ordered sub-cell pairs of
    * |c1|·|c2|, candidate_fraction = candidate_pairs / n²). The
    * triangle prune is silent about its own effectiveness — on
    * unclusterable embeddings it can degrade toward all-pairs while
    * still returning exact answers; this is the gauge to alarm on
    * (≥ ~0.8 ⇒ raise `k` or accept that the geometry defeats cell
    * pruning). Counts are ordered-pair (both orientations +
    * within-sub-cell squares), matching what the candidate join
    * actually materializes before the id_a < id_b cut. */
  private[graft] def radiusPruneStats(e: DataFrame, tau: Double, k: Int = 8): DataFrame = {
    val (assigned, cellPairs) = selfPruneFrames(e, tau, k)
    val sizes = Exec.barrier(assigned.groupBy("cid", "rid").agg(count(lit(1)).as("sz")))
    val surv = cellPairs
      .join(broadcast(sizes.select(col("cid").as("c1"), col("rid").as("ring1"),
        col("sz").as("sz1"))), Seq("c1", "ring1"))
      .join(broadcast(sizes.select(col("cid").as("c2"), col("rid").as("ring2"),
        col("sz").as("sz2"))), Seq("c2", "ring2"))
      .agg(count(lit(1)).as("surviving_cell_pairs"),
        sum(col("sz1") * col("sz2")).as("candidate_pairs"))
    sizes.agg(sum(col("sz")).as("n_vectors"), count(lit(1)).as("n_cells"))
      .crossJoin(surv)
      .select(col("n_vectors"), col("n_cells"), col("surviving_cell_pairs"),
        (col("n_cells") * col("n_cells")).as("cell_pairs_total"),
        col("candidate_pairs"),
        round(col("candidate_pairs") / (col("n_vectors") * col("n_vectors")), 6)
          .as("candidate_fraction"))
  }

  val qs: Map[String, Q] = Map(

    // ---- exact cosine self-join: cell-pair pruned, whole corpus ----
    // dedup_embedding_cosine (Dedup.scala) is the id-bounded exact
    // baseline (vec_id < 300, documented as such); this is the
    // WHOLE-CORPUS exact pair enumeration, pruned between cells so no
    // all-pairs path exists, and still hash-matching the brute-force
    // oracle (see radiusSelfPairs above).
    // ---- pruning-effectiveness gauge for the exact search family ----
    // The triangle prune above is exact but SILENT about how much it
    // prunes — on near-isotropic embeddings it can degrade toward
    // all-pairs while still answering correctly. This entry returns
    // the survival accounting (the oracle replays normalized k-means +
    // cell radii + the rounded survival predicate, so the reported
    // pruning is independently confirmed, not self-certified); the
    // candidate_fraction column is the alarm to watch at scale.
    "ann_radius_stats" -> Q(
      (s, dir) => radiusPruneStats(
        vecs(s, dir).select(col("vec_id"), col("v")), tau = 0.3),
      Some("""WITH e0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        e AS (SELECT vec_id, [x / sqrt(list_sum([y * y for y in v])) for x in v] AS v FROM e0),
        seeds AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        d1 AS (SELECT e.vec_id, s.cid, e.v,
                 round(list_sum([(e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]) for i in range(1, 65)]), 6) AS d
               FROM e CROSS JOIN seeds s),
        a1 AS (SELECT vec_id, cid, v FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
               WHERE rn = 1),
        m1 AS (SELECT cid, i - 1 AS dim, round(avg(v[i]), 9) AS m
               FROM a1, range(1, 65) AS t(i) GROUP BY cid, i),
        cc AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        d2 AS (SELECT e.vec_id, c.cid, e.v, c.cv,
                 round(list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]) for i in range(1, 65)]), 6) AS d
               FROM e CROSS JOIN cc c),
        a2 AS (SELECT vec_id, cid, v, cv FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2)
               WHERE rn = 1),
        a3 AS (SELECT vec_id, cid,
                 round(sqrt(list_sum([(v[i] - cv[i]) * (v[i] - cv[i]) for i in range(1, 65)])), 6) AS md
               FROM a2),
        a4 AS (SELECT vec_id, cid, least(CAST(floor(md / 0.25) AS INT), 7) AS rid, md FROM a3),
        cells AS (SELECT cid, rid, count(*) AS sz, max(md) AS crad FROM a4 GROUP BY cid, rid),
        cw AS (SELECT c.cid, c.rid, c.sz, c.crad, k.cv FROM cells c JOIN cc k ON c.cid = k.cid),
        cp AS (SELECT x.sz AS sz1, y.sz AS sz2
               FROM cw x CROSS JOIN cw y
               WHERE round(sqrt(list_sum([(x.cv[i] - y.cv[i]) * (x.cv[i] - y.cv[i]) for i in range(1, 65)])), 6)
                     <= sqrt(2.0 - 2.0 * 0.3) + x.crad + y.crad + 0.00001)
        SELECT (SELECT count(*) FROM e) AS n_vectors,
               (SELECT count(*) FROM cells) AS n_cells,
               count(*) AS surviving_cell_pairs,
               (SELECT count(*) FROM cells) * (SELECT count(*) FROM cells) AS cell_pairs_total,
               CAST(sum(sz1 * sz2) AS BIGINT) AS candidate_pairs,
               round(CAST(sum(sz1 * sz2) AS DOUBLE)
                     / ((SELECT count(*) FROM e) * (SELECT count(*) FROM e)), 6) AS candidate_fraction
        FROM cp""")),

    "dedup_radius_pairs" -> Q(
      (s, dir) => radiusSelfPairs(
        vecs(s, dir).select(col("vec_id"), col("v")), tau = 0.3),
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
                / (sqrt(list_sum([x * x for x in a.v])) * sqrt(list_sum([x * x for x in b.v]))), 6) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
                / (sqrt(list_sum([x * x for x in a.v])) * sqrt(list_sum([x * x for x in b.v]))), 6) >= 0.3
        ORDER BY id_a, id_b""")),

    // ---- exact radius search: lossless triangle-inequality pruning ----
    // Range/radius queries ("everything within cosine 0.4") are the
    // dedup-adjacent sibling of top-k ANN; unlike the IVF/LSH entries,
    // this one is EXACT — the oracle is plain brute force and must
    // hash-match, because cell pruning via the triangle inequality
    // provably drops only cells that cannot contain a qualifying
    // vector (see radiusSearch above; losslessness property-checked on
    // random inputs in RadiusSearchSpec).
    "ann_radius_prune" -> Q(
      (s, dir) => radiusSearch(
        vecs(s, dir).select(col("vec_id"), col("v")), qBelow = 16, tau = 0.25),
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 16),
          scored AS (
            SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM e CROSS JOIN q WHERE vec_id <> q_id)
        SELECT q_id, vec_id, cos FROM scored WHERE cos >= 0.25
        ORDER BY q_id, vec_id""")),

    // ---- brute-force cosine top-k (oracle-checked baseline) ----
    "ann_bruteforce_topk" -> Q(
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        e.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), expr(CosSql).as("cos"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 10)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
          scored AS (
            SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM e CROSS JOIN q WHERE vec_id <> q_id),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                     FROM scored)
        SELECT q_id, vec_id, cos, rn FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""")),

    // ---- 1-bit (sign) quantization + Hamming top-k ----
    // The binary-quantization rerank prefilter every vector DB ships:
    // each 64-dim float vector compresses to TWO packed longs (sign
    // bits in 32-bit halves — 1L<<63 is sign-hostile in both engines),
    // distance is bit_count(xor) — pure ALU, 256× smaller than the
    // floats, and the entire corpus-side scan carries 16 bytes/vector
    // instead of 256. Top-k per query by (hamming, vec_id). The
    // oracle repacks the same bits via list arithmetic in DuckDB.
    "ann_hamming_topk" -> Q(
      (s, dir) => {
        val packed = vecs(s, dir).selectExpr("vec_id",
          "aggregate(sequence(0, 31), 0L, (acc, i) -> " +
            "acc | IF(element_at(v, i + 1) > 0d, shiftleft(1L, i), 0L)) AS h1",
          "aggregate(sequence(0, 31), 0L, (acc, i) -> " +
            "acc | IF(element_at(v, i + 33) > 0d, shiftleft(1L, i), 0L)) AS h2")
        val q = packed.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("h1").as("q1"), col("h2").as("q2"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("ham").asc, col("vec_id").asc)
        packed.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("q_id"))
          .selectExpr("q_id", "vec_id",
            "cast(bit_count(h1 ^ q1) + bit_count(h2 ^ q2) as int) AS ham")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 10)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        b AS (SELECT vec_id,
            CAST(list_sum([CASE WHEN v[i] > 0 THEN 1::BIGINT << (i - 1) ELSE 0 END
                           for i in range(1, 33)]) AS BIGINT) AS h1,
            CAST(list_sum([CASE WHEN v[i + 32] > 0 THEN 1::BIGINT << (i - 1) ELSE 0 END
                           for i in range(1, 33)]) AS BIGINT) AS h2
          FROM e),
        q AS (SELECT vec_id AS q_id, h1 AS q1, h2 AS q2 FROM b WHERE vec_id < 5),
        scored AS (SELECT q_id, vec_id,
            CAST(bit_count(xor(h1, q1)) + bit_count(xor(h2, q2)) AS INTEGER) AS ham
          FROM b CROSS JOIN q WHERE vec_id <> q_id),
        ranked AS (SELECT *, row_number() OVER
            (PARTITION BY q_id ORDER BY ham ASC, vec_id ASC) AS rn FROM scored)
        SELECT q_id, vec_id, ham, rn FROM ranked WHERE rn <= 10
        ORDER BY q_id, rn""")),

    // ---- two-stage binary search: Hamming prefilter -> exact rerank ----
    // The production pattern the 1-bit quantization exists FOR: the
    // cheap ALU pass keeps top-C (40) candidates per query, and only
    // those C rows ever touch float math — the rerank join moves
    // candidate ids, not the corpus. Same oracle discipline as the
    // bruteforce entry (round-6 cosine), replayed over the two-stage
    // candidate set in DuckDB.
    "ann_hamming_rerank" -> Q(
      (s, dir) => {
        val e = vecs(s, dir)
        val packed = e.selectExpr("vec_id",
          "aggregate(sequence(0, 31), 0L, (acc, i) -> " +
            "acc | IF(element_at(v, i + 1) > 0d, shiftleft(1L, i), 0L)) AS h1",
          "aggregate(sequence(0, 31), 0L, (acc, i) -> " +
            "acc | IF(element_at(v, i + 33) > 0d, shiftleft(1L, i), 0L)) AS h2")
        val q = packed.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("h1").as("q1"), col("h2").as("q2"))
        val wham = Window.partitionBy(col("q_id"))
          .orderBy(col("ham").asc, col("vec_id").asc)
        val cands = packed.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("q_id"))
          .selectExpr("q_id", "vec_id",
            "cast(bit_count(h1 ^ q1) + bit_count(h2 ^ q2) as int) AS ham")
          .withColumn("hrk", row_number().over(wham))
          .where(col("hrk") <= 40)
        val qv = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val wcos = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        cands.join(e, Seq("vec_id")).join(broadcast(qv), Seq("q_id"))
          .select(col("q_id"), col("vec_id"), expr(CosSql).as("cos"))
          .withColumn("rn", row_number().over(wcos))
          .where(col("rn") <= 10)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
        b AS (SELECT vec_id,
            CAST(list_sum([CASE WHEN v[i] > 0 THEN 1::BIGINT << (i - 1) ELSE 0 END
                           for i in range(1, 33)]) AS BIGINT) AS h1,
            CAST(list_sum([CASE WHEN v[i + 32] > 0 THEN 1::BIGINT << (i - 1) ELSE 0 END
                           for i in range(1, 33)]) AS BIGINT) AS h2
          FROM e),
        q AS (SELECT vec_id AS q_id, h1 AS q1, h2 AS q2 FROM b WHERE vec_id < 5),
        ham AS (SELECT q_id, vec_id,
            CAST(bit_count(xor(h1, q1)) + bit_count(xor(h2, q2)) AS INTEGER) AS ham
          FROM b CROSS JOIN q WHERE vec_id <> q_id),
        cand AS (SELECT q_id, vec_id FROM
          (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, vec_id ASC) AS hrk
           FROM ham) WHERE hrk <= 40),
        qv AS (SELECT vec_id AS q_id, [CAST(x AS DOUBLE) for x in embedding] AS qv
          FROM embeddings WHERE vec_id < 5),
        ev AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        scored AS (SELECT c.q_id, c.vec_id,
            round(list_sum([qv.qv[i] * ev.v[i] for i in range(1, len(ev.v) + 1)])
              / (sqrt(list_sum([x * x for x in qv.qv])) * sqrt(list_sum([x * x for x in ev.v]))), 6) AS cos
          FROM cand c JOIN ev ON ev.vec_id = c.vec_id JOIN qv ON qv.q_id = c.q_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
          FROM scored)
        SELECT q_id, vec_id, cos, rn FROM ranked WHERE rn <= 10
        ORDER BY q_id, rn""")),

    // ---- metadata-filtered vector search (the vector-DB hot path) ----
    // Top-k restricted to a label predicate — the "WHERE category = X"
    // every production vector store bolts onto ANN. The filter runs
    // BEFORE any distance math and reaches the parquet scan as a
    // pushed predicate (gated in PlanQualitySpec), so the corpus read
    // itself shrinks to the qualifying stripe — at 100 TB a selective
    // filter turns a full-corpus scan into a partition-pruned one,
    // which is the entire economics of filtered search. Queries stay a
    // broadcast fan, scoring rides the codegen'd cosine kernel.
    "ann_filtered_topk" -> Q(
      (s, dir) => {
        val e = vecs(s, dir).where(col("label").isin(2, 3))
        val q = vecs(s, dir).where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        e.crossJoin(broadcast(q))
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), col("label"), expr(CosSql).as("cos"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, label,
            [CAST(x AS DOUBLE) for x in embedding] AS v
          FROM embeddings WHERE label IN (2, 3)),
          q AS (SELECT vec_id AS q_id,
            [CAST(x AS DOUBLE) for x in embedding] AS qv
          FROM embeddings WHERE vec_id < 5),
          scored AS (
            SELECT q_id, vec_id, label,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM e CROSS JOIN q WHERE vec_id <> q_id),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                     FROM scored)
        SELECT q_id, vec_id, label, cos, rn FROM ranked WHERE rn <= 5
        ORDER BY q_id, rn""")),

    // ---- Matryoshka (MRL) truncated-prefix search + full-dim rerank ----
    // The two-stage pattern matryoshka-style embeddings exist for: score
    // EVERYTHING on the cheap 16-dim prefix (4x less arithmetic + 4x
    // less candidate I/O at scale when the store keeps prefixes hot),
    // keep the top-C candidates per query, then rerank only those on
    // all 64 dims. Scale shape: stage 1's top-C shuffle carries only
    // (q_id, vec_id, pcos) — the wide vectors never ride the window;
    // stage 2 re-joins the C candidates back to the corpus (a
    // candidate-bounded keyed join) and broadcasts the query fan. The
    // oracle replays the SAME two-stage semantics — truncated search is
    // lossy vs exact brute force by design, so recall against the
    // full-dim truth is a property for ann_recall_report-style audits,
    // not a hash gate.
    "ann_mrl_rerank" -> Q(
      (s, dir) => {
        val e = vecs(s, dir).transform(Exec.barrier) // stage-1 scan + stage-2 join
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            slice(col("v"), 1, 16).as("qp"))
          .transform(Exec.barrier)
        val w1 = Window.partitionBy(col("q_id"))
          .orderBy(col("pcos").desc, col("vec_id").asc)
        val cand = e.select(col("vec_id"), slice(col("v"), 1, 16).as("vp"))
          .crossJoin(broadcast(q.select(col("q_id"), col("qp"))))
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            expr("round(graft_cosine_sim(qp, vp), 6)").as("pcos"))
          .withColumn("rn1", row_number().over(w1))
          .where(col("rn1") <= 50)
          .select("q_id", "vec_id")
        val w2 = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        cand
          .join(e, "vec_id")
          .join(broadcast(q.select(col("q_id"), col("qv"))), "q_id")
          .select(col("q_id"), col("vec_id"), expr(CosSql).as("cos"))
          .withColumn("rn", row_number().over(w2))
          .where(col("rn") <= 10)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
          p AS (
            SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, 17)])
                    / (sqrt(list_sum([qv[i] * qv[i] for i in range(1, 17)]))
                       * sqrt(list_sum([v[i] * v[i] for i in range(1, 17)]))), 6) AS pcos
            FROM e CROSS JOIN q WHERE vec_id <> q_id),
          c AS (SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY pcos DESC, vec_id ASC) AS rn1
                FROM p),
          cand AS (SELECT q_id, vec_id FROM c WHERE rn1 <= 50),
          scored AS (
            SELECT cand.q_id, cand.vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM cand JOIN e ON e.vec_id = cand.vec_id JOIN q ON q.q_id = cand.q_id),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                     FROM scored)
        SELECT q_id, vec_id, cos, rn FROM ranked WHERE rn <= 10 ORDER BY q_id, rn""")),

    // ---- LSH-bucketed ANN: bucket join + exact re-rank of candidates ----
    // Oracle checks the re-ranked cosines and candidate-subset property
    // by recomputing cosine for the emitted (q, neighbor) pairs.
    "ann_lsh_bucketed" -> Q(
      // Delegates to the public facade (VectorOps.lshTopK) so the gate
      // proves the code a user calls: graft_lsh_bucket kernel buckets
      // (bit-identical to the nested-HOF fold — PipelineOpsSpec
      // reconstructs them via the HOF and must collide exactly), each
      // query exploded into its 17 Hamming-1 probe keys and joined on
      // bucket EQUALITY — a BroadcastHashJoin the corpus streams
      // through, instead of the nested-loop scan a bit_count(x^y)<=1
      // predicate forces; the shape that stays linear when the query
      // set grows at 100 TB.
      (s, dir) => VectorOps.lshTopK(
          t(s, dir, "embeddings"),
          t(s, dir, "embeddings").where(col("vec_id") < 5),
          k = 5)
        .withColumnRenamed("id", "vec_id")
        .orderBy("q_id", "rn"),
      Some(s"""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
          b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
          q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM b WHERE vec_id < 5),
          scored AS (
            SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM b JOIN q ON vec_id <> q_id AND bit_count(xor(bucket, qb)) <= 1),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                     FROM scored)
        SELECT q_id, vec_id, cos, rn FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""")),

    // ---- IVF-style ANN: coarse partition (label) limits the scan ----
    // The inverted-file structure here is the existing label column (at
    // scale: trained k-means centroids); the probe searches only the
    // query's own cell, so the exact re-rank touches |corpus|/k vectors.
    "ann_ivf_topk" -> Q(
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("label").as("q_label"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        e.join(broadcast(q),
            col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
          .select(col("q_id"), col("vec_id"), expr(CosSql).as("cos"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e WHERE vec_id < 5),
          scored AS (
            SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM e JOIN q ON e.label = q.q_label AND vec_id <> q_id),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                     FROM scored)
        SELECT q_id, vec_id, cos, rn FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""")),

    // ---- trained IVF: k-means coarse quantizer (2 Lloyd rounds) ----
    // The production IVF cell structure ann_ivf_topk's label column
    // stands in for: deterministic seeds (8 lowest vec_ids), then each
    // Lloyd round is assign (corpus x broadcast(8 centroids), argmin of
    // L2 with (distance, cid) tie-break) + update (posexplode dims,
    // per-cell per-dim mean). Centroids stay a DataFrame end-to-end —
    // no driver collect; the corpus never shuffles for assignment, only
    // the k x 64 centroid aggregation does. Distances round to 6 and
    // means to 9 decimals so both engines agree bit-for-bit despite
    // different summation orders.
    "ann_kmeans_ivf" -> Q(
      (s, dir) => {
        val (a2, c1) = VectorOps.kmeansAssigned(vecs(s, dir).select("vec_id", "v"))
        a2.groupBy("cid").agg(count(lit(1)).as("n_vectors"))
          .join(c1, "cid")
          .select(col("cid"), col("n_vectors"),
            expr("round(aggregate(transform(cv, m -> m * m), 0D, (a, x) -> a + x), 6)")
              .as("centroid_sq_norm"))
          .orderBy("cid")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        seeds AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        d1 AS (SELECT e.vec_id, s.cid, e.v,
                 round(list_sum([(e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]) for i in range(1, 65)]), 6) AS d
               FROM e CROSS JOIN seeds s),
        a1 AS (SELECT vec_id, cid, v FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
               WHERE rn = 1),
        m1 AS (SELECT cid, i - 1 AS dim, round(avg(v[i]), 9) AS m
               FROM a1, range(1, 65) AS t(i) GROUP BY cid, i),
        c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        d2 AS (SELECT e.vec_id, c.cid,
                 round(list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]) for i in range(1, 65)]), 6) AS d
               FROM e CROSS JOIN c1 c),
        a2 AS (SELECT vec_id, cid FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2)
               WHERE rn = 1)
        SELECT a2.cid AS cid, count(*) AS n_vectors,
          round(list_sum([m * m for m in c1.cv]), 6) AS centroid_sq_norm
        FROM a2 JOIN c1 ON a2.cid = c1.cid
        GROUP BY a2.cid, c1.cv ORDER BY a2.cid""")),

    // ---- product quantization + asymmetric distance (PQ-ADC) ----
    // The memory side of billion-scale ANN that IVF alone doesn't give:
    // each 64-dim vector compresses to M=8 subspace codes (256 B of
    // float32 -> 8 B), and a query scans CODES with a per-query lookup
    // table of subspace distances — the IVF-PQ layout that keeps 1e9+
    // vectors RAM-resident per executor. Built end-to-end in-gate:
    //   1. codebook: per 8-dim subspace, K=4 centroids = 1 Lloyd round
    //      from deterministic seeds (the 4 lowest vec_ids), distances
    //      rounded to 6 / means to 9 so both engines agree bit-for-bit;
    //   2. encode: per (vector, subspace) argmin over the codebook —
    //      map-only against a broadcast packed codebook;
    //   3. ADC: the query's 8x4 distance LUT packs into 5 broadcast
    //      rows; approx distance = LUT-sum over the code array inside
    //      ONE per-row expression. The corpus never shuffles: the only
    //      exchanges are the bounded code/codebook aggregations and the
    //      final per-query top-k window.
    // Exact-rank parity with brute force is NOT expected (quantization
    // error is the point); the oracle replays the identical PQ pipeline.
    "ann_pq_adc" -> Q(
      (s, dir) => {
        val (codes, dtab) = pqCodesAndLut(s, dir)
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("ad").asc, col("vec_id").asc)
        codes.crossJoin(broadcast(dtab))
          .where(col("vec_id") =!= col("q_id"))
          .withColumn("ad", AdcExpr)
          .select("q_id", "vec_id", "ad")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        sub AS (SELECT vec_id, m, v[m*8+1 : m*8+8] AS sv FROM e, range(0, 8) AS t(m)),
        seeds AS (SELECT m, vec_id AS cid, sv AS cv FROM sub
          WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4)),
        d0 AS (SELECT s.vec_id, s.m, s.sv, c.cid,
            round(list_sum([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) for i in range(1, 9)]), 6) AS d
          FROM sub s JOIN seeds c ON s.m = c.m),
        a0 AS (SELECT vec_id, m, sv, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM d0)
          WHERE rn = 1),
        mu AS (SELECT m, cid, i AS dim, round(avg(sv[i]), 9) AS mval
          FROM a0, range(1, 9) AS t(i) GROUP BY m, cid, i),
        cb AS (SELECT m, cid, list(mval ORDER BY dim) AS cv FROM mu GROUP BY m, cid),
        d1 AS (SELECT s.vec_id, s.m, c.cid,
            round(list_sum([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) for i in range(1, 9)]), 6) AS d
          FROM sub s JOIN cb c ON s.m = c.m),
        codes AS (SELECT vec_id, m, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM d1)
          WHERE rn = 1),
        qd AS (SELECT s.vec_id AS q_id, s.m, c.cid,
            round(list_sum([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) for i in range(1, 9)]), 6) AS d
          FROM sub s JOIN cb c ON s.m = c.m WHERE s.vec_id < 5),
        adc AS (SELECT q.q_id, x.vec_id, round(sum(q.d), 6) AS ad
          FROM codes x JOIN qd q ON x.m = q.m AND x.cid = q.cid
          WHERE x.vec_id <> q.q_id
          GROUP BY q.q_id, x.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ad, vec_id) AS rn FROM adc)
        SELECT q_id, vec_id, ad, rn FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""")),

    // ---- IVF-PQ: coarse cell restriction + compressed-code scan ----
    // The composed production layout: IVF bounds WHICH vectors a query
    // touches (its own cell — here the label column, standing in for
    // trained coarse centroids exactly as in ann_ivf_topk), PQ bounds
    // the BYTES per touched vector (8 codes + a broadcast LUT). The
    // probe is an equi-join on the cell key, so each query streams
    // |corpus|/k codes, map-only; at 1e9+ vectors this is the shape
    // where the whole index lives in executor memory and a query costs
    // milliseconds, not a scan.
    "ann_ivfpq_topk" -> Q(
      (s, dir) => {
        val (codes, lut) = pqCodesAndLut(s, dir)
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("ad").asc, col("vec_id").asc)
        codes.join(broadcast(lut),
            col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
          .withColumn("ad", AdcExpr)
          .select("q_id", "vec_id", "ad")
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        sub AS (SELECT vec_id, label, m, v[m*8+1 : m*8+8] AS sv FROM e, range(0, 8) AS t(m)),
        seeds AS (SELECT m, vec_id AS cid, sv AS cv FROM sub
          WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT 4)),
        d0 AS (SELECT s.vec_id, s.m, s.sv, c.cid,
            round(list_sum([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) for i in range(1, 9)]), 6) AS d
          FROM sub s JOIN seeds c ON s.m = c.m),
        a0 AS (SELECT vec_id, m, sv, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM d0)
          WHERE rn = 1),
        mu AS (SELECT m, cid, i AS dim, round(avg(sv[i]), 9) AS mval
          FROM a0, range(1, 9) AS t(i) GROUP BY m, cid, i),
        cb AS (SELECT m, cid, list(mval ORDER BY dim) AS cv FROM mu GROUP BY m, cid),
        d1 AS (SELECT s.vec_id, s.label, s.m, c.cid,
            round(list_sum([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) for i in range(1, 9)]), 6) AS d
          FROM sub s JOIN cb c ON s.m = c.m),
        codes AS (SELECT vec_id, label, m, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, cid) AS rn FROM d1)
          WHERE rn = 1),
        qd AS (SELECT s.vec_id AS q_id, s.label AS q_label, s.m, c.cid,
            round(list_sum([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) for i in range(1, 9)]), 6) AS d
          FROM sub s JOIN cb c ON s.m = c.m WHERE s.vec_id < 5),
        adc AS (SELECT q.q_id, x.vec_id, round(sum(q.d), 6) AS ad
          FROM codes x JOIN qd q ON x.m = q.m AND x.cid = q.cid AND x.label = q.q_label
          WHERE x.vec_id <> q.q_id
          GROUP BY q.q_id, x.vec_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY ad, vec_id) AS rn FROM adc)
        SELECT q_id, vec_id, ad, rn FROM ranked WHERE rn <= 5 ORDER BY q_id, rn""")),

    // ---- group-wise centroid similarity (aggregation over vectors) ----
    "ann_label_centroids" -> Q(
      (s, dir) => {
        val e = vecs(s, dir).withColumn("i", expr("sequence(0, size(v) - 1)"))
        // per-label mean vector: explode (vec, dim) then two-level agg
        val centroids = e
          .select(col("label"), explode(arrays_zip(col("i"), col("v"))).as("z"))
          .groupBy(col("label"), col("z.i").as("dim"))
          .agg(avg(col("z.v")).as("m"), count(lit(1)).as("n"))
          .groupBy("label")
          .agg(round(sum(expr("m * m")), 6).as("centroid_sq_norm"),
            max(col("n")).as("n_vectors"))
          .orderBy("label")
        centroids
      },
      Some("""WITH unnested AS (
          -- embedding dim is fixed at 64 (DuckDB's range() can't be
          -- lateral over len(embedding))
          SELECT label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
          FROM embeddings, range(1, 65) AS t(i)),
        centroid AS (
          SELECT label, dim, avg(x) AS m, count(*) AS n
          FROM unnested GROUP BY label, dim)
        SELECT label, round(sum(m * m), 6) AS centroid_sq_norm, max(n) AS n_vectors
        FROM centroid GROUP BY label ORDER BY label""")),

    // ---- int8 scalar quantization (SQ8): the embedding-memory lever ----
    // float32 -> int8 is the standard 4x RAM cut that keeps a
    // billion-vector corpus resident per executor (PQ goes further but
    // lossier; SQ8 typically costs <0.5% recall). Per-vector symmetric
    // quantization: scale = max|x| / 127, code_i = floor(x_i/scale + .5)
    // — floor(x + 0.5) instead of round() because both engines floor
    // identically while round() half-case conventions differ. Map-only
    // per row (no shuffle at all before the gate's final sort); the
    // dequantized error metrics prove the codes are faithful. Core
    // shared with VectorOps.quantizeInt8 (the user-facing API).
    "ann_int8_quant" -> Q(
      (s, dir) => {
        val e = vecs(s, dir).select("vec_id", "v")
        VectorOps.sq8Quantized(e)
          .where(col("s") > 0) // oracle drops zero vectors the same way
          .select(col("vec_id"), round(col("s"), 6).as("scale6"),
            expr("aggregate(codes, 0L, (a, x) -> a + x)").as("code_sum"),
            expr("""round(aggregate(zip_with(v, codes, (x, q) -> (x - q * s) * (x - q * s)),
                          0D, (a, x) -> a + x) / size(v), 9)""").as("mse9"))
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        q AS (SELECT vec_id, v, list_max([abs(x) for x in v]) / 127 AS s FROM e),
        c AS (SELECT vec_id, v, s,
                [CAST(floor(x / s + 0.5) AS INTEGER) for x in v] AS codes
              FROM q WHERE s > 0)
        SELECT vec_id, round(s, 6) AS scale6,
          CAST(list_sum(codes) AS BIGINT) AS code_sum,
          round(list_sum([(v[i] - codes[i] * s) * (v[i] - codes[i] * s)
                          for i in range(1, len(v) + 1)]) / len(v), 9) AS mse9
        FROM c ORDER BY vec_id""")),

    // ---- trained IVF search with nprobe (the standard recall knob) ----
    // ann_kmeans_ivf proves the trained cell structure; THIS entry
    // searches it end-to-end through the public facade
    // (VectorOps.kmeansIvfTopK): corpus vectors in their argmin cell,
    // each query probing its 2 nearest cells, exact cosine re-rank
    // inside the probed cells only. nprobe = cells would recover exact
    // brute force (spec-pinned in VectorOpsSpec); the oracle replays
    // the identical 2-probe pipeline.
    "ann_kmeans_probe_topk" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        VectorOps.kmeansIvfTopK(
            e, e.where(col("vec_id") < 5), k = 5, cells = 8, nprobe = 2)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        seeds AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 8),
        d1 AS (SELECT e.vec_id, s.cid, e.v,
                 round(list_sum([(e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i]) for i in range(1, 65)]), 6) AS d
               FROM e CROSS JOIN seeds s),
        a1 AS (SELECT vec_id, cid, v FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
               WHERE rn = 1),
        m1 AS (SELECT cid, i - 1 AS dim, round(avg(v[i]), 9) AS m
               FROM a1, range(1, 65) AS t(i) GROUP BY cid, i),
        c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        d2 AS (SELECT e.vec_id, c.cid, e.v,
                 round(list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]) for i in range(1, 65)]), 6) AS d
               FROM e CROSS JOIN c1 c),
        a2 AS (SELECT vec_id, cid, v FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2)
               WHERE rn = 1),
        qa AS (SELECT vec_id AS q_id, cid, v AS qv FROM (
                 SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2
                 WHERE vec_id < 5)
               WHERE rn <= 2),
        scored AS (SELECT qa.q_id, a2.vec_id,
            round(list_sum([qa.qv[i] * a2.v[i] for i in range(1, 65)])
                  / (sqrt(list_sum([x * x for x in qa.qv]))
                     * sqrt(list_sum([x * x for x in a2.v]))), 6) AS cos
          FROM a2 JOIN qa ON a2.cid = qa.cid AND a2.vec_id <> qa.q_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                   FROM scored)
        SELECT q_id, vec_id AS id, cos, rn FROM ranked WHERE rn <= 5
        ORDER BY q_id, rn""")),

    // ---- search ON the int8 codes (the SQ8 read path) ----
    // Cosine is scale-invariant, so ranking on raw code arrays equals
    // ranking on the dequantized vectors exactly — the corpus scan
    // touches 4x fewer bytes and multiplies integers. The oracle
    // replays quantization + code cosine bit-for-bit (integer dot
    // products are exact in both engines; round 6 on the final ratio).
    // Delegates to VectorOps.int8TopK — the facade IS the gated code.
    "ann_int8_topk" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        graft.pipeline.VectorOps
          .int8TopK(e, e.where(col("vec_id") < 5), k = 5)
          .orderBy("q_id", "rn")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        q8 AS (SELECT vec_id, v, list_max([abs(x) for x in v]) / 127 AS s FROM e),
        c AS (SELECT vec_id, [CAST(floor(x / s + 0.5) AS INTEGER) for x in v] AS codes
              FROM q8 WHERE s > 0),
        qs AS (SELECT vec_id AS q_id, codes AS qc FROM c WHERE vec_id < 5),
        scored AS (SELECT q_id, vec_id,
            round(list_sum([qc[i] * codes[i] for i in range(1, len(codes) + 1)])
                  / (sqrt(list_sum([x * x for x in qc]))
                     * sqrt(list_sum([x * x for x in codes]))), 6) AS cos
          FROM c JOIN qs ON vec_id <> q_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn
                   FROM scored)
        SELECT q_id, vec_id AS id, cos, rn FROM ranked WHERE rn <= 5
        ORDER BY q_id, rn""")),

    // ---- recall report: the approximate paths self-measured in-gate ----
    // The evaluation every ANN deployment owes its users: recall@5 of
    // the LSH-bucketed and label-IVF searches against the brute-force
    // ground truth, per query. The exhaustive pass runs over the bounded
    // QUERY SAMPLE only (at 100 TB: evaluate on hundreds of queries, not
    // per-query at serve time — the corpus-side cost is one broadcast
    // scan per search family, same as the search entries themselves);
    // the hit-counting joins are keyed on (q_id, vec_id) over k x |Q|
    // truth rows. Truth is barriered — three consumers read it.
    "ann_recall_report" -> Q(
      (s, dir) => {
        val e = vecs(s, dir)
        val q = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("label").as("q_label"))
        val w = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        val truth = e.crossJoin(broadcast(q.select("q_id", "qv")))
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), expr(CosSql).as("cos"))
          .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
          .select("q_id", "vec_id")
          .transform(Exec.barrier)
        val lsh = VectorOps.lshTopK(
            t(s, dir, "embeddings"),
            t(s, dir, "embeddings").where(col("vec_id") < 5), k = 5)
          .select(col("q_id"), col("id").as("vec_id"))
        val ivf = e.join(broadcast(q),
            col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
          .select(col("q_id"), col("vec_id"), expr(CosSql).as("cos"))
          .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
          .select("q_id", "vec_id")
        val lshHits = truth.join(lsh, Seq("q_id", "vec_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("lsh_hits"))
        val ivfHits = truth.join(ivf, Seq("q_id", "vec_id"), "left_semi")
          .groupBy("q_id").agg(count(lit(1)).as("ivf_hits"))
        truth.groupBy("q_id").agg(count(lit(1)).as("n_truth"))
          .join(lshHits, Seq("q_id"), "left")
          .join(ivfHits, Seq("q_id"), "left")
          .na.fill(0L, Seq("lsh_hits", "ivf_hits"))
          .orderBy("q_id")
      },
      Some(s"""WITH e AS (SELECT vec_id, label, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
          q AS (SELECT vec_id AS q_id, v AS qv, label AS q_label FROM e WHERE vec_id < 5),
          bf AS (SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM e CROSS JOIN q WHERE vec_id <> q_id),
          truth AS (SELECT q_id, vec_id FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn FROM bf)
            WHERE rn <= 5),
          b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
          qb AS (SELECT vec_id AS q_id, v AS qv, bucket AS qbk FROM b WHERE vec_id < 5),
          lscored AS (SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM b JOIN qb ON vec_id <> q_id AND bit_count(xor(bucket, qbk)) <= 1),
          lsh AS (SELECT q_id, vec_id FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn FROM lscored)
            WHERE rn <= 5),
          iscored AS (SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM e JOIN q ON e.label = q.q_label AND vec_id <> q_id),
          ivf AS (SELECT q_id, vec_id FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rn FROM iscored)
            WHERE rn <= 5)
        SELECT t.q_id AS q_id, count(*) AS n_truth,
          CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM lsh l
              WHERE l.q_id = t.q_id AND l.vec_id = t.vec_id) THEN 1 ELSE 0 END) AS BIGINT) AS lsh_hits,
          CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM ivf i
              WHERE i.q_id = t.q_id AND i.vec_id = t.vec_id) THEN 1 ELSE 0 END) AS BIGINT) AS ivf_hits
        FROM truth t GROUP BY t.q_id ORDER BY t.q_id""")),

    // ---- hybrid retrieval: BM25 + dense-vector RRF fusion ----
    // The production RAG/search shape: the same corpus is indexed both
    // lexically (BM25 over tokens) and densely (embedding cosine), each
    // channel produces a per-query top-20 rank list, and the final
    // answer fuses the two with Reciprocal Rank Fusion
    // (Cormack/Clarke/Buettcher SIGIR'09): score(d) = sum over channels
    // of 1/(60 + rank_channel(d)). RRF needs no score calibration
    // between channels — only ranks — which is exactly why it is the
    // default fusion in hybrid search engines.
    //
    // Scale: each channel is the already-gated shape (BM25 =
    // filter-before-explode + keyed aggs; dense = broadcast query fan
    // over a partitioned corpus — NO corpus shuffle), and the fusion
    // joins two |queries| x 20 rank lists — trivially small at any
    // corpus size. Query terms collect to the driver (bounded by the
    // query set, the same driver-scalar class as BM25's corpus stats).
    // Determinism: ranks are integers with explicit (score, id)
    // tie-breaks; RRF contributions round to integer micro-points per
    // channel and sum as BIGINT, so the fused order is engine-exact.
    "text_hybrid_rrf_topk" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val e = vecs(s, dir)
        val qids = Seq(1L, 2L, 3L)
        // query text = first 6 distinct tokens of each query doc
        val qTerms = docs.where(col("doc_id").isin(qids: _*))
          .select(col("doc_id").as("q_id"),
            explode(expr("array_distinct(slice(split(text, ' '), 1, 6))")).as("term"))
        val allTerms = qTerms.select("term").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        // --- lexical channel: per-query BM25 (k1=1.2, b=0.75) ---
        val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
          .withColumn("dl", size(col("w")))
        val st = base.agg(count(lit(1)).as("n"),
          sum(col("dl").cast("long")).as("tot")).head
        val (n, tot) = (st.getLong(0), st.getLong(1))
        val tf = base
          .where(arrays_overlap(col("w"), typedLit(allTerms)))
          .select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
          .join(broadcast(qTerms), "term")
          .where(col("doc_id") =!= col("q_id"))
          .groupBy("q_id", "doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
        // df per (query, term) over the self-excluded candidate set
        val dfreq = tf.groupBy("q_id", "term").agg(count(lit(1)).as("df"))
        val bmMicro = tf.join(broadcast(dfreq), Seq("q_id", "term"))
          .withColumn("c", expr(
            s"cast(round(1e6 * ln(($n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 / " +
            s"(tf + 1.2 * (0.25 + 0.75 * (cast(dl as bigint) * $n) / cast($tot as double))), 0) as bigint)"))
          .groupBy("q_id", "doc_id").agg(sum(col("c")).as("micro"))
        val wBm = Window.partitionBy(col("q_id"))
          .orderBy(col("micro").desc, col("doc_id").asc)
        val bm = bmMicro.withColumn("r_bm", row_number().over(wBm))
          .where(col("r_bm") <= 20)
          .select(col("q_id"), col("doc_id").as("id"), col("r_bm"))
        // --- dense channel: brute-force cosine top-20 ---
        val qVecs = e.where(col("vec_id").isin(qids: _*))
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val wV = Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)
        val vv = e.crossJoin(broadcast(qVecs))
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), expr(CosSql).as("cos"))
          .withColumn("r_vec", row_number().over(wV))
          .where(col("r_vec") <= 20)
          .select(col("q_id"), col("vec_id").as("id"), col("r_vec"))
        // --- RRF fusion: micro-point reciprocal ranks, k=60 ---
        val wF = Window.partitionBy(col("q_id"))
          .orderBy(col("rrf_micro").desc, col("id").asc)
        bm.join(vv, Seq("q_id", "id"), "full_outer")
          .withColumn("rrf_micro",
            coalesce(expr("cast(round(1e6 / (60 + r_bm), 0) as bigint)"), lit(0L)) +
              coalesce(expr("cast(round(1e6 / (60 + r_vec), 0) as bigint)"), lit(0L)))
          .withColumn("rn", row_number().over(wF))
          .where(col("rn") <= 10)
          .select(col("q_id"), col("id"), col("r_bm"), col("r_vec"),
            col("rrf_micro"), col("rn"))
          .orderBy("q_id", "rn")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          qt AS (SELECT doc_id AS q_id, unnest(list_distinct(w[1:6])) AS term
                 FROM d WHERE doc_id IN (1, 2, 3)),
          dd AS (SELECT doc_id, len(w) AS dl, w FROM d),
          stats AS (SELECT count(*) AS n, sum(len(w)) AS tot FROM d),
          tfc AS (SELECT q_id, doc_id, dl, term, count(*) AS tf
                  FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd) tt
                  JOIN qt USING (term)
                  WHERE doc_id <> q_id
                  GROUP BY q_id, doc_id, dl, term),
          dfc AS (SELECT q_id, term, count(*) AS df FROM tfc GROUP BY q_id, term),
          bmm AS (SELECT q_id, doc_id,
              sum(cast(round(1e6 * ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
                (tf + 1.2 * (0.25 + 0.75 * (dl * n) / cast(tot as double))), 0) as bigint)) AS micro
            FROM tfc JOIN dfc USING (q_id, term) CROSS JOIN stats
            GROUP BY q_id, doc_id),
          bm AS (SELECT q_id, doc_id AS id, r_bm FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY micro DESC, doc_id) AS r_bm
              FROM bmm) WHERE r_bm <= 20),
          e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
          qv AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id IN (1, 2, 3)),
          cosd AS (SELECT q_id, vec_id,
              round(list_sum([qv[i] * v[i] for i in range(1, len(v) + 1)])
                    / (sqrt(list_sum([x * x for x in qv])) * sqrt(list_sum([x * x for x in v]))), 6) AS cos
            FROM e CROSS JOIN qv WHERE vec_id <> q_id),
          vv AS (SELECT q_id, vec_id AS id, r_vec FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS r_vec
              FROM cosd) WHERE r_vec <= 20),
          fused AS (SELECT coalesce(bm.q_id, vv.q_id) AS q_id,
              coalesce(bm.id, vv.id) AS id, r_bm, r_vec,
              coalesce(CAST(round(1e6 / (60 + r_bm), 0) AS BIGINT), 0)
                + coalesce(CAST(round(1e6 / (60 + r_vec), 0) AS BIGINT), 0) AS rrf_micro
            FROM bm FULL JOIN vv ON bm.q_id = vv.q_id AND bm.id = vv.id)
        SELECT q_id, id, r_bm, r_vec, rrf_micro, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf_micro DESC, id) AS rn
            FROM fused) WHERE rn <= 10 ORDER BY q_id, rn""")),

    // ---- embedding-space outlier report: least-prototypical per label ----
    // The prototypicality curation signal (SemDeDup's complement, the
    // SSL-prototypes filter of Sorscher et al. '22): score every vector
    // by cosine to its OWN label centroid and surface the bottom-5 per
    // label — candidates for relabeling or pruning. Centroids round to
    // 6 dp per dimension BEFORE any downstream math, so both engines
    // walk identical numbers from there; the per-vector dot folds in
    // fixed dimension order. Scale: the centroid table is |labels| x
    // dim (tiny, broadcast); the corpus is touched once, map-side, and
    // the only shuffle is the per-label top-k window over label-keyed
    // partitions.
    "ann_centroid_outliers" -> Q(
      (s, dir) => {
        val e = vecs(s, dir).withColumn("i", expr("sequence(0, size(v) - 1)"))
        val ex = e.select(col("vec_id"), col("label"),
          explode(arrays_zip(col("i"), col("v"))).as("z"))
          .select(col("vec_id"), col("label"),
            col("z.i").as("dim"), col("z.v").as("x"))
        val centroids = ex.groupBy("label", "dim")
          .agg(round(avg(col("x")), 6).as("m"))
        val scored = ex.join(broadcast(centroids), Seq("label", "dim"))
          .groupBy("vec_id", "label")
          .agg(sum(expr("x * m")).as("dot"),
            sum(expr("x * x")).as("v2"),
            sum(expr("m * m")).as("c2"))
          .select(col("vec_id"), col("label"),
            expr("round(dot / (sqrt(v2) * sqrt(c2)), 6)").as("cos"))
        val w = Window.partitionBy(col("label"))
          .orderBy(col("cos").asc, col("vec_id").asc)
        scored.withColumn("rn", row_number().over(w))
          .where(col("rn") <= 5)
          .orderBy("label", "rn")
      },
      Some("""WITH unnested AS (
          SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
          FROM embeddings, range(1, 65) AS t(i)),
        centroid AS (SELECT label, dim, round(avg(x), 6) AS m
          FROM unnested GROUP BY label, dim),
        scored AS (SELECT vec_id, label,
            round(sum(x * m) / (sqrt(sum(x * x)) * sqrt(sum(m * m))), 6) AS cos
          FROM unnested JOIN centroid USING (label, dim)
          GROUP BY vec_id, label)
        SELECT vec_id, label, cos, rn FROM (
            SELECT *, row_number() OVER (PARTITION BY label ORDER BY cos ASC, vec_id ASC) AS rn
            FROM scored) WHERE rn <= 5 ORDER BY label, rn""")),

    // ---- per-label centroid shift vs the global centroid, EXACT ----
    // The embedding-drift gauge: how far does each label's mass sit
    // from the corpus center? Reported as signed cos^2 in micro units,
    // computed ENTIRELY in integers so partial-agg order can't flip a
    // bit: components quantize to micro (round(x*1e6) AS BIGINT), sums
    // are exact, and the final ratio is two staged integer divisions —
    // t1 = 1e6*|dot| div |a|^2, then t1*|dot| div |b|^2 — with every
    // intermediate under 1e35 at sf10 (2e6 vectors), inside both
    // DECIMAL(38,0) and HUGEINT. Staging the division loses ~1e-7
    // relative precision but both engines truncate at the same two
    // steps, so the outputs are bit-identical. Shape: one map-side
    // explode + keyed agg builds the |labels| x dim frame; the global
    // centroid is a re-aggregation of THAT frame (never a second corpus
    // pass); everything downstream is broadcast-scale.
    "ann_centroid_shift" -> Q(
      (s, dir) => {
        // barrier: the |labels| x dim sum frame feeds BOTH the global
        // re-aggregation and the join side — without materializing it
        // once, each consumer re-scans and re-explodes the corpus
        // (plan-gated to exactly one parquet scan)
        val sums = Exec.barrier(vecs(s, dir)
          .withColumn("i", expr("sequence(0, size(v) - 1)"))
          .select(col("label"),
            explode(arrays_zip(col("i"), col("v"))).as("z"))
          .groupBy(col("label"), col("z.i").as("dim"))
          .agg(sum(expr("CAST(round(z.v * 1000000) AS BIGINT)")).as("sl"),
            count(lit(1)).as("nl")))
        val global = sums.groupBy("dim")
          .agg(sum(col("sl")).as("sg"))
        sums.join(broadcast(global), Seq("dim"))
          .groupBy("label")
          .agg(max(col("nl")).as("n_vectors"),
            sum(expr("CAST(sl AS DECIMAL(38,0)) * sg")).as("dot"),
            sum(expr("CAST(sl AS DECIMAL(38,0)) * sl")).as("aa"),
            sum(expr("CAST(sg AS DECIMAL(38,0)) * sg")).as("bb"))
          .selectExpr("label", "n_vectors",
            """CAST(IF(dot < 0, -1, 1)
                 * (((1000000 * abs(dot)) div aa) * abs(dot) div bb)
               AS BIGINT) AS cos2_signed_micro""")
          .orderBy("label")
      },
      Some("""WITH q AS (
          SELECT label, i - 1 AS dim,
            CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
          FROM embeddings, range(1, 65) AS t(i)),
        sums AS (SELECT label, dim, CAST(sum(x) AS BIGINT) AS sl,
            count(*) AS nl
          FROM q GROUP BY label, dim),
        g AS (SELECT dim, CAST(sum(sl) AS BIGINT) AS sg
          FROM sums GROUP BY dim),
        agg AS (SELECT label, max(nl) AS n_vectors,
            sum(CAST(sl AS HUGEINT) * sg) AS dot,
            sum(CAST(sl AS HUGEINT) * sl) AS aa,
            sum(CAST(sg AS HUGEINT) * sg) AS bb
          FROM sums JOIN g USING (dim) GROUP BY label)
        SELECT label, n_vectors,
          CAST(CASE WHEN dot < 0 THEN -1 ELSE 1 END
               * (((1000000 * abs(dot)) // aa) * abs(dot) // bb)
            AS BIGINT) AS cos2_signed_micro
        FROM agg ORDER BY label""")),

    // ---- label-margin census: the mislabel/confusable-mass gauge ----
    // For every vector, signed-cos² (same staged-integer-division form
    // as ann_centroid_shift, truncation identical on both engines) to
    // its OWN label centroid vs the best FOREIGN centroid; a vector
    // whose best foreign score strictly beats its own is "confusable"
    // — the relabel/prune candidate census SemDeDup-style curation
    // wants per class. Shape: the k x dim centroid-sum frame (tiny)
    // broadcasts onto the exploded corpus; each (vector, candidate
    // label) group sees exactly its 64 dim rows, so the per-vector
    // norm rides in the SAME keyed agg as the dot — one corpus pass,
    // k x corpus intermediate rows (k bounded), no corpus self-join.
    "ann_label_margin" -> Q(
      (s, dir) => {
        // The corpus stays at ROW granularity: per-label centroid sums
        // pack into k broadcast rows (clabel, slv[64], bb) and every
        // vector scores against all k inside one map-only projection
        // over the packed arrays. The previous shape exploded the
        // corpus ×64 dims, broadcast-joined per dim, and
        // hash-aggregated |corpus|·k·64 rows back together — paying a
        // corpus-sized explode + re-agg for arithmetic that never
        // needed to leave the row (guide §2.3: don't shuffle what a
        // projection can compute). Quantization, the DECIMAL(38,0)
        // widening, and the staged div order are unchanged; integer
        // sums are order-free, so every dot/va/bb is bit-identical.
        val vm = vecs(s, dir).select(col("vec_id"), col("label"),
          expr("transform(v, x -> CAST(round(x * 1000000) AS BIGINT))").as("xs"))
        val cent = vm
          .select(col("label").as("clabel"), posexplode(col("xs")).as(Seq("dim", "x")))
          .groupBy("clabel", "dim").agg(sum(col("x")).as("sl"))
          .groupBy("clabel")
          .agg(expr("transform(array_sort(collect_list(struct(dim, sl))), p -> p.sl)").as("slv"))
          .withColumn("bb", expr(
            "aggregate(slv, CAST(0 AS DECIMAL(38,0)), (a, s) -> a + CAST(s AS DECIMAL(38,0)) * s)"))
        // barrier: the centroid pipeline re-reads the corpus; with it
        // materialized the embeddings parquet appears exactly ONCE in
        // the final plan (the scoring pass) — plan-gated
        val packed = Exec.barrier(cent)
          .agg(expr("collect_list(struct(clabel, slv, bb))").as("cs"))
        // graft_label_margin_scores = the codegen'd kernel: all k
        // (dot, va, staged-div) scores in one exact-integer loop per
        // row. The zip_with/aggregate HOF chain it replaces evaluated
        // interpreted with per-element Decimal boxing — the entry's
        // dominant remaining cost after round 12 (verdict item 4).
        // Bit-identical: integer sums are order-free, BigInteger
        // divide truncates like IntegralDivide on the abs-value
        // staging, and the sf10 widening discipline is unchanged
        // (kernel falls back from long to BigInteger on overflow).
        val scored = vm.crossJoin(broadcast(packed))
          .select(col("vec_id"), col("label"),
            explode(expr("graft_label_margin_scores(xs, cs)")).as("z"))
          .selectExpr("vec_id", "label", "z.clabel AS clabel", "z.m AS m")
        scored.groupBy("vec_id", "label")
          .agg(max(when(col("clabel") === col("label"), col("m"))).as("own_m"),
            max(when(col("clabel") =!= col("label"), col("m"))).as("best_m"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_vectors"),
            sum(when(col("best_m") > col("own_m"), 1L).otherwise(0L))
              .as("n_confusable"),
            sum(col("own_m") - col("best_m")).as("margin_sum_micro"))
          .orderBy("label")
      },
      Some("""WITH q AS (
          SELECT vec_id, label, i - 1 AS dim,
            CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS x
          FROM embeddings, range(1, 65) AS t(i)),
        cent AS (SELECT label AS clabel, dim, CAST(sum(x) AS BIGINT) AS sl
          FROM q GROUP BY label, dim),
        bb AS (SELECT clabel, sum(CAST(sl AS HUGEINT) * sl) AS bb
          FROM cent GROUP BY clabel),
        scored AS (SELECT vec_id, label, clabel,
            CAST(CASE WHEN dot < 0 THEN -1 ELSE 1 END
                 * (((1000000 * abs(dot)) // va) * abs(dot) // bb)
              AS BIGINT) AS m
          FROM (SELECT vec_id, label, clabel,
              sum(CAST(x AS HUGEINT) * sl) AS dot,
              sum(CAST(x AS HUGEINT) * x) AS va
            FROM q JOIN cent USING (dim) GROUP BY vec_id, label, clabel)
          JOIN bb USING (clabel)),
        perv AS (SELECT vec_id, label,
            max(CASE WHEN clabel = label THEN m END) AS own_m,
            max(CASE WHEN clabel <> label THEN m END) AS best_m
          FROM scored GROUP BY vec_id, label)
        SELECT label, count(*) AS n_vectors,
          CAST(sum(CASE WHEN best_m > own_m THEN 1 ELSE 0 END) AS BIGINT)
            AS n_confusable,
          CAST(sum(own_m - best_m) AS BIGINT) AS margin_sum_micro
        FROM perv GROUP BY label ORDER BY label""")),

    // ---- k-NN graph census (the ANN-index build artifact) ----
    // Graph-based indexes (HNSW/NSG) start from exactly this: each
    // vector's k nearest neighbors, and the graph's RECIPROCITY (how
    // many kNN edges point both ways) — the connectivity gauge that
    // predicts search recall. Neighbors are found within TRAINED
    // coarse-quantizer cells sized to the corpus (see
    // [[knnGraphEdges]]: k = max(8, ceil(n/64)) k-means cells via the
    // ann_kmeans_ivf machinery, so sum(|cell|^2) ~ 64n stays LINEAR
    // in the corpus — the round-11 fixed-10-label-cell shape measured
    // alpha -> 1.07/decade toward n^2; growing the cell count with n
    // is the fix, now in code). Edges are scored in rounded micro so
    // the census sums stay integer-exact, ranked k=3 per vector by
    // (cos desc, vec_id). Census per label: vectors, edges,
    // reciprocal edge count, mean edge cosine. The oracle retrains
    // the SAME quantizer (dynamic k from its own count) and replays
    // the in-cell search exactly.
    "ann_knn_graph" -> Q(
      (s, dir) => {
        val knnB = Exec.barrier(knnGraphEdges(s, dir))
        val rev = knnB.select(col("src").as("r_src"), col("dst").as("r_dst"))
        val recip = knnB.join(rev,
            col("src") === col("r_dst") && col("dst") === col("r_src"),
            "left_semi")
          .groupBy(col("label").as("lab3"))
          .agg(count(lit(1)).as("n_reciprocal"))
        knnB.groupBy("label")
          .agg(countDistinct(col("src")).as("n_vectors"),
            count(lit(1)).as("n_edges"),
            sum(col("cos_micro")).as("cos_micro_sum"))
          .join(broadcast(recip), col("label") === col("lab3"), "left")
          .selectExpr("label", "n_vectors", "n_edges",
            "coalesce(n_reciprocal, 0L) AS n_reciprocal",
            // sign-extracted: edge cosines can be negative, and Spark
            // div truncates where DuckDB // floors
            """IF(cos_micro_sum < 0, -1L, 1L)
               * (abs(cos_micro_sum) div n_edges) AS mean_cos_micro""")
          .orderBy("label")
      },
      Some("""WITH e AS (SELECT vec_id, label,
            [CAST(x AS DOUBLE) for x in embedding] AS v FROM embeddings),
        kk AS (SELECT greatest(8, CAST(ceil(count(*) / 64.0) AS BIGINT)) AS k
          FROM e),
        seeds AS (SELECT vec_id AS cid, v AS cv FROM e
          QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
        d1 AS (SELECT e.vec_id, s.cid, e.v,
            round(list_sum([(e.v[i] - s.cv[i]) * (e.v[i] - s.cv[i])
                            for i in range(1, 65)]), 6) AS d
          FROM e CROSS JOIN seeds s),
        a1 AS (SELECT vec_id, cid, v FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY d, cid) AS rn FROM d1)
          WHERE rn = 1),
        m1 AS (SELECT cid, i - 1 AS dim, round(avg(v[i]), 9) AS m
          FROM a1, range(1, 65) AS t(i) GROUP BY cid, i),
        c1 AS (SELECT cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        d2 AS (SELECT e.vec_id, e.label, e.v, c.cid,
            round(list_sum([(e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i])
                            for i in range(1, 65)]), 6) AS d
          FROM e CROSS JOIN c1 c),
        a2 AS (SELECT vec_id, label, v, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                ORDER BY d, cid) AS rn FROM d2)
          WHERE rn = 1),
        scored AS (SELECT l.label, l.vec_id AS src, r.vec_id AS dst,
            CAST(round(
              list_sum([l.v[i] * r.v[i] for i in range(1, len(r.v) + 1)])
              / (sqrt(list_sum([x * x for x in l.v]))
                 * sqrt(list_sum([x * x for x in r.v]))) * 1000000)
              AS BIGINT) AS cos_micro
          FROM a2 l JOIN a2 r ON l.cid = r.cid AND l.vec_id <> r.vec_id),
        knn AS (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY src
                ORDER BY cos_micro DESC, dst) AS rn
            FROM scored) WHERE rn <= 3),
        recip AS (SELECT k.label, count(*) AS n_reciprocal
          FROM knn k WHERE EXISTS (SELECT 1 FROM knn r
            WHERE r.src = k.dst AND r.dst = k.src)
          GROUP BY k.label)
        SELECT label, count(DISTINCT src) AS n_vectors, count(*) AS n_edges,
          CAST(coalesce(any_value(n_reciprocal), 0) AS BIGINT) AS n_reciprocal,
          CAST(CASE WHEN sum(cos_micro) < 0 THEN -1 ELSE 1 END
               * (abs(sum(cos_micro)) // count(*)) AS BIGINT) AS mean_cos_micro
        FROM knn LEFT JOIN recip USING (label)
        GROUP BY label ORDER BY label""")),

    // ---- IVF cell-balance gauge ----
    // The operational health check behind every cell-bounded entry
    // (ann_ivf_topk, ann_knn_graph, dedup_semantic): how even are the
    // cells? One keyed count over the corpus, then a 1-row census —
    // HHI of cell shares (1e6/k = perfectly even; 1e6 = one hot
    // cell) and the max/mean imbalance ratio a deployment alarms on
    // before a hot cell turns a bounded pair space quadratic. The
    // HHI numerator widens to DECIMAL(38,0)/HUGEINT: sum(c^2) x 1e6
    // passes int64 once cells hold ~10M vectors.
    "ann_cell_balance" -> Q(
      (s, dir) => {
        vecs(s, dir)
          .groupBy("label").agg(count(lit(1)).as("c"))
          .groupBy()
          .agg(count(lit(1)).as("n_cells"), sum(col("c")).as("n_vectors"),
            max(col("c")).as("max_cell"), min(col("c")).as("min_cell"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("sq"))
          .selectExpr("n_cells", "n_vectors", "max_cell", "min_cell",
            """CAST((1000000 * sq) div (CAST(n_vectors AS DECIMAL(38,0))
                 * n_vectors) AS BIGINT) AS hhi_micro""",
            "1000000 * (max_cell * n_cells) div n_vectors AS imbalance_micro")
      },
      Some("""WITH c AS (SELECT label, count(*) AS c
          FROM embeddings GROUP BY label)
        SELECT count(*) AS n_cells, CAST(sum(c) AS BIGINT) AS n_vectors,
          CAST(max(c) AS BIGINT) AS max_cell,
          CAST(min(c) AS BIGINT) AS min_cell,
          CAST((1000000 * sum(CAST(c AS HUGEINT) * c))
               // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT) AS hhi_micro,
          CAST(1000000 * (max(c) * count(*)) // sum(c) AS BIGINT)
            AS imbalance_micro
        FROM c"""))
  )
}
