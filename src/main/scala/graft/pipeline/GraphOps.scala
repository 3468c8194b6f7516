package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph propagation over edge frames — the iterative-join family the
  * connected-components labeler ([[CorpusOps.connectedComponents]]
  * pointer doubling) opened, extended to weighted mass propagation.
  *
  * Everything runs in SCALED INTEGER arithmetic (micro-units): float
  * mass propagation is partition-order-dependent under distributed
  * summation (a+b+c != c+a+b in doubles), which would make ranks
  * nondeterministic run-to-run — unacceptable for an oracle-gated
  * pipeline op and observable at 100 TB as rank flapping between
  * runs. Integer mass is associative, so the result is bit-identical
  * on any partitioning, and the deliberate `div` floor loss is the
  * documented, deterministic rounding rule.
  */
object GraphOps {

  /** PageRank in integer micro-units: every node starts at 1e6; each
    * iteration a node keeps `(100-dampingPct)%` of the unit mass as
    * base and receives `dampingPct%` of the floor-divided contributions
    * `prm div outdeg` of its in-neighbors.
    *
    * Shape per iteration: one ranks⋈edges equi-join on src (both sides
    * hash-partition on the node key — at scale, pre-bucketing edges by
    * src makes the join exchange-free on the big side), one dst-keyed
    * partial agg, one left join back onto the node set for dangling
    * receivers. The rank frame is localCheckpoint'd each round: the
    * plan would otherwise double per iteration and re-execute the whole
    * chain at every action (same lineage-truncation rationale as the
    * CC labeler).
    *
    * @param edges (src: long, dst: long) — parallel edges count twice.
    * @return (node: long, prm: long) — micro-unit ranks.
    */
  def pageRankMicro(edges: DataFrame, iters: Int,
                    dampingPct: Int = 85): DataFrame = {
    require(iters >= 0 && iters <= 50, s"iters out of range: $iters")
    require(dampingPct >= 0 && dampingPct <= 100, dampingPct.toString)
    // Materialize the loop INVARIANTS once: edges may arrive as an
    // arbitrary derivation pipeline (a parquet scan + projection at
    // best, a multi-join at worst), and every round's checkpoint action
    // would otherwise re-execute that pipeline for the edge join AND
    // the nodes/deg re-derivations — iters+1 full recomputes of frames
    // that never change. The count doubles as the loop's shuffle sizing
    // (same rationale as the CC labeler: per-round cost has a
    // scheduling floor × partition count term, so a global knob tuned
    // for corpus-sized shuffles inverts on the tiny per-round frames).
    val e = edges.localCheckpoint()
    Exec.withShufflePartitions(e.sparkSession, Exec.loopPartitions(e.count())) {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .distinct()
        .localCheckpoint()
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .localCheckpoint()
      val base = (100L - dampingPct) * 1000000L / 100L
      var ranks = nodes.withColumn("prm", lit(1000000L)).localCheckpoint()
      for (_ <- 0 until iters) {
        val contrib = ranks
          .join(deg, ranks("node") === deg("src"))
          // integer `div`, not `/`: Column./ is double division, whose
          // rounding can cross an integer boundary before the floor
          .select(col("node"), expr("prm div outdeg").as("unit"))
          .join(e, col("node") === e("src"))
          .groupBy(col("dst"))
          .agg(sum(col("unit")).as("incoming"))
        ranks = nodes
          .join(contrib, nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            expr(s"$base + ($dampingPct * coalesce(incoming, 0L)) div 100")
              .as("prm"))
          .localCheckpoint()
      }
      ranks
    }
  }

  /** Synchronous label propagation (the classic LPA community
    * detector): every node starts labeled with its own id; each
    * iteration it adopts the most frequent label among its neighbors,
    * ties broken by SMALLEST label — fully deterministic, unlike the
    * random-order variants. Edges are symmetrized (undirected
    * semantics); isolated declared endpoints keep their own label.
    *
    * Shape per iteration: one labels⋈edges equi-join on the node key,
    * a (node, label) partial count, and a per-node argmax window —
    * the same bucketable join profile as the PageRank loop, with the
    * frame localCheckpoint'd each round for the same
    * lineage-truncation reason.
    *
    * @param edges (src: long, dst: long)
    * @return (node: long, label: long) */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0 && iters <= 50, s"iters out of range: $iters")
    import org.apache.spark.sql.expressions.Window
    val sym = edges.selectExpr("src", "dst")
      .union(edges.selectExpr("dst AS src", "src AS dst"))
      .distinct()
      .localCheckpoint()
    // self-size the loop's shuffles from the (already materialized)
    // edge count — per-round cost has a scheduling floor × partition
    // count term over frames bounded by the edge list, so inheriting a
    // corpus-tuned global knob inverts here (same rationale and sizing
    // as the CC labeler)
    Exec.withShufflePartitions(sym.sparkSession, Exec.loopPartitions(sym.count())) {
      val nodes = sym.select(col("src").as("node")).distinct()
      var labels = nodes.withColumn("label", col("node")).localCheckpoint()
      for (_ <- 0 until iters) {
        labels = sym
          .join(labels, sym("dst") === labels("node"))
          .groupBy(col("src"), col("label")).agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("src").orderBy(col("n").desc, col("label").asc)))
          .where(col("rk") === 1)
          .select(col("src").as("node"), col("label"))
          .localCheckpoint()
      }
      labels
    }
  }

  /** k-core decomposition by iterative peeling (Batagelj-Zaversnik's
    * semantics, the distributed formulation): repeatedly delete nodes
    * with degree < k until the graph stabilizes; what's left is the
    * k-core — the standard "dense nucleus" extractor for community
    * seeds and spam-graph analysis. Each round is one degree
    * aggregation + one semi-join (both keyed shuffles), with
    * localCheckpoint truncating the iterative lineage; rounds are
    * bounded by `maxRounds` and the loop exits early when a round
    * deletes nothing (checked via a 1-row count — the only driver
    * action, O(1) data). Returns (node, deg) of the surviving core.
    * At scale rounds cost O(E) each and the round COUNT is the
    * graph's degeneracy-peel depth, typically tens — the same budget
    * contract as pageRankMicro's iteration knob. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint()
    var prev = und.count()
    // self-size the peeling rounds' shuffles from the edge count (same
    // scheduling-floor rationale and sizing as the CC labeler)
    Exec.withShufflePartitions(und.sparkSession, Exec.loopPartitions(prev)) {
    var done = prev == 0
    var round = 0
    while (!done && round < maxRounds) {
      val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val keep = deg.where(col("deg") >= k).select("node")
      und = und
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .localCheckpoint()
      val now = und.count()
      done = now == prev
      prev = now
      round += 1
    }
    if (!done) throw new IllegalStateException(
      s"kCore(k=$k) did not stabilize within $maxRounds rounds " +
        s"($prev edges remain) — raise maxRounds")
    // NOTE: the returned aggregation is lazy and executes after the
    // conf restore, so it INTENTIONALLY runs at the caller's
    // partitioning, not the loop's self-sized one — the surviving core
    // is small and the caller's plan owns its own sizing. (An eager
    // localCheckpoint here pinned the loop sizing but cost more than
    // it saved: pipe_kcore 1.14 → 1.42 s back-to-back at sf0.1 —
    // measured and reverted, r13.) The session-conf mutation inside
    // withShufflePartitions is single-query-at-a-time by the gate's
    // execution model; concurrent planners on one session would race.
    und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    } // withShufflePartitions
  }

  /** Triangle count + global clustering coefficient over an
    * undirected-ized edge frame (the node-iterator algorithm with
    * DEGREE ordering, Schank & Wagner 2005): canonical edges orient
    * low-rank → high-rank where rank = (degree, node), wedges are
    * built only at each edge's LOW-rank endpoint, and each wedge
    * closes against the canonical edge set. Degree orientation is the
    * scale guarantee: a hub of degree d contributes wedges only for
    * its higher-rank neighbors, bounding the wedge fan by O(m^1.5)
    * total instead of Σ d² — on a power-law graph (every real link
    * graph) id-ordering would re-create the hub blowup this exists to
    * avoid. Output is one row: (n_triangles, n_wedges, gcc_micro)
    * with gcc = 3·triangles / wedges in micro fixed-point. */
  def triangleStats(edges: DataFrame, srcCol: String = "src",
                    dstCol: String = "dst"): DataFrame = {
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint() // reused three times: degree, orientation, closure
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = withDeg.selectExpr(
      "IF(struct(da, a) < struct(db, b), a, b) AS u",
      "IF(struct(da, a) < struct(db, b), b, a) AS w",
      """IF(struct(da, a) < struct(db, b),
           named_struct('d', db, 'n', b),
           named_struct('d', da, 'n', a)) AS wrk""")
    val wedgePairs = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.wrk") < col("e2.wrk"))
      .select(least(col("e1.w"), col("e2.w")).as("a"),
        greatest(col("e1.w"), col("e2.w")).as("b"))
    val tri = wedgePairs.join(und, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(
      sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
    tri.crossJoin(wedges).selectExpr("n_triangles", "n_wedges",
      """CASE WHEN n_wedges = 0 THEN 0L
           ELSE 1000000 * 3 * n_triangles div n_wedges END AS gcc_micro""")
  }
}
