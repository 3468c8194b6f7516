package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The public CorpusOps facade must work on arbitrary user frames, not
  * just the gate's testdata layout: renamed id/text columns, int ids,
  * inline data. Semantics are pinned by tiny hand-checkable cases (the
  * heavy property/oracle coverage lives with the underlying impls).
  */
class CorpusOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.get

  test("nearDupPairs finds an exact duplicate under renamed columns") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (10, base),
      (11, base),                                    // exact dup of 10
      (12, "one two three four five six seven eight nine ten"),
      (13, "completely different words entirely here now then forever maybe so"))
      .toDF("my_id", "body")
    val pairs = graft.pipeline.CorpusOps.nearDupPairs(docs, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L)))
  }

  test("connectedComponents labels chains transitively") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val labels = graft.pipeline.CorpusOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents runs barrier jobs only: edge count and label sums are observed on them") {
    import org.apache.spark.sql.{DataFrame, Observation}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, min}
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(f -> qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(f -> qe)
    }
    /** The actions since the last call, in order. Listener events
      * arrive asynchronously but in order, so every action before a
      * marker action's event is one of them. */
    def drain(): Seq[String] = {
      val marker = spark.range(1).observe(Observation(), count(lit(1)).as("n"))
      marker.collect()
      Iterator.continually(seen.poll(30, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(e => e != null && (e._2 ne marker.queryExecution)).map(_._1).toList
    }
    def actionsOf(pairs: DataFrame): (Seq[String], DataFrame) = {
      drain()
      val labels = graft.pipeline.CorpusOps.connectedComponents(pairs)
      (drain(), labels)
    }
    val clique = spark.range(6).crossJoin(spark.range(6).toDF("b"))
      .where(col("id") < col("b")).toDF("a", "b")
    val chain = spark.range(0, 2000).selectExpr("id AS id_a", "id + 1 AS id_b")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    spark.listenerManager.register(listener)
    try {
      for (reliable <- Seq(false, true)) {
        if (reliable) spark.sparkContext.setCheckpointDir(ckpt)
        val want = if (reliable) "checkpoint" else "localCheckpoint"
        val (cliqueActions, cl) = actionsOf(clique)
        // sym, seed, and one round that finds the seed already converged
        assert(cliqueActions == Seq.fill(3)(want), s"clique, $want")
        val c = cl.agg(count(lit(1)), countDistinct(col("label")), max(col("label"))).collect()(0)
        assert((c.getLong(0), c.getLong(1), c.getLong(2)) == (6L, 1L, 0L))
        val (chainActions, ch) = actionsOf(chain)
        assert(chainActions.nonEmpty && chainActions.forall(_ == want),
          s"chain, $want: ${chainActions.mkString(", ")}")
        val r = ch.agg(min(col("label")), max(col("label")), count(lit(1))).collect()(0)
        assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (0L, 0L, 2001L))
      }
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.setCheckpointDir(null)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("canonicalPerCluster keeps the best-quality member, singletons untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", 10), (2L, "b", 99), (3L, "c", 50),   // cluster {1,2,3} -> keep 2
      (7L, "d", 1))                                  // singleton -> kept
      .toDF("doc_id", "body", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = graft.pipeline.CorpusOps.canonicalPerCluster(docs, pairs, "score")
    assert(kept.columns.toSeq == Seq("doc_id", "body", "score"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 7L))
  }

  test("bm25TopK ranks tf and rarity correctly under renamed columns") {
    import spark.implicits._
    val docs = Seq(
      (1, "cat cat cat dog"),
      (2, "cat dog"),
      (3, "bird bird"))
      .toDF("my_id", "body")
    val hits = graft.pipeline.CorpusOps.bm25TopK(docs, Seq("cat"), 5, "my_id", "body")
      .collect()
    // doc 1 (tf=3) outranks doc 2 (tf=1, shorter); doc 3 has no match
    assert(hits.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(hits(0).getDouble(2) > hits(1).getDouble(2))
    // rarity: with query (cat, bird), bird's df=1 < cat's df=2, so for
    // equal tf the bird-only doc gets the higher idf contribution
    val two = graft.pipeline.CorpusOps.bm25TopK(docs, Seq("cat", "bird"), 5, "my_id", "body")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(two == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.bm25TopK(docs, Seq.empty, 5, "my_id", "body")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.bm25TopK(docs, Seq("cat"), 0, "my_id", "body")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.bm25TopK(docs, Seq("cat"), 5, "nope", "body")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.bm25TopK(docs, Seq("o'brien"), 5, "my_id", "body")
    }
    // empty corpus: schema-stable empty result, no NPE on the stats row
    val empty = graft.pipeline.CorpusOps.bm25TopK(
      docs.where("my_id < 0"), Seq("cat"), 5, "my_id", "body")
    assert(empty.columns.toSeq == Seq("my_id", "n_terms", "score") && empty.count() == 0)
  }

  test("containmentPairs catches a near-superset that Jaccard misses") {
    import spark.implicits._
    val core = "alpha beta gamma delta epsilon"
    val docs = Seq(
      (1, core),                                         // 3 shingles
      (2, core + " one two three four five six seven eight nine ten eleven twelve"),
      (3, "totally unrelated words in this document here"))
      .toDF("my_id", "body")
    val pairs = graft.pipeline.CorpusOps.containmentPairs(docs, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // doc 1's 3 shingles are all inside doc 2 -> containment 1.0,
    // while Jaccard is 3/15 = 0.2
    assert(pairs == Set((1L, 2L, 3)))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.containmentPairs(docs, "my_id", "body", minPct = 0)
    }
  }

  test("editDistancePairs verifies candidates with a banded exact metric") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1, base),                       // identical pair -> dist 0
      (2, base),
      (3, base + " extra"),            // 6 edits over len 65 -> under 20%
      // shares shingles with base but diverges by far more than 20%
      (4, base + " lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi " +
        "omega one two three four five six seven eight nine ten eleven"),
      (5, "completely different words entirely here now then forever maybe so"))
      .toDF("my_id", "body")
    val got = graft.pipeline.CorpusOps.editDistancePairs(docs, "my_id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == Set((1L, 2L, 0), (1L, 3L, 6), (2L, 3L, 6)))
    // the banded (3-arg) path must agree with the plain metric on a
    // kept pair: dist 6 is the true levenshtein, not a band artifact
    val plain = docs.as("a").crossJoin(docs.as("b"))
      .selectExpr("a.my_id", "b.my_id", "levenshtein(a.body, b.body) AS d")
      .where("a.my_id = 1 AND b.my_id = 3").collect().head.getInt(2)
    assert(plain == 6)
    // tighter budget drops the 6-edit pair, keeps the exact dup
    val tight = graft.pipeline.CorpusOps.editDistancePairs(docs, "my_id", "body", maxPct = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight == Set((1L, 2L)))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.editDistancePairs(docs, "my_id", "body", maxPct = 0)
    }
  }

  test("zipfProfile matches a hand-computed regression on a known distribution") {
    import spark.implicits._
    // freqs: a=4, b=2, c=1 -> ranks 1,2,3
    val docs = Seq((1, "a a a a b b c")).toDF("doc_id", "text")
    val r = graft.pipeline.CorpusOps.zipfProfile(docs).collect().head
    assert(r.getAs[Int]("n_terms") == 3)
    assert(r.getAs[Long]("vocab") == 3L && r.getAs[Long]("total_tokens") == 7L)
    // recompute the fixed-point regression exactly as specified
    val xs = Seq(1, 2, 3).map(rk => math.round(1e6 * math.log(rk)))
    val ys = Seq(4, 2, 1).map(c => math.round(1e6 * math.log(c)))
    val (n, sx, sy) = (3.0, xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    val want = BigDecimal((n * sxy - sx.toDouble * sy) / (n * sxx - sx.toDouble * sx))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("zipf_slope") == want)
    // topK cuts the fit to the head: with topK=2 only ranks 1..2 enter
    val head2 = graft.pipeline.CorpusOps.zipfProfile(docs, topK = 2).collect().head
    assert(head2.getAs[Int]("n_terms") == 2)
    // totals are corpus-wide, independent of the fit cut
    assert(head2.getAs[Long]("vocab") == 3L)
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.zipfProfile(docs, topK = 1)
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.zipfProfile(docs, textCol = "nope")
    }
  }

  test("thresholdSweep matches hand-computed confusion counts") {
    import spark.implicits._
    // scores: pos {90, 20}, neg {50, -10}
    val scored = Seq((90L, true), (20L, true), (50L, false), (-10L, false))
      .toDF("score", "label")
    val got = graft.pipeline.CorpusOps.thresholdSweep(scored)
      .orderBy(org.apache.spark.sql.functions.col("threshold").desc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // thresholds (desc): 90 -> tp1 fp0 fn1 tn2; 50 -> tp1 fp1 fn1 tn1;
    // 20 -> tp2 fp1 fn0 tn1; -10 -> tp2 fp2 fn0 tn0
    assert(got.toSeq == Seq(
      (90L, 1L, 0L, 1L, 2L), (50L, 1L, 1L, 1L, 1L),
      (20L, 2L, 1L, 0L, 1L), (-10L, 2L, 2L, 0L, 0L)))
    // bucketing floors negatives correctly: -10 lands in bucket -100
    val b = graft.pipeline.CorpusOps.thresholdSweep(scored, bucket = 100L)
      .collect().map(r => r.getLong(0)).sorted
    assert(b.toSeq == Seq(-100L, 0L))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.thresholdSweep(scored, bucket = 0L)
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.thresholdSweep(scored, scoreCol = "nope")
    }
  }

  test("bm25TopK and qualityScore tolerate null text") {
    import spark.implicits._
    val docs = Seq((1, Option("cat dog")), (2, Option.empty[String]))
      .toDF("my_id", "body")
    // null text: no tokens to match — doc 2 scores nowhere, doc 1 normally
    val hits = graft.pipeline.CorpusOps.bm25TopK(docs, Seq("cat"), 5, "my_id", "body")
      .collect().map(_.getInt(0)).toSeq
    assert(hits == Seq(1))
    val qs = graft.pipeline.CorpusOps.qualityScore(docs,
      Seq(("cat dog", 3L)).toDF("gram", "weight"), "my_id", "body")
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(qs == Map(1 -> 3L, 2 -> 0L))
    // all-null corpus: stats row has a null token total — empty result,
    // not an NPE
    val allNull = graft.pipeline.CorpusOps.bm25TopK(
      docs.where("my_id = 2"), Seq("cat"), 5, "my_id", "body")
    assert(allNull.count() == 0)
  }

  test("qualityScore sums broadcast weights per doc, scores short and unknown-gram docs 0") {
    import spark.implicits._
    val docs = Seq(
      (1, "good text here"),     // grams: "good text"(+7), "text here"(+5) -> 12
      (2, "bad stuff"),          // gram: "bad stuff"(-9) -> -9
      (3, "tiny"),               // < 2 tokens -> no features
      (4, "unseen grams only"))  // grams not in the model -> 0
      .toDF("my_id", "body")
    val weights = Seq(
      ("good text", 7L), ("text here", 5L), ("bad stuff", -9L))
      .toDF("gram", "weight")
    val out = graft.pipeline.CorpusOps.qualityScore(docs, weights, "my_id", "body")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out == Map(
      1 -> ((2L, 12L, true)),
      2 -> ((1L, -9L, false)),
      3 -> ((0L, 0L, true)),
      4 -> ((2L, 0L, true))))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.qualityScore(docs, weights.toDF("g", "w"), "my_id", "body")
    }
  }

  test("removeDuplicateSpans cuts later occurrences, keeps the first, rebuilds in order") {
    import spark.implicits._
    // segWords = 3: doc 1 = [A][B], doc 2 = [B][C] (B lifted from doc 1),
    // doc 3 = [A] only (fully duplicated -> emptied but still present)
    val A = "a1 a2 a3"; val B = "b1 b2 b3"; val C = "c1 c2 c3"
    val docs = Seq((1L, s"$A $B"), (2L, s"$B $C"), (3L, A)).toDF("id", "body")
    val out = graft.pipeline.CorpusOps
      .removeDuplicateSpans(docs, "id", "body", segWords = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, s"$A $B")))   // first occurrences: untouched
    assert(out(2L) == ((2L, 1L, C)))          // lifted B removed, C kept
    assert(out(3L) == ((1L, 0L, "")))         // emptied, row preserved
  }

  test("semanticDedup drops exact and near duplicates, keeps the lowest id per cell") {
    import spark.implicits._
    // k=2 seeds the two lowest ids; exact dups always share a cell
    // (identical distances, argmin ties to the lowest cid), so cell
    // partitioning never splits them
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f)),  // exact dup of 1
      (4L, Array(0.0f, 0.0f, 1.0f)),  // orthogonal to everything: kept
      (5L, Array(0.0f, 0.98f, 0.02f)) // near-dup of 2 (cos ~ 0.9998)
    ).toDF("id", "emb")
    val kept = graft.pipeline.CorpusOps
      .semanticDedup(rows, "id", "emb", k = 2, minCosine = 0.95)
    assert(kept.columns.toSeq == Seq("id", "emb"))
    assert(kept.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
  }

  test("semanticDedup multi-probe: drops a superset of single-probe, exact dups still caught") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val base = (0L until 40L).map(i => (i, Array.fill(8)(rnd.nextFloat() * 2f - 1f)))
    // 90 duplicates 5 exactly — must be dropped at any probe count
    val rows = (base :+ (90L, base(5)._2)).toDF("id", "emb")
    def keptIds(probes: Int) = graft.pipeline.CorpusOps
      .semanticDedup(rows, "id", "emb", k = 4, minCosine = 0.8, probes = probes)
      .select("id").collect().map(_.getLong(0)).toSet
    val k1 = keptIds(1); val k2 = keptIds(2)
    // every single-probe pair still shares its argmin cell under 2
    // probes, so 2-probe drops a superset <=> keeps a subset
    assert(k2.subsetOf(k1), s"2-probe kept ${k2 -- k1} that 1-probe dropped")
    assert(!k1.contains(90L) && !k2.contains(90L))
    assert(k1.contains(5L) && k2.contains(5L))
  }

  test("weightedSample: p=1 keeps all, p=0 keeps none, decisions are deterministic and roughly proportional") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val docs = (0L until 2000L).map(i => (i, if (i % 2 == 0) 0.9 else 0.1, s"doc$i"))
      .toDF("id", "p", "payload")
    def keep(col: String) = graft.pipeline.CorpusOps
      .weightedSample(docs.withColumn("pp", expr(col)), "pp", "id")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(keep("1.0").size == 2000 && keep("100.0").size == 2000) // clamp
    assert(keep("0.0").isEmpty && keep("-3.0").isEmpty)
    val once = keep("p"); val again = keep("p")
    assert(once == again, "same ids must keep/drop identically on re-run")
    val hi = once.count(_ % 2 == 0); val lo = once.size - hi
    assert(hi > 800 && hi < 1000 && lo > 50 && lo < 150,
      s"sampling rates off: hi=$hi lo=$lo") // E[hi]=900, E[lo]=100
    val kept = graft.pipeline.CorpusOps.weightedSample(docs, "p", "id")
    assert(kept.columns.toSeq == Seq("id", "p", "payload"))
  }

  test("new-op edge cases: empty text, k larger than the corpus, empty vectors") {
    import spark.implicits._
    // empty / whitespace-only docs: filtered by the length guard, the
    // non-empty doc passes through untouched
    val docs = Seq((1L, ""), (2L, "a b c")).toDF("id", "body")
    val spans = graft.pipeline.CorpusOps
      .removeDuplicateSpans(docs, "id", "body", segWords = 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(spans == Map(2L -> "a b c"))
    // k > corpus size: seeds degrade to |corpus| cells, still correct
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f))).toDF("id", "emb")
    val kept = graft.pipeline.CorpusOps
      .semanticDedup(vecs, "id", "emb", k = 16, minCosine = 0.95)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    // zero-length vector: quantizes to empty codes + null scale rather
    // than throwing (no direction to encode)
    val q = graft.pipeline.VectorOps.quantizeInt8(
      Seq((7L, Array.empty[Float])).toDF("id", "emb"), "id", "emb")
      .collect()
    assert(q.length == 1 && q(0).isNullAt(1) && q(0).getSeq[Int](2).isEmpty)
  }

  test("winnowingPairs guarantee boundary: a minimal 7-word shared run is caught at default minShared") {
    import spark.implicits._
    // gramWidth 4 + window 4 - 1 = 7 words: exactly one full window of
    // shared grams -> exactly one guaranteed shared fingerprint
    val run = "one two three four five six seven"
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon zeta"),
      (2L, s"uno dos tres cuatro $run cinco seis siete"))
      .toDF("id", "body")
    val pairs = graft.pipeline.CorpusOps.winnowingPairs(docs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("winnowingPairs rejects nonsensical parameters loudly") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g")).toDF("id", "body")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.winnowingPairs(docs, "id", "body", window = 0)
    }
    assert(e.getMessage.contains("must all be >= 1"))
  }

  test("winnowingPairs catches a lifted run of words, not unrelated docs") {
    import spark.implicits._
    val lifted = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, s"intro words then $lifted and a unique tail here"),
      (2L, s"totally different opening before $lifted closing differently now"),
      (3L, "nothing in common with the others at all whatsoever truly"))
      .toDF("id", "body")
    val pairs = graft.pipeline.CorpusOps.winnowingPairs(docs, "id", "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("dedupAgainstCorpus drops exact and near dups of corpus docs, keeps the rest") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog in the morning sun"),
      (101L, "short"), // too short to shingle
      (102L, "completely unrelated corpus content about astrophysics and galaxies"))
      .toDF("id", "body")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog in the morning sun"), // exact dup of 100
      (2L, "short"),                                                          // exact dup of 101 (unshingleable)
      (3L, "the quick brown fox jumps over the lazy dog in the morning fog"), // near dup of 100
      (4L, "a genuinely novel document that matches nothing in the corpus"))
      .toDF("id", "body")
    val clean = graft.pipeline.CorpusOps.dedupAgainstCorpus(
      batch, corpus, idCol = "id", textCol = "body")
    assert(clean.columns.toSeq == Seq("id", "body"))
    assert(clean.select("id").collect().map(_.getLong(0)).toSet == Set(4L))
  }

  test("dedupAgainstCorpus: empty corpus keeps everything, empty batch stays empty") {
    import spark.implicits._
    val docs = Seq((1L, "some document text here for the corpus"),
      (2L, "short")).toDF("id", "body")
    val none = Seq.empty[(Long, String)].toDF("id", "body")
    val keptAll = graft.pipeline.CorpusOps.dedupAgainstCorpus(docs, none, "id", "body")
    assert(keptAll.count() == 2)
    val empty = graft.pipeline.CorpusOps.dedupAgainstCorpus(none, docs, "id", "body")
    assert(empty.count() == 0)
  }

  test("bloomDecontaminate drops exactly the overlapping docs, keeps all columns") {
    import spark.implicits._
    val evalSet = Seq("held out benchmark question about gamma rays and dark matter")
      .toDF("body")
    val train = Seq(
      (1, "clean document with its own unique words nothing shared at all", "web"),
      // contains the eval 5-gram "benchmark question about gamma rays"
      (2, "a leaked benchmark question about gamma rays appears here verbatim", "web"),
      (3, "short", "books")) // under gramWidth, trivially clean
      .toDF("id", "body", "src")
    val clean = graft.pipeline.CorpusOps.bloomDecontaminate(
      train, evalSet, idCol = "id", textCol = "body")
    assert(clean.columns.toSeq == Seq("id", "body", "src"))
    assert(clean.select("id").collect().map(_.getInt(0)).toSet == Set(1, 3))
  }

  test("capPerKey keeps the per-key best k, equals the single-window rank, keeps all columns") {
    import spark.implicits._
    val df = (0 until 40).map { i =>
      (i.toLong, s"d${i % 3}", (i * 7) % 40 + 100, s"x$i")
    }.toDF("uid", "domain", "sz", "payload")
    val kept = graft.pipeline.CorpusOps.capPerKey(df, "domain", "sz", k = 4,
      idCol = "uid", salts = 8)
    assert(kept.columns.toSeq == Seq("uid", "domain", "sz", "payload"))
    // oracle: plain single-window rank
    val expect = df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .groupBy(_._2).toSeq.flatMap { case (_, rows) =>
        rows.sortBy(t => (-t._3, t._1)).take(4)
      }.map(_._1).toSet
    assert(kept.collect().map(_.getLong(0)).toSet == expect)
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.capPerKey(df, "domain", "sz", k = 0, idCol = "uid")
    }
  }

  test("dsirWeights: target-like docs score positive, off-target negative, renamed columns") {
    import spark.implicits._
    val docs = Seq(
      (1L, "good", "the quick brown fox jumps over the lazy dog today"),
      (2L, "good", "the quick brown fox naps under the warm sun today"),
      (3L, "bad", "zzz qqq www eee rrr ttt yyy uuu iii ooo"),
      (4L, "bad", "zzz qqq www eee rrr ttt yyy uuu iii ooo"))
      .toDF("did", "kind", "body")
    val w = graft.pipeline.CorpusOps.dsirWeights(docs,
        org.apache.spark.sql.functions.col("kind") === "good", "did", "body")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > 0 && w(2L) > 0, s"target docs must score positive: $w")
    assert(w(3L) < 0 && w(4L) < 0, s"off-target docs must score negative: $w")
    assert(w(3L) == w(4L), "identical docs must score identically")
  }

  test("perplexityBuckets: every scored doc lands in exactly one tercile") {
    import spark.implicits._
    val docs = (0 until 30).map { i =>
      (i.toLong, (0 to i % 7).map(j => s"w${(i + j) % 5}").mkString(" "))
    }.toDF("doc_id", "text")
    val scored = docs.filter(org.apache.spark.sql.functions.expr(
      "size(filter(split(text, ' '), x -> x != '')) >= 2")).count()
    val b = graft.pipeline.CorpusOps.perplexityBuckets(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(b.keySet.subsetOf(Set("head", "middle", "tail")))
    assert(b.values.sum == scored, s"bucket mass ${b.values.sum} != scored docs $scored")
    assert(b.getOrElse("head", 0L) > 0)
  }

  test("subtractIntervals survives renamed-free frames and counts fragments") {
    import spark.implicits._
    val a = Seq((0L, 0L, 100L)).toDF("chrom", "s", "e")
    val b = Seq((0L, 20L, 30L), (0L, 50L, 60L)).toDF("chrom", "s", "e")
    val r = graft.pipeline.CorpusOps.subtractIntervals(a, b).collect()
    assert(r.length == 1)
    // [0,100) minus [20,30)+[50,60) = [0,20)+[30,50)+[60,100): 80 bp, 3 fragments
    assert((r(0).getLong(1), r(0).getLong(2), r(0).getLong(3)) == (100L, 80L, 3L))
  }

  test("mergeIntervals merges touching intervals, bucketed or not") {
    import spark.implicits._
    val iv = Seq((0L, 10L, 20L), (0L, 20L, 30L), (0L, 45L, 50L), (1L, 5L, 6L))
      .toDF("chrom", "s", "e")
    val expect = Set((0L, 10L, 30L, 2L), (0L, 45L, 50L, 1L), (1L, 5L, 6L, 1L))
    def got(bw: Option[Long]) =
      graft.pipeline.CorpusOps.mergeIntervals(iv, bw)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got(None) == expect)
    assert(got(Some(16L)) == expect) // buckets split the [10,30] merge
  }

  test("leakageSafeSplit keeps every near-dup cluster on one side, singletons on their own id") {
    import spark.implicits._
    val docs = (1L to 40L).map(i => (i, s"doc $i")).toDF("id", "body")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("x", "y")
    val out = graft.pipeline.CorpusOps.leakageSafeSplit(docs, pairs, "id")
    assert(out.columns.toSeq == Seq("id", "body", "component", "split"))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    // one split per component — the operator's whole contract
    assert(rows.groupBy(_._2).values.forall(_.map(_._3).distinct.length == 1))
    // chain {1,2,3} collapses to the min label
    assert(rows.filter(r => Set(1L, 2L, 3L)(r._1)).map(_._2).distinct.toSeq == Seq(1L))
    // docs in no pair are their own component
    assert(rows.find(_._1 == 30L).get._2 == 30L)
    // the md5 buckets actually spread: both splits occur over 37 components
    assert(rows.map(_._3).distinct.toSet == Set("train", "val"))
  }

  test("leakageSafeSplit rejects non-integral ids and reserved output columns") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.leakageSafeSplit(
        Seq(("a", "x")).toDF("id", "body"), pairs, "id")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.leakageSafeSplit(
        Seq((1L, "x")).toDF("id", "split"), pairs, "id")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.leakageSafeSplit(
        Seq((1L, "x")).toDF("id", "body"), pairs, "id", buckets = 5, valBuckets = 5)
    }
  }

  test("selectUnderTokenBudget keeps best-score-first until the budget crosses, ties by lowest id") {
    import spark.implicits._
    // scores: 30 > 20 = 20 > 10; token counts: all 3-token docs
    val docs = Seq(
      (4L, "a b c", 30),
      (2L, "d e f", 20),
      (3L, "g h i", 20),
      (1L, "j k l", 10))
      .toDF("doc_id", "text", "score")
    def keptIds(budget: Long): Set[Long] =
      graft.pipeline.CorpusOps.selectUnderTokenBudget(docs, budget, "score")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // order is (30,#4), (20,#2), (20,#3), (10,#1); each doc = 3 tokens.
    // budget 1: doc 4 crosses the budget and is the last kept
    assert(keptIds(1) == Set(4L))
    // budget 4: cum_before of #2 is 3 < 4 -> kept; #3's is 6 -> cut
    assert(keptIds(4) == Set(4L, 2L))
    assert(keptIds(7) == Set(4L, 2L, 3L))
    assert(keptIds(0) == Set.empty)
    assert(keptIds(1000) == Set(4L, 2L, 3L, 1L))
  }

  test("selectUnderTokenBudget matches a naive global-window cut on a larger frame, keeps all columns") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val docs = (1 to 200).map { i =>
      (i.toLong, Seq.fill(1 + i % 7)("w").mkString(" "), (i * 37) % 11, s"src${i % 3}")
    }.toDF("doc_id", "text", "score", "source")
    val budget = 300L
    val got = graft.pipeline.CorpusOps.selectUnderTokenBudget(docs, budget, "score")
    assert(got.columns.toSeq == Seq("doc_id", "text", "score", "source"))
    val naive = docs
      .withColumn("n", size(split(col("text"), " ")).cast("long"))
      .withColumn("cb", sum(col("n")).over(
        Window.orderBy(col("score").desc, col("doc_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("n"))
      .where(col("cb") < budget)
    assert(got.select("doc_id").collect().map(_.getLong(0)).toSet ==
      naive.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("selectUnderTokenBudget validates its arguments") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val docs = Seq((1L, "a b", 5)).toDF("doc_id", "text", "score")
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.selectUnderTokenBudget(docs, -1, "score")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.selectUnderTokenBudget(docs, 10, "nope")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.selectUnderTokenBudget(
        docs.withColumnRenamed("doc_id", "k").withColumn("doc_id", lit("s")), 10, "score")
    }
  }

  test("heavyHitters reports exactly the at-threshold values with exact counts, est >= cnt") {
    import spark.implicits._
    val vals = (Seq.fill(30)("hot") ++ Seq.fill(10)("warm") ++
      (1 to 200).map(i => s"cold$i")).toDF("v")
    val out = graft.pipeline.CorpusOps.heavyHitters(vals, "v", threshold = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.map(r => r._1 -> r._3).toMap == Map("hot" -> 30L, "warm" -> 10L))
    assert(out.forall(r => r._2 >= r._3), "CMS must never under-count")
  }

  test("heavyHitters survives a deliberately tiny sketch: collisions inflate est, never cnt") {
    import spark.implicits._
    // width 8 << 301 distinct values: the screen passes extra candidates
    // (est inflated by collision mass) but exact verification still
    // reports only the true heavy hitter with its true count
    val vals = (Seq.fill(25)("x") ++ (1 to 300).map(i => s"n$i")).toDF("v")
    val out = graft.pipeline.CorpusOps
      .heavyHitters(vals, "v", threshold = 20, depth = 1, width = 8)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(out == Map("x" -> 25L))
  }

  test("heavyHitters validates its arguments") {
    import spark.implicits._
    val vals = Seq("a").toDF("est")
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.heavyHitters(vals, "est", 1)
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.heavyHitters(Seq("a").toDF("v"), "v", 1, depth = 5)
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.heavyHitters(Seq("a").toDF("v"), "missing", 1)
    }
  }

  test("bigramLmNll matches a hand-computed add-one bigram model") {
    import spark.implicits._
    // corpus: V = {a, b, c}; contexts: a->3, b->1; bigrams: (a,b)->3, (b,a)->1
    // P(b|a) = (3+1)/(3+3) = 2/3    -ln = 405465 micro-nats (rounded)
    // P(a|b) = (1+1)/(1+3) = 1/2    -ln = 693147 micro-nats
    val docs = Seq(
      (1, "a b a b"), // bigrams ab, ba, ab -> (405465*2 + 693147) / 3 / 1e6
      (2, "a b"),     // one bigram ab     -> 0.405465
      (3, "c"))       // single token: no bigram, omitted from output
      .toDF("my_id", "body")
    val out = graft.pipeline.CorpusOps.bigramLmNll(docs, "my_id", "body")
    assert(out.columns.toSeq == Seq("my_id", "n_bigrams", "nll"))
    val rows = out.collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1, 3L, 0.501359), (2, 1L, 0.405465)))
  }

  test("bigramLmNll tolerates null/empty text and validates arguments") {
    import spark.implicits._
    val docs = Seq((1, Option("x y")), (2, Option.empty[String]), (3, Option("")))
      .toDF("my_id", "body")
    // nulls and empties produce no bigram, and the empty-string token
    // ('' from splitting "") is excluded from the vocabulary; the x->y
    // doc scores alone: V = {x, y} = 2, P(y|x) = (1+1)/(1+2) = 2/3
    val rows = graft.pipeline.CorpusOps.bigramLmNll(docs, "my_id", "body")
      .collect().map(r => (r.getInt(0), r.getDouble(2)))
    assert(rows.toSeq == Seq((1, 0.405465)))
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.bigramLmNll(docs, "missing", "body")
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.CorpusOps.bigramLmNll(
        docs.withColumnRenamed("my_id", "nll"), "nll", "body")
    }
    // empty input: correct schema, zero rows
    val empty = graft.pipeline.CorpusOps.bigramLmNll(
      docs.where("my_id < 0"), "my_id", "body")
    assert(empty.columns.toSeq == Seq("my_id", "n_bigrams", "nll") && empty.count() == 0)
  }

  test("noveltyCurve: first doc fully novel, exact copy fully stale, renamed columns") {
    import spark.implicits._
    val docs = Seq(
      (10L, "a b c d e f"),
      (11L, "a b c d e f"),          // exact copy: zero novelty
      (12L, "x y z w v u"),          // disjoint: fully novel
      (13L, "a b c x y z q q q")     // mix of seen and new grams
    ).toDF("my_id", "body")
    val out = graft.pipeline.CorpusOps.noveltyCurve(docs, idCol = "my_id", textCol = "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(10L)._1 == 4 && out(10L)._2 == 4)  // 4 trigrams, all first-seen
    assert(out(11L)._2 == 0)                      // copy: nothing novel
    assert(out(12L)._1 == 4 && out(12L)._2 == 4)
    assert(out(13L)._2 > 0 && out(13L)._2 < out(13L)._1) // mixed
  }

  test("dupSourceMatrix: pairs lift to unordered source cells") {
    import spark.implicits._
    val docs = Seq(
      (1L, "crawlA"), (2L, "crawlB"), (3L, "crawlA"), (4L, "crawlB"))
      .toDF("my_id", "feed")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L)).toDF("x", "y")
    val out = graft.pipeline.CorpusOps.dupSourceMatrix(docs, pairs,
        idCol = "my_id", keyCol = "feed")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // (1,2)=A-B, (2,3)=A-B, (1,3)=A-A, (2,4)=B-B — orientation normalized
    assert(out(("crawlA", "crawlB")) == 2)
    assert(out(("crawlA", "crawlA")) == 1)
    assert(out(("crawlB", "crawlB")) == 1)
  }
}
