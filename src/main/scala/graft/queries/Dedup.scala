package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{CorpusOps, Exec}

/** Deduplication operators for a training-data pipeline, designed for
  * 100 TB:
  *
  *  - exact:   one groupBy on a content hash — single shuffle, partial
  *             aggregation map-side.
  *  - MinHash+LSH: per-doc band keys come from one per-row kernel
  *             (no shuffle); banding turns the O(n^2) pair space into
  *             per-bucket joins, and only LSH candidates are verified
  *             exactly. This is the scale path.
  *  - SimHash: per-doc 32-bit sketch via higher-order functions (no
  *             shuffle at all until the pair join).
  *  - n-gram Jaccard (exhaustive) and embedding cosine: exact quadratic
  *             baselines, deliberately restricted to bounded subsets —
  *             at scale these exist to verify the sketch paths on
  *             samples, not to run on the full corpus.
  *
  * Oracle discipline: thresholds are integer comparisons
  * (5*inter >= 4*union, i.e. J >= 0.8) so no float boundary can flip a
  * row between engines. The LSH oracle is the exhaustive pair set: with
  * r=2,b=16 bands the miss probability at the observed J>=0.98 dup pairs
  * is ~1e-24, so LSH-candidates-then-verify equals the exhaustive answer.
  */
object Dedup {
  import Q.t

  /** 32-bit SimHash per doc via the native kernel (codegen'd; the
    * nested-HOF formulation costs ~17x interpreted). */
  private def simhashed(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    Exec.spread(t(s, dir, "documents"), "doc_id")
      .select(col("doc_id"),
        expr("graft_simhash32(array_distinct(split(text, ' ')))").as("simhash"))
  }

  /** The verified near-dup pairs of the documents table
    * ([[CorpusOps.nearDupPairs]]) — the shared input of
    * dedup_minhash_lsh / dedup_filtered_corpus / dedup_components and
    * their kin. The scan is spread first: shingling and signature
    * hashing run IN the scan stage, and the testdata's single-file
    * table would pin all of it to one task (Exec.spread is a no-op on
    * an already-wide corpus). */
  private[queries] def lshVerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.registerAll(s)
    CorpusOps.nearDupPairs(Exec.spread(t(s, dir, "documents"), "doc_id"))
  }

  /** The persisted corpus-side dedup index, materialized once: shingle
    * sets, banded LSH buckets, and content hashes — what an incremental
    * (batch or streaming) delta probes against. */
  private[graft] def corpusDedupIndex(corpus: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // spread: shingling and band hashing run in the corpus scan stage
    val c = Exec.spread(corpus, "doc_id")
    val sets = CorpusOps.withBands(CorpusOps.shingleSets(c)).transform(Exec.barrier)
    val buckets = sets.select(col("doc_id"), explode(col("bands")).as("bb"))
      .transform(Exec.barrier)
    val hashes = corpus
      .select(col("doc_id"), md5(col("text").cast("binary")).as("mh"))
      .transform(Exec.barrier)
    (sets, buckets, hashes)
  }

  /** Oracle for the %10=7 batch-vs-corpus split — exhaustive cross-set
    * pair scan; shared by dedup_incremental and stream_dedup_incremental
    * (same answer, batch vs streaming execution). Lazy: ShingleCteSql is
    * declared further down this object. */
  private[graft] lazy val IncrementalOracleSql: String = s"""WITH $ShingleCteSql,
        nearp AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
          FROM sh b JOIN sh c ON b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7
            AND 5 * len(list_intersect(b.sh, c.sh)) >= 4 * (len(b.sh) + len(c.sh) - len(list_intersect(b.sh, c.sh)))),
        exactp AS (SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
          FROM documents b JOIN documents c
            ON b.doc_id % 10 = 7 AND c.doc_id % 10 <> 7 AND md5(b.text) = md5(c.text))
        SELECT batch_id, min(corpus_id) AS dup_of
        FROM (SELECT * FROM nearp UNION ALL SELECT * FROM exactp)
        GROUP BY batch_id ORDER BY batch_id"""

  private val ShingleCteSql =
    """sh AS (
         SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                       for i in range(1, len(w) - 1)]) AS sh
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         WHERE len(w) >= 3)"""

  val qs: Map[String, Q] = Map(

    // ---- exact dedup: hash-groupBy (one shuffle; scales linearly) ----
    "dedup_exact" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(md5(col("text").cast("binary"))).as("n_unique"))
          .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique
        FROM documents GROUP BY source ORDER BY source""")),

    // ---- n-gram (trigram) Jaccard on a bounded subset ----
    // Inverted-index shape: explode shingles, equi-join on the shingle,
    // count co-occurrences — pairs sharing nothing never materialize
    // (they can't pass the threshold), and the join is a plain shuffle
    // hash join instead of a quadratic array_intersect nested loop.
    "dedup_ngram_jaccard" -> Q(
      (s, dir) => {
        // Row-level distinct instead of array_distinct-then-explode: the
        // HOF array pipeline is CodegenFallback, and evaluating it under
        // Generate measured ~12x slower than exploding raw shingles and
        // deduping (doc_id, shingle) rows — which shuffles the same data
        // the posting join shuffles anyway.
        val posting = t(s, dir, "documents")
          .where(col("doc_id") < 300)
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("shingle"))
          .distinct()
          .transform(Exec.barrier) // 3 consumers: both join sides + sizes
        val sizes = posting.groupBy("doc_id").agg(count(lit(1)).cast("int").as("sz"))
        val inter = posting.as("pa").join(posting.as("pb"),
            col("pa.shingle") === col("pb.shingle") && col("pa.doc_id") < col("pb.doc_id"))
          .groupBy(col("pa.doc_id").as("id_a"), col("pb.doc_id").as("id_b"))
          .agg(count(lit(1)).cast("int").as("inter"))
        inter
          .join(broadcast(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a"))), "id_a")
          .join(broadcast(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b"))), "id_b")
          .select(col("id_a"), col("id_b"), col("inter"),
            (col("sz_a") + col("sz_b") - col("inter")).as("uni"))
          .where(col("inter") * 2 >= col("uni")) // J >= 0.5, integer-exact
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $ShingleCteSql
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS inter,
          CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INTEGER) AS uni
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE a.doc_id < 300 AND b.doc_id < 300
          AND 2 * len(list_intersect(a.sh, b.sh)) >= len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
        ORDER BY id_a, id_b""")),

    // ---- n-gram CONTAINMENT: the near-superset detector ----
    // Jaccard misses asymmetric duplication: a doc fully lifted into a
    // 10x longer one has J ~ 0.1 but containment ~ 1.0 (Broder's
    // resemblance-vs-containment distinction). Same bounded posting-join
    // shape as dedup_ngram_jaccard — shared-shingle candidates, integer
    // intersection counts — but thresholded on inter / min(|A|, |B|)
    // (the larger of the two directed containments), integer-exact via
    // cross-multiplication. At corpus scale the posting join inherits
    // the jaccard entry's bound: frequent-shingle postings are the skew
    // risk and would be capped upstream (see SCALE.md).
    "dedup_containment" -> Q(
      (s, dir) => CorpusOps.containmentPairs(
          t(s, dir, "documents").where(col("doc_id") < 300), minPct = 90)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $ShingleCteSql
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS inter,
          CAST(len(a.sh) AS INTEGER) AS sz_a, CAST(len(b.sh) AS INTEGER) AS sz_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE a.doc_id < 300 AND b.doc_id < 300
          AND 10 * len(list_intersect(a.sh, b.sh)) >= 9 * least(len(a.sh), len(b.sh))
        ORDER BY id_a, id_b""")),

    // ---- edit-distance verification of candidate pairs ----
    // Shingle sketches nominate, the exact string metric confirms —
    // dist <= 20% of the longer doc. Both Spark-side prunes (length
    // gap, banded DP) are lossless, so the oracle is the plain metric
    // over the same candidate set.
    "dedup_edit_verify" -> Q(
      (s, dir) => CorpusOps.editDistancePairs(
          t(s, dir, "documents").where(col("doc_id") < 300))
        .orderBy("id_a", "id_b"),
      Some("""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        post AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in range(1, len(w) - 1)])) AS shingle
                 FROM (SELECT doc_id, string_split(text, ' ') AS w FROM d)
                 WHERE len(w) >= 3),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM post a JOIN post b ON a.shingle = b.shingle AND a.doc_id < b.doc_id)
        SELECT c.id_a, c.id_b,
          CAST(levenshtein(da.text, db.text) AS INTEGER) AS dist,
          CAST(greatest(len(da.text), len(db.text)) AS INTEGER) AS len_max
        FROM cand c
        JOIN d da ON da.doc_id = c.id_a
        JOIN d db ON db.doc_id = c.id_b
        WHERE 5 * levenshtein(da.text, db.text) <= greatest(len(da.text), len(db.text))
        ORDER BY id_a, id_b""")),

    // ---- cross-source duplication matrix: WHERE the near-dups come
    // from. Verified LSH pairs lifted to (source, source) cells — the
    // audit that distinguishes a feed mirroring another feed from
    // within-source boilerplate. Pair frame is dedup-bounded, the two
    // source lookups are joins against the slim (doc_id, source)
    // projection, the cell matrix is at most |sources|². Oracle =
    // exact J >= 0.8 all-pairs lifted the same way (the verify step
    // makes the LSH path exact; same equivalence the minhash entry
    // rests on).
    "dedup_source_matrix" -> Q(
      (s, dir) => CorpusOps.dupSourceMatrix(t(s, dir, "documents"),
        lshVerifiedPairs(s, dir).select("id_a", "id_b"), "doc_id", "source"),
      Some(s"""WITH $ShingleCteSql,
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          AND 5 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
        m AS (SELECT least(da.source, db.source) AS src_a,
                     greatest(da.source, db.source) AS src_b
              FROM pairs
              JOIN documents da ON da.doc_id = pairs.id_a
              JOIN documents db ON db.doc_id = pairs.id_b)
        SELECT src_a, src_b, count(*) AS n_pairs
        FROM m GROUP BY src_a, src_b ORDER BY src_a, src_b""")),

    // ---- LSH banding calibration (the sizing companion to the entry
    // below): the S-curve P(candidate | Jaccard=s) = 1-(1-s^r)^b for
    // every way to split the 32-permutation signature into (bands,
    // rows) = (32,1)/(16,2)/(8,4)/(4,8), plus each config's s50 (the
    // Jaccard where collision probability crosses 1/2, ~(1/b)^(1/r)).
    // This is how a practitioner picks banding for a target dup
    // threshold BEFORE paying for a corpus pass — the gate's own
    // r=2,b=16 choice (header comment) reads straight off this table.
    // Pure closed-form math (no corpus input), so the oracle replays
    // the identical formula.
    "dedup_lsh_calibration" -> Q(
      (s, _) => {
        import s.implicits._
        val cfg = Seq((32, 1), (16, 2), (8, 4), (4, 8))
          .toDF("bands", "rows_per_band")
        // cast first: a bare id/20.0 is DECIMAL division in Spark but
        // DOUBLE in DuckDB — the value matches, the dtype would not
        s.range(1, 20).selectExpr("cast(id as double) / 20.0 AS s")
          .crossJoin(cfg)
          .selectExpr("bands", "rows_per_band", "s",
            "round(1 - pow(1 - pow(s, rows_per_band), bands), 6) AS p_candidate",
            "round(pow(1 - pow(0.5, 1.0 / bands), 1.0 / rows_per_band), 6) AS s50")
          .orderBy(col("bands").desc, col("s"))
      },
      Some("""WITH cfg(bands, rows_per_band) AS (VALUES (32, 1), (16, 2), (8, 4), (4, 8)),
        g AS (SELECT i / 20.0 AS s FROM range(1, 20) t(i))
        SELECT bands, rows_per_band, s,
          round(1 - pow(1 - pow(s, rows_per_band), bands), 6) AS p_candidate,
          round(pow(1 - pow(0.5, 1.0 / bands), 1.0 / rows_per_band), 6) AS s50
        FROM cfg CROSS JOIN g ORDER BY bands DESC, s""")),

    // ---- MinHash + LSH banding, exact-verify candidates (scale path) ----
    "dedup_minhash_lsh" -> Q(
      (s, dir) => lshVerifiedPairs(s, dir).orderBy("id_a", "id_b"),
      Some(s"""WITH $ShingleCteSql
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.sh, b.sh)) AS INTEGER) AS inter,
          CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INTEGER) AS uni
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE 5 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        ORDER BY id_a, id_b""")),

    // ---- dedup as a corpus filter: drop the higher id of each J>=0.8
    //      pair found by MinHash+LSH (keep-lowest policy) ----
    "dedup_filtered_corpus" -> Q(
      (s, dir) => {
        val dropIds = lshVerifiedPairs(s, dir)
          .select(col("id_b").as("doc_id")).distinct()
        t(s, dir, "documents")
          .join(dropIds, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_checksum"))
      },
      Some(s"""WITH $ShingleCteSql,
        drops AS (SELECT DISTINCT b.doc_id
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE 5 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))))
        SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM drops)""")),

    // ---- near-dup clusters: connected components over the J>=0.8
    //      pair graph (iterative min-label propagation; converges in
    //      O(component diameter) joins, each a plain shuffle — the
    //      standard distributed CC shape). Oracle: recursive CTE
    //      computing min reachable id per node. ----
    "dedup_components" -> Q(
      (s, dir) => {
        val pairs = lshVerifiedPairs(s, dir).select("id_a", "id_b")
        CorpusOps.connectedComponents(pairs)
          .select(col("node").as("doc_id"), col("label").as("component"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $ShingleCteSql,
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE 5 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node)
        SELECT node AS doc_id, min(label) AS component
        FROM reach GROUP BY node ORDER BY doc_id""")),

    // ---- cluster-size audit over the near-dup components ----
    // The report a dedup run ships with: how much mass sits in clusters
    // of each size (a fat tail = boilerplate/template explosion worth a
    // targeted rule; all-pairs = something degenerate upstream). Sizes
    // and the histogram are two tiny keyed aggs over the pair-bounded
    // component frame — audit cost is independent of corpus size.
    "dedup_cluster_stats" -> Q(
      (s, dir) => {
        val pairs = lshVerifiedPairs(s, dir).select("id_a", "id_b")
        CorpusOps.connectedComponents(pairs)
          .groupBy(col("label")).agg(count(lit(1)).cast("int").as("cluster_size"))
          .groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("label")).as("label_checksum"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE $ShingleCteSql,
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE 5 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node),
        sz AS (SELECT component, CAST(count(*) AS INTEGER) AS cluster_size
               FROM comp GROUP BY component)
        SELECT cluster_size, count(*) AS n_clusters,
          CAST(sum(component) AS BIGINT) AS label_checksum
        FROM sz GROUP BY cluster_size ORDER BY cluster_size""")),

    // ---- SimHash sketch + Hamming near-dup pairs ----
    // 32-bit token hash from md5 hex so the oracle computes the identical
    // sketch: Spark conv(hex,16,10) == DuckDB CAST('0x'||hex AS BIGINT).
    "dedup_simhash" -> Q(
      (s, dir) => simhashed(s, dir).orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id,
          [CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) for tok in list_distinct(string_split(text, ' '))] AS hs
          FROM documents)
        SELECT doc_id,
          CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END for h in hs]) >= 0
                         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
                    for j in range(0, 32)]) AS BIGINT) AS simhash
        FROM d ORDER BY doc_id""")),

    "dedup_simhash_pairs" -> Q(
      (s, dir) => {
        val sh = simhashed(s, dir).where(col("doc_id") < 300)
        val a = sh.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
        val b = sh.select(col("doc_id").as("id_b"), col("simhash").as("hb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(expr("ha ^ hb")).as("dist"))
          .where(col("dist") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH d AS (SELECT doc_id,
          [CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) for tok in list_distinct(string_split(text, ' '))] AS hs
          FROM documents WHERE doc_id < 300),
        s AS (SELECT doc_id,
          list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END for h in hs]) >= 0
                         THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
                    for j in range(0, 32)]) AS simhash
          FROM d)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS dist
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        ORDER BY id_a, id_b""")),

    // ---- embedding-cosine near-dup pairs (double arithmetic, rounded) ----
    "dedup_embedding_cosine" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        val e = t(s, dir, "embeddings")
          .where(col("vec_id") < 300)
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
        val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
        val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
        a.join(b, col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            expr("round(graft_cosine_sim(va, vb), 6)").as("cos"))
          .where(col("cos") >= 0.4)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
          FROM embeddings WHERE vec_id < 300)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
                / (sqrt(list_sum([x * x for x in a.v])) * sqrt(list_sum([x * x for x in b.v]))), 6) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_sum([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)])
                / (sqrt(list_sum([x * x for x in a.v])) * sqrt(list_sum([x * x for x in b.v]))), 6) >= 0.4
        ORDER BY id_a, id_b""")),

    // ---- SemDeDup: k-means partition, then within-cluster cosine ----
    // (core: CorpusOps.semanticDropped, shared with
    // CorpusOps.semanticDedup)
    // Whole-corpus pairwise cosine is O(n^2) and dies at scale;
    // SemDeDup (Abbas et al., arXiv:2303.09540) bounds the pair space
    // by clustering embeddings first and comparing only within a
    // cluster. Reuses the deterministic 2-round Lloyd shared with
    // ann_kmeans_ivf (VectorOps.kmeansAssigned — map-only assignment
    // against one broadcast centroid row). The pair join keys on cid: a
    // hash shuffle on cluster id, pair count sum(|cell|^2) ~= n^2/k for
    // balanced cells; at 100 TB k scales as n / target-cell-size so
    // per-cell work stays constant and no all-pairs path exists.
    // Drop policy (greedy by id, the SemDeDup "keep one exemplar per
    // eps-ball" approximation): a vector is dropped when a lower-id
    // vector in its cell has cosine >= the threshold.
    "dedup_semantic" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
        CorpusOps.semanticDropped(e).orderBy("dropped_id")
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
        p AS (SELECT b.vec_id AS id_b, b.cid,
                round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)])
                      / (sqrt(list_sum([x * x for x in a.v])) * sqrt(list_sum([x * x for x in b.v]))), 6) AS cos
              FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id)
        SELECT id_b AS dropped_id, cid, count(*) AS n_dups, max(cos) AS max_cos
        FROM p WHERE cos >= 0.4
        GROUP BY id_b, cid ORDER BY dropped_id""")),

    // ---- SemDeDup with 2-probe assignment (boundary-miss recall) ----
    // Single-assignment SemDeDup misses pairs straddling a cell
    // boundary; assigning each vector to its 2 nearest cells catches a
    // pair in a shared second-choice cell. Measured at gate scale:
    // recall vs the exhaustive cos>=0.4 pair set rises 24/59 -> 49/59
    // for a 3.7x (still n^2/k-bounded) pair space — the knob trades
    // bounded compute for recall, never an all-pairs path.
    "dedup_semantic_probe2" -> Q(
      (s, dir) => {
        val e = t(s, dir, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
        CorpusOps.semanticDropped(e, probes = 2).orderBy("dropped_id")
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
               WHERE rn <= 2),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, min(b.cid) AS cid,
                max(round(list_sum([a.v[i] * b.v[i] for i in range(1, 65)])
                      / (sqrt(list_sum([x * x for x in a.v])) * sqrt(list_sum([x * x for x in b.v]))), 6)) AS cos
              FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
              GROUP BY a.vec_id, b.vec_id)
        SELECT id_b AS dropped_id, min(cid) AS cid, count(*) AS n_dups, max(cos) AS max_cos
        FROM p WHERE cos >= 0.4
        GROUP BY id_b ORDER BY dropped_id""")),

    // ---- segment-level duplication stats (the dup_line_frac signal) ----
    // Whole-doc dedup misses boilerplate repeated INSIDE otherwise-unique
    // documents (headers, navboxes, license blurbs) — the standard
    // curation signal is the fraction of a doc's lines duplicated
    // elsewhere in the corpus (RefinedWeb/CCNet's dup_line_frac). The
    // synthetic corpus has no newlines, so "lines" are fixed 10-word
    // segments. Shape: explode segments, ONE groupBy (hash, source) that
    // collapses the corpus to distinct (segment, source) counts, then a
    // hash-partitioned window to get corpus-wide occurrence — the second
    // shuffle moves only distinct segment hashes, not the corpus. At
    // 100 TB both shuffles are keyed by content hash: uniform,
    // AQE-splittable, no pair space anywhere.
    "dedup_segment_stats" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        t(s, dir, "documents")
          .where(length(col("text")) > 0)
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"), col("source"), col("w"),
            explode(expr("sequence(0, size(w) - 1, 10)")).as("i"))
          .selectExpr("doc_id", "source",
            "md5(concat_ws(' ', slice(w, i + 1, 10))) AS h")
          .groupBy("h", "source")
          .agg(count(lit(1)).as("n_hs"), sum(col("doc_id")).as("id_sum"))
          .withColumn("n_occ", sum(col("n_hs")).over(Window.partitionBy("h")))
          .groupBy("source")
          .agg(sum(col("n_hs")).as("n_segs"),
            sum(when(col("n_occ") > 1, col("n_hs")).otherwise(0L)).as("n_dup_segs"),
            sum(col("id_sum")).as("id_checksum"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
          FROM documents WHERE length(text) > 0),
        c AS (SELECT doc_id, source, w, unnest(range(0, len(w), 10)) AS i FROM d),
        s AS (SELECT doc_id, source,
            md5(array_to_string(w[i + 1 : least(i + 10, len(w))], ' ')) AS h
          FROM c),
        g AS (SELECT h, source, count(*) AS n_hs, sum(doc_id) AS id_sum
          FROM s GROUP BY h, source),
        t AS (SELECT h, source, n_hs, id_sum,
            sum(n_hs) OVER (PARTITION BY h) AS n_occ FROM g)
        SELECT source, CAST(sum(n_hs) AS BIGINT) AS n_segs,
          CAST(sum(CASE WHEN n_occ > 1 THEN n_hs ELSE 0 END) AS BIGINT) AS n_dup_segs,
          CAST(sum(id_sum) AS BIGINT) AS id_checksum
        FROM t GROUP BY source ORDER BY source""")),

    // ---- span-level dedup REMOVAL (ExactSubstr-style rewrite) ----
    // dedup_segment_stats only measures intra-doc duplication; this
    // entry acts on it — the Lee et al. ("Deduplicating Training Data
    // Makes Language Models Better", arXiv:2107.06499) policy at
    // segment granularity: every 10-word segment keeps exactly its
    // FIRST corpus-wide occurrence (min (doc_id, position)), later
    // occurrences are cut and each document's text is rebuilt from its
    // surviving segments in order. Shape at 100 TB: a row_number window
    // keyed by segment content (uniform hash-like key, AQE-splittable)
    // + a per-doc groupBy to reassemble — two keyed shuffles, no pair
    // space; the reassembly buffer is bounded by one document's length.
    "dedup_span_removal" -> Q(
      (s, dir) => CorpusOps.removeDuplicateSpans(t(s, dir, "documents")).orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
          FROM documents WHERE length(text) > 0),
        c AS (SELECT doc_id, w, unnest(range(0, len(w), 10)) AS i FROM d),
        s AS (SELECT doc_id, i,
                array_to_string(w[i + 1 : least(i + 10, len(w))], ' ') AS seg
              FROM c),
        r AS (SELECT *, row_number() OVER (PARTITION BY seg ORDER BY doc_id, i) AS rn FROM s),
        tot AS (SELECT doc_id, count(*) AS n_segs FROM s GROUP BY doc_id),
        k AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(seg, ' ' ORDER BY i) AS text_clean
              FROM r WHERE rn = 1 GROUP BY doc_id)
        SELECT t.doc_id, t.n_segs, coalesce(k.n_kept, 0) AS n_kept,
          coalesce(k.text_clean, '') AS text_clean
        FROM tot t LEFT JOIN k USING (doc_id) ORDER BY t.doc_id""")),

    // ---- winnowing fingerprints (local document fingerprinting) ----
    // The MOSS-family member of the dedup toolbox (Schleimer/Wilkerson/
    // Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    // SIGMOD 2003 — public): hash every word 4-gram, then keep the MIN
    // hash of each sliding window of 4 — any shared run of >= 7 words
    // between two docs GUARANTEES a shared fingerprint (the local
    // guarantee MinHash doesn't give: MinHash bounds the MISS
    // PROBABILITY of whole-doc similarity; winnowing detects bounded
    // LOCAL overlap deterministically, e.g. a paragraph lifted into an
    // otherwise different document). Everything per-row until the
    // posting join: gram hashes and window mins fold inside one
    // projection, the inverted-index self-join shuffles only distinct
    // (doc, fingerprint) rows, skewed hot fingerprints split by AQE —
    // word-count shape, scales like dedup_ngram_jaccard's posting join.
    // Hash = first 15 md5 hex chars (60 bits) via the established
    // conv/0x identity so DuckDB computes identical fingerprints.
    "dedup_winnowing" -> Q(
      // minShared = 2 here (noise rejection over the synthetic corpus's
      // common phrases); the guarantee-preserving default is 1 — see
      // winnowingPairs
      (s, dir) => CorpusOps.winnowingPairs(t(s, dir, "documents"), minShared = 2)
        .orderBy("id_a", "id_b"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id,
            [CAST(('0x' || substr(md5(array_to_string(w[i : i+3], ' ')), 1, 15)) AS BIGINT)
             for i in range(1, len(w) - 2)] AS hs
          FROM d WHERE len(w) >= 7),
        f AS (SELECT doc_id,
            list_distinct([list_min(hs[j : j+3]) for j in range(1, len(hs) - 2)]) AS fps
          FROM g),
        p AS (SELECT doc_id, unnest(fps) AS fp FROM f)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS INTEGER) AS n_shared
        FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY id_a, id_b""")),

    // ---- incremental dedup: a new batch probed against the corpus ----
    // The production shape full-corpus dedup can't give you: a daily
    // crawl delta is deduped AGAINST the existing corpus, not within
    // itself. The corpus's banded-MinHash buckets are the LSH index (at
    // scale: computed once, persisted, reused every batch — here rebuilt
    // because the gate is stateless); the batch's buckets are tiny and
    // BROADCAST onto it, so the corpus stream is never reshuffled by the
    // probe, and cost per batch is O(|corpus| map + |batch| index work).
    // Exact dups are caught by a content-hash join on the same
    // broadcast-batch shape (also covers docs too short to shingle);
    // near-dups by band collision + exact Jaccard verify at J >= 0.8.
    // Emits each contaminated batch doc with its lowest-id corpus match.
    "dedup_incremental" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val isBatch = col("doc_id") % 10 === 7 // deterministic 10% "delta"
        CorpusOps.incrementalDupMatches(docs.where(isBatch), docs.where(!isBatch))
          .orderBy("batch_id")
      },
      Some(IncrementalOracleSql)),

    // ---- leakage-safe train/val split ----
    // Eval leakage through near-duplicates: a random PER-DOCUMENT split
    // puts one copy of a near-dup pair in train and its twin in val, and
    // the held-out benchmark silently measures memorization. The split
    // unit must be the near-dup CLUSTER: every doc in a connected
    // component inherits the component label's deterministic md5 bucket,
    // so near-duplicates can never straddle the split (and the split is
    // a pure function of content — stable across runs, engines, and
    // retries, unlike rand()). Reuses the LSH-verified pair graph and
    // pointer-doubling components (both already the shapes that scale);
    // the component frame is pair-bounded — tiny next to the corpus —
    // and BROADCAST onto the doc table. Singletons fall through the
    // left join and split on their own id, keeping one code path.
    "pipe_leakage_safe_split" -> Q(
      (s, dir) => CorpusOps.leakageSafeSplit(
        t(s, dir, "documents").select(col("doc_id")),
        lshVerifiedPairs(s, dir).select("id_a", "id_b"),
        idCol = "doc_id", buckets = 10, valBuckets = 2)
        .orderBy("doc_id"),
      Some(s"""WITH RECURSIVE $ShingleCteSql,
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE 5 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        comp AS (SELECT node, min(label) AS component FROM reach GROUP BY node)
        SELECT d.doc_id,
          coalesce(c.component, d.doc_id) AS component,
          CASE WHEN CAST(('0x' || substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8
               THEN 'train' ELSE 'val' END AS split
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
        ORDER BY d.doc_id""")),

    // ---- UMI directional dedup (the UMI-tools network core) ----
    // Sequencing UMIs accumulate 1-mismatch PCR/sequencing errors; the
    // directional rule merges umi a into neighbor b when
    // n(b) >= 2*n(a) - 1. The Hamming-1 edge discovery is the scale
    // trick: each UMI explodes into L masked keys (one position
    // wildcarded), so neighbors meet through a masked-key EQUI-join —
    // O(reads·L) keys, never a pairwise Hamming scan. Fixture: 8 true
    // UMIs over paired base-4 digits (pairwise Hamming >= 2 by
    // construction) with two planted 1-off errors each; the oracle
    // states the merged groups closed-form.
    "dedup_umi" -> Q(
      (s, _) => {
        // true UMI t: digits (2*bit0, 2*bit1, 2*bit2), each doubled ->
        // 6 chars over {0,2}; errors flip position 0 or 2 to '1'
        val parents = s.range(8).selectExpr(
          "concat(repeat(cast((id % 2) * 2 as string), 2), " +
            "repeat(cast(((id div 2) % 2) * 2 as string), 2), " +
            "repeat(cast(((id div 4) % 2) * 2 as string), 2)) AS umi",
          "100 + id AS n")
        val errs = s.range(8).selectExpr(
            "concat('1', repeat(cast((id % 2) * 2 as string), 1), " +
              "repeat(cast(((id div 2) % 2) * 2 as string), 2), " +
              "repeat(cast(((id div 4) % 2) * 2 as string), 2)) AS umi",
            "1 + id % 3 AS n")
          .union(s.range(8).selectExpr(
            "concat(repeat(cast((id % 2) * 2 as string), 2), '1', " +
              "repeat(cast(((id div 2) % 2) * 2 as string), 1), " +
              "repeat(cast(((id div 4) % 2) * 2 as string), 2)) AS umi",
            "2L AS n"))
        val umis = parents.union(errs)
        val masked = umis.selectExpr("umi", "n",
            "explode(transform(sequence(1, length(umi)), j -> " +
              "concat(substring(umi, 1, j - 1), '*', substring(umi, j + 1)))) AS mk")
        val edges = masked.alias("a").join(masked.alias("b"),
            org.apache.spark.sql.functions.col("a.mk") === org.apache.spark.sql.functions.col("b.mk") &&
              org.apache.spark.sql.functions.col("a.umi") =!= org.apache.spark.sql.functions.col("b.umi"))
          .selectExpr("a.umi AS umi", "a.n AS n", "b.umi AS nb", "b.n AS nb_n")
        val adopted = umis.alias("u")
          .join(edges.where("nb_n >= 2 * n - 1"), Seq("umi", "n"), "left")
          .groupBy(col("umi"), col("n"))
          .agg(max(when(col("nb").isNotNull, struct(col("nb_n"), col("nb")))).as("best"))
          .selectExpr("umi", "n", "coalesce(best.nb, umi) AS parent")
        adopted.groupBy(col("parent"))
          .agg(count(lit(1)).cast("long").as("n_members"), sum(col("n")).as("n_reads"))
          .orderBy("parent")
      },
      Some("""WITH g AS (SELECT t,
            repeat(CAST((t % 2) * 2 AS VARCHAR), 2) ||
            repeat(CAST(((t // 2) % 2) * 2 AS VARCHAR), 2) ||
            repeat(CAST(((t // 4) % 2) * 2 AS VARCHAR), 2) AS umi
          FROM range(0, 8) x(t))
        SELECT umi AS parent, CAST(3 AS BIGINT) AS n_members,
          CAST(100 + t + (1 + t % 3) + 2 AS BIGINT) AS n_reads
        FROM g ORDER BY parent""")),

    // ---- method-agreement audit: MinHash J>=0.8 vs SimHash dist<=3 ----
    // The calibration question every dedup deployment answers before
    // trusting a cheaper sketch: how much of the shingle-Jaccard pair
    // set does the 32-bit SimHash Hamming screen recover, and what does
    // it add? Both pair sets are computed on the same bounded audit
    // slice (doc_id < 300 — the dedup_simhash_pairs convention, since
    // the SimHash side is an all-pairs oracle shape), full-outer-joined
    // on the pair key, and collapsed to one agreement row: pair counts,
    // the intersection, and pair-set Jaccard in micro units. At 100 TB
    // the same audit runs on a SAMPLED slice by construction — the
    // slice predicate is the only corpus-sized touch. Denominator
    // guarded with greatest(_, 1): an empty union must yield 0, not a
    // divide-by-zero abort under ANSI.
    "dedup_method_agreement" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        val docs = t(s, dir, "documents").where(col("doc_id") < 300)
        val mh = CorpusOps.nearDupPairs(docs)
          .select(col("id_a"), col("id_b"), lit(1L).as("in_mh"))
        val sims = docs.select(col("doc_id"),
          expr("graft_simhash32(array_distinct(split(text, ' ')))").as("simhash"))
        val sp = sims.select(col("doc_id").as("id_a"), col("simhash").as("ha"))
          .join(sims.select(col("doc_id").as("id_b"), col("simhash").as("hb")),
            col("id_a") < col("id_b"))
          .where(bit_count(expr("ha ^ hb")) <= 3)
          .select(col("id_a"), col("id_b"), lit(1L).as("in_sh"))
        mh.join(sp, Seq("id_a", "id_b"), "full_outer")
          .agg(sum(coalesce(col("in_mh"), lit(0L))).as("n_minhash"),
            sum(coalesce(col("in_sh"), lit(0L))).as("n_simhash"),
            sum(coalesce(col("in_mh"), lit(0L)) *
              coalesce(col("in_sh"), lit(0L))).as("n_both"))
          .selectExpr("n_minhash", "n_simhash", "n_both",
            """1000000 * n_both
               div greatest(n_minhash + n_simhash - n_both, 1) AS agree_micro""")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
          FROM documents WHERE doc_id < 300),
        sh AS (SELECT doc_id,
            list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           for i in range(1, len(w) - 1)]) AS sh
          FROM w WHERE len(w) >= 3),
        mh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE 5 * len(list_intersect(a.sh, b.sh))
            >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
        d AS (SELECT doc_id,
            [CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
             for tok in list_distinct(string_split(text, ' '))] AS hs
          FROM documents WHERE doc_id < 300),
        si AS (SELECT doc_id,
            list_sum([CASE WHEN list_sum([CASE WHEN (h >> j) & 1 = 1
                        THEN 1 ELSE -1 END for h in hs]) >= 0
                      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
                 for j in range(0, 32)]) AS simhash
          FROM d),
        sp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM si a JOIN si b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
        u AS (SELECT
            CASE WHEN m.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_mh,
            CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_sh
          FROM mh m FULL OUTER JOIN sp p
            ON m.id_a = p.id_a AND m.id_b = p.id_b)
        SELECT CAST(sum(in_mh) AS BIGINT) AS n_minhash,
          CAST(sum(in_sh) AS BIGINT) AS n_simhash,
          CAST(sum(in_mh * in_sh) AS BIGINT) AS n_both,
          CAST(1000000 * sum(in_mh * in_sh)
            // greatest(sum(in_mh) + sum(in_sh) - sum(in_mh * in_sh), 1)
            AS BIGINT) AS agree_micro
        FROM u"""))
  )
}
