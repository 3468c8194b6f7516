package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.{CorpusOps, Exec}

/** Corpus-curation operators a large-scale training-data pipeline runs
  * between raw crawl and tokenizer — beyond the per-document scoring in
  * [[TextOps]] and the near-dup machinery in [[Dedup]]:
  *
  *  - benchmark decontamination: drop training documents that share an
  *    n-gram with the held-out eval set (the standard 13-gram protocol,
  *    here 5-grams to suit the synthetic corpus). Inverted-index shape:
  *    explode distinct n-grams, LEFT SEMI join train grams against eval
  *    grams — the quadratic doc×doc space never materializes and the
  *    join shuffles on the gram key, so it scales like a word count.
  *  - stratified sampling: deterministic per-source rate via a content
  *    hash bucket, NOT rand() — reproducible across runs/retries/engines
  *    (same reason Spark's own TABLESAMPLE is unusable for lineage-
  *    stable corpus splits). No shuffle beyond the final stats agg.
  *  - composed C4-style cleaning: quality gates + language filter +
  *    exact-dedup (keep lowest doc_id per content hash) fused into one
  *    pass — one window shuffle on the content hash, then the stats agg.
  *
  * Oracle discipline: hash buckets via the md5-hex identity
  * (Spark `conv(substr(md5(x),1,8),16,10)` == DuckDB
  * `CAST('0x'||substr(md5(x),1,8) AS BIGINT)`); aggregates cast to
  * BIGINT on both sides; double comparisons only on exact IEEE division
  * results.
  */
object PipelineOps {
  import Q.t

  /** 5-gram expansion — ONE definition for every entry that shingles
    * (decontamination, curation): a gram width/tokenization change
    * edits one place, keeping the Spark side and the (necessarily
    * stringly) DuckDB oracles reviewable together. */
  private val Gram5 = CorpusOps.gramExpr(5)

  val qs: Map[String, Q] = Map(

    // ---- benchmark decontamination via 5-gram overlap ----
    "pipe_decontaminate" -> Q(
      (s, dir) => {
        // explode raw grams then dedupe rows — array_distinct under a
        // Generate is CodegenFallback and measured ~12x slower (see the
        // dedup_ngram_jaccard note); the distinct shuffles what the semi
        // join shuffles anyway. Checkpointed: the eval and train branches
        // both read it.
        // spread: the 5-gram explode runs in the scan stage
        val grams = Exec.spread(t(s, dir, "documents"), "doc_id")
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 5)
          .select(col("doc_id"), col("source"), explode(expr(
            Gram5))
            .as("g"))
          .distinct()
          .transform(Exec.barrier)
        // eval split: every 97th doc stands in for the benchmark set
        val evalGrams = grams.where(col("doc_id") % 97 === 0).select("g").distinct()
        grams.where(col("doc_id") % 97 =!= 0)
          .join(evalGrams, Seq("g"), "left_semi")
          .select("doc_id", "source").distinct()
          .groupBy("source")
          .agg(count(lit(1)).as("n_contaminated"),
            sum(col("doc_id")).as("id_checksum"))
          .orderBy("source")
      },
      Some("""WITH g AS (
          SELECT doc_id, source,
            unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                                  for i in range(1, len(w) - 3)])) AS g
          FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 5),
        e AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        c AS (SELECT DISTINCT doc_id, source FROM g
              WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM e))
        SELECT source, count(*) AS n_contaminated, CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM c GROUP BY source ORDER BY source""")),

    // ---- per-source document cap (the crawl domain-quota cut) ----
    // Cap every source at K docs, best-first by (n_chars DESC, doc_id)
    // — the per-domain quota a crawl curation applies so one giant
    // domain can't dominate the mix. The naive plan is ONE row_number
    // window per source (the oracle): correct, but a monster domain
    // serializes into a single sort task. This plan is the two-level
    // top-K: level 1 ranks within (source, doc_id%8 salt) partitions
    // and keeps K per salt — 8-way parallel inside a domain, and
    // row_number's running state caps window memory at O(1) — then
    // level 2 ranks the surviving <= 8K rows per source. Top-K of the
    // union of per-salt top-Ks is exactly the global top-K (any global
    // top-K row is top-K within its salt), so the result matches the
    // oracle's single window. At 100 TB the salt count scales with the
    // largest domain; K rows per salt is all that crosses the second
    // shuffle.
    "pipe_source_cap" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val kept = CorpusOps.capPerKey(docs, "source", "n_chars", k = 25)
        docs.groupBy("source").agg(count(lit(1)).as("n_total"))
          .join(kept.groupBy("source").agg(count(lit(1)).as("n_kept"),
            sum(col("n_chars")).as("kept_chars"),
            sum(col("doc_id")).as("id_checksum")), Seq("source"))
          .orderBy("source")
      },
      Some("""WITH r AS (SELECT source, doc_id, n_chars,
            row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents),
        k AS (SELECT * FROM r WHERE rn <= 25)
        SELECT source,
          (SELECT count(*) FROM documents d WHERE d.source = k.source) AS n_total,
          count(*) AS n_kept,
          CAST(sum(n_chars) AS BIGINT) AS kept_chars,
          CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM k GROUP BY source ORDER BY source""")),

    // ---- DSIR-style importance weighting (data selection) ----
    // Data Selection via Importance Resampling (Xie et al.,
    // arXiv:2302.03169): weight each raw document by how much more
    // likely its features are under a TARGET distribution (here the
    // English slice stands in for the curated target) than under the
    // RAW corpus distribution — per-token log-likelihood ratio
    // ln p_t(w) - ln p_r(w) with add-one smoothing, averaged over the
    // doc. Positive score = looks more like the target; `keep` is the
    // resampling gate.
    //
    // Scale shape is exactly the bigram-LM entry's: both feature
    // tables are (token) aggregates bounded by vocabulary size, joined
    // back onto the token stream as keyed equi-joins with NO forced
    // broadcast (AQE broadcasts while the vocab is small, degrades to
    // a shuffle join when it isn't); corpus scalars (token masses,
    // vocab size) ride one broadcast row. Determinism: per-token log
    // ratios round to integer micro-nats and sum as BIGINT —
    // shuffle-order independent — then one division per doc in
    // identical operand order on both engines.
    "pipe_dsir_weights" -> Q(
      (s, dir) => CorpusOps.dsirWeights(t(s, dir, "documents"), col("lang") === "en"),
      Some("""WITH tk AS (SELECT doc_id, lang,
            unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
          FROM documents),
        raw AS (SELECT tok, count(*) AS cr FROM tk GROUP BY tok),
        tgt AS (SELECT tok, count(*) AS ct FROM tk WHERE lang = 'en' GROUP BY tok),
        st AS (SELECT count(*) AS nr,
            sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS nt,
            count(DISTINCT tok) AS v
          FROM tk),
        sc AS (SELECT doc_id,
            CAST(round(1e6 * (ln((coalesce(ct, 0) + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v))), 0) AS BIGINT) AS micro
          FROM tk JOIN raw USING (tok) LEFT JOIN tgt USING (tok) CROSS JOIN st),
        d AS (SELECT doc_id, count(*) AS n_tokens,
            round(CAST(sum(micro) AS DOUBLE) / count(*) / 1e6, 6) AS score
          FROM sc GROUP BY doc_id)
        SELECT doc_id, n_tokens, score, score > 0 AS keep
        FROM d ORDER BY doc_id""")),

    // ---- contamination audit: the per-eval-doc overlap report ----
    // pipe_decontaminate answers "which train docs must go"; this is the
    // complementary audit a benchmark owner reads: per eval doc, how
    // many of its 5-grams leak into train and from how many train docs.
    // Same inverted-index shape (the gram join is bounded by shared
    // grams, never |eval| x |train|); clean eval docs survive via the
    // left join with zero counts. Distinct-gram rows are checkpointed
    // once and feed both sides, like the decontaminate entry.
    "pipe_contamination_report" -> Q(
      (s, dir) => {
        // spread: the 5-gram explode runs in the scan stage
        val grams = Exec.spread(t(s, dir, "documents"), "doc_id")
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 5)
          .select(col("doc_id"), explode(expr(Gram5)).as("g"))
          .distinct()
          .transform(Exec.barrier)
        val evalG = grams.where(col("doc_id") % 97 === 0)
        val trainG = grams.where(col("doc_id") % 97 =!= 0)
        val hits = evalG.as("e").join(trainG.as("t"), col("e.g") === col("t.g"))
          .groupBy(col("e.doc_id").as("eval_id"))
          .agg(countDistinct(col("t.doc_id")).cast("int").as("n_train_docs"),
            countDistinct(col("e.g")).cast("int").as("n_shared_grams"))
        evalG.groupBy(col("doc_id").as("eval_id"))
          .agg(count(lit(1)).cast("int").as("n_grams"))
          .join(hits, Seq("eval_id"), "left")
          .na.fill(0, Seq("n_train_docs", "n_shared_grams"))
          .orderBy("eval_id")
      },
      Some("""WITH g AS (
          SELECT doc_id,
            unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                                  for i in range(1, len(w) - 3)])) AS g
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 5),
        e AS (SELECT doc_id, g FROM g WHERE doc_id % 97 = 0),
        tr AS (SELECT doc_id, g FROM g WHERE doc_id % 97 <> 0),
        j AS (SELECT e.doc_id AS eval_id,
                count(DISTINCT tr.doc_id) AS n_train_docs,
                count(DISTINCT e.g) AS n_shared_grams
              FROM e JOIN tr ON e.g = tr.g GROUP BY e.doc_id),
        sz AS (SELECT doc_id AS eval_id, count(*) AS n_grams FROM e GROUP BY doc_id)
        SELECT sz.eval_id AS eval_id, CAST(n_grams AS INTEGER) AS n_grams,
          CAST(coalesce(n_train_docs, 0) AS INTEGER) AS n_train_docs,
          CAST(coalesce(n_shared_grams, 0) AS INTEGER) AS n_shared_grams
        FROM sz LEFT JOIN j USING (eval_id) ORDER BY eval_id""")),

    // ---- corpus profile: the per-source statistics panel ----
    // Corpus novelty curve: per document, the fraction of its distinct
    // word trigrams NOT seen in any earlier document (first owner =
    // min doc_id per gram). The audit behind "is this crawl adding
    // anything": a feed whose novelty decays to ~0 is re-serving known
    // content. Scale shape: one gram-keyed aggregation (map-side
    // partial min) and a posting rejoin — both bounded by distinct
    // grams, nothing quadratic; per-doc output, summarizable
    // downstream however the caller likes.
    "pipe_ngram_novelty" -> Q(
      (s, dir) => CorpusOps.noveltyCurve(t(s, dir, "documents"), "doc_id", "text", 3),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g0 AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]
                                             for i in range(1, len(w) - 1)]) AS gs
               FROM d WHERE len(w) >= 3),
        g AS (SELECT doc_id, unnest(gs) AS g FROM g0),
        f AS (SELECT g, min(doc_id) AS fo FROM g GROUP BY g)
        SELECT g.doc_id,
          count(*) AS n_grams,
          CAST(sum(CASE WHEN f.fo = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          round(CAST(sum(CASE WHEN f.fo = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
                / count(*), 6) AS novelty
        FROM g JOIN f ON g.g = f.g
        GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // ---- deterministic exact-k per-group sample ----
    // The "give me 5 reproducible examples per source" cut, built on
    // the custom bottom_k_by_key TypedImperativeAggregate
    // (functions/BottomKByKey.scala): rank by a salted md5 key and
    // keep the k smallest per group INSIDE the aggregation buffer.
    // The oracle replays it as the naive row_number window — which is
    // exactly the formulation that does NOT scale (it shuffles and
    // sorts every row of every group), while the aggregate's partial
    // buffers cap at k pairs so the shuffle carries O(groups * k).
    // Exact-k complements pipe_stratified_sample's Bernoulli fractions:
    // same goal, guaranteed count, reproducible on any engine.
    "pipe_group_sample" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        t(s, dir, "documents")
          .selectExpr("source", "doc_id",
            "cast(conv(substr(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint) AS hk")
          .groupBy("source")
          .agg(expr("bottom_k_by_key(hk, doc_id, 5)").as("ids"))
          .select(col("source"), explode(col("ids")).as("doc_id"))
          .orderBy("source", "doc_id")
      },
      Some("""WITH h AS (SELECT source, doc_id,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hk
          FROM documents),
        r AS (SELECT source, doc_id,
            row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rn
          FROM h)
        SELECT source, doc_id FROM r WHERE rn <= 5
        ORDER BY source, doc_id""")),

    // The first query anyone runs on a new crawl: docs, token mass,
    // vocabulary, language spread per source. Two keyed aggregations
    // (doc-level stats; token-level distinct for vocabulary), both
    // keyed on the tiny source dimension with map-side partial agg;
    // the token distinct is the only corpus-sized shuffle and is the
    // irreducible cost of an exact vocabulary count (the approximate
    // path is text_heavy_hitters_cms / rel_approx_distinct).
    "pipe_corpus_profile" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn("w", split(col("text"), " "))
        val base = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(col("w")).cast("long")).as("total_tokens"),
          countDistinct(col("lang")).cast("int").as("n_langs"))
        val vocab = docs.select(col("source"), explode(col("w")).as("tok")).distinct()
          .groupBy("source").agg(count(lit(1)).as("vocab"))
        base.join(vocab, Seq("source"))
          .withColumn("avg_tokens", col("total_tokens").cast("double") / col("n_docs"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, lang, string_split(text, ' ') AS w FROM documents),
        b AS (SELECT source, count(*) AS n_docs,
              CAST(sum(len(w)) AS BIGINT) AS total_tokens,
              CAST(count(DISTINCT lang) AS INTEGER) AS n_langs
              FROM d GROUP BY source),
        v AS (SELECT source, count(*) AS vocab
              FROM (SELECT DISTINCT source, unnest(w) AS tok FROM d) GROUP BY source)
        SELECT b.source AS source, n_docs, total_tokens, n_langs, vocab,
          CAST(total_tokens AS DOUBLE) / n_docs AS avg_tokens
        FROM b JOIN v USING (source) ORDER BY source""")),

    // ---- deterministic stratified sampling (10% per source) ----
    "pipe_stratified_sample" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("bucket",
            expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("bucket") < 10, 1L).otherwise(0L)).as("n_sampled"),
            sum(when(col("bucket") < 10, col("doc_id"))).as("sample_checksum"))
          .orderBy("source"),
      Some("""WITH d AS (SELECT source, doc_id,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
          FROM documents)
        SELECT source, count(*) AS n_total,
          CAST(sum(CASE WHEN bucket < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
          CAST(sum(CASE WHEN bucket < 10 THEN doc_id END) AS BIGINT) AS sample_checksum
        FROM d GROUP BY source ORDER BY source""")),

    // ---- weighted sampling: keep probability follows a quality proxy ----
    // Quality-weighted downsampling (high-value docs oversampled, short
    // ones thinned) with the same determinism discipline as the
    // stratified sample: the keep decision is a pure function of
    // doc_id, so retries/speculation can never double- or drop-count —
    // rand() cannot promise that. Integer-exact threshold: bucket in
    // [0, 1e6) vs least(n_tokens, 200) * 5000 (p = n_tokens/200 capped
    // at 1) — no float boundary for engines to disagree on. Map-only
    // until the per-source aggregate.
    "pipe_weighted_sample" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")))
          .withColumn("bucket",
            expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 1000000"))
          .withColumn("kept", col("bucket") < least(col("n_tokens"), lit(200)) * 5000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
            sum(when(col("kept"), col("doc_id"))).as("kept_checksum"))
          .orderBy("source"),
      Some("""WITH d AS (SELECT source, doc_id,
            len(string_split(text, ' ')) AS n_tokens,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS bucket
          FROM documents),
        k AS (SELECT *, bucket < least(n_tokens, 200) * 5000 AS kept FROM d)
        SELECT source, count(*) AS n_total,
          CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
          CAST(sum(CASE WHEN kept THEN doc_id END) AS BIGINT) AS kept_checksum
        FROM k GROUP BY source ORDER BY source""")),

    // ---- end-to-end curation: the composed production pipeline ----
    // quality filter -> exact dedup keep-first -> decontaminate (ANTI
    // join on the 5-gram inverted index) -> deterministic stratified
    // sample. Each stage is individually gated above/below; this entry
    // proves the stages COMPOSE with the same engine-exact semantics —
    // the shape of a real curated-corpus materialization, all shuffles
    // keyed (content hash, gram, source), no pair space anywhere.
    "pipe_curation_e2e" -> Q(
      (s, dir) => {
        val base = t(s, dir, "documents")
          .where(col("lang") === "en" && length(col("text")) > 0)
          .withColumn("w", split(col("text"), " "))
          .withColumn("n_tokens", size(col("w")))
          .where(col("n_tokens") >= 10 &&
            expr("cast(length(regexp_replace(text, '[^a-z]', '')) as double) / length(text)") >= 0.5 &&
            expr("cast(length(text) as double) / size(w)") <= 12)
        val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
        val deduped = base.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .transform(Exec.barrier) // grams + final agg both read it
        // no n-gram length guard needed: the quality gate above already
        // enforces n_tokens >= 10 (the unfiltered evalGrams branch below
        // is where the >= 5 guard is load-bearing)
        val grams = deduped
          .select(col("doc_id"), explode(expr(
            Gram5))
            .as("g"))
          .distinct()
        val evalGrams = t(s, dir, "documents")
          .where(col("doc_id") % 97 === 0)
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 5)
          .select(explode(expr(
            Gram5))
            .as("g"))
          .distinct()
        val contaminated = grams.join(evalGrams, Seq("g"), "left_semi")
          .select("doc_id").distinct()
        deduped
          .where(col("doc_id") % 97 =!= 0)
          .join(contaminated, Seq("doc_id"), "left_anti")
          .withColumn("bucket",
            expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100"))
          .where(col("bucket") < 60)
          .groupBy("source")
          .agg(count(lit(1)).as("n_curated"),
            sum(col("doc_id")).as("id_checksum"),
            sum(col("n_tokens")).as("tok_checksum"))
          .orderBy("source")
      },
      Some("""WITH base AS (
          SELECT doc_id, source, text, string_split(text, ' ') AS w,
                 len(string_split(text, ' ')) AS n_tokens
          FROM documents
          WHERE lang = 'en' AND length(text) > 0
            AND len(string_split(text, ' ')) >= 10
            AND CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) >= 0.5
            AND CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) <= 12),
        deduped AS (SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM base)
          WHERE rn = 1),
        g AS (SELECT doc_id,
                unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                                      for i in range(1, len(w) - 3)])) AS g
              FROM deduped),
        e AS (SELECT DISTINCT
                unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                                      for i in range(1, len(w) - 3)])) AS g
              FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE doc_id % 97 = 0)
              WHERE len(w) >= 5),
        contaminated AS (SELECT DISTINCT doc_id FROM g WHERE g IN (SELECT g FROM e)),
        curated AS (
          SELECT * FROM deduped
          WHERE doc_id % 97 <> 0
            AND doc_id NOT IN (SELECT doc_id FROM contaminated)
            AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 60)
        SELECT source, count(*) AS n_curated,
          CAST(sum(doc_id) AS BIGINT) AS id_checksum,
          CAST(sum(n_tokens) AS BIGINT) AS tok_checksum
        FROM curated GROUP BY source ORDER BY source""")),

    // ---- repetition scoring (Gopher-style duplicate n-gram fraction) ----
    // Per-row HOF projection (no shuffle); repeated boilerplate pushes
    // the duplicate-trigram fraction up, a standard pre-training quality
    // gate alongside text_quality's structural ratios.
    "pipe_repetition" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 3)
          .selectExpr("doc_id",
            "size(w) - 2 AS n_grams",
            "size(array_distinct(transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2])))) AS n_distinct")
          .withColumn("rep_ratio",
            expr("round(1.0d - cast(n_distinct as double) / n_grams, 6)"))
          .withColumn("repetitive", col("rep_ratio") > 0.2)
          .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id, len(w) - 2 AS n_grams,
               len(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)])) AS n_distinct
              FROM d WHERE len(w) >= 3)
        SELECT doc_id, CAST(n_grams AS INTEGER) AS n_grams,
          CAST(n_distinct AS INTEGER) AS n_distinct,
          round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) AS rep_ratio,
          (round(1.0 - CAST(n_distinct AS DOUBLE) / n_grams, 6) > 0.2) AS repetitive
        FROM g ORDER BY doc_id""")),

    // ---- composed C4-style cleaning pass ----
    "pipe_c4_filter" -> Q(
      (s, dir) => {
        val scored = t(s, dir, "documents")
          // empty-text guard: Spark's non-ANSI 0/0 is NULL (row silently
          // filtered) while DuckDB yields NaN — excluding empty docs
          // explicitly keeps the edge case engine-independent
          .where(length(col("text")) > 0)
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_tokens", size(col("toks")))
          .withColumn("alpha_ratio",
            expr("cast(length(regexp_replace(text, '[^a-z]', '')) as double) / length(text)"))
          .withColumn("mean_tok_len", expr("cast(length(text) as double) / size(toks)"))
        val clean = scored.where(col("lang") === "en" &&
          col("n_tokens") >= 10 && col("alpha_ratio") >= 0.5 && col("mean_tok_len") <= 12)
        val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
        clean.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tokens")).as("tok_checksum"),
            sum(col("doc_id")).as("id_checksum"))
          .orderBy("source")
      },
      Some("""WITH q AS (SELECT doc_id, source, text,
            len(string_split(text, ' ')) AS n_tokens,
            CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text) AS alpha_ratio,
            CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS mean_tok_len
          FROM documents WHERE lang = 'en' AND length(text) > 0),
        clean AS (SELECT * FROM q
          WHERE n_tokens >= 10 AND alpha_ratio >= 0.5 AND mean_tok_len <= 12),
        keep AS (SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM clean)
        SELECT source, count(*) AS n_kept,
          CAST(sum(n_tokens) AS BIGINT) AS tok_checksum,
          CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM keep WHERE rn = 1 GROUP BY source ORDER BY source""")),

    // ---- PII redaction (emails + IPv4) ----
    // The synthetic corpus carries no PII, so each engine deterministically
    // augments the text with a doc_id-derived fake email and IP first —
    // both sides compute the same augmented string, so the oracle
    // meaningfully checks the regex kernels (count + global replace),
    // which is the part a redaction pass can get wrong across engines
    // (Java regex vs RE2: patterns below avoid lookaround and \b).
    // Per-row projection, no shuffle until the stats agg — at 100 TB this
    // is a map-only pass over the corpus.
    "pipe_pii_redact" -> Q(
      (s, dir) => {
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
        t(s, dir, "documents")
          .withColumn("aug", expr(
            "concat(text, ' contact user', cast(doc_id as string), " +
              "'@mail.example.com from 10.0.', cast(doc_id % 256 as string), '.7 end')"))
          // functions API, not expr(): Spark's SQL parser unescapes
          // backslashes inside string literals, which would silently turn
          // the regex '\.' into '.' and diverge from the DuckDB oracle
          .withColumn("n_emails", regexp_count(col("aug"), lit(email)))
          .withColumn("n_ips", regexp_count(col("aug"), lit(ip)))
          .withColumn("red",
            regexp_replace(regexp_replace(col("aug"), email, "<EMAIL>"), ip, "<IP>"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_emails")).as("emails_redacted"),
            sum(col("n_ips")).as("ips_redacted"),
            sum(length(col("red"))).as("red_len_checksum"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
                 || '@mail.example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7 end' AS aug
          FROM documents),
        r AS (SELECT source,
            len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
            len(regexp_extract_all(aug, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
            regexp_replace(regexp_replace(aug,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
              '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS red
          FROM d)
        SELECT source, count(*) AS n_docs,
          CAST(sum(n_emails) AS BIGINT) AS emails_redacted,
          CAST(sum(n_ips) AS BIGINT) AS ips_redacted,
          CAST(sum(length(red)) AS BIGINT) AS red_len_checksum
        FROM r GROUP BY source ORDER BY source""")),

    // ---- document chunking with overlap (context-window prep) ----
    // Fixed 50-token windows, stride 40 (10-token overlap) — the standard
    // pre-tokenizer chunking for embedding/retrieval corpora. Pure per-row
    // explode (no shuffle before the ORDER BY): output scales by the
    // overlap factor, never by pair space. Chunk identity is checked by
    // md5 of the joined token slice on both engines.
    "pipe_chunk_overlap" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .where(length(col("text")) > 0)
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"), col("w"),
            explode(expr("sequence(0, size(w) - 1, 40)")).as("start"))
          .selectExpr("doc_id",
            "CAST(start div 40 AS INT) AS chunk_idx",
            "size(slice(w, start + 1, 50)) AS n_chunk_tokens",
            "md5(concat_ws(' ', slice(w, start + 1, 50))) AS chunk_hash")
          .orderBy("doc_id", "chunk_idx"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
          FROM documents WHERE length(text) > 0),
        c AS (SELECT doc_id, w, unnest(range(0, len(w), 40)) AS start FROM d)
        SELECT doc_id, CAST(start // 40 AS INTEGER) AS chunk_idx,
          CAST(len(w[start + 1 : least(start + 50, len(w))]) AS INTEGER) AS n_chunk_tokens,
          md5(array_to_string(w[start + 1 : least(start + 50, len(w))], ' ')) AS chunk_hash
        FROM c ORDER BY doc_id, chunk_idx""")),

    // ---- token-budget sequence packing ----
    // Contiguous deterministic packing: within each source shard, docs in
    // doc_id order fill 512-token bins by running total; a doc belongs to
    // the bin its cumulative count ends in. One keyed window shuffle
    // (partitioned by source — at 100 TB the shard key is whatever the
    // corpus is already bucketed by), no global sort, no driver state.
    // First-fit-decreasing packs tighter but is inherently sequential;
    // contiguous-fill is the shape that parallelizes, and determinism
    // (retries, engine ports) is the property training-data prep needs.
    "pipe_pack_sequences" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")))
          .withColumn("cum", sum(col("n_tokens")).over(
            Window.partitionBy(col("source")).orderBy(col("doc_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("bin", expr("CAST((cum - 1) div 512 AS INT)"))
          .groupBy("source", "bin")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("bin_tokens"),
            sum(col("doc_id")).as("id_checksum"))
          .orderBy("source", "bin"),
      Some("""WITH d AS (SELECT source, doc_id,
            len(string_split(text, ' ')) AS n_tokens FROM documents),
        c AS (SELECT source, doc_id, n_tokens,
            sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM d)
        SELECT source, CAST((cum - 1) // 512 AS INTEGER) AS bin,
          count(*) AS n_docs,
          CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
          CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM c GROUP BY source, bin ORDER BY source, bin""")),

    // ---- token-budget selection (best data under budget) ----
    // Keep the highest-quality docs until half the corpus's token mass
    // is spent — the selection cut that follows scoring in a curation
    // pipeline (quality here = n_chars, the deterministic stand-in for a
    // model score). The global quality-ordered running sum is a
    // two-level distributed prefix sum (band totals + within-band
    // windows; see CorpusOps.tokenBudgetCore), NOT a single-partition global
    // window — the plan that survives 100 TB. Budget is integer-exact:
    // (total_tokens * 500) div 1000.
    "pipe_token_budget" -> Q(
      (s, dir) => {
        val d = t(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        CorpusOps.tokenBudgetCore(d, "doc_id", "n_chars", "n_tokens",
            budgetTokens = None, budgetPermille = Some(500))
          .groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tokens")).as("kept_tokens"),
            sum(col("doc_id")).as("id_checksum"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents),
        b AS (SELECT CAST((sum(n_tokens) * 500) // 1000 AS BIGINT) AS budget FROM d),
        c AS (SELECT *, sum(n_tokens) OVER (ORDER BY n_chars DESC, doc_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_before
          FROM d)
        SELECT source, count(*) AS n_kept,
          CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
          CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM c, b WHERE cum_before < budget GROUP BY source ORDER BY source""")),

    // ---- deterministic corpus shuffle + sharding ----
    // Training-order randomization that survives retries and engine
    // ports: shard and intra-shard position both derive from a content-
    // independent md5 key (seeded by a literal), not rand(). One keyed
    // shuffle (8 shards; real runs use thousands); the position-weighted
    // checksum pins the exact permutation, not just membership.
    "pipe_corpus_shuffle" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("k", md5(concat(col("doc_id").cast("string"), lit(":seed42"))))
          .withColumn("shard",
            expr("cast(conv(substr(k, 1, 8), 16, 10) as bigint) % 8"))
          .withColumn("pos", row_number().over(
            Window.partitionBy(col("shard")).orderBy(col("k"))))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_checksum"),
            sum(col("pos") * col("doc_id")).as("perm_checksum"))
          .orderBy("shard"),
      Some("""WITH k AS (SELECT doc_id,
            md5(CAST(doc_id AS VARCHAR) || ':seed42') AS k FROM documents),
        s AS (SELECT doc_id, k,
            CAST(('0x' || substr(k, 1, 8)) AS BIGINT) % 8 AS shard FROM k),
        p AS (SELECT shard, doc_id,
            row_number() OVER (PARTITION BY shard ORDER BY k) AS pos FROM s)
        SELECT shard, count(*) AS n_docs,
          CAST(sum(doc_id) AS BIGINT) AS id_checksum,
          CAST(sum(pos * doc_id) AS BIGINT) AS perm_checksum
        FROM p GROUP BY shard ORDER BY shard""")),

    // ---- decontamination via Bloom prefilter + exact verify ----
    // Same answer as pipe_decontaminate, different physical plan — the
    // one that wins at 100 TB: the semi-join there shuffles EVERY train
    // gram on the gram key; here the corpus is never shuffled at all
    // until ~nothing is left. Phase 1 builds an exact Bloom filter over
    // the (small) eval gram set with df.stat.bloomFilter — a tree
    // aggregate that ships only the filter bits to the driver, never the
    // grams. Phase 2 broadcasts those bits (~1.2 MB at fpp=0.01 for 1M
    // grams — vs broadcasting the gram STRINGS, 50-100x larger) and
    // drops clean grams map-side. Phase 3 exact-joins only the
    // survivors (true hits + ~1% false positives), so Bloom FPs die
    // before the answer: the oracle is the exact decontamination SQL,
    // not an approximation. The mightContain UDF breaks codegen for one
    // filter — the trade is a full corpus shuffle for a black-box map,
    // measured worth it (the BloomDecontamSpec pins candidate counts).
    "pipe_decontam_bloom" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        CorpusOps.bloomContaminated(
            train = docs.where(col("doc_id") % 97 =!= 0),
            evalDocs = docs.where(col("doc_id") % 97 === 0),
            gramWidth = 5, keep = Seq("doc_id", "source"),
            expectedEvalGrams = 1000L * 1000L, fpp = 0.01)
          .groupBy("source")
          .agg(count(lit(1)).as("n_contaminated"),
            sum(col("doc_id")).as("id_checksum"))
          .orderBy("source")
      },
      Some("""WITH g AS (
          SELECT doc_id, source,
            unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                                  for i in range(1, len(w) - 3)])) AS g
          FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 5),
        e AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        c AS (SELECT DISTINCT doc_id, source FROM g
              WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM e))
        SELECT source, count(*) AS n_contaminated, CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM c GROUP BY source ORDER BY source""")),

    // ---- domain-mixture weights ----
    // Training mixes reweight domains toward a target distribution; the
    // uniform-target weight for source s is total_tokens / (k *
    // tokens_s) — sample-with-weight w_s equalizes expected token mass.
    // One per-source agg (map-side partial) then a k-row unpartitioned
    // window for the totals: the corpus is read once, the window moves k
    // rows. All inputs to the emitted doubles are exact BIGINTs and each
    // double is produced by the same single operation on both engines,
    // so IEEE determinism carries the oracle.
    "pipe_mixture_weights" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("src_tokens"))
          .withColumn("total_tokens", sum(col("src_tokens")).over(Window.partitionBy()))
          .withColumn("k", count(lit(1)).over(Window.partitionBy()))
          .select(col("source"), col("n_docs"), col("src_tokens"),
            (col("src_tokens").cast("double") / col("total_tokens").cast("double"))
              .as("actual_share"),
            (col("total_tokens").cast("double") / (col("k") * col("src_tokens")).cast("double"))
              .as("uniform_weight"))
          .orderBy("source"),
      Some("""WITH s AS (SELECT source, count(*) AS n_docs,
            sum(len(string_split(text, ' '))) AS src_tokens
          FROM documents GROUP BY source),
        t AS (SELECT source, n_docs, src_tokens,
            sum(src_tokens) OVER () AS total_tokens,
            count(*) OVER () AS k FROM s)
        SELECT source, n_docs, CAST(src_tokens AS BIGINT) AS src_tokens,
          CAST(src_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS actual_share,
          CAST(total_tokens AS DOUBLE) / CAST(k * src_tokens AS DOUBLE) AS uniform_weight
        FROM t ORDER BY source""")),

    // ---- canonical-document selection per near-dup cluster ----
    // The keep-policy real dedup pipelines run: within each near-dup
    // cluster (connected components over the verified J>=0.8 LSH pair
    // graph), keep the HIGHEST-QUALITY member, not the lowest id —
    // dedup_filtered_corpus's keep-lowest is the simple baseline; this
    // composes clustering + scoring + per-cluster argmax end-to-end.
    // Quality = n_chars (integer, deterministic; the stand-in for a
    // model score), ties broken by doc_id. Shapes: CC is O(log d)
    // keyed-join rounds over the (tiny) pair graph; singleton docs
    // never enter it (LEFT join + coalesce assigns each its own
    // cluster); the argmax is one window over cluster id — cluster
    // sizes are bounded by near-dup neighborhoods, not the corpus.
    "pipe_canonical_selection" -> Q(
      (s, dir) => {
        val comps = CorpusOps.connectedComponents(
            Dedup.lshVerifiedPairs(s, dir).select("id_a", "id_b"))
          .select(col("node").as("doc_id"), col("label").as("component"))
        val ranked = t(s, dir, "documents")
          .join(comps, Seq("doc_id"), "left")
          .withColumn("component", coalesce(col("component"), col("doc_id")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("component")
              .orderBy(col("n_chars").desc, col("doc_id").asc)))
        ranked.where(col("rn") === 1)
          .groupBy("source")
          .agg(count(lit(1)).as("n_canonical"),
            sum(col("doc_id")).as("id_checksum"),
            sum(col("n_chars")).as("quality_checksum"))
          .orderBy("source")
      },
      Some("""WITH RECURSIVE sh AS (
          SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                        for i in range(1, len(w) - 1)]) AS sh
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
          WHERE len(w) >= 3),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE 5 * len(list_intersect(a.sh, b.sh)) >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
          SELECT DISTINCT src, src FROM edges
          UNION
          SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
        comp AS (SELECT node AS doc_id, min(label) AS component
          FROM reach GROUP BY node),
        scored AS (SELECT d.doc_id, d.source, d.n_chars,
            coalesce(c.component, d.doc_id) AS component
          FROM documents d LEFT JOIN comp c USING (doc_id)),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY component
            ORDER BY n_chars DESC, doc_id ASC) AS rn FROM scored)
        SELECT source, count(*) AS n_canonical,
          CAST(sum(doc_id) AS BIGINT) AS id_checksum,
          CAST(sum(n_chars) AS BIGINT) AS quality_checksum
        FROM ranked WHERE rn = 1 GROUP BY source ORDER BY source""")),

    // ---- model-based quality scoring (fastText-shaped linear filter) ----
    // The model-driven stage of a curation pipeline: a linear classifier
    // over hashed bigram features, scored corpus-wide. The trained model
    // is a (gram, weight) table — vocabulary-bounded, broadcast — and
    // scoring is explode + broadcast-lookup + per-doc re-agg (map-side
    // partial agg ≈ one shuffled row per doc). Here the weight table is
    // hash-derived from the corpus grams (the oracle-checkable stand-in
    // for trained weights, like the multimodal FakeDecoder); integer
    // weights make the score shuffle-order-exact. Mechanism:
    // [[CorpusOps.qualityScore]].
    "pipe_model_quality_score" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val weights = docs
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 2)
          .select(explode(expr(CorpusOps.gramExpr(2))).as("gram")).distinct()
          .withColumn("weight",
            expr("cast(conv(substr(md5(gram), 1, 8), 16, 10) as bigint) % 1001 - 500"))
        CorpusOps.qualityScore(docs, weights).orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
              FROM d WHERE len(w) >= 2),
        wt AS (SELECT DISTINCT gram,
               CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1001 - 500 AS weight FROM g),
        s AS (SELECT doc_id, count(*) AS n_feats, sum(weight) AS score_raw
              FROM g JOIN wt USING (gram) GROUP BY doc_id)
        SELECT d.doc_id AS doc_id,
          CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
          CAST(coalesce(score_raw, 0) AS BIGINT) AS score_raw,
          coalesce(score_raw, 0) >= 0 AS keep
        FROM d LEFT JOIN s USING (doc_id) ORDER BY doc_id""")),

    // ---- k-core decomposition (dense-nucleus extraction) ----
    // Through [[graft.pipeline.GraphOps.kCore]] (iterative peeling —
    // see its scaladoc for the rounds contract). The planted graph is
    // the textbook peel test: a K6 clique and a K4 clique joined by a
    // bridge edge (both survive k=3, bridge included), a 4-cycle
    // (2-core — dies), and a 20-node path with pendant trees (die
    // first). The oracle states the surviving core closed-form,
    // including the +1 bridge degrees.
    "pipe_kcore" -> Q(
      (s, _) => {
        val k6 = s.range(6).selectExpr("id AS src")
          .crossJoin(s.range(6).selectExpr("id AS dst")).where("src < dst")
        val k4 = s.range(30, 34).selectExpr("id AS src")
          .crossJoin(s.range(30, 34).selectExpr("id AS dst")).where("src < dst")
        val cyc = s.range(4).selectExpr("id + 10 AS src", "(id + 1) % 4 + 10 AS dst")
        val chain = s.range(20).selectExpr("id + 40 AS src", "id + 41 AS dst")
        val bridge = s.range(1).selectExpr("5L AS src", "30L AS dst")
        graft.pipeline.GraphOps
          .kCore(k6.union(k4).union(cyc).union(chain).union(bridge), 3)
          .orderBy("node")
      },
      Some("""SELECT CAST(i AS BIGINT) AS node,
          CAST(CASE WHEN i = 5 THEN 6 WHEN i < 6 THEN 5
               WHEN i = 30 THEN 4 ELSE 3 END AS BIGINT) AS deg
        FROM (SELECT unnest([0, 1, 2, 3, 4, 5, 30, 31, 32, 33]) AS i)
        ORDER BY node""")),

    // ---- temperature-scaled mixture weights (tau = 0.5) ----
    // The multilingual-sampling rule (sqrt-temperature upsampling of
    // small sources): per-source mass is re-weighted by n^tau before
    // normalizing, flattening the head without erasing it. tau = 0.5
    // keeps determinism — sqrt of an exact integer is CORRECTLY
    // ROUNDED in IEEE on both engines, so floor(sqrt(n)) is bit-stable
    // cross-engine, and the normalization stays in integer micro
    // fixed-point. Tiny grouped agg + broadcast total.
    "pipe_mixture_temperature" -> Q(
      (s, dir) => {
        val n = t(s, dir, "documents").groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"))
          .withColumn("w_sqrt", expr("cast(floor(sqrt(cast(n_docs as double))) as bigint)"))
        n.crossJoin(broadcast(n.agg(sum(col("w_sqrt")).as("w_total"))))
          .selectExpr("source", "n_docs", "w_sqrt",
            "1000000 * w_sqrt div w_total AS share_micro")
          .orderBy("source")
      },
      Some("""WITH n AS (SELECT source, count(*) AS n_docs,
            CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w_sqrt
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS w_total FROM n)
        SELECT source, n_docs, w_sqrt,
          CAST(1000000 * w_sqrt // w_total AS BIGINT) AS share_micro
        FROM n, tot ORDER BY source""")),

    // ---- tokenizer fertility (tokens-per-word budget planning) ----
    // The compression diagnostic a tokenizer swap is judged by:
    // sub-tokens per whitespace word, per (source, lang). The
    // sub-tokenizer is a fixed-stride chunker (ceil(len/4) chunks per
    // word — a closed-form BPE stand-in, the mechanism being the
    // per-word arithmetic fold + grouped exact sums), fertility in
    // micro fixed-point from integer sums. Map-only into a tiny
    // grouped agg.
    "pipe_tokenizer_fertility" -> Q(
      (s, dir) => t(s, dir, "documents")
        .selectExpr("source", "lang",
          "cast(size(split(text, ' ')) as bigint) AS n_words",
          "aggregate(split(text, ' '), 0L, " +
            "(acc, w) -> acc + (length(w) + 3) div 4) AS n_subtoks")
        .groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("words"),
          sum(col("n_subtoks")).as("subtoks"))
        .selectExpr("source", "lang", "n_docs", "words", "subtoks",
          "1000000 * subtoks div words AS fertility_micro")
        .orderBy("source", "lang"),
      Some("""WITH d AS (SELECT source, lang,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
            CAST(list_sum(list_transform(string_split(text, ' '),
              w -> (length(w) + 3) // 4)) AS BIGINT) AS n_subtoks
          FROM documents),
        g AS (SELECT source, lang, count(*) AS n_docs,
            CAST(sum(n_words) AS BIGINT) AS words,
            CAST(sum(n_subtoks) AS BIGINT) AS subtoks
          FROM d GROUP BY source, lang)
        SELECT source, lang, n_docs, words, subtoks,
          CAST(1000000 * subtoks // words AS BIGINT) AS fertility_micro
        FROM g ORDER BY source, lang""")),

    // ---- triangle count / clustering coefficient ----
    // Through [[graft.pipeline.GraphOps.triangleStats]] (degree-ordered
    // node-iterator — see its scaladoc for the O(m^1.5) bound). The
    // fixture unions a ring-with-chords arm (doc_id < 60: edges to
    // i+1 and i+2 mod 60 — exactly 60 planted triangles if nothing
    // else intersects) with a hash arm over every doc for volume; the
    // oracle recounts triangles RELATIONALLY by id-ordered three-way
    // self-join, a different orientation scheme that must agree.
    "pipe_triangle_stats" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ring = docs.where(col("doc_id") < 60)
          .select(col("doc_id").as("src"),
            explode(array((col("doc_id") + 1) % 60,
              (col("doc_id") + 2) % 60)).as("dst"))
        val hash = docs.select(col("doc_id").as("src"),
            explode(array(lit(1), lit(2))).as("k"))
          .select(col("src"), ((col("src") * 11 + col("k") * 73) % 400).as("dst"))
        graft.pipeline.GraphOps.triangleStats(ring.union(hash))
      },
      Some("""WITH raw AS (
          SELECT doc_id AS src, (doc_id + 1) % 60 AS dst FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id, (doc_id + 2) % 60 FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id, (doc_id * 11 + k * 73) % 400
          FROM documents, (VALUES (1), (2)) v(k)),
        e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM raw WHERE src <> dst),
        deg AS (SELECT node, count(*) AS d FROM
          (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY node),
        tri AS (SELECT count(*) AS n_triangles
          FROM e e1 JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
                    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
        SELECT CAST(n_triangles AS BIGINT) AS n_triangles, n_wedges,
          CAST(CASE WHEN n_wedges = 0 THEN 0
               ELSE 1000000 * 3 * n_triangles // n_wedges END AS BIGINT) AS gcc_micro
        FROM tri, w""")),

    // ---- reliability diagram of a quality scorer ----
    // The calibration check a filtering model ships with: docs bucket
    // by predicted score decile, each bin reports volume, observed
    // positive rate, and mean score — a miscalibrated scorer shows
    // rate diverging from score across bins. Score is the stopword
    // density in milli fixed-point; the "human label" is a
    // deterministic score-correlated rule (the gate needs determinism,
    // not a real annotator). All integers; one ~11-row aggregate.
    "pipe_calibration_bins" -> Q(
      (s, dir) => t(s, dir, "documents")
        .selectExpr("doc_id",
          "cast(size(split(text, ' ')) as bigint) AS wc",
          "cast(size(filter(split(text, ' '), t -> t IN " +
            "('the', 'a', 'and', 'of', 'to', 'in', 'is'))) as bigint) AS stop_n")
        .selectExpr("doc_id", "wc", "1000 * stop_n div wc AS score_milli")
        .selectExpr("score_milli div 100 AS bin",
          "score_milli",
          "CASE WHEN (doc_id * 31 + wc) % 100 < score_milli div 12 " +
            "THEN 1L ELSE 0L END AS label")
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("label")).as("n_pos"),
          sum(col("score_milli")).as("score_sum"))
        .selectExpr("bin", "n_docs", "n_pos",
          "1000000 * n_pos div n_docs AS obs_rate_micro",
          "score_sum div n_docs AS mean_score_milli")
        .orderBy("bin"),
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS wc,
            CAST(len(list_filter(string_split(text, ' '),
              t -> list_contains(['the', 'a', 'and', 'of', 'to', 'in', 'is'], t)))
              AS BIGINT) AS stop_n
          FROM documents),
        m AS (SELECT doc_id, wc, 1000 * stop_n // wc AS score_milli FROM d),
        l AS (SELECT score_milli // 100 AS bin, score_milli,
            CASE WHEN (doc_id * 31 + wc) % 100 < score_milli // 12
                 THEN 1 ELSE 0 END AS label FROM m),
        g AS (SELECT bin, count(*) AS n_docs,
            CAST(sum(label) AS BIGINT) AS n_pos,
            CAST(sum(score_milli) AS BIGINT) AS score_sum
          FROM l GROUP BY bin)
        SELECT bin, n_docs, n_pos,
          CAST(1000000 * n_pos // n_docs AS BIGINT) AS obs_rate_micro,
          CAST(score_sum // n_docs AS BIGINT) AS mean_score_milli
        FROM g ORDER BY bin""")),

    // ---- BPE merge-step statistics ----
    // The pair-counting pass at the heart of byte-pair-encoding
    // tokenizer training (Sennrich et al. 2016): adjacent character
    // pairs within words, corpus-wide counts, the top candidates the
    // first merge would pick (count desc, pair asc — the
    // deterministic tie-break a reproducible trainer needs). The
    // explode is words -> len-1 pairs, combined map-side; the top-20
    // is a converging single-partition sort of an already-tiny
    // aggregate, not the corpus.
    "pipe_bpe_pair_stats" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .where(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), k -> substring(w, k, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20),
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        p AS (SELECT substring(w, CAST(i AS INTEGER), 2) AS pair
          FROM w, unnest(range(1, length(w))) u(i) WHERE length(w) >= 2)
        SELECT pair, count(*) AS n FROM p
        GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 20""")),

    // ---- threshold-sweep calibration of a quality filter ----
    // Scores come from the same fastText-shaped linear scorer
    // pipe_model_quality_score gates; the reference label is the corpus's own lang tag (the
    // stand-in for "human-labeled good"). Bucket 100 keeps the sweep
    // frame bounded regardless of score cardinality.
    "pipe_threshold_sweep" -> Q(
      (s, dir) => {
        val docs = Exec.spread(t(s, dir, "documents"), "doc_id")
        val weights = docs
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 2)
          .select(explode(expr(CorpusOps.gramExpr(2))).as("gram")).distinct()
          .withColumn("weight",
            expr("cast(conv(substr(md5(gram), 1, 8), 16, 10) as bigint) % 1001 - 500"))
        val scored = CorpusOps.qualityScore(docs, weights)
          .join(docs.select(col("doc_id"), (col("lang") === "en").as("label")), "doc_id")
        CorpusOps.thresholdSweep(scored, "score_raw", "label", bucket = 100L)
          .orderBy(col("threshold").desc)
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        g AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gram
              FROM d WHERE len(w) >= 2),
        wt AS (SELECT DISTINCT gram,
               CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1001 - 500 AS weight FROM g),
        s AS (SELECT doc_id, sum(weight) AS score_raw FROM g JOIN wt USING (gram) GROUP BY doc_id),
        scored AS (SELECT doc.doc_id, coalesce(s.score_raw, 0) AS score_raw,
                          doc.lang = 'en' AS label
                   FROM documents doc LEFT JOIN s USING (doc_id)),
        bkt AS (SELECT CAST(floor(score_raw / 100.0) AS BIGINT) * 100 AS threshold,
                       sum(CASE WHEN label THEN 1 ELSE 0 END) AS n_pos,
                       sum(CASE WHEN label THEN 0 ELSE 1 END) AS n_neg
                FROM scored GROUP BY 1),
        run AS (SELECT threshold,
                       sum(n_pos) OVER (ORDER BY threshold DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
                       sum(n_neg) OVER (ORDER BY threshold DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
                FROM bkt),
        tot AS (SELECT sum(n_pos) AS tot_pos, sum(n_neg) AS tot_neg FROM bkt)
        SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
               CAST(tot_pos - tp AS BIGINT) AS fn, CAST(tot_neg - fp AS BIGINT) AS tn
        FROM run CROSS JOIN tot ORDER BY threshold DESC""")),

    // ---- mixture APPLICATION: realize a target token mixture in one pass ----
    // pipe_mixture_weights computes what the shares ARE; this entry
    // enforces a target — equal token mass per source, capped by the
    // scarcest source (the standard down-sample-to-uniform recipe, the
    // no-upsampling half of DoReMi-style reweighting). Per-source
    // acceptance rate = floor(1e6 * min_src_tokens / src_tokens)
    // micro-units — INTEGER division, no float anywhere — applied as a
    // deterministic md5(doc_id) bucket test, so the selection is
    // retry-stable, needs no sort, no shuffle of the corpus (the rates
    // table is |sources| rows, broadcast), and resharding the input
    // cannot change which documents survive. Expected kept mass per
    // source = min_src_tokens; the audit columns report the realized
    // counts so drift from token-vs-doc granularity is visible.
    "pipe_mixture_apply" -> Q(
      (s, dir) => {
        val d = t(s, dir, "documents")
          .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
        val rates = d.groupBy("source")
          .agg(sum(col("n_tokens")).as("src_tokens"))
          .withColumn("min_tok",
            min(col("src_tokens")).over(Window.partitionBy()))
          .select(col("source"), col("src_tokens"),
            expr("(1000000L * min_tok) div src_tokens").as("rate_micro"))
        d.join(broadcast(rates), "source")
          .withColumn("bucket",
            expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 1000000"))
          .withColumn("kept", col("bucket") < col("rate_micro"))
          .groupBy("source")
          .agg(max(col("src_tokens")).as("src_tokens"),
            max(col("rate_micro")).as("rate_micro"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"),
            sum(when(col("kept"), col("doc_id"))).as("kept_checksum"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 AS bucket
          FROM documents),
        r AS (SELECT source, sum(n_tokens) AS src_tokens,
            min(sum(n_tokens)) OVER () AS min_tok
          FROM d GROUP BY source),
        rr AS (SELECT source, src_tokens,
            (1000000 * min_tok) // src_tokens AS rate_micro FROM r),
        k AS (SELECT d.*, rr.src_tokens, rr.rate_micro,
            d.bucket < rr.rate_micro AS kept
          FROM d JOIN rr USING (source))
        SELECT source, CAST(max(src_tokens) AS BIGINT) AS src_tokens,
          CAST(max(rate_micro) AS BIGINT) AS rate_micro,
          CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
          CAST(sum(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
          CAST(sum(CASE WHEN kept THEN doc_id END) AS BIGINT) AS kept_checksum
        FROM k GROUP BY source ORDER BY source""")),

    // ---- corpus snapshot diff: the incremental-curation audit ----
    // Two corpus versions (derived deterministically from the same
    // table: v1 drops doc_id%7==0, v2 drops doc_id%5==0 and rewrites
    // doc_id%11==0 to uppercase — the adds/drops/edits a recrawl
    // produces) are classified added / removed / changed / unchanged by
    // a doc_id full outer join comparing content hashes. At 100 TB this
    // is THE cheap shape for corpus versioning: one keyed join on the
    // primary id, md5 computed map-side, no content shuffled — versus
    // content-hash joins which move the text. Output is the per-class
    // audit (counts, token mass, id checksum) a pipeline diffs against
    // expectations before promoting a snapshot.
    "pipe_corpus_diff" -> Q(
      (s, dir) => {
        val d = t(s, dir, "documents")
        val v1 = d.where(col("doc_id") % 7 =!= 0)
          .select(col("doc_id"), md5(col("text").cast("binary")).as("h1"),
            size(split(col("text"), " ")).cast("long").as("tok1"))
        val v2 = d.where(col("doc_id") % 5 =!= 0)
          .withColumn("text2",
            when(col("doc_id") % 11 === 0, upper(col("text"))).otherwise(col("text")))
          .select(col("doc_id"), md5(col("text2").cast("binary")).as("h2"),
            size(split(col("text2"), " ")).cast("long").as("tok2"))
        v1.join(v2, Seq("doc_id"), "full_outer")
          .withColumn("class",
            when(col("h1").isNull, "added")
              .when(col("h2").isNull, "removed")
              .when(col("h1") =!= col("h2"), "changed")
              .otherwise("unchanged"))
          .groupBy("class")
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("tok2"), col("tok1"))).as("tok_mass"),
            sum(col("doc_id")).as("id_checksum"))
          .orderBy("class")
      },
      Some("""WITH v1 AS (SELECT doc_id, md5(text) AS h1,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS tok1
          FROM documents WHERE doc_id % 7 <> 0),
        v2 AS (SELECT doc_id,
            md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS h2,
            CAST(len(string_split(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END, ' ')) AS BIGINT) AS tok2
          FROM documents WHERE doc_id % 5 <> 0),
        j AS (SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id, h1, h2, tok1, tok2
          FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id),
        c AS (SELECT doc_id,
            CASE WHEN h1 IS NULL THEN 'added'
                 WHEN h2 IS NULL THEN 'removed'
                 WHEN h1 <> h2 THEN 'changed'
                 ELSE 'unchanged' END AS class,
            coalesce(tok2, tok1) AS tok FROM j)
        SELECT class, count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS tok_mass,
          CAST(sum(doc_id) AS BIGINT) AS id_checksum
        FROM c GROUP BY class ORDER BY class""")),

    // ---- exact ranking AUC for a filter signal (Mann-Whitney form) ----
    // How well does a quality signal rank kept-class docs above the
    // rest? The eval every filter threshold decision needs, computed
    // EXACTLY and distributed: group docs by integer score (one
    // map-side-combined agg to score-bucket cardinality), then the
    // rank-sum identity with the standard tie correction —
    // 2*num = sum_b p_b * (2*cum_neg_below + n_b), AUC = num2/(2*P*N).
    // The only window runs at SCORE-BUCKET granularity (the signal's
    // distinct values, bounded by the score domain — never the
    // corpus), same discipline as the zipf/token-budget entries. All
    // quantities stay exact BIGINTs; the single double division
    // happens once over five exact scalars.
    "pipe_auc" -> Q(
      (s, dir) => {
        val buckets = t(s, dir, "documents")
          .select(col("n_chars").as("score"),
            when(col("doc_id") % 3 === 0, 1L).otherwise(0L).as("pos"))
          .groupBy("score")
          .agg(sum(col("pos")).as("p_b"),
            sum(lit(1L) - col("pos")).as("n_b"))
        val w = Window.orderBy("score")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        buckets
          .withColumn("cum_neg", sum(col("n_b")).over(w) - col("n_b"))
          .groupBy()
          .agg(sum(col("p_b")).as("p_total"),
            sum(col("n_b")).as("n_total"),
            sum(col("p_b") * (lit(2L) * col("cum_neg") + col("n_b"))).as("num2"))
          .selectExpr("p_total", "n_total", "num2",
            """cast(round(1e6 * num2 / (2.0 * p_total * n_total)) as bigint)
               AS auc_micro""")
      },
      Some("""WITH b AS (
          SELECT n_chars AS score,
            CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS p_b,
            CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
          FROM documents GROUP BY n_chars),
        cn AS (
          SELECT p_b, n_b,
            CAST(sum(n_b) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_b AS BIGINT) AS cum_neg
          FROM b)
        SELECT CAST(sum(p_b) AS BIGINT) AS p_total,
          CAST(sum(n_b) AS BIGINT) AS n_total,
          CAST(sum(p_b * (2 * cum_neg + n_b)) AS BIGINT) AS num2,
          CAST(round(1e6 * CAST(sum(p_b * (2 * cum_neg + n_b)) AS BIGINT) /
            (2.0 * CAST(sum(p_b) AS BIGINT) * CAST(sum(n_b) AS BIGINT))) AS BIGINT)
            AS auc_micro
        FROM cn""")),

    // ---- Z-order layout audit (space-filling-curve clustering) ----
    // The data-layout lever behind multi-dimensional pruning at 100 TB:
    // files clustered by a Z-order (Morton) key keep BOTH dimensions'
    // min/max footprints tight, so a 2-D predicate can skip most files,
    // where single-key clustering leaves the second dimension's footprint
    // full-range in every file. This entry interleaves two 8-bit keys
    // with a pure-arithmetic bit fold (codegen'd, no UDF), buckets rows
    // under both layouts, and reports each layout's bounding-box
    // footprint sums — the naive layout's per-bucket b-extent is
    // full-range by construction, the Z layout's boxes stay near-square
    // (perimeter sum ~2.5x smaller on this data). The oracle recomputes
    // the identical interleave with DuckDB bit ops.
    "pipe_zorder_layout" -> Q(
      (s, dir) => {
        val keyed = Q.t(s, dir, "events")
          .selectExpr("user_id % 256 AS a",
            "cast(floor(value) as bigint) % 256 AS b")
          .withColumn("z", expr(
            """aggregate(sequence(0, 7), 0L, (acc, i) ->
                 acc + (shiftright(a, i) % 2) * shiftleft(1L, 2 * i)
                     + (shiftright(b, i) % 2) * shiftleft(1L, 2 * i + 1))"""))
        def audit(df: DataFrame, bucket: Column, name: String) = df
          .groupBy(bucket.as("bkt"))
          .agg(min("a").as("a0"), max("a").as("a1"),
            min("b").as("b0"), max("b").as("b1"))
          .groupBy()
          .agg(count(lit(1)).as("n_buckets"),
            sum(expr("(a1 - a0 + 1) * (b1 - b0 + 1)")).as("area_sum"),
            sum(expr("(a1 - a0 + 1) + (b1 - b0 + 1)")).as("perim_sum"))
          .select(lit(name).as("layout"), col("n_buckets"),
            col("area_sum"), col("perim_sum"))
        audit(keyed, expr("a div 8"), "naive")
          .union(audit(keyed, expr("z div 2048"), "zorder"))
          .orderBy("layout")
      },
      Some("""WITH k AS (
          SELECT user_id % 256 AS a,
            CAST(floor(value) AS BIGINT) % 256 AS b
          FROM events),
        z AS (
          SELECT a, b,
            list_sum([((a // (1 << i)) % 2) * (1 << (2 * i))
                    + ((b // (1 << i)) % 2) * (1 << (2 * i + 1))
              for i in range(0, 8)]) AS z
          FROM k),
        naive AS (
          SELECT a // 8 AS bkt, min(a) AS a0, max(a) AS a1,
            min(b) AS b0, max(b) AS b1 FROM z GROUP BY a // 8),
        zb AS (
          SELECT z // 2048 AS bkt, min(a) AS a0, max(a) AS a1,
            min(b) AS b0, max(b) AS b1 FROM z GROUP BY z // 2048),
        ns AS (SELECT 'naive' AS layout, count(*) AS n_buckets,
            CAST(sum((a1 - a0 + 1) * (b1 - b0 + 1)) AS BIGINT) AS area_sum,
            CAST(sum((a1 - a0 + 1) + (b1 - b0 + 1)) AS BIGINT) AS perim_sum
          FROM naive),
        zsum AS (SELECT 'zorder' AS layout, count(*) AS n_buckets,
            CAST(sum((a1 - a0 + 1) * (b1 - b0 + 1)) AS BIGINT) AS area_sum,
            CAST(sum((a1 - a0 + 1) + (b1 - b0 + 1)) AS BIGINT) AS perim_sum
          FROM zb)
        SELECT * FROM ns UNION ALL SELECT * FROM zsum ORDER BY layout""")),

    // ---- normalization-then-dedup (the practical "exact" dedup) ----
    // Production exact-dedup never hashes raw bytes: it lowercases,
    // strips non-alphanumerics, and collapses whitespace first, so
    // trivially-reformatted copies collapse into one group. The
    // normalization chain is codegen'd regexp_replace (no UDF); dedup
    // is one hash-keyed groupBy keeping the min doc id (lineage-stable
    // canonical choice). Census output: corpus size, surviving
    // normalized-distinct count, drops, and the kept-id checksum the
    // incremental entries use. DuckDB's regexp_replace needs the 'g'
    // flag to match Spark's replace-all semantics — the kind of
    // cross-engine trap the oracle gate exists to catch.
    "pipe_normalized_dedup" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), expr(
          """trim(regexp_replace(regexp_replace(lower(text),
             '[^a-z0-9 ]', ''), ' +', ' '))""").as("norm"))
        .groupBy(md5(col("norm").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("copies"))
        .groupBy()
        .agg(sum(col("copies")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          sum(col("copies") - 1).as("n_dropped"),
          sum(col("keep_id")).as("keep_checksum")),
      Some("""WITH n AS (
          SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text),
            '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm
          FROM documents),
        g AS (
          SELECT md5(norm) AS h, min(doc_id) AS keep_id, count(*) AS copies
          FROM n GROUP BY md5(norm))
        SELECT CAST(sum(copies) AS BIGINT) AS n_docs,
          count(*) AS n_distinct,
          CAST(sum(copies - 1) AS BIGINT) AS n_dropped,
          CAST(sum(keep_id) AS BIGINT) AS keep_checksum
        FROM g""")),

    // ---- PageRank over a derived link graph (integer micro-units) ----
    // The iterative-join propagation pattern (CC's sibling) through
    // [[graft.pipeline.GraphOps.pageRankMicro]]: 5 rounds of
    // ranks⋈edges + dst-keyed agg + dangling left-join-back, all in
    // scaled-integer arithmetic so distributed float summation order
    // cannot flap the ranks (see GraphOps scaladoc). The oracle
    // unrolls the same 5 iterations as CTEs with DuckDB's floor
    // division — two formulations of the identical integer recurrence.
    // Edge list is arithmetic-derived (3 out-links per doc onto a
    // 500-node hub space), so the fixture scales with the corpus while
    // staying closed-form.
    "pipe_pagerank" -> Q(
      (s, dir) => {
        val edges = t(s, dir, "documents")
          .select(col("doc_id").as("src"),
            explode(array(lit(1), lit(2), lit(3))).as("k"))
          .select(col("src"), ((col("src") * 7 + col("k") * 91) % 500).as("dst"))
        graft.pipeline.GraphOps.pageRankMicro(edges, 5)
          .orderBy(col("prm").desc, col("node"))
          .limit(10)
      },
      Some("""WITH e AS (
          SELECT doc_id AS src, (doc_id * 7 + k * 91) % 500 AS dst
          FROM documents, (VALUES (1), (2), (3)) v(k)),
        n AS (SELECT DISTINCT node FROM
          (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
        d AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
        r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS prm FROM n),
        c1 AS (SELECT e.dst, sum(r0.prm // d.outdeg) AS inc
          FROM r0 JOIN d ON r0.node = d.src JOIN e ON r0.node = e.src GROUP BY e.dst),
        r1 AS (SELECT n.node, CAST(150000 + (85 * coalesce(c1.inc, 0)) // 100 AS BIGINT) AS prm
          FROM n LEFT JOIN c1 ON n.node = c1.dst),
        c2 AS (SELECT e.dst, sum(r1.prm // d.outdeg) AS inc
          FROM r1 JOIN d ON r1.node = d.src JOIN e ON r1.node = e.src GROUP BY e.dst),
        r2 AS (SELECT n.node, CAST(150000 + (85 * coalesce(c2.inc, 0)) // 100 AS BIGINT) AS prm
          FROM n LEFT JOIN c2 ON n.node = c2.dst),
        c3 AS (SELECT e.dst, sum(r2.prm // d.outdeg) AS inc
          FROM r2 JOIN d ON r2.node = d.src JOIN e ON r2.node = e.src GROUP BY e.dst),
        r3 AS (SELECT n.node, CAST(150000 + (85 * coalesce(c3.inc, 0)) // 100 AS BIGINT) AS prm
          FROM n LEFT JOIN c3 ON n.node = c3.dst),
        c4 AS (SELECT e.dst, sum(r3.prm // d.outdeg) AS inc
          FROM r3 JOIN d ON r3.node = d.src JOIN e ON r3.node = e.src GROUP BY e.dst),
        r4 AS (SELECT n.node, CAST(150000 + (85 * coalesce(c4.inc, 0)) // 100 AS BIGINT) AS prm
          FROM n LEFT JOIN c4 ON n.node = c4.dst),
        c5 AS (SELECT e.dst, sum(r4.prm // d.outdeg) AS inc
          FROM r4 JOIN d ON r4.node = d.src JOIN e ON r4.node = e.src GROUP BY e.dst),
        r5 AS (SELECT n.node, CAST(150000 + (85 * coalesce(c5.inc, 0)) // 100 AS BIGINT) AS prm
          FROM n LEFT JOIN c5 ON n.node = c5.dst)
        SELECT node, prm FROM r5 ORDER BY prm DESC, node LIMIT 10""")),

    // ---- label propagation communities (deterministic LPA) ----
    // Two 8-cliques bridged by one edge through
    // [[graft.pipeline.GraphOps.labelPropagation]]: with the
    // smallest-label tie-break, synchronous LPA settles in two rounds
    // — clique one converges to label 0, clique two to 10, and the
    // bridge endpoints stay with their own clique's majority. Four
    // rounds prove stability; the oracle states the fixed point
    // closed-form.
    "pipe_label_propagation" -> Q(
      (s, _) => {
        val edges = s.sql(
          """SELECT a.id AS src, b.id AS dst FROM range(8) a JOIN range(8) b ON a.id < b.id
             UNION ALL
             SELECT a.id + 10, b.id + 10 FROM range(8) a JOIN range(8) b ON a.id < b.id
             UNION ALL SELECT 7L, 10L""")
        graft.pipeline.GraphOps.labelPropagation(edges, 4).orderBy("node")
      },
      Some("""SELECT i AS node,
          CAST(CASE WHEN i < 8 THEN 0 ELSE 10 END AS BIGINT) AS label
        FROM range(0, 18) t(i) WHERE i < 8 OR i >= 10 ORDER BY node""")),

    // ---- URL canonicalization + dedup rollup (the CC/C4 crawl step) ----
    // Raw crawl URLs differ only in scheme/host case, www., a default
    // :80 port, tracking params (utm_*, fbclid), param ORDER, trailing
    // slash, and fragments; canonicalizing before dedup is what keeps a
    // crawl store from storing the same page dozens of times. Pure
    // per-row string algebra (split/filter/sort_array/concat) — map-only
    // at any scale — then one canonical-keyed count. The oracle builds
    // the canonical form directly from the generating arithmetic (no
    // string parsing), so the normalizer is checked against an
    // independent derivation; only the distinct-raw count rebuilds the
    // raw string, construction-only.
    "pipe_url_normalize" -> Q(
      (s, dir) => {
        val raw = t(s, dir, "documents").selectExpr("doc_id",
          """concat(
               CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END, '://',
               CASE WHEN doc_id % 4 = 0 THEN 'WWW.Example.COM'
                    WHEN doc_id % 4 = 1 THEN 'example.com'
                    WHEN doc_id % 4 = 2 THEN 'Blog.Example.com'
                    ELSE 'EXAMPLE.COM:80' END,
               '/a/', doc_id % 50,
               CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END,
               '?',
               CASE WHEN doc_id % 2 = 0 THEN concat('utm_source=x&q=', doc_id % 7)
                    ELSE concat('q=', doc_id % 7, '&utm_campaign=y') END,
               CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END) AS url""")
        raw
          .withColumn("nofrag", expr("split(url, '#')[0]"))
          .withColumn("scheme", expr("lower(split(nofrag, '://')[0])"))
          .withColumn("rest", expr("split(nofrag, '://')[1]"))
          .withColumn("hostpath", expr("split(rest, '\\\\?')[0]"))
          .withColumn("query", expr("split(rest, '\\\\?')[1]"))
          .withColumn("host", expr(
            """regexp_replace(regexp_replace(
                 lower(split(hostpath, '/')[0]), '^www\\.', ''), ':80$', '')"""))
          .withColumn("path", expr(
            """regexp_replace(substring(hostpath, instr(hostpath, '/')), '/$', '')"""))
          .withColumn("cq", expr(
            """array_join(array_sort(filter(split(coalesce(query, ''), '&'),
                 p -> p != '' AND NOT p LIKE 'utm_%' AND NOT p LIKE 'fbclid=%')), '&')"""))
          .withColumn("canonical", expr(
            """concat(scheme, '://', host, path,
                 CASE WHEN cq = '' THEN '' ELSE concat('?', cq) END)"""))
          .groupBy("canonical")
          .agg(count(lit(1)).as("n_raw"),
            countDistinct(col("url")).as("n_distinct_raw"))
          .orderBy("canonical")
      },
      Some("""WITH g AS (
          SELECT doc_id,
            CASE WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END
              || '://'
              || CASE WHEN doc_id % 4 = 2 THEN 'blog.example.com'
                      ELSE 'example.com' END
              || '/a/' || CAST(doc_id % 50 AS VARCHAR)
              || '?q=' || CAST(doc_id % 7 AS VARCHAR) AS canonical,
            CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END || '://'
              || CASE WHEN doc_id % 4 = 0 THEN 'WWW.Example.COM'
                      WHEN doc_id % 4 = 1 THEN 'example.com'
                      WHEN doc_id % 4 = 2 THEN 'Blog.Example.com'
                      ELSE 'EXAMPLE.COM:80' END
              || '/a/' || CAST(doc_id % 50 AS VARCHAR)
              || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
              || '?'
              || CASE WHEN doc_id % 2 = 0
                      THEN 'utm_source=x&q=' || CAST(doc_id % 7 AS VARCHAR)
                      ELSE 'q=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=y' END
              || CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END AS url
          FROM documents)
        SELECT canonical, count(*) AS n_raw,
          count(DISTINCT url) AS n_distinct_raw
        FROM g GROUP BY canonical ORDER BY canonical""")),

    // ---- chat-conversation structure lint (SFT-data QC) ----
    // Instruction-tuning corpora are conversations whose structure must
    // hold: starts with user, strict role alternation, ends on an
    // assistant turn. Render synthetic multi-turn transcripts (with a
    // deterministic violation class), PARSE them back line-by-line with
    // HOFs, and census the structure classes with per-role char mass —
    // the accept/reject report an SFT ingest job emits. Map-only parse,
    // one tiny-cardinality agg. The oracle derives every class from the
    // generating arithmetic without parsing.
    "pipe_chat_turns" -> Q(
      (s, dir) => {
        val convs = t(s, dir, "documents").selectExpr("doc_id",
          """array_join(transform(sequence(0, 1 + cast(doc_id % 5 as int)), i ->
               concat(
                 CASE WHEN i = 1 AND doc_id % 7 = 0 THEN 'user'
                      WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END,
                 ': msg', i)), chr(10)) AS transcript""")
        convs
          .withColumn("turns", expr(
            """transform(split(transcript, '\\n'), l ->
                 named_struct('role', split(l, ': ')[0],
                   'chars', length(split(l, ': ')[1])))"""))
          .selectExpr(
            "size(turns) AS n_turns",
            "turns[0].role = 'user' AS starts_user",
            "element_at(turns, -1).role = 'assistant' AS ends_assistant",
            """aggregate(sequence(1, size(turns) - 1), true,
                 (a, i) -> a AND turns[i].role != turns[i - 1].role) AS alternates""",
            """aggregate(filter(turns, t -> t.role = 'user'), 0L,
                 (a, t) -> a + t.chars) AS user_chars""",
            """aggregate(filter(turns, t -> t.role = 'assistant'), 0L,
                 (a, t) -> a + t.chars) AS asst_chars""")
          .groupBy("n_turns", "starts_user", "ends_assistant", "alternates")
          .agg(count(lit(1)).as("n_convs"),
            sum(col("user_chars")).as("user_chars"),
            sum(col("asst_chars")).as("asst_chars"))
          .orderBy("n_turns", "alternates", "ends_assistant")
      },
      Some("""WITH d AS (
          SELECT doc_id, 2 + CAST(doc_id % 5 AS INTEGER) AS n_turns,
            doc_id % 7 = 0 AS violated
          FROM documents),
        c AS (
          SELECT n_turns, TRUE AS starts_user,
            -- last turn index n-1: violated docs flip only turn 1 to user
            CASE WHEN violated AND n_turns = 2 THEN FALSE
                 ELSE (n_turns - 1) % 2 = 1 END AS ends_assistant,
            NOT violated AS alternates,
            -- every message is 'msgI' (i <= 6, single digit): 4 chars
            4 * (CASE WHEN violated THEN 1 ELSE 0 END
                 + CAST(ceil(n_turns / 2.0) AS INTEGER)) AS user_chars,
            4 * (CASE WHEN violated THEN n_turns - CAST(ceil(n_turns / 2.0) AS INTEGER) - 1
                 ELSE n_turns - CAST(ceil(n_turns / 2.0) AS INTEGER) END) AS asst_chars
          FROM d)
        SELECT CAST(n_turns AS INTEGER) AS n_turns, starts_user, ends_assistant,
          alternates, count(*) AS n_convs,
          CAST(sum(user_chars) AS BIGINT) AS user_chars,
          CAST(sum(asst_chars) AS BIGINT) AS asst_chars
        FROM c GROUP BY ALL ORDER BY n_turns, alternates, ends_assistant""")),

    // ---- T5-style span-corruption plan (denoising-target stats) ----
    // Building span-corruption training targets needs, per document,
    // the deterministic mask (here (doc_id*31 + i*17 + i*i*5) % 11 < 3
    // — shared arithmetic, NOT an engine hash, so both engines derive
    // the same mask; the QUADRATIC term varies consecutive-mask gaps,
    // where a constant stride mod m can only ever produce runs of one
    // fixed length), the masked runs, and corpus-level span-length accounting
    // (sentinel budget = spans/doc, token loss = masked fraction). The
    // per-doc walk is ONE linear fold over token positions (no
    // explode-then-window: at 100 TB the token explode is the thing to
    // avoid); only span-length rows shuffle, at histogram cardinality.
    "pipe_span_corruption" -> Q(
      (s, dir) => {
        t(s, dir, "documents")
          .selectExpr("doc_id", "size(split(text, ' ')) AS n")
          .selectExpr("doc_id", "n",
            """aggregate(sequence(1, n),
                 named_struct('spans', cast(array() as array<int>), 'run', 0),
                 (acc, i) -> CASE
                   WHEN (doc_id * 31 + i * 17 + i * i * 5) % 11 < 3
                     THEN named_struct('spans', acc.spans, 'run', acc.run + 1)
                   WHEN acc.run > 0
                     THEN named_struct('spans', concat(acc.spans, array(acc.run)), 'run', 0)
                   ELSE acc END,
                 acc -> CASE WHEN acc.run > 0
                   THEN concat(acc.spans, array(acc.run)) ELSE acc.spans END) AS spans""")
          .select(explode(col("spans")).as("span_len"))
          .groupBy("span_len")
          .agg(count(lit(1)).as("n_spans"),
            sum(col("span_len")).cast("long").as("masked_tokens"))
          .orderBy("span_len")
      },
      Some("""WITH d AS (
          SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        pos AS (
          SELECT doc_id, unnest(range(1, n + 1)) AS i FROM d),
        m AS (
          SELECT doc_id, i FROM pos
          WHERE (doc_id * 31 + i * 17 + i * i * 5) % 11 < 3),
        runs AS (
          SELECT doc_id, i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
          FROM m),
        spans AS (
          SELECT doc_id, grp, count(*) AS span_len
          FROM runs GROUP BY doc_id, grp)
        SELECT CAST(span_len AS INTEGER) AS span_len, count(*) AS n_spans,
          CAST(sum(span_len) AS BIGINT) AS masked_tokens
        FROM spans GROUP BY span_len ORDER BY span_len""")),

    // ---- common-neighbors link prediction ----
    // The simplest link predictor a dedup/graph pipeline ships: for
    // every non-adjacent node pair at distance 2, the number of
    // shared neighbors, top-20 by (score desc, pair). Same synthetic
    // ring+hash graph as pipe_triangle_stats. Shape: the adjacency is
    // DEGREE-CLIPPED before the wedge self-join — each node keeps its
    // c = 8 lowest-id neighbors (deterministic, no ties: neighbor ids
    // are distinct, so both engines clip identically) — which caps
    // the wedge candidate mass at n*c^2 instead of sum(deg^2): the
    // synthetic hash hubs reach degree ~2500 at sf10, ~1.2e9 wedge
    // rows unclipped, vs O(n*64) clipped. Counting common neighbors
    // over the clipped adjacency is the standard large-graph
    // approximation (hub neighborhoods are sampled, not enumerated).
    // The wedge then drops existing edges via a broadcast-able anti
    // join; the final top-20 is a bounded TakeOrdered, not a global
    // sort.
    "pipe_link_prediction" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ring = docs.where(col("doc_id") < 60)
          .select(col("doc_id").as("src"),
            explode(array((col("doc_id") + 1) % 60,
              (col("doc_id") + 2) % 60)).as("dst"))
        val hash = docs.select(col("doc_id").as("src"),
            explode(array(lit(1), lit(2))).as("k"))
          .select(col("src"), ((col("src") * 11 + col("k") * 73) % 400).as("dst"))
        val e = ring.union(hash).where(col("src") =!= col("dst"))
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .distinct()
        // undirected adjacency (both directions), degree-clipped to
        // the c lowest-id neighbors per node before the wedge join
        val adj = e.select(col("a").as("n"), col("b").as("m"))
          .union(e.select(col("b").as("n"), col("a").as("m")))
          .withColumn("rnb",
            row_number().over(Window.partitionBy("n").orderBy("m")))
          .where(col("rnb") <= 8).select("n", "m")
        val wedges = adj.as("l").join(adj.as("r"), Seq("n"))
          .where(col("l.m") < col("r.m"))
          .select(col("l.m").as("x"), col("r.m").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("cn"))
        wedges.join(e, col("x") === col("a") && col("y") === col("b"),
            "left_anti")
          .orderBy(col("cn").desc, col("x"), col("y"))
          .limit(20)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("cn").desc, col("x"), col("y"))))
          .select("rn", "x", "y", "cn")
      },
      Some("""WITH raw AS (
          SELECT doc_id AS src, (doc_id + 1) % 60 AS dst FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id, (doc_id + 2) % 60 FROM documents WHERE doc_id < 60
          UNION ALL
          SELECT doc_id, (doc_id * 11 + k * 73) % 400
          FROM documents, (VALUES (1), (2)) v(k)),
        e AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
          FROM raw WHERE src <> dst),
        adj0 AS (SELECT a AS n, b AS m FROM e UNION ALL SELECT b, a FROM e),
        adj AS (SELECT n, m FROM (
            SELECT n, m, row_number() OVER (PARTITION BY n ORDER BY m) AS rnb
            FROM adj0) WHERE rnb <= 8),
        wedges AS (SELECT l.m AS x, r.m AS y, count(*) AS cn
          FROM adj l JOIN adj r ON l.n = r.n AND l.m < r.m
          GROUP BY l.m, r.m),
        cand AS (SELECT x, y, cn FROM wedges w
          WHERE NOT EXISTS (SELECT 1 FROM e WHERE a = w.x AND b = w.y)),
        ranked AS (SELECT row_number() OVER (ORDER BY cn DESC, x, y) AS rn,
            x, y, CAST(cn AS BIGINT) AS cn
          FROM cand)
        SELECT rn, x, y, cn FROM ranked WHERE rn <= 20 ORDER BY rn""")),

    // ---- small-file compaction plan (the lakehouse table service) ----
    // OPTIMIZE/compaction planning over a file manifest: files (docs
    // stand in, n_chars = bytes) pack first-fit in (source, doc_id)
    // order into target-size groups — group = floor(preceding-bytes /
    // target), the bin assignment a Delta/Iceberg compactor computes
    // from its manifest. The running sum is a window PARTITIONED BY
    // source (a real deployment adds a date bucket to the key), so
    // the plan parallelizes per table partition; the report collapses
    // to one row per source: groups, spill groups (past-target bins),
    // mean fill. Integer micro throughout.
    "pipe_compaction_plan" -> Q(
      (s, dir) => {
        val target = 6000L
        val planned = t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("grp",
            expr(s"coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) div $target"))
        planned.groupBy("source", "grp")
          .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bytes"))
          .groupBy("source")
          .agg(sum(col("n_files")).as("n_files"),
            count(lit(1)).as("n_groups"),
            sum(col("bytes")).as("total_bytes"),
            sum(when(col("bytes") > target, 1L).otherwise(0L)).as("spill_groups"))
          .selectExpr("source", "n_files", "n_groups", "total_bytes",
            "spill_groups",
            s"1000000 * total_bytes div (n_groups * ${target}L) AS fill_micro")
          .orderBy("source")
      },
      Some("""WITH planned AS (SELECT source, doc_id, n_chars,
            coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 6000
              AS grp
          FROM documents),
        groups AS (SELECT source, grp, count(*) AS n_files,
            CAST(sum(n_chars) AS BIGINT) AS bytes
          FROM planned GROUP BY source, grp)
        SELECT source, CAST(sum(n_files) AS BIGINT) AS n_files,
          count(*) AS n_groups, CAST(sum(bytes) AS BIGINT) AS total_bytes,
          CAST(sum(CASE WHEN bytes > 6000 THEN 1 ELSE 0 END) AS BIGINT)
            AS spill_groups,
          CAST(1000000 * sum(bytes) // (count(*) * 6000) AS BIGINT)
            AS fill_micro
        FROM groups GROUP BY source ORDER BY source""")),

    // ---- dedup savings audit: tokens removed by the keep-lowest
    //      MinHash policy ----
    // The number a dedup run is judged by in a training-data budget
    // review: how many TOKENS (not documents) does dropping the
    // higher id of every J>=0.8 pair remove? Reuses the shared LSH
    // scale path (banded equi-join — never all-pairs), joins the drop
    // set back as a LEFT join flag onto the per-doc token counts, and
    // collapses to one audit row; saved_micro is the fraction of
    // corpus token mass removed, in integer micro units. At 100 TB
    // the drop set is pair-bounded and the token frame is one map-only
    // projection — nothing here is corpus-quadratic.
    "pipe_dedup_savings" -> Q(
      (s, dir) => {
        val toks = t(s, dir, "documents").selectExpr("doc_id",
          "size(filter(split(text, ' '), x -> x != '')) AS n_tok")
        val drops = Dedup.lshVerifiedPairs(s, dir)
          .select(col("id_b").as("doc_id")).distinct()
          .withColumn("dropped", lit(1))
        toks.join(drops, Seq("doc_id"), "left")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("tokens_total"),
            sum(expr("IF(dropped = 1, 1, 0)")).as("n_dropped"),
            sum(expr("IF(dropped = 1, n_tok, 0)")).as("tokens_dropped"))
          .selectExpr("n_docs", "tokens_total", "n_dropped", "tokens_dropped",
            // 1e6 * token mass passes int64 at corpus scale — widen the
            // product at the source (the rel_rate_correlation advice class)
            """CAST(1000000 * CAST(tokens_dropped AS DECIMAL(38,0))
                 div tokens_total AS BIGINT) AS saved_micro""")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
          FROM documents),
        sh AS (SELECT doc_id,
            list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           for i in range(1, len(w) - 1)]) AS sh
          FROM w WHERE len(w) >= 3),
        drops AS (SELECT DISTINCT b.doc_id
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE 5 * len(list_intersect(a.sh, b.sh))
            >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
        toks AS (SELECT doc_id,
            len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
          FROM documents)
        SELECT count(*) AS n_docs,
          CAST(sum(n_tok) AS BIGINT) AS tokens_total,
          CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped,
          CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN n_tok ELSE 0 END)
            AS BIGINT) AS tokens_dropped,
          CAST(1000000 * sum(CASE WHEN d.doc_id IS NOT NULL THEN n_tok ELSE 0 END)
            // sum(n_tok) AS BIGINT) AS saved_micro
        FROM toks t LEFT JOIN drops d ON t.doc_id = d.doc_id"""))
  )
}
