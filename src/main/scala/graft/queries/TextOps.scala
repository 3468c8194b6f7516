package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.pipeline.{CorpusOps, Exec}

/** Text-analysis operators for a training-data pipeline: language ID
  * (stopword heuristic), quality scoring, token counting, and document
  * fingerprinting (k-gram winnowing minimum). All are per-row
  * higher-order-function expressions — no shuffle, full codegen, scale
  * linearly with the corpus.
  */
object TextOps {
  import Q.t

  /** (lang, stopword list) — tiny on purpose; the operator is the
    * mechanism, sized for codegen (the real lists would be ~100 words). */
  private val StopLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "et", "est", "un", "une"),
    "es" -> Seq("el", "los", "y", "es", "un", "una"))

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  val qs: Map[String, Q] = Map(

    // ---- language ID: argmax of stopword hits, deterministic tie-break ----
    "text_language_id" -> Q(
      (s, dir) => {
        val scores = StopLists.map { case (lang, ws) =>
          expr(s"size(array_intersect(toks, array(${sqlList(ws)})))").as(s"s_$lang")
        }
        val caseChain = StopLists.map { case (lang, _) =>
          s"WHEN best = s_$lang THEN '$lang'"
        }.mkString(" ")
        t(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(Seq(col("doc_id"), col("lang")) ++ scores: _*)
          .withColumn("best", greatest(StopLists.map(l => col(s"s_${l._1}")): _*))
          .selectExpr("doc_id", "lang",
            s"CASE WHEN best = 0 THEN 'und' $caseChain END AS predicted")
          .withColumn("agrees", col("predicted") === col("lang"))
          .orderBy("doc_id")
      },
      Some {
        val scoreExprs = StopLists.map { case (lang, ws) =>
          s"len(list_intersect(string_split(text, ' '), [${sqlList(ws)}])) AS s_$lang"
        }.mkString(", ")
        val caseChain = StopLists.map { case (lang, _) =>
          s"WHEN best = s_$lang THEN '$lang'"
        }.mkString(" ")
        val greatest = s"greatest(${StopLists.map(l => s"s_${l._1}").mkString(", ")})"
        s"""WITH d AS (SELECT doc_id, lang, $scoreExprs FROM documents),
          p AS (SELECT doc_id, lang, $greatest AS best, * EXCLUDE (doc_id, lang) FROM d)
          SELECT doc_id, lang,
            CASE WHEN best = 0 THEN 'und' $caseChain END AS predicted,
            (CASE WHEN best = 0 THEN 'und' $caseChain END) = lang AS agrees
          FROM p ORDER BY doc_id"""
      }),

    // ---- quality scoring: structural ratios + a combined score ----
    "text_quality" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .selectExpr(
            "doc_id",
            "length(text) AS n_chars_m",
            "size(toks) AS n_tokens",
            "round(cast(length(regexp_replace(text, '[^a-z]', '')) as double) / length(text), 6) AS alpha_ratio",
            """round(cast(size(array_intersect(toks, array('the', 'a', 'and', 'of', 'to', 'in', 'is'))) as double)
               / size(toks), 6) AS stop_ratio""",
            "round(cast(length(text) as double) / size(toks), 6) AS mean_tok_len")
          .withColumn("quality_ok",
            col("n_tokens") >= 10 && col("alpha_ratio") >= 0.5 && col("mean_tok_len") <= 12)
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
          length(text) AS n_chars_m,
          len(string_split(text, ' ')) AS n_tokens,
          round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_ratio,
          round(CAST(len(list_intersect(string_split(text, ' '), ['the', 'a', 'and', 'of', 'to', 'in', 'is'])) AS DOUBLE)
                / len(string_split(text, ' ')), 6) AS stop_ratio,
          round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS mean_tok_len,
          len(string_split(text, ' ')) >= 10
            AND round(CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE) / length(text), 6) >= 0.5
            AND round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) <= 12 AS quality_ok
        FROM documents ORDER BY doc_id""")),

    // ---- term burstiness (Fano factor, exact rational) ----
    // Bursty terms cluster in few documents (topical words); uniform
    // terms spread evenly (function words). The variance-to-mean
    // ratio over per-doc counts — INCLUDING the zero docs, which is
    // where naive implementations go wrong — stays an exact integer
    // pair: with n docs, Σx and Σx² over occurrences only,
    // VMR = (n·Σx² − (Σx)²) / (n·Σx). Top-10 by (VMR desc, term).
    // The n·Σx² term needs no zero rows because zeros add nothing to
    // either sum; n comes from one corpus-count scalar.
    "text_burstiness" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val counts = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("x"))
          .groupBy("tok")
          .agg(sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
            count(lit(1)).as("df"))
        val w = Window.orderBy(col("vmr_micro").desc, col("tok").asc)
        counts.crossJoin(broadcast(nDocs))
          .selectExpr("tok", "df", "sx",
            "n_docs * sxx - sx * sx AS fano_num",
            "n_docs * sx AS fano_den",
            "1000000 * (n_docs * sxx - sx * sx) div (n_docs * sx) AS vmr_micro")
          .withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
          .select("rk", "tok", "df", "sx", "fano_num", "fano_den", "vmr_micro")
          .orderBy("rk")
      },
      Some("""WITH nd AS (SELECT count(*) AS n_docs FROM documents),
        tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        c AS (SELECT doc_id, tok, count(*) AS x FROM tk WHERE tok <> ''
          GROUP BY doc_id, tok),
        a AS (SELECT tok, CAST(sum(x) AS BIGINT) AS sx,
            CAST(sum(x * x) AS BIGINT) AS sxx, count(*) AS df
          FROM c GROUP BY tok),
        r AS (SELECT tok, df, sx,
            CAST(nd.n_docs * sxx - sx * sx AS BIGINT) AS fano_num,
            CAST(nd.n_docs * sx AS BIGINT) AS fano_den,
            CAST(1000000 * (nd.n_docs * sxx - sx * sx)
              // (nd.n_docs * sx) AS BIGINT) AS vmr_micro
          FROM a, nd),
        rk AS (SELECT *, row_number() OVER
            (ORDER BY vmr_micro DESC, tok ASC) AS rk FROM r)
        SELECT CAST(rk AS INTEGER) AS rk, tok, df, sx, fano_num, fano_den, vmr_micro
        FROM rk WHERE rk <= 10 ORDER BY rk""")),

    // ---- distinctive terms per source (keyness mining) ----
    // "What words make this source different": per (source, term),
    // the smoothed relative risk of the term in-source vs the rest of
    // the corpus, in micro fixed-point (a*rest_mass vs elsewhere —
    // +1-smoothed so unique-to-source terms rank without dividing by
    // zero). Top-3 per source by (risk desc, term asc). Token explode
    // -> two keyed aggs -> a broadcast of the tiny term-total table;
    // integer throughout.
    "text_distinctive_terms" -> Q(
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= "")
        val bySrc = toks.groupBy("source", "tok").agg(count(lit(1)).as("a"))
        val srcTotals = toks.groupBy("source").agg(count(lit(1)).as("src_mass"))
        val termTotals = toks.groupBy("tok").agg(count(lit(1)).as("term_mass"))
        val total = toks.agg(count(lit(1)).as("all_mass"))
        val w = Window.partitionBy("source")
          .orderBy(col("risk_micro").desc, col("tok").asc)
        bySrc.join(broadcast(srcTotals), Seq("source"))
          .join(broadcast(termTotals), Seq("tok"))
          .crossJoin(broadcast(total))
          .selectExpr("source", "tok", "a",
            """1000000 * a * (all_mass - src_mass)
                 div ((term_mass - a + 1) * src_mass) AS risk_micro""")
          .withColumn("rk", row_number().over(w)).where(col("rk") <= 3)
          .select("source", "rk", "tok", "a", "risk_micro")
          .orderBy("source", "rk")
      },
      Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        f AS (SELECT source, tok FROM toks WHERE tok <> ''),
        b AS (SELECT source, tok, count(*) AS a FROM f GROUP BY source, tok),
        st AS (SELECT source, count(*) AS src_mass FROM f GROUP BY source),
        tt AS (SELECT tok, count(*) AS term_mass FROM f GROUP BY tok),
        al AS (SELECT count(*) AS all_mass FROM f),
        r AS (SELECT b.source, b.tok, b.a,
            CAST(1000000 * b.a * (al.all_mass - st.src_mass)
              // ((tt.term_mass - b.a + 1) * st.src_mass) AS BIGINT) AS risk_micro
          FROM b JOIN st ON st.source = b.source
                 JOIN tt ON tt.tok = b.tok, al),
        rk AS (SELECT *, row_number() OVER (PARTITION BY source
            ORDER BY risk_micro DESC, tok ASC) AS rk FROM r)
        SELECT source, CAST(rk AS INTEGER) AS rk, tok, a, risk_micro
        FROM rk WHERE rk <= 3 ORDER BY source, rk""")),

    // ---- language-ID confusion matrix ----
    // The eval rollup of the text_language_id classifier: (true lang,
    // predicted) counts plus each cell's share of its true-lang row in
    // micro fixed-point — the recall diagonal and the confusion mass
    // in one bounded (langs × langs) frame. Same scorer expressions as
    // text_language_id; one grouped agg + a partition-sum window over
    // the tiny matrix.
    "text_langid_confusion" -> Q(
      (s, dir) => {
        val scores = StopLists.map { case (lang, ws) =>
          expr(s"size(array_intersect(toks, array(${sqlList(ws)})))").as(s"s_$lang")
        }
        val caseChain = StopLists.map { case (lang, _) =>
          s"WHEN best = s_$lang THEN '$lang'"
        }.mkString(" ")
        val m = t(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .select(Seq(col("lang")) ++ scores: _*)
          .withColumn("best", greatest(StopLists.map(l => col(s"s_${l._1}")): _*))
          .selectExpr("lang",
            s"CASE WHEN best = 0 THEN 'und' $caseChain END AS predicted")
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("lang")
        m.withColumn("lang_total", sum(col("n")).over(w))
          .selectExpr("lang", "predicted", "n",
            "1000000 * n div lang_total AS row_share_micro")
          .orderBy("lang", "predicted")
      },
      Some {
        val scoreExprs = StopLists.map { case (lang, ws) =>
          s"len(list_intersect(string_split(text, ' '), [${sqlList(ws)}])) AS s_$lang"
        }.mkString(", ")
        val caseChain = StopLists.map { case (lang, _) =>
          s"WHEN best = s_$lang THEN '$lang'"
        }.mkString(" ")
        val greatest = s"greatest(${StopLists.map(l => s"s_${l._1}").mkString(", ")})"
        s"""WITH d AS (SELECT lang, $scoreExprs FROM documents),
          p AS (SELECT lang, $greatest AS best, * EXCLUDE (lang) FROM d),
          c AS (SELECT lang,
              CASE WHEN best = 0 THEN 'und' $caseChain END AS predicted FROM p),
          m AS (SELECT lang, predicted, count(*) AS n FROM c GROUP BY lang, predicted),
          tt AS (SELECT m.*, sum(n) OVER (PARTITION BY lang) AS lang_total FROM m)
          SELECT lang, predicted, n,
            CAST(1000000 * n // lang_total AS BIGINT) AS row_share_micro
          FROM tt ORDER BY lang, predicted"""
      }),

    // ---- Gopher quality rules (Rae et al. 2021, table A1) ----
    // The rule battery every LLM-corpus curation run starts from,
    // in the all-integer fixed-point discipline: word count bounds,
    // mean word length bounds (micro fixed-point — chars exclude the
    // wc-1 separator spaces), distinct-stopword floor, and the
    // symbol-to-word ceiling ('#' and '...'). Map-only, full codegen,
    // no shuffle; every division is non-negative so div == //.
    "text_gopher_filter" -> Q(
      (s, dir) => t(s, dir, "documents")
        .selectExpr("doc_id",
          "cast(size(split(text, ' ')) as bigint) AS wc",
          "cast(length(text) as bigint) AS nch",
          "cast(size(array_intersect(split(text, ' '), " +
            "array('the', 'a', 'and', 'of', 'to', 'in', 'is'))) as bigint) AS stop_distinct",
          "cast(length(text) - length(replace(text, '#', '')) as bigint) + " +
            "cast((length(text) - length(replace(text, '...', ''))) div 3 as bigint) AS n_symbols")
        .selectExpr("doc_id", "wc", "stop_distinct", "n_symbols",
          "1000000 * (nch - (wc - 1)) div wc AS mean_wlen_micro",
          "1000000 * n_symbols div wc AS symbol_micro")
        .selectExpr("doc_id", "wc", "mean_wlen_micro", "stop_distinct",
          "symbol_micro",
          "CASE WHEN wc BETWEEN 50 AND 100000 " +
            "AND mean_wlen_micro BETWEEN 3000000 AND 10000000 " +
            "AND stop_distinct >= 2 AND symbol_micro < 100000 " +
            "THEN 1 ELSE 0 END AS gopher_pass")
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS BIGINT) AS wc,
            CAST(length(text) AS BIGINT) AS nch,
            CAST(len(list_intersect(string_split(text, ' '),
              ['the', 'a', 'and', 'of', 'to', 'in', 'is'])) AS BIGINT) AS stop_distinct,
            CAST(length(text) - length(replace(text, '#', ''))
              + (length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols
          FROM documents),
        m AS (SELECT doc_id, wc, stop_distinct, n_symbols,
            1000000 * (nch - (wc - 1)) // wc AS mean_wlen_micro,
            1000000 * n_symbols // wc AS symbol_micro FROM d)
        SELECT doc_id, wc, mean_wlen_micro, stop_distinct, symbol_micro,
          CAST(CASE WHEN wc BETWEEN 50 AND 100000
               AND mean_wlen_micro BETWEEN 3000000 AND 10000000
               AND stop_distinct >= 2 AND symbol_micro < 100000
               THEN 1 ELSE 0 END AS INTEGER) AS gopher_pass
        FROM m ORDER BY doc_id""")),

    // ---- lexical diversity (type-token ratio + hapax mass) ----
    // The vocabulary-richness profile (TTR, distinct types, hapax
    // legomena) repetitive machine-generated text fails: one
    // per-document grouped count over the exploded tokens, then a
    // per-document reduce — both shuffles keyed by doc_id, so the
    // corpus dimension scales out linearly.
    "text_lexical_diversity" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .selectExpr("doc_id", "n_tokens", "n_types", "n_hapax",
          "1000000 * n_types div n_tokens AS ttr_micro",
          "1000000 * n_hapax div n_types AS hapax_micro")
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        c AS (SELECT doc_id, tok, count(*) AS c FROM tk WHERE tok <> ''
          GROUP BY doc_id, tok),
        d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
            count(*) AS n_types,
            CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
          FROM c GROUP BY doc_id)
        SELECT doc_id, n_tokens, n_types, n_hapax,
          CAST(1000000 * n_types // n_tokens AS BIGINT) AS ttr_micro,
          CAST(1000000 * n_hapax // n_types AS BIGINT) AS hapax_micro
        FROM d ORDER BY doc_id""")),

    // ---- readability scoring (Flesch reading ease per source) ----
    // The corpus-level readability dashboard row: syllables
    // approximated as vowel-group runs, sentences as terminator runs
    // (floored at 1 — crawl text is often punctuation-free), and the
    // Flesch formula evaluated on INTEGER-EXACT per-source sums rather
    // than averaged per-doc doubles — summing longs keeps the result
    // independent of partition fold order, the same determinism
    // discipline as the decimal rule in Relational's header. One
    // source-keyed partial agg, no shuffle beyond it.
    "text_readability" -> Q(
      (s, dir) => t(s, dir, "documents")
        .selectExpr("source",
          "size(split(text, ' ')) AS w",
          "size(regexp_extract_all(lower(text), '[aeiouy]+', 0)) AS syl",
          "greatest(size(regexp_extract_all(text, '[.!?]+', 0)), 1) AS sen")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("w").cast("long")).as("total_words"),
          sum(col("syl").cast("long")).as("syl_sum"),
          sum(col("sen").cast("long")).as("sen_sum"))
        .selectExpr("source", "n_docs", "total_words",
          """round(206.835 - 1.015 * (cast(total_words as double) / sen_sum)
               - 84.6 * (cast(syl_sum as double) / total_words), 6) AS flesch""")
        .orderBy("source"),
      Some("""WITH d AS (SELECT source,
            len(string_split(text, ' ')) AS w,
            len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl,
            greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sen
          FROM documents)
        SELECT source, count(*) AS n_docs,
          CAST(sum(w) AS BIGINT) AS total_words,
          round(206.835 - 1.015 * (CAST(sum(w) AS DOUBLE) / sum(sen))
            - 84.6 * (CAST(sum(syl) AS DOUBLE) / sum(w)), 6) AS flesch
        FROM d GROUP BY source ORDER BY source""")),

    // ---- token counting: whitespace + BPE-ish regex segmentation ----
    "text_token_count" -> Q(
      (s, dir) =>
        t(s, dir, "documents")
          .selectExpr(
            "doc_id",
            "size(split(text, ' ')) AS ws_tokens",
            "size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS re_tokens",
            "length(text) AS n_chars_m")
          .orderBy("doc_id"),
      Some("""SELECT doc_id,
          len(string_split(text, ' ')) AS ws_tokens,
          len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
          length(text) AS n_chars_m
        FROM documents ORDER BY doc_id""")),

    // ---- TF-IDF: inverted-index aggregation + per-doc top terms ----
    // Two shuffles total (term stats, then per-doc window); the document
    // side never collects — the same shape ranks terms over any corpus
    // size. ln() on exact integer counts is deterministic across engines.
    "text_tfidf_top_terms" -> Q(
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val n = docs.count() // corpus size: driver-side scalar, one jobs
        val tf = docs.where(col("doc_id") < 100)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = docs
          .select(col("doc_id"), explode(expr("array_distinct(split(text, ' '))")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("df"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
        tf.join(df, "term")
          .withColumn("tfidf", expr(s"round(tf * ln(($n + 1.0) / (df + 1.0)), 6)"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select("doc_id", "rn", "term", "tf", "df", "tfidf")
          .orderBy("doc_id", "rn")
      },
      Some("""WITH tf AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents WHERE doc_id < 100),
        tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY doc_id, term),
        dfc AS (SELECT term, count(DISTINCT doc_id) AS df
                FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
                GROUP BY term),
        n AS (SELECT count(*) AS n FROM documents),
        scored AS (
          SELECT doc_id, tfc.term, tf, df,
            round(tf * ln((n.n + 1.0) / (df + 1.0)), 6) AS tfidf
          FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN n),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
                   FROM scored)
        SELECT doc_id, rn, term, tf, df, tfidf FROM ranked WHERE rn <= 3 ORDER BY doc_id, rn""")),

    // ---- fingerprint: winnowing minimum over 4-gram window hashes ----
    "text_fingerprint" -> Q(
      (s, dir) => {
        graft.functions.GraftFunctions.registerAll(s)
        t(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 4)
          .selectExpr("doc_id", "graft_min_gram_hash(w, 4) AS fingerprint")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
          list_min([CAST(('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]), 1, 8)) AS BIGINT)
                    for i in range(1, len(w) - 2)]) AS fingerprint
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        WHERE len(w) >= 4 ORDER BY doc_id""")),

    // ---- unigram-frequency rarity score (the LM-perplexity proxy) ----
    // CCNet-style quality filtering scores each doc under a corpus
    // language model; the exact-arithmetic analog of a unigram LM is
    // token-frequency statistics: per doc, the sum / min / mean of each
    // token's corpus-wide count. (The literal smoothed-LM NLL lives in
    // text_bigram_lm_nll below, made engine-reproducible by the
    // micro-nat integer discipline; the raw INTEGER frequency stats here
    // stay exactly reproducible with no rounding at all, the property a
    // lineage-stable filter wants when a ranking signal suffices.)
    // Two passes: vocab = one (tok) groupBy
    // whose result is vocabulary-sized, then a BROADCAST join back onto
    // the token stream — the corpus itself is never shuffled (gated in
    // PlanQualitySpec); the per-doc agg shuffles doc-keyed rows once.
    "text_unigram_rarity" -> Q(
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .where(length(col("text")) > 0)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        toks.join(broadcast(vocab), "tok")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(col("c")).as("freq_sum"),
            min(col("c")).as("rarest"))
          .withColumn("mean_freq",
            col("freq_sum").cast("double") / col("n_toks").cast("double"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents WHERE length(text) > 0),
        v AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
        SELECT t.doc_id AS doc_id, count(*) AS n_toks,
          CAST(sum(v.c) AS BIGINT) AS freq_sum,
          CAST(min(v.c) AS BIGINT) AS rarest,
          CAST(CAST(sum(v.c) AS BIGINT) AS DOUBLE) / count(*) AS mean_freq
        FROM toks t JOIN v USING (tok)
        GROUP BY t.doc_id ORDER BY doc_id""")),

    // ---- Count-Min-Sketch heavy hitters over 2-grams ----
    // The sketch is the scale mechanism: frequency state is a fixed
    // depth x width (3 x 2048) integer grid REGARDLESS of vocabulary
    // size, built by ONE bounded-cardinality aggregation — map-side
    // combine caps each partition's shuffle contribution at d*w rows,
    // where an exact count shuffles the full vocab. Candidate grams are
    // screened against the broadcast sketch (CMS never under-counts, so
    // est >= true count and no heavy hitter can be screened out), and
    // only survivors are exact-counted via a broadcast semi-style join —
    // the sketch-prune + exact-verify shape the LSH entries use for
    // pairs, applied to frequencies. Hash identity with the oracle:
    // three disjoint 8-hex-char md5 windows
    // (Spark conv(hex,16,10) == DuckDB CAST('0x'||hex AS BIGINT)).
    "text_heavy_hitters_cms" -> Q(
      (s, dir) => {
        // NO spread before the gram explode: measured back-to-back in
        // r13 (2.40 -> 4.03 s with a doc-keyed spread ahead of the
        // barrier) — even md5-per-gram work is too cheap at this tier
        // to pay for repartitioning the doc text plus 32-way tiny
        // stages on every downstream consumer. Same verdict as the
        // bigram core; the spread rule's paying cases stay the codec-
        // heavy media tables.
        val grams = t(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 2)
          .select(explode(expr(CorpusOps.gramExpr(2))).as("g"))
        CorpusOps.heavyHitters(grams, "g", threshold = 40).orderBy("g")
      },
      Some("""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
        g AS (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
              FROM d WHERE len(w) >= 2),
        b AS (SELECT g,
          CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT) % 2048 AS b0,
          CAST(('0x' || substr(md5(g), 9, 8)) AS BIGINT) % 2048 AS b1,
          CAST(('0x' || substr(md5(g), 17, 8)) AS BIGINT) % 2048 AS b2
          FROM g),
        s0 AS (SELECT b0, count(*) AS c0 FROM b GROUP BY 1),
        s1 AS (SELECT b1, count(*) AS c1 FROM b GROUP BY 1),
        s2 AS (SELECT b2, count(*) AS c2 FROM b GROUP BY 1),
        cand AS (SELECT DISTINCT g, b0, b1, b2 FROM b),
        screened AS (SELECT g, least(c0, c1, c2) AS est
          FROM cand JOIN s0 USING (b0) JOIN s1 USING (b1) JOIN s2 USING (b2)
          WHERE least(c0, c1, c2) >= 40)
        SELECT b.g AS g, CAST(s.est AS BIGINT) AS est,
          CAST(count(*) AS BIGINT) AS cnt
        FROM b JOIN screened s ON b.g = s.g
        GROUP BY b.g, s.est HAVING count(*) >= 40 ORDER BY g""")),

    // ---- BM25 top-k retrieval (Okapi, k1=1.2 b=0.75) ----
    // The retrieval shape a curation pipeline needs (e.g. "find corpus
    // docs matching an eval query" beyond exact n-gram decontamination).
    // Scale: the corpus is exploded ONCE and filtered to the query's
    // terms BEFORE any shuffle — the (doc, term) aggregate is bounded by
    // |matching docs| x |query|, not the corpus; df comes from that same
    // tiny frame; the per-term frame joins broadcast. No global window:
    // top-k is TakeOrdered. Determinism across engines: each term's
    // contribution is rounded to integer MICRO-points and summed as
    // BIGINT (order-independent — a double sum would depend on shuffle
    // order), and the only cross-engine float ops are two divisions and
    // one ln with identical operand order on both sides.
    "text_bm25_topk" -> Q(
      (s, dir) => CorpusOps.bm25TopK(t(s, dir, "documents"), Seq("dup", "spark", "join"), 10),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        dd AS (SELECT doc_id, len(w) AS dl, w FROM d),
        stats AS (SELECT count(*) AS n, sum(len(w)) AS tot FROM d),
        tfc AS (SELECT doc_id, dl, term, count(*) AS tf
                FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd)
                WHERE term IN ('dup', 'spark', 'join')
                GROUP BY doc_id, dl, term),
        dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
        c AS (SELECT doc_id,
          cast(round(1e6 * ln((n - df + 0.5) / (df + 0.5) + 1.0) * tf * 2.2 /
            (tf + 1.2 * (0.25 + 0.75 * (dl * n) / cast(tot as double))), 0) as bigint) AS c
          FROM tfc JOIN dfc USING (term) CROSS JOIN stats)
        SELECT doc_id, count(*) AS n_terms,
          cast(sum(c) AS double) / 1e6 AS score
        FROM c GROUP BY doc_id
        ORDER BY score DESC, doc_id LIMIT 10""")),

    // ---- smoothed bigram-LM mean NLL (the literal perplexity filter) ----
    // Completes what text_unigram_rarity proxies: a corpus-trained
    // add-one bigram LM scoring every doc's mean -ln P(w_i | w_{i-1}).
    // Cross-engine float determinism via integer micro-nat rounding —
    // see CorpusOps.bigramLmNll's scaladoc for the mechanism and 100 TB shape.
    "text_bigram_lm_nll" -> Q(
      (s, dir) => CorpusOps.bigramLmNll(t(s, dir, "documents")),
      Some("""WITH base AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents
          WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
        bgu AS (SELECT doc_id,
            unnest([{'prev': w[i], 'cur': w[i+1]} for i in range(1, len(w))]) AS u
          FROM base),
        bg AS (SELECT doc_id, u.prev AS prev, u.cur AS cur FROM bgu),
        c2 AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur),
        c1 AS (SELECT prev, count(*) AS c1 FROM bg GROUP BY prev),
        v AS (SELECT count(DISTINCT tok) AS vsz
              FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
              WHERE tok <> ''),
        scored AS (SELECT doc_id,
            CAST(round(-1e6 * ln((c2 + 1.0) / (c1 + vsz)), 0) AS BIGINT) AS micro
          FROM bg JOIN c2 USING (prev, cur) JOIN c1 USING (prev) CROSS JOIN v)
        SELECT doc_id, count(*) AS n_bigrams,
          round(CAST(sum(micro) AS DOUBLE) / count(*) / 1e6, 6) AS nll
        FROM scored GROUP BY doc_id ORDER BY doc_id""")),

    // ---- CCNet-style perplexity buckets (head / middle / tail) ----
    // The CCNet curation step after scoring: split the corpus into
    // perplexity terciles (keep the head, often drop the tail). The
    // tercile boundary is the k-th smallest NLL with k = ceil(n/3),
    // derived WITHOUT a corpus-wide ntile window (a global ntile is
    // one unpartitioned sort task — the classic scale trap): NLL
    // values collapse to a (value, count) frame first, the running
    // count over that frame is a window over DISTINCT SCORE VALUES
    // (bounded by score cardinality — round-6 NLLs, not docs), and
    // boundaries come off it as one aggregate (smallest value whose
    // cumulative count reaches n/3, integer-exact via cum*3 >= n).
    // Docs then bucket map-only against the one-row broadcast
    // boundary frame. At extreme scale the value frame itself is
    // what approx_percentile's sketch replaces; everything else here
    // is aggregates and a broadcast.
    "text_perplexity_buckets" -> Q(
      (s, dir) => CorpusOps.perplexityBuckets(t(s, dir, "documents")),
      Some("""WITH base AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents
          WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
        bgu AS (SELECT doc_id,
            unnest([{'prev': w[i], 'cur': w[i+1]} for i in range(1, len(w))]) AS u
          FROM base),
        bg AS (SELECT doc_id, u.prev AS prev, u.cur AS cur FROM bgu),
        c2 AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur),
        c1 AS (SELECT prev, count(*) AS c1 FROM bg GROUP BY prev),
        v AS (SELECT count(DISTINCT tok) AS vsz
              FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
              WHERE tok <> ''),
        scored AS (SELECT doc_id,
            CAST(round(-1e6 * ln((c2 + 1.0) / (c1 + vsz)), 0) AS BIGINT) AS micro
          FROM bg JOIN c2 USING (prev, cur) JOIN c1 USING (prev) CROSS JOIN v),
        nll AS (SELECT doc_id,
            round(CAST(sum(micro) AS DOUBLE) / count(*) / 1e6, 6) AS nll
          FROM scored GROUP BY doc_id),
        c AS (SELECT nll, count(*) AS cnt FROM nll GROUP BY nll),
        r AS (SELECT nll, cnt, sum(cnt) OVER (ORDER BY nll) AS cum,
            sum(cnt) OVER () AS n FROM c),
        b AS (SELECT min(CASE WHEN cum * 3 >= n THEN nll END) AS b1,
            min(CASE WHEN cum * 3 >= n * 2 THEN nll END) AS b2 FROM r)
        SELECT CASE WHEN nll <= b1 THEN 'head'
            WHEN nll <= b2 THEN 'middle' ELSE 'tail' END AS bucket,
          count(*) AS n_docs, min(nll) AS min_nll, max(nll) AS max_nll
        FROM nll CROSS JOIN b GROUP BY 1 ORDER BY bucket""")),

    // ---- Zipf / Heaps corpus-law profile ----
    // The rank-frequency power-law fit every corpus report carries:
    // ln(freq) ~ a + slope * ln(rank) over the TOP-K terms (the head is
    // where Zipf holds and where a degenerate corpus — boilerplate
    // explosion, templated spam — shows up as a slope far from -1).
    // Scale: term frequencies are one token-keyed groupBy (vocab-
    // bounded); the top-K cut is TakeOrdered (no global sort); the only
    // window runs over K=1000 rows, bounded by the CONSTANT K, not the
    // corpus. Determinism: each point is rounded to integer micro-log
    // space and the four regression sums are exact BIGINTs; the final
    // slope is one double expression over those five exact scalars,
    // written with identical operand order in both engines.
    "text_zipf_profile" -> Q(
      (s, dir) => CorpusOps.zipfProfile(t(s, dir, "documents")),
      Some("""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        f AS (SELECT tok, count(*) AS c FROM tok WHERE tok <> '' GROUP BY tok),
        top AS (SELECT tok, c FROM f ORDER BY c DESC, tok LIMIT 1000),
        r AS (SELECT row_number() OVER (ORDER BY c DESC, tok) AS rnk, c FROM top),
        p AS (SELECT CAST(round(1e6 * ln(rnk)) AS BIGINT) AS x,
                     CAST(round(1e6 * ln(c)) AS BIGINT) AS y FROM r),
        s AS (SELECT CAST(count(*) AS INTEGER) AS n_terms,
                     CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx FROM p),
        t AS (SELECT CAST(count(*) AS BIGINT) AS total_tokens,
                     CAST(count(DISTINCT tok) AS BIGINT) AS vocab
              FROM tok WHERE tok <> '')
        SELECT n_terms, vocab, total_tokens, sx, sy, sxy, sxx,
          round((CAST(n_terms AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                (CAST(n_terms AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 6) AS zipf_slope
        FROM s CROSS JOIN t""")),

    // ---- per-document token entropy (repetition / gibberish signal) ----
    // Shannon entropy of each document's token distribution, the
    // information-density cousin of the repetition ratio: templated or
    // looped text scores low, diverse prose scores high. Identity used:
    // H = ln(n) - (sum c*ln c)/n over per-doc token counts c, so the
    // plan is explode -> (doc,token) count -> doc-level agg — both aggs
    // map-side combine and nothing exceeds doc cardinality after the
    // first. Determinism: each doc's H rounds once to integer
    // micro-nats; the per-lang rollup then sums exact BIGINTs (the same
    // fixed-point discipline as bigram_lm_nll).
    "text_token_entropy" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "lang")
        .agg(sum("c").as("n"), sum(expr("c * ln(c)")).as("sclc"))
        .select(col("lang"),
          expr("cast(round(1e6 * (ln(n) - sclc / n)) as bigint)").as("h_micro"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("h_micro").as("sum_h_micro"),
          min("h_micro").as("min_h_micro"),
          max("h_micro").as("max_h_micro"))
        .orderBy("lang"),
      Some("""WITH tok AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        cnt AS (
          SELECT doc_id, lang, tok, count(*) AS c
          FROM tok WHERE tok <> '' GROUP BY doc_id, lang, tok),
        d AS (
          SELECT doc_id, lang, CAST(sum(c) AS BIGINT) AS n,
            sum(c * ln(c)) AS sclc
          FROM cnt GROUP BY doc_id, lang),
        h AS (
          SELECT lang,
            CAST(round(1e6 * (ln(n) - sclc / n)) AS BIGINT) AS h_micro
          FROM d)
        SELECT lang, count(*) AS n_docs,
          CAST(sum(h_micro) AS BIGINT) AS sum_h_micro,
          min(h_micro) AS min_h_micro, max(h_micro) AS max_h_micro
        FROM h GROUP BY lang ORDER BY lang""")),

    // ---- PMI collocations (top bigrams by pointwise mutual info) ----
    // The keyphrase/collocation-mining primitive: score each bigram by
    // ln(p(xy)/(p(x)p(y))), which with global totals T (bigrams) and U
    // (tokens) is ln(c_xy) + 2 ln U - ln T - ln c_x - ln c_y — written
    // in exactly that operand order on both engines, rounded once to
    // micro-nats, so the top-K ordering is over exact BIGINTs. Shape:
    // token and bigram streams barriered once and aggregated to TYPE
    // cardinality; the unigram tables rejoin the bigram TYPES (not the
    // stream) as keyed equi-joins with the strategy left to AQE (the
    // bigramLmNll rationale — vocab grows with the corpus, a forced
    // broadcast would eventually fail); totals are 1-row broadcasts.
    // The c_xy >= 5 support floor is applied BEFORE the joins, so join
    // input is the surviving-collocation set only.
    "text_pmi_bigrams" -> Q(
      (s, dir) => {
        val base = t(s, dir, "documents")
          .select(expr("filter(split(text, ' '), x -> x != '')").as("w"))
        val toks = Exec.barrier(base.select(explode(col("w")).as("tok")))
        val uni = toks.groupBy("tok").agg(count(lit(1)).as("c"))
        val uTotal = toks.agg(count(lit(1)).as("u_total"))
        val bg = Exec.barrier(base.where(size(col("w")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(w) - 1),
               i -> named_struct('x', w[i-1], 'y', w[i]))""")).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y")))
        val bgc = bg.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
        val tTotal = bg.agg(count(lit(1)).as("t_total"))
        bgc.where(col("c_xy") >= 5)
          .join(uni.select(col("tok").as("x"), col("c").as("c_x")), "x")
          .join(uni.select(col("tok").as("y"), col("c").as("c_y")), "y")
          .crossJoin(broadcast(uTotal)).crossJoin(broadcast(tTotal))
          .withColumn("pmi_micro", expr(
            """cast(round(1e6 * (ln(c_xy) + 2 * ln(u_total) - ln(t_total)
               - ln(c_x) - ln(c_y))) as bigint)"""))
          .select("x", "y", "c_xy", "c_x", "c_y", "pmi_micro")
          .orderBy(col("pmi_micro").desc, col("x"), col("y"))
          .limit(20)
      },
      Some("""WITH lists AS (
          SELECT list_filter(string_split(text, ' '), t -> t <> '') AS l
          FROM documents),
        toks AS (SELECT unnest(l) AS tok FROM lists),
        uni AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        ut AS (SELECT CAST(count(*) AS BIGINT) AS u_total FROM toks),
        bg AS (
          SELECT unnest([l[i] for i in range(1, len(l))]) AS x,
                 unnest([l[i + 1] for i in range(1, len(l))]) AS y
          FROM lists WHERE len(l) >= 2),
        bgc AS (SELECT x, y, count(*) AS c_xy FROM bg GROUP BY x, y),
        tt AS (SELECT CAST(count(*) AS BIGINT) AS t_total FROM bg)
        SELECT bgc.x, bgc.y, bgc.c_xy,
          ux.c AS c_x, uy.c AS c_y,
          CAST(round(1e6 * (ln(c_xy) + 2 * ln(u_total) - ln(t_total)
            - ln(ux.c) - ln(uy.c))) AS BIGINT) AS pmi_micro
        FROM bgc
        JOIN uni ux ON bgc.x = ux.tok
        JOIN uni uy ON bgc.y = uy.tok
        CROSS JOIN ut CROSS JOIN tt
        WHERE c_xy >= 5
        ORDER BY pmi_micro DESC, bgc.x, bgc.y
        LIMIT 20""")),

    // ---- RAKE keyphrase extraction (Rose et al. 2010) ----
    // Candidate phrases are maximal stopword-free runs; each word's
    // degree is the summed length of the phrases it appears in, its
    // score deg/freq (per document, in micro fixed-point integer
    // division), and a phrase scores the sum of its words. Four
    // engineered templates with hand-computed winners — including two
    // score-tie templates that pin the deterministic (score desc,
    // phrase asc) tie-break. Per-doc word stats keep the shuffle keyed
    // by (doc, word): nothing corpus-global, Heaps-law safe.
    "text_rake_keyphrases" -> Q(
      (s, _) => {
        val docs = s.range(200).selectExpr("id AS doc_id",
          "CASE cast(id % 4 as int) " +
            "WHEN 0 THEN 'red apple of green pear' " +
            "WHEN 1 THEN 'big data of big model' " +
            "WHEN 2 THEN 'alpha of beta and gamma delta' " +
            "ELSE 'one two three of one' END AS text")
        val phrases = docs.selectExpr("doc_id",
            "explode(filter(transform(split(text, ' (of|and|the|to|in|is|a) '), p -> trim(p)), p -> p != '')) AS phrase")
          .selectExpr("doc_id", "phrase", "split(phrase, ' ') AS ws",
            "size(split(phrase, ' ')) AS plen")
        val wstats = phrases
          .selectExpr("doc_id", "plen", "explode(ws) AS w")
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("freq"), sum(col("plen")).as("deg"))
          .selectExpr("doc_id", "w", "deg * 1000000L div freq AS wscore")
        val scored = phrases
          .selectExpr("doc_id", "phrase", "explode(ws) AS w")
          .join(wstats, Seq("doc_id", "w"))
          .groupBy(col("doc_id"), col("phrase"))
          .agg(sum(col("wscore")).as("score_micro"))
        scored.withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(col("score_micro").desc, col("phrase").asc)))
          .where(col("rk") === 1).drop("rk")
          .orderBy("doc_id")
      },
      Some("""SELECT i AS doc_id,
          CASE CAST(i % 4 AS INTEGER)
            WHEN 0 THEN 'green pear' WHEN 1 THEN 'big data'
            WHEN 2 THEN 'gamma delta' ELSE 'one two three' END AS phrase,
          CAST(CASE CAST(i % 4 AS INTEGER) WHEN 3 THEN 8000000 ELSE 4000000 END AS BIGINT) AS score_micro
        FROM range(0, 200) t(i) ORDER BY doc_id""")),

    // ---- boilerplate-prefix profile (template/header detection) ----
    // Crawl corpora are full of repeated page furniture; the standard
    // screen hashes a leading window per document and ranks prefixes by
    // document frequency — high-df prefixes are templates to strip.
    // ONE prefix-keyed count then a tiny df-histogram rollup (the df
    // distribution is the knob-picking view: where the near-dup cluster
    // mass sits vs singletons). Prefix extraction is a map-only slice;
    // nothing corpus-sized survives the first agg.
    "text_boilerplate_prefixes" -> Q(
      (s, dir) => Q.t(s, dir, "documents")
        .selectExpr("array_join(slice(split(text, ' '), 1, 5), ' ') AS prefix")
        .groupBy("prefix")
        .agg(count(lit(1)).as("df"))
        .groupBy("df")
        .agg(count(lit(1)).as("n_prefixes"),
          (count(lit(1)) * col("df")).as("n_docs"))
        .orderBy("df"),
      Some("""WITH p AS (
          SELECT array_to_string((string_split(text, ' '))[1:5], ' ') AS prefix
          FROM documents),
        d AS (SELECT prefix, count(*) AS df FROM p GROUP BY prefix)
        SELECT df, count(*) AS n_prefixes,
          CAST(count(*) * df AS BIGINT) AS n_docs
        FROM d GROUP BY df ORDER BY df""")),

    // ---- Simpson diversity (repeated-token concentration), EXACT ----
    // The complement of lexical diversity: probability two tokens drawn
    // without replacement from a document are the SAME type,
    // λ = Σc(c−1) / N(N−1) — machine-generated loops score high, prose
    // low. Pure integer products (c ≤ N ≤ ~1e4 per doc keeps 1e6·Σ
    // well inside int64), two doc-keyed aggs with map-side partials —
    // the same shuffle shape as text_lexical_diversity, measuring the
    // opposite tail.
    "text_simpson_diversity" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          sum(col("c") * (col("c") - 1)).as("rep_pairs2"))
        .where(col("n_tokens") >= 2)
        .selectExpr("doc_id", "n_tokens", "rep_pairs2",
          "1000000 * rep_pairs2 div (n_tokens * (n_tokens - 1)) AS simpson_micro")
        .orderBy("doc_id"),
      Some("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        c AS (SELECT doc_id, tok, count(*) AS c FROM tk WHERE tok <> ''
          GROUP BY doc_id, tok),
        d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
            CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs2
          FROM c GROUP BY doc_id)
        SELECT doc_id, n_tokens, rep_pairs2,
          CAST(1000000 * rep_pairs2 // (n_tokens * (n_tokens - 1)) AS BIGINT)
            AS simpson_micro
        FROM d WHERE n_tokens >= 2 ORDER BY doc_id""")),

    // ---- corpus vocabulary tail census (hapax/dis legomena) ----
    // The corpus-level Zipf TAIL (text_zipf_profile owns the head):
    // how much of the vocabulary occurs once or twice — the mass OOV
    // filters and tokenizer-budget decisions hinge on. One vocab-keyed
    // count (gram cardinality, partial-agg'd) then a 1-row rollup; the
    // corpus dimension never shuffles twice.
    "text_hapax_census" -> Q(
      (s, dir) => t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("tok").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_vocab"),
          sum(col("c")).as("n_tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_dis"))
        .selectExpr("n_vocab", "n_tokens", "n_hapax", "n_dis",
          "1000000 * n_hapax div n_vocab AS hapax_micro",
          "1000000 * (n_hapax + 2 * n_dis) div n_tokens AS tail_mass_micro"),
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
          FROM documents),
        c AS (SELECT tok, count(*) AS c FROM tk WHERE tok <> '' GROUP BY tok),
        d AS (SELECT count(*) AS n_vocab, CAST(sum(c) AS BIGINT) AS n_tokens,
            CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
            CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
          FROM c)
        SELECT n_vocab, n_tokens, n_hapax, n_dis,
          CAST(1000000 * n_hapax // n_vocab AS BIGINT) AS hapax_micro,
          CAST(1000000 * (n_hapax + 2 * n_dis) // n_tokens AS BIGINT)
            AS tail_mass_micro
        FROM d""")),

    // ---- Heaps'-law vocabulary growth curve (word trigrams), EXACT ----
    // How fast does new vocabulary arrive as the corpus is consumed in
    // doc_id order? The tokenizer-sizing / dedup-saturation gauge: per
    // corpus decile, trigram mass vs FIRST-SEEN type count (trigrams,
    // not unigrams — the synthetic corpus has a 31-word unigram vocab,
    // which saturates in the first decile and flattens the curve).
    // "First seen" is the min-doc_id owner of each type (one
    // vocab-keyed agg — the same first-owner trick as
    // pipe_ngram_novelty, no ordered scan of the corpus), and deciles
    // come from an arithmetic rank formula ((rn-1)*10 div n) rather
    // than ntile(), whose uneven-bucket placement the two engines need
    // not share. The only global window runs on the 2-column DOC frame
    // (id + mass), not the corpus; a production variant at 1e12 docs
    // would range-partition that rank.
    "text_heaps_law" -> Q(
      (s, dir) => {
        // docDecile is NOT barriered: it feeds the first-seen join AND
        // the per-decile mass agg, but re-deriving the doc-rank window
        // twice measures FASTER than materializing it (r13 back-to-back
        // at 32 cores, 5 passes: 1.49 s barriered vs 1.01 s re-derived,
        // control-adjusted ~25% — the checkpoint write + the lost
        // whole-plan view cost more than the duplicated tiny window;
        // the round-12 driver capture read the same direction). toks
        // likewise re-derives per consumer: a map-only projection off
        // the scan, cheaper to recompute than to materialize.
        val toks = t(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .where(size(col("w")) >= 3)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(0, size(w) - 3),
                 i -> concat_ws(' ', w[i], w[i+1], w[i+2]))""")).as("tok"))
        val docMass = toks.groupBy("doc_id").agg(count(lit(1)).as("mass"))
        val docDecile = (docMass
          .withColumn("rn", row_number().over(Window.orderBy("doc_id")))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy(lit(1))))
          .selectExpr("doc_id", "mass", "(rn - 1) * 10 div nd + 1 AS decile"))
        val firstSeen = toks.groupBy("tok").agg(min(col("doc_id")).as("doc_id"))
          .join(docDecile.select("doc_id", "decile"), Seq("doc_id"))
          .groupBy("decile").agg(count(lit(1)).as("new_types"))
        val mass = docDecile.groupBy("decile")
          .agg(count(lit(1)).as("n_docs"), sum(col("mass")).as("token_mass"))
        val cum = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        mass.join(firstSeen, Seq("decile"), "left")
          .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
          .withColumn("cum_types", sum(col("new_types")).over(cum))
          .select("decile", "n_docs", "token_mass", "new_types", "cum_types")
          .orderBy("decile")
      },
      Some("""WITH d0 AS (SELECT doc_id, string_split(text, ' ') AS w
          FROM documents),
        f AS (SELECT doc_id,
            unnest(list_transform(range(1, len(w) - 1),
              i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS tok
          FROM d0 WHERE len(w) >= 3),
        dm AS (SELECT doc_id, count(*) AS mass FROM f GROUP BY doc_id),
        dd AS (SELECT doc_id, mass,
            (row_number() OVER (ORDER BY doc_id) - 1) * 10
              // (count(*) OVER ()) + 1 AS decile
          FROM dm),
        fs AS (SELECT decile, count(*) AS new_types
          FROM (SELECT tok, min(doc_id) AS doc_id FROM f GROUP BY tok)
          JOIN dd USING (doc_id) GROUP BY decile),
        m AS (SELECT decile, count(*) AS n_docs,
            CAST(sum(mass) AS BIGINT) AS token_mass
          FROM dd GROUP BY decile)
        SELECT decile, n_docs, token_mass,
          CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
          CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY decile
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
            AS cum_types
        FROM m LEFT JOIN fs USING (decile) ORDER BY decile""")),

    // ---- exact head-mass census: top-10 tokens' share of the corpus ----
    // The exact complement of text_heavy_hitters_cms (which is the
    // sketch path): how much of the token mass the 10 most frequent
    // types own, with a (count DESC, token ASC) total order so ties
    // cannot flap membership. One vocab-keyed agg (map-side partials),
    // then the rank window runs on the VOCAB frame — 31 unigram types
    // here, and even a web-scale BPE vocab is ~1e5-1e6 rows, never the
    // corpus.
    "text_topk_mass" -> Q(
      (s, dir) => {
        val c = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= "")
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val tot = c.agg(sum(col("c")).as("mass"))
        val w = Window.orderBy(col("c").desc, col("tok"))
        c.withColumn("rk", row_number().over(w)).where(col("rk") <= 10)
          .crossJoin(broadcast(tot))
          .withColumn("share_micro", expr("1000000 * c div mass"))
          .withColumn("cum_share_micro",
            expr("1000000 * sum(c) OVER (ORDER BY rk) div mass"))
          .select("rk", "tok", "c", "share_micro", "cum_share_micro")
          .orderBy("rk")
      },
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS tok
          FROM documents),
        c AS (SELECT tok, count(*) AS c FROM tk WHERE tok <> '' GROUP BY tok),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS mass FROM c),
        r AS (SELECT tok, c,
            row_number() OVER (ORDER BY c DESC, tok) AS rk
          FROM c)
        SELECT rk, tok, c,
          CAST(1000000 * c // mass AS BIGINT) AS share_micro,
          CAST(1000000 * sum(c) OVER (ORDER BY rk) // mass AS BIGINT)
            AS cum_share_micro
        FROM r, t WHERE rk <= 10 ORDER BY rk""")),

    // ---- top-k vocabulary Jaccard between source pairs ----
    // The corpus-mixture diagnostic next to text_distinctive_terms:
    // how much do two sources' HEAD vocabularies overlap? Top-50
    // terms per source by count (ties broken by term — a total
    // order, so both engines pick the same set), then set Jaccard in
    // micro over every source pair. Shape: the corpus collapses to
    // (source, term) counts in one keyed agg; the rank window runs on
    // the vocabulary frame (vocab-bounded, partitioned by source);
    // the pair stage is a broadcast self-join of 20x50 rows — at ANY
    // corpus size the pair frame is (n_sources x k)^2, never
    // corpus-scale. Top-20 pairs by (jaccard desc, pair).
    "text_source_vocab_jaccard" -> Q(
      (s, dir) => {
        val top = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= "")
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(Window.partitionBy("source")
            .orderBy(col("c").desc, col("tok"))))
          .where(col("rk") <= 50)
          .select("source", "tok")
        // head-set sizes are computed, not assumed: a tiny tier can
        // have fewer than k distinct terms in a source
        val sizes = top.groupBy(col("source").as("sz_source"))
          .agg(count(lit(1)).as("sz"))
        val inter = top.as("l")
          .join(broadcast(top.as("r")), col("l.tok") === col("r.tok") &&
            col("l.source") < col("r.source"))
          .groupBy(col("l.source").as("source_a"),
            col("r.source").as("source_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes), col("source_a") === col("sz_source"))
          .withColumnRenamed("sz", "n_a").drop("sz_source")
          .join(broadcast(sizes), col("source_b") === col("sz_source"))
          .withColumnRenamed("sz", "n_b").drop("sz_source")
          .selectExpr("source_a", "source_b", "inter",
            "n_a + n_b - inter AS n_union",
            "1000000 * inter div (n_a + n_b - inter) AS jaccard_micro")
          .orderBy(col("jaccard_micro").desc, col("source_a"), col("source_b"))
          .limit(20)
          .withColumn("rn", row_number().over(Window.orderBy(
            col("jaccard_micro").desc, col("source_a"), col("source_b"))))
          .select("rn", "source_a", "source_b", "inter", "n_union",
            "jaccard_micro")
      },
      Some("""WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        c AS (SELECT source, tok, count(*) AS c
          FROM tk WHERE tok <> '' GROUP BY source, tok),
        top AS (SELECT source, tok FROM (
            SELECT source, tok,
              row_number() OVER (PARTITION BY source
                                 ORDER BY c DESC, tok) AS rk
            FROM c) WHERE rk <= 50),
        sizes AS (SELECT source, count(*) AS sz FROM top GROUP BY source),
        pairs AS (SELECT l.source AS source_a, r.source AS source_b,
            count(*) AS inter
          FROM top l JOIN top r
            ON l.tok = r.tok AND l.source < r.source
          GROUP BY l.source, r.source),
        scored AS (SELECT source_a, source_b, CAST(inter AS BIGINT) AS inter,
            CAST(sa.sz + sb.sz - inter AS BIGINT) AS n_union,
            CAST(1000000 * inter // (sa.sz + sb.sz - inter) AS BIGINT)
              AS jaccard_micro
          FROM pairs JOIN sizes sa ON source_a = sa.source
                     JOIN sizes sb ON source_b = sb.source),
        ranked AS (SELECT row_number() OVER (ORDER BY jaccard_micro DESC,
              source_a, source_b) AS rn, *
          FROM scored)
        SELECT rn, source_a, source_b, inter, n_union, jaccard_micro
        FROM ranked WHERE rn <= 20 ORDER BY rn""")),

    // ---- rank-biased overlap between source term rankings ----
    // The top-weighted ranking-similarity metric search analytics uses
    // where Jaccard is too blunt: RBO_p(A,B) = (1-p) * sum_d p^(d-1)
    // * |top_d(A) & top_d(B)| / d, here p = 0.9 truncated at depth 19
    // (9^18 and 10^19 stay exact in int64 / DECIMAL(38) — depth 20
    // would push 10^d past int64). Powers come from a LITERAL exact
    // table (double pow() is not exact at 9^18, so both engines join
    // the same integer rows), each depth term floors independently in
    // micro, and the depth x pair fan is (k^2 x depths) on bounded
    // frames — the corpus only ever pays the one (source, term) agg.
    "text_rank_biased_overlap" -> Q(
      (s, dir) => {
        import s.implicits._
        val top = t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .where(col("tok") =!= "")
          .groupBy("source", "tok").agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(Window.partitionBy("source")
            .orderBy(col("c").desc, col("tok"))))
          .where(col("rk") <= 19)
          .select("source", "tok", "rk")
        val powers = (1 to 19).map(d =>
          (d, BigInt(9).pow(d - 1).toString, BigInt(10).pow(d).toString))
          .toDF("d", "p9s", "p10s")
          .selectExpr("d", "CAST(p9s AS DECIMAL(38,0)) AS p9",
            "CAST(p10s AS DECIMAL(38,0)) AS p10")
        val terms = top.as("l")
          .join(broadcast(top.as("r")), col("l.tok") === col("r.tok") &&
            col("l.source") < col("r.source"))
          .select(col("l.source").as("sa"), col("r.source").as("sb"),
            col("l.rk").as("rka"), col("r.rk").as("rkb"))
          .join(broadcast(powers),
            col("rka") <= col("d") && col("rkb") <= col("d"))
          .groupBy("sa", "sb", "d", "p9", "p10")
          .agg(count(lit(1)).as("inter"))
          .selectExpr("sa", "sb",
            "CAST((1000000 * p9 * inter) div (p10 * d) AS BIGINT) AS term_micro")
        terms.groupBy("sa", "sb")
          .agg(sum(col("term_micro")).as("rbo_micro"))
          .orderBy(col("rbo_micro").desc, col("sa"), col("sb"))
          .limit(10)
          .withColumn("rn", row_number().over(Window.orderBy(
            col("rbo_micro").desc, col("sa"), col("sb"))))
          .select("rn", "sa", "sb", "rbo_micro")
      },
      Some(s"""WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
          FROM documents),
        c AS (SELECT source, tok, count(*) AS c
          FROM tk WHERE tok <> '' GROUP BY source, tok),
        top AS (SELECT source, tok, rk FROM (
            SELECT source, tok,
              row_number() OVER (PARTITION BY source
                                 ORDER BY c DESC, tok) AS rk
            FROM c) WHERE rk <= 19),
        powers(d, p9, p10) AS (VALUES ${(1 to 19).map(d =>
          s"(${d}, ${BigInt(9).pow(d - 1)}::HUGEINT, ${BigInt(10).pow(d)}::HUGEINT)")
          .mkString(", ")}),
        pairs AS (SELECT l.source AS sa, r.source AS sb,
            l.rk AS rka, r.rk AS rkb
          FROM top l JOIN top r
            ON l.tok = r.tok AND l.source < r.source),
        terms AS (SELECT sa, sb,
            CAST((1000000 * p9 * count(*)) // (p10 * d) AS BIGINT)
              AS term_micro
          FROM pairs JOIN powers ON rka <= d AND rkb <= d
          GROUP BY sa, sb, d, p9, p10),
        scored AS (SELECT sa, sb, CAST(sum(term_micro) AS BIGINT) AS rbo_micro
          FROM terms GROUP BY sa, sb),
        ranked AS (SELECT row_number() OVER (ORDER BY rbo_micro DESC, sa, sb)
            AS rn, * FROM scored)
        SELECT rn, sa, sb, rbo_micro FROM ranked WHERE rn <= 10 ORDER BY rn""")),

    // ---- Yule's characteristic K per source (word bigrams), EXACT ----
    // The classic repetitiveness constant K = 10^4 * (S2 - S1) / S1^2
    // (S1 = token mass, S2 = sum of squared type frequencies) — unlike
    // TTR it is length-invariant, so sources of different sizes compare
    // directly; template-heavy sources score high. Word BIGRAMS, not
    // unigrams (the synthetic corpus's ~31-word unigram vocabulary
    // saturates — the text_heaps_law lesson). Shape: one keyed agg to
    // the (source, bigram) frame, one re-agg per source — the corpus
    // shuffles once. S2 and the K quotient widen to DECIMAL(38,0)/
    // HUGEINT at the SOURCE of each product: per-type counts square
    // past int64 at corpus scale, and S1^2 does too, so the widening
    // cannot wait for the final division (the rel_rate_correlation
    // advice-item class). S2 itself stays an internal accumulator —
    // only the length-invariant quotient is emitted, because at
    // exactly the corpus scale the widening exists for, a raw-S2
    // output column would abort the final BIGINT cast.
    "text_yule_k" -> Q(
      (s, dir) => {
        val bg = t(s, dir, "documents")
          .select(col("source"),
            expr("filter(split(text, ' '), x -> x != '')").as("w"))
          .where(size(col("w")) >= 2)
          .select(col("source"), explode(expr(
            """transform(sequence(1, size(w) - 1),
               i -> concat(w[i-1], ' ', w[i]))""")).as("bg"))
        bg.groupBy("source", "bg").agg(count(lit(1)).as("c"))
          .groupBy("source")
          .agg(sum(col("c")).as("s1"),
            count(lit(1)).as("n_types"),
            sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("s2"))
          .selectExpr("source", "s1", "n_types",
            """CAST((10000000000 * CAST(s2 - s1 AS DECIMAL(38,0)))
               div (CAST(s1 AS DECIMAL(38,0)) * s1) AS BIGINT)
               AS yule_k_micro""")
          .orderBy("source")
      },
      Some("""WITH w AS (SELECT source,
            list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents),
        bg AS (SELECT source,
            unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
          FROM w WHERE len(w) >= 2),
        c AS (SELECT source, bg, count(*) AS c FROM bg GROUP BY source, bg),
        agg AS (SELECT source, CAST(sum(c) AS BIGINT) AS s1,
            count(*) AS n_types,
            sum(CAST(c AS HUGEINT) * c) AS s2
          FROM c GROUP BY source)
        SELECT source, s1, n_types,
          CAST((10000000000 * CAST(s2 - s1 AS HUGEINT))
            // (CAST(s1 AS HUGEINT) * s1) AS BIGINT) AS yule_k_micro
        FROM agg ORDER BY source""")),

    // ---- pairwise source similarity: TF-profile cosine^2, EXACT ----
    // Which sources write alike? Each source's word-BIGRAM frequency
    // vector is first normalized to a PER-MILLION integer profile
    // (p = 1e6*f div s1 — both engines floor, and normalization is
    // what makes sources of different sizes comparable); then cos^2
    // between profiles is exact integer arithmetic: cos2_micro =
    // 1e6 * dot^2 / (ss_a * ss_b), no sqrt ever taken. The per-million
    // scale also BOUNDS the arithmetic: profile entries sum to <= 1e6
    // per source, so dot <= 1e12 and dot^2 <= 1e24 — inside
    // DECIMAL(38,0)/HUGEINT at ANY corpus size, unlike raw-frequency
    // cosines whose squares blow past 38 digits. Shape: one keyed agg
    // to the (source, bigram) frame, a self-equi-join on the bigram
    // key (pair space = shared-type cardinality x source pairs, both
    // bounded), norms broadcast back onto the 190-row pair frame.
    "text_source_cosine" -> Q(
      (s, dir) => {
        val bg = t(s, dir, "documents")
          .select(col("source"),
            expr("filter(split(text, ' '), x -> x != '')").as("w"))
          .where(size(col("w")) >= 2)
          .select(col("source"), explode(expr(
            """transform(sequence(1, size(w) - 1),
               i -> concat(w[i-1], ' ', w[i]))""")).as("bg"))
        val f = bg.groupBy("source", "bg").agg(count(lit(1)).as("f"))
        val tot = f.groupBy("source").agg(sum(col("f")).as("s1"))
        val prof = f.join(tot, "source")
          .selectExpr("source", "bg",
            "CAST(1000000 * CAST(f AS DECIMAL(38,0)) div s1 AS BIGINT) AS p")
          .transform(Exec.barrier)
        val ss = prof.groupBy("source")
          .agg(sum(expr("CAST(p AS DECIMAL(38,0)) * p")).as("ss"))
        val a = prof.select(col("source").as("sa"), col("bg"), col("p").as("pa"))
        val b = prof.select(col("source").as("sb"), col("bg"), col("p").as("pb"))
        a.join(b, Seq("bg")).where(col("sa") < col("sb"))
          .groupBy("sa", "sb")
          .agg(sum(expr("CAST(pa AS DECIMAL(38,0)) * pb")).as("dot"))
          .join(broadcast(ss.select(col("source").as("sa"), col("ss").as("ssa"))), "sa")
          .join(broadcast(ss.select(col("source").as("sb"), col("ss").as("ssb"))), "sb")
          .selectExpr("sa", "sb",
            // greatest(_, 1): a source whose bigram mass exceeds 1e6x
            // its max per-type frequency floors every per-million
            // profile entry to 0 and its ss with it — the guard turns
            // that extreme-vocabulary seam into cos2 = 0, not a
            // divide-by-zero null
            "CAST(1000000 * (dot * dot) div greatest(ssa * ssb, 1) AS BIGINT) AS cos2_micro")
          .orderBy("sa", "sb")
      },
      Some("""WITH w AS (SELECT source,
            list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents),
        bg AS (SELECT source,
            unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
          FROM w WHERE len(w) >= 2),
        f AS (SELECT source, bg, count(*) AS f FROM bg GROUP BY source, bg),
        tot AS (SELECT source, sum(f) AS s1 FROM f GROUP BY source),
        prof AS (SELECT f.source, bg,
            CAST(1000000 * CAST(f AS HUGEINT) // s1 AS BIGINT) AS p
          FROM f JOIN tot ON f.source = tot.source),
        ss AS (SELECT source, sum(CAST(p AS HUGEINT) * p) AS ss
          FROM prof GROUP BY source),
        dots AS (SELECT a.source AS sa, b.source AS sb,
            sum(CAST(a.p AS HUGEINT) * b.p) AS dot
          FROM prof a JOIN prof b ON a.bg = b.bg AND a.source < b.source
          GROUP BY sa, sb)
        SELECT sa, sb,
          CAST(1000000 * (dot * dot)
            // greatest(x.ss * y.ss, 1) AS BIGINT) AS cos2_micro
        FROM dots JOIN ss x ON sa = x.source JOIN ss y ON sb = y.source
        ORDER BY sa, sb"""))
  )
}

