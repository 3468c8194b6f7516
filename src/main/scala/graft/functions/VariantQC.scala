package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame-level variant-callset QC over VCF-shaped frames (the
  * shapes [[graft.sources.VcfFormat]] and BcfFormat produce: `ref`,
  * `alt: array<string>`, positional `genotypes: array<string>`), as
  * public entry points the fmt_vcf_titv / fmt_vcf_het_hom /
  * fmt_vcf_hwe oracle entries delegate to — column-name adaptation
  * only, so the gate checks the exact implementations users call.
  *
  * All three are codegen'd per-row transforms into small keyed
  * aggregations (global / sample-count / site-count cardinality), so
  * at 100 TB each is a map-side-combined scan with a few-row shuffle.
  */
object VariantQC {

  /** KING-robust pairwise kinship (Manichaikul et al. 2010, the
    * `king --kinship` / plink2 `--make-king` estimator) between every
    * sample pair, from positional genotype strings. Over the sites
    * where BOTH samples are genotyped (any '.' allele drops the site
    * for that pair only):
    *
    *   phi_hat = (N_het,het − 2·N_opp_hom) / (N_het(i) + N_het(j))
    *
    * surfaced as the INTEGER numerator/denominator pair (`kin_num`,
    * `kin_den`) plus the raw counts — no division, no floats, so the
    * result is bit-stable under any partitioning (the fixed-point
    * discipline of ldR2/hweBySite; callers divide at display time).
    *
    * Scale shape: samples are few and fixed while sites are many, so
    * the pair space is built per SITE — dosages explode to
    * (site, sample, dosage) and sample pairs meet through a site-keyed
    * equi-self-join (never a sample×sample loop over collected
    * vectors); the per-pair counts combine map-side before the tiny
    * O(samples²) result shuffles. 1000 samples is 499 500 output rows;
    * the heavy dimension (sites) only ever moves once.
    *
    * @param df (`sidCol`: bigint site id, `gtCol`: array<string>
    *           positional genotype strings, sample index = position) */
  def kingKinship(df: DataFrame, sidCol: String = "sid",
                  gtCol: String = "genotypes"): DataFrame = {
    Seq(sidCol, gtCol).foreach(c =>
      require(df.columns.contains(c), s"VariantQC.kingKinship: no column '$c'"))
    val d = df.select(col(sidCol).cast("long").as("sid"),
        expr(s"""posexplode(transform($gtCol, g ->
            CASE WHEN exists(split(split(g, ':')[0], '[/|]'), a -> a = '.')
                 THEN CAST(NULL AS BIGINT)
                 ELSE cast(size(filter(split(split(g, ':')[0], '[/|]'), a -> a = '1')) as bigint)
            END)) AS (j, x)"""))
      .where(col("x").isNotNull)
    val a = d.select(col("sid"), col("j").as("i"), col("x").as("xi"))
    val b = d.select(col("sid"), col("j").as("j"), col("x").as("xj"))
    a.join(b, Seq("sid")).where(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_shared"),
        sum(when(col("xi") === 1 && col("xj") === 1, 1L).otherwise(0L)).as("n_both_het"),
        sum(when((col("xi") === 0 && col("xj") === 2) ||
                 (col("xi") === 2 && col("xj") === 0), 1L).otherwise(0L)).as("n_opp_hom"),
        sum(when(col("xi") === 1, 1L).otherwise(0L)).as("het_i"),
        sum(when(col("xj") === 1, 1L).otherwise(0L)).as("het_j"))
      .selectExpr("i", "j", "n_shared", "n_both_het", "n_opp_hom", "het_i", "het_j",
        "n_both_het - 2 * n_opp_hom AS kin_num", "het_i + het_j AS kin_den")
  }

  /** Transition/transversion classification per ALT allele after the
    * multiallelic explode: ti iff the substitution stays within the
    * purines {A,G} or pyrimidines {C,T}; anything not a 1bp->1bp ACGT
    * substitution (indels, symbolic alleles) counts as `n_other`.
    * One global reduce: (n_snp, n_ti, n_tv, n_other, titv). */
  def titv(df: DataFrame, refCol: String = "ref",
           altCol: String = "alt"): DataFrame = {
    require(df.columns.contains(refCol) && df.columns.contains(altCol),
      s"VariantQC.titv: need columns '$refCol' and '$altCol'")
    df.select(col(refCol).as("__r"), explode(col(altCol)).as("__a"))
      .select(
        when(length(col("__r")) === 1 && length(col("__a")) === 1 &&
             col("__r").isin("A", "C", "G", "T") && col("__a").isin("A", "C", "G", "T"),
          when(concat(col("__r"), col("__a")).isin("AG", "GA", "CT", "TC"), "ti")
            .otherwise("tv"))
          .otherwise("other").as("cls"))
      .groupBy()
      .agg(
        sum(when(col("cls") =!= "other", 1L).otherwise(0L)).as("n_snp"),
        sum(when(col("cls") === "ti", 1L).otherwise(0L)).as("n_ti"),
        sum(when(col("cls") === "tv", 1L).otherwise(0L)).as("n_tv"),
        sum(when(col("cls") === "other", 1L).otherwise(0L)).as("n_other"))
      .withColumn("titv", round(col("n_ti") / col("n_tv"), 6))
  }

  /** Per-sample genotype class counts (vcftools --het analog), keyed
    * by sample INDEX — sample names live only in the #CHROM header
    * line, which the record schema doesn't carry. A genotype with any
    * '.' allele is missing; equal called alleles are hom (ref iff
    * '0'); unequal called alleles are het, including 1/2 multiallelic
    * hets and regardless of '/' vs '|' phasing. Trailing FORMAT
    * fields are stripped; a haploid call ('1') classifies as hom. */
  def hetHomCounts(df: DataFrame, gtCol: String = "genotypes"): DataFrame = {
    require(df.columns.contains(gtCol),
      s"VariantQC.hetHomCounts: no column '$gtCol'")
    df.select(posexplode(col(gtCol)))
      .selectExpr("pos AS sample_idx",
        "split(split(col, ':')[0], '[/|]') AS al")
      .selectExpr("sample_idx",
        """CASE WHEN exists(al, a -> a = '.') THEN 'missing'
                WHEN size(array_distinct(al)) > 1 THEN 'het'
                WHEN al[0] = '0' THEN 'hom_ref' ELSE 'hom_alt' END AS cls""")
      .groupBy("sample_idx")
      .agg(
        sum(when(col("cls") === "hom_ref", 1L).otherwise(0L)).as("n_hom_ref"),
        sum(when(col("cls") === "het", 1L).otherwise(0L)).as("n_het"),
        sum(when(col("cls") === "hom_alt", 1L).otherwise(0L)).as("n_hom_alt"),
        sum(when(col("cls") === "missing", 1L).otherwise(0L)).as("n_missing"))
  }

  /** Per-site Hardy-Weinberg chi-square (vcftools --hardy analog):
    * p = ref-allele frequency over CALLED genotypes, expected classes
    * (p^2, 2pq, q^2) * n, chi-square over (hom-ref, het, hom-alt).
    * Alt alleles are LUMPED — a 1/2 genotype is alt-hom, the
    * biallelic-test convention — monomorphic sites carry a NULL
    * chi-square (zero expected classes, no test), and only DIPLOID
    * calls enter the test (vcftools --hardy's convention; haploid and
    * polyploid calls are excluded, not shoehorned into the three
    * genotype classes). Output per site:
    * (chromCol, posCol, n_called, p_ref, hwe_chi2). */
  def hweBySite(df: DataFrame, chromCol: String = "chrom",
                posCol: String = "pos",
                gtCol: String = "genotypes"): DataFrame = {
    require(Seq(chromCol, posCol, gtCol).forall(df.columns.contains),
      s"VariantQC.hweBySite: need columns '$chromCol', '$posCol', '$gtCol'")
    df.select(col(chromCol).as("__c"), col(posCol).as("__p"),
        explode(col(gtCol)).as("g"))
      .selectExpr("__c", "__p", "split(split(g, ':')[0], '[/|]') AS al")
      // DIPLOID calls only (vcftools --hardy's convention): haploid or
      // polyploid calls would land in the wrong observed class (a
      // haploid '0' has nr=1 — the het bucket) or in none at all while
      // still inflating n_called/nref, silently corrupting the test
      .where(expr("size(al) = 2 AND NOT exists(al, a -> a = '.')"))
      .selectExpr("__c", "__p", "size(filter(al, a -> a = '0')) AS nr")
      .groupBy("__c", "__p")
      .agg(count(lit(1)).as("n_called"),
        sum(when(col("nr") === 2, 1L).otherwise(0L)).as("o_rr"),
        sum(when(col("nr") === 1, 1L).otherwise(0L)).as("o_het"),
        sum(when(col("nr") === 0, 1L).otherwise(0L)).as("o_aa"),
        sum(col("nr")).as("nref"))
      .withColumn("p", col("nref") / (col("n_called") * 2))
      .selectExpr(s"__c AS `$chromCol`", s"__p AS `$posCol`", "n_called",
        "round(p, 6) AS p_ref",
        """round(CASE WHEN nref = 0 OR nref = n_called * 2 THEN NULL
             ELSE pow(o_rr - p * p * n_called, 2) / (p * p * n_called)
                + pow(o_het - 2 * p * (1 - p) * n_called, 2)
                    / (2 * p * (1 - p) * n_called)
                + pow(o_aa - (1 - p) * (1 - p) * n_called, 2)
                    / ((1 - p) * (1 - p) * n_called)
           END, 6) AS hwe_chi2""")
  }

  /** Coding-consequence classification for SNVs (the VEP/SnpEff core
    * for the frame-0, single-interval CDS case — exon stitching
    * composes from the GFF parentage / splice-site machinery):
    * locate the variant's codon inside its CDS, substitute the ALT on
    * the plus strand, orient both codons by CDS strand
    * (reverse-complement via `reverse(translate(..))` — deliberately
    * NOT the reference-faithful `reverse_complement` kernel, which
    * replicates the reference's no-reversal bug), translate, and
    * classify synonymous / missense / stop_gained / stop_lost.
    *
    * Scale shape: gene models and the reference contigs broadcast
    * (annotation is MBs against TB callsets; real genomes shard this
    * per contig), the variant stream is map-only after the two
    * broadcast joins — no shuffle of the callset at all.
    *
    * @param variants (chrom, pos, ref, alt) — SNVs, `alt` a single base
    * @param cds (cchrom, cds_start, cds_end, strand, gene_id) —
    *   1-based inclusive, frame 0
    * @param refFasta (id, sequence) */
  def codingEffect(variants: DataFrame, cds: DataFrame,
                   refFasta: DataFrame): DataFrame = {
    GraftFunctions.registerAll(variants.sparkSession)
    import org.apache.spark.sql.functions.broadcast
    val c = broadcast(cds)
    val r = broadcast(refFasta.select(col("id").as("__rchrom"),
      col("sequence").as("__cseq")))
    variants
      .join(c, variants("chrom") === c("cchrom") &&
        variants("pos") >= c("cds_start") && variants("pos") <= c("cds_end"))
      .join(r, variants("chrom") === col("__rchrom"))
      .withColumn("__k", expr(
        "CASE WHEN strand = '+' THEN (pos - cds_start) div 3 ELSE (cds_end - pos) div 3 END"))
      .withColumn("__cs", expr(
        "CASE WHEN strand = '+' THEN cds_start + 3 * __k ELSE cds_end - 3 * __k - 2 END"))
      .withColumn("__cp", expr("substr(__cseq, cast(__cs as int), 3)"))
      .withColumn("__po", expr("cast(pos - __cs as int)"))
      .withColumn("__ap", expr(
        "concat(substr(__cp, 1, __po), alt, substr(__cp, __po + 2, 2 - __po))"))
      .withColumn("codon_ref", expr(
        "CASE WHEN strand = '+' THEN __cp ELSE reverse(translate(__cp, 'ACGT', 'TGCA')) END"))
      .withColumn("codon_alt", expr(
        "CASE WHEN strand = '+' THEN __ap ELSE reverse(translate(__ap, 'ACGT', 'TGCA')) END"))
      .withColumn("aa_ref", expr("translate_dna_to_aa(codon_ref)"))
      .withColumn("aa_alt", expr("translate_dna_to_aa(codon_alt)"))
      .withColumn("effect", expr(
        """CASE WHEN aa_ref = aa_alt THEN 'synonymous'
                WHEN aa_alt = '*' THEN 'stop_gained'
                WHEN aa_ref = '*' THEN 'stop_lost'
                ELSE 'missense' END"""))
      .select(col("chrom"), col("pos"), col("ref"), col("alt"), col("gene_id"),
        col("codon_ref"), col("codon_alt"), col("aa_ref"), col("aa_alt"),
        col("effect"))
  }


  /** Runs of homozygosity (the bcftools roh / plink --homozyg core,
    * site-count flavor): per (sample, chrom), maximal runs of
    * consecutive homozygous sites — broken by ANY non-hom site (het or
    * missing) — reported as (start, end, n_sites) and filtered to
    * `minSites`. Hom = all called alleles equal and none missing
    * (ploidy-agnostic: a haploid call is hom by definition).
    *
    * Gaps-and-islands on a running break counter: one window shuffle
    * on (sample, chrom) then a groupBy on the same keys — AQE sees the
    * co-partitioning, so the aggregation adds no second exchange.
    * State per partition is O(1); nothing scans twice. */
  def rohSegments(df: DataFrame, minSites: Int = 3,
                  sampleCol: String = "sample_idx", gtCol: String = "gt"): DataFrame = {
    Seq(sampleCol, "chrom", "pos", gtCol).foreach(c =>
      require(df.columns.contains(c), s"VariantQC.rohSegments: no column '$c'"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(sampleCol), col("chrom")).orderBy(col("pos"))
    df.select(col(sampleCol).as("sample_idx"), col("chrom"),
        col("pos").cast("long").as("pos"),
        expr(s"split(split($gtCol, ':')[0], '[/|]')").as("__al"))
      .withColumn("__hom", expr(
        "size(array_distinct(__al)) = 1 AND NOT exists(__al, a -> a = '.' OR a = '')"))
      .withColumn("__brk", sum(when(!col("__hom"), 1L).otherwise(0L)).over(w))
      .where(col("__hom"))
      .groupBy(col("sample_idx"), col("chrom"), col("__brk"))
      .agg(min("pos").as("start"), max("pos").as("end"),
        count(lit(1)).as("n_sites"))
      .where(col("n_sites") >= minSites)
      .drop("__brk")
  }


  /** Pairwise linkage disequilibrium r² (the plink --r2 core) between
    * sites within `maxDist` of each other, from positional genotype
    * strings. Dosage x = count of '1' alleles per sample; r² is the
    * squared Pearson correlation of the two dosage vectors, computed
    * ENTIRELY in integer sums — r2_micro = 1e6·(nΣxy-ΣxΣy)² floor-div
    * ((nΣx²-(Σx)²)(nΣy²-(Σy)²)) — so distributed order cannot flap a
    * bit; monomorphic sites (zero variance) yield NULL.
    *
    * Scale shape: the pair space is NOT quadratic — sites key into
    * `maxDist`-wide bins, the left side probes its own and the next
    * bin (each qualifying pair matches exactly once through the right
    * site's unique bin), and the distance filter bounds the fan to
    * O(sites · density·maxDist). Single-chromosome input; partition
    * by chrom upstream for a genome.
    *
    * @param df (`sidCol`: bigint, `posCol`, `gtCol`: array<string>) */
  def ldR2(df: DataFrame, maxDist: Long, sidCol: String = "sid",
           posCol: String = "pos", gtCol: String = "genotypes"): DataFrame = {
    Seq(sidCol, posCol, gtCol).foreach(c =>
      require(df.columns.contains(c), s"VariantQC.ldR2: no column '$c'"))
    require(maxDist > 0, s"maxDist must be positive, got $maxDist")
    val base = df.select(col(sidCol).cast("long").as("sid"),
        col(posCol).cast("long").as("pos"),
        expr(s"""transform($gtCol, g ->
            cast(size(filter(split(split(g, ':')[0], '[/|]'), a -> a = '1')) as bigint))""")
          .as("ds"))
      .withColumn("n", size(col("ds")).cast("long"))
      .withColumn("sx", expr("aggregate(ds, 0L, (a, x) -> a + x)"))
      .withColumn("sxx", expr("aggregate(ds, 0L, (a, x) -> a + x * x)"))
    val a = base.select(col("sid").as("s1"), col("pos").as("p1"),
        col("ds").as("d1"), col("n"), col("sx").as("sx1"), col("sxx").as("sxx1"))
      .withColumn("bin", explode(array(
        (col("p1") / maxDist).cast("long"), (col("p1") / maxDist).cast("long") + 1)))
    val b = base.select(col("sid").as("s2"), col("pos").as("p2"),
        col("ds").as("d2"), col("sx").as("sx2"), col("sxx").as("sxx2"))
      .withColumn("bin", (col("p2") / maxDist).cast("long"))
    a.join(b, Seq("bin"))
      .where(col("p2") > col("p1") && col("p2") - col("p1") <= maxDist)
      .withColumn("sxy",
        expr("aggregate(zip_with(d1, d2, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
      // decimal(38,0) intermediates: 1e6·(nΣxy-ΣxΣy)² grows as 1.6e7·n⁴,
      // wrapping int64 silently past ~870 samples; decimal is exact to
      // ~1.5e7 samples (then NULL, never a wrapped value). `div` on
      // decimals is Spark's IntegralDivide → BIGINT, and both operands
      // are non-negative (a square over a product of variances), so
      // truncation == floor and the DuckDB `//` oracle convention holds.
      .selectExpr("s1", "s2",
        "CAST(n AS DECIMAL(38,0)) AS nd",
        "CAST(sxy AS DECIMAL(38,0)) AS sxyd",
        "CAST(sx1 AS DECIMAL(38,0)) AS sx1d", "CAST(sxx1 AS DECIMAL(38,0)) AS sxx1d",
        "CAST(sx2 AS DECIMAL(38,0)) AS sx2d", "CAST(sxx2 AS DECIMAL(38,0)) AS sxx2d")
      .selectExpr("s1", "s2",
        """CASE WHEN (nd * sxx1d - sx1d * sx1d) * (nd * sxx2d - sx2d * sx2d) = 0
             THEN CAST(NULL AS BIGINT)
             ELSE 1000000 * (nd * sxyd - sx1d * sx2d) * (nd * sxyd - sx1d * sx2d) div
               ((nd * sxx1d - sx1d * sx1d) * (nd * sxx2d - sx2d * sx2d)) END AS r2_micro""")
  }

  /** One (key, chrom, pos, ref, alt) site for [[VariantQC.leftAlign]];
    * `key` is the caller's join-back handle. */
  final case class VariantSite(key: Long, chrom: String, pos: Long,
                               ref: String, alt: String)

  /** Reference-backed left-alignment + parsimony — the `-f ref.fa`
    * half of `bcftools norm` (vt normalize's loop, Tan et al. 2015):
    * while ref and alt END with the same base, chop it, refilling an
    * emptied allele with the reference base at pos-1 (shifting left);
    * then trim the shared prefix. `norm_variant` alone cannot move an
    * indel through a repeat run — that needs the genome.
    *
    * Scale design: the reference is NOT broadcast (a mammalian genome
    * is ~3 GB). Only the small .fai entry table ships with the
    * closure; each task fetches 4 kb reference blocks on demand via
    * faidx byte-range seeks, keyed by an LRU per partition, so a task
    * reads O(distinct 4 kb blocks its variants touch) — repartitioning
    * the callset by locus makes that near-minimal. SNVs and symbolic
    * alleles never touch the reference at all.
    *
    * @param df       columns (`keyCol`: bigint, chrom, pos, ref, alt)
    * @param fastaPath faidx-indexable FASTA (the .fai is built when
    *                  absent)
    * @param maxShift  left-shift budget per variant (guards a variant
    *                  sitting on a megabase homopolymer)
    */
  def leftAlign(df: DataFrame, fastaPath: String, keyCol: String = "key",
                maxShift: Int = 10000): DataFrame = {
    Seq(keyCol, "chrom", "pos", "ref", "alt").foreach(c =>
      require(df.columns.contains(c), s"VariantQC.leftAlign: no column '$c'"))
    val spark = df.sparkSession
    import spark.implicits._
    val bconf = graft.sources.core.GraftConf.broadcast(spark)
    // driver-side: entries only (a .fai line per contig), never bases
    val entries = graft.sources.Faidx.load(fastaPath, bconf.value.value)
      .getOrElse(graft.sources.Faidx.build(fastaPath, bconf.value.value))
      .map(e => e.name -> e).toMap

    val BlockBases = 4096L
    val MaxCachedBlocks = 64

    df.select(col(keyCol).cast("long").as("key"), col("chrom"),
        col("pos").cast("long").as("pos"), col("ref"), col("alt"))
      .as[VariantSite]
      .mapPartitions { it =>
        val conf = bconf.value.value
        val cache = new java.util.LinkedHashMap[(String, Long), String](
          MaxCachedBlocks, 0.75f, true) {
          override def removeEldestEntry(
              e: java.util.Map.Entry[(String, Long), String]): Boolean =
            size() > MaxCachedBlocks
        }
        def refBase(e: graft.sources.Faidx.Entry, p: Long): Char = {
          val blk = (p - 1) / BlockBases
          var bases = cache.get((e.name, blk))
          if (bases == null) {
            bases = graft.sources.Faidx.fetch(fastaPath, conf, e,
              blk * BlockBases + 1, (blk + 1) * BlockBases)
            cache.put((e.name, blk), bases)
          }
          bases.charAt(((p - 1) % BlockBases).toInt)
        }
        it.map { v =>
          val skip = v.alt == null || v.alt.isEmpty || v.alt == "." ||
            v.alt.charAt(0) == '<' || v.alt.indexOf('[') >= 0 ||
            v.alt.indexOf(']') >= 0 || !entries.contains(v.chrom)
          if (skip) v
          else {
            val e = entries(v.chrom)
            val r = new java.lang.StringBuilder(v.ref)
            val a = new java.lang.StringBuilder(v.alt)
            var p = v.pos
            var shifted = 0
            var go = true
            while (go) {
              val rl = r.length; val al = a.length
              if (rl > 0 && al > 0 && r.charAt(rl - 1) == a.charAt(al - 1) &&
                  (rl > 1 || al > 1)) {
                val last = r.charAt(rl - 1)
                r.setLength(rl - 1); a.setLength(al - 1)
                if (r.length == 0 || a.length == 0) {
                  if (p <= 1 || shifted >= maxShift) {
                    // cannot extend left: restore the chopped base and stop
                    r.append(last); a.append(last); go = false
                  } else {
                    p -= 1
                    val b = refBase(e, p)
                    r.insert(0, b); a.insert(0, b)
                    shifted += 1
                  }
                }
              } else if (rl > 1 && al > 1 && r.charAt(0) == a.charAt(0)) {
                r.deleteCharAt(0); a.deleteCharAt(0); p += 1
              } else go = false
            }
            VariantSite(v.key, v.chrom, p, r.toString, a.toString)
          }
        }
      }
      .toDF()
  }

  /** The dosage explode every pairwise/population estimator starts
    * from: one (sid, j, x) row per CALLED genotype, x = alt-allele
    * count of sample j at site sid, and any '.' allele dropping the
    * row (the kinship convention — a missing call leaves that sample
    * out of that site, not zero-filled). Codegen'd HOFs end to end;
    * the output is the only thing that ever shuffles. */
  private def dosageLong(df: DataFrame, sidCol: String,
                         gtCol: String): DataFrame =
    df.select(col(sidCol).cast("long").as("sid"),
        expr(s"""posexplode(transform($gtCol, g ->
            CASE WHEN exists(split(split(g, ':')[0], '[/|]'), a -> a = '.')
                 THEN CAST(NULL AS BIGINT)
                 ELSE cast(size(filter(split(split(g, ':')[0], '[/|]'), a -> a = '1')) as bigint)
            END)) AS (j, x)"""))
      .where(col("x").isNotNull)

  /** Per-site Hudson F_ST (Hudson et al. 1992, in the Bhatia et al.
    * 2013 "estimating and interpreting FST" formulation — the
    * estimator scikit-allel's `hudson_fst` and plink2's `--fst
    * method=hudson` compute) between the first `pop1Size` samples and
    * the rest:
    *
    *   num = (p1-p2)^2 - p1(1-p1)/(n1-1) - p2(1-p2)/(n2-1)
    *   den = p1(1-p2) + p2(1-p1)
    *
    * surfaced as the exact INTEGER pair (`fst_num`, `fst_den`), both
    * scaled by the site's common denominator n1^2 n2^2 (n1-1)(n2-1) —
    * no division, no floats, so bit-stable under any partitioning and
    * the negative-Fst sites (num < 0 where drift is below the
    * within-pop sampling floor) survive exactly. Sites with fewer
    * than two called ALLELES in either pop carry no estimate and are
    * dropped, matching the tools. Callers doing a windowed
    * ratio-of-averages divide sums of num/S by sums of den/S at
    * display time (floats there are presentation, not state).
    *
    * Arithmetic envelope: the scaled products grow as n^6, which wraps
    * int64 silently beyond ~700 diploid samples per pop — cohort sizes
    * the 100 TB framing invites — so the products are computed in
    * DECIMAL(38,0) and returned as DECIMAL(38,0). That is exact to
    * ~10^38, i.e. ~1M diploid samples PER POP; past that Spark's
    * non-ANSI decimal overflow yields NULL (conspicuous), never a
    * silently wrapped value.
    *
    * Scale shape: one codegen'd per-row transform into a per-site
    * row — a map-only scan, no join, no explode; the sample loop
    * rides array HOFs inside the row. */
  def hudsonFst(df: DataFrame, pop1Size: Int, sidCol: String = "sid",
                gtCol: String = "genotypes"): DataFrame = {
    Seq(sidCol, gtCol).foreach(c =>
      require(df.columns.contains(c), s"VariantQC.hudsonFst: no column '$c'"))
    require(pop1Size > 0, s"pop1Size must be positive, got $pop1Size")
    df.select(col(sidCol).cast("long").as("sid"),
        expr(s"""transform($gtCol, g ->
            CASE WHEN exists(split(split(g, ':')[0], '[/|]'), a -> a = '.')
                 THEN CAST(NULL AS BIGINT)
                 ELSE cast(size(filter(split(split(g, ':')[0], '[/|]'), a -> a = '1')) as bigint)
            END)""").as("ds"))
      .selectExpr("sid",
        s"aggregate(slice(ds, 1, $pop1Size), 0L, (a, x) -> a + coalesce(x, 0L)) AS a1",
        s"2 * size(filter(slice(ds, 1, $pop1Size), x -> x IS NOT NULL)) AS n1",
        s"aggregate(slice(ds, $pop1Size + 1, size(ds) - $pop1Size), 0L, (a, x) -> a + coalesce(x, 0L)) AS a2",
        s"2 * size(filter(slice(ds, $pop1Size + 1, size(ds) - $pop1Size), x -> x IS NOT NULL)) AS n2")
      .selectExpr("sid", "a1", "cast(n1 as bigint) AS n1", "a2", "cast(n2 as bigint) AS n2")
      .where(col("n1") >= 2 && col("n2") >= 2)
      // decimal(38,0) operands: the n^6-scaled products wrap int64 at
      // ~700 diploids/pop; decimal is exact to ~1M diploids/pop and
      // overflows to NULL, never to a wrong value
      .selectExpr("sid", "a1", "n1", "a2", "n2",
        "CAST(a1 AS DECIMAL(38,0)) AS a1d", "CAST(n1 AS DECIMAL(38,0)) AS n1d",
        "CAST(a2 AS DECIMAL(38,0)) AS a2d", "CAST(n2 AS DECIMAL(38,0)) AS n2d")
      .selectExpr("sid", "a1", "n1", "a2", "n2",
        """CAST((a1d*n2d - a2d*n1d) * (a1d*n2d - a2d*n1d) * (n1d-1) * (n2d-1)
             - a1d*(n1d-a1d) * n2d*n2d * (n2d-1)
             - a2d*(n2d-a2d) * n1d*n1d * (n1d-1) AS DECIMAL(38,0)) AS fst_num""",
        """CAST((a1d*(n2d-a2d) + a2d*(n1d-a1d)) * n1d * n2d * (n1d-1) * (n2d-1)
             AS DECIMAL(38,0)) AS fst_den""")
  }

  /** Pairwise identity-by-state counts (plink `--genome`'s IBS0/1/2
    * table): for each sample pair over the sites where both are
    * genotyped, how many sites share 0, 1, or 2 alleles —
    * |x_i − x_j| = 2, 1, 0 respectively on biallelic dosages. Same
    * sites-are-many/samples-are-few orientation as [[kingKinship]]:
    * dosages explode per site, pairs meet in a site-keyed
    * equi-self-join, counts combine map-side before the O(samples²)
    * result shuffles. Pure integer counts; the conventional IBS
    * distance (n_ibs1 + 2·n_ibs2) / (2·n_shared) is the caller's
    * display-time division. */
  def ibsCounts(df: DataFrame, sidCol: String = "sid",
                gtCol: String = "genotypes"): DataFrame = {
    Seq(sidCol, gtCol).foreach(c =>
      require(df.columns.contains(c), s"VariantQC.ibsCounts: no column '$c'"))
    val d = dosageLong(df, sidCol, gtCol)
    val a = d.select(col("sid"), col("j").as("i"), col("x").as("xi"))
    val b = d.select(col("sid"), col("j"), col("x").as("xj"))
    a.join(b, Seq("sid")).where(col("i") < col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_shared"),
        sum(when(abs(col("xi") - col("xj")) === 2, 1L).otherwise(0L)).as("n_ibs0"),
        sum(when(abs(col("xi") - col("xj")) === 1, 1L).otherwise(0L)).as("n_ibs1"),
        sum(when(col("xi") === col("xj"), 1L).otherwise(0L)).as("n_ibs2"))
  }

  /** Windowed nucleotide diversity π (vcftools `--window-pi`): per
    * site, the expected heterozygosity 2a(n−a)/(n(n−1)) over the n
    * called alleles with a alt copies, in micro fixed-point (floor —
    * the value is non-negative, so Spark `div` and DuckDB `//`
    * agree); per window, the site sum and the per-site mean. The
    * fixed-point floor happens per SITE, before the window sum, so
    * the result is independent of aggregation order — summing exact
    * rationals with per-site denominators n(n−1) would need an LCM
    * across the window, which no partitioning could make stable.
    * Map-only transform into a windowed agg keyed by `pos div
    * windowBp`; monomorphic and single-call sites contribute 0. */
  def piWindows(df: DataFrame, windowBp: Long, posCol: String = "pos",
                gtCol: String = "genotypes"): DataFrame = {
    Seq(posCol, gtCol).foreach(c =>
      require(df.columns.contains(c), s"VariantQC.piWindows: no column '$c'"))
    require(windowBp > 0, s"windowBp must be positive, got $windowBp")
    df.select(col(posCol).cast("long").as("pos"),
        expr(s"""transform($gtCol, g ->
            CASE WHEN exists(split(split(g, ':')[0], '[/|]'), a -> a = '.')
                 THEN CAST(NULL AS BIGINT)
                 ELSE cast(size(filter(split(split(g, ':')[0], '[/|]'), a -> a = '1')) as bigint)
            END)""").as("ds"))
      .selectExpr("pos",
        "aggregate(ds, 0L, (acc, x) -> acc + coalesce(x, 0L)) AS a",
        "cast(2 * size(filter(ds, x -> x IS NOT NULL)) as bigint) AS n")
      .selectExpr(s"pos div $windowBp AS wid",
        """CASE WHEN n >= 2 THEN 1000000 * 2 * a * (n - a) div (n * (n - 1))
                ELSE 0L END AS pi_micro""")
      .groupBy(col("wid"))
      .agg(count(lit(1)).as("n_sites"), sum(col("pi_micro")).as("pi_micro_sum"))
      .selectExpr("wid", "n_sites", "pi_micro_sum",
        "pi_micro_sum div n_sites AS pi_site_micro_mean")
  }

  /** Per-sample singleton/private-doubleton counts (vcftools
    * `--singletons`): a singleton site has exactly one alt allele
    * corpus-wide (its het carrier scores `n_singletons`); a private
    * doubleton has both its alt copies in ONE hom-alt sample
    * (`n_private_doubletons` — two hets sharing an AC=2 site are
    * private to neither). Site totals come from a window sum over the
    * already-exploded dosages — one shuffle keyed by site, no
    * join-back — then the per-sample reduce is a few-row aggregate. */
  def singletonsBySample(df: DataFrame, sidCol: String = "sid",
                         gtCol: String = "genotypes"): DataFrame = {
    Seq(sidCol, gtCol).foreach(c =>
      require(df.columns.contains(c), s"VariantQC.singletonsBySample: no column '$c'"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sid")
    dosageLong(df, sidCol, gtCol)
      .withColumn("ac", sum(col("x")).over(w))
      .groupBy(col("j").as("sample_idx"))
      .agg(
        sum(when(col("ac") === 1 && col("x") === 1, 1L).otherwise(0L))
          .as("n_singletons"),
        sum(when(col("ac") === 2 && col("x") === 2, 1L).otherwise(0L))
          .as("n_private_doubletons"))
  }
}
