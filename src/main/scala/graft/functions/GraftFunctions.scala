package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.IntegerType

/** Registration of the full scalar surface (SURVEY.md §2.C) on a
  * SparkSession, plus a Column API mirroring
  * org.apache.spark.sql.functions.
  *
  * The 12 SAM-flag predicates are composed from built-in expressions
  * ((flag & bit) != 0), so they codegen like any native comparison —
  * no custom kernel needed (ref: exon/src/exon/sam_functions/module.cpp:
  * 133-182, bits 0x1..0x800 in registration order).
  */
object GraftFunctions {

  /** SAM FLAG bit predicates, in the reference's registration order. */
  val samFlagBits: Seq[(String, Int)] = Seq(
    "is_segmented" -> 0x1,
    "is_properly_aligned" -> 0x2,
    "is_unmapped" -> 0x4,
    "is_mate_unmapped" -> 0x8,
    "is_reverse_complemented" -> 0x10,
    "is_mate_reverse_complemented" -> 0x20,
    "is_first_segment" -> 0x40,
    "is_last_segment" -> 0x80,
    "is_secondary" -> 0x100,
    "is_quality_control_failed" -> 0x200,
    "is_duplicate" -> 0x400,
    "is_supplementary" -> 0x800)

  /** Version string the reference's `exondb_version()` returns
    * (exon/src/exon/core/module.cpp:25). */
  val ExonDbVersion = "0.3.9"

  private type Builder = Seq[Expression] => Expression
  private val builders: Seq[(String, Builder)] = Seq[(String, Builder)](
    "complement" -> (e => Complement(e.head)),
    "transcribe" -> (e => Transcribe(e.head)),
    "reverse_transcribe" -> (e => ReverseTranscribe(e.head)),
    "reverse_complement" -> (e => ReverseComplement(e.head)),
    "gc_content" -> (e => GcContent(e.head)),
    "translate_dna_to_aa" -> (e => TranslateDnaToAa(e.head)),
    "translate_dna_to_aa_lenient" -> (e => TranslateDnaToAaLenient(e.head)),
    "parse_cigar" -> (e => ParseCigar(e.head)),
    "cigar_spans" -> (e => CigarSpans(e(0), e(1))),
    "extract_from_cigar" -> (e => ExtractFromCigar(e(0), e(1))),
    "quality_score_string_to_list" -> (e => QualityScoreStringToList(e.head)),
    "gff_parse_attributes" -> (e => GffParseAttributes(e.head)),
    "norm_variant" -> (e => NormVariant(e(0), e(1), e(2))),
    "split_genotype" -> (e => SplitGenotype(e(0), e(1))),
    "quality_trim_length" -> (e => QualityTrimLength(e(0), e(1), e(2))),
    "mendel_violation" -> (e => MendelViolation(e(0), e(1), e(2))),
    "parse_newick" -> (e => ParseNewick(e.head)),
    "exondb_version" -> (_ => Literal(ExonDbVersion)),
    // graft-native pipeline kernels (sketches + cosine)
    "graft_simhash32" -> (e => SimHash32(e.head)),
    "graft_min_gram_hash" -> (e => MinGramHash(e(0), e(1))),
    "graft_cosine_sim" -> (e => CosineSim(e(0), e(1))),
    "graft_l2_sq" -> (e => L2Sq(e(0), e(1))),
    "graft_word_shingles" -> (e => WordShingles(e.head)),
    "graft_minhash_bands" -> (e => MinhashBands(e.head)),
    "graft_nearest_cell" -> (e => NearestCell(e(0), e(1))),
    "graft_lsh_bucket" -> (e => LshBucket(e(0), e(1))),
    "graft_label_margin_scores" -> (e => LabelMarginScores(e(0), e(1))),
    "graft_dot" -> (e => DotProduct(e(0), e(1))),
    "graft_l2norm" -> (e => L2Norm(e.head)),
    "graft_l2_normalize" -> (e => L2Normalize(e.head)),
    "graft_radius_block_screen" -> (e => RadiusBlockScreen(e(0), e(1), e(2))),
    // custom TypedImperativeAggregate (the analyzer wraps an
    // AggregateFunction builder result in AggregateExpression)
    "bottom_k_by_key" -> (e => BottomKByKey(e(0), e(1), e(2)))) ++
    samFlagBits.map { case (name, bit) =>
      name -> ((e: Seq[Expression]) =>
        Not(EqualTo(BitwiseAnd(Cast(e.head, IntegerType), Literal(bit)), Literal(0))))
    }

  /** Idempotent: register every function on the session (temp registry). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "scala_udf")
    }
    AlignmentFunctions.registerAll(spark)
  }

  // ---- Column API (usable without SQL registration) ----
  def complement(c: Column): Column = call_function("complement", c)
  def transcribe(c: Column): Column = call_function("transcribe", c)
  def reverse_transcribe(c: Column): Column = call_function("reverse_transcribe", c)
  def reverse_complement(c: Column): Column = call_function("reverse_complement", c)
  def gc_content(c: Column): Column = call_function("gc_content", c)
  def translate_dna_to_aa(c: Column): Column = call_function("translate_dna_to_aa", c)
  def parse_cigar(c: Column): Column = call_function("parse_cigar", c)
  def extract_from_cigar(s: Column, c: Column): Column = call_function("extract_from_cigar", s, c)
  def quality_score_string_to_list(c: Column): Column = call_function("quality_score_string_to_list", c)
  def gff_parse_attributes(c: Column): Column = call_function("gff_parse_attributes", c)
  def bottom_k_by_key(key: Column, id: Column, k: Column): Column =
    call_function("bottom_k_by_key", key, id, k)
}
