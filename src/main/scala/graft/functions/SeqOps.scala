package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel implementations of the reference's scalar surface, byte-level
  * over UTF8String so Catalyst codegen can call them directly (static
  * forwarders) inside whole-stage-generated code.
  *
  * Semantics mirror wheretrue/exon-duckdb
  * (`exon/src/exon/sequence_functions/module.cpp`,
  * `sam_functions/module.cpp`, `fastq_functions/module.cpp`,
  * `gff_functions/module.cpp`); see each method's note. Invalid input
  * throws (the reference's tests pin error behavior), NULL handling is
  * done by the calling expression (null in → null out).
  */
object SeqOps {

  private def fail(fn: String, msg: String): Nothing =
    throw new IllegalArgumentException(s"$fn: $msg")

  /** DNA complement: A<->T, C<->G; anything else throws.
    * Ref: sequence_functions/module.cpp:81-129. */
  def complement(s: UTF8String): UTF8String = {
    val in = s.getBytes
    val out = new Array[Byte](in.length)
    var i = 0
    while (i < in.length) {
      out(i) = (in(i): @unchecked) match {
        case 'A' => 'T'
        case 'T' => 'A'
        case 'C' => 'G'
        case 'G' => 'C'
        case c   => fail("complement", s"invalid nucleotide '${c.toChar}'")
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** DNA -> RNA: T -> U. Ref: sequence_functions/module.cpp:215-261. */
  def transcribe(s: UTF8String): UTF8String = {
    val in = s.getBytes
    val out = new Array[Byte](in.length)
    var i = 0
    while (i < in.length) {
      out(i) = (in(i): @unchecked) match {
        case 'T'                 => 'U'
        case c @ ('A' | 'C' | 'G') => c
        case c => fail("transcribe", s"invalid nucleotide '${c.toChar}'")
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** RNA -> DNA: U -> T. Ref: sequence_functions/module.cpp:168-213. */
  def reverseTranscribe(s: UTF8String): UTF8String = {
    val in = s.getBytes
    val out = new Array[Byte](in.length)
    var i = 0
    while (i < in.length) {
      out(i) = (in(i): @unchecked) match {
        case 'U'                 => 'T'
        case c @ ('A' | 'C' | 'G') => c
        case c => fail("reverse_transcribe", s"invalid nucleotide '${c.toChar}'")
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Reference-faithful `reverse_complement`: the reference maps
    * A->C, T->G, C->A, G->T with NO reversal — this is NOT the
    * biological reverse complement ('GGGG' -> 'TTTT', biology says
    * 'CCCC'), but its golden tests enshrine it
    * (sequence_functions/module.cpp:30-79), so we replicate it and flag
    * it here. */
  def reverseComplement(s: UTF8String): UTF8String = {
    val in = s.getBytes
    val out = new Array[Byte](in.length)
    var i = 0
    while (i < in.length) {
      out(i) = (in(i): @unchecked) match {
        case 'A' => 'C'
        case 'T' => 'G'
        case 'C' => 'A'
        case 'G' => 'T'
        case c   => fail("reverse_complement", s"invalid nucleotide '${c.toChar}'")
      }
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** (#G + #C) / length as float; 0.0 for the empty string. Non-ACGT
    * bytes simply don't count (the reference only validates G/C/A/T
    * implicitly). Ref: sequence_functions/module.cpp:131-166 — minus its
    * early-return and constant-vector bugs, which we deliberately do not
    * replicate. */
  def gcContent(s: UTF8String): Float = {
    val in = s.getBytes
    if (in.length == 0) return 0.0f
    var gc = 0
    var i = 0
    while (i < in.length) {
      val c = in(i)
      if (c == 'G' || c == 'C') gc += 1
      i += 1
    }
    (gc.toDouble / in.length.toDouble).toFloat
  }

  /** Standard genetic code, 64 codons; '*' = stop.
    * Ref: sequence_functions/module.cpp:263-370. */
  private val CodonTable: Map[String, Char] = Map(
    "TTT" -> 'F', "TTC" -> 'F', "TTA" -> 'L', "TTG" -> 'L',
    "CTT" -> 'L', "CTC" -> 'L', "CTA" -> 'L', "CTG" -> 'L',
    "ATT" -> 'I', "ATC" -> 'I', "ATA" -> 'I', "ATG" -> 'M',
    "GTT" -> 'V', "GTC" -> 'V', "GTA" -> 'V', "GTG" -> 'V',
    "TCT" -> 'S', "TCC" -> 'S', "TCA" -> 'S', "TCG" -> 'S',
    "CCT" -> 'P', "CCC" -> 'P', "CCA" -> 'P', "CCG" -> 'P',
    "ACT" -> 'T', "ACC" -> 'T', "ACA" -> 'T', "ACG" -> 'T',
    "GCT" -> 'A', "GCC" -> 'A', "GCA" -> 'A', "GCG" -> 'A',
    "TAT" -> 'Y', "TAC" -> 'Y', "TAA" -> '*', "TAG" -> '*',
    "CAT" -> 'H', "CAC" -> 'H', "CAA" -> 'Q', "CAG" -> 'Q',
    "AAT" -> 'N', "AAC" -> 'N', "AAA" -> 'K', "AAG" -> 'K',
    "GAT" -> 'D', "GAC" -> 'D', "GAA" -> 'E', "GAG" -> 'E',
    "TGT" -> 'C', "TGC" -> 'C', "TGA" -> '*', "TGG" -> 'W',
    "CGT" -> 'R', "CGC" -> 'R', "CGA" -> 'R', "CGG" -> 'R',
    "AGT" -> 'S', "AGC" -> 'S', "AGA" -> 'R', "AGG" -> 'R',
    "GGT" -> 'G', "GGC" -> 'G', "GGA" -> 'G', "GGG" -> 'G')

  /** Exposed so the DuckDB oracle of the codon-translation gate entry
    * can spell the same table. */
  def codonPairs: Seq[(String, Char)] = CodonTable.toSeq.sortBy(_._1)

  def translateDnaToAa(s: UTF8String): UTF8String = {
    val seq = s.toString
    if (seq.length % 3 != 0)
      fail("translate_dna_to_aa", s"sequence length ${seq.length} is not divisible by 3")
    val out = new StringBuilder(seq.length / 3)
    var i = 0
    while (i < seq.length) {
      val codon = seq.substring(i, i + 3)
      out += CodonTable.getOrElse(codon, fail("translate_dna_to_aa", s"unknown codon '$codon'"))
      i += 3
    }
    UTF8String.fromString(out.result())
  }

  /** Lenient translation for analytics over REAL assemblies: unknown
    * codons (N runs, IUPAC ambiguity codes, soft-mask leftovers) become
    * 'X' — the standard unknown-residue code — instead of throwing.
    * The strict [[translateDnaToAa]] stays reference-faithful (the
    * reference errors on unknown codons); this variant is what
    * corpus-wide scans (orfStats) use so one masked contig cannot kill
    * a whole query. Length must still be a codon multiple — that is a
    * caller bug, not a data property. */
  def translateDnaToAaLenient(s: UTF8String): UTF8String = {
    val seq = s.toString
    if (seq.length % 3 != 0)
      fail("translate_dna_to_aa_lenient", s"sequence length ${seq.length} is not divisible by 3")
    val out = new StringBuilder(seq.length / 3)
    var i = 0
    while (i < seq.length) {
      out += CodonTable.getOrElse(seq.substring(i, i + 3), 'X')
      i += 3
    }
    UTF8String.fromString(out.result())
  }

  /** '1M2S' -> [{op:'M',len:1},{op:'S',len:2}]; invalid format throws.
    * Ref: sam_functions/module.cpp:32-75 + rust sam_functions.rs:114-131. */
  def parseCigar(s: UTF8String): ArrayData = {
    val cig = s.toString
    if (cig.isEmpty) fail("parse_cigar", "empty CIGAR")
    val ops = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < cig.length) {
      val start = i
      while (i < cig.length && cig.charAt(i).isDigit) i += 1
      if (i == start || i == cig.length)
        fail("parse_cigar", s"invalid CIGAR '$cig'")
      val len = java.lang.Integer.parseInt(cig.substring(start, i))
      val op = cig.charAt(i)
      if ("MIDNSHP=X".indexOf(op) < 0)
        fail("parse_cigar", s"invalid CIGAR op '$op' in '$cig'")
      ops += new GenericInternalRow(Array[Any](UTF8String.fromString(op.toString), len))
      i += 1
    }
    new GenericArrayData(ops.toArray)
  }

  /** Aligned M/=/X spans of a CIGAR walked from 1-based `start`:
    * one (pos, qi, len) struct per query-AND-reference-consuming op,
    * where pos is the span's first reference position and qi its
    * 1-based query offset. D/N advance the reference only, I/S the
    * query only, H/P neither — the SAM spec consumption table. ONE
    * linear pass with no array re-copying: the HOF alternative
    * (concat-append inside `aggregate`) copies the growing pair list
    * once per op, quadratic on long-read CIGARs with thousands of ops. */
  def cigarSpans(s: UTF8String, start: Long): ArrayData = {
    val cig = s.toString
    if (cig.isEmpty) fail("cigar_spans", "empty CIGAR")
    val spans = scala.collection.mutable.ArrayBuffer.empty[Any]
    var r = start
    var q = 1
    var i = 0
    while (i < cig.length) {
      val d0 = i
      while (i < cig.length && cig.charAt(i).isDigit) i += 1
      if (i == d0 || i == cig.length)
        fail("cigar_spans", s"invalid CIGAR '$cig'")
      val len = java.lang.Integer.parseInt(cig.substring(d0, i))
      cig.charAt(i) match {
        case 'M' | '=' | 'X' =>
          // len==0 is legal CIGAR ('0M' padding some aligners emit) but a
          // zero-length span would make downstream sequence(0, len-1)
          // explodes fabricate [0,-1] rows — emit no span at all.
          if (len > 0) spans += new GenericInternalRow(Array[Any](r, q, len))
          r += len; q += len
        case 'D' | 'N' => r += len
        case 'I' | 'S' => q += len
        case 'H' | 'P' => ()
        case op => fail("cigar_spans", s"invalid CIGAR op '$op' in '$cig'")
      }
      i += 1
    }
    new GenericArrayData(spans.toArray)
  }

  /** Trim leading/trailing Insertion ops and return
    * (sequence_start, sequence_end, trimmed sequence).
    * Ref: sam_functions/module.cpp:77-115 + rust sam_functions.rs:161-200:
    * start = len(first op) if it is I else 0; end = len(seq) - len(last op)
    * if it is I else len(seq). */
  def extractFromCigar(seq: UTF8String, cigar: UTF8String): InternalRow = {
    val parsed = parseCigar(cigar)
    val n = parsed.numElements()
    val first = parsed.getStruct(0, 2)
    val last = parsed.getStruct(n - 1, 2)
    val sLen = seq.numChars()
    val start = if (first.getUTF8String(0).toString == "I") first.getInt(1) else 0
    val end = if (last.getUTF8String(0).toString == "I") sLen - last.getInt(1) else sLen
    new GenericInternalRow(Array[Any](start, end, seq.substringSQL(start + 1, end - start)))
  }

  /** Parsimonious variant representation (the reference-free half of
    * bcftools norm / vt normalize): trim the shared SUFFIX of ref/alt,
    * then the shared PREFIX (advancing pos per leading base removed),
    * always keeping at least one anchor base on each side — so
    * `pos=100 ref=ACGT alt=ACT` normalizes to `pos=101 ref=CG alt=C`
    * and a SNP buried in redundant padding collapses to the 1bp
    * substitution. Symbolic alleles (`<DEL>`, `<*>`), breakends and
    * missing alts pass through untouched: their textual padding is
    * semantic, not redundancy. Full left-ALIGNMENT of indels
    * additionally needs the reference genome and is a separate,
    * faidx-backed concern. */
  def normVariant(pos: Long, ref: UTF8String, alt: UTF8String): InternalRow = {
    val r0 = ref.toString
    val a0 = alt.toString
    if (a0.isEmpty || a0 == "." || a0.charAt(0) == '<' ||
        a0.indexOf('[') >= 0 || a0.indexOf(']') >= 0)
      return new GenericInternalRow(Array[Any](pos, ref, alt))
    var rEnd = r0.length
    var aEnd = a0.length
    while (rEnd > 1 && aEnd > 1 && r0.charAt(rEnd - 1) == a0.charAt(aEnd - 1)) {
      rEnd -= 1; aEnd -= 1
    }
    var s = 0
    var p = pos
    while (rEnd - s > 1 && aEnd - s > 1 && r0.charAt(s) == a0.charAt(s)) {
      s += 1; p += 1
    }
    new GenericInternalRow(Array[Any](p,
      UTF8String.fromString(r0.substring(s, rEnd)),
      UTF8String.fromString(a0.substring(s, aEnd))))
  }

  /** Genotype remap for the multiallelic split (bcftools norm -m-):
    * in the biallelic record for alt #`alleleIdx` (1-based), a sample's
    * GT keeps '0' for ref, maps `alleleIdx` to '1', and OTHER alt
    * alleles to '0' (bcftools' coding: they are "some other allele",
    * absorbed into ref in this record); '.' stays missing. Phasing
    * separators and any trailing FORMAT fields (":GQ:DP...") pass
    * through untouched. Haploid and polyploid calls work — tokens are
    * remapped positionally, separators preserved verbatim. */
  def splitGenotype(gt: UTF8String, alleleIdx: Int): UTF8String = {
    val s = gt.toString
    val colon = s.indexOf(':')
    val gtPart = if (colon < 0) s else s.substring(0, colon)
    val rest = if (colon < 0) "" else s.substring(colon)
    val out = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < gtPart.length) {
      val start = i
      while (i < gtPart.length && gtPart.charAt(i) != '/' && gtPart.charAt(i) != '|') i += 1
      val tok = gtPart.substring(start, i)
      out.append(
        if (tok == "." || tok.isEmpty) tok
        else if (java.lang.Integer.parseInt(tok) == alleleIdx) "1"
        else "0")
      if (i < gtPart.length) { out.append(gtPart.charAt(i)); i += 1 }
    }
    UTF8String.fromString(out.toString + rest)
  }

  /** Sliding-window quality trim (Trimmomatic SLIDINGWINDOW:w:q on
    * Phred+33): return the KEPT length — the read is cut at the start
    * of the first full window whose mean quality drops below
    * `minMean`; reads with no failing full window keep their whole
    * length. Windows shorter than `w` at the 3' end are not evaluated
    * (documented simplification: the canonical tool also re-scans the
    * tail, which only matters for reads shorter than the window). */
  def qualityTrimLength(qual: UTF8String, w: Int, minMean: Int): Int = {
    if (w <= 0) fail("quality_trim_length", s"window must be positive, got $w")
    val q = qual.getBytes
    if (q.length < w) return q.length
    // rolling sum of the current window of w quality values
    var sum = 0
    var i = 0
    while (i < w) { sum += q(i) - 33; i += 1 }
    val bar = minMean * w
    if (sum < bar) return 0
    while (i < q.length) {
      sum += (q(i) - 33) - (q(i - w) - 33)
      i += 1
      if (sum < bar) return i - w
    }
    q.length
  }

  /** Mendelian-consistency check for a diploid trio: the child's two
    * alleles must be splittable into one transmitted by the father and
    * one by the mother (either assignment). Returns TRUE on violation,
    * FALSE when consistent, NULL when any genotype is missing ('.'
    * anywhere) or not diploid (haploid/polyploid calls need ploidy
    * semantics this predicate deliberately does not guess). Phasing is
    * ignored; trailing FORMAT fields are stripped. */
  def mendelViolation(child: UTF8String, father: UTF8String,
                      mother: UTF8String): Any = {
    def alleles(g: UTF8String): Array[String] = {
      val s0 = g.toString
      val colon = s0.indexOf(':')
      val gt = if (colon < 0) s0 else s0.substring(0, colon)
      gt.split("[/|]", -1)
    }
    val c = alleles(child); val f = alleles(father); val m = alleles(mother)
    if (c.length != 2 || f.length != 2 || m.length != 2) return null
    if ((c ++ f ++ m).exists(a => a == "." || a.isEmpty)) return null
    def has(par: Array[String], a: String) = par(0) == a || par(1) == a
    val ok = (has(f, c(0)) && has(m, c(1))) || (has(f, c(1)) && has(m, c(0)))
    java.lang.Boolean.valueOf(!ok)
  }

  /** Newick phylogenetic-tree parse: one pass with an explicit parent
    * stack, emitting (node, name, parent, branch_length, depth,
    * is_leaf) rows in PREORDER allocation order — '(' allocates the
    * internal node whose label/length arrive after its ')', leaves
    * allocate on their token. parent = -1 for the root, branch_length
    * null when absent (the root, or unlabeled edges). Quoted labels
    * and comments are out of scope (documented); malformed nesting
    * throws rather than returning a partial tree. */
  def parseNewick(s: UTF8String): ArrayData = {
    val t = s.toString.trim
    if (t.isEmpty || t == ";") fail("parse_newick", "empty tree")
    final case class Node(id: Int, var name: String, parent: Int,
                          var blen: Any, depth: Int, var leaf: Boolean)
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Node]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    def readLabel(): String = {
      val s0 = i
      while (i < t.length && !":,();".contains(t.charAt(i))) i += 1
      t.substring(s0, i).trim match { case "" => null; case n => n }
    }
    def readBlen(): Any =
      if (i < t.length && t.charAt(i) == ':') {
        i += 1
        val s0 = i
        while (i < t.length && !",();".contains(t.charAt(i))) i += 1
        java.lang.Double.parseDouble(t.substring(s0, i).trim)
      } else null
    while (i < t.length && t.charAt(i) != ';') {
      t.charAt(i) match {
        case '(' =>
          val n = Node(nodes.length, null,
            if (stack.isEmpty) -1 else stack.last, null, stack.length, leaf = false)
          nodes += n
          stack += n.id
          i += 1
        case ')' =>
          if (stack.isEmpty) fail("parse_newick", s"unbalanced ')' in '$t'")
          val id = stack.remove(stack.length - 1)
          i += 1
          nodes(id).name = readLabel()
          nodes(id).blen = readBlen()
        case ',' => i += 1
        case c if c.isWhitespace => i += 1
        case _ =>
          val n = Node(nodes.length, readLabel(),
            if (stack.isEmpty) -1 else stack.last, null, stack.length, leaf = true)
          n.blen = readBlen()
          nodes += n
      }
    }
    if (stack.nonEmpty) fail("parse_newick", s"unbalanced '(' in '$t'")
    new GenericArrayData(nodes.map(n => new GenericInternalRow(Array[Any](
      n.id, if (n.name == null) null else UTF8String.fromString(n.name),
      n.parent, n.blen, n.depth, n.leaf)): Any).toArray)
  }

  /** Phred+33 decode: each char c -> c - 33.
    * Ref: fastq_functions/module.cpp:28-54. */
  def qualityScoreStringToList(s: UTF8String): ArrayData = {
    val in = s.getBytes
    val out = new Array[Int](in.length)
    var i = 0
    while (i < in.length) { out(i) = in(i) - 33; i += 1 }
    ArrayData.toArrayData(out)
  }

  /** 'k1=v1;k2=v2[;]' -> map; throws unless each non-empty segment is
    * exactly k=v. Ref: gff_functions/module.cpp:29-84. */
  def gffParseAttributes(s: UTF8String): MapData = {
    val txt = s.toString
    val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
    val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    txt.split(";").foreach { seg0 =>
      val seg = seg0.trim
      if (seg.nonEmpty) {
        val eq = seg.indexOf('=')
        if (eq <= 0 || eq != seg.lastIndexOf('=') || eq == seg.length - 1)
          fail("gff_parse_attributes", s"attribute segment '$seg' is not key=value")
        keys += UTF8String.fromString(seg.substring(0, eq))
        vals += UTF8String.fromString(seg.substring(eq + 1))
      }
    }
    ArrayBasedMapData(keys.toArray, vals.toArray)
  }
}
