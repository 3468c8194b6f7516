package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the pipeline sketch operators. Spark's
  * higher-order functions (transform/aggregate) evaluate their lambdas
  * interpreted — a 32-bit x n-token SimHash via nested HOFs costs ~17x
  * what this loop does. These kernels are called from generated code
  * like the SeqOps ones, keeping the whole stage codegen'd.
  *
  * Hash parity: h32(token) = unsigned first 4 md5 bytes — identical to
  * SQL `CAST('0x' || substr(md5(tok),1,8) AS BIGINT)`, so the DuckDB
  * oracles of the SimHash and text gate entries check these kernels
  * bit-exactly.
  */
object PipelineKernels {

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Unsigned 32-bit value of the first 4 md5 bytes of the UTF-8 string. */
  def h32(bytes: Array[Byte]): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(bytes)
    ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
  }

  /** 32-bit SimHash over a token array (±1 per bit per token). */
  def simHash32(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = h32(tokens.getUTF8String(i).getBytes)
      var j = 0
      while (j < 32) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Winnowing minimum: min h32 over n-token windows joined by ' '. */
  def minGramHash(tokens: ArrayData, n: Int): Long = {
    val total = tokens.numElements()
    if (total < n) return 0L
    var best = Long.MaxValue
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= total) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(tokens.getUTF8String(i + k).toString)
        k += 1
      }
      val h = h32(sb.toString.getBytes("UTF-8"))
      if (h < best) best = h
      i += 1
    }
    best
  }

  /** Cosine similarity over two double arrays; left-to-right sums match
    * the oracle's list_sum fold order. */
  /** Squared L2 distance, accumulated left-to-right — bit-identical to
    * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0D, (s, x) -> s + x)`
    * on equal-length arrays (the oracles replay that exact order), ~10x
    * cheaper than the interpreted HOF pair in the Lloyd/probe hot loop. */
  def l2sq(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = a.getDouble(i) - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** The distinct 3-word shingles of a word array, in first-occurrence
    * order — what
    * `array_distinct(transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2])))`
    * gives for a `w` of at least 3 words (concat_ws skips a null word).
    * One loop per row instead of an interpreted lambda per shingle. */
  def wordShingles(w: ArrayData): ArrayData = {
    val n = w.numElements() - 2
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[UTF8String](math.max(n, 0))
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < n) {
      val parts = new java.util.ArrayList[UTF8String](3)
      var k = i
      while (k < i + 3) {
        if (!w.isNullAt(k)) parts.add(w.getUTF8String(k))
        k += 1
      }
      val g = UTF8String.concatWs(space, parts.toArray(new Array[UTF8String](0)): _*)
      if (seen.add(g)) out.add(g)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** MinHash permutation constants (fixed seed; Spark-side only — the
    * oracle never sees signatures, only the verified pair set).
    * a < 2^30 keeps a * h32 (h32 < 2^32) under 2^62: no long overflow. */
  val MinhashPerms: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(32)((rnd.nextInt(1 << 29).toLong * 2 + 1, rnd.nextInt(Int.MaxValue).toLong))
  }
  val P32 = 4294967311L // prime > 2^32
  private val permA = MinhashPerms.map(_._1).toArray
  private val permB = MinhashPerms.map(_._2).toArray

  /** The 16 LSH band keys (band, bh) of one shingle set, a 32-permutation
    * MinHash folded into two-row bands — bit-identical to the SQL it
    * replaces: per shingle `xxhash64(g) & 0xffffffff` (Spark's seed 42,
    * so a null shingle hashes to 42), per permutation the min of
    * `(h * a + b) % P32`, per band `xxhash64(m[2j], m[2j+1])` with
    * Spark's chained seed. An empty set has no bands. One loop per row
    * instead of a 32-way min aggregate over exploded shingles. */
  def minhashBands(sh: ArrayData): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val n = sh.numElements()
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val mins = Array.fill(32)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = if (sh.isNullAt(i)) 42L else {
        val g = sh.getUTF8String(i)
        XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L) & 0xffffffffL
      }
      var p = 0
      while (p < 32) {
        val m = (h * permA(p) + permB(p)) % P32
        if (m < mins(p)) mins(p) = m
        p += 1
      }
      i += 1
    }
    val out = new Array[Any](16)
    var j = 0
    while (j < 16) {
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        j, XXH64.hashLong(mins(2 * j + 1), XXH64.hashLong(mins(2 * j), 42L)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The cid of the (d, cid)-least centroid of `cs`
    * (ARRAY<STRUCT<cid BIGINT, cv ARRAY<DOUBLE>>>) for vector `v`, with
    * d = round(l2sq(v, cv), 6) — what
    * `array_min(transform(cs, c -> struct(round(graft_l2_sq(v, c.cv), 6), c.cid))).cid`
    * gives, including its orderings: a null d or cid sorts first, NaN
    * sorts last and equals NaN. So a null `v` (every d null) yields the
    * least cid, and an empty `cs` yields null. */
  def nearestCell(v: ArrayData, cs: ArrayData): java.lang.Long = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    val n = cs.numElements()
    var found = false
    var bestD: java.lang.Double = null
    var bestCid: java.lang.Long = null
    var i = 0
    while (i < n) {
      var d: java.lang.Double = null
      var cid: java.lang.Long = null
      if (!cs.isNullAt(i)) {
        val c = cs.getStruct(i, 2)
        if (!c.isNullAt(0)) cid = c.getLong(0)
        if (v != null && !c.isNullAt(1)) d = round6(l2sq(v, c.getArray(1)))
      }
      val byD =
        if (d == null) { if (bestD == null) 0 else -1 }
        else if (bestD == null) 1
        else compareDoubles(d, bestD)
      val less = byD < 0 || (byD == 0 && bestCid != null &&
        (cid == null || cid < bestCid))
      if (!found || less) {
        found = true
        bestD = d
        bestCid = cid
      }
      i += 1
    }
    bestCid
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest decimal
    * form; NaN and infinities pass through. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  /** Random-hyperplane LSH bucket: bit j of the result is set iff
    * dot(planes[j], v) >= 0, dots accumulated left-to-right — replays
    *   aggregate(transform(sequence(0, n-1), j ->
    *     IF(aggregate(zip_with(planes[j], v, ...)) >= 0D, 1L << j, 0L)),
    *     0L, +)
    * bit-identically (the recall spec reconstructs buckets via that HOF
    * and must collide exactly), at one array loop instead of nested
    * interpreted lambdas per plane. */
  def lshBucket(planes: ArrayData, v: ArrayData): Long = {
    val np = planes.numElements()
    var out = 0L
    var j = 0
    while (j < np) {
      val p = planes.getArray(j)
      val n = math.min(p.numElements(), v.numElements())
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += p.getDouble(i) * v.getDouble(i)
        i += 1
      }
      if (dot >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** ann_label_margin scoring kernel: for a micro-quantized vector
    * `xs` (ARRAY<BIGINT>) and the packed centroid list `cs`
    * (ARRAY<STRUCT<clabel INT, slv ARRAY<BIGINT>, bb DECIMAL(38,0)>>),
    * emit one (clabel, m) struct per centroid where
    *   m = sign(dot) * (((1e6 * |dot|) div va) * |dot| div bb),
    *   dot = Σ xs[i]*slv[i],  va = Σ xs[i]²
    * — bit-identical to the DECIMAL(38,0) zip_with/aggregate HOF chain
    * it replaces (integer sums are order-free; BigInteger divide
    * truncates toward zero exactly like Spark's IntegralDivide on
    * positive operands, and both stagings run on absolute values).
    * The HOFs evaluated interpreted per row with per-element Decimal
    * boxing — the entry's dominant remaining cost after round 12.
    *
    * Null semantics replay the HOF chain: a null element in xs nulls
    * va and therefore every m; a null slv/bb or a length mismatch
    * (zip_with's null padding) nulls that centroid's m; a null cs
    * element yields a (null, null) struct. va = 0 or bb = 0 cannot
    * occur on gate data (an all-zero quantized vector / empty label);
    * the kernel returns a null m there where ANSI `div` would raise —
    * documented divergence on an unreachable input, chosen so the
    * kernel never kills a 100 TB job on one degenerate row. Sums
    * accumulate in exact long arithmetic and fall back to BigInteger
    * on overflow, so there is no 38-digit precision cliff at all. */
  def labelMarginScores(xs: ArrayData, cs: ArrayData): ArrayData = {
    import java.math.BigInteger
    val nx = xs.numElements()
    var xNull = false
    val xv = new Array[Long](nx)
    var i = 0
    while (i < nx) {
      if (xs.isNullAt(i)) xNull = true else xv(i) = xs.getLong(i)
      i += 1
    }
    var va: BigInteger = null
    if (!xNull) {
      va = try {
        var s = 0L; i = 0
        while (i < nx) { s = Math.addExact(s, Math.multiplyExact(xv(i), xv(i))); i += 1 }
        BigInteger.valueOf(s)
      } catch { case _: ArithmeticException =>
        var b = BigInteger.ZERO; i = 0
        while (i < nx) { b = b.add(BigInteger.valueOf(xv(i)).multiply(BigInteger.valueOf(xv(i)))); i += 1 }
        b
      }
    }
    val million = BigInteger.valueOf(1000000L)
    val k = cs.numElements()
    val out = new Array[Any](k)
    var c = 0
    while (c < k) {
      if (cs.isNullAt(c)) {
        out(c) = org.apache.spark.sql.catalyst.InternalRow(null, null)
      } else {
        val row = cs.getStruct(c, 3)
        val clabel: Any = if (row.isNullAt(0)) null else row.getInt(0)
        var m: Any = null
        if (!xNull && !row.isNullAt(1) && !row.isNullAt(2)) {
          val slv = row.getArray(1)
          if (slv.numElements() == nx) {
            var slvNull = false
            var dot: BigInteger = null
            try {
              var s = 0L; i = 0
              while (i < nx && !slvNull) {
                if (slv.isNullAt(i)) slvNull = true
                else s = Math.addExact(s, Math.multiplyExact(xv(i), slv.getLong(i)))
                i += 1
              }
              if (!slvNull) dot = BigInteger.valueOf(s)
            } catch { case _: ArithmeticException =>
              var b = BigInteger.ZERO; i = 0
              while (i < nx && !slvNull) {
                if (slv.isNullAt(i)) slvNull = true
                else b = b.add(BigInteger.valueOf(xv(i)).multiply(BigInteger.valueOf(slv.getLong(i))))
                i += 1
              }
              if (!slvNull) dot = b
            }
            if (dot != null) {
              val bb = row.getDecimal(2, 38, 0).toJavaBigDecimal.toBigIntegerExact
              if (va.signum != 0 && bb.signum != 0) {
                val dotAbs = dot.abs
                val t1 = dotAbs.multiply(million).divide(va)
                val t2 = t1.multiply(dotAbs).divide(bb)
                val signed = if (dot.signum < 0) t2.negate else t2
                m = signed.longValueExact
              }
            }
          }
        }
        out(c) = org.apache.spark.sql.catalyst.InternalRow(clabel, m)
      }
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Left-to-right dot product — bit-identical to [[cosine]]'s dot
    * accumulator (same index order, same IEEE adds). Pairs with
    * [[l2norm]] so an n²-candidate verify stage computes each norm
    * ONCE per vector instead of re-deriving both inside every pair:
    *   round(dot(a,b) / (l2norm(a) * l2norm(b)), 6)
    * replays round(cosine(a,b), 6) bit-for-bit (identical operands,
    * identical op order), at one third the per-pair FLOPs. Unequal
    * lengths fail: clamping to the shorter vector would silently break
    * that identity, since [[l2norm]] sums the whole vector. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (b.numElements() != n) throw new IllegalArgumentException(
      s"graft_dot: vector lengths differ ($n vs ${b.numElements()})")
    var d = 0.0
    var i = 0
    while (i < n) {
      d += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    d
  }

  /** sqrt of the left-to-right sum of squares — bit-identical to the
    * sqrt([[cosine]]'s na/nb accumulator) factors (the accumulators are
    * independent, so hoisting them out of the interleaved loop changes
    * no IEEE operation). */
  def l2norm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      s += x * x
      i += 1
    }
    math.sqrt(s)
  }

  /** Block-pair radius prescreen for the exact cosine self-join: given
    * two sub-cell member blocks (ARRAY<STRUCT<vec_id, vo, vn>>) and a
    * CONSERVATIVE threshold tauMinus (tau − 1e-6 < the exact
    * round-to-6 acceptance bound tau − 5e-7), emit one
    * (id_a, id_b, c) struct per ordered pair with id_a < id_b and
    * c = dot(vo_a, vo_b)/(vn_a·vn_b) >= tauMinus. The dot
    * accumulates left-to-right — the SAME IEEE ops the SQL verify
    * recomputes on the emitted rows — so the screen is a LOSSLESS
    * superset filter (a pair the exact round(...,6) >= tau predicate
    * accepts always clears tauMinus; RadiusSearchSpec property-checks
    * the whole pipeline against brute force) and the declared result
    * still comes from the unchanged SQL round-and-compare. Why a block
    * kernel: at low tau the triangle prune passes most sub-cell pairs,
    * and materializing the ~n² candidate fan as JOIN ROWS cost ~100 ns
    * of row plumbing per pair where this loop pays ~5 ns (guide §8:
    * decide on proxies in bulk, materialize only survivors). Survivors
    * carry only (id_a, id_b, c) — 24 bytes — NOT the vectors: on this
    * corpus the qualifying-pair set itself is ~0.75% of n² (isotropic
    * embeddings, the gauge's documented worst case), so re-attaching
    * two 64-double vectors per survivor was gigabytes at the 100x tier
    * where the raw dot the SQL round() needs is one double. */
  def radiusBlockScreen(a: ArrayData, b: ArrayData, tauMinus: Double): ArrayData = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val na = a.numElements()
    val nb = b.numElements()
    val bids = new Array[Long](nb)
    val bvs = new Array[Array[Double]](nb)
    val bns = new Array[Double](nb)
    var j = 0
    while (j < nb) {
      val r = b.getStruct(j, 3)
      bids(j) = r.getLong(0)
      bvs(j) = r.getArray(1).toDoubleArray()
      bns(j) = r.getDouble(2)
      j += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]
    var i = 0
    while (i < na) {
      val r = a.getStruct(i, 3)
      val ida = r.getLong(0)
      val av = r.getArray(1).toDoubleArray()
      val an = r.getDouble(2)
      j = 0
      while (j < nb) {
        if (ida < bids(j)) {
          val bv = bvs(j)
          val n = av.length
          if (bv.length != n) throw new IllegalArgumentException(
            s"radius block screen: vector lengths differ ($n vs ${bv.length})")
          var d = 0.0
          var t = 0
          while (t < n) { d += av(t) * bv(t); t += 1 }
          val c = d / (an * bns(j))
          if (c >= tauMinus) out += InternalRow(ida, bids(j), c)
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Unit-normalize: x_i / sqrt(Σ x_j²), sum left-to-right — bit-
    * identical to the SQL idiom
    *   transform(v, x -> x / sqrt(aggregate(v, 0D, (a, y) -> a + y*y)))
    * which re-evaluates the inner aggregate FOR EVERY ELEMENT (Catalyst
    * does no subexpression elimination inside lambda bodies): 64×64
    * interpreted lambda steps per row where one fused loop suffices —
    * the radius family's quantizer paid this on every corpus pass. */
  def l2normalize(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      s += x * x
      i += 1
    }
    val d = math.sqrt(s)
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      out(i) = a.getDouble(i) / d
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}
