package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd expressions over the PipelineKernels (sketches + cosine). */

case class SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash32 requires ARRAY<STRING>, got $t")
  }
  override def nullSafeEval(v: Any): Any =
    PipelineKernels.simHash32(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PipelineKernels.simHash32($c)")
  override protected def withNewChildInternal(c: Expression): SimHash32 = copy(child = c)
  override def prettyName: String = "graft_simhash32"
}

case class MinGramHash(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(_: StringType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"min_gram_hash requires (ARRAY<STRING>, INT), got $t")
  }
  override def nullSafeEval(toks: Any, n: Any): Any =
    PipelineKernels.minGramHash(toks.asInstanceOf[ArrayData], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, n) => s"graft.functions.PipelineKernels.minGramHash($t, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinGramHash =
    copy(left = l, right = r)
  override def prettyName: String = "graft_min_gram_hash"
}

case class L2Sq(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"l2_sq requires (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got $t")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    PipelineKernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PipelineKernels.l2sq($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2Sq =
    copy(left = l, right = r)
  override def prettyName: String = "graft_l2_sq"
}

case class LshBucket(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  // strict: a literal plane matrix parses as ARRAY<ARRAY<DECIMAL>> —
  // callers write double literals (1.0D) or cast; silent decimal
  // acceptance would hide a 10x-slower Decimal unbox in the hot loop
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires (ARRAY<ARRAY<DOUBLE>>, ARRAY<DOUBLE>), got $t")
  }
  override def nullSafeEval(planes: Any, v: Any): Any =
    PipelineKernels.lshBucket(planes.asInstanceOf[ArrayData], v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (p, v) => s"graft.functions.PipelineKernels.lshBucket($p, $v)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LshBucket =
    copy(left = l, right = r)
  override def prettyName: String = "graft_lsh_bucket"
}

case class LabelMarginScores(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("clabel", IntegerType, nullable = true),
    StructField("m", LongType, nullable = true))), containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _),
          ArrayType(StructType(Array(
            StructField(_, IntegerType, _, _),
            StructField(_, ArrayType(LongType, _), _, _),
            StructField(_, d: DecimalType, _, _))), _)) if d == DecimalType(38, 0) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"label_margin_scores requires (ARRAY<BIGINT>, ARRAY<STRUCT<INT, ARRAY<BIGINT>, DECIMAL(38,0)>>), got $t")
  }
  override def nullSafeEval(xs: Any, cs: Any): Any =
    PipelineKernels.labelMarginScores(xs.asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (xs, cs) => s"graft.functions.PipelineKernels.labelMarginScores($xs, $cs)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LabelMarginScores =
    copy(left = l, right = r)
  override def prettyName: String = "graft_label_margin_scores"
}

case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"dot requires (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got $t")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    PipelineKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PipelineKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "graft_dot"
}

case class L2Norm(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"l2norm requires ARRAY<DOUBLE>, got $t")
  }
  override def nullSafeEval(a: Any): Any =
    PipelineKernels.l2norm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PipelineKernels.l2norm($a)")
  override protected def withNewChildInternal(c: Expression): L2Norm = copy(child = c)
  override def prettyName: String = "graft_l2norm"
}

case class RadiusBlockScreen(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  private def memberType(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(
      StructField(_, LongType, _, _),
      StructField(_, ArrayType(DoubleType, _), _, _),
      StructField(_, DoubleType, _, _))), _) => true
    case _ => false
  }
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("c", DoubleType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (a, b, DoubleType) if memberType(a) && memberType(b) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"radius_block_screen requires (ARRAY<STRUCT<BIGINT, ARRAY<DOUBLE>, DOUBLE>> x2, DOUBLE), got $t")
    }
  override def nullSafeEval(a: Any, b: Any, tau: Any): Any =
    PipelineKernels.radiusBlockScreen(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], tau.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, t) =>
      s"graft.functions.PipelineKernels.radiusBlockScreen($a, $b, $t)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): RadiusBlockScreen =
    copy(first = f, second = s, third = t)
  override def prettyName: String = "graft_radius_block_screen"
}

case class L2Normalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"l2_normalize requires ARRAY<DOUBLE>, got $t")
  }
  override def nullSafeEval(a: Any): Any =
    PipelineKernels.l2normalize(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.PipelineKernels.l2normalize($a)")
  override protected def withNewChildInternal(c: Expression): L2Normalize = copy(child = c)
  override def prettyName: String = "graft_l2_normalize"
}

case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"cosine_sim requires (ARRAY<DOUBLE>, ARRAY<DOUBLE>), got $t")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    PipelineKernels.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.PipelineKernels.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
  override def prettyName: String = "graft_cosine_sim"
}

case class MinhashBands(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("bh", LongType, nullable = false))), containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash_bands requires ARRAY<STRING>, got $t")
  }
  override def nullSafeEval(sh: Any): Any =
    PipelineKernels.minhashBands(sh.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PipelineKernels.minhashBands($c)")
  override protected def withNewChildInternal(c: Expression): MinhashBands = copy(child = c)
  override def prettyName: String = "graft_minhash_bands"
}

/** graft_nearest_cell(v, cs): see [[PipelineKernels.nearestCell]]. Not
  * null-intolerant in `v` (a null vector still picks the least cid);
  * null when `cs` is null or empty. */
case class NearestCell(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _),
          ArrayType(StructType(Array(
            StructField(_, LongType, _, _),
            StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_cell requires (ARRAY<DOUBLE>, ARRAY<STRUCT<BIGINT, ARRAY<DOUBLE>>>), got $t")
  }
  override def eval(input: InternalRow): Any = {
    val cs = right.eval(input)
    if (cs == null) null
    else PipelineKernels.nearestCell(
      left.eval(input).asInstanceOf[ArrayData], cs.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val v = left.genCode(ctx)
    val cs = right.genCode(ctx)
    val best = ctx.freshName("best")
    ev.copy(code = code"""
      ${v.code}
      ${cs.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = -1L;
      if (!${cs.isNull}) {
        java.lang.Long $best = graft.functions.PipelineKernels.nearestCell(
          ${v.isNull} ? null : ${v.value}, ${cs.value});
        if ($best != null) {
          ${ev.isNull} = false;
          ${ev.value} = $best;
        }
      }""")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): NearestCell =
    copy(left = l, right = r)
  override def prettyName: String = "graft_nearest_cell"
}

case class WordShingles(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"word_shingles requires ARRAY<STRING>, got $t")
  }
  override def nullSafeEval(w: Any): Any =
    PipelineKernels.wordShingles(w.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, w => s"graft.functions.PipelineKernels.wordShingles($w)")
  override protected def withNewChildInternal(c: Expression): WordShingles = copy(child = c)
  override def prettyName: String = "graft_word_shingles"
}
