package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native best-gateway argmax — SURVEY §2.3 D5 (reference:
  * MyDatacollector.py:1466-1553 GTWstrength/argmax over the gateway
  * list). Input: `array<struct<gtw_id:string, rssi:double, snr:double>>`
  * (the normalized gateway frame [[graft.ingest.TtnEnvelope.parse]]
  * builds for both envelope versions). Output:
  * `struct<score:double, gtw_id:string>` — the lexicographic maximum of
  * `(10·snr + 0.2·rssi, gtw_id)`, i.e. exactly what
  * `array_max(transform(gws, g -> struct(score(g), g.gtw_id)))` returns,
  * with the same null semantics:
  *
  *   - null or empty array → null result;
  *   - null ELEMENTS are skipped. This is the ONE deliberate divergence
  *     from the HOF: `transform` maps a null element to a NON-null
  *     `struct(null, null)` (CreateNamedStruct is never null), so
  *     `array_max` cannot skip it and an ALL-null-elements array yields
  *     `struct(null, null)` from the HOF — BestGateway returns null
  *     instead, which is the semantics the envelope path wants (no
  *     gateway ⇒ no best gateway). For any array with at least one
  *     non-null element the two agree exactly, because
  *     `struct(null, null)` sorts below every element that carries a
  *     non-null score or id (nulls-first struct ordering), so the
  *     phantom struct never wins. Spec-locked by the all-null row in
  *     GatewayExpressionsSpec;
  *   - a null score (null snr/rssi) orders below every non-null score,
  *     a null gtw_id below every non-null id (struct ordering, nulls
  *     first) — an all-null-score array still picks the largest gtw_id.
  *
  * Why native: `transform`'s lambda is evaluated interpreted per element
  * per row (HigherOrderFunction is CodegenFallback), and it was stacked
  * on two more interpreted transforms in the envelope hot path — the
  * r9 q76 stage breakdown priced the struct-nav stage at +5.7 s over
  * 10 M envelopes. This expression is one codegen'd loop.
  */
case class BestGateway(child: Expression) extends UnaryExpression {

  override def dataType: DataType = BestGateway.outType
  override def nullable: Boolean = true
  override def prettyName: String = "best_gateway"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
          StructField(_, StringType, _, _),
          StructField(_, DoubleType, _, _),
          StructField(_, DoubleType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      "best_gateway expects array<struct<gtw_id:string, rssi:double, " +
        s"snr:double>>, got ${t.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var found = false
    var bestNullScore = true
    var bestScore = 0.0
    var bestId: UTF8String = null
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val g = arr.getStruct(i, 3)
        val scoreNull = g.isNullAt(1) || g.isNullAt(2)
        val score = if (scoreNull) 0.0 else 10.0 * g.getDouble(2) + 0.2 * g.getDouble(1)
        val id = if (g.isNullAt(0)) null else g.getUTF8String(0)
        val wins =
          if (!found) true
          else {
            // (score, id) lexicographic, nulls-first ordering per field
            val c =
              if (scoreNull && bestNullScore) 0
              else if (scoreNull) -1
              else if (bestNullScore) 1
              else java.lang.Double.compare(score, bestScore)
            if (c != 0) c > 0
            else if (id == null) false
            else if (bestId == null) true
            else id.compareTo(bestId) > 0
          }
        if (wins) {
          found = true; bestNullScore = scoreNull; bestScore = score; bestId = id
        }
      }
      i += 1
    }
    if (!found) null
    else InternalRow(if (bestNullScore) null else bestScore, bestId)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val g = ctx.freshName("g")
      val found = ctx.freshName("found")
      val bNullS = ctx.freshName("bestNullScore")
      val bScore = ctx.freshName("bestScore")
      val bId = ctx.freshName("bestId")
      val sNull = ctx.freshName("scoreNull")
      val score = ctx.freshName("score")
      val id = ctx.freshName("id")
      val wins = ctx.freshName("wins")
      val c = ctx.freshName("cmp")
      val out = ctx.freshName("out")
      s"""
         |int $n = $arr.numElements();
         |boolean $found = false;
         |boolean $bNullS = true;
         |double $bScore = 0.0;
         |UTF8String $bId = null;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($arr.isNullAt($i)) continue;
         |  InternalRow $g = $arr.getStruct($i, 3);
         |  boolean $sNull = $g.isNullAt(1) || $g.isNullAt(2);
         |  double $score = $sNull ? 0.0 : 10.0 * $g.getDouble(2) + 0.2 * $g.getDouble(1);
         |  UTF8String $id = $g.isNullAt(0) ? null : $g.getUTF8String(0);
         |  boolean $wins;
         |  if (!$found) { $wins = true; } else {
         |    int $c = ($sNull && $bNullS) ? 0
         |      : $sNull ? -1 : $bNullS ? 1 : java.lang.Double.compare($score, $bScore);
         |    if ($c != 0) { $wins = $c > 0; }
         |    else if ($id == null) { $wins = false; }
         |    else if ($bId == null) { $wins = true; }
         |    else { $wins = $id.compareTo($bId) > 0; }
         |  }
         |  if ($wins) { $found = true; $bNullS = $sNull; $bScore = $score; $bId = $id; }
         |}
         |if (!$found) { ${ev.isNull} = true; ${ev.value} = null; } else {
         |  Object[] $out = new Object[2];
         |  $out[0] = $bNullS ? null : (Object) $bScore;
         |  $out[1] = $bId;
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BestGateway {
  val outType: StructType = StructType(Seq(
    StructField("score", DoubleType), StructField("gtw_id", StringType)))
}
