package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Generator}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StructField, StructType}

/** Native dot product over two numeric arrays (SURVEY Ext: similarity
  * search — the custom-`Expression` tier the brute-force/LSH/IVF paths
  * call per candidate pair).
  *
  * Bit-exact contract: accumulates left-to-right in double, each element
  * cast to double first — the same IEEE sequence as the
  * `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)` HOF it replaces
  * and as the DuckDB oracle's positional-unnest ordered sum
  * ([[graft.operators.Similarity.dotSql]]). The HOF evaluated its
  * lambdas interpreted, per element, per pair — replacing it with this
  * codegen loop cut the block-local cosine bench (q46) by ~4×.
  *
  * Contract notes: arrays of unequal length fold over the common prefix
  * (the HOF version returned null via zip_with's null padding — no
  * caller compares unequal-length vectors); a null ELEMENT on either
  * side makes the whole result null, exactly as the HOF's `acc + null`
  * did. Non-float/double element types are rejected at ANALYSIS time
  * (the HOF accepted any castable numeric — pre-cast such arrays to
  * `array<double>` at the call site).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects two array<float|double> arguments, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val xf = elemType(left) == FloatType
    val yf = elemType(right) == FloatType
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(arr: String, i: String, t: DataType): String =
        if (t == FloatType) s"(double)$arr.getFloat($i)" else s"$arr.getDouble($i)"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += ${get(a, i, elemType(left))} * ${get(b, i, elemType(right))};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Map-only IVF cell assignment (r12): `nearest_centroid(v)` with the
  * K-centroid matrix held as expression state (one broadcast-sized
  * reference object per task, not one row per (vector, centroid)).
  *
  * Replaces [[graft.operators.Similarity.ivfAssign]]'s
  * `base.join(broadcast(cents))` fan-out: that shape materializes BOTH
  * 64-dim vectors on every one of the n×K joined rows before the argmin
  * aggregate — ~113 GB of row traffic at 220 k vectors × 860 cells,
  * measured 274.9 s for the q113 semDedup probe leg (r12 stage split). Here
  * the argmin runs as a tight compiled loop inside one projection: n
  * rows, K·d multiply-adds each, zero shuffle, zero fan-out.
  *
  * Bit-exact contract with the join form it replaces:
  * `min(struct(cn2 − 2·v·c AS s, c_id))` — per-centroid dot accumulated
  * left-to-right in double ([[DotProduct]]'s IEEE sequence), lexicographic
  * (s, c_id) minimum with s ordered nulls-first (a null element in `v`
  * nulls the dot, and the old struct-min sorted null s before every
  * real s). A WHOLE-NULL `v` nulls every centroid's dot, so the
  * nulls-first tie-break assigns the LOWEST centroid id — the join
  * form's exact behavior (ADVICE r12: an earlier cut returned a null
  * cell here, silently excluding the row from downstream cell
  * equi-joins where the join form kept it). Empty centroid set → null
  * (callers guard K ≥ 8 by contract).
  */
case class NearestCentroid(child: Expression, cids: Array[Long],
                           cn2s: Array[Double], cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullable: Boolean = true
  override def prettyName: String = "nearest_centroid"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects array<double> (cast at the call site), " +
        s"got ${t.catalogString}")
  }

  /** The argmin loop — shared by eval and codegen (the generated code
    * makes one virtual call per row; the loop body is JIT-compiled).
    * `v` may be null: every centroid's s is then null and the
    * nulls-first tie-break yields the lowest centroid id (see the
    * class contract). */
  def assign(v: ArrayData): java.lang.Long = {
    if (cids.length == 0) return null
    val vNull = v == null
    var found = false
    var bestNull = false
    var bestS = 0.0
    var bestId = 0L
    var j = 0
    while (j < cids.length) {
      val c = cents(j)
      val n = if (vNull) 0 else math.min(v.numElements(), c.length)
      var acc = 0.0
      var sNull = vNull
      var i = 0
      while (i < n && !sNull) {
        if (v.isNullAt(i)) sNull = true
        else { acc += v.getDouble(i) * c(i); i += 1 }
      }
      val s = cn2s(j) - 2.0 * acc
      val wins =
        if (!found) true
        else {
          val cmp =
            if (sNull && bestNull) 0
            else if (sNull) -1 // nulls-first: null s beats any real s
            else if (bestNull) 1
            else java.lang.Double.compare(s, bestS)
          if (cmp != 0) cmp < 0 else cids(j) < bestId
        }
      if (wins) { found = true; bestNull = sNull; bestS = s; bestId = cids(j) }
      j += 1
    }
    java.lang.Long.valueOf(bestId)
  }

  override def eval(input: InternalRow): Any = {
    val r = assign(child.eval(input).asInstanceOf[ArrayData])
    if (r == null) null else r.longValue()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this,
      classOf[NearestCentroid].getName)
    val childGen = child.genCode(ctx)
    val cell = ctx.freshName("cell")
    ev.copy(code = code"""
      |${childGen.code}
      |java.lang.Long $cell = $ref.assign(
      |  ${childGen.isNull} ? null : ${childGen.value});
      |boolean ${ev.isNull} = ($cell == null);
      |long ${ev.value} = ${ev.isNull} ? -1L : $cell.longValue();
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Map-only signed-random-projection band coding (r13): `srp_codes(v)`
  * with the full (bands·p)×d plane matrix held as expression state —
  * returns the `array<long>` of per-band bucket codes in one compiled
  * pass over the row.
  *
  * Replaces the `base.join(broadcast(pl))` → `groupBy(id, band).agg(
  * sum(when(dot ≥ 0, 1<<p)))` coding shape in the LSH family
  * ([[graft.operators.Similarity.cosineNearDupPairsLsh]] and the
  * decontamination cross-set path): that join materializes BOTH 64-dim
  * vectors on every one of the n×(p·bands) fan-out rows before the
  * partial aggregate — the same disease [[NearestCentroid]] cured for
  * IVF assignment (at the 2.2 M-vector probe scale the fan-out is
  * 1.46 G rows). Here: n rows in, n rows out, zero shuffle, zero
  * fan-out; the auto-knob plane count is ~log²(n) rows of driver state
  * by contract (q102's planning-statistic stance).
  *
  * Bit-exact contract with the join form it replaces: bit j of band b =
  * `dot(v, plane[b·p+j]) >= 0` with [[DotProduct]]'s left-to-right
  * double fold, where `>=` is Spark's NaN-largest double comparison
  * (nanSafeCompareDoubles — a NaN dot SETS the bit, as
  * `when(dot >= 0, …)` did); a null element in `v` nulls the dot → bit
  * 0 (the `otherwise(0)` arm); a whole-null `v` yields the all-zero
  * code per band, exactly as the join form's null dots did. Plane
  * vectors must be dense and non-null — the operator entry points
  * reject shortfall/null planes loudly (ADVICE r12) instead of
  * silently zeroing bits. */
case class SrpCodes(child: Expression, planes: Array[Array[Double]], p: Int,
                    sketchBands: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val nBands: Int = (planes.length + p - 1) / p
  // packed-sketch tail (r13): when sketchBands = S > 0, the first S band
  // codes are ALSO bit-packed into ceil(S·p/64) words appended after the
  // band codes — the hamming-prune sketch in its minimal shuffle form
  // (2 words ≤ 128 bits instead of S boxed longs + array overhead; the
  // unpacked form measured ~50 GB of posting-shuffle payload at the
  // 2.2 M-vector probe leg). Packing is a bit-position bijection, so
  // popcount-of-xor over the packed words equals the oracle's
  // bit_count(xor(...)) sum over the band codes exactly.
  private val sketchWords: Int =
    if (sketchBands <= 0) 0 else (sketchBands * p + 63) / 64

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "srp_codes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"srp_codes expects array<double> (cast at the call site), " +
        s"got ${t.catalogString}")
  }

  /** One compiled pass: all bands·p dots, bits packed per band, plus the
    * packed sketch tail. Null input → all-zero codes (see the class
    * contract). */
  def compute(v: ArrayData): ArrayData = {
    val codes = new Array[Long](nBands + sketchWords)
    if (v != null) {
      var b = 0
      while (b < nBands) {
        var code = 0L
        var j = 0
        while (j < p) {
          val idx = b * p + j
          if (idx < planes.length) {
            val c = planes(idx)
            val n = math.min(v.numElements(), c.length)
            var acc = 0.0
            var sNull = false
            var i = 0
            while (i < n && !sNull) {
              if (v.isNullAt(i)) sNull = true
              else { acc += v.getDouble(i) * c(i); i += 1 }
            }
            // NaN-largest `>=` (Spark's nanSafeCompareDoubles ordering)
            if (!sNull && (acc >= 0.0 || java.lang.Double.isNaN(acc)))
              code |= (1L << j)
          }
          j += 1
        }
        codes(b) = code
        b += 1
      }
      // sketch tail: bit (b·p + j) of the flat sketch = bit j of code b
      var sb = 0
      while (sb < sketchBands && sb < nBands) {
        var j = 0
        while (j < p) {
          if ((codes(sb) & (1L << j)) != 0) {
            val flat = sb * p + j
            codes(nBands + (flat >> 6)) |= (1L << (flat & 63))
          }
          j += 1
        }
        sb += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("srpCodes", this, classOf[SrpCodes].getName)
    val childGen = child.genCode(ctx)
    ev.copy(
      code = code"""
        |${childGen.code}
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  $ref.compute(${childGen.isNull} ? null : ${childGen.value});
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Streaming sketch-pruned pair iterator over one posting list: emits
  * the ordered pairs (ids(i), ids(j)), i < j, whose band-code sketches
  * differ in at most `hMax` bits — the hamming prune that keeps
  * sub-threshold candidate pairs from ever reaching the exact-verify
  * vector join ([[HammingPrunedPairs]]). Row reuse contract identical
  * to [[SortedPairsIterator]]. */
final class HammingPairsIterator(ids: Array[Long], sks: Array[Array[Long]],
                                 hMax: Int) extends Iterator[InternalRow] {
  private[this] val n = ids.length
  private[this] var i = 0
  private[this] var j = 0
  private[this] var found = false
  private[this] val row = new LongPairRow

  private def ham(a: Int, b: Int): Int = {
    val x = sks(a); val y = sks(b)
    val m = math.min(x.length, y.length)
    var h = 0
    var k = 0
    while (k < m) { h += java.lang.Long.bitCount(x(k) ^ y(k)); k += 1 }
    h
  }

  private def advance(): Unit = {
    while (!found) {
      j += 1
      if (j >= n) {
        i += 1; j = i + 1
        if (j >= n) return
      }
      if (ham(i, j) <= hMax) found = true
    }
  }

  override def hasNext: Boolean = { if (!found) advance(); found }
  override def next(): InternalRow = {
    if (!found) advance()
    row.p1 = ids(i); row.p2 = ids(j)
    found = false
    row
  }
}

/** Codegen entry point for [[HammingPrunedPairs]] — constructed once per
  * input row by the generated code; unpacks the posting entries to
  * primitive arrays once, then streams pairs. */
final class HammingPairsIterable(arr: ArrayData, hMax: Int)
    extends Iterable[InternalRow] {
  override def iterator: Iterator[InternalRow] = {
    if (arr == null) return Iterator.empty
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val sks = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      ids(i) = e.getLong(0)
      sks(i) = if (e.isNullAt(1)) Array.emptyLongArray
               else e.getArray(1).toLongArray()
      i += 1
    }
    new HammingPairsIterator(ids, sks, hMax)
  }
}

/** `hamming_pruned_pairs(entries, hMax)` — the sketch-pruning sibling of
  * [[SortedPairs]] for the LSH near-dup verify stage (r13, VERDICT r12
  * item 1): input is one posting list of `struct<pk:bigint,
  * sk:array<bigint>>` entries SORTED by pk (pk unique), where `sk` is a
  * prefix of the row's SRP band codes ([[SrpCodes]]); output is every
  * ordered pair (p1, p2), p1 < p2 by position, whose sketches differ in
  * ≤ hMax bits.
  *
  * Why inside the generator: the ×100 embedding probe leg (2.2 M
  * vectors) died twice on disk because each of ~10⁸ candidate pairs
  * carried a 64-dim vector through the exact-verify merge join
  * (~75 GB+ spill). The sketch rides the posting shuffle once per
  * ENTRY (S longs), the hamming test runs inside this one codegen'd
  * loop at pair-generation time, and only the ~linear-in-n survivors
  * ever reach the vector fetch. The cut is deterministic and mirrored
  * verbatim in the DuckDB oracle (bit_count(xor(...)) over the same
  * band codes), so engine/oracle parity is by construction — the prune
  * changes WHICH candidates are verified, identically in both engines,
  * never the exactness of the verify itself.
  *
  * Null/empty input emits nothing; a null `sk` hams as zero bits
  * (passes — the prune degrades to [[SortedPairs]], never drops on
  * missing sketch data). */
case class HammingPrunedPairs(child: Expression, hMax: Int)
    extends Generator with UnaryLike[Expression] {

  override def elementSchema: StructType = StructType(Seq(
    StructField("p1", LongType, nullable = false),
    StructField("p2", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(LongType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hamming_pruned_pairs expects array<struct<bigint, array<bigint>>>, " +
        s"got ${t.catalogString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input).asInstanceOf[ArrayData]
    new HammingPairsIterable(data, hMax).iterator
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cls = classOf[HammingPairsIterable].getName
    ev.copy(
      code = code"""
        |${childGen.code}
        |$cls ${ev.value} = new $cls(
        |  ${childGen.isNull} ? null : ${childGen.value}, $hMax);
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override def prettyName: String = "hamming_pruned_pairs"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Streaming sketch-pruned pair iterator over one FLAT posting list
  * (records of `w` longs: `[id, sk...]`, [[graft.plans.FlatPostingAggregate]]'s
  * layout): emits (least, greatest) of every id pair whose sketch words
  * differ in at most `hMax` bits. Emitting the canonical (min, max)
  * ordering — instead of relying on position order like
  * [[HammingPairsIterator]] — is what lets the posting aggregate skip
  * sorting entirely: each unordered pair appears exactly once whatever
  * order collect arrival produced, so the output SET is identical.
  * Hamming reads straight out of the flat array — no per-entry array
  * materialisation at all. Row reuse contract identical to
  * [[SortedPairsIterator]]. */
final class HammingPairsFlatIterator(xs: Array[Long], w: Int, hMax: Int)
    extends Iterator[InternalRow] {
  private[this] val n = xs.length / w
  private[this] var i = 0
  private[this] var j = 0
  private[this] var found = false
  private[this] val row = new LongPairRow

  private def ham(a: Int, b: Int): Int = {
    var h = 0
    var k = 1
    while (k < w) {
      h += java.lang.Long.bitCount(xs(a * w + k) ^ xs(b * w + k))
      k += 1
    }
    h
  }

  private def advance(): Unit = {
    while (!found) {
      j += 1
      if (j >= n) {
        i += 1; j = i + 1
        if (j >= n) return
      }
      if (ham(i, j) <= hMax) found = true
    }
  }

  override def hasNext: Boolean = { if (!found) advance(); found }
  override def next(): InternalRow = {
    if (!found) advance()
    val a = xs(i * w); val b = xs(j * w)
    if (a <= b) { row.p1 = a; row.p2 = b } else { row.p1 = b; row.p2 = a }
    found = false
    row
  }
}

/** Codegen entry point for [[HammingPairsFlat]] — constructed once per
  * input row by the generated code; reads the flat long array once
  * (primitive copy, no boxing) and streams pairs. */
final class HammingPairsFlatIterable(arr: ArrayData, w: Int, hMax: Int)
    extends Iterable[InternalRow] {
  override def iterator: Iterator[InternalRow] =
    if (arr == null) Iterator.empty
    else new HammingPairsFlatIterator(arr.toLongArray(), w, hMax)
}

/** `hamming_pruned_pairs_flat(es, w, hMax)` — [[HammingPrunedPairs]] over
  * [[graft.plans.FlatPostingAggregate]]'s flat `array<bigint>` posting
  * layout (records of `w` longs `[id, sk words...]`).
  *
  * Same candidate SET as the struct form (spec-pinned in
  * PostingFlatSpec): the hamming test and cut are identical, and pairs
  * are emitted as (least id, greatest id) so the unsorted flat list
  * yields exactly the sorted struct list's pairs. What it removes is the
  * entire boxed posting path: no struct per entry in the aggregate, no
  * comparator sort at aggregate eval, no per-entry `getStruct`/
  * `toLongArray` unpacking per generator row — the ×100 probe leg's
  * largest remaining constant (SCALING.md r13). Null/empty input emits
  * nothing. */
case class HammingPairsFlat(child: Expression, w: Int, hMax: Int)
    extends Generator with UnaryLike[Expression] {

  override def elementSchema: StructType = StructType(Seq(
    StructField("p1", LongType, nullable = false),
    StructField("p2", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) if w >= 1 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hamming_pruned_pairs_flat expects array<bigint>, got ${t.catalogString}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val data = child.eval(input).asInstanceOf[ArrayData]
    if (data == null) Iterator.empty
    else new HammingPairsFlatIterator(data.toLongArray(), w, hMax)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val cls = classOf[HammingPairsFlatIterable].getName
    ev.copy(
      code = code"""
        |${childGen.code}
        |$cls ${ev.value} = new $cls(
        |  ${childGen.isNull} ? null : ${childGen.value}, $w, $hMax);
        """.stripMargin,
      isNull = FalseLiteral)
  }

  override def prettyName: String = "hamming_pruned_pairs_flat"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
