package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native LSH bucket codes: ALL `tables` sign-bit codes of a vector under
  * its seeded hyperplanes in one fused loop over the raw double
  * `ArrayData`.
  *
  * The builtin formulation (per plane: `aggregate(zip_with(v, planeLit,
  * *), 0D, +)` then a when/sum bit-pack) is evaluated by interpreted
  * lambda interpreters — ~`tables × planes × dim` boxed ops per row.
  * This expression runs the same dots in the same left-to-right IEEE
  * order (bit-identical codes, so the DuckDB oracle built from the same
  * plane literals still hash-matches) at plain-JVM-loop cost. The other
  * builtin form, each literal-plane dot expanded into a flat 64-term
  * multiply-add chain, looks codegen-friendly but DOUBLES the query
  * time: 30 planes × 64 element_at terms per row overwhelm the
  * generated method.
  *
  * Input is the already-`asDouble`-cast embedding (array<double>), same
  * as the builtin path consumed. */
case class LshBucketCodes(child: Expression, planesPerTable: Int,
                          tables: Int, dim: Int, seed: Long)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket_codes requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def withNewChildInternal(newChild: Expression): LshBucketCodes =
    copy(child = newChild)

  // flat [table][plane][dim] weights, identical to Similarity.hyperplanes
  private lazy val planes: Array[Double] = {
    val out = new Array[Double](tables * planesPerTable * dim)
    var t = 0
    while (t < tables) {
      val p = graft.sim.Similarity.hyperplanes(planesPerTable, dim, seed + t)
      var i = 0
      while (i < planesPerTable) {
        System.arraycopy(p(i), 0, out, (t * planesPerTable + i) * dim, dim)
        i += 1
      }
      t += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    new GenericArrayData(
      LshBucketCodesImpl.codes(v, planes, planesPerTable, tables, dim))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[]")
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.LshBucketCodesImpl.codes(
         |    $input, $planesRef, $planesPerTable, $tables, $dim));
       """.stripMargin
    })
}

object LshBucketCodesImpl {
  /** Same dots, same order, plain loops. */
  def codes(v: ArrayData, planes: Array[Double], planesPerTable: Int,
            tables: Int, dim: Int): Array[Long] = {
    val n = math.min(v.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var code = 0L
      var i = 0
      while (i < planesPerTable) {
        val base = (t * planesPerTable + i) * dim
        var dot = 0.0
        var j = 0
        while (j < n) { dot += v.getDouble(j) * planes(base + j); j += 1 }
        if (dot >= 0) code += (1L << i)
        i += 1
      }
      out(t) = code
      t += 1
    }
    out
  }
}

/** Native IVF cell assignment: argmin over centroid squared distances in
  * one fused loop — same strict-`<`-keeps-first tie rule and the same
  * left-to-right accumulation order as the SQL fold it replaces
  * (bit-identical assignments; the oracle is unchanged). */
case class IvfCell(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_cell requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType

  override protected def withNewChildInternal(newChild: Expression): IvfCell =
    copy(child = newChild)

  private lazy val flat: Array[Double] = {
    val dim = cents(0).length
    val out = new Array[Double](cents.length * dim)
    cents.zipWithIndex.foreach { case (c, i) =>
      System.arraycopy(c, 0, out, i * dim, dim)
    }
    out
  }
  private def dim: Int = cents(0).length

  override def nullSafeEval(input: Any): Any =
    IvfCellImpl.cell(input.asInstanceOf[ArrayData], flat, cents.length, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val centsRef = ctx.addReferenceObj("ivfCents", flat, "double[]")
      s"${ev.value} = graft.functions.IvfCellImpl.cell(" +
        s"$input, $centsRef, ${cents.length}, $dim);"
    })
}

/** Native IVF probe selection: the `nprobe` nearest cells of a query
  * vector, ordered by (squared distance asc, cell asc) — argmin-k in one
  * fused pass over the centroid table.
  *
  * This replaces the old probe plan that unioned one copy of the query
  * set per centroid (`centroids.map(q0.withColumn(dist)).reduce(unionAll)`
  * + a window): correct at 8 toy cells, but the LOGICAL PLAN grew
  * linearly in the cell count — at a realistic 4k-65k cells the plan
  * itself blows up before any data moves. Here the plan holds one
  * projection + explode regardless of cell count.
  *
  * Distances accumulate left-to-right like the `aggregate(zip_with(...))`
  * fold they replace, and ties keep the lower cell (insertion uses strict
  * `<`, so an equal distance never displaces an earlier cell) — the same
  * (dist, cell) order the window's row_number produced, so probed cells
  * are bit-identical and the DuckDB oracle is unchanged. */
case class IvfCells(child: Expression, cents: Array[Array[Double]],
                    nprobe: Int) extends UnaryExpression {
  require(nprobe > 0, s"nprobe must be positive, got $nprobe")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ivf_cells requires array<double>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override protected def withNewChildInternal(newChild: Expression): IvfCells =
    copy(child = newChild)

  private lazy val flat: Array[Double] = {
    val dim = cents(0).length
    val out = new Array[Double](cents.length * dim)
    cents.zipWithIndex.foreach { case (c, i) =>
      System.arraycopy(c, 0, out, i * dim, dim)
    }
    out
  }
  private def dim: Int = cents(0).length

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(IvfCellImpl.cells(
      input.asInstanceOf[ArrayData], flat, cents.length, dim, nprobe))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, input => {
      val centsRef = ctx.addReferenceObj("ivfCents", flat, "double[]")
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.IvfCellImpl.cells(
         |    $input, $centsRef, ${cents.length}, $dim, $nprobe));
       """.stripMargin
    })
}

object IvfCellImpl {
  def cell(v: ArrayData, cents: Array[Double], k: Int, dim: Int): Int = {
    val n = math.min(v.numElements(), dim)
    var best = Double.PositiveInfinity
    var bestI = -1
    var c = 0
    while (c < k) {
      val base = c * dim
      var d = 0.0
      var j = 0
      while (j < n) {
        val x = v.getDouble(j) - cents(base + j)
        d += x * x
        j += 1
      }
      if (d < best) { best = d; bestI = c }
      c += 1
    }
    bestI
  }

  /** Top-`nprobe` cells by (squared distance asc, cell asc): a bounded
    * insertion sort — nprobe is small (2-64), centroid counts reach 65k,
    * so O(k·nprobe) worst-case is fine and the common case is O(k).
    * Strict `<` everywhere keeps the earlier (lower) cell on ties,
    * matching row_number() OVER (ORDER BY dist, cell). */
  def cells(v: ArrayData, cents: Array[Double], k: Int, dim: Int,
            nprobe: Int): Array[Int] = {
    val n = math.min(v.numElements(), dim)
    val m = math.min(nprobe, k)
    val bd = Array.fill(m)(Double.PositiveInfinity)
    val bc = new Array[Int](m)
    var c = 0
    while (c < k) {
      val base = c * dim
      var d = 0.0
      var j = 0
      while (j < n) {
        val x = v.getDouble(j) - cents(base + j)
        d += x * x
        j += 1
      }
      if (d < bd(m - 1)) {
        var i = m - 1
        while (i > 0 && d < bd(i - 1)) {
          bd(i) = bd(i - 1); bc(i) = bc(i - 1); i -= 1
        }
        bd(i) = d; bc(i) = c
      }
      c += 1
    }
    bc
  }
}
