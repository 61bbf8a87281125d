package graft.skew

import java.util.{HashSet => JHashSet}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types._

/** Fragment id of a row on one side of [[SkewJoin]]'s salted join: uniform
  * over `[0, rep)`, except that in every partition the FIRST row of each key
  * with `rep > 1` is anchored at 0 (`rep ≤ 1` always gives 0).
  *
  * The anchor makes "this key has rows on this side" visible in one fixed
  * salt cell: if any input row carries key k, then some row of k sits at
  * fragment 0. The outer-join keep rule in [[SkewJoin]] relies on exactly
  * that, so the anchor set holds the exact key values (an [[UnsafeRow]]
  * copy of `key`, compared byte-wise). Two different keys can never share
  * an anchor; two encodings of one join key (e.g. `0.0`/`-0.0`) at worst
  * anchor twice, which is harmless.
  *
  * Seeded per partition like `rand(seed)` (`seed + partitionIndex` into
  * Spark's `XORShiftRandom`), so re-running a task over the same input
  * rows reproduces its salts. The anchor set only ever holds keys with
  * `rep > 1`, i.e. the sketch's hot keys.
  *
  * @param key the join key as a struct of the `usingColumns`
  * @param rep the key's fragment count (INT)
  */
case class AnchoredSalt(key: Expression, rep: Expression, seed: Long)
    extends Expression with Nondeterministic {

  override def children: Seq[Expression] = Seq(key, rep)
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType
  override def stateful: Boolean = true
  override def prettyName: String = "anchored_salt"

  override def checkInputDataTypes(): TypeCheckResult = (key.dataType, rep.dataType) match {
    case (_: StructType, IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (k, r) => TypeCheckResult.TypeCheckFailure(
      s"anchored_salt requires (struct, int) inputs, got (${k.catalogString}, ${r.catalogString})")
  }

  @transient private[this] var cells: AnchoredCells = _

  override protected def initializeInternal(partitionIndex: Int): Unit =
    cells = new AnchoredCells(key.dataType.asInstanceOf[StructType], seed + partitionIndex)

  override protected def evalInternal(input: InternalRow): Any = {
    val r = rep.eval(input)
    if (r == null || r.asInstanceOf[Int] <= 1) 0
    else cells.salt(key.eval(input).asInstanceOf[InternalRow], r.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cellsClass = classOf[AnchoredCells].getName
    val cellsTerm = ctx.addMutableState(cellsClass, "cells")
    val keyType = ctx.addReferenceObj("keyType", key.dataType)
    ctx.addPartitionInitializationStatement(
      s"$cellsTerm = new $cellsClass($keyType, ${seed}L + partitionIndex);")
    val r = rep.genCode(ctx)
    // the key struct is only built for hot rows
    val k = key.genCode(ctx)
    ev.copy(code =
      code"""
        |${r.code}
        |int ${ev.value} = 0;
        |if (!${r.isNull} && ${r.value} > 1) {
        |  ${k.code}
        |  ${ev.value} = $cellsTerm.salt(${k.value}, ${r.value});
        |}
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AnchoredSalt =
    copy(key = newChildren(0), rep = newChildren(1))
}

object AnchoredSalt {
  private[graft] def anchoredSalt(key: Column, rep: Column, seed: Long): Column =
    Bridge.column(AnchoredSalt(Bridge.expression(key), Bridge.expression(rep), seed))
}

/** One partition's salt state for [[AnchoredSalt]]: its PRNG and the keys
  * already anchored at fragment 0. Public because generated code calls it. */
final class AnchoredCells(keyType: StructType, seed: Long) {
  private val rng = Bridge.xorShiftRandom(seed)
  private val toUnsafe = UnsafeProjection.create(keyType)
  private val anchored = new JHashSet[UnsafeRow]()

  def salt(key: InternalRow, rep: Int): Int = {
    val k = toUnsafe(key)
    if (anchored.contains(k)) (rng.nextDouble() * rep).toInt
    else { anchored.add(k.copy()); 0 }
  }
}
