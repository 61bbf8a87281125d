package graft

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.skew.AnchoredSalt.anchoredSalt

/** [[graft.skew.AnchoredSalt]]: the fragment id behind the outer skewJoin's
  * keep rule. */
class AnchoredSaltSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // 4 partitions of 1500 rows; the key is the struct (k, k2) with 60
  // values, each 25 times in every partition; rep = k % 7, so rep 0 and 1
  // occur and 40 keys have rep > 1
  private def salted(seed: Long): DataFrame =
    spark.range(0, 6000, 1, 4)
      .select(col("id"), (col("id") % 30).as("k"), (col("id") / 30 % 2).cast("long").as("k2"))
      .withColumn("rep", (col("k") % 7).cast("int"))
      .withColumn("salt", anchoredSalt(struct(col("k"), col("k2")), col("rep"), seed))
      .withColumn("part", spark_partition_id())

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Int, Int, Int)] =
    df.orderBy("id").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5)))

  test("every salt lies in [0, rep), and rep ≤ 1 gives 0") {
    rows(salted(7)).foreach { case (id, _, _, rep, salt, _) =>
      if (rep <= 1) assert(salt == 0, s"row $id: rep $rep, salt $salt")
      else assert(salt >= 0 && salt < rep, s"row $id: rep $rep, salt $salt")
    }
  }

  test("every key with rep > 1 has a row at salt 0 in each partition") {
    val byCell = rows(salted(7)).filter(_._4 > 1).groupBy(r => (r._6, r._2, r._3))
    assert(byCell.size == 4 * 40, "expected each of the 40 keys with rep > 1 in all 4 partitions")
    byCell.foreach { case (cell, rs) =>
      assert(rs.exists(_._5 == 0), s"(partition, k, k2) = $cell has no row at salt 0")
      // the 24 non-anchor rows of a cell still spread over its rep ≥ 2 salts
      assert(rs.map(_._5).distinct.size > 1, s"$cell: every row at one salt")
    }
  }

  test("re-running the same plan reproduces every salt, codegen on or off") {
    val first = rows(salted(7))
    assert(rows(salted(7)) == first, "a re-run drew different salts")
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(rows(salted(7)) == first, "interpreted evaluation drew different salts")
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(rows(salted(8)).map(_._5) != first.map(_._5), "the seed does not reach the salts")
  }

  test("rejects a non-struct key or a non-int rep") {
    val df = spark.range(3).select(col("id"))
    intercept[AnalysisException](
      df.select(anchoredSalt(col("id"), lit(2), 1L)).collect())
    intercept[AnalysisException](
      df.select(anchoredSalt(struct(col("id")), lit(2L), 1L)).collect())
  }
}
