package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `Prefix.cumSums` against the single-partition window it replaces:
  * same values, same output types, over both directions, compound
  * keys, both frame ends, long / integer-valued double addends, nulls
  * and partition counts above the row count — plus the storage it must
  * not hold and the inputs it must reject.
  */
class PrefixSpec extends SparkSpec {

  /** The sequential reference: one ordered window per sum. */
  private def reference(df: DataFrame, order: Seq[Column],
      sums: Seq[(Column, String, Boolean)]): DataFrame =
    sums.foldLeft(df) { case (d, (c, name, inclusive)) =>
      val frame = Window.orderBy(order: _*).rowsBetween(
        Window.unboundedPreceding, if (inclusive) Window.currentRow else -1L)
      d.withColumn(name, coalesce(sum(c).over(frame), lit(0)))
    }

  private def check(df: DataFrame, order: Seq[Column],
      sums: Seq[(Column, String, Boolean)]): Unit = {
    val got = Prefix.cumSums(df, order, sums)
    val want = reference(df, order, sums)
    assert(got.schema.map(f => (f.name, f.dataType)) ==
      want.schema.map(f => (f.name, f.dataType)))
    assert(got.schema.takeRight(sums.size).forall(!_.nullable))
    val key = df.columns.map(col).toSeq
    assert(got.orderBy(key: _*).collect().toSeq ==
      want.orderBy(key: _*).collect().toSeq)
  }

  // k unique; a: long with nulls and negatives; d: integer-valued
  // double with nulls; i: int; spread over 6 input partitions
  private lazy val data = spark.range(0, 240, 1, 6).select(
    col("id").as("k"),
    (col("id") % 3).as("g"),
    when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 3 - 100).as("a"),
    when(col("id") % 11 === 0, lit(null))
      .otherwise((col("id") % 5).cast("double")).as("d"),
    (col("id") % 4).cast("int").as("i"))

  private val allSums = Seq(
    (col("a"), "a_inc", true), (col("a"), "a_exc", false),
    (col("d"), "d_inc", true), (col("d"), "d_exc", false),
    (col("i"), "i_inc", true))

  test("ascending order matches the window reference") {
    check(data, Seq(col("k")), allSums)
  }

  test("descending order matches the window reference") {
    check(data, Seq(col("k").desc), allSums)
  }

  test("two order keys match the window reference") {
    check(data, Seq(col("g"), col("k").desc), allSums)
  }

  test("more partitions than rows, and a single row") {
    assert(spark.sparkContext.defaultParallelism > 3)
    check(data.filter(col("k").isin(5L, 9L, 14L)), Seq(col("k")), allSums)
    check(data.filter(col("k") === 9L), Seq(col("k").desc), allSums)
  }

  test("persists no RDD and holds no storage block") {
    val sc = spark.sparkContext
    val mark = sc.parallelize(Seq(1)).id
    Prefix.cumSums(data, Seq(col("k")), allSums)
      .agg(sum("a_inc"), sum("d_exc")).collect()
    assert(sc.getPersistentRDDs.keys.forall(_ < mark))
    assert(sc.getRDDStorageInfo.forall(_.id < mark))
  }

  private def failure(f: => Any): String = intercept[Exception](f).getMessage

  test("rejects internal column names and taken output names at plan time") {
    assert(failure(Prefix.cumSums(data.withColumn("__pv0", col("k")),
      Seq(col("k")), Seq((col("a"), "s", true)))).contains("__pv0"))
    assert(failure(Prefix.cumSums(data, Seq(col("k")),
      Seq((col("a"), "D", true)))).contains("output name(s) D already"))
    assert(failure(Prefix.cumSums(data, Seq(col("k")),
      Seq((col("a"), "s", true), (col("i"), "s", false))))
      .contains("output name(s) s, s already"))
  }

  test("rejects addends that are neither integral nor double at plan time") {
    for (t <- Seq("float", "decimal(10,2)", "string")) {
      val msg = failure(Prefix.cumSums(data, Seq(col("k")),
        Seq((col("i").cast(t), "bad", true))))
      assert(msg.contains("bad") && msg.contains("integral or double"), msg)
    }
  }

  test("fails the totals pass on inexact double addends, naming the column") {
    val bad = Seq(
      when(col("k") === 17L, lit(Double.NaN)).otherwise(col("d")),
      when(col("k") === 17L, lit(Double.NegativeInfinity)).otherwise(col("d")),
      when(col("k") === 17L, lit(0.5)).otherwise(col("d")),
      when(col("k") === 17L, lit(9007199254740992.0)).otherwise(col("d")),
      // each below 2^53, together past it
      lit(4503599627370496.0))
    for (c <- bad) {
      val msg = failure(Prefix.cumSums(data, Seq(col("k")), Seq((c, "bad", true))))
      assert(msg.contains("bad"), msg)
    }
  }
}
