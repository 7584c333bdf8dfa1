package graft.core

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow,
  SpecificInternalRow, UnsafeProjection}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ExpressionBridge
import org.apache.spark.sql.types._

/** Scale-safe GLOBAL cumulative sums (guide §2): an unpartitioned
  * ordered SQL frame moves the whole input to ONE partition — fine for
  * decile/threshold-sized aggregates, a single-task corpus sort for
  * row-scale inputs (distinct scores, distinct event times, vocab
  * weights). This helper computes the same running sums the way dask
  * `divisions` do: range partitions, a local running sum in each, plus
  * the totals of the partitions before it.
  *
  *  1. project the input and its addends once, `repartitionByRange` by
  *     the order and sort within partitions; that plan executes ONCE
  *     (`queryExecution.toRdd`), so its sampled range boundaries and
  *     its shuffle output are fixed for both passes below;
  *  2. job 1 collects each partition's addend totals; the driver turns
  *     them into exclusive offsets in partition order;
  *  3. a `mapPartitionsWithIndex` over the SAME rows emits each row
  *     with its within-partition running sum plus its partition's
  *     offset. Each action on the returned frame reruns only this map
  *     over the stored shuffle output.
  *
  * No storage block is written: the shuffle files live as long as the
  * returned frame is referenced.
  *
  * EXACTNESS CONTRACT: the regrouped accumulation equals the sequential
  * fold only when every partial sum is exact — integral addends (summed
  * as longs; overflow throws), or doubles that are integers (counts
  * cast to double) whose magnitudes sum below 2^53. Double addends are
  * checked while the totals are collected, and the job fails, naming
  * the output column, on a non-finite or fractional value or once the
  * magnitudes reach 2^53. Other addend types are rejected at plan time.
  *
  * Order keys must be UNIQUE per row (call sites pass groupBy outputs
  * keyed by the order column), so ROWS/RANGE frame semantics coincide.
  */
object Prefix {

  /** Name prefix of the projected addend columns; inputs may not use it. */
  private val Internal = "__pv"

  /** 2^53: below it in magnitude, every integer is a double. */
  private val ExactLimit = 1L << 53

  /** Append global running-sum columns over `df` ordered by `order`.
    *
    * @param df     input frame; order keys unique per row, no column
    *               named `__pv*`
    * @param order  global ordering (e.g. `Seq(col("s"))`, descending
    *               via `col("s").desc`)
    * @param sums   (addend, outputName, inclusive): inclusive=true is
    *               ROWS UNBOUNDED PRECEDING..CURRENT ROW, false stops
    *               at -1 (strict prefix; 0 for the first row). Output
    *               columns are non-null: long for integral addends,
    *               double for double addends; null addends count as 0.
    */
  def cumSums(df: DataFrame, order: Seq[Column],
      sums: Seq[(Column, String, Boolean)]): DataFrame = {
    require(sums.nonEmpty, "Prefix.cumSums needs at least one sum")
    val names = sums.map(_._2)
    val reserved = df.columns.filter(_.startsWith(Internal))
    require(reserved.isEmpty, s"Prefix.cumSums: input column(s) " +
      s"${reserved.mkString(", ")} use the internal prefix $Internal")
    val lower = (df.columns ++ names).map(_.toLowerCase(Locale.ROOT))
    val taken = names.filter(n => lower.count(_ == n.toLowerCase(Locale.ROOT)) > 1)
    require(taken.isEmpty, s"Prefix.cumSums: output name(s) " +
      s"${taken.mkString(", ")} already in the input or repeated")
    val types: Seq[DataType] =
      df.select(sums.map(_._1): _*).schema.map(_.dataType).zip(names).map {
        case (ByteType | ShortType | IntegerType | LongType, _) => LongType
        case (DoubleType, _) => DoubleType
        case (t, name) => throw new IllegalArgumentException(
          s"Prefix.cumSums: addend of $name is ${t.simpleString}; " +
            "it must be integral or double")
      }
    val k = df.columns.length
    val m = sums.length
    val isLong = types.map(_ == LongType).toArray
    val inclusive = sums.map(_._3).toArray
    val labels = sums.map { case (c, name, _) => s"$name (= $c)" }.toArray
    // rows are reused between next() calls: read or project each one
    // before advancing, never buffer them
    val rows = df.select(col("*") +: sums.zip(types).zipWithIndex.map {
        case (((c, _, _), t), i) => c.cast(t).as(s"$Internal$i")
      }: _*)
      .repartitionByRange(df.sparkSession.sparkContext.defaultParallelism,
        order: _*)
      .sortWithinPartitions(order: _*)
      .queryExecution.toRdd

    val parts = rows.mapPartitions { it =>
      val tot = new Array[Long](m)
      val mag = new Array[Long](m)
      it.foreach { row =>
        var j = 0
        while (j < m) {
          val v = addend(row, k, j, isLong, labels)
          tot(j) = Math.addExact(tot(j), v)
          if (!isLong(j)) mag(j) = math.min(mag(j) + math.abs(v), ExactLimit)
          j += 1
        }
      }
      Iterator((tot, mag))
    }.collect()
    for (j <- 0 until m if !isLong(j)) {
      val mag = parts.foldLeft(0L)((a, p) => math.min(a + p._2(j), ExactLimit))
      if (mag >= ExactLimit) throw new IllegalArgumentException(
        s"Prefix.cumSums: addend magnitudes of ${labels(j)} sum to 2^53 " +
          "or more, past exact double arithmetic")
    }
    val offsets = parts.map(_._1).scanLeft(new Array[Long](m)) { (acc, t) =>
      Array.tabulate(m)(j => Math.addExact(acc(j), t(j)))
    }

    // output = the input columns (skipping the addends) + the sums
    val outTypes = df.schema.map(f => (f.dataType, f.nullable)) ++
      types.map((_, false))
    val out = rows.mapPartitionsWithIndex[InternalRow] { (p, it) =>
      val run = new Array[Long](m)
      val sumsRow = new SpecificInternalRow(types)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outTypes.zipWithIndex.map {
        case ((t, nullable), i) => BoundReference(if (i < k) i else i + m, t, nullable)
      })
      it.map { row =>
        var j = 0
        while (j < m) {
          val before = run(j)
          run(j) = Math.addExact(before, addend(row, k, j, isLong, labels))
          val s = Math.addExact(offsets(p)(j), if (inclusive(j)) run(j) else before)
          if (isLong(j)) sumsRow.setLong(j, s) else sumsRow.setDouble(j, s.toDouble)
          j += 1
        }
        proj(joined(row, sumsRow))
      }
    }
    ExpressionBridge.internalCreateDataFrame(df.sparkSession, out,
      StructType(df.schema.fields ++ names.zip(types).map { case (n, t) =>
        StructField(n, t, nullable = false)
      }))
  }

  /** Addend `j` of a projected row (input columns first) as an exact
    * long; null counts as 0. */
  private def addend(row: InternalRow, k: Int, j: Int,
      isLong: Array[Boolean], labels: Array[String]): Long =
    if (row.isNullAt(k + j)) 0L
    else if (isLong(j)) row.getLong(k + j)
    else {
      val x = row.getDouble(k + j)
      // NaN fails the first test, so it is rejected with the infinities
      if (!(math.abs(x) < ExactLimit) || x != math.rint(x))
        throw new IllegalArgumentException(s"Prefix.cumSums: addend of " +
          s"${labels(j)} is $x; double addends must be integers below 2^53")
      x.toLong
    }
}
