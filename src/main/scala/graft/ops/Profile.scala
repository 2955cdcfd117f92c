package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Column profiler (SURVEY §2.11 Q4 ≙ `profile_columns`,
  * `tasks/quality_parallel.py:105-140`): per column — dtype, null count,
  * exact distinct count, and top-k most frequent values (only for columns
  * whose cardinality is below a cap; guard ≙ `quality_parallel.py:125`).
  *
  * Scale design: the reference's `value_counts` per column is a frequency
  * table, and every figure of the profile follows from it. Here all
  * columns are unpivoted (`posexplode`) to (column index, value as
  * string) pairs — a projection, not a shuffle of the raw table — and
  * counted ONCE; one window per column over that table gives the
  * distinct count, the null count and the rank. One job regardless of
  * column count, and at most C·k rows reach the driver.
  */
object Profile {

  final case class ColumnProfile(
      name: String,
      dtype: String,
      nullCount: Long,
      nUnique: Long,
      topValues: Seq[(String, Long)])

  val DefaultTopK = 5
  val DefaultCardinalityCap = 5000L

  /** Scale-path stats: HyperLogLog++ distinct estimates instead of exact
    * `count_distinct` — no Expand, no per-column distinct shuffle, one
    * straight aggregate even over thousands of columns of a 100 TB
    * table. `rsd` is the HLL relative standard deviation (default 5%).
    * Top-k is skipped. */
  def profileApproxStats(df: DataFrame, rsd: Double = 0.05): Seq[ColumnProfile] = {
    val cols = df.columns.toSeq
    if (cols.isEmpty) return Nil
    val aggs = cols.flatMap { c =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__null__$c"),
        approx_count_distinct(col(c), rsd).as(s"__uniq__$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect().head
    val dtypes = df.dtypes.toMap
    cols.map { c =>
      val nulls = row.getLong(row.fieldIndex(s"__null__$c"))
      val uniq = row.getLong(row.fieldIndex(s"__uniq__$c")) + (if (nulls > 0) 1 else 0)
      ColumnProfile(c, dtypes(c), nulls, uniq, Nil)
    }
  }

  /** Exact profile. `n_unique` counts null as a value (Polars semantics,
    * the reference's); top-k ranks null as a value too, ties broken on
    * value ascending with null last (the reference's `value_counts` order
    * is unspecified). Columns with more than `cardinalityCap` distinct
    * values get no top-k. */
  def profile(
      df: DataFrame,
      topK: Int = DefaultTopK,
      cardinalityCap: Long = DefaultCardinalityCap): Seq[ColumnProfile] = {
    val fields = df.schema.fields.toSeq
    if (fields.isEmpty) return Nil

    val asStrings = array(fields.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      // -0.0 and 0.0 are one value to count_distinct but two strings
      val normalized = f.dataType match {
        case DoubleType | FloatType => when(c === 0, lit(0).cast(f.dataType)).otherwise(c)
        case _ => c
      }
      normalized.cast("string")
    }: _*)
    val freq = df.select(posexplode(asStrings).as(Seq("__i", "__v")))
      .groupBy(col("__i"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val perColumn = Window.partitionBy(col("__i"))
    val ranked = freq.select(
      col("__i"), col("__v"), col("__cnt"),
      count(lit(1)).over(perColumn).as("__uniq"),
      sum(when(col("__v").isNull, col("__cnt")).otherwise(0L)).over(perColumn).as("__nulls"),
      row_number().over(perColumn.orderBy(col("__cnt").desc, col("__v").asc_nulls_last))
        .as("__rk"))
    // rank 1 always survives, so every non-empty column reports its stats
    val byColumn = ranked.filter(col("__rk") <= math.max(topK, 1)).collect()
      .groupBy(_.getInt(0))

    fields.zipWithIndex.map { case (f, i) =>
      val rows = byColumn.getOrElse(i, Array.empty[Row]).sortBy(_.getInt(5))
      val (uniq, nulls) = rows.headOption.fold((0L, 0L))(r => (r.getLong(3), r.getLong(4)))
      val top =
        if (uniq > cardinalityCap) Nil
        else rows.take(topK).map(r =>
          (if (r.isNullAt(1)) null else r.getString(1), r.getLong(2))).toSeq
      ColumnProfile(f.name, f.dataType.toString, nulls, uniq, top)
    }
  }
}
