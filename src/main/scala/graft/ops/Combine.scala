package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental-mode combine: merge several wide tables (e.g. one per
  * month of an incremental run) into one, re-summing the hour columns
  * per (taxi_type, date, pickup_place).
  *
  * Reference behavior: combine_into_wide_table
  * (/root/reference/pivot_and_boostrap/pivot_all_files.py:307-340) —
  * schema-padded concat + groupby-sum. In the normal single-plan
  * pipeline this operator VANISHES (one shuffle does it all, SURVEY
  * §2.4 A6); it exists for the incremental/per-month mode where earlier
  * outputs are already materialized.
  */
object Combine {

  val indexCols: Seq[String] = Seq("taxi_type", "date", "pickup_place")

  /** Union wide tables by name (missing hour columns → 0) and re-sum. */
  def combineWideTables(tables: Seq[DataFrame]): Option[DataFrame] =
    tables.reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map { all =>
        // hour columns absent from EVERY input still must exist (the
        // reference pads them — pivot_all_files.py:326-328, :335-337)
        val padded = HourPivot.hourCols.foldLeft(all) { (df, c) =>
          if (df.columns.contains(c)) df else df.withColumn(c, lit(0L))
        }
        val filled = padded.na.fill(0L, HourPivot.hourCols)
        filled
          .groupBy(indexCols.map(col): _*)
          .agg(
            sum(col(HourPivot.hourCols.head)).as(HourPivot.hourCols.head),
            HourPivot.hourCols.tail.map(c => sum(col(c)).as(c)): _*)
      }
}
