package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: enrich each left row with the latest right row whose time
  * is ≤ the left row's time, per key — the time-series point-in-time
  * lookup Spark has no native operator for.
  *
  * Implemented by composition (operator preference (a)): tag and union
  * both sides, sort per key by (time, side) inside a window, and carry
  * the right side's values forward (last ignoreNulls). Cost: ONE shuffle
  * on the key + one per-partition sort — the same cost profile as a
  * sort-merge join, with no range-condition blowup (a naive
  * `l.ts >= r.ts` theta-join is O(|L|·|R|) per key). This is the classic
  * scalable as-of formulation; a custom SparkPlan would only remove the
  * union overhead, not the shuffle or sort.
  */
object AsofJoin {

  /** Left rows gain `valueCols` from the right side (null when no right
    * row at-or-before). Right times tie-break before left times (≥
    * semantics, matching SQL ASOF JOIN `ON l.ts >= r.ts`).
    *
    * @param valueCols right-side columns to carry (must not collide with
    *                  left column names)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               leftTimeCol: String, rightTimeCol: String,
               valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // side 0 = right (visible to same-instant left rows), side 1 = left
    val taggedRight = right.select(
      (keyCols.map(col) :+ col(rightTimeCol).as("__t") :+ lit(0).as("__side")) ++
        valueCols.map(col) ++
        leftCols.filterNot(c => keyCols.contains(c)).map(c => lit(null).as(c)): _*)
    val taggedLeft = left.select(
      (keyCols.map(col) :+ col(leftTimeCol).as("__t") :+ lit(1).as("__side")) ++
        valueCols.map(c => lit(null).as(c)) ++
        leftCols.filterNot(c => keyCols.contains(c)).map(col): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    taggedRight.unionByName(taggedLeft)
      .select((keyCols.map(col) ++ leftCols.filterNot(keyCols.contains).map(col) :+
        col("__side")) ++
        valueCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c)): _*)
      .filter(col("__side") === 1)
      .drop("__side")
  }
}
