package reconbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Failures found by the correctness gate. Each defect is counted once:
  * an id that is missing from every outcome only because a twin row is
  * missing is already counted by that row, and so is a foreign id on a row
  * the twin does not have.
  */
final case class GateResult(missingRows: Long, extraRows: Long, unaccountedIds: Long,
                            foreignRows: Long, lateDrops: Long, readFailures: Long) {
  def failed: Long = missingRows + extraRows + unaccountedIds + foreignRows + lateDrops + readFailures
  def asMap: Map[String, Double] = Map(
    "missing_rows" -> missingRows.toDouble, "extra_rows" -> extraRows.toDouble,
    "unaccounted_ids" -> unaccountedIds.toDouble, "foreign_rows" -> foreignRows.toDouble,
    "late_drops" -> lateDrops.toDouble, "read_failures" -> readFailures.toDouble)
}

object Gate {
  /** `table`: the final outcome table without sentinels; `twin`: the
    * batch reconciliation of the same events; `events`: the input.
    */
  def check(table: DataFrame, twin: DataFrame, events: DataFrame,
            lateDrops: Long, readFailures: Long): GateResult = {
    val cols = Seq("status", "a_id", "b_id").map(col)
    val t = table.select(cols: _*)
    val w = twin.select(cols: _*)
    val missing = w.exceptAll(t).persist()
    val extra = t.exceptAll(w).persist()
    def ids(df: DataFrame) =
      df.select(col("a_id").as("id")).union(df.select(col("b_id").as("id"))).filter(col("id").isNotNull)
    def leg(t: String) = events.filter(col("event_type") === t).select(col("event_id").as("id"))
    val unaccounted = leg("signup").union(leg("purchase"))
      .join(ids(t), Seq("id"), "left_anti")
      .join(ids(missing), Seq("id"), "left_anti")
      .count()
    val foreign = t
      .join(leg("signup").select(col("id").as("a_id"), lit(true).as("a_ok")), Seq("a_id"), "left")
      .join(leg("purchase").select(col("id").as("b_id"), lit(true).as("b_ok")), Seq("b_id"), "left")
      .filter((col("a_id").isNotNull && col("a_ok").isNull) ||
              (col("b_id").isNotNull && col("b_ok").isNull))
      .select(cols: _*)
      .exceptAll(extra)
      .count()
    val r = GateResult(missing.count(), extra.count(), unaccounted, foreign, lateDrops, readFailures)
    missing.unpersist(); extra.unpersist()
    r
  }
}
