package reconbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.CowTable

/** One committed version of the outcome table. */
final case class Version(v: Int, commitMs: Long, files: Seq[String], added: Seq[String])

object Outcomes {
  /** Outcome rows without the two sentinel legs. */
  def real(df: DataFrame): DataFrame =
    df.filter(coalesce(col("a_id"), lit(0L)) =!= -1L && coalesce(col("b_id"), lit(0L)) =!= -2L)

  /** The table's version history from its manifests: files per version
    * and the files each commit added.
    */
  def history(table: String): Seq[Version] = {
    if (!CowTable.exists(table)) return Nil
    val first = CowTable.earliestVersion(table)
    (first to CowTable.currentVersion(table)).foldLeft(List.empty[Version]) { (acc, v) =>
      val files = CowTable.snapshotFiles(table, Some(v))
      val prev = acc.headOption.map(_.files.toSet).getOrElse(Set.empty[String])
      Version(v, CowTable.commitTimeMs(table, v).getOrElse(0L), files,
        files.filterNot(prev)) :: acc
    }.reverse
  }

  def bytes(files: Seq[String]): Long = files.map(f => Files.size(Paths.get(f))).sum

  private val uriPath = udf((uri: String) => new java.net.URI(uri).getPath)

  /** Every row of every added file, tagged with the version that added it. */
  def addedRows(spark: SparkSession, versions: Seq[Version]): DataFrame = {
    import spark.implicits._
    val fileVersion = versions.flatMap(v => v.added.map(f => (Paths.get(f).toUri.getPath, v.v)))
      .toDF("__path", "__v")
    spark.read.parquet(versions.flatMap(_.added): _*)
      .select(col("status"), col("a_id"), col("b_id"),
              uriPath(input_file_name()).as("__path"))
      .join(broadcast(fileVersion), "__path")
      .drop("__path")
  }

  /** The leg-match census: outcome count per status. */
  def census(outcomes: DataFrame): Map[String, Long] =
    outcomes.groupBy("status").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The unmatched-signup aging report, in the shape of the batch
    * `recon_aging_buckets` query: outcome keys enriched back to signup
    * event times, bucketed by age against the newest event.
    */
  def aging(outcomes: DataFrame, signupTs: DataFrame, now: DataFrame): Array[org.apache.spark.sql.Row] =
    outcomes.filter(col("status") === "unmatched_a")
      .join(signupTs, "a_id")
      .crossJoin(broadcast(now))
      .withColumn("age_s", unix_timestamp(col("now_ts")) - unix_timestamp(col("s_ts")))
      .withColumn("bucket",
        when(col("age_s") < 7L * 86400, "lt7d")
          .when(col("age_s") < 21L * 86400, "lt21d")
          .otherwise("21d_plus"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min("age_s").cast("long").as("min_age_s"),
           max("age_s").cast("long").as("max_age_s"))
      .orderBy("bucket")
      .collect()
}

/** One serving read's timings, and whether it failed. */
final case class Read(startMs: Double, snapshotS: Double, censusS: Double, agingS: Double,
                      files: Int, census: Map[String, Long], error: Option[String]) {
  def totalS: Double = snapshotS + censusS + agingS
}

/** Serving reads against the outcome table: `CowTable.read` of the latest
  * snapshot, then the leg-match census and the unmatched-aging report.
  */
final class Serving(spark: SparkSession, table: String, events: DataFrame) {
  private val signupTs = events.filter(col("event_type") === "signup")
    .select(col("event_id").as("a_id"), col("ts").as("s_ts"))
  private val now = events.agg(max(col("ts")).as("now_ts"))

  def read(): Read = {
    val t0 = System.nanoTime()
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    try {
      val files = CowTable.snapshotFiles(table).length
      val snap = Outcomes.real(CowTable.read(spark, table))
      val t1 = System.nanoTime()
      val census = Outcomes.census(snap)
      val t2 = System.nanoTime()
      Outcomes.aging(snap, signupTs, now)
      Read(Span.epochMs(t0), (t1 - t0) / 1e9, (t2 - t1) / 1e9, since(t2), files, census, None)
    } catch {
      case e: Exception => Read(Span.epochMs(t0), since(t0), 0, 0, 0, Map.empty, Some(e.toString))
    }
  }
}
