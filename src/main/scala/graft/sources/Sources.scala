package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source + serde surface — the analogue of the reference substrate's
  * `Consumed.with(serde, timestampExtractor)` (SURVEY.md §1.1): every
  * entry point yields the SAME canonical event schema, so topologies
  * are source-agnostic. Batch parquet is the test/bench path; JSON/CSV
  * readers exercise the serde surface; the file-stream reader is the
  * bounded stand-in for the Kafka source (whose connector jar is absent
  * in this environment — SURVEY §0 — so `kafkaEvents` expresses the
  * production wiring but cannot execute here).
  */
object Sources {

  /** Canonical event schema (mirrors events.parquet, FIXTURES.md). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** JSON-lines source — the JSON-serde path (`from_json` analogue is
    * applied by the reader itself via the explicit schema; no inference
    * pass, which at 100 TB would be a full extra scan).
    */
  def eventsFromJsonLines(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema).json(path)

  /** CSV source with explicit schema + timestamp parsing. */
  def eventsFromCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(path)

  /** CSV with malformed-row capture: PERMISSIVE mode parks unparseable
    * lines in `_corrupt_record` instead of failing the job — on a
    * 100 TB ingest, one mangled line must neither kill the run
    * (FAILFAST) nor vanish silently (DROPMALFORMED); it lands in a
    * quarantine column the DQ layer (`dq_*` audits) counts and routes.
    */
  def eventsFromCsvQuarantined(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val withQuarantine = StructType(
      eventSchema.fields :+ StructField("_corrupt_record", StringType, nullable = true))
    spark.read.schema(withQuarantine)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }

  /** Serde for a payload column: JSON string → typed struct → columns.
    * This is the decode step a Kafka value column goes through.
    */
  def decodeJsonPayload(payload: DataFrame, colName: String): DataFrame =
    payload
      .withColumn("decoded", from_json(col(colName), eventSchema))
      .select(col("decoded.*"))

  /** ORC source — the second columnar format (predicate pushdown and
    * column pruning apply exactly as with parquet; schema explicit, no
    * inference scan).
    */
  def eventsFromOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventSchema).orc(path)

  /** Streaming file source — bounded stand-in for a topic: new files in
    * `path` are discovered per micro-batch, schema fixed up front.
    */
  def eventsStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(path)

  /** Rate-limited REPLAY of a driver events table as a stream: the
    * table is sliced into `files` time-range files (range-partitioned
    * and sorted on `ts`, so the file sequence replays in event-time
    * order), then read back through Spark's file streaming source with
    * `maxFilesPerTrigger=1` — the engine's own admission control turns
    * each slice into one micro-batch. This is how every streaming twin
    * becomes drivable at full scale-factor volume without Kafka: same
    * watermark/state semantics, bounded per-trigger input, and the
    * replay is deterministic (same slices → same batches).
    *
    * Returns the streaming DataFrame; `prepDir` holds the slices and
    * can be reused across queries (prep once per (table, files)).
    */
  def eventsReplay(spark: SparkSession, eventsDf: DataFrame, prepDir: String,
                   files: Int = 20, maxFilesPerTrigger: Int = 1): DataFrame = {
    eventsDf.repartitionByRange(files, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(prepDir)
    // FileStreamSource admits files in (modificationTime, path) order,
    // and parallel write tasks finish in arbitrary order — pin mtimes
    // to the part-file index (range partition i = time range i) so the
    // replay sequence actually follows event time
    val parts = scala.util.Using.resource(
        java.nio.file.Files.list(java.nio.file.Paths.get(prepDir)))(_.iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .toVector.sortBy(_.getFileName.toString))
    val base = java.nio.file.attribute.FileTime.fromMillis(1000000000000L)
    parts.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base.toMillis + i * 1000L))
    }
    spark.readStream
      .schema(spark.read.parquet(prepDir).schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(prepDir)
  }

  /** Production Kafka wiring (NOT executable here: spark-sql-kafka jar
    * absent). Value bytes → JSON serde → canonical schema; event-time
    * comes from the payload, not the broker timestamp — the
    * TimestampExtractor analogue.
    */
  def kafkaEvents(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(from_json(col("value").cast("string"), eventSchema).as("e"))
      .select(col("e.*"))
}
