package reconbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.sources.Sources

/** A workload's generated input and how it reaches the stream.
  * Closed loops stage the whole backlog with `Sources.eventsReplay`; the
  * open loop releases `slices` files on a wall-clock schedule into the
  * directory `Sources.eventsStream` reads.
  */
final case class Plan(events: Array[Ev], sentinels: Seq[Ev], slices: Int,
                      sliceMs: Int, rate: Int, paced: Boolean)

object Workloads {
  val Names = Seq("drain", "paced", "deep_state")

  // Closed loops stage one slice per measured second: at the ~0.8 s a
  // micro-batch takes on a 4-core host, a 10 s run drains ~10 batches.
  // drain: the sf0.1 shape.
  val DrainEventsPerS = 8000
  val DrainSlicesPerS = 1
  // paced: the offered rate, at most half of drain's events_per_s on the
  // reference host, in slices of `PacedSliceMs`; arrival lags creation by
  // up to `PacedDisorderMs`, far inside the 10-minute watermark delay.
  val PacedRate = 1000
  val PacedSliceMs = 100
  val PacedDisorderMs = 1000
  // deep_state: ~10^5 users, a low match rate, and dense event time: each
  // slice spans `DeepSliceMinutes`, so the 24 h band keeps every signup of
  // the run in state while purchases leave it behind the watermark.
  // BENCHMARK.json does not declare it: every declared workload adds some
  // twenty runs to a full measurement, and its batches cost the same
  // per-trigger floor as drain's. It runs by hand and in the self-check.
  val DeepEventsPerS = 10000
  val DeepSlicesPerS = 1
  val DeepUsers = 100000
  val DeepOverlap = 0.25
  val DeepSliceMinutes = 10

  def plan(name: String, seed: Long, seconds: Int): Plan = name match {
    case "drain" =>
      val ev = Gen.uniform(seed, DrainEventsPerS * seconds)
      Plan(ev, Gen.sentinels(ev, -1), DrainSlicesPerS * seconds, 0, 0, paced = false)
    case "deep_state" =>
      val slices = DeepSlicesPerS * seconds
      val ev = Gen.deep(seed, DeepEventsPerS * seconds, slices * DeepSliceMinutes * 60L * 1000000L,
        DeepUsers, DeepOverlap)
      Plan(ev, Gen.sentinels(ev, -1), slices, 0, 0, paced = false)
    case "paced" =>
      val (ev, slices) = Gen.paced(seed, PacedRate, seconds, PacedSliceMs, PacedDisorderMs)
      Plan(ev, Gen.sentinels(ev, slices), slices, PacedSliceMs, PacedRate, paced = true)
    case other => throw new IllegalArgumentException(s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  /** Writes each paced slice (and the sentinel slice) as one parquet file,
    * returned in release order.
    */
  def stageSlices(spark: SparkSession, plan: Plan, dir: String): Seq[Path] = {
    val all = plan.events.toSeq ++ plan.sentinels
    val schema = StructType(Sources.eventSchema.fields :+ StructField("slice", IntegerType))
    val rows = all.map(e => org.apache.spark.sql.Row.fromSeq(e.row.toSeq :+ e.slice))
    val files = filePerGroup(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      "slice", 0 to plan.slices, dir)
    require(files.length == plan.slices + 1, s"${plan.slices + 1} slices staged as ${files.length} files")
    files
  }

  /** Writes the rows of each value of integer column `group` as one parquet
    * file without that column; returns the files in the order of `groups`.
    */
  def filePerGroup(df: DataFrame, group: String, groups: Seq[Int], dir: String): Seq[Path] = {
    df.repartition(col(group)).write.partitionBy(group).parquet(dir)
    groups.map(g => Path.of(dir, s"$group=$g")).filter(Files.isDirectory(_)).map { d =>
      val it = Files.list(d)
      try {
        val parts = it.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList
        require(parts.length == 1, s"$d holds ${parts.length} files")
        parts.head
      } finally it.close()
    }
  }

  /** Copies `files` into `dir` as a file sequence a file stream source
    * admits in order: names and modification times follow the index.
    */
  def asSequence(files: Seq[Path], dir: Path): Unit = {
    Files.createDirectories(dir)
    files.zipWithIndex.foreach { case (f, i) =>
      val to = dir.resolve(f"$i%06d.parquet")
      Files.copy(f, to)
      Files.setLastModifiedTime(to, FileTime.fromMillis(1000000000000L + i * 1000L))
    }
  }

  /** Moves `f` into `dir` atomically, so a lister never sees a partial file. */
  def release(f: Path, dir: Path, i: Int): Unit =
    Files.move(f, dir.resolve(f"$i%06d.parquet"), StandardCopyOption.ATOMIC_MOVE)

  /** A file-sequence stream with one file per micro-batch. */
  def oneFilePerTrigger(spark: SparkSession, schema: StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
}
