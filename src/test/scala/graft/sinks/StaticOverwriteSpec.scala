package graft.sinks

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.SparkSpecBase

/** `INSERT OVERWRITE … PARTITION (c = NULL)` replaces the directory the
  * writer put null rows in — on a bucket spec that is the bucket of
  * hash(null), not the default-partition directory.
  */
class StaticOverwriteSpec extends SparkSpecBase {

  test("static overwrite of c = NULL on a bucket(4, c) spec drops the old null rows only from their bucket") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_null_overwrite").toString
    val t = PartitionTransform.bucket(4, "c")
    CowTable.create((0 until 40).map(i => (i.toLong, Option.when(i % 5 != 0)(i)))
      .toDF("id", "c"), path, Seq(t))
    val before = CowTable.snapshotFiles(path)
    val segOf = (f: String) => f.split('/').find(_.startsWith(s"${t.name}=")).get
    val nullSegs = before.filter(f =>
      spark.read.parquet(f).filter(col("c").isNull).count() > 0).map(segOf).toSet
    assert(nullSegs.size == 1 && !nullSegs.head.contains("__HIVE_DEFAULT_PARTITION__"),
      s"null rows share one bucket directory: $nullSegs")
    val others = before.filterNot(f => nullSegs(segOf(f)))
    assert(others.nonEmpty)

    // fresh null rows, laid out the way the catalog writer lays them out
    val dir = Paths.get(path, "data", "fresh")
    Seq(100L, 101L).map(i => (i, Option.empty[Int])).toDF("id", "c")
      .withColumn(t.name, t.exprOf(col("c"), IntegerType))
      .write.partitionBy(t.name).parquet(dir.toString)
    val fresh = scala.util.Using.resource(Files.walk(dir))(_.iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toVector)
    CowTable.commitWritten(spark, path, fresh, CowWriteMode.Filtered(Seq("c" -> null)))

    val after = CowTable.snapshotFiles(path)
    assert(after.toSet == (others ++ fresh).toSet,
      "the null bucket's old files are replaced; every other bucket carries over")
    assert(CowTable.read(spark, path).filter(col("c").isNull).select("id")
      .as[Long].collect().sorted.toSeq == Seq(100L, 101L), "no old null row is left")
    assert(CowTable.read(spark, path).filter(col("c").isNotNull).count() ==
      spark.read.parquet(others: _*).count(), "other buckets' rows are untouched")
  }
}
