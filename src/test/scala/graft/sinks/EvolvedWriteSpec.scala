package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpecBase}

/** Writes on a widened, mixed-era table: files written before an
  * int→bigint and a float→double widen (and a rename) sit next to a
  * file written after it, with a key-delete sidecar and a positional
  * sidecar live. Every write reads the snapshot through the declared
  * schema, so each result must equal the rows computed from [[CowTable.read]]
  * before the operation.
  */
class EvolvedWriteSpec extends SparkSpecBase {

  /** The mixed-era table at `path` (a fresh temp dir by default). */
  private def widened(path: String = Files.createTempDirectory("graft_evolved").toString)
      : String = {
    import spark.implicits._
    def era1(ids: Range) =
      ids.map(i => (i.toLong, i, i + 0.5f, s"n$i", i % 3)).toDF("id", "v", "f", "name", "g")
    CowTable.create(era1(0 until 10), path)
    CowTable.append(spark, path, era1(10 until 20))
    CowTable.deleteMor(spark, path, "id = 3", "id")   // key sidecar
    CowTable.deleteMorWhere(spark, path, "id = 12")    // positional sidecar
    CowTable.renameColumn(spark, path, "name", "label")
    CowTable.widenColumn(spark, path, "v", "bigint")
    CowTable.widenColumn(spark, path, "f", "double")
    CowTable.append(spark, path, (20 until 30)
      .map(i => (i.toLong, 3000000000L + i, i + 0.25, s"l$i", i % 3))
      .toDF("id", "v", "f", "label", "g"))
    path
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("id", "v", "f", "label", "g").collect().map(_.toString).sorted.toSeq

  private def newRows(ids: Seq[Long], s: SparkSession = spark): DataFrame = {
    import s.implicits._
    ids.map(i => (i, 7000000000L + i, i + 0.75, s"u$i", (i % 3).toInt))
      .toDF("id", "v", "f", "label", "g")
  }

  private def without(before: DataFrame, pred: Column): DataFrame =
    before.filter(not(coalesce(pred, lit(false))))

  test("merge, delete and both update overloads on a widened mixed-era table") {
    val upd = newRows(Seq(1L, 3L, 12L, 25L, 40L))
    val t1 = widened()
    val b1 = CowTable.read(spark, t1)
    assert(b1.columns.toSeq == Seq("id", "v", "f", "label", "g"))
    assert(b1.count() == 28L, "30 rows minus one key-deleted and one position-deleted")
    assert(b1.filter(col("id") === 25).select("v").head().getLong(0) == 3000000025L)
    val want1 = rows(b1.join(upd.select("id"), Seq("id"), "left_anti")
      .unionByName(upd))
    CowTable.merge(spark, t1, upd, "id")
    assert(rows(CowTable.read(spark, t1)) == want1)

    val t2 = widened()
    val pred = col("v") > 15 && col("v") < 3000000025L
    val want2 = rows(without(CowTable.read(spark, t2), pred))
    CowTable.delete(spark, t2, "v > 15 AND v < 3000000025")
    assert(rows(CowTable.read(spark, t2)) == want2)

    val t3 = widened()
    val p3 = col("label").startsWith("l2") || col("id") === 5
    val want3 = rows(CowTable.read(spark, t3).select(col("id"),
      when(p3, col("v") * 2).otherwise(col("v")).as("v"),
      when(p3, col("f") + 1).otherwise(col("f")).as("f"), col("label"), col("g")))
    CowTable.update(spark, t3, p3, Seq("v" -> col("v") * 2, "f" -> (col("f") + 1)))
    assert(rows(CowTable.read(spark, t3)) == want3)

    val t4 = widened()
    val p4 = col("g") === 1
    val want4 = rows(CowTable.read(spark, t4).select(col("id"),
      when(p4, col("v") + 1).otherwise(col("v")).as("v"), col("f"),
      when(p4, upper(col("label"))).otherwise(col("label")).as("label"), col("g")))
    CowTable.update(spark, t4, "g = 1", Seq("label" -> "upper(label)", "v" -> "v + 1"))
    assert(rows(CowTable.read(spark, t4)) == want4)
  }

  test("the three merge-on-read writes on a widened mixed-era table") {
    import spark.implicits._
    val t1 = widened()
    val want1 = rows(without(CowTable.read(spark, t1), col("f") > 20.0))
    CowTable.deleteMorWhere(spark, t1, "f > 20.0")
    assert(rows(CowTable.read(spark, t1)) == want1)

    val t2 = widened()
    val keys = Seq(4L, 22L).toDF("id")
    val want2 = rows(CowTable.read(spark, t2).join(keys, Seq("id"), "left_anti"))
    CowTable.deleteMorPosKeys(spark, t2, keys)
    assert(rows(CowTable.read(spark, t2)) == want2)

    val t3 = widened()
    val adds = newRows(Seq(5L, 23L, 40L))
    val want3 = rows(CowTable.read(spark, t3)
      .join(adds.select("id"), Seq("id"), "left_anti").unionByName(adds))
    CowTable.upsertMorPos(spark, t3, adds.select("id"), adds)
    assert(rows(CowTable.read(spark, t3)) == want3)
  }

  test("changes over a window of carried files, and incrementalAgg across a positional delete") {
    val t = widened()
    val v0 = CowTable.currentVersion(t)
    CowTable.merge(spark, t, newRows(Seq(24L)), "id") // rewrites the post-widen file
    CowTable.deleteMor(spark, t, "id = 7", "id")      // key delete in a carried file
    CowTable.deleteMorWhere(spark, t, "id = 15")      // positional delete in a carried file
    val v1 = CowTable.currentVersion(t)
    def byId(v: Int): Map[Long, String] =
      CowTable.read(spark, t, Some(v)).collect()
        .map(r => r.getLong(0) -> r.toString).toMap
    val (before, after) = (byId(v0), byId(v1))
    val want = (before.keySet ++ after.keySet).toSeq.sorted.flatMap { id =>
      (before.get(id), after.get(id)) match {
        case (None, Some(a))             => Some(s"insert $a")
        case (Some(b), None)             => Some(s"delete $b")
        case (Some(b), Some(a)) if b != a => Some(s"update $a")
        case _                           => None
      }
    }
    val got = CowTable.changes(spark, t, "id", v0, v1)
      .select("id", "v", "f", "label", "g", "_change_type").collect()
      .map(r => s"${r.getString(5)} [${(0 until 5).map(r.get).mkString(",")}]")
      .sortBy(s => s.split('[')(1).split(',')(0).toLong).toSeq
    assert(got == want)
    assert(want.map(_.split(' ')(0)) == Seq("delete", "delete", "update"))

    val agg = (d: DataFrame) => d.groupBy("g").agg(sum("v").as("sv"), count(lit(1)).as("n"))
    val mv0 = agg(CowTable.read(spark, t, Some(v1))).cache()
    CowTable.deleteMorWhere(spark, t, "id = 25 OR id = 5")
    val v2 = CowTable.currentVersion(t)
    val got2 = CowTable.incrementalAgg(spark, t, "g", mv0, v1, v2)(agg)
    assert(got2.collect().map(_.toString).sorted.toSeq ==
      agg(CowTable.read(spark, t)).collect().map(_.toString).sorted.toSeq)
  }

  test("writes on a declared-schema table with no data files yet (CREATE TABLE shape)") {
    val t = Files.createTempDirectory("graft_evolved_empty").toString + "/t"
    CowTable.createEmpty(t, newRows(Nil).schema)
    assert(CowTable.deleteMorWhere(spark, t, "v > 1") == CowTable.currentVersion(t))
    CowTable.update(spark, t, "v > 1", Seq("v" -> "v + 1"))
    CowTable.delete(spark, t, "v > 1")
    assert(CowTable.read(spark, t).count() == 0L)
    val upd = newRows(Seq(1L, 2L))
    CowTable.merge(spark, t, upd, "id")
    assert(rows(CowTable.read(spark, t)) == rows(upd))
  }

  test("SQL MERGE INTO, UPDATE and DELETE FROM through CowCatalog on a widened mixed-era table") {
    val prev = spark
    val wh = Files.createTempDirectory("graft_evolved_wh").toString
    Files.createDirectories(Paths.get(wh, "ns"))
    val t = widened(s"$wh/ns/t")
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder().master("local[4]")
        .config("spark.sql.catalog.cowt", classOf[CowCatalog].getName)
        .config("spark.sql.catalog.cowt.root", wh)
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val upd = newRows(Seq(2L, 26L, 41L), s)
      val want1 = rows(CowTable.read(s, t).join(upd.select("id"), Seq("id"), "left_anti")
        .unionByName(upd))
      upd.createOrReplaceTempView("src")
      s.sql("""MERGE INTO cowt.ns.t t USING src ON t.id = src.id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
      assert(rows(CowTable.read(s, t)) == want1)

      val p2 = col("g") === 2
      val want2 = rows(CowTable.read(s, t).select(col("id"),
        when(p2, col("v") + 100).otherwise(col("v")).as("v"), col("f"), col("label"), col("g")))
      s.sql("UPDATE cowt.ns.t SET v = v + 100 WHERE g = 2")
      assert(rows(CowTable.read(s, t)) == want2)

      val want3 = rows(without(CowTable.read(s, t), col("id") < 4 || col("id") > 27))
      s.sql("DELETE FROM cowt.ns.t WHERE id < 4 OR id > 27")
      assert(rows(CowTable.read(s, t)) == want3)
      assert(s.sql("SELECT count(*) FROM cowt.ns.t").head().getLong(0) == want3.size.toLong)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }
}
