package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.SparkSpecBase

/** The typed manifest: its line-format round trip on a table carrying
  * every line kind, plus the defects the typed commit path retires.
  */
class ManifestSpec extends SparkSpecBase {

  private def tmp = Files.createTempDirectory("graft_manifest").toString

  private def onDisk(path: String, v: Int): String =
    new String(Files.readAllBytes(Paths.get(path, "_snapshots", s"v$v.json")),
      StandardCharsets.UTF_8)

  private def lines(text: String): Seq[String] =
    text.split("\n").toSeq.filter(_.nonEmpty).sorted

  test("parse → render reproduces every version's lines, all 12 line kinds") {
    import spark.implicits._
    val path = tmp
    val rows = (1L to 40L).map(i => (i, i % 4, i * 10L))
    CowTable.create(rows.toDF("id", "g", "v"), path,
      Seq(PartitionTransform.identity("g")))                         // T, R, W
    CowTable.setStatsColumns(spark, path, Seq("id", "v"))            // K, C
    CowTable.setLookupColumns(spark, path, Seq("id"), dictMax = 4)  // L, B
    CowTable.setZorderBounds(spark, path, Seq(("v", 0.0, 400.5)))   // ZO
    CowTable.deleteMor(spark, path, "id = 1", "id")                  // D
    CowTable.deleteMorWhere(spark, path, "id = 2")                   // P
    CowTable.append(spark, path, Seq((41L, 1L, 410L)).toDF("id", "g", "v"),
      txn = Some(("app-1", 7L)))                                     // X
    CowTable.addColumn(spark, path, "note", "string")                // S
    val last = CowTable.currentVersion(path)
    val kinds = lines(onDisk(path, last)).map { l =>
      val sp = l.indexOf(' ')
      if (l.startsWith("/")) "data" else l.substring(0, sp)
    }.toSet
    assert(kinds == Set("data", "D", "P", "S", "T", "X", "W", "C", "K", "R", "B", "L",
      "ZO"), s"latest manifest must carry every line kind: $kinds")
    for (v <- 1 to last) {
      val text = onDisk(path, v)
      val m = Manifest.parse(text)
      assert(lines(m.render) == lines(text), s"v$v round trip")
      assert(Manifest.parse(m.render) == m, s"v$v parse(render) fixpoint")
    }
    val m = Manifest.parse(onDisk(path, last))
    assert(m.txns == Map("app-1" -> 7L))
    assert(m.zorder.contains(ZOrderSpec(20, Seq(("v", 0.0, 400.5)))))
    assert(m.rowCounts.keySet == m.dataFiles.toSet)
    assert(CowTable.read(spark, path).count() == 39L)
  }

  test("setStatsColumns(Seq.empty) retires the spec and every recorded stat") {
    import spark.implicits._
    val path = tmp
    CowTable.create(Seq((1L, 10L)).toDF("id", "v"), path)
    CowTable.append(spark, path, Seq((2L, 20L)).toDF("id", "v"))
    CowTable.append(spark, path, Seq((3L, 30L)).toDF("id", "v"))
    CowTable.setStatsColumns(spark, path, Seq("v"))
    assert(CowTable.fileStats(path).size == 3)
    CowTable.setStatsColumns(spark, path, Seq.empty)
    assert(CowTable.statsColumns(path).isEmpty)
    assert(CowTable.fileStats(path).isEmpty,
      s"retired stats still recorded: ${CowTable.fileStats(path).keys}")
    // later writes record none either, and the data is untouched
    CowTable.append(spark, path, Seq((4L, 40L)).toDF("id", "v"))
    assert(CowTable.fileStats(path).isEmpty)
    assert(CowTable.read(spark, path).count() == 4L)
  }

  test("publishBranch on a z-ordered table keeps the rows and the z-order spec") {
    import spark.implicits._
    val path = tmp
    CowTable.create((1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v"), path)
    CowTable.setZorderColumns(spark, path, Seq("v"))
    val spec = CowTable.zorderSpec(path)
    assert(spec.isDefined)
    CowTable.createBranch(path, "zb")
    CowTable.append(spark, CowTable.branchPath(path, "zb"),
      Seq((21L, 21.0)).toDF("id", "v"))
    CowTable.publishBranch(path, "zb")
    assert(CowTable.zorderSpec(path) == spec)
    assert(CowTable.read(spark, path).count() == 21L)
    CowTable.dropBranch(path, "zb")
    assert(CowTable.read(spark, path).select("id").as[Long].collect().sorted.toSeq ==
      (1L to 21L))
  }

  test("directory streams are closed: exists and append leak no file descriptors") {
    import spark.implicits._
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "needs /proc/self/fd")
    def fds: Int = fdDir.list().length
    val path = tmp
    CowTable.create(Seq((0L, 0L)).toDF("id", "v"), path)
    CowTable.append(spark, path, Seq((1L, 1L)).toDF("id", "v")) // warm-up
    val before = fds
    (1 to 500).foreach(_ => assert(CowTable.exists(path)))
    (1 to 10).foreach(i => CowTable.append(spark, path, Seq((i + 1L, 0L)).toDF("id", "v")))
    val grown = fds - before
    assert(grown < 20, s"open file descriptors grew by $grown")
  }
}
