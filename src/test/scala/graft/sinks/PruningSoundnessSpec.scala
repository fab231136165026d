package graft.sinks

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Date
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** File pruning is an IO optimization only: on seeded random tables of
  * many small files, the stats gate never drops a file that holds a
  * matching row, and an exact-constant certificate keeps exactly the
  * matching rows. Layouts mix numeric, string, date and decimal
  * columns, all-null files, stats-less files, NaN bounds, a renamed
  * column, lookup sidecars, file-constant and range-clustered columns.
  */
class PruningSoundnessSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("n", DoubleType),
    StructField("s", StringType), StructField("d", DateType),
    StructField("m", DecimalType(10, 2)), StructField("k", LongType)))
  private val strs = Seq("a", "b", "k10", "k2", "30", "5", "zz", "", "é", "Ω")
  private val day0 = LocalDate.of(2024, 1, 1)

  /** Seeded table `i` (its layout features vary with `i`); returns its
    * path and the name `n` reads under. */
  private def table(r: Random, i: Int): (String, String) = {
    val path = Files.createTempDirectory("graft_prune").toString
    val clustered = i % 2 == 0
    val rename = i % 3 == 1
    def rows(fi: Int): Seq[Row] = {
      val allNull = r.nextInt(6) == 0
      val s0 = strs(r.nextInt(strs.size))
      Seq.fill(1 + r.nextInt(6)) {
        Row(if (clustered) fi * 100L + r.nextInt(100) else r.nextInt(300).toLong,
          if (allNull || r.nextInt(8) == 0) null
          else if (r.nextInt(12) == 0) Double.NaN else r.nextInt(40) + 0.5,
          if (allNull) null else if (r.nextBoolean()) s0 else strs(r.nextInt(strs.size)),
          if (allNull || r.nextInt(10) == 0) null
          else Date.valueOf(day0.plusDays(r.nextInt(40))),
          if (allNull) null
          else new java.math.BigDecimal(java.math.BigInteger.valueOf(r.nextInt(5000)), 2),
          (fi % 3).toLong)
      }
    }
    def df(fi: Int): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows(fi), 1), schema)
    CowTable.create(df(0), path)
    CowTable.setStatsColumns(spark, path, Seq("id", "n", "s", "d", "m", "k"))
    if (i % 2 == 1 || i == 4)
      CowTable.setLookupColumns(spark, path, Seq("id", "s"), dictMax = 3, bloomBits = 64)
    if (rename) CowTable.renameColumn(spark, path, "n", "n2")
    (1 until 8 + r.nextInt(5)).foreach { fi =>
      CowTable.append(spark, path, if (rename) df(fi).withColumnRenamed("n", "n2") else df(fi))
    }
    // stats-less files: a manifest whose C entries are partly missing
    // (files written before a declaration look the same)
    if (i >= 2) {
      val bare = CowTable.snapshotFiles(path).zipWithIndex.collect {
        case (f, j) if j % 3 == 1 => s"C $f\t"
      }
      val mf = Paths.get(path, "_snapshots", s"v${CowTable.currentVersion(path)}.json")
      val text = new String(Files.readAllBytes(mf), StandardCharsets.UTF_8)
      Files.write(mf, text.split("\n").filterNot(l => bare.exists(l.startsWith))
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    (path, if (rename) "n2" else "n")
  }

  /** A literal for column `c`: in-domain, cross-typed or null. */
  private def literal(r: Random, c: String): Any = r.nextInt(10) match {
    case 0 => null
    case 1 => r.nextInt(300)
    case 2 => r.nextInt(50) + 0.25
    case 3 => strs(r.nextInt(strs.size))
    case 4 => r.nextInt(300).toString
    case 5 => Date.valueOf(day0.plusDays(r.nextInt(44) - 2))
    case 6 => BigDecimal(r.nextInt(5000), 2)
    case _ => c match {
      case "id" => r.nextInt(1300).toLong
      case "s" => strs(r.nextInt(strs.size))
      case "d" => day0.plusDays(r.nextInt(44) - 2)
      case "m" => BigDecimal(r.nextInt(5000), 2)
      case "k" => r.nextInt(4).toLong
      case _ => if (r.nextInt(5) == 0) Double.NaN else r.nextInt(42) + 0.5
    }
  }

  test("range and IN pruning never drop a file holding a matching row; exact certificates keep exactly the matching rows") {
    val r = new Random(20261017L)
    var checked, certified = 0
    (0 until 5).foreach { i =>
      val (path, nName) = table(r, i)
      val types = Map("id" -> LongType, nName -> DoubleType, "s" -> StringType,
        "d" -> DateType, "m" -> DecimalType(10, 2), "k" -> LongType)
      val rows = CowTable.read(spark, path)
        .withColumn("__f", input_file_name()).cache()
      val fileOf = (f: String) => new java.net.URI(f).getPath
      // (file, row without the file column) — the exact check's oracle
      val local = rows.collect().toSeq.map(x =>
        (fileOf(x.getString(x.length - 1)), Row.fromSeq(x.toSeq.init).toString))
      /** The files holding a row that satisfies `p`, brute force — None
        * when the predicate itself fails (e.g. an ANSI cast error). */
      def holding(p: Column): Option[Set[String]] =
        scala.util.Try(rows.filter(p).select("__f").distinct().collect()
          .map(x => fileOf(x.getString(0))).toSet).toOption
      (0 until 60).foreach { _ =>
        val c = Seq("id", nName, "s", "d", "m", "k")(r.nextInt(6))
        val hint = if (r.nextBoolean()) types.get(c) else None
        if (r.nextBoolean()) {
          val lo = if (r.nextInt(4) == 0) None else Some(literal(r, c))
          val hi = if (r.nextInt(4) == 0) None else Some(literal(r, c))
          val kept = CowTable.prunedFilesRange(spark, path, c, lo, hi, None, hint).toSet
          holding(lo.fold(lit(true))(col(c) >= lit(_)) && hi.fold(lit(true))(col(c) <= lit(_)))
            .foreach { hit =>
              checked += 1
              assert(hit.subsetOf(kept), s"range $c [$lo, $hi] hint $hint dropped ${hit -- kept}")
            }
        } else {
          val vs = Seq.fill(1 + r.nextInt(if (r.nextInt(5) == 0) 25 else 4))(literal(r, c))
          val kept = CowTable.prunedFilesIn(spark, path, c, vs, None, hint).toSet
          holding(col(c).isin(vs: _*)).foreach { hit =>
            checked += 1
            assert(hit.subsetOf(kept), s"IN $c $vs hint $hint dropped ${hit -- kept}")
          }
          val points = vs.filter(_ != null)
          if (points.nonEmpty) CowTable.exactConstantPrune(spark, path, c, points, None,
              types(c)).foreach { exact =>
            val want = scala.util.Try(rows.filter(col(c).isin(points: _*)).drop("__f")
              .collect().map(_.toString).sorted.toSeq).toOption
            want.foreach { w =>
              certified += 1
              val got = local.filter(x => exact.contains(x._1)).map(_._2).sorted
              assert(got == w, s"exact $c $points kept ${exact.size} files")
            }
          }
        }
      }
      rows.unpersist()
    }
    assert(checked > 120, s"too few predicates evaluated: $checked ($certified certified)")
    assert(certified > 5, s"too few exact certificates: $certified")
  }
}
