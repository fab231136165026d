package reconbench

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.Sessions

final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 15,
                      trace: Boolean = false, work: String = "", jvm: String = "",
                      results: String = "", selfcheck: Boolean = false)

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * runs one workload (the last stdout line is the JSON result);
  * `--selfcheck 1` runs every workload at a tiny scale and checks the
  * benchmark itself.
  */
object Main {
  /** Pinned configuration: the same on every workload and host. */
  val Slots = 2
  val ShufflePartitions = 2

  def parse(args: Array[String]): Opts =
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v)) => o.copy(seconds = v.toInt)
      case (o, Array("--trace", v)) if v == "0" || v == "1" => o.copy(trace = v == "1")
      case (o, Array("--work", v)) => o.copy(work = v)
      case (o, Array("--jvm", v)) => o.copy(jvm = v)
      case (o, Array("--results", v)) => o.copy(results = v)
      case (o, Array("--selfcheck", "1")) => o.copy(selfcheck = true)
      case (_, a) => throw new IllegalArgumentException(s"bad arguments: ${a.mkString(" ")}")
    }

  def main(args: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val code =
      try {
        val o = parse(args)
        require(o.work.nonEmpty, "--work is required")
        if (!o.selfcheck) {
          require(Workloads.Names.contains(o.workload),
            s"--workload must be one of ${Workloads.Names.mkString(", ")}")
          require(o.seconds >= 1 && o.seconds <= 60, "--seconds must be 1..60")
        }
        val declared = Declared.load(Paths.get("BENCHMARK.json"))
        val spark = session(o.work)
        if (o.selfcheck) SelfCheck.run(spark, o, declared)
        else {
          val r = new Run(spark, o, declared, entryNs).result()
          r.save(Paths.get(o.results))
          r.print()
          if (r.failed > 0) 1 else 0
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"reconbench: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.err.flush()
    // Halting ends every thread of the Spark runtime at once; stopping the
    // session first took up to 15 s, and run.py removes the work directory.
    Runtime.getRuntime.halt(code)
  }

  def session(work: String): SparkSession = {
    val spark = Sessions.builder(s"local[$Slots]", ShufflePartitions)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
