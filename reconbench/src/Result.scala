package reconbench

import java.nio.file.{Files, Path}

/** The metrics BENCHMARK.json declares, with their units: a run must
  * report exactly these, end-to-end ones when timed, per-layer when traced.
  */
final case class Declared(endToEnd: Map[String, String], perLayer: Map[String, String]) {
  def units(trace: Boolean): Map[String, String] = if (trace) perLayer else endToEnd
}

object Declared {
  def load(path: Path): Declared = {
    import org.json4s._
    implicit val formats: Formats = DefaultFormats
    val json = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(path), "UTF-8"))
    def units(key: String) = (json \ key).extract[List[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString).toMap
    Declared(units("end_to_end"), units("per_layer"))
  }
}

final case class Result(o: Opts, attempted: Long, gate: GateResult, metrics: Map[String, Double],
                        extra: Map[String, Double], input: Map[String, Double],
                        config: Map[String, String], series: Map[String, Seq[Double]],
                        units: Map[String, String]) {
  require(metrics.keySet == units.keySet,
    s"reported metrics differ from BENCHMARK.json: missing ${(units.keySet -- metrics.keySet).mkString(" ")}; " +
    s"undeclared ${(metrics.keySet -- units.keySet).mkString(" ")}")
  def failed: Long = gate.failed

  private def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"metric value $x is not a number")
    java.lang.Double.toString(x)
  }
  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
  private def strObj(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")

  def line: String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "${units(k)}"}""" }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }

  def print(): Unit = {
    println(s"reconbench config ${strObj(config)}")
    println(s"reconbench input ${obj(input)}")
    println(s"reconbench gate ${obj(gate.asMap)} failed_frac=${num(failed.toDouble / attempted)}")
    println(s"reconbench extra ${obj(extra)}")
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"reconbench $k%-34s ${num(v)} ${units(k)}") }
    println(line)
  }

  def save(dir: Path): Unit = {
    Files.createDirectories(dir)
    val body = s"""{"workload": "${o.workload}", "seed": ${o.seed}, "trace": ${o.trace}, """ +
      s""""config": ${strObj(config)}, "input": ${obj(input)}, "gate": ${obj(gate.asMap)}, """ +
      s""""extra": ${obj(extra)}, "series": ${series.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k": ${v.map(num).mkString("[", ", ", "]")}""" }.mkString("{", ", ", "}")}, "result": $line}"""
    Files.write(dir.resolve(s"${o.workload}-${o.seed}-trace${if (o.trace) 1 else 0}.json"),
      (body + "\n").getBytes("UTF-8"))
  }
}
