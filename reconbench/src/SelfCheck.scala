package reconbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.CowTable

/** The benchmark checked at a tiny scale: every workload reports every
  * metric BENCHMARK.json names, with its unit, and fails nothing; and the
  * gate counts exactly one failure for a table missing one outcome row.
  */
object SelfCheck {
  val Seconds = 4

  def run(spark: SparkSession, o: Opts, declared: Declared): Int = {
    var failures = 0
    def check(ok: Boolean, what: String): Unit = {
      println(s"selfcheck ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }

    for (w <- Workloads.Names; trace <- Seq(false, true)) {
      val opts = o.copy(workload = w, seed = if (trace) 2 else 1, seconds = Seconds, trace = trace)
      val mode = if (trace) "traced" else "timed"
      // a Result holds exactly the declared metrics, or is not built
      val r = new Run(spark, opts, declared, System.nanoTime()).result()
      check(r.metrics.values.forall(v => !v.isNaN && !v.isInfinite),
        s"$w $mode: every declared metric reported with its unit, all finite")
      check(r.failed == 0, s"$w $mode: failed_frac = 0 (failed ${r.failed} of ${r.attempted})")
      if (!trace) {
        val plan = Workloads.plan(w, opts.seed, Seconds)
        val events = Gen.frame(spark, plan.events.toSeq)
        val run = Run.dir(opts)
        val table = Outcomes.real(CowTable.read(spark, run.resolve("timed/table").toString))
        val twin = CowTable.read(spark, run.resolve("twin").toString)
        val victim = table.filter(col("status") === "matched").select("a_id", "b_id").head()
        val g = Gate.check(
          table.filter(!(col("a_id") === victim.getLong(0) && col("b_id") === victim.getLong(1))),
          twin, events, 0, 0)
        check(g.failed == 1, s"$w: the gate counts one failure for one removed outcome row (counted ${g.failed})")
      }
    }
    println(s"selfcheck ${if (failures == 0) "passed" else s"failed ($failures)"}")
    if (failures == 0) 0 else 1
  }
}
