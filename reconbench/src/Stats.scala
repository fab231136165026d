package reconbench

object Stats {
  /** Linear-interpolated quantile of an ascending sample (NaN when empty). */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = pos.toInt
      val hi = (lo + 1).min(sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)
}

/** A span recorded at one of the benchmark's own call boundaries: `id`
  * is shared by the spans of one micro-batch, serving read or pass.
  */
final case class Span(name: String, id: String, parent: Option[String],
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Span {
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** A `System.nanoTime` reading as epoch milliseconds, the clock of the
    * stream's progress reports.
    */
  def epochMs(nanoTime: Long): Double = nanoTime / 1e6 + epochOffsetMs
}

/** In-memory span buffer, written out when the run ends; it keeps nothing
  * in timed runs.
  */
final class Tracer(val on: Boolean) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Span]

  def add(s: Span): Unit = if (on) synchronized { buf += s }

  def spans: Seq[Span] = synchronized(buf.toList)

  /** Per-name self time in seconds: each span minus the part of its
    * interval covered by its children (same id, parent = its name).
    */
  def selfSeconds: Map[String, Double] = {
    val all = spans
    val kids = all.groupBy(s => (s.id, s.parent))
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = covering(kids.getOrElse((s.id, Some(s.name)), Nil), s)
        (s.durMs - covered) / 1000.0
      }.sum
    }
  }

  /** Length of the union of the children's intervals, clipped to `p`. */
  private def covering(children: Seq[Span], p: Span): Double = {
    var end = p.startMs
    var sum = 0.0
    for (c <- children.sortBy(_.startMs)) {
      val lo = math.max(c.startMs, end)
      val hi = math.min(c.endMs, p.endMs)
      if (hi > lo) { sum += hi - lo; end = hi }
    }
    sum
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val parent = s.parent.map(p => "\"" + p + "\"").getOrElse("null")
      f"""{"name": "${s.name}", "id": "${s.id}", "parent": $parent, "start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
