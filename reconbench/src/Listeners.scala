package reconbench

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Every progress report of every query, kept by query id. */
final class ProgressLog extends StreamingQueryListener {
  private val byQuery = mutable.Map.empty[UUID, mutable.ArrayBuffer[StreamingQueryProgress]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { byQuery.getOrElseUpdate(e.progress.id, mutable.ArrayBuffer.empty) += e.progress }

  /** Reports of micro-batches that ran (idle-trigger reports carry no `addBatch`). */
  def batches(id: UUID): Seq[StreamingQueryProgress] =
    synchronized(byQuery.get(id).map(_.toList).getOrElse(Nil))
      .filter(_.durationMs.containsKey("addBatch"))
}

/** Jobs, tasks and shuffle bytes of the jobs a streaming query launched
  * (the stream thread tags each job with its query's id).
  */
final class JobCounter extends SparkListener {
  private val stageQuery = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val tasks = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val shuffle = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).foreach { q =>
      jobs(q) += 1
      e.stageIds.foreach(stageQuery(_) = q)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageQuery.get(e.stageId).foreach { q =>
      tasks(q) += 1
      Option(e.taskMetrics).foreach(m => shuffle(q) += m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def counts(queryId: UUID): (Long, Long, Long) = synchronized {
    val q = queryId.toString
    (jobs(q), tasks(q), shuffle(q))
  }
}
