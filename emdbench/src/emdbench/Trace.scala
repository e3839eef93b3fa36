package emdbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from outside the program. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: spans nest by call stack and carry the id
  * of the operation they belong to; they are written once, at the end. */
final class Spans {
  val all = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = 0
  private var lastId = 0

  def newOp(): Unit = op += 1

  def apply[T](name: String)(body: => T): T = {
    lastId += 1
    val id = lastId
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      all += Span(id, name, parent, op, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def seconds(name: String): Seq[Double] = all.filter(_.name == name).map(_.seconds).toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Spark runtime and Catalyst counters for one operation. */
final class OpCounters {
  var jobs, tasks, taskFailures, actions = 0L
  var runNs, cpuNs, gcNs, fetchWaitNs, planNs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
}

/** Listener pair that credits every job, task and planned action to the
  * operation in flight. Events arrive on the listener bus thread;
  * [[Recorder.finish]] drains the bus before the counters are read. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile private var cur: OpCounters = null

  def start(): OpCounters = { val c = new OpCounters; cur = c; c }
  def finish(): Unit = {
    org.apache.spark.emdbench.BusBridge.drain(spark.sparkContext)
    cur = null
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = cur; if (c != null) c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = cur
    if (c != null) c.synchronized {
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcNs += m.jvmGCTime * 1000000L
        c.fetchWaitNs += m.shuffleReadMetrics.fetchWaitTime * 1000000L
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
      }
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val c = cur
    if (c != null) c.synchronized {
      c.actions += 1
      c.planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
}

object Recorder {
  def install(spark: SparkSession): Recorder = {
    val r = new Recorder(spark)
    spark.sparkContext.addSparkListener(r)
    spark.listenerManager.register(r)
    r
  }
}
