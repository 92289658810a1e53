package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Cumulative counters at one instant: Spark scheduler totals from a
  * listener, and local-filesystem bytes from Hadoop's statistics. */
final case class Snap(
    nanos: Long, jobs: Long, stages: Long, tasks: Long, taskMs: Long,
    shuffleBytes: Long, spillBytes: Long, fsRead: Long, fsWritten: Long) {
  def -(o: Snap): Snap = Snap(nanos - o.nanos, jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, fsRead - o.fsRead, fsWritten - o.fsWritten)
  def seconds: Double = nanos / 1e9
}

/** Registers a listener on the session and reads consistent snapshots:
  * the listener bus is drained before every read, so every event of a
  * finished job is counted in the span that ran it. */
final class Counters(spark: SparkSession) {
  private val jobs, stages, tasks, taskMs, shuffle, spill = new AtomicLong
  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks.toLong)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
  })

  @annotation.nowarn("cat=deprecation")
  private def fs: (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  def snap(): Snap = {
    BusDrain(spark.sparkContext)
    val (r, w) = fs
    Snap(System.nanoTime(), jobs.get, stages.get, tasks.get, taskMs.get,
      shuffle.get, spill.get, r, w)
  }
}

/** One layer boundary crossed during the traced run. */
final case class Span(
    run: String, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, delta: Snap,
    extra: mutable.LinkedHashMap[String, Double])

/** Keeps spans in memory; `write` dumps them as JSON lines at the end. */
final class Tracer(run: String, counters: Counters) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var lastId = 0

  def span[T](name: String)(body: => T): (T, Span) = {
    lastId += 1
    val id = lastId
    val parent = stack.head
    stack = id :: stack
    val s0 = counters.snap()
    val out = try body finally stack = stack.tail
    val d = counters.snap() - s0
    val sp = Span(run, id, parent, name, s0.nanos, s0.nanos + d.nanos, d,
      mutable.LinkedHashMap.empty)
    spans += sp
    (out, sp)
  }

  def write(file: java.io.File): Unit = {
    val w = new java.io.PrintWriter(file)
    try spans.sortBy(_.id).foreach { s =>
      val d = s.delta
      val fields = Seq(
        "run" -> Json.str(s.run), "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "jobs" -> d.jobs.toString,
        "stages" -> d.stages.toString, "tasks" -> d.tasks.toString,
        "task_ms" -> d.taskMs.toString, "shuffle_bytes" -> d.shuffleBytes.toString,
        "spill_bytes" -> d.spillBytes.toString, "fs_read_bytes" -> d.fsRead.toString,
        "fs_written_bytes" -> d.fsWritten.toString) ++
        s.extra.map { case (k, v) => k -> Json.num(v) }
      w.println(Json.obj(fields))
    } finally w.close()
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
