package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, length, xxhash64}

import graft.ingest._

/** One ingest workload: the tree it starts from and the mutations it
  * applies before each steady poll. `small` is the warm-up variant. */
sealed trait Shape {
  def name: String
  def lineSplit: Boolean
  /** Rough duration of one steady poll on a 4-core machine; sets how
    * many polls fill the requested seconds. */
  def nominalPollS: Double
  def build(g: TreeGen, small: Boolean): (Seq[MonitoredPath], Seq[MonitoredPath])
  def mutate(g: TreeGen, small: Boolean): Unit
}

/** Many small CSV-like files in two update-mode and two tail-mode
  * dirs, about 1% of them mutated before each steady poll. */
object ManySmall extends Shape {
  val name = "ingest_many_small"
  val lineSplit = true
  val nominalPollS = 1.9
  private val update = Seq("upd_a", "upd_b")
  private val tail = Seq("tail_a", "tail_b")

  def build(g: TreeGen, small: Boolean): (Seq[MonitoredPath], Seq[MonitoredPath]) = {
    def specs(names: Seq[String], isTail: Boolean) = names.map { n =>
      val d = g.dir(n)
      (0 until (if (small) 4 else 300)).foreach(_ =>
        g.create(d, n, isTail, "csv", g.csvLines(g.between(12, 32))))
      MonitoredPath(d.getAbsolutePath + "/", isTail, n)
    }
    (specs(tail, isTail = true), specs(update, isTail = false))
  }

  private sealed trait Op
  private case object New extends Op
  private case object Append extends Op
  private case object Rewrite extends Op
  private case object Shrink extends Op
  private case object Touch extends Op
  private case object Delete extends Op
  /** Every batch has the same mix of mutation kinds; only the files
    * they hit and the bytes they write vary with the seed. */
  private val mix: Seq[Op] = Seq(New, Append, Rewrite, Shrink, Touch, Delete,
    Append, New, Rewrite, Append, Touch, Shrink, New, Rewrite, Append, Delete)

  def mutate(g: TreeGen, small: Boolean): Unit = {
    val live = g.files.filter(_.exists)
    val n = math.max(1, math.round(live.size * (if (small) 0.25 else 0.01)).toInt)
    // mutation i hits dir i % 4, so every kind lands in both modes
    val dirs = update ++ tail
    val picked = mutable.LinkedHashSet.empty[GenFile]
    while (picked.size < n) {
      val inDir = live.filter(_.topic == dirs(picked.size % dirs.size))
      picked += inDir(g.pick(inDir.size))
    }
    picked.zipWithIndex.foreach { case (f, i) =>
      mix(i % mix.size) match {
        case New =>
          g.create(g.dir(f.topic), f.topic, f.tail, "csv", g.csvLines(g.between(12, 32)))
        case Append => g.append(f, g.csvLines(g.between(1, 5)))
        case Rewrite => g.rewriteSameSize(f)
        case Shrink => g.shrink(f)
        case Touch => g.touch(f)
        case Delete => g.delete(f)
      }
    }
  }
}

/** A few large tail-mode logs, all appended before every steady poll;
  * one is above the inline-body cap, so it takes the streamed path. */
object AppendLogs extends Shape {
  val name = "ingest_append_logs"
  val lineSplit = false
  val nominalPollS = 2.1
  private val mib = 1 << 20

  def build(g: TreeGen, small: Boolean): (Seq[MonitoredPath], Seq[MonitoredPath]) = {
    val a = g.dir("logs_a")
    val b = g.dir("logs_b")
    if (small) {
      g.create(a, "logs_a", tail = true, "log", g.logBytes(mib))
      g.create(b, "logs_b", tail = true, "log", g.logBytes(mib))
    } else {
      g.createLarge(a, "logs_a", Listing.DefaultInlineBodyMax + mib)
      g.create(a, "logs_a", tail = true, "log", g.logBytes(4 * mib))
      g.create(b, "logs_b", tail = true, "log", g.logBytes(6 * mib))
      g.create(b, "logs_b", tail = true, "log", g.logBytes(8 * mib))
    }
    (Seq(MonitoredPath(a.getAbsolutePath + "/", tail = true, "logs_a"),
         MonitoredPath(b.getAbsolutePath + "/", tail = true, "logs_b")), Seq.empty)
  }

  /** Bytes appended per steady poll, split over the logs by the seed:
    * every poll delivers the same total, so the seed moves which log
    * grows by how much but not the delivered volume. */
  private val perPoll = 4 * mib

  def mutate(g: TreeGen, small: Boolean): Unit =
    if (small) g.files.foreach(f => g.append(f, g.logBytes(g.between(16 << 10, 64 << 10))))
    else {
      val share = perPoll / g.files.size
      val sizes = g.files.init.map(_ => g.between(share * 3 / 4, share * 5 / 4))
      (g.files zip (sizes :+ (perPoll - sizes.sum))).foreach { case (f, n) =>
        g.append(f, g.logBytes(n))
      }
    }
}

object Shape {
  val all: Seq[Shape] = Seq(ManySmall, AppendLogs)
}

/** Outcome of one poll. `seconds` covers mutation-applied to records
  * in the sink and state committed; the checks run after it. Delivered
  * paths are relative to the run's root, so two runs compare. */
final case class PollResult(
    phase: String, seconds: Double, delivered: Vector[Rec], ok: Boolean) {
  def deliveredBytes: Long = delivered.iterator.map(_.length.toLong).sum
}

/** Drives one ingest workload over a freshly generated tree and an
  * empty state dir, checking every poll against the generator's
  * ledger. Untraced, each poll is one `PollDriver.pollOnce`; traced,
  * the same poll is replayed from the layers' public calls with a span
  * around each. */
final class IngestRun(
    spark: SparkSession,
    shape: Shape,
    seed: Long,
    root: File,
    small: Boolean,
    tracer: Option[Tracer]) {
  import spark.implicits._

  root.mkdirs()
  private val stateDir = new File(root, "state").getAbsolutePath
  private val gen = new TreeGen(root, seed, shape.lineSplit, Listing.DefaultInlineBodyMax,
    TailDiff.DefaultMaxRecordBytes)
  private val (tailDirs, updateDirs) = shape.build(gen, small)

  /** Reference defaults for the caps and backoff; continuous polling. */
  val cfg: MonitorConfig = MonitorConfig(
    Map("refresh" -> "PT0S", "file.maxage" -> "P36500D") ++
      Seq("monitor.tail" -> tailDirs, "monitor.update" -> updateDirs).collect {
        case (k, ds) if ds.nonEmpty => k -> ds.map(d => s"${d.path}:${d.topic}").mkString(",")
      } ++
      (if (shape.lineSplit)
        Map("sourcerecordconverter" -> classOf[Records.LineSplitRecordConverter].getName)
      else Map.empty))

  private var delivered = Vector.empty[Rec]
  /** One pass over the served records: one digest row per record. */
  private val sink: Dataset[FileChangeRecord] => Unit = ds =>
    delivered = ds.select(col("topic"), col("path"), col("offset"),
        length(col("value")), xxhash64(col("value")))
      .collect()
      .map(r => Rec(r.getString(0), r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4)))
      .toVector

  private val pollDriver = new PollDriver(spark, cfg, stateDir, sink)

  val results = mutable.ArrayBuffer.empty[PollResult]
  /** Seconds spent off the clock: collecting garbage before each phase
    * (`offClock`) and checking each poll's outputs (`checkS`). */
  var offClock = 0.0
  var checkS = 0.0
  /** Per-layer counters summed over the traced polls. */
  val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)

  private def readState(): Set[StateRow] = {
    val dir = s"$stateDir/state.parquet"
    if (!GenSwap.hasParts(dir)) Set.empty
    else spark.read.parquet(dir)
      .select("path", "size", "timestamp", "hash").as[(String, Long, Long, String)]
      .collect().map((StateRow.apply _).tupled).toSet
  }

  private def poll(phase: String): Unit = {
    // a full GC off the clock at the start of each phase, so no phase
    // pays for the garbage of the one before it; within a phase every
    // poll does the same work, so the young collections spread evenly
    val g0 = System.nanoTime()
    if (!results.lastOption.exists(_.phase == phase)) System.gc()
    val t0 = System.nanoTime()
    offClock += (t0 - g0) / 1e9
    val n =
      try tracer.fold(pollDriver.pollOnce())(tracedPoll)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] ${shape.name} poll threw: $e")
          -1L
      }
    val sec = (System.nanoTime() - t0) / 1e9
    val got = delivered.sorted
    delivered = Vector.empty
    val want = gen.expectPoll(cfg.maxPollRecords)
    val state = readState()
    val wantState = gen.committedState
    val ok = n >= 0 && n == got.size && got == want && state == wantState
    if (!ok) {
      System.err.println(s"[perfbench] ${shape.name} poll ${results.size + 1} ($phase) " +
        s"FAILED: returned $n, delivered ${got.size} records, expected ${want.size}; " +
        s"state rows ${state.size}, expected ${wantState.size}")
      (got.diff(want).take(3).map("  unexpected " + _) ++
        want.diff(got).take(3).map("  missing " + _) ++
        (state -- wantState).take(3).map("  unexpected state " + _) ++
        (wantState -- state).take(3).map("  missing state " + _))
        .foreach(System.err.println)
    }
    if (lastDetected) layer("state.rows") += state.size
    val rootPath = root.getAbsolutePath
    results += PollResult(phase, sec, got.map(r => r.copy(path = r.path.stripPrefix(rootPath))), ok)
    checkS += (System.nanoTime() - t0) / 1e9 - sec
  }

  /** Catch-up from empty state until drained, then `warm` and `steady`
    * polls each after one batch of mutations, then `idle` polls with
    * none. Warm polls are checked like the others but left out of the
    * steady metrics: the first polls after a catch-up still run slower
    * while the JIT compiles the steady path. */
  def run(warm: Int, steady: Int, idle: Int): this.type = {
    var i = 0
    do { poll("catchup"); i += 1 } while (gen.hasPending && i < 1000)
    (0 until warm).foreach { _ => shape.mutate(gen, small); poll("warm") }
    (0 until steady).foreach { _ => shape.mutate(gen, small); poll("steady") }
    (0 until idle).foreach(_ => poll("idle"))
    gen.close()
    this
  }

  def phase(p: String): Seq[PollResult] = results.filter(_.phase == p).toSeq
  def allOk: Boolean = results.forall(_.ok)
  def generatedBytes: Long = gen.bytesWritten

  // ---- the traced replay of PollDriver.pollOnce ----

  private val carryPath = s"$stateDir/carryover.parquet"
  private val carryOldPath = s"$stateDir/carryover.old.parquet"
  private val statePath = s"$stateDir/state.parquet"
  private val stateOldPath = s"$stateDir/state.old.parquet"
  private val recordsPath = s"$stateDir/records.parquet"
  private val converter = cfg.converter
  /** Whether the last traced poll ran detection (and wrote state). */
  private var lastDetected = false

  private def dropCarry(): Unit =
    Seq(carryPath, carryOldPath).foreach { p =>
      val f = new File(p)
      if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
    }

  /** `PollDriver.pollOnce` with `Monitor.pollWithStateDirStaged`
    * inlined, in the same order, so each layer can be timed alone:
    * listing (listed once more, on its own), detect (the eager
    * `Monitor.poll`), fetch+diff (materializing its records), state
    * (the new-state write and its publish), records (converter, cap
    * split and carry spool) and the sink. */
  private def tracedPoll(t: Tracer): Long = {
    val now = System.currentTimeMillis()
    val maxAgeMs = cfg.maxAge.map(_.toMillis)
    var listed = Array.empty[(String, Long)]
    var detected = false
    val (n, pollSpan) = t.span("poll") {
      val carry = GenSwap.readable(carryPath, carryOldPath)
        .map(spark.read.parquet(_).as[FileChangeRecord])
      val haveCarry = carry.exists(_.take(1).nonEmpty)
      if (!haveCarry && GenSwap.readable(carryPath, carryOldPath).nonEmpty) dropCarry()
      var commit: () => Unit = () => ()
      val batch =
        if (haveCarry) carry.get
        else {
          detected = true
          val state = GenSwap.readable(statePath, stateOldPath) match {
            case Some(d) => spark.read.parquet(d).as[FileMetaData]
            case None => spark.emptyDataset[FileMetaData]
          }
          val (l, ls) = t.span("listing") {
            Listing.filterMaxAge(Listing.listAll(spark, cfg.dirs), maxAgeMs, now)
              .select("path", "size").as[(String, Long)].collect()
          }
          listed = l
          val (out, ds) = t.span("detect") {
            Monitor.poll(spark, cfg.dirs, state, maxAgeMs, cfg.maxFilesPerPoll, now)
          }
          ds.extra("self_s") = math.max(0.0, ds.delta.seconds - ls.delta.seconds)
          t.span("fetch_diff")(out.records.write.mode("overwrite").parquet(recordsPath))
          val tmp = s"$stateDir/state.tmp.parquet"
          t.span("state")(out.newState.write.mode("overwrite").parquet(tmp))
          out.cleanup()
          commit = () => GenSwap.publish(tmp, statePath, stateOldPath)
          val records =
            if (GenSwap.hasParts(recordsPath)) spark.read.parquet(recordsPath).as[FileChangeRecord]
            else spark.emptyDataset[FileChangeRecord]
          Records.applyConverter(records, converter)
        }
      val ((served, n, tail), _) = t.span("records") {
        val (head, tail) = Records.splitAt(batch, cfg.maxPollRecords.toLong)
        val served = head.cache()
        (served, served.count(), tail)
      }
      try {
        t.span("sink")(sink(served))
        t.span("records") {
          val drained = n < cfg.maxPollRecords || tail.take(1).isEmpty
          if (haveCarry && drained) dropCarry()
          else if (!drained) {
            val tmp = s"$stateDir/carryover.tmp.parquet"
            tail.write.mode("overwrite").parquet(tmp)
            GenSwap.publish(tmp, carryPath, carryOldPath)
          }
        }
        t.span("state")(commit())
      } finally served.unpersist()
      n
    }
    lastDetected = detected
    // counts read after the poll span, off its clock
    t.spans.filter(_.parent == pollSpan.id).foreach { s =>
      layer(s"${s.name}.s") += (if (s.name == "detect") s.extra("self_s") else s.delta.seconds)
      if (s.name == "detect") layer("detect.jobs") += s.delta.jobs
      if (s.name == "fetch_diff") layer("fetch_diff.read_bytes") += s.delta.fsRead
      if (s.name == "state") layer("state.write_bytes") += s.delta.fsWritten
    }
    val d = pollSpan.delta
    layer("poll.jobs") += d.jobs
    layer("poll.stages") += d.stages
    layer("poll.tasks") += d.tasks
    layer("poll.task_s") += d.taskMs / 1000.0
    layer("poll.shuffle_bytes") += d.shuffleBytes
    layer("records.count") += n
    if (GenSwap.hasParts(carryPath))
      layer("records.carry_rows") += spark.read.parquet(carryPath).count()
    if (detected) {
      layer("listing.files") += listed.length
      val spooled =
        if (!GenSwap.hasParts(recordsPath)) Array.empty[(String, Boolean)]
        else spark.read.parquet(recordsPath)
          .select(col("path"), length(col("value")) > 0).as[(String, Boolean)].collect()
      val paths = spooled.map(_._1).toSet
      layer("detect.changed_files") += paths.size
      layer("fetch_diff.useful_records") += spooled.count(_._2)
      layer("fetch_diff.streamed_files") +=
        listed.count { case (p, size) => paths(p) && size > Listing.DefaultInlineBodyMax }
    }
    n
  }
}
