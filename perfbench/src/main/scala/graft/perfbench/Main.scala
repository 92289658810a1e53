package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.Tuning

/** The ingest benchmark. One run:
  *
  *  1. set-up, three times: build a `local[cores]` session with
  *     `Tuning.configure`, then warm the poll path on a small tree of
  *     the same shape; `setup_s` is the median of the three;
  *  2. the measured run: a fresh tree from `--seed`, an empty state dir,
  *     one `PollDriver` polled through catch-up, warm, steady and idle
  *     phases, every poll checked against the generator's ledger;
  *  3. with `--trace 1`, a replay of the same seed on a fresh tree with
  *     a span around each layer call; its outputs must equal the
  *     untraced run's, and it reports the per-layer counters.
  *
  * The last stdout line is the JSON result. Everything the run writes
  * lives under `--work`.
  */
object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def session(cores: Int, work: File): SparkSession =
    Tuning.configure(SparkSession.builder(), cores)
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.graft.artifactsRoot", new File(work, "artifacts").getAbsolutePath)
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val work = new File(arg(args, "work")).getAbsoluteFile
    val out = new File(arg(args, "out")).getAbsoluteFile
    val shape = Shape.all.find(_.name == workload).getOrElse(
      throw new IllegalArgumentException(
        s"unknown workload $workload; known: ${Shape.all.map(_.name).mkString(", ")}"))
    val warm = 2
    val steady = math.max(5, math.round(seconds / shape.nominalPollS).toInt)
    val idle = 6

    // set-up: session + warm-up, repeated; the median is reported
    var spark: SparkSession = null
    var warmOk = true
    val setups = (0 until 3).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      val t1 = System.nanoTime()
      val w = new IngestRun(spark, shape, seed ^ 0x5eed, new File(work, s"setup$i"),
        small = true, tracer = None).run(warm = 0, steady = 0, idle = 0)
      warmOk &&= w.allOk
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    val sessionS = median(setups.map(_._1))
    val warmupS = median(setups.map(_._2))
    val setupS = median(setups.map(s => s._1 + s._2))
    println(f"[perfbench] $workload seed=$seed cores=$cores warm=$warm steady=$steady idle=$idle " +
      f"setups=${setups.map(s => f"${s._1}%.2f+${s._2}%.2f").mkString(",")} s")

    val t0 = System.nanoTime()
    val run = new IngestRun(spark, shape, seed, new File(work, "run"), small = false, None)
    val genS = (System.nanoTime() - t0) / 1e9
    println(f"[perfbench] generated ${run.generatedBytes / 1e6}%.1f MB in $genS%.2f s")
    run.run(warm, steady, idle)
    deleteTree(new File(work, "run/in"))

    val polls = run.results
    val failed = polls.count(!_.ok) + (if (warmOk) 0 else 1)
    val steadyPolls = run.phase("steady")
    val catchupS = run.phase("catchup").map(_.seconds).sum
    val pollP50 = median(steadyPolls.map(_.seconds))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("catchup_s", catchupS, "s"),
      ("poll_p50_s", pollP50, "s"),
      ("idle_poll_s", median(run.phase("idle").map(_.seconds)), "s"),
      // mean bytes per steady poll over the median steady poll, so one
      // slow poll does not swing it
      ("delivered_mb_per_s",
        steadyPolls.map(_.deliveredBytes).sum / 1e6 / steadyPolls.size / pollP50, "MB/s"))
    println(f"[perfbench] polls: catchup=${run.phase("catchup").size} " +
      f"warm=${run.phase("warm").size} steady=${steadyPolls.size} idle=${run.phase("idle").size}; " +
      f"error_ratio=${failed.toDouble / (polls.size + 1)}%.4f")
    println(f"[perfbench] off the clock: gc ${run.offClock}%.2f s, checks ${run.checkS}%.2f s")
    Seq("catchup", "warm", "steady", "idle").foreach(p => println(f"[perfbench] $p%-8s polls: " +
      run.phase(p).map(r => f"${r.seconds}%.3f").mkString(" ") + " s"))
    e2e.foreach { case (k, v, u) => println(f"[perfbench] $k%-20s $v%12.4f $u") }

    val (metrics, extraFailed, extraAttempted) =
      if (!trace) (e2e, 0, 0)
      else {
        val counters = new Counters(spark)
        val tracer = new Tracer(s"$workload-$seed", counters)
        val replay = new IngestRun(spark, shape, seed, new File(work, "replay"),
          small = false, Some(tracer)).run(warm, steady, idle)
        deleteTree(new File(work, "replay/in"))
        val same = replay.results.size == polls.size &&
          replay.results.zip(polls).forall { case (a, b) => a.delivered == b.delivered }
        if (!same) System.err.println("[perfbench] traced replay delivered other records")
        out.mkdirs()
        tracer.write(new File(out, s"spans-$workload-seed$seed.jsonl"))
        val l = replay.layer
        val delivered = replay.results.map(_.deliveredBytes).sum.toDouble
        val fetched = l("detect.changed_files")
        val overhead = replay.results.map(_.seconds).sum - polls.map(_.seconds).sum
        val perLayer = Seq(
          ("setup.session_s", sessionS, "s"),
          ("setup.warmup_s", warmupS, "s"),
          ("listing.s", l("listing.s"), "s"),
          ("listing.files", l("listing.files"), "count"),
          ("detect.s", l("detect.s"), "s"),
          ("detect.jobs", l("detect.jobs"), "count"),
          ("detect.changed_files", fetched, "count"),
          ("fetch_diff.s", l("fetch_diff.s"), "s"),
          ("fetch_diff.read_mb", l("fetch_diff.read_bytes") / 1e6, "MB"),
          ("fetch_diff.streamed_files", l("fetch_diff.streamed_files"), "count"),
          ("fetch_diff.read_amplification",
            if (delivered > 0) l("fetch_diff.read_bytes") / delivered else 0.0, "ratio"),
          ("fetch_diff.useful_ratio",
            if (fetched > 0) l("fetch_diff.useful_records") / fetched else 0.0, "ratio"),
          ("state.s", l("state.s"), "s"),
          ("state.rows", l("state.rows"), "count"),
          ("state.write_mb", l("state.write_bytes") / 1e6, "MB"),
          ("records.s", l("records.s"), "s"),
          ("records.count", l("records.count"), "count"),
          ("records.carry_rows", l("records.carry_rows"), "count"),
          ("poll.jobs", l("poll.jobs"), "count"),
          ("poll.stages", l("poll.stages"), "count"),
          ("poll.tasks", l("poll.tasks"), "count"),
          ("poll.task_s", l("poll.task_s"), "s"),
          ("poll.shuffle_mb", l("poll.shuffle_bytes") / 1e6, "MB"),
          ("trace.overhead_s", overhead, "s"))
        perLayer.foreach { case (k, v, u) => println(f"[perfbench] $k%-30s $v%14.4f $u") }
        (perLayer, replay.results.count(!_.ok) + (if (same) 0 else 1), replay.results.size + 1)
      }
    spark.stop()

    val attempted = polls.size + 1 + extraAttempted
    val allFailed = failed + extraFailed
    println(Json.obj(Seq(
      "correct" -> (allFailed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> allFailed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  private def deleteTree(f: File): Unit =
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
}
