package perfbench

import java.io.IOException
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** `engine_stream`: closed-loop passes of streaming-replay queries over
  * the bundled sf0.01 tables, one query at a time.
  *
  * Set-up runs every query once and writes its output for the
  * correctness check (`run.py` digests it against the DuckDB oracle).
  * The timed window then runs whole passes — each query built through
  * `SparkEntry.queries` and executed by a noop write — at least
  * [[MinPasses]], then more while the next pass is expected to fit in
  * `--seconds`.
  */
object Engine {

  /** `q_stream_neardup_star` runs two near-duplicate gate batches
    * whose candidate pairs `SigGate` resolves on the driver;
    * `q_stream_noop_replay` is the replay harness floor.
    */
  val StreamQueries: Seq[String] = Seq("q_stream_neardup_star", "q_stream_noop_replay")

  /** Timed passes always run. Each query reports its fastest pass:
    * noise on a shared host only ever adds time (CPU steal reached 22%
    * of a run), and a fresh JVM keeps getting faster over its first
    * warm executions.
    */
  val MinPasses = 7

  /** One timed execution; `resolves` counts the micro-batches the
    * driver-resolve fast paths took during it.
    */
  final case class Exec(name: String, startNs: Long, endNs: Long, resolves: Long) {
    def wallS: Double = (endNs - startNs) / 1e9
  }

  def run(ctx: Ctx, names: Seq[String]): Outcome = {
    val t = ctx.tracer
    val spark = ctx.spark
    val data = ctx.data.toString
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0

    val warmStartNs = Clock.nowNs
    for (n <- names) {
      attempted += 1
      try {
        val df = t.span("SparkEntry.queries", n)(SparkEntry.queries(n)(spark, data))
        t.span("write.parquet", n)(
          df.coalesce(1).write.mode("overwrite").parquet(ctx.root.resolve(s"out/$n").toString))
      } catch {
        case e: Throwable =>
          failures += s"$n threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          println(s"[check] FAILED $n: threw $e")
      }
    }
    val setupEndNs = Clock.nowNs
    t.record("setup.warmup", warmStartNs, setupEndNs)

    val ok = names.filterNot(n => failures.exists(_.startsWith(s"$n ")))
    val byName = passes(ok, minPasses = MinPasses, windowNs = ctx.seconds * 1000000000L) { n =>
      val df = t.span("SparkEntry.queries", n)(SparkEntry.queries(n)(spark, data))
      t.span("write.noop", n)(df.write.format("noop").mode("overwrite").save())
    }
    val heapMb = Mem.retainedMb()
    val scratchMb = Mem.scratchMb(ctx)
    attempted += byName.values.map(_.size).sum

    val bestS = best(ok, byName)
    println(s"[${ctx.workload}] " + ok.map(n =>
      s"$n=" + byName(n).map(e => f"${e.wallS}%.3f").mkString("/") + " s").mkString(" "))
    val e2e = Map(
      "setup_s" -> (setupEndNs / 1e6 - ctx.jvmStartMs) / 1000.0,
      "total_s" -> bestS.sum,
      "geomean_s" -> Stats.geomean(bestS),
      "heap_retained_mb" -> heapMb,
      "scratch_left_mb" -> scratchMb)
    val layers =
      if (!t.enabled) Map.empty[String, Double]
      else SparkLayers.over(ctx, byName.values.flatten.map(e => (e.startNs / 1e6, e.endNs / 1e6)).toSeq) ++
        queryLayers(ctx, ok, byName)
    Outcome(attempted, failures.size, failures.toSeq, e2e, layers, outputs = ok)
  }

  /** Closed-loop passes over `names`, one query at a time: at least
    * `minPasses`, then more while the next pass is expected to end
    * inside `windowNs` of the first one's start. Returns each query's
    * timed executions.
    */
  def passes(names: Seq[String], minPasses: Int, windowNs: Long)(
      exec: String => Unit): Map[String, Seq[Exec]] = {
    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val start = Clock.nowNs
    var done = 0
    var lastPassNs = 0L
    while (names.nonEmpty && (done < minPasses || Clock.nowNs - start + lastPassNs <= windowNs)) {
      val passStart = Clock.nowNs
      for (n <- names) {
        // Collect what the previous query released, so it is not billed
        // to this one.
        System.gc()
        val r = graft.perfbench.DriverResolve.count
        val s = Clock.nowNs
        exec(n)
        execs += Exec(n, s, Clock.nowNs, graft.perfbench.DriverResolve.count - r)
      }
      lastPassNs = Clock.nowNs - passStart
      done += 1
    }
    execs.toSeq.groupBy(_.name)
  }

  /** Each query's fastest wall time, in seconds, in `names` order. */
  def best(names: Seq[String], byName: Map[String, Seq[Exec]]): Seq[Double] =
    names.map(n => byName(n).map(_.wallS).min)

  /** Per query, medians over its timed executions: wall, jobs, the
    * driver gap between jobs and, for the replays, planning and commit
    * time and driver-resolved micro-batches.
    */
  def queryLayers(ctx: Ctx, names: Seq[String],
      byName: Map[String, Seq[Exec]]): Map[String, Double] = {
    ctx.settle()
    names.flatMap { n =>
      val es = byName.getOrElse(n, Nil)
      if (es.isEmpty) Nil
      else {
        val perExec = es.map { e =>
          val (from, to) = (e.startNs / 1e6, e.endNs / 1e6)
          val jobs = ctx.jobs.jobs(from, to)
          val busyMs = Stats.unionWithin(jobs.map(j => (j.startMs, j.endMs)), from.toLong, to.toLong)
          val ticks = ctx.progress.within(from, to)
          val planning = ticks.flatMap(Progress.phaseMs(_, "queryPlanning")).sum
          val commit = ticks.map(p => Progress.phaseMs(p, "walCommit").getOrElse(0.0) +
            Progress.phaseMs(p, "commitOffsets").getOrElse(0.0) + Progress.stateCommitMs(p)).sum
          (e.wallS, jobs.size.toDouble, e.wallS - busyMs / 1000.0, planning, commit, e.resolves.toDouble)
        }
        val base = Seq(
          s"q.$n.wall_s" -> Stats.median(perExec.map(_._1)),
          s"q.$n.jobs" -> Stats.median(perExec.map(_._2)),
          s"q.$n.gap_s" -> Stats.median(perExec.map(_._3)))
        if (!StreamQueries.contains(n)) base
        else base ++ Seq(
          s"q.$n.planning_ms" -> Stats.median(perExec.map(_._4)),
          s"q.$n.commit_ms" -> Stats.median(perExec.map(_._5)),
          s"q.$n.driver_resolves" -> Stats.median(perExec.map(_._6)))
      }
    }.toMap
  }
}

/** Workload-wide Spark counters over timed intervals (epoch ms): jobs
  * and tasks inside them, job busy time (the union of job intervals),
  * the driver gap (interval time − busy), shuffle writes and spills.
  */
object SparkLayers {
  def over(ctx: Ctx, intervals: Seq[(Double, Double)]): Map[String, Double] = {
    ctx.settle()
    val jobs = intervals.flatMap { case (from, to) => ctx.jobs.jobs(from, to) }.distinct
    val tasks = intervals.flatMap { case (from, to) => ctx.jobs.tasks(from, to) }
    val busyMs = intervals.map { case (from, to) =>
      Stats.unionWithin(jobs.map(j => (j.startMs, j.endMs)), from.toLong, to.toLong)
    }.sum
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.job_busy_s" -> busyMs / 1000.0,
      "spark.driver_gap_s" -> (intervals.map { case (f, t) => t - f }.sum - busyMs) / 1000.0,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spillBytes).sum.toDouble)
  }
}

/** Memory and disk a run leaves behind. */
object Mem {

  /** Heap in use after an explicit full collection, in MB. */
  def retainedMb(): Double = {
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    heap.getUsed / 1048576.0
  }

  /** MB under the run's scratch root (minus the harness's own
    * correctness outputs) plus the engine's tmpfs staging created since
    * the JVM started.
    */
  def scratchMb(ctx: Ctx): Double = {
    val out = ctx.root.resolve("out")
    val local = treeBytes(ctx.root, skip = _.startsWith(out))
    val shm = Paths.get("/dev/shm")
    val staged =
      if (!Files.isDirectory(shm)) 0L
      else list(shm).filter { p =>
        p.getFileName.toString.startsWith("graft") &&
          (try Files.getLastModifiedTime(p).toMillis >= ctx.jvmStartMs
           catch { case _: IOException => false })
      }.map(treeBytes(_, _ => false)).sum
    (local + staged) / 1048576.0
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator.asScala.toSeq finally s.close()
  }

  /** Bytes of the regular files under `root`; files that vanish while
    * it is walked (a stream still cleaning up) count as empty.
    */
  def treeBytes(root: Path, skip: Path => Boolean): Long =
    if (!Files.exists(root) || skip(root)) 0L
    else if (!Files.isDirectory(root)) (try Files.size(root) catch { case _: IOException => 0L })
    else (try list(root) catch { case _: IOException => Nil }).map(treeBytes(_, skip)).sum
}
