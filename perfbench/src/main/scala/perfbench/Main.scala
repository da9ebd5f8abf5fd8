package perfbench

import java.nio.file.{Path, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What a workload needs: its options, the session and the recorders. */
final case class Ctx(workload: String, seed: Long, seconds: Int, root: Path, repo: Path,
    data: Path, spark: SparkSession, tracer: Tracer, jobs: JobRecorder,
    progress: ProgressRecorder, jvmStartMs: Double) {

  /** Let the listeners see every event posted so far. */
  def settle(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
}

/** What a workload measured. `e2e` holds the end-to-end metrics,
  * `layers` the per-layer ones (traced runs only) and `outputs` the
  * queries whose results wait under `out/` for the oracle check.
  */
final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    e2e: Map[String, Double], layers: Map[String, Double], outputs: Seq[String] = Nil)

/** JSON output of the harness's records. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** One benchmark run in one fresh JVM. `run.py` launches it with
  * `--workload --seed --seconds --trace --root --repo --result --spans`
  * and turns the result file into the benchmark's report line.
  * `--dump-oracle <file>` instead writes the engine queries' DuckDB
  * oracle statements for `make_digests.py`.
  */
object Main {
  val Workloads = Seq("fuel_live", "engine_stream")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    opt.get("dump-oracle").foreach { path =>
      val sql = graft.SparkEntry.oracleSql
      Json.mapper.writeValue(Paths.get(path).toFile, Engine.StreamQueries.map(n => n -> sql(n)).toMap)
      return
    }
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload (${Workloads.mkString(", ")})")
    val traced = need("trace") == "1"
    val repo = Paths.get(need("repo")).toAbsolutePath
    val tracer = new Tracer(traced)

    val spark = tracer.span("GraftSession.get")(graft.GraftSession.get())
    val jobs = new JobRecorder
    val progress = new ProgressRecorder
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    }
    val ctx = Ctx(workload, need("seed").toLong, need("seconds").toInt,
      Paths.get(need("root")).toAbsolutePath, repo, repo.resolve("perfbench/data/sf0.01"),
      spark, tracer, jobs, progress, jvmStartMs)

    val outcome = workload match {
      case "fuel_live" => FuelLive.run(ctx)
      case "engine_stream" => Engine.run(ctx, Engine.StreamQueries)
    }
    val layers =
      if (!traced) outcome.layers
      else outcome.layers ++ Seq(
        "setup.session_s" -> tracer.named("GraftSession.get").map(_.ms).sum / 1000.0,
        "setup.warmup_s" -> tracer.named("setup.warmup").map(_.ms).sum / 1000.0)
    if (traced) tracer.write(Paths.get(need("spans")))
    for ((k, v) <- outcome.e2e ++ layers) require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
    Json.mapper.writeValue(Paths.get(need("result")).toFile, Map(
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "failures" -> outcome.failures,
      "e2e" -> outcome.e2e,
      "layers" -> layers,
      "outputs" -> outcome.outputs))
    spark.stop()
    // Streaming and broker threads must not keep the JVM alive; exit
    // runs the engine's shutdown hooks, which sweep its scratch dirs.
    System.exit(0)
  }
}
