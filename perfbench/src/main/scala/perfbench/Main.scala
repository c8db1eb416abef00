package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** One benchmark run in a fresh JVM (launched by `perfbench/run.py`):
  *
  *   perfbench.Main --workload <name> --seed <n> --trace <0|1>
  *                  --work <dir> --bench-dir <dir> --out <file> --launched-ms <epoch ms>
  *
  * Set-up is timed apart from the window: JVM and session start, the
  * inputs (made [[SetupReps]] times; the median counts) and a warm-up. The
  * window's outputs are checked after it ends. The traced run
  * (`--trace 1`) registers the [[Tracer]] and reports per-layer
  * metrics instead of the end-to-end ones. The artifact goes to
  * `--out`; run.py prints the result line from it. */
object Main {
  val SetupReps = 3

  /** The benchmark's workloads, and the two full suites that together
    * run all 85 queries (the pinned results come from those). */
  val workloads: Map[String, Ctx => Workload] = Map(
    "batch_suites" -> (new BatchSuite(_, BatchSuites.core, staged = true)),
    "orders_stream" -> (new OrdersStream(_)),
    "doc_admission" -> (new DocAdmission(_)),
    "warehouse_sql_full" -> (new BatchSuite(_, BatchSuites.warehouse, staged = false)),
    "curation_staged_full" -> (new BatchSuite(_, BatchSuites.curation, staged = true)))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(workloads.contains(workload), s"unknown workload $workload")
    val traced = opt("trace") == "1"
    val work = opt("work")
    val launchedMs = opt("launched-ms").toLong
    Files.createDirectories(Paths.get(work))

    val spark = Harness.session(work)
    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, work, opt("bench-dir"), opt("seed").toLong, tracer)
    val w = workloads(workload)(ctx)
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1000.0
    val prepS = (0 until SetupReps).map(rep => Harness.timeS(w.prepare(rep))._2)
    val warmS = Harness.timeS(w.warmUp())._2

    val cpu0 = Harness.processCpuS
    val (window, _) = Harness.timeS(w.run())
    val cpuS = Harness.processCpuS - cpu0
    val failures = w.check()

    val attempted = window.ops.size
    val failedOps = window.ops.count(!_.ok)
    val failed = math.min(attempted, failedOps + failures.size)
    val lat = window.ops.map(_.ms)
    val endToEnd = Seq(
      "setup_s" -> (sessionS + Harness.median(prepS) + warmS),
      "wall_s" -> window.wallS,
      "cpu_s" -> cpuS,
      "ok_share" -> (attempted - failed).toDouble / attempted,
      "items_per_s" -> window.items / window.wallS,
      "op_p50_ms" -> Harness.median(lat),
      "op_p90_ms" -> Harness.percentile(lat, 0.9))
    val layers = if (traced) w.layers() :+ ("traced.wall_s" -> window.wallS) else Nil
    val (results, trace) = w match {
      case b: BatchSuite => (b.resultsByQuery.toSeq.sortBy(_._1).collect {
        case (q, Right(r)) => q -> r }.to(scala.collection.immutable.ListMap),
        if (traced) b.queryTrace() else Nil)
      case _ => (Map.empty, Nil)
    }

    val artifact = scala.collection.immutable.ListMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "traced" -> traced,
      "jvm" -> System.getProperty("java.vm.version"), "spark" -> spark.version,
      "cpus" -> graft.GraftSession.cpus,
      "setup" -> Map("session_s" -> sessionS, "prepare_s" -> prepS, "warm_up_s" -> warmS),
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures,
      "end_to_end" -> endToEnd.toMap, "per_layer" -> layers.toMap,
      "ops" -> window.ops, "results" -> results, "trace" -> trace,
      "spans" -> tracer.map(_.spans).getOrElse(Nil))
    Files.write(Paths.get(opt("out")), Harness.json(artifact).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
