package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.DedupOps

/** Rows and order-insensitive content hash of one query result. */
final case class QueryResult(rows: Long, hash: String)

object BatchSuites {

  /** The module that owns each query, as `SparkEntry.queries` wires it. */
  val moduleOf: Map[Int, String] = (
    Seq(1, 2, 3, 4, 5, 6, 7, 30, 64, 67, 68, 70, 71, 72, 74, 75, 76, 77, 78).map(_ -> "RelationalOps") ++
    Seq(8, 9, 10, 11, 31, 65, 66).map(_ -> "WindowOps") ++
    Seq(12, 13, 14, 15, 16, 69).map(_ -> "EnrichOps") ++
    Seq(40, 41).map(_ -> "AsOfOps") ++
    Seq(34, 35, 36, 37).map(_ -> "WalmartOrderPipeline") ++
    Seq(38, 39).map(_ -> "OrderAnomalyDetector") ++
    Seq(17, 18, 19, 45, 46).map(_ -> "TextOps") ++
    Seq(20, 21, 22, 23, 24, 32, 42, 43, 44, 47, 60, 61, 62, 79).map(_ -> "DedupOps") ++
    Seq(25, 26, 27, 28, 33, 53, 59, 82, 83, 84, 85).map(_ -> "EmbeddingOps") ++
    Seq(48, 49, 50, 51, 52, 54, 55, 56, 57, 58, 63, 80, 81).map(_ -> "CorpusOps") ++
    Seq(29, 73).map(_ -> "Multimodal")).toMap

  /** The relational, window, stage-2 stats, CEP and TPC-H-shape queries. */
  val warehouse: Seq[Int] =
    (1 to 16) ++ Seq(30, 31) ++ (34 to 41) ++ (64 to 72) ++ (74 to 78)
  /** Text, dedup/ANN, embedding, corpus and multimodal queries: the rest. */
  val curation: Seq[Int] = (1 to 85).filterNot(warehouse.contains)

  /** The batch_suites workload: the costliest query of each module in
    * the full suites' per-query noop times (perfbench/NOTES.md). q68
    * and q54 are within 1% of q75 and q81 and stand for their modules;
    * q54 is one of the two queries the plan-fidelity test pins. All 85
    * take ~85 s a pass on 4 cores, more than a run can spend. */
  val core: Seq[Int] = Seq(34, 38, 40, 65, 68, 69) ++ Seq(28, 46, 54, 61, 73)
  /** Run in set-up so the first timed query does not pay the session's
    * first-query cost; not in [[core]]. */
  val warmUpQuery = 2

  val warehouseModules: Seq[String] = Seq("RelationalOps", "WindowOps", "EnrichOps",
    "AsOfOps", "WalmartOrderPipeline", "OrderAnomalyDetector")
  /** `Staging` is the `DedupOps.stageAll` call that precedes the queries. */
  val curationModules: Seq[String] = Seq("Staging", "TextOps", "DedupOps",
    "EmbeddingOps", "CorpusOps", "Multimodal")

  private lazy val names: Map[Int, String] =
    SparkEntry.queries.keys.map(k => k.drop(1).takeWhile(_ != '_').toInt -> k).toMap
  def name(q: Int): String = names(q)

  /** Every column of a result, with floating values rounded so the hash
    * does not depend on summation order in the last bits. */
  private def hashInputs(df: DataFrame): Seq[Column] = df.schema.fields.toSeq.map { f =>
    val c = col(s"`${f.name}`")
    f.dataType match {
      case DoubleType | FloatType => round(c, 6)
      case _: MapType => to_json(c)
      case _ => c
    }
  }

  private val observations = new java.util.concurrent.atomic.AtomicLong()

  /** The plan the benchmark times: the query's own result plan under an
    * observation that counts and hashes the rows it produces, written
    * to the `noop` sink. Every operator of the result plan runs,
    * including its final sort; nothing is collected to the driver. */
  def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation(s"perfbench_${observations.incrementAndGet()}")
    val h = xxhash64(hashInputs(df): _*)
    (df.observe(obs, count(lit(1)).as("rows"),
      sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi")), obs)
  }

  def produce(df: DataFrame): QueryResult = {
    val (timed, obs) = observed(df)
    timed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    def long(k: String): Long = Option(m(k)).map(_.toString.toLong).getOrElse(0L)
    QueryResult(long("rows"), f"${long("hi")}%x-${long("lo")}%x")
  }

  /** Pinned results: `expected/queries.tsv`, one `name rows hash` line
    * per query. */
  def expected(benchDir: String): Map[String, QueryResult] = {
    val f = java.nio.file.Paths.get(benchDir, "expected", "queries.tsv")
    if (!java.nio.file.Files.exists(f)) Map.empty
    else scala.io.Source.fromFile(f.toFile, "UTF-8").getLines()
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .map(_.split("\t")).map(a => a(0) -> QueryResult(a(1).toLong, a(2))).toMap
  }
}

/** A batch query suite over the generated tables: optionally
  * `DedupOps.stageAll` into a fresh staging directory, then each query
  * once, in query-number order, each producing its full result. The
  * window is one pass, whatever `--seconds` asks: a pass takes longer
  * than a run's seconds, and a second pass would reuse the first's
  * span names, so the traced counters could not tell them apart.
  *
  * The order is fixed, not drawn from the seed: the JIT's first-use
  * costs land on whichever query first runs a code path, and with a
  * seeded order the median query time spread 0.25 over ten seeds. */
final class BatchSuite(ctx: Ctx, queries: Seq[Int], staged: Boolean) extends Workload {
  import BatchSuites._
  private val spark: SparkSession = ctx.spark
  private val dataDir = s"${ctx.work}/data"
  private val results = mutable.LinkedHashMap.empty[String, Either[String, QueryResult]]
  private val stageChains = mutable.LinkedHashMap.empty[String, Double]

  def prepare(rep: Int): Unit = DataGen.write(spark, dataDir, Harness.BatchSf)

  def warmUp(): Unit = produce(SparkEntry.queries(name(warmUpQuery))(spark, dataDir)): Unit

  private def pass(): Seq[Op] = {
    val staging =
      if (!staged) Nil
      else {
        val (r, s) = Harness.timeS(scala.util.Try(ctx.call("Staging", "suite") {
          DedupOps.stageAll(spark, dataDir)
        }))
        r.foreach(stageChains ++= _)
        Seq(Op("stageAll", s * 1000, r.isSuccess))
      }
    staging ++ queries.sorted.map { q =>
      val nm = name(q)
      val (r, s) = Harness.timeS(scala.util.Try(ctx.call(nm, moduleOf(q)) {
        produce(SparkEntry.queries(nm)(spark, dataDir))
      }))
      results(nm) = r.toEither.left.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}")
      Op(nm, s * 1000, r.isSuccess)
    }
  }

  def run(): Window = {
    val (ops, wall) = Harness.timeS(
      if (staged) DedupOps.withStagingRoot(Some(s"${ctx.work}/stage"))(pass()) else pass())
    Window(ops, queries.size.toDouble, wall)
  }

  def check(): Seq[String] = {
    val pinned = expected(ctx.benchDir)
    results.toSeq.flatMap {
      case (_, Left(_)) => None // already a failed operation
      case (nm, Right(r)) => pinned.get(nm) match {
        case None => Some(s"$nm has no pinned result")
        case Some(p) if p != r => Some(s"$nm produced $r, pinned $p")
        case _ => None
      }
    }
  }

  def resultsByQuery: Map[String, Either[String, QueryResult]] = results.toMap

  def layers(): Seq[(String, Double)] = {
    val tr = ctx.tracer.get
    val spans = tr.spans
    val byModule = (warehouseModules ++ curationModules).map { m =>
      val mine = spans.filter(s => if (m == "Staging") s.name == "Staging" else s.parent == m)
      val cs = mine.map(s => tr.counters(spark, s.name))
      val rows = mine.flatMap(s => results.get(s.name).flatMap(_.toOption)).map(_.rows).sum
      m -> Seq(
        "wall_s" -> mine.map(_.wallS).sum,
        "cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
        "stages" -> cs.map(_.stages).sum.toDouble,
        "tasks" -> cs.map(_.tasks).sum.toDouble,
        "shuffle_bytes" -> cs.map(c => c.shuffleWriteBytes).sum.toDouble,
        "driver_gap_s" -> mine.zip(cs).map { case (s, c) =>
          Tracer.uncoveredMs(s.startMs, s.endMs, c.stageIntervals.toSeq) }.sum / 1000.0,
        "rows_out" -> rows.toDouble)
    }
    byModule.flatMap { case (m, kv) => kv.map { case (k, v) => s"$m.$k" -> v } }
  }

  /** Per-query counters for the trace file. */
  def queryTrace(): Seq[Map[String, Any]] = ctx.tracer.toSeq.flatMap { tr =>
    tr.spans.map { s =>
      val c = tr.counters(spark, s.name)
      Map[String, Any]("span" -> s.name, "parent" -> s.parent, "wall_s" -> s.wallS,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "executor_cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1000.0,
        "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "shuffle_read_bytes" -> c.shuffleReadBytes, "spill_bytes" -> c.spillBytes,
        "driver_gap_s" -> Tracer.uncoveredMs(s.startMs, s.endMs, c.stageIntervals.toSeq) / 1000.0,
        "rows_out" -> results.get(s.name).flatMap(_.toOption).map(_.rows).getOrElse(-1L))
    }
  } ++ Seq(Map[String, Any]("stage_chains_s" -> stageChains.toMap))
}
