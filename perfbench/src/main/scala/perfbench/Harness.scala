package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** One operation of a timed window: a query, a micro-batch or an
  * admission batch. A failed operation threw or failed its check. */
final case class Op(name: String, ms: Double, ok: Boolean)

/** What a workload's timed window produced: `items` of work (queries,
  * upserted rows, docs given a verdict) done in `wallS` seconds. */
final case class Window(ops: Seq[Op], items: Double, wallS: Double)

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val work: String, val benchDir: String,
                val seed: Long, val tracer: Option[Tracer]) {

  /** Runs `body` as a traced span when tracing, as a plain call
    * otherwise. */
  def call[T](name: String, parent: String)(body: => T): T =
    tracer.fold(body)(_.span(spark, name, parent)(body))
}

/** A benchmark workload: inputs, a timed window, output checks and
  * the per-layer metrics of the traced run. */
trait Workload {
  /** Makes this run's inputs. Called several times during set-up so
    * the set-up time is a median; the last call's output is used. */
  def prepare(rep: Int): Unit
  /** Runs once after the inputs exist, so the window does not pay the
    * JVM's first-use costs of the calls it times. */
  def warmUp(): Unit
  /** The timed window. */
  def run(): Window
  /** Checks the outputs after the window; returns failed operations. */
  def check(): Seq[String]
  /** Per-layer metrics, read after the window of a traced run. */
  def layers(): Seq[(String, Double)]
}

object Harness {
  /** Scale factor of the generated batch tables. */
  val BatchSf = 0.01

  /** The engine's session (`GraftSession.builder`, so every engine
    * setting and `SPARK_GRAFT_*` default applies) with its warehouse
    * and scratch space inside `work`. */
  def session(work: String): SparkSession = {
    val s = graft.GraftSession.builder("perfbench")
      .master(s"local[${graft.GraftSession.cpus}]")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def processCpuS: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Nearest-rank percentile (`p` in 0..1) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  /** Median of a non-empty sample: the middle value, or the mean of the
    * two middle values of an even-sized one. On the 12 operations of
    * batch_suites this spread 0.15–0.18 over ten seeds where the
    * nearest-rank 50th percentile, one query's time, spread 0.25. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete(): Unit
  }

  /** Minimal JSON rendering for the run artifact. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => " "; case c => c.toString
    } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => d.toString
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case p: Product => json(p.productElementNames.zip(p.productIterator).toSeq
      .to(scala.collection.immutable.ListMap))
    case x => json(x.toString)
  }
}

/** Loads the classes a benchmark run uses, once, in the JVM run.py
  * starts after a build to dump a class-data-sharing archive; every run
  * then maps that archive instead of loading and verifying the
  * engine's and Spark's classes again (~7 s less start-up per JVM on
  * 4 cores). Usage: `perfbench.ClassTraining <work dir>`. */
object ClassTraining {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Harness.session(work)
    val ctx = new Ctx(spark, work, work, 0L, None)
    try {
      DataGen.write(spark, s"$work/data", 0.001)
      BatchSuites.produce(graft.SparkEntry.queries(BatchSuites.name(BatchSuites.warmUpQuery))(
        spark, s"$work/data"))
      new OrdersStream(ctx).warmUp()
    } finally spark.stop()
  }
}
