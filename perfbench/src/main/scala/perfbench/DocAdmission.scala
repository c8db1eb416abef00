package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.streaming.{AdmissionConfig, AdmissionDials, AdmissionPipeline, AdmissionTables,
  StreamingDedup, StreamingSemanticGate, StreamingSpanGate}

/** One admission batch with the verdict each doc was built to get. */
final case class AdmissionBatch(rows: Seq[Row], intended: Map[Long, String])

/** Composed document admission: `AdmissionPipeline.stageCorpus` over
  * the generated documents ⋈ embeddings during set-up, then
  * [[DocAdmission.Batches]] `AdmissionPipeline.processBatch` calls in a
  * closed loop (the next batch is sent when the previous verdicts are
  * delivered). The count is fixed, not bounded by `--seconds`: a batch
  * takes 3–4 s, so a timed loop ran 2 or 3 batches, and since the
  * batches differ in cost, the mix moved `items_per_s` by 40% between
  * two sets of runs of the same code.
  *
  * Each batch holds four seeded kinds of doc, built the way
  * `graft.tools.AdmissionPipelineSoak` builds them: verbatim corpus
  * text (lexical dup), 15 corpus tokens plus filler (span dup), filler
  * with a verbatim corpus embedding (semantic dup), and filler with a
  * sign-scrambled embedding (novel, absorbed into the corpus). */
final class DocAdmission(ctx: Ctx) extends Workload {
  import DocAdmission._
  private val spark: SparkSession = ctx.spark
  // 8 buckets for a 500-doc corpus: at the default 64 a batch is
  // almost all per-bucket task overhead (~10 s for 120 docs)
  private val cfg = AdmissionConfig(maxSpanPm = 50, minCos = 0.8, buckets = 8)
  private var corpus: Seq[(Long, String, Seq[Double])] = Nil
  private val verdicts = mutable.ArrayBuffer.empty[(AdmissionBatch, Map[Long, Seq[String]])]
  private var compactions = 0
  /** One staged table set per set-up repetition; the window uses the last. */
  private val staged = mutable.ArrayBuffer.empty[(AdmissionTables, AdmissionDials)]
  private def tables: AdmissionTables = staged.last._1

  /** Inputs: the generated documents ⋈ embeddings, staged into a
    * fresh set of posting tables. */
  def prepare(rep: Int): Unit = {
    val byName = DataGen.tables(Harness.BatchSf).map(t => t._1 -> t).toMap
    val docs = byName("documents")._3.map(r => r.getLong(0) -> r.getString(1)).toMap
    corpus = byName("embeddings")._3.flatMap { r =>
      docs.get(r.getLong(0)).map(t => (r.getLong(0), t, r.getSeq[Float](1).map(_.toDouble)))
    }
    val frame = spark.createDataFrame(corpus.map { case (id, t, v) => Row(id, t, v) }.asJava,
      BatchSchema)
    val t = AdmissionTables(s"adm_bands_$rep", s"adm_spans_$rep", s"adm_vecs_$rep")
    staged += ((t, AdmissionPipeline.stageCorpus(spark, frame.select("doc_id", "text"),
      frame.select("doc_id", "embedding"), t, cfg)))
  }

  /** One batch from a seed no window uses, against the first
    * repetition's tables, which the window does not read. */
  def warmUp(): Unit = {
    val (t, d) = staged.head
    AdmissionPipeline.processBatch(spark, batchFrame(DocAdmission.batch(corpus, -1 - ctx.seed, 0)),
      0L, t, d, s"${ctx.work}/warm-state", cfg).collect(): Unit
  }

  private def batchFrame(b: AdmissionBatch): DataFrame =
    spark.createDataFrame(b.rows.asJava, BatchSchema)

  def run(): Window = {
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Op]
    var docs = 0
    for (b <- 0 until Batches) {
      val batch = DocAdmission.batch(corpus, ctx.seed, b)
      val filesBefore = if (ctx.tracer.isDefined) postingFiles() else 0
      val (r, s) = Harness.timeS(scala.util.Try(ctx.call(s"admission-$b", "admission") {
        AdmissionPipeline.processBatch(spark, batchFrame(batch), b.toLong, tables, staged.last._2,
          s"${ctx.work}/admission-state", cfg).collect()
      }))
      if (ctx.tracer.isDefined && postingFiles() < filesBefore) compactions += 1
      r.foreach { rows =>
        verdicts += ((batch, rows.groupBy(_.getLong(0)).map { case (k, v) => k -> v.map(_.getString(1)).toSeq }))
      }
      ops += Op(s"batch-$b", s * 1000, r.isSuccess)
      docs += batch.rows.size
    }
    Window(ops.toSeq, docs.toDouble, (System.nanoTime() - t0) / 1e9)
  }

  private def postingFiles(): Int =
    Seq(tables.bands, tables.spans, tables.vectors).map(StreamingDedup.postingFileCount(spark, _)).sum

  /** Every doc gets exactly one verdict, and no verbatim lexical or
    * semantic duplicate is admitted. */
  def check(): Seq[String] = verdicts.toSeq.zipWithIndex.flatMap { case ((batch, got), b) =>
    val ids = batch.intended.keySet
    val missing = ids.filterNot(id => got.get(id).exists(_.size == 1))
    val extra = got.keySet -- ids
    val leaked = batch.intended.collect {
      case (id, k) if (k == Lexical || k == Semantic) && got.get(id).contains(Seq(AdmissionPipeline.Admit)) => id
    }
    if (missing.isEmpty && extra.isEmpty && leaked.isEmpty) None
    else Some(s"admission batch $b: ${missing.size} docs without exactly one verdict, " +
      s"${extra.size} unknown ids, ${leaked.size} verbatim duplicates admitted")
  }

  def layers(): Seq[(String, Double)] = {
    val tr = ctx.tracer.get
    val spans = tr.spans.filter(_.parent == "admission")
    val cs = spans.map(s => tr.counters(spark, s.name))
    // before the probes: absorbAdmitted below writes to the posting tables
    val files = postingFiles()
    // Split the gates by calling each probe on the first batches again
    // (after the window, against the corpus as it stands then).
    val probes = verdicts.take(ProbeBatches).toSeq.map { case (batch, _) =>
      val df = batchFrame(batch).localCheckpoint(true)
      val docs = df.select("doc_id", "text")
      def noop(d: DataFrame): Double = Harness.timeS(d.write.format("noop").mode("overwrite").save())._2
      Seq(
        noop(StreamingDedup.nearDupMatchesBucketed(docs, spark, tables.bands, cfg.p)),
        noop(StreamingSpanGate.admissionVerdicts(docs, spark, tables.spans, cfg.maxSpanPm, cfg.spanLen)),
        noop(StreamingSemanticGate.semanticMatches(df.select("doc_id", "embedding"), spark,
          tables.vectors, cfg.minCos, idCol = "doc_id", vecCol = "embedding",
          planes = cfg.planes, planeSets = cfg.planeSets)),
        noop(AdmissionPipeline.verdicts(spark, df, tables, cfg)),
        Harness.timeS(AdmissionPipeline.absorbAdmitted(spark,
          df.selectExpr("doc_id + 900000000000 AS doc_id", "text", "embedding"), tables, cfg))._2)
    }
    def probe(i: Int) = probes.map(_(i)).sum / math.max(1, probes.size)
    val agreement = verdicts.toSeq.flatMap { case (batch, got) =>
      batch.intended.map { case (id, k) => got.get(id).contains(Seq(k)) }
    }
    Seq(
      "StreamingDedup.probe_s" -> probe(0),
      "StreamingSpanGate.probe_s" -> probe(1),
      "StreamingSemanticGate.probe_s" -> probe(2),
      "AdmissionPipeline.verdicts_s" -> probe(3),
      "AdmissionPipeline.absorb_s" -> probe(4),
      "PostingCompaction.compactions" -> compactions.toDouble,
      "PostingCompaction.posting_files" -> files.toDouble,
      "admission.jobs" -> cs.map(_.jobs).sum.toDouble,
      "admission.stages" -> cs.map(_.stages).sum.toDouble,
      "admission.executor_cpu_s" -> cs.map(_.cpuNs).sum / 1e9,
      "admission.driver_gap_s" -> spans.zip(cs).map { case (s, c) =>
        Tracer.uncoveredMs(s.startMs, s.endMs, c.stageIntervals.toSeq) }.sum / 1000.0,
      "admission.verdict_agreement" -> agreement.count(identity).toDouble / math.max(1, agreement.size))
  }
}

object DocAdmission {
  /** Docs of each kind per batch (four kinds). */
  val PerKind = 30
  val Batches = 4
  val ProbeBatches = 1

  val Lexical: String = AdmissionPipeline.DupLexical
  val Span: String = AdmissionPipeline.DupSpan
  val Semantic: String = AdmissionPipeline.DupSemantic
  val Novel: String = AdmissionPipeline.Admit

  val BatchSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("embedding", ArrayType(DoubleType))))

  /** Batch `b` of the seeded stream. Filler tokens and sign patterns
    * are salted by seed and batch, so no batch repeats an earlier one. */
  def batch(corpus: Seq[(Long, String, Seq[Double])], seed: Long, b: Int): AdmissionBatch = {
    val r = new java.util.SplittableRandom(seed * 1000003L + b)
    def pick() = corpus(r.nextInt(corpus.size))
    def filler(id: Long, n: Int) = (1 to n).map(i => s"nv${id}b${b}s${seed}x$i").mkString(" ")
    val flips = Array.fill(64)(if (r.nextBoolean()) 1.0 else -1.0)
    def scrambled(v: Seq[Double], sign: Double) = v.zip(flips).map { case (x, f) => x * f * sign }
    val docs = Seq(Lexical, Span, Semantic, Novel).zipWithIndex.flatMap { case (kind, k) =>
      (0 until PerKind).map { i =>
        val (cid, text, vec) = pick()
        val id = (k + 1) * 10000000000L + b * 1000000L + i * 1000L + (cid % 1000)
        val row = kind match {
          case Lexical => Row(id, text, scrambled(vec, 1.0))
          case Span => Row(id, text.split(" ").take(15).mkString(" ") + " " + filler(id, 85),
            scrambled(vec, -1.0))
          case Semantic => Row(id, filler(id, 50), vec)
          case _ => Row(id, filler(id, 50), scrambled(vec, 1.0))
        }
        (row, id -> kind)
      }
    }
    AdmissionBatch(docs.map(_._1), docs.map(_._2).toMap)
  }
}
