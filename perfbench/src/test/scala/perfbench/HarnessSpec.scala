package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.operators.DedupOps

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val work: Path =
    Files.createTempDirectory(Files.createDirectories(Paths.get("target", "spec-tmp")), "perfbench-spec")
  private lazy val spark: SparkSession = Harness.session(work.toString)

  override def afterAll(): Unit = {
    spark.stop()
    Harness.rmrf(work.toFile)
  }

  private def topicFiles(seed: Long): Map[String, Seq[Byte]] = {
    val dir = Files.createTempDirectory(work, "topic")
    OrderGen.writeTopic(dir.toString, "orders", OrderGen.messages(seed, 400))
    Files.list(dir.resolve("orders")).iterator().asScala
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
  }

  test("the same seed writes byte-identical topic files and another seed does not") {
    val a = topicFiles(7)
    assert(a.keySet == Set("p0.log", "p1.log", "p2.log"))
    assert(topicFiles(7) == a)
    assert(topicFiles(8) != a)
  }

  test("the expected order table is the last row per key in partition order") {
    val msgs = OrderGen.messages(11, 400)
    val want = OrderGen.expectedTable(msgs)
    assert(want.size == msgs.flatMap(_.rows).map(r => (r("purchaseOrderId"), r("sku"))).distinct.size)
    val updated = msgs.filter(_.rows.nonEmpty).groupBy(_.key).filter(_._2.size > 1)
    assert(updated.nonEmpty, "the stream holds status updates")
    updated.foreach { case (_, ms) =>
      ms.last.rows.foreach(r => assert(want((r("purchaseOrderId"), r("sku"))) == r))
    }
  }

  /** Operator name -> occurrences, subqueries included. */
  private def operators(plan: LogicalPlan): Map[String, Int] =
    plan.collectWithSubqueries { case p => p.nodeName }.groupBy(identity).map { case (k, v) => k -> v.size }

  test("the timed plan keeps every operator of the result plan of q54 and q61") {
    val data = work.resolve("data").toString
    DataGen.write(spark, data, 0.001)
    val executed = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executed.synchronized(executed += qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // q61 stages read-through tables; keep them under this spec's directory
    try DedupOps.withStagingRoot(Some(work.resolve("stage").toString))(Seq(54, 61).foreach { q =>
      val df = SparkEntry.queries(BatchSuites.name(q))(spark, data)
      val result = df.queryExecution.optimizedPlan
      executed.synchronized(executed.clear())
      BatchSuites.produce(df)
      Tracer.drain(spark)
      val timed = executed.synchronized(executed.toList).map(_.optimizedPlan)
        .find(_.collectFirst { case p if p.nodeName == "CollectMetrics" => p }.nonEmpty)
        .getOrElse(fail(s"q$q: no timed write plan was executed"))
      val have = operators(timed)
      operators(result).foreach { case (op, n) =>
        assert(have.getOrElse(op, 0) >= n, s"q$q: the timed plan lost $op")
      }
      assert(result.isInstanceOf[Sort], s"q$q: the result plan ends in a Sort")
      assert(timed.collect { case s: Sort => s }.exists(_.sameResult(result)),
        s"q$q: the timed plan lost the final Sort")
    }) finally spark.listenerManager.unregister(listener)
  }
}
