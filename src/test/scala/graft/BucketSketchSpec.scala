package graft

import org.apache.spark.sql.functions._

import graft.functions.BucketSketch
import graft.operators.DedupOps

/** The bucket-count sketch (q79 verify prefilter) and its bound:
  * bucket_min_sum(sketch(a), sketch(b)) must upper-bound the true
  * distinct-intersection of the two hash arrays for EVERY input —
  * the prefilter's exact-recall guarantee rides on it. */
class BucketSketchSpec extends SparkSpec {
  import spark.implicits._

  test("min-sum bound >= true intersection on random arrays (property)") {
    val rnd = new scala.util.Random(79)
    // skewed domain so buckets collide hard: values in [0, 512)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(rnd.nextInt(80) + 1)(rnd.nextInt(512)).distinct)
    }
    val df = rows.toDF("doc_id", "hs")
      .select(col("doc_id"), col("hs"),
        BucketSketch.bucket_count_sketch(col("hs")).as("sk"))
    val pairs = df.as("a").join(df.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(
        BucketSketch.bucket_min_sum(col("a.sk"), col("b.sk")).as("ub"),
        size(array_intersect(col("a.hs"), col("b.hs"))).as("i"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getInt(0) >= r.getInt(1),
        s"bound ${r.getInt(0)} < true intersection ${r.getInt(1)}")
    }
  }

  test("sketch counts duplicates separately (bound only loosens)") {
    // two distinct shingles colliding on the same hash value appear as
    // duplicate ints; each must bump its bucket
    val df = Seq((1L, Array(5, 5, 5)), (2L, Array(5)))
      .toDF("doc_id", "hs")
      .select(BucketSketch.bucket_count_sketch(col("hs")).as("sk"))
    val sks = df.collect().map(_.getAs[Array[Byte]](0))
    val bucket = 5 & 63
    def cnt(sk: Array[Byte]) =
      ((sk(bucket * 2) & 0xff) << 8) | (sk(bucket * 2 + 1) & 0xff)
    assert(cnt(sks(0)) == 3)
    assert(cnt(sks(1)) == 1)
  }

  test("interpreted eval matches codegen") {
    // eval path via an aggregation boundary that blocks codegen is
    // hard to force; instead call nullSafeEval directly
    val hs = Array(1, 65, 129, 2, 3)
    val e = graft.functions.BucketCountSketch(
      org.apache.spark.sql.GraftShim.expression(lit(1)))
    val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(hs)
    val interp = e.nullSafeEval(arr).asInstanceOf[Array[Byte]]
    val viaDf = Seq(Tuple1(hs)).toDF("hs")
      .select(BucketSketch.bucket_count_sketch(col("hs")))
      .collect()(0).getAs[Array[Byte]](0)
    assert(interp.toSeq == viaDf.toSeq)
    // bucket 1 holds values 1, 65, 129 -> count 3
    assert(((interp(2) & 0xff) << 8 | (interp(3) & 0xff)) == 3)
  }

  /** Verified (doc_a, doc_b, jaccard) triples of a pair frame. */
  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** (doc_a, doc_b) candidate pairs of a candidate frame. */
  private def candSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Run `body` with the broadcast-prefilter ceiling forced to 0 docs
    * (every ceiling check then takes its past-ceiling branch). */
  private def pastCeiling[T](body: => T): T = {
    sys.props("graft.sketch.maxdocs") = "0"
    try body finally sys.props.remove("graft.sketch.maxdocs"): Unit
  }

  test("q79 prefilter is output-invariant (parity with the plain path)") {
    // sf0.01: the decade where q79 has verified pairs (25 at t=0.8).
    // The reference is the unfiltered candidate stage + exact verify;
    // both sketch-bound candidate paths must reject something and
    // verify to exactly the reference pair set.
    val dir = "/root/testdata/sf0.01"
    val t = DedupOps.prefixThreshold
    DedupOps.withStagingRoot(None) {
      val prefix = DedupOps.prefixTable(spark, dir, t)
      val sets = DedupOps.docSetsTable(spark, dir)
      val all = DedupOps.candidatesFrom(prefix, t).localCheckpoint(true)
      val plain = pairSet(DedupOps.verifyPrefixPairs(all, sets, t))
      assert(plain.nonEmpty, "expected verified pairs at sf0.01")
      val nAll = all.count()
      Seq("broadcast" -> DedupOps.candidatesSketchFiltered(prefix, sets, t),
          "carried" -> DedupOps.candidatesSketchCarried(prefix, t)).foreach {
        case (path, cand) =>
          val kept = cand.localCheckpoint(true)
          assert(kept.count() < nAll,
            s"$path prefilter must reject something: ${kept.count()} of $nAll kept")
          assert(pairSet(DedupOps.verifyPrefixPairs(kept, sets, t)) == plain,
            s"$path prefilter must not change the verified pair set")
      }
    }
    spark.catalog.clearCache()
  }

  test("bucketed sketch path (past the broadcast ceiling) is output-invariant") {
    // Past the ceiling q79 takes the carried path and the LSH verify
    // skips its broadcast prefilter, the bound then holding pairs back
    // inside the verify's bucket-aligned SMJ via the staged doc_sets
    // `sk` column (PERF §38/§44). Forcing the ceiling to 0 exercises
    // exactly those plans: q79 (staged, unstaged and the library
    // `prefixJaccardPairsOf`) and q22 must give the default plan's
    // pair sets.
    val dir = "/root/testdata/sf0.01"
    def q79() = pairSet(DedupOps.prefixJaccardPairs(spark, dir))
    def q79of() = pairSet(DedupOps.prefixJaccardPairsOf(
      graft.Tables.documents(spark, dir), DedupOps.prefixThreshold))
    def q22() = pairSet(DedupOps.jaccardVerify(spark, dir))
    val stageDir =
      java.nio.file.Files.createTempDirectory("graft_sketch_bucketed").toString
    val (refQ79, refQ22) = try DedupOps.withStagingRoot(Some(stageDir)) {
      // staged doc_sets must physically carry the sketch column
      assert(DedupOps.docSetsTable(spark, dir).columns.contains("sk"),
        "staged doc_sets must carry the sketch column")
      val ref = (q79(), q22())
      assert(ref._1.nonEmpty && ref._2.nonEmpty)
      pastCeiling {
        assert(q79() == ref._1, "staged past-ceiling q79 pair set must match")
        assert(q22() == ref._2, "staged past-ceiling q22 pair set must match")
      }
      ref
    } finally spark.catalog.clearCache()
    // unstaged: no staged sk column, the verify computes the sketch in
    // its scan stage; the persisted prefix frame carries its own sk
    DedupOps.withStagingRoot(None) {
      assert(q79() == refQ79 && q79of() == refQ79 && q22() == refQ22,
        "unstaged default-ceiling pair sets must match the staged ones")
      pastCeiling {
        assert(q79() == refQ79 && q79of() == refQ79 && q22() == refQ22,
          "unstaged past-ceiling pair sets must match the staged ones")
      }
    }
    spark.catalog.clearCache()
  }

  test("carried sketch path (enumeration-grain, ceiling-free) is output-invariant") {
    // r15 PERF §44: the prefix rows carry the 128 B sketch, so the
    // bound rejects at enumeration grain with no broadcast at all —
    // its candidate set must equal the broadcast prefilter's, staged
    // and unstaged.
    val dir = "/root/testdata/sf0.01"
    val t = DedupOps.prefixThreshold
    def parity(tag: String): Unit = {
      val prefix = DedupOps.prefixTable(spark, dir, t)
      assert(prefix.columns.contains("sk"), s"$tag prefix frame must carry the sketch column")
      val sets = DedupOps.docSetsTable(spark, dir)
      val carried = candSet(DedupOps.candidatesSketchCarried(prefix, t))
      val bcast = candSet(DedupOps.candidatesSketchFiltered(prefix, sets, t))
      val all = candSet(DedupOps.candidatesFrom(prefix, t))
      assert(carried == bcast,
        s"$tag carried enumeration filter must keep the broadcast path's candidate set")
      assert(carried.size < all.size,
        s"$tag carried filter must reject something: ${carried.size} of ${all.size}")
    }
    val stageDir =
      java.nio.file.Files.createTempDirectory("graft_sketch_carried").toString
    try DedupOps.withStagingRoot(Some(stageDir))(parity("staged"))
    finally spark.catalog.clearCache()
    DedupOps.withStagingRoot(None)(parity("unstaged"))
    spark.catalog.clearCache()
  }

  test("LSH verify prefilter (t=0.5) is output-invariant") {
    val dir = "/root/testdata/sf0.01"
    DedupOps.withStagingRoot(None) {
      val cand = DedupOps.lshCandidates(spark, dir).select("doc_a", "doc_b")
        .localCheckpoint(true)
      val sets = DedupOps.docSetsTable(spark, dir)
      val t = DedupOps.jaccardThreshold
      def out(c: org.apache.spark.sql.DataFrame) =
        DedupOps.verifyPrefixPairs(c, sets, t).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val plain = out(cand)
      val pruned = DedupOps.sketchPrefilterBare(cand, sets, t)
      assert(pruned.count() < cand.count(),
        "bare prefilter must reject something at t=0.5")
      assert(plain.nonEmpty && out(pruned) == plain,
        "bare prefilter must not change the LSH-verified pair set")
    }
    spark.catalog.clearCache()
  }
}
