package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import operators.{Dedup, Ivf, Similarity, SparseIndex, TrainPipeline}

/** Compile once: a warm composed pipeline reuses the whole-stage classes
  * its first call compiled. `GraftSession.build` sizes Spark's codegen
  * cache above the largest pipeline's class count and keeps stage ids out
  * of class names; the serve filters keep their ids out of the generated
  * source. Without the two confs a warm manifest compiles ~370 classes
  * again; with them but without the value-free filters a warm serve of
  * new queries still compiles 3.
  *
  * Compiles are the delta of Spark's JVM-wide compile histogram; suites
  * run one after another in the forked test JVM, so the delta is this
  * spec's own.
  */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def compiled[A](body: => A): (A, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = body
    (a, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("the test session carries the compile-once confs") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("in_set filters like isin, and new values reuse the compiled class") {
    val ids = spark.range(0, 64).select(col("id").cast("int").as("i"), col("id").as("l"))
    def kept(c: String, values: Seq[Long]): Set[Long] =
      ids.filter(gfunctions.in_set(col(c), values)).collect().map(_.getLong(1)).toSet
    // a value out of int range matches no int
    assert(kept("i", Seq(3L, 9L, 3000000000L)) == Set(3L, 9L))
    assert(kept("l", Seq(3L, 9L, 3000000000L)) == Set(3L, 9L))
    // other values, and another set size, in the same plans
    val (again, n) = compiled((kept("i", Seq(4L, 10L)), kept("l", Seq(1L, 2L, 5L, 6L, 7L))))
    assert(again == ((Set(4L, 10L), Set(1L, 2L, 5L, 6L, 7L))))
    assert(n == 0, s"new in_set values compiled $n classes")
  }

  /** A cold manifest compiles ~272 classes and, before compile-once, every
    * warm one ~300. A warm one still meets a few classes the cold one did
    * not: AQE re-plans as stages finish, and the finishing order decides
    * some join forms (an anti-join's broadcast side, say), so runs have
    * compiled 0-9. The bound sits above that spread and far below ~300.
    */
  test("warm TrainPipeline.manifest runs compile at most 20 classes each") {
    val docs = Tables.documents(spark, sf)
    val runs = (1 to 3).map(_ => compiled(TrainPipeline.manifest(docs).collect().length))
    info(s"compiles per run: ${runs.map(_._2).mkString(" / ")}")
    assert(runs.map(_._1).distinct.size == 1, "every run returns the same manifest")
    runs.tail.foreach { case (_, n) => assert(n <= 20, s"a warm manifest compiled $n classes") }
  }

  test("warm hybrid serves over never-served query ids compile nothing") {
    val dir = "/tmp/graft-test/codegen_reuse"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    val toked = Tables.documents(spark, sf)
      .select(col("doc_id"), gfunctions.ws_tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0).localCheckpoint()
    val vecs = Similarity.embVecs(Dedup.textEmbedMd5From(toked)).localCheckpoint()
    Ivf.writeIndex(vecs, Ivf.train(vecs, k = 8, dims = Dedup.TextEmbedDims), s"$dir/dense")
    SparseIndex.writeIndex(toked, s"$dir/sparse")
    val (tokRows, vecRows) = (toked.collect(), vecs.collect())
    // queries arrive as local rows, the way a serving client sends them
    def local(rows: Array[Row], like: DataFrame, ids: Set[Long]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.filter(r => ids(r.getLong(0))): _*), like.schema)
    val ids = tokRows.map(_.getLong(0)).sorted
    val serves = (0 until 3).map { i =>
      val qs = ids.slice(i * 8, i * 8 + 8).toSet
      compiled {
        val dense = Ivf.searchIndex(spark, s"$dir/dense", local(vecRows, vecs, qs), 10, 2)
        val (tfidf, bm25) =
          SparseIndex.sparseSearch2(spark, s"$dir/sparse", local(tokRows, toked, qs), 10)
        Similarity.rrfFuse(
          Seq(dense, tfidf, bm25).map(_.select("query_id", "neighbor_id", "rank")), 10)
          .collect().map(_.getLong(0)).toSet
      }
    }
    info(s"compiles per serve: ${serves.map(_._2).mkString(" / ")}")
    serves.zipWithIndex.foreach { case ((answered, _), i) =>
      assert(answered == ids.slice(i * 8, i * 8 + 8).toSet, s"serve ${i + 1} answers its queries")
    }
    serves.tail.foreach { case (_, n) => assert(n == 0, s"a warm serve compiled $n classes") }
  }
}
