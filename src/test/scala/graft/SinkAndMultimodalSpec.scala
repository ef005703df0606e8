package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

class SinkAndMultimodalSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  import sources.{ParquetSink, SinkConfig}

  test("sink load is idempotent and overwrites only incoming partitions") {
    import spark.implicits._
    val cfg = SinkConfig(path = "/tmp/graft-test/sink")
    val day1 = Seq(
      (1L, "soap", 1000L, "2025-08-01", "tokopedia"),
      (2L, "tea", 2000L, "2025-08-01", "tokopedia"),
    ).toDF("id", "name", "price", "createdate", "platform")
    val day2 = Seq(
      (3L, "rice", 3000L, "2025-08-02", "tokopedia"),
    ).toDF("id", "name", "price", "createdate", "platform")

    ParquetSink.load(day1, cfg)
    ParquetSink.load(day2, cfg)
    assert(ParquetSink.read(spark, cfg).count() == 3, "two days coexist")

    // re-run day1 (the re-crawl): same state, no duplicates, day2 untouched
    ParquetSink.load(day1, cfg)
    val after = ParquetSink.read(spark, cfg)
    assert(after.count() == 3, "idempotent re-load")
    assert(after.filter(col("createdate") === "2025-08-02").count() == 1)

    // partition layout on disk: one dir per createdate
    val dirs = Files.list(Paths.get(s"${cfg.path}/${cfg.table}")).toArray.map(_.toString)
    assert(dirs.exists(_.contains("createdate=2025-08-01")))
    assert(dirs.exists(_.contains("createdate=2025-08-02")))

    // a re-crawl that CHANGED a row replaces its partition, not appends
    val day1v2 = Seq(
      (1L, "soap", 1500L, "2025-08-01", "tokopedia"),
    ).toDF("id", "name", "price", "createdate", "platform")
    ParquetSink.load(day1v2, cfg)
    val fin = ParquetSink.read(spark, cfg)
    assert(fin.filter(col("createdate") === "2025-08-01").count() == 1, "partition replaced")
    assert(fin.count() == 2)
  }

  test("sink reads prune partitions on createdate/platform filters") {
    import spark.implicits._
    val cfg = SinkConfig(path = "/tmp/graft-test/sink")
    // self-contained: (re)load day2 — idempotent per-partition overwrite
    ParquetSink.load(
      Seq((3L, "rice", 3000L, "2025-08-02", "tokopedia"))
        .toDF("id", "name", "price", "createdate", "platform"), cfg)
    val pruned = ParquetSink.read(spark, cfg).filter(col("createdate") === "2025-08-02")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("createdate"),
      s"createdate filter must prune partition directories:\n$plan")
    assert(pruned.count() == 1)
  }

  test("jdbc sink branch writes and reads back through a real JDBC database") {
    import spark.implicits._
    // In-memory Derby (ships with Spark for the Hive metastore) — a real
    // df.write.jdbc round-trip with zero egress. Same SinkConfig surface;
    // only jdbcUrl flips the backend.
    val cfg = SinkConfig(path = "unused",
      table = "tr_raw_scrap_data",
      jdbcUrl = Some("jdbc:derby:memory:graftsink;create=true"),
      // jdbcOptions flow into the writer: here, typed DDL so the database
      // gets VARCHAR (comparable, indexable) instead of Derby's CLOB
      // default for Spark strings.
      jdbcOptions = Map("createTableColumnTypes" ->
        "name VARCHAR(128), createdate VARCHAR(32), platform VARCHAR(32)"))
    val batch = Seq(
      (1L, "soap", 1000L, "2025-08-01", "tokopedia"),
      (2L, "tea", 2000L, "2025-08-01", "tokopedia"),
    ).toDF("id", "name", "price", "createdate", "platform")

    ParquetSink.load(batch, cfg)
    val back = ParquetSink.read(spark, cfg)
    assert(back.count() == 2)
    assert(back.filter(col("name") === "soap").select("price").collect()
      .head.getLong(0) == 1000L)

    // JDBC mode is the reference's append-only INSERT (re-run → new rows;
    // dedup is downstream, q27) — unlike the parquet mode's idempotent
    // partition overwrite.
    ParquetSink.load(batch, cfg)
    assert(ParquetSink.read(spark, cfg).count() == 4, "append semantics")
  }

  test("multimodal meta is computed without decoding and decode is batched") {
    import operators.Multimodal
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/mm", Seq(
      (1L, "hello world", "en", "s1", 11L),
      (2L, "spark streams binary blobs", "en", "s2", 26L),
    ))
    val blobs = Multimodal.withMeta(Multimodal.binarize(Tables.documents(spark, dir)))
    val m = blobs.select(col("doc_id"), col("meta.n_bytes"), col("meta.magic")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(m(1L)._1 == 4 + 11, "magic + utf8 payload length")
    assert(m(1L)._2 == "47465431", "GFT1 container sniffed from header")

    val feats = Multimodal.decodeFeatures(blobs).collect().map(f => f.doc_id -> f).toMap
    assert(feats.size == 2)
    assert(feats(1L).width >= 16 && feats(1L).height >= 16)
    // determinism: same payload, same fake features
    val again = Multimodal.decodeFeatures(blobs).collect().map(f => f.doc_id -> f).toMap
    assert(feats(1L) == again(1L) && feats(2L) == again(2L))
  }

  test("mm_binary_meta end-to-end returns per-source stats") {
    val df = operators.Multimodal.qBinaryMeta.run(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("source", "n_blobs", "total_bytes", "n_magics", "min_w", "max_h", "avg_luma"))
  }

  test("mm_meta_md5: blob checksum equals an independent MessageDigest over magic||utf8") {
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/mm-md5", Seq(
      (1L, "hello world", "en", "s1", 11L),
      (2L, "snowman ☃ bytes", "en", "s2", 14L),
    ))
    val got = operators.Multimodal.qMetaMd5.run(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3), r.getString(4)))).toMap
    def refMd5(text: String): String = {
      val bytes = "GFT1".getBytes("UTF-8") ++ text.getBytes("UTF-8")
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map(b => f"${b & 0xff}%02x").mkString
    }
    assert(got(1L) == ((15L, "47465431", refMd5("hello world"))))
    // multi-byte UTF-8: n_bytes counts BYTES (snowman is 3), not chars
    assert(got(2L) == ((4L + 17L, "47465431", refMd5("snowman ☃ bytes"))))
  }
  test("mm_frame_sample slices the frames an independent digest agrees on") {
    val body = (0 until 200).map(i => ('a' + i % 26).toChar).mkString // 200 ASCII bytes
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/frames", Seq(
      (1L, body, "en", "s", 200L),
      (2L, "tiny", "en", "s", 4L), // < one frame: emits nothing
    ))
    val got = operators.Multimodal.qFrameSample.run(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // 200 bytes = 3 full 64-byte frames; sampling every 4th keeps frame 0
    assert(got.keySet == Set((1L, 0L)), s"got ${got.keySet}")
    val md = java.security.MessageDigest.getInstance("MD5")
    val want = md.digest(body.substring(0, 64).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(got((1L, 0L)) == want, "frame checksum equals an independent digest")
  }

  test("mm_resize: non-image payloads take the stride fallback law, deterministically") {
    val dir = PlantedDocs.write(spark, "/tmp/graft-test/thumbs", Seq(
      (1L, "x" * 160, "en", "s", 160L),
      (2L, "", "en", "s", 0L),
    ))
    def run() = operators.Multimodal.qResize.run(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getBoolean(2), r.getInt(7), r.getString(8)))).toMap
    val run1 = run()
    // body 160 bytes, stride 8 -> ceil(160/8) = 20 sampled bytes
    assert(run1(1L)._1 == 164 && run1(1L)._3 == 20, s"got ${run1(1L)}")
    assert(!run1(1L)._2, "text payload is not an image")
    assert(run1(2L)._3 == 0, "empty body resizes to an empty thumb")
    assert(run1 == run(), "fallback resize is deterministic")
  }

  test("mm_resize decodes real PNGs and emits true box-filter thumbnails") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // 64x32: left half pure red, right half pure blue
    def png(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, px(x, y))))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val redBlue = png(64, 32, (x, _) => if (x < 32) 0xff0000 else 0x0000ff)
    val tallGreen = png(10, 40, (_, _) => 0x00ff00)
    val blobs = Seq(
      (1L, operators.Multimodal.Magic ++ redBlue),
      (2L, operators.Multimodal.Magic ++ tallGreen),
      (3L, operators.Multimodal.Magic ++ "definitely not a png".getBytes("UTF-8")),
    ).toDF("doc_id", "blob")
    val rows = operators.Multimodal.resizeThumbs(blobs).collect()
      .map(t => t.doc_id -> t).toMap
    // landscape 64x32 -> 16x8; portrait 10x40 -> 4x16; aspect preserved
    assert(rows(1L).decoded && rows(1L).orig_w == 64 && rows(1L).orig_h == 32)
    assert((rows(1L).thumb_w, rows(1L).thumb_h) == ((16, 8)), s"got ${rows(1L)}")
    assert(rows(1L).thumb_bytes == 16 * 8 * 3, "packed RGB bytes")
    assert(rows(2L).decoded && (rows(2L).thumb_w, rows(2L).thumb_h) == ((4, 16)))
    assert(!rows(3L).decoded, "garbage payload takes the fallback lane")
    // box-filter ground truth: halves stay pure under any box average
    val img1 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(redBlue))
    val px = operators.Multimodal.areaAverage(img1, 16, 8)
    def rgb(i: Int) = (px(i * 3) & 0xff, px(i * 3 + 1) & 0xff, px(i * 3 + 2) & 0xff)
    assert(rgb(0) == ((255, 0, 0)), "top-left thumb pixel is pure red")
    assert(rgb(15) == ((0, 0, 255)), "top-right thumb pixel is pure blue")
    val solid = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(tallGreen))
    val pxs = operators.Multimodal.areaAverage(solid, 4, 16)
    assert(pxs.grouped(3).forall(g =>
      (g(0) & 0xff, g(1) & 0xff, g(2) & 0xff) == ((0, 255, 0))),
      "solid image downscales to the same solid color")
    // determinism across replays (same decode, same integer filter)
    val again = operators.Multimodal.resizeThumbs(blobs).collect().map(t => t.doc_id -> t).toMap
    assert(again == rows, "real-codec resize is deterministic")
  }

  test("mm_resize planted-image lane: driver data carries BOTH decode outcomes, PNG geometry pinned") {
    import operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val rows = Multimodal.qResize.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getInt(6), r.getInt(7), r.getString(8)))
    val (dec, fall) = rows.partition(_._2)
    assert(dec.nonEmpty && fall.nonEmpty,
      s"driver data must show both decode outcomes (decoded=${dec.length}, fallback=${fall.length})")
    // exactly the planted lane decodes, with the generator's geometry and
    // the aspect-preserving thumbnail law
    assert(rows.count(_._1 % Multimodal.ImageEvery == 0L) == dec.length,
      "every planted PNG doc must decode; no other doc may")
    dec.foreach { case (id, _, w, h, tw, th, tb, _) =>
      assert(id % Multimodal.ImageEvery == 0L, s"non-planted doc $id decoded")
      val (ew, eh) = Multimodal.imageDims(id)
      assert((w, h) == ((ew, eh)), s"doc $id decoded geometry: got ($w,$h), want ($ew,$eh)")
      val etw = math.min(ew, Multimodal.ThumbMaxDim)
      val eth = math.max(1, eh * etw / ew) // landscape: 20..32 wide x 12..18 tall
      assert((tw, th) == ((etw, eth)), s"doc $id thumb geometry: got ($tw,$th), want ($etw,$eth)")
      assert(tb == tw * th * 3, s"doc $id packed RGB thumb bytes")
    }
    // thumb checksum ties the query row to an independent decode + box
    // filter of the same deterministic planted PNG
    val (id0, _, _, _, tw0, th0, _, md50) = dec.minBy(_._1)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(Multimodal.pngOf(id0)))
    val px = Multimodal.areaAverage(img, tw0, th0)
    val want = java.security.MessageDigest.getInstance("MD5")
      .digest(px).map(b => f"$b%02x").mkString
    assert(md50 == want, s"doc $id0 thumb md5 must match the independent box filter")
  }

  test("mm_features: decoded channel sums equal the pixel generator; fallback zeroes") {
    import operators.Multimodal
    val sf = "/root/testdata/sf0.001"
    val rows = Multimodal.qFeatures.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val (dec, fall) = rows.partition(_._2)
    assert(dec.nonEmpty && fall.nonEmpty, "both lanes must appear on driver data")
    assert(rows.count(_._1 % Multimodal.ImageEvery == 0L) == dec.length,
      "exactly the planted PNG lane decodes")
    fall.foreach { case (id, _, w, h, np, r, g, b) =>
      assert((w, h, np, r, g, b) == ((0, 0, 0L, 0L, 0L, 0L)), s"doc $id fallback must zero")
    }
    // every decoded row's exact integer channel sums must equal an
    // independent recomputation from the deterministic pixel generator
    dec.foreach { case (id, _, w, h, np, r, g, b) =>
      val (ew, eh) = Multimodal.imageDims(id)
      assert((w, h, np) == ((ew, eh, ew.toLong * eh)), s"doc $id geometry")
      var er = 0L; var eg = 0L; var eb = 0L
      for (y <- 0 until eh; x <- 0 until ew) {
        val p = Multimodal.pixelOf(id, x, y)
        er += (p >> 16) & 0xff; eg += (p >> 8) & 0xff; eb += p & 0xff
      }
      assert((r, g, b) == ((er, eg, eb)),
        s"doc $id channel sums: got ($r,$g,$b), want ($er,$eg,$eb)")
    }
  }
}

class CosineSimSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  private def ref(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  test("native cosine_sim matches a Scala reference implementation") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val pairs = Seq.fill(50)((Array.fill(64)(rnd.nextGaussian().toFloat), Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = pairs.toDF("a", "b").select(gfunctions.cosine_sim(col("a"), col("b")).as("sim"))
    val got = df.collect().map(_.getDouble(0))
    val want = pairs.map(p => ref(p._1, p._2))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-12) }
  }

  test("cosine_sim handles zero vectors and SQL registration") {
    val r = spark.sql("SELECT cosine_sim(array(CAST(0.0 AS FLOAT)), array(CAST(1.0 AS FLOAT)))").collect()
    assert(r.head.getDouble(0) == 0.0)
  }

  test("hashed_projection SQL builder rejects bad arity/dims with readable analysis errors") {
    // r16 ADVICE closure: the builder runs children(1).eval() at
    // resolution time, BEFORE checkInputDataTypes could — wrong arity
    // or a non-foldable/non-int/null dims must raise an
    // AnalysisException, not IndexOutOfBounds/ClassCast/NPE.
    val good = spark.sql("SELECT hashed_projection(array('a','b'), 8)").collect()
    assert(good.head.getSeq[Float](0).length == 8)
    def analysisError(sql: String): org.apache.spark.sql.AnalysisException =
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(sql).collect())
    assert(analysisError("SELECT hashed_projection(array('a'))")
      .getMessage.contains("hashed_projection"))
    assert(analysisError("SELECT hashed_projection(array('a'), 8, 9)")
      .getMessage.contains("hashed_projection"))
    // r17 ADVICE closure: the two dims failure modes raise DISTINCT
    // error classes — NON_FOLDABLE_ARGUMENT only for a genuinely
    // non-foldable dims; a foldable-but-wrong-type (or NULL-literal)
    // dims is a datatype mismatch, not a foldability problem.
    val nonFoldable = analysisError(
      "SELECT hashed_projection(array('a'), x) FROM (SELECT 8 AS x WHERE rand() < 2)")
    assert(nonFoldable.getCondition == "NON_FOLDABLE_ARGUMENT")
    assert(nonFoldable.getMessage.contains("hashed_projection"))
    val wrongType = analysisError("SELECT hashed_projection(array('a'), '8')")
    assert(wrongType.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE")
    assert(wrongType.getMessage.contains("hashed_projection"))
    assert(wrongType.getMessage.contains("STRING"))
    val nullDims = analysisError("SELECT hashed_projection(array('a'), CAST(NULL AS INT))")
    assert(nullDims.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE")
    assert(nullDims.getMessage.contains("hashed_projection"))
    // every kernel's builder runs the same guard: each bad call raises
    // its analysis error class instead of IndexOutOfBounds, ClassCast or
    // an unevaluable-expression INTERNAL_ERROR
    val v = "array(CAST(1.0 AS FLOAT))"
    val zeroShape = "DATATYPE_MISMATCH.TYPE_CHECK_FAILURE_WITH_HINT"
    Seq(
      ("cosine_sim", s"SELECT cosine_sim($v)", "WRONG_NUM_ARGS.WITHOUT_SUGGESTION"),
      ("pq_codes", s"SELECT pq_codes($v)", "WRONG_NUM_ARGS.WITHOUT_SUGGESTION"),
      ("nearest_centroid",
        s"SELECT nearest_centroid($v, $v, k, 1) FROM (SELECT 1 AS k WHERE rand() < 2)",
        "NON_FOLDABLE_ARGUMENT"),
      ("hyperplane_bands", s"SELECT hyperplane_bands($v, '4', 2, 1)",
        "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"),
      ("mat_vec", s"SELECT mat_vec($v, CAST(NULL AS ARRAY<FLOAT>), 1)",
        "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"),
      // a zero PQ shape is a type-check failure, not a division by zero
      ("pq_codes", s"SELECT pq_codes($v, $v, 0, 1)", zeroShape),
      ("pq_codes", s"SELECT pq_codes($v, $v, 1, 0)", zeroShape),
      ("pq_lut", s"SELECT pq_lut($v, $v, 0, 1)", zeroShape),
      ("pq_lut", s"SELECT pq_lut($v, $v, 1, 0)", zeroShape),
      ("pq_resid_codes", s"SELECT pq_resid_codes($v, 0, $v, $v, 0, 1)", zeroShape),
      ("pq_resid_codes", s"SELECT pq_resid_codes($v, 0, $v, $v, 1, 0)", zeroShape),
    ).foreach { case (name, sql, condition) =>
      val e = analysisError(sql)
      assert(e.getCondition == condition, sql)
      assert(e.getMessage.contains(name), sql)
    }
  }

  test("every kernel in the registration table resolves to the class its ExpressionInfo names") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}
    val kernels = GraftExtensions.kernels
    assert(kernels.size == 29 && kernels.map(_.name).distinct.size == 29)
    val registry = spark.sessionState.functionRegistry
    kernels.foreach { k =>
      val id = FunctionIdentifier(k.name)
      val info = registry.lookupFunction(id).getOrElse(fail(s"${k.name} not registered"))
      assert(info.getClassName == k.cls.getName, k.name)
      // a well-formed call: any expression for a column argument, a
      // literal of the declared type for a literal one
      val args = k.params.map(_.literal match {
        case Some(IntegerType) => Literal(1)
        case Some(ArrayType(FloatType, _)) => Literal(Array(1.0f))
        case Some(ArrayType(LongType, _)) => Literal(Array(1L))
        case _ => Literal(1L)
      })
      val built = registry.lookupFunctionBuilder(id).get(args)
      assert(built.getClass.getName == info.getClassName, k.name)
    }
  }

  test("cosine_sim runs inside WholeStageCodegen (no fallback)") {
    // a real scan (not a constant-foldable local relation) so the projection
    // must execute distributed, inside a codegen span
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val df = emb.select(gfunctions.cosine_sim(col("embedding"), col("embedding")).as("sim"))
    // "*(n)" prefixes in the simple plan string mark WholeStageCodegen spans;
    // the Project carrying cosine_sim must be starred (no CodegenFallback)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_sim"), s"expected codegen'd projection in:\n$plan")
    // self-similarity of a non-zero vector is exactly 1 through that path
    val sims = df.collect().map(_.getDouble(0))
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-9))
  }

}
