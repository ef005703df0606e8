package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Checkpoint-RECOVERY lifecycle for the stateful streams: every test runs
  * a real file source -> transform -> file sink pipeline with a durable
  * `checkpointLocation`, STOPS the query mid-stream (between micro-batches,
  * the only boundary a graceful stop has), RESTARTS it from the same
  * checkpoint, and pins:
  *
  *   (a) STATE RESTORATION — per-key state written before the stop drives
  *       emissions after the restart (a transition pairs across the stop, a
  *       rate-limit ring keeps its trailing counts, an SCD2 open interval
  *       closes with the pre-stop version counter, an exact-dup key is
  *       still known);
  *   (b) EXACTLY-ONCE OUTPUT — the file sink's _spark_metadata view of the
  *       output equals the batch fold over all events: nothing emitted
  *       before the stop duplicates, nothing is lost;
  *   (c) WATERMARK + EventTimeTimeout PERSISTENCE — the restored watermark
  *       drops behind-watermark arrivals after the restart, and a timeout
  *       timestamp set BEFORE the stop fires AFTER it once the watermark
  *       crosses (the key is never touched post-restart, so only the
  *       checkpointed timestamp can fire it).
  *
  * The suite's MemoryStream specs pin semantics within one query lifetime;
  * this spec pins the restart lifecycle those never exercise. Files are
  * written one per micro-batch (`maxFilesPerTrigger=1`) and each
  * `processAllAvailable()` drains before the next file is written, so
  * batch order — and therefore watermark progression — is deterministic.
  */
class StreamingRecoverySpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  import streaming.Streams
  import streaming.Streams.{RateEvent, Scd2Event, Scd2Rec, TransEvent, Transition}

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_recovery_$tag").toFile.getAbsolutePath

  /** One streamed run over the file source in `in`: start, drain, stop. */
  private def runOnce(build: DataFrame => DataFrame, in: String, out: String,
      ckpt: String, schema: org.apache.spark.sql.types.StructType,
      afterStart: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ()): Unit = {
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = build(src).writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()
    try { q.processAllAvailable(); afterStart(q) } finally q.stop()
  }

  /** Append one parquet file (= one micro-batch under maxFilesPerTrigger=1). */
  private def addFile(df: DataFrame, dir: String): Unit = {
    df.coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(15) // space file mtimes so the source's oldest-first order is stable
  }

  // ------------------------------------------------------ windowed profile

  test("windowedProfileStream: an open window's aggregate state spans a restart") {
    import spark.implicits._
    val in = tmp("prof_in"); val out = tmp("prof_out"); val ckpt = tmp("prof_ck")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts TIMESTAMP, event_type STRING, user_id BIGINT, value DOUBLE")
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def build(df: DataFrame): DataFrame = Streams.windowedProfileStream(df)

    // phase 1: two rows land in the hour-0 window (one null
    // event_type); the window stays OPEN — its partial aggregate row
    // exists only in the checkpointed state store
    addFile(Seq(
      (t(0, 10), "click", 7L, 1.5),
      (t(0, 40), null, 3L, 9.0)).toDF("ts", "event_type", "user_id", "value"), in)
    runOnce(build, in, out, ckpt, schema)

    // phase 2, same checkpoint: a third hour-0 row must MERGE into the
    // restored aggregate, then the watermark advance closes the window
    val src2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q2 = build(src2).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      addFile(Seq((t(0, 50), "view", 11L, 0.5))
        .toDF("ts", "event_type", "user_id", "value"), in)
      q2.processAllAvailable()
      addFile(Seq((t(6, 0), "click", 1L, 1.0))
        .toDF("ts", "event_type", "user_id", "value"), in)
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(out)
      .filter(col("window_start") === lit(t(0, 0)))
      .collect()
      .map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(got === Map(
      "event_type" -> ((3L, 1L, "click", "view")),
      "user_id" -> ((3L, 0L, "3", "11")),
      "value" -> ((3L, 0L, "0.5000", "9.0000"))),
      s"the closed hour-0 profile must fold rows from BOTH sides of the restart, got: $got")
  }

  test("windowedProfileStream recovery works under the RocksDB state store provider") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, GraftSession.RocksDbProvider)
    try {
      val in = tmp("profr_in"); val out = tmp("profr_out"); val ckpt = tmp("profr_ck")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "ts TIMESTAMP, event_type STRING, user_id BIGINT, value DOUBLE")
      def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      def build(df: DataFrame): DataFrame = Streams.windowedProfileStream(df)

      addFile(Seq((t(0, 10), "click", 7L, 1.5))
        .toDF("ts", "event_type", "user_id", "value"), in)
      var engaged = false
      runOnce(build, in, out, ckpt, schema, q => {
        val custom = q.lastProgress.stateOperators(0).customMetrics
        engaged = custom.keySet().iterator().asScala.exists(_.startsWith("rocksdb"))
      })
      assert(engaged, "RocksDB provider must actually back the window aggregate")

      // the open hour-0 aggregate must come back out of RocksDB files
      addFile(Seq((t(0, 40), "view", 3L, 0.5))
        .toDF("ts", "event_type", "user_id", "value"), in)
      val src2 = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q2 = build(src2).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        addFile(Seq((t(6, 0), "click", 1L, 1.0))
          .toDF("ts", "event_type", "user_id", "value"), in)
        q2.processAllAvailable()
      } finally q2.stop()

      val got = spark.read.parquet(out)
        .filter(col("window_start") === lit(t(0, 0)))
        .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getString(4), r.getString(5))))
        .toMap
      assert(got === Map(
        "event_type" -> ((2L, "click", "view")),
        "user_id" -> ((2L, "3", "7")),
        "value" -> ((2L, "0.5000", "1.5000"))),
        s"RocksDB-backed window state must bridge the restart, got: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // ---------------------------------------------------------- transitions

  test("transitionStream recovers last-seen state, watermark, and timeout across restart") {
    import spark.implicits._
    val in = tmp("trans_in"); val out = tmp("trans_out"); val ckpt = tmp("trans_ck")
    val enc = implicitly[org.apache.spark.sql.Encoder[TransEvent]]
    def build(df: DataFrame): DataFrame =
      Streams.transitionStream(df.as[TransEvent], idleTimeout = "1 hour").toDF()

    val h = 3600000L
    // base > 0: the engine's late filter drops rows at or behind the initial
    // watermark (epoch 0), so epoch-0 test events would never reach the fold
    val t0 = 86400000L
    // phase 1: u1 A -> B +60s (emits A->B); u2 X (no emission yet);
    // u9 A@t0 — will idle out via the timeout set HERE (t0 + 1h)
    addFile(Seq(
      TransEvent(1L, 1L, t0, "A"), TransEvent(1L, 2L, t0 + 60000L, "B"),
      TransEvent(2L, 3L, t0 + 60000L, "X"), TransEvent(9L, 4L, t0, "A")).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)

    // phase 2, same checkpoint: pairs must bridge the restart
    val q2src = spark.readStream.schema(enc.schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q2 = build(q2src).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // (a) state restored: C pairs with the pre-stop B, Y with the pre-stop X
      addFile(Seq(
        TransEvent(1L, 5L, t0 + 120000L, "C"), TransEvent(2L, 6L, t0 + 120000L, "Y")).toDF(), in)
      q2.processAllAvailable()
      // (c) watermark advance to t0+5h; the engine's post-advance timeout pass
      // evicts u9 (timeout ts t0+1h was set before the stop — only the
      // checkpoint can carry it here)
      addFile(Seq(TransEvent(8L, 7L, t0 + 5L * h, "W")).toDF(), in)
      q2.processAllAvailable()
      // u9 returns after the idle horizon: evicted state => first event again,
      // NO A->B transition spanning the idle gap may emit
      addFile(Seq(TransEvent(9L, 8L, t0 + 5L * h + 60000L, "B")).toDF(), in)
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.schema(implicitly[org.apache.spark.sql.Encoder[Transition]].schema)
      .parquet(out).as[Transition].collect().toSet
    assert(got == Set(
      Transition(1L, 2L, "A", "B", 60000L),
      Transition(1L, 5L, "B", "C", 60000L),
      Transition(2L, 6L, "X", "Y", 60000L)),
      s"expected exactly the three bridged transitions and no u9 idle-gap pair, got: $got")
  }

  // ----------------------------------------------------------- sessions

  test("sessionizeStream closes a pre-stop open session with restored state after restart") {
    import spark.implicits._
    import streaming.Streams.{SessEvent, SessionRec}
    val in = tmp("sess_in"); val out = tmp("sess_out"); val ckpt = tmp("sess_ck")
    val enc = implicitly[org.apache.spark.sql.Encoder[SessEvent]]
    def build(df: DataFrame): DataFrame =
      Streams.sessionizeStream(df.as[SessEvent]).toDF()

    val t0 = 86400000L
    val h = 3600000L
    // phase 1: u1 two events 60s apart, u2 one event — both sessions stay
    // OPEN (nothing emits); the open-session state (start, end, n, next_id)
    // exists only in the checkpoint at the stop
    addFile(Seq(
      SessEvent(1L, 1L, t0), SessEvent(1L, 2L, t0 + 60000L),
      SessEvent(2L, 3L, t0)).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)
    assert(!new java.io.File(out).exists() ||
      spark.read.parquet(out).count() == 0L,
      "no session may close before a gap-proving event arrives")

    // phase 2, same checkpoint: u2 extends within the gap (n must reach 2 —
    // counting the PRE-STOP event), then both users gap out: the closed
    // sessions' start/end/n are reconstructible only from restored state
    addFile(Seq(SessEvent(2L, 4L, t0 + 120000L)).toDF(), in)
    addFile(Seq(SessEvent(1L, 5L, t0 + 2 * h), SessEvent(2L, 6L, t0 + 2 * h)).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)

    val got = spark.read.schema(implicitly[org.apache.spark.sql.Encoder[SessionRec]].schema)
      .parquet(out).as[SessionRec].collect().toSet
    assert(got == Set(
      SessionRec(1L, 1L, 2L, t0, t0 + 60000L),
      SessionRec(2L, 1L, 2L, t0, t0 + 120000L)),
      s"expected both pre-stop sessions closed once each with restored fold state, got: $got")
  }

  // ------------------------------------------- exact-fold rate limiting

  test("rateLimitStream (exact fold) recovers the timestamp-list state and drops late rows") {
    import spark.implicits._
    val in = tmp("rate_in"); val out = tmp("rate_out"); val ckpt = tmp("rate_ck")
    val enc = implicitly[org.apache.spark.sql.Encoder[RateEvent]]
    def build(df: DataFrame): DataFrame =
      Streams.rateLimitStream(df.as[RateEvent]).toDF()

    val m = 60000L
    val t0 = 86400000L // base > 0: epoch-0 rows die on the initial watermark
    // phase 1: u1 fires 7 events a minute apart -> events 6 and 7 violate
    // (n_24h = 6, 7); the timestamp-list state holds 7 entries at the stop
    addFile((1 to 7).map(i => RateEvent(1L, i.toLong, t0 + (i - 1) * m)).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)

    // phase 2: one more u1 event -> n_24h = 8 REQUIRES the restored list (a
    // fresh fold would count 1); u3's same-ts burst sits behind the restored
    // watermark (t0 + 6 min) and must be engine-dropped before the fold —
    // 6 events at one ts would otherwise emit n_24h = 6 violations
    addFile((Seq(RateEvent(1L, 8L, t0 + 7 * m)) ++
      (1 to 6).map(i => RateEvent(3L, 100L + i, t0 - m))).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)

    val got = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[Streams.RateViolation]].schema)
      .parquet(out).as[Streams.RateViolation].collect().toSet
    assert(got == Set(
      Streams.RateViolation(1L, 6L, t0 + 5 * m, 6L),
      Streams.RateViolation(1L, 7L, t0 + 6 * m, 7L),
      Streams.RateViolation(1L, 8L, t0 + 7 * m, 8L)),
      s"expected pre-stop violations once each + the list-restored n_24h=8, got: $got")
  }

  // ------------------------------------------------------ rate-limit ring

  test("rateLimitRingStream recovers ring counts and restored watermark drops late rows") {
    import spark.implicits._
    val in = tmp("ring_in"); val out = tmp("ring_out"); val ckpt = tmp("ring_ck")
    val enc = implicitly[org.apache.spark.sql.Encoder[RateEvent]]
    def build(df: DataFrame): DataFrame =
      Streams.rateLimitRingStream(df.as[RateEvent]).toDF()

    val m = 60000L
    val t0 = 86400000L // base > 0: epoch-0 rows die on the initial watermark
    // phase 1: u1 fires 7 events a minute apart -> events 6 and 7 violate
    // (n_24h = 6, 7); the ring holds 7 in-window counts at the stop
    addFile((1 to 7).map(i => RateEvent(1L, i.toLong, t0 + (i - 1) * m)).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)

    // phase 2: one more u1 event -> n_24h = 8 REQUIRES the restored ring
    // (a fresh ring would count 1: no violation); u3's burst sits entirely
    // behind the restored watermark (t0 + 6 min) and must be engine-dropped —
    // 6 same-ts events would otherwise violate with n_24h = 6
    addFile((Seq(RateEvent(1L, 8L, t0 + 7 * m)) ++
      (1 to 6).map(i => RateEvent(3L, 100L + i, t0 - m))).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)

    val got = spark.read
      .schema(implicitly[org.apache.spark.sql.Encoder[Streams.RateViolation]].schema)
      .parquet(out).as[Streams.RateViolation].collect().toSet
    assert(got == Set(
      Streams.RateViolation(1L, 6L, t0 + 5 * m, 6L),
      Streams.RateViolation(1L, 7L, t0 + 6 * m, 7L),
      Streams.RateViolation(1L, 8L, t0 + 7 * m, 8L)),
      s"expected pre-stop violations once each + the ring-restored n_24h=8, got: $got")
  }

  // ----------------------------------------------------------------- scd2

  test("scd2Stream recovers the open interval (state + version counter) across restart") {
    import spark.implicits._
    val in = tmp("scd2_in"); val out = tmp("scd2_out"); val ckpt = tmp("scd2_ck")
    val enc = implicitly[org.apache.spark.sql.Encoder[Scd2Event]]
    def build(df: DataFrame): DataFrame = Streams.scd2Stream(df.as[Scd2Event]).toDF()

    // phase 1: new@0 -> active@100 closes v1; open interval = (v2, active, 100)
    addFile(Seq(
      Scd2Event(1L, 1L, 0L, "new"), Scd2Event(1L, 2L, 100L, "active")).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)

    // phase 2: churned@200 must close (v2, active, 100, 200) — version and
    // since_ms only exist in the checkpointed state
    addFile(Seq(Scd2Event(1L, 3L, 200L, "churned")).toDF(), in)
    runOnce(build, in, out, ckpt, enc.schema)

    val got = spark.read.schema(implicitly[org.apache.spark.sql.Encoder[Scd2Rec]].schema)
      .parquet(out).as[Scd2Rec].collect().toSet
    assert(got == Set(
      Scd2Rec(1L, 1L, "new", 0L, 100L),
      Scd2Rec(1L, 2L, "active", 100L, 200L)),
      s"expected v1 emitted once and v2 closed with restored state, got: $got")
  }

  // ------------------------------------------- stream-stream join state

  test("intervalJoinStream recovers the buffered click across restart") {
    import spark.implicits._
    val inC = tmp("join_clicks"); val inP = tmp("join_purch")
    val out = tmp("join_out"); val ckpt = tmp("join_ck")
    def t(ms: Long) = new Timestamp(86400000L + ms)
    val clickSchema = Seq((1L, 1L, t(0))).toDF("user_id", "click_id", "cts").schema
    val purchSchema = Seq((1L, 1L, t(0))).toDF("user_id", "purchase_id", "pts").schema
    def start() = {
      val clicks = spark.readStream.schema(clickSchema)
        .option("maxFilesPerTrigger", "1").parquet(inC)
      val purchases = spark.readStream.schema(purchSchema)
        .option("maxFilesPerTrigger", "1").parquet(inP)
      Streams.intervalJoinStream(clicks, purchases).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode("append").start()
    }

    // phase 1: two clicks arrive, no purchases — both sit in join state
    addFile(Seq((1L, 10L, t(0)), (2L, 20L, t(60000L))).toDF("user_id", "click_id", "cts"), inC)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(!new java.io.File(out).exists() ||
      spark.read.parquet(out).where("click_id is not null").count() == 0L,
      "nothing may emit before a purchase arrives")

    // phase 2: purchases inside each click's 30-min window — the pairs can
    // only form if the restart reloaded the buffered clicks
    addFile(Seq((1L, 100L, t(600000L)), (2L, 200L, t(660000L)))
      .toDF("user_id", "purchase_id", "pts"), inP)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out)
      .select("user_id", "click_id", "purchase_id", "gap_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 10L, 100L, 600000L), (2L, 20L, 200L, 600000L)),
      s"expected both cross-restart attributions exactly once, got: $got")
  }

  // ------------------------------------------- watermark-dedup state

  test("dedupStream suppresses a post-restart redelivery of a pre-stop key") {
    import spark.implicits._
    val in = tmp("dedup_in"); val out = tmp("dedup_out"); val ckpt = tmp("dedup_ck")
    def t(ms: Long) = new Timestamp(86400000L + ms)
    val schema = Seq((t(0), 1L, "x")).toDF("ts", "event_id", "payload").schema
    def build(df: DataFrame): DataFrame = Streams.dedupStream(df, "event_id")

    // phase 1: keys 1 and 2 emit once each; their ids enter dedup state
    addFile(Seq((t(0), 1L, "a"), (t(60000L), 2L, "b")).toDF("ts", "event_id", "payload"), in)
    runOnce(build, in, out, ckpt, schema)

    // phase 2: key 1 redelivered within the watermark horizon (must be
    // suppressed by RESTORED state) + a fresh key 3 (must emit)
    addFile(Seq((t(120000L), 1L, "a-redelivery"), (t(120000L), 3L, "c"))
      .toDF("ts", "event_id", "payload"), in)
    runOnce(build, in, out, ckpt, schema)

    val ids = spark.read.parquet(out).select("event_id", "payload").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ids == Set((1L, "a"), (2L, "b"), (3L, "c")),
      s"pre-stop keys emit once, redelivery suppressed by restored state, got: $ids")
  }

  // ------------------------------------------------ scd2 under RocksDB

  test("scd2Stream recovery works under the RocksDB state store provider") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, GraftSession.RocksDbProvider)
    try {
      val in = tmp("rocks_in"); val out = tmp("rocks_out"); val ckpt = tmp("rocks_ck")
      val enc = implicitly[org.apache.spark.sql.Encoder[Scd2Event]]
      def build(df: DataFrame): DataFrame = Streams.scd2Stream(df.as[Scd2Event]).toDF()

      addFile(Seq(
        Scd2Event(5L, 1L, 0L, "new"), Scd2Event(5L, 2L, 100L, "active")).toDF(), in)
      var engaged = false
      runOnce(build, in, out, ckpt, enc.schema, q => {
        val custom = q.lastProgress.stateOperators(0).customMetrics
        engaged = custom.keySet().iterator().asScala.exists(_.startsWith("rocksdb"))
      })
      assert(engaged, "RocksDB provider must actually back the state store")

      // the restart must load the open interval back out of RocksDB
      // checkpoint files (snapshot + changelog), not a fresh store
      addFile(Seq(Scd2Event(5L, 3L, 200L, "churned")).toDF(), in)
      runOnce(build, in, out, ckpt, enc.schema)

      val got = spark.read.schema(implicitly[org.apache.spark.sql.Encoder[Scd2Rec]].schema)
        .parquet(out).as[Scd2Rec].collect().toSet
      assert(got == Set(
        Scd2Rec(5L, 1L, "new", 0L, 100L),
        Scd2Rec(5L, 2L, "active", 100L, 200L)),
        s"RocksDB-backed state must bridge the restart, got: $got")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // --------------------------------------------------------------- curate

  test("curateStream recovers exact-dup state and fires a pre-stop timeout after restart") {
    import spark.implicits._
    val in = tmp("cur_in"); val out = tmp("cur_out"); val ckpt = tmp("cur_ck")
    val t0 = 1700000000000L
    val h = 3600000L
    def doc(id: Long, text: String, tsMs: Long): (Long, String, Timestamp, String) =
      (id, "en", new Timestamp(tsMs), text)
    def mk(rows: (Long, String, Timestamp, String)*): DataFrame =
      rows.toDF("doc_id", "lang", "ts", "text")
    val schema = mk(doc(0L, "x", 0L)).schema
    val textX = "alpha beta gamma delta epsilon zeta"
    val textY = "one two three four five six seven"
    def build(df: DataFrame): DataFrame = Streams.curateStream(df)

    // phase 1: X kept + exact_dup in one batch (min-rule), Y kept.
    // X's timeout ts is set here: (t0 + 10min) + 1h
    addFile(mk(
      doc(1L, textX, t0), doc(2L, textX, t0 + 600000L), doc(3L, textY, t0 + 600000L)), in)
    runOnce(build, in, out, ckpt, schema)

    val q2src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q2 = build(q2src).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      // (a) state restored: another Y copy is exact_dup, not kept
      addFile(mk(doc(4L, textY, t0 + 1800000L)), in)
      q2.processAllAvailable()
      // (c) advance the watermark past X's checkpointed timeout (set before
      // the stop, key untouched since): the post-advance timeout pass evicts X
      addFile(mk(doc(5L, "brand new unseen words here now", t0 + 4 * h)), in)
      q2.processAllAvailable()
      // X returns after eviction: kept again (state gone), proving the
      // pre-stop timeout timestamp survived the restart and fired
      addFile(mk(doc(6L, textX, t0 + 4 * h + 60000L)), in)
      q2.processAllAvailable()
    } finally q2.stop()

    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "kept", 2L -> "exact_dup", 3L -> "kept",
      4L -> "exact_dup", 5L -> "kept", 6L -> "kept"),
      s"expected restored dedup state (4) and post-restart timeout eviction (6), got: $got")
  }

  // ------------------------------------------- refreshing (foreachBatch)

  test("refreshing decontam gate: restart skips committed batches; a ref swap while DOWN takes effect") {
    import spark.implicits._
    val in = tmp("refresh_in"); val ckpt = tmp("refresh_ck"); val refDir = tmp("refresh_ref")
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    val benchA = Seq((100L, "held out benchmark question about spark joins here")).toDF("doc_id", "text")
    val benchB = Seq((101L, "fresh evaluation passage with eight distinctive ordered tokens inside"))
      .toDF("doc_id", "text")
    val quotesA = "prefix words then held out benchmark question about spark joins here and more"
    val quotesB = "body embedding fresh evaluation passage with eight distinctive ordered tokens inside verbatim"

    def start(buf: scala.collection.mutable.ArrayBuffer[(Long, Long)]) = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      Streams.decontamStreamRefreshing(src, refDir,
        (df, id) => buf ++= df.collect().map(r => (id, r.getLong(0))),
        checkpoint = Some(ckpt))
    }

    // phase 1 against suite A: the A-quoter flags, the clean doc passes
    Streams.writeDecontamRef(benchA, refDir)
    addFile(Seq((1L, quotesA), (2L, "completely unrelated clean body with plenty of distinct tokens"))
      .toDF("doc_id", "text"), in)
    val seen1 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q1 = start(seen1)
    try q1.processAllAvailable() finally q1.stop()
    assert(seen1.map(_._2).toSet == Set(1L), s"phase 1 flags the A-quoter only, got $seen1")

    // the benchmark refresh lands WHILE the gate is down; the restarted
    // query must (a) NOT reprocess the committed phase-1 file — source
    // offsets live in the checkpoint, which is what makes the sink's
    // upsert idempotence sufficient — and (b) gate new arrivals against B
    Streams.writeDecontamRef(benchB, refDir)
    val seen2 = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q2 = start(seen2)
    try {
      addFile(Seq((3L, quotesA), (4L, quotesB)).toDF("doc_id", "text"), in)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(seen2.map(_._2).toSet == Set(4L),
      s"post-restart: committed batch skipped (no doc 1/2) and suite B active (doc 4, not 3), got $seen2")
    assert(seen2.forall(_._1 >= 1L),
      s"batch ids continue from the checkpoint, not from zero: $seen2")
  }

  test("indexAppendStream: streamed vectors become searchable; restart skips committed batches") {
    import spark.implicits._
    val in = tmp("ingest_in"); val ckpt = tmp("ingest_ck")
    val idx = tmp("ingest_idx") + "/index"
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val centroids = operators.Ivf.train(emb, k = 8, iters = 1)
    operators.Ivf.writeIndex(emb, centroids, idx)

    val rnd = new scala.util.Random(29)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base0 = emb.filter($"vec_id" === 0L).collect()(0).getSeq[Float](1).toArray
    // vec 1000 is a near-copy of corpus vector 0 — once ingested, a
    // query at vector 0 must surface it as top-1 from the live index
    val wave1 = (Seq((1000L, base0.map(x => x + 0.001f))) ++
      (1001L to 1004L).map(i => (i, vec()))).toDF("vec_id", "embedding")
    val wave2 = (1005L to 1009L).map(i => (i, vec())).toDF("vec_id", "embedding")
    val schema = wave1.schema

    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streams.indexAppendStream(src, idx, Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }

    addFile(wave1, in)
    run()
    val afterWave1 = operators.Ivf.readIndex(spark, idx)
    assert(afterWave1.filter($"vec_id" >= 1000L).count() == 5,
      "wave-1 vectors landed in the inverted lists")
    val top = operators.Ivf.searchIndex(
      spark, idx, emb.filter($"vec_id" === 0L), k = 1, nprobe = 8).collect()
    assert(top.head.getLong(top.head.fieldIndex("neighbor_id")) == 1000L,
      "the freshly ingested near-duplicate must win a serve from the live index")

    // restart from the checkpoint with a new wave queued: the committed
    // wave-1 file must NOT re-append (the batch markers + source offsets
    // make the ingest exactly-once), the new wave must land
    addFile(wave2, in)
    run()
    val all = operators.Ivf.readIndex(spark, idx)
    assert(all.filter($"vec_id" >= 1000L).count() == 10,
      "post-restart: wave 1 exactly once, wave 2 appended")
    assert(all.groupBy("vec_id").count().filter($"count" > 1).count() == 0,
      "no vector duplicated across the restart")
  }

  test("sparseIndexAppendStream: streamed docs become retrievable; restart skips committed batches") {
    import spark.implicits._
    val in = tmp("sparse_in"); val ckpt = tmp("sparse_ck")
    val idx = tmp("sparse_idx") + "/index"
    def tok(rows: Seq[(Long, String)]): DataFrame =
      rows.toDF("doc_id", "text")
        .select(col("doc_id"), graft.gfunctions.ws_tokens(col("text")).as("toks"))
    // base corpus: query doc 1 carries the rare term 'xylo' nobody
    // else has — until the stream delivers doc 1000
    operators.SparseIndex.writeIndex(tok(Seq(
      (1L, "xylo lion tiger"),
      (2L, "lion tiger puma"),
      (3L, "puma wolf bear"))), idx)
    val wave1 = tok(Seq((1000L, "xylo lion"), (1001L, "wolf bear")))
    val wave2 = tok(Seq((1002L, "xylo xylo")))
    val schema = wave1.schema

    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = streaming.Streams.sparseIndexAppendStream(src, idx, Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    def top1(): Long =
      operators.SparseIndex.bm25Search(spark, idx, tok(Seq((1L, "xylo lion tiger"))), 1)
        .collect().head.getLong(2)

    addFile(wave1, in)
    run()
    assert(top1() == 1000L,
      "the freshly streamed rare-term doc must win the serve from the live index")
    // totals merged with the wave: 9 base tokens + 4 streamed, 5 docs
    val t1 = operators.SparseIndex.readTotals(spark, idx).collect().head
    assert((t1.getLong(0), t1.getLong(1)) == ((13L, 5L)), s"live totals: $t1")

    // restart with a new wave queued: wave 1 must not re-land
    addFile(wave2, in)
    run()
    val postings = operators.SparseIndex.readPostings(spark, idx)
    assert(postings.groupBy("doc_id", "h").count().filter($"count" > 1).count() == 0,
      "no posting duplicated across the restart")
    val t2 = operators.SparseIndex.readTotals(spark, idx).collect().head
    assert((t2.getLong(0), t2.getLong(1)) == ((15L, 6L)), s"post-restart totals: $t2")
  }

  test("clusteredAppendStream: streamed rows land queryable; restart skips; optimize folds mid-stream state") {
    import spark.implicits._
    val in = tmp("clus_in"); val ckpt = tmp("clus_ck")
    val dir = tmp("clus_tbl") + "/table"
    val base = spark.range(0, 5000).select(
      (col("id") * 2654435761L % 100000).as("user_id"), col("id").as("payload"))
    sources.Clustered.save(base.toDF(), dir, "user_id", files = 4)
    def wave(from: Long, until: Long) = spark.range(from, until).select(
      (col("id") * 2654435761L % 100000).as("user_id"), col("id").as("payload")).toDF()
    val schema = wave(0, 1).schema

    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streams.clusteredAppendStream(src, dir, "user_id", checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    addFile(wave(5000, 5500), in)
    run()
    assert(sources.Clustered.read(spark, dir).count() == 5500,
      "wave-1 rows are immediately queryable through the resolved read")
    // maintenance folds the streamed batches WITHOUT stopping anything;
    // the cumulative manifest keeps the replay check alive post-GC
    sources.Clustered.optimize(spark, dir, "user_id", files = 4)
    assert(sources.Clustered.overlappingPairs(
      sources.Clustered.rowGroupRanges(spark, dir, "user_id")) == 0)
    // the manifest fence DIRECTLY: a foreachBatch replay of the folded
    // batch (crash-between-sink-and-checkpoint shape) finds no visible
    // dir — it was GC'd — and must short-circuit on _folded
    sources.Clustered.appendBatch(wave(5000, 5500), dir, "user_id", batchId = 0L,
      namespace = Streams.batchNamespace(Some(ckpt)))
    assert(sources.Clustered.read(spark, dir).count() == 5500,
      "a replay of a folded-and-GC'd batch must be a no-op via the manifest")
    // and the namespace fence: a NEW stream lifetime (fresh checkpoint)
    // restarts at batchId 0 — its batches are genuinely new data and
    // must NOT be mistaken for replays of the old stream's batch 0
    sources.Clustered.appendBatch(wave(9000, 9100), dir, "user_id", batchId = 0L,
      namespace = Streams.batchNamespace(Some(ckpt + "-fresh")))
    assert(sources.Clustered.read(spark, dir).count() == 5600,
      "a fresh checkpoint's batch 0 must land, not be dropped as a replay")
    // restart from the checkpoint with a new wave queued: committed
    // wave 1 must NOT re-append, the new wave must land
    addFile(wave(5500, 6000), in)
    run()
    val got = sources.Clustered.read(spark, dir)
    assert(got.count() == 6100, "post-restart: wave 1 exactly once, wave 2 appended")
    assert(got.groupBy("payload").count().filter($"count" > 1).count() == 0,
      "no row duplicated across restart + fold")
  }

  test("ingest lanes honor pre-r15 legacy-namespace commit records (upgrade replays stay no-ops)") {
    import spark.implicits._
    val in = tmp("legacy_in"); val ckpt = tmp("legacy_ck")
    val dir = tmp("legacy_tbl") + "/table"
    def wave(from: Long, until: Long) = spark.range(from, until).select(
      (col("id") * 2654435761L % 100000).as("user_id"), col("id").as("payload")).toDF()
    sources.Clustered.save(wave(0, 5000), dir, "user_id", files = 4)

    // a batch committed BEFORE the namespace change: its commit record
    // carries the murmur32 id form
    val legacyNs = Streams.legacyBatchNamespace(Some(ckpt))
    assert(legacyNs.nonEmpty && legacyNs != Streams.batchNamespace(Some(ckpt)),
      "the two namespace forms must actually differ for this test to bite")
    sources.Clustered.appendBatch(wave(5000, 5100), dir, "user_id", batchId = 0L,
      namespace = legacyNs)
    assert(sources.Clustered.read(spark, dir).count() == 5100)
    assert(sources.Clustered.batchCommitted(spark, dir, legacyNs, 0L),
      "the legacy commit record must be visible to the dual-read")

    // post-upgrade restart from the SAME checkpoint replays batch 0 —
    // the lane must short-circuit on the legacy record, not re-append
    val schema = wave(0, 1).schema
    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streams.clusteredAppendStream(src, dir, "user_id", checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    addFile(wave(5000, 5100), in) // the replayed content of legacy batch 0
    run()
    val afterReplay = sources.Clustered.read(spark, dir)
    assert(afterReplay.count() == 5100,
      "a replay committed under the legacy namespace must stay a no-op after upgrade")
    assert(afterReplay.groupBy("payload").count().filter($"count" > 1).count() == 0,
      "no duplicates from the upgrade replay")

    // genuinely new batches (no legacy record) land under the NEW form
    addFile(wave(5100, 5200), in)
    run()
    assert(sources.Clustered.read(spark, dir).count() == 5200,
      "fresh batches must not be mistaken for legacy replays")

    // the index lane's fence, same contract — including the CRASH
    // WINDOW: a pre-upgrade batch that landed its data dir but died
    // before the marker create must still fence the upgrade replay
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val idx = tmp("legacy_idx") + "/index"
    val centroids = operators.Ivf.train(emb, k = 4, iters = 1)
    operators.Ivf.writeIndex(emb.filter(col("vec_id") >= 100), centroids, idx)
    operators.Ivf.appendIndexBatch(emb.filter(col("vec_id") < 100), idx, 0L, legacyNs)
    assert(operators.Ivf.appendCommitted(spark, idx, s"${legacyNs}0"),
      "index lane: legacy marker visible to the fence")
    assert(!operators.Ivf.appendCommitted(spark, idx, s"${legacyNs}1"),
      "index lane: absent ids stay uncommitted")
    val n = operators.Ivf.readIndex(spark, idx).count()
    // simulate the crash window: marker gone, data dir still visible
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_appends/${legacyNs}0"), false)
    assert(operators.Ivf.appendCommitted(spark, idx, s"${legacyNs}0"),
      "landed-but-unmarked is COMMITTED data — the fence must see the data dir")
    // the upgrade replay with the new namespace + legacy fence: no-op
    operators.Ivf.appendIndexBatch(emb.filter(col("vec_id") < 100), idx, 0L,
      Streams.batchNamespace(Some(ckpt)), legacyIds = Seq(s"${legacyNs}0"))
    assert(operators.Ivf.readIndex(spark, idx).count() == n,
      "an upgrade replay of a crash-window legacy batch must not re-land rows")
  }

  // ------------------------------------------------- rotating file sink

  test("rotatingFileSink: 200 batches rotate with ZERO sink metadata and bounded per-dir listings") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val out = tmp("rot_vol") + "/sink"
    val ns = Streams.batchNamespace(Some("/ckpt/rot-vol"))
    // 200 micro-batch commits through the foreachBatch body itself (the
    // stream wrapper adds only Spark's trigger loop around it), 3 rows
    // each, 40 per rotation -> 5 full rotation dirs
    (0L until 200L).foreach { b =>
      Streams.writeRotatedBatch(
        Seq(b * 3, b * 3 + 1, b * 3 + 2).toDF("v"), out, b, 40, ns)
    }
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the ScaleProbe27 growth class is GONE: no _spark_metadata anywhere
    def walk(p: Path): Iterator[Path] = {
      val st = fs.listStatus(p)
      st.iterator.map(_.getPath) ++ st.iterator.filter(_.isDirectory).flatMap(s => walk(s.getPath))
    }
    assert(!walk(new Path(out)).exists(_.getName == "_spark_metadata"),
      "the rotating sink must not create any file-sink manifest")
    // bounded per-rotation listings: exactly 5 rot dirs x 40 batch dirs
    val rots = fs.listStatus(new Path(out)).filter(_.isDirectory)
      .map(_.getPath.getName).sorted.toSeq
    assert(rots == (0 until 5).map(r => s"rot=$r"), s"got $rots")
    rots.foreach { r =>
      val n = fs.listStatus(new Path(s"$out/$r")).count(_.getPath.getName.startsWith("batch="))
      assert(n == 40, s"$r holds $n batch dirs, want exactly batchesPerDir")
    }
    // every row exactly once, readable as one parquet table
    val all = spark.read.parquet(out)
    assert(all.count() == 600 && all.select("v").distinct().count() == 600)
    // rotation pruning: a rot predicate reads one subdir's rows only
    assert(all.filter(col("rot") === 2).count() == 120)
    // a crash-shaped replay of any committed batch is a no-op
    Streams.writeRotatedBatch(Seq(999L).toDF("v"), out, 57L, 40, ns)
    assert(spark.read.parquet(out).count() == 600, "replay must not re-land or alter rows")
    // retention: retire the two oldest rotations; the rest still reads
    Streams.retireRotations(spark, out, before = 2L)
    val left = spark.read.parquet(out)
    assert(left.count() == 360 && left.select(min(col("rot"))).head.getInt(0) == 2,
      "cold rotations drop as units; live ones read on")
    // crash residue: an AGED dot-staging sweeps, a fresh one survives
    val stale = new Path(s"$out/rot=3/.batch-dead-attempt")
    fs.mkdirs(stale)
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    fs.setTimes(stale, old, -1)
    val fresh = new Path(s"$out/rot=4/.batch-live-attempt")
    fs.mkdirs(fresh)
    Streams.sweepRotatingStaging(spark, out)
    assert(!fs.exists(stale) && fs.exists(fresh),
      "sweep takes aged residue only, never a possibly-live staging")
  }

  test("rotatingFileSink: restart AT the rotation boundary loses and duplicates nothing") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val in = tmp("rot_in"); val ckpt = tmp("rot_ck")
    val out = tmp("rot_out") + "/sink"
    def wave(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("v")).toDF()
    val schema = wave(0, 1).schema
    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streams.rotatingFileSink(src, out, batchesPerDir = 2, checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
    }
    // batches 0 and 1 fill rotation 0 completely, then STOP exactly at
    // the boundary — the next batch must open rot=1
    addFile(wave(0, 10), in); addFile(wave(10, 20), in)
    run()
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(s"$out/rot=0"))
      .count(_.getPath.getName.startsWith("batch=")) == 2)
    // crash-shaped replay of boundary batch 1 (sink wrote, checkpoint
    // didn't commit): the visible dir fences it
    Streams.writeRotatedBatch(wave(10, 20), out, 1L, 2, Streams.batchNamespace(Some(ckpt)))
    // restart across the boundary with a new wave queued
    addFile(wave(20, 30), in)
    run()
    val got = spark.read.parquet(out)
    assert(got.count() == 30, "post-restart: waves 1-2 exactly once, wave 3 landed")
    assert(got.groupBy("v").count().filter(col("count") > 1).count() == 0,
      "no row duplicated across the boundary restart")
    assert(fs.exists(new Path(s"$out/rot=1")), "the restart opened the next rotation")
    assert(fs.listStatus(new Path(s"$out/rot=0"))
      .count(_.getPath.getName.startsWith("batch=")) == 2,
      "the completed rotation stays cold: nothing lands in it again")
  }

  test("checkpoint-less re-run gets a fresh namespace: a second stream into the same dir never silently drops batches") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    // the r16 review finding: with checkpoint=None the lanes used the
    // EMPTY namespace, so a re-run query (batchIds restart at 0) found
    // the first run's batch=0 dir visible and no-op'd — silent loss.
    // laneNamespace now issues a per-query random id for that case.
    val nsA = Streams.laneNamespace(None)
    val nsB = Streams.laneNamespace(None)
    assert(nsA.startsWith("eph") && nsB.startsWith("eph") && nsA != nsB,
      "checkpoint-less namespaces are random per query")
    assert(Streams.laneNamespace(Some("/ckpt/x")) == Streams.batchNamespace(Some("/ckpt/x")),
      "a durable checkpoint keeps the pure restart-stable namespace")
    val in = tmp("rot_nock_in"); val out = tmp("rot_nock_out") + "/sink"
    def wave(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("v")).toDF()
    val schema = wave(0, 1).schema
    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
      val q = Streams.rotatingFileSink(src, out, batchesPerDir = 100)
      try q.processAllAvailable() finally q.stop()
    }
    addFile(wave(0, 10), in)
    run() // run 1: batch 0 = rows 0-9
    addFile(wave(10, 20), in)
    run() // run 2, no checkpoint: re-reads BOTH files as batches 0 and 1
    val got = spark.read.parquet(out)
    // independent checkpoint-less runs are at-least-once ACROSS runs by
    // contract (run 2 legitimately re-lands rows 0-9 under its own
    // namespace); the bug being pinned is silent LOSS of rows 10-19
    assert(got.filter(col("v") >= 10).count() == 10,
      "run 2's genuinely new batch must land, not be dropped as a replay")
    assert(got.count() == 30, "run 1 (10 rows) + run 2's full re-read (20 rows)")
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batch0s = fs.listStatus(new Path(s"$out/rot=0"))
      .map(_.getPath.getName).filter(n => n.startsWith("batch=") && n.endsWith("0"))
    assert(batch0s.length >= 2, s"the two runs' batch-0 dirs are namespace-disjoint: ${batch0s.toSeq}")
  }

  test("stream_profile lands through rotatingFileSink: no sink manifest, rot-pruned audit reads (r20)") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    // the r19 verdict's item 6: the windowed audit is the archetypal
    // INDEFINITE stream (it profiles ingest forever), so its output
    // belongs in the rotation discipline, not the builtin file sink
    // whose _spark_metadata grows O(history) (ScaleProbe27)
    val in = tmp("profrot_in"); val ckpt = tmp("profrot_ck")
    val out = tmp("profrot_out") + "/sink"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts TIMESTAMP, event_type STRING, user_id BIGINT, value DOUBLE")
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    def ev(rows: (Timestamp, String, Long, Double)*) =
      rows.toDF("ts", "event_type", "user_id", "value")
    addFile(ev((t(0, 10), "click", 7L, 1.5), (t(0, 40), null, 3L, 9.0)), in)
    addFile(ev((t(0, 50), "view", 11L, 0.5), (t(1, 15), "view", 9L, 5.0)), in)
    addFile(ev((t(9, 0), "click", 1L, 1.0)), in) // watermark: close h0+h1
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(in)
    val q = Streams.rotatingFileSink(
      Streams.windowedProfileStream(src), out, batchesPerDir = 1, checkpoint = Some(ckpt))
    try q.processAllAvailable() finally q.stop()

    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Iterator[Path] = {
      val st = fs.listStatus(p)
      st.iterator.map(_.getPath) ++ st.iterator.filter(_.isDirectory).flatMap(s => walk(s.getPath))
    }
    assert(!walk(new Path(out)).exists(_.getName == "_spark_metadata"),
      "the audit sink must not grow a file-sink manifest")
    // 3 micro-batches at batchesPerDir=1 -> rotations 0..2; the closed
    // windows' profile rows all emit in the watermark-advancing batch
    assert(fs.exists(new Path(s"$out/rot=2")))
    val all = spark.read.parquet(out)
    val h0 = all.filter(col("window_start") === lit(t(0, 0))).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getLong(3), r.getLong(6)))).toMap
    assert(h0("event_type") === ((3L, 1L, 2L)),
      s"hour-0 audit row (incl. exact sparse-mode HLL distinct), got $h0")
    assert(h0("user_id") === ((3L, 0L, 3L)))
    // rot is a partition column: a rotation predicate PRUNES the scan.
    // The closures emit in the batch AFTER the watermark-advancing one
    // (the watermark used by batch N is computed from batch N-1's data),
    // so locate the one rotation actually holding the audit rows rather
    // than hardcoding its id.
    val rotsWithRows = all.select("rot").distinct().collect().map(_.getInt(0))
    assert(rotsWithRows.length === 1,
      s"all closed-window audit rows land in ONE rotation, got ${rotsWithRows.toSeq}")
    val pruned = all.filter(col("rot") === rotsWithRows.head)
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "rot")),
      "the rot predicate must reach the scan as a partition filter")
    assert(pruned.count() === 6L, "both closed windows' 3 audit rows under the rot predicate")
  }
}
