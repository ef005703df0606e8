package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.ScrapePipeline
import graft.operators.HtmlTree
import graft.sources.{ParquetSink, SinkConfig}

/** `scrape_load`: the reference's own traffic as crawl batches. Each batch
  * is catalog pages → `HtmlTree.collectValidLinks` (shadow-marked cards
  * excluded) → one raw record per link → `ScrapePipeline.run` into the
  * partitioned parquet sink → read back through `ScrapePipeline.table`.
  * Batches cycle over [[Dates]] createdates. The warm-up loads every date
  * first (the new-partition path), so each timed batch re-loads an
  * existing partition (the idempotent-overwrite path). After the timed
  * region the run loads [[Malformed]] once, a fixed batch with one
  * unparseable price that the reference quarantines; under ANSI casts
  * `ScrapePipeline.transform` throws on it instead, and the run reports
  * that as a known fault. It stays out of the timed rounds, so the timed
  * figures do not change when that fault is mended.
  *
  * The traced run adds one `layers` op per batch, the sink load alone, and
  * after the timed region probes the index layers through
  * [[IndexProbe.probe]].
  */
final class ScrapeLoad(spark: SparkSession, seed: Long) extends Workload {
  import ScrapeLoad._

  val primary = "batch"
  override val warmUpRounds = 16
  private var sinkCfg: SinkConfig = _
  private var probeCfg: SinkConfig = _
  private var batches: IndexedSeq[Batch] = _
  private var loaded = Map.empty[String, Batch] // date -> last batch loaded there
  private var dir: String = _

  def prepare(dir: String): Unit = {
    this.dir = dir
    sinkCfg = SinkConfig(path = s"$dir/sink")
    probeCfg = SinkConfig(path = s"$dir/probe_sink")
    batches = (0 until Batches).map(b => generate(seed, b, dateOf(b)))
    loaded = Map.empty
  }

  private def rawFrame(recs: Seq[Raw]) =
    spark.createDataFrame(
      java.util.Arrays.asList(recs.map(r =>
        Row(r.id, r.name, r.detail, r.price, r.orig, r.disc)): _*), RawSchema)

  private def readBack(date: String): Set[Out] =
    ScrapePipeline.table(spark, sinkCfg)
      .filter(col("createdate") === lit(date).cast("date"))
      .select("id", "name", "detail", "price", "originalprice", "discountpercentage",
        "platform", "createdate")
      .collect().map(rowOut).toSet

  private def loadBatch(rec: Recorder, b: Batch): Long = {
    val links = rec.layer("html_tree.links") {
      b.pages.flatMap(HtmlTree.collectValidLinks(_, Anchor))
    }
    Check(links == b.valid.map(_.href), s"links differ from the generator's valid cards (${links.size} vs ${b.valid.size})")
    val raw = rawFrame(b.valid.map(_.raw))
    val quarantined = rec.layer("scrape_pipeline.run") {
      ScrapePipeline.run(raw, sinkCfg, createdate = b.date).count()
    }
    Check(quarantined == b.quarantined, s"quarantined $quarantined, expected ${b.quarantined}")
    val back = rec.layer("parquet_sink.read")(readBack(b.date))
    Check(back == b.truth, s"table for ${b.date} differs from ground truth (${back.size} vs ${b.truth.size} rows)")
    b.valid.size.toLong
  }

  def round(rec: Recorder, n: Int): Seq[OpResult] = {
    // warm-up batches load the timed dates first, so every timed batch
    // re-loads an existing createdate: the timed rounds stay alike however
    // many of them a run makes
    val b = if (n >= 0) batches(n % Batches) else generate(seed, 1000 - n, dateOf(-n - 1))
    val op = rec.op(primary)(loadBatch(rec, b))
    if (op.error.isEmpty) loaded += b.date -> b
    if (!rec.traced) Seq(op)
    else {
      val part = s"${sinkCfg.path}/${sinkCfg.table}/createdate=${b.date}"
      rec.sample("parquet_sink.files_written", Proc.dirBytes(part)._2.toDouble)
      // the sink load alone, on the batch's deduped frame, into a probe table
      val probe = rec.op("layers", probe = true) {
        val deduped = ScrapePipeline.dedupeLatest(
          ScrapePipeline.validate(ScrapePipeline.transform(rawFrame(b.valid.map(_.raw)), "tokopedia", b.date))._1)
        rec.layer("parquet_sink.load")(ParquetSink.load(deduped, probeCfg))
        0L
      }
      Seq(op, probe)
    }
  }

  def finalChecks(rec: Recorder, outDir: String): Seq[String] = {
    val fails = Seq.newBuilder[String]
    try { loadBatch(rec, Malformed); loaded += Malformed.date -> Malformed }
    catch {
      case e: CheckFailed => fails += s"malformed_batch: ${e.getMessage}"
      case e: Exception => knownFaults += s"malformed_batch: ${e.getClass.getName}"
    }
    val table = s"${sinkCfg.path}/${sinkCfg.table}"
    def all(): Set[Out] = ScrapePipeline.table(spark, sinkCfg)
      .select("id", "name", "detail", "price", "originalprice", "discountpercentage",
        "platform", "createdate")
      .collect().map(rowOut).toSet
    val before = all()
    val want = loaded.values.flatMap(_.truth).toSet
    if (before != want) fails += s"sink holds ${before.size} rows, ground truth ${want.size}"
    // re-load of an already loaded batch: the idempotent path must leave
    // the table exactly as it was
    loaded.values.headOption.foreach { b =>
      ScrapePipeline.run(rawFrame(b.valid.map(_.raw)), sinkCfg, createdate = b.date).count()
      if (all() != before) fails += s"re-loading ${b.date} changed the table"
    }
    rec.sample("parquet_sink.bytes_per_row", Proc.dirBytes(table)._1.toDouble / math.max(1, before.size))
    if (rec.traced)
      rec.op("index_layers", probe = true)(new IndexProbe(spark, seed).probe(rec, s"$dir/index", outDir))
        .error.foreach(e => fails += s"index probe: $e")
    fails.result()
  }
}

object ScrapeLoad {
  val Batches = 48
  /** A fixed batch, the same for every seed, with one unparseable price. */
  lazy val Malformed: Batch = generate(0, 999, "2025-09-01", malformedPrice = true)
  val Dates = 8
  def dateOf(b: Int): String = s"2025-08-${"%02d".format(1 + b % Dates)}"
  val Pages = 12
  val Cards = 48
  val Anchor: (String, Map[String, String]) = ("a", Map("class" -> "product-card"))
  private val Marker = HtmlTree.InvalidProductMarker._2("class")

  final case class Raw(id: Long, name: String, detail: String, price: String, orig: String, disc: String)
  final case class Card(href: String, raw: Raw)
  /** (id, name, detail, price, originalprice, discountpercentage, platform, createdate) */
  type Out = (Long, String, String, Long, Option[Long], Option[Double], String, String)
  final case class Batch(date: String, pages: IndexedSeq[String], valid: IndexedSeq[Card],
      quarantined: Long, truth: Set[Out])

  val RawSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("detail", StringType), StructField("price_str", StringType),
    StructField("original_price_str", StringType), StructField("discount_str", StringType)))

  def rowOut(r: Row): Out = (
    r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
    Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.get(5)).map(_.asInstanceOf[Double]),
    r.getString(6), String.valueOf(r.get(7)))

  private def rp(v: Long): String =
    "Rp" + v.toString.reverse.grouped(3).mkString(".").reverse

  /** One crawl batch: pages, the valid cards in document order, and the
    * loaded table the pipeline must produce for it.
    */
  def generate(seed: Long, b: Int, date: String, malformedPrice: Boolean = false): Batch = {
    val r = new SplittableRandom(seed * 7919L + b)
    val universe = (Pages * Cards * 0.7).toInt
    val seen = scala.collection.mutable.HashMap.empty[Long, Int]
    val cards = IndexedSeq.fill(Pages, Cards) {
      val id = 1L + b * 100000L + r.nextInt(universe)
      val occ = seen.getOrElse(id, 0)
      seen(id) = occ + 1
      val shadow = r.nextInt(10) == 0
      // distinct price per occurrence of an id, so the max-price winner is unique
      val price = 1000L * (1 + (id * 37 % 4000)) + occ * 137L
      val raw = Raw(id,
        if (r.nextInt(30) == 0) null else s"Produk ${Corpus.word(r)} $id",
        (0 until 3 + r.nextInt(8)).map(_ => Corpus.word(r)).mkString(" "),
        if (r.nextInt(30) == 0) null else rp(price),
        if (r.nextInt(3) == 0) null else rp(price + 500 * (1 + r.nextInt(40))),
        if (r.nextInt(3) == 0) null else s"${1 + r.nextInt(60)}%")
      (id, shadow, raw)
    }
    val pages = cards.zipWithIndex.map { case (row, p) =>
      val sb = new StringBuilder(s"<html><head><title>Katalog $p</title></head><body><div class=\"grid\">")
      row.zipWithIndex.foreach { case ((id, shadow, raw), i) =>
        val href = s"/p/$id"
        sb.append(s"<!-- card $i -->")
        sb.append(i % 3 match {
          case 0 => s"""<a class="product-card" href="$href">"""
          case 1 => s"""<a href='$href' data-pos="$i" class="css-x product-card">"""
          case _ => s"""<a class=product-card href=$href>"""
        })
        sb.append(s"""<div class="name">${Option(raw.name).getOrElse("")}</div>""")
        if (shadow)
          sb.append(if (i % 2 == 0) s"""<div class="$Marker">Produk tidak tersedia</div>"""
          else s"""<div class="wrap"><span><div class="$Marker"></div></span></div>""")
        sb.append("<span class=\"price\">").append(Option(raw.price).getOrElse("")).append("</span></a>")
      }
      sb.append("</div></body></html>").toString
    }
    val valid0 = cards.flatten.collect { case (id, false, raw) => Card(s"/p/$id", raw) }
    // the reference quarantines a price it cannot parse
    val valid = if (!malformedPrice) valid0
      else valid0.updated(0, valid0(0).copy(raw = valid0(0).raw.copy(price = "Rp12a.000")))
    val parsed = valid.map(_.raw).filter(x => x.name != null && x.price != null && x.price.matches("Rp[0-9.]+"))
    val truth = parsed.groupBy(_.id).values.map(_.maxBy(_.price.filter(_.isDigit).toLong)).map { x =>
      def num(s: String) = Option(s).map(_.replace("Rp", "").replace(".", "").toLong)
      (x.id, x.name, x.detail, num(x.price).get, num(x.orig),
        Option(x.disc).map(_.stripSuffix("%").toDouble / 100), "tokopedia", date): Out
    }.toSet
    Batch(date, pages, valid, (valid.size - parsed.size).toLong, truth)
  }
}
