package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}
import graft.{GraftQuery, ScrapePipeline, Tables}
import RelationalCore.{dsum, davg}

/** The reference pipeline's transforms, re-expressed as distributed
  * declarative plans (reference: scrap_tokopedia.py):
  *  - price string "Rp1.234.567" -> bigint (line 256, 258)
  *  - discount "25%" -> fraction (line 262)
  *  - page/record validity filtering (is_page_empty line 211,
  *    invalid-product shadow markers lines 199-203)
  *  - latest-record snapshots & idempotent re-loads (the Postgres table the
  *    pipeline appends into, lines 279-297)
  *  - semi-structured field extraction (the (tag,attrs) HTML select,
  *    lines 50-73 — JSON path extraction is the columnar analog)
  *  - sessionization/funnel over event streams (the crawl loop's
  *    page-by-page state, re-cast as event-time analytics)
  */
object ScrapeEtl {

  val q20 = GraftQuery(
    "q20_price_parse",
    (s, d) => {
      // Round-trip the reference's display format: format an IDR price the
      // way Tokopedia renders it, then parse it back exactly as
      // scrap_tokopedia.py:256/262 does (strip "Rp", drop thousand dots;
      // strip "%", /100). All codegen'd string expressions — no UDF.
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          concat(lit("Rp"), regexp_replace(format_number(floor(col("p_retailprice") * 1000).cast(LongType), 0), ",", ".")).as("price_str"),
          concat(col("p_size").cast("string"), lit("%")).as("disc_str"),
        )
        .withColumn("price_parsed", ScrapePipeline.priceOf(col("price_str")))
        .withColumn("disc_parsed", ScrapePipeline.discountOf(col("disc_str")))
        // Row-contract stamping (scrap_tokopedia.py:265-266): every loaded row
        // carries its platform and extraction date. Fixed literal (not now())
        // so the result is deterministic and oracle-comparable.
        .withColumn("platform", lit("tokopedia"))
        .withColumn("createdate", to_date(lit("2025-08-01")))
        .orderBy("p_partkey")
    },
    Some("""SELECT p_partkey, price_str, disc_str,
      CAST(REPLACE(REPLACE(price_str, 'Rp', ''), '.', '') AS BIGINT) AS price_parsed,
      CAST(REPLACE(disc_str, '%', '') AS DOUBLE) / 100 AS disc_parsed,
      'tokopedia' AS platform,
      DATE '2025-08-01' AS createdate
      FROM (
        SELECT p_partkey,
          'Rp' || REPLACE(format('{:,}', CAST(FLOOR(p_retailprice * 1000) AS BIGINT)), ',', '.') AS price_str,
          CAST(p_size AS VARCHAR) || '%' AS disc_str
        FROM part) t
      ORDER BY p_partkey"""),
  )

  val q21 = GraftQuery(
    "q21_validity_filter",
    (s, d) => {
      // is_page_empty analog: a record is valid iff its required fields are
      // present and the payload is non-trivial; invalid rows are quarantined
      // (counted, never silently dropped).
      Tables.documents(s, d)
        .groupBy("source")
        .agg(
          count(when(col("text").isNotNull && col("n_chars") >= 50 && col("lang").isNotNull, lit(1))).as("valid_cnt"),
          count(when(col("text").isNull || col("n_chars") < 50 || col("lang").isNull, lit(1))).as("invalid_cnt"),
          count(lit(1)).as("total_cnt"),
        )
        .orderBy("source")
    },
    Some("""SELECT source,
      COUNT(CASE WHEN text IS NOT NULL AND n_chars >= 50 AND lang IS NOT NULL THEN 1 END) AS valid_cnt,
      COUNT(CASE WHEN text IS NULL OR n_chars < 50 OR lang IS NULL THEN 1 END) AS invalid_cnt,
      COUNT(*) AS total_cnt
      FROM documents GROUP BY source ORDER BY source"""),
  )

  val q22 = GraftQuery(
    "q22_dedupe_latest",
    (s, d) => {
      // Latest-record-per-key snapshot (SCD type 1): the query the scraper's
      // append-only raw table needs to present "current price per product".
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy("o_custkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders) t
      WHERE rn = 1 ORDER BY o_custkey"""),
    // prod: newest-wins as ONE hash aggregate (map-side partial, no
    // per-key window sort) — the scale shape for snapshot-latest
    prod = Some((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_custkey")
        .agg(max_by(
          struct(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("w"))
        .select(
          col("o_custkey"), col("w.o_orderkey").as("o_orderkey"),
          col("w.o_totalprice").as("o_totalprice"), col("w.o_orderdate").as("o_orderdate"))),
  )

  val q23 = GraftQuery(
    "q23_json_extract",
    (s, d) => {
      // Typed field extraction from a semi-structured column — the columnar
      // analog of the reference's (tag, attrs) HTML selects.
      Events.withEventTime(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
        .groupBy("event_type")
        .agg(
          sum(col("k")).as("sum_k"),
          count(col("k")).as("n_with_k"),
          davg(col("value")).as("avg_value"),
        )
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
      FROM events GROUP BY event_type ORDER BY event_type"""),
  )

  val q24 = GraftQuery(
    "q24_discount_analysis",
    (s, d) => {
      // Effective-vs-original price analytics over the scraped price columns
      // (price, originalprice, discountpercentage in tr_raw_scrap_data).
      Tables.lineitem(s, d)
        .withColumn("ship_year", year(col("l_shipdate")))
        .groupBy("l_returnflag", "ship_year")
        .agg(
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          dsum(col("l_extendedprice")).as("original_revenue"),
          davg(col("l_discount"), 6).as("avg_discount"),
          count(when(col("l_discount") > 0, lit(1))).as("discounted_rows"),
        )
        .orderBy("l_returnflag", "ship_year")
    },
    Some("""SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS original_revenue,
      CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_discount,
      COUNT(CASE WHEN l_discount > 0 THEN 1 END) AS discounted_rows
      FROM lineitem GROUP BY l_returnflag, year(l_shipdate) ORDER BY l_returnflag, ship_year"""),
  )

  /** 30-minute-gap sessionization: lag -> new-session flag -> running
    * sum = session id; two window passes over one shuffle (same
    * partitioning). Windows order by (ts_ms, event_id) — the SAME
    * truncated key as the oracles' CTEs, so sub-millisecond ties
    * sessionize identically. The ONE definition of the session rule for
    * every batch consumer (q25 summaries, q70 percentiles); a gap-rule
    * change here changes them together.
    * Scale note: partitionBy(user_id) is skew-exposed on power users and
    * AQE does not rebalance window partitions — at 100 TB, salt by
    * (user_id, day) and stitch sessions across day boundaries
    * ([[sessionizeSkewSafe]], spec-pinned identical), or use
    * streaming.Streams.sessionizeStream whose state is per-key constant.
    */
  private def sessionized(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .withColumn("is_new", when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > 1800000L, lit(1)).otherwise(lit(0)))
      .withColumn("session_id", sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  val q25 = GraftQuery(
    "q25_sessionize",
    (s, d) => {
      sessionized(s, d).groupBy("user_id", "session_id")
        .agg(
          count(lit(1)).as("n_events"),
          ((max(col("ts_ms")) - min(col("ts_ms"))) / 1000.0).as("duration_sec"),
          davg(col("value")).as("avg_value"),
        )
        .orderBy("user_id", "session_id")
    },
    Some("""WITH lagged AS (
        SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
               LAG(epoch_ms(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
        FROM lagged),
      sess AS (
        SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, COUNT(*) AS n_events,
             (MAX(ts_ms) - MIN(ts_ms)) / 1000.0 AS duration_sec,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
      FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
    prod = Some((s, d) => sessionizeSkewSafe(s, d)),
  )

  /** Skew-safe sessionization, semantically IDENTICAL to q25 (spec-proved):
    * phase 1 sessionizes within (user_id, day) — the salt bounds any one
    * window partition to a user-day, so power users cannot stall a task;
    * phase 2 merges sessions across day boundaries (gap <= 30 min) over
    * per-user SESSION SUMMARIES, whose count per user is small no matter
    * how many raw events the user has. This is the production plan for
    * sessionization at 100 TB; q25 keeps the simple single-window shape
    * the oracle checks.
    */
  def sessionizeSkewSafe(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val gap = 1800000L
    val ev = Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("day", expr("ts_ms DIV 86400000"))
    // phase 1: per (user, day) windows — salted, skew-bounded
    val byUserDay = Window.partitionBy("user_id", "day").orderBy(col("ts_ms"), col("event_id"))
    val daySessions = ev
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUserDay))
      .withColumn("is_new", when(col("prev_ms").isNull || col("ts_ms") - col("prev_ms") > gap, lit(1)).otherwise(lit(0)))
      .withColumn("day_sid", sum(col("is_new")).over(byUserDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "day", "day_sid")
      .agg(
        min(col("ts_ms")).as("start_ms"),
        max(col("ts_ms")).as("end_ms"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).as("sum_value"),
      )
    // phase 2: merge boundary sessions over the (small) per-user summaries
    val byUser = Window.partitionBy("user_id").orderBy(col("start_ms"), col("day"), col("day_sid"))
    daySessions
      .withColumn("prev_end", lag(col("end_ms"), 1).over(byUser))
      .withColumn("is_new", when(col("prev_end").isNull || col("start_ms") - col("prev_end") > gap, lit(1)).otherwise(lit(0)))
      .withColumn("session_id", sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        sum(col("n_events")).as("n_events"),
        ((max(col("end_ms")) - min(col("start_ms"))) / 1000.0).as("duration_sec"),
        (sum(col("sum_value")).cast("double") / sum(col("n_events"))).as("avg_value"),
      )
      .orderBy("user_id", "session_id")
  }

  val q26 = GraftQuery(
    "q26_funnel",
    (s, d) => {
      // Ordered funnel: signup -> first click after signup -> first purchase
      // after that click. One shuffle (groupBy user), flags via min-epoch.
      val ev = Events.withEventTime(s, d).withColumn("ts_ms", unix_millis(col("ts")))
      val perUser = ev
        .groupBy("user_id")
        .agg(
          min(when(col("event_type") === "signup", col("ts_ms"))).as("t_signup"),
          min(when(col("event_type") === "click", col("ts_ms"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts_ms"))).as("t_purchase"),
        )
      perUser.agg(
        count(lit(1)).as("n_users"),
        count(when(col("t_signup").isNotNull, lit(1))).as("n_signup"),
        count(when(col("t_signup").isNotNull && col("t_click") > col("t_signup"), lit(1))).as("n_signup_then_click"),
        count(when(col("t_signup").isNotNull && col("t_click") > col("t_signup") && col("t_purchase") > col("t_click"), lit(1))).as("n_full_funnel"),
      )
    },
    Some("""WITH per_user AS (
        SELECT user_id,
          MIN(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) AS t_signup,
          MIN(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t_click,
          MIN(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS t_purchase
        FROM events GROUP BY user_id)
      SELECT COUNT(*) AS n_users,
        COUNT(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
        COUNT(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup THEN 1 END) AS n_signup_then_click,
        COUNT(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup AND t_purchase > t_click THEN 1 END) AS n_full_funnel
      FROM per_user"""),
  )

  val q27 = GraftQuery(
    "q27_incremental_dedup_load",
    (s, d) => {
      // Idempotent re-load: two overlapping extraction batches (the scraper
      // re-crawls a date range); newest batch wins per natural key. This is
      // the MERGE the reference's row-at-a-time INSERT cannot do.
      // Scale shape: ONE scan of orders (batch membership is an expression,
      // not two reads), batch tags exploded, then newest-wins via max_by —
      // a hash aggregate with map-side partial agg, no window sort.
      val b1 = lit("1999-01-01").cast("timestamp")
      val b2 = lit("1998-01-01").cast("timestamp")
      val kept = Tables.orders(s, d)
        .select(
          col("o_orderkey"), col("o_totalprice"),
          array_compact(array(
            when(col("o_orderdate") < b1, lit(1)),
            when(col("o_orderdate") >= b2, lit(2)))).as("batches"))
        .select(col("o_orderkey"), col("o_totalprice"), explode(col("batches")).as("batch"))
        .groupBy("o_orderkey")
        .agg(max_by(struct(col("batch"), col("o_totalprice")), col("batch")).as("w"))
      kept
        .select(col("w.batch").as("batch"), col("w.o_totalprice").as("o_totalprice"))
        .groupBy("batch")
        .agg(count(lit(1)).as("n_rows"), dsum(col("o_totalprice")).as("total"))
        .orderBy("batch")
    },
    Some("""WITH loads AS (
        SELECT o_orderkey, o_totalprice, 1 AS batch FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        UNION ALL
        SELECT o_orderkey, o_totalprice, 2 AS batch FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
      deduped AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY batch DESC) AS rn FROM loads)
      SELECT batch, COUNT(*) AS n_rows,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM deduped WHERE rn = 1 GROUP BY batch ORDER BY batch"""),
  )

  val q28 = GraftQuery(
    "q28_html_extract",
    (s, d) => htmlExtract(s, d).orderBy("p_partkey"),
    Some("""WITH page AS (
        SELECT p_partkey,
          '<html><body><h1 class="css-j63za0" data-testid="lblPDPDetailProductName">' || p_name || '</h1>'
          || '<div class="price" data-testid="lblPDPDetailProductPrice">Rp' ||
             REPLACE(format('{:,}', CAST(FLOOR(p_retailprice * 1000) AS BIGINT)), ',', '.') || '</div>'
          || CASE WHEN p_size % 4 = 0 THEN
               '<span data-testid="lblPDPDetailOriginalPrice">Rp' ||
               REPLACE(format('{:,}', CAST(FLOOR(p_retailprice * 1250) AS BIGINT)), ',', '.') || '</span>'
               || '<span data-testid="lblPDPDetailDiscountPercentage">20%</span>'
             ELSE '' END
          || '<div data-testid="lblPDPDescriptionProduk">' || p_type || '</div></body></html>' AS html
        FROM part)
      SELECT p_partkey,
        regexp_extract(html, '<h1[^>]*data-testid="lblPDPDetailProductName"[^>]*>([^<]*)</h1>', 1) AS name,
        CAST(REPLACE(REPLACE(regexp_extract(html, '<div[^>]*data-testid="lblPDPDetailProductPrice"[^>]*>([^<]*)</div>', 1), 'Rp', ''), '.', '') AS BIGINT) AS price,
        CAST(REPLACE(REPLACE(NULLIF(regexp_extract(html, '<span[^>]*data-testid="lblPDPDetailOriginalPrice"[^>]*>([^<]*)</span>', 1), ''), 'Rp', ''), '.', '') AS BIGINT) AS originalprice,
        CAST(REPLACE(NULLIF(regexp_extract(html, '<span[^>]*data-testid="lblPDPDetailDiscountPercentage"[^>]*>([^<]*)</span>', 1), ''), '%', '') AS DOUBLE) / 100 AS discountpercentage,
        regexp_extract(html, '<div[^>]*data-testid="lblPDPDescriptionProduk"[^>]*>([^<]*)</div>', 1) AS detail
      FROM page ORDER BY p_partkey"""),
    // prod: same extraction, no final global sort (a total ORDER BY at
    // 100 TB serializes the result through one range exchange).
    prod = Some((s, d) => htmlExtract(s, d)),
  )

  val q29 = GraftQuery(
    "q29_page_frontier",
    (s, d) => {
      // The reference's crawl frontier (find_last_valid_page,
      // scrap_tokopedia.py:153-186): walk catalog pages from 1 and stop at
      // the first page with zero valid products — the frontier is the last
      // page of the contiguous valid prefix. Re-expressed declaratively
      // over page statistics (valid/invalid product counts per catalog
      // page, the reference's product_validity_count :131-151): among
      // valid pages ordered by page number, row_number() == page exactly
      // on the contiguous-from-1 prefix (page - rn is nondecreasing, so
      // equality never recurs after a gap or an empty page). One window +
      // one agg — the sequential crawl walk becomes two shuffles total,
      // and each catalog's frontier is one group, no iteration.
      pageFrontier(frontierPages(s, d)).orderBy("catalog")
    },
    Some("""WITH pages AS (
        SELECT l_suppkey AS catalog, (l_orderkey % 50) + 1 AS page,
          CAST(SUM(CASE WHEN l_quantity > 1 THEN 1 ELSE 0 END) AS BIGINT) AS valid,
          CAST(SUM(CASE WHEN l_quantity <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS invalid
        FROM lineitem GROUP BY 1, 2),
      walked AS (
        SELECT catalog, page, valid,
          row_number() OVER (PARTITION BY catalog ORDER BY page) AS rn
        FROM pages WHERE valid > 0)
      SELECT catalog,
        CAST(COALESCE(MAX(CASE WHEN page = rn THEN page END), 0) AS BIGINT) AS last_valid_page,
        CAST(COALESCE(SUM(CASE WHEN page = rn THEN valid END), 0) AS BIGINT) AS valid_products
      FROM walked GROUP BY catalog ORDER BY catalog"""),
    // prod: same frontier, no oracle-mode global sort.
    prod = Some((s, d) => pageFrontier(frontierPages(s, d))),
  )

  /** Per-(catalog, page) valid/invalid product counts — the batch analog
    * of the reference's product_validity_count (scrap_tokopedia.py:131-151).
    */
  /** THE synthetic catalog pagination key, shared by every query that
    * models the reference's catalog walk (q29 frontier, q76 link
    * collection) — one engine-side definition so the two cannot
    * silently model different catalogs (the oracle SQL strings remain
    * the two places to keep in sync).
    */
  private def catalogKey = col("l_suppkey").as("catalog")
  private def pageKey = (col("l_orderkey") % 50 + 1).as("page")

  private def frontierPages(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d)
      .groupBy(catalogKey, pageKey)
      .agg(
        sum(when(col("l_quantity") > 1, 1L).otherwise(0L)).as("valid"),
        sum(when(col("l_quantity") <= 1, 1L).otherwise(0L)).as("invalid"))

  /** Contiguous-valid-prefix frontier over a (catalog, page, valid) table:
    * the last page a crawl-from-1 would reach before the first empty or
    * missing page, plus the valid products it would have collected.
    */
  def pageFrontier(pages: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("catalog").orderBy("page")
    pages
      .filter(col("valid") > 0)
      .withColumn("rn", row_number().over(w))
      .groupBy("catalog")
      .agg(
        coalesce(max(when(col("page") === col("rn"), col("page"))), lit(0L))
          .as("last_valid_page"),
        coalesce(sum(when(col("page") === col("rn"), col("valid"))), lit(0L))
          .as("valid_products"))
  }

  private def htmlExtract(s: org.apache.spark.sql.SparkSession, d: String) = {
      // Typed field extraction from a RAW HTML string column — the
      // reference's core extract with its REAL selector semantics: it
      // selects fields by (tag, attrs-dict) from a PARSED tree with
      // BeautifulSoup (scrap_tokopedia.py:50-73 selector table, :231-277
      // extraction + parse), which an anchored regex only approximates
      // (attribute order/extras, multi-class tokens, nested elements in
      // field text — see [[HtmlTree]]). Round 14 moved the engine side
      // to the tolerant tree extractor, per partition in the mm_resize
      // batched-codec shape; the parse rules stay the reference's
      // verbatim (strip "Rp"/dots -> int, strip "%" -> /100; optional
      // fields null when the tag is absent, :257-264).
      // Round-trip discipline (same as q20): the page is RENDERED from
      // part columns with the reference's exact tags/attrs, then the
      // operator under test extracts the fields back out. The DuckDB
      // oracle keeps the regex formulation — on the well-formed
      // synthesized pages tree and regex agree exactly (hash-green),
      // and HtmlTreeSpec pins the cases regex cannot survive.
      // One embarrassingly parallel pass, zero shuffle before the final
      // oracle-mode sort.
      val fmtIdr = (c: Column) =>
        regexp_replace(format_number(c.cast(LongType), 0), ",", ".")
      val html = concat(
        lit("""<html><body><h1 class="css-j63za0" data-testid="lblPDPDetailProductName">"""),
        col("p_name"), lit("</h1>"),
        lit("""<div class="price" data-testid="lblPDPDetailProductPrice">Rp"""),
        fmtIdr(floor(col("p_retailprice") * 1000)), lit("</div>"),
        when(col("p_size") % 4 === 0, concat(
          lit("""<span data-testid="lblPDPDetailOriginalPrice">Rp"""),
          fmtIdr(floor(col("p_retailprice") * 1250)), lit("</span>"),
          lit("""<span data-testid="lblPDPDetailDiscountPercentage">20%</span>""")))
          .otherwise(lit("")),
        lit("""<div data-testid="lblPDPDescriptionProduk">"""),
        col("p_type"), lit("</div></body></html>"))
      import s.implicits._
      Tables.part(s, d)
        .select(col("p_partkey"), html.as("html"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (k, page) => HtmlTree.extractProduct(k, page) })
        .toDF()
  }

  // ------------------------------------------------------------ q45

  /** SCD2 history building over the event change-log: each user's
    * event_type stream compacted to state INTERVALS — version, valid_from/
    * valid_to millis, is_current — the slowly-changing-dimension shape a
    * scrape pipeline needs to answer "what was the state at time T"
    * (the reference's Postgres append table keeps raw rows and leaves the
    * temporal collapse to readers; this materializes it once).
    *
    * Plan shape: two window passes over ONE (user_id) shuffle — change
    * detection via lag, then version/interval assignment via row_number/
    * lead over only the change rows. Skew note: windows partition per
    * user; at 100 TB salt by (user, day) and stitch like
    * [[sessionizeSkewSafe]] — interval stitching composes the same way
    * session stitching does (spec'd there; this keeps the oracle shape).
    */
  private def scd2History(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val changes = Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("prev_state", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_state").isNull || col("event_type") =!= col("prev_state"))
    changes
      .withColumn("version", row_number().over(byUser).cast(LongType))
      .withColumn("valid_to_ms", lead(col("ts_ms"), 1).over(byUser))
      .select(
        col("user_id"),
        col("version"),
        col("event_type").as("state"),
        col("ts_ms").as("valid_from_ms"),
        col("valid_to_ms"),
        when(col("valid_to_ms").isNull, lit(1L)).otherwise(lit(0L)).as("is_current"),
      )
  }

  val q45 = GraftQuery(
    "q45_scd2_history",
    (s, d) => scd2History(s, d).orderBy("user_id", "version"),
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_state
        FROM events),
      c AS (
        SELECT * FROM e WHERE prev_state IS NULL OR event_type <> prev_state),
      v AS (
        SELECT user_id, event_type, ts_ms,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
               LEAD(ts_ms) OVER w AS valid_to_ms
        FROM c WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id))
      SELECT user_id, version, event_type AS state, ts_ms AS valid_from_ms,
             valid_to_ms,
             CAST(CASE WHEN valid_to_ms IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      FROM v ORDER BY user_id, version"""),
    prod = Some((s, d) => scd2History(s, d)),
  )

  // ------------------------------------------------ q53/q55/q58 scaffold

  /** Shared resampling scaffold: each user's event stream joined onto a
    * dense hour spine (min..max observed hour). Hours are exact
    * epoch-hour integers (ts_ms div 3600000) so the spine is integer
    * arithmetic in both engines; per-(user, hour) last-observation via
    * one window rank; spine length = observed span in hours —
    * data-bounded. Yields (user_id, hour, obs_value) with obs_value
    * null on gap hours. All consumers (q53 ffill, q55 lerp, q58
    * nearest) layer windows over the SAME user partitioning, so the
    * whole family costs one user-keyed exchange plus window sorts.
    * Skew note as q25: salt by (user, day) and stitch at 100 TB.
    */
  private def hourSpineObs(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val ev = Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("hour", expr("ts_ms div 3600000"))
    val byHour = Window.partitionBy("user_id", "hour")
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    val lastPerHour = ev
      .withColumn("rn", row_number().over(byHour))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("hour"), col("value").as("obs_value"))
    val spine = ev
      .groupBy("user_id")
      .agg(min("hour").as("h0"), max("hour").as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("hour"))
    spine.join(lastPerHour, Seq("user_id", "hour"), "left")
  }

  /** Running frame over ascending hour: O(n) per partition. */
  private val spineBack = Window.partitionBy("user_id").orderBy(col("hour").asc)
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** Forward-neighbor lookup as a running frame over DESCENDING hour —
    * the scale-safe mirror of `(currentRow, unboundedFollowing)`.
    * Spark implements UNBOUNDED FOLLOWING lower-bounded frames with
    * UnboundedFollowingWindowFunctionFrame, which re-scans to the
    * partition end for every output row — O(rows²) per user (measured:
    * 37.9 s vs 1.65 s for the identical-spine q53 at sf0.1). A running
    * frame over the reversed sort computes the same "first non-null at
    * or after this hour" in one O(n) pass.
    */
  private val spineFwd = Window.partitionBy("user_id").orderBy(col("hour").desc)
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  // ------------------------------------------------------------ q53

  /** Hourly resampling with forward-fill: carrying the last observed
    * value forward through empty hours — the gap-fill that turns an
    * irregular scrape/price log into an analysis-ready series. The
    * filled value is COPIED (never aggregated), so doubles hash-match
    * bit-for-bit. Spine semantics in [[hourSpineObs]].
    */
  private def resampleFfill(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    hourSpineObs(s, d)
      .select(
        col("user_id"),
        col("hour"),
        last(col("obs_value"), ignoreNulls = true).over(spineBack).as("value"),
        when(col("obs_value").isNotNull, lit(1L)).otherwise(lit(0L)).as("is_observed"))

  val q53 = GraftQuery(
    "q53_resample_ffill",
    (s, d) => resampleFfill(s, d).orderBy("user_id", "hour"),
    Some("""WITH e AS (
        SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
               epoch_ms(ts) // 3600000 AS hour
        FROM events),
      ranked AS (
        SELECT user_id, hour, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, hour ORDER BY ts_ms DESC, event_id DESC) AS rn
        FROM e),
      obs AS (SELECT user_id, hour, value AS obs_value FROM ranked WHERE rn = 1),
      span AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM e GROUP BY user_id),
      spine AS (
        SELECT user_id, CAST(h AS BIGINT) AS hour
        FROM span CROSS JOIN UNNEST(range(h0, h1 + 1)) AS u(h))
      SELECT s.user_id, s.hour,
        LAST_VALUE(o.obs_value IGNORE NULLS) OVER (
          PARTITION BY s.user_id ORDER BY s.hour
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        CAST(CASE WHEN o.obs_value IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_observed
      FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.hour = s.hour
      ORDER BY s.user_id, s.hour"""),
    prod = Some((s, d) => resampleFfill(s, d)),
  )

  // ------------------------------------------------------------ q55

  /** Linear-interpolation resampling — q53's spine with gap hours
    * interpolated between the surrounding observations instead of
    * carried forward (edges fall back to nearest-observation fill).
    * The lerp runs in double precision but is PER-ROW arithmetic on
    * values copied from parquet — no aggregation-order dependence — and
    * both engines evaluate the same expression tree on the same IEEE
    * doubles, so the result hash-matches (the q25 duration_sec
    * precedent, extended to multiplication/division chains).
    *
    * The forward neighbor (nv/nh) is computed with [[spineFwd]] — a
    * running frame over descending hour — NOT an UNBOUNDED FOLLOWING
    * frame, which is quadratic per partition in Spark. Both passes sort
    * within the same user exchange; PlanAuditSpec pins the frame shape
    * registry-wide.
    */
  private def resampleLerp(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    hourSpineObs(s, d)
      .withColumn("obs_hour", when(col("obs_value").isNotNull, col("hour")))
      .withColumn("pv", last(col("obs_value"), ignoreNulls = true).over(spineBack))
      .withColumn("ph", last(col("obs_hour"), ignoreNulls = true).over(spineBack))
      .withColumn("nv", last(col("obs_value"), ignoreNulls = true).over(spineFwd))
      .withColumn("nh", last(col("obs_hour"), ignoreNulls = true).over(spineFwd))
      .select(
        col("user_id"),
        col("hour"),
        when(col("obs_value").isNotNull, col("obs_value"))
          .when(col("pv").isNotNull && col("nv").isNotNull && col("nh") =!= col("ph"),
            col("pv") + (col("nv") - col("pv")) * (col("hour") - col("ph")) / (col("nh") - col("ph")))
          .when(col("pv").isNotNull, col("pv"))
          .otherwise(col("nv")).as("value"),
        when(col("obs_value").isNotNull, lit(1L)).otherwise(lit(0L)).as("is_observed"))

  val q55 = GraftQuery(
    "q55_resample_lerp",
    (s, d) => resampleLerp(s, d).orderBy("user_id", "hour"),
    Some("""WITH e AS (
        SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
               epoch_ms(ts) // 3600000 AS hour
        FROM events),
      ranked AS (
        SELECT user_id, hour, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, hour ORDER BY ts_ms DESC, event_id DESC) AS rn
        FROM e),
      obs AS (SELECT user_id, hour, value AS obs_value FROM ranked WHERE rn = 1),
      span AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM e GROUP BY user_id),
      spine AS (
        SELECT user_id, CAST(h AS BIGINT) AS hour
        FROM span CROSS JOIN UNNEST(range(h0, h1 + 1)) AS u(h)),
      ctx AS (
        SELECT s.user_id, s.hour, o.obs_value,
          LAST_VALUE(o.obs_value IGNORE NULLS) OVER w_back AS pv,
          LAST_VALUE(CASE WHEN o.obs_value IS NOT NULL THEN s.hour END IGNORE NULLS) OVER w_back AS ph,
          FIRST_VALUE(o.obs_value IGNORE NULLS) OVER w_fwd AS nv,
          FIRST_VALUE(CASE WHEN o.obs_value IS NOT NULL THEN s.hour END IGNORE NULLS) OVER w_fwd AS nh
        FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.hour = s.hour
        WINDOW
          w_back AS (PARTITION BY s.user_id ORDER BY s.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_fwd AS (PARTITION BY s.user_id ORDER BY s.hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, hour,
        CASE WHEN obs_value IS NOT NULL THEN obs_value
             WHEN pv IS NOT NULL AND nv IS NOT NULL AND nh <> ph
               THEN pv + (nv - pv) * (hour - ph) / (nh - ph)
             WHEN pv IS NOT NULL THEN pv
             ELSE nv END AS value,
        CAST(CASE WHEN obs_value IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_observed
      FROM ctx ORDER BY user_id, hour"""),
    prod = Some((s, d) => resampleLerp(s, d)),
  )

  // ------------------------------------------------------------ q56

  /** Event-transition (Markov) matrix: P(next event_type | event_type)
    * over each user's time-ordered stream — the user-journey analytics
    * behind funnel design (which step follows which, where sessions
    * leak). Counts via one lag window over the user partitioning, one
    * hash aggregate; probability as integer ppm (count·10^6 div
    * row-total) so the matrix hash-matches exactly.
    *
    * Row totals come from a window over the ALREADY-AGGREGATED pairs
    * (|types|² rows), not a re-aggregation joined back: referencing the
    * pairs plan twice would re-scan the corpus and re-run the lag
    * window for a second time (plan-audited to one corpus scan).
    *
    * `maxGapMs` bounds the pair to a within-session transition (q57);
    * None counts every consecutive pair (q56). ONE definition of the
    * lag/aggregate/ppm pipeline serves both so the tie-break order and
    * ppm formula cannot diverge between the matrices.
    */
  private def transitionMatrix(s: org.apache.spark.sql.SparkSession, d: String,
      maxGapMs: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val paired = Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
    val inScope = maxGapMs.foldLeft(paired.filter(col("prev_type").isNotNull)) {
      (df, gap) => df.filter(col("ts_ms") - col("prev_ms") <= gap)
    }
    inScope
      .groupBy(col("prev_type").as("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum("n").over(Window.partitionBy("from_type")))
      .select(
        col("from_type"),
        col("to_type"),
        col("n"),
        expr("n * 1000000L div row_total").as("p_ppm"))
  }

  val q56 = GraftQuery(
    "q56_transition_matrix",
    (s, d) => transitionMatrix(s, d).orderBy("from_type", "to_type"),
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_type
        FROM events),
      pairs AS (
        SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
        FROM e WHERE prev_type IS NOT NULL
        GROUP BY 1, 2),
      totals AS (SELECT from_type, SUM(n) AS row_total FROM pairs GROUP BY 1)
      SELECT p.from_type, p.to_type,
        CAST(p.n AS BIGINT) AS n,
        CAST(p.n * 1000000 // t.row_total AS BIGINT) AS p_ppm
      FROM pairs p JOIN totals t USING (from_type)
      ORDER BY p.from_type, p.to_type"""),
    prod = Some((s, d) => transitionMatrix(s, d)),
  )

  // ------------------------------------------------------------ q57

  /** Session-conditioned transition matrix: q56 restricted to
    * transitions WITHIN a 30-minute-gap session (q25's boundary rule) —
    * the denominator funnel design actually needs, since a "transition"
    * across a week-long absence is noise. No session id is
    * materialized: sessions partition each user's ordered stream
    * contiguously, so a pair is within-session exactly when the gap to
    * the previous event is <= the session gap. Same [[transitionMatrix]]
    * pipeline, bounded gap.
    */
  private def sessionTransitions(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    transitionMatrix(s, d, maxGapMs = Some(1800000L))

  val q57 = GraftQuery(
    "q57_session_transitions",
    (s, d) => sessionTransitions(s, d).orderBy("from_type", "to_type"),
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_type,
               LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        FROM events),
      pairs AS (
        SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
        FROM e WHERE prev_type IS NOT NULL AND ts_ms - prev_ms <= 1800000
        GROUP BY 1, 2)
      SELECT from_type, to_type,
        CAST(n AS BIGINT) AS n,
        CAST(n * 1000000 // SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
      FROM pairs
      ORDER BY from_type, to_type"""),
    prod = Some((s, d) => sessionTransitions(s, d)),
  )

  // ------------------------------------------------------------ q58

  /** Nearest-observation resampling — the third consumer of
    * [[hourSpineObs]]: each gap hour takes the value of whichever
    * surrounding observation is closer in hours (ties break to the
    * earlier one, matching ffill's bias); edges fall back to the only
    * side that exists. The value is COPIED, never computed, so doubles
    * hash-match bit-for-bit. Same two running frames as q55 — one user
    * exchange, O(n) passes (plan-audited with its siblings).
    */
  private def resampleNearest(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    hourSpineObs(s, d)
      .withColumn("obs_hour", when(col("obs_value").isNotNull, col("hour")))
      .withColumn("pv", last(col("obs_value"), ignoreNulls = true).over(spineBack))
      .withColumn("ph", last(col("obs_hour"), ignoreNulls = true).over(spineBack))
      .withColumn("nv", last(col("obs_value"), ignoreNulls = true).over(spineFwd))
      .withColumn("nh", last(col("obs_hour"), ignoreNulls = true).over(spineFwd))
      .select(
        col("user_id"),
        col("hour"),
        when(col("obs_value").isNotNull, col("obs_value"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .when(col("hour") - col("ph") <= col("nh") - col("hour"), col("pv"))
          .otherwise(col("nv")).as("value"),
        when(col("obs_value").isNotNull, lit(1L)).otherwise(lit(0L)).as("is_observed"))

  val q58 = GraftQuery(
    "q58_resample_nearest",
    (s, d) => resampleNearest(s, d).orderBy("user_id", "hour"),
    Some("""WITH e AS (
        SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
               epoch_ms(ts) // 3600000 AS hour
        FROM events),
      ranked AS (
        SELECT user_id, hour, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, hour ORDER BY ts_ms DESC, event_id DESC) AS rn
        FROM e),
      obs AS (SELECT user_id, hour, value AS obs_value FROM ranked WHERE rn = 1),
      span AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1 FROM e GROUP BY user_id),
      spine AS (
        SELECT user_id, CAST(h AS BIGINT) AS hour
        FROM span CROSS JOIN UNNEST(range(h0, h1 + 1)) AS u(h)),
      ctx AS (
        SELECT s.user_id, s.hour, o.obs_value,
          LAST_VALUE(o.obs_value IGNORE NULLS) OVER w_back AS pv,
          LAST_VALUE(CASE WHEN o.obs_value IS NOT NULL THEN s.hour END IGNORE NULLS) OVER w_back AS ph,
          FIRST_VALUE(o.obs_value IGNORE NULLS) OVER w_fwd AS nv,
          FIRST_VALUE(CASE WHEN o.obs_value IS NOT NULL THEN s.hour END IGNORE NULLS) OVER w_fwd AS nh
        FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.hour = s.hour
        WINDOW
          w_back AS (PARTITION BY s.user_id ORDER BY s.hour ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_fwd AS (PARTITION BY s.user_id ORDER BY s.hour ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      SELECT user_id, hour,
        CASE WHEN obs_value IS NOT NULL THEN obs_value
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             WHEN hour - ph <= nh - hour THEN pv
             ELSE nv END AS value,
        CAST(CASE WHEN obs_value IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_observed
      FROM ctx ORDER BY user_id, hour"""),
    prod = Some((s, d) => resampleNearest(s, d)),
  )

  // ------------------------------------------------------------ q59

  /** Cohort retention: users grouped by first-seen day, activity counted
    * by day offset from that cohort day — the journey-analytics matrix
    * behind "do day-0 signups come back on day 7". First-seen day is a
    * whole-partition window min (one corpus scan, one user exchange —
    * NOT a per-user aggregate joined back, which would scan events
    * twice); retention normalizes by the cohort's day-0 active count,
    * read from a running first() over the already-aggregated cohort
    * rows (day 0 always exists — the cohort day is itself an active
    * day). Integer days and ppm, so the matrix hash-matches exactly.
    */
  private def retentionCohort(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val active = Events.withEventTime(s, d)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .withColumn("cohort_day", min("day").over(Window.partitionBy("user_id")))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct("user_id").as("n_active"))
    val byCohort = Window.partitionBy("cohort_day").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active
      .withColumn("cohort_size",
        first(when(col("day_offset") === 0, col("n_active")), ignoreNulls = true).over(byCohort))
      .select(
        col("cohort_day"),
        col("day_offset"),
        col("n_active"),
        expr("n_active * 1000000L div cohort_size").as("retention_ppm"))
  }

  val q59 = GraftQuery(
    "q59_retention_cohort",
    (s, d) => retentionCohort(s, d).orderBy("cohort_day", "day_offset"),
    Some("""WITH e AS (
        SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      c AS (
        SELECT user_id, day, MIN(day) OVER (PARTITION BY user_id) AS cohort_day FROM e),
      a AS (
        SELECT cohort_day, day - cohort_day AS day_offset,
               COUNT(DISTINCT user_id) AS n_active
        FROM c GROUP BY 1, 2),
      s AS (SELECT cohort_day, n_active AS cohort_size FROM a WHERE day_offset = 0)
      SELECT a.cohort_day, a.day_offset,
        CAST(a.n_active AS BIGINT) AS n_active,
        CAST(a.n_active * 1000000 // s.cohort_size AS BIGINT) AS retention_ppm
      FROM a JOIN s USING (cohort_day)
      ORDER BY a.cohort_day, a.day_offset"""),
    prod = Some((s, d) => retentionCohort(s, d)),
  )

  // ------------------------------------------------------------ q62

  /** Inter-event cadence histogram: the distribution of gaps between a
    * user's consecutive events, bucketed per event_type of the LATER
    * event — the dwell-time/cadence analytics behind session-gap tuning
    * (q25's 30-minute rule is a parameter this histogram justifies).
    * Buckets are a fixed CASE ladder over exact integer millisecond
    * boundaries (no float log buckets), so both engines bucket
    * identically and the histogram hash-matches; shares as integer ppm
    * via a window over the aggregated rows (one corpus scan, q56's
    * shape).
    */
  private def gapHistogram(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
    val bucket = when(col("gap_ms") < 1000L, "a_lt_1s")
      .when(col("gap_ms") < 60000L, "b_lt_1m")
      .when(col("gap_ms") < 600000L, "c_lt_10m")
      .when(col("gap_ms") < 1800000L, "d_lt_30m")
      .when(col("gap_ms") < 86400000L, "e_lt_1d")
      .otherwise("f_ge_1d")
    Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(byUser))
      .filter(col("prev_ms").isNotNull)
      .withColumn("gap_ms", col("ts_ms") - col("prev_ms"))
      .groupBy(col("event_type"), bucket.as("gap_bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share_ppm",
        expr("n * 1000000L div sum(n) over (partition by event_type)"))
  }

  val q62 = GraftQuery(
    "q62_gap_histogram",
    (s, d) => gapHistogram(s, d).orderBy("event_type", "gap_bucket"),
    Some("""WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
               LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        FROM events),
      g AS (
        SELECT event_type, ts_ms - prev_ms AS gap_ms FROM e WHERE prev_ms IS NOT NULL),
      b AS (
        SELECT event_type,
          CASE WHEN gap_ms < 1000 THEN 'a_lt_1s'
               WHEN gap_ms < 60000 THEN 'b_lt_1m'
               WHEN gap_ms < 600000 THEN 'c_lt_10m'
               WHEN gap_ms < 1800000 THEN 'd_lt_30m'
               WHEN gap_ms < 86400000 THEN 'e_lt_1d'
               ELSE 'f_ge_1d' END AS gap_bucket
        FROM g),
      c AS (SELECT event_type, gap_bucket, COUNT(*) AS n FROM b GROUP BY 1, 2)
      SELECT event_type, gap_bucket, CAST(n AS BIGINT) AS n,
        CAST(n * 1000000 // SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS share_ppm
      FROM c
      ORDER BY event_type, gap_bucket"""),
    prod = Some((s, d) => gapHistogram(s, d)),
  )

  // ------------------------------------------------------------ q67

  /** Rolling 24-hour activity per event: for every event, the count and
    * exact decimal sum of the SAME user's events in the trailing 24 h —
    * the RANGE-frame shape (frame bounds in VALUE units, not rows) that
    * q08's running row frame doesn't cover; rate-limit/fraud-style
    * analytics. Range frames on the ms axis include all tied
    * timestamps, so the result is tie-order independent; the sum is
    * decimal, so it is partition-order exact. One user exchange, one
    * O(n) sliding frame per partition.
    */
  private def rolling24h(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(-86399999L, Window.currentRow)
    Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .select(
        col("event_id"), col("user_id"), col("ts_ms"),
        count(lit(1)).over(w).as("n_24h"),
        sum(col("value").cast(DecimalType(18, 4))).over(w).cast("double").as("sum_value_24h"))
  }

  /** Scale-safe q67 (ProdParitySpec pins it row-identical to the RANGE
    * frame): Spark executes sliding aggregate frames by RE-AGGREGATING
    * the whole frame every time the bounds move (no retraction), so the
    * oracle's RANGE frame costs O(rows × frame_width) per partition — a
    * mega-user whose 24 h holds 86k events did not finish a 300k-row
    * probe in 10 minutes (ScaleProbe14). This form is three O(n) passes
    * over the SAME user exchange: (1) running prefix count/decimal-sum
    * per event; (2) a tagged union of data rows and one PROBE row per
    * event at ts − 24 h, where a running last(ignoreNulls) carries the
    * prefix at-or-before each probe (data sorts before probes on ties,
    * so rows at exactly ts − 24 h land in the excluded prefix, matching
    * the frame's 86399999-PRECEDING lower edge); (3) trailing count/sum
    * = own prefix − carried prefix, exact in integers/decimals.
    */
  private def rolling24hProd(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val win = 86400000L
    // RANGE-running prefix (a GROWING frame — Spark updates it
    // incrementally, unlike sliding frames): every row tied on ts_ms
    // carries the prefix through its whole tie group, matching the
    // RANGE frame's all-ties-included semantics.
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val pref = Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"))
      .withColumn("pc", count(lit(1)).over(byUser))
      .withColumn("ps", sum(col("value").cast(DecimalType(18, 4))).over(byUser))
    val data = pref.select(
      col("user_id"), col("ts_ms").as("t"), lit(0).as("kind"), col("pc"), col("ps"),
      lit(null).cast("long").as("probe_event"),
      lit(null).cast("long").as("probe_ts"),
      lit(null).cast("long").as("own_pc"),
      lit(null).cast(DecimalType(28, 4)).as("own_ps"))
    val probes = pref.select(
      col("user_id"), (col("ts_ms") - win).as("t"), lit(1).as("kind"),
      lit(null).cast("long").as("pc"), lit(null).cast(DecimalType(28, 4)).as("ps"),
      col("event_id").as("probe_event"), col("ts_ms").as("probe_ts"),
      col("pc").as("own_pc"), col("ps").as("own_ps"))
    val carry = Window.partitionBy("user_id").orderBy(col("t"), col("kind"), col("pc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    data.unionByName(probes)
      .withColumn("cpc", last(col("pc"), ignoreNulls = true).over(carry))
      .withColumn("cps", last(col("ps"), ignoreNulls = true).over(carry))
      .filter(col("kind") === 1)
      .select(
        col("probe_event").as("event_id"),
        col("user_id"),
        col("probe_ts").as("ts_ms"),
        (col("own_pc") - coalesce(col("cpc"), lit(0L))).as("n_24h"),
        (col("own_ps") - coalesce(col("cps"), lit(0).cast(DecimalType(28, 4))))
          .cast("double").as("sum_value_24h"))
  }

  val q67 = GraftQuery(
    "q67_rolling_24h",
    (s, d) => rolling24h(s, d).orderBy("event_id"),
    Some("""SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
        COUNT(*) OVER w AS n_24h,
        CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_value_24h
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 86399999 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""),
    prod = Some((s, d) => rolling24hProd(s, d)),
  )

  // ------------------------------------------------------------ q68

  /** Windowed conversion funnel: of users who signed up, how many
    * purchased WITHIN 7 days of their first signup — q26's funnel with
    * the conversion window product analytics actually uses (unbounded
    * funnels overcount: a purchase a year later is not attribution).
    * First-signup time via a whole-partition window min (one scan, one
    * user exchange — the q59 shape), conversion delay averaged through
    * an exact decimal sum so the double is partition-order invariant.
    */
  private def funnelWindowed(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val week = 7L * 86400000L
    val perUser = Events.withEventTime(s, d)
      .withColumn("ts_ms", unix_millis(col("ts")))
      .withColumn("t_signup",
        min(when(col("event_type") === "signup", col("ts_ms"))).over(Window.partitionBy("user_id")))
      .filter(col("t_signup").isNotNull)
      .groupBy("user_id")
      .agg(
        first(col("t_signup")).as("t_signup"),
        min(when(col("event_type") === "purchase" &&
            col("ts_ms") > col("t_signup") && col("ts_ms") <= col("t_signup") + week,
          col("ts_ms"))).as("t_conv"))
    perUser.agg(
      count(lit(1)).as("n_signup_users"),
      count(col("t_conv")).as("n_converted_7d"),
      expr("count(t_conv) * 1000000L div count(1)").as("conv_ppm"),
      (sum((col("t_conv") - col("t_signup")).cast(DecimalType(18, 0))).cast("double") /
        count(col("t_conv")) / 3600000.0).as("avg_hours_to_convert"))
  }

  val q68 = GraftQuery(
    "q68_funnel_windowed",
    (s, d) => funnelWindowed(s, d),
    Some("""WITH e AS (
        SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
               MIN(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END)
                 OVER (PARTITION BY user_id) AS t_signup
        FROM events),
      pu AS (
        SELECT user_id, MIN(t_signup) AS t_signup,
          MIN(CASE WHEN event_type = 'purchase' AND ts_ms > t_signup
                    AND ts_ms <= t_signup + 604800000 THEN ts_ms END) AS t_conv
        FROM e WHERE t_signup IS NOT NULL
        GROUP BY user_id)
      SELECT COUNT(*) AS n_signup_users,
        COUNT(t_conv) AS n_converted_7d,
        CAST(COUNT(t_conv) * 1000000 // COUNT(*) AS BIGINT) AS conv_ppm,
        CAST(SUM(CAST(t_conv - t_signup AS DECIMAL(18,0))) AS DOUBLE)
          / COUNT(t_conv) / 3600000.0 AS avg_hours_to_convert
      FROM pu"""),
    prod = Some((s, d) => funnelWindowed(s, d)),
  )

  // ------------------------------------------------------------ q70

  /** Session-duration distribution per day: p50/p90/p99 and mean of
    * q25's session durations, grouped by the day the session started —
    * the operational dashboard behind session-gap tuning (q62 justifies
    * the 30-min rule; this tracks what it produces). Reuses q25's exact
    * two-window sessionization, then one aggregate over session
    * summaries (corpus-scan-free second stage: sessions are already
    * thousands-fold smaller than events). percentile_cont is an exact
    * interpolated percentile over each day's sorted durations —
    * deterministic in both engines (q14's precedent).
    */
  private def sessionPercentiles(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val sessions = sessionized(s, d)
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_ms")).as("start_ms"), max(col("ts_ms")).as("end_ms"))
      .select(
        expr("start_ms div 86400000").as("day"),
        ((col("end_ms") - col("start_ms")) / 1000.0).as("duration_sec"))
    sessions
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_sessions"),
        expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY duration_sec)").as("p50_sec"),
        expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY duration_sec)").as("p90_sec"),
        expr("percentile_cont(0.99) WITHIN GROUP (ORDER BY duration_sec)").as("p99_sec"),
        davg(col("duration_sec"), 6).as("mean_sec"))
  }

  val q70 = GraftQuery(
    "q70_session_percentiles",
    (s, d) => sessionPercentiles(s, d).orderBy("day"),
    Some("""WITH lagged AS (
        SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
               LAG(epoch_ms(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms
        FROM events),
      flagged AS (
        SELECT *, CASE WHEN prev_ms IS NULL OR ts_ms - prev_ms > 1800000 THEN 1 ELSE 0 END AS is_new
        FROM lagged),
      sess AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged),
      durs AS (
        SELECT MIN(ts_ms) // 86400000 AS day,
               (MAX(ts_ms) - MIN(ts_ms)) / 1000.0 AS duration_sec
        FROM sess GROUP BY user_id, session_id)
      SELECT day, COUNT(*) AS n_sessions,
        percentile_cont(0.5) WITHIN GROUP (ORDER BY duration_sec) AS p50_sec,
        percentile_cont(0.9) WITHIN GROUP (ORDER BY duration_sec) AS p90_sec,
        percentile_cont(0.99) WITHIN GROUP (ORDER BY duration_sec) AS p99_sec,
        CAST(SUM(CAST(duration_sec AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_sec
      FROM durs GROUP BY day ORDER BY day"""),
    prod = Some((s, d) => sessionPercentiles(s, d)),
  )

  /** Canonicalize a raw URL column — the crawl-frontier dedup rule every
    * large-scale scraping/corpus pipeline applies before "have I fetched
    * this?" (the reference re-crawls category pages; URL aliasing is why
    * naive frontiers balloon): lowercase scheme+host, strip the scheme's
    * own default port (`:443` for https, `:80` for http — symmetric, a
    * non-default port always survives), drop the fragment, strip
    * trailing path slashes, drop tracking params (utm*, ref), and SORT
    * the surviving query params so param order cannot alias. The scheme
    * is PRESERVED: http://x and https://x are different fetches (servers
    * may answer them differently), so collapsing them would alias
    * distinct frontier entries — a crawler that treats them as one page
    * should redirect-normalize upstream, not here. Pure codegen'd
    * string/regex/array ops — stateless map work; the only exchange in
    * [[q74]] is the final canonical-key aggregate. Policy note:
    * `utm%`/`ref=` prefixes are the canonicalization contract here,
    * stated identically in the oracle.
    */
  def canonicalizeUrl(raw: Column): Column = {
    val noFrag = regexp_replace(raw, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val host0 = lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1))
    val host = when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .otherwise(host0)
    val path = regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", "")
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_join(
      array_sort(filter(split(query, "&"),
        p => !(p.like("utm%") || p.like("ref=%") || p === ""))), "&")
    concat(scheme, lit("://"), host, path,
      when(kept === "", lit("")).otherwise(concat(lit("?"), kept)))
  }

  val q74 = GraftQuery(
    "q74_url_canonical",
    (s, d) => {
      // Three deterministic alias spellings per product page (case, default
      // port + trailing slash + fragment, tracking params + param order) —
      // the q28 synthesize-then-operate pattern; canonicalization must
      // collapse each page's aliases to ONE frontier key.
      val k = col("p_partkey").cast("string")
      val raws = Tables.part(s, d).select(
        explode(array(
          concat(lit("HTTPS://Shop.Example.COM/p/"), k, lit("?sku="), k, lit("&a=1&utm_source=mail")),
          concat(lit("https://shop.example.com:443/p/"), k, lit("/?a=1&sku="), k, lit("#frag")),
          concat(lit("https://shop.example.com/p/"), k, lit("?utm_campaign=x&ref=home&a=1&sku="), k),
        )).as("raw_url"))
      raws
        .select(canonicalizeUrl(col("raw_url")).as("canonical_url"), col("raw_url"))
        .groupBy("canonical_url")
        .agg(
          count(lit(1)).as("n_raw"),
          countDistinct(col("raw_url")).as("n_distinct_raw"))
        .orderBy("canonical_url")
    },
    Some("""WITH raws AS (
        SELECT unnest([
          'HTTPS://Shop.Example.COM/p/' || CAST(p_partkey AS VARCHAR) || '?sku=' || CAST(p_partkey AS VARCHAR) || '&a=1&utm_source=mail',
          'https://shop.example.com:443/p/' || CAST(p_partkey AS VARCHAR) || '/?a=1&sku=' || CAST(p_partkey AS VARCHAR) || '#frag',
          'https://shop.example.com/p/' || CAST(p_partkey AS VARCHAR) || '?utm_campaign=x&ref=home&a=1&sku=' || CAST(p_partkey AS VARCHAR)
        ]) AS raw_url
        FROM part),
      nofrag AS (
        SELECT raw_url, regexp_replace(raw_url, '#.*$', '') AS nf FROM raws),
      pieces AS (
        SELECT raw_url,
          lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) AS scheme,
          lower(regexp_extract(nf, '^[A-Za-z]+://([^/?#]+)', 1)) AS host0,
          regexp_replace(regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
          array_to_string(list_sort(list_filter(string_split(regexp_extract(nf, '\?([^#]*)', 1), '&'), p -> NOT (p LIKE 'utm%' OR p LIKE 'ref=%' OR p = ''))), '&') AS kept
        FROM nofrag),
      canon AS (
        SELECT raw_url,
          scheme || '://'
          || CASE WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                  WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                  ELSE host0 END
          || path
          || CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canonical_url
        FROM pieces)
      SELECT canonical_url,
        COUNT(*) AS n_raw,
        CAST(COUNT(DISTINCT raw_url) AS BIGINT) AS n_distinct_raw
      FROM canon GROUP BY canonical_url ORDER BY canonical_url"""),
  )

  val q76 = GraftQuery(
    "q76_catalog_links",
    // The reference's CATALOG LINK COLLECTION leg under the hard gate
    // (scrap_tokopedia.py:190-204): find_all product anchors on a
    // catalog page and EXCLUDE any whose subtree contains the nested
    // invalid-product shadow marker — the tree-containment semantics
    // q28's field extraction cannot exercise. Synthesize-then-operate:
    // each lineitem row renders as a product-card anchor (quantity<=1
    // products get the shadow marker planted INSIDE the anchor, the
    // reference's marker-as-descendant shape), rows concatenate into
    // one catalog page per (catalog, page), and the engine parses the
    // RAW HTML back through HtmlTree.collectValidLinks per partition.
    // The DuckDB oracle never parses HTML: it derives the expected
    // link set relationally from the same source columns — the gate
    // grades the tree walk + exclusion, not the synthesis. Output
    // sorted by (catalog, page, href), so the in-page anchor order
    // (and the collect_list order it came from) is immaterial.
    (s, d) => catalogLinks(s, d).orderBy("catalog", "page", "href"),
    Some("""SELECT l_suppkey AS catalog,
        CAST((l_orderkey % 50) + 1 AS BIGINT) AS page,
        '/p/' || CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS href
      FROM lineitem WHERE l_quantity > 1
      ORDER BY catalog, page, href"""),
    // prod: same extraction, no oracle-mode global sort
    prod = Some((s, d) => catalogLinks(s, d)),
  )

  // private[graft]: Graph.q108/q109 build the REAL crawl-graph edges
  // from this extraction (r19 verdict item 2) — the link set flows
  // from parsed HTML, never from the generating columns
  private[graft] def catalogLinks(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    // Anchor rendering over a collected (ok, ln, valid) struct — the
    // SAME anchor law as before r20, applied AFTER the page exchange
    // (guide §2.3 "project before the exchange"): the groupBy shuffle
    // now carries ~17-byte structs instead of ~150-byte rendered anchor
    // HTML, and the page body synthesizes post-shuffle from the
    // collected array in one codegen-free transform over already-
    // grouped rows. The extracted link SET is unchanged (every struct
    // renders the identical anchor; in-page anchor ORDER moves from
    // anchor-string sort to (ok, ln) sort — both deterministic, and
    // the parse output is order-free). VALID is the `> 1` branch so a
    // NULL quantity falls to the marker side — exactly complementary
    // to the oracle's WHERE l_quantity > 1 (which also drops NULLs).
    val anchorOf = (x: Column) => concat(
      lit("""<a class="product-card css-1f2x9"""), (x.getField("ok") % 7).cast("string"),
      lit("""" href="/p/"""), x.getField("ok").cast("string"), lit("-"),
      x.getField("ln").cast("string"), lit("\">"),
      lit("""<span class="name">item </span>"""),
      when(x.getField("valid"),
        lit("")) // the shadow marker, nested one level INSIDE the anchor
        .otherwise(lit("""<span><div class="_4A0sz2e6IddlQgpD0HR6qw==">ad</div></span>""")),
      lit("</a>"))
    Tables.lineitem(s, d)
      .select(catalogKey, pageKey,
        struct(
          col("l_orderkey").as("ok"), col("l_linenumber").cast("long").as("ln"),
          when(col("l_quantity") > 1, lit(true)).otherwise(lit(false)).as("valid")).as("item"))
      .groupBy("catalog", "page")
      // sort_array for a DETERMINISTIC page body (collect_list order is
      // partition-dependent); (ok, ln) is unique per row so the struct
      // sort is total — the extracted link SET is order-free anyway,
      // but determinism keeps the html column itself stable
      .agg(sort_array(collect_list(col("item"))).as("items"))
      .select(col("catalog"), col("page"),
        concat(lit("<html><body>"),
          array_join(transform(col("items"), anchorOf), ""),
          lit("</body></html>")).as("html"))
      .as[(Long, Long, String)]
      .mapPartitions(_.flatMap { case (catalog, page, html) =>
        HtmlTree.collectValidLinks(html, ("a", Map("class" -> "product-card")))
          .map(href => (catalog, page, href))
      })
      .toDF("catalog", "page", "href")
  }

  val q78 = GraftQuery(
    "q78_html_to_text",
    // WHOLE-PAGE MAIN-CONTENT EXTRACTION under the hard gate — the
    // C4/RefinedWeb boilerplate-removal leg between "raw crawl" and
    // the q31/q72/q75 quality gates, generalizing the reference's
    // per-field get_text (scrap_tokopedia.py:231-277) to the corpus
    // case. Synthesize-then-operate (the q76 pattern): every document
    // row renders as a full page — head/title/script/style, nav,
    // header chrome, an article whose heading nests inline markup and
    // an entity, two content paragraphs (the doc text split in half),
    // a link farm, a paragraph with inline <i> and a <br>, a footer,
    // a comment — and the engine recovers the clean text through the
    // GENERIC three-rule extractor (prune chrome subtrees, assemble
    // block-level lines, drop link-dense lines), never through the
    // generating columns. The DuckDB oracle never parses HTML: it
    // states the expected clean text relationally from the same
    // source columns, so the gate grades pruning, line assembly,
    // whitespace normalization, entity decoding, raw-script skipping,
    // <br> line breaks, and the link-density drop — per row, at both
    // scales.
    (s, d) => htmlToText(s, d).orderBy("doc_id"),
    // the text is whitespace-NORMALIZED before splitting (both sides,
    // same law: exotic-ws map from the shared codepoint set, \s+
    // collapse, THEN trim — only 0x20 can remain at the ends after the
    // collapse, so space-trim strips every edge) and the
    // content-paragraph lines are CONDITIONAL on their half being
    // non-empty (the extractor drops empty lines), so the gate
    // survives 1-word / empty / NULL / irregular-whitespace docs
    // instead of assuming the generator's >=10-single-spaced-words
    // shape — the HtmlTreeSpec edge test pins those shapes
    Some(s"""WITH w AS (
        SELECT doc_id, lang, source,
          string_split(${wsNormSql("text")}, ' ') AS words
        FROM documents),
      h AS (
        SELECT doc_id, lang, source,
          array_to_string(words[1:(len(words)+1)//2], ' ') AS half1,
          array_to_string(words[(len(words)+1)//2+1:len(words)], ' ') AS half2
        FROM w)
      SELECT doc_id,
        'Doc ' || CAST(doc_id AS VARCHAR) || ' & friends'
          || CASE WHEN half1 <> '' THEN chr(10) || half1 ELSE '' END
          || CASE WHEN half2 <> '' THEN chr(10) || half2 ELSE '' END
          || chr(10) || rtrim('Lang ' || ${wsNormSql("lang")})
          || chr(10) || rtrim('from ' || ${wsNormSql("source")}) AS main_text,
        CAST(3 + CASE WHEN half1 <> '' THEN 1 ELSE 0 END
               + CASE WHEN half2 <> '' THEN 1 ELSE 0 END AS INT) AS n_lines,
        CAST(1 AS INT) AS n_boiler_lines
      FROM h ORDER BY doc_id"""),
    prod = Some((s, d) => htmlToText(s, d)),
  )

  /** Synthesize one full page per document row and run
    * [[HtmlTree.extractMainText]] over the raw HTML per partition —
    * map-only both halves (synthesis is stateless column work, the
    * extract is the documented per-partition imperative case), zero
    * shuffle at any scale.
    */
  /** Whitespace codepoints where the three parties to the q78 gate
    * DISAGREE (measured, r16 review): Java regex `\s` takes \x0B but
    * DuckDB's RE2 `\s` does not, and `Character.isWhitespace` (the
    * extractor's normalizeWs class) additionally takes \x1C-\x1F and
    * the non-breaking-free Unicode space separators. Mapping exactly
    * this set to 0x20 on BOTH engine sides FIRST leaves only
    * [\t\n\f\r ] — the intersection all three agree on — for the
    * `\s+` collapse, so the gate's word law is engine-independent.
    * One Seq generates both character classes.
    */
  // defs, not vals: q78's oracle string interpolates the RE2 class at
  // object init and is declared ABOVE this point in the file
  private[graft] def exoticWs: Seq[Int] =
    Seq(0x0B, 0x1C, 0x1D, 0x1E, 0x1F, 0x1680) ++ (0x2000 to 0x2006) ++
      Seq(0x2008, 0x2009, 0x200A, 0x2028, 0x2029, 0x205F, 0x3000)
  private def exoticWsJava: String =
    exoticWs.map(cp => f"\\u$cp%04X").mkString("[", "", "]")
  private[graft] def exoticWsRe2: String =
    exoticWs.map(cp => f"\\x{$cp%04X}").mkString("[", "", "]")

  /** The whole q78 normalization law as ONE DuckDB expression over a
    * column: exotic-ws map, collapse on the explicit harmonized class
    * (never RE2 `\s`), trim, NULL→''. Applied to text AND the
    * interpolated lang/source columns, so every party to the gate sees
    * one law. */
  private def wsNormSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(COALESCE($c, ''), '$exoticWsRe2', ' ', 'g'), " +
      s"'[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"

  private def htmlToText(s: org.apache.spark.sql.SparkSession, d: String) = {
    import s.implicits._
    // normalize BEFORE splitting — exotic-ws map, collapse runs, trim
    // (collapse-then-trim: after the collapse only 0x20 can remain at
    // the ends, so plain space-trim strips ALL edge whitespace — a
    // leading tab would otherwise survive trim() and leak a leading
    // empty word into the split, r16 review) — mirroring the oracle's
    // law exactly: the page body then contains only single-spaced
    // words, so the extractor's own normalizeWs is an identity on it
    // and the gate holds for any corpus text shape. NULL text reads as
    // empty (the oracle's CASE guards null-propagate to the same
    // 3-line row; unguarded, the page column would go null and the
    // parser would NPE). Then HTML-ESCAPE what gets interpolated into
    // markup (& first, then < >): the extractor decodes exactly these
    // entities back, so the law round-trips for text containing markup
    // metacharacters instead of silently parsing them as tags — the
    // oracle keeps stating the RAW text. Escaping never touches
    // spaces, so the word split and half indices are unaffected.
    def esc(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(c, "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    // the Spark rendering of wsNormSql — same law, same explicit class
    def wsNorm(c: org.apache.spark.sql.Column) = trim(regexp_replace(
      regexp_replace(coalesce(c, lit("")), exoticWsJava, " "), "[ \\t\\n\\x0b\\f\\r]+", " "))
    val norm = esc(wsNorm(col("text")))
    val words = split(norm, " ")
    val kk = (size(words) + lit(1)).divide(lit(2)).cast("int")
    val half1 = array_join(slice(words, lit(1), kk), " ")
    val half2 = array_join(slice(words, kk + lit(1), size(words) - kk), " ")
    val id = col("doc_id").cast("string")
    val page = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><script>var x = 1 < 2; s = \"</p>\";</script>" +
        "<style>p { color: red; }</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/cat\">Catalog</a></nav>" +
        "<header><div>site chrome</div></header>" +
        "<article><h1>Doc <b>"), id, lit("</b> &amp; friends</h1>" +
        "<p>  "), half1, lit("  </p>" +
        "<div><p>"), half2, lit("</p></div>" +
        "<div class=\"linkfarm\"><a href=\"/1\">aa</a> <a href=\"/2\">bb</a> " +
        "<a href=\"/3\">cc</a></div>" +
        "<p>Lang <i>"), esc(wsNorm(col("lang"))),
      lit("</i><br>from "), esc(wsNorm(col("source"))),
      lit("</p></article>" +
        "<footer><a href=\"/tos\">Terms</a></footer><!-- pixel --></body></html>"))
    Tables.documents(s, d)
      .select(col("doc_id"), page.as("html"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (docId, html) =>
        val r = HtmlTree.extractMainText(html)
        (docId, r.main_text, r.n_lines, r.n_boiler_lines)
      })
      .toDF("doc_id", "main_text", "n_lines", "n_boiler_lines")
  }

  def all: Seq[GraftQuery] =
    Seq(q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q45, q53, q55, q56, q57, q58, q59, q62, q67, q68, q70, q74, q76, q78)
}
