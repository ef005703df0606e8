package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}

/** End-to-end training-corpus curation: the composition a 100 TB pretraining
  * pipeline actually runs over scraped documents — length gate, language
  * gate, exact dedup, near dedup, duplicate-family canonical selection —
  * emitted as ONE decision table (doc_id, verdict, cluster_id), so the
  * corpus gets a full audit trail and survivors are a cheap filter, never
  * a chain of shrinking intermediate copies.
  *
  * Verdict precedence (first failing gate wins, mirroring how curation
  * pipelines report drop reasons): too_short, wrong_lang, exact_dup,
  * near_dup, dup_family_alternate (a non-canonical member of a transitive
  * duplicate family), kept.
  *
  * Gate ordering semantics: the dedup gates (exact / near / family) are
  * computed over the docs that PASS the per-row gates, not the full
  * corpus. Deduping the full corpus can erase every copy of a piece of
  * content — a keeper or near-dup partner that was itself dropped
  * too_short/wrong_lang takes its duplicates down with it and nothing
  * survives. Gating first re-canonicalizes: the exact keeper is the min
  * doc_id among GATE-PASSING members, and near-dup/family evidence only
  * ever points at docs still in the running. (Exact-dup members of a kept
  * keeper may additionally be near-dups of other survivors — precedence
  * reports the strongest reason; content survival is unaffected because
  * the keeper itself is only dropped by evidence from surviving docs.)
  *
  * Scale shape: ONE scan of `documents` text builds the persisted stage
  * table [[stageTable]] (lang, 16-byte exact key, token array, token
  * count); every gate reads the stage table, so the corpus text is
  * scanned and tokenized exactly once no matter how many gates run. The
  * exact gate runs first (1-shuffle md5 groupBy), and the near/family
  * gates run over ONE representative per distinct text ([[repsOf]]) —
  * identical copies add zero LSH pairs, so the classic scraped-corpus
  * hazard (a huge identical-boilerplate family turning band buckets into
  * C(n,2) joins) is resolved structurally, not just capped. Evidence
  * re-attaches to copies through the keeper map ([[attach]]); all plans
  * reuse Dedup/Cluster's proven shapes via the pre-tokenized `...T`
  * entry points.
  */
object Curate {

  private def toks: Column = graft.gfunctions.ws_tokens(col("text"))

  /** The single-scan curation stage table: (doc_id, lang, text_md5, toks,
    * n_toks). Callers persist it ([[curate]] uses localCheckpoint; on a
    * cluster this is the tokenized stage table a production curation
    * pipeline writes to durable storage — same pattern as the minhash
    * signature stage table, and what [[curateStaged]] does with a real
    * parquet checkpoint per stage). Document TEXT deliberately does not
    * ride along: all downstream gates work from the 16-byte md5 key and
    * the token array.
    *
    * Known trade: persisting `toks` materializes a tokenized copy of the
    * full corpus (~text-sized) even though only the REPS' tokens feed
    * the near/family gates. The alternative — a slim (doc_id, lang,
    * text_md5, n_toks) stage plus a second column-pruned text scan to
    * re-tokenize reps — swaps storage for one extra scan and is the
    * right call when exact-dup rates are extreme; the persisted token
    * table wins whenever several gates (or staged re-runs, which read
    * it back from parquet) amortize the one materialization.
    */
  def stageTable(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"), col("lang"),
        md5(col("text")).as("text_md5"),
        toks.as("toks"))
      .withColumn("n_toks", size(col("toks")))

  /** Rows passing the per-row gates — the population dedup evidence is
    * computed over.
    */
  def gatedOf(staged: DataFrame, lang: String = "en", minTokens: Int = 5): DataFrame =
    staged.filter(col("n_toks") >= minTokens && col("lang") === lang)

  /** Exact-dup gate: (doc_id, exact_keeper) with keeper = min doc_id per
    * md5(text) group among gate-passing members. ONE shuffle on the
    * 16-byte key.
    */
  def exactGate(gated: DataFrame): DataFrame = {
    val ids = gated.select(col("doc_id"), col("text_md5").as("k"))
    ids
      .join(ids.groupBy("k").agg(min("doc_id").as("exact_keeper")), Seq("k"))
      .select(col("doc_id"), col("exact_keeper"))
  }

  /** One representative stage row per DISTINCT text (the exact keepers) —
    * the population the near/family gates run over. Exact duplicates have
    * identical shingles and fingerprints, so any near/family evidence via
    * a copy exists via its keeper: emitted verdicts and cluster_ids are
    * exactly preserved (copies re-attach through [[attach]]; their
    * verdict is exact_dup by precedence regardless), while an n-copy
    * boilerplate family costs the LSH self-join ONE row instead of a
    * C(n,2) pair explosion — at scraped-corpus scale the single biggest
    * pair-count hazard, and one a bucket cap can only drop, not resolve.
    */
  def repsOf(gated: DataFrame, exactMap: DataFrame): DataFrame =
    gated.join(
      exactMap.filter(col("doc_id") === col("exact_keeper")).select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Map per-representative evidence onto every member of its exact
    * group: copies inherit their keeper's row.
    */
  def attach(exactMap: DataFrame, perRep: DataFrame): DataFrame =
    exactMap
      .join(perRep.withColumnRenamed("doc_id", "exact_keeper"), Seq("exact_keeper"))
      .drop("exact_keeper")

  /** Near-dup gate over the gated stage table: minhash-LSH decisions,
    * xxhash family by default (fast path), md5 family when `portableHash`
    * (every step ANSI-expressible — what the hard oracle gate runs).
    */
  def nearGate(gated: DataFrame, portableHash: Boolean = false): DataFrame = {
    val toked = gated.select(col("doc_id"), col("toks"))
    val dec =
      if (portableHash) Dedup.minhashMd5DecisionsT(toked)
      else Dedup.minhashDecisionsT(toked)
    dec.select(col("doc_id"), col("is_dup").as("near_dup"))
  }

  /** Duplicate-family gate over the gated stage table: transitive
    * fingerprint clusters (md5 prefix/suffix keys — already portable).
    */
  def famGate(gated: DataFrame): DataFrame =
    Cluster.clusterAssignmentsT(gated.select(col("doc_id"), col("toks")))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))

  /** Benchmark-contamination gate over the gated stage table: docs
    * sharing an 8-gram ([[TrainPrep.DecontamN]] — the published
    * contamination-filter width; 3-grams over-flag catastrophically at
    * scale, see that constant's scaladoc) with the benchmark set, via
    * q44's bloom-prefilter + exact-confirm shape (the output is exact;
    * the bloom only cuts the n-gram stream entering the confirm join).
    * N-grams come from the stage table's token arrays — no extra text
    * scan. Returns the contaminated doc_ids.
    */
  def contamGate(gated: DataFrame, bench: DataFrame,
      numBits: Long = 1L << 20, numHashes: Int = 6): DataFrame = {
    val sh = (t: Column) => graft.gfunctions.kgram_md5_hashes(t, TrainPrep.DecontamN)
    val benchSet = bench.select(explode(sh(col("toks"))).as("hash")).distinct()
    // Model-fit step: the bloom is a Literal, never a join row — a blob
    // riding a join row is re-copied by every probe (see bloomDecontam).
    val bloom = benchSet
      .agg(graft.gfunctions.bloom_agg(col("hash"), numBits, numHashes).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)
    gated
      .select(col("doc_id"), explode(sh(col("toks"))).as("hash"))
      .filter(graft.gfunctions.bloom_contains(lit(bloom), col("hash"), numHashes))
      .join(benchSet, Seq("hash"), "leftsemi")
      .select("doc_id")
      .distinct()
  }

  /** Assemble the decision table from the stage table, the exact-keeper
    * map, and near/family evidence already re-attached per doc (via
    * [[attach]]). Docs dropped by per-row gates join to nothing and fall
    * through to their per-row verdict; their cluster_id defaults to
    * themselves.
    */
  def verdicts(
      staged: DataFrame,
      exactMap: DataFrame,
      near: DataFrame,
      fam: DataFrame,
      lang: String = "en",
      minTokens: Int = 5,
      contam: Option[DataFrame] = None,
      contamFuzzy: Option[DataFrame] = None,
      contamSem: Option[DataFrame] = None): DataFrame = {
    val base = staged
      .select(col("doc_id"), col("lang"), col("n_toks"))
      .join(exactMap, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .join(fam, Seq("doc_id"), "left")
    def mark(b: DataFrame, gate: Option[DataFrame], hit: String): DataFrame = gate match {
      case Some(c) => b.join(
        c.select("doc_id").withColumn(hit, lit(1)), Seq("doc_id"), "left")
      case None => b.withColumn(hit, lit(null).cast("int"))
    }
    mark(mark(mark(base, contam, "contam_hit"), contamFuzzy, "contam_fuzzy_hit"),
        contamSem, "contam_sem_hit")
      .select(
        col("doc_id"),
        // Null-safe: a NULL lang fails the gate (it is excluded from the
        // gated population by `===`, so it must read wrong_lang here too,
        // never fall through to "kept" — and the streaming twin agrees).
        // Contamination outranks dedup: a contaminated doc is dropped for
        // its CONTENT, so it must not survive as someone's exact keeper —
        // the dedup gates run over the decontaminated population. The
        // fuzzy (minhash) gate reads AFTER the exact one, so a doc both
        // gates catch keeps the stronger verbatim-overlap verdict; the
        // semantic (embedding) gate reads last of the three — weakest
        // evidence class, distinct verdict.
        when(col("n_toks") < minTokens, "too_short")
          .when(!col("lang").eqNullSafe(lang), "wrong_lang")
          .when(col("contam_hit").isNotNull, "contaminated")
          .when(col("contam_fuzzy_hit").isNotNull, "contaminated_fuzzy")
          .when(col("contam_sem_hit").isNotNull, "contaminated_sem")
          .when(col("exact_keeper") =!= col("doc_id"), "exact_dup")
          .when(coalesce(col("near_dup"), lit(false)), "near_dup")
          .when(col("cluster_id") =!= col("doc_id") && col("cluster_size") > 1,
            "dup_family_alternate")
          .otherwise("kept").as("verdict"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Full curation decision table: one verdict + cluster per doc. */
  def curate(
      docs: DataFrame,
      lang: String = "en",
      minTokens: Int = 5,
      portableHash: Boolean = false): DataFrame = {
    val staged = stageTable(docs).localCheckpoint()
    val gated = gatedOf(staged, lang, minTokens)
    // MATERIALIZED (r20): the exact-keeper map is consumed FOUR times —
    // the reps semi-join, both attach joins, and the verdict table's
    // base join — and an unmaterialized val re-runs the exactGate
    // groupBy+join per consumer. A slim (doc_id, exact_keeper) pair per
    // gated doc; at 100 TB this is the id-map stage table a curation
    // run persists beside the tokenized stage.
    val exactMap = exactGate(gated).localCheckpoint()
    val reps = repsOf(gated, exactMap)
    verdicts(staged, exactMap,
      attach(exactMap, nearGate(reps, portableHash)),
      attach(exactMap, famGate(reps)),
      lang, minTokens)
  }

  /** Fuzzy (minhash) contamination gate over the gated population:
    * [[Dedup.nearDupAgainstT]] with the gated corpus as arrivals and the
    * benchmark slice as the capped reference — the q88 law over the
    * stage table's token arrays (no extra text scan). Returns the fuzzily
    * contaminated doc_ids.
    */
  def contamFuzzyGate(gated: DataFrame, bench: DataFrame): DataFrame =
    Dedup.nearDupAgainstT(
        gated.select(col("doc_id"), col("toks")),
        bench.select(col("doc_id"), col("toks")))
      .filter(col("is_match"))
      .select("doc_id")

  /** Semantic (embedding) contamination gate over the gated
    * population: the q99 law — both sides embedded via
    * the q80 md5 bag-of-words projection over the stage table's token
    * arrays (no extra text scan), decided by
    * [[TrainPrep.semContamDecisionsOn]] (the ONE rendering). Catches a
    * fully REORDERED benchmark paraphrase, which shares neither an
    * 8-gram (q38's gate) nor enough shingles (q88's): the bag-of-words
    * embedding is token-order-independent, so the reorder lands at
    * dot ≈ 1. Returns the semantically contaminated doc_ids.
    */
  def contamSemGate(gated: DataFrame, bench: DataFrame): DataFrame =
    TrainPrep.semContamDecisionsOn(
        Dedup.textEmbedMd5From(gated.select(col("doc_id"), col("toks"))),
        Dedup.textEmbedMd5From(bench.select(col("doc_id"), col("toks"))))
      .filter(col("contaminated_sem"))
      .select("doc_id")

  /** Curation with a benchmark-decontamination gate: the corpus slice
    * (doc_id % 20 != 0, the convention shared with q38/q44) is curated
    * as in [[curate]], with contaminated docs — sharing an 8-gram with
    * the benchmark slice — dropped AFTER the per-row gates and BEFORE
    * dedup, so a contaminated doc never survives as an exact keeper and
    * dedup evidence points only at docs still in the running. The gate
    * reuses the stage table's token arrays (still ONE corpus text scan)
    * and q44's bloom-prefilter + exact-confirm shape.
    */
  def curateDecontam(
      docs: DataFrame,
      lang: String = "en",
      minTokens: Int = 5): DataFrame = {
    val staged = stageTable(docs).localCheckpoint()
    val bench = staged.filter(col("doc_id") % 20 === 0)
    val corpus = staged.filter(col("doc_id") % 20 =!= 0)
    val gated = gatedOf(corpus, lang, minTokens)
    // r21: all three contamination rungs are PER-DOC PURE in their
    // corpus argument — a doc's 8-gram hits, minhash-band hits, and
    // embedding dot against the FIXED bench side depend only on its own
    // tokens (the bench bucket cap binds the reference side only). So a
    // rung's hit set over a pre-filtered population equals its hit set
    // over `gated` intersected with that population, and the r20
    // gate → anti-join → gate chain (three SERIAL checkpoint jobs, each
    // waiting on the previous rung over a ~2% smaller population)
    // computes the same verdicts as three INDEPENDENT rungs over
    // `gated`: the verdict when-chain already ranks overlapping hits
    // (exact ≻ fuzzy ≻ semantic), and the dedup population below is
    // gated \ (∪ hits) either way. One tagged union materializes all
    // three rungs in ONE checkpoint job whose independent legs share
    // the staged scan and run concurrently instead of back-to-back.
    val hits = contamGate(gated, bench).select(col("doc_id"), lit("x").as("rung"))
      .unionAll(contamFuzzyGate(gated, bench).select(col("doc_id"), lit("f").as("rung")))
      .unionAll(contamSemGate(gated, bench).select(col("doc_id"), lit("s").as("rung")))
      .localCheckpoint()
    val contam = hits.filter(col("rung") === "x").select("doc_id")
    val contamFuzzy = hits.filter(col("rung") === "f").select("doc_id")
    val contamSem = hits.filter(col("rung") === "s").select("doc_id")
    val gated4 = gated.join(hits.select("doc_id").distinct(), Seq("doc_id"), "left_anti")
    // MATERIALIZED (r20): four consumers, same argument as [[curate]] —
    // and here each un-materialized re-run would also replay the three
    // anti-joins above it.
    val exactMap = exactGate(gated4).localCheckpoint()
    val reps = repsOf(gated4, exactMap)
    verdicts(corpus, exactMap,
      attach(exactMap, nearGate(reps, portableHash = true)),
      attach(exactMap, famGate(reps)),
      lang, minTokens, contam = Some(contam), contamFuzzy = Some(contamFuzzy),
      contamSem = Some(contamSem))
  }

  /** The curation pipeline as a checkpointed STAGED DAG: stage table ->
    * near-dup gate -> cluster gate -> decision table, each stage persisted
    * to `runDir/<stage>/` parquet with per-stage retries and
    * resume-from-marker ([[graft.StagedDag]]). The parquet stage table
    * replaces [[curate]]'s localCheckpoint — on a cluster this IS the
    * durable tokenized stage table, and a re-run after a crash recomputes
    * only the stages whose `_SUCCESS` marker is missing (to force a
    * recompute, clear the stage dir AND its downstream dirs — same
    * discipline as Airflow's clear-with-downstream).
    * Returns (decision table, stage reports).
    */
  def curateStaged(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      runDir: String,
      lang: String = "en",
      minTokens: Int = 5,
      portableHash: Boolean = false): (DataFrame, Seq[graft.StagedDag.StageReport]) = {
    def reps(up: Map[String, DataFrame]) =
      repsOf(gatedOf(up("staged"), lang, minTokens), up("exact"))
    val (outs, reports) = graft.StagedDag.run(spark, runDir, Seq(
      "staged" -> (_ => stageTable(docs)),
      "exact" -> (up => exactGate(gatedOf(up("staged"), lang, minTokens))),
      "near" -> (up => attach(up("exact"), nearGate(reps(up), portableHash))),
      "clusters" -> (up => attach(up("exact"), famGate(reps(up)))),
      "decisions" -> (up =>
        verdicts(up("staged"), up("exact"), up("near"), up("clusters"), lang, minTokens)),
    ))
    (outs("decisions"), reports)
  }

  /** [[curateDecontam]] as a checkpointed STAGED DAG: stage table →
    * the three contamination rungs (8-gram, fuzzy, semantic; each over
    * the gated population) → exact → near → clusters → decisions, each
    * stage a parquet checkpoint with per-stage retries and
    * resume-from-marker — the decontaminating flagship composed with
    * the orchestration layer. The contam stage persists the
    * contaminated-id table, so a resumed run re-reads the verdict-
    * relevant evidence instead of rebuilding the bloom.
    */
  def curateDecontamStaged(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame,
      runDir: String,
      lang: String = "en",
      minTokens: Int = 5): (DataFrame, Seq[graft.StagedDag.StageReport]) = {
    val (outs, reports) =
      graft.StagedDag.run(spark, runDir, decontamStages(docs, lang, minTokens))
    (outs("decisions"), reports)
  }

  /** The decontaminating-curation stage list, reusable as the head of a
    * longer StagedDag (TrainPipeline chains quota/split/pack/shuffle
    * after "decisions"). Stage names are part of the on-disk contract:
    * a resume run matches them against `runDir/<stage>/_SUCCESS`.
    */
  private[graft] def decontamStages(
      docs: DataFrame,
      lang: String = "en",
      minTokens: Int = 5): Seq[(String, Map[String, DataFrame] => DataFrame)] = {
    def bench(up: Map[String, DataFrame]) = up("staged").filter(col("doc_id") % 20 === 0)
    def corpus(up: Map[String, DataFrame]) = up("staged").filter(col("doc_id") % 20 =!= 0)
    def gated(up: Map[String, DataFrame]) = gatedOf(corpus(up), lang, minTokens)
    // the three rungs run over `gated`, as in [[curateDecontam]]: the
    // dedup population anti-joins their union once
    def gated4(up: Map[String, DataFrame]) =
      gated(up).join(
        up("contam").unionAll(up("contam_fuzzy")).unionAll(up("contam_sem")).distinct(),
        Seq("doc_id"), "left_anti")
    def reps(up: Map[String, DataFrame]) = repsOf(gated4(up), up("exact"))
    Seq(
      "staged" -> (_ => stageTable(docs)),
      "contam" -> (up => contamGate(gated(up), bench(up))),
      "contam_fuzzy" -> (up => contamFuzzyGate(gated(up), bench(up))),
      "contam_sem" -> (up => contamSemGate(gated(up), bench(up))),
      "exact" -> (up => exactGate(gated4(up))),
      "near" -> (up => attach(up("exact"), nearGate(reps(up), portableHash = true))),
      "clusters" -> (up => attach(up("exact"), famGate(reps(up)))),
      "decisions" -> (up =>
        verdicts(corpus(up), up("exact"), up("near"), up("clusters"),
          lang, minTokens, contam = Some(up("contam")),
          contamFuzzy = Some(up("contam_fuzzy")),
          contamSem = Some(up("contam_sem")))),
    )
  }

  /** Survivors only — what downstream tokenization consumes. */
  def survivors(docs: DataFrame, lang: String = "en", minTokens: Int = 5): DataFrame =
    docs.join(
      curate(docs, lang, minTokens).filter(col("verdict") === "kept").select("doc_id"),
      Seq("doc_id"), "left_semi")

  val qCurate = GraftQuery(
    "corpus_curate",
    (s, d) => curate(Tables.documents(s, d)).orderBy("doc_id"),
    // rows-only: the near-dup gate rides the xxhash minhash pipeline
    // (not ANSI-expressible); semantics are spec-asserted on a planted
    // corpus, every component below it is individually gate-checked, and
    // corpus_curate_md5 runs the SAME composition under the hard gate.
    None,
    prod = Some((s, d) => curate(Tables.documents(s, d))),
  )

  val qCurateMd5 = GraftQuery(
    "corpus_curate_md5",
    (s, d) => curate(Tables.documents(s, d), portableHash = true).orderBy("doc_id"),
    // The full curation decision table under the HARD gate: the oracle
    // composes the already-green md5-minhash CTEs (dedup_minhash_md5) and
    // the recursive-CTE cluster closure (dedup_clusters) over the GATED
    // population, plus the trivial length/lang/exact gates — all from one
    // tokenized CTE, mirroring the single-scan stage table.
    Some("""WITH RECURSIVE t AS (
        SELECT doc_id, lang, md5(text) AS text_md5,
               list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS toks
        FROM documents),
      staged AS (SELECT doc_id, lang, text_md5, toks, len(toks) AS n_toks FROM t),
      gated AS (SELECT * FROM staged WHERE n_toks >= 5 AND lang = 'en'),
      ex AS (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text_md5) AS exact_keeper
        FROM gated),
      reps AS (
        SELECT g.* FROM gated g
        JOIN ex ON ex.doc_id = g.doc_id AND ex.exact_keeper = g.doc_id),
      sh AS (
        SELECT doc_id, toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] AS s
        FROM reps CROSS JOIN UNNEST(range(0, greatest(len(toks) - 2, 0))) AS u(i)),
      hx AS (
        SELECT doc_id, j,
          MIN(CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
              + j * CAST(('0x' || substr(md5(s), 16, 8)) AS BIGINT)) AS h
        FROM sh CROSS JOIN UNNEST(range(0, 16)) AS v(j)
        GROUP BY doc_id, j),
      sigb AS (
        SELECT doc_id, j // 4 AS band_idx, string_agg(h, ',' ORDER BY j) AS band_val
        FROM hx GROUP BY doc_id, j // 4),
      bs AS (
        SELECT band_idx, band_val, COUNT(*) AS bucket_n FROM sigb GROUP BY 1, 2),
      keptb AS (
        SELECT sigb.* FROM sigb JOIN bs USING (band_idx, band_val) WHERE bs.bucket_n <= 10000),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM keptb a JOIN keptb b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      est AS (
        SELECT c.id_a, c.id_b, SUM(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
        FROM cand c
        JOIN hx ha ON ha.doc_id = c.id_a
        JOIN hx hb ON hb.doc_id = c.id_b AND hb.j = ha.j
        GROUP BY c.id_a, c.id_b),
      near AS (SELECT DISTINCT id_b AS doc_id FROM est WHERE est_jaccard >= 0.5),
      near_all AS (
        SELECT e.doc_id FROM ex e JOIN near n ON n.doc_id = e.exact_keeper),
      keys AS (
        SELECT doc_id,
          md5(array_to_string(CASE WHEN len(toks) <= 50 THEN toks ELSE toks[1:50] END, ' ')) AS pkey,
          md5(array_to_string(CASE WHEN len(toks) <= 50 THEN toks ELSE toks[-50:] END, ' ')) AS skey
        FROM reps WHERE len(toks) > 0),
      e1 AS (
        SELECT id_a, id_b FROM (
          SELECT MIN(doc_id) OVER (PARTITION BY pkey) AS id_a, doc_id AS id_b FROM keys)
        WHERE id_a <> id_b),
      e2 AS (
        SELECT id_a, id_b FROM (
          SELECT MIN(doc_id) OVER (PARTITION BY skey) AS id_a, doc_id AS id_b FROM keys)
        WHERE id_a <> id_b),
      edges AS (SELECT id_a, id_b FROM e1 UNION SELECT id_a, id_b FROM e2),
      sym AS (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b AS src, id_a AS dst FROM edges),
      cc(id, label) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, c.label FROM cc c JOIN sym s ON s.src = c.id),
      lab AS (SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id),
      asg AS (
        SELECT r.doc_id, COALESCE(l.cluster_id, r.doc_id) AS cluster_id
        FROM reps r LEFT JOIN lab l ON l.id = r.doc_id),
      sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM asg GROUP BY cluster_id),
      fam AS (SELECT a.doc_id, a.cluster_id, sz.cluster_size FROM asg a JOIN sz USING (cluster_id)),
      fam_all AS (
        SELECT e.doc_id, f.cluster_id, f.cluster_size
        FROM ex e JOIN fam f ON f.doc_id = e.exact_keeper)
      SELECT s.doc_id,
        CASE WHEN s.n_toks < 5 THEN 'too_short'
             WHEN s.lang IS DISTINCT FROM 'en' THEN 'wrong_lang'
             WHEN ex.exact_keeper <> s.doc_id THEN 'exact_dup'
             WHEN near_all.doc_id IS NOT NULL THEN 'near_dup'
             WHEN fam_all.cluster_id <> s.doc_id AND fam_all.cluster_size > 1 THEN 'dup_family_alternate'
             ELSE 'kept' END AS verdict,
        COALESCE(fam_all.cluster_id, s.doc_id) AS cluster_id
      FROM staged s
      LEFT JOIN ex ON ex.doc_id = s.doc_id
      LEFT JOIN near_all ON near_all.doc_id = s.doc_id
      LEFT JOIN fam_all ON fam_all.doc_id = s.doc_id
      ORDER BY s.doc_id"""),
    prod = Some((s, d) => curate(Tables.documents(s, d), portableHash = true)),
  )

  /** The decontaminating-curation oracle CTE chain ending in a `dec`
    * decision CTE (doc_id, verdict, cluster_id): the corpus_curate_md5
    * oracle with a contamination CTE (benchmark 8-gram overlap, the
    * q44 rule) spliced between the per-row gates and the dedup
    * population. Shared VERBATIM by qCurateDecontam's final SELECT and
    * TrainPipeline's end-to-end oracle, so the two gates cannot drift.
    */
  private[graft] val decontamOracleDecisions: String = s"""WITH RECURSIVE t AS (
        SELECT doc_id, lang, md5(text) AS text_md5,
               list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '') AS toks
        FROM documents),
      staged AS MATERIALIZED (SELECT doc_id, lang, text_md5, toks, len(toks) AS n_toks FROM t),
      corpus AS (SELECT * FROM staged WHERE doc_id % 20 <> 0),
      gated AS MATERIALIZED (SELECT * FROM corpus WHERE n_toks >= 5 AND lang = 'en'),
      shc AS (
        SELECT DISTINCT doc_id,
          CAST(('0x' || substr(md5(toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
            || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7] || ' ' || toks[i+8]), 1, 15)) AS BIGINT) AS hash
        FROM staged CROSS JOIN UNNEST(range(0, greatest(len(toks) - 7, 0))) AS u(i)),
      bset AS (SELECT DISTINCT hash FROM shc WHERE doc_id % 20 = 0),
      contam AS MATERIALIZED (
        SELECT DISTINCT shc.doc_id
        FROM shc JOIN bset USING (hash)
        JOIN gated g ON g.doc_id = shc.doc_id),
      gated2 AS MATERIALIZED (
        SELECT * FROM gated
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      fz AS MATERIALIZED (
        SELECT doc_id, toks FROM gated2
        UNION ALL SELECT doc_id, toks FROM staged WHERE doc_id % 20 = 0),
      ${Dedup.minhashSigCtes("fz", "f")},
      ${Dedup.nearDupMatchCtes("f", "doc_id % 20 <> 0", "doc_id % 20 = 0")},
      gated3 AS MATERIALIZED (
        SELECT * FROM gated2
        WHERE doc_id NOT IN (SELECT doc_id FROM fm)),
      semsrc AS MATERIALIZED (
        SELECT doc_id, toks FROM gated3
        UNION ALL SELECT doc_id, toks FROM staged WHERE doc_id % 20 = 0),
      ${Dedup.tokenHashOver("semsrc", "semtokh")},
      ${Dedup.textEmbedOver("semtokh", "sem")},
      semco AS (SELECT * FROM sememb WHERE doc_id % 20 <> 0),
      sembe AS (SELECT * FROM sememb WHERE doc_id % 20 = 0),
      sem AS MATERIALIZED (
        SELECT c.doc_id FROM semco c CROSS JOIN sembe b
        GROUP BY c.doc_id
        HAVING MAX(${TrainPrep.semDotSql("c", "b")}) >= ${TrainPrep.SemTau}),
      gated4 AS MATERIALIZED (
        SELECT * FROM gated3
        WHERE doc_id NOT IN (SELECT doc_id FROM sem)),
      ex AS MATERIALIZED (
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text_md5) AS exact_keeper
        FROM gated4),
      reps AS MATERIALIZED (
        SELECT g.* FROM gated4 g
        JOIN ex ON ex.doc_id = g.doc_id AND ex.exact_keeper = g.doc_id),
      ${Dedup.minhashSigCtes("reps", "")},
      bs AS (
        SELECT band_idx, band_val, COUNT(*) AS bucket_n FROM sigb GROUP BY 1, 2),
      keptb AS MATERIALIZED (
        SELECT sigb.* FROM sigb JOIN bs USING (band_idx, band_val) WHERE bs.bucket_n <= 10000),
      cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM keptb a JOIN keptb b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id),
      est AS (
        SELECT c.id_a, c.id_b, SUM(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
        FROM cand c
        JOIN hx ha ON ha.doc_id = c.id_a
        JOIN hx hb ON hb.doc_id = c.id_b AND hb.j = ha.j
        GROUP BY c.id_a, c.id_b),
      near AS (SELECT DISTINCT id_b AS doc_id FROM est WHERE est_jaccard >= 0.5),
      near_all AS (
        SELECT e.doc_id FROM ex e JOIN near n ON n.doc_id = e.exact_keeper),
      keys AS MATERIALIZED (
        SELECT doc_id,
          md5(array_to_string(CASE WHEN len(toks) <= 50 THEN toks ELSE toks[1:50] END, ' ')) AS pkey,
          md5(array_to_string(CASE WHEN len(toks) <= 50 THEN toks ELSE toks[-50:] END, ' ')) AS skey
        FROM reps WHERE len(toks) > 0),
      e1 AS (
        SELECT id_a, id_b FROM (
          SELECT MIN(doc_id) OVER (PARTITION BY pkey) AS id_a, doc_id AS id_b FROM keys)
        WHERE id_a <> id_b),
      e2 AS (
        SELECT id_a, id_b FROM (
          SELECT MIN(doc_id) OVER (PARTITION BY skey) AS id_a, doc_id AS id_b FROM keys)
        WHERE id_a <> id_b),
      edges AS (SELECT id_a, id_b FROM e1 UNION SELECT id_a, id_b FROM e2),
      sym AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM edges
        UNION SELECT id_b AS src, id_a AS dst FROM edges),
      cc(id, label) AS (
        SELECT src, src FROM (SELECT DISTINCT src FROM sym)
        UNION
        SELECT s.dst, c.label FROM cc c JOIN sym s ON s.src = c.id),
      lab AS (SELECT id, MIN(label) AS cluster_id FROM cc GROUP BY id),
      asg AS MATERIALIZED (
        SELECT r.doc_id, COALESCE(l.cluster_id, r.doc_id) AS cluster_id
        FROM reps r LEFT JOIN lab l ON l.id = r.doc_id),
      sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM asg GROUP BY cluster_id),
      fam AS MATERIALIZED (SELECT a.doc_id, a.cluster_id, sz.cluster_size FROM asg a JOIN sz USING (cluster_id)),
      fam_all AS (
        SELECT e.doc_id, f.cluster_id, f.cluster_size
        FROM ex e JOIN fam f ON f.doc_id = e.exact_keeper),
      decis AS MATERIALIZED (
        SELECT s.doc_id,
          CASE WHEN s.n_toks < 5 THEN 'too_short'
               WHEN s.lang IS DISTINCT FROM 'en' THEN 'wrong_lang'
               WHEN contam.doc_id IS NOT NULL THEN 'contaminated'
               WHEN fm.doc_id IS NOT NULL THEN 'contaminated_fuzzy'
               WHEN sem.doc_id IS NOT NULL THEN 'contaminated_sem'
               WHEN ex.exact_keeper <> s.doc_id THEN 'exact_dup'
               WHEN near_all.doc_id IS NOT NULL THEN 'near_dup'
               WHEN fam_all.cluster_id <> s.doc_id AND fam_all.cluster_size > 1 THEN 'dup_family_alternate'
               ELSE 'kept' END AS verdict,
          COALESCE(fam_all.cluster_id, s.doc_id) AS cluster_id
        FROM corpus s
        LEFT JOIN contam ON contam.doc_id = s.doc_id
        LEFT JOIN fm ON fm.doc_id = s.doc_id
        LEFT JOIN sem ON sem.doc_id = s.doc_id
        LEFT JOIN ex ON ex.doc_id = s.doc_id
        LEFT JOIN near_all ON near_all.doc_id = s.doc_id
        LEFT JOIN fam_all ON fam_all.doc_id = s.doc_id)"""

  val qCurateDecontam = GraftQuery(
    "corpus_curate_decontam",
    (s, d) => curateDecontam(Tables.documents(s, d)).orderBy("doc_id"),
    // The decontaminating curation decision table under the HARD gate.
    Some(decontamOracleDecisions +
      "\n      SELECT doc_id, verdict, cluster_id FROM decis ORDER BY doc_id"),
    prod = Some((s, d) => curateDecontam(Tables.documents(s, d))),
  )

  def all: Seq[GraftQuery] = Seq(qCurate, qCurateMd5, qCurateDecontam)
}
