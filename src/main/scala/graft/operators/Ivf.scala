package graft.operators

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.gfunctions.cosine_sim
import graft.sources.{Generations, IndexLayout}

/** IVF (inverted-file) ANN: a coarse spherical k-means quantizer splits the
  * corpus into cluster lists; a query probes only its `nprobe` nearest
  * cluster lists. The second classic scale path next to LSH ([[Lsh]]):
  * LSH needs no training but fixes its recall at plan time; IVF spends a
  * small training pass to adapt buckets to the data distribution.
  *
  * Scale notes:
  *  - Training collects ONLY k x dims centroid floats to the driver per
  *    Lloyd iteration (model fitting = orchestration; k is small). The
  *    SEARCH path is fully distributed — no driver data movement.
  *  - Centroid means use decimal sums, so centroids — and therefore
  *    assignments and candidates — are identical across partition orders
  *    and cluster sizes.
  *  - Assignment = argmax over k literal centroids through the native
  *    codegen'd cosine kernel; candidates come from an equi-join on
  *    cluster id. Never a corpus cross join.
  *  - What the lists store, and how a query scores against it, is a
  *    [[Codec]]: in-memory search, index write, append and serve are
  *    each written once over it.
  */
object Ivf {

  /** (similarity, cluster) argmax over literal centroids; ties break on the
    * lower cluster id via the struct ordering (sim desc, then -id desc).
    */
  private def nearestClusters(vec: Column, centroids: Array[Array[Float]]): Column = {
    val scored = array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(cosine_sim(vec, typedlit(c)).as("sim"), lit(-i).as("neg_id"))
    }: _*)
    reverse(array_sort(scored))
  }

  /** Corpus-side coarse assignment — the hot full-scan path (train,
    * writeIndex, appends, SemDeDup all run it over every vector). Since
    * r15 this is the [[graft.functions.NearestCentroid]] kernel: the
    * centroid matrix rides as ONE codegen reference object, so
    * generated-code size is O(1) in k and the k-in-the-thousands regime
    * a 100 TB corpus wants stays a tight primitive loop — the literal
    * struct-array argmax (still used by [[nearestClusters]] for the
    * per-QUERY ranked probe list, where k is small and a ranked list is
    * needed) pays a per-row k-struct allocation + sort and k inlined
    * sub-kernels, measured 4x/8x/15x slower at k=64/256/1024
    * (ScaleProbe29). Bit-identical on every non-NULL vector,
    * spec-pinned including duplicate-centroid ties and k=1024; a NULL
    * embedding now yields a NULL cluster (the literal form
    * accidentally mapped it to cluster 0 through all-NULL sims —
    * spec-pinned as a DOCUMENTED divergence). The flat centroid-major
    * layout requires uniform rows, enforced loudly: a ragged matrix
    * whose lengths happened to compensate would otherwise misalign
    * silently.
    */
  private[graft] def clusterOf(vec: Column, centroids: Array[Array[Float]]): Column = {
    require(centroids.nonEmpty && centroids.forall(_.length == centroids.head.length),
      s"clusterOf: centroid rows must be uniform, got lengths " +
        s"${centroids.map(_.length).distinct.mkString(",")}")
    graft.gfunctions.nearest_centroid(
      vec, centroids.flatten, centroids.length, centroids.head.length)
  }

  /** Bounded deterministic training sample: once the corpus outgrows
    * `sampleFactor * k` vectors, keep a vector iff its salted 52-bit md5
    * hash falls under the proportional threshold — the q39/q47
    * hash-sampling discipline (a pure function of vec_id: same sample
    * across reruns, partitionings, and cluster sizes; no RNG state).
    *
    * Why: every Lloyd iteration in [[train]] posexplodes EVERY corpus
    * vector (dims rows each) into a (cluster, pos) aggregate — at 100 TB
    * that is iters full-corpus passes to fit a model of k*dims floats.
    * The coarse quantizer only needs the cluster STRUCTURE, and ~100
    * vectors per centroid pins it: sampling bounds training cost by the
    * MODEL size instead of the corpus size, while assignment (the one
    * full pass that must see every vector) stays exact in
    * [[topK]]/[[writeIndex]]. `sampleFactor <= 0` disables.
    */
  private[graft] def trainingSample(emb: DataFrame, k: Int, sampleFactor: Long): DataFrame = {
    if (sampleFactor <= 0) emb
    else {
      val target = sampleFactor * k
      val n = emb.count()
      if (n <= target) emb
      else {
        // 52-bit hash: exactly representable in the double math below
        val bound = ((1L << 52).toDouble * (target.toDouble / n)).toLong
        val h = conv(
          substring(md5(concat(lit("ivftrain:"), col("vec_id").cast("string"))), 1, 13),
          16, 10).cast("long")
        emb.filter(h < bound)
      }
    }
  }

  /** Deterministic spherical k-means: seeds = the k lowest vec_ids, then
    * `iters` Lloyd rounds with decimal-exact means. Past
    * `sampleFactor * k` corpus vectors, training runs on the bounded
    * deterministic [[trainingSample]] (seeds = the k lowest SAMPLED
    * vec_ids) — the corpus-sized passes belong to assignment, not to
    * fitting a k*dims-float model.
    */
  def train(
      emb: DataFrame, k: Int = 8, iters: Int = 3, dims: Int = 64,
      sampleFactor: Long = 100L): Array[Array[Float]] = {
    val base = trainingSample(emb, k, sampleFactor)
    var centroids: Array[Array[Float]] = base
      .orderBy("vec_id").limit(k)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    for (_ <- 1 to iters) {
      val assigned = base.select(
        clusterOf(col("embedding"), centroids).as("cluster"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      val means = assigned
        .groupBy("cluster", "pos")
        .agg((sum(col("v").cast(DecimalType(28, 10))) / count(lit(1))).cast("float").as("m"))
        .collect()
      val next = centroids.indices.map { c =>
        val dims_ = means.filter(_.getInt(0) == c).sortBy(_.getInt(1)).map(_.getFloat(2))
        if (dims_.isEmpty) centroids(c) else dims_ // empty cluster keeps its seed
      }.toArray
      centroids = next
    }
    centroids
  }

  // ------------------------------------------------------------- codecs

  /** One list-code form: how a vector becomes an inverted-list code and
    * how a query scores against that code, written once per form.
    * List ASSIGNMENT is not part of a codec — every form assigns at full
    * precision against the same raw-space coarse quantizer (the standard
    * IVF-then-quantize build order), so quantization error never moves
    * a vector into the wrong list. A codec owns:
    *  - `column`: the list column its codes live in;
    *  - `encode`: the list-side code of a vector assigned to `cluster`;
    *  - `query`: the query-side operand (codes, a LUT, or the vector
    *    itself) that rides the broadcast probe frame;
    *  - `sim`: the cosine estimate of list codes against that operand.
    * Every form is handed the coarse centroids because the residual form
    * encodes and scores against them.
    */
  sealed abstract class Codec(private[graft] val column: String) {
    private[graft] def encode(vec: Column, cluster: Column, centroids: Array[Array[Float]]): Column
    private[graft] def query(vec: Column, centroids: Array[Array[Float]]): Column
    private[graft] def sim(
        codes: Column, q: Column, cluster: Column, centroids: Array[Array[Float]]): Column
  }

  /** A form [[writeIndex]] can persist. `oversample` is the default
    * coarse-candidate multiplier of [[searchIndexRerank]]: 10 for int8,
    * 20 for the coarser PQ-family cells (see [[Pq.pqRerankTopK]]).
    */
  sealed abstract class Persisted(column: String, private[graft] val oversample: Int)
      extends Codec(column) {
    /** Persist the form's model under the index root; int8 has none. */
    private[graft] def writeModel(spark: SparkSession, root: String): Unit = ()
  }

  /** A model-carrying persisted form as it sits on disk: its list column
    * and the underscore-hidden model subdir whose PRESENCE is the
    * dispatch bit [[Codec.of]] reads.
    */
  sealed abstract class Form(private[graft] val column: String, private[graft] val subdir: String) {
    private[graft] def read(spark: SparkSession, root: String): Persisted
  }

  object Codec {

    /** Exact float cosine over the raw embedding — in-memory [[topK]]
      * only; there is no persisted float layout.
      */
    case object Float32 extends Codec("embedding") {
      private[graft] def encode(vec: Column, cluster: Column, c: Array[Array[Float]]): Column = vec
      private[graft] def query(vec: Column, c: Array[Array[Float]]): Column = vec
      private[graft] def sim(
          codes: Column, q: Column, cluster: Column, c: Array[Array[Float]]): Column =
        cosine_sim(codes, q)
    }

    /** Packed int8, 1 byte/dim, scored by the native integer
      * [[graft.functions.Int8Cosine]] kernel; per-vector scales cancel in
      * cosine, so the scale is never read at search time.
      */
    case object Int8 extends Persisted("codes_bin", 10) {
      private[graft] def encode(vec: Column, cluster: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.int8_codes(vec)
      private[graft] def query(vec: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.int8_codes(vec)
      private[graft] def sim(
          codes: Column, q: Column, cluster: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.int8_cosine(codes, q)
    }

    /** m-byte PQ codes of the raw vector (8 B at the defaults, 8x below
      * int8), scored by ADC: the per-query LUT rides the broadcast probe
      * side and each candidate costs m table lookups. At full probe the
      * in-memory form equals [[graft.operators.Pq.topKPq]] row for row.
      * The codebook persists under `_pq`, one row per entry plus the
      * (m, ksub) shape.
      */
    final case class Pq(model: graft.operators.Pq.Model) extends Persisted(Pq.column, 20) {
      import model.{codebook, ksub, m}
      private[graft] def encode(vec: Column, cluster: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.pq_codes(vec, codebook, m, ksub)
      private[graft] def query(vec: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.pq_lut(vec, codebook, m, ksub)
      private[graft] def sim(
          codes: Column, q: Column, cluster: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.pq_adc_sim(codes, q, codebook, m, ksub)
      private[graft] override def writeModel(spark: SparkSession, root: String): Unit =
        writePqModel(spark, model, s"$root/${Pq.subdir}")
    }
    object Pq extends Form("codes_pq", "_pq") {
      private[graft] def read(spark: SparkSession, root: String): Persisted =
        Pq(readPqModel(spark, s"$root/$subdir"))
    }

    /** Residual PQ, the textbook IVFPQ refinement: m-byte codes of
      * vec - centroid[cluster], scored by the EXACT reconstruction cosine
      * through cluster-conditioned tables ([[graft.gfunctions.pq_resid_sim]]
      * — the cross terms are plan-time constants and the partition column
      * itself feeds the kernel, so list rows stay m bytes). The residual
      * codebook persists under `_pq_resid`, apart from `_pq`, because its
      * codes index a different codebook. It is the default 8-byte rung:
      * in the ladder probe (ScaleProbe24, dense 200k corpus,
      * rerank@100x) it recovers recall@10 = 1.000 where raw PQ and OPQ
      * leave 0.981.
      */
    final case class PqResid(model: graft.operators.Pq.Model)
        extends Persisted(PqResid.column, 20) {
      import model.{codebook, ksub, m}
      private[graft] def encode(vec: Column, cluster: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.pq_resid_codes(vec, cluster, c.flatten, codebook, m, ksub)
      private[graft] def query(vec: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.pq_resid_lut(vec, c.flatten, codebook, m, ksub)
      private[graft] def sim(
          codes: Column, q: Column, cluster: Column, c: Array[Array[Float]]): Column =
        graft.gfunctions.pq_resid_sim(codes, q, cluster, c.flatten, codebook, m, ksub)
      private[graft] override def writeModel(spark: SparkSession, root: String): Unit =
        writePqModel(spark, model, s"$root/${PqResid.subdir}")
    }
    object PqResid extends Form("codes_pqr", "_pq_resid") {
      private[graft] def read(spark: SparkSession, root: String): Persisted =
        PqResid(readPqModel(spark, s"$root/$subdir"))
    }

    /** OPQ: PQ in a learned rotated space, the rotation fused into both
      * projections. Assignment stays raw-space (orthogonal rotations
      * preserve cosine), so one coarse quantizer serves every form; codes
      * and the query LUT live in the rotated space where the cells fit
      * better (OpqSpec: 82.8% of plain PQ's quantization error on real
      * embeddings). The model persists under `_opq`: the rotation at
      * `_opq/rotation` (one row per matrix row) and the rotated-space
      * codebook at `_opq/pq` (the `_pq` row shape).
      */
    final case class Opq(model: graft.operators.Opq.Model) extends Persisted(Opq.column, 20) {
      private def rotated(vec: Column): Column =
        graft.gfunctions.mat_vec(vec, model.rotation, model.dims)
      private[graft] def encode(vec: Column, cluster: Column, c: Array[Array[Float]]): Column =
        Pq(model.pq).encode(rotated(vec), cluster, c)
      private[graft] def query(vec: Column, c: Array[Array[Float]]): Column =
        Pq(model.pq).query(rotated(vec), c)
      private[graft] def sim(
          codes: Column, q: Column, cluster: Column, c: Array[Array[Float]]): Column =
        Pq(model.pq).sim(codes, q, cluster, c)
      private[graft] override def writeModel(spark: SparkSession, root: String): Unit = {
        import spark.implicits._
        val d = model.dims
        (0 until d)
          .map(i => (d, i, (0 until d).map(j => model.rotation(i * d + j))))
          .toDF("dims", "row", "values")
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$root/${Opq.subdir}/rotation")
        writePqModel(spark, model.pq, s"$root/${Opq.subdir}/pq")
      }
    }
    object Opq extends Form("codes_opq", "_opq") {
      private[graft] def read(spark: SparkSession, root: String): Persisted = {
        val rows = spark.read.parquet(s"$root/$subdir/rotation").orderBy("row").collect()
        Opq(graft.operators.Opq.Model(
          rows.flatMap(_.getSeq[Float](2)).toArray, readPqModel(spark, s"$root/$subdir/pq")))
      }
    }

    /** The model-carrying forms, in dispatch order. */
    private val forms: Seq[Form] = Seq(Opq, PqResid, Pq)

    /** Every model subdir an index root may hold, the quantizer first. */
    private[graft] val modelSubdirs: Seq[String] = QuantizerSubdir +: forms.map(_.subdir)

    /** Every list column a persisted form stores its codes in. */
    private[graft] val codeColumns: Set[String] = forms.map(_.column).toSet + Int8.column

    /** The form of the persisted index at `dir`, read from its live root:
      * the model subdir present picks the form, int8 when none is, and
      * the model is read once.
      */
    def of(spark: SparkSession, dir: String): Persisted = {
      val root = IndexLayout.liveRoot(spark, dir)
      val fs = IndexLayout.fsOf(spark, dir)
      forms.find(f => fs.exists(new Path(s"$root/${f.subdir}")))
        .fold[Persisted](Int8)(_.read(spark, root))
    }
  }

  private def writePqModel(spark: SparkSession, model: Pq.Model, path: String): Unit = {
    import spark.implicits._
    val dsub = model.dsub
    (0 until model.m * model.ksub)
      .map(e => (model.m, model.ksub, e, (0 until dsub).map(i => model.codebook(e * dsub + i))))
      .toDF("m", "ksub", "entry", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  private def readPqModel(spark: SparkSession, path: String): Pq.Model = {
    val rows = spark.read.parquet(path).orderBy("entry").collect()
    Pq.Model(rows.flatMap(_.getSeq[Float](3)).toArray, rows.head.getInt(0), rows.head.getInt(1))
  }

  // ------------------------------------------------------ search, in memory

  /** The probe frame (query_id, qside, cluster): one row per query and
    * probed list, the codec's query operand in `qside`.
    */
  private def probes(
      queries: DataFrame, centroids: Array[Array[Float]], nprobe: Int, codec: Codec): DataFrame =
    queries.select(
      col("vec_id").as("query_id"), codec.query(col("embedding"), centroids).as("qside"),
      explode(transform(
        slice(nearestClusters(col("embedding"), centroids), 1, nprobe),
        s => -s.getField("neg_id"))).as("cluster"))

  /** The inverted lists (vec_id, <codec column>, cluster, metaCols...):
    * full-precision assignment first, then the codec's encode against the
    * assigned cluster.
    */
  private def listed(
      corpus: DataFrame, centroids: Array[Array[Float]], codec: Codec,
      metaCols: Seq[String] = Nil): DataFrame = {
    val meta = metaCols.map(col)
    corpus
      .select(Seq(col("vec_id"), col("embedding"),
        clusterOf(col("embedding"), centroids).cast("int").as("cluster")) ++ meta: _*)
      .select(Seq(col("vec_id"),
        codec.encode(col("embedding"), col("cluster"), centroids).as(codec.column),
        col("cluster")) ++ meta: _*)
  }

  /** Candidates = lists equi-joined on cluster with the broadcast probes
    * (a query never matches itself), scored by the codec's `sim`, top-k
    * per query — shared by in-memory search and every served layout.
    */
  private def rank(
      lists: DataFrame, probed: DataFrame, k: Int, codec: Codec,
      centroids: Array[Array[Float]]): DataFrame = {
    val cand = lists.alias("c")
      .join(broadcast(probed.alias("q")),
        col("c.cluster") === col("q.cluster") && col("query_id") =!= col("c.vec_id"))
      .select(
        col("query_id"), col("c.vec_id").as("neighbor_id"),
        codec.sim(col(s"c.${codec.column}"), col("qside"), col("c.cluster").cast("int"), centroids)
          .as("sim"))
    Similarity.rankTopK(cand, k)
  }

  /** IVF search in memory: corpus rows keep 1 cluster; queries probe
    * `nprobe` clusters; candidates = equi-join on cluster, scored by
    * `codec` — exact float cosine by default, or any persisted form
    * without writing it (at full probe the served index ranks the same
    * rows; the parity specs pin it).
    */
  def topK(
      corpus: DataFrame,
      queries: DataFrame,
      centroids: Array[Array[Float]],
      k: Int = 10,
      nprobe: Int = 2,
      codec: Codec = Codec.Float32): DataFrame =
    rank(listed(corpus, centroids, codec), probes(queries, centroids, nprobe, codec),
      k, codec, centroids)

  // --------------------------------------------------------- persisted index

  /** The quantizer is VERSIONED WITH the index, literally: [[writeIndex]]
    * persists the centroids under `dir/_quantizer` (the underscore
    * prefix hides the subdir from Spark's data-file listing, so reading
    * the inverted lists at `dir` is unaffected — the `_spark_metadata`
    * convention). Serve and append read it back, so the append contract
    * ("assign against the index's OWN centroids") cannot be broken by
    * passing a retrained array.
    */
  private val QuantizerSubdir = "_quantizer"

  /** PERSIST an IVF index: one parquet table of (vec_id, codes,
    * metaCols...) PARTITIONED BY cluster id — the inverted lists ARE the
    * partition layout — with the coarse quantizer and the codec's model
    * beside it, so serving and appending are fully self-describing.
    * Build once per corpus snapshot, serve many. Int8 lists cost dims
    * bytes per vector, the PQ family m bytes (8 B at the defaults).
    *
    * `metaCols` are passthrough columns (source, license, date — whatever
    * serving filters on) riding every list row: filter state lives IN the
    * index so the pruned scan can push it down, the standard filtered-ANN
    * trade. Keep them to the few small columns queries filter by; with
    * 8-byte codes the metadata is often larger than the vector payload.
    *
    * The rows SHUFFLE onto their cluster before the partitioned write:
    * without it every write task fans a file into every cluster dir it
    * sees — ScaleProbe17 measured 32,768 files for a k=1024 index from
    * 32 tasks (tasks x clusters), with the write at 57.9 s and every
    * pruned serve paying a file listing/open tax (4.3 s/probe set) that
    * grows with executor count. Cluster-aligned, each inverted list is
    * one file (tasks carrying several clusters still cut one file per
    * cluster): same index, 1,024 files, write 9.0 s, warm pruned serve
    * 1.8 s. Lists that outgrow a sane file size split via
    * `spark.sql.files.maxRecordsPerFile` — a size bound, not a
    * task-count artifact.
    */
  def writeIndex(
      corpus: DataFrame, centroids: Array[Array[Float]], dir: String,
      metaCols: Seq[String] = Nil, codec: Persisted = Codec.Int8): Unit = {
    val spark = corpus.sparkSession
    resetIndexState(spark, dir)
    listed(corpus, centroids, codec, metaCols)
      .repartition(col("cluster"))
      .write.partitionBy("cluster").mode("overwrite").parquet(dir)
    import spark.implicits._
    centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i, c.toSeq) }
      .toDF("cluster", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$QuantizerSubdir")
    codec.writeModel(spark, dir)
  }

  /** Full-rebuild reset: a rebuild is a NEW index, so the generation
    * pointer, old generations, batch areas, replay markers, AND the
    * model subdirs all go — a stale model subdir (the dispatch bit)
    * from a previous layout would otherwise make self-describing
    * appends encode to the WRONG code form against the new lists.
    * (Contract: use a fresh stream checkpoint after a rebuild — an old
    * checkpoint would re-deliver batches the new index never saw.)
    */
  private def resetIndexState(spark: SparkSession, dir: String): Unit =
    Generations.reset(IndexLayout.fsOf(spark, dir), dir,
      Seq(IndexLayout.AppendsDataSubdir, IndexLayout.AppendsSubdir) ++ Codec.modelSubdirs)

  /** The coarse quantizer persisted with the index at `dir`. */
  def readCentroids(spark: SparkSession, dir: String): Array[Array[Float]] =
    spark.read.parquet(s"${IndexLayout.liveRoot(spark, dir)}/$QuantizerSubdir")
      .orderBy("cluster").collect()
      .map(_.getSeq[Float](1).toArray)

  /** The live inverted lists of a persisted index: the current base
    * generation UNION every committed-but-not-yet-folded append batch
    * (each an atomically visible directory under `_appends_data` — see
    * [[appendIndexBatch]]). This is THE read path every serve goes
    * through; reading `dir` with a bare `spark.read.parquet` sees only
    * the flat layout and goes stale after the first compaction.
    *
    * Concurrency: the resolution is a point-in-time snapshot. A reader
    * racing a compaction flip may fail against just-collected files and
    * must retry; it can never observe a half-folded state (a batch is
    * either visible in full or already in the base generation, and the
    * `_folded` manifest says which).
    */
  def readIndex(spark: SparkSession, dir: String): DataFrame =
    IndexLayout.readLive(spark, dir)

  /** Serve top-k from a [[writeIndex]] directory, in whatever form it
    * was written: quantizer and codec model both read back from `dir`.
    * The probed cluster ids are collected from the QUERY set (small by
    * contract — it rides a broadcast) and pushed as a literal
    * `cluster IN (...)` filter, so the parquet scan STATICALLY PRUNES to
    * the probed partitions — serving I/O is (lists touched)/(corpus),
    * not a full index scan; the spec asserts the pruning is in the plan.
    *
    * `predicate` (over the persisted metadata columns) applies INSIDE the
    * pruned scan — Parquet pushes it down (PushedFilters, spec-asserted)
    * — and top-k ranks the SURVIVORS (post-filter semantics, the
    * filtered-ANN contract). The recall caveat is about CORRELATION, not
    * selectivity — measured (ScaleProbe19, 200k vectors): filters
    * independent of embedding space thin every list uniformly and cost
    * nothing (recall@10 = 1.000 at nprobe=2 down to 1/100 selectivity),
    * while a filter aligned with cluster structure concentrates
    * survivors in lists the query may not probe (recall 0.250 at
    * nprobe=2 when the filter keeps exactly one cluster, restored to
    * 1.000 at full probe). Raise nprobe for such predicates.
    *
    * NOTE: deriving the literal IN-list fires an EAGER Spark job at call
    * time (the price of static pruning — the filter must be a literal
    * before the plan is built). The probe frame is localCheckpoint'ed
    * first so the query-side subplan runs ONCE and the join reuses the
    * materialized probes instead of recomputing them.
    */
  def searchIndex(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int = 10,
      nprobe: Int = 2,
      predicate: Option[Column] = None): DataFrame =
    serve(spark, dir, Codec.of(spark, dir), queries, k, nprobe, predicate)

  private def serve(
      spark: SparkSession, dir: String, codec: Persisted, queries: DataFrame,
      k: Int, nprobe: Int, predicate: Option[Column]): DataFrame = {
    val centroids = readCentroids(spark, dir)
    val probed = probes(queries, centroids, nprobe, codec).localCheckpoint(eager = true)
    val clusters = probed.select("cluster").distinct().collect().map(_.getInt(0))
    val pruned = readIndex(spark, dir)
      .filter(graft.gfunctions.in_set(col("cluster"), clusters.toSeq.map(_.toLong)))
    rank(predicate.fold(pruned)(pruned.filter), probed, k, codec, centroids)
  }

  /** Two-phase serve: [[searchIndex]] keeps k*oversample coarse
    * candidates per query, then the exact float rerank
    * ([[Similarity.exactRerank]]) re-scores just those against the float
    * corpus via an equi-join on candidate id — a broadcast-driven point
    * lookup, never a float-corpus scan. ScaleProbe16 measured the decay
    * this exists to fix (pure int8 recall@10 0.62 on a 200k dense
    * manifold, rerank 1.000). `oversample` defaults to the index's
    * codec's (10 for int8, 20 for the PQ family). The rerank scores
    * ORIGINAL vectors, so an OPQ index needs no rotation here.
    */
  def searchIndexRerank(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      corpus: DataFrame,
      k: Int = 10,
      nprobe: Int = 2,
      oversample: Option[Int] = None): DataFrame = {
    val codec = Codec.of(spark, dir)
    val coarse = serve(
      spark, dir, codec, queries, k * oversample.getOrElse(codec.oversample), nprobe, None)
    Similarity.exactRerank(coarse, queries, corpus, k)
  }

  /** APPEND a delta of new vectors to a persisted [[writeIndex]]
    * directory — the index lifecycle between rebuilds: a growing corpus
    * adds vectors far more often than the coarse quantizer needs
    * retraining, so deltas assign at full precision against the index's
    * OWN persisted centroids (retraining means a rebuild), encode to the
    * index's own form ([[Codec.of]]) and carry its metadata columns. The
    * batch lands as ONE atomically visible cluster-aligned directory
    * under `_appends_data` — appends never modify the base generation,
    * which is what makes a concurrent [[compactIndex]] unable to lose
    * them (the [[graft.sources.Generations]] protocol; FencingSpec proves
    * the interleaving). Serving needs no coordination: the next
    * [[readIndex]] resolution unions the committed batches in.
    *
    * Each append adds one directory of one-file-per-touched-cluster, so
    * the list read fragments over time — [[compactIndex]] is the
    * maintenance pass that folds batches back into one file per list.
    *
    * Concurrency contract: any number of appenders may run concurrently
    * with each other, with readers, and with ONE [[compactIndex]]; an
    * append may fail transiently during a compaction flip (stale model
    * read) and must be retried — it is never silently lost.
    */
  def appendIndex(delta: DataFrame, dir: String): Unit =
    IndexLayout.landBatch(
      encodeForIndex(delta, dir), dir, "adhoc-" + java.util.UUID.randomUUID.toString, "cluster")

  /** IDEMPOTENT append for exactly-once streaming ingest
    * ([[graft.streaming.Streams.indexAppendStream]]). Structured
    * Streaming's foreachBatch re-delivers a batch after a crash between
    * the sink write and the checkpoint commit, so the append must be a
    * pure function of (batch content, batchId):
    *
    *  1. the delta stages cluster-aligned under
    *     `dir/_appends_data/.b-<batchId>` (dot-prefixed — invisible);
    *  2. ONE atomic rename makes it visible at
    *     `dir/_appends_data/<batchId>` — visibility is the data commit,
    *     so a concurrent [[compactIndex]] snapshot sees the whole batch
    *     or none of it, never a prefix;
    *  3. a marker lands at `dir/_appends/<batchId>`: a replay that sees
    *     it returns without touching the index. A replay that finds the
    *     visible data dir but no marker (crash in the gap) re-creates
    *     only the marker — batch content is replay-identical by
    *     Structured Streaming's source-replayability contract and the
    *     encode is deterministic against the persisted models.
    *
    * Markers live at the top level and are NEVER deleted: compaction
    * garbage-collects a folded batch's data directory, and the
    * surviving marker is what makes a late replay of that batch a
    * no-op instead of a re-append. One empty file per micro-batch is
    * the price (bounded by ingest cadence; at a 5-minute trigger that
    * is ~100k markers/year — fold into a manifest file if the listing
    * ever matters).
    *
    * `namespace` scopes the batch id to one STREAM LIFETIME: Spark
    * numbers batches per checkpoint, so a stream re-pointed at this
    * index with a FRESH checkpoint restarts at batchId 0 — without a
    * namespace its genuinely new batches would be mistaken for replays
    * and silently dropped. [[graft.streaming.Streams.indexAppendStream]]
    * derives the namespace from the checkpoint path; direct callers own
    * the one-checkpoint-per-namespace contract. `legacyIds` are commit
    * records written under retired id forms, checked inside the same
    * replay fence (and inside the lane's transient-retry envelope), so
    * an upgrade replay of a pre-upgrade batch — marker present or
    * crash-window landed-but-unmarked — stays a no-op instead of
    * re-landing under the new namespace.
    *
    * Concurrency contract: see [[appendIndex]] — concurrent with other
    * appenders, readers, and one compactor; transient failure during a
    * flip is retried by the streaming lane (same batchId, idempotent).
    */
  def appendIndexBatch(
      delta: DataFrame, dir: String, batchId: Long, namespace: String = "",
      legacyIds: Seq[String] = Nil): Unit = {
    val spark = delta.sparkSession
    val fs = IndexLayout.fsOf(spark, dir)
    val id = s"$namespace$batchId"
    if (IndexLayout.batchMarked(fs, dir, id)) return // committed replay
    if (legacyIds.exists(appendCommitted(spark, dir, _))) return
    // empty batches land nothing — the guard lives in the shared
    // IndexLayout.landBatch (post-write staging check, so the batch
    // plan is never evaluated twice); the marker still lands, because
    // the replay fence must remember the batch committed (as nothing)
    IndexLayout.landBatch(encodeForIndex(delta, dir), dir, id, "cluster")
    IndexLayout.markBatch(fs, dir, id)
  }

  /** True iff an append batch with this fully-qualified id (namespace +
    * batchId) has already committed against this index: marker present,
    * OR landed-but-unmarked (the crash window between
    * [[IndexLayout.landBatch]]'s atomic visibility rename and the marker
    * create — the same state [[appendIndexBatch]] self-heals for its
    * OWN id). Both halves matter for a retired-namespace id
    * ([[graft.streaming.Streams.legacyBatchNamespace]]): a replay that
    * only checked the marker would re-land a crash-window batch under
    * the NEW namespace and duplicate its rows.
    */
  def appendCommitted(spark: SparkSession, dir: String, id: String): Boolean =
    // data-dir-first ordering lives in the shared layer — see
    // [[IndexLayout.appendCommitted]] for why the reverse order opens
    // a re-land window against a concurrent compaction
    IndexLayout.appendCommitted(spark, dir, id)

  /** Delta rows as the index's own lists: assigned against the persisted
    * quantizer and encoded to the persisted form, so an append can never
    * mix code columns into a foreign index (the partitioned read would
    * otherwise silently union the two schemas). The index's OWN schema
    * defines the passthrough metadata contract: every non-code column
    * the live lists have is carried, and a delta that lacks one fails
    * LOUDLY (AnalysisException) instead of landing rows the filtered
    * serve cannot see.
    */
  private def encodeForIndex(delta: DataFrame, dir: String): DataFrame = {
    val spark = delta.sparkSession
    val meta = spark.read.parquet(IndexLayout.liveRoot(spark, dir)).schema.fieldNames.toSeq
      .filterNot(Codec.codeColumns ++ Set("vec_id", "cluster"))
    listed(delta, readCentroids(spark, dir), Codec.of(spark, dir), meta)
  }

  /** Fold an appended-to index back to one file per inverted list, via
    * the [[graft.sources.Generations]] commit protocol: the folded copy
    * lands cluster-aligned in a brand-new `_gen-N+1` directory together
    * with COPIES of the model subdirs and a cumulative `_folded`
    * manifest of the batch ids it absorbed, is marked `_complete`, and
    * the `_current` pointer flips atomically. Row content is unchanged
    * — compaction is a LAYOUT operation; the spec pins search-result
    * identity across it.
    *
    * Concurrency contract — this is the round-14 writer fencing: at
    * most ONE compactor per index (the pointer flip is not arbitrated
    * between compactors), but compaction runs safely CONCURRENT with
    * any number of [[appendIndexBatch]]/[[appendIndex]] writers and
    * readers. An append that commits after the fold snapshot simply
    * stays outside the `_folded` manifest and remains live under the
    * new generation — it can never be deleted by the flip, because
    * appends and generations never share files (FencingSpec interleaves
    * a real append inside this function and proves zero lost rows and
    * marker integrity). Crash-safety: every pre-flip crash leaves the
    * old generation current and the partial new one invisible
    * (`_complete` is last); a mid-flip crash resolves to the completed
    * generation; all residue is swept on the next run's entry GC.
    */
  def compactIndex(spark: SparkSession, dir: String): Unit =
    compactIndexHooked(spark, dir, () => ())

  /** [[compactIndex]] with a test seam: `afterSnapshot` runs between
    * the fold snapshot (the visible-batch listing) and the generation
    * write — exactly the window where the old in-place swap lost
    * concurrent appends.
    */
  private[graft] def compactIndexHooked(
      spark: SparkSession, dir: String, afterSnapshot: () => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = IndexLayout.fsOf(spark, dir)
    val models = Codec.modelSubdirs
    // The protocol (entry GC, fold snapshot fence, marker-before-
    // complete ordering, post-flip GC, the r13-era .old heal) is
    // [[Generations.fold]] behind [[IndexLayout.compact]]. What is
    // IVF-specific here: lists partition on `cluster`, and the sidecar
    // fold COPIES (never moves) the model subdirs, so the live root
    // stays fully readable until the flip and a concurrent append can
    // still encode against it.
    IndexLayout.compact(
      spark, dir, partitionCol = "cluster", sidecarNames = models,
      foldSidecars = (root, _, nextRoot) =>
        models.foreach { sub =>
          val src = new Path(s"$root/$sub")
          if (fs.exists(src))
            require(
              FileUtil.copy(fs, src, fs, new Path(s"$nextRoot/$sub"), false, conf),
              s"compactIndex: could not copy $sub into $nextRoot")
        },
      afterSnapshot = afterSnapshot)
  }

  // ------------------------------------------------- residual PQ training

  /** Driver-side cosine assignment matching [[clusterOf]]'s rule (sim
    * desc, lower cluster id on ties) — training-time residuals must
    * come from the SAME assignment the engine applies at encode time.
    */
  private def nearestByCosine(v: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      var dot = 0.0
      var nv = 0.0
      var nc = 0.0
      var i = 0
      while (i < v.length) {
        val vi = v(i).toDouble
        val ci = centroids(c)(i).toDouble
        dot += vi * ci
        nv += vi * vi
        nc += ci * ci
        i += 1
      }
      val sim = if (nv == 0.0 || nc == 0.0) 0.0 else dot / math.sqrt(nv * nc)
      if (sim > bestSim) { bestSim = sim; best = c } // strict > keeps the lower id on ties
      c += 1
    }
    best
  }

  /** Train the [[Codec.PqResid]] codebook against a coarse quantizer:
    * the residuals vec - centroid[cluster] of a decent quantizer are
    * smaller-magnitude and better-centered than raw vectors, so the same
    * m bytes buy finer cells. Same bounded-sample, fit-on-the-collected-sample
    * discipline as [[Pq.train]]; the sample assigns with the engine's own
    * cosine rule so training sees the distribution encoding will see.
    */
  def trainResidualPq(
      emb: DataFrame, centroids: Array[Array[Float]],
      m: Int = 8, ksub: Int = 64, dims: Int = 64,
      iters: Int = 10, sampleFactor: Long = 100L): Pq.Model = {
    val sample = trainingSample(emb, ksub, sampleFactor)
      .select("vec_id", "embedding").orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).toArray)
    val residuals = sample.map { v =>
      val c = centroids(nearestByCosine(v, centroids))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    Pq.trainOnVectors(residuals, m, ksub, dims, iters)
  }
}
