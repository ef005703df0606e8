package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Ivf, Similarity, SparseIndex}
import graft.sources.{Generations, IndexLayout}

/** The index layers, probed once inside the traced `scrape_load` run: build
  * the dense IVF index and the sparse BM25 index from the base part of a
  * generated corpus, append one held-back delta batch to both, serve a
  * hybrid (dense leg `Ivf.searchIndex`, sparse legs
  * `SparseIndex.sparseSearch2`, RRF fusion over the three lists) that also
  * asks for the documents just appended, compact both indexes, and write the
  * registry's served hybrid for the DuckDB `hybrid_index_rrf` oracle.
  *
  * Delta documents carry [[Markers]] tokens of their own, so the sparse
  * term budget of a delta document used as a query holds only terms no
  * other document has: retrieving itself at fused rank 1 is then a law of
  * the index, not a likelihood, and the serve asserts it.
  */
final class IndexProbe(spark: SparkSession, seed: Long) {
  import IndexProbe._

  private var dense, sparse: String = _
  private var toked, emb, vecs: DataFrame = _
  private var queries: Seq[Long] = _
  // rows of every query and delta document, handed to the program as local
  // frames the way a serving client sends them (a literal IN filter would
  // put the ids into generated code and defeat Spark's codegen cache)
  private var tokRows, vecRows: Map[Long, Row] = _
  private var docsPath: String = _

  private def build(dir: String): Unit = {
    val base = Corpus.generate(seed, 0, BaseDocs)
    val deltas = Corpus.generate(seed + 1, BaseDocs, DeltaDocs).map { d =>
      val text = d.text + (0 until Markers).map(j => s" mk${d.doc_id}x$j").mkString
      d.copy(text = text, n_chars = text.length.toLong)
    }
    docsPath = s"$dir/documents.parquet"
    spark.createDataFrame(base ++ deltas).coalesce(1).write.parquet(docsPath)
    // the serve frames every leg reads: the tokenized corpus and its
    // md5-law embedding, as the registry's hybrid serve builds them
    toked = spark.read.parquet(docsPath)
      .select(col("doc_id"), graft.gfunctions.ws_tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0).localCheckpoint()
    emb = Dedup.textEmbedMd5From(toked).localCheckpoint()
    vecs = Similarity.embVecs(emb).localCheckpoint()
    dense = s"$dir/dense"
    sparse = s"$dir/sparse"
    val baseVecs = vecs.filter(col("vec_id") < BaseDocs)
    Ivf.writeIndex(baseVecs, Ivf.train(baseVecs, k = Lists, dims = Dedup.TextEmbedDims), dense)
    SparseIndex.writeIndex(toked.filter(col("doc_id") < BaseDocs), sparse)
    val r = new java.util.SplittableRandom(seed ^ 0x5eed)
    queries = Seq.fill(Queries)(r.nextInt(BaseDocs).toLong).distinct
    def rowsOf(f: DataFrame, c: String) =
      f.join(spark.createDataFrame((queries ++ deltaIds).map(Tuple1(_))).toDF(c), c)
        .collect().map(r => r.getLong(0) -> r).toMap
    tokRows = rowsOf(toked, "doc_id")
    vecRows = rowsOf(vecs, "vec_id")
  }

  private def local(rows: Map[Long, Row], ids: Seq[Long], like: DataFrame, negate: Boolean = false): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ids.map { id =>
      val r = rows(id)
      if (negate) Row.fromSeq(-r.getLong(0) +: r.toSeq.tail) else r
    }: _*), like.schema)

  private def deltaIds: Seq[Long] = (0 until DeltaDocs).map(i => BaseDocs.toLong + i)

  /** Fused top-k lists of the query rows `qVecs`/`qToked` (ids `qids`),
    * checked: k results per query in rank order with non-increasing scores.
    */
  private def serve(rec: Recorder, qVecs: DataFrame, qToked: DataFrame, qids: Seq[Long]): Array[Row] = {
    val d = rec.layer("ivf.search")(Ivf.searchIndex(spark, dense, qVecs, K, NProbe))
    val (tfidf, bm25) = rec.layer("sparse_index.search") {
      SparseIndex.sparseSearch2(spark, sparse, qToked, K)
    }
    val fused = rec.layer("similarity.fuse") {
      Similarity.rrfFuse(Seq(d, tfidf, bm25).map(_.select("query_id", "neighbor_id", "rank")), K).collect()
    }
    val byQuery = fused.groupBy(_.getLong(0))
    Check(byQuery.keySet == qids.toSet, s"${byQuery.size} of ${qids.size} queries answered")
    byQuery.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getInt(1))
      Check(sorted.map(_.getInt(1)).toSeq == (1 to K), s"query $qid ranks ${sorted.map(_.getInt(1)).mkString(",")}")
      Check(sorted.map(_.getLong(3)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
        s"query $qid scores not in rank order")
    }
    fused
  }

  private def sampleLayout(rec: Recorder, docs: Long): Unit = {
    val fs = IndexLayout.fsOf(spark, dense)
    val (units, bytes) = Seq(dense, sparse).map { dir =>
      val roots = Generations.liveRoots(fs, dir, IndexLayout.AppendsDataSubdir)
      (roots.size, roots.map(r => Proc.dirBytes(new java.net.URI(r).getPath,
        n => n.startsWith("_appends") || n.startsWith("_gen-"))._1).sum)
    }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    rec.sample("index_layout.live_units", units)
    rec.sample("index_layout.bytes_per_doc", bytes.toDouble / docs)
  }

  /** Build the indexes under `dir`, then one append, one read-your-writes
    * serve (the fixed queries plus, under fresh ids, the appended documents,
    * each of which must retrieve itself at fused rank 1) and one
    * compaction; the served hybrid for the oracle goes to `outDir`.
    * Returns the number of queries served.
    */
  def probe(rec: Recorder, dir: String, outDir: String): Long = {
    build(dir)
    rec.layer("ivf.append")(Ivf.appendIndex(local(vecRows, deltaIds, vecs), dense))
    rec.layer("sparse_index.append")(SparseIndex.appendIndex(local(tokRows, deltaIds, toked), sparse))
    val docs = BaseDocs.toLong + DeltaDocs
    sampleLayout(rec, docs)
    val fused = serve(rec, local(vecRows, queries, vecs) unionByName local(vecRows, deltaIds, vecs, negate = true),
      local(tokRows, queries, toked) unionByName local(tokRows, deltaIds, toked, negate = true),
      queries ++ deltaIds.map(-_))
    val top = fused.filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    deltaIds.foreach(id => Check(top.get(-id).contains(id), s"appended doc $id not at rank 1 for itself: ${top.get(-id)}"))
    rec.layer("ivf.compact")(Ivf.compactIndex(spark, dense))
    rec.layer("sparse_index.compact")(SparseIndex.compactIndex(spark, sparse))
    sampleLayout(rec, docs)
    Similarity.hybridIndexServe(spark, dense, sparse, toked, emb, Similarity.TextSearchK,
      Similarity.TextSearchQueries).coalesce(1).write.parquet(s"$outDir/hybrid")
    val write = (name: String, text: String) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$name"), text.getBytes("UTF-8"))
    write("hybrid.sql", graft.SparkEntry.oracleSql("hybrid_index_rrf"))
    write("hybrid.input", docsPath)
    (queries.size + DeltaDocs).toLong
  }
}

object IndexProbe {
  val BaseDocs = 3000
  val DeltaDocs = 8
  val Markers = 16
  val Lists = 8
  val K = 5
  val NProbe = 2
  val Queries = 8
}
