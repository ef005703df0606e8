package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The LSH rung every dedup and near-dup operator runs: band the
  * signatures, cap the degenerate buckets, pair the rows that share a
  * band, verify each pair on its full payload, then give every input row
  * a decision. Each step is written once here; the operators in [[Dedup]]
  * and [[graft.streaming.Streams]] choose the signature family, the verify
  * score and the decision columns.
  *
  * Random-hyperplane bands (embedding dedup and ANN): hyperplanes are ±1
  * sign vectors fixed at plan time from a splitmix-style mix of (plane,
  * dim) — deterministic across runs, engines, and cluster sizes, with no
  * driver-side RNG state to ship. Band values are computed per-row by the
  * native [[graft.functions.HyperplaneBands]] kernel: zero shuffle.
  */
object Lsh {

  def planeSigns(plane: Int, dims: Int): Seq[Float] =
    (0 until dims).map { j =>
      var z = (plane.toLong << 32 | j.toLong) + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      if ((z & 1L) == 0L) 1.0f else -1.0f
    }

  // ------------------------------------------------------------ band rows

  /** Explode a frame to one row per (row, band): adds band_idx/band_val.
    * Band values come from the native [[graft.functions.HyperplaneBands]]
    * kernel — every plane's dot accumulated in ONE walk of the vector
    * (bit-identical to the per-plane cosine_sim sign it replaced, which
    * re-walked the vector and recomputed both norms per plane);
    * posexplode's position IS the band index.
    */
  def banded(df: DataFrame, vecCol: String, planes: Int, bands: Int, dims: Int): DataFrame =
    df.select(
      col("*"),
      posexplode(graft.gfunctions.hyperplane_bands(col(vecCol), planes, bands, dims))
        .as(Seq("band_idx", "band_val")))

  /** One row per (row, band) from per-band value expressions: the `keep`
    * columns plus `band_idx` (the position in `bandVals`) and `band_val`.
    * The md5-minhash band strings, the simhash/phash bit rotations and
    * the ANN sign-grid bands.
    */
  private[graft] def bandRows(
      df: DataFrame, keep: Seq[String], bandVals: Seq[Column]): DataFrame =
    df.select(keep.map(col) :+ explode(array(bandVals.zipWithIndex.map { case (v, b) =>
        struct(lit(b).as("band_idx"), v.as("band_val"))
      }: _*)).as("band"): _*)
      .select(keep.map(col) ++ Seq(col("band.band_idx"), col("band.band_val")): _*)

  /** `keep` columns plus the k-hash xxhash minhash signature of `toks` as
    * `sig`: the native codegen'd [[graft.functions.MinhashSig]] kernel —
    * one tight pass per row, k seeded XXH64 hashes per shingle from a
    * reusable byte buffer, zero shuffle. A doc with no shingles has a NULL
    * signature and is dropped here, so empty docs never bucket together.
    * Replaces the declarative aggregate/transform/zip_with fold, which is
    * CodegenFallback and paid interpreted lambda frames plus a boxed long
    * per hash (ScaleProbe8, 102k docs: 3.27 s -> 0.24 s, 13.6x).
    */
  private[graft] def minhashSigned(
      df: DataFrame, toks: Column, k: Int, keep: String*): DataFrame =
    df.select(keep.map(col) :+ graft.gfunctions.minhash_sig(toks, k).as("sig"): _*)
      .filter(col("sig").isNotNull)

  /** One row per (row, band) of a [[minhashSigned]] frame: the `keep`
    * columns plus `band_key`, the xxhash of the band's `k / bands`
    * signature slots.
    */
  private[graft] def minhashBanded(
      sigged: DataFrame, k: Int, bands: Int, keep: String*): DataFrame = {
    val r = k / bands
    val keys = transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(col("sig"), b * lit(r) + lit(1), lit(r))))
    sigged.select(keep.map(col) :+ explode(keys).as("band_key"): _*)
  }

  // ------------------------------------------------------------------ cap

  /** Drop band rows that fall in buckets larger than `cap` — the shared
    * guard against degenerate mega-buckets before any band self-join.
    *
    * Why: pairs per bucket grow as C(n,2), so ONE boilerplate bucket of n
    * docs (the normal case in scraped corpora: templated pages, shared
    * headers) yields n(n-1)/2 pairs under a single join key — a straggler
    * task AQE cannot split (it is one key). A bucket past `cap` carries no
    * near-dup signal the band hash can discriminate anyway: its members are
    * either exact duplicates (caught by the 1-shuffle exact pass, which
    * should always run first) or hash-degenerate. The oversized-bucket set
    * is tiny by construction (≤ corpus/cap buckets), so it broadcasts and
    * the guard costs one map-side hash aggregate + a broadcast left-anti.
    */
  def capBuckets(banded: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    banded.join(broadcast(oversizedBuckets(banded, keyCols, cap)), keyCols, "left_anti")

  /** The oversized-bucket set itself — the ONE source of the cap law
    * (strict `>`, map-side-combined count, `bucket_n` column). Tiny by
    * construction (≤ corpus/cap rows), so callers broadcast it; exposed
    * separately because the SemDeDup family also STAMPS the set as a
    * `cell_capped` flag rather than only anti-joining it away, and two
    * inline copies of the law would silently diverge (r16 review).
    */
  def oversizedBuckets(banded: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    banded
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)

  // ---------------------------------------------------------------- pairs

  /** The capped band self-join: every distinct pair (id_a, id_b) with
    * id_a < id_b of rows in `banded` that share at least one band key
    * (`keyCols`), after [[capBuckets]]. The join shuffles band keys and
    * ids only; payloads re-attach for the verify ([[attach]]). `also`
    * adds pair columns over the join aliases `a` and `b` (the simhash
    * hamming distance); the pair's first row wins, so they must be
    * functions of the two rows alone.
    */
  private[graft] def selfPairs(
      banded: DataFrame, id: String, keyCols: Seq[String], cap: Int, also: Column*): DataFrame =
    keyPairs(capBuckets(banded, keyCols, cap), id, keyCols, also: _*)
      .dropDuplicates("id_a", "id_b")

  /** The uncapped self-join under [[selfPairs]]: one (id_a, id_b) row per
    * shared key. Called directly when each row carries ONE key, so a pair
    * cannot repeat (SemDeDup's cells, capped upstream so the oversized set
    * can also be stamped).
    */
  private[graft] def keyPairs(
      rows: DataFrame, id: String, keyCols: Seq[String], also: Column*): DataFrame =
    rows.alias("a")
      .join(rows.alias("b"),
        keyCols.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
          col(s"a.$id") < col(s"b.$id"))
      .select(Seq(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b")) ++ also: _*)

  // --------------------------------------------------------------- verify

  /** Re-attach each side's payload to candidate pairs: the pair column
    * `ids._1` joins `a`'s `id` and gains its `v` as `vs._1`, `ids._2`
    * joins `b`'s `id` and gains its `v` as `vs._2`. `a` and `b` are the
    * same table for a self-join and the two populations for an
    * asymmetric match.
    */
  private[graft] def attach(
      pairs: DataFrame, a: DataFrame, b: DataFrame, id: String, v: String,
      vs: (String, String), ids: (String, String) = ("id_a", "id_b")): DataFrame =
    pairs
      .join(a.select(col(id).as(ids._1), col(v).as(vs._1)), Seq(ids._1))
      .join(b.select(col(id).as(ids._2), col(v).as(vs._2)), Seq(ids._2))

  /** Estimated Jaccard of two minhash signatures: the share of the `k`
    * positions where they agree.
    */
  private[graft] def agreement(x: Column, y: Column, k: Int): Column =
    aggregate(
      zip_with(x, y, (p, q) => when(p === q, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / k

  /** Candidate pairs verified on full signatures: both sides' (doc_id,
    * sig) attached as `sigs`, kept when their [[agreement]]
    * `est_jaccard` is at least `tau`.
    */
  private[graft] def verifySigs(
      pairs: DataFrame, a: DataFrame, b: DataFrame, k: Int, tau: Double,
      ids: (String, String) = ("id_a", "id_b"),
      sigs: (String, String) = ("sig_a", "sig_b")): DataFrame =
    attach(pairs, a, b, "doc_id", "sig", sigs, ids)
      .withColumn("est_jaccard", agreement(col(sigs._1), col(sigs._2), k))
      .filter(col("est_jaccard") >= tau)

  // ------------------------------------------------------------- decision

  /** One decision row per row of `rows` (keyed by `id`, every column
    * kept): the verified pairs are grouped on their `by` column, `flag`
    * is true iff a row has one, `n` counts them (0 when none), and
    * `best = Some(score -> out)` adds the best score `max(score)` as `out`
    * (0.0 when none). Grouped on `id_b`, the larger id of each self-join
    * pair, this is the greedy keep-lowest-id rule: a row is a duplicate
    * iff a verified partner with a smaller id exists.
    */
  private[graft] def decide(
      rows: DataFrame, id: String, verified: DataFrame, by: String,
      flag: String, n: String, best: Option[(String, String)] = None): DataFrame = {
    // no alias when `by` is `id` itself: it would put `id AS id` in the
    // aggregate's result
    val found = verified
      .groupBy(if (by == id) col(id) else col(by).as(id))
      .agg(count(lit(1)).as(n), best.map { case (s, o) => max(col(s)).as(o) }.toSeq: _*)
    rows
      .join(found, Seq(id), "left")
      .select(rows.columns.toSeq.map(col) ++
        Seq(col(n).isNotNull.as(flag), coalesce(col(n), lit(0L)).as(n)) ++
        best.map { case (_, o) => coalesce(col(o), lit(0.0)).as(o) }: _*)
  }
}
