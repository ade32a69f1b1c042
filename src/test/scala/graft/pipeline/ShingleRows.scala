package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Det

/** The shingle-row reference definitions the native kernels are pinned
  * against: `MinhashSig` (via [[bands]] of [[minhash]] over [[shingles]])
  * and `ShingleJaccard` (via [[jaccardVerify]]). These are the exploded
  * forms the pipeline ran before the kernels replaced them.
  */
object ShingleRows {

  /** Character k-shingles of the lowercased text: one row per (doc,
    * shingle occurrence); `dedup = true` adds the per-doc set semantics
    * (needed by Jaccard, NOT by minhash — min is duplicate-invariant).
    */
  def shingles(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
               k: Int = 5, dedup: Boolean = true): DataFrame = {
    // self-guarding length filter: Spark's sequence(1, 0) is the DESCENDING
    // array [1, 0], so an unguarded explode would fabricate two bogus
    // shingles for every document shorter than k
    val raw = docs.select(col(idCol).as("doc_id"), lower(col(textCol)).as("t"))
      .filter(length(col("t")) >= k)
      .select(col("doc_id"),
        explode(expr(s"sequence(1, length(t) - ${k - 1})")).as("i"),
        col("t"))
      .select(col("doc_id"), expr(s"substring(t, i, $k)").as("sh"))
    if (dedup) raw.distinct() else raw
  }

  /** MinHash signatures over a [[shingles]] table: for each of `nHashes`
    * affine seeds, the minimum `(a_i·h + b_i) mod p` over the doc's shingle
    * base hashes
    * `h = md5₆₀(shingle) mod p`. One md5 per shingle OCCURRENCE total — the
    * seed family is cheap integer arithmetic (an md5 per seed was the
    * measured CPU bottleneck of the whole dedup pipeline, 18× the hash
    * work for no statistical gain; an affine family over a prime field is
    * the textbook universal construction). All seeds aggregate in ONE wide
    * groupBy (map-side combinable) and unpivot afterwards — exploding a
    * seed column first would multiply the shuffle volume by nHashes.
    * Products stay in range: (p−1)² < 2⁶² < Long.MaxValue.
    */
  def minhash(shingleDf: DataFrame, nHashes: Int = 18): DataFrame = {
    val seeds = Dedup.minhashSeeds(nHashes)
    val withBase = shingleDf.select(col("doc_id"),
      (Det.md5Hash60(col("sh")) % Dedup.MinhashPrime).as("hb"))
    val aggs = seeds.zipWithIndex.map { case ((a, b), i) =>
      min((col("hb") * lit(a) + lit(b)) % Dedup.MinhashPrime).as(s"mh_$i")
    }.toSeq
    val stackArgs = (0 until nHashes).map(i => s"$i, mh_$i").mkString(", ")
    withBase.groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        expr(s"stack($nHashes, $stackArgs)").as(Seq("seed", "minhash")))
  }

  /** Banded signatures: `rowsPerBand` consecutive seeds hash together into
    * one bucket key per (doc, band).
    */
  def bands(minhashDf: DataFrame, rowsPerBand: Int = 6): DataFrame =
    minhashDf
      .groupBy(col("doc_id"), (col("seed") / lit(rowsPerBand)).cast("int").as("band"))
      .agg(Det.md5Hash60(
        array_join(
          transform(array_sort(collect_list(struct(col("seed"), col("minhash")))),
            x => x.getField("minhash").cast("string")),
          ",")).as("bh"))

  /** Exact n-gram Jaccard on the candidate pairs over a [[shingles]]
    * table: cand ⋈ shingles(d1) on d1, then ⋈ shingles on (d2, sh), a pair
    * aggregate and the two per-doc set sizes. Inner joins throughout, so
    * a pair sharing no shingle emits no row.
    */
  def jaccardVerify(candidates: DataFrame, shingleDf: DataFrame,
                    threshold: Double): DataFrame = {
    val sizes = shingleDf.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val a = shingleDf.select(col("doc_id").as("da"), col("sh").as("sha"))
    val b = shingleDf.select(col("doc_id").as("db"), col("sh").as("shb"))
    val inter = candidates
      .join(a, col("d1") === col("da"))
      .join(b, col("d2") === col("db") && col("sha") === col("shb"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("nab"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
      .select(col("d1"), col("d2"),
        (col("nab").cast("double") /
          (col("sz1") + col("sz2") - col("nab")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
