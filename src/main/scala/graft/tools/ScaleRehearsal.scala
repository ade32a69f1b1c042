package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-rehearsal corpus generator (SCALING.md, "Scale
  * rehearsal" section).
  *
  * Replicates the `documents` / `embeddings` / `events` tables k× while
  * preserving each table's *internal* statistical structure and adding no
  * cross-replica structure — so a k× corpus stresses exactly the per-row
  * and per-key costs a k× lake would, without inflating (or deflating)
  * per-capita duplicate/neighbor density:
  *
  *   - documents: replica r>0 applies a seeded substitution cipher over
  *     [a-zA-Z] via `translate` (codegen'd, length-preserving). Word
  *     lengths, punctuation, whitespace and doc lengths are
  *     byte-identical, so profile/quality distributions are preserved;
  *     shingle sets map bijectively, so intra-replica near-dup structure
  *     is exactly preserved while cross-replica shingle overlap collapses
  *     to chance.
  *   - embeddings: replica r>0 applies a seeded permutation of the
  *     dimensions — an orthogonal map, so intra-replica cosines are
  *     exactly preserved and cross-replica cosines decorrelate.
  *   - events: event/user ids shift by a replica stride — k× key
  *     cardinality with per-key timelines byte-identical (the correct
  *     scaling shape for sessionize / as-of / range joins, where work is
  *     per-key).
  *
  * Replica 0 is a pass-through, so `replicas=1` re-writes the source
  * through the same parquet writer: the 1× baseline and the k× corpus
  * share file layout and compression, isolating the data-volume effect in
  * any 1× vs k× timing comparison.
  *
  * Usage: runMain graft.tools.ScaleRehearsal <srcDir> <outDir> <replicas>
  *          [tables]
  *   tables: optional comma-list restricting which tables are generated
  *   (e.g. "embeddings" for an ANN-only corpus — a ×100 full star is
  *   minutes of parquet writing the ANN rehearsal never reads).
  */
object ScaleRehearsal {

  private val IdStride = 100000000L

  private def shuffledAlphabet(seed: Long): String = {
    val rnd = new java.util.Random(seed)
    val arr = ('a' to 'z').toBuffer
    // Fisher–Yates with a fixed seed: stable across runs and JVMs
    for (i <- arr.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.mkString
  }

  private def permutation(n: Int, seed: Long): Seq[Int] = {
    val rnd = new java.util.Random(seed)
    val arr = (0 until n).toBuffer
    for (i <- arr.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
    }
    arr.toSeq
  }

  /** Per-replica substitution cipher over ASCII LETTERS ONLY: bijective on
    * [a-zA-Z], so intra-replica shingle/dup structure is preserved exactly
    * while cross-replica letter-gram overlap collapses to chance. CAVEAT:
    * documents containing no ASCII letters (pure digits/punctuation/
    * whitespace) are byte-identical across replicas and would inherit
    * cross-replica exact-dup structure — fine for this word-soup corpus
    * (every doc has letters), but remap digits too before pointing the
    * generator at a corpus where that doesn't hold.
    */
  def documentsReplica(df: DataFrame, r: Int): DataFrame = {
    val shifted = df.withColumn("doc_id", col("doc_id") + lit(r * IdStride))
    if (r == 0) shifted
    else {
      val lower = ('a' to 'z').mkString
      val perm = shuffledAlphabet(1000L + r)
      val from = lower + lower.toUpperCase
      val to = perm + perm.toUpperCase
      // translate is 1:1 over letters: n_chars stays valid byte-for-byte
      shifted.withColumn("text", translate(col("text"), from, to))
    }
  }

  def embeddingsReplica(df: DataFrame, r: Int, dim: Int): DataFrame = {
    val shifted = df.withColumn("vec_id", col("vec_id") + lit(r * IdStride))
    if (r == 0) shifted
    else {
      val perm = permutation(dim, 2000L + r)
      shifted.withColumn(
        "embedding",
        transform(typedlit(perm), p => element_at(col("embedding"), p + 1)))
    }
  }

  def eventsReplica(df: DataFrame, r: Int): DataFrame =
    df.withColumn("event_id", col("event_id") + lit(r * IdStride))
      .withColumn("user_id", col("user_id") + lit(r * IdStride))

  /** Relational-star replication (TPC-H-style linear scaling): every
    * entity key shifts by a replica stride, FK columns shift by the SAME
    * stride as the table they reference — so join fan-outs, per-customer
    * order profiles and per-order line counts are byte-identical per
    * replica, key cardinalities grow k×, and the dimension tables
    * nation/region stay fixed (17/5 rows — they do not scale in TPC-H
    * either; group-bys over them keep their group count with k× rows per
    * group, the correct 100 TB aggregation shape). Measure/value columns
    * are untouched, so every aggregate grows exactly k× in mass.
    */
  def keyShiftReplica(keyCols: Seq[String])(df: DataFrame, r: Int): DataFrame =
    keyCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(r * IdStride)))

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleRehearsal <srcDir> <outDir> <replicas> [tables]")
    val Array(srcDir, outDir, kStr) = args.take(3)
    val wanted: String => Boolean =
      args.lift(3).map(_.split(',').map(_.trim).toSet)
        .map(s => s.contains(_: String)).getOrElse(_ => true)
    val k = kStr.toInt
    require(k >= 1 && k <= 1000, s"replicas out of range: $k")

    val spark = graft.util.Tables.session("graft-scale-rehearsal")

    def replicate(name: String, f: (DataFrame, Int) => DataFrame): Unit = if (wanted(name)) {
      // raw read (no Tables.t ts normalization): the generated corpus
      // should round-trip the source column types so Tables.t applies the
      // exact same normalization when queries read it back
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val out = (0 until k).map(r => f(src, r)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      val n = spark.read.parquet(s"$outDir/$name.parquet").count()
      println(s"[scale-rehearsal] $name: ${src.count()} -> $n rows (x$k)")
    }

    lazy val dim = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .selectExpr("size(embedding) AS d").head().getInt(0)

    replicate("documents", documentsReplica)
    replicate("embeddings", (df, r) => embeddingsReplica(df, r, dim))
    replicate("events", eventsReplica)

    // relational star: FK strides mirror the referenced table's key stride;
    // nation/region replicate ONCE (fixed dimensions, as in TPC-H)
    replicate("customer", keyShiftReplica(Seq("c_custkey")))
    replicate("supplier", keyShiftReplica(Seq("s_suppkey")))
    replicate("part", keyShiftReplica(Seq("p_partkey")))
    replicate("orders", keyShiftReplica(Seq("o_orderkey", "o_custkey")))
    replicate("lineitem",
      keyShiftReplica(Seq("l_orderkey", "l_partkey", "l_suppkey")))
    Seq("region", "nation").filter(wanted).foreach { name =>
      spark.read.parquet(s"$srcDir/$name.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scale-rehearsal] $name: fixed dimension, 1x copy")
    }
    spark.stop()
  }
}
