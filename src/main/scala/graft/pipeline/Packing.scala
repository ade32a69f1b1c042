package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concat-and-chunk sequence packing — the standard pretraining layout:
  * documents concatenate in a deterministic order and the token stream is
  * cut into fixed `seqLen` chunks, documents spanning a boundary when they
  * must. Packing is SHARDED: a salted-hash shard key splits the corpus into
  * independent streams, each packed with a per-shard prefix sum — a global
  * ordering would serialize 100 TB through one prefix-sum chain, while
  * shards pack in parallel and waste at most one partial chunk each.
  *
  * Order within a shard is (salted hash, id): deterministic, engine- and
  * partitioning-independent, and it shuffles long/short documents together
  * so chunk boundaries aren't correlated with document length.
  */
object Packing {

  /** Per-document OVERLAPPING window chunking — the other standard
    * pre-training layout (long-document splitting with context overlap,
    * vs. [[packChunks]]' cross-document concatenation): windows of
    * `window` tokens starting every `stride` tokens (`window - stride`
    * tokens of overlap), last window partial. Entirely ROW-LOCAL — the
    * explode is bounded by per-document length and nothing shuffles — so
    * it scales embarrassingly. Output: (id, chunk_id, n_tokens, chunk)
    * with `chunk` the space-joined token window.
    *
    * Chunk count: 1 for n ≤ window, else 1 + ⌈(n − window)/stride⌉
    * (every token is covered; no chunk starts at-or-past the end).
    * Documents with zero tokens emit no rows.
    */
  def chunkOverlap(docs: DataFrame, idCol: String, tokensCol: String,
                   window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val n = size(col(tokensCol))
    val nChunks = when(n <= 0, lit(0))
      .otherwise(lit(1) + ceil((greatest(n - lit(window), lit(0)))
        .cast("double") / lit(stride.toDouble)).cast("int"))
    docs
      .select(col(idCol).as("id"), col(tokensCol).as("toks"), nChunks.as("nc"))
      .filter(col("nc") > 0)
      .select(col("id"), col("toks"),
        explode(expr("sequence(0, nc - 1)")).as("chunk_id"))
      .select(col("id"), col("chunk_id"),
        slice(col("toks"), col("chunk_id") * lit(stride) + 1, lit(window)).as("w"))
      .select(col("id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("w")).cast("long").as("n_tokens"),
        array_join(col("w"), " ").as("chunk"))
  }

  /** Length-bucketed batch assignment — the inference/finetune analogue of
    * [[packChunks]]: instead of concatenating, docs of SIMILAR length
    * batch together so per-batch padding (`batchSize · max_len − Σ len`)
    * stays small. A doc's bucket is `⌊len / bucketWidth⌋`; within each
    * (bucket, shard) docs order by the salted hash (id tie-break) and
    * every `batchSize` consecutive docs form one batch. Sharding is the
    * same anti-serialization trick as packing: batches only need UNIFORM
    * LENGTHS, not global contiguity, so a dominant bucket (most corpora
    * are unimodal in length!) splits across `nShards` independent
    * windows instead of sorting through one task. Deterministic across
    * engines, partitionings and re-executions.
    *
    * Output: one row per doc — (idCol, len, bucket, shard, batch_no,
    * pos_in_batch). Per-batch padding stats are one groupBy away (the
    * `p_length_batching` query audits exactly that).
    */
  def lengthBatches(docs: DataFrame, idCol: String, lenCol: org.apache.spark.sql.Column,
                    bucketWidth: Int, batchSize: Int, nShards: Int,
                    salt: String): DataFrame = {
    require(bucketWidth > 0 && batchSize > 0 && nShards > 0,
      s"need positive dials, got width=$bucketWidth batch=$batchSize shards=$nShards")
    require(!docs.columns.exists(Set("len", "bucket", "shard", "batch_no", "pos_in_batch")),
      "lengthBatches reserves len/bucket/shard/batch_no/pos_in_batch")
    val w = Window.partitionBy(col("bucket"), col("shard"))
      .orderBy(Sampling.rowHash(col(idCol), salt), col(idCol))
    docs
      .withColumn("len", lenCol.cast("long"))
      .withColumn("bucket", expr(s"len div $bucketWidth"))
      .withColumn("shard", Sampling.rowHash(col(idCol), salt + "-shard") % nShards)
      .withColumn("_rn", (row_number().over(w) - 1).cast("long"))
      .withColumn("batch_no", expr(s"_rn div $batchSize"))
      .withColumn("pos_in_batch", col("_rn") % batchSize)
      .drop("_rn")
  }

  /** Per-document packing assignment: shard, token interval
    * [start_tok, end_tok) in the shard's concatenated stream, and the
    * first/last chunk the document touches.
    */
  def packChunks(docs: DataFrame, idCol: String, tokCol: String,
                 nShards: Int, seqLen: Int, salt: String): DataFrame = {
    val shard = Sampling.rowHash(col(idCol), salt + "-shard") % nShards
    val w = Window.partitionBy("shard")
      .orderBy(Sampling.rowHash(col(idCol), salt + "-order"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard", shard)
      .withColumn("end_tok", sum(col(tokCol)).over(w))
      .select(col("shard"), col(idCol), col(tokCol).as("n_tok"),
        (col("end_tok") - col(tokCol)).as("start_tok"), col("end_tok"),
        expr(s"(end_tok - $tokCol) div $seqLen").as("first_chunk"),
        expr(s"(end_tok - 1) div $seqLen").as("last_chunk"))
  }

  /** Dedup-aware LOSS MASKS for packed sequences: duplicated-span
    * intervals ([[Dedup.dupIslands]], the ExactSubstr removal
    * geometry) mapped through the packing offsets ([[packChunks]]) into
    * the concatenated stream, split at chunk boundaries, and audited per
    * shard — the "train on it but don't learn it twice" shape: a trainer
    * masks the loss on duplicated spans instead of cutting them (cutting
    * shifts every offset and breaks document integrity; masking doesn't).
    *
    * Token definition is the word tokenizer on BOTH sides — span
    * coordinates and packing offsets must agree (deliberately unlike
    * `p_pack_sequences`, which audits BPE-ish counts).
    *
    * Scale shape — FAN-OUT-FREE: packing needs only `(doc_id, n_tokens)`,
    * which a cheap tokenize scan provides; the expensive gram
    * explode/distinct/semi-join substrate ([[Dedup.dupIslands]], affected
    * docs only) feeds ONLY the islands join, so it is evaluated exactly
    * once and nothing needs persisting. (The round-8 shape bundled both
    * columns into one `(doc_id, n_tokens, islands)` frame consumed twice;
    * the persist that patched the resulting fan-out was adjudicated by
    * rotated-interleave A/B/C at ×10/×100 — SPANMASK_AB.json, SCALING.md
    * round-10: this shape wins both scales, and the persist LOSES to
    * plain recompute at ×100 — caching the full per-doc islands table
    * costs more than what it saves.)
    * The mask mapping is a row-local explode bounded by islands ×
    * chunks-per-island. Output per shard (shards with no masked tokens
    * are absent): `n_mask_tokens` (Σ masked), `n_masked_chunks` (chunks
    * containing any mask), `max_chunk_mask` (worst chunk), and
    * `n_mask_pieces` (boundary-clipped intervals — what a dataloader
    * would consume). All-integer arithmetic.
    */
  def spanMaskReport(docs: DataFrame, n: Int, nShards: Int, seqLen: Int,
      salt: String, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val counts = docs
      .select(col(idCol).as("doc_id"),
        TextPipeline.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    val packed = packChunks(counts, "doc_id", "n_tokens", nShards, seqLen, salt)
    // inner join: unaffected docs carry no islands — identical output to
    // the old left-join-then-explode-empty, minus the join traffic
    maskRollup(packed, Dedup.dupIslands(docs, n, idCol, textCol), seqLen)
  }

  /** Maps per-doc span `islands` through `packed` offsets into per-shard
    * chunk-mask stats — [[spanMaskReport]]'s final stage.
    */
  private def maskRollup(packed: DataFrame, islands: DataFrame,
      seqLen: Int): DataFrame = {
    val pieces = packed
      .join(islands.select(col("doc_id"), col("islands")), Seq("doc_id"))
      .select(col("shard"), col("start_tok"), explode(col("islands")).as("isl"))
      .select(col("shard"),
        (col("start_tok") + col("isl.st")).as("gst"),
        (col("start_tok") + col("isl.en")).as("gen"))
      .select(col("shard"), col("gst"), col("gen"),
        explode(sequence(expr(s"gst div $seqLen"), expr(s"gen div $seqLen")))
          .as("chunk"))
      .select(col("shard"), col("chunk"),
        (least(col("gen"), (col("chunk") + 1) * seqLen - 1) -
          greatest(col("gst"), col("chunk") * lit(seqLen.toLong)) + 1)
          .as("masked"))
    pieces
      .groupBy("shard", "chunk")
      .agg(sum(col("masked")).as("chunk_mask"), count(lit(1)).as("n_pieces"))
      .groupBy("shard")
      .agg(sum(col("chunk_mask")).as("n_mask_tokens"),
        count(lit(1)).as("n_masked_chunks"),
        max(col("chunk_mask")).as("max_chunk_mask"),
        sum(col("n_pieces")).as("n_mask_pieces"))
  }

  /** Shard-level packing report: documents, tokens, emitted chunks, and
    * how many documents span a chunk boundary.
    */
  def shardReport(packed: DataFrame, seqLen: Int): DataFrame =
    packed.groupBy("shard").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      // integer ceil-div: exact at any token count (a double ceil would
      // lose exactness past 2^53 tokens per shard)
      expr(s"(max(end_tok) + ${seqLen - 1}) div $seqLen").as("n_chunks"),
      sum(when(col("first_chunk") =!= col("last_chunk"), 1L).otherwise(0L))
        .as("n_spanning"))
}
