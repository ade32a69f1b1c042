package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Det

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, tokenization, quality scoring, language identification and
  * document fingerprinting. Everything is built from codegen'd
  * `org.apache.spark.sql.functions` (no UDFs in the hot path), so filters
  * and projections around these stay inside whole-stage codegen and push
  * into the parquet scan.
  */
object TextPipeline {

  /** Lowercase + whitespace-collapse + trim — the native one-pass
    * [[graft.functions.NormalizeText]] (regex twin in test scope, pinned
    * equal in NormalizeTextSpec).
    */
  def normalize(c: Column): Column =
    graft.functions.NormalizeText.normalizeText(c)

  /** Word tokens: maximal [a-z0-9]+ runs of the lowercased text — the
    * native one-byte-pass [[graft.functions.TextTokens]] expression
    * (every tokenizing operator in the suite rides this; the regex form
    * it replaced is retained in test scope and pinned equal in
    * TextTokensSpec).
    */
  def tokens(c: Column): Column =
    graft.functions.TextTokens.textTokens(c)

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Whitespace-delimited token count (the cheap estimator); 0 for empty
    * or whitespace-only text (split of "" yields [""], size 1, otherwise).
    */
  def wsTokenCount(c: Column): Column =
    when(length(trim(c)) === 0, 0).otherwise(size(split(trim(c), "\\s+")))

  /** A BPE-ish subword proxy: alpha runs, digit runs, and single
    * non-alphanumeric marks each count as one token. Native one-pass
    * count; the regex twin in test scope is the definition it is pinned
    * against (TextCountsSpec).
    */
  def bpeishTokenCount(c: Column): Column =
    graft.functions.BpeishCount.bpeishCount(c)

  /** English-ish stopwords (used by quality scoring); the regex pattern
    * is DERIVED from this list so the native word-set counter and the
    * regex twin can never drift apart.
    */
  val stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

  private[graft] def wordAltPattern(ws: Seq[String]): String =
    ws.mkString("\\b(", "|", ")\\b")

  val stopwordPattern: String = wordAltPattern(stopwords)

  def stopwordCount(c: Column): Column =
    graft.functions.WordSetCount.wordSetCount(c, stopwords)

  def stopwordCountHof(c: Column): Column =
    size(regexp_extract_all(lower(c), lit(stopwordPattern), lit(0)))

  val punctChars: String = ".,;:!?"

  def punctCount(c: Column): Column =
    graft.functions.AsciiSetCount.asciiSetCount(c, punctChars)

  /** Quality heuristics: length, mean token length, stopword ratio, punct
    * density. Composable columns; the composite flag marks documents that
    * look like prose rather than noise.
    */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nTok = tokenCount(text).cast("double")
    val nChars = length(text).cast("double")
    Seq(
      "n_chars" -> length(text),
      "n_tokens" -> tokenCount(text),
      "mean_token_len" -> (nChars / greatest(nTok, lit(1.0))),
      "stopword_ratio" -> (stopwordCount(text).cast("double") / greatest(nTok, lit(1.0))),
      "punct_ratio" -> (punctCount(text).cast("double") / greatest(nChars, lit(1.0))))
  }

  /** Model-based quality scoring (the fasttext-classifier-filter shape):
    * the linear predictor z = β·(1, n_tokens, stopword_ratio, punct_ratio,
    * mean_token_len) of a FIXED logistic model over the heuristic text
    * features. Kept in LINEAR space on purpose: `keep ⇔ z ≥ logit(τ)` is
    * exact double arithmetic (products and left-associated adds are
    * bit-identical across engines), so filter verdicts never hinge on a
    * transcendental's last ulp — compute `sigmoid(z)` only as a display
    * score. Row-local, UDF-free, codegen-fused; training the β itself is
    * the job of the SLOPE estimator (`fit/SlopeEstimator`), whose binomial
    * family produces exactly this shape of model.
    */
  def classifierScore(text: Column, beta: Array[Double]): Column = {
    require(beta.length == 5, s"beta must be (b0, bTok, bStop, bPunct, bMtl)")
    val nTok = tokenCount(text).cast("double")
    val nChars = length(text).cast("double")
    val stopR = stopwordCount(text).cast("double") / greatest(nTok, lit(1.0))
    val punctR = punctCount(text).cast("double") / greatest(nChars, lit(1.0))
    val mtl = nChars / greatest(nTok, lit(1.0))
    lit(beta(0)) + lit(beta(1)) * nTok + lit(beta(2)) * stopR +
      lit(beta(3)) * punctR + lit(beta(4)) * mtl
  }

  /** Corpus vocabulary: the topV most frequent tokens with their corpus
    * term frequencies, ties broken by token text — the broadcast side of
    * [[corpusFreqProfile]]. One explode + one map-side-combinable count;
    * the top-V cut is a TakeOrdered (driver-bounded by V, like the solver's
    * coefficient pulls). At 100 TB this is the standard vocab-build pass
    * every LM data pipeline runs once and caches.
    */
  def corpusVocab(docs: DataFrame, textCol: Column, topV: Int): DataFrame = {
    require(topV > 0, s"topV must be positive, got $topV")
    docs.select(explode(tokens(textCol)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok")).limit(topV)
  }

  /** Corpus-frequency quality profile (the CCNet idea — score documents by
    * how typical their vocabulary is for the corpus — WITHOUT the LM:
    * log-prob scoring would hinge on transcendental ulps across engines,
    * so the statistic is the exact mean corpus term-frequency instead).
    * Per doc: token count, in-vocab token count, and the sum of the
    * corpus frequencies of its in-vocab tokens — all exact integers, so
    * keep verdicts are integer cross-multiplications:
    * `in-vocab ratio ≥ r‰  ⇔  n_invocab·1000 ≥ r·n_tok` and
    * `mean in-vocab tf ≥ f  ⇔  sum_tf ≥ f·n_invocab`. A doc of corpus-rare
    * (or OOV-heavy) junk fails either gate; display means are single
    * rounded divisions (the Det recipe).
    *
    * Shape: explode tokens → ONE broadcast join against the vocab → per-doc
    * aggregate (map-side combinable). `carryCols` ride through the
    * aggregate's grouping key (id is unique, so they are constant per
    * group) instead of a second corpus-scale join back on the id. Output:
    * (idCol, carryCols…, n_tok, n_invocab, sum_tf, kept).
    */
  def corpusFreqProfile(docs: DataFrame, textCol: Column, vocab: DataFrame,
                        minInVocabPermille: Int, minMeanTf: Long,
                        idCol: String, carryCols: Seq[String] = Nil): DataFrame = {
    require(minInVocabPermille >= 0 && minInVocabPermille <= 1000,
      s"permille out of range: $minInVocabPermille")
    require(!docs.columns.exists(Set("tok", "tf", "n_tok", "n_invocab", "sum_tf", "kept")),
      "corpusFreqProfile reserves tok/tf/n_tok/n_invocab/sum_tf/kept")
    val keys = idCol +: carryCols
    docs
      .select(keys.map(col) :+ explode_outer(tokens(textCol)).as("tok"): _*)
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(keys.map(col): _*)
      .agg(count(col("tok")).as("n_tok"),
        count(col("tf")).as("n_invocab"),
        coalesce(sum(col("tf")), lit(0L)).as("sum_tf"))
      .withColumn("kept",
        col("n_invocab") * 1000 >= lit(minInVocabPermille) * col("n_tok") &&
          col("sum_tf") >= lit(minMeanTf) * col("n_invocab") &&
          col("n_tok") > 0)
  }

  /** Row-local twin of [[corpusFreqProfile]] with the vocabulary held as a
    * LITERAL map (the streaming-side form of a broadcast): per-doc
    * statistics come from higher-order functions over the token array —
    * no explode, no join, no aggregation — so the exact same column
    * expressions run on a batch OR STREAMING DataFrame in append mode
    * with zero state. Bit-identical verdicts to the join form (pinned by
    * `StreamingSpec`): both sides sum the same exact integers.
    *
    * The vocab map is bounded by construction (top-V from
    * [[corpusVocab]]); at 100 TB the corpus pass that builds it runs once
    * offline and the filter applies it to the firehose — the CCNet
    * deployment shape. A truly-online vocabulary would be the
    * state-store/MG shape of `heavyHittersStream`, a different operator.
    */
  def corpusFreqProfileBroadcast(docs: DataFrame, textCol: Column,
                                 vocab: Map[String, Long],
                                 minInVocabPermille: Int,
                                 minMeanTf: Long): DataFrame = {
    require(minInVocabPermille >= 0 && minInVocabPermille <= 1000,
      s"permille out of range: $minInVocabPermille")
    require(vocab.nonEmpty, "vocab must be non-empty")
    // native hash probe (BroadcastLookup), not a typedlit map: literal-map
    // element_at is a linear key scan — O(|vocab|) per token at the top-V cap
    val toks = tokens(textCol)
    val tfs = transform(toks,
      t => graft.functions.BroadcastLookup.mapGetLong(t, vocab))
    docs
      .withColumn("n_tok", coalesce(size(toks), lit(0)).cast("long"))
      .withColumn("n_invocab",
        coalesce(size(filter(tfs, x => x.isNotNull)), lit(0)).cast("long"))
      .withColumn("sum_tf",
        coalesce(aggregate(tfs, lit(0L), (acc, x) => acc + coalesce(x, lit(0L))),
          lit(0L)))
      .withColumn("kept",
        col("n_invocab") * 1000 >= lit(minInVocabPermille) * col("n_tok") &&
          col("sum_tf") >= lit(minMeanTf) * col("n_invocab") &&
          col("n_tok") > 0)
  }

  /** Collected [[corpusVocab]] as the driver-held map
    * [[corpusFreqProfileBroadcast]] consumes — bounded by topV, the same
    * driver-pull discipline as the solver's coefficient collects.
    */
  def corpusVocabModel(docs: DataFrame, textCol: Column, topV: Int): Map[String, Long] =
    corpusVocab(docs, textCol, topV)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Self-trained bigram language-model quality profile — the CCNet
    * perplexity filter's SHAPE (score each document by how predictable its
    * token stream is under a corpus LM) with an engine-exact statistic:
    * per bigram occurrence, surprisal is the INTEGER bit-length gap
    * `⌊log2(c1(w1)+V)⌋ − ⌊log2(c2(w1,w2)+1)⌋` — the number of doublings
    * between the Laplace-smoothed context mass and the bigram count, i.e.
    * log2(1/p̂) quantized to ±1 bit. Bit lengths come from `length(bin(x))`
    * (pure string ops, identical in Spark and DuckDB), so per-doc sums are
    * exact integers and the keep gate is a cross-multiplication
    * (`sum_bits·10 ≤ maxMeanDecibits·n_bigrams`) — no transcendental
    * anywhere, per the same reasoning as [[corpusFreqProfile]].
    *
    * Shape at 100 TB: one row-local bigram explode (native `WordGrams`),
    * unigram and bigram count aggregations (both map-side combinable; the
    * bigram key is the 60-bit md5 of the gram, shared with the oracle),
    * the vocab size V as a 1-row broadcast, and two equi-joins back onto
    * the occurrence stream. The bigram-count join side keeps ONLY the
    * repeated set (c2 ≥ 2, typically ~5–10 % of distinct bigrams in web
    * text — Zipf singletons dominate); an unmatched occurrence IS the
    * c2 = 1 case, whose surprisal term is the constant bit-length
    * `length(bin(2)) = 2`, substituted exactly on the left join's nulls.
    * Same trick as dupGramProfile's dup-set join: ~20× smaller build side
    * for AQE to broadcast, bit-identical results. No all-pairs stage, no
    * window; the hottest bigram carries a count, never a row blowup.
    * Output per input doc: (idCol, carryCols…, n_bigrams,
    * sum_surprisal_bits, kept); docs with fewer than 2 tokens get zeros
    * and keep (0 ≤ 0).
    */
  def bigramLmProfile(docs: DataFrame, maxMeanDecibits: Int,
                      idCol: String = "doc_id", textCol: Column = col("text"),
                      carryCols: Seq[String] = Nil): DataFrame = {
    require(maxMeanDecibits >= 0, s"maxMeanDecibits must be >= 0, got $maxMeanDecibits")
    val reserved = Set("tok", "w1", "g2", "c1", "c2", "v", "su",
      "n_bigrams", "sum_surprisal_bits", "kept")
    require(!docs.columns.exists(reserved), s"bigramLmProfile reserves ${reserved.mkString("/")}")
    val toks = docs.select(explode(tokens(textCol)).as("tok"))
    val uni = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val vocabSize = uni.agg(count(lit(1)).as("v"))
    val bg = docs.select(col(idCol).as("doc_id"),
        explode(wordGramArray(textCol, 2)).as("bg"))
      .select(col("doc_id"), substring_index(col("bg"), " ", 1).as("w1"),
        Det.md5Hash60(col("bg")).as("g2"))
    val big = bg.groupBy("g2").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= 2)
    val perDoc = bg.join(big, Seq("g2"), "left")
      .join(uni, bg("w1") === uni("tok"))
      .crossJoin(broadcast(vocabSize))
      .select(col("doc_id"),
        (length(bin(col("c1") + col("v"))) -
          when(col("c2").isNull, lit(2)) // absent ⇒ c2 = 1 ⇒ len(bin(2))
            .otherwise(length(bin(col("c2") + 1))))
          .cast("long").as("su"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("su")).as("sum_surprisal_bits"))
    docs.select(col(idCol).as("doc_id") +: carryCols.map(col): _*)
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_bigrams", "sum_surprisal_bits"))
      .withColumn("kept",
        col("sum_surprisal_bits") * 10 <= lit(maxMeanDecibits.toLong) * col("n_bigrams"))
  }

  /** Driver-held bigram LM for the streaming filter twin: unigram counts
    * c1, REPEATED-bigram counts only (c2 ≥ 2 — absence ⇒ c2 = 1, the same
    * compaction [[bigramLmProfile]]'s join side uses), and the vocabulary
    * size V of the training corpus.
    */
  final case class BigramLmModel(c1: Map[String, Long],
                                 c2Rep: Map[String, Long],
                                 v: Long)

  /** Train the driver-held LM from a batch corpus. Both driver pulls are
    * guarded LOUDLY: a corpus whose vocabulary or repeated-bigram set
    * exceeds the caps fails instead of silently OOMing the driver — at
    * that scale, use the distributed [[bigramLmProfile]] (self-scoring) or
    * shard the model.
    */
  def bigramLmModel(docs: DataFrame, textCol: Column,
                    maxVocab: Int = 1 << 20,
                    maxRepeated: Int = 1 << 20): BigramLmModel = {
    val uni = docs.select(explode(tokens(textCol)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val nVocab = uni.count()
    require(nVocab <= maxVocab,
      s"vocabulary $nVocab exceeds maxVocab=$maxVocab — use bigramLmProfile " +
        "or raise the cap")
    val big = docs.select(explode(wordGramArray(textCol, 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= 2)
    val nRep = big.count()
    require(nRep <= maxRepeated,
      s"repeated-bigram set $nRep exceeds maxRepeated=$maxRepeated")
    BigramLmModel(
      uni.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      big.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      nVocab)
  }

  /** Row-local twin of [[bigramLmProfile]] applying a FIXED driver-held
    * LM ([[BigramLmModel]]) as literal maps: surprisal bits per bigram
    * occurrence via the same `length(bin(·))` integer arithmetic, summed
    * with a higher-order `aggregate` inside the row — no explode, no
    * count-table joins, no state — so it runs unchanged on a streaming
    * DataFrame in append mode. Unseen context words score with c1 = 0
    * (Laplace mass V only): on the training corpus itself every w1 is
    * in-vocab, which is what makes the batch ≡ broadcast equality exact
    * (`StreamingSpec`).
    */
  def bigramLmProfileBroadcast(docs: DataFrame, maxMeanDecibits: Int,
                               model: BigramLmModel,
                               textCol: Column = col("text")): DataFrame = {
    require(maxMeanDecibits >= 0, s"maxMeanDecibits must be >= 0, got $maxMeanDecibits")
    require(model.c1.nonEmpty, "bigram LM has an empty vocabulary")
    // native hash probes (BroadcastLookup), not typedlit maps: literal-map
    // element_at scans all keys per probe — O(|c1|+|c2|) per bigram at the
    // 2²⁰ caps. An empty c2Rep is fine: every probe misses (c2 = 1 case).
    import graft.functions.BroadcastLookup.mapGetLong
    val bgs = wordGramArray(textCol, 2)
    def su(bg: Column): Column = {
      val c1 = coalesce(mapGetLong(substring_index(bg, " ", 1), model.c1), lit(0L))
      val c2 = mapGetLong(bg, model.c2Rep)
      (length(bin(c1 + lit(model.v))) -
        when(c2.isNull, lit(2)).otherwise(length(bin(c2 + 1)))).cast("long")
    }
    docs
      .withColumn("n_bigrams", coalesce(size(bgs), lit(0)).cast("long"))
      .withColumn("sum_surprisal_bits",
        coalesce(aggregate(bgs, lit(0L), (acc, bg) => acc + su(bg)), lit(0L)))
      .withColumn("kept",
        col("sum_surprisal_bits") * 10 <=
          lit(maxMeanDecibits.toLong) * col("n_bigrams"))
  }

  /** Per-language function-word lists for the n-gram/stopword language-ID
    * heuristic; ASCII-only words, so the DERIVED regex patterns run
    * identically in Spark (Java regex) and an RE2-based oracle on ASCII
    * text, and the native word-set counter's run-equality (ASCII `\b`,
    * i.e. RE2/oracle) semantics apply exactly — see
    * [[graft.functions.WordSetCount]] for the one boundary case where
    * Java regex disagreed with both.
    */
  val langWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "ich", "ein", "zu", "den"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "las", "es", "una", "en", "que", "por", "con", "para"))

  val langPatterns: Seq[(String, String)] =
    langWords.map { case (l, ws) => l -> wordAltPattern(ws) }

  def langScore(text: Column, words: Seq[String]): Column =
    graft.functions.WordSetCount.wordSetCount(text, words)

  def langScoreHof(text: Column, pattern: String): Column =
    size(regexp_extract_all(lower(text), lit(pattern), lit(0)))

  /** Predicted language: argmax of the per-language scores with a fixed
    * tie-break order (declaration order above); 'und' when no pattern hits.
    */
  def langId(text: Column): Column = {
    val scores = langWords.map { case (l, ws) => l -> langScore(text, ws) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((l, s), acc) =>
      when(s === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Word n-gram array of the text, one entry per OCCURRENCE in document
    * order (space-joined token windows). Built entirely inside the row —
    * no positional self-join, so per-doc gram work never shuffles — by the
    * native codegen'd `WordGrams` expression (an interpreted
    * `transform`/`slice` twin in test scope is what it is property-tested
    * against, RepetitionSpec).
    * Empty array for docs with fewer than n tokens.
    */
  def wordGramArray(c: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    graft.functions.WordGrams.wordGrams(tokens(c), n)
  }

  /** 60-bit md5 fingerprint of the normalized text — the exact-dedup key
    * (shared hash recipe with the DuckDB oracle, see Det.md5Hash60).
    */
  def fingerprint(text: Column): Column = Det.md5Hash60(normalize(text))

  /** Karp–Rabin rolling hash over the normalized text — the incremental
    * fingerprint a streaming/chunked pipeline would maintain. Pure Scala
    * (used inside mapPartitions extractors); not SQL-oracled.
    */
  def rollingHash(s: String): Long = {
    val mod = 1000000000000007L // < 2^63/31: no overflow in acc*31+c
    var acc = 7L
    var i = 0
    while (i < s.length) {
      acc = (acc * 31 + s.charAt(i).toLong) % mod
      i += 1
    }
    acc
  }
}
