package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Byte-pair-encoding tokenizer, trained and applied at corpus scale —
  * the real token accounting a training-data pipeline budgets with
  * (token quotas, sequence packing, per-source token counts), replacing
  * the whitespace proxy where the actual subword count matters.
  *
  * Published algorithm (Sennrich, Haddow & Birch, ACL 2016,
  * arXiv:1508.07909): merges are learned over the WORD-FREQUENCY
  * DICTIONARY, not the corpus stream — the corpus collapses to
  * `(word, count)` in one distributed aggregation, and training walks
  * that dictionary on the driver with incremental pair-count updates.
  * The dictionary is capped at `maxWords` (count-ordered, deterministic
  * tie-break), the same bounded-scalar-handshake shape as the IVF
  * centroids: at 100 TB the top-100k words carry ~99.9% of token mass,
  * and the cap is what keeps driver state bounded regardless of corpus
  * size.
  *
  * Application is also dictionary-shaped: a batch explodes to words,
  * each DISTINCT word encodes once (cost ∝ batch vocabulary, not batch
  * size — the per-word greedy merge loop is the one imperative step,
  * run as a UDF over the distinct-word frame because no built-in or
  * single codegen expression expresses an ordered merge recursion),
  * and an equi-join fans the encodings back out to occurrences. Token
  * counts then fold with one hash aggregation; full token sequences
  * reassemble by position sort within each document.
  *
  * Tokenizer primitive: the same `lower_ws` word splitter as
  * [[TextIndex]], so word boundaries agree across the lexical ring.
  */
object Bpe {

  /** End-of-word marker appended to every word's symbol sequence
    * (Sennrich's `</w>`): merges can learn word-final subwords and
    * detokenization stays unambiguous. */
  val EndOfWord = "</w>"

  /** An ordered merge table: `merges(r)` is the r-th learned pair.
    * Greedy application in rank order reproduces the training
    * segmentation (spec-proven). */
  final case class BpeModel(merges: Array[(String, String)]) {
    lazy val ranks: Map[(String, String), Int] =
      merges.iterator.zipWithIndex.toMap
    def vocabSizeHint: Int = merges.length
  }

  /** `(word, cnt)` over the lower_ws words of `docs(text)` — one
    * distributed aggregation, map-side partial counts. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(TextIndex.terms(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))

  /** Train `numMerges` merges over the corpus. The dictionary collect
    * is bounded by `maxWords` (count desc, word asc — deterministic);
    * everything after it is driver-side and O(dict). */
  def train(docs: DataFrame, numMerges: Int,
      maxWords: Int = 100000): BpeModel = {
    val dict = wordCounts(docs)
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainFromDict(dict, numMerges)
  }

  /** Split into code-point symbols (surrogate-pair safe) + the
    * end-of-word marker. */
  def charSymbols(word: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < word.length) {
      val n = Character.charCount(word.codePointAt(i))
      out += word.substring(i, i + n)
      i += n
    }
    out += EndOfWord
    out.toArray
  }

  /** Sennrich's trainer with indexed incremental pair statistics:
    * pair → total count and pair → containing-word set are maintained
    * across merges, so each merge touches only the words it occurs in.
    * Best-pair selection is a lazy max-heap (stale entries skipped on
    * pop); ties break (count desc, left asc, right asc) so training is
    * deterministic. Merging stops early when no pair repeats. */
  def trainFromDict(dict: Seq[(String, Long)], numMerges: Int): BpeModel = {
    val words: Array[mutable.ArrayBuffer[String]] =
      dict.map(d => mutable.ArrayBuffer(charSymbols(d._1): _*)).toArray
    val wcnt: Array[Long] = dict.map(_._2).toArray
    val pairCount = mutable.HashMap.empty[(String, String), Long]
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]

    def pairsOf(w: mutable.ArrayBuffer[String]): Iterator[(String, String)] =
      if (w.length < 2) Iterator.empty
      else w.iterator.zip(w.iterator.drop(1))

    // lazy max-heap: (count, left, right); an entry is live iff its
    // count still matches pairCount. EVERY count change enqueues the
    // new value (add and sub both), otherwise a decremented pair's
    // only heap entries would all be stale and it could never be
    // selected again.
    implicit val ord: Ordering[(Long, String, String)] =
      Ordering.Tuple3(Ordering.Long,
        Ordering.String.reverse, Ordering.String.reverse)
    val heap = mutable.PriorityQueue.empty[(Long, String, String)]

    def add(p: (String, String), wi: Int, c: Long): Unit = {
      val now = pairCount.getOrElse(p, 0L) + c
      pairCount.update(p, now)
      pairWords.getOrElseUpdate(p, mutable.Set.empty) += wi
      heap.enqueue((now, p._1, p._2))
    }
    def sub(p: (String, String), c: Long): Unit = {
      val left = pairCount(p) - c
      if (left <= 0) { pairCount.remove(p); pairWords.remove(p) }
      else {
        pairCount.update(p, left)
        heap.enqueue((left, p._1, p._2))
      }
      // pairWords membership of the shrinking word is NOT pruned here:
      // the transform loop re-adds pairs that survive, and a stale
      // member only costs a no-op rescan if the pair is merged later
    }

    words.indices.foreach { wi =>
      pairsOf(words(wi)).foreach(p => add(p, wi, wcnt(wi)))
    }

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && merges.length < numMerges) {
      var best: Option[(String, String)] = None
      while (best.isEmpty && heap.nonEmpty) {
        val (c, l, r) = heap.dequeue()
        if (pairCount.get((l, r)).contains(c)) best = Some((l, r))
      }
      best match {
        case None => done = true
        case Some(p) if pairCount(p) < 2 => done = true
        case Some(p) =>
          merges += p
          val merged = p._1 + p._2
          val touched = pairWords(p).toArray.sorted
          touched.foreach { wi =>
            val w = words(wi)
            pairsOf(w).foreach(q => sub(q, wcnt(wi)))
            val nw = mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < w.length) {
              if (i + 1 < w.length && w(i) == p._1 && w(i + 1) == p._2) {
                nw += merged; i += 2
              } else { nw += w(i); i += 1 }
            }
            words(wi) = nw
            pairsOf(nw).foreach(q => add(q, wi, wcnt(wi)))
          }
          // membership sets for pairs that vanished from some words but
          // survive elsewhere were rebuilt by the re-add loop above
      }
    }
    BpeModel(merges.toArray)
  }

  /** Greedy application: repeatedly merge the lowest-rank adjacent
    * pair (all its occurrences, left to right) until none applies.
    * Reproduces the training segmentation for dictionary words.
    * `model.ranks` is a lazy val — built once per (deserialized) model
    * instance, i.e. once per executor under a broadcast. */
  def encodeWord(word: String, model: BpeModel): Array[String] = {
    val ranks = model.ranks
    var syms = charSymbols(word)
    var changed = true
    while (changed && syms.length >= 2) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        ranks.get((syms(i), syms(i + 1))).foreach { r =>
          if (r < bestRank) bestRank = r
        }
        i += 1
      }
      if (bestRank == Int.MaxValue) changed = false
      else {
        val (l, r) = model.merges(bestRank)
        val out = mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
            out += l + r; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toArray
      }
    }
    syms
  }

  /** Encode every distinct word of `words(word)` once: `(word, toks)`.
    * The UDF runs over the distinct-word frame only — the merge
    * recursion has no built-in/codegen form, and distinct-word scoping
    * keeps its cost ∝ vocabulary, not corpus. */
  def encodeWords(words: DataFrame, model: BpeModel): DataFrame = {
    val spark = words.sparkSession
    val modelB = spark.sparkContext.broadcast(model)
    val enc = udf((w: String) => encodeWord(w, modelB.value))
    words.select(col("word"), enc(col("word")).as("toks"))
  }

  /** Exact subword token count per document: `(doc_id, n_tokens)` —
    * TOTAL over the input (a document with no words counts 0, it does
    * not vanish; `explode_outer` keeps its spine row and the left join
    * folds it as 0, matching the streaming twin's semantics). One
    * explode + per-(doc, word) count, one distinct-word encode, one
    * equi-join fan-out, one hash-agg fold — no windows, nothing
    * corpus-sized on the driver. */
  def tokenCounts(docs: DataFrame, model: BpeModel): DataFrame = {
    val perWord = docs
      .select(col("doc_id"),
        explode_outer(TextIndex.terms(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("occ"))
    val wtoks = encodeWords(
        perWord.select(col("word")).where(col("word").isNotNull).distinct(),
        model)
      .select(col("word"), size(col("toks")).cast("long").as("n"))
    perWord.join(wtoks, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(col("occ") * coalesce(col("n"), lit(0L))).as("n_tokens"))
  }

  /** Full token sequences: `(doc_id, tokens)` with subwords in
    * document order — TOTAL like [[tokenCounts]] (a wordless document
    * yields an empty array). Same distinct-word encode; sequences
    * reassemble with a position-sorted collect inside one
    * aggregation. */
  def tokenize(docs: DataFrame, model: BpeModel): DataFrame = {
    val positioned = docs
      .select(col("doc_id"),
        posexplode_outer(TextIndex.terms(col("text"))).as(Seq("pos", "word")))
    val wtoks = encodeWords(
        positioned.select(col("word")).where(col("word").isNotNull).distinct(),
        model)
    positioned.join(wtoks, Seq("word"), "left")
      .groupBy(col("doc_id"))
      // the wordless spine row carries a null toks struct — filter it
      // before flattening (flatten over a null element returns null,
      // not the empty array this contract promises)
      .agg(flatten(transform(
        filter(array_sort(collect_list(struct(col("pos"), col("toks")))),
          s => s.getField("toks").isNotNull),
        s => s.getField("toks"))).as("tokens"))
  }

  /** Invert [[tokenize]]: subword arrays concatenate losslessly back
    * to the lower_ws-normalized text (every word ends in exactly one
    * [[EndOfWord]], so marker→space + trailing trim reconstructs the
    * single-space join). Pure built-in column functions — stays in
    * whole-stage codegen; the lossless round trip is oracle-gated
    * (q_x_bpe_roundtrip). */
  def detokenize(tokens: Column): Column =
    rtrim(regexp_replace(concat_ws("", tokens), EndOfWord, " "))

  /** Training-ready packed sequences — the concat-then-chunk assembly
    * every published pretraining pipeline ends with: documents
    * tokenize, concatenate in seed-keyed shuffle order, and cut into
    * exact `budget`-token sequences (a document can straddle a
    * boundary). Output `(sub, seq_id, tokens)`: within each of the
    * `16^subChars` hex sub-strata, every sequence except the last is
    * exactly `budget` long and reading sequences in `seq_id` order
    * replays the sub-stratum's documents in shuffle order, token for
    * token (spec-proven) — each sub-stratum is one independent
    * trainer shard, which is exactly how multi-worker tokenizer runs
    * shard anyway.
    *
    * Scale: the cumulative-offset pass runs over PER-DOCUMENT counts
    * (narrow rows; the window is sub-stratified like
    * [[Sampling.packSequences]], so no |strata|-task trap). Only then
    * do tokens explode with global positions — the one corpus × tokens
    * stage, which IS the output materialization — and reassemble with
    * one budget-bounded collect per sequence. Position arithmetic is
    * exact long division (no doubles). */
  def packTokenSequences(docs: DataFrame, model: BpeModel, budget: Long,
      seed: String = "pack", subChars: Int = 2): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(subChars >= 1 && subChars <= 8,
      s"subChars must be in [1, 8], got $subChars")
    def ldiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val keyed = Sampling.shuffleKey(
      tokenize(docs, model).withColumn("_n", size(col("tokens")).cast("long")),
      col("doc_id"), seed)
      .withColumn("_sub", substring(col("shuffle_key"), 1, subChars))
    val packed = Sampling.packSequences(keyed, col("_n"), budget,
      stratum = lit("_"), order = col("shuffle_key"),
      subStratum = Some(col("_sub")))
    // a doc's exclusive token offset within its sub-stratum is
    // seq_id * budget + seq_offset; token t then lives at global
    // position g = offset + t → sequence g / budget, slot g % budget
    val g = col("seq_id") * budget + col("seq_offset") + col("_pos")
    packed
      .select(col("_sub").as("sub"),
        posexplode(col("tokens")).as(Seq("_pos", "_tok")),
        col("seq_id"), col("seq_offset"))
      .select(col("sub"), ldiv(g, lit(budget)).as("seq_id"),
        pmod(g, lit(budget)).as("_slot"), col("_tok"))
      .groupBy(col("sub"), col("seq_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("_slot"), col("_tok")))),
        s => s.getField("_tok")).as("tokens"))
  }

  /** Provenance of [[packTokenSequences]]: which document occupies
    * which slots of which sequence — `(sub, seq_id, doc_id,
    * start_slot, n_tokens)`, one row per (document, sequence) overlap.
    * This is what erasure and contamination tracing consume: when a
    * document must be removed or was found contaminated, the rows name
    * exactly the sequences to re-cut, without touching token data.
    * Derived entirely from the narrow per-document offsets (a doc
    * spanning tokens [c, c+n) overlaps sequences c/b .. (c+n-1)/b —
    * a small per-doc range explode), so the corpus × tokens stage of
    * the packed export never runs here. Same `(seed, subChars,
    * budget)` ⇒ consistent with the packed output (spec-proven:
    * per-sequence provenance token counts sum to the sequence's
    * length, and slot ranges tile it without overlap). */
  def packProvenance(docs: DataFrame, model: BpeModel, budget: Long,
      seed: String = "pack", subChars: Int = 2): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    require(subChars >= 1 && subChars <= 8,
      s"subChars must be in [1, 8], got $subChars")
    def ldiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val keyed = Sampling.shuffleKey(
      tokenCounts(docs, model).withColumn("_n", col("n_tokens")),
      col("doc_id"), seed)
      .withColumn("_sub", substring(col("shuffle_key"), 1, subChars))
    val packed = Sampling.packSequences(keyed, col("_n"), budget,
      stratum = lit("_"), order = col("shuffle_key"),
      subStratum = Some(col("_sub")))
      .where(col("_n") > 0)
    val c = col("seq_id") * budget + col("seq_offset")
    val lastSeq = ldiv(c + col("_n") - 1, lit(budget))
    packed
      .select(col("_sub").as("sub"), col("doc_id"), col("_n"), c.as("_c"),
        explode(sequence(col("seq_id"), lastSeq)).as("_seq"))
      .select(col("sub"), col("_seq").as("seq_id"), col("doc_id"),
        // the doc's slice of sequence _seq: global positions
        // [max(c, _seq*b), min(c+n, (_seq+1)*b)
        greatest(col("_c"), col("_seq") * budget).as("_from"),
        least(col("_c") + col("_n"), (col("_seq") + 1) * budget).as("_to"))
      .select(col("sub"), col("seq_id"), col("doc_id"),
        pmod(col("_from"), lit(budget)).as("start_slot"),
        (col("_to") - col("_from")).as("n_tokens"))
  }

  // ---- persisted word dictionary (the incremental-training store) ----

  private val DictProps = graft.sources.Sidecar("_graft_bpe_dict.properties",
    "BPE dictionary", "build with writeWordCounts (or the previous " +
      "write/append/compact was torn mid-commit)")

  /** Persist the corpus word dictionary: `(word, cnt)` parquet
    * segments at the directory root + a tokenizer sidecar written
    * LAST (write-then-rename). The dictionary — not the corpus — is
    * BPE training's input, so persisting IT is what makes periodic
    * tokenizer refreshes incremental: [[appendToWordCounts]] tokenizes
    * only its batch, and the accumulated corpus is never re-tokenized
    * for a retrain. Counts are additive, so appended segments fold at
    * read ([[readWordCounts]] merges with one hash agg) and
    * [[compactWordCounts]] folds them physically — the same
    * invalidate-then-revalidate lifecycle as the minhash / IVF / text
    * stores (a mid-commit crash leaves a refusing directory). */
  def writeWordCounts(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    wordCounts(docs).write.mode("overwrite").parquet(dir)
    writeDictProps(spark, dir)
  }

  /** Grow the dictionary by one batch: tokenize ONLY the batch and
    * append its `(word, cnt)` segment. Unlike the id-keyed stores
    * there is no duplicate-id contract — counts merge by addition. */
  def appendToWordCounts(newDocs: DataFrame, dir: String): Unit = {
    val spark = newDocs.sparkSession
    DictProps.require(spark, dir)
    DictProps.down(spark, dir)
    wordCounts(newDocs).write.mode("append").parquet(dir)
    writeDictProps(spark, dir)
  }

  /** The merged dictionary: segments fold in one hash aggregation. */
  def readWordCounts(spark: SparkSession, dir: String): DataFrame = {
    DictProps.require(spark, dir)
    spark.read.parquet(dir)
      .groupBy(col("word")).agg(sum(col("cnt")).as("cnt"))
  }

  /** Fold appended segments into one physical layout (the same staged
    * root rewrite as the other stores; counts merge by sum). */
  def compactWordCounts(dir: String): Unit = {
    val spark = SparkSession.active
    DictProps.require(spark, dir)
    DictProps.down(spark, dir)
    IndexFiles.rewriteRoot(spark, dir,
      _.groupBy(col("word")).agg(sum(col("cnt")).as("cnt")))
    writeDictProps(spark, dir)
  }

  /** Train from the stored dictionary — the incremental retrain path:
    * no corpus scan at all, just the capped dictionary collect. */
  def trainFromStore(spark: SparkSession, dir: String, numMerges: Int,
      maxWords: Int = 100000): BpeModel = {
    val dict = readWordCounts(spark, dir)
      .orderBy(col("cnt").desc, col("word"))
      .limit(maxWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    trainFromDict(dict, numMerges)
  }

  private def writeDictProps(spark: SparkSession, dir: String): Unit =
    DictProps.write(spark, dir, "tokenizer" -> "lower_ws")

  // ---- persistence (same sidecar discipline as the other stores) ----

  private val ModelProps = graft.sources.Sidecar("_graft_bpe.properties",
    "BPE", "train and save a model first")

  /** Persist the merge table beside the corpus: `merges/` parquet
    * (rank, left, right) first, properties sidecar LAST, so a torn
    * write leaves a refusing directory. */
  def save(spark: SparkSession, model: BpeModel, dir: String): Unit = {
    import spark.implicits._
    model.merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }.toSeq
      .toDF("rank", "left", "right")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/merges")
    ModelProps.write(spark, dir, "tokenizer" -> "lower_ws",
      "end_of_word" -> EndOfWord, "merges" -> model.merges.length)
  }

  def load(spark: SparkSession, dir: String): BpeModel = {
    val n = ModelProps.require(spark, dir).int("merges")
    val merges = spark.read.parquet(s"$dir/merges")
      .orderBy(col("rank"))
      .collect()
      .map(r => (r.getString(1), r.getString(2)))
    require(merges.length == n,
      s"BPE store at $dir holds ${merges.length} merges, sidecar says $n")
    BpeModel(merges)
  }
}
