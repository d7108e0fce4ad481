package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-quality analysis for training-data curation: token counting,
  * quality ratios, language-ID heuristic, fingerprinting. All
  * expression-level (codegen'd, no UDFs) and engine-portable: every
  * metric is reproducible in ANSI-ish SQL for oracle checks.
  */
object TextAnalysis {

  def tokens(text: Column): Column = split(text, " ", -1)
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Characters per token, whitespace excluded (int/int in double). */
  def avgTokenLen(text: Column): Column = avgTokenLenOf(text, tokens(text))

  /** [[avgTokenLen]] over a pre-split tokens column — see [[langIdOf]]
    * for why the shared-split variants exist. */
  def avgTokenLenOf(text: Column, toks: Column): Column = {
    val n = size(toks)
    (length(text) - (n - 1)).cast("double") / n.cast("double")
  }

  /** Fraction of characters that are sentence punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("double") /
      length(text).cast("double")

  private val stopwordsEn = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Fraction of tokens that are (English) stopwords. */
  def stopwordRatio(text: Column): Column = stopwordRatioOf(tokens(text))

  /** [[stopwordRatio]] over a pre-split tokens column. */
  def stopwordRatioOf(toks: Column): Column =
    size(filter(toks, t => t.isin(stopwordsEn.map(x => x: Any): _*)))
      .cast("double") / size(toks).cast("double")

  /** Composite quality row per document. One materialized tokens column
    * feeds every per-token metric: inlining `split` per metric costs a
    * tokenization per gate AND multiplies the generated code (measured
    * ~40% warm runtime and ~2 s first-run codegen on the curate gate at
    * sf0.1). Input widened — see [[graft.sources.Tables.widen]]. */
  def qualityTable(docs: DataFrame): DataFrame =
    graft.sources.Tables.widen(docs)
      .withColumn("_toks", tokens(col("text")))
      .select(
        col("doc_id"),
        size(col("_toks")).as("n_tokens"),
        avgTokenLenOf(col("text"), col("_toks")).as("avg_token_len"),
        punctRatio(col("text")).as("punct_ratio"),
        stopwordRatioOf(col("_toks")).as("stopword_ratio"))

  /** Language-ID heuristic: distinctive-stopword voting. Deterministic
    * and SQL-reproducible; returns the arg-max language or 'und' when no
    * dictionary token appears. (The real-corpus version would use
    * character n-gram profiles; the mechanism — per-language score +
    * arg-max — is the same shape.)
    */
  private val langDicts: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"))

  def langId(text: Column): Column = langIdOf(tokens(text))

  /** [[langId]] over a pre-split tokens column. The `Of` variants let a
    * multi-gate pipeline tokenize ONCE into a projected column instead
    * of re-splitting per metric — Catalyst CSE does not dedupe the
    * repeated `split` across gates, so the inline form pays one
    * tokenization per metric per row plus a copy of the split codegen
    * per call site. */
  def langIdOf(toks: Column): Column = {
    val scores = langDicts.map { case (lang, dict) =>
      (lang, size(filter(toks, t => t.isin(dict.map(x => x: Any): _*))))
    }
    // arg-max with fixed precedence order (en > es > de) on ties
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Content fingerprint: md5 of lowercased text (exact-dup key). */
  def fingerprint(text: Column): Column = md5(encode(lower(text), "UTF-8"))

  /** One-pass curation gate — the composed front of a training-data
    * pipeline: token-count and punctuation quality bounds + target
    * language + exact-dedup keep (lowest doc_id per content
    * fingerprint). Every gate is a per-row codegen'd expression
    * evaluated in the SAME scan; the dedup keep is the single shuffle.
    * Survivors feed the next stages (near-dup, tokenization, packing).
    */
  def curate(docs: DataFrame, lang: String = "en", minTokens: Int = 5,
      maxPunctRatio: Double = 0.2): DataFrame =
    graft.sources.Tables.widen(docs)
      .withColumn("_toks", tokens(col("text")))
      .where(
        size(col("_toks")) >= minTokens &&
        punctRatio(col("text")) <= maxPunctRatio &&
        langIdOf(col("_toks")) === lang)
      .groupBy(fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  /** Repetition quality signals (the Gopher/MassiveText repetition
    * filters, Rae et al. 2021 §A1.1 — public): excessive within-document
    * repetition marks low-quality machine-generated or boilerplate text.
    * Per document: unique-token ratio, most-frequent-token fraction,
    * most-frequent-bigram fraction.
    *
    * Scale shape: explode + hash-aggregate on (doc_id, gram) — per-row
    * array lambdas would be O(len²) per document, and a mega-document
    * would pin one task; the exploded aggregation is codegen'd,
    * map-side-combined, and skew rides AQE like any hot key.
    */
  def repetitionTable(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val base = graft.sources.Tables.widen(docs)
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
    val tokenStats = base
      .select(col("doc_id"), col("n"), explode(col("toks")).as("tk"))
      .groupBy(col("doc_id"), col("n"), col("tk")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("nd"), max(col("cnt")).as("maxc"))
    val bigrams = base.where(col("n") >= 2)
      .select(col("doc_id"), (col("n") - 1).as("nb"),
        explode(transform(sequence(lit(0), col("n") - 2),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(2))))).as("bg"))
      .groupBy(col("doc_id"), col("nb"), col("bg")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("nb")).agg(max(col("cnt")).as("maxb"))
    tokenStats.join(bigrams, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("nd").cast("double") / col("n").cast("double")).as("uniq_token_ratio"),
        (col("maxc").cast("double") / col("n").cast("double")).as("top_token_frac"),
        coalesce(col("maxb").cast("double") / col("nb").cast("double"), lit(0.0))
          .as("top_bigram_frac"))
  }

  /** PII redaction: emails, phone numbers, IPv4 addresses → typed
    * placeholders. Regexes are conservative (RE2-compatible — no
    * lookarounds/backrefs) so the same patterns run in any engine; the
    * chain order matters (emails first — they can contain digits and
    * dots that the later patterns would chew on).
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b", "<PHONE>"),
      "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b", "<IP>")

  /** Top-k salient terms per document by tf-idf. The idf factor is the
    * smoothed RATIO form `(N - df + 0.5) / (df + 0.5)` (BM25's idf
    * argument, Robertson-Spärck Jones) rather than its logarithm: every
    * op in the score is then IEEE-exact (integer arithmetic below 2^53
    * plus one correctly-rounded divide and multiply), so scores and
    * ranks reproduce bit-identically in any engine — `ln` is the one
    * transcendental whose last-ulp behavior differs across libms, and
    * it is monotone, so per-term orderings it induces are available by
    * substituting `log(...)` here without touching the plan shape.
    *
    * Scale shape: explode → (doc, term) hash-aggregate with map-side
    * combine; df is a second aggregate over those (already-distinct)
    * rows; N joins in as a broadcast single-row aggregate (no driver
    * collect); top-k is one window partitioned by doc. Ties break by
    * term for determinism.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = graft.sources.Tables.widen(docs)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") *
        ((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("term"))))
      .where(col("rank") <= k)
      .select("doc_id", "term", "score", "rank")
  }

  /** Frequency vocabulary with cumulative coverage — the census a
    * tokenizer-training / OOV-budget decision starts from: the corpus's
    * `topV` most frequent tokens with each prefix's share of ALL token
    * occurrences (`coverage` — "the top 32k tokens cover 99.1%").
    *
    * Scale shape: one explode into a map-side-combined hash aggregate
    * (|vocab| rows out, not |tokens|), top-V as orderBy+limit (Spark
    * plans TakeOrdered — no global sort), the corpus token total joins
    * as a broadcast single-row aggregate (no driver collect), and the
    * rank/coverage window runs AFTER the limit, so its single partition
    * holds exactly V rows — bounded by the vocabulary you asked for,
    * never the corpus. Ties break by token for determinism; integer
    * counts divide as doubles (IEEE-exact, engine-portable).
    */
  def vocabulary(docs: DataFrame, topV: Int = 32768): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topV > 0, s"topV must be positive, got $topV")
    val counts = graft.sources.Tables.widen(docs)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
    val total = counts.agg(sum(col("freq")).as("_total"))
    val w = Window.orderBy(col("freq").desc, col("token"))
    counts.orderBy(col("freq").desc, col("token")).limit(topV)
      .crossJoin(broadcast(total))
      .select(
        row_number().over(w).cast("long").as("rank"),
        col("token"), col("freq"),
        (sum(col("freq")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double") / col("_total")).as("coverage"))
  }

  /** Corpus-wide most-frequent n-GRAMS — the heavy-hitter phrase census
    * of the published pipelines (boilerplate phrase discovery,
    * contamination screens; [[vocabulary]] is the n=1 census with
    * coverage). Exact two-phase: sliding-window gram explode (every
    * occurrence counts — no distinct) → ONE hash aggregation with
    * map-side partial counts → global top-k planned as
    * TakeOrderedAndProject (k rows per partition, k at the driver — no
    * global sort ever materializes). Integer counts over plain-string
    * grams, so the census hash-matches plain SQL (q_x_text_topgrams).
    * Ties at the boundary break on the gram string, so the k rows are
    * deterministic. */
  def topGrams(docs: DataFrame, n: Int = 2, k: Int = 100): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(k >= 1, s"k must be >= 1, got $k")
    val toks = tokens(col("text"))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
    graft.sources.Tables.widen(docs)
      .select(explode(grams).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
  }

  /** Overlapping token-window chunks — context-window prep for training
    * and retrieval pipelines: a chunk starts every `stride` tokens and
    * spans `chunkLen` tokens (the final chunk may be shorter; documents
    * shorter than `chunkLen` yield one chunk). Pure per-row expression
    * work (sequence of starts → slice → explode), widened like every
    * CPU-amplifying text stage.
    */
  def chunk(docs: DataFrame, chunkLen: Int = 64, stride: Int = 48): DataFrame = {
    require(chunkLen > 0 && stride > 0, "chunkLen and stride must be positive")
    val base = graft.sources.Tables.widen(docs)
      .withColumn("_toks", tokens(col("text")))
    base.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(1),
            greatest(size(col("_toks")) - chunkLen + 1, lit(1)), lit(stride)),
          st => concat_ws(" ", slice(col("_toks"), st, lit(chunkLen))))))
      .select(col("doc_id"), col("pos").as("chunk_idx"),
        col("col").as("chunk_text"))
  }

  /** Benchmark decontamination: drop corpus documents sharing ANY
    * word n-gram with a benchmark/heldout set — the standard guard
    * against test-set leakage in training data (documents too short to
    * hold an n-gram cannot leak and are kept).
    *
    * Scale shape: a benchmark is small by definition, so its distinct
    * gram set BROADCASTS; the corpus side is one n-gram explode
    * streamed through the broadcast semi-join (no gram-set shuffle —
    * the explode is not deduped, membership is all that matters). The
    * only exchanges are the contaminated-id distinct (bounded by the
    * corpus DOC count, not its gram count) and the final broadcast
    * anti-join.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 3): DataFrame = {
    val benchGrams = Dedup.shingleHashRows(benchmark, n, distinctRows = false)
      .select(col("s")).distinct()
    val contaminated = Dedup.shingleHashRows(corpus, n, distinctRows = false)
      .join(broadcast(benchGrams), "s")
      .select(col("doc_id"))
      .distinct()
    // the anti-join is left to AQE: contaminated is usually broadcast-
    // sized, but a heavily leaked corpus shouldn't be forced through one
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** FUZZY benchmark decontamination: drop corpus documents containing
    * a token chunk within edit distance `maxDistance` of any benchmark
    * chunk — the near-verbatim leakage (punctuation tweaks, number
    * swaps, re-wrapped lines) that [[decontaminate]]'s exact n-gram
    * membership cannot see. Both sides cut with [[chunk]] (overlapping
    * stride windows, so a leaked span cannot hide on a chunk boundary)
    * and chunks compare character-wise through the exact PassJoin
    * matcher ([[graft.operators.StringJoin.editMatchesBetween]]) —
    * complete at the chunk level by the same pigeonhole, no LSH luck.
    *
    * Scale shape: the CORPUS side is the index (τ+1 narrow hashed
    * segment rows per chunk); the benchmark — small by definition —
    * is the probing side that pays the O(τ³) substring explode. The
    * contaminated-id distinct is bounded by the corpus doc count and
    * the final anti-join is AQE's choice, as in [[decontaminate]].
    * Chunk identity is the (doc, chunk_idx) struct, so a document's
    * many chunks never cross-verify. */
  def decontaminateFuzzy(corpus: DataFrame, benchmark: DataFrame,
      chunkLen: Int = 16, stride: Int = 8, maxDistance: Int = 2): DataFrame = {
    def chunks(d: DataFrame) = chunk(d, chunkLen, stride)
      .select(struct(col("doc_id"), col("chunk_idx")).as("doc_id"),
        col("chunk_text").as("s"))
    val matches = graft.operators.StringJoin.editMatchesBetween(
      chunks(benchmark), chunks(corpus), maxDistance)
    val contaminated = matches
      .select(col("id_b.doc_id").as("doc_id")).distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Per-source corpus datasheet in ONE aggregation pass — the summary
    * a data card / mixture design reads off before weighting sources:
    * document and token counts, character volume, short-doc count,
    * char-length extremes, distinct languages. All exact integers
    * (engine-portable); one hash aggregation with map-side partial
    * combine, the count-distinct planned as Spark's two-phase expand —
    * no windows, no driver work.
    */
  def corpusReport(docs: DataFrame, shortDocTokens: Int = 5): DataFrame =
    // tokenize ONCE per row (Catalyst CSE does not dedupe a repeated
    // split — measured in qualityTable) and widen the narrow input:
    // the token count is the CPU-amplifying stage here
    graft.sources.Tables.widen(docs)
      .withColumn("_ntok", size(tokens(col("text"))))
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("_ntok")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        count(when(col("_ntok") < shortDocTokens, 1)).as("short_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        count_distinct(col("lang")).as("n_langs"))

  /** Compression-ratio quality signal: deflated bytes / raw UTF-8
    * bytes. The published curation pipelines threshold on exactly this
    * (highly repetitive or templated text compresses far below prose —
    * the machine-generated-boilerplate signature; RefinedWeb/MassiveText
    * both gate on it alongside the n-gram repetition signals, which
    * catch SHORT-range repetition where deflate's 32 KB window catches
    * long-range structure). One codegen'd static call per row
    * ([[graft.functions.cellfunctions.deflate_size]]); NULL for empty
    * or null text (no bytes, no ratio). Deterministic per zlib build —
    * a signal, not an oracle-exact value (its gate row is rows-only).
    */
  def compressionRatio(text: Column, level: Int = 6): Column = {
    val bytes = encode(text, "UTF-8")
    when(length(bytes) > 0,
      graft.functions.cellfunctions.deflate_size(bytes, level)
        .cast("double") / length(bytes).cast("double"))
  }

  // ---- persisted datasheet store (the incremental corpus report) ----

  private val DatasheetProps = graft.sources.Sidecar(
    "_graft_datasheet.properties", "datasheet",
    "build with writeDatasheetStore (or the previous write/append/compact " +
      "was torn mid-commit)")

  /** Mergeable per-(source, lang) partials of [[corpusReport]] for one
    * batch: every report field restated in a form that folds exactly
    * under addition/min/max — `n_langs` becomes the (source, lang)
    * GROUPING itself (count-distinct is not additive; distinct keys
    * are), and the distinct-content estimate is a DataSketches HLL
    * sketch of the content fingerprint (union-mergeable by design). */
  private def datasheetPartials(docs: DataFrame, batch: String,
      shortDocTokens: Int): DataFrame =
    graft.sources.Tables.widen(docs)
      .withColumn("_ntok", size(tokens(col("text"))))
      .groupBy(col("source"), col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("_ntok")).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        count(when(col("_ntok") < shortDocTokens, 1)).as("short_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        hll_sketch_agg(fingerprint(col("text"))).as("fp_sketch"))
      .select(lit(batch).as("batch") +: Seq("source", "lang", "n_docs",
        "n_tokens", "total_chars", "short_docs", "min_chars", "max_chars",
        "fp_sketch").map(col): _*)

  /** Per-batch length-histogram partials: `(batch, source, n_chars,
    * n_docs)` — one row per DISTINCT document length per source.
    * Document lengths have few distinct values relative to corpus
    * size, so this histogram is tiny, merges by addition, and makes
    * arbitrary EXACT per-source quantiles (the data-card median/p99)
    * derivable from the store alone — where a mergeable sketch would
    * be approximate, the full value histogram is exact at histogram
    * cost. */
  private def lengthPartials(docs: DataFrame, batch: String): DataFrame =
    graft.sources.Tables.widen(docs)
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("n_docs"))
      .select(lit(batch).as("batch"), col("source"), col("n_chars"),
        col("n_docs"))

  /** Persist the corpus datasheet as per-batch mergeable partials — the
    * incremental twin of [[corpusReport]]: at 100 TB the data card must
    * not rescan the corpus, so each ingest batch appends its OWN tiny
    * partial rows (`|sources| × |langs|` per batch, plus the
    * per-source length histograms under `lengths/`) and the report
    * folds them at read time. Same sidecar discipline as the other
    * persisted stores (minhash/IVF/text/BPE): parquet first, properties
    * LAST via write-then-rename; the sidecar pins `shortDocTokens` so
    * a later append cannot silently mix thresholds.
    *
    * Erasure granularity is the BATCH: partials are aggregates, so
    * per-document erasure has nothing to filter — but a batch's whole
    * contribution removes exactly ([[compactDatasheetStore]]
    * `dropBatches`, a pure row filter like every store erasure here). */
  def writeDatasheetStore(docs: DataFrame, dir: String, batch: String = "0",
      shortDocTokens: Int = 5): Unit = {
    val spark = docs.sparkSession
    datasheetPartials(docs, batch, shortDocTokens)
      .write.mode("overwrite").parquet(dir)
    // `_`-prefixed so the root read never sees it as a partition dir;
    // pointed-at directly it reads like any parquet
    lengthPartials(docs, batch)
      .write.mode("overwrite").parquet(s"$dir/_lengths")
    writeDatasheetProps(spark, dir, shortDocTokens)
  }

  /** Grow the datasheet by one batch: aggregate ONLY the batch (at the
    * sidecar's pinned threshold) and append its partial rows. A batch
    * id already in the store refuses — re-appending would double-count
    * every sum. */
  def appendToDatasheetStore(docs: DataFrame, dir: String,
      batch: String): Unit = {
    val spark = docs.sparkSession
    val shortDocTokens = readDatasheetProps(spark, dir)
    val dup = spark.read.parquet(dir)
      .where(col("batch") === batch).limit(1).count()
    require(dup == 0,
      s"datasheet store at $dir already holds batch '$batch' — " +
        "appending it again would double-count; drop it first " +
        "(compactDatasheetStore dropBatches) or pick a fresh id")
    DatasheetProps.down(spark, dir)
    datasheetPartials(docs, batch, shortDocTokens)
      .write.mode("append").parquet(dir)
    lengthPartials(docs, batch)
      .write.mode("append").parquet(s"$dir/_lengths")
    writeDatasheetProps(spark, dir, shortDocTokens)
  }

  /** The folded datasheet — [[corpusReport]]'s exact columns, derived
    * from the stored partials alone (no corpus scan): sums add, extremes
    * re-extremize, `n_langs` counts the surviving distinct (source,
    * lang) keys, and `approx_distinct_docs` rides along from the HLL
    * union (the one approximate field, ~±2% at the default sketch
    * size; drop it when comparing against the exact report). */
  def datasheetReport(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    readDatasheetProps(spark, dir)
    spark.read.parquet(dir)
      .groupBy(col("source")).agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("total_chars")).as("total_chars"),
        sum(col("short_docs")).as("short_docs"),
        min(col("min_chars")).as("min_chars"),
        max(col("max_chars")).as("max_chars"),
        count_distinct(col("lang")).as("n_langs"),
        hll_sketch_estimate(hll_union_agg(col("fp_sketch")))
          .as("approx_distinct_docs"))
  }

  /** EXACT per-source quantile of document length, from the stored
    * length histograms alone — the incremental data-card median/p99:
    * merged histograms fold by addition, the per-source rank
    * `max(1, ceil(q·n))` walks the cumulative counts, and the result
    * is an ELEMENT of the data (same convention as
    * [[Stats.exactQuantilesBy]], which computes the identical number
    * FROM the corpus — this derives it from the store without
    * rescanning). The cumulative window partitions per source over
    * distinct-length rows — histogram-sized by construction, never
    * corpus-sized. Output: `(source, value)`. */
  def datasheetQuantile(spark: org.apache.spark.sql.SparkSession,
      dir: String, q: Double): DataFrame = {
    require(q >= 0 && q <= 1, s"quantile must lie in [0, 1]: $q")
    readDatasheetProps(spark, dir)
    val hist = spark.read.parquet(s"$dir/_lengths")
      .groupBy(col("source"), col("n_chars"))
      .agg(sum(col("n_docs")).as("_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    hist
      .withColumn("_cum", sum(col("_c")).over(w))
      .withColumn("_n", sum(col("_c")).over(wAll))
      .withColumn("_k", greatest(lit(1L), ceil(lit(q) * col("_n")).cast("long")))
      .where(col("_cum") >= col("_k") &&
        col("_cum") - col("_c") < col("_k"))
      .select(col("source"), col("n_chars").as("value"))
  }

  /** Batch ids currently contributing to the stored datasheet. */
  def datasheetBatches(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    readDatasheetProps(spark, dir)
    spark.read.parquet(dir).select(col("batch")).distinct()
  }

  /** Fold appended segments into one physical layout, optionally
    * ERASING whole batches first (`dropBatches` rows carry `batch`) —
    * the right-to-forget path at this store's granularity, a pure row
    * filter before the fold. Same staged root rewrite as every store:
    * a mid-compaction crash leaves a refusing directory. Kept batches
    * keep their identity (the fold only merges parquet segments, it
    * never collapses batches — erasure granularity survives
    * compaction). */
  def compactDatasheetStore(dir: String,
      dropBatches: Option[DataFrame] = None): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    val shortDocTokens = readDatasheetProps(spark, dir)
    DatasheetProps.down(spark, dir)
    IndexFiles.rewriteRoot(spark, dir,
      df => IndexFiles.minus(dropBatches, "batch")(df).coalesce(1))
    IndexFiles.rewriteRoot(spark, s"$dir/_lengths",
      df => IndexFiles.minus(dropBatches, "batch")(df).coalesce(1))
    writeDatasheetProps(spark, dir, shortDocTokens)
  }

  private def writeDatasheetProps(spark: org.apache.spark.sql.SparkSession,
      dir: String, shortDocTokens: Int): Unit =
    DatasheetProps.write(spark, dir,
      "tokenizer" -> "ws", "short_doc_tokens" -> shortDocTokens)

  private def readDatasheetProps(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int =
    DatasheetProps.require(spark, dir).int("short_doc_tokens")

  /** Semantic benchmark decontamination: drop corpus rows whose
    * embedding is within `threshold` cosine of ANY benchmark embedding
    * — the embedding-space sibling of [[decontaminate]] (grams catch
    * verbatim overlap; embeddings catch the paraphrased leakage grams
    * miss). Exact by construction, so it oracle-checks.
    *
    * Scale shape: a benchmark is small by definition, so its
    * (embedding, norm) rows BROADCAST and the corpus NEVER shuffles —
    * the plan is one broadcast nested-loop anti-join where each
    * partition scans its rows against the in-memory benchmark matrix,
    * |corpus| x |bench| codegen'd dot products. That is the honest
    * brute-force shape of semantic decontamination; a benchmark too
    * large to broadcast wants the [[Dedup.semanticNearDuplicates]]
    * cell machinery instead.
    */
  def decontaminateSemantic(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double, embCol: String = "embedding"): DataFrame = {
    // zero-norm guards on BOTH sides: cosine against a zero vector is
    // 0/0 = NaN, and Spark orders NaN above every number, so an
    // unguarded NaN >= threshold would silently drop the whole corpus
    // on one degenerate benchmark row. A zero vector carries no
    // semantic signal: it never matches (zero-norm corpus rows are
    // KEPT, like gram-decontamination keeps too-short docs).
    // The corpus norm precomputes per ROW (withColumn, a projection —
    // no exchange); inside the join condition it would re-fold per
    // (corpus x bench) pair.
    val bench = broadcast(benchmark
      .select(col(embCol).as("_bemb"))
      .withColumn("_bnrm", Similarity.norm(col("_bemb")))
      .where(col("_bnrm") > 0))
    corpus.withColumn("_cnrm", Similarity.norm(col(embCol)))
      .join(bench,
        col("_cnrm") > 0 &&
          Similarity.dot(col(embCol), col("_bemb"))
            / (col("_cnrm") * col("_bnrm")) >= threshold,
        "left_anti")
      .drop("_cnrm")
  }
}
