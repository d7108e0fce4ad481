package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact string-similarity joins: every pair within an edit-distance
  * or Jaccard threshold, WITHOUT the all-pairs product and WITHOUT
  * the probabilistic recall of MinHash-LSH ([[Dedup.lshCandidatePairs]]).
  * Both operators are lossless plan rewrites — candidate generation is
  * complete by a pigeonhole/prefix argument and an exact verify keeps
  * precision at 1 — so the result EQUALS the brute-force threshold
  * join, the same contract as [[Dedup.hammingNearDuplicates]].
  *
  * The reference's dedup story stops at exact row keys (tera's row
  * merge, src/io/tablet_writer.cc); these are the content-similarity
  * analogues a training-data pipeline needs on top.
  */
object StringJoin {

  // ---- edit-distance join (PassJoin partitioning) ----

  /** Integer division of a non-negative int column by a positive
    * literal (exact — int magnitudes sit far inside double's 53-bit
    * mantissa). */
  private def idiv(a: Column, b: Int): Column =
    floor(a.cast("double") / b).cast("int")

  /** Segment geometry for an indexed string of length `l` under
    * `k = maxDistance + 1` even partitioning: the first `k - (l mod k)`
    * segments have length `l div k`, the rest one more. Returns
    * (start, length) as column expressions for 0-based segment `i`. */
  private def segGeom(l: Column, k: Int, i: Int): (Column, Column) = {
    val base = idiv(l, k)
    val rem = pmod(l, lit(k)).cast("int")
    val len = base + when(lit(i) >= lit(k) - rem, 1).otherwise(0)
    val start = lit(i) * base + greatest(lit(i) - (lit(k) - rem), lit(0))
    (start, len)
  }

  /** Index-side rows: one `(len, seg, key)` row per segment of each
    * string — `key` is the xxhash64 of (segment index, segment value),
    * so the band shuffle moves 8-byte longs however long the segments
    * are. Hash collisions only ADD candidates (string equality implies
    * hash equality); the exact verify removes them, so losslessness is
    * preserved. Null strings carry no segments and are excluded. */
  private[graft] def editIndexRows(strs: DataFrame, maxDistance: Int,
      idCol: String = "doc_id", strCol: String = "s",
      /** true additionally carries the source string as `_s` — for the
        * stream-static matcher, whose verify cannot join back to a
        * stream. Batch callers leave it off and keep the rows narrow. */
      carry: Boolean = false): DataFrame = {
    val k = maxDistance + 1
    val l = length(col(strCol))
    val cols = Seq(col(idCol).as("doc_id"), l.as("len"),
      explode(array((0 until k).map { i =>
        val (st, w) = segGeom(l, k, i)
        xxhash64(lit(i), col(strCol).substr(st + 1, w))
      }: _*)).as("key")) ++
      (if (carry) Seq(col(strCol).as("_s")) else Nil)
    strs.where(col(strCol).isNotNull).select(cols: _*)
  }

  /** Probe-side rows: for a string `r` of length `m`, every substring
    * that could equal a segment of a matching indexed string — looping
    * indexed lengths `l in [m-τ, m+τ]` and segments `i in [0, τ]`,
    * with the multi-match-aware start window of Li, Deng & Feng
    * ("PASS-JOIN: a partition-based method for similarity joins",
    * PVLDB 5(3), 2011):
    *
    *   x - p_i ∈ [-i, i] ∩ [Δ - (τ-i), Δ + (τ-i)],  Δ = m - l
    *
    * (an untouched segment's shift equals the net length change of the
    * prefix edits, bounded by the edits on each side of it; the lemma
    * guarantees SOME segment of any true match falls in its window).
    * Completeness is additionally differential-fuzzed against the
    * brute-force join in StringJoinSpec. O(τ³) narrow rows per string.
    */
  private[graft] def editProbeRows(strs: DataFrame, maxDistance: Int,
      idCol: String = "doc_id", strCol: String = "s",
      /** carry the probed string as `_s` (see [[editIndexRows]]). */
      carry: Boolean = false): DataFrame = {
    val tau = maxDistance
    val k = tau + 1
    val m = length(col(strCol))
    val emptyInts = array().cast("array<int>")
    val lRange = sequence(greatest(m - tau, lit(0)).cast("int"), (m + tau).cast("int"))
    val perL = transform(lRange, l => {
      val delta = m - l
      flatten(array((0 until k).map { i =>
        val (pi, w) = segGeom(l, k, i)
        val lo = greatest(lit(0), pi - i, pi + delta - (tau - i)).cast("int")
        val hi = least(m - w, pi + i, pi + delta + (tau - i)).cast("int")
        val xs = when(lo <= hi, sequence(lo, hi)).otherwise(emptyInts)
        transform(xs, x =>
          struct(l.cast("int").as("len"),
            xxhash64(lit(i), col(strCol).substr(x + 1, w)).as("key")))
      }: _*))
    })
    val keep =
      Seq(col("doc_id"), col("p.len").as("len"), col("p.key").as("key")) ++
        (if (carry) Seq(col("_s")) else Nil)
    strs.where(col(strCol).isNotNull)
      .select(Seq(col(idCol).as("doc_id"),
        explode(flatten(perL)).as("p")) ++
        (if (carry) Seq(col(strCol).as("_s")) else Nil): _*)
      .select(keep: _*)
  }

  /** All pairs of strings within edit (Levenshtein) distance
    * `maxDistance` — EXACTLY, equal to the brute-force threshold join.
    * Input `strs` carries `(idCol, strCol)`; output
    * `(id_a, id_b, distance)` with `id_a < id_b`.
    *
    * Shape: each string emits `τ+1` index rows and O(τ³) probe rows
    * (all narrow — 8-byte hashed keys), one equi-shuffle on
    * `(len, key)` — the indexed length is IN the key, so the ±τ length
    * filter costs nothing — then the candidate pairs join back to the
    * strings and verify with the threshold-bounded `levenshtein`
    * (early-exits above `maxDistance`). No cartesian anywhere;
    * `maxBucketSize` OPTS INTO capping degenerate `(len, key)`
    * buckets, which (as with [[Dedup.hammingNearDuplicates]]) trades
    * the completeness guarantee for skew protection — exact by
    * default. Intended for short-string fields (titles, names, URLs,
    * fixed-width prefixes); segment hashing keeps the shuffle narrow
    * even when the strings are not.
    */
  def editDistanceNearDuplicates(strs: DataFrame, maxDistance: Int,
      idCol: String = "doc_id", strCol: String = "s",
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    val base = strs.select(col(idCol).as("doc_id"), col(strCol).as("s"))
    val idx = Dedup.capBuckets(
      editIndexRows(base, maxDistance), Seq("len", "key"), maxBucketSize)
    val prb = Dedup.capBuckets(
      editProbeRows(base, maxDistance), Seq("len", "key"), maxBucketSize)
    val cands = prb.select(col("len"), col("key"), col("doc_id").as("_pid"))
      .join(idx.select(col("len"), col("key"), col("doc_id").as("_iid")),
        Seq("len", "key"))
      .where(col("_pid") =!= col("_iid"))
      .select(least(col("_pid"), col("_iid")).as("id_a"),
        greatest(col("_pid"), col("_iid")).as("id_b"))
      .distinct()
    verifyEditPairs(cands, base, base, maxDistance)
  }

  /** Cross-side edit-distance matches of a NEW batch against a CORPUS
    * — the incremental twin of [[editDistanceNearDuplicates]], same
    * exactness. Only new×corpus pairs form; the corpus side emits only
    * its `τ+1` narrow index rows per string (probing is done by the
    * batch, the smaller side), so the band join stays proportional to
    * the batch. Output `(id_a, id_b, distance)` with `id_a` from
    * `newStrs`, `id_b` from `corpusStrs`; id spaces may overlap. */
  def editMatchesBetween(newStrs: DataFrame, corpusStrs: DataFrame,
      maxDistance: Int,
      idCol: String = "doc_id", strCol: String = "s",
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    val nw = newStrs.select(col(idCol).as("doc_id"), col(strCol).as("s"))
    val cp = corpusStrs.select(col(idCol).as("doc_id"), col(strCol).as("s"))
    val prb = Dedup.capBuckets(
      editProbeRows(nw, maxDistance), Seq("len", "key"), maxBucketSize)
    val idx = Dedup.capBuckets(
      editIndexRows(cp, maxDistance), Seq("len", "key"), maxBucketSize)
    val cands = prb.select(col("len"), col("key"), col("doc_id").as("id_a"))
      .join(idx.select(col("len"), col("key"), col("doc_id").as("id_b")),
        Seq("len", "key"))
      .select("id_a", "id_b").distinct()
    verifyEditPairs(cands, nw, cp, maxDistance)
  }

  /** Exact verify: join candidate `(id_a, id_b)` pairs back to their
    * strings (`id_a` resolves against `aSide`, `id_b` against `bSide`
    * — the self-join passes the same frame twice) and keep those
    * within the bound. The 3-arg `levenshtein` abandons a pair as soon
    * as its running distance exceeds the threshold (returning -1), so
    * verification is O(τ·len) per pair, not O(len²). */
  private def verifyEditPairs(cands: DataFrame, aSide: DataFrame,
      bSide: DataFrame, maxDistance: Int): DataFrame = {
    val a = aSide.select(col("doc_id").as("id_a"), col("s").as("_sa"))
    val b = bSide.select(col("doc_id").as("id_b"), col("s").as("_sb"))
    cands.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("_sa"), col("_sb"), maxDistance).as("distance"))
      .where(col("distance") >= 0)
  }

  // ---- exact Jaccard threshold join (prefix filtering) ----

  /** ceil(num·sz / den) over int-sized columns, exactly: the product
    * crosses a LONG (an int32 `sz * num` would overflow for large sets
    * under fine-grained thresholds — ANSI crash or silent wrap), and
    * with `num, den <= 2^20` (enforced at the public entry points) it
    * stays below 2^51, inside the division helper's double-exact
    * range. */
  private def ceilMul(sz: Column, num: Int, den: Int): Column =
    idiv(sz.cast("long") * num + (den - 1), den)

  /** The rational-threshold bound that keeps every product in this
    * file's integer arithmetic exact (2^31 set size × 2^20 ≈ 2^51 <
    * 2^53). A millionth-granularity threshold is far finer than any
    * similarity use case needs. */
  private val MaxThresholdPart = 1 << 20

  private def requireThreshold(tNum: Int, tDen: Int): Unit = {
    require(tNum > 0 && tDen > 0 && tNum <= tDen,
      s"threshold must be a rational in (0, 1], got $tNum/$tDen")
    require(tDen <= MaxThresholdPart,
      s"threshold denominator must be <= $MaxThresholdPart, got $tDen")
  }

  /** All pairs of sets with Jaccard similarity >= `tNum/tDen` —
    * EXACTLY, equal to the brute-force threshold join, via prefix
    * filtering (Chaudhuri, Ganti & Kaushik, ICDE 2006; Bayardo, Ma &
    * Srikant, "Scaling up all pairs similarity search", WWW 2007).
    * Input is the row representation `(doc_id, s)` of distinct set
    * elements (any element type — strings, shingle hashes); output
    * `(id_a, id_b, inter_cnt, union_cnt)` with `id_a < id_b`, all
    * BIGINT — the threshold test is the integer comparison
    * `tDen·inter >= tNum·union`, so results are engine-portable with
    * no double in sight.
    *
    * Completeness: a pair with J >= t shares at least
    * α = ceil(t·max(|a|,|b|)) elements, and under ANY global element
    * order the SMALLEST shared element lies within the first
    * `|x| - α + 1` elements of both sides — so ordering elements by
    * ascending document frequency (rarest first, ties by value) and
    * joining on the `|x| - ceil(t·|x|) + 1`-element prefixes surfaces
    * every true pair through its rarest shared element. Buckets are
    * therefore rare-token-sized by construction; `maxBucketSize`
    * (default uncapped) is the same explicit completeness trade as the
    * Hamming/edit caps.
    *
    * Shape: one df aggregation, one df equi-join, a per-document
    * window over its own elements (partition = one document) for the
    * prefix ranks, the prefix self-join, and the [[Dedup.jaccardForPairs]]
    * counting joins for the exact verify. Every exchange is narrow;
    * no cartesian, no window wider than one document's set.
    */
  def setSimilarityJoin(rows: DataFrame, tNum: Int, tDen: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    requireThreshold(tNum, tDen)
    val r = rows.select(col("doc_id"), col("s")).where(col("s").isNotNull)
    val df = r.groupBy("s").agg(count(lit(1)).as("_df"))
    val capped = prefixRows(r, df, tNum, tDen, maxBucketSize)
    // sizes RIDE: `sz` computes inside prefixRows' per-doc window and
    // the candidate distinct carries both sides' (they are functions
    // of the ids, so the dedup is still by pair) — a separate
    // `sizes = r.groupBy(doc_id)` frame would be re-derived from the
    // raw element rows once per consumer (the round-15 plan audit
    // found 16 shingle-explosion subtrees in this ONE query, zero
    // reused; three were sizes aggregations)
    val cands = capped.select(col("s"), col("doc_id").as("id_a"), col("sz").as("_za"))
      .join(capped.select(col("s"), col("doc_id").as("id_b"), col("sz").as("_zb")),
        "s")
      .where(col("id_a") < col("id_b"))
      // size filter: J <= min/max, so J >= t forces tDen·min >= tNum·max
      // (long products — see ceilMul's overflow note)
      .where(least(col("_za"), col("_zb")).cast("long") * tDen >=
        greatest(col("_za"), col("_zb")).cast("long") * tNum)
      .select("id_a", "id_b", "_za", "_zb").distinct()
    val inter = cands.select("id_a", "id_b")
      .join(r.select(col("doc_id").as("id_a"), col("s")), "id_a")
      .join(r.select(col("doc_id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    cands.join(inter, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("_inter"), lit(0L)).as("inter_cnt"),
        (col("_za").cast("long") + col("_zb") - coalesce(col("_inter"), lit(0L)))
          .as("union_cnt"))
      .where(col("inter_cnt") * tDen >= col("union_cnt") * tNum)
  }

  /** The ONE definition of the rarest-first prefix (shared by the
    * ratio, cross-side, and containment joins): elements ordered by
    * ascending document frequency (ties by value), ranks kept up to
    * `sz - ceil(t·sz) + 1`, degenerate element buckets capped. `df`
    * is caller-supplied so a cross-side caller can feed the COMBINED
    * frequency table; `sz` counts over the SAME per-doc window the
    * rank sort already pays for (an inner join with the full `df`
    * drops no element rows, so the partition count IS the set size) —
    * a separate sizes aggregation would re-derive the element rows
    * from source once more per reference. Output `(s, doc_id, sz)`. */
  private def prefixRows(r: DataFrame, df: DataFrame,
      tNum: Int, tDen: Int, maxBucketSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("_df").asc, col("s").asc)
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    Dedup.capBuckets(
      r.join(df, "s")
        .withColumn("_rn", row_number().over(w))
        .withColumn("sz", count(lit(1)).over(wDoc).cast("int"))
        .where(col("_rn") <= col("sz") - ceilMul(col("sz"), tNum, tDen) + 1)
        .select(col("s"), col("doc_id"), col("sz")),
      Seq("s"), maxBucketSize)
  }

  /** All pairs of sets sharing at least `minOverlap` elements —
    * EXACTLY, via the same prefix-filter lemma as [[setSimilarityJoin]]
    * with the overlap bound α = `minOverlap` given directly instead of
    * derived from a Jaccard threshold: prefixes are the
    * `|x| - minOverlap + 1` rarest-first elements, the smallest shared
    * element of any qualifying pair provably lands in both, and the
    * count verify keeps precision at 1. The third classic
    * set-similarity predicate (T-overlap joins, Chaudhuri-Ganti-
    * Kaushik ICDE 2006) — the one shared-passage and co-citation
    * analyses threshold on when a RATIO would reward tiny sets.
    * Output `(id_a, id_b, inter_cnt)` with `id_a < id_b`, integers. */
  def overlapSimilarityJoin(rows: DataFrame, minOverlap: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val r = rows.select(col("doc_id"), col("s")).where(col("s").isNotNull)
    val df = r.groupBy("s").agg(count(lit(1)).as("_df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("_df").asc, col("s").asc)
    val prefix = Dedup.capBuckets(
      r.join(df, "s")
        .withColumn("_rn", row_number().over(w))
        .withColumn("_bound", size_minus_overlap(minOverlap))
        .where(col("_rn") <= col("_bound"))
        .select(col("s"), col("doc_id")),
      Seq("s"), maxBucketSize)
    val cands = prefix.select(col("s"), col("doc_id").as("id_a"))
      .join(prefix.select(col("s"), col("doc_id").as("id_b")), "s")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cands
      .join(r.select(col("doc_id").as("id_a"), col("s")), "id_a")
      .join(r.select(col("doc_id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter_cnt"))
      .where(col("inter_cnt") >= minOverlap)
  }

  /** `_rn <= |x| - minOverlap + 1` needs the set size; counting it over
    * the same per-doc window avoids a second aggregation-join. */
  private def size_minus_overlap(minOverlap: Int): Column =
    count(lit(1)).over(org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id")) - (minOverlap - 1)

  /** All DIRECTED pairs where at least `tNum/tDen` of `id_a`'s set is
    * contained in `id_b`'s — EXACTLY: the asymmetric subsumption
    * predicate (a boilerplate fragment inside a full page, a truncated
    * doc inside its original) that Jaccard underweights when the sides
    * differ in size. Completes the classic set-predicate family
    * (ratio / absolute overlap / containment).
    *
    * Candidates form from the CONTAINED side's prefix against the FULL
    * element rows of the containing side: the required overlap
    * α = ceil(t·|a|) depends only on `a`, so `a`'s
    * `|a| - α + 1` rarest-first prefix must hold a shared element
    * (shared elements outside it number < α), while `b` cannot be
    * prefix-filtered without knowing its partner — the full side's
    * buckets are element-frequency-sized, which `a`'s rarest-first
    * prefix keeps as small as the data allows (and `maxBucketSize`
    * caps explicitly, same trade as everywhere else). Output
    * `(id_a, id_b, inter_cnt, a_sz)` with `id_a != id_b`, both
    * directions evaluated independently, integers throughout. */
  def containmentJoin(rows: DataFrame, tNum: Int, tDen: Int,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    requireThreshold(tNum, tDen)
    val r = rows.select(col("doc_id"), col("s")).where(col("s").isNotNull)
    val df = r.groupBy("s").agg(count(lit(1)).as("_df"))
    val prefix = prefixRows(r, df, tNum, tDen, maxBucketSize)
    // the full (containing) side's size counts over a per-doc window
    // too — same one-pass discipline as prefixRows, no sizes join
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    val full = Dedup.capBuckets(
      r.withColumn("sz", count(lit(1)).over(wDoc).cast("int")),
      Seq("s"), maxBucketSize)
    val cands = prefix
      .select(col("s"), col("doc_id").as("id_a"), col("sz").as("_za"))
      .join(full.select(col("s"), col("doc_id").as("id_b"), col("sz").as("_zb")),
        "s")
      .where(col("id_a") =!= col("id_b"))
      // the containing side can't be smaller than the required overlap:
      // inter <= |b|, so tDen·|b| >= tNum·|a| or the pair can't qualify
      .where(col("_zb").cast("long") * tDen >= col("_za").cast("long") * tNum)
      .select("id_a", "id_b", "_za").distinct()
    val inter = cands.select("id_a", "id_b")
      .join(r.select(col("doc_id").as("id_a"), col("s")), "id_a")
      .join(r.select(col("doc_id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    cands.join(inter, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("_inter"), lit(0L)).as("inter_cnt"),
        col("_za").cast("long").as("a_sz"))
      .where(col("inter_cnt") * tDen >= col("a_sz") * tNum)
  }

  /** Cross-side exact Jaccard matches of a NEW batch's sets against a
    * CORPUS — the incremental twin of [[setSimilarityJoin]], same
    * exactness, never forming new×new or corpus×corpus candidates.
    * The prefix lemma needs ONE global element order spanning both
    * sides, so document frequencies combine across them (an outer-join
    * sum — the corpus df table is corpus-shaped, the batch's
    * batch-shaped) before each side selects its rarest-first prefix.
    * Id spaces may overlap freely (the verify keys each side's rows
    * separately). Output `(id_a from new, id_b from corpus, inter_cnt,
    * union_cnt)`, integers. */
  def setSimilarityJoinBetween(newRows: DataFrame, corpusRows: DataFrame,
      tNum: Int, tDen: Int, maxBucketSize: Int = Int.MaxValue): DataFrame = {
    requireThreshold(tNum, tDen)
    val rn = newRows.select(col("doc_id"), col("s")).where(col("s").isNotNull)
    val rc = corpusRows.select(col("doc_id"), col("s")).where(col("s").isNotNull)
    val df = rn.groupBy("s").agg(count(lit(1)).as("_dfn"))
      .join(rc.groupBy("s").agg(count(lit(1)).as("_dfc")), Seq("s"), "full")
      .select(col("s"),
        (coalesce(col("_dfn"), lit(0L)) + coalesce(col("_dfc"), lit(0L)))
          .as("_df"))
    // each side's size counts inside its own prefixRows window and
    // RIDES the candidate distinct (sz is a function of the id) — the
    // previous per-side sizes aggregations were re-derived from the
    // raw element rows once per reference (round-15 plan audit)
    val cands = prefixRows(rn, df, tNum, tDen, maxBucketSize)
      .select(col("s"), col("doc_id").as("id_a"), col("sz").as("_za"))
      .join(prefixRows(rc, df, tNum, tDen, maxBucketSize)
        .select(col("s"), col("doc_id").as("id_b"), col("sz").as("_zb")), "s")
      .where(least(col("_za"), col("_zb")).cast("long") * tDen >=
        greatest(col("_za"), col("_zb")).cast("long") * tNum)
      .select("id_a", "id_b", "_za", "_zb").distinct()
    val inter = cands.select("id_a", "id_b")
      .join(rn.select(col("doc_id").as("id_a"), col("s")), "id_a")
      .join(rc.select(col("doc_id").as("id_b"), col("s")), Seq("id_b", "s"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("_inter"))
    cands.join(inter, Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"),
        coalesce(col("_inter"), lit(0L)).as("inter_cnt"),
        (col("_za").cast("long") + col("_zb") - coalesce(col("_inter"), lit(0L)))
          .as("union_cnt"))
      .where(col("inter_cnt") * tDen >= col("union_cnt") * tNum)
  }

  /** [[setSimilarityJoinBetween]] over documents' distinct n-gram
    * shingle sets — the exact cross-side counterpart of
    * [[Dedup.minhashNearDuplicatesBetween]]. */
  def jaccardMatchesBetween(newDocs: DataFrame, corpus: DataFrame,
      shingleLen: Int = 3, tNum: Int = 1, tDen: Int = 2,
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    setSimilarityJoinBetween(
      Dedup.shingleRows(newDocs, shingleLen),
      Dedup.shingleRows(corpus, shingleLen),
      tNum, tDen, maxBucketSize)

  // ---- persisted string index (the edit ring's corpus store) ----

  private val StringProps = graft.sources.Sidecar(
    "_graft_strindex.properties", "string index",
    "build with writeStringIndex (or the previous write/append/compact " +
      "was torn mid-commit)")

  /** Persist a `(doc_id, s)` string corpus as the edit ring's store —
    * the cheapest near-dup state after the simhash store (the strings
    * ARE the state; segmentation is a query-time choice, so no
    * geometry bakes in, only the sidecar's torn-commit discipline).
    * Serves [[matchAgainstStringIndex]] and is the static side of
    * [[graft.streaming.Observers.streamingEditMatches]]. */
  def writeStringIndex(strs: DataFrame, dir: String): Unit = {
    strs.select(col("doc_id"), col("s")).where(col("s").isNotNull)
      .write.mode("overwrite").parquet(dir)
    writeStringProps(strs.sparkSession, dir)
  }

  /** Grow the stored strings by one batch (invalidate-then-revalidate
    * sidecar discipline; caller keeps the id space disjoint, as with
    * the minhash/simhash indexes). */
  def appendToStringIndex(newStrs: DataFrame, dir: String): Unit = {
    val spark = newStrs.sparkSession
    StringProps.require(spark, dir)
    StringProps.down(spark, dir)
    newStrs.select(col("doc_id"), col("s")).where(col("s").isNotNull)
      .write.mode("append").parquet(dir)
    writeStringProps(spark, dir)
  }

  /** The stored `(doc_id, s)` frame. */
  def readStringIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    StringProps.require(spark, dir)
    spark.read.parquet(dir)
  }

  /** Compact the string store, optionally erasing documents — a pure
    * row filter through the same staged root rewrite as the other
    * stores. */
  def compactStringIndex(dir: String,
      dropDocs: Option[DataFrame] = None): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    StringProps.require(spark, dir)
    StringProps.down(spark, dir)
    IndexFiles.rewriteRoot(spark, dir, IndexFiles.minus(dropDocs, "doc_id"))
    writeStringProps(spark, dir)
  }

  /** [[editMatchesBetween]] driven by the stored corpus: the store
    * emits only its τ+1 narrow hashed index rows per string per
    * increment; probing stays batch-proportional. */
  def matchAgainstStringIndex(newStrs: DataFrame, dir: String,
      maxDistance: Int = 2, maxBucketSize: Int = Int.MaxValue): DataFrame =
    editMatchesBetween(newStrs,
      readStringIndex(newStrs.sparkSession, dir),
      maxDistance, maxBucketSize = maxBucketSize)

  private def writeStringProps(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit =
    StringProps.write(spark, dir, "algo" -> "passjoin", "key" -> "s")

  /** [[setSimilarityJoin]] over documents' distinct n-gram shingle
    * sets (string shingles — oracle-replicable; for the narrow-shuffle
    * scale path feed [[Dedup.shingleHashRows]] to [[setSimilarityJoin]]
    * directly). The EXACT counterpart of
    * [[Dedup.minhashNearDuplicates]]: same shingling, but every pair
    * at or above the threshold is found with certainty instead of
    * LSH's probabilistic recall — the right tool when the corpus slice
    * is small enough that certainty is worth the prefix join, or when
    * an audit of the LSH path's recall is itself the goal. */
  def jaccardNearDuplicates(docs: DataFrame, shingleLen: Int = 3,
      tNum: Int = 1, tDen: Int = 2,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucketSize: Int = Int.MaxValue): DataFrame =
    setSimilarityJoin(
      Dedup.shingleRows(docs, shingleLen, idCol, textCol),
      tNum, tDen, maxBucketSize)
}
