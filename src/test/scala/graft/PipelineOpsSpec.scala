package graft

import graft.model.CellOp
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Training-data pipeline operators + scan builder, on sf0.001. */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = graft.sources.Tables.load(spark, sfDir, "documents")
  private lazy val emb = graft.sources.Tables.load(spark, sfDir, "embeddings")

  test("minhash LSH finds every exact-Jaccard near-duplicate pair (recall 1.0 here)") {
    // ground truth: exact all-pairs jaccard >= 0.8
    val sh = Dedup.shingleTable(docs)
    val a = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("j", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .where(col("j") >= 0.8)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDuplicates(docs, threshold = 0.8)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("degenerate LSH buckets are capped: candidate counts stay bounded") {
    import spark.implicits._
    // skewed corpus: 200 identical docs (one signature -> one bucket per
    // band) + 20 distinct docs
    val skewed = ((0 until 200).map(i =>
        (i.toLong, "the same boilerplate text repeated over and over again here")) ++
      (200 until 220).map(i =>
        (i.toLong, s"unique document number $i with its own words ${i * 7} ${i * 13}")))
      .toDF("doc_id", "text")
    val rows = Dedup.shingleRows(skewed, n = 3)
    val signed = Dedup.minhashSignatures(rows)
    // uncapped: the identical cluster alone yields 200*199/2 pairs
    val uncapped = Dedup.lshCandidatePairs(signed, bands = 16, rowsPerBand = 4,
      maxBucketSize = Int.MaxValue).count()
    assert(uncapped >= 199L * 100)
    // capped at 50: the mega-bucket is dropped, candidates stay bounded
    val capped = Dedup.lshCandidatePairs(signed, bands = 16, rowsPerBand = 4,
      maxBucketSize = 50).count()
    assert(capped < 1000, s"capped candidate count $capped")
    // embedding variant: 100 identical vectors all land in one bucket
    val vecs = ((0 until 100).map(i => (i.toLong, Array.fill(8)(1.0f))) ++
      (100 until 110).map(i => (i.toLong, Array.tabulate(8)(j => (i * (j + 1)).toFloat))))
      .toDF("vec_id", "embedding")
    val cappedVecs = Dedup.embeddingNearDuplicatesLsh(vecs, threshold = 0.99,
      dim = 8, maxBucketSize = 20).count()
    val uncappedVecs = Dedup.embeddingNearDuplicatesLsh(vecs, threshold = 0.99,
      dim = 8, maxBucketSize = Int.MaxValue).count()
    assert(uncappedVecs >= 99L * 50 && cappedVecs < uncappedVecs / 10,
      s"capped $cappedVecs vs uncapped $uncappedVecs")
    // TOTAL-collapse refusal (round 14): when even a perfectly
    // balanced assignment busts the cap, the operator must ERROR —
    // a 10M-vector SemDeDup pass at the default nlist silently
    // returned ZERO pairs before this guard. Partial skew-driven
    // drops (the mega-bucket above) stay legal.
    intercept[IllegalArgumentException] {
      Dedup.embeddingNearDuplicatesLsh(vecs, threshold = 0.99, dim = 8,
        planes = 2, maxBucketSize = 3)
    }
    intercept[IllegalArgumentException] {
      Dedup.semanticNearDuplicates(vecs, threshold = 0.99, dim = 8,
        nlist = 2, maxCellSize = 3)
    }
  }

  test("hamming near-dup equals brute-force all-pairs exactly (several distance bounds)") {
    import spark.implicits._
    // adversarial fingerprint set: random longs + planted near pairs
    // (bit flips spread across different blocks) + exact duplicates +
    // sign-bit extremes — completeness must hold for every layout
    val rng = new scala.util.Random(7)
    val base = Seq.fill(120)(rng.nextLong())
    val planted = base.take(30).flatMap { f =>
      val flips = 1 + rng.nextInt(6)
      Seq((0 until flips).foldLeft(f)((x, _) => x ^ (1L << rng.nextInt(64))))
    }
    val all = (base ++ planted ++ base.take(5) ++
      Seq(Long.MinValue, Long.MaxValue, -1L, 0L, Long.MinValue ^ 3L))
      .zipWithIndex.map { case (f, i) => (i.toLong, f) }
    val fps = all.toDF("doc_id", "fp")
    def brute(d: Int) = (for {
      (ia, fa) <- all; (ib, fb) <- all
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= d
    } yield (ia, ib, java.lang.Long.bitCount(fa ^ fb))).toSet
    for (d <- Seq(0, 1, 3, 7, 11)) {
      val got = Dedup.hammingNearDuplicates(fps, maxDistance = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(d), s"maxDistance=$d")
    }
    assert(brute(3).nonEmpty)
  }

  test("hamming between: exactly the cross-side brute pairs, no same-side pairs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val corpus = Seq.tabulate(80)(i => (i.toLong, rng.nextLong()))
    // batch: 20 near-twins of corpus fps (ids OVERLAP the corpus id
    // space on purpose — sides must never self-pair) + 20 fresh
    val batch = corpus.take(20).map { case (i, f) =>
      (i, f ^ (1L << rng.nextInt(64)) ^ (1L << rng.nextInt(64)))
    } ++ Seq.tabulate(20)(i => (i.toLong + 1000, rng.nextLong()))
    val got = Dedup.hammingMatchesBetween(
      batch.toDF("doc_id", "fp"), corpus.toDF("doc_id", "fp"), maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = (for {
      (ia, fa) <- batch; (ib, fb) <- corpus
      if java.lang.Long.bitCount(fa ^ fb) <= 3
    } yield (ia, ib, java.lang.Long.bitCount(fa ^ fb))).toSet
    assert(got == brute)
    assert(brute.size >= 15) // the planted twins (1-2 flips) all surface
  }

  test("hamming near-dup: null fingerprints are excluded, not mega-bucketed") {
    import spark.implicits._
    val fps = Seq((1L, Some(7L)), (2L, Some(7L)), (3L, None), (4L, None))
      .toDF("doc_id", "fp")
    val got = Dedup.hammingNearDuplicates(fps, maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L))) // never a null-null "pair"
  }

  test("simhash corpus-wide near-dup: exact dups pair at distance 0, equals brute force") {
    val fp = docs.select(col("doc_id"),
      Dedup.simhash64(Dedup.tokens(col("text"))).as("fp"))
    val all = fp.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (ia, fa) <- all; (ib, fb) <- all
      if ia < ib && java.lang.Long.bitCount(fa ^ fb) <= 4
    } yield (ia, ib)).toSet
    val got = Dedup.simhashNearDuplicates(docs, maxDistance = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
    // the corpus has exact text duplicates -> distance-0 pairs exist
    assert(Dedup.simhashNearDuplicates(docs, maxDistance = 0).count() > 0)
  }

  test("simhash: identical texts distance 0, near-dups closer than random pairs") {
    import spark.implicits._
    val fp = docs.select(col("doc_id"),
      Dedup.simhash64(Dedup.tokens(col("text"))).as("fp"))
    // self-join identical text -> identical fingerprint
    val dup = docs.select(col("doc_id"), col("text"))
      .withColumn("fp1", Dedup.simhash64(Dedup.tokens(col("text"))))
      .withColumn("fp2", Dedup.simhash64(Dedup.tokens(col("text"))))
    assert(dup.where(col("fp1") =!= col("fp2")).count() == 0)
    // near-dup pairs (exact J >= 0.9) should have smaller mean hamming
    // distance than the global mean of consecutive pairs
    val sh = Dedup.shingleTable(docs)
    val pairs = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")),
        col("id_a") < col("id_b"))
      .withColumn("j", Dedup.jaccard(col("sh_a"), col("sh_b")))
    val f1 = fp.select(col("doc_id").as("id_a"), col("fp").as("fp_a"))
    val f2 = fp.select(col("doc_id").as("id_b"), col("fp").as("fp_b"))
    val withD = pairs.join(f1, "id_a").join(f2, "id_b")
      .withColumn("d", Dedup.hamming64(col("fp_a"), col("fp_b")))
    val nearMean = withD.where(col("j") >= 0.9).agg(avg("d")).collect()(0).getDouble(0)
    val farMean = withD.where(col("j") < 0.1).agg(avg("d")).collect()(0).getDouble(0)
    assert(nearMean < farMean / 2)
  }

  test("LSH top-k recall vs brute force is usable (> 0.4 at 8 planes)") {
    val q = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(q, emb, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(q, emb, 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // shared floor (mutation-audited): emptiness is a first-class
    // failure, not recall 0.0
    SpecInvariants.recallFloor(approx, exact, 0.4, "LSH top-k")
  }

  test("int8-quantized cosine top-k: high recall vs exact float cosine") {
    import graft.functions.cellfunctions.{vec_dot_i8, vec_quant_i8}
    val queries = emb.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, emb, k = 5))
    val quant = pairs(Similarity.quantizedTopK(queries, emb, k = 5))
    SpecInvariants.recallFloor(quant, exact, 0.9, "int8 top-k")

    // a zero vector must never rank (NaN cosine would sort above 1.0)
    import spark.implicits._
    val zeroed = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((99999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val ranked = Similarity.quantizedTopK(queries, zeroed, k = 5)
      .where(col("vec_id") === 99999L).count()
    assert(ranked == 0L)

    // quantization invariants: max|element| maps to ±127; self-dot > 0
    val q = emb.limit(10).select(vec_quant_i8(col("embedding")).as("q"),
      vec_dot_i8(vec_quant_i8(col("embedding")), vec_quant_i8(col("embedding"))).as("sd"))
      .collect()
    q.foreach { r =>
      val bytes = r.getAs[Array[Byte]]("q")
      assert(bytes.map(b => math.abs(b.toInt)).max == 127)
      assert(r.getLong(1) > 0L)
    }
  }

  test("IVF top-k recall vs brute force is usable; full probe is exact") {
    val queries = emb.where(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(queries, emb, k = 5, dim = 64,
        nlist = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    SpecInvariants.recallFloor(ivf, exact, 0.4, "IVF top-k")
    // probing every list degenerates to exact brute force
    val full = Similarity.ivfTopK(queries, emb, k = 5, dim = 64,
        nlist = 16, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full == exact)

    // a zero corpus vector must never rank (NaN cosine sorts above 1.0
    // under desc) — same guard brute force and the quantized path carry
    import spark.implicits._
    val zeroed = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((99999L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    assert(Similarity.ivfTopK(queries, zeroed, k = 5, dim = 64,
        nlist = 16, nprobe = 16)
      .where(col("vec_id") === 99999L).count() == 0L)
    assert(Similarity.lshTopK(queries, zeroed, k = 5, dim = 64)
      .where(col("vec_id") === 99999L).count() == 0L)
  }

  test("non-finite corpus vectors never rank: every float scoring path drops NaN sims") {
    // an Inf-component vector PASSES the norm > 0 gate (norm = Inf) and
    // scores NaN against every query — and NaN sorts FIRST under a
    // descending sort, so an unguarded path would hand it rank 1 for
    // every query (the round-13 review finding; ivfScore/bruteForce/
    // lsh/PQ all carry the isnan drop now)
    import spark.implicits._
    val queries = emb.where(col("vec_id") < 10)
    val inf = Array.fill(64)(Float.PositiveInfinity)
    val poisoned = emb.select(col("vec_id"), col("embedding"))
      .union(Seq((88888L, inf)).toDF("vec_id", "embedding"))
    val clean = Similarity.bruteForceTopK(queries, emb, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val guarded = Similarity.bruteForceTopK(queries, poisoned, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // the poisoned vector not only never surfaces — the rankings are
    // IDENTICAL to the finite-only corpus
    assert(guarded == clean, "Inf vector perturbed brute-force rankings")
    assert(Similarity.lshTopK(queries, poisoned, k = 5, dim = 64)
      .where(col("vec_id") === 88888L).count() == 0L)
    assert(Similarity.ivfTopK(queries, poisoned, k = 5, dim = 64,
        nlist = 16, nprobe = 16)
      .where(col("vec_id") === 88888L).count() == 0L)
    // an all-NaN vector scores NaN against every CENTROID too: the
    // probe-cell expression must return NO cells (the zero-initialized
    // sentinel array used to emit centroid 0 repeated nprobe times —
    // duplicate probe cells and duplicate (qid, vec_id) ranks)
    val nanQ = Seq((77777L, Array.fill(64)(Float.NaN)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(emb, dim = 64, nlist = 16)
    val cells = nanQ.select(
      Similarity.probeClusters(col("embedding"), cents, 4).as("cells"))
      .head().getSeq[Int](0)
    assert(cells.isEmpty, s"NaN vector probed cells: $cells")
  }

  test("IVF index persists: reopen loads centroids with zero Spark jobs") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    val queries = emb.where(col("vec_id") < 10)
    val first = Similarity.ivfTopK(queries, emb, k = 5, dim = 64,
        nlist = 16, nprobe = 8, indexDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val trained = Similarity.readCentroids(spark, dir)
    assert(trained.nonEmpty && trained.get.length == 16)

    // reopening runs NO jobs to acquire centroids (training would run
    // several collect passes) and returns bit-identical rows
    val (reloaded, jobs) = JobCount.during(spark)(Similarity.loadOrTrainCentroids(
      emb, dim = 64, nlist = 16, iters = 3, indexDir = dir))
    assert(jobs == 0, s"reopen ran $jobs Spark jobs")
    assert(reloaded.map(_.toSeq).toSeq == trained.get.map(_.toSeq).toSeq)

    val second = Similarity.ivfTopK(queries, emb, k = 5, dim = 64,
        nlist = 16, nprobe = 8, indexDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(second == first)
  }

  test("IVF smoke at nlist=4096: reference-object centroids compile and run") {
    // 4096 lists × 64 dims inlined as expression literals would be a
    // ~megabyte generated expression; the reference-object path is O(1)
    // generated code. Synthetic deterministic corpus, bigger than nlist.
    val corpus = spark.range(5000).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => (pmod(hash(col("id") * 64 + j), lit(1000)).cast("double") / 1000.0)
          .cast("float")).as("embedding"))
    val out = Similarity.ivfTopK(corpus.where(col("vec_id") < 5), corpus,
        k = 3, dim = 64, nlist = 4096, nprobe = 4, iters = 1)
      .collect()
    assert(out.length == 15, s"expected 5 queries × k=3, got ${out.length}")
  }

  test("semantic decontamination: bench members and their twins drop, rest kept") {
    import spark.implicits._
    val bench = emb.where(col("vec_id") < 5).select("embedding")
    // a paraphrase-shaped leak: vec 3's embedding, nudged
    val leak = emb.where(col("vec_id") === 3)
      .select(lit(9999L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
          .as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(leak)
    val kept = TextAnalysis.decontaminateSemantic(corpus, bench,
        threshold = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // bench self-matches (cosine 1) and the planted leak both drop;
    // nothing else in the fixture is within 0.95 of the bench
    assert(!kept.exists(_ < 5) && !kept.contains(9999L))
    assert(kept.size == 495, s"kept ${kept.size}")
  }

  test("semantic decontamination: zero-norm vectors neither match nor drop") {
    import spark.implicits._
    val zero = Seq((8888L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val corpus = emb.select("vec_id", "embedding").unionByName(zero)
    // a zero-norm BENCH row must not nuke the corpus (NaN >= t trap)...
    val benchZero = TextAnalysis.decontaminateSemantic(corpus,
      zero.select("embedding"), threshold = 0.95)
    assert(benchZero.count() == corpus.count())
    // ...and a zero-norm CORPUS row is kept, not silently dropped
    val kept = TextAnalysis.decontaminateSemantic(corpus,
        emb.where(col("vec_id") < 5).select("embedding"), threshold = 0.95)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(8888L))
    assert(!kept.exists(_ < 5))
  }

  test("incremental dedup via a persisted index equals the direct path") {
    val newDocs = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val direct = Dedup.minhashNearDuplicatesBetween(newDocs, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a GENUINELY persisted index (parquet round trip — exercises the
    // stored nullability/element types, not the same in-memory plan)
    val ixDir = java.nio.file.Files.createTempDirectory("graft-mhix").toString
    Dedup.minhashSignaturesHashed(
        Dedup.shingleHashRows(corpus, 3, distinctRows = false))
      .write.mode("overwrite").parquet(ixDir)
    val viaIndex = Dedup.minhashNearDuplicatesBetweenSigned(
        newDocs, corpus, spark.read.parquet(ixDir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct && direct.nonEmpty)
    // a mismatched index is refused, not silently low-recall
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDuplicatesBetweenSigned(newDocs, corpus,
        Dedup.minhashSignaturesHashed(
          Dedup.shingleHashRows(corpus, 3, distinctRows = false),
          numHashes = 32))
    }

    // the full-lifecycle form: writeMinhashIndex bakes its parameters
    // into a sidecar, matchAgainstMinhashIndex reads them back — same
    // result as the direct path, no parameter to mismatch
    val storeDir = java.nio.file.Files.createTempDirectory("graft-mhstore")
      .toString
    Dedup.writeMinhashIndex(corpus, storeDir)
    val viaStore = Dedup.matchAgainstMinhashIndex(newDocs, corpus, storeDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStore == direct)
    // bands must divide the stored numHashes; a bare dir is refused
    intercept[IllegalArgumentException] {
      Dedup.matchAgainstMinhashIndex(newDocs, corpus, storeDir, bands = 7)
    }
    intercept[IllegalArgumentException] {
      Dedup.matchAgainstMinhashIndex(newDocs, corpus,
        java.nio.file.Files.createTempDirectory("graft-empty").toString)
    }
  }

  test("appendToMinhashIndex: append-grown index equals rebuilt index") {
    val newDocs = docs.where(col("doc_id") % 5 === 0)
      .select("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    val direct = Dedup.minhashNearDuplicatesBetween(newDocs, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // grow the index in two increments: base write, then an append that
    // signatures ONLY the second batch (with the sidecar's parameters)
    val growDir = java.nio.file.Files.createTempDirectory("graft-mhgrow")
      .toString
    Dedup.writeMinhashIndex(
      corpus.where((col("doc_id") % 5).isin(1, 2)), growDir)
    Dedup.appendToMinhashIndex(
      corpus.where((col("doc_id") % 5).isin(3, 4)), growDir)
    val viaGrown = Dedup.matchAgainstMinhashIndex(newDocs, corpus, growDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaGrown == direct && direct.nonEmpty,
      s"grown-index matches ${viaGrown.size} != direct ${direct.size}")
    // appending to a directory without a sidecar is refused: the batch
    // would be signatured with guessed parameters
    intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(newDocs,
        java.nio.file.Files.createTempDirectory("graft-nosidecar").toString)
    }
    // a non-default-parameter index appends with ITS OWN parameters:
    // match via the grown index still equals a direct run at those params
    val altDir = java.nio.file.Files.createTempDirectory("graft-mhalt")
      .toString
    Dedup.writeMinhashIndex(corpus.where((col("doc_id") % 5).isin(1, 2)),
      altDir, shingleLen = 2, numHashes = 32)
    Dedup.appendToMinhashIndex(
      corpus.where((col("doc_id") % 5).isin(3, 4)), altDir)
    val altGrown = Dedup.matchAgainstMinhashIndex(newDocs, corpus, altDir,
        bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val altDirect = Dedup.minhashNearDuplicatesBetween(newDocs, corpus,
        shingleLen = 2, numHashes = 32, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(altGrown == altDirect && altDirect.nonEmpty)
  }

  test("IVF index lifecycle: append-grown index answers like a fresh assignment") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfgrow")
      .toString
    val corpusA = emb.where(col("vec_id") >= 20 && col("vec_id") % 2 === 0)
    val corpusB = emb.where(col("vec_id") >= 20 && col("vec_id") % 2 === 1)
    val queries = emb.where(col("vec_id") < 20)
    Similarity.writeIvfIndex(corpusA, dir, dim = 64, nlist = 16)
    Similarity.appendToIvfIndex(corpusB, dir)
    def pairs(df: DataFrame): Set[(Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val viaIndex = pairs(
      Similarity.ivfTopKOverIndex(queries, dir, k = 5, nprobe = 8))
    // direct path over the union, with the SAME stored quantizer
    // (indexDir loads, nlist matches, no retrain): the grown index must
    // be indistinguishable from assigning the whole corpus fresh
    val direct = pairs(Similarity.ivfTopK(queries, corpusA.union(corpusB),
      k = 5, dim = 64, nlist = 16, nprobe = 8, indexDir = Some(dir)))
    assert(viaIndex == direct && direct.nonEmpty)

    // refusals: a bare directory is not an index; a batch of the wrong
    // width would assign by a silently-truncated dot product
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(corpusB,
        java.nio.file.Files.createTempDirectory("graft-ivfbare").toString)
    }
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(
        corpusB.select(col("vec_id"),
          slice(col("embedding"), 1, 32).as("embedding")), dir)
    }
    // crash consistency: an append that died mid-commit left no sidecar
    // — every index entry point refuses rather than serving a
    // valid-looking, silently-partial index
    val props = new org.apache.hadoop.fs.Path(dir, "_graft_ivf.properties")
    props.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(props, false)
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKOverIndex(queries, dir, k = 5)
    }
    intercept[IllegalArgumentException] {
      Dedup.semanticMatchesAgainstIndex(queries, dir, threshold = 0.5)
    }
  }

  test("quantized IVF index: int8 bytes stored, full probe equals quantizedTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfq")
      .toString
    val corpusA = emb.where(col("vec_id") >= 20 && col("vec_id") % 2 === 0)
    val corpusB = emb.where(col("vec_id") >= 20 && col("vec_id") % 2 === 1)
    val queries = emb.where(col("vec_id") < 20)
    Similarity.writeIvfIndex(corpusA, dir, dim = 64, nlist = 16,
      quantize = true)
    Similarity.appendToIvfIndex(corpusB, dir)
    // the stored bytes ARE int8: packed binary + self-dot norm, no
    // float embedding column — the 4x claim is the schema, not a flag
    val schema = spark.read.parquet(dir).schema
    assert(schema.fieldNames.toSet == Set("vec_id", "qvec", "qnorm", "cell"),
      schema.treeString)
    assert(schema("qvec").dataType ==
      org.apache.spark.sql.types.BinaryType, schema.treeString)
    def pairs(df: DataFrame): Set[(Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // full probe makes every stored vector a candidate, so the scoring
    // must reproduce quantizedTopK exactly — same integer dots, same
    // tie order
    val viaIndex = pairs(
      Similarity.ivfTopKOverIndex(queries, dir, k = 5, nprobe = 16))
    val direct = pairs(
      Similarity.quantizedTopK(queries, corpusA.union(corpusB), k = 5))
    assert(viaIndex == direct && direct.nonEmpty)
    // pruned probes stay usable (recall floor vs the full probe)
    val pruned = pairs(
      Similarity.ivfTopKOverIndex(queries, dir, k = 5, nprobe = 8))
    val recall = (pruned & viaIndex).size.toDouble / viaIndex.size
    assert(recall > 0.4, s"recall $recall")
    // exact-verify consumers refuse the quantized form loudly
    intercept[IllegalArgumentException] {
      Dedup.semanticMatchesAgainstIndex(queries, dir, threshold = 0.5)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.Observers.streamingSemanticMatches(queries, dir,
        threshold = 0.5)
    }
  }

  test("PQ index: m code bytes stored, append ≡ rebuild, recall vs brute force") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString
    val corpusA = emb.where(col("vec_id") >= 20 && col("vec_id") % 2 === 0)
    val corpusB = emb.where(col("vec_id") >= 20 && col("vec_id") % 2 === 1)
    val queries = emb.where(col("vec_id") < 20)
    // ksub below BOTH corpus sizes: a corpus smaller than ksub trains
    // an effectively-smaller codebook, and the rebuild below must see
    // geometry matching its request to reuse the stored quantizers.
    // m=32 because these synthetic embeddings are near-random (top-k
    // neighbors weakly separated), so recall needs the finer subspaces;
    // real clustered text embeddings use the standard m=8.
    Similarity.writePqIndex(corpusA, dir, dim = 64, m = 32, ksub = 128,
      nlist = 16)
    Similarity.appendToPqIndex(corpusB, dir)
    // the stored bytes ARE the compression claim: m CODE BYTES + a
    // double norm per vector, no float embedding column (m=32 on dim
    // 64 → 32 bytes, 8× under float32; the standard m=8 is 32×)
    val schema = spark.read.parquet(dir).schema
    assert(schema.fieldNames.toSet == Set("vec_id", "codes", "rnorm", "cell"),
      schema.treeString)
    assert(schema("codes").dataType ==
      org.apache.spark.sql.types.BinaryType, schema.treeString)
    val codeLens = spark.read.parquet(dir)
      .select(length(col("codes"))).distinct().collect().map(_.getInt(0))
    assert(codeLens.toSeq == Seq(32), codeLens.mkString(","))

    def pairs(df: DataFrame): Set[(Long, Int, Long)] =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val grown = pairs(
      Similarity.pqTopKOverIndex(queries, dir, k = 5, nprobe = 16))
    // rebuilding over the union REUSES the stored quantizers (geometry
    // matches), so the append-grown index must answer identically to an
    // index built from the full corpus in one shot
    Similarity.writePqIndex(corpusA.union(corpusB), dir, dim = 64, m = 32,
      ksub = 128, nlist = 16)
    val rebuilt = pairs(
      Similarity.pqTopKOverIndex(queries, dir, k = 5, nprobe = 16))
    assert(grown == rebuilt && rebuilt.nonEmpty)

    // full-probe ADC recall vs exact brute force (approximate by
    // design, like the int8/LSH/IVF paths). Codebooks trained on the
    // FULL corpus — the production shape; the A-trained index above
    // reconstructs held-out vectors of this random data much worse,
    // which the lifecycle checks tolerate (they compare PQ to PQ)
    // rank-insensitive membership (ADC reorders near-ties)
    def members(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = members(Similarity.bruteForceTopK(queries,
      corpusA.union(corpusB), k = 5))
    val pq = members(Similarity.pqTopK(queries, corpusA.union(corpusB),
      k = 5, dim = 64, m = 32, ksub = 128, nlist = 16, nprobe = 16))
    SpecInvariants.recallFloor(pq, exact, 0.6, "PQ/ADC top-k")

    // refusals: a bare directory is not an index; a wrong-width batch
    // would encode by silently-truncated subvectors; a sidecar-less
    // (mid-append-crash) directory refuses every entry point
    intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(corpusB,
        java.nio.file.Files.createTempDirectory("graft-pqbare").toString)
    }
    intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(
        corpusB.select(col("vec_id"),
          slice(col("embedding"), 1, 32).as("embedding")), dir)
    }
    val props = new org.apache.hadoop.fs.Path(dir, "_graft_pq.properties")
    props.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(props, false)
    intercept[IllegalArgumentException] {
      Similarity.pqTopKOverIndex(queries, dir, k = 5)
    }
  }

  test("PQ ADC score equals the dot against the explicit reconstruction") {
    import spark.implicits._
    import graft.functions.cellfunctions.{pq_adc, pq_encode, pq_lut, pq_recon_norm}
    // differential: adc(lut(q), encode(x)) must equal dot(q, x̂) where
    // x̂ is the driver-side reconstruction from the same codebooks —
    // the LUT factorization is an optimization, not an approximation
    val cb = Similarity.trainPqCodebooks(
      emb.where(col("vec_id") >= 20), dim = 64, m = 8, ksub = 16, iters = 2)
    val rows = emb.where(col("vec_id") < 30)
      .select(col("vec_id"), col("embedding"),
        pq_encode(col("embedding"), cb).as("codes"))
      .withColumn("adc", pq_adc(pq_lut(col("embedding"), cb), col("codes")))
      .withColumn("rnorm", pq_recon_norm(col("codes"), cb))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val codes = r.getAs[Array[Byte]]("codes")
      val recon = codes.zipWithIndex.flatMap { case (c, s) => cb(s)(c & 0xFF) }
      // same math, different summation order (per-subspace partials vs
      // one sequential fold) — equal to fp tolerance, not bit-identical
      val dot = v.zip(recon).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - r.getAs[Double]("adc")) < 1e-6 * (1 + math.abs(dot)),
        s"vec ${r.getLong(0)}: adc ${r.getAs[Double]("adc")} vs dot $dot")
      val rn = math.sqrt(recon.map(x => x * x).sum)
      assert(math.abs(rn - r.getAs[Double]("rnorm")) < 1e-6 * (1 + rn))
    }
    assert(rows.nonEmpty)
  }

  test("semantic matches against stored index: planted twins found, verify exact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfsem")
      .toString
    Similarity.writeIvfIndex(emb, dir, dim = 64, nlist = 16)
    // planted batch: exact copies of ten corpus vectors under fresh ids
    // — an exact copy's nearest cell IS its source's stored cell, so it
    // must surface at ANY nprobe; plus one zero vector, which must not
    val batch = emb.where(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .union(Seq((200000L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding"))
    val got = Dedup.semanticMatchesAgainstIndex(batch, dir,
        threshold = 0.99, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (100000L + i, i.toLong)).toSet
    assert(planted.subsetOf(got), s"missing ${planted -- got}")
    assert(!got.exists(_._1 == 200000L), "zero vector must never match")
    // total-collapse refusal on the index path: a cap the stored
    // corpus cannot average under must ERROR, not silently match
    // nothing (round-14 guard)
    intercept[IllegalArgumentException] {
      Dedup.semanticMatchesAgainstIndex(batch, dir, threshold = 0.99,
        nprobe = 2, maxCellSize = 1)
    }
    // exact cross-side ground truth: every emitted pair is real, and a
    // full probe (nprobe = nlist) recovers the complete set
    def xnorm(df: DataFrame, id: String, v: String) =
      df.select(col("vec_id").as(id), col("embedding").as(v))
        .withColumn(s"n_$id", Similarity.norm(col(v)))
        .where(col(s"n_$id") > 0)
    val exact = xnorm(batch, "id_a", "va")
      .crossJoin(xnorm(emb, "id_b", "vb"))
      .where(Similarity.dot(col("va"), col("vb")) /
        (col("n_id_a") * col("n_id_b")) >= 0.99)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact), s"false positives ${got -- exact}")
    val full = Dedup.semanticMatchesAgainstIndex(batch, dir,
        threshold = 0.99, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, s"full probe missed ${exact -- full}")
  }

  test("corpus report: planted short doc and null lang count correctly") {
    import spark.implicits._
    val d = Seq(
      ("a", 1L, "one two three four five six", "en", 27L),
      ("a", 2L, "tiny doc", "fr", 8L),          // 2 tokens < 5 -> short
      ("a", 3L, "x y z w v u t", null, 13L),    // null lang
      ("b", 4L, "lone document in source b ok", "en", 28L))
      .toDF("source", "doc_id", "text", "lang", "n_chars")
    val got = TextAnalysis.corpusReport(d)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // count(DISTINCT lang) ignores nulls in both engines
    assert(got("a") == (3L, 15L, 48L, 1L, 8L, 27L, 2L), got("a").toString)
    assert(got("b") == (1L, 6L, 28L, 0L, 28L, 28L, 1L))
  }

  test("semantic dedup: planted tight twins collapse, clean vectors untouched") {
    import spark.implicits._
    // twin every vector under id 25: same embedding with the first
    // component nudged — cosine vs the source ~0.9999, far above any
    // natural pair in the fixture (max 0.52)
    val twins = emb.where(col("vec_id") < 25)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x))
          .as("embedding"))
    val planted = emb.select("vec_id", "embedding").unionByName(twins)
    val groups = Dedup.semanticDedup(planted, threshold = 0.95, dim = 64,
        nlist = 8, nprobe = 2, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every twin lands in its source's group (recall 1.0 on tight dups)
    (0L until 25L).foreach(id =>
      assert(groups(id + 10000L) == groups(id), s"twin of $id split"))
    // precision is exact (verified cosine): nothing else merges
    groups.filter { case (id, _) => id < 10000L }.foreach { case (id, g) =>
      assert(g == id, s"clean vector $id merged into $g") }
  }

  test("semantic dedup with a persisted quantizer assigns identically") {
    val ixDir = java.nio.file.Files.createTempDirectory("graft-semix")
      .toString
    def run(dir: Option[String]) = Dedup.semanticNearDuplicates(
        emb.select("vec_id", "embedding"), threshold = 0.4, dim = 64,
        nlist = 8, nprobe = 2, iters = 2, indexDir = dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = run(Some(ixDir))   // trains and persists the cells
    // the quantizer persisted (same sidecar the IVF index uses)
    assert(Similarity.readCentroids(spark, ixDir).exists(_.length == 8))
    // a second pass LOADS (exact-round-trip doubles -> identical argmax)
    assert(run(Some(ixDir)) == first)
    // and equals a freshly trained run (training is deterministic)
    assert(run(None) == first && first.nonEmpty)
  }

  test("corpus-derived ANN defaults: formula, clamps, zero-arg equivalence") {
    // the derivation is the cap-feasibility guard's own prescription
    // (nlist ~ 2*rows/cap, power of two), so zero-argument runs are
    // feasible BY CONSTRUCTION at any admitted corpus (round 15)
    assert(Similarity.derivedNlist(500L * 2, 10000, 256) == 256)
    assert(Similarity.derivedNlist(10000000L * 2, 10000, 256) == 4096,
      "the round-14 silent-empty shape must derive 4096 cells")
    assert(Similarity.derivedNlist(40000L, 10000, 16) == 16)
    assert(Similarity.derivedNlist(100000L, 10000, 16) == 32)
    assert(Similarity.derivedNlist(Long.MaxValue / 4, 10000, 16) ==
      Similarity.MaxDerivedNlist)
    // derived value is always feasible under the guard's inequality
    for (rows <- Seq(1L, 999L, 123456L, 20000000L, 1000000000L))
      assert(rows * 2 <= 10000L *
        Similarity.derivedNlist(rows * 2, 10000, 256),
        s"derived nlist infeasible at rows=$rows")
    assert(Similarity.derivedPlanes(1000L, 10000) == 8)
    assert(Similarity.derivedPlanes(10000000L, 10000) == 14)
    assert(Similarity.derivedPlanes(Long.MaxValue / 16, 10000) == 24)
    // zero-argument runs reproduce the historical fixed defaults
    // bit-for-bit at gate scale (min clamps == the old constants)
    val e = emb.select(col("vec_id"), col("embedding"))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Dedup.semanticNearDuplicates(e, 0.4, dim = 64,
        iters = 2)) ==
      pairSet(Dedup.semanticNearDuplicates(e, 0.4, dim = 64, nlist = 256,
        iters = 2)))
    assert(pairSet(Dedup.embeddingNearDuplicatesLsh(e, 0.4, dim = 64,
        tables = 16)) ==
      pairSet(Dedup.embeddingNearDuplicatesLsh(e, 0.4, dim = 64,
        planes = 8, tables = 16)))
    // an EXPLICIT infeasible nlist still refuses loudly (unchanged)...
    val ex = intercept[IllegalArgumentException](
      Dedup.semanticNearDuplicates(e, 0.4, dim = 64, nlist = 16,
        nprobe = 2, maxCellSize = 10))
    assert(ex.getMessage.contains("capBuckets would drop"))
    // ...while the DERIVED default makes the same corpus feasible
    assert(Dedup.semanticNearDuplicates(e, 0.95, dim = 64, nprobe = 2,
      iters = 1, maxCellSize = 10).collect() != null)
  }

  test("connected components match union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 300
    val edges = (0 until 250).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // ground truth: plain union-find with min-id roots
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
    }
    val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(v => (v, find(v.toInt).toLong)).toMap
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == expected)
  }

  test("connected components: multi-seed differential fuzz vs union-find") {
    import spark.implicits._
    for (seed <- Seq(7, 11, 13)) {
      val rnd = new scala.util.Random(seed)
      val n = 120
      // vary density across seeds: sparse forests through dense clumps
      val m = 40 + seed * 10
      val edges = (0 until m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb)); parent(hi) = lo }
      }
      val expected = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(v => (v, find(v.toInt).toLong)).toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected, s"seed $seed")
      // BOTH branches: the default run above exercises the driver-local
      // union-find (spec scale sits below the threshold); force the
      // distributed star rounds and require the same fixpoint
      val distGot = Dedup.connectedComponentsImpl(
          edges.toDF("id_a", "id_b"), maxRounds = 50, driverMax = 0L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(distGot == expected, s"distributed branch seed $seed")
    }
  }

  test("connected components: maxRounds budget carries across the driver-local branch") {
    import spark.implicits._
    // a 12-node path needs several star rounds; the budget must bind
    // IDENTICALLY on both branches (round 15: previously the local
    // union-find ignored maxRounds entirely, so a pipeline could pass
    // in tests and fail at corpus scale)
    val path = (1L to 12L).sliding(2).map(p => (p.head, p.last)).toSeq
      .toDF("id_a", "id_b")
    def minBudget(driverMax: Long): Int =
      (1 to 50).find { b =>
        try {
          Dedup.connectedComponentsImpl(path, b, driverMax).collect(); true
        } catch { case _: IllegalArgumentException => false }
      }.get
    val local = minBudget(Graph.DriverPeelMax)
    val dist = minBudget(0L)
    assert(local > 1, "fixture must need more than one star round")
    assert(local == dist, s"budget diverges: local $local vs distributed $dist")
    // the refusal is the documented contract, never a partial grouping
    val ex = intercept[IllegalArgumentException](
      Dedup.connectedComponents(path, maxRounds = 1).collect())
    assert(ex.getMessage.contains("did not converge"))
  }

  test("duplicate groups: transitive collapse, singletons keep their own id") {
    import spark.implicits._
    val d = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // 1~2, 2~3 collapse transitively; 4, 5 are singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.duplicateGroups(d, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L))
  }

  test("repetition signals: crafted docs get exact ratios") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a a b"),          // uniq 2/4, top token 3/4, top bigram "a a" 2/3
      (2L, "x y z w"),          // no repetition
      (3L, "solo")              // single token: no bigrams
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionTable(d)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((0.5, 0.75, 2.0 / 3.0)))
    assert(got(2L) == ((1.0, 0.25, 1.0 / 3.0)))
    assert(got(3L) == ((1.0, 1.0, 0.0)))
  }

  test("PII redaction: email, phone, ip replaced; clean text untouched") {
    import spark.implicits._
    val d = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "call 555-867-5309 or 555.123.4567 today"),
      (3L, "host 192.168.1.254 up"),
      (4L, "nothing sensitive here 12 34")
    ).toDF("doc_id", "text")
    val got = d.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "call <PHONE> or <PHONE> today")
    assert(got(3L) == "host <IP> up")
    assert(got(4L) == "nothing sensitive here 12 34")
  }

  test("decontaminate drops gram-sharing docs, keeps clean and too-short ones") {
    import spark.implicits._
    val bench = Seq((1L, "the secret benchmark phrase here"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "contains the secret benchmark phrase inside"), // shares a trigram
      (11L, "totally unrelated text entirely"),             // clean
      (12L, "too short"))                                   // < n tokens: cannot leak
      .toDF("doc_id", "text")
    val kept = TextAnalysis.decontaminate(corpus, bench, n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L))
    // plan audit: the benchmark gram set broadcasts (no gram shuffle join)
    val plan = TextAnalysis.decontaminate(corpus, bench, n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("decontaminateFuzzy catches near-verbatim leakage exact grams miss") {
    import spark.implicits._
    val benchText = "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi omicron pi"
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, benchText),                                   // verbatim leak
      // every token tweaked by one character: NO shared 3-gram, but
      // each 16-token chunk is within small edit distance... use a
      // single-char tweak in one token only: chunk distance 1
      (11L, benchText.replace("gamma", "gamm1")),
      (12L, "totally unrelated text entirely written here and more " +
        "words to cross the chunk length so it chunks fine ok")
    ).toDF("doc_id", "text")
    // exact trigram decontamination keeps doc 11? No — it still shares
    // trigrams away from the tweak; shrink to the REAL contrast: fuzzy
    // must drop 10 and 11, keep 12
    val keptFuzzy = TextAnalysis.decontaminateFuzzy(corpus, bench,
        chunkLen = 16, stride = 8, maxDistance = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptFuzzy == Set(12L), keptFuzzy.toString)
    // a fully tweaked copy (every token one char off) evades exact
    // n-grams entirely but sits within chunk edit distance when the
    // tweak count inside a chunk stays <= maxDistance — here 1 tweak
    // per 16-token window at stride 8
    val toks = benchText.split(" ")
    val lightTweak = toks.zipWithIndex.map { case (t, i) =>
      if (i % 16 == 7) t.dropRight(1) + "9" else t }.mkString(" ")
    val corpus2 = Seq((20L, lightTweak)).toDF("doc_id", "text")
    val kept2 = TextAnalysis.decontaminateFuzzy(corpus2, bench,
        chunkLen = 16, stride = 8, maxDistance = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2.isEmpty, kept2.toString)
  }

  test("stratified sampling is exact, deterministic, and per-stratum") {
    val bySource = docs.groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val sys = Sampling.systematic(docs, col("source"), col("doc_id"), k = 7)
    val sysCounts = sys.groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // ceil(n/7) per stratum, every stratum represented
    assert(sysCounts == bySource.map { case (s, n) => s -> (n + 6) / 7 })
    // deterministic: a second run selects the identical rows
    val ids1 = sys.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.systematic(docs, col("source"), col("doc_id"), k = 7)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)

    // sub-stratified (the scale shape): rate holds within +1 per
    // sub-stratum, and selection is still deterministic
    def subbed() = Sampling.systematic(docs, col("source"), col("doc_id"),
      k = 7, subStratum = Some(col("doc_id") % 16))
    val subCounts = subbed().groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    bySource.foreach { case (s, n) =>
      val got = subCounts.getOrElse(s, 0L)
      assert(got >= n / 7 && got <= n / 7 + 16, s"stratum $s: $got of $n")
    }
    assert(subbed().select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      == subbed().select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)

    val quota = Sampling.takePerStratum(docs, col("source"), col("doc_id"), n = 3)
      .groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(quota == bySource.map { case (s, n) => s -> math.min(3L, n) })

    // quota MAP: per-stratum budgets, zero drops, default applies
    val mixed = Sampling.takeQuotas(docs, col("source"), col("doc_id"),
        Map("src0" -> 4L, "src1" -> 0L), defaultQuota = 1L)
      .groupBy("source").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(mixed.get("src0").contains(4L))
    assert(!mixed.contains("src1"))
    assert(bySource.keySet.filterNot(Set("src0", "src1"))
      .forall(s => mixed.get(s).contains(1L)))
  }

  test("token quotas: per-stratum prefix take-while, nulls, bucket invariance") {
    import spark.implicits._
    // hex order key == zero-padded id, so the take order IS id order
    val d = Seq(
      ("a", 1L, 100L), ("a", 2L, 100L), ("a", 3L, 150L), ("a", 4L, 10L),
      ("b", 5L, 500L), ("b", 6L, 1L),
      (null.asInstanceOf[String], 7L, 50L), (null.asInstanceOf[String], 8L, 60L))
      .toDF("src", "id", "tok")
      .withColumn("h", lpad(lower(hex(col("id"))), 4, "0"))
    def run(chars: Int) = Sampling.takeTokenQuotas(d, col("src"), col("h"),
        col("tok"), Map("a" -> 250L, "b" -> 0L), defaultQuota = 55L,
        bucketChars = chars)
      .select("id").collect().map(_.getLong(0)).toSet
    // a: 100+100 <= 250, +150 crosses -> {1,2}; the later 10-token doc 4
    //    is NOT back-filled (prefix semantics, not knapsack)
    // b: zero quota drops all; null stratum: 50 <= 55, +60 crosses -> {7}
    assert(run(2) == Set(1L, 2L, 7L))
    // the distributed prefix sum is bucket-count-invariant
    assert(run(1) == run(2) && run(4) == run(2))
    // output keeps the caller's columns only (helpers dropped)
    val cols = Sampling.takeTokenQuotas(d, col("src"), col("h"), col("tok"),
      Map.empty, defaultQuota = 1000L).columns.toSeq
    assert(cols == Seq("src", "id", "tok", "h"))
  }

  test("shuffled export: files are range-disjoint and sorted in shuffle order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-shuf").toString
    Sampling.writeShuffled(docs.select("doc_id", "source"), col("doc_id"),
      "epoch1", dir, partitions = 8)
    val back = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
    // within-file sorted + across-file disjoint ranges = global order
    val ranges = back.groupBy("f")
      .agg(min("shuffle_key").as("lo"), max("shuffle_key").as("hi"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1)
    assert(ranges.map(_._3).sum == docs.count())
    ranges.sliding(2).foreach {
      case Array((_, hi1, _), (lo2, _, _)) => assert(hi1 <= lo2,
        s"file ranges overlap: $hi1 > $lo2")
      case _ => ()
    }
    // round trip keeps every row exactly once
    assert(back.select("doc_id").distinct().count() == docs.count())
  }

  test("row minhash signature expression equals the batch aggregation") {
    val batch = Dedup.minhashSignaturesHashed(
      Dedup.shingleHashRows(docs, 3, distinctRows = false))
    val row = docs.select(col("doc_id"),
      Dedup.rowMinhashSignature(col("text")).as("rsig"))
    val joined = batch.join(row, "doc_id")
    assert(joined.count() == batch.count())
    assert(joined.where(not(col("sig") === col("rsig"))).count() == 0)
    // null exactly for the docs the batch path drops (too short)
    assert(row.where(col("rsig").isNull).count() ==
      docs.where(size(split(col("text"), " ", -1)) < 3).count())
  }

  test("incremental dedup: cross-side pairs only, intra-side dups ignored") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val newDocs = Seq(
      (1L, base),                       // dup of 2 (intra-new) and 10 (cross)
      (2L, base),
      (3L, "completely different text with nothing shared at all here"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, base),                      // dup of 1, 2
      (11L, base + " extended"),        // near-dup of 1, 2, 10
      (12L, "unrelated corpus document holding its own distinct content"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashNearDuplicatesBetween(newDocs, corpus,
        threshold = 0.8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // (1,2) intra-new and (10,11) intra-corpus must NOT appear
    assert(got == Set((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L)), got)
  }

  test("token quotas: multi-seed differential fuzz vs the naive prefix rule") {
    import spark.implicits._
    (0 until 5).foreach { seed =>
      val rng = new scala.util.Random(0xbeef + seed)
      val srcs = Array("a", "b", "c", null)
      val rows = (0 until 200).map { i =>
        (srcs(rng.nextInt(srcs.length)), i.toLong, rng.nextInt(50).toLong)
      }
      val quotas = Map("a" -> rng.nextInt(2000).toLong,
        "b" -> rng.nextInt(200).toLong, "c" -> 0L)
      val dflt = rng.nextInt(500).toLong
      // straight-line reference: per-source md5-hash-order prefix
      def h(id: Long) = java.security.MessageDigest.getInstance("MD5")
        .digest(s"s$seed$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expected = rows.groupBy(_._1).flatMap { case (src, rs) =>
        val quota = if (src == null) dflt else quotas.getOrElse(src, dflt)
        var cum = 0L
        rs.sortBy(r => h(r._2)).takeWhile { r =>
          cum += r._3; cum <= quota
        }.map(_._2)
      }.toSet
      val df = Sampling.shuffleKey(
        rows.toDF("src", "id", "tok"), col("id"), s"s$seed")
      val got = Sampling.takeTokenQuotas(df, col("src"), col("shuffle_key"),
          col("tok"), quotas, defaultQuota = dflt, bucketChars = 1)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"seed $seed: ${got.diff(expected)} extra, " +
        s"${expected.diff(got)} missing")
    }
  }

  test("keep-best: multi-seed differential fuzz vs a straight-line argmax") {
    import spark.implicits._
    (0 until 5).foreach { seed =>
      val rng = new scala.util.Random(0xfeed + seed)
      val n = 60
      val docs = (0L until n).map(id => (id, rng.nextInt(10).toLong))
      val pairs = (0 until 40).map { _ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter(p => p._1 != p._2)
      // reference: union-find components, then max score / min id
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = docs.groupBy(d => find(d._1.toInt)).map { case (_, ds) =>
        val best = ds.maxBy(d => (d._2, -d._1))
        val gid = ds.map(_._1).min
        (gid, best._1, best._2)
      }.toSet
      val got = Dedup.keepBestPerGroup(docs.toDF("doc_id", "sc"),
          pairs.toDF("id_a", "id_b"), col("sc"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected, s"seed $seed")
    }
  }

  test("keep-best groups: max score wins, ties to lowest id, singletons kept") {
    import spark.implicits._
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 7L))
      .toDF("doc_id", "score_in")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBestPerGroup(docs, pairs, col("score_in"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // group {1,2,3}: 2 and 3 tie at 9 -> lowest id 2; singleton 10 kept
    assert(kept == Set((1L, 2L, 9L), (10L, 10L, 7L)))
  }

  test("sequence packing: budget cuts with straddle, independent strata") {
    import spark.implicits._
    val d = Seq(
      (1L, "s1", 4L), (2L, "s1", 4L), (3L, "s1", 4L), (4L, "s1", 7L),
      (5L, "s2", 12L), (6L, "s2", 3L)
    ).toDF("doc_id", "source", "n_tokens")
    val got = Sampling.packSequences(d, col("n_tokens"), budget = 10,
        stratum = col("source"), order = col("doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(r.fieldIndex("seq_id")), r.getLong(r.fieldIndex("seq_offset"))))).toMap
    // s1 cumsums (exclusive): 0, 4, 8, 12 -> seqs 0,0,0,1; offsets 0,4,8,2
    assert(got(1L) == ((0L, 0L)) && got(2L) == ((0L, 4L)))
    assert(got(3L) == ((0L, 8L)) && got(4L) == ((1L, 2L)))
    // s2 packs independently: 0, 12 -> seqs 0, 1; offsets 0, 2
    assert(got(5L) == ((0L, 0L)) && got(6L) == ((1L, 2L)))
  }

  test("shuffle key: deterministic, seed-sensitive, a real permutation") {
    val ids = docs.select(col("doc_id"))
    def order(seed: String): Seq[Long] =
      Sampling.shuffleKey(ids, col("doc_id"), seed)
        .orderBy(col("shuffle_key")).collect().map(_.getLong(0)).toSeq
    val e0 = order("epoch0")
    assert(e0 == order("epoch0"))                 // deterministic
    assert(e0 != order("epoch1"))                 // seed changes the order
    assert(e0.sorted != e0)                       // not the identity order
    assert(e0.toSet == ids.collect().map(_.getLong(0)).toSet)  // a permutation
  }

  test("temperature quotas: sqrt damping shrinks the head, exact integers") {
    import spark.implicits._
    // head stratum 400 rows, two tails of 25: proportional shares of a
    // 90-budget would be 80/5/5; sqrt damping gives 20/f(n) ratios
    val d = ((1 to 400).map(i => (i.toLong, "head")) ++
      (401 to 425).map(i => (i.toLong, "tail_a")) ++
      (426 to 450).map(i => (i.toLong, "tail_b")))
      .toDF("doc_id", "stratum")
    val got = Sampling.temperatureQuotas(d, col("stratum"), col("doc_id"),
        budget = 90L)
      .groupBy("stratum").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // weights floor(sqrt): 20, 5, 5 -> z=30 -> quotas 60, 15, 15
    assert(got == Map("head" -> 60L, "tail_a" -> 15L, "tail_b" -> 15L))
    // deterministic: lowest doc_id first within each stratum
    val ids = Sampling.temperatureQuotas(d, col("stratum"), col("doc_id"),
        budget = 90L)
      .where(col("stratum") === "tail_a")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (401L to 415L))

    // NULL strata claim no quota and do not crash the census or the
    // quota-map lookup (web-corpus domain columns carry nulls)
    val withNull = d.union(Seq((999L, null.asInstanceOf[String]))
      .toDF("doc_id", "stratum"))
    val gotN = Sampling.temperatureQuotas(withNull, col("stratum"),
        col("doc_id"), budget = 90L)
      .groupBy("stratum").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotN == got)
  }

  test("repeated-chunk removal: first occurrence wins, tails kept") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),         // all chunks first-seen
      (2L, "a b c d"),         // full duplicate of doc 1 -> vanishes
      (3L, "a b x"),           // chunk "a b" repeated, tail "x" survives
      (4L, "y z y z y z")      // within-doc repeat: "y z" kept once
    ).toDF("doc_id", "text")
    val got = Dedup.dropRepeatedChunks(d, n = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a b c d", 3L -> "x", 4L -> "y z"))

    // first-occurrence selection is an aggregate+join, not a rank
    // window over the (possibly ubiquitous) chunk key
    val plan = Dedup.dropRepeatedChunks(docs, n = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("boilerplate stripping: per-scope repeats cut everywhere, scopes isolate") {
    import spark.implicits._
    val d = Seq(
      (1L, "s1", "cookie banner a b"),   // "cookie banner" in 2 s1 docs
      (2L, "s1", "cookie banner c d"),   //  -> stripped from BOTH
      (3L, "s2", "cookie banner e f"),   // only once within s2 -> kept
      (4L, "s1", "cookie banner")        // all-boilerplate doc vanishes
    ).toDF("doc_id", "source", "text")
    val got = Dedup.stripBoilerplate(d, n = 2, minRepeats = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a b", 2L -> "c d", 3L -> "cookie banner e f"))
  }

  test("split assignment: exact thresholds, stable membership, seeded") {
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // the documented contract: floor(cum * 2^64) as padded lowercase hex
    assert(Sampling.splitThresholds(fr)
      == Seq("cccccccccccccccc", "e666666666666666"))
    val ids = docs.select(col("doc_id"))
    def splits(df: DataFrame, seed: String): Map[Long, String] =
      Sampling.assignSplits(df, col("doc_id"), seed, fr)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val s1 = splits(ids, "s1")
    assert(s1.values.toSet == Set("train", "val", "test"))
    // roughly the asked-for mix (binomial bounds at n=500 are loose)
    val n = s1.size.toDouble
    assert(s1.values.count(_ == "train") / n > 0.7)
    assert(s1 == splits(ids, "s1"))              // deterministic
    assert(s1 != splits(ids, "s2"))              // seed re-deals
    // membership is per-row: a shrunken corpus never reassigns a row
    val sub = splits(ids.where(col("doc_id") % 3 === 0), "s1")
    assert(sub.forall { case (id, sp) => s1(id) == sp })
    intercept[IllegalArgumentException] {
      Sampling.assignSplits(ids, col("doc_id"), "s", Seq("a" -> 0.5, "b" -> 0.4))
    }
    // a NULL id must fail loudly, not silently land in the last split
    val nullId = spark.sql("SELECT CAST(NULL AS BIGINT) AS doc_id")
    intercept[Exception] {
      Sampling.assignSplits(nullId, col("doc_id"), "s1", fr).collect()
    }
  }

  test("frame sampling: k offsets per object, in-bounds and monotone") {
    val media = Multimodal.mediaTable(docs)
    val frames = Multimodal.sampleFrames(media, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byDoc = frames.groupBy(_._1)
    assert(byDoc.forall(_._2.length == 4))
    val sizes = media.select(col("doc_id"), length(col("payload")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (id, fs) =>
      val offs = fs.sortBy(_._2).map(_._3)
      assert(offs.head == 0L && offs.forall(_ < sizes(id)))
      assert(offs.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("winnowed fingerprints: identical docs share all, near-dups most") {
    import spark.implicits._
    val fp = docs.select(col("doc_id"),
      Dedup.winnowedFingerprints(col("text")).as("fp"))
    // a doc compared to itself: identical fingerprint sets
    val self = docs.limit(5)
      .withColumn("fp1", Dedup.winnowedFingerprints(col("text")))
      .withColumn("fp2", Dedup.winnowedFingerprints(col("text")))
      .where(size(array_except(col("fp1"), col("fp2"))) > 0).count()
    assert(self == 0)
    // near-dup pairs (exact J >= 0.95 on shingles) share > 60% fingerprints
    val sh = Dedup.shingleTable(docs)
    val near = sh.select(col("doc_id").as("id_a"), col("shingles").as("sh_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sh_b")),
        col("id_a") < col("id_b"))
      .where(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.95)
      .select("id_a", "id_b")
    val shared = near
      .join(fp.select(col("doc_id").as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(fp.select(col("doc_id").as("id_b"), col("fp").as("fp_b")), "id_b")
      .withColumn("overlap",
        size(array_intersect(col("fp_a"), col("fp_b"))).cast("double") /
          size(array_union(col("fp_a"), col("fp_b"))).cast("double"))
    val minOverlap = shared.agg(min("overlap")).collect()(0).getDouble(0)
    assert(minOverlap > 0.6, s"min fingerprint overlap $minOverlap")
  }

  test("scan builder: projection sees row filter over full row") {
    import spark.implicits._
    val log = Seq(
      CellOp("r1", "cf", "flag", 1, 0, "yes".getBytes, 1),
      CellOp("r1", "cf", "data", 1, 0, "d1".getBytes, 2),
      CellOp("r2", "cf", "data", 1, 0, "d2".getBytes, 3)).toDF()
    // filter on 'flag' column, project only 'data': r1 passes (flag=yes),
    // r2 dropped (missing flag, filterIfMissing=true)
    val out = ScanQuery(log)
      .addColumn("cf", "data")
      .withFilter(ScanFilter.ValueFilter("cf", "flag", "==",
        TypedValue.Utf8("yes"), filterIfMissing = true))
      .run()
      .select("row_key", "qualifier").as[(String, String)].collect().toSet
    assert(out == Set(("r1", "data")))
  }

  test("scan builder: time range is a post-filter after version cap") {
    import spark.implicits._
    val log = Seq(
      CellOp("r1", "cf", "q", 10, 0, "a".getBytes, 1),
      CellOp("r1", "cf", "q", 20, 0, "b".getBytes, 2),
      CellOp("r1", "cf", "q", 30, 0, "c".getBytes, 3)).toDF()
    // maxVersions=1 keeps only ts=30; time range [5,25] then drops it:
    // result empty (not ts=20, which a pre-filter would have kept)
    val out = ScanQuery(log).withTimeRange(5, 25).run()
    assert(out.count() == 0)
  }

  test("tfidf top-terms: k bound, dense ranks from 1, deterministic ties") {
    val top = TextAnalysis.tfidfTopTerms(docs, k = 3)
    val byDoc = top.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .collect()
    assert(byDoc.nonEmpty)
    byDoc.foreach { r =>
      assert(r.getAs[Long]("n") <= 3 && r.getAs[Int]("lo") == 1 &&
        r.getAs[Int]("hi") == r.getAs[Long]("n"))
    }
    // deterministic across runs (tie-break by term)
    val a = top.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    val b = TextAnalysis.tfidfTopTerms(docs, k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    assert(a == b)
  }

  test("chunking covers every token; short docs yield one full-text chunk") {
    import spark.implicits._
    val d = Seq(
      (1L, (1 to 40).map(i => s"t$i").mkString(" ")), // 40 tokens
      (2L, "a b c")).toDF("doc_id", "text")           // shorter than chunkLen
    val chunks = TextAnalysis.chunk(d, chunkLen = 16, stride = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // doc 1: starts 1,13,25 -> 3 chunks; last one runs 25..40 (16 toks)
    val c1 = chunks.filter(_._1 == 1L).sortBy(_._2)
    assert(c1.map(_._2).toSeq == Seq(0, 1, 2))
    assert(c1(0)._3.startsWith("t1 ") && c1(2)._3.endsWith(" t40"))
    // stride < chunkLen -> consecutive chunks overlap; every token appears
    val covered = c1.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 40).map(i => s"t$i").toSet)
    val c2 = chunks.filter(_._1 == 2L)
    assert(c2.toSeq == Seq((2L, 0, "a b c")))
  }

  test("shared-passage pairs: run length counts grams; ubiquitous grams capped") {
    import spark.implicits._
    val span = (1 to 25).map(i => s"s$i").mkString(" ") // 25-token shared run
    val d = Seq(
      (1L, span + " xx1 yy1"),
      (2L, "zz2 " + span),
      (3L, (1 to 30).map(i => s"u$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.sharedPassagePairs(d, passageLen = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // a 25-token run shares 25-20+1 = 6 distinct 20-grams
    assert(pairs.toSeq == Seq((1L, 2L, 6L)))
    // cap: a gram in > maxDocsPerGram docs is dropped before the join
    val many = (0 until 30).map(i => (i.toLong, span)).toDF("doc_id", "text")
    assert(Dedup.sharedPassagePairs(many, passageLen = 20,
      maxDocsPerGram = 10).count() == 0)
  }

  test("curation pipeline: report accounts for every doc; kept == composed standalone ops") {
    val bench = docs.where(col("doc_id") % 50 === 0)
    val out = Curation.run(docs, nearDupThreshold = Some(0.8),
      benchmark = Some(bench))
    val report = out.report.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    // every input doc is attributed to exactly one stage
    assert(report.values.sum == docs.count())
    assert(report.keySet.subsetOf(Curation.Stages.toSet))
    assert(report("kept") == out.kept.count())
    // first-failing-stage attribution composes: the kept set equals
    // running the standalone operators in sequence
    val alive = TextAnalysis.curate(docs) // gates + exact dedup
      .join(docs, Seq("doc_id"))
    val pairs = Dedup.minhashNearDuplicates(alive, threshold = 0.8)
    val canon = Dedup.duplicateGroups(alive, pairs)
      .groupBy(col("group_id")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id").join(alive, Seq("doc_id"))
    val expected = TextAnalysis.decontaminate(canon, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = out.kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("curation pipeline: optional stages off -> only gate/exact attribution") {
    val out = Curation.run(docs)
    val stages = out.report.collect().map(_.getString(0)).toSet
    assert(!stages.contains("near_dup") && !stages.contains("contaminated"))
    val curate = TextAnalysis.curate(docs).collect().map(_.getLong(0)).toSet
    assert(out.kept.select("doc_id").collect().map(_.getLong(0)).toSet == curate)
  }

  test("duplicate-span removal: alignment-free cut, first occurrence survives") {
    import spark.implicits._
    val span = (1 to 20).map(i => s"s$i").mkString(" ")
    val fifteen = (1 to 15).map(i => s"f$i").mkString(" ")
    val d = Seq(
      (1L, "aa bb " + span + " cc"),
      (2L, "zz " + span + " yy xx"), // same 20-run, different alignment
      (3L, "uu vv ww " + (1 to 14).map(i => s"t$i").mkString(" ")),
      (4L, fifteen),
      (5L, fifteen)).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(d, minLen = 15).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // globally-first occurrence (doc 1) keeps the run intact
    assert(out(1L) == "aa bb " + span + " cc")
    // the other occurrence loses exactly the duplicated tokens — the
    // overlapping 15-grams union to the full 20-token run, the
    // surroundings survive
    assert(out(2L) == "zz yy xx")
    // a unique doc (and one shorter than minLen) is untouched
    assert(out(3L) == "uu vv ww " + (1 to 14).map(i => s"t$i").mkString(" "))
    // exact-duplicate docs: winner intact, loser fully covered -> gone
    assert(out(4L) == fifteen)
    assert(!out.contains(5L))
  }

  test("eventTsUs dispatches on whichever ts type the generator shipped") {
    import graft.sources.Tables
    import spark.implicits._
    val us = 1700000000123456L
    // nanosecond long (legacy nanos-as-long read) truncates
    val ns = Seq((1L, us * 1000 + 789)).toDF("id", "ts")
    assert(ns.select(Tables.eventTsUs(ns)).head.getLong(0) == us)
    // TIMESTAMP converts exactly
    val tsT = ns.select(col("id"), timestamp_micros(expr("ts div 1000")).as("ts"))
    assert(tsT.select(Tables.eventTsUs(tsT)).head.getLong(0) == us)
    // TIMESTAMP_NTZ (what tz-naive parquet micros arrive as) maps
    // through the UTC session zone to the same instant
    val ntz = tsT.select(col("id"), col("ts").cast("timestamp_ntz").as("ts"))
    assert(ntz.select(Tables.eventTsUs(ntz)).head.getLong(0) == us)
    intercept[IllegalArgumentException] {
      val bad = ns.select(col("id"), col("ts").cast("string").as("ts"))
      Tables.eventTsUs(bad)
    }
  }

  test("quality classifier separates reference-like from junk; survives save/load") {
    import spark.implicits._
    val pos = (1 to 40).map(i =>
      (i.toLong, s"the quick fox $i and the lazy dog is of a kind $i"))
      .toDF("doc_id", "text")
    val neg = (1 to 40).map(i =>
      (100L + i, s"zxq$i qqq zzz$i xxy yyx$i vvv www$i qpz"))
      .toDF("doc_id", "text")
    val m = QualityModel.train(pos, neg, numFeatures = 1 << 12, maxIter = 50)
    val held = Seq(
      (900L, "the dog and the fox is of a kind"),
      (901L, "zzz qqq xxy qpz www vvv")).toDF("doc_id", "text")
    val scored = QualityModel.score(held, m).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score"))
      .toMap
    // the shared margin invariant — DegenerateOutputSpec proves this
    // exact predicate rejects constant/NaN/barely-split score tables
    SpecInvariants.qualitySeparation(scored(900L), scored(901L))
    // persisted model scores identically after reopen
    val dir = java.nio.file.Files.createTempDirectory("graft-qm").toString
    QualityModel.save(m, dir)
    val re = QualityModel.score(held, QualityModel.load(spark, dir)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality_score"))
      .toMap
    assert(re == scored)
    // the score column gates straight into the curation pipeline
    val gated = Curation.run(
      QualityModel.score(held, m).where(col("quality_score").isNotNull),
      lang = "en", minTokens = 3,
      extraGates = Seq("low_quality" -> (col("quality_score") > 0.5)))
    assert(gated.report.collect().map(_.getString(0)).nonEmpty)
  }

  test("curation pipeline: extra gates attribute under their own names, in order") {
    val out = Curation.run(docs, extraGates = Seq(
      "too_long" -> (col("n_chars") <= 400),
      "odd_id" -> (col("doc_id") % 2 === 0)))
    val report = out.report.collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(report.values.sum == docs.count())
    // first-failing attribution: a long doc with an odd id counts as
    // too_long (gate order), never odd_id
    val expectLong = TextAnalysis.curate(docs).join(docs, Seq("doc_id"))
      .where(col("n_chars") > 400).count()
    assert(report.get("too_long").isDefined || expectLong == 0)
    val kept = out.kept.select("doc_id", "n_chars").collect()
    assert(kept.forall(r => r.getLong(1) <= 400 && r.getLong(0) % 2 == 0))
    // reserved names refuse
    intercept[IllegalArgumentException] {
      Curation.run(docs, extraGates = Seq("kept" -> lit(true)))
    }
  }

  test("text index: matchStats is exact on a hand-computed corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ti").toString
    val corpus = Seq(
      (1L, "red fox red fox red"),   // tf(red)=3 tf(fox)=2 dl=5
      (2L, "red dog"),               // tf(red)=1 tf(dog)=1 dl=2
      (3L, "blue dog blue")          // tf(blue)=2 tf(dog)=1 dl=3
    ).toDF("doc_id", "text")
    TextIndex.writeTextIndex(corpus, dir)
    val q = Seq((10L, "red blue")).toDF("query_id", "text")
    val out = TextIndex.matchStats(q, dir)
      .collect().map(r => (r.getString(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(out == Map(
      ("red", 1L) -> ((3L, 2L, 5L)),
      ("red", 2L) -> ((1L, 2L, 2L)),
      ("blue", 3L) -> ((2L, 1L, 3L))))
  }

  test("text index: append-grown index is indistinguishable from a rebuild") {
    val a = java.nio.file.Files.createTempDirectory("graft-ti-a").toString
    val b = java.nio.file.Files.createTempDirectory("graft-ti-b").toString
    TextIndex.writeTextIndex(docs, a)
    TextIndex.writeTextIndex(docs.where(col("doc_id") % 2 === 0), b)
    TextIndex.appendToTextIndex(docs.where(col("doc_id") % 2 =!= 0), b)
    val q = docs.where(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextIndex.terms(col("text")), 1, 5)).as("text"))
    def snap(dir: String) = TextIndex.matchStats(q, dir)
      .collect().map(_.toSeq).toSet
    assert(snap(a) == snap(b))
    assert(snap(a).nonEmpty)
    // the sidecar refuses a bare directory and is down mid-append
    val bare = java.nio.file.Files.createTempDirectory("graft-ti-bare").toString
    intercept[IllegalArgumentException] { TextIndex.matchStats(q, bare) }
    intercept[IllegalArgumentException] { TextIndex.appendToTextIndex(docs, bare) }
  }

  test("text index: compaction preserves queries and erases dropped docs exactly") {
    import spark.implicits._
    val grown = java.nio.file.Files.createTempDirectory("graft-ti-c1").toString
    val clean = java.nio.file.Files.createTempDirectory("graft-ti-c2").toString
    TextIndex.writeTextIndex(docs.where(col("doc_id") % 3 === 0), grown)
    TextIndex.appendToTextIndex(docs.where(col("doc_id") % 3 === 1), grown)
    TextIndex.appendToTextIndex(docs.where(col("doc_id") % 3 === 2), grown)
    val drop = docs.where(col("doc_id") % 10 === 0).select("doc_id")
    TextIndex.compactTextIndex(grown, dropDocs = Some(drop))
    // reference: a fresh build over exactly the surviving documents
    TextIndex.writeTextIndex(docs.where(col("doc_id") % 10 =!= 0), clean)
    val q = docs.where(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextIndex.terms(col("text")), 1, 5)).as("text"))
    def snap(dir: String) = TextIndex.matchStats(q, dir)
      .collect().map(_.toSeq).toSet
    assert(snap(grown) == snap(clean))
    assert(snap(grown).nonEmpty)
    // no dropped doc survives anywhere in the compacted index
    val left = spark.read.parquet(s"$grown/postings")
      .join(drop, Seq("doc_id")).count() +
      spark.read.parquet(s"$grown/docstats")
        .join(drop, Seq("doc_id")).count()
    assert(left == 0)
  }

  test("minhash index: compaction with erasure equals a rebuild over survivors") {
    val grown = java.nio.file.Files.createTempDirectory("graft-mh-c1").toString
    val clean = java.nio.file.Files.createTempDirectory("graft-mh-c2").toString
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    Dedup.writeMinhashIndex(corpus.where(col("doc_id") % 5 < 3), grown)
    Dedup.appendToMinhashIndex(corpus.where(col("doc_id") % 5 >= 3), grown)
    val drop = corpus.where(col("doc_id") % 10 === 1).select("doc_id")
    Dedup.compactMinhashIndex(grown, dropDocs = Some(drop))
    val survivors = corpus.where(col("doc_id") % 10 =!= 1)
    Dedup.writeMinhashIndex(survivors, clean)
    val batch = docs.where(col("doc_id") % 5 === 0)
    def matches(dir: String) = Dedup.matchAgainstMinhashIndex(
        batch, survivors, dir, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(matches(grown) == matches(clean))
    assert(matches(grown).nonEmpty)
    // the erased rows are gone from the store, not masked
    assert(spark.read.parquet(grown).join(drop, Seq("doc_id")).count() == 0)
  }

  test("IVF index: compaction with erasure keeps cells bit-stable, drops vectors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-c").toString
    Similarity.writeIvfIndex(emb.where(col("vec_id") % 3 =!= 2), dir,
      dim = 64, nlist = 8)
    Similarity.appendToIvfIndex(emb.where(col("vec_id") % 3 === 2), dir)
    val before = spark.read.parquet(dir)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val drop = emb.where(col("vec_id") % 7 === 0).select("vec_id")
    Similarity.compactIvfIndex(dir, dropVecs = Some(drop))
    val after = spark.read.parquet(dir)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dropped = drop.collect().map(_.getLong(0)).toSet
    // erased ids gone; every survivor keeps its exact cell assignment
    assert(after.keySet.intersect(dropped).isEmpty)
    assert(after == before.view.filterKeys(k => !dropped(k)).toMap)
    // the compacted index still serves queries (and never an erased id)
    val got = Similarity.ivfTopKOverIndex(
        emb.where(col("vec_id") % 101 === 3), dir, k = 3, nprobe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.intersect(dropped).isEmpty)
  }

  test("text index: bm25TopK matches an independent in-memory BM25") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ti-bm").toString
    TextIndex.writeTextIndex(docs, dir)
    val q = docs.where(col("doc_id") % 13 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextIndex.terms(col("text")), 1, 6)).as("text"))
    val got = TextIndex.bm25TopK(q, dir, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // reference: plain Scala BM25 over collected tokens
    val toks = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty).toSeq).toMap
    val n = toks.size.toDouble
    val avgdl = toks.values.map(_.size).sum / n
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    val qs = q.collect().map(r => r.getLong(0) ->
      r.getString(1).split(" ").filter(_.nonEmpty).distinct.toSeq)
    val (k1, b) = (1.2, 0.75)
    qs.foreach { case (qid, qt) =>
      val scores = toks.toSeq.map { case (d, ts) =>
        val dl = ts.size.toDouble
        val s = qt.map { t =>
          val tf = ts.count(_ == t).toDouble
          if (tf == 0) 0.0
          else {
            val df = dfm(t).toDouble
            val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
          }
        }.sum
        (d, s)
      }.filter(_._2 > 0)
      val expect = scores.sortBy { case (d, s) => (-s, d) }.take(5).map(_._1)
      expect.zipWithIndex.foreach { case (d, i) =>
        assert(got.get((qid, i + 1)).contains(d),
          s"query $qid rank ${i + 1}: expected doc $d, got ${got.get((qid, i + 1))}")
      }
    }
  }

  test("data selection: gram coverage stats are exact on a hand corpus") {
    import spark.implicits._
    val raw = Seq((1L, "red fox red"), (2L, "blue")).toDF("doc_id", "text")
    val target = Seq((10L, "red fox jumps")).toDF("doc_id", "text")
    // doc 1 grams: red, fox, red, "red fox", "fox red" (5 instances,
    // 4 distinct); target grams: red, fox, jumps, "red fox", "fox jumps"
    // hits: red(x2), fox, "red fox" -> 4 instances, 3 distinct
    val out = DataSelection.gramCoverageStats(raw, target)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out == Map(
      1L -> ((5L, 4L, 4L, 3L)),
      2L -> ((1L, 0L, 1L, 0L))))
  }

  test("data selection: DSIR weights rank target-like documents on top") {
    // target = the 'dup'-marked documents (the corpus's one distinctive
    // style); raw = everything. The dup docs inside raw must dominate
    // the top of the importance ordering.
    val target = docs.where(col("text").contains("dup"))
    assert(target.count() >= 2)
    val w = DataSelection.importanceWeights(docs, target)
    val dupIds = target.select("doc_id").collect().map(_.getLong(0)).toSet
    val rows = w.collect().map(r => r.getLong(0) -> r.getDouble(1))
    // the separating signal is ~3 gram types out of ~100 instances per
    // doc (the 'dup' unigram + its bigrams), so per-doc ranking is
    // noisy — the shared invariant asserts the aggregate separation
    // plus the top-|dup| distribution check (and explicitly refuses a
    // constant weight table); DegenerateOutputSpec proves it rejects
    // constant/NaN/shuffled weights
    SpecInvariants.dsirSeparation(rows.toSeq, dupIds)
    // resampling is deterministic per seed and biased the same way
    val s1 = DataSelection.resampleByImportance(docs, target, k = 10, seed = 3L)
      .collect().map(_.getLong(0)).toSeq
    val s2 = DataSelection.resampleByImportance(docs, target, k = 10, seed = 3L)
      .collect().map(_.getLong(0)).toSeq
    assert(s1 == s2)
    assert(s1.count(dupIds) >= 3,
      s"sample ${s1.toList} not enriched in dup docs (base rate ~0.5 of 10)")
  }

  test("data selection: LM perplexity separates in-domain from gibberish") {
    import spark.implicits._
    // LM trained on the corpus itself; an in-corpus doc must score far
    // lower perplexity than a doc of never-seen tokens
    val probe = Seq(
      (9001L, docs.orderBy("doc_id").select("text").head.getString(0)),
      (9002L, "zzz yyy xxx www vvv uuu ttt sss rrr qqq ppp ooo")
    ).toDF("doc_id", "text")
    val ppl = DataSelection.perplexity(probe, docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppl.keySet == Set(9001L, 9002L))
    // shared invariant (mutation-audited): finite positive
    // perplexities, in-domain 10x under gibberish
    SpecInvariants.perplexitySeparation(ppl(9001L), ppl(9002L))
    // docs with fewer than two tokens carry no bigram and are omitted
    val short = DataSelection.perplexity(
      Seq((1L, "one")).toDF("doc_id", "text"), docs)
    assert(short.count() == 0)
  }

  test("incremental curation over absorbed state equals the batch pipeline") {
    import spark.implicits._
    val fpDir = java.nio.file.Files.createTempDirectory("graft-inc-fp").toString
    val ixDir = java.nio.file.Files.createTempDirectory("graft-inc-ix").toString
    // round 0: the corpus arrives as the first batch (empty state) —
    // the SAME call bootstraps: within-batch near-dup only, and absorb
    // creates both the fingerprint store and the minhash index
    val inc0 = Curation.runIncremental(docs, fpDir, minTokens = 3,
      nearDup = Some((ixDir, 0.8, docs.limit(0))))
    // round 1: a batch of exact dups, near dups, and novel docs
    // (batch ids strictly above corpus ids, so keep-lowest prefers
    // the corpus in both pipelines)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("text"))   // exact dups
      .unionByName(inc0.kept.where(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" zq")).as("text")))               // near dups
      // (variants derive from KEPT docs: a variant of an already-dropped
      // near-dup loser is the documented incremental/transitive trade
      // and would make the two pipelines legitimately differ)
      .unionByName(Seq(
        (3000001L, "a genuinely novel document about nothing seen before at all"),
        (3000002L, "a genuinely novel document about nothing seen before at all"),
        (3000003L, "the second novel document is entirely different again truly"))
        .toDF("doc_id", "text"))
    val inc1 = Curation.runIncremental(batch, fpDir, minTokens = 3,
      nearDup = Some((ixDir, 0.8, inc0.kept)))
    // reference: one from-scratch run over corpus ∪ batch
    val full = Curation.run(docs.select("doc_id", "text").unionByName(batch),
      minTokens = 3, nearDupThreshold = Some(0.8))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(inc0.kept) ++ ids(inc1.kept) == ids(full.kept))
    // the exact dups and the near dups all died; the two novel texts
    // survive with keep-lowest among the in-batch exact pair
    assert(ids(inc1.kept).contains(3000001L) && ids(inc1.kept).contains(3000003L))
    assert(!ids(inc1.kept).contains(3000002L))
    // absorb happened: a re-arrival of the novel doc is now exact_dup
    val inc2 = Curation.runIncremental(
      Seq((4000001L, "a genuinely novel document about nothing seen before at all"))
        .toDF("doc_id", "text"), fpDir, minTokens = 3)
    assert(inc2.kept.count() == 0)
    assert(inc2.report.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      == Map("exact_dup" -> 1L))
    // torn-commit refusals: state with data but no sidecar (an absorb
    // or index append that died mid-commit) must refuse loudly, never
    // silently bootstrap over the accumulated corpus
    def del(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sessionState.newHadoopConf())
        .delete(path, false)
    }
    del(s"$ixDir/_graft_minhash.properties")
    intercept[IllegalArgumentException] {
      Curation.runIncremental(batch, fpDir, minTokens = 3,
        nearDup = Some((ixDir, 0.8, inc0.kept)), absorb = false)
    }
    del(s"$fpDir/_graft_curation.properties")
    intercept[IllegalArgumentException] {
      Curation.runIncremental(batch, fpDir, minTokens = 3, absorb = false)
    }
  }

  test("incremental curation keeps the stored datasheet tracking the kept corpus") {
    val fpDir = java.nio.file.Files.createTempDirectory("graft-incds-fp").toString
    val dsDir = java.nio.file.Files.createTempDirectory("graft-incds-ds").toString
    val a = docs.where(col("doc_id") % 2 === 0)
    val b = docs.where(col("doc_id") % 2 === 1)
    val inc0 = Curation.runIncremental(a, fpDir,
      datasheet = Some((dsDir, "r0")))
    val inc1 = Curation.runIncremental(b, fpDir,
      datasheet = Some((dsDir, "r1")))
    val keptAll = inc0.kept.unionByName(inc1.kept)
    def exact(df: org.apache.spark.sql.DataFrame) =
      df.select(col("source"), col("n_docs"), col("n_tokens"),
          col("total_chars"), col("short_docs"), col("min_chars"),
          col("max_chars"), col("n_langs"))
        .collect().map(r => r.getString(0) -> (1 to 7).map(r.getLong(_)))
        .toMap
    assert(exact(TextAnalysis.datasheetReport(spark, dsDir)) ==
      exact(TextAnalysis.corpusReport(keptAll)))
    assert(TextAnalysis.datasheetBatches(spark, dsDir)
      .collect().map(_.getString(0)).toSet == Set("r0", "r1"))
  }

  test("snapshotDiff labels every id added/removed/changed/unchanged exactly") {
    val oldSnap = docs.where(col("doc_id") % 7 =!= 0)
    val newSnap = docs.where(col("doc_id") % 5 =!= 0)
      .withColumn("text", when(col("doc_id") % 11 === 0,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
    val out = Curation.snapshotDiff(oldSnap, newSnap)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.keySet == ids.filter(i => i % 7 != 0 || i % 5 != 0))
    ids.foreach { i =>
      val inOld = i % 7 != 0
      val inNew = i % 5 != 0
      val expect =
        if (inOld && !inNew) Some("removed")
        else if (!inOld && inNew) Some("added")
        else if (inOld && inNew) Some(if (i % 11 == 0) "changed" else "unchanged")
        else None
      assert(out.get(i) == expect, s"doc $i")
    }
    // multi-column fingerprints hash per column first, so ("ab","c")
    // and ("a","bc") can't alias across the boundary, and a NULL stays
    // distinct from the empty string AND from the value moving columns
    import spark.implicits._
    val l = Seq((1L, "ab", "c")).toDF("doc_id", "x", "y")
    val r = Seq((1L, "a", "bc")).toDF("doc_id", "x", "y")
    val st = Curation.snapshotDiff(l, r, contentCols = Seq("x", "y"))
      .select("status").collect().map(_.getString(0)).toSeq
    assert(st == Seq("changed"))
    val ln = Seq((1L, Some("a"), Option.empty[String])).toDF("doc_id", "x", "y")
    val rn = Seq((1L, Option.empty[String], Some("a"))).toDF("doc_id", "x", "y")
    val stn = Curation.snapshotDiff(ln, rn, contentCols = Seq("x", "y"))
      .select("status").collect().map(_.getString(0)).toSeq
    assert(stn == Seq("changed"))
    val le = Seq((1L, Some(""))).toDF("doc_id", "text")
    val re = Seq((1L, Option.empty[String])).toDF("doc_id", "text")
    val ste = Curation.snapshotDiff(le, re)
      .select("status").collect().map(_.getString(0)).toSeq
    assert(ste == Seq("changed"))
  }

  test("reciprocal rank fusion: known-answer scores, absent runs contribute zero, weights scale") {
    import spark.implicits._
    // query 1: doc 10 is rank 1 in both runs; doc 20 only in run A
    // (rank 2); doc 30 only in run B (rank 2). k0 = 60.
    val runA = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "doc_id", "rank")
    val runB = Seq((1L, 10L, 1), (1L, 30L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Retrieval.reciprocalRankFusion(Seq(runA, runB), k = 10)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    assert(out.length == 3)
    assert(out(0) == ((1, 10L, 1.0 / 61 + 1.0 / 61, 2)))
    // docs 20 and 30 tie on score 1/62 — doc_id breaks the tie
    assert(out(1) == ((2, 20L, 1.0 / 62, 1)))
    assert(out(2) == ((3, 30L, 1.0 / 62, 1)))
    // weights: double run B's vote and doc 30 overtakes doc 20
    val wOut = Retrieval.reciprocalRankFusion(Seq(runA, runB), k = 10,
        weights = Seq(1.0, 2.0))
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(wOut.map(_._2).toSeq == Seq(10L, 30L, 20L))
    // k truncates the fused list, not the inputs
    assert(Retrieval.reciprocalRankFusion(Seq(runA, runB), k = 1).count() == 1)
  }

  test("topGrams counts occurrences (not distinct) and breaks boundary ties on the gram") {
    import spark.implicits._
    // doc 1 repeats "a b" internally (occurrences, not distinct sets);
    // the 1-count tail ties and must cut deterministically on gram asc
    val d = Seq((1L, "a b a b"), (2L, "a b c d"), (3L, "z z z"))
      .toDF("doc_id", "text")
    val top = TextAnalysis.topGrams(d, n = 2, k = 4)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("a b", 3L), ("z z", 2L), ("b a", 1L), ("b c", 1L)))
    // a doc shorter than n contributes nothing (and doesn't error)
    val short = TextAnalysis.topGrams(Seq((1L, "one")).toDF("doc_id", "text"),
      n = 2, k = 5)
    assert(short.count() == 0)
  }

  test("ppsSample: hand-checked marks, heavy-row multiplicity, and a single-window differential replay") {
    import spark.implicits._
    // weights 5,1,1,1 in hex order a,b,c,d with k=4: total 8, step 2,
    // marks at 0,2,4,6 → intervals [0,5) holds 3 marks, [5,6) none,
    // [6,7) holds 6, [7,8) none. bucketChars=1 puts every row in its
    // own bucket, so the broadcast offset table is doing real work.
    val tiny = Seq(("a1", 10L, 5L), ("b2", 11L, 1L), ("c3", 12L, 1L),
      ("d4", 13L, 1L)).toDF("hex", "id", "w")
    val out = Sampling.ppsSample(tiny, col("hex"), col("w"), k = 4,
        bucketChars = 1)
      .select("id", "pps_hits")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out == Map(10L -> 3, 12L -> 1))
    // differential: the bucketed prefix sum must equal a straight
    // driver replay of the one-line definition over real docs
    val keyed = Sampling.shuffleKey(
      docs.select(col("doc_id"),
        size(TextIndex.terms(col("text"))).cast("long").as("w")),
      col("doc_id"), "ppstest")
    val got = Sampling.ppsSample(keyed, col("shuffle_key"), col("w"),
        k = 37, offset = 5)
      .select("doc_id", "pps_hits")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val rows = keyed.select("shuffle_key", "doc_id", "w")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = rows.map(_._3).sum
    val step = math.max(1L, total / 37)
    val off = 5L % step
    def marksBelow(x: Long) = (x + step - 1 - off) / step
    var cum = 0L
    val expect = rows.flatMap { case (_, id, w) =>
      val hits = (marksBelow(cum + w) - marksBelow(cum)).toInt
      cum += w
      if (hits >= 1) Some(id -> hits) else None
    }.toMap
    assert(got == expect)
    // exact size identity: total multiplicity = number of marks laid
    assert(got.values.map(_.toLong).sum == marksBelow(total))
    // expected-size calibration: ~k rows drawn (weights ~uniform here)
    assert(math.abs(got.size - 37) <= 5, s"drew ${got.size} for k=37")
  }

  /** Driver replay of [[Sampling.weightedSample]]'s A-ES race key:
    * same md5-derived uniform, same JVM `math.log` (Spark's Log
    * expression calls the same libm), so the comparison is exact. */
  private def aesKeyReplay(seed: String, id: Long, w: Double): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest((seed + id.toString).getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.substring(0, 13)
    val u = (java.lang.Long.parseLong(hex, 16).toDouble + 1d) / math.pow(16d, 13d)
    -math.log(u) / w
  }

  test("weightedSample: equals the driver A-ES replay; k >= n keeps all; w <= 0 excluded") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("source"),
      col("n_chars").cast("double").as("w"))
    val got = Sampling.weightedSample(base, col("doc_id"), col("w"),
        k = 25, seed = "aes1")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = base.select("doc_id", "w").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expect = all.map { case (id, w) => (aesKeyReplay("aes1", id, w), id) }
      .sortBy(_._1).take(25).map(_._2).toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
    // k >= n: the whole positive-weight population, exactly once each
    val full = Sampling.weightedSample(base, col("doc_id"), col("w"),
      k = 100000, seed = "aes1").select("doc_id").collect().map(_.getLong(0))
    assert(full.length == all.length && full.toSet.size == full.length)
    // zero/negative/null/NaN weights never win a draw (NaN needs its
    // own check: Spark's NaN-is-largest ordering passes `w > 0`)
    val mixed = Seq((1L, 5.0), (2L, 0.0), (3L, -1.0), (4L, 2.0),
      (6L, Double.NaN)).toDF("doc_id", "w")
      .union(Seq((5L, Option.empty[Double])).toDF("doc_id", "w"))
    val kept = Sampling.weightedSample(mixed, col("doc_id"), col("w"),
      k = 10, seed = "s").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L))
    // a caller's own _ws_key column survives untouched
    val withKey = Seq((1L, 5.0, "mine"), (2L, 2.0, "yours"))
      .toDF("doc_id", "w", "_ws_key0")
    val keyKept = Sampling.weightedSample(withKey, col("doc_id"), col("w"),
      k = 2, seed = "s").select("_ws_key0").collect().map(_.getString(0)).toSet
    assert(keyKept == Set("mine", "yours"))
    // a dominant weight is (deterministically, this seed) in the draw
    val skewed = (0L until 200L).map(i => (i, if (i == 77L) 1e9 else 1.0))
      .toDF("doc_id", "w")
    val picked = Sampling.weightedSample(skewed, col("doc_id"), col("w"),
      k = 5, seed = "aes2").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(picked.contains(77L), picked.toString)
  }

  test("weightedSampleBy: per-stratum A-ES replay; WindowGroupLimit in the plan") {
    import spark.implicits._
    val base = docs.select(col("doc_id"), col("source"),
      col("n_chars").cast("double").as("w"))
    val out = Sampling.weightedSampleBy(base, col("source"), col("doc_id"),
      col("w"), kPerStratum = 7, seed = "aesby")
    val got = out.select("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val expect = base.select("source", "doc_id", "w").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.flatMap { case (src, rows) =>
        rows.map { case (_, id, w) => (aesKeyReplay("aesby", id, w), id) }
          .sortBy(_._1).take(7).map(src -> _._2)
      }.toSet
    assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("ppsSampleBy: each stratum draws on its own line — per-stratum differential replay") {
    import spark.implicits._
    val keyed = Sampling.shuffleKey(
      docs.select(col("doc_id"), col("source"),
        size(TextIndex.terms(col("text"))).cast("long").as("w")),
      col("doc_id"), "ppsbytest")
    val got = Sampling.ppsSampleBy(keyed, col("source"),
        col("shuffle_key"), col("w"), kPerStratum = 11, offset = 3)
      .select("doc_id", "pps_hits")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val rows = keyed.select("source", "shuffle_key", "doc_id", "w")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val expect = rows.groupBy(_._1).toSeq.flatMap { case (_, srows) =>
      val ordered = srows.sortBy(_._2)
      val total = ordered.map(_._4).sum
      val step = math.max(1L, total / 11)
      val off = 3L % step
      def marksBelow(x: Long) = (x + step - 1 - off) / step
      var cum = 0L
      ordered.toSeq.flatMap { case (_, _, id, w) =>
        val hits = (marksBelow(cum + w) - marksBelow(cum)).toInt
        cum += w
        if (hits >= 1) Some(id -> hits) else None
      }
    }.toMap
    assert(got == expect)
    // every stratum drew ~kPerStratum rows (weights near-uniform here)
    val bySrc = rows.filter(r => got.contains(r._3)).groupBy(_._1)
      .map { case (s, rs) => s -> rs.map(r => got(r._3).toLong).sum }
    bySrc.foreach { case (s, drawn) =>
      assert(math.abs(drawn - 11) <= 3, s"source $s drew $drawn for k=11")
    }
  }

  test("byteStats: hand-checked histogram stats and entropy on known payloads") {
    import spark.implicits._
    // bytes 97,97,98,0: sum 292, one zero byte, 3 distinct,
    // distribution {a:1/2, b:1/4, nul:1/4} → H = 1.5 bits
    val media = Seq((1L, Array[Byte](97, 97, 98, 0)),
        (2L, Array.empty[Byte]),
        (3L, Array.fill[Byte](8)(0)))
      .toDF("doc_id", "payload")
    val out = Multimodal.byteStats(media)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(out(1L) == ((4L, 292L, 1L, 3L, 1.5)))
    assert(out(2L) == ((0L, 0L, 0L, 0L, 0.0)))
    // all-zero payload: degenerate distribution, zero entropy — the
    // corrupt-file signature this screen exists for
    assert(out(3L) == ((8L, 0L, 8L, 1L, 0.0)))
  }

  test("retrieval evaluate: exact judged/retrieved/hits accounting, never-retrieved queries kept") {
    import spark.implicits._
    val run = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 11))
      .toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 20L), (1L, 30L), (1L, 99L), (2L, 50L))
      .toDF("query_id", "doc_id")
    val out = Retrieval.evaluate(run, qrels, k = 10)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    // q1: 3 judged, 2 retrieved at any rank (20@2, 30@11), 1 within
    // k=10, first relevant at rank 2; q2 never retrieved anything
    assert(out == Map(
      1L -> ((3L, 2L, 1L, Some(2L))),
      2L -> ((1L, 0L, 0L, None))))
  }

  test("evaluateGraded: nDCG matches a driver-side first-principles model") {
    import spark.implicits._
    val k = 5
    // run: q1 ranks docs 10,20,30,40; q2 ranks 50 only; q3 retrieves
    // nothing judged. qrels: graded 0..3, incl. a doc outside the run,
    // a zero grade, a conflicting duplicate judgment (resolves to max),
    // and q4 judged all-zero (ndcg undefined -> null)
    val run = Seq((1L, 10L, 1), (1L, 20L, 2), (1L, 30L, 3), (1L, 40L, 9),
      (2L, 50L, 4), (3L, 60L, 1)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 10L, 3L), (1L, 20L, 0L), (1L, 30L, 1L),
      (1L, 40L, 2L), (1L, 99L, 2L), (2L, 50L, 1L), (2L, 51L, 3L),
      (2L, 50L, 0L), // duplicate judgment, max wins -> grade 1
      (4L, 70L, 0L)).toDF("query_id", "doc_id", "grade")
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def disc(r: Int) = 1.0 / log2(r + 1.0)
    // driver model, positions in order
    def dcgOf(byRank: Map[Int, Long]) =
      (1 to k).foldLeft(0.0)((a, r) => a + byRank.getOrElse(r, 0L) * disc(r))
    def idcgOf(grades: Seq[Long]) =
      grades.sortBy(-_).take(k).zipWithIndex
        .foldLeft(0.0) { case (a, (g, i)) => a + g * disc(i + 1) }
    val expect = Map(
      1L -> (5L, 3L, dcgOf(Map(1 -> 3L, 2 -> 0L, 3 -> 1L)),
        idcgOf(Seq(3, 0, 1, 2, 2)), true),
      2L -> (2L, 1L, dcgOf(Map(4 -> 1L)), idcgOf(Seq(1, 3)), true),
      4L -> (1L, 0L, 0.0, 0.0, false))
    val got = Retrieval.evaluateGraded(run, qrels, k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          !r.isNullAt(5))).toMap
    assert(got == expect)
    // ndcg value itself where defined
    val n1 = Retrieval.evaluateGraded(run, qrels, k)
      .where(col("query_id") === 1L).collect().head.getDouble(5)
    assert(n1 == dcgOf(Map(1 -> 3L, 2 -> 0L, 3 -> 1L)) / idcgOf(Seq(3, 0, 1, 2, 2)))
  }

  test("evaluateGraded: a null grade drops instead of poisoning the gain fold") {
    import spark.implicits._
    val run = Seq((1L, 10L, 1)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 10L, Some(2L)), (1L, 11L, None))
      .toDF("query_id", "doc_id", "grade")
    val r = Retrieval.evaluateGraded(run, qrels, k = 5).collect().head
    assert(r.getLong(1) == 1L)          // n_rel excludes the null judgment
    assert(!r.getDouble(3).isNaN && r.getDouble(3) > 0) // dcg intact
  }

  test("compression ratio: repetition compresses far below prose, empty is null, gate-composable") {
    import spark.implicits._
    val rep = Seq.fill(200)("spam").mkString(" ")
    val prose = (1 to 120).map(i => s"w${i * 7919 % 997}x$i").mkString(" ")
    val df = Seq((1L, rep), (2L, prose), (3L, "")).toDF("doc_id", "text")
      .withColumn("cr", TextAnalysis.compressionRatio(col("text")))
    val got = df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got(1L).get < 0.1, s"repetitive ratio ${got(1L)}")
    assert(got(2L).get > 0.4, s"prose ratio ${got(2L)}")
    assert(got(3L).isEmpty)
    // deterministic across evaluations
    val again = df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(again == got)
    // and it composes as a keep-predicate like any per-row signal
    val kept = df.where(TextAnalysis.compressionRatio(col("text")) > 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
  }

  test("evaluateAveragePrecision: exact rational AP matches a driver model") {
    import spark.implicits._
    val k = 10
    val run = Seq((1L, 10L, 1), (1L, 20L, 3), (1L, 30L, 4), (1L, 40L, 12),
      (2L, 50L, 2), (3L, 60L, 1)).toDF("query_id", "doc_id", "rank")
    val qrels = Seq((1L, 10L), (1L, 30L), (1L, 40L), (1L, 99L),
      (2L, 50L), (4L, 70L)).toDF("query_id", "doc_id")
    val got = Retrieval.evaluateAveragePrecision(run, qrels, k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // driver model: AP = (Σ_{i-th relevant at rank r} i/r) / min(n_rel, k)
    def ap(relRanks: Seq[Long], nRel: Int): Double = {
      val s = relRanks.sorted.zipWithIndex
        .map { case (r, i) => (i + 1).toDouble / r }.sum
      s / math.min(nRel, k)
    }
    assert(got.keySet == Set(1L, 2L, 4L))
    // q1: relevant at ranks 1, 4 (doc 40@12 beyond k; 99 unretrieved)
    assert(got(1L)._1 == 4L)
    assert(got(1L)._2.toDouble / got(1L)._3 == ap(Seq(1L, 4L), 4))
    // q2: one judged doc at rank 2 -> AP = 1/2
    assert(got(2L)._2.toDouble / got(2L)._3 == 0.5)
    // q4: nothing retrieved -> 0/den
    assert(got(4L)._2 == 0L && got(4L)._3 > 0L)
    // exactness: lcm(1..10) = 2520 divides every denominator term
    assert(got(1L)._3 == 2520L * 4)
  }

  test("hybridTopK equals manual BM25+IVF composition and keeps the strongest single-run vote at the head") {
    import spark.implicits._
    val tDir = java.nio.file.Files.createTempDirectory("graft-hyb-text").toString
    val vDir = java.nio.file.Files.createTempDirectory("graft-hyb-ivf").toString
    TextIndex.writeTextIndex(docs, tDir)
    Similarity.writeIvfIndex(emb, vDir, dim = 64)
    // queries: text + embedding of every 100th doc, negative ids so the
    // dense side's self-exclusion cannot hide the source doc
    val queries = docs.where(col("doc_id") % 100 === 0)
      .join(emb, col("doc_id") === col("vec_id"))
      .select((-col("doc_id") - 1).as("query_id"), col("doc_id").as("src"),
        col("text"), col("embedding"))
    val fused = Retrieval.hybridTopK(
      queries.select("query_id", "text", "embedding"), tDir, vDir, k = 5)
    // identity: manual composition with the same per-run parameters
    val lex = TextIndex.bm25TopK(queries.select("query_id", "text"), tDir, k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val dense = Similarity.ivfTopKOverIndex(
        queries.select(col("query_id").as("vec_id"), col("embedding")), vDir, k = 10)
      .select(col("qid").as("query_id"), col("vec_id").as("doc_id"), col("rank"))
    val manual = Retrieval.reciprocalRankFusion(Seq(lex, dense), k = 5)
    assert(fused.exceptAll(manual).isEmpty && manual.exceptAll(fused).isEmpty)
    // the dense side sees the query's own embedding verbatim, so the
    // source doc is its exact-cosine rank-1 (BM25 deliberately does
    // NOT rank the source first here: a full-document query over this
    // shared-vocabulary corpus rewards SHORT docs — correct length
    // normalization, and exactly why fusion wants the dense vote)
    val srcs = queries.select("query_id", "src")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val d1 = dense.where(col("rank") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // fusion keeps the strongest single-run vote near the head: a
    // rank-1 doc scores 1/61, beatable only by both-run agreement
    // (>= 2/70) or the rank-1 of the other run — so the source lands
    // in the fused top-2 on these (empirically disjoint) runs. The
    // shared invariant (mutation-audited) also pins the dense run's
    // rank-1 to the planted source and the rank set to exactly 1..k.
    val fusedRows = fused.select("query_id", "rank", "doc_id", "n_runs")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .toSeq
    SpecInvariants.fusionHead(fusedRows, d1, srcs, k = 5)
    // fusion consumes RANKS only, so the int8-quantized index is a
    // legitimate dense run (the exact-cosine consumers refuse it)
    val qDir = java.nio.file.Files.createTempDirectory("graft-hyb-q").toString
    Similarity.writeIvfIndex(emb, qDir, dim = 64, quantize = true)
    val fusedQ = Retrieval.hybridTopK(
      queries.select("query_id", "text", "embedding"), tDir, qDir, k = 5)
    assert(fusedQ.groupBy("query_id").count()
      .collect().forall(_.getLong(1) == 5L))
  }
}
