package graft

import graft.model.{CellOp, CfSpec, OpType, TableDesc}
import graft.operators.{Resolve, ScanFilter, ScanQuery, TypedValue}
import graft.sources.{CellLogStore, Tables}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the scale claims are plan properties, so they
  * are asserted as plan properties — filters reach the parquet scan,
  * the resolve fast path has no window sort, small-side joins broadcast.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("relational range predicate is pushed to the parquet scan") {
    val df = SparkEntry.queries("q_p1_scan_projection")(spark, sfDir)
    val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(scan.contains("PushedFilters") &&
      scan.contains("GreaterThanOrEqual(l_orderkey,100)"), scan)
    // column pruning: only the two projected columns are read
    assert(scan.contains("ReadSchema") && !scan.contains("l_shipdate"), scan)
  }

  test("row-range scan over a stored cell log pushes key bounds to parquet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-log").toString
    val ops = (0 until 100).map(i =>
      CellOp(f"r$i%03d", "cf", "q", 1L, OpType.Value, s"v$i".getBytes, i.toLong))
    CellLogStore.append(ops.toDF(), dir)
    val scan = ScanQuery(CellLogStore.source(spark, dir).log,
        opsPresent = Some(Set(OpType.Value)))
      .withStart("r010").withStop("r020")
      .run()
    val leaves = scan.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(leaves.contains("GreaterThanOrEqual(row_key,r010)") &&
      leaves.contains("LessThan(row_key,r020)"), leaves)
  }

  test("LG-projected scan carries partition filters (directories pruned)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-lg").toString
    val desc = TableDesc(lgs = Map("a" -> "lga", "b" -> "lgb"))
    val t = Graft.createTable(spark, dir, desc, Some(Set(OpType.Value)))
    t.put((0 until 50).flatMap(i => Seq(
      CellOp(f"r$i%03d", "a", "q", 1L, OpType.Value, "x".getBytes, i * 2L),
      CellOp(f"r$i%03d", "b", "q", 1L, OpType.Value, "y".getBytes, i * 2L + 1)))
      .toDF())
    val scan = t.scan.addColumnFamily("a").run()
    val leaves = scan.queryExecution.executedPlan.collectLeaves().mkString("\n")
    // the lg IN (...) predicate is a PARTITION filter (file-listing-time
    // pruning), not a pushed data filter
    assert(leaves.contains("PartitionFilters") && leaves.contains("lg#"), leaves)
    assert(scan.count() == 50)
  }

  test("resolve fast path (max_versions=1, no atomics) plans without Window") {
    import spark.implicits._
    val log = Seq(CellOp("r", "cf", "q", 1, OpType.Value, "v".getBytes, 1)).toDF()
    val plan = planOf(Resolve.resolve(log, opsPresent = Some(Set(OpType.Value))))
    assert(!plan.contains("Window"), plan)
    // max_by over a binary-carrying struct plans as SortAggregate; the
    // scale property that matters is the partial (map-side) combine
    assert(plan.contains("partial_max_by"), plan)
  }

  test("uncapped version resolve plans without Window or aggregation") {
    import spark.implicits._
    val log = Seq(CellOp("r", "cf", "q", 1, OpType.Value, "v".getBytes, 1)).toDF()
    val plan = planOf(Resolve.resolve(log,
      TableDesc(graft.model.CfSpec(maxVersions = Int.MaxValue)),
      opsPresent = Some(Set(OpType.Value))))
    assert(!plan.contains("Window") && !plan.contains("Aggregate"), plan)
  }

  test("post-resolve row-key filter pushes through windows/aggregates to parquet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-get").toString
    val ops = (0 until 100).map(i =>
      CellOp(f"r$i%03d", "cf", "q", 1L, OpType.Value, s"v$i".getBytes, i.toLong))
    CellLogStore.append(ops.toDF(), dir)
    // GraftTable.get filters AFTER resolve; Catalyst must push the
    // row_key predicate through the resolve aggregation into the scan
    val got = Graft.openTable(spark, dir).get("r042")
    val leaves = got.queryExecution.executedPlan.collectLeaves().mkString("\n")
    assert(leaves.contains("EqualTo(row_key,r042)"), leaves)
    assert(got.count() == 1)
  }

  test("batch get broadcasts the key list") {
    val df = SparkEntry.queries("q_s5_batch_get")(spark, sfDir)
    assert(planOf(df).contains("BroadcastHashJoin"), planOf(df))
  }

  test("full resolve pipeline shuffles once on row_key for all windows") {
    import spark.implicits._
    val log = (0 until 50).map(i =>
      CellOp(s"r${i % 5}", "cf", s"q${i % 3}", i.toLong,
        if (i % 10 == 0) OpType.DelRow
        else if (i % 7 == 0) OpType.DelQualifiers
        else OpType.Value,
        if (i % 10 == 0 || i % 7 == 0) null else s"v$i".getBytes, i.toLong)).toDF()
    val plan = planOf(Resolve.resolve(log, TableDesc(graft.model.CfSpec(maxVersions = 2)),
      opsPresent = Some(Set(OpType.Value, OpType.DelRow, OpType.DelQualifiers)),
      // a delete count past the join threshold takes the window
      deleteCountHint = Some(100001L)))
    // one exchange for the local relation input: the row_key hash
    // partitioning satisfies every finer-keyed window downstream
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  test("sparse-delete join strategy broadcasts the tombstones") {
    import spark.implicits._
    val log = ((0 until 500).map(i =>
      CellOp(s"r${i % 50}", "cf", s"q${i % 3}", i.toLong, OpType.Value,
        s"v$i".getBytes, i.toLong)) :+
      CellOp("r1", "cf", "", 1000, OpType.DelRow, null, 1000L)).toDF()
    val plan = planOf(Resolve.resolve(log,
      opsPresent = Some(Set(OpType.Value, OpType.DelRow))))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan)
  }

  test("bucketed table with declared deletes: gets plan one pruned scan, no exchange") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-bkt-del").toString
    val t = Graft.createTable(spark, dir, TableDesc(buckets = 4),
      ops = Some(Set(OpType.Value, OpType.DelRow, OpType.DelQualifiers)))
    t.put((0 until 100).flatMap(i => Seq(
      CellOp(f"r$i%03d", "cf", "q0", 1L, OpType.Value, s"a$i".getBytes, i * 2L),
      CellOp(f"r$i%03d", "cf", "q1", 1L, OpType.Value, s"b$i".getBytes, i * 2L + 1)))
      .toDF())
    t.put(Seq(
      CellOp("r007", "", "", 2L, OpType.DelRow, null, 300L),
      CellOp("r042", "cf", "q0", 2L, OpType.DelQualifiers, null, 301L)).toDF())

    // the bucketed scan is already clustered on row_key, so resolve
    // drops tombstoned cells in the ordered window: no hash exchange,
    // no BroadcastExchange, one scan pruned to the key's bucket
    val gets = Seq(
      "get" -> t.get("r042"),
      "snapshot get" -> t.snapshot(299L).where(col("row_key") === "r042"))
    gets.foreach { case (what, df) =>
      val plan = planOf(df)
      assert(!plan.contains("Exchange"), s"$what:\n$plan")
      assert(!plan.contains("BroadcastExchange"), s"$what:\n$plan")
      assert("FileScan".r.findAllIn(plan).size == 1, s"$what:\n$plan")
      assert(plan.contains("SelectedBucketsCount: 1 out of"), s"$what:\n$plan")
    }
    def quals(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.getAs[String]("qualifier")).toSet
    assert(quals(t.get("r042")) == Set("q1"))
    assert(quals(t.snapshot(299L).where(col("row_key") === "r042")) ==
      Set("q0", "q1"))
    assert(t.get("r007").count() == 0)

    val range = t.scan.withStart("r000").withStop("r010").run()
    val rplan = planOf(range)
    assert(!rplan.contains("BroadcastExchange"), rplan)
    // r007 is row-deleted: 9 rows x 2 cells
    assert(range.count() == 18)
  }

  test("KV-TTL resolve plans as hash aggregation with map-side combine") {
    val plan = planOf(graft.operators.KvStore.resolve(
      graft.sources.CellLogs.kvTtlLog(spark, sfDir), nowUs = 1700000050000000L))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_max_by"), plan)
  }

  test("curate gates evaluate in the scan; dedup keep is the only exchange") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.TextAnalysis.curate(docs))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
    assert(!plan.contains("Window"), plan)
  }

  test("pure-counter fold plans as a hash-aggregate sum: no collect_list, no Window") {
    // an Add-only log folds as sum() with a map-side partial — no history
    // buffering (the collect_list fold would OOM a hot counter column)
    val plan = planOf(SparkEntry.queries("q_r4_counter_fold")(spark, sfDir))
    assert(!plan.contains("collect_list"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("seeded counter fold (VALUE+ADD) plans without collect_list") {
    import spark.implicits._
    val log = Seq(
      CellOp("r", "cf", "q", 1, OpType.Value,
        graft.functions.Codecs.encodeBE64(7L), 1),
      CellOp("r", "cf", "q", 2, OpType.Add,
        graft.functions.Codecs.encodeBE64(3L), 2)).toDF()
    val plan = planOf(Resolve.resolve(log,
      opsPresent = Some(Set(OpType.Value, OpType.Add))))
    assert(!plan.contains("collect_list"), plan)
  }

  test("decontaminate broadcasts the benchmark grams; corpus grams never hash-shuffle") {
    val docs = Tables.load(spark, sfDir, "documents")
    val df = graft.operators.TextAnalysis.decontaminate(
      docs, docs.where(col("doc_id") % 50 === 0))
    val plan = planOf(df)
    // the contamination probe must be a broadcast join against the
    // (small) benchmark gram set, and the final anti-join broadcasts too
    assert("BroadcastHashJoin \\[s#".r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("LeftAnti"), plan)
    // both hash exchanges move BOUNDED sets — the benchmark gram distinct
    // and the contaminated-id distinct (doc count); the corpus gram
    // stream itself flows map-side through the broadcast probe
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 hash shuffles, got $exchanges:\n$plan")
  }

  test("sequence packing plans one window shuffle on (stratum, sub-stratum)") {
    val docs = Tables.load(spark, sfDir, "documents")
    val df = graft.operators.Sampling.packSequences(
      docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).as("n_tokens")),
      col("n_tokens"), budget = 512,
      stratum = col("source"), order = col("doc_id"),
      subStratum = Some(col("doc_id") % 8))
    val plan = planOf(df)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges:\n$plan")
  }

  test("token-quota mixture: corpus window is bucketed, offsets broadcast") {
    val df = SparkEntry.queries("q_x_sample_mixture")(spark, sfDir)
    val plan = planOf(df)
    // the corpus-sized cumulative sum must partition by the hex-prefix
    // bucket — a window on the stratum alone is the |strata|-task trap
    // the _mix_o order column pins this to the CORPUS window — the tiny
    // offsets window (ordered by _mix_b) would otherwise also match
    assert(("windowspecdefinition\\(_mix_s#\\d+, _mix_snull#\\d+, " +
      "_mix_b#\\d+, _mix_o#\\d+").r.findFirstIn(plan).isDefined, plan)
    // the per-bucket offsets join back as a broadcast (tiny totals table)
    assert(plan.contains("BroadcastExchange"), plan)
    val windows = "Window ".r.findAllIn(plan).size
    assert(windows == 2, s"expected 2 windows (local cum + tiny offsets):\n$plan")
  }

  test("keep-best groups: argmax is a partial hash agg, no window") {
    val docs = Tables.load(spark, sfDir, "documents")
    val pairs = docs.select(col("doc_id").as("id_a"),
      (col("doc_id") + 1).as("id_b")).limit(10)
    val plan = planOf(graft.operators.Dedup.keepBestPerGroup(
      docs, pairs, col("n_chars")))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_max"), plan)
  }

  test("corpus report: one aggregation pass, partial combine, no window") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.TextAnalysis.corpusReport(docs))
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("semantic decontamination: bench broadcasts, corpus never shuffles") {
    val df = SparkEntry.queries("q_x_decontaminate_semantic")(spark, sfDir)
    val plan = planOf(df)
    // the anti-join is the intended nested-loop against the broadcast
    // benchmark matrix; the corpus side must see NO hash exchange
    assert(plan.contains("BroadcastNestedLoopJoin") &&
      plan.contains("LeftAnti"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("incremental dedup: candidates materialize once, no cartesian") {
    val df = SparkEntry.queries("q_x_dedup_incremental")(spark, sfDir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the candidate frame feeds three consumers (two id restrictions
    // for the verify shingling + the Jaccard join); column pruning
    // specializes each consumer's subplan so ReuseExchange cannot fire
    // — the frame must be MATERIALIZED (each consumer scans the
    // checkpointed RDD) or the signature aggregations run three times
    assert("ExistingRDD".r.findAllIn(plan).size >= 3,
      s"candidates recompute per consumer:\n$plan")
    // ...and the expensive signature aggregation itself appears only
    // twice in the whole plan: once per SIDE, never per consumer
    val sigAggs = "partial_min\\(xxhash64".r.findAllIn(plan).size
    assert(sigAggs <= 2, s"signature aggregation planned $sigAggs times:\n$plan")
  }

  test("semantic dedup pairs: cell equi-join, no cartesian product") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val plan = planOf(graft.operators.Dedup.semanticNearDuplicates(
      emb, threshold = 0.5, dim = 64, nlist = 4, nprobe = 2, iters = 1))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("repetition signals aggregate with map-side partial combine") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.TextAnalysis.repetitionTable(docs))
    // exploded gram counting must partially aggregate before the
    // exchange — shuffling raw exploded grams would move the whole
    // token stream of the corpus
    assert(plan.contains("partial_count"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("secondary-index lookup pushes the prefix range into the index scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-ix-base").toString
    val ixDir = Files.createTempDirectory("plan-ix").toString
    val t = Graft.openTable(spark, dir)
    t.put((0 until 50).map(i =>
      CellOp(f"r$i%03d", "c", "seg", 1L, OpType.Value,
        s"v${i % 5}".getBytes, i.toLong)))
    val ix = t.buildIndex(ixDir, "c", "seg")
    val got = t.lookupViaIndex(ix, "c", "seg", "v3")
    val leaves = got.queryExecution.executedPlan.collectLeaves().mkString("\n")
    // the index side must scan only the value's contiguous key range
    // (the rendered PushedFilters list truncates, so match the pieces)
    assert(leaves.contains("EqualTo(cf,i)") &&
      leaves.contains("GreaterThanOrEqu"), leaves)
    assert(got.count() == 10)
  }

  test("TPC-H Q5 shape: dimension chain broadcasts, no cartesian") {
    val plan = planOf(SparkEntry.queries("q_agg_tpch_q5")(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(broadcasts >= 2, s"expected >=2 broadcast joins, got $broadcasts:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("LSH embedding near-dup plans with no cartesian product") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val plan = planOf(graft.operators.Dedup.embeddingNearDuplicatesLsh(
      emb, threshold = 0.5, dim = 64))
    // the candidate step must be a (table, bucket) equi-join; the exact
    // all-pairs baseline would show CartesianProduct / nested-loop here
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("semantic index match: cell equi-join, ONE index scan, candidates never re-shuffle") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("plan-ivfix").toString
    graft.operators.Similarity.writeIvfIndex(
      emb.where(col("vec_id") % 10 =!= 7), dir, dim = 64, nlist = 16)
    val df = graft.operators.Dedup.semanticMatchesAgainstIndex(
      emb.where(col("vec_id") % 10 === 7), dir, threshold = 0.5, nprobe = 4)
    val plan = planOf(df)
    // candidates are a cell equi-join — never a cross product
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the index is scanned ONCE, vectors and norms riding the cell
    // join rows (round 15: the verify is an inline codegen'd filter —
    // the previous join-back by id re-exchanged the quadratic
    // candidate stream and died on disk at the 10M tier)
    val idxScans = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).filter(_.contains(dir))
    assert(idxScans.size == 1, idxScans.mkString("\n"))
    assert(idxScans.head.contains("vec_id") &&
      idxScans.head.contains("embedding") && idxScans.head.contains("nrm")
      && idxScans.head.contains("cell"), idxScans.head)
    // no exchange keyed on a single pair id: only the survivors'
    // distinct may shuffle, and it hashes (id_a, id_b) TOGETHER
    val exec = df.queryExecution.executedPlan.toString
    assert("hashpartitioning\\(id_[ab]#\\d+, \\d+\\)".r
        .findFirstIn(exec).isEmpty,
      s"candidate stream re-shuffled by a single pair id:\n$exec")
    // same properties for ANN over the same index
    val topk = planOf(graft.operators.Similarity.ivfTopKOverIndex(
      emb.where(col("vec_id") < 10), dir, k = 5))
    assert(!topk.contains("CartesianProduct"), topk)
  }

  test("ANN query broadcast is load-dependent: small batch broadcasts, corpus-shaped batch exchanges") {
    // round 15: pq_twin_match's 100k-query batch (16 KB LUT per row,
    // exploded ×nprobe) died on spark.driver.maxResultSize through an
    // unconditional broadcast(q). The hint must track the batch's
    // materialized size. Auto-broadcast is disabled so the ONLY
    // BroadcastExchange a plan can contain is the operator's explicit
    // hint — the same discipline as ResourceContractSpec.
    val emb = Tables.load(spark, sfDir, "embeddings")
    val ivfDir = Files.createTempDirectory("plan-bcast-ivf").toString
    val pqDir = Files.createTempDirectory("plan-bcast-pq").toString
    graft.operators.Similarity.writeIvfIndex(emb, ivfDir, dim = 64, nlist = 16)
    graft.operators.Similarity.writePqIndex(emb, pqDir, dim = 64, m = 8,
      ksub = 16, iters = 1)
    // a corpus-shaped synthetic batch: 900k rows × nprobe 2 blows the
    // 256 MB budget on every path (float rows estimate ~320 B, pq LUT
    // rows ~1 KB at ksub 16); count() is instant
    val bigQ = spark.range(900000).select(col("id").as("vec_id"),
      expr("transform(sequence(1, 64), i -> cast(pmod(id * i, 97) as float) / 97.0f)")
        .as("embedding"))
    val smallQ = emb.where(col("vec_id") < 10)
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "-1")
    try {
      for ((name, fn) <- Seq[(String, org.apache.spark.sql.DataFrame =>
          org.apache.spark.sql.DataFrame)](
        "ivf" -> (q => graft.operators.Similarity
          .ivfTopKOverIndex(q, ivfDir, k = 3, nprobe = 2)),
        "pq" -> (q => graft.operators.Similarity
          .pqTopKOverIndex(q, pqDir, k = 3, nprobe = 2)))) {
        val small = planOf(fn(smallQ))
        assert(small.contains("BroadcastExchange"),
          s"$name: small batch lost its broadcast hint:\n$small")
        val big = planOf(fn(bigQ))
        assert(!big.contains("BroadcastExchange"),
          s"$name: corpus-shaped batch still broadcasts:\n$big")
        assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
          s"$name: corpus-shaped batch lost the cell equi-join:\n$big")
      }
    } finally spark.conf.set(k, prev)
  }

  test("hamming near-dup: band equi-join, no cartesian, single fingerprint scan pair") {
    import spark.implicits._
    val fps = spark.range(1000)
      .select(col("id").as("doc_id"), (col("id") * 2654435761L).as("fp"))
    val df = graft.operators.Dedup.hammingNearDuplicates(fps, maxDistance = 3)
    val plan = planOf(df)
    // the all-pairs baseline would be a cartesian / nested loop; the
    // banding must plan as a plain (band, bucket) shuffle equi-join
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("regularize: events scan once, grid derives from the aggregated frame, no cartesian") {
    val ev = Tables.load(spark, sfDir, "events")
    val df = graft.operators.Stats.regularize(
      ev.withColumn("_us", Tables.eventTsUs(ev)),
      col("user_id"), col("_us"), 86400000000L,
      aggs = Seq(count(lit(1)).as("n")),
      zeroFill = Map("n" -> lit(0L)))
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the corpus-sized input is scanned ONCE: the per-key grid bounds
    // fold the AGGREGATED frame, never a second pass over events
    val evScans = df.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).count(_.contains("events"))
    assert(evScans == 1, s"expected 1 events scan, got $evScans:\n$plan")
  }

  test("exact heavy hitters: candidate buckets broadcast into the recount, partial-combined aggregates") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val hh = graft.operators.Stats.heavyHitters(li, col("l_partkey"), 1L, 1500L)
    val plan = planOf(hh)
    // the recount scans the corpus once, prunes through TWO broadcast
    // bucket joins (never a shuffled join on the bucket id), and
    // aggregates the survivors with map-side partial combine — the
    // full-key-space exchange the operator exists to avoid must not
    // reappear as a plan artifact
    assert(plan.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("funnel and retention: no window functions, no cartesian — aggregations and equi-joins only") {
    val ev = Tables.load(spark, sfDir, "events")
    val f = graft.operators.EventAnalytics.funnel(
      ev.withColumn("_us", Tables.eventTsUs(ev)),
      col("user_id"), col("_us"),
      Seq(col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"), withinUs = 3600000000L)
    val fPlan = planOf(f)
    // the naive funnel shape is a per-key ordered window (one task per
    // hot key); this one must be min-aggregations + key equi-joins
    assert(!fPlan.contains("Window"), fPlan)
    assert(!fPlan.contains("CartesianProduct"), fPlan)
    assert(!fPlan.contains("BroadcastNestedLoopJoin"), fPlan)
    // strict modes add only more min-aggregations and equi-joins —
    // the no-window, no-cartesian discipline must hold for them too
    Seq(graft.operators.EventAnalytics.FunnelMode.StrictOrder,
        graft.operators.EventAnalytics.FunnelMode.StrictDedup).foreach { m =>
      val sp = planOf(graft.operators.EventAnalytics.funnel(
        ev.withColumn("_us", Tables.eventTsUs(ev)),
        col("user_id"), col("_us"),
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"), withinUs = 3600000000L,
        mode = m))
      assert(!sp.contains("Window"), s"$m: $sp")
      assert(!sp.contains("CartesianProduct"), s"$m: $sp")
      assert(!sp.contains("BroadcastNestedLoopJoin"), s"$m: $sp")
    }
    val r = graft.operators.EventAnalytics.retention(
      ev.withColumn("_us", Tables.eventTsUs(ev)),
      col("user_id"), col("_us"), 604800000000L)
    val rPlan = planOf(r)
    assert(!rPlan.contains("Window"), rPlan)
    assert(!rPlan.contains("CartesianProduct"), rPlan)
  }

  test("tfidf: corpus size joins as a broadcast, term joins stay equi") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.TextAnalysis.tfidfTopTerms(docs, 3))
    // N is a single-row aggregate — it must ship as a broadcast, never
    // force the scored side through a cartesian
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("passage pairs: gram-hash equi-join, no cartesian, capped window") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.Dedup.sharedPassagePairs(docs, 20))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the ubiquitous-gram cap rides the join's own (s) partitioning
    assert(plan.contains("Window"), plan)
  }

  test("chunking is pure per-row work: no hash exchange anywhere") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.TextAnalysis.chunk(docs, 16, 12))
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("split assignment is pure per-row work: no exchange at all") {
    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val plan = planOf(graft.operators.Sampling.assignSplits(docs,
      col("doc_id"), "s1", Seq("train" -> 0.9, "test" -> 0.1)))
    assert(!plan.contains("Exchange"), plan)
  }

  test("vocabulary: total broadcasts, top-V is TakeOrdered, window after limit") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.TextAnalysis.vocabulary(docs, 40))
    // the corpus token total must arrive as a broadcast single-row
    // aggregate, and top-V must not globally sort the vocabulary
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrdered"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("unordered full scan: no global sort, no exchange at all") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-unord").toString
    val ops = (0 until 100).map(i =>
      CellOp(f"r$i%03d", "cf", "q", 1L, OpType.Value, s"v$i".getBytes, i.toLong))
    CellLogStore.append(ops.toDF(), dir)
    val q = ScanQuery(CellLogStore.source(spark, dir).log,
      TableDesc(graft.model.CfSpec(maxVersions = Int.MaxValue)),
      opsPresent = Some(Set(OpType.Value)))
    // ordered (default) pays a range-exchange sort to reproduce the
    // reference's streamed key order; the bulk-consumer opt-out must
    // read the range-clustered files with NO sort and NO shuffle
    val orderedPlan = planOf(q.run())
    assert(orderedPlan.contains("Sort"), orderedPlan)
    val unorderedPlan = planOf(q.unordered.run())
    assert(!unorderedPlan.contains("Sort ["), unorderedPlan)
    assert(!unorderedPlan.contains("Exchange"), unorderedPlan)
  }

  test("literal resume-after bound pushes to the parquet scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-resume").toString
    val ops = (0 until 100).map(i =>
      CellOp(f"r$i%03d", "cf", "q", 1L, OpType.Value, s"v$i".getBytes, i.toLong))
    CellLogStore.append(ops.toDF(), dir)
    val scan = ScanQuery(CellLogStore.source(spark, dir).log,
        opsPresent = Some(Set(OpType.Value)))
      .withResumeAfter("r049").withLimit(10).run()
    val leaves = scan.queryExecution.executedPlan.collectLeaves().mkString("\n")
    // the next_start_point round trip must prune files/row-groups like
    // any other key bound — it is a literal predicate, not a join
    assert(leaves.contains("GreaterThan(row_key,r049)"), leaves)
    assert(scan.count() == 10)

    // afterPage's row cut reaches the scan the same way: the one-row
    // resume handshake lands as a literal >= bound, not a crossJoin
    val q = ScanQuery(CellLogStore.source(spark, dir).log,
      opsPresent = Some(Set(OpType.Value)))
    val page1 = q.withLimit(10).run()
    val resumed = q.afterPage(page1).withLimit(10).run()
    val rleaves = resumed.queryExecution.executedPlan.collectLeaves()
      .mkString("\n")
    assert(rleaves.contains("GreaterThanOrEqual(row_key,r009)"), rleaves)
    assert(!resumed.queryExecution.executedPlan.toString
      .contains("CartesianProduct"), "resume must not plan a cross join")
    assert(resumed.select("row_key").collect().map(_.getString(0)).toSeq
      == (10 to 19).map(i => f"r$i%03d"))
  }

  test("binary raw-key bounds push to the parquet scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-binkey").toString
    val t = Graft.createTable(spark, dir,
      TableDesc(rawKeyBinary = true), ops = Some(Set(OpType.Value)))
    t.put((0 until 50).map(i =>
      (Array[Byte](0, i.toByte, 0xFF.toByte), "cf", "q", 1L, OpType.Value,
        s"v$i".getBytes, i.toLong))
      .toDF("row_key", "cf", "qualifier", "ts", "op", "value", "seq"))
    val scan = t.scan
      .withStartBin(Array[Byte](0, 10)).withStopBin(Array[Byte](0, 20)).run()
    val leaves = scan.queryExecution.executedPlan.collectLeaves().mkString("\n")
    // binary comparisons reach parquet like string bounds do (row-group
    // min/max pruning + the per-file key bloom apply byte-wise)
    assert(leaves.contains("GreaterThanOrEqual(row_key") &&
      leaves.contains("LessThan(row_key"), leaves)
    assert(scan.count() == 10)
  }

  test("chunk dedup and boilerplate: equi-joins only, no windows") {
    val docs = Tables.load(spark, sfDir, "documents")
    for (df <- Seq(graft.operators.Dedup.dropRepeatedChunks(docs, 16),
        graft.operators.Dedup.stripBoilerplate(docs, 8, 2),
        graft.operators.Dedup.removeDuplicateSpans(docs, 15))) {
      val plan = planOf(df)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("Window"), plan)
    }
  }

  test("z-ordered read pushes both box predicates into one pruned scan") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val dir = Files.createTempDirectory("plan-zorder").toString
    graft.operators.ZOrder.writeClustered(li, dir,
      Seq("l_partkey", "l_suppkey"), numFiles = 4, bits = 6)
    val q = spark.read.parquet(dir)
      .where(col("l_partkey").between(100, 400) &&
        col("l_suppkey").between(10, 60))
      .select(col("l_partkey"), col("l_suppkey"))
    // both dimensions must reach the parquet reader as literal bounds
    // (that is what evaluates against the tight per-file/row-group
    // min/max boxes the z-order write lays down), on a scan pruned to
    // exactly the projected columns. Read the scan's metadata directly:
    // the rendered plan string truncates the PushedFilters list.
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    val pushed = scan.metadata("PushedFilters")
    for (f <- Seq("GreaterThanOrEqual(l_partkey,100)", "LessThanOrEqual(l_partkey,400)",
        "GreaterThanOrEqual(l_suppkey,10)", "LessThanOrEqual(l_suppkey,60)"))
      assert(pushed.contains(f), pushed)
    assert(scan.metadata("ReadSchema")
      .contains("struct<l_partkey:bigint,l_suppkey:bigint>"), scan.metadata)
  }

  test("TPC-H Q21 shape: one fact aggregation, broadcast supplier, no self-join") {
    val df = SparkEntry.queries("q_agg_tpch_q21")(spark, sfDir)
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // the exists/not-exists pair folds into ONE per-order aggregate:
    // the lineitem file scans once, not once per exists branch
    assert("lineitem.parquet".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("TPC-H Q19 disjunctive brackets reach the scan as a pushed OR filter") {
    val df = SparkEntry.queries("q_agg_tpch_q19")(spark, sfDir)
    val scan = df.queryExecution.executedPlan.collectLeaves().mkString("\n")
    // the quantity bounds of the OR-of-ANDs push to the lineitem scan
    // as a disjunctive filter (the brand/size legs live on the
    // broadcast part side)
    assert(scan.contains("PushedFilters") && scan.contains("Or(") &&
      scan.contains("l_quantity"), scan)
  }

  test("BM25 retrieval: query terms broadcast into the postings scan, no cartesian") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = Files.createTempDirectory("graft-plan-ti").toString
    graft.operators.TextIndex.writeTextIndex(docs, dir)
    val q = docs.where(col("doc_id") % 17 === 0)
      .select(col("doc_id").as("query_id"), col("text"))
    val plan = planOf(graft.operators.TextIndex.bm25TopK(q, dir, k = 5))
    assert(!plan.contains("CartesianProduct"), plan)
    // qterms, df-by-term, and the (n_docs, avgdl) one-row frame all
    // broadcast; only the docstats join and the score fold exchange
    assert("BroadcastExchange".r.findAllIn(plan).size >= 3, plan)
    // the one per-query window runs over candidates, after the fold —
    // exactly one Window operator total (WindowGroupLimit rows are the
    // top-k pushdown, not extra windows)
    assert("Window \\[".r.findAllIn(plan).size == 1, plan)
  }

  test("snapshot diff: fingerprints reduce each side in the scan, one exchange per side") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.Curation.snapshotDiff(
      docs.where(col("doc_id") % 7 =!= 0), docs.where(col("doc_id") % 5 =!= 0)))
    assert(!plan.contains("CartesianProduct") && !plan.contains("Window"), plan)
    // the join moves (id, fp) only: no text column survives any exchange
    val exchanges = plan.split("Exchange").drop(1)
    assert(exchanges.nonEmpty &&
      exchanges.forall(e => !e.takeWhile(_ != '\n').contains("text")), plan)
  }

  test("DSIR weights: log-ratio frame broadcasts, corpus folds once") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.DataSelection.importanceWeights(
      docs, docs.where(col("doc_id") % 3 === 0), buckets = 1000))
    assert(!plan.contains("CartesianProduct"), plan)
    // the (bucket, llr) frame reaches the raw corpus via broadcast —
    // the corpus-sized side never re-shuffles for the ratio join
    assert(plan.contains("BroadcastHashJoin"), plan)
    // per-doc weight fold is a hash aggregation with map-side partials
    assert(plan.contains("partial_sum"), plan)
  }

  test("PPS sampling: corpus window is bucketed, offsets and grand total broadcast") {
    val docs = Tables.load(spark, sfDir, "documents")
    val keyed = graft.operators.Sampling.shuffleKey(
      docs.select(col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("w")),
      col("doc_id"), "pps")
    val plan = planOf(graft.operators.Sampling.ppsSample(
      keyed, col("shuffle_key"), col("w"), k = 50))
    // the corpus-sized cumulative sum partitions by the hex-prefix
    // bucket, never globally (_pps_o pins this to the corpus window)
    assert("windowspecdefinition\\(_pps_b#\\d+, _pps_o#\\d+".r
      .findFirstIn(plan).isDefined, plan)
    // both the per-bucket offsets and the one-row grand total come
    // back as broadcasts; only the tiny totals table windows globally
    assert("BroadcastExchange".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val windows = "Window ".r.findAllIn(plan).size
    assert(windows == 2, s"expected 2 windows (bucket cum + tiny offsets):\n$plan")
  }

  test("rank fusion: equi-joined pivot, no cartesian, one top-k window with group limit") {
    import spark.implicits._
    val runA = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("query_id", "doc_id", "rank")
    val runB = Seq((1L, 10L, 1), (1L, 30L, 2)).toDF("query_id", "doc_id", "rank")
    // k below the inputs' known maxRows — InferWindowGroupLimit
    // correctly skips the pushdown when the child can't exceed k (on
    // real parquet-backed runs maxRows is unknown, so it always fires)
    val plan = planOf(graft.operators.Retrieval.reciprocalRankFusion(
      Seq(runA, runB), k = 2))
    assert(!plan.contains("CartesianProduct"), plan)
    // the fused rank <= k filter plans as Spark's window group limit,
    // so per-query candidates truncate before the full sort — a
    // bounded safety net on top of the structural bound (each query
    // carries at most runs × k candidate rows into the window)
    assert(plan.contains("WindowGroupLimit"), plan)
    assert("Window \\[".r.findAllIn(plan).size == 1, plan)
  }

  test("top grams: partial-combined hash agg, top-k as TakeOrdered, no global sort") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = planOf(graft.operators.TextAnalysis.topGrams(docs, n = 2, k = 50))
    assert(plan.contains("partial_count"), plan)
    // limit-after-sort plans as TakeOrderedAndProject: k rows per
    // partition, k at the driver — a global Sort node never appears
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("hybrid retrieval: three windows total (bm25 + ivf + fusion), no cartesian") {
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val tDir = Files.createTempDirectory("graft-plan-hyb-t").toString
    val vDir = Files.createTempDirectory("graft-plan-hyb-v").toString
    graft.operators.TextIndex.writeTextIndex(docs, tDir)
    graft.operators.Similarity.writeIvfIndex(emb, vDir, dim = 64)
    val queries = docs.where(col("doc_id") % 100 === 0)
      .join(emb, col("doc_id") === col("vec_id"))
      .select((-col("doc_id") - 1).as("query_id"), col("text"),
        col("embedding"))
    val plan = planOf(graft.operators.Retrieval.hybridTopK(
      queries, tDir, vDir, k = 5))
    assert(!plan.contains("CartesianProduct"), plan)
    // one per-query window in each retriever + the fused top-k — the
    // pivot joins are equi (full-outer on (query_id, doc_id))
    assert("Window \\[".r.findAllIn(plan).size == 3, plan)
    assert(plan.contains("FullOuter"), plan)
  }

  test("BPE token counts: distinct-word encode joins back equi, fold is a partial hash agg") {
    val docs = Tables.load(spark, sfDir, "documents")
    val model = graft.operators.Bpe.BpeModel(
      Array(("a", "b"), ("ab", "c</w>")))
    val plan = planOf(graft.operators.Bpe.tokenCounts(docs, model))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    // occurrence fan-out is an equi-join on the word column; the final
    // per-doc fold combines map-side
    assert(plan.contains("partial_sum"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("ordered scan collect: sorted-run merge, one job, no range exchange") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-merge").toString
    val t = Graft.createTable(spark, dir, TableDesc(buckets = 8),
      Some(Set(OpType.Value, OpType.DelRow)))
    t.put((0 until 400).map(i => CellOp(f"r$i%04d", "cf", "q", 1L,
      OpType.Value, s"v$i".getBytes, i.toLong)).toDF().repartition(4))
    t.put(Seq(CellOp("r0150", "", "", 2L, OpType.DelRow, null, 1000L)))
    // no key bound: the Spark plan (a key-bound scan reads on the driver)
    val df = t.scan.withFilter(ScanFilter.RowKeyPrefix("r01")).run()
    val before = planOf(df)
    assert(before.contains("SortedRunsCollect"), before)
    assert(!before.toLowerCase.contains("rangepartitioning"), before)
    val (keys, jobs) = JobCount.during(spark)(df.collect().map(_.getString(0)).toSeq)
    assert(jobs == 1, s"ordered scan ran $jobs jobs")
    assert(keys == (100 until 200).filter(_ != 150).map(i => f"r$i%04d"))
    val after = planOf(df)
    assert(!after.contains("Exchange"), after)
  }

  test("a projected ordered scan collect merges sorted runs: one job, no range exchange") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-merge-project").toString
    // uncapped versions of VALUE ops resolve with no exchange, so the
    // merge's one job is the whole collect
    val t = Graft.createTable(spark, dir,
      TableDesc(graft.model.CfSpec(maxVersions = Int.MaxValue)),
      ops = Some(Set(OpType.Value)))
    t.put((0 until 200).map(i => CellOp(f"r$i%04d", "cf", "q", 1L,
      OpType.Value, s"v$i".getBytes, i.toLong)).toDF().repartition(4))
    val df = t.scan.withStart("r0050").withStop("r0150").run()
      .select(col("row_key"), col("value"))
    val plan = planOf(df)
    assert(plan.contains("SortedRunsCollect"), plan)
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
    val (rows, jobs) = JobCount.during(spark)(df.collect().toSeq)
    assert(jobs == 1, s"projected ordered scan ran $jobs jobs")
    assert(rows.map(_.getString(0)) == (50 until 150).map(i => f"r$i%04d"))
    assert(rows.map(r => new String(r.getAs[Array[Byte]](1))) ==
      (50 until 150).map(i => s"v$i"))
  }

  /** A bucketed table whose rows r0000..r0399 (cf a and b) sit in
    * several files per bucket, with overwrites and tombstones. */
  private def bucketedTable(name: String): GraftTable = {
    import spark.implicits._
    val dir = Files.createTempDirectory(name).toString
    val t = Graft.createTable(spark, dir, TableDesc(buckets = 4),
      Some(Set(OpType.Value, OpType.DelRow, OpType.DelQualifiers)))
    t.put((0 until 400).flatMap(i => Seq(
      CellOp(f"r$i%04d", "a", "s", 1L, OpType.Value, (if (i % 5 == 0) "P" else "O").getBytes,
        2L * i),
      CellOp(f"r$i%04d", "b", "n", 1L, OpType.Value, s"$i".getBytes, 2L * i + 1)))
      .toDF().repartition(3))
    t.put((0 until 400 by 7).map(i => CellOp(f"r$i%04d", "a", "s", 2L, OpType.Value,
      "P".getBytes, 1000L + i)))
    t.put(Seq(CellOp("r0120", "", "", 3L, OpType.DelRow, null, 2000L),
      CellOp("r0121", "a", "s", 3L, OpType.DelQualifiers, null, 2001L)))
    t
  }

  test("bucketed snapshot get: collect starts no job, count and rdd read one bucket") {
    val t = bucketedTable("plan-snap-get")
    // a snapshot bound, or None: the current cells() under the same filter
    Seq(("r0007", Some(1500L)), ("r0120", Some(1999L)), ("r0120", Some(2000L)),
        ("r0121", Some(3000L)), ("r0399", Some(10L)), ("r0007", None), ("r0120", None),
        ("r0121", None)).foreach { case (k, s) =>
      def read = s.fold(t.cells())(t.snapshot)
      val df = read.where(col("row_key") === k)
      val (rows, jobs) = JobCount.during(spark)(df.collect().toSeq)
      assert(jobs == 0, s"$k@$s: snapshot get ran $jobs jobs")
      def cells(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r => (r.getString(1),
        r.getString(2), r.getLong(3), new String(r.getAs[Array[Byte]](4)))).sorted
      assert(cells(rows) == cells(df.rdd.collect().toSeq), s"$k@$s")
      assert(df.count() == rows.length, s"$k@$s")
      // other conjuncts and projections run on the collected rows
      val projected = read.where(col("row_key") === k && col("cf") === "a")
        .select(col("qualifier"))
      val (qs, pjobs) = JobCount.during(spark)(projected.collect().map(_.getString(0)).toSeq)
      assert(pjobs == 0 && qs == cells(rows).filter(_._1 == "a").map(_._2), s"$k@$s")
      val counted = df.groupBy().count()
      val plan = planOf(counted) + planOf(df)
      assert(plan.contains("SelectedBucketsCount: 1 out of 4"), plan)
    }
    // no key: the resolve plan
    val (_, jobs) = JobCount.during(spark)(t.snapshot(1500L).collect())
    assert(jobs > 0)
  }

  test("a bucketed read of an undeclared op-set probes once, not on every action") {
    import spark.implicits._
    val ops = (0 until 50).map(i => CellOp(f"r$i%04d", "a", "s", 1L, OpType.Value,
      s"v$i".getBytes, i + 1L)) :+ CellOp("r0007", "", "", 2L, OpType.DelRow, null, 100L)
    def mk(name: String, declared: Option[Set[Int]]): GraftTable = {
      val t = Graft.createTable(spark, Files.createTempDirectory(name).toString,
        TableDesc(buckets = 4), declared)
      t.put(ops.toDF())
      t
    }
    def actions(t: GraftTable) = JobCount.during(spark) {
      val df = t.cells()
      (df.count(), df.count(), df.collect().map(_.getString(0)).toSeq.sorted)
    }
    val (want, declaredJobs) = actions(mk("plan-ops-declared",
      Some(Set(OpType.Value, OpType.DelRow))))
    val probed = mk("plan-ops-probed", None)
    val (_, probeJobs) = JobCount.during(spark)(Resolve.probe(probed.log))
    val (got, jobs) = actions(probed)
    assert(got == want && want._1 == 49L)
    assert(jobs == declaredJobs + probeJobs,
      s"$jobs jobs: $declaredJobs with the op-set declared, $probeJobs per probe")
    // a read the driver answers needs no probe
    val (row, getJobs) = JobCount.during(spark)(
      probed.cells().where(col("row_key") === "r0003").collect())
    assert(getJobs == 0 && row.map(_.getString(0)).toSeq == Seq("r0003"))
  }

  test("bucketed key-bound scan: collect starts no job; an unbounded scan runs the Spark plan") {
    val t = bucketedTable("plan-scan-driver")
    def scan = t.scan.addColumnFamily("a")
      .withFilter(ScanFilter.ValueFilter("a", "s", "!=", TypedValue.Utf8("P")))
    def rows(df: org.apache.spark.sql.DataFrame) = JobCount.during(spark)(
      df.collect().toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3), new String(r.getAs[Array[Byte]](4)))))
    val bounded = scan.withStart("r0100").withStop("r0200").run()
    val (got, jobs) = rows(bounded)
    assert(jobs == 0, s"bounded scan ran $jobs jobs")
    val want = (100 until 200).filter(i => i % 5 != 0 && i % 7 != 0 && i != 120 && i != 121)
      .map(i => (f"r$i%04d", "a", "s", 1L, "O"))
    assert(got == want)
    assert(bounded.count() == want.length)
    assert(bounded.rdd.collect().map(_.getString(0)).toSeq == want.map(_._1))
    // resume-after-key, point and limit bounds read on the driver too
    Seq(scan.withResumeAfter("r0390"), scan.forRow("r0101"),
        scan.withStart("r0100").withLimit(3)).foreach { q =>
      val (_, j) = rows(q.run())
      assert(j == 0, s"$q ran $j jobs")
    }
    // no key bound: the Spark plan, whose collect merges sorted runs
    val (all, ajobs) = rows(scan.run())
    assert(ajobs == 1, s"unbounded scan ran $ajobs jobs")
    assert(all.map(_._1) == (0 until 400).filter(i =>
      i % 5 != 0 && i % 7 != 0 && i != 120 && i != 121).map(i => f"r$i%04d"))
  }

  test("a driver range read declines past its row bound") {
    val t = bucketedTable("plan-scan-bound")
    val src = CellLogStore.source(spark, t.logDir)
    val range = Seq(graft.sources.DriverRead.Bound.AtLeast("r0100".getBytes),
      graft.sources.DriverRead.Bound.Below("r0200".getBytes))
    val read = src.keyRows(range, None)
    assert(read.exists(_.nonEmpty))
    // the pages the bounds keep hold every row of the small files
    assert(src.keyRows(range, None, maxRows = read.get.length - 1).isEmpty)
  }

  test("a key-bound scan past its row bound collects through the Spark plan") {
    val t = bucketedTable("plan-scan-past-bound")
    val q = t.scan.addColumnFamily("a").withStart("r0100").withStop("r0200")
    def frame(maxRows: Long) = graft.operators.CellRead.frame(q.table.get, q.desc,
      q.opsPresent, q.snapshotSeq, q.nowUs, graft.operators.CellRead.Range(q, maxRows))
      .orderBy(col("row_key"), col("cf"), col("qualifier"), col("ts").desc)
    def keys(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getString(0), r.getLong(3), new String(r.getAs[Array[Byte]](4)))).toSeq
    val want = (100 until 200).filter(i => i != 120 && i != 121)
      .map(i => (f"r$i%04d", if (i % 7 == 0) 2L else 1L,
        if (i % 5 == 0 || i % 7 == 0) "P" else "O"))
    Seq[(org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, Int)](
        (identity, want.length), (_.limit(5), 5)).foreach { case (shape, n) =>
      val (viaSpark, jobs) = JobCount.during(spark)(keys(shape(frame(10)).collect()))
      assert(jobs > 0, "a range past its row bound answered on the driver")
      val (onDriver, djobs) = JobCount.during(spark)(keys(shape(frame(Long.MaxValue)).collect()))
      assert(djobs == 0, s"a range inside its row bound ran $djobs jobs")
      assert(viaSpark == want.take(n) && onDriver == viaSpark)
      assert(keys(shape(frame(10)).rdd.collect()) == viaSpark)
    }
  }

  test("snapshot frames of same-count bucketed tables join on row_key with no exchange") {
    import spark.implicits._
    def mk(desc: TableDesc, rows: Seq[(String, String)]): GraftTable = {
      val dir = Files.createTempDirectory("plan-snap-join").toString
      val t = Graft.createTable(spark, dir, desc, ops = Some(Set(OpType.Value)))
      t.put(rows.zipWithIndex.map { case ((k, v), i) =>
        CellOp(k, "cf", "q", 100, OpType.Value, v.getBytes, i + 1) }.toDF())
      t
    }
    // tiny sides would broadcast under any layout
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // a version-capped resolve, and a pass-through one (uncapped
      // versions of Value ops), whose plan needs no clustering of its own
      Seq(TableDesc(buckets = 4), TableDesc(CfSpec(maxVersions = Int.MaxValue), buckets = 4))
          .foreach { desc =>
        val a = mk(desc, Seq("r1" -> "a1", "r2" -> "a2"))
        val b = mk(desc, Seq("r1" -> "b1", "r3" -> "b3"))
        val joined = a.snapshot(10L).select(col("row_key"), col("value").as("va"))
          .join(b.snapshot(10L).select(col("row_key"), col("value").as("vb")), "row_key")
        val plan = planOf(joined)
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange") && !plan.contains("CellRead"), plan)
        assert("Bucketed: true".r.findAllIn(plan).length == 2, plan)
        assert(joined.collect().map(_.getString(0)).toSeq == Seq("r1"))
        // an unordered key-bound scan keeps the bucketed layout too
        val grouped = a.scan.unordered.withStart("r1").run().groupBy("row_key").count()
        assert(!planOf(grouped).contains("Exchange"), planOf(grouped))
        assert(grouped.collect().map(_.getString(0)).sorted.toSeq == Seq("r1", "r2"))
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("an ordered collect with a nondeterministic column merges sorted runs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-merge-rand").toString
    val t = Graft.createTable(spark, dir, TableDesc(), ops = Some(Set(OpType.Value)))
    t.put((0 until 50).map(i => CellOp(f"r$i%04d", "cf", "q", 1L,
      OpType.Value, s"v$i".getBytes, i.toLong)).toDF().repartition(3))
    Seq(t.scan.run().withColumn("r", rand()), t.scan.run().withColumn("r", uuid()))
      .foreach { df =>
        assert(planOf(df).contains("SortedRunsCollect"), planOf(df))
        val rows = df.collect()
        assert(rows.map(_.getString(0)).toSeq == (0 until 50).map(i => f"r$i%04d"))
        assert(rows.forall(!_.isNullAt(rows.head.length - 1)))
      }
  }

  test("ordered scan with a limit still plans TakeOrderedAndProject") {
    import spark.implicits._
    val dir = Files.createTempDirectory("plan-merge-limit").toString
    val t = Graft.createTable(spark, dir, ops = Some(Set(OpType.Value)))
    t.put((0 until 50).map(i => CellOp(f"r$i%03d", "cf", "q", 1L,
      OpType.Value, "v".getBytes, i.toLong)).toDF())
    val df = t.scan.withLimit(5).run()
    val plan = planOf(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortedRunsCollect"), plan)
    assert(df.collect().map(_.getString(0)).toSeq ==
      (0 until 5).map(i => f"r$i%03d"))
  }
}
