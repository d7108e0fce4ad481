package graft

import graft.functions.Codecs
import graft.model.{CellOp, OpType}
import graft.operators.{ScanFilter, ScanQuery, TypedValue}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz for the row-verdict filter tree (P7-P12): random
  * And/Or trees of typed value filters over random single-version rows,
  * `ScanQuery.run` vs a straight-line in-memory evaluator. The byte
  * codecs are deliberately SHARED (the expressions call the same total
  * `Codecs` functions) — what this fuzzes is the tree semantics: whole-
  * row verdicts, presence vs `filter_if_missing`, typed comparisons
  * incl. the uint64 sign-bit bias, and the legacy regex/substr/prefix
  * shapes, across cells whose bytes often do NOT decode cleanly under
  * the filter's type (the total-decoder contract).
  *
  * Float64 filters are excluded: Spark orders NaN (largest, equal to
  * itself) differently from Java primitives, and random bytes decode to
  * NaN often — that comparator is covered by `q_p11_typed_compare`.
  */
class ScanFilterFuzzSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rows = (0 until 5).map(i => s"r$i")
  private val cfs = Seq("cf0", "cf1")
  private val quals = Seq("q0", "q1")

  /** One VALUE per present (row, cf, qual): resolve is the identity and
    * the fuzz isolates the filter, not the fold. Value bytes mix clean
    * encodings with raw noise so typed decodes hit their total paths. */
  private def randomValue(rng: scala.util.Random): Array[Byte] =
    rng.nextInt(4) match {
      case 0 => Codecs.encodeBE64(rng.nextInt(200).toLong - 100)
      case 1 => s"s${rng.nextInt(50)}".getBytes("UTF-8")
      case 2 => Codecs.encodeLEInt(rng.nextInt(200).toLong - 100,
        Seq(1, 2, 4, 8)(rng.nextInt(4)))
      // FULL byte range: bytes >= 0x80 produce invalid UTF-8, which is
      // exactly what the byte-preserving cast('string') paths exist
      // for — 0..127 noise would never exercise them
      case _ => Array.fill(rng.nextInt(5))(rng.nextInt(256).toByte)
    }

  private def randomCells(rng: scala.util.Random): Seq[CellOp] = {
    var seq = 0L
    for {
      r <- rows; cf <- cfs; q <- quals
      if rng.nextInt(10) < 7
    } yield {
      seq += 1
      CellOp(r, cf, q, 100L, OpType.Value, randomValue(rng), seq)
    }
  }

  private def randomLeaf(rng: scala.util.Random,
      rowKeyLeaves: Boolean = true): ScanFilter = {
    val cf = cfs(rng.nextInt(cfs.size))
    val q = quals(rng.nextInt(quals.size))
    val cmp = Seq("<", "<=", "==", "!=", ">=", ">")(rng.nextInt(6))
    val ifMissing = rng.nextBoolean()
    // without row-key leaves (binary-key trials: startsWith is a string
    // operation), the prefix slot re-rolls into the regex/substr case
    val pick = rng.nextInt(8) match {
      case 6 if !rowKeyLeaves => 7
      case n => n
    }
    pick match {
      case 0 => ScanFilter.ValueFilter(cf, q, cmp,
        TypedValue.Int64BE(rng.nextInt(200).toLong - 100), ifMissing)
      case 1 => ScanFilter.ValueFilter(cf, q, cmp,
        TypedValue.Int64LE(rng.nextInt(200).toLong - 100), ifMissing)
      case 2 => ScanFilter.ValueFilter(cf, q, cmp,
        TypedValue.Utf8(s"s${rng.nextInt(50)}"), ifMissing)
      case 3 => ScanFilter.ValueFilter(cf, q, cmp,
        TypedValue.Bytes(Array.fill(rng.nextInt(4))(rng.nextInt(256).toByte)),
        ifMissing)
      case 4 => ScanFilter.ValueFilter(cf, q, cmp,
        TypedValue.IntW(rng.nextInt(200).toLong - 100,
          Seq(1, 2, 4, 8)(rng.nextInt(4))), ifMissing)
      case 5 => ScanFilter.ValueFilter(cf, q, cmp,
        TypedValue.UintW(rng.nextLong(), Seq(1, 2, 4, 8)(rng.nextInt(4))),
        ifMissing)
      case 6 => ScanFilter.RowKeyPrefix(s"r${rng.nextInt(5)}")
      case _ =>
        if (rng.nextBoolean())
          ScanFilter.ValueRegex(cf, q, s"s[0-${rng.nextInt(5)}].*", ifMissing)
        else ScanFilter.ValueSubstring(cf, q, s"s${rng.nextInt(5)}", ifMissing)
    }
  }

  private def randomTree(rng: scala.util.Random, depth: Int,
      rowKeyLeaves: Boolean = true): ScanFilter =
    if (depth == 0 || rng.nextInt(3) == 0) randomLeaf(rng, rowKeyLeaves)
    else {
      val children =
        Seq.fill(2 + rng.nextInt(2))(randomTree(rng, depth - 1, rowKeyLeaves))
      if (rng.nextBoolean()) ScanFilter.And(children) else ScanFilter.Or(children)
    }

  private def cmpOp[T](a: T, b: T, cmp: String)(implicit ord: Ordering[T]): Boolean =
    cmp match {
      case "<"  => ord.lt(a, b)
      case "<=" => ord.lteq(a, b)
      case "==" => ord.equiv(a, b)
      case "!=" => !ord.equiv(a, b)
      case ">=" => ord.gteq(a, b)
      case ">"  => ord.gt(a, b)
    }

  /** Straight-line verdict over one row's (cf,qual)->bytes map. */
  private def evalVerdict(f: ScanFilter, rowKey: String,
      row: Map[(String, String), Array[Byte]]): Boolean = {
    def colVerdict(cf: String, q: String, ifMissing: Boolean)
        (pred: Array[Byte] => Boolean): Boolean =
      row.get((cf, q)).fold(!ifMissing)(pred)
    f match {
      case ScanFilter.And(cs) => cs.forall(evalVerdict(_, rowKey, row))
      case ScanFilter.Or(cs)  => cs.exists(evalVerdict(_, rowKey, row))
      case ScanFilter.ValueFilter(cf, q, cmp, tv, ifMissing) =>
        colVerdict(cf, q, ifMissing) { bytes =>
          tv match {
            case TypedValue.Int64BE(v) => cmpOp(Codecs.decodeBE64(bytes), v, cmp)
            case TypedValue.Int64LE(v) => cmpOp(Codecs.decodeLE64(bytes), v, cmp)
            case TypedValue.Utf8(s) =>
              // the production compare is a byte-preserving cast, and
              // Spark string order is unsigned byte order — memcmp
              cmpOp(java.util.Arrays.compareUnsigned(
                bytes, s.getBytes("UTF-8")), 0, cmp)
            case TypedValue.Bytes(v) =>
              cmpOp(java.util.Arrays.compareUnsigned(bytes, v), 0, cmp)
            case TypedValue.IntW(v, w) =>
              cmpOp(Codecs.decodeLEInt(bytes, w, signed = true), v, cmp)
            case TypedValue.UintW(v, w) =>
              val dec = Codecs.decodeLEInt(bytes, w, signed = false)
              if (w == 8) cmpOp(dec ^ Long.MinValue, v ^ Long.MinValue, cmp)
              else cmpOp(dec, v & ((1L << (8 * w)) - 1), cmp)
            case TypedValue.Float64(_) =>
              fail("Float64 excluded from the fuzz"); false
          }
        }
      case ScanFilter.RowKeyPrefix(p) => rowKey.startsWith(p)
      case ScanFilter.ValueRegex(cf, q, pat, ifMissing) =>
        colVerdict(cf, q, ifMissing)(b =>
          java.util.regex.Pattern.compile(pat)
            .matcher(new String(b, "UTF-8")).find())
      case ScanFilter.ValueSubstring(cf, q, sub, ifMissing) =>
        // UTF8String.contains is a byte-subsequence search
        colVerdict(cf, q, ifMissing)(b =>
          b.toSeq.indexOfSlice(sub.getBytes("UTF-8").toSeq) >= 0)
    }
  }

  test("full scan pipeline (verdict->project->ts->qual-cap) matches on 40 scans") {
    import spark.implicits._
    val rng = new scala.util.Random(20260815L)
    (1 to 40).foreach { trial =>
      // varied ts so the time-range actually slices; still one version
      // per column, so resolve stays the identity and the scan pipeline
      // (P4/P6/P9 ordering) is what the trial exercises
      val cells = randomCells(rng).map(c =>
        c.copy(ts = (rng.nextInt(5) + 1).toLong))
      val tree = if (rng.nextBoolean()) Some(randomTree(rng, 2)) else None
      val cfSel = if (rng.nextInt(3) == 0) Seq(cfs(rng.nextInt(2))) else Nil
      val colSel = if (rng.nextInt(3) == 0)
        Seq((cfs(rng.nextInt(2)), quals(rng.nextInt(2)))) else Nil
      val tsR = if (rng.nextBoolean())
        Some((rng.nextInt(3) + 1).toLong, (rng.nextInt(3) + 3).toLong) else None
      val maxQ = if (rng.nextInt(3) == 0) Some(rng.nextInt(2) + 1) else None
      val start = if (rng.nextInt(4) == 0) Some(s"r${rng.nextInt(5)}") else None
      val stop = if (rng.nextInt(4) == 0) Some(s"r${rng.nextInt(5)}") else None

      var q = ScanQuery(cells.toDF())
      tree.foreach(t => q = q.withFilter(t))
      cfSel.foreach(cf => q = q.addColumnFamily(cf))
      colSel.foreach { case (cf, c) => q = q.addColumn(cf, c) }
      tsR.foreach { case (a, b) => q = q.withTimeRange(a, b) }
      maxQ.foreach(k => q = q.withMaxQualifiers(k))
      start.foreach(k => q = q.copy(startKey = Some(k)))
      stop.foreach(k => q = q.copy(stopKey = Some(k)))
      val got = q.run().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSet

      // straight-line reference: same order of operations as SURVEY §2.2
      val ranged = cells
        .filter(c => start.forall(c.row_key >= _) && stop.forall(c.row_key < _))
      val byRow = ranged.groupBy(_.row_key)
      val passingRows = byRow.keySet.filter { rk =>
        tree.forall(t => evalVerdict(t, rk,
          byRow(rk).map(c => (c.cf, c.qualifier) -> c.value).toMap))
      }
      val projected = ranged.filter { c =>
        passingRows.contains(c.row_key) &&
          ((cfSel.isEmpty && colSel.isEmpty) ||
            cfSel.contains(c.cf) || colSel.contains((c.cf, c.qualifier)))
      }
      val timed = projected.filter(c =>
        tsR.forall { case (a, b) => c.ts >= a && c.ts <= b })
      val want = (maxQ match {
        case None => timed
        case Some(k) => timed.groupBy(c => (c.row_key, c.cf)).values.flatMap { cs =>
          val keep = cs.map(_.qualifier).distinct.sorted.take(k).toSet
          cs.filter(c => keep.contains(c.qualifier))
        }
      }).map(c => (c.row_key, c.cf, c.qualifier, c.ts)).toSet
      assert(got == want,
        s"trial $trial pipeline divergence (cf=$cfSel col=$colSel ts=$tsR " +
          s"maxQ=$maxQ start=$start stop=$stop tree=$tree)\n" +
          s"only-spark: ${got -- want}\nonly-ref: ${want -- got}")
    }
  }

  test("binary-key bounds + verdicts match the memcmp reference on 40 scans") {
    import spark.implicits._
    val rng = new scala.util.Random(20260816L)
    val cmpU = (a: Array[Byte], b: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(a, b)
    (1 to 40).foreach { trial =>
      // full-range random byte keys, short so prefix pairs and exact
      // collisions with bounds actually occur
      val keys = Seq.fill(8)(
        Array.fill(1 + rng.nextInt(3))(rng.nextInt(256).toByte))
        .distinctBy(_.toSeq)
      var seq = 0L
      val cells = for {
        k <- keys; cf <- cfs; q <- quals
        if rng.nextInt(10) < 7
      } yield {
        seq += 1
        (k, cf, q, 100L, OpType.Value, randomValue(rng), seq)
      }
      val df = cells.toDF("row_key", "cf", "qualifier", "ts", "op", "value", "seq")
      def randBound() = Array.fill(1 + rng.nextInt(3))(rng.nextInt(256).toByte)
      val point = if (rng.nextInt(4) == 0)
        Some(keys(rng.nextInt(keys.size))) else None
      val start = if (point.isEmpty && rng.nextInt(3) == 0)
        Some(randBound()) else None
      val stop = if (point.isEmpty && rng.nextInt(3) == 0)
        Some(randBound()) else None
      val resume = if (rng.nextInt(3) == 0) Some(randBound()) else None
      val tree = if (rng.nextBoolean())
        Some(randomTree(rng, 2, rowKeyLeaves = false)) else None

      var q = ScanQuery(df)
      point.foreach(k => q = q.forRowBin(k))
      start.foreach(k => q = q.withStartBin(k))
      stop.foreach(k => q = q.withStopBin(k))
      resume.foreach(k => q = q.withResumeAfterBin(k))
      tree.foreach(t => q = q.withFilter(t))
      val got = q.run().collect()
        .map(r => (r.getAs[Array[Byte]](0).toSeq, r.getString(1), r.getString(2)))
        .toSet

      val ranged = cells.filter { c =>
        point.forall(p => java.util.Arrays.equals(c._1, p)) &&
          start.forall(s => cmpU(c._1, s) >= 0) &&
          stop.forall(s => cmpU(c._1, s) < 0) &&
          resume.forall(s => cmpU(c._1, s) > 0)
      }
      val byRow = ranged.groupBy(_._1.toSeq)
      val want = byRow.collect {
        // rowKey "" is fine: binary trees carry no row-key leaves
        case (rk, cs) if tree.forall(t => evalVerdict(t, "",
          cs.map(c => (c._2, c._3) -> c._6).toMap)) =>
          cs.map(c => (rk, c._2, c._3))
      }.flatten.toSet
      assert(got == want,
        s"trial $trial binary divergence (point=${point.map(_.mkString(","))} " +
          s"start=${start.map(_.mkString(","))} stop=${stop.map(_.mkString(","))} " +
          s"resume=${resume.map(_.mkString(","))} tree=$tree)\n" +
          s"only-spark: ${got -- want}\nonly-ref: ${want -- got}")
    }
  }

  test("bucketed driver collect == rdd == the in-memory evaluator on 75 key-bound scans") {
    import graft.model.TableDesc
    val session = spark
    import session.implicits._
    val rng = new scala.util.Random(20261019L)
    val cmpU = (a: Seq[Byte], b: Seq[Byte]) =>
      java.util.Arrays.compareUnsigned(a.toArray, b.toArray)
    for ((mode, desc) <- Seq("string" -> TableDesc(buckets = 3),
        "hashed" -> TableDesc(buckets = 3, hashKeys = true),
        "binary" -> TableDesc(buckets = 3, rawKeyBinary = true))) {
      val binary = desc.rawKeyBinary
      val logical: Seq[Seq[Byte]] =
        if (binary) Seq.fill(12)(Array.fill(1 + rng.nextInt(3))(
          rng.nextInt(256).toByte).toSeq).distinct
        else (0 until 12).map(i => s"r$i".getBytes("UTF-8").toSeq)
      // the keys as the log stores them (and a scan emits them)
      def stored(k: Seq[Byte]): Seq[Byte] =
        if (desc.hashKeys) Codecs.hashedKey(new String(k.toArray, "UTF-8"))
          .getBytes("UTF-8").toSeq
        else k
      val dir = java.nio.file.Files.createTempDirectory(s"fuzz-bkt-$mode").toString
      val t = Graft.createTable(spark, dir, desc,
        Some(Set(OpType.Value, OpType.DelRow, OpType.DelQualifiers)))
      // four commits: each lands one file per touched bucket, and later
      // ones overwrite and delete what earlier ones wrote
      var seq = 0L
      val log = (0 until 4).flatMap { round =>
        val ops = logical.flatMap { k =>
          for {
            cf <- cfs; q <- Seq("q0", "q1", "q2")
            if rng.nextInt(10) < (if (round == 0) 8 else 3)
          } yield {
            seq += 1
            val kind = if (round == 0) 0 else rng.nextInt(12)
            if (kind == 0 && rng.nextInt(3) == 0 && round > 0)
              (k, "", "", 1L + rng.nextInt(6), OpType.DelRow, null, seq)
            else if (kind == 1)
              (k, cf, q, 1L + rng.nextInt(6), OpType.DelQualifiers, null, seq)
            else (k, cf, q, 1L + rng.nextInt(5), OpType.Value, randomValue(rng), seq)
          }
        }
        val df = ops.map { case (k, cf, q, ts, op, v, sq) =>
          (new String(k.toArray, "ISO-8859-1"), cf, q, ts, op, v, sq) }
          .toDF("row_key", "cf", "qualifier", "ts", "op", "value", "seq")
        t.put(if (binary) df.withColumn("row_key",
          org.apache.spark.sql.functions.encode(
            org.apache.spark.sql.functions.col("row_key"), "ISO-8859-1"))
        else df)
        ops.map { case (k, cf, q, ts, op, v, sq) => (stored(k), cf, q, ts, op, v, sq) }
      }

      /** The visible cells of the log at `snap` (max_versions = 1). */
      def resolved(snap: Option[Long]) = {
        val live = log.filter(o => snap.forall(o._7 <= _))
        val dels = live.filter(_._5 != OpType.Value)
        live.filter(_._5 == OpType.Value).filterNot { c =>
          dels.exists(d => d._1 == c._1 && d._7 > c._7 && d._4 >= c._4 &&
            (d._5 == OpType.DelRow || (d._2 == c._2 && d._3 == c._3)))
        }.groupBy(c => (c._1, c._2, c._3)).values.map(_.maxBy(c => (c._4, c._7))).toSeq
      }

      (1 to 25).foreach { trial =>
        val tree = if (rng.nextBoolean()) Some(randomTree(rng, 2, rowKeyLeaves = !binary))
          else None
        val cfSel = if (rng.nextInt(3) == 0) Seq(cfs(rng.nextInt(2))) else Nil
        val colSel = if (rng.nextInt(3) == 0)
          Seq((cfs(rng.nextInt(2)), s"q${rng.nextInt(3)}")) else Nil
        val tsR = if (rng.nextBoolean())
          Some((1L + rng.nextInt(3), 3L + rng.nextInt(3))) else None
        val maxQ = if (rng.nextInt(3) == 0) Some(rng.nextInt(2) + 1) else None
        val limit = if (rng.nextInt(4) == 0) Some(1 + rng.nextInt(8)) else None
        val snap = if (rng.nextBoolean()) Some(rng.nextLong(seq + 1)) else None
        def anyKey = logical(rng.nextInt(logical.size))
        val point = if (rng.nextInt(5) == 0) Some(anyKey) else None
        val start = if (point.isEmpty && rng.nextBoolean()) Some(anyKey) else None
        val stop = if (point.isEmpty && (start.isEmpty || rng.nextBoolean()))
          Some(anyKey) else None
        val resume = if (rng.nextInt(4) == 0) Some(stored(anyKey)) else None

        var q = t.scan
        def str(k: Seq[Byte]) = new String(k.toArray, "UTF-8")
        if (binary) {
          point.foreach(k => q = q.forRowBin(k.toArray))
          start.foreach(k => q = q.withStartBin(k.toArray))
          stop.foreach(k => q = q.withStopBin(k.toArray))
          resume.foreach(k => q = q.withResumeAfterBin(k.toArray))
        } else {
          point.foreach(k => q = q.forRow(str(k)))
          start.foreach(k => q = q.withStart(str(k)))
          stop.foreach(k => q = q.withStop(str(k)))
          resume.foreach(k => q = q.withResumeAfter(str(k)))
        }
        tree.foreach(f => q = q.withFilter(f))
        cfSel.foreach(cf => q = q.addColumnFamily(cf))
        colSel.foreach { case (cf, c) => q = q.addColumn(cf, c) }
        tsR.foreach { case (a, b) => q = q.withTimeRange(a, b) }
        maxQ.foreach(k => q = q.withMaxQualifiers(k))
        limit.foreach(n => q = q.withLimit(n))
        snap.foreach(s => q = q.withSnapshot(s))
        val df = q.run()
        def cells(rows: Seq[org.apache.spark.sql.Row]) = rows.map(r => (
          (if (binary) r.getAs[Array[Byte]](0).toSeq else r.getString(0).getBytes("UTF-8").toSeq),
          r.getString(1), r.getString(2), r.getLong(3), r.getAs[Array[Byte]](4).toSeq))
        val (got, jobs) = JobCount.during(spark)(cells(df.collect().toSeq))
        val what = s"$mode trial $trial (point=$point start=$start stop=$stop " +
          s"resume=$resume snap=$snap cf=$cfSel col=$colSel ts=$tsR maxQ=$maxQ " +
          s"limit=$limit tree=$tree)"
        assert(jobs == 0, s"$what: driver collect ran $jobs jobs")
        assert(got == cells(df.rdd.collect().toSeq), s"$what: rdd differs")

        // reference: bounds in storage space, verdict, projection, ts
        // range, qualifier cap, key order, limit
        val inRange = resolved(snap).filter { c =>
          point.forall(p => c._1 == stored(p)) &&
            start.forall(s => cmpU(c._1, stored(s)) >= 0) &&
            stop.forall(s => cmpU(c._1, stored(s)) < 0) &&
            resume.forall(s => cmpU(c._1, s) > 0)
        }
        val byRow = inRange.groupBy(_._1)
        val passing = inRange.filter(c => tree.forall(f => evalVerdict(f,
          new String(c._1.toArray, "UTF-8"),
          byRow(c._1).map(o => (o._2, o._3) -> o._6).toMap)))
        val projected = passing.filter(c => (cfSel.isEmpty && colSel.isEmpty) ||
          cfSel.contains(c._2) || colSel.contains((c._2, c._3)))
        val timed = projected.filter(c => tsR.forall { case (a, b) => c._4 >= a && c._4 <= b })
        val capped = maxQ.fold(timed) { k =>
          timed.groupBy(c => (c._1, c._2)).values.flatMap { cs =>
            val keep = cs.map(_._3).distinct.sorted.take(k).toSet
            cs.filter(c => keep(c._3))
          }.toSeq
        }
        val sorted = capped.sortWith { (a, b) =>
          val k = cmpU(a._1, b._1)
          if (k != 0) k < 0
          else Ordering[(String, String, Long)].lt((a._2, a._3, -a._4), (b._2, b._3, -b._4))
        }
        val want = limit.fold(sorted)(sorted.take).map(c => (c._1, c._2, c._3, c._4, c._6.toSeq))
        assert(got == want, s"$what\ngot:  $got\nwant: $want")
      }
    }
  }

  test("filter-tree verdicts match the in-memory evaluator on 40 random scans") {
    import spark.implicits._
    val rng = new scala.util.Random(20260814L)
    (1 to 40).foreach { trial =>
      val cells = randomCells(rng)
      val tree = randomTree(rng, 2)
      val got = ScanQuery(cells.toDF()).withFilter(tree).run()
        .select("row_key").distinct()
        .collect().map(_.getString(0)).toSet
      val byRow = cells.groupBy(_.row_key)
      val want = byRow.collect {
        case (rk, cs) if evalVerdict(tree, rk,
          cs.map(c => (c.cf, c.qualifier) -> c.value).toMap) => rk
      }.toSet
      assert(got == want,
        s"trial $trial verdict divergence\ntree: $tree\n" +
          s"only-spark: ${got -- want}\nonly-ref: ${want -- got}")
    }
  }
}
