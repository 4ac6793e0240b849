package graft

import graft.functions.GraftHash
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Property-based coverage (SURVEY.md §5.3). Kernel properties are pure;
  * the Spark-backed dedup property keeps the iteration count small.
  */
object GraftProps extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(40)

  private val asciiText: Gen[String] =
    Gen.chooseNum(1, 120).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.const(' '))))

  property("minhash signature has NumHashes elements in [0, P)") =
    Prop.forAll(asciiText) { s =>
      val sig = GraftHash.signature(UTF8String.fromString(s))
      sig.numElements() == GraftHash.NumHashes &&
        (0 until sig.numElements()).forall { i =>
          val v = sig.getLong(i); v >= 0 && v < GraftHash.P
        }
    }

  property("appending a suffix never raises any minhash (shingle subset)") =
    // only meaningful once `a` holds at least one full shingle: shorter
    // texts hash their padded remainder, which the suffix rewrites
    Prop.forAll(asciiText, asciiText) { (a, suffix) =>
      import org.scalacheck.Prop.propBoolean
      (a.length >= GraftHash.ShingleLen) ==> {
        val s1 = GraftHash.signature(UTF8String.fromString(a))
        val s2 = GraftHash.signature(UTF8String.fromString(a + suffix))
        (0 until GraftHash.NumHashes).forall(i => s2.getLong(i) <= s1.getLong(i))
      }
    }

  property("identical texts have identical signatures (dedup soundness)") =
    Prop.forAll(asciiText) { s =>
      val a = GraftHash.signature(UTF8String.fromString(s))
      val b = GraftHash.signature(UTF8String.fromString(s))
      (0 until GraftHash.NumHashes).forall(i => a.getLong(i) == b.getLong(i))
    }

  property("TopKAgg buffer equals sort-take-k under any insertion order") =
    Prop.forAll(Gen.listOf(Gen.zip(
      Gen.chooseNum(-10.0, 10.0), Gen.chooseNum(0L, 50L)))) { entries =>
      val k = 5
      val agg = graft.functions.TopKAgg(
        org.apache.spark.sql.catalyst.expressions.Literal(0.0),
        org.apache.spark.sql.catalyst.expressions.Literal(0L), k)
      val buf = agg.createAggregationBuffer()
      entries.foreach { e =>
        buf.enqueue(e); if (buf.size > k) buf.dequeue()
      }
      val got = buf.toArray.sortBy { case (s, i) => (-s, i) }.toSeq
      val want = entries.sortBy { case (s, i) => (-s, i) }.take(k)
      got == want
    }

  property("sortedCommon equals set-intersection size on sorted arrays") =
    Prop.forAll(Gen.listOf(Gen.stringOfN(3, Gen.alphaChar)),
      Gen.listOf(Gen.stringOfN(3, Gen.alphaChar))) { (a, b) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      def arr(xs: List[String]) = new GenericArrayData(
        xs.distinct.sorted.map(UTF8String.fromString).toArray[Any])
      GraftHash.sortedCommon(arr(a), arr(b)) ==
        (a.toSet & b.toSet).size.toLong
    }

  property("shingleSet equals the brute-force code-point shingler") = {
    // well-formed pieces only (no stray surrogates): ascii, BMP accents,
    // and supplementary-plane emoji — the code-unit trap for shinglers
    val piece = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)),
      Gen.const(" "), Gen.const("é"), Gen.const("漢"),
      Gen.const("😀"), Gen.const("🚀"))
    val text = Gen.chooseNum(1, 25)
      .flatMap(n => Gen.listOfN(n, piece).map(_.mkString))
    Prop.forAll(text) { s =>
      val k = 8
      val cps = s.codePoints().toArray
      val n = math.max(cps.length - (k - 1), 1)
      val brute = (0 until n)
        .map(i => new String(cps, i, math.min(k, math.max(cps.length - i, 0))))
        .distinct
      val got = GraftHash.shingleSet(UTF8String.fromString(s), k)
      (0 until got.numElements()).map(got.getUTF8String(_).toString) == brute
    }
  }

  property("long dot product is commutative and linear in scaling") =
    Prop.forAll(Gen.listOfN(8, Gen.chooseNum(-1000L, 1000L)),
      Gen.listOfN(8, Gen.chooseNum(-1000L, 1000L))) { (a, b) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val (aa, bb) = (new GenericArrayData(a.toArray), new GenericArrayData(b.toArray))
      val doubled = new GenericArrayData(a.map(_ * 2).toArray)
      GraftHash.dot(aa, bb) == GraftHash.dot(bb, aa) &&
        GraftHash.dot(doubled, bb) == 2 * GraftHash.dot(aa, bb)
    }

  property("prefix-filter principle holds at every rational threshold") =
    // the mathematical core of d20/d23's losslessness, tested at the
    // lemma level (no Spark): under the global (df asc, elem asc)
    // order, ANY pair with Jaccard >= num/den shares an element inside
    // both prefixes of length n - ceil(t*n) + 1, and its FIRST shared
    // prefix match passes the positional upper-bound filter
    Prop.forAll(
      Gen.listOfN(6, Gen.nonEmptyListOf(Gen.chooseNum(0, 19)).map(_.toSet)),
      Gen.oneOf((1, 2), (3, 5), (2, 3), (3, 4), (4, 5))) { (sets, t) =>
      val (num, den) = t
      val df = sets.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def ranked(s: Set[Int]): Seq[Int] =
        s.toSeq.sortBy(e => (df(e), e))
      def prefix(s: Set[Int]): Set[Int] = {
        val n = s.size
        val plen = n - ((num * n + den - 1) / den) + 1
        ranked(s).take(plen).toSet
      }
      sets.combinations(2).forall { case Seq(a, b) =>
        val inter = (a intersect b).size
        val union = (a union b).size
        val isPair = den * inter >= num * union
        if (!isPair) true
        else {
          val shared = prefix(a) intersect prefix(b)
          shared.nonEmpty && {
            // positional bound at the first shared match (global order)
            val first = shared.toSeq.minBy(e => (df(e), e))
            val ra = ranked(a).indexOf(first) + 1
            val rb = ranked(b).indexOf(first) + 1
            val ub = math.min(a.size - ra, b.size - rb) + 1
            ub * (num + den) >= num * (a.size + b.size)
          }
        }
      }
    }

  property("graft_pos_hashes: one hash per position, all in [0, P)") =
    Prop.forAll(asciiText) { s =>
      val hs = GraftHash.posHashes(UTF8String.fromString(s), 8)
      val cps = s.codePoints().toArray.length
      hs.numElements() == math.max(cps - 7, 1) &&
        (0 until hs.numElements()).forall { i =>
          val v = hs.getLong(i); v >= 0 && v < GraftHash.P
        }
    }
}

/** Spark-backed properties: latest-per-key dedup (W1) and sessionization
  * invariants on generated event sets. Few iterations — each runs jobs.
  */
object SparkWindowProps extends Properties("spark-windows") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val eventsGen: Gen[List[(String, Long, Long, Int)]] =
    Gen.chooseNum(1, 60).flatMap { n =>
      Gen.listOfN(n, for {
        key <- Gen.oneOf("A", "B", "C")
        ts <- Gen.chooseNum(0L, 20000L)
        seq <- Gen.chooseNum(0L, 1000000L)
        v <- Gen.chooseNum(0, 50)
      } yield (key, ts, seq, v))
    }

  property("W1 latest-per-key keeps exactly one row per key, the max (ts, seq)") =
    Prop.forAll(eventsGen) { rows =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val df = rows.toDF("key", "ts", "seq", "v")
      val w = Window.partitionBy(col("key"))
        .orderBy(col("ts").desc, col("seq").desc)
      val got = df.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1).drop("rnk")
        .as[(String, Long, Long, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val want = rows.groupBy(_._1).map { case (k, rs) =>
        k -> rs.map(r => (r._2, r._3)).max
      }
      got == want
    }

  // per-station feeds: equal timestamps (10-min grid, a 1h frame edge
  // on the grid, an occasional 1us offset), exact re-sends (a row
  // repeated verbatim, seq included) and values of one sign per station,
  // up to Int.MinValue / Int.MaxValue, so net_flow cannot overflow
  private val feedGen: Gen[List[(String, Option[Int], Long, Long)]] =
    Gen.chooseNum(1, 40).flatMap { n =>
      Gen.listOfN(n, for {
        key <- Gen.oneOf("A", "B", "C")
        slot <- Gen.chooseNum(0, 12)
        nudge <- Gen.frequency(4 -> Gen.const(0L), 1 -> Gen.const(1L))
        mag <- Gen.frequency(2 -> Gen.chooseNum(0, 50),
          2 -> Gen.chooseNum(0, Int.MaxValue),
          1 -> Gen.oneOf(0, Int.MaxValue))
        isNull <- Gen.frequency(9 -> false, 1 -> true)
        resend <- Gen.frequency(4 -> false, 1 -> true)
      } yield (key, slot * 600000000L + nudge,
        if (isNull) None else Some(if (key == "B") -mag - 1 else mag), resend))
    }.map { rows =>
      rows.zipWithIndex.flatMap { case ((k, us, v, resend), i) =>
        val row = (k, v, us, i.toLong)
        if (resend) List(row, row) else List(row)
      }
    }

  /** EnrichJob.enrich written out with the oracle SQL's formula: decimal
    * sums, lag ordered by (last_reported, seq), RANGE frames on micros.
    */
  private def referenceEnrich(silver: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val byStation = Window.partitionBy(col("station_code"))
    val ordered = byStation.orderBy(col("last_reported"), col("seq"))
    val byMicros = byStation.orderBy(unix_micros(col("last_reported")))
    def avg(w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(col("bikes_available").cast(
          org.apache.spark.sql.types.DecimalType(28, 6)))
        .over(w).cast("double") / count(col("bikes_available")).over(w)
    silver.select(col("*"),
      (col("bikes_available") - lag(col("bikes_available"), 1).over(ordered))
        .as("net_flow"),
      avg(byMicros.rangeBetween(-3600L * 1000000L, 0L)).as("moving_avg_1h"),
      avg(byMicros.rangeBetween(Window.unboundedPreceding, 0L))
        .as("baseline_avg"),
      to_date(col("last_reported")).as("date"))
  }

  /** Rows as strings with every double by its raw bits, sorted. */
  private def rawBits(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
      case other => String.valueOf(other)
    }.mkString("|")).toSeq.sorted

  private def silverOf(rows: Seq[(String, Option[Any], Long, Long)],
      valueType: String) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = StructType.fromDDL("station_code STRING, " +
      s"bikes_available $valueType, us BIGINT, seq BIGINT")
    val data = rows.map { case (k, v, us, q) =>
      org.apache.spark.sql.Row(k, v.orNull, us, q) }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
      .select(col("station_code"), col("station_code").as("station_name"),
        col("bikes_available"), lit(0L).as("docks_available"),
        timestamp_micros(lit(1709287200000000L) + col("us"))
          .as("last_reported"), col("seq"))
  }

  property("EnrichJob.enrich is bit-identical to the decimal-sum chain " +
      "on INT feeds (ties, re-sends, extremes)") =
    Prop.forAll(feedGen) { rows =>
      val silver = silverOf(rows, "INT")
      rawBits(graft.velib.EnrichJob.enrich(silver,
          org.apache.spark.sql.functions.col("seq"))) ==
        rawBits(referenceEnrich(silver))
    }

  property("EnrichJob.enrich is bit-identical to the decimal-sum chain " +
      "on DOUBLE feeds") =
    Prop.forAll(feedGen, Gen.chooseNum(1, 1000000)) { (rows, scale) =>
      // fractional values inside DECIMAL(28,6)'s range
      val silver = silverOf(rows.map { case (k, v, us, q) =>
        (k, v.map(_.toDouble / scale), us, q) }, "DOUBLE")
      rawBits(graft.velib.EnrichJob.enrich(silver,
          org.apache.spark.sql.functions.col("seq"))) ==
        rawBits(referenceEnrich(silver))
    }

  property("p04 packing: two-phase prefix sum equals the naive global scan") =
    // arbitrary token counts, arbitrary group size: shard assignment must
    // equal floor(exclusive_running_sum / budget) computed sequentially
    Prop.forAll(
      Gen.listOfN(30, Gen.chooseNum(0L, 200L)),
      Gen.chooseNum(1L, 8L),
      Gen.chooseNum(50L, 400L)) { (toks, grpSize, budget) =>
      import spark.implicits._
      val docs = toks.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "n_tokens")
      val got = graft.ops.PipelineOps.packByBudget(docs, budget, grpSize)
        .select("doc_id", "shard_id")
        .as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq
      val want = toks.scanLeft(0L)(_ + _).init.map(_ / budget)
      got == want
    }

  property("p06 chunkDocs: full coverage, no redundant window, size cap") =
    // drives the REAL operator (PipelineOps.chunkDocs) over arbitrary
    // doc lengths and size/stride configs: windows must cover every
    // token, each add >= 1 new token, and never exceed the chunk size
    Prop.forAll(
      Gen.chooseNum(1, 120),
      Gen.chooseNum(2, 40).flatMap(s =>
        Gen.chooseNum(1, s - 1).map(st => (s, st)))) { case (n, (size, stride)) =>
      {
        import spark.implicits._
        val text = (0 until n).map(i => s"t$i").mkString(" ")
        val docs = Seq((1L, text)).toDF("doc_id", "text")
        val chunks = graft.ops.PipelineOps.chunkDocs(docs, size, stride)
          .select("start", "n_chunk_tokens").as[(Long, Long)]
          .collect().sortBy(_._1)
        val windows = chunks.map { case (s, len) => (s + 1, s + len) }
        val covered = windows.head._1 == 1L && windows.last._2 == n.toLong &&
          windows.sliding(2).forall {
            case Array((_, e1), (a2, _)) => a2 <= e1 + 1
            case _ => true
          }
        val progressive = windows.sliding(2).forall {
          case Array((_, e1), (_, e2)) => e2 > e1
          case _ => true
        }
        val capped = chunks.forall(_._2 <= size)
        covered && progressive && capped
      }
    }

  property("d07 propagation: r rounds reach exactly r hops on a path graph") =
    // planted chain 0-1-...-(n-1) with diameter n-1 > 4: after r rounds
    // vertex i holds max(0, i - r) — components of diameter <= r converge,
    // longer chains under-merge by exactly this bound (d07's documented
    // fixed-round contract; the oracle unrolls the same 4 rounds)
    Prop.forAll(Gen.chooseNum(6, 14), Gen.chooseNum(1, 6)) { (n, rounds) =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      val edges = pairs.toDF("v", "u")
        .union(pairs.map(_.swap).toDF("v", "u"))
      val got = graft.ops.DedupOps.minLabelPropagate(edges, rounds)
        .select(col("doc_id"), col("label"))
        .as[(Long, Long)].collect().toMap
      (0L until n.toLong).forall(i => got(i) == math.max(0L, i - rounds))
    }

  property("sessionization: gaps within a session <= timeout, across > timeout") =
    Prop.forAll(eventsGen) { rows =>
      import spark.implicits._
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val timeout = 500L
      val w = Window.partitionBy(col("key")).orderBy(col("ts"), col("seq"))
      val sess = rows.toDF("key", "ts", "seq", "v")
        .withColumn("gap", col("ts") - lag(col("ts"), 1).over(w))
        .withColumn("brk",
          when(col("gap").isNull || col("gap") > timeout, 1).otherwise(0))
        .withColumn("sess_id",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("key", "ts", "seq", "gap", "sess_id")
        .as[(String, Long, Long, Option[Long], Long)].collect()
      sess.groupBy(_._1).forall { case (_, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        sorted.sliding(2).forall {
          case Array(a, b) =>
            val gap = b._2 - a._2
            if (b._5 == a._5) gap <= timeout else gap > timeout
          case _ => true
        }
      }
    }

  property("ZOrder.bucketsFor = exactly the grid cells the box intersects") =
    Prop.forAll(
      Gen.chooseNum(0L, 255L), Gen.chooseNum(0L, 255L),
      Gen.chooseNum(0L, 255L), Gen.chooseNum(0L, 255L)) { (a1, a2, b1, b2) =>
      import graft.sources.ZOrder
      val (bits, bb) = (8, 3)
      val (aLo, aHi) = (math.min(a1, a2), math.max(a1, a2))
      val (bLo, bHi) = (math.min(b1, b2), math.max(b1, b2))
      val got = ZOrder.bucketsFor(aLo, aHi, bLo, bHi, bits, bb).toSet
      // brute force: a cell is in iff some point of the box z-buckets to it
      val cell = 1L << (bits - bb)
      val expected = (for {
        a <- aLo to aHi; b <- bLo to bHi
      } yield ZOrder.zValue(a / cell, b / cell, bb)).toSet
      got == expected
    }

  private val edgeSetGen: Gen[List[(Long, Long)]] =
    Gen.chooseNum(0, 25).flatMap { n =>
      Gen.listOfN(n, for {
        a <- Gen.chooseNum(0L, 11L)
        b <- Gen.chooseNum(0L, 11L)
      } yield (math.min(a, b), math.max(a, b)))
    }.map(_.filter { case (a, b) => a < b }.distinct)

  property("g05 link prediction equals the brute-force recount on " +
      "random graphs") =
    Prop.forAll(edgeSetGen) { es =>
      import spark.implicits._
      import org.scalacheck.Prop.propBoolean
      (es.nonEmpty) ==> {
        val strict = es.toDF("doc_a", "doc_b")
        val got = graft.ops.GraphOps.linkPrediction(strict, strict)
          .collect().map(r => (r.getAs[Long]("doc_x"),
            r.getAs[Long]("doc_y")) -> ((r.getAs[Long]("n_common"),
            r.getAs[Long]("deg_x"), r.getAs[Long]("deg_y")))).toMap
        graft.Caches.unpersistAll()
        // brute force: adjacency sets over the same ids
        val adj = (es.flatMap { case (a, b) => Seq(a -> b, b -> a) })
          .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
        val nodes = adj.keys.toSeq.sorted
        val want = (for {
          x <- nodes; y <- nodes if x < y
          if !es.contains((x, y))
          common = (adj(x) intersect adj(y)).size if common > 0
        } yield (x, y) -> ((common.toLong, adj(x).size.toLong,
          adj(y).size.toLong))).toMap
        got == want
      }
    }
}
