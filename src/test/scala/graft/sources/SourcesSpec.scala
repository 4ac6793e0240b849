package graft.sources

import graft.SparkTestBase
import graft.velib.EnrichJob
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Source-side coverage: the GBFS-style nested JSON dimension read
  * (SURVEY.md S2/S12/P14), the dimension-enrichment join (J4), and
  * shuffle-free bucketed co-located joins (the 100 TB fact-fact path).
  */
class SourcesSpec extends SparkTestBase {
  import spark.implicits._

  test("Sessions: env-driven S3A config parity; local-FS fallback is a no-op") {
    // mirrors resources.py's env contract without a live store
    val env = Map(
      "S3_ENDPOINT_URL" -> "http://localhost:9000",
      "AWS_ACCESS_KEY_ID" -> "minio",
      "AWS_SECRET_ACCESS_KEY" -> "minio123")
    val store = Sessions.fromEnv(env)
    assert(store.contains(Sessions.ObjectStore(
      "http://localhost:9000", "minio", "minio123")))
    // missing any var => local-FS fallback (None, builder untouched)
    assert(Sessions.fromEnv(env - "AWS_SECRET_ACCESS_KEY").isEmpty)
    // applyTo a live session: public fs.s3a.* keys land in hadoopConf;
    // local paths keep resolving through the default FS regardless
    Sessions.applyTo(spark, store.get)
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc.get("fs.s3a.endpoint") == "http://localhost:9000")
    assert(hc.get("fs.s3a.path.style.access") == "true")
    assert(hc.get("fs.s3a.impl") == "org.apache.hadoop.fs.s3a.S3AFileSystem")
    val dir = tempDir("local_fallback")
    Seq((1, "a")).toDF("id", "v").write.mode("overwrite").parquet(dir.toString)
    assert(spark.read.parquet(dir.toString).count() == 1)
  }

  test("S12+P14: multiLine nested JSON -> explode -> dimension join (J4)") {
    val dir = tempDir("gbfs")
    val json =
      """{"data": {"stations": [
        |  {"station_id": "A", "name": "Alpha", "capacity": 20, "lat": 48.8, "lon": 2.3},
        |  {"station_id": "B", "name": "Beta",  "capacity": 30, "lat": 48.9, "lon": 2.4},
        |  {"station_id": "Z", "name": "Zombie", "capacity": 10, "lat": 48.7, "lon": 2.2}
        |]}, "last_updated": 1700000000}""".stripMargin
    Files.writeString(dir.resolve("station_information.json"), json)
    val nested = spark.read.option("multiLine", true).json(dir.toString)
    val dim = nested.select(explode(col("data.stations")).as("s"))
      .select(col("s.station_id").as("station_id"), col("s.name").as("name"),
        col("s.capacity").as("capacity"))
    assert(dim.count() == 3)

    val status = Seq(("A", "stale-name", 5), ("B", "stale-name", 2),
      ("A", "stale-name", 7))
      .toDF("station_code", "station_name", "bikes_available")
    val enriched = EnrichJob.withDimension(status, dim)
    val names = enriched.select("station_code", "station_name")
      .distinct().as[(String, String)].collect().toMap
    assert(names == Map("A" -> "Alpha", "B" -> "Beta"))
    // a station missing from the dimension keeps a null name (left join)
    val orphan = EnrichJob.withDimension(
      Seq(("X", "n", 1)).toDF("station_code", "station_name", "bikes_available"),
      dim)
    assert(orphan.select("station_name").first().isNullAt(0))
  }

  test("S7: CSV and ORC round-trip the events slice losslessly") {
    // multi-format parity beyond parquet/JSON: same rows through each
    // format, schemas pinned on read (CSV needs the explicit schema —
    // inferSchema is a full extra pass at 100 TB and type-unstable)
    val ev = graft.Tables.events(spark, sf0001)
      .select("event_id", "user_id", "event_type", "value")
    val expected = ev.orderBy("event_id").collect()

    val csvDir = tempDir("csv").toString
    ev.write.mode("overwrite").option("header", "true").csv(csvDir)
    val csvBack = spark.read.schema(ev.schema)
      .option("header", "true").csv(csvDir)
    assert(csvBack.orderBy("event_id").collect().sameElements(expected))

    val orcDir = tempDir("orc").toString
    ev.write.mode("overwrite").orc(orcDir)
    val orcBack = spark.read.orc(orcDir)
    assert(orcBack.orderBy("event_id").collect().sameElements(expected))
    // ORC carries its own schema; predicate pushdown stays available
    assert(orcBack.schema == ev.schema)
  }

  test("writer knobs: maxRecordsPerFile bounds file size, zstd round-trips") {
    // the two write-side controls a 100 TB pipeline sets on every sink:
    // bounded records per file (no gigafile stragglers; compaction's
    // write-time complement) and a modern codec
    val dir = tempDir("writer").toString
    val df = spark.range(1000).toDF("id")
    df.coalesce(1).write.mode("overwrite")
      .option("maxRecordsPerFile", 100)
      .option("compression", "zstd")
      .parquet(dir)
    val files = new java.io.File(dir).listFiles
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.length >= 10, s"expected >= 10 bounded files, got ${files.length}")
    assert(files.forall(_.getName.contains(".zstd.")), "zstd codec in file names")
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    assert(back.agg(sum(col("id"))).first().getLong(0) == 499500L)
  }

  test("binaryFile source ingests opaque payloads with glob filtering") {
    // the real ingestion path for an image/audio corpus: whole files as
    // (path, modificationTime, length, content) rows, extension-filtered
    // at the source so non-media files never enter the pipeline
    val dir = tempDir("binfiles")
    java.nio.file.Files.write(dir.resolve("a.img"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("b.img"), Array[Byte](4, 5))
    java.nio.file.Files.write(dir.resolve("skip.txt"), Array[Byte](9))
    val media = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.img")
      .load(dir.toString)
    assert(media.columns.toSet ==
      Set("path", "modificationTime", "length", "content"))
    val rows = media.select("path", "length", "content")
      .collect().map(r => (r.getString(0).split('/').last,
        r.getLong(1), r.getAs[Array[Byte]](2).toSeq)).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq("a.img", "b.img")) // .txt filtered
    assert(rows(0)._3 == Seq[Byte](1, 2, 3) && rows(0)._2 == 3L)
    // feeds straight into the MediaRow pipeline (m02/m04 decode shapes)
    import org.apache.spark.sql.functions.monotonically_increasing_id
    val asMedia = media.select(
      monotonically_increasing_id().as("doc_id"),
      org.apache.spark.sql.functions.lit("image").as("kind"),
      org.apache.spark.sql.functions.col("content").as("payload"))
      .as[graft.ops.MediaRow]
    assert(graft.ops.MediaOps.resizeMedia(asMedia, 2).count() == 2)
  }

  test("S12: corrupt JSON records are captured, not fatal (PERMISSIVE)") {
    // at 100 TB some records WILL be malformed; the job must keep going
    // and quarantine them, not die (PERMISSIVE + columnNameOfCorruptRecord)
    val dir = tempDir("corrupt")
    java.nio.file.Files.write(dir.resolve("part.json"),
      Seq(
        """{"id": 1, "v": "ok"}""",
        """{"id": 2, "v": """,          // truncated — malformed
        """{"id": 3, "v": "also ok"}""")
        .mkString("\n").getBytes("UTF-8"))
    val schema = "id LONG, v STRING, _corrupt_record STRING"
    val read = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString)
    // Spark disallows querying ONLY the corrupt column on the raw scan —
    // collect the parsed batch once and assert on it (prod: cache/save
    // then split good/quarantine)
    val rows = read.collect()
    assert(rows.length == 3)
    assert(rows.count(!_.isNullAt(2)) == 1) // quarantined, job alive
    assert(rows.count(_.isNullAt(2)) == 2)
    // DROPMALFORMED: the strict-ingest variant skips them entirely
    val dropped = spark.read.schema("id LONG, v STRING")
      .option("mode", "DROPMALFORMED").json(dir.toString)
    assert(dropped.count() == 2)
  }

  test("S10/P12: date filter partition-prunes a partitioned table scan") {
    val dir = tempDir("prune").toFile.getAbsolutePath + "/t"
    Seq(("A", 1, "2024-01-01"), ("B", 2, "2024-01-02"), ("C", 3, "2024-01-03"))
      .toDF("station_code", "bikes_available", "d")
      .withColumn("date", col("d").cast("date")).drop("d")
      .write.partitionBy("date").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("date") >= lit("2024-01-02").cast("date"))
    // Catalyst prunes at the file-listing level: only the two matching
    // date= partitions are read (subsumes the reference's hand-built
    // today/yesterday path list, SURVEY.md §4)
    // collect() (not count(): that builds a fresh plan) so the metrics
    // below come from this exact execution
    assert(pruned.collect().length == 2)
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.head.metrics("numFiles").value == 2,
      s"expected 2 files read, got ${scans.head.metrics("numFiles").value}")
    assert(scans.head.metadata("PartitionFilters").nonEmpty)
  }

  test("z-order layout: a 2-D query box prunes to the intersecting buckets") {
    import graft.sources.ZOrder
    val dir = tempDir("zorder").toFile.getAbsolutePath
    // full 256x256 grid, one row per cell — every bucket exactly 1024 rows
    val base = spark.range(65536).select(
      expr("id div 256").as("x"), (col("id") % 256).as("y"))
    val (bits, bb) = (8, 3) // 8x8 buckets over the 256x256 domain
    base.withColumn("zb",
        ZOrder.bucket(ZOrder.zCol(col("x"), col("y"), bits), bits, bb))
      .repartition(col("zb"))
      .write.partitionBy("zb").parquet(s"$dir/z")
    // 1-D layout: directories on x only; y spread across files inside
    base.withColumn("xb", expr("x div 32")).withColumn("yb", expr("y div 32"))
      .repartition(64, col("xb"), col("yb"))
      .write.partitionBy("xb").parquet(s"$dir/linear")
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      assert(df.collect().length == 65536 / 8) // y-stripe = 1/8 of rows
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.head.metrics("numFiles").value
    }
    // query box: the y < 32 stripe (predicate on the NON-leading dim)
    val buckets = ZOrder.bucketsFor(0, 255, 0, 31, bits, bb)
    assert(buckets.size == 8) // one row of the 8x8 grid
    val zFiles = filesRead(spark.read.parquet(s"$dir/z")
      .filter(col("zb").isin(buckets: _*) && col("y") < 32))
    val linFiles = filesRead(
      spark.read.parquet(s"$dir/linear").filter(col("y") < 32))
    // z-order: file listing prunes to the 8 intersecting cells; the
    // x-sorted layout must read every file (y spans the full range in
    // each) — the EITHER-dimension pruning 1-D sorting cannot give
    assert(zFiles == 8, s"expected 8 z-bucket files, read $zFiles")
    assert(zFiles * 3 <= linFiles,
      s"z-order should prune vs linear: z=$zFiles linear=$linFiles")
  }

  test("schema evolution: mergeSchema unions old and new partition schemas") {
    val dir = tempDir("evolve").toFile.getAbsolutePath + "/t"
    // old partition: no ebike column; new partition adds it
    Seq(("A", 5)).toDF("station_code", "bikes_available")
      .write.parquet(s"$dir/date=2024-01-01")
    Seq(("B", 3, 2)).toDF("station_code", "bikes_available", "ebike")
      .write.parquet(s"$dir/date=2024-01-02")
    val merged = spark.read.option("mergeSchema", true)
      .option("basePath", dir).parquet(dir)
    assert(merged.columns.toSet ==
      Set("station_code", "bikes_available", "ebike", "date"))
    val byCode = merged.select("station_code", "ebike")
      .as[(String, Option[Int])].collect().toMap
    assert(byCode == Map("A" -> None, "B" -> Some(2))) // old rows null-fill
  }

  test("q15 five-way join plans all dimension joins as broadcasts") {
    val df = graft.ops.CoreOps.q15RevenueByNation(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"dimension joins should broadcast at this scale:\n$plan")
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("q13 aggregation is partial+final (map-side combine)") {
    val df = graft.ops.CoreOps.q13PricingSummary(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"),
      s"expected partial aggregation before the shuffle:\n$plan")
  }

  test("J1 semi-join reduction plans as a broadcast semi join") {
    val df = graft.ops.CoreOps.q06SemiJoin(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected LeftSemi in:\n$plan")
    assert(plan.contains("Broadcast"), s"expected broadcast join in:\n$plan")
  }

  test("upsertPartitions: dynamic overwrite touches only the updated partitions") {
    val dir = tempDir("upsert").toFile.getAbsolutePath + "/t"
    def mk(rows: Seq[(String, Int, String)]) =
      rows.toDF("station_code", "bikes_available", "d")
        .withColumn("date", col("d").cast("date")).drop("d")
    mk(Seq(("A", 1, "2024-01-01"), ("B", 2, "2024-01-02")))
      .write.partitionBy("date").parquet(dir)
    // update day 2, add day 3; day 1 must survive untouched
    Lakehouse.upsertPartitions(
      mk(Seq(("B", 99, "2024-01-02"), ("C", 3, "2024-01-03"))), dir)
    val got = spark.read.parquet(dir)
      .select("station_code", "bikes_available")
      .as[(String, Int)].collect().toSet
    assert(got == Set(("A", 1), ("B", 99), ("C", 3)))
  }

  test("compactPartition: many small files become one, same rows") {
    val dir = tempDir("compact").toFile.getAbsolutePath + "/t"
    val df = (1 to 40).map(i => (s"S$i", i, "2024-01-01")).toSeq
      .toDF("station_code", "bikes_available", "d")
      .withColumn("date", col("d").cast("date")).drop("d")
    df.repartition(8).write.partitionBy("date").parquet(dir)
    val (before, after) =
      Lakehouse.compactPartition(spark, dir, "date=2024-01-01")
    assert(before >= 8 && after == 1)
    assert(spark.read.parquet(dir).count() == 40)
  }

  test("bucketed co-located join: no shuffle exchange in the plan") {
    val db = "graft_bucketed_test"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    try {
      graft.Tables.orders(spark, sf0001)
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"$db.orders_b")
      graft.Tables.customer(spark, sf0001)
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(s"$db.customer_b")
      // broadcast off so the join would otherwise need a shuffle
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(s"$db.orders_b")
        .join(spark.table(s"$db.customer_b"),
          col("o_custkey") === col("c_custkey"))
      val physical = j.queryExecution.executedPlan.toString
      assert(!physical.contains("Exchange"),
        s"bucketed join should be shuffle-free, got:\n$physical")
      assert(j.count() ==
        graft.Tables.orders(spark, sf0001).join(
          graft.Tables.customer(spark, sf0001),
          col("o_custkey") === col("c_custkey")).count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }
}
