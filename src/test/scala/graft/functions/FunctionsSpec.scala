package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The codegen'd kernels must be value-identical to the built-in HOF
  * formulations they replaced (which is what the DuckDB oracle still
  * states).
  */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_minhash equals the conv(md5)/universal-hash HOF chain") {
    GraftFunctions.register(spark)
    val p = GraftHash.P
    // the last two rows hold supplementary-plane chars (emoji, CJK-ext):
    // Spark's substring counts CODE POINTS, so the JVM kernel must too —
    // a UTF-16 code-unit shingler diverges on exactly these
    val texts = Seq("the quick brown fox jumps", "ab", "x" * 200, "déjà vu ok",
      "caf😀 latte 🚀 rocket emoji pad",
      "₻7𤋮 mixed 💩 planes here")
      .toDF("text")
    val hx = s"transform(array_distinct(transform(sequence(1, " +
      s"greatest(length(text)-7, 1)), i -> substring(text, i, 8))), " +
      s"s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % $p)"
    val mhs = (0 until GraftHash.NumHashes).map(i =>
      s"array_min(transform($hx, h -> ((${37 + 61 * i} * h + ${91 + 53 * i}) % $p)))")
    val both = texts.selectExpr(
      "graft_minhash(text) AS fast",
      mhs.mkString("array(", ", ", ") AS slow"))
    assert(both.filter(col("fast") =!= col("slow")).count() == 0)
  }

  test("graft_shingles equals array_distinct(transform(substring)), any plane") {
    GraftFunctions.register(spark)
    // same supplementary-plane coverage as the minhash spec: the kernel
    // must shingle by CODE POINTS to match Spark's substring; plus the
    // short-text edge (len <= k-1 -> one whole-text shingle) and heavy
    // repetition (distinct keeps FIRST occurrence order)
    val texts = Seq("the quick brown fox jumps", "ab", "x" * 200, "déjà vu ok",
      "caf😀 latte 🚀 rocket emoji pad",
      "₻7𤋮 mixed 💩 planes here",
      "abab" * 30)
      .toDF("text")
    for (k <- Seq(5, 8)) {
      val slow = s"array_distinct(transform(sequence(1, " +
        s"greatest(length(text)-${k - 1}, 1)), i -> substring(text, i, $k)))"
      val both = texts.selectExpr(
        s"graft_shingles(text, $k) AS fast", s"$slow AS slow")
      assert(both.filter(col("fast") =!= col("slow")).count() == 0, s"k=$k")
    }
  }

  test("graft_long_dot equals aggregate(zip_with(...)) and is codegen-safe") {
    GraftFunctions.register(spark)
    val df = Seq((Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L, 2L), Seq(3L, 9L, -1L))).toDF("a", "b")
    val r = df.selectExpr("graft_long_dot(a, b) AS fast",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v) AS slow")
    assert(r.filter(col("fast") =!= col("slow")).count() == 0)
    assert(r.select("fast").as[Long].collect().toSeq == Seq(32L, -23L))
  }

  test("graft_topk equals the row_number window top-k, ties broken by id") {
    GraftFunctions.register(spark)
    val df = Seq(
      (1L, 0.9, 10L), (1L, 0.9, 7L), (1L, 0.5, 3L), (1L, 0.95, 4L),
      (2L, 0.1, 1L), (2L, 0.1, 2L))
      .toDF("g", "score", "id")
    val agg = df.groupBy("g")
      .agg(expr("graft_topk(score, id, 2)").as("top"))
      .select(col("g"), expr("transform(top, t -> t.id)").as("ids"))
      .orderBy("g")
      .as[(Long, Seq[Long])].collect().toSeq
    // g=1: 0.95(id 4) then 0.9 tie -> lower id 7; g=2: 0.1 tie -> ids 1,2
    assert(agg == Seq((1L, Seq(4L, 7L)), (2L, Seq(1L, 2L))))
  }

  test("graft_heavy_keys: vocab >> capacity, every heavy key survives " +
      "the bounded one-pass summary") {
    GraftFunctions.register(spark)
    // 3 hot tokens x 500 occurrences + 5000 singleton tail tokens:
    // vocab 5003 >> capacity 199, hot share 500/6500 = 7.7% >> 1/200
    val hot = (0 until 3).flatMap(h => Seq.fill(500)(s"hot$h"))
    val tail = (0 until 5000).map(i => f"tail$i%05d")
    val toks = spark.createDataset(hot ++ tail).toDF("tok")
      .repartition(8) // summaries must merge across partitions
    val s = toks.agg(expr(s"graft_heavy_keys(tok, 199)").as("s"))
      .select(col("s.n"), col("s.keys")).head()
    assert(s.getLong(0) == 6500L)
    val keys = s.getSeq[String](1)
    assert(keys.length <= 199, s"summary exceeded capacity: ${keys.length}")
    assert(Set("hot0", "hot1", "hot2").subsetOf(keys.toSet),
      s"a heavy key fell out of the MG summary: $keys")
  }

  test("t11 heavy tokens: exact output on a planted Zipf corpus dir") {
    val dir = tempDir("heavy").toString
    // doc 0 carries the hot tokens; docs 1..200 carry 25 unique tail
    // tokens each -> total = 600 hot + 5000 tail, hot share ~10.7%
    val hotDoc = (0 until 3).flatMap(h => Seq.fill(200)(s"hot$h")).mkString(" ")
    val docs = (0L, hotDoc) +: (1L to 200L).map(i =>
      i -> (0 until 25).map(j => f"tl${i * 25 + j}%06d").mkString(" "))
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ops.TextOps.t11HeavyTokens(spark, dir)
      .as[(String, Long)].collect().toSeq
    // exact reference: plain groupBy + share filter over the same corpus
    val toks = graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val n = toks.count()
    val want = toks.groupBy("tok").count()
      .filter(col("count") * 200 > n)
      .orderBy("tok").as[(String, Long)].collect().toSeq
    assert(got == want && got.map(_._1) == Seq("hot0", "hot1", "hot2"),
      s"got $got, want $want")
  }

  test("MisraGriesAgg serde round-trips counts and the exact n") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val a = MisraGriesAgg(Literal.create("x"), 4)
    val buf = a.createAggregationBuffer()
    buf.n = 42L
    Seq("a" -> 7L, "b" -> 3L, "cc" -> 1L).foreach { case (k, v) => buf.m(k) = v }
    val back = a.deserialize(a.serialize(buf))
    assert(back.n == 42L && back.m == buf.m)
  }

  test("TopKAgg serde round-trips the bounded heap") {
    val a = TopKAgg(org.apache.spark.sql.catalyst.expressions.Literal(0.0),
      org.apache.spark.sql.catalyst.expressions.Literal(0L), 3)
    val buf = a.createAggregationBuffer()
    Seq((0.3, 5L), (0.9, 1L), (0.1, 2L), (0.8, 9L)).foreach { e =>
      buf.enqueue(e); if (buf.size > 3) buf.dequeue()
    }
    val back = a.deserialize(a.serialize(buf))
    assert(back.toArray.sorted.toSeq == buf.toArray.sorted.toSeq)
  }

  test("GraftExtensions injects working builders for every function") {
    // (a session-level spark.sql.extensions round trip would need a fresh
    // JVM — getOrCreate would hand back the suite session — so exercise
    // the injection hook and the builders directly)
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    import org.apache.spark.sql.catalyst.expressions.Literal
    val dot = GraftFunctions.all.toMap.apply("graft_long_dot")(Seq(
      Literal.create(Seq(2L, 3L)), Literal.create(Seq(10L, 1L))))
    assert(dot.eval(null) == 23L)
    val sig = GraftFunctions.all.toMap.apply("graft_minhash")(Seq(
      Literal.create("hello world")))
    assert(sig.dataType.simpleString == "array<bigint>")
    assert(sig.eval(null).asInstanceOf[
      org.apache.spark.sql.catalyst.util.ArrayData].numElements() ==
      GraftHash.NumHashes)
  }
}
