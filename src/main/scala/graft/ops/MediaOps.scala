package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A multimodal row: an opaque binary payload plus typed metadata — the
  * schema shape a 100 TB image/audio/video corpus would use (payload from
  * object storage or inlined; metadata columns prunable without touching
  * payload bytes).
  */
case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte])

/** Output row of the stub resize: original + downscaled dims/bytes. */
case class ResizedMedia(
    doc_id: Long,
    kind: String,
    width: Int,
    height: Int,
    out_width: Int,
    out_height: Int,
    n_bytes: Long,
    out_bytes: Long,
    checksum: Long)

/** Decoded/feature-extracted output of the stub decoder. */
case class MediaFeatures(
    doc_id: Long,
    kind: String,
    n_bytes: Long,
    mean_byte: Double,
    width: Int,
    height: Int,
    n_frames: Int,
    histo4: Array[Long])

/** Multimodal-column operators (SURVEY.md §7 step E / builder brief):
  * image/audio/video as opaque `binary` columns with typed metadata.
  *
  * The container has no external image/audio codecs. PNG and BMP
  * payloads decode REAL pixels through the JRE's own `javax.imageio`
  * (`RealCodec` — gated on a verified container check, spec-covered
  * with genuine fixture images); every other payload takes the
  * clearly-marked deterministic stub (`StubCodec`). The Spark-side
  * plumbing is identical for both and real throughout: binary payload
  * column, schema, partition-preserving `mapPartitions` with batch
  * iteration (the Scala twin of `mapInPandas`: one iterator per
  * partition, vectorizable batch shape), and typed
  * `Dataset[MediaFeatures]` output.
  *
  * m01 keeps the metadata path fully relational (oracle-checked): payload
  * built with `encode`, lengths/headers/shape fields derived with
  * codegen'd built-ins — the plan a metadata-only scan should have
  * (payload column pruned when untouched).
  */
object MediaOps {

  /** Pure-JRE REAL image decoder (VERDICT r11 item 4): PNG and BMP via
    * `javax.imageio` — the two formats the stock JRE decodes with no
    * external codec. The gate is a VERIFIED container check, not a
    * sniff: PNG requires the full 8-byte signature (its 0x89 lead byte
    * cannot open UTF-8 text, so the text stand-in corpus can never
    * reach this path); BMP requires the "BM" magic AND the header's
    * declared file size to equal the payload length. Payloads that
    * pass the gate but fail to decode (truncated/corrupt) fall back to
    * the stub — decode never throws on executor data.
    */
  object RealCodec {
    private def isPng(b: Array[Byte]): Boolean =
      b.length >= 8 && b(0) == 0x89.toByte && b(1) == 'P' &&
        b(2) == 'N' && b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a &&
        b(6) == 0x1a.toByte && b(7) == 0x0a
    private def isBmp(b: Array[Byte]): Boolean =
      b.length >= 6 && b(0) == 'B' && b(1) == 'M' && {
        val declared = (b(2) & 0xffL) | ((b(3) & 0xffL) << 8) |
          ((b(4) & 0xffL) << 16) | ((b(5) & 0xffL) << 24)
        declared == b.length.toLong
      }

    /** The decoded image, or None when the payload is not a verified
      * PNG/BMP container (or fails to decode). ImageIO is called only
      * past the magic gate, so this is cheap on non-image payloads.
      */
    def decodeImage(bytes: Array[Byte])
        : Option[java.awt.image.BufferedImage] =
      if (!isPng(bytes) && !isBmp(bytes)) None
      else try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Throwable => None }

    /** Integer luminance in [0, 255] of a packed ARGB pixel — the one
      * pixel rule shared by decode and resize (ITU-R 601 integer form:
      * (299 R + 587 G + 114 B) / 1000).
      */
    def luma(argb: Int): Int = {
      val r = (argb >> 16) & 0xff
      val g = (argb >> 8) & 0xff
      val b = argb & 0xff
      (299 * r + 587 * g + 114 * b) / 1000
    }

    /** Real feature extraction over decoded pixels: true dims, mean
      * luminance, 4-bucket luminance histogram — the same output shape
      * the stub fakes from bytes.
      */
    def features(row: MediaRow,
        img: java.awt.image.BufferedImage): MediaFeatures = {
      val (w, h) = (img.getWidth, img.getHeight)
      val histo = Array.fill(4)(0L)
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val l = luma(img.getRGB(x, y))
          sum += l; histo(l / 64) += 1; x += 1
        }
        y += 1
      }
      MediaFeatures(row.doc_id, row.kind, row.payload.length.toLong,
        sum.toDouble / (w.toLong * h), w, h, 1, histo)
    }

    /** Real resize: sample every `factor`-th pixel on both axes
      * (nearest-neighbor downscale), checksum = sum of sampled lumas —
      * the same output shape the stub fakes from byte strides.
      */
    def resize(row: MediaRow, img: java.awt.image.BufferedImage,
        factor: Int): ResizedMedia = {
      val (w, h) = (img.getWidth, img.getHeight)
      val (ow, oh) = (math.max(1, w / factor), math.max(1, h / factor))
      var sum = 0L
      var oy = 0
      while (oy < oh) {
        var ox = 0
        while (ox < ow) {
          sum += luma(img.getRGB(ox * factor, oy * factor)); ox += 1
        }
        oy += 1
      }
      ResizedMedia(row.doc_id, row.kind, w, h, ow, oh,
        row.payload.length.toLong, ow.toLong * oh, sum)
    }
  }

  /** Deterministic fake decoder: derives "decoded" properties purely from
    * payload bytes. Payloads that verify as a real PNG/BMP container
    * take `RealCodec`'s pixel path instead (the container check is
    * exact, so the text stand-in corpus always takes the stub path and
    * oracle hashes never move); everything around the codec — batch
    * shape, partitioning, typed output — is identical for both.
    */
  object StubCodec {
    /** Fake dimensions from the first payload bytes (stable, codec-free)
      * — the ONE dim rule shared by decode and resize.
      */
    def dims(bytes: Array[Byte]): (Int, Int) = {
      val b0 = if (bytes.length > 0) bytes(0) & 0xff else 0
      val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
      (64 + (b0 % 8) * 32, 64 + (b1 % 8) * 32)
    }

    def decode(row: MediaRow): MediaFeatures = {
      val bytes = row.payload
      val n = bytes.length.toLong
      val mean =
        if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toLong).sum.toDouble / n
      val (width, height) = dims(bytes)
      val nFrames = if (row.kind == "video") 1 + (n % 240).toInt else 1
      val histo = Array.fill(4)(0L)
      bytes.foreach(b => histo((b & 0xff) / 64) += 1)
      MediaFeatures(row.doc_id, row.kind, n, mean, width, height, nFrames, histo)
    }
  }

  /** Deterministic stub RESIZE: keep every `factor`-th payload byte and
    * divide the decoded dims (a real deployment swaps in a codec
    * downscale with the same signature — the batch shape, partition
    * preservation, and typed output are the real deliverable).
    */
  def stubResize(row: MediaRow, factor: Int): ResizedMedia = {
    require(factor >= 1, s"resize factor must be >= 1, got $factor")
    // dims come from the header bytes via StubCodec.dims — no full
    // decode: the resize hot path scans the payload exactly once
    val bytes = row.payload
    val n = bytes.length.toLong
    val (width, height) = StubCodec.dims(bytes)
    var sum = 0L
    var kept = 0L
    var i = 0
    while (i < bytes.length) {
      sum += (bytes(i) & 0xff); kept += 1; i += factor
    }
    ResizedMedia(row.doc_id, row.kind, width, height,
      math.max(1, width / factor), math.max(1, height / factor),
      n, kept, sum)
  }

  /** Batched resize via mapPartitions — same narrow, partition-
    * preserving plan shape as decodeFeatures. Verified PNG/BMP payloads
    * take the real pixel downscale; everything else the byte stub.
    */
  def resizeMedia(media: Dataset[MediaRow], factor: Int): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      RealCodec.decodeImage(r.payload)
        .map(img => RealCodec.resize(r, img, factor))
        .getOrElse(stubResize(r, factor))
    })
  }

  /** Driver-checkable wrapper. The mapPartitions resize itself is not
    * SQL-expressible, but the STUB's byte arithmetic is — so the output
    * carries a full DuckDB oracle (hash-checked) while the Spark plan
    * keeps the real mapPartitions shape. Int fields cast to long: the
    * driver hash needs int64 on both sides.
    */
  def m04Resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    resizeMedia(mediaTable(spark, dir).as[MediaRow], 2).toDF()
      .select(col("doc_id"), col("kind"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("out_width").cast("long").as("out_width"),
        col("out_height").cast("long").as("out_height"),
        col("n_bytes"), col("out_bytes"), col("checksum"))
      .orderBy("doc_id")
  }

  /** documents.text masqueraded as a binary payload with a media kind. */
  private def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Relational metadata extraction over binary payloads (oracle-checked):
    * byte length, hex header, hash-derived shape fields. No decode — the
    * payload stays opaque; at scale this plan reads only the columns it
    * projects.
    */
  def m01MediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(
        col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"),
        hex(substring(col("payload"), 1, 4)).as("header_hex"),
        (expr("CAST(conv(substring(md5(payload), 1, 4), 16, 10) AS BIGINT)")
          % 1856 + 64).as("pseudo_width"),
        (expr("CAST(conv(substring(md5(payload), 5, 4), 16, 10) AS BIGINT)")
          % 1024 + 64).as("pseudo_height"))
      .orderBy("doc_id")

  /** Batched decode + feature extraction via mapPartitions: the
    * partition-preserving narrow transform a real decoder would run in
    * (no shuffle; each task decodes its own split's rows). Verified
    * PNG/BMP payloads decode REAL pixels via `RealCodec` (pure JRE);
    * everything else takes the deterministic stub.
    */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      RealCodec.decodeImage(r.payload)
        .map(img => RealCodec.features(r, img))
        .getOrElse(StubCodec.decode(r))
    })
  }

  /** Driver-checkable wrapper. Like m04: the mapPartitions decode keeps
    * its real plan shape, but the stub's byte arithmetic is restated as
    * a DuckDB oracle so the output is hash-checked rather than
    * rows-only. Int fields cast to long for the driver hash.
    */
  def m02MediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    decodeFeatures(mediaTable(spark, dir).as[MediaRow])
      .toDF()
      .select(col("doc_id"), col("kind"), col("n_bytes"), col("mean_byte"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"),
        expr("concat_ws(',', transform(histo4, x -> CAST(x AS STRING)))")
          .as("histo4_csv"))
      .orderBy("doc_id")
  }

  /** Frame sampling over "video" payloads: every 100th byte as a frame
    * marker via higher-order functions (the relational skeleton of
    * frame-extraction: pos list -> per-pos slice).
    */
  def m03FrameSample(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .filter(col("kind") === "video")
      .select(col("doc_id"),
        expr("transform(sequence(1, greatest(length(payload), 1), 100)," +
          " p -> hex(substring(payload, p, 2)))").as("frames"))
      .select(col("doc_id"),
        size(col("frames")).cast("long").as("n_frames"),
        concat_ws(",", col("frames")).as("frames_hex"))
      .orderBy("doc_id")

  /** Multimodal training-sample ASSEMBLY — the join that builds one
    * training row per document from its three modality tables: text
    * metadata (tokens/lang/source), the binary media payload's size and
    * kind, and the embedding's label + exact integer norm where one
    * exists. Embeddings cover only part of the corpus at larger SFs, so
    * the join is a LEFT join with an explicit has_embedding flag — the
    * samples a text-only batch builder keeps vs the ones a contrastive
    * objective can use.
    *
    * 100 TB posture: media metadata is derived WITHOUT reading payload
    * bytes beyond length (column-pruned scan); the embedding side
    * reduces to (vec_id, label, vnorm) — 3 columns, not the 256-byte
    * vector — before the join; one hash join on the id. Payload bytes
    * and raw vectors never co-shuffle; the assembled manifest is what
    * the batch loader randomizes, fetching payloads lazily.
    */
  def m05SampleAssembly(spark: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(spark, dir)
      .select(col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"))
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val e = SimOps.vectors(spark, dir)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        col("vnorm"))
    d.join(m, Seq("doc_id"))
      .join(e, col("doc_id") === col("vec_id"), "left")
      .select(col("doc_id"), col("kind"), col("lang"), col("source"),
        col("n_tokens"), col("n_bytes"), col("label"), col("vnorm"),
        when(col("vec_id").isNull, 0L).otherwise(1L).as("has_embedding"))
      .orderBy("doc_id")
  }

  /** Block-mean perceptual hash: a 16-bit signature — bit b is set
    * iff block b's byte sum is at least its pro-rata share of the total
    * (the cross-multiplied integer form `bsum*n >= total*blen`, so no
    * division and no float enters the signature). Empty blocks (n < 16)
    * contribute 0. This is m07's CHEAP per-kind governance screen
    * (block-mean hashing is a published pHash family of its own); the
    * near-dup OPERATOR m06 runs the real integer 8x8 DCT-II signature
    * ([[dctPhash]]) — same (payload -> bits) shape, same banding,
    * candidate join, and hamming verify around either.
    */
  private[graft] def stubPhash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    var total = 0L
    var i = 0
    while (i < n) { total += (bytes(i) & 0xff); i += 1 }
    var sig = 0L
    var b = 0
    while (b < 16) {
      val from = n.toLong * b / 16
      val until = n.toLong * (b + 1) / 16
      val blen = until - from
      if (blen > 0) {
        var bsum = 0L
        var j = from.toInt
        while (j < until) { bsum += (bytes(j) & 0xff); j += 1 }
        if (bsum * n >= total * blen) sig |= (1L << b)
      }
      b += 1
    }
    sig
  }

  /** Fixed-point orthonormal DCT-II basis, flattened as T(u*8+x) =
    * round(1e4 * c(u) * cos((2x+1) u pi / 16)) with c(0) = sqrt(1/2),
    * c(u>0) = 1 — the same 64 integer literals appear verbatim in the
    * m06 oracle SQL, so both engines run the IDENTICAL integer
    * arithmetic and the signature is hash-checkable end to end.
    */
  private[graft] val dctTable: Array[Long] = Array(
    7071, 7071, 7071, 7071, 7071, 7071, 7071, 7071,
    9808, 8315, 5556, 1951, -1951, -5556, -8315, -9808,
    9239, 3827, -3827, -9239, -9239, -3827, 3827, 9239,
    8315, -1951, -9808, -5556, 5556, 9808, 1951, -8315,
    7071, -7071, -7071, 7071, 7071, -7071, -7071, 7071,
    5556, -9808, 1951, 8315, -8315, -1951, 9808, -5556,
    3827, -9239, 9239, -3827, -3827, 9239, -9239, 3827,
    1951, -5556, 8315, -9808, 9808, -8315, 5556, -1951)

  /** Real integer 8x8 DCT-II perceptual hash (VERDICT r9/r10 item: the
    * production pHash recipe, run on the byte payload in pure integer
    * arithmetic — no codec, no float):
    *
    *  1. pool the payload into an 8x8 "image": pixel p = floor-mean of
    *     the byte slice [floor(n*p/64), floor(n*(p+1)/64)) (empty -> 0);
    *  2. 2-D DCT-II: F(u,v) = sum_{x,y} pix(x,y) T(u,x) T(v,y) over the
    *     fixed-point orthonormal basis [[dctTable]] (exact in Long:
    *     |F| <= 64 * 255 * 1e4 * 1e4 < 2^61);
    *  3. threshold each of the 63 AC coefficients against their LOWER
    *     median (rank 32 of the 63 sorted — single-element, no
    *     averaging, so no division enters the signature);
    *  4. bit (uv-1) set iff F(uv) > median -> a 63-bit signature whose
    *     8-bit bands drive the LSH screen.
    *
    * A real image deployment swaps step 1's byte pooling for a decoded
    * 32x32 luma plane; steps 2-4 and the whole plan around them are
    * unchanged — which is the point of doing the DCT for real here.
    */
  private[graft] def dctPhash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    val pix = new Array[Long](64)
    var p = 0
    while (p < 64) {
      val from = (n.toLong * p / 64).toInt
      val until = (n.toLong * (p + 1) / 64).toInt
      if (until > from) {
        var s = 0L
        var j = from
        while (j < until) { s += (bytes(j) & 0xff); j += 1 }
        pix(p) = s / (until - from)
      }
      p += 1
    }
    val f = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var x = 0
        while (x < 8) {
          var row = 0L
          var y = 0
          while (y < 8) { row += pix(x * 8 + y) * dctTable(v * 8 + y); y += 1 }
          acc += row * dctTable(u * 8 + x)
          x += 1
        }
        f(u * 8 + v) = acc
        v += 1
      }
      u += 1
    }
    val ac = java.util.Arrays.copyOfRange(f, 1, 64)
    java.util.Arrays.sort(ac)
    val med = ac(31)
    var sig = 0L
    var uv = 1
    while (uv < 64) {
      if (f(uv) > med) sig |= 1L << (uv - 1)
      uv += 1
    }
    sig
  }

  /** Perceptual near-dup pairs over binary payloads: the multimodal
    * twin of d04's SimHash channel, now on the real integer 8x8 DCT-II
    * pHash ([[dctPhash]]). Signatures come from the mapPartitions byte
    * path; candidates from an 8-band (8 bits each) signature join; the
    * exact `bit_count(xor)` verify keeps pairs within hamming 16 (~a
    * quarter of the 63 signature bits — the production pHash radius
    * regime, where radius-1 banding-lossless thresholds would return
    * only byte-identical payloads).
    *
    * SEMANTICS (stated identically by the oracle): a pair is emitted
    * iff it shares AT LEAST ONE 8-bit band AND hamming <= 16 — the LSH
    * screen is part of the operator's definition, exactly as in
    * production pHash dedup (d03's MinHash banding makes the same
    * recall trade declaratively). Banding is provably lossless only up
    * to radius 7 here (8 bands; pigeonhole), so beyond that the band
    * match is a documented screen, not an afterthought.
    *
    * 100 TB posture: the d03/d04 discipline — candidates are
    * band-bucket-local (256 values per 8-bit band), pairs shuffle once
    * on the pair key, and the payload is read exactly once per doc for
    * the signature.
    */
  def m06PhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sigs = graft.Caches.cache(mediaTable(spark, dir).as[MediaRow]
      .mapPartitions(_.map(r => (r.doc_id, dctPhash(r.payload))))
      .toDF("doc_id", "sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 8).map(b =>
        shiftright(col("sig"), b * 8).bitwiseAND(lit(255L))): _*))
        .as(Seq("band", "key")))
    banded.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
        col("band"), col("key"))
      .join(banded.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
        col("band"), col("key")), Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= 16)
      .select("doc_a", "doc_b", "sig_a", "sig_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  /** Multimodal dedup governance report — d18's per-source discipline
    * on the MEDIA channel, per kind: every payload classified by
    * DISJOINT removal cause, exact-first. A row is exact-removed if a
    * smaller doc_id carries a byte-identical payload (md5 over the
    * BINARY column), else near-removed if a smaller doc_id carries a
    * block-mean signature within hamming 1 (the smaller-partner rule,
    * [[blockMeanNearIdsOf]]), else kept; causes sum to n_media per
    * kind (spec-pinned) and the removal rate is one exact division.
    *
    * 100 TB posture: the exact channel is one md5 hash shuffle with a
    * payload-hash-only projection (bytes read once, never shipped);
    * the near channel is the distinct-signature collapse (one hash
    * agg + a 17x explode bounded by the 16-bit signature space — see
    * blockMeanNearIdsOf for why the former band join was quadratic);
    * the rollup is a hash agg on kind.
    */
  /** m07's perceptual channel: block-mean ([[stubPhash]]) near-dup ids
    * at hamming <= 1. A doc is near-flagged iff SOME smaller doc_id
    * carries a signature within hamming 1 — stated here through the
    * DISTINCT-SIGNATURE collapse the 16-bit space makes possible:
    * group docs by signature (min doc_id per signature), explode each
    * of the <= 65536 distinct signatures to its 17-member hamming<=1
    * neighborhood (itself + 16 one-bit flips), take the neighborhood
    * min, and flag docs above it. Value-identical to the 4-band
    * pair join the channel previously ran (banding is LOSSLESS at
    * radius 1 — one flipped bit touches one band, >= 3 stay equal, so
    * every hamming<=1 pair shares a band and the band screen is
    * vacuous; the oracle states the channel all-pairs), but the pair
    * join's candidate volume was Theta(n^2/8): 4-bit band keys give 64
    * buckets TOTAL, so buckets grow with the corpus and the join work
    * is quadratic — the r13 probe measured the old shape at 13.6x warm
    * for 10x docs (0.77 s at 10k -> 10.5 s at 100k, heading for ~17 min
    * at 1M) vs 1.5x for the collapse (2.0 -> 3.0 -> 4.7 s at
    * 10k/100k/1M). The
    * collapse is one signature hash agg (map-side combinable) + a
    * 17x explode on the signature-space-bounded frame + one join back:
    * corpus-linear with a hard 65536 * 17 ceiling on the join's left
    * side. This stays the cheap 16-bit governance screen after m06
    * moved to the 63-bit DCT hash (whose radius-16 band-screen
    * semantics would be a different — and wider — near set than a
    * per-kind report wants).
    */
  private[graft] def blockMeanNearIdsOf(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    val sigs = graft.Caches.cache(media
      .select("doc_id", "kind", "payload").as[MediaRow]
      .mapPartitions(_.map(r => (r.doc_id, stubPhash(r.payload))))
      .toDF("doc_id", "sig"))
    val perSig = sigs.groupBy("sig").agg(min(col("doc_id")).as("min_id"))
    // f = 16 keeps the signature itself in its own neighborhood (the
    // hamming-0 / byte-twin channel); 0..15 are the one-bit flips
    val nbhd = perSig.select(col("sig"),
        explode(expr("transform(sequence(0, 16), f -> CASE WHEN f = 16" +
          " THEN sig ELSE CAST(sig ^ shiftleft(CAST(1 AS BIGINT), f)" +
          " AS BIGINT) END)")).as("nsig"))
      .join(perSig.select(col("sig").as("nsig"), col("min_id")), Seq("nsig"))
      .groupBy("sig").agg(min(col("min_id")).as("nb_min"))
    sigs.join(nbhd, Seq("sig"))
      .filter(col("nb_min") < col("doc_id"))
      .select(col("doc_id"))
  }

  def m07MediaDedupReport(spark: SparkSession, dir: String): DataFrame =
    mediaDedupReportOf(mediaTable(spark, dir))

  /** m07's body over any (doc_id, kind, payload) frame (probe-shared). */
  private[graft] def mediaDedupReportOf(media: DataFrame): DataFrame = {
    val hashed = media
      .select(col("doc_id"), col("kind"), md5(col("payload")).as("h"))
    val keeper = hashed.groupBy("h").agg(min(col("doc_id")).as("keeper"))
    val near = blockMeanNearIdsOf(media)
      .withColumn("is_near", lit(1L))
    hashed.join(keeper, Seq("h"))
      .join(near, Seq("doc_id"), "left")
      .select(col("kind"),
        when(col("doc_id") > col("keeper"), 1L).otherwise(0L).as("ex"),
        when(col("doc_id") === col("keeper") && col("is_near").isNotNull, 1L)
          .otherwise(0L).as("nr"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_media"),
        sum(col("ex")).as("n_exact_removed"),
        sum(col("nr")).as("n_near_removed"))
      .select(col("kind"), col("n_media"),
        col("n_exact_removed"), col("n_near_removed"),
        (col("n_media") - col("n_exact_removed") - col("n_near_removed"))
          .as("n_kept"),
        ((col("n_exact_removed") + col("n_near_removed")).cast("double") /
          col("n_media")).as("removal_rate"))
      .orderBy("kind")
  }

  /** Manifest reconciliation between the incremental append (m09) and
    * a from-scratch repack (m08 over the full table) — the audit a
    * shard maintainer reads before deciding whether to re-stream
    * archives: per shard, item/byte totals under each manifest and a
    * content fingerprint (md5 of the offset-ordered doc:offset:bytes
    * list), folded to a status — `match` (byte-identical shard, no
    * rewrite needed), `changed` (repack would rewrite it),
    * `repack_only`/`append_only` (tail growth). The changed+repack_only
    * byte total IS the I/O bill a full repack pays that the append
    * avoided. Fingerprints are md5 over canonical decimal strings —
    * bit-identical across engines.
    *
    * 100 TB posture: both manifests are the two-phase pack (no global
    * sort); the per-shard fold is shard-keyed with map-side combine
    * (collect_list bounded by items-per-shard ≈ capacity/avg_bytes);
    * the diff join is shard-count-sized — thousands of rows per PB.
    */
  def m10ManifestDiff(spark: SparkSession, dir: String): DataFrame =
    manifestDiffOf(mediaTable(spark, dir).select(col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("is_batch", (col("doc_id") % 10 === 7).cast("long")),
      8192L)

  /** The m10 body over any (doc_id, n_bytes, is_batch) frame — exposed
    * so the spec can pin hand-computed statuses at a small capacity.
    */
  private[graft] def manifestDiffOf(m: DataFrame, cap: Long): DataFrame = {
    def manifest(sized: DataFrame): DataFrame =
      packStarts(sized)
        .select(col("doc_id"), col("n_bytes"),
          expr(s"start div $cap").as("shard_id"),
          (col("start") - expr(s"start div $cap") * cap)
            .as("shard_offset"))
    def summary(mf: DataFrame, side: String): DataFrame =
      mf.groupBy("shard_id").agg(
        count(lit(1)).as(s"${side}_items"),
        sum(col("n_bytes")).as(s"${side}_bytes"),
        md5(concat_ws("|", transform(
          sort_array(collect_list(struct(col("shard_offset"),
            col("doc_id"), col("n_bytes")))),
          s => concat_ws(":",
            s.getField("doc_id").cast("string"),
            s.getField("shard_offset").cast("string"),
            s.getField("n_bytes").cast("string")))))
          .as(s"${side}_sig"))
    // shardAppendOf's contract includes a kind column; a constant rides
    // through and is dropped from the summaries
    val sized = m.select("doc_id", "n_bytes", "is_batch")
      .withColumn("kind", lit("media"))
    val repack = summary(manifest(sized.drop("is_batch", "kind")), "repack")
    val append = summary(
      shardAppendOf(sized, cap).drop("is_batch", "kind"), "append")
    repack.join(append, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        coalesce(col("repack_items"), lit(0L)).as("repack_items"),
        coalesce(col("repack_bytes"), lit(0L)).as("repack_bytes"),
        coalesce(col("append_items"), lit(0L)).as("append_items"),
        coalesce(col("append_bytes"), lit(0L)).as("append_bytes"),
        when(col("repack_sig").isNull, "append_only")
          .when(col("append_sig").isNull, "repack_only")
          .when(col("repack_sig") === col("append_sig"), "match")
          .otherwise("changed").as("status"))
      .orderBy("shard_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "m13_shard_fingerprint" -> (m13ShardFingerprint _),
    "m10_manifest_diff" -> (m10ManifestDiff _),
    "m07_media_dedup_report" -> (m07MediaDedupReport _),
    "m06_phash_neardup" -> (m06PhashNeardup _),
    "m11_codec_census" -> (m11CodecCensus _),
    "m01_media_meta" -> (m01MediaMeta _),
    "m02_media_features" -> (m02MediaFeatures _),
    "m03_frame_sample" -> (m03FrameSample _),
    "m04_resize" -> (m04Resize _),
    "m05_sample_assembly" -> (m05SampleAssembly _),
    "m08_shard_pack" -> (m08ShardPack _),
    "m09_shard_append" -> (m09ShardAppend _),
    "m12_release_staleness" -> (m12ReleaseStaleness _)
  )

  /** Release-aware shard staleness (E239) — the compaction audit that
    * closes the multimodal/release loop: m08's shard manifest joined to
    * p31's release manifest, per shard: item/byte loads, the LIVE
    * (released) slice, the stale byte share, and an exact-integer
    * compaction flag (stale bytes x 2 >= shard bytes — the "rewrite
    * this archive" rule). A release that drops a family turns its
    * shards stale IN PLACE; this is the table the archive rewriter
    * consumes (m09 appends, m12 decides what to rewrite).
    *
    * 100 TB posture: the pack is length-only (payload bytes never
    * read), the manifest is write-once parquet, the join is ONE
    * doc_id-keyed hash join of two narrow frames, and the rollup is a
    * shard-keyed hash agg over corpus_bytes/8192 rows. stale_share is
    * the one double division; the flag is integer arithmetic.
    */
  def m12ReleaseStaleness(spark: SparkSession, dir: String): DataFrame =
    releaseStalenessFrom(
      shardPack(mediaTable(spark, dir).select(col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes")), 8192L)
        .select("doc_id", "n_bytes", "shard_id"),
      PipelineOps.releaseManifest(spark, dir))

  /** The m12 core over any (doc_id, n_bytes, shard_id) pack and
    * p31-shaped manifest — exposed so the spec can pin the stale-share
    * arithmetic and the compaction boundary directly.
    */
  private[graft] def releaseStalenessFrom(
      pack: DataFrame, manifest: DataFrame): DataFrame = {
    val released = manifest.filter(col("status") === "released")
      .select(col("doc_id"), lit(1L).as("live"))
    pack.join(released, Seq("doc_id"), "left")
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_items"),
        sum(col("n_bytes")).as("n_bytes"),
        sum(when(col("live").isNotNull, 1L).otherwise(0L))
          .as("live_items"),
        sum(when(col("live").isNotNull, col("n_bytes")).otherwise(0L))
          .as("live_bytes"))
      .select(col("shard_id"), col("n_items"), col("n_bytes"),
        col("live_items"), col("live_bytes"),
        // empty-shard semantics (ADVICE r11): a shard of zero total
        // bytes has nothing stale and nothing to rewrite — stale_share
        // 0.0 (not NULL) and compact 0, consistently. Real shards take
        // the one double division; the flag stays exact-integer.
        when(col("n_bytes") > 0L,
          (col("n_bytes") - col("live_bytes")).cast("double")
            / col("n_bytes")).otherwise(lit(0.0)).as("stale_share"),
        when(col("n_bytes") > 0L &&
          (col("n_bytes") - col("live_bytes")) * 2L >= col("n_bytes"),
          1L).otherwise(0L).as("compact"))
      .orderBy("shard_id")
  }

  /** Codec-mix census over the opaque payloads: per (kind, 2-byte
    * header magic) item and byte counts with within-kind shares — the
    * "what formats are actually in this bucket" audit every multimodal
    * ingestion runs before provisioning decoders (an unexpected magic
    * at volume = a codec the pipeline can't decode; a long OTHER tail
    * = corrupt or mislabeled payloads). Top-5 magics per kind stay
    * named (rank by exact count, header tiebreak); the remainder rolls
    * into an honest OTHER row rather than dropping. Counts exact;
    * each share ONE division by the kind totals. On the text stand-in
    * payloads the "magics" are leading characters — the plan and
    * arithmetic are what real magics get.
    *
    * 100 TB posture: ONE (kind, header) map-side-combined count agg
    * over the payload scan (header cardinality = codec magics — tiny;
    * the payload column never moves, only its first two bytes);
    * ranking/rollup run on that tiny frame; kind totals broadcast.
    */
  def m11CodecCensus(spark: SparkSession, dir: String): DataFrame =
    codecCensusOf(mediaTable(spark, dir))

  /** m11 core over any (kind, payload binary) frame — spec-shared. */
  private[graft] def codecCensusOf(media: DataFrame): DataFrame = {
    val m = graft.Caches.cache(media.select(col("kind"),
      hex(substring(col("payload"), 1, 2)).as("hdr"),
      length(col("payload")).cast("long").as("nb")))
    val per = m.groupBy("kind", "hdr")
      .agg(count(lit(1)).as("ni"), sum(col("nb")).as("nby"))
    val w = Window.partitionBy(col("kind"))
      .orderBy(col("ni").desc, col("hdr"))
    val labeled = per.withColumn("rk", row_number().over(w))
      .withColumn("header_hex",
        when(col("rk") <= 5, col("hdr")).otherwise(lit("OTHER")))
      .groupBy("kind", "header_hex")
      .agg(sum(col("ni")).as("n_items"), sum(col("nby")).as("n_bytes"))
    val totals = m.groupBy("kind")
      .agg(count(lit(1)).as("ki"), sum(col("nb")).as("kb"))
    labeled.join(broadcast(totals), Seq("kind"))
      .select(col("kind"), col("header_hex"), col("n_items"),
        col("n_bytes"),
        (col("n_items").cast("double") / col("ki")).as("item_share"),
        (col("n_bytes").cast("double") / col("kb")).as("byte_share"))
      .orderBy(col("kind"), col("n_items").desc, col("header_hex"))
  }

  /** Shard-manifest packing (the webdataset/tar-shard builder): every
    * payload is assigned a shard and a byte offset by CONTIGUOUS FILL
    * in doc_id order — shard = floor(start / capacity) where start is
    * the exclusive running byte total. An item whose start lands in a
    * shard belongs to it even if its bytes cross the boundary (the
    * streaming-pack convention; shards overflow by at most one item),
    * so the assignment is a pure function of the prefix sums — no
    * packing heuristic, bit-identical everywhere.
    *
    * The oracle states ONE global window cumsum (a single-task sort at
    * scale); the engine computes the same exclusive prefix sum in two
    * phases (the p15 discipline): contiguous doc_id ranges bucket the
    * corpus, per-bucket byte totals roll into bucket offsets (a
    * bucket-count-sized window), and the in-bucket cumsum runs
    * partition-parallel — start = bucket offset + in-bucket exclusive
    * sum, identical to the global statement because the buckets are
    * CONTIGUOUS in the pack order.
    *
    * 100 TB posture: payload bytes are never read (length-only,
    * column-pruned); one bucket-keyed window + one tiny offsets window;
    * the manifest is what a shard writer consumes to stream payloads
    * into archives without ever co-shuffling the bytes.
    */
  def m08ShardPack(spark: SparkSession, dir: String): DataFrame =
    shardPack(mediaTable(spark, dir).select(col("doc_id"), col("kind"),
      length(col("payload")).cast("long").as("n_bytes")), 8192L)

  /** The m08 body over any (doc_id, kind, n_bytes) frame — exposed so
    * the spec can pin the two-phase prefix sum against the naive
    * global cumsum on a bucket-boundary-crossing fixture.
    */
  private[graft] def shardPack(sized: DataFrame, cap: Long): DataFrame =
    packStarts(sized)
      .select(col("doc_id"), col("kind"), col("n_bytes"),
        expr(s"start div $cap").as("shard_id"),
        (col("start") - expr(s"start div $cap") * cap).as("shard_offset"))
      .orderBy("doc_id")

  /** The two-phase exclusive byte prefix sum in doc_id order: every
    * input column survives, plus `start`. Shared by m08 (pack) and m09
    * (append — which shifts a batch's starts by the corpus total).
    */
  private[graft] def packStarts(sized: DataFrame): DataFrame = {
    val m = sized
      .withColumn("bucket", expr("doc_id div 256"))
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = m.groupBy("bucket")
      .agg(sum(col("n_bytes")).as("bs"))
      .withColumn("off", coalesce(sum(col("bs")).over(wOff), lit(0L)))
      .select("bucket", "off")
    val wIn = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    m.join(broadcast(offsets), Seq("bucket"))
      .withColumn("start",
        col("off") + coalesce(sum(col("n_bytes")).over(wIn), lit(0L)))
      .drop("bucket", "off")
  }

  /** m13: per-shard content fingerprints — the transfer-verification
    * checksum a release consumer recomputes after download (the
    * checksum-manifest convention public dataset hubs publish next to
    * every shard; m10 diffs shard MEMBERSHIP between manifests, this
    * certifies shard CONTENT byte-for-byte). Per m08 shard: member
    * count, byte total, id range, and an order-canonical fingerprint =
    * md5 over the comma-joined "doc_id:payload_md5" member list.
    * Member order inside the fingerprint is doc_id ascending via the
    * lpad-to-12 trick (lexicographic == numeric for padded ids — d21's
    * comparable-string device), so BOTH engines hash identical bytes
    * with a plain sorted aggregate, no argmin/ordered-agg construct.
    *
    * 100 TB posture: payload hashing is per-row scan work; the shard
    * fold reuses m08's two-phase prefix-sum start assignment (the one
    * bucket-count-sized offsets window) and the per-shard collect is
    * bounded by cap/min-payload members — shard-sized by construction,
    * never corpus-sized. One hash agg keyed by shard_id.
    */
  def m13ShardFingerprint(spark: SparkSession, dir: String): DataFrame =
    shardFingerprintOf(mediaTable(spark, dir), 8192L)

  /** m13's body over any (doc_id, payload) frame (spec-shared). */
  private[graft] def shardFingerprintOf(
      media: DataFrame, cap: Long): DataFrame = {
    val sized = media.select(col("doc_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("payload_md5"))
    packStarts(sized)
      .withColumn("shard_id", expr(s"start div $cap"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("n_bytes"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        // lpad-to-12 bound (ADVICE r12): lexicographic == numeric only
        // for 0 <= doc_id < 10^12. Beyond that (or negative) BOTH
        // engines still hash the same bytes — the fingerprint stays
        // transfer-verifiable — but the documented doc_id-ascending
        // member ORDER inside the hash input no longer holds. The spec's
        // brute force asserts the fixture ids sit inside the bound.
        md5(concat_ws(",", sort_array(collect_list(
          concat(lpad(col("doc_id").cast("string"), 12, "0"),
            lit(":"), col("payload_md5")))))).as("fingerprint"))
      .orderBy("shard_id")
  }

  /** Incremental shard append — m08's maintenance half (the m-side twin
    * of s19's frozen-codebook IVF append): the corpus slice
    * (doc_id % 10 != 7) is packed exactly as m08 would pack it, and
    * "today's batch" (% 10 = 7, the s19 convention) appends AFTER it,
    * its starts shifted by the corpus byte total — so existing
    * assignments NEVER move (spec-pinned equal to the corpus-only
    * pack), the batch's first items fill the tail shard's remainder,
    * and the whole result equals one m08 pack of the reordered
    * (corpus-then-batch) input, which is what the oracle states as a
    * single (is_batch, doc_id)-ordered cumsum. Re-packing from scratch
    * at 100 TB re-streams every archive; the append touches only the
    * tail shard and the new bytes.
    *
    * 100 TB posture: two packStarts passes (each the m08 two-phase
    * form) + a 1-row corpus-total broadcast; nothing corpus-sized is
    * re-sorted or re-shuffled beyond the pack's own bucket windows.
    */
  def m09ShardAppend(spark: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(spark, dir).select(col("doc_id"), col("kind"),
        length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("is_batch", (col("doc_id") % 10 === 7).cast("long"))
    shardAppendOf(m, 8192L)
  }

  /** The m09 body over any (doc_id, kind, n_bytes, is_batch) frame
    * (its batch-size rows: NOTES.md "ScalingProbe rows for the r8-new
    * shapes").
    */
  private[graft] def shardAppendOf(m: DataFrame, cap: Long): DataFrame = {
    val corpus = packStarts(m.filter(col("is_batch") === 0L))
    // coalesce: an empty corpus slice must append from byte 0, not NULL
    val total = corpus.agg(coalesce(sum(col("n_bytes")), lit(0L)).as("base"))
    val batch = packStarts(m.filter(col("is_batch") === 1L))
      .crossJoin(broadcast(total))
      .withColumn("start", col("start") + col("base"))
      .drop("base")
    corpus.unionByName(batch)
      .select(col("doc_id"), col("kind"), col("n_bytes"), col("is_batch"),
        expr(s"start div $cap").as("shard_id"),
        (col("start") - expr(s"start div $cap") * cap).as("shard_offset"))
      .orderBy("doc_id")
  }

  /** All four media queries are oracle-checked. m02/m04 run through the
    * real mapPartitions decode/resize path on the Spark side; their
    * oracles restate `StubCodec.decode` / `stubResize`'s byte
    * arithmetic (mean byte, header dims, histo4, strided keep,
    * checksum) in DuckDB list SQL — the stub is deterministic pure
    * arithmetic precisely so the whole pipeline stays hash-checkable.
    *
    * Byte-vs-char contract: the Spark side takes length/substring over the
    * BINARY payload (byte offsets) — the semantics a real media corpus
    * needs. DuckDB exposes no substring/md5 over BLOBs, so the oracles
    * state the same operations over the VARCHAR text (char offsets),
    * which is value-identical ONLY while the documents fixture is pure
    * ASCII — an explicit fixture contract, guarded by a test
    * (`OpsSpec."media oracles: documents fixture is pure ASCII"`). On a
    * non-ASCII corpus the Spark results remain the spec; the oracle rows
    * would shift instead.
    */
  val oracle: Map[String, String] = Map(
    // m10: m08-vs-m09 manifests folded to per-shard fingerprints and
    // full-outer diffed on shard_id
    "m10_manifest_diff" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |         CAST(doc_id % 10 = 7 AS BIGINT) AS is_batch
        |  FROM documents
        |),
        |rp AS (
        |  SELECT doc_id, n_bytes,
        |    CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start
        |  FROM m
        |),
        |ap AS (
        |  SELECT doc_id, n_bytes,
        |    CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY is_batch, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start
        |  FROM m
        |),
        |rs AS (
        |  SELECT start // 8192 AS shard_id,
        |    CAST(COUNT(*) AS BIGINT) AS repack_items,
        |    CAST(SUM(n_bytes) AS BIGINT) AS repack_bytes,
        |    md5(string_agg(
        |      CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(start - (start // 8192) * 8192 AS VARCHAR) || ':' ||
        |      CAST(n_bytes AS VARCHAR), '|'
        |      ORDER BY start - (start // 8192) * 8192)) AS repack_sig
        |  FROM rp GROUP BY 1
        |),
        |asd AS (
        |  SELECT start // 8192 AS shard_id,
        |    CAST(COUNT(*) AS BIGINT) AS append_items,
        |    CAST(SUM(n_bytes) AS BIGINT) AS append_bytes,
        |    md5(string_agg(
        |      CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(start - (start // 8192) * 8192 AS VARCHAR) || ':' ||
        |      CAST(n_bytes AS VARCHAR), '|'
        |      ORDER BY start - (start // 8192) * 8192)) AS append_sig
        |  FROM ap GROUP BY 1
        |)
        |SELECT COALESCE(rs.shard_id, asd.shard_id) AS shard_id,
        |  COALESCE(repack_items, 0) AS repack_items,
        |  COALESCE(repack_bytes, 0) AS repack_bytes,
        |  COALESCE(append_items, 0) AS append_items,
        |  COALESCE(append_bytes, 0) AS append_bytes,
        |  CASE WHEN repack_sig IS NULL THEN 'append_only'
        |       WHEN append_sig IS NULL THEN 'repack_only'
        |       WHEN repack_sig = append_sig THEN 'match'
        |       ELSE 'changed' END AS status
        |FROM rs FULL OUTER JOIN asd ON rs.shard_id = asd.shard_id
        |ORDER BY 1""".stripMargin,

    // m08: the pack stated as ONE global window cumsum
    // m12: m08's pack restated (the one global cumsum), the released
    // set over the same manifest statement, one doc_id join, one
    // shard rollup
    "m12_release_staleness" ->
      s"""WITH mm AS (
         |  SELECT doc_id,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         |  FROM documents
         |),
         |c AS (
         |  SELECT *, CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS start
         |  FROM mm
         |),
         |pk AS (
         |  SELECT doc_id, n_bytes, start // 8192 AS shard_id FROM c
         |),
         |rel AS MATERIALIZED (
         |  SELECT doc_id FROM (${PipelineOps.p31Sql})
         |  WHERE status = 'released'
         |)
         |SELECT pk.shard_id,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  CAST(sum(pk.n_bytes) AS BIGINT) AS n_bytes,
         |  CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS live_items,
         |  CAST(sum(CASE WHEN r.doc_id IS NOT NULL THEN pk.n_bytes
         |    ELSE 0 END) AS BIGINT) AS live_bytes,
         |  CASE WHEN sum(pk.n_bytes) > 0 THEN
         |    CAST(sum(pk.n_bytes) - sum(CASE WHEN r.doc_id IS NOT NULL
         |      THEN pk.n_bytes ELSE 0 END) AS DOUBLE) / sum(pk.n_bytes)
         |    ELSE 0.0 END AS stale_share,
         |  CAST(CASE WHEN sum(pk.n_bytes) > 0
         |    AND (sum(pk.n_bytes) - sum(CASE WHEN r.doc_id
         |    IS NOT NULL THEN pk.n_bytes ELSE 0 END)) * 2
         |    >= sum(pk.n_bytes) THEN 1 ELSE 0 END AS BIGINT) AS compact
         |FROM pk LEFT JOIN rel r ON r.doc_id = pk.doc_id
         |GROUP BY pk.shard_id ORDER BY pk.shard_id""".stripMargin,
    // m13: m08's start assignment + one shard-keyed fold; the
    // fingerprint hashes the lpad-canonical member list (ORDER BY
    // doc_id == lexicographic on the padded form)
    "m13_shard_fingerprint" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |         md5(text) AS payload_md5
        |  FROM documents
        |),
        |c AS (
        |  SELECT *, CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS start
        |  FROM m
        |),
        |s AS (SELECT *, start // 8192 AS shard_id FROM c)
        |SELECT shard_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc,
        |  md5(string_agg(
        |    lpad(CAST(doc_id AS VARCHAR), 12, '0') || ':' || payload_md5,
        |    ',' ORDER BY doc_id)) AS fingerprint
        |FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin,

    "m08_shard_pack" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
        |           AS kind,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents
        |),
        |c AS (
        |  SELECT *, CAST(COALESCE(SUM(n_bytes) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS start
        |  FROM m
        |)
        |SELECT doc_id, kind, n_bytes,
        |  start // 8192 AS shard_id,
        |  start - (start // 8192) * 8192 AS shard_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // m09: the append stated as ONE (is_batch, doc_id)-ordered cumsum
    "m09_shard_append" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
        |           AS kind,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |         CAST(doc_id % 10 = 7 AS BIGINT) AS is_batch
        |  FROM documents
        |),
        |c AS (
        |  SELECT *, CAST(COALESCE(SUM(n_bytes) OVER (
        |    ORDER BY is_batch, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS start
        |  FROM m
        |)
        |SELECT doc_id, kind, n_bytes, is_batch,
        |  start // 8192 AS shard_id,
        |  start - (start // 8192) * 8192 AS shard_offset
        |FROM c ORDER BY doc_id""".stripMargin,

    // the all-pairs declarative statement of m06 (the engine bands;
    // hamming <= 1 makes banding lossless, so the sets agree exactly)
    // m07: the same exact+perceptual channels aggregated per kind;
    // md5(text) == md5 of the UTF-8 payload bytes in both engines
    "m07_media_dedup_report" ->
      """WITH c AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |    list_transform(generate_series(1, greatest(length(text), 0)),
        |      i -> ascii(substring(text, i, 1))) AS codes
        |  FROM documents
        |),
        |blocks AS (
        |  SELECT doc_id, n, list_sum(codes) AS total, b,
        |    list_sum(list_slice(codes, CAST(floor(n*b/16) AS INT) + 1,
        |                               CAST(floor(n*(b+1)/16) AS INT))) AS bsum,
        |    CAST(floor(n*(b+1)/16) AS INT)
        |      - CAST(floor(n*b/16) AS INT) AS blen
        |  FROM c, unnest(generate_series(0, 15)) AS t(b)
        |),
        |sig AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN blen > 0 AND bsum * n >= total * blen
        |             THEN 1 << b ELSE 0 END) AS BIGINT) AS sig
        |  FROM blocks GROUP BY doc_id
        |),
        |near AS (
        |  SELECT DISTINCT b.doc_id FROM sig a JOIN sig b
        |    ON a.doc_id < b.doc_id
        |  WHERE bit_count(CAST(xor(a.sig, b.sig) AS BIGINT)) <= 1
        |),
        |m AS (
        |  SELECT doc_id,
        |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
        |    md5(text) AS h
        |  FROM documents
        |),
        |keeper AS (SELECT h, min(doc_id) AS keeper FROM m GROUP BY h),
        |cls AS (
        |  SELECT m.kind,
        |    CASE WHEN m.doc_id > k.keeper THEN 1 ELSE 0 END AS ex,
        |    CASE WHEN m.doc_id = k.keeper AND nr.doc_id IS NOT NULL
        |         THEN 1 ELSE 0 END AS nr
        |  FROM m JOIN keeper k ON k.h = m.h
        |  LEFT JOIN near nr ON nr.doc_id = m.doc_id
        |)
        |SELECT kind, count(*) AS n_media,
        |  CAST(SUM(ex) AS BIGINT) AS n_exact_removed,
        |  CAST(SUM(nr) AS BIGINT) AS n_near_removed,
        |  CAST(count(*) - SUM(ex) - SUM(nr) AS BIGINT) AS n_kept,
        |  CAST(SUM(ex) + SUM(nr) AS DOUBLE) / count(*) AS removal_rate
        |FROM cls GROUP BY kind ORDER BY kind""".stripMargin,

    // m06: the integer 8x8 DCT-II pHash, stated coefficient-for-
    // coefficient (same fixed-point table literals as MediaOps
    // .dctTable), plus the band-screen semantics: a pair is in the
    // result iff it shares >= 1 of the 8 signature bands AND
    // hamming <= 16 — the LSH screen is part of the definition.
    "m06_phash_neardup" ->
      """WITH c AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |    list_transform(generate_series(1, greatest(length(text), 0)),
        |      i -> ascii(substring(text, i, 1))) AS codes
        |  FROM documents
        |),
        |pixed AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 63), p ->
        |      CASE WHEN CAST(floor(n*(p+1)/64) AS INT)
        |               > CAST(floor(n*p/64) AS INT)
        |        THEN CAST(list_sum(list_slice(codes,
        |               CAST(floor(n*p/64) AS INT) + 1,
        |               CAST(floor(n*(p+1)/64) AS INT))) AS BIGINT)
        |             // (CAST(floor(n*(p+1)/64) AS INT)
        |                - CAST(floor(n*p/64) AS INT))
        |        ELSE 0 END) AS pix
        |  FROM c
        |),
        |t AS (SELECT [7071, 7071, 7071, 7071, 7071, 7071, 7071, 7071,
        |  9808, 8315, 5556, 1951, -1951, -5556, -8315, -9808,
        |  9239, 3827, -3827, -9239, -9239, -3827, 3827, 9239,
        |  8315, -1951, -9808, -5556, 5556, 9808, 1951, -8315,
        |  7071, -7071, -7071, 7071, 7071, -7071, -7071, 7071,
        |  5556, -9808, 1951, 8315, -8315, -1951, 9808, -5556,
        |  3827, -9239, 9239, -3827, -3827, 9239, -9239, 3827,
        |  1951, -5556, 8315, -9808, 9808, -8315, 5556, -1951] AS tt),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(0, 63), uv ->
        |      list_sum(list_transform(generate_series(0, 63), xy ->
        |        CAST(pix[xy + 1] AS BIGINT)
        |        * tt[(uv // 8) * 8 + (xy // 8) + 1]
        |        * tt[(uv % 8) * 8 + (xy % 8) + 1]))) AS fs
        |  FROM pixed, t
        |),
        |med AS (
        |  SELECT doc_id, fs,
        |         list_sort(list_slice(fs, 2, 64))[32] AS med
        |  FROM f
        |),
        |sig AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(1, 63), uv ->
        |      CASE WHEN fs[uv + 1] > med THEN CAST(1 AS BIGINT) << (uv - 1)
        |           ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS sig
        |  FROM med
        |),
        |banded AS (
        |  SELECT doc_id, sig, b, (sig >> (b * 8)) & 255 AS key
        |  FROM sig, unnest(generate_series(0, 7)) AS t2(b)
        |)
        |SELECT doc_a, doc_b, sig_a, sig_b, hamming FROM (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |         a.sig AS sig_a, b.sig AS sig_b,
        |         CAST(bit_count(CAST(xor(a.sig, b.sig) AS BIGINT))
        |           AS BIGINT) AS hamming
        |  FROM banded a JOIN banded b
        |    ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id
        |)
        |WHERE hamming <= 16
        |ORDER BY doc_a, doc_b""".stripMargin,

    "m05_sample_assembly" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
        |           AS kind,
        |         octet_length(encode(text)) AS n_bytes,
        |         len(string_split(text, ' ')) AS n_tokens, lang, source
        |  FROM documents
        |),
        |u AS (
        |  SELECT vec_id, label,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS x
        |  FROM embeddings
        |),
        |n AS (
        |  SELECT vec_id, CAST(min(label) AS BIGINT) AS label,
        |         CAST(SUM(x * x) AS BIGINT) AS vnorm
        |  FROM u GROUP BY vec_id
        |)
        |SELECT m.doc_id, m.kind, m.lang, m.source, m.n_tokens, m.n_bytes,
        |  n.label, n.vnorm,
        |  CAST(CASE WHEN n.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS has_embedding
        |FROM m LEFT JOIN n ON n.vec_id = m.doc_id
        |ORDER BY m.doc_id""".stripMargin,

    // m11: top-5 magics per kind by (count desc, header), OTHER rollup,
    // shares single divisions by the kind totals
    "m11_codec_census" ->
      """WITH m AS (
        |  SELECT ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
        |           AS kind,
        |         hex(substring(text, 1, 2)) AS hdr,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS nb
        |  FROM documents
        |),
        |per AS (
        |  SELECT kind, hdr, CAST(count(*) AS BIGINT) AS ni,
        |         CAST(sum(nb) AS BIGINT) AS nby
        |  FROM m GROUP BY 1, 2
        |),
        |labeled AS (
        |  SELECT kind,
        |    CASE WHEN row_number() OVER (PARTITION BY kind
        |      ORDER BY ni DESC, hdr) <= 5 THEN hdr ELSE 'OTHER' END
        |      AS header_hex,
        |    ni, nby
        |  FROM per
        |),
        |rolled AS (
        |  SELECT kind, header_hex, CAST(sum(ni) AS BIGINT) AS n_items,
        |         CAST(sum(nby) AS BIGINT) AS n_bytes
        |  FROM labeled GROUP BY 1, 2
        |),
        |tot AS (
        |  SELECT kind, CAST(count(*) AS BIGINT) AS ki,
        |         CAST(sum(nb) AS BIGINT) AS kb
        |  FROM m GROUP BY 1
        |)
        |SELECT r.kind, r.header_hex, r.n_items, r.n_bytes,
        |  CAST(r.n_items AS DOUBLE) / t.ki AS item_share,
        |  CAST(r.n_bytes AS DOUBLE) / t.kb AS byte_share
        |FROM rolled r JOIN tot t ON t.kind = r.kind
        |ORDER BY r.kind, r.n_items DESC, r.header_hex""".stripMargin,

    "m01_media_meta" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
        |           AS kind,
        |         encode(text) AS payload, text
        |  FROM documents
        |)
        |SELECT doc_id, kind,
        |       octet_length(payload) AS n_bytes,
        |       hex(substring(text, 1, 4)) AS header_hex,
        |       CAST('0x' || substring(md5(text), 1, 4) AS BIGINT) % 1856 + 64
        |         AS pseudo_width,
        |       CAST('0x' || substring(md5(text), 5, 4) AS BIGINT) % 1024 + 64
        |         AS pseudo_height
        |FROM m ORDER BY doc_id""".stripMargin,

    "m02_media_features" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
        |           AS kind,
        |         text
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, kind, octet_length(encode(text)) AS n,
        |    list_transform(generate_series(1, greatest(length(text), 0)),
        |      i -> ascii(substring(text, i, 1))) AS codes
        |  FROM m
        |)
        |SELECT doc_id, kind, CAST(n AS BIGINT) AS n_bytes,
        |  CASE WHEN n = 0 THEN 0.0
        |       ELSE CAST(list_sum(codes) AS DOUBLE) / n END AS mean_byte,
        |  CAST(64 + (CASE WHEN n > 0 THEN codes[1] ELSE 0 END % 8) * 32
        |    AS BIGINT) AS width,
        |  CAST(64 + (CASE WHEN n > 1 THEN codes[2] ELSE 0 END % 8) * 32
        |    AS BIGINT) AS height,
        |  CAST(CASE WHEN kind = 'video' THEN 1 + n % 240 ELSE 1 END
        |    AS BIGINT) AS n_frames,
        |  concat_ws(',',
        |    CAST(len(list_filter(codes, c -> c // 64 = 0)) AS BIGINT),
        |    CAST(len(list_filter(codes, c -> c // 64 = 1)) AS BIGINT),
        |    CAST(len(list_filter(codes, c -> c // 64 = 2)) AS BIGINT),
        |    CAST(len(list_filter(codes, c -> c // 64 = 3)) AS BIGINT))
        |    AS histo4_csv
        |FROM c ORDER BY doc_id""".stripMargin,

    "m04_resize" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
        |           AS kind,
        |         text
        |  FROM documents
        |),
        |c AS (
        |  SELECT doc_id, kind, octet_length(encode(text)) AS n,
        |    list_transform(generate_series(1, greatest(length(text), 0)),
        |      i -> ascii(substring(text, i, 1))) AS codes
        |  FROM m
        |),
        |d AS (
        |  SELECT doc_id, kind, n, codes,
        |    64 + (CASE WHEN n > 0 THEN codes[1] ELSE 0 END % 8) * 32 AS w,
        |    64 + (CASE WHEN n > 1 THEN codes[2] ELSE 0 END % 8) * 32 AS h
        |  FROM c
        |)
        |SELECT doc_id, kind,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(greatest(w // 2, 1) AS BIGINT) AS out_width,
        |  CAST(greatest(h // 2, 1) AS BIGINT) AS out_height,
        |  CAST(n AS BIGINT) AS n_bytes,
        |  CAST((n + 1) // 2 AS BIGINT) AS out_bytes,
        |  CAST(coalesce(list_sum(list_transform(
        |    generate_series(1, greatest(n, 1), 2), i -> codes[i])), 0)
        |    AS BIGINT) AS checksum
        |FROM d ORDER BY doc_id""".stripMargin,

    "m03_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
        |),
        |f AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, greatest(length(text), 1), 100),
        |      p -> hex(substring(text, p, 2))) AS frames
        |  FROM m
        |)
        |SELECT doc_id, len(frames) AS n_frames,
        |       array_to_string(frames, ',') AS frames_hex
        |FROM f ORDER BY doc_id""".stripMargin
  )
}
