package graft

/** Deterministic planted-cluster vector corpus + exact quantized-cosine
  * ground truth — shared by the ANN recall specs (s07/s08). Geometry: k centroids ~ N(0,1)^dim, members =
  * centroid + noise*N(0,1), seeded so every consumer sees the same
  * corpus. Ground truth uses the SAME round(x*1e6) integer quantization
  * as the engine kernels, so recall is measured against exactly what
  * the queries compute.
  */
object PlantedVectors {

  /** Cluster of vector i: contiguous blocks of n/k members (matches the
    * recall specs' original geometry, so measured numbers carry over).
    */
  def clusterOf(i: Long, n: Int, k: Int): Long = i / (n / k)

  def corpus(n: Int, k: Int, seed: Long = 42L, dim: Int = 64,
      noise: Double = 0.25): Seq[(Long, Seq[Float])] = {
    require(n % k == 0, s"n=$n must be a multiple of k=$k")
    val rnd = new scala.util.Random(seed)
    val centroids = Array.fill(k, dim)(rnd.nextGaussian())
    (0 until n).map { i =>
      val c = centroids(clusterOf(i, n, k).toInt)
      (i.toLong, (0 until dim).map(d =>
        (c(d) + noise * rnd.nextGaussian()).toFloat))
    }
  }

  /** round(x*1e6) quantization — must match SimOps' `quantize`. */
  def quantized(vecs: Seq[(Long, Seq[Float])]): Map[Long, Array[Long]] =
    vecs.map { case (id, x) =>
      id -> x.map(e => math.round(e.toDouble * 1e6)).toArray
    }.toMap

  private def normSq(a: Array[Long]): Double = {
    var s = 0L; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    s.toDouble
  }

  def cosine(a: Array[Long], b: Array[Long]): Double = {
    var dot = 0L; var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    dot / (math.sqrt(normSq(a)) * math.sqrt(normSq(b)))
  }

  /** Exact top-k neighbor ids of `q` (cosine desc, id asc). */
  def exactTopK(qv: Map[Long, Array[Long]], q: Long, k: Int): Set[Long] =
    qv.keys.filter(_ != q).toSeq
      .sortBy(v => (-cosine(qv(q), qv(v)), v)).take(k).toSet

  /** Mean recall@k of `got` (query -> returned ids) vs exact truth. */
  def recallAtK(qv: Map[Long, Array[Long]],
      got: Map[Long, Set[Long]], queries: Seq[Long], k: Int): Double = {
    val rs = queries.map { q =>
      got.getOrElse(q, Set.empty).intersect(exactTopK(qv, q, k)).size
        .toDouble / k
    }
    rs.sum / rs.size
  }

  /** exactTopK restricted to ids satisfying `pred` — the truth set for
    * metadata-filtered search (s26).
    */
  def exactTopKWhere(qv: Map[Long, Array[Long]], q: Long, k: Int,
      pred: Long => Boolean): Set[Long] =
    qv.keys.filter(v => v != q && pred(v)).toSeq
      .sortBy(v => (-cosine(qv(q), qv(v)), v)).take(k).toSet

  /** recallAtK against the predicate-restricted truth. */
  def recallAtKWhere(qv: Map[Long, Array[Long]],
      got: Map[Long, Set[Long]], queries: Seq[Long], k: Int,
      pred: Long => Boolean): Double = {
    val rs = queries.map { q =>
      val truth = exactTopKWhere(qv, q, k, pred)
      got.getOrElse(q, Set.empty).intersect(truth).size.toDouble /
        math.max(truth.size, 1)
    }
    rs.sum / rs.size
  }
}
