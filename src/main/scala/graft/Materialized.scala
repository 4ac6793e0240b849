package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Write-once scratch materialization of small derived tables — build
  * a shared intermediate once per dataset dir per JVM, every consumer
  * scans the parquet. This is the ONLY write-once table path: the LSH
  * band table and pair graph (DedupOps), the IVF codebook and postings
  * (SimOps), p16's history partials and the release manifests
  * (PipelineOps), and RelOps' madstats/gapstats/convlat/rfmcuts all
  * go through [[table]], one key per table; a build that reads another
  * write-once table calls its accessor, so the dependency is built
  * first. It carries the two lifecycle guarantees the earlier inline
  * versions lacked (ADVICE r9):
  *
  *  - INVALIDATION: entries are keyed on (logical key, dataset-dir
  *    content fingerprint). A long-lived session that regenerates or
  *    appends the data at the same path gets a rebuild, never stale
  *    statistics. The fingerprint is a listing walk (relative path,
  *    size, mtime per file) — cheap relative to any build, and exactly
  *    the signal a lakehouse table version would provide at scale.
  *    mtime is taken at the finest resolution the filesystem reports
  *    (nanos where available), so a same-size rewrite is missed only
  *    within that resolution; sessions that mutate below it (coarse
  *    object-store mtimes) call [[invalidateAll]].
  *  - CLEANUP: the scratch dir is removed by a JVM shutdown hook, so
  *    repeated harness runs don't accumulate temp parquet.
  *
  * PLAN VISIBILITY (ADVICE r10): the build executes during DataFrame
  * CONSTRUCTION, so a static sweep over the consuming query sees only
  * the parquet scan of the finished table — the build's own executed
  * plan would be invisible to every gate except the async listener.
  * [[table]] therefore sweeps the build plan through
  * `PlanAudit.flags` before writing and records the result; `Bench`
  * drains it after each timed query and merges it into that query's
  * runtime flag set (so an undocumented structural trap inside a
  * write-once build fails the bench exactly like one in the query),
  * and `PlanAuditSpec` audits each registered build plan directly.
  *
  * CONCURRENCY: builds run under a PER-KEY lock — two sessions asking
  * for different tables build in parallel; two asking for the same key
  * wait for one build. The registry map itself is guarded by a short
  * global lock that never covers a Spark job.
  *
  * Values are identical to the inline computation by construction (the
  * build IS the derivation; parquet round-trips doubles/longs/strings
  * bit-exactly), so oracle hashes never move when a query adopts this.
  */
object Materialized {
  private case class Entry(fp: String, path: String)
  private val entries = scala.collection.mutable.Map.empty[String, Entry]
  private val keyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // Build counter, exposed for the build-once specs and the bench's
  // per-query "this cold span paid a shared build" marker.
  private[graft] var buildCount = 0
  // key -> PlanAudit.flags of the most recent build's executed plan;
  // drained by Bench after each timed query (see PLAN VISIBILITY).
  private val buildFlags =
    scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]

  private lazy val scratch: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-materialized-")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(p)))
    p
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala
        .foreach(f => try java.nio.file.Files.deleteIfExists(f)
          catch { case _: Throwable => () })
      finally walk.close()
    } catch { case _: Throwable => () }

  /** Content fingerprint of a dataset dir: every regular file's relative
    * path, size, and mtime (finest reported resolution), sorted. Missing
    * dirs fingerprint as a constant (an entry built from them stays
    * cached until they appear).
    */
  private[graft] def fingerprint(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return "absent"
    val walk = java.nio.file.Files.walk(root)
    try {
      val items = walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map { f =>
          val rel = root.relativize(f).toString
          val sz = java.nio.file.Files.size(f)
          val mt = java.nio.file.Files.getLastModifiedTime(f)
            .to(java.util.concurrent.TimeUnit.NANOSECONDS)
          s"$rel:$sz:$mt"
        }
        .toSeq.sorted
      java.util.UUID
        .nameUUIDFromBytes(items.mkString("\n").getBytes("UTF-8"))
        .toString
    } finally walk.close()
  }

  /** The table for (`key`, current content of `dir`): a parquet scan of
    * the scratch copy, built by `build` on first access or whenever the
    * dir's fingerprint has moved since the cached build.
    */
  def table(spark: SparkSession, key: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val fp = fingerprint(dir)
    def lookup(): Option[String] = synchronized {
      entries.get(key).collect { case e if e.fp == fp => e.path }
    }
    val path = lookup().getOrElse {
      val lock = keyLocks.computeIfAbsent(key, _ => new Object)
      lock.synchronized {
        // double-check under the key lock: a concurrent same-key caller
        // may have finished the build while this one waited
        lookup().getOrElse {
          val b = build
          // sweep the build plan BEFORE executing it (plan compilation
          // only — `executedPlan` does not run the job)
          val fs =
            try PlanAudit.flags(b.queryExecution.executedPlan.toString)
            catch { case _: Throwable => Nil }
          val p = synchronized {
            buildCount += 1
            if (fs.nonEmpty) buildFlags(key) = fs
            scratch.resolve(s"t$buildCount").toString
          }
          b.coalesce(1).write.mode("overwrite").parquet(p)
          synchronized { entries(key) = Entry(fp, p) }
          p
        }
      }
    }
    spark.read.parquet(path)
  }

  /** Drain (return and clear) the build-plan flags recorded since the
    * last drain — Bench calls this after each timed query to attribute
    * any write-once build's plan flags to the query that triggered it.
    */
  private[graft] def drainBuildFlags(): Map[String, Seq[String]] =
    synchronized {
      val out = buildFlags.toMap
      buildFlags.clear()
      out
    }

  /** Explicit invalidation hook for embedding sessions that mutate data
    * out-of-band of the filesystem signal (e.g. object stores with
    * coarse mtimes). Cached files stay on disk until JVM exit; the next
    * access rebuilds.
    */
  def invalidateAll(): Unit = synchronized { entries.clear() }
}
