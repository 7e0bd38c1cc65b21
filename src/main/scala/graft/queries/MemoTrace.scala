package graft.queries

/** Build-event trace for session-shared memoized relations.
  *
  * WHY: the bench suite runs 230+ queries in ONE shared session, and
  * ~15 expensive relations (LSH pair lists, unigram counts, image/video
  * pipelines, IVF indexes) are memoized and shared across consumers.
  * The BUILD cost of a shared relation is charged to whichever consumer
  * happens to run first — and when Bench clears the cache between
  * families, to whichever consumer triggers the lazy re-persist. Round
  * 17 showed the failure mode: 8 keys "regressed" ≥1.5× with zero code
  * change, and the artifact could not distinguish a real plan defect
  * from memo-build attribution drift (VERDICT r17 "What's missing" #1).
  *
  * [[Memo]] reports here when a timed run actually paid a build (first
  * construction, or a rebuild after the dir's data stamp changed) or a
  * re-persist (cache was dropped, the next action re-materializes); the
  * event is the memo's label, with its parameters (`kmCentroids/3/2`),
  * and `label:repersist`. Bench drains the trace around each
  * sample and records each sample's events under `builds` in
  * bench_full.json, so a reader can see which sample (normally the
  * cold one) paid a shared build and adjudicate round-over-round deltas
  * from the artifact alone.
  *
  * Thread-safety: a plain synchronized buffer — build events are rare
  * (tens per full bench run) so contention is irrelevant. Not
  * per-session: Bench owns its JVM (the driver runs each entrypoint
  * alone — the verify-skill concurrency rule), and concurrent test
  * sessions only ever ADD noise events that Bench isn't running to
  * observe. CONTRACT (ADVICE r18): if Verify/tests ever share a JVM
  * with a running Bench, events from the other session would be
  * attributed to whatever sample is being timed — at that point key
  * the buffer by SparkSession (or thread) and drain per-key; until
  * then the global buffer is the simpler correct-under-contract form.
  */
private[graft] object MemoTrace {
  private val events = scala.collection.mutable.ListBuffer.empty[String]

  /** Record that a shared-relation build (or re-persist) ran. Labels are
    * `name` for a first build and `name:repersist` for a re-persist
    * after an external cache clear.
    */
  def built(label: String): Unit = synchronized { events += label }

  /** Return and clear all events recorded since the last drain. */
  def drain(): Seq[String] = synchronized {
    val v = events.toList; events.clear(); v
  }
}

/** Names and stamps for memo keys. */
private[graft] object MemoNames {
  /** Collision-safe per-dir suffix for memoized catalog-table names.
    *
    * The former `Integer.toHexString(dir.hashCode)` was a 32-bit hash of
    * the data-dir path: two different dirs colliding would silently reuse
    * each other's persisted base relation and emit wrong merged results
    * (ADVICE r17). 60 bits of md5 over the full path makes an accidental
    * collision implausible (~2^-30 at a million dirs) and keeps the
    * table-name suffix short and catalog-legal.
    */
  def dirSuffix(d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8"))
    md.take(8).map(b => f"$b%02x").mkString.take(15)
  }

  /** Fingerprint of the data under `dir`: md5 over the path, size and
    * mtime of every regular file, in path order ("nodata" when `dir` is
    * not a directory). A memo keyed by dir alone serves stale values
    * after the dir's tables are rewritten in place; keying it by
    * (dir, dataStamp(dir)) rebuilds it instead. Cheap next to any Spark
    * job: a directory walk with no file reads.
    */
  def dataStamp(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) "nodata"
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .toSeq.sortBy(_.toString)
        .foreach { f =>
          md.update(f.toString.getBytes("UTF-8"))
          md.update(java.nio.file.Files.size(f).toString.getBytes("UTF-8"))
          md.update(java.nio.file.Files.getLastModifiedTime(f)
            .toMillis.toString.getBytes("UTF-8"))
        }
      finally walk.close()
      md.digest().map("%02x".format(_)).mkString.take(16)
    }
  }
}
