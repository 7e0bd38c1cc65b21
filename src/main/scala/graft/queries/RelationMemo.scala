package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session-memoized persisted-relation contract every shared family
  * pipeline follows (lshShared, unigramCounts, imageShared, ...), in one
  * place for the relations added since: stale sessions are evicted
  * (a stopped SparkContext must not pin a DataFrame), the build runs at
  * most once per (session, dir), and a memo hit whose cache was dropped
  * (Bench clears the cache between families) is re-persisted lazily.
  *
  * `build` must RETURN AN ALREADY-PERSISTED frame (builds often cache
  * intermediates, materialize, and release them — only the final persist
  * is this helper's concern).
  *
  * TWO-SESSION SAFETY (the distinction that decides whether a memo needs
  * a catalog guard): memos here hold PLAIN VALUES or DataFrames keyed by
  * (session, dir) — a second session never sees the first's entry, and a
  * restarted session rebuilds from the parquet dir, so they are safe
  * across sessions. They are NOT safe against the dir's tables being
  * rewritten in place while the session lives: the hit serves the old
  * data (or a persisted plan over deleted files). VALUE memos that
  * outlive sessions (`subwordMemo`, `bruteTruthMemo`: pure functions of
  * the dir's data) are keyed by (dir, `MemoNames.dataStamp(dir)`)
  * instead, so a rewrite changes the key and rebuilds them.
  * The one genuinely session-COUPLED kind is a memo that records "I
  * already wrote Spark-catalog TABLES for this dir" (the IVF index
  * memos): the table lives in the session catalog, so a memo hit from a
  * different/previous session must re-validate with
  * `catalog.tableExists` before trusting it (SimQueries.ivfAppendTables
  * / ivfRebalMemo carry exactly that guard; AnnPersistSpec pins the
  * fresh-catalog case). New memos: keyed by (session, dir) + plain
  * value/DataFrame → no guard; records a catalog/file side effect →
  * needs an existence re-check on hit.
  */
private[queries] object RelationMemo {
  def relation(map: scala.collection.mutable.Map[(SparkSession, String), DataFrame],
               key: (SparkSession, String), label: String)(build: => DataFrame): DataFrame =
    map.synchronized {
      map.filterInPlace { case ((ks, _), _) => !ks.sparkContext.isStopped }
      val memo = map.getOrElseUpdate(key, { MemoTrace.built(label); build })
      if (memo.storageLevel == StorageLevel.NONE) {
        // the NEXT action on this frame re-materializes the build — that
        // cost lands in the caller's timed sample, so it's a build event
        MemoTrace.built(label + ":repersist")
        memo.persist()
      }
      memo
    }
}
