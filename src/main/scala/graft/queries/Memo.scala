package graft.queries

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The one store for what queries share: persisted relations, driver-side
  * values (centroids, Bloom filters, plane counts, table schemas) and the
  * names of catalog tables a build wrote. Shark's explicitly managed
  * in-memory tables are the model: one facility, not one cache per
  * operator.
  *
  * THE RULE. An entry is keyed by (label, session, dir) and stamped with
  * `MemoNames.dataStamp(dir)`; it is served only to the same live session
  * while the dir's files are unchanged:
  *  - a memo's parameters are part of its label (`kmCentroids/3/2`);
  *  - a stamp change (the dir was rewritten in place) drops the entry,
  *    unpersisting a stale relation, and rebuilds it;
  *  - entries of a stopped session are evicted on the next access;
  *  - a relation whose blocks `clearCache()` dropped is re-persisted at
  *    its build's storage level, and the next action re-materializes it
  *    (a `label:repersist` [[MemoTrace]] event; a build is a `label`
  *    event);
  *  - a catalog-table entry ([[tables]]) also re-checks
  *    `catalog.tableExists` on every hit, so tables dropped under it are
  *    rebuilt;
  *  - a build holds the lock of its own key only: two threads asking for
  *    one key build it once, builds of different keys never wait on each
  *    other, and a build may ask for other keys, from its own thread or
  *    from pool threads (no recursive `computeIfAbsent`).
  */
private[graft] object Memo {
  private final case class Key(label: String, session: SparkSession, dir: String)
  private final case class Entry(stamp: String, value: Any)
  private final case class Persisted(df: DataFrame, level: StorageLevel)

  private val entries = new ConcurrentHashMap[Key, Entry]()
  private val locks = new ConcurrentHashMap[Key, AnyRef]()

  /** A persisted relation. `build` may persist its result at a chosen
    * level; an unpersisted result is persisted at the default level.
    */
  def relation(s: SparkSession, d: String, label: String)(build: => DataFrame): DataFrame =
    cached[Persisted](s, d, label) { p =>
      if (p.df.storageLevel == StorageLevel.NONE) {
        MemoTrace.built(s"$label:repersist")
        p.df.persist(p.level)
      }
      true
    } {
      val df = build
      if (df.storageLevel == StorageLevel.NONE) df.persist()
      Persisted(df, df.storageLevel)
    }.df

  /** A driver-side value. */
  def value[A](s: SparkSession, d: String, label: String)(build: => A): A =
    cached[A](s, d, label)(_ => true)(build)

  /** The names of catalog tables `build` wrote; rebuilt when any of them
    * is missing from `s`'s catalog.
    */
  def tables(s: SparkSession, d: String, label: String)(build: => Seq[String]): Seq[String] =
    cached[Seq[String]](s, d, label)(_.forall(s.catalog.tableExists))(build)

  /** Drop the entry, unpersisting it if it is a relation. */
  def invalidate(s: SparkSession, d: String, label: String): Unit =
    Option(entries.remove(Key(label, s, d))).foreach(release)

  /** Cached MB (memory + disk) of `s`'s live relations, per label. */
  def cachedMb(s: SparkSession): Map[String, Double] = {
    val bytes = s.sparkContext.getRDDStorageInfo.map(i => i.id -> (i.memSize + i.diskSize)).toMap
    val cm = s.sharedState.cacheManager
    entries.asScala.toSeq.collect {
      case (k, Entry(_, Persisted(df, _))) if k.session eq s =>
        val b = cm.lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
          .map(_.cachedRepresentation.cacheBuilder)
          .filter(_.isCachedColumnBuffersLoaded)
          .map(c => bytes.getOrElse(c.cachedColumnBuffers.id, 0L))
          .getOrElse(0L)
        k.label -> b / 1048576.0
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def release(e: Entry): Unit = e.value match {
    case Persisted(df, _) => df.unpersist(blocking = false)
    case _ =>
  }

  /** Serve the entry if its stamp matches and `hit` accepts it, else
    * rebuild it under the key's lock.
    */
  private def cached[A](s: SparkSession, d: String, label: String)
                       (hit: A => Boolean)(build: => A): A = {
    entries.keySet.removeIf(_.session.sparkContext.isStopped)
    locks.keySet.removeIf(_.session.sparkContext.isStopped)
    val key = Key(label, s, d)
    val stamp = MemoNames.dataStamp(d)
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      Option(entries.get(key)) match {
        case Some(e) if e.stamp == stamp && hit(e.value.asInstanceOf[A]) =>
          e.value.asInstanceOf[A]
        case old =>
          old.foreach(release)
          MemoTrace.built(label)
          val v = build
          entries.put(key, Entry(stamp, v))
          v
      }
    }
  }
}
