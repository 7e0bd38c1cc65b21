package graft.streaming

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** The keyed keep-first admission every exact-dedup stream shares, and
  * the idle-TTL timeout choice of every stateful operator here.
  *
  * Per key the state is ONE long, the keeper id. Within one micro-batch
  * arrival order is nondeterministic, so members are admitted in sorted
  * id order (smallest id = keeper, the batch tie-break); across
  * micro-batches the EARLIER batch's keeper wins. `ttl` bounds state on
  * an unbounded corpus: a key idle longer than the TTL is evicted
  * (processing-time timeout), so a later re-arrival is admitted as a NEW
  * keeper. `None` keeps state forever (bounded corpora / upstream
  * retention).
  */
object KeepFirst {

  /** The group-state timeout for an optional idle TTL. */
  def timeout(ttl: Option[String]): GroupStateTimeout =
    if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout

  /** Record `keeper` and re-arm the TTL: TTL measures IDLE time, so a
    * key touched by every batch never expires mid-stream.
    */
  private def keep(ttl: Option[String], state: GroupState[Long], keeper: Long): Unit = {
    state.update(keeper)
    ttl.foreach(state.setTimeoutDuration)
  }

  /** Duplicates of the key's keeper: emits (id, keeper) for every arrival
    * after the first. A redelivery of the keeper itself (at-least-once
    * sources) emits nothing — (k, k) would mark the only copy a
    * duplicate.
    */
  def keepFirstFn[K, V](ttl: Option[String], id: V => Long)(key: K, rows: Iterator[V],
      state: GroupState[Long]): Iterator[(Long, Long)] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val sorted = rows.map(id).toSeq.sorted
    val keeper = if (state.exists) Some(state.get) else sorted.headOption
    keeper.foreach(keep(ttl, state, _))
    keeper.iterator.flatMap(k => sorted.iterator.filter(_ != k).map((_, k)))
  }

  /** The key's first arrival itself: emits the first-ever row (smallest
    * id within its micro-batch) and swallows every later one, keeper
    * redeliveries included.
    */
  def passFirstFn[K, V](ttl: Option[String], id: V => Long)(key: K, rows: Iterator[V],
      state: GroupState[Long]): Iterator[V] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val fresh = !state.exists
    val first = rows.minByOption(id)
    (if (fresh) first.map(id) else Some(state.get)).foreach(keep(ttl, state, _))
    if (fresh) first.iterator else Iterator.empty
  }
}
