package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}
import org.apache.spark.sql.SparkSession

/** A per-(session, key) memo of a costly artifact (a scan's partition-count
  * probe, a persisted serving index): built once per session, rebuilt when
  * stale, released when its session dies.
  *
  * - Sessions are held WEAKLY, by identity, so a long-lived driver cycling
  *   sessions can't pin dead sessions' artifacts, and no session serves or
  *   evicts another's. Values must not reference their session, or they
  *   would pin their own weak key.
  * - The memo holds a FUTURE, not the value: a build runs Spark jobs, and
  *   `ConcurrentHashMap.computeIfAbsent` would hold the map bin for the
  *   whole build, blocking every caller whose key shares the bin. The
  *   build runs outside any lock; concurrent callers for one key await one
  *   build.
  * - A failed build removes only its own future (two-argument `remove`).
  * - A value failing `valid` (e.g. its scratch table was dropped) is
  *   replaced only while the entry is still the future observed stale, so
  *   concurrent observers converge on one rebuild.
  */
final class SessionMemo[V] {
  private type Entries = ConcurrentHashMap[String, CompletableFuture[V]]
  // callers key on a handful of bases or dirs; this is only a backstop
  private val MaxEntries = 256

  // synchronizedMap's computeIfAbsent is synchronized, so the lookup is atomic
  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, Entries]())

  def getOrBuild(s: SparkSession, key: String, valid: V => Boolean = (_: V) => true)(
      build: => V): V = {
    val memo = sessions.computeIfAbsent(s, _ => new Entries())
    if (memo.size > MaxEntries) memo.clear()
    def run(f: CompletableFuture[V]): V =
      try { val v = build; f.complete(v); v }
      catch { case e: Throwable => f.completeExceptionally(e); memo.remove(key, f); throw e }
    val mine = new CompletableFuture[V]()
    val observed = Option(memo.putIfAbsent(key, mine)).getOrElse(mine)
    val v = if (observed eq mine) run(mine) else observed.join()
    if (valid(v)) v
    else {
      val fresh = new CompletableFuture[V]()
      val winner = memo.compute(key,
        (_, cur) => if (cur == null || (cur eq observed)) fresh else cur)
      if (winner eq fresh) run(fresh) else winner.join()
    }
  }

  /** Number of live sessions holding entries. */
  def sessionCount: Int = sessions.size
}
