package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one session-scoped artifact memo: every shared relation, index
  * path pair and persisted-index model array graft builds once per
  * (session, dir) lives here, keyed by (session, dir, artifact name).
  *
  * Eviction is one rule for every entry. The first insert for a
  * CONTEXT installs a single ApplicationEnd listener (one per context,
  * not per session — per-session listeners accumulated on the bus
  * under session churn) that sweeps every session of that context,
  * and every insert purges entries whose context has already stopped
  * (covering the insert-after-sweep race). Without eviction a
  * long-lived multi-session embedding would pin stopped sessions,
  * their eagerly localCheckpoint'ed blocks and their model arrays for
  * the JVM lifetime. Known boundary: sessions CHURNED over one
  * long-lived context (newSession/cloneSession per tenant) hold their
  * entries until that context ends — there is no per-session
  * lifecycle event to hook; an embedding with per-tenant sessions
  * should reuse them per (tenant, dir), which is also what makes the
  * memo pay.
  *
  * An entry may carry a stamp: a lookup whose stamp differs rebuilds
  * and REPLACES that entry (the persisted ANN index's in-place model
  * rewrite), so a rewritten artifact holds one entry, not history.
  * Builds may re-enter the memo for another artifact (blocked_pairs
  * builds shingle_sets), which TrieMap get/putIfAbsent allows and
  * `ConcurrentHashMap.computeIfAbsent` would reject as a recursive
  * update. Two racing builds of one key both run; the first insert
  * wins and both callers get its value.
  */
private[graft] object SessionMemo {
  private final case class Entry(stamp: Any, value: Any)
  private val m = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Entry]
  private val hooked = java.util.concurrent.ConcurrentHashMap
    .newKeySet[SparkContext]()

  def apply[V](s: SparkSession, dir: String, artifact: String,
               stamp: Any = ())(build: => V): V = {
    val k = (s, dir, artifact)
    m.get(k) match {
      case Some(e) if e.stamp == stamp => e.value.asInstanceOf[V]
      case _ =>
        hookEviction(s)
        val fresh = Entry(stamp, build)
        val won = m.putIfAbsent(k, fresh) match {
          case Some(cur) if cur.stamp == stamp => cur
          case Some(_) => m.put(k, fresh); fresh
          case None => fresh
        }
        won.value.asInstanceOf[V]
    }
  }

  /** Live entries for `s` — lets eviction be asserted without
    * stopping a shared context. */
  def entries(s: SparkSession): Int = m.keySet.count(_._1 eq s)

  /** The ApplicationEnd sweep, callable directly: posting a synthetic
    * ApplicationEnd onto a LIVE bus would also feed Spark's own
    * AppStatus/SQL listeners on a context still in use. */
  def sweep(sc: SparkContext): Unit = {
    m.keySet.filter(_._1.sparkContext eq sc).foreach(m.remove)
    // un-hook only a STOPPED context (SparkContext.stop() flips the
    // flag before posting ApplicationEnd). A sweep of a LIVE context
    // keeps its `hooked` entry: removing it would make the next
    // insert register a SECOND listener while the first is still on
    // the bus — one more per sweep+insert cycle.
    if (sc.isStopped) hooked.remove(sc)
  }

  private def hookEviction(s: SparkSession): Unit = {
    // an entry whose context already stopped can never be swept by
    // its own listener again (inserted after the sweep ran, or the
    // listener fired before the insert existed)
    m.keySet.filter(_._1.sparkContext.isStopped).foreach(m.remove)
    // dead contexts whose listener never fired (bus already stopped
    // at post time) — bounds `hooked`'s strong context refs
    hooked.removeIf(_.isStopped)
    val sc = s.sparkContext
    if (hooked.add(sc))
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          sweep(sc)
      })
  }
}
