package graft.operators

import java.lang.ref.WeakReference
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.SparkSession

/** SESSION-SCOPED memo for expensive fixpoint results keyed by a
  * caller-chosen key (conventionally the CANONICALIZED logical plan of the
  * input frame plus the iteration count — the same computation identity
  * Spark's own CacheManager uses).
  *
  * This replaces the earlier per-operator JVM-global
  * `ConcurrentHashMap[(plan, iters), V]` maps (Bradley-Terry, PageRank,
  * KMeans, the BPE trainer), fixing three defects they shared:
  *
  *   - CROSS-SESSION SERVING: a memoized DataFrame is bound to the session
  *     that built it; serving it to an equivalent plan from a different
  *     session hands out a frame whose session may be stopped. Here the
  *     key is prefixed with a session-identity token, so a memo entry can
  *     only ever be served back to its own session, and entries whose
  *     session has been garbage-collected or stopped are swept on the next
  *     insertion.
  *   - COMPUTE UNDER THE BIN LOCK: `computeIfAbsent(k, fullFixpoint)` runs
  *     a multi-round Spark job while holding the map's bin lock, so two
  *     concurrent callers training DIFFERENT corpora whose keys collide in
  *     a bin serialize behind each other. Here `computeIfAbsent` only
  *     allocates a cheap holder; the fixpoint runs in the holder's `lazy
  *     val` OUTSIDE the map, so callers of the SAME key still serialize
  *     (on that key's own monitor — each fixpoint runs once) while
  *     different keys never contend.
  *   - CLEAR-ALL EVICTION RACES: `if (size > 64) clear()` dropped every
  *     entry at once and raced concurrent inserts. Here eviction is
  *     per-entry FIFO (oldest insertions first) down to the bound, and a
  *     racing reader holding an evicted holder still completes — worst
  *     case the next caller recomputes.
  *
  * STALENESS is unchanged by design and documented at each adopter: the
  * canonical-plan key means the same plan over changed underlying files
  * serves the memo, exactly as a session-cached DataFrame would.
  *
  * `onEvict` runs exactly once per evicted value (e.g. to `unpersist` a
  * pinned centroid frame): immediately when the value exists at eviction
  * time, or from the computing thread itself when eviction raced a
  * still-running compute (the holder is flagged and the lazy-val
  * completion path releases its own result — otherwise a late-finishing
  * fixpoint would pin a frame nobody can ever unpersist). Failures are
  * swallowed per entry (an entry whose session died has no block manager
  * to talk to).
  */
private[graft] final class PlanMemo[K, V](max: Int = 64,
    onEvict: V => Unit = (_: V) => ()) {

  private final class Holder(val session: WeakReference[SparkSession],
      compute: () => V) {
    @volatile private var done: Option[V] = None
    @volatile private var evicted = false
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    lazy val value: V = {
      val v = compute(); done = Some(v)
      // EVICTED-WHILE-COMPUTING: the FIFO prune (or dead-session sweep)
      // removed this holder before the fixpoint finished — its peek was
      // None then, so onEvict never fired. Without this check the
      // just-computed value (a pinned Graph/KMeans frame) would outlive
      // the memo forever. The caller that raced the eviction still gets
      // the value — merely un-memoized/unpersisted, a recompute cost for
      // the NEXT caller, never a correctness issue.
      if (evicted) releaseOnce(v)
      v
    }
    /** The value iff computation completed — eviction must never TRIGGER
      * a computation just to hand the result to `onEvict`.
      */
    def peek: Option[V] = done
    /** Eviction entry point: flags the holder so a still-running compute
      * releases its own result on completion, and releases immediately
      * when the value already exists. `released` makes the two paths
      * fire `onEvict` at most once between them.
      */
    def markEvicted(): Unit = { evicted = true; done.foreach(releaseOnce) }
    private def releaseOnce(v: V): Unit =
      if (released.compareAndSet(false, true)) {
        try onEvict(v)
        catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  private val map = new ConcurrentHashMap[(Long, K), Holder]()
  // insertion order for FIFO eviction; stale keys (already removed by the
  // dead-session sweep) are skipped at poll time
  private val order = new ConcurrentLinkedQueue[(Long, K)]()

  def getOrCompute(session: SparkSession, key: K)(compute: => V): V = {
    val full = (PlanMemo.tokens.of(session), key)
    var inserted = false
    val h = map.computeIfAbsent(full, _ => {
      inserted = true
      new Holder(new WeakReference(session), () => compute)
    })
    if (inserted) { order.add(full); prune() }
    h.value
  }

  private def evict(k: (Long, K)): Unit = {
    val h = map.remove(k)
    if (h != null) h.markEvicted()
  }

  private def prune(): Unit = {
    if (map.size() <= max) return
    // 1) entries whose session is gone (GC'd or stopped) are dead weight —
    //    their DataFrames can never be served again
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val s = e.getValue.session.get()
      if (s == null || s.sparkContext.isStopped) {
        e.getValue.markEvicted()
        it.remove()
      }
    }
    // 2) still over the bound: drop oldest insertions first
    while (map.size() > max) {
      val k = order.poll()
      if (k == null) return // queue exhausted (stale entries); give up
      evict(k)
    }
  }

  /** Entry count — spec hook. */
  private[graft] def size: Int = map.size()
}

private[graft] object PlanMemo {
  private val tokens = new graft.IdentityTokens[SparkSession]
}
