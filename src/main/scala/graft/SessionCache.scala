package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

/** All state graft keeps across queries for one `SparkSession`, so its
  * bound, eviction and lifetime are decided in one place:
  *  - an access-order LRU of built values keyed by (kind, key), at most
  *    [[SessionCache.Cap]] entries in total; a dropped frame is
  *    unpersisted;
  *  - never evicted: named values (the table catalog, query log,
  *    dictionaries, projections, pinned results) and one-time
  *    registrations, each marked only after its block succeeds;
  *  - the base directory for relative `file('…')` paths.
  * Sessions share no entry. A session's state is dropped when its
  * SparkContext stops, or earlier by [[SessionCache.release]].
  *
  * The build in [[getOrBuild]] runs OUTSIDE the lock: a Spark job
  * inside it would serialize unrelated keys, and a lookup re-entered
  * from a build must not deadlock. Two threads racing on a cold key
  * may both build; `putIfAbsent` keeps the first, and the loser is NOT
  * unpersisted — it persisted the same plan, and Spark's CacheManager
  * keys cache entries by plan, so that would un-cache the winner. For
  * the same reason an evicted key that was re-inserted since keeps its
  * frame persisted.
  */
final class SessionCache private () {
  private type Key = (String, Any)
  private val evicted = new ConcurrentLinkedQueue[(Key, Any)]()
  private val lru = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, Any](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, Any]): Boolean =
        this.size() > SessionCache.Cap && evicted.add((e.getKey, e.getValue))
    })
  private val buildCounts = new ConcurrentHashMap[String, AtomicLong]()
  private val slots = new ConcurrentHashMap[String, AnyRef]()

  /** The analog of CH's `user_files_path`; `Graft.init` sets it. */
  @volatile private[graft] var dataDir: Option[String] = None

  def getOrBuild[V](kind: String, key: Any)(build: => V): V = {
    val k = (kind, key)
    val v = Option(lru.get(k)).getOrElse {
      buildCounts.computeIfAbsent(kind, _ => new AtomicLong).incrementAndGet()
      val b = build
      Option(lru.putIfAbsent(k, b)).getOrElse(b)
    }
    Iterator.continually(evicted.poll()).takeWhile(_ != null)
      .filterNot(e => lru.containsKey(e._1))
      .foreach(e => SessionCache.frame(e._2).foreach(_.unpersist()))
    v.asInstanceOf[V]
  }

  /** Misses of `kind` so far, so specs can see caching and eviction. */
  def builds(kind: String): Long =
    Option(buildCounts.get(kind)).fold(0L)(_.get)

  def size: Int = lru.size()

  /** Removes every entry of `kind` and unpersists its frames. */
  def drop(kind: String): Unit =
    lru.synchronized {
      lru.keySet.asScala.filter(_._1 == kind).toList.map(lru.remove)
    }.flatMap(SessionCache.frame).foreach(_.unpersist())

  def once(name: String)(register: => Unit): Unit =
    if (!slots.containsKey(name)) slots.synchronized {
      if (!slots.containsKey(name)) { register; slots.put(name, name) }
    }

  /** The session's one `name` value, made by `init` on first use and
    * never evicted. An `AutoCloseable` value is closed by [[release]].
    */
  def slot[V <: AnyRef](name: String)(init: => V): V =
    slots.computeIfAbsent(name, _ => init).asInstanceOf[V]

  private def frames: List[Dataset[_]] =
    lru.synchronized(lru.values.asScala.toList).flatMap(SessionCache.frame)
}

object SessionCache {
  /** Entries per session, all kinds together; a fixture dir takes ~20. */
  val Cap = 256

  private val states = new ConcurrentHashMap[SparkSession, SessionCache]()

  def apply(spark: SparkSession): SessionCache =
    Option(states.get(spark)).getOrElse(synchronized {
      Option(states.get(spark)).getOrElse {
        val sc = spark.sparkContext
        if (!states.keySet.asScala.exists(_.sparkContext eq sc))
          sc.addSparkListener(new ReleaseOnStop(sc))
        val c = new SessionCache
        states.put(spark, c)
        c
      }
    })

  /** Frees `spark`'s state and closes its slots and frames — except a
    * frame whose plan another session of the context holds too, since
    * Spark shares one cache entry between same-plan frames.
    */
  def release(spark: SparkSession): Unit =
    Option(states.remove(spark)).foreach { gone =>
      gone.slots.values.asScala.foreach {
        case c: AutoCloseable => c.close()
        case _ => ()
      }
      val kept = states.asScala.toList.collect {
        case (s, c) if s.sparkContext eq spark.sparkContext => c.frames
      }.flatten.map(_.queryExecution.analyzed)
      gone.frames
        .filterNot(f => kept.exists(_.sameResult(f.queryExecution.analyzed)))
        .foreach(_.unpersist())
    }

  private[graft] def holds(spark: SparkSession): Boolean =
    states.containsKey(spark)

  private def frame(v: Any): Option[Dataset[_]] = v match {
    case d: Dataset[_] => Some(d)
    case (d: Dataset[_], _) => Some(d)
    case _ => None
  }

  /** Holds the context only; the sessions' blocks die with it. */
  private final class ReleaseOnStop(sc: SparkContext) extends SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
      states.keySet.removeIf(_.sparkContext eq sc)
  }
}
