package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The one session-memo facility. Every per-session memo in the query,
  * operator and multimodal modules is a [[Memo]] made by [[memo]], and
  * each one registers itself here, so clearing is one loop over the
  * registry rather than a per-module hook list.
  *
  * Harness teardown calls [[clearAll]] so no entry point leaks pinned
  * frames or scratch state past its session. CacheHygieneSpec guards
  * that no module declares a raw TrieMap memo outside this facility. */
object Memos {

  /** A (session, key) → value memo. `apply` keeps `getOrElseUpdate`
    * semantics (a racing build may run twice; one value wins). Every
    * access first evicts and releases the entries of stopped sessions,
    * so a long-lived JVM that stops and rebuilds sessions (test suites)
    * never serves a frame bound to a dead context. */
  final class Memo[K, V] private[Memos] (release: V => Unit) {
    private val entries = TrieMap.empty[(SparkSession, K), V]

    def apply(s: SparkSession, k: K)(build: => V): V = {
      entries.foreach { case (key @ (sess, _), v) =>
        if (sess.sparkContext.isStopped && entries.remove(key, v)) releaseQuietly(v)
      }
      entries.getOrElseUpdate((s, k), build)
    }

    def get(s: SparkSession, k: K): Option[V] = entries.get((s, k))

    def isEmpty: Boolean = entries.isEmpty

    /** Remove every entry; the returned thunks release them. */
    private[Memos] def detach(): Seq[() => Unit] =
      entries.readOnlySnapshot().toSeq.collect {
        case (key, v) if entries.remove(key, v) => () => releaseQuietly(v)
      }

    private def releaseQuietly(v: V): Unit =
      try release(v) catch { case _: Throwable => () }
  }

  private val registry = new java.util.concurrent.CopyOnWriteArrayList[Memo[_, _]]()

  /** A new registered memo. The default release unpersists every
    * DataFrame in the value (a frame, or frames nested in tuples and
    * collections) — a no-op for checkpoint-backed frames. Values that
    * own an outside resource (scratch dirs, Derby databases) pass
    * their own release. */
  def memo[K, V](release: V => Unit = unpersistFrames _): Memo[K, V] = {
    val m = new Memo[K, V](release)
    registry.add(m)
    m
  }

  private def unpersistFrames(v: Any): Unit = v match {
    case df: Dataset[_] => if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
    case p: Product => p.productIterator.foreach(unpersistFrames)
    case it: Iterable[_] => it.foreach(unpersistFrames)
    case _ => ()
  }

  private[graft] def registered: Seq[Memo[_, _]] = registry.asScala.toSeq

  /** Empty every registered memo in two phases: detach every entry of
    * every memo, THEN release them — no release (e.g. dropping g16's
    * federated Derby DB) can race a reader that still finds a dependent
    * entry (g20's URL into it). */
  def clearAll(): Unit = registered.flatMap(_.detach()).foreach(_())
}
