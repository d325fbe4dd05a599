package graft.queries

import scala.collection.concurrent.TrieMap

/** Once-only memoized builds, keyed by session and corpus dir or index
  * root. Each key's build runs exactly once: concurrent callers of that
  * key wait for the one build instead of repeating it (the index builds
  * are destructive — removeTree, then a write to the same root). Builds
  * of different keys run concurrently and may call other memos. A build
  * that throws leaves its key unbuilt, so the next call retries. Entries
  * never auto-evict: the harness's sf dirs are immutable in one process. */
final class Memo[K, V] {
  // a hand-written lazy val: `remove` must see whether the build has
  // finished without waiting on it
  private final class Once(private var build: () => V) {
    @volatile var done: Option[Either[Throwable, V]] = None
    def result: Either[Throwable, V] = done.getOrElse(synchronized {
      if (done.isEmpty) {
        done = Some(try Right(build()) catch { case e: Throwable => Left(e) })
        build = null
      }
      done.get
    })
  }
  private val onces = TrieMap.empty[K, Once]

  def apply(key: K)(build: => V): V = {
    // the insert is atomic; a racing caller's unused Once is dropped
    val once = onces.getOrElseUpdate(key, new Once(() => build))
    once.result match {
      case Right(v) => v
      case Left(e) => onces.remove(key, once); throw e
    }
  }

  def put(key: K, value: V): Unit = {
    val once = new Once(() => value)
    once.result
    onces.put(key, once)
  }

  /** `key`'s value if its build has finished (never waits on a build in
    * progress). */
  def get(key: K): Option[V] =
    onces.get(key).flatMap(_.done).flatMap(_.toOption)

  /** Drops `key`; returns its value if its build had finished (never
    * waits on a build in progress). */
  def remove(key: K): Option[V] =
    onces.remove(key).flatMap(_.done).flatMap(_.toOption)

  def keys: Iterable[K] = onces.keys

  def clear(): Unit = onces.clear()
}
