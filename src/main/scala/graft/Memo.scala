package graft

import java.util.concurrent.{CompletableFuture, CompletionException, ConcurrentHashMap}

import org.apache.spark.sql.SparkSession

/** Per-(session, key) materialization cache for per-corpus-snapshot
  * artifacts (LSH pair tables, MinHash signatures, converged CC
  * labels, derived fixture tables, measured scalars) and the one owner
  * of the stored artifacts written under `target/`.
  *
  * Single flight: the first caller of a key computes it; concurrent
  * callers of the same key wait for that result. A failed compute is
  * not cached: its waiters see its exception and the next call
  * computes again. Builds nest (CC labels → pair table → signature
  * table): no lock is held while a compute runs, so a compute may ask
  * for any OTHER key. A compute that asks for its own key fails at
  * once instead of recursing. A hit is two map reads and no lock.
  *
  * Lifecycle: entries for STOPPED sessions are evicted on the next
  * access of any kind — a stopped session's checkpointed blocks died
  * with its context, so the cached values are dead weight. (A
  * WeakHashMap would not work here: the cached DataFrames strongly
  * reference their session through QueryExecution, which is exactly
  * the value→key strong path its javadoc warns makes entries
  * uncollectable.) Keys name one corpus *snapshot* (an input dir);
  * rewriting a dir in-place within one session is out of contract —
  * the same rule as any materialized pipeline artifact. */
object SnapshotMemo {
  /** One key's build: its result, and the thread computing it. */
  private final class Entry(val owner: Thread) {
    val result = new CompletableFuture[Any]()
  }

  private val bySession =
    new ConcurrentHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  /** The session's entries, after evicting every stopped session. */
  private def entries(s: SparkSession): ConcurrentHashMap[String, Entry] = {
    bySession.keySet.removeIf(_.sparkContext.isStopped)
    val m = bySession.get(s)
    if (m != null) m
    else bySession.computeIfAbsent(s, _ => new ConcurrentHashMap())
  }

  def getOrCompute[T](s: SparkSession, key: String)(compute: => T): T = {
    val m = entries(s)
    var e = m.get(key)
    if (e == null) {
      // NOT computeIfAbsent: a compute run inside it that touches the
      // same ConcurrentHashMap (a nested build) throws "Recursive
      // update" whenever the keys land in the same bin. putIfAbsent of
      // an unfinished entry claims the key and runs nothing under the
      // map's lock; the compute runs after it, on this thread.
      val mine = new Entry(Thread.currentThread)
      e = m.putIfAbsent(key, mine)
      if (e == null) {
        try mine.result.complete(compute)
        catch {
          case t: Throwable =>
            m.remove(key, mine)
            mine.result.completeExceptionally(t)
        }
        e = mine
      }
    }
    if ((e.owner eq Thread.currentThread) && !e.result.isDone)
      throw new IllegalStateException(
        s"SnapshotMemo: '$key' was asked for inside its own compute")
    try e.result.join().asInstanceOf[T]
    catch { case c: CompletionException => throw c.getCause }
  }

  /** Root of the stored artifacts: `target/graft-stored-index`, one
    * subdirectory per snapshot (never under the read-only testdata). */
  private[graft] val storedRoot: String =
    new java.io.File("target/graft-stored-index").getAbsolutePath

  /** The stored artifact `name` of snapshot `d`. */
  private[graft] def storedPath(d: String, name: String): String =
    s"$storedRoot/${d.replaceAll("[^A-Za-z0-9._-]", "_")}/$name"

  /** One lock per stored path, held while its `write` runs. */
  private val writing = new ConcurrentHashMap[String, Object]()

  /** The stored artifact `name` of snapshot `d`: `write` fills its
    * path once per session (memo key `name:d`), and every call returns
    * the path for the caller to read back. Writes overwrite the
    * directory, so within the JVM two writers of one path (two
    * sessions) never run at the same time. */
  def stored(s: SparkSession, d: String, name: String)
      (write: String => Unit): String =
    getOrCompute(s, s"$name:$d") {
      val path = storedPath(d, name)
      writing.computeIfAbsent(path, _ => new Object).synchronized {
        write(path)
      }
      path
    }
}
