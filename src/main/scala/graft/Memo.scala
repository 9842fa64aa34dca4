package graft

import java.io.FileNotFoundException

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's one memo registry: every value an operator derives once
  * per input directory and shares across queries — cached frames (the
  * Dedup cluster table and pair frames, the Corpus components, the
  * Multimodal perceptual codes) and plain JVM values (the Tokenize
  * merge lists and score tables) — lives in one map keyed by
  * (session, dir, owner, key). It is the engine's analog of the
  * reference's per-run staging tables (sql_to_line.py:161-202).
  *
  * Cache lifecycle: memoization bounds storage memory to one value per
  * (dataset, key) even when a query is built repeatedly in one session.
  * Each entry carries a fingerprint of `dir` — one non-recursive listing
  * of its entries as (name, length, mtime), O(tables) not O(files) — and
  * a lookup whose fingerprint no longer matches releases the stale value
  * and rebuilds, so a rewritten input table is never served from an old
  * frame. A rewrite below the top level that leaves every entry's length
  * and mtime alone (an object store without directory mtimes) is not
  * noticed: call [[clear]] after such a rewrite. Call [[clear]] before
  * discarding a session so its storage blocks can be freed. Releasing a
  * `Dataset` unpersists it; other values are dropped. Checkpoint blocks
  * behind a memoized frame are released by the ContextCleaner once the
  * frame is unreferenced.
  *
  * Builds may nest (the Corpus components build the Dedup frames inside
  * their own build): a build runs outside the map and its value is
  * inserted afterwards. Two racing builds of one key both run and the
  * first insert wins.
  */
object Memo {
  private type Fingerprint = Seq[(String, Long, Long)]
  private type Key = (SparkSession, String, AnyRef, Any)
  private final case class Entry(fingerprint: Fingerprint, value: Any)

  private val entries = TrieMap.empty[Key, Entry]

  /** The value memoized for (`s`, `dir`, `owner`, `key`), built by `build`
    * if absent or if `dir` changed since it was built.
    */
  def apply[V](s: SparkSession, dir: String, owner: AnyRef, key: Any)
      (build: => V): V = {
    val k  = (s, dir, owner, key)
    val fp = fingerprint(s, dir)
    entries.get(k) match {
      case Some(e) if e.fingerprint == fp => e.value.asInstanceOf[V]
      case stale =>
        // release BEFORE the rebuild: a cached frame over the same path
        // has the same plan, so the rebuild would otherwise reuse it
        stale.foreach(e => if (entries.remove(k, e)) release(e.value))
        val v = build
        entries.putIfAbsent(k, Entry(fp, v)).fold(v)(_.value.asInstanceOf[V])
    }
  }

  /** Release every value memoized for `s`. */
  def clear(s: SparkSession): Unit = clearWhere(_._1 eq s)

  /** Release the values `owner` memoized for `s`. */
  def clear(s: SparkSession, owner: AnyRef): Unit = clearWhere(owned(s, owner))

  /** Number of values memoized for `s` — the Bench rerun-replay probe (a
    * query that grows it is a shared-memo DECLARER).
    */
  def count(s: SparkSession): Int = entries.keys.count(_._1 eq s)

  /** Number of values `owner` memoized for `s`. */
  def count(s: SparkSession, owner: AnyRef): Int = entries.keys.count(owned(s, owner))

  private def owned(s: SparkSession, owner: AnyRef)(k: Key): Boolean =
    (k._1 eq s) && (k._3 eq owner)

  private def clearWhere(p: Key => Boolean): Unit =
    entries.keys.filter(p).foreach(k => entries.remove(k).foreach(e => release(e.value)))

  private def release(v: Any): Unit = v match {
    case d: Dataset[_] => d.unpersist(false)
    case _ =>
  }

  private def fingerprint(s: SparkSession, dir: String): Fingerprint = {
    val p = new Path(dir)
    try p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p).toSeq
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sorted
    catch { case _: FileNotFoundException => Nil }
  }
}
