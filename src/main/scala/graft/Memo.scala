package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** A session-scoped memo of shared intermediates — the analog of the
  * reference's staging tables, created once and dropped explicitly
  * (sql_to_line.py:161-202).
  *
  * Lifecycle, for every instance:
  *  - an entry is keyed by (session, key) and computed at most once per
  *    session; it assumes the input under the key's `dir` is immutable for
  *    the session, so a rewritten input needs a [[Memo.clear]] first;
  *  - [[Memo.clear]] drops every instance's entries for one session and
  *    leaves other sessions' entries alone. `graft.Bench` calls it before
  *    its timed pass, before each rerun and at exit; `CorpusBuild` at
  *    teardown; anyone discarding a session should too;
  *  - clearing releases what the value holds, at once: a cached frame is
  *    unpersisted, a checkpointed frame's RDD is unpersisted, and any
  *    other value (a merge list, a score table) is dropped.
  */
final class Memo[K, V] {
  private val entries = TrieMap.empty[(SparkSession, K), V]
  Memo.all.add(this)

  def apply(s: SparkSession, key: K)(value: => V): V =
    entries.getOrElseUpdate((s, key), value)

  def clear(s: SparkSession): Unit =
    entries.keys.filter(_._1 eq s).foreach(k => entries.remove(k).foreach(Memo.release))

  def count(s: SparkSession): Int = entries.keys.count(_._1 eq s)
}

/** The registry of every instance: `clear` and `count` cover them all. */
object Memo {
  private val all = new ConcurrentLinkedQueue[Memo[_, _]]

  def clear(s: SparkSession): Unit = all.forEach(_.clear(s))
  def count(s: SparkSession): Int = all.asScala.iterator.map(_.count(s)).sum

  private def release(value: Any): Unit = value match {
    case ds: Dataset[_] =>
      ds.unpersist(blocking = false)
      ds.queryExecution.logical match {
        case checkpoint: LogicalRDD => checkpoint.rdd.unpersist(blocking = false)
        case _ =>
      }
    case _ =>
  }
}
