package graft.analytics

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Memo of values derived from a dataset, keyed by (session, key): read
  * frames, persisted tables, source schemas. Each lookup first drops the
  * entries of stopped sessions, so the map stays bounded and a restarted
  * session derives afresh. A miss computes once, atomically
  * (`computeIfAbsent`): concurrent callers of one key share one value.
  *
  * Dataset-immutability contract: a key names an immutable dataset. A
  * path rewritten inside one JVM — with a new schema, say — is NOT
  * re-read; the value first derived for it is served until its session
  * stops or [[clear]] runs. `compute` must not look up the same memo
  * (ConcurrentHashMap forbids a recursive update).
  */
private[graft] final class SessionMemo[V] {
  private val entries = new ConcurrentHashMap[(SparkSession, String), V]()

  def apply(spark: SparkSession, key: String)(compute: => V): V = {
    entries.keySet.removeIf(_._1.sparkContext.isStopped)
    entries.computeIfAbsent((spark, key), _ => compute)
  }

  def clear(): Unit = entries.clear()
}
