package graft.core

import java.util.concurrent.CountDownLatch

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo of an operator's derived result, keyed by the
  * input frame and the operator's parameters. Every reusable
  * intermediate of the query surface goes through one of these: the
  * dedup tables, ANN training, ground truth and recall legs, profile
  * distincts, the hybrid lexical leg, quality-model weights and the
  * replicator's segment table.
  *
  * '''Key.''' `(session, fingerprint(df), params)`. The fingerprint is
  * the canonicalized analyzed plan plus the identity of every relation
  * the plan text elides: inline rows (`LocalRelation`), RDD-backed
  * scans such as `localCheckpoint` frames (`LogicalRDD` id), and file
  * relations (full listing with length and modification time), so two
  * same-schema corpora never share an entry and a rewritten directory
  * keys a fresh one. `params` is a separate tuple field, so no
  * parameter string can collide with a longer fingerprint.
  *
  * '''Single flight.''' A miss claims the key with a latch and builds
  * outside the memo's monitor, so distinct keys build concurrently and
  * same-key callers wait for the one build. The entry is measured and
  * inserted BEFORE the latch is released: a woken waiter always finds
  * it, never rebuilds it (a rebuilt table would leak a persisted
  * copy). A build that throws frees the key, and the next caller
  * builds. Latches live only while a build is in flight, so eviction
  * never drops a latch a waiter still holds.
  *
  * '''Bounds.''' Each session keeps at most `entryBound` entries,
  * least-recently-used first out; the newest entry is never evicted.
  *  - Driver-side values ([[SessionMemo.values]]) are parameter- or
  *    request-scale (centroids, weights, (queries·k) rows), so the
  *    bound only caps keys that can never hit again, such as the ones
  *    of `localCheckpoint` frames, which get a fresh RDD id per call.
  *    It is [[SessionMemo.EntryBound]] = 128 so that every key of a
  *    full query sweep stays resident at a few hundred KB: the
  *    IVFADC/IVF-SQ8 family inserts one never-hit key per call, and at
  *    32 the ~20 such inserts between `a_ann_recall_tuned` (which
  *    trains the OPQ codebooks) and `a_knn_opq` (which reuses them)
  *    could evict the OPQ entry.
  *  - Cached tables ([[SessionMemo.tables]]) can be corpus-scale, so
  *    they also have a byte budget over their measured size
  *    (materialized rows × schema width), and an evicted table is
  *    unpersisted. A budget smaller than one table degrades to caching
  *    only the newest, not to thrashing.
  *
  * Every instance is registered, so [[SessionMemo.release]] drops
  * one session's entries from all of them.
  */
final class SessionMemo[V] private (entryBound: () => Int,
    byteBound: () => Long, measure: V => Long, evict: V => Unit) {
  private type Key = (SparkSession, String, String)
  private val m = mutable.LinkedHashMap.empty[Key, (V, Long)]
  private val building = TrieMap.empty[Key, CountDownLatch]

  /** The memoized value of `build` for `df` under `params`. */
  def get(df: DataFrame, params: String)(build: => V): V =
    getOrBuild((df.sparkSession, SessionMemo.fingerprint(df), params), build)

  private def lookup(key: Key): Option[V] = synchronized {
    m.remove(key).map { e => m.put(key, e); e._1 } // re-insert = most recent
  }

  @annotation.tailrec
  private def getOrBuild(key: Key, build: => V): V = lookup(key) match {
    case Some(v) => v
    case None =>
      val latch = new CountDownLatch(1)
      building.putIfAbsent(key, latch) match {
        case Some(inFlight) =>
          inFlight.await()
          getOrBuild(key, build)
        case None =>
          // a build that finished between the miss and the claim must
          // not run again
          try lookup(key).getOrElse {
            val v = build
            val bytes = measure(v) // outside the monitor: may run a job
            insert(key, v, bytes)
            v
          } finally { building.remove(key); latch.countDown() }
      }
  }

  private def insert(key: Key, v: V, bytes: Long): Unit = synchronized {
    m.put(key, (v, bytes))
    def mine = m.toSeq.filter(_._1._1 == key._1)
    mine.dropRight(entryBound()).foreach(e => drop(e._1))
    var resident = mine
    while (resident.size > 1 && resident.map(_._2._2).sum > byteBound()) {
      drop(resident.head._1)
      resident = mine
    }
  }

  private def drop(k: Key): Unit = m.remove(k).foreach(e => evict(e._1))

  /** Drop (and evict) every entry of `session`. */
  def release(session: SparkSession): Unit = synchronized {
    m.keys.filter(_._1 == session).toSeq.foreach(drop)
  }

  /** Keys with a build in flight (0 once every build has returned). */
  private[graft] def inFlight: Int = building.size
}

object SessionMemo {
  /** Entry bound of every driver-side value memo; see the class doc. */
  val EntryBound = 128

  private val all = new java.util.concurrent.ConcurrentLinkedQueue[SessionMemo[_]]

  private def register[V](memo: SessionMemo[V]): SessionMemo[V] = {
    all.add(memo); memo
  }

  /** A memo of driver-side values, bounded at [[EntryBound]] entries
    * per session.
    */
  def values[V](): SessionMemo[V] =
    register(new SessionMemo[V](() => EntryBound, () => Long.MaxValue,
      _ => 0L, _ => ()))

  /** A memo of cached tables: `entryBound` entries and `byteBound`
    * measured bytes per session (read on every insert, so they stay
    * tunable), unpersisted on eviction. A build returns its table
    * cached; measuring it materializes the cache before waiters wake.
    */
  def tables(entryBound: => Int, byteBound: => Long): SessionMemo[DataFrame] =
    register(new SessionMemo[DataFrame](() => entryBound, () => byteBound,
      tableBytes, _.unpersist()))

  /** Drop one session's entries from every memo. */
  def release(session: SparkSession): Unit =
    all.forEach(_.release(session))

  /** Measured size of a cached frame: row count × the schema's default
    * row width. Deterministic, unlike the planner's sizeInBytes (the
    * InMemoryRelation byte accumulator reads 0 on this Spark build);
    * eviction needs relative magnitude, not exact bytes. 0 on failure,
    * so byte eviction then skips the entry.
    */
  private def tableBytes(df: DataFrame): Long =
    try {
      val width = df.schema.map(_.dataType.defaultSize).sum.max(1)
      df.count() * width
    } catch { case _: Throwable => 0L }

  /** The corpus fingerprint of the key; see the class doc. */
  private def fingerprint(df: DataFrame): String = {
    // ANALYZED, not logical: a bare `spark.read.parquet(dir)` logical
    // plan in Spark 4 is an UnresolvedDataSource whose text names
    // neither the path nor the files
    val plan = df.queryExecution.analyzed.canonicalized
    val fp = plan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        "L" + l.data.hashCode
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        "R" + r.rdd.id
      // file relations canonicalize to their schema only: fingerprint
      // the listing (metadata-only, no data scan), falling back to the
      // path-only listing if a FileIndex implementation throws
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val files =
              try fs.location.listFiles(Nil, Nil).iterator
                .flatMap(_.files)
                .map(f => f.getPath.toString + "@" + f.getLen +
                  "@" + f.getModificationTime)
                .toArray.sorted
              catch { case _: Throwable => fs.location.inputFiles.sorted }
            "F" + scala.util.hashing.MurmurHash3
              .arrayHash(files) + ":" + fs.sizeInBytes
          case other => "X" + other.getClass.getName
        }
    }
    plan.toString + fp.mkString("[", ",", "]")
  }
}
