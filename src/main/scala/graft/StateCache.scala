package graft

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}

/** The one owner of state that outlives a query: one entry map per
  * SparkContext, dropped once the context stops.
  *
  * Model-sized builds several keys consume (trained codebooks, a
  * materialized truth set, persisted index builds), the parquet relation
  * of each table snapshot and the frames derived from it are built once
  * per context: Verify runs all keys in one process and Bench re-runs each
  * key across passes, so a rebuild per invocation would both waste the
  * dominant cost and silently DECOUPLE the models a diagnostic is supposed
  * to score.
  *
  * Lifetimes:
  *   - a [[value]] entry lives as long as its context, or until one of its
  *     [[Source]]s changes (an entry derived from several tables, such as
  *     a graph gate's edge read over a join, is tied to each of them);
  *   - a [[frame]] entry owns the checkpoint RDDs behind its frame: the
  *     between-queries reaper (`Graft.dropQueryState`) frees every
  *     persisted RDD no live entry owns, and [[flush]] frees the owned ones
  *     past its storage gauges;
  *   - [[invalidate]] forgets every entry tied to a path once a read lists
  *     a new file set there (whatever other paths the entry is tied to),
  *     and frees their frames; after an append, the
  *     old file set's frames live on until the frame merged forward from
  *     them is built ([[release]]) or the listing changes again.
  */
object StateCache {

  /** The table snapshot an entry derives from: a parquet path and the
    * fingerprint of its file set when the entry was built.
    */
  final case class Source(path: String, fingerprint: String)

  private final class Entry(val sources: Set[Source], val isFrame: Boolean, build: () => Any)
      extends FutureTask[Any](() => build()) {
    /** The built frame of a finished frame entry, None otherwise. */
    def builtFrame: Option[DataFrame] =
      if (isFrame && isDone) Try(get().asInstanceOf[DataFrame]).toOption else None
  }

  private val contexts = new ConcurrentHashMap[SparkContext, ConcurrentHashMap[Any, Entry]]()

  private def entries(s: SparkSession): ConcurrentHashMap[Any, Entry] = {
    contexts.keySet.removeIf(_.isStopped)
    contexts.computeIfAbsent(s.sparkContext, _ => new ConcurrentHashMap[Any, Entry]())
  }

  /** Builds are single-flight per key: the first caller builds, concurrent
    * callers of the same key wait for its value. A failed build is
    * forgotten and its error rethrown to every waiter. Builders nest on
    * DIFFERENT keys (the pair builder trains through the centroid
    * builder), which is why this is not a computeIfAbsent: a recursive
    * computeIfAbsent on one map is illegal.
    */
  private def entry[T](s: SparkSession, key: Any, sources: Set[Source], isFrame: Boolean)(
      build: => T): T = {
    val map = entries(s)
    val mine = new Entry(sources, isFrame, () => build)
    val task = map.putIfAbsent(key, mine) match {
      case null => mine.run(); mine
      case other => other
    }
    try task.get().asInstanceOf[T]
    catch {
      case e: ExecutionException =>
        map.remove(key, task)
        throw e.getCause
    }
  }

  /** `build`'s value under `key` for this context, built once and tied
    * to `sources`.
    */
  def value[T](s: SparkSession, key: Any, sources: Set[Source] = Set.empty)(build: => T): T =
    entry(s, key, sources, isFrame = false)(build)

  /** A checkpointed frame (`Graft.materialize`'s output) under `key`,
    * built once and owned by the entry: its RDDs stay persisted until the
    * entry is forgotten. Each call hands out a fresh instance, so two uses
    * still self-join apart.
    */
  def frame(s: SparkSession, key: Any, sources: Set[Source] = Set.empty)(
      build: => DataFrame): DataFrame =
    GraftBridge.newInstance(entry(s, key, sources, isFrame = true)(build))

  /** The frame under `key` if its build has finished, without building
    * it: a fresh instance, as [[frame]] hands out.
    */
  def live(s: SparkSession, key: Any): Option[DataFrame] =
    Option(entries(s).get(key)).flatMap(_.builtFrame).map(GraftBridge.newInstance)

  /** Every finished entry's value (a frame entry's frame as built), with
    * the sources it is tied to.
    */
  private[graft] def built(s: SparkSession): Seq[(Any, Set[Source])] =
    entries(s).values.asScala.toSeq.filter(_.isDone)
      .flatMap(e => Try(e.get()).toOption.map(_ -> e.sources))

  /** Forget every entry tied to `path` and free their frames — a read
    * listed a new file set there. The frame entries built from
    * `keepFramesOf` stay, for a frame of the new file set to be merged
    * forward from; [[release]] frees them, and so does the next call here.
    */
  def invalidate(s: SparkSession, path: String, keepFramesOf: Option[Source] = None): Unit =
    forget(s)(e => e.sources.exists(_.path == path) &&
      !(e.isFrame && keepFramesOf.exists(e.sources.contains)))

  /** Forget every entry built from `source` and free their frames. */
  def release(s: SparkSession, source: Source): Unit = forget(s)(_.sources.contains(source))

  /** Forget and free every frame entry. Values hold no blocks and stay. */
  def flush(s: SparkSession): Unit = forget(s)(_.isFrame)

  /** RDD ids behind the live frame entries. */
  private[graft] def ownedIds(s: SparkSession): Set[Int] =
    entries(s).values.asScala.flatMap(_.builtFrame).flatMap(GraftBridge.checkpointRddIds).toSet

  /** Forget every entry and free its frame, as a new context starts. */
  private[graft] def clear(s: SparkSession): Unit = forget(s)(_ => true)

  private def forget(s: SparkSession)(p: Entry => Boolean): Unit = {
    val map = entries(s)
    map.forEach { (key, e) =>
      if (p(e) && map.remove(key, e)) e.builtFrame.foreach(GraftBridge.unpersistCheckpointed)
    }
  }
}
