package graft

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of everything a query builds once and reuses: fitted
  * models, cached and checkpointed frames, and scratch trees (the
  * reference notebook's cell-0 `df_analysis`, read by every later cell).
  *
  * An entry is keyed by (scope, dir, name). The scope is the
  * [[SparkSession]] for frames, which die with their session, and
  * [[Jvm]] for fits and paths: the share-the-fit oracles resolve their
  * session through `getActiveSession`/`getDefaultSession`, so a fit
  * keyed by session could be fitted twice and disagree with its query.
  * An entry holds its value plus what its build registered with
  * [[Owned]]; releasing the entry frees exactly that.
  *
  *  - [[get]] builds an entry once, outside the registry's lock, so one
  *    artifact's build may read another's.
  *  - [[replace]] always builds, then releases the entry it replaces.
  *  - [[drop]] releases every entry of the given names (the refit
  *    resets of [[Bench.RefitResets]]).
  *  - Every access forgets the entries of stopped sessions: their
  *    storage died with the context, their scratch trees are deleted.
  *  - One JVM shutdown hook deletes every scratch tree still owned.
  */
object Artifacts {

  /** The scope of artifacts that outlive any one session. */
  object Jvm

  /** What a build hands the registry to release with its entry. */
  final class Owned private[Artifacts] () {
    private var frees = List.empty[() => Unit]
    private var trees = List.empty[Path]

    /** `df`, cached ([[frame]]). Released with the entry only if this
      * call cached it: a plan cached by someone else (e.g.
      * [[queries.Warm.prime]]) stays theirs. */
    private[Artifacts] def cache(df: DataFrame): DataFrame = synchronized {
      if (df.storageLevel == StorageLevel.NONE) {
        df.cache()
        frees ::= (() => df.unpersist(blocking = false))
      }
      df
    }

    /** `df`, whose `localCheckpoint` storage is released with the entry. */
    def checkpoint(df: DataFrame): DataFrame = synchronized {
      frees ::= (() => graft.llm.Dedup.releaseCheckpoint(df))
      df
    }

    /** `root`, a scratch tree deleted with the entry and at JVM exit. */
    def tree(root: Path): Path = synchronized { trees ::= root; root }

    private[Artifacts] def release(storage: Boolean): Unit = synchronized {
      if (storage) frees.foreach(_())
      trees.foreach(t => quietly(LocalRun.deleteRecursively(t)))
      frees = Nil; trees = Nil
    }
  }

  private final case class Key(scope: AnyRef, dir: String, name: String)

  /** The lazy value is built once, under the entry's own lock. */
  private final class Entry(build: Owned => Any) {
    val owned = new Owned
    lazy val value: Any =
      try build(owned)
      catch { case t: Throwable => quietly(owned.release(storage = true)); throw t }
  }

  private val entries = mutable.HashMap.empty[Key, Entry]

  Runtime.getRuntime.addShutdownHook(new Thread(
    () => entries.synchronized(entries.values.foreach(_.owned.release(storage = false))),
    "graft-artifact-sweeper"))

  /** The entry's value, built by `build` on first access. */
  def get[T](scope: AnyRef, dir: String, name: String)(build: Owned => T): T = {
    sweepStoppedSessions()
    entries.synchronized(entries.getOrElseUpdate(Key(scope, dir, name), new Entry(build)))
      .value.asInstanceOf[T]
  }

  /** A frame cached once per (session, dir, name). */
  def frame(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame =
    get(s, dir, name)(_.cache(build))

  /** Build a new value for the key, then release the entry it replaces. */
  def replace[T](scope: AnyRef, dir: String, name: String)(build: Owned => T): T = {
    val e = new Entry(build)
    val value = e.value
    sweepStoppedSessions()
    entries.synchronized(entries.put(Key(scope, dir, name), e))
      .foreach(_.owned.release(storage = true))
    value.asInstanceOf[T]
  }

  /** Release every entry named one of `names`, in every scope and dir. */
  def drop(names: String*): Unit =
    removeWhere(k => names.contains(k.name)).foreach(_.owned.release(storage = true))

  /** Forget the entries of the sessions `isStopped` reports stopped. */
  private[graft] def sweepStoppedSessions(
      isStopped: SparkSession => Boolean = _.sparkContext.isStopped): Unit =
    removeWhere(_.scope match {
      case s: SparkSession => isStopped(s)
      case _ => false
    }).foreach(_.owned.release(storage = false))

  /** (scope, dir, name) of every entry, for tests. */
  private[graft] def keys: Seq[(AnyRef, String, String)] =
    entries.synchronized(entries.keys.map(k => (k.scope, k.dir, k.name)).toSeq)

  private def removeWhere(p: Key => Boolean): Seq[Entry] = entries.synchronized {
    val gone = entries.keys.filter(p).toSeq
    gone.flatMap(entries.remove)
  }

  private def quietly(body: => Unit): Unit =
    try body catch { case NonFatal(_) => () }
}
