package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of cached state behind the fit-once/gate-twice
  * pattern (seeded KMeans fit, IVF quantizer, dedup pair lists, shared
  * graph frames) and of the persisted intermediates operators hand
  * off mid-plan.
  *
  * Contract shared by every memo:
  *  - keys are data-directory paths (optionally with a name prefix) and
  *    the data under a dir is assumed IMMUTABLE for the life of the JVM
  *    session (the Verify/Bench mains read driver-generated parquet
  *    that never changes mid-run); a dir whose contents changed would
  *    be served stale results;
  *  - [[values]] memos hold small driver-side summaries (center
  *    matrices, collected pair lists); [[frames]] memos hold bounded
  *    persisted projections, never full corpus rows.
  *
  * [[clearAll]] drops every memo and unpersists every frame between
  * repeat passes, so each pass re-pays the real fit cost and
  * per-query medians stay honest.
  */
object Memos {

  /** Build-once cache keyed by string. Each key gets its own cell and
    * the build runs under that cell's lock, not under the map's bin
    * lock: a builder may call any memo, its own included (for another
    * key); concurrent first calls for one key build once; a build
    * that throws leaves no entry, so the next call builds again.
    */
  final class Memo[V] private[Memos] (onBuild: V => V, release: V => Unit) {
    private final class Cell {
      @volatile var value: Option[V] = None
      var dead = false
      var builder: Thread = null
    }
    private val cells = new ConcurrentHashMap[String, Cell]()

    @annotation.tailrec
    def apply(key: String)(build: => V): V = {
      val cell = cells.computeIfAbsent(key, _ => new Cell)
      val got = cell.synchronized {
        if (cell.builder eq Thread.currentThread)
          throw new IllegalStateException(s"memo key '$key' requested by its own build")
        if (cell.dead) None
        else cell.value.orElse {
          cell.builder = Thread.currentThread
          try {
            cell.value = Some(onBuild(build))
            cell.value
          } catch {
            case e: Throwable =>
              cell.dead = true
              cells.remove(key, cell)
              throw e
          } finally cell.builder = null
        }
      }
      // None: the cell died (failed build or clear) while we waited
      got match {
        case Some(v) => v
        case None => apply(key)(build)
      }
    }

    /** Every value built so far (oracle generation reads them back). */
    def values: List[V] = cells.values.asScala.flatMap(_.value).toList

    private[Memos] def clear(): Unit =
      cells.keySet.asScala.toList.foreach { k =>
        val cell = cells.remove(k)
        // waits for an in-flight build, then releases what it built
        if (cell != null) cell.synchronized {
          cell.dead = true
          cell.value.foreach(release)
          cell.value = None
        }
      }
  }

  private val memos = new ConcurrentLinkedQueue[Memo[_]]()
  private val kept = new ConcurrentLinkedQueue[(String, DataFrame)]()

  private def registered[V](m: Memo[V]): Memo[V] = { memos.add(m); m }

  private def persisted(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK)

  /** A memo of driver-side values. */
  def values[V](): Memo[V] = registered(new Memo[V](identity, _ => ()))

  /** A memo of frames: each built frame is persisted, materialized by
    * one count (so every later plan reads the cached blocks), and
    * unpersisted by [[clearAll]].
    */
  def frames(): Memo[DataFrame] = registered(new Memo[DataFrame](
    df => { val p = persisted(df); p.count(); p },
    _.unpersist(blocking = false)))

  /** Persist `df` (lazily: the first action fills the cache) and hold
    * it until [[clearAll]] unpersists it. For intermediates an operator
    * builds and reads several times but never looks up again; `tag`
    * names the operator that kept it.
    */
  def keep(tag: String, df: DataFrame): DataFrame = {
    val p = persisted(df)
    kept.add(tag -> p)
    p
  }

  def clearAll(): Unit = {
    memos.forEach(_.clear())
    var k = kept.poll()
    while (k != null) {
      k._2.unpersist(blocking = false)
      k = kept.poll()
    }
  }
}
