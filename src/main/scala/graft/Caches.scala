package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Session-scoped reuse: the one memo behind every shared frame and
  * fitted model in the engine, and the lineage cut for shared frames.
  */
object Caches {

  /** Materialize a session-scoped shared frame AND CUT ITS LINEAGE
    * (eager localCheckpoint). A persist()'d frame keeps its whole
    * production pipeline reachable for recompute-on-eviction, which
    * PINS every upstream shuffle file on disk for the cache's lifetime
    * — the ContextCleaner can never reclaim them. At the sixth measured
    * decade (sfp100) the pinned floor under the heavy pair-join block
    * reached ~23 GB and the full 149-query suite died on `No space left
    * on device` (SCALE_r17 §6). localCheckpoint stores the materialized
    * partitions (MEMORY_AND_DISK) and DROPS the plan, so production
    * shuffles are reclaimed at the next GC and the steady-state
    * footprint is the frame itself, not its pipeline.
    *
    * Trade-off, stated: a checkpointed frame is NOT recomputable — on a
    * multi-node cluster an executor loss fails the consumer job instead
    * of recomputing the lost partitions (there you'd reliable-
    * `checkpoint()` to the cluster FS; same lineage cut, fault-tolerant
    * storage). At local[*] there is no executor loss.
    *
    * Invalidation contract: dropping the memo reference orphans the
    * checkpointed RDD and the ContextCleaner unpersists its blocks
    * after the next GC; invalidate's `unpersist(blocking=false)` is a
    * harmless no-op on a checkpointed frame. */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint()

  /** One memo slot. A build runs under the cell's own lock, so callers
    * of one key wait for a single build while builds of other keys
    * (including nested ones) proceed. */
  private final class Cell {
    @volatile var value: Option[Any] = None
    var failed = false
  }

  private val cells = TrieMap.empty[(SparkSession, Any), Cell]

  /** The session-memoized value of `key`, built once on first use. The
    * key is a tuple led by a per-use name, e.g. `("bpeModel", dir)`;
    * frame builds wrap their result in `pin`. A build that throws stores
    * nothing: the next call (or a caller that was waiting on it) builds
    * again. Memos assume the inputs are immutable for the life of the
    * session: call `invalidate` after rewriting a dir in place. A build
    * must not ask for its own key. */
  def memo[V](s: SparkSession, key: Any)(build: => V): V = {
    val k = (s, key)
    val cell = cells.getOrElseUpdate(k, new Cell)
    val built = cell.value.orElse(cell.synchronized {
      if (cell.value.isEmpty && !cell.failed)
        try cell.value = Some(build)
        catch { case e: Throwable =>
          cell.failed = true
          cells.remove(k, cell)
          throw e
        }
      cell.value
    })
    built match {
      case Some(v) => v.asInstanceOf[V]
      case None => memo(s, key)(build) // waited on a build that threw
    }
  }

  /** Drop every memo of `s` — a dir rewritten in place, or session
    * teardown in a long-lived multi-session JVM (entries otherwise pin
    * the session and its blocks; the harness mains are one session per
    * JVM, so they never need this). */
  def invalidate(s: SparkSession): Unit =
    cells.keys.filter(_._1 eq s).foreach { k =>
      cells.remove(k).flatMap(_.value).foreach {
        case df: Dataset[_] => df.unpersist(blocking = false)
        case _ => ()
      }
    }
}
