package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** The per-round lineage-cut discipline shared by the iterative ops
  * (pageRank, LPA, BFS, k-core, triangles, and components, whose
  * rounds are contraction levels): checkpoint + materialize each
  * round, so round k's plan reads the previous round's BLOCKS instead
  * of re-deriving rounds 1..k−1 (an unrolled
  * iterative plan re-analyzes its whole past every action — the r14 CC
  * probe distortion).
  *
  * The cut goes through `Dataset.localCheckpoint`, which persists the
  * plan's INTERNAL rows (compact UnsafeRow bytes, MEMORY_AND_DISK).
  * The earlier `df.rdd` + `createDataFrame(rdd, schema)` form paid two
  * full serialization passes per round that this one skips entirely:
  * InternalRow→Row when persisting (boxed external objects, GC-heavy)
  * and Row→InternalRow via interpreted converters when the next round
  * read them back (guide §4: keep the hot loop on codegen-native
  * formats). Under AQE both forms execute the round's shuffle stages
  * at the cut call; the difference is purely the double conversion and
  * the block representation.
  *
  * Returns the cut frame, the backing checkpoint RDD (the caller owns
  * the unpersist policy — a loop that only SHRINKS can drop the
  * previous round; a loop whose result unions all rounds must keep
  * them), and the materialized row count (free — the checkpoint needs
  * an action anyway), which is what makes convergence early-exits cost
  * nothing. */
private[graft] object Lineage {

  /** Checkpoint `df` lazily and return it UNMATERIALIZED with its
    * backing RDD handle: the caller's FIRST action over the frame
    * materializes (and persists) the blocks. Use when the loop already
    * runs a per-round action (e.g. a convergence fold) — the count job
    * [[cut]] would add is then pure overhead.
    *
    * The handle is exactly the cut frame's own checkpoint RDD, read
    * off the `LogicalRDD` the frame scans — never a diff of the
    * context's persistent RDDs around the call, which could take in a
    * concurrent query's live checkpoint and hand it to the caller's
    * unpersist (a localCheckpoint cannot be recomputed once dropped).
    * Its rows are the frame's internal rows, in the frame's column
    * order, so a loop can fold over it directly. */
  def cutLazy(df: DataFrame): (DataFrame, Seq[RDD[InternalRow]]) = {
    // eager=false: marks the internal RDD persisted + localCheckpointed
    // now, materializes at the caller's first action (one job total)
    val cp = df.localCheckpoint(false)
    val rdd = cp.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalStateException(
        s"localCheckpoint did not return an RDD scan: ${p.nodeName}")
    }
    (cp, Seq(rdd))
  }

  def cut(df: DataFrame): (DataFrame, Seq[RDD[_]], Long) = {
    val (cp, rdds) = cutLazy(df)
    val n = cp.count() // materializes the checkpoint blocks
    (cp, rdds, n)
  }
}

/** Release handle for the MEMORY_AND_DISK localCheckpoint blocks that
  * iterative ops (pageRank, BFS, k-core, triangles, components…)
  * deliberately leave pinned behind their returned frame — the frame
  * READS those blocks, so the op cannot unpersist them itself, but a
  * long-lived session running many queries must be able to free them
  * without a global `getPersistentRDDs` sweep (the r15 trap: they
  * survive `catalog.clearCache()`).
  *
  * Ops call [[register]] on the frame they return; a caller that has
  * materialized the result calls [[release]] on that exact frame (or
  * [[releaseAll]] between independent queries, as the gate harness
  * does). Keys are WEAK: a caller that simply drops the frame keeps
  * the PRE-registry contract — the entry clears, the RDD loses its
  * last strong ref, and Spark's ContextCleaner unpersists the blocks.
  * (A strong registry would have turned every external call into a
  * permanent pin unless the caller knew to release — review r17.) */
object GraphBlocks {
  private val reg = new java.util.WeakHashMap[DataFrame, Seq[RDD[_]]]()
  // cached-DATAFRAME track: lazy ops (contaminatedNear) whose returned
  // frame reads THROUGH df.cache() barriers register those here — DF
  // caches live in the CacheManager, not the ContextCleaner, so unlike
  // RDD blocks they never free on frame drop; release/releaseAll is the
  // only in-session path (ADVICE r18: repeated decontaminate_fuzzy /
  // split_safe calls accumulated barrier caches until session end)
  private val regCached = new java.util.WeakHashMap[DataFrame, Seq[DataFrame]]()

  private[graft] def register(df: DataFrame, rdds: Seq[RDD[_]]): DataFrame =
    synchronized { reg.put(df, rdds); notePin(df); df }

  private[graft] def registerCached(df: DataFrame,
      cached: Seq[DataFrame]): DataFrame =
    synchronized { regCached.put(df, cached); notePin(df); df }

  // STRONG retention scopes (per-thread): the weak registry alone
  // cannot free a DataFrame cache whose registered frame was dropped
  // inside a stage lambda — when the frame is GC'd the WeakHashMap
  // entry (key AND cached-frame value) clears, but the CacheManager
  // entry survives, reclaimable only via a global clearCache (ADVICE
  // r19: semantic_dedup / decontaminate_fuzzy in long multi-stage
  // pipeline runs). A scope pins every frame registered on this thread
  // until the scope closes (after the sink materializes), then releases
  // them all. Nested scopes stack; registration outside any scope keeps
  // the pure weak-key contract.
  private val scopes = new ThreadLocal[List[scala.collection.mutable.ListBuffer[DataFrame]]] {
    override def initialValue: List[scala.collection.mutable.ListBuffer[DataFrame]] = Nil
  }

  private def notePin(df: DataFrame): Unit =
    scopes.get().headOption.foreach(_ += df)

  /** Run `body` under a strong retention scope: frames registered by
    * ops on THIS thread during `body` stay strongly referenced until
    * `body` completes, then are released (caches unpersisted). Wrap a
    * whole source→stages→sink pipeline run so intermediate barrier
    * caches free deterministically once the sink has materialized. */
  def scoped[T](body: => T): T = {
    val buf = scala.collection.mutable.ListBuffer.empty[DataFrame]
    scopes.set(buf :: scopes.get()) // ThreadLocal: thread-confined, no lock
    try body
    finally {
      scopes.set(scopes.get().tail)
      buf.foreach(release)
    }
  }

  /** Unpersist the blocks backing `df` (a frame returned by an
    * iterative op). Safe after the caller has materialized or written
    * the result; a no-op for unregistered frames. */
  def release(df: DataFrame): Unit = synchronized {
    Option(reg.remove(df)).foreach(_.foreach(safeUnpersist))
    Option(regCached.remove(df)).foreach(_.foreach(safeUnpersistDf))
  }

  /** Unpersist every still-registered block (between independent
    * queries); blocks whose frame was already GC'd are on the
    * ContextCleaner's path instead. */
  def releaseAll(): Unit = synchronized {
    import scala.jdk.CollectionConverters._
    reg.values().asScala.foreach(_.foreach(safeUnpersist))
    reg.clear()
    regCached.values().asScala.foreach(_.foreach(safeUnpersistDf))
    regCached.clear()
  }

  /** Best-effort: a harness that cycles one SparkSession per query
    * (Bench) may hold entries whose context already STOPPED — their
    * blocks died with it, and unpersist against a dead context NPEs
    * inside BlockManagerMaster. */
  private def safeUnpersist(r: RDD[_]): Unit =
    try { if (!r.sparkContext.isStopped) r.unpersist(blocking = false) }
    catch { case _: Exception => () }

  private def safeUnpersistDf(df: DataFrame): Unit =
    try {
      if (!df.sparkSession.sparkContext.isStopped)
        df.unpersist(blocking = false)
    } catch { case _: Exception => () }

  /** Number of registered frames (observability/test hook). */
  def registered: Int = synchronized { reg.size + regCached.size }
}
