package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBridge

/** The one guarded per-query run ([[runKey]]) of every registry drive
  * — Verify, Tripwire's three modes, SpillGate and `Cli probe` — and
  * the wall-clock budget enforcement ([[run]]) under it.
  *
  * Round 7's watchdog only called `sc.cancelJobGroup`, which kills
  * running JOBS but cannot unblock DRIVER-side waits: a streaming
  * `awaitTermination()`, an iterative driver loop (connected
  * components, BFS), or planning-time work never returns to the
  * caller's thread. So each query runs on a disposable daemon worker
  * thread and the caller waits with a timeout; on breach the job group
  * is cancelled (kills cluster work) AND the worker is interrupted
  * (kills driver-side waits), then the worker is abandoned — a thread
  * wedged in uninterruptible code must not stall the remaining N−1
  * queries of the drive.
  */
object QueryGuard {

  sealed trait Outcome
  case object Ok extends Outcome
  case object Timeout extends Outcome
  final case class Failed(error: Throwable) extends Outcome

  /** One run of one key: outcome, the body's value (on Ok), wall
    * seconds, task spill, and the plain persists it left behind (0 for
    * a key on [[CacheLifecycle.persistAllowlist]]). */
  final case class Record[+T](
      outcome: Outcome,
      value: Option[T],
      wallS: Double,
      spillMemBytes: Long,
      spillDiskBytes: Long,
      leakedPersists: Int) {

    /** The value, or the failure thrown (SpillGate, `Cli probe`). */
    def get: T = outcome match {
      case Ok        => value.get
      case Failed(e) => throw e
      case Timeout   => throw new TimeoutException("query over its wall budget")
    }
  }

  /** One spill listener per SparkContext, registered on first use and
    * never reset: a run reads its growth. Weak keys, so a stopped
    * context is not kept alive. */
  private val tallies = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkContext, ListenerBridge.SpillTally]())

  private def tally(sc: SparkContext): ListenerBridge.SpillTally =
    tallies.computeIfAbsent(sc, ListenerBridge.register(_))

  /** Run key `key`'s `body` as job group `$tag-$key` under `budgetS`
    * ([[run]]), timing the body only, then sweep the block manager so
    * the next run starts from a defined state — a drive of hundreds of
    * keys otherwise accumulates persist/localCheckpoint residue and
    * late keys inherit a degraded JVM (VERDICT r11 items 1-2). Listener
    * events post asynchronously, so the tally is drained on both sides
    * of the body. */
  def runKey[T](spark: SparkSession, tag: String, key: String, budgetS: Option[Long])(
      body: => T): Record[T] = {
    val sc = spark.sparkContext
    val spill = tally(sc)
    ListenerBridge.drain(sc)
    val (mem0, disk0) = (spill.memSpilled.get, spill.diskSpilled.get)
    @volatile var value: Option[T] = None
    val t0 = System.nanoTime()
    val outcome = run(sc, s"$tag-$key", budgetS) { value = Some(body) }
    val wallS = (System.nanoTime() - t0) / 1e9
    ListenerBridge.drain(sc)
    val swept = CacheLifecycle.sweep(spark)
    Record(outcome, if (outcome == Ok) value else None, wallS,
      spill.memSpilled.get - mem0, spill.diskSpilled.get - disk0,
      if (CacheLifecycle.persistAllowlist(key)) 0 else swept.plain)
  }

  /** Run `body` on a fresh daemon thread under `budgetS` wall seconds
    * (None = unbounded). The query's Spark jobs are tagged with job
    * group `group` (set on the worker thread — job groups are
    * thread-local) so a breach can cancel exactly this query's work.
    * After cancel+interrupt the worker gets a short grace period to
    * die, so callers can safely clean up this query's output dir
    * without racing a still-writing thread.
    */
  def run(sc: SparkContext, group: String, budgetS: Option[Long])(
      body: => Unit): Outcome = {
    val exec = Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, s"graft-query-$group"); t.setDaemon(true); t
    }
    val fut = exec.submit(new Callable[Unit] {
      def call(): Unit = {
        sc.setJobGroup(group, group, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    try {
      budgetS match {
        case Some(b) => fut.get(b, TimeUnit.SECONDS)
        case None    => fut.get()
      }
      Ok
    } catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        fut.cancel(true) // interrupts the worker: unblocks driver-side waits
        exec.shutdownNow()
        // grace period: let the interrupted worker actually exit before
        // the caller deletes partial output it might still be touching
        exec.awaitTermination(5, TimeUnit.SECONDS)
        Timeout
      case e: ExecutionException =>
        Failed(Option(e.getCause).getOrElse(e))
    } finally exec.shutdownNow()
  }

  /** Capture the CALLING thread's job group and return a wrapper that
    * re-applies it around `body` on whatever thread runs it. Needed for
    * work farmed out to ForkJoinPool common-pool threads (`.par`):
    * those threads are created lazily by the pool, not by the guarded
    * worker, so InheritableThreadLocal does NOT carry the job group to
    * them — and jobs they submit would be invisible to the watchdog's
    * `cancelJobGroup`. The wrapper sets the captured group before the
    * task and clears it after (pool threads are reused; a leaked group
    * would mis-tag unrelated later queries). */
  final class JobGroupRunner(sc: SparkContext) {
    private val gid = sc.getLocalProperty("spark.jobGroup.id")
    private val desc = Option(sc.getLocalProperty("spark.job.description")).getOrElse(gid)
    private val interrupt = sc.getLocalProperty("spark.job.interruptOnCancel") == "true"
    def apply[T](body: => T): T = {
      if (gid != null) sc.setJobGroup(gid, desc, interrupt)
      try body finally if (gid != null) sc.clearJobGroup()
    }
  }

  /** Build on the guarded worker thread; apply inside each `.par` task. */
  def withCallerJobGroup(sc: SparkContext): JobGroupRunner = new JobGroupRunner(sc)

  /** Recursive delete ([[graft.operators.TableLog.deleteRecursively]])
    * — used to turn a failed/timed-out query's partially-written output
    * directory into a MISSING result rather than a corrupt one the
    * driver's DuckDB compare would score WRONG. */
  def deleteRec(f: java.io.File): Unit =
    try graft.operators.TableLog.deleteRecursively(f.toPath)
    catch { case _: java.io.IOException => () } // best effort: a straggler must not stop a drive

  /** JVM-exit cleanup for a POPULATED scratch directory. `deleteOnExit`
    * cannot do this — `File.delete` refuses a non-empty directory, so
    * registering just the dir (the a29/t17/t18 first cut) silently
    * leaks it with everything Spark wrote inside. One static shutdown
    * hook drains a concurrent queue of registered dirs — repeated
    * drives in a long-lived JVM (Bench + Verify in one process) must
    * not accumulate a hook-thread per call. */
  private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => {
      var d = exitDirs.poll()
      while (d != null) { deleteRec(d); d = exitDirs.poll() }
    }, "graft-scratch-cleanup"))

  def deleteRecOnExit(dir: java.io.File): Unit = {
    exitHook
    exitDirs.add(dir)
  }
}
