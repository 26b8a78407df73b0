package graft.util

import java.nio.file.{Files, Path, Paths}

/** Scratch-directory management for the roundtrip scan/sink queries and
  * streaming-replay checkpoints. Dirs are pid-suffixed (a concurrently
  * running test JVM and Bench JVM can't clobber each other's overwrites
  * mid-read) and deleted on JVM exit, so repeated Verify/Bench/test runs
  * don't accumulate unbounded temp data and a reused pid can't resurrect
  * a stale dir in a later session.
  */
object Scratch {

  /** Every scratch path handed out in this JVM, deleted by ONE exit
    * hook: a hook per path (or per unique CDC checkpoint) would grow
    * the JVM's hook table without bound in a long-lived driver. */
  private val exitPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private[graft] val ExitHookName = "graft-scratch-cleanup"

  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      exitPaths.forEach(p =>
        try deleteRecursively(p) catch { case _: Throwable => () }),
      ExitHookName))

  private def deleteOnExit(p: Path): String = {
    exitHook
    exitPaths.add(p)
    p.toString
  }

  /** tmpdir path for roundtrip scratch data, deleted on JVM exit. The
    * returned DataFrames of the roundtrip queries read from it lazily,
    * so deletion must not happen before the JVM is done — an exit hook
    * (not an eager delete) is the correct lifetime. */
  def dir(name: String): String =
    deleteOnExit(Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${name}_${ProcessHandle.current().pid()}"))

  /** Floor of usable `/dev/shm` bytes below which [[ephemeralDir]]
    * falls back to disk (default 4 GiB, `graft.scratch.shmMinBytes`
    * overrides — the fallback spec pins the behavior). Containers
    * commonly cap tmpfs at 64 MB: shuffle spill exists precisely
    * because memory ran out, and spilling INTO a tiny RAM-backed mount
    * converts disk pressure into ENOSPC/OOM under exactly the
    * conditions spilling must handle (r21 verdict #2 / ADVICE). */
  private def shmMinBytes: Long =
    System.getProperty("graft.scratch.shmMinBytes", "")
      .toLongOption.getOrElse(4L << 30)

  /** Like [[dir]], but preferring the RAM-backed `/dev/shm` when it is
    * writable AND has capacity headroom (see [[shmMinBytes]]) — for
    * bounded-replay checkpoints and other scratch whose lifetime is one
    * query invocation (the offset/commit logs and state-store deltas of
    * an AvailableNow drain are pure scratch; the durable-checkpoint
    * posture stays exercised by the restart specs, which checkpoint to
    * real disk). Falls back to java.io.tmpdir. `SPARK_LOCAL_DIRS`
    * still overrides the shuffle-scratch use (Spark prefers it over
    * spark.local.dir).
    *
    * `unique = true` appends a per-invocation token: checkpoint dirs
    * handed to concurrent same-name invocations in one JVM (parallel
    * suites, two sessions draining the same query shape) must not
    * share offset logs — each caller deletes-then-writes its own. */
  def ephemeralDir(name: String, unique: Boolean = false): String = {
    val shm = Paths.get("/dev/shm")
    val base =
      if (Files.isWritable(shm) &&
          (try shm.toFile.getUsableSpace >= shmMinBytes
           catch { case _: Throwable => false })) shm.toString
      else System.getProperty("java.io.tmpdir", "/tmp")
    val suffix = if (unique) s"_${invocation.incrementAndGet()}" else ""
    deleteOnExit(Paths.get(base,
      s"graft_${name}_${ProcessHandle.current().pid()}$suffix"))
  }

  private val invocation = new java.util.concurrent.atomic.AtomicLong

  /** Best-effort recursive delete (files before parents). */
  def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }
}
