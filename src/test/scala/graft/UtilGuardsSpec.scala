package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards on the r21/r22 session-level optimizations: tmpfs scratch
  * must fall back to disk when `/dev/shm` lacks capacity headroom
  * (r21 verdict #2 — spilling INTO a tiny RAM mount converts disk
  * pressure into ENOSPC), concurrent same-name checkpoint scratch must
  * not share a directory (ADVICE r21), and the interned executor-shared
  * Hadoop conf must fail loudly on mutation (ADVICE r21). No Spark
  * session needed — these are pure JVM contracts. */
class UtilGuardsSpec extends AnyFunSuite {

  private def withShmFloor[T](bytes: Long)(f: => T): T = {
    val key = "graft.scratch.shmMinBytes"
    val prev = System.getProperty(key)
    System.setProperty(key, bytes.toString)
    try f
    finally if (prev == null) System.clearProperty(key)
            else System.setProperty(key, prev)
  }

  test("ephemeralDir falls back to java.io.tmpdir when /dev/shm lacks headroom") {
    // an impossible floor models the 64 MB container tmpfs: the RAM
    // mount exists and is writable, but using it would be wrong
    val p = withShmFloor(Long.MaxValue) {
      graft.util.Scratch.ephemeralDir("guard_floor")
    }
    assert(!p.startsWith("/dev/shm"),
      s"capacity floor ignored: $p landed on tmpfs")
    assert(p.startsWith(System.getProperty("java.io.tmpdir", "/tmp")))
  }

  test("ephemeralDir prefers /dev/shm when writable with headroom") {
    val shm = java.nio.file.Paths.get("/dev/shm")
    assume(java.nio.file.Files.isWritable(shm) &&
      shm.toFile.getUsableSpace > (64L << 20))
    // floor below the measured free space: tmpfs must win
    val p = withShmFloor(1L << 20) {
      graft.util.Scratch.ephemeralDir("guard_ok")
    }
    assert(p.startsWith("/dev/shm"), s"expected tmpfs, got $p")
  }

  test("unique ephemeralDirs never collide for one name") {
    val a = graft.util.Scratch.ephemeralDir("guard_unique", unique = true)
    val b = graft.util.Scratch.ephemeralDir("guard_unique", unique = true)
    assert(a != b, s"two invocations shared scratch: $a")
  }

  test("interned executor-side Hadoop conf is sealed: reads fine, writes throw") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("graft.test.key", "v1")
    val wrapper = new graft.util.SerializableHadoopConf(conf)
    def roundtrip(w: graft.util.SerializableHadoopConf)
        : graft.util.SerializableHadoopConf = {
      val buf = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(buf)
      oos.writeObject(w); oos.close()
      new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(buf.toByteArray))
        .readObject().asInstanceOf[graft.util.SerializableHadoopConf]
    }
    val task = roundtrip(wrapper)
    assert(task.value.get("graft.test.key") == "v1")
    // the shared instance rejects every mutator loudly
    intercept[UnsupportedOperationException] {
      task.value.set("graft.test.key", "v2")
    }
    intercept[UnsupportedOperationException] { task.value.unset("x") }
    // same content interns to the SAME instance (the r21 win this
    // seal protects: a thousand tasks share one parsed conf)
    assert(roundtrip(wrapper).value eq task.value)
    // every serialization re-encodes: an entry added, or an existing
    // key rewritten in place, after an earlier round-trip reaches
    // later task binaries (no stale payload)
    conf.set("graft.test.added", "later")
    assert(roundtrip(wrapper).value.get("graft.test.added") == "later")
    conf.set("graft.test.key", "v3")
    assert(roundtrip(wrapper).value.get("graft.test.key") == "v3")
    // values past writeUTF's 64 KiB cap survive the pair encoding
    val big = "\u00e9" * 70000
    conf.set("graft.test.big", big)
    assert(roundtrip(wrapper).value.get("graft.test.big") == big)
  }

  test("scratch dirs share one exit hook that still deletes every path") {
    // a fresh JVM: the hook only runs at exit, and this one's scratch
    // (the shared session's spark.local.dir among it) must outlive it
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"),
      "bin", "java").toString
    val proc = new ProcessBuilder(javaBin,
      "--add-opens", "java.base/java.lang=ALL-UNNAMED",
      "-cp", System.getProperty("java.class.path"),
      "graft.ScratchHookProbe").redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      .linesIterator.toSeq
    assert(proc.waitFor() == 0, out.mkString("\n"))
    assert(out.head == "hooks 1 1", s"hook count (scratch, added): ${out.head}")
    val paths = out.tail
    assert(paths.size == 100 && paths.distinct.size == 100)
    paths.foreach(p =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p)),
        s"$p survived JVM exit"))
  }
}

/** Child-JVM half of the shared-exit-hook spec: 100 unique scratch
  * dirs, each populated, then a normal exit. Prints the scratch-hook
  * count and the hooks added overall, then every path. */
object ScratchHookProbe {
  private def hooks(): Seq[Thread] = {
    val f = Class.forName("java.lang.ApplicationShutdownHooks")
      .getDeclaredField("hooks")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.Map[Thread, Thread]].keySet
      .toArray(Array.empty[Thread]).toSeq
  }

  def main(args: Array[String]): Unit = {
    val before = hooks().size
    val paths = (1 to 100).map(_ =>
      graft.util.Scratch.ephemeralDir("hook_probe", unique = true))
    paths.foreach { p =>
      val d = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(p))
      java.nio.file.Files.write(d.resolve("f"), Array[Byte](1))
    }
    val now = hooks()
    println(s"hooks ${now.count(_.getName == graft.util.Scratch.ExitHookName)} " +
      s"${now.size - before}")
    paths.foreach(println)
  }
}
