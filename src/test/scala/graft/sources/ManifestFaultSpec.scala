package graft.sources

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Retention's delta-chain repair under a write that fails midway: the
  * full form of a retained version must never replace its delta until
  * it is completely written. In-package: drives
  * `materializeIfChainBroken` — the step `FleetCompact.expireVersions`
  * runs before it deletes any version file — over a filesystem that
  * fails on demand. */
class ManifestFaultSpec extends graft.SparkSpec {

  test("a materialize write that fails midway leaves every retained version readable") {
    val p = new Path(graft.util.Scratch.dir("manifest_fault") + "/t.avro")
    val fs = new FailingWriteFs
    fs.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    FleetManifest.commit(fs, p, _ => Seq("a0"), Seq.empty)            // v1
    (2 to 20).foreach(i => FleetManifest.commit(fs, p,
      base => base :+ s"f$i", Seq.empty))                             // ..v20
    def raw(v: Long): String = {
      val in = fs.open(FleetManifest.versionFilePath(p, v))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val warm = (1L to 20L).map(v => FleetManifest.snapshotAt(fs, p, v).get)
    // keepLast=3 retains v18..v20, and v18 is a delta on v17, which
    // expires: retention rewrites v18 full — and that write dies
    // after its first bytes
    assert(raw(18).contains("\"base\":17"), raw(18))
    val kept = Set(18L, 19L, 20L)
    fs.failAfterBytes = 16
    intercept[java.io.IOException] {
      FleetManifest.materializeIfChainBroken(fs, p, kept, 18L)
    }
    fs.failAfterBytes = -1
    FleetManifest.clearSnapshotCache()
    assert((1L to 20L).map(v => FleetManifest.snapshotAt(fs, p, v)) ==
      warm.map(Some(_)), "a failed materialize damaged a retained version")
    assert(!fs.listStatus(new Path(p, FleetManifest.DirName))
        .exists(_.getPath.getName.endsWith(".tmp")),
      "a failed materialize left its temp behind")
    // the retry completes: v18 is full, the same snapshot
    FleetManifest.materializeIfChainBroken(fs, p, kept, 18L)
    assert(!raw(18).contains("\"base\""), raw(18))
    FleetManifest.clearSnapshotCache()
    assert(FleetManifest.snapshotAt(fs, p, 18L).contains(warm(17)))
  }
}

/** The local filesystem the sessions bind (a checksummed
  * `NioRawLocalFileSystem`), except that while `failAfterBytes` >= 0
  * every created stream throws once that many bytes were written —
  * the bytes before the failure stay on disk, as after a crash. */
private class FailingWriteFs
    extends LocalFileSystem(new graft.util.NioRawLocalFileSystem) {
  @volatile var failAfterBytes: Int = -1

  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val out = super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
    val limit = failAfterBytes
    if (limit < 0) out
    else new FSDataOutputStream(new java.io.OutputStream {
      private var written = 0
      override def write(b: Int): Unit =
        write(Array(b.toByte), 0, 1)
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        val n = math.min(len, limit - written)
        if (n > 0) { out.write(b, off, n); written += n }
        if (n < len)
          throw new java.io.IOException(s"injected write failure on $f")
      }
      override def close(): Unit = out.close()
    }, null)
  }
}
