package graft.sources

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Retention's legacy rewrite under a write that fails midway: a
  * retained legacy version must never be replaced until its new form
  * is completely written. In-package:
  * drives `rewriteLegacy` — the step `FleetCompact.expireVersions`
  * runs before it deletes any version file — over a filesystem that
  * fails on demand. */
class ManifestFaultSpec extends graft.SparkSpec {

  test("a failed legacy rewrite leaves versions readable") {
    val p = new Path(graft.util.Scratch.dir("manifest_fault") + "/t.avro")
    val fs = new FailingWriteFs
    fs.initialize(java.net.URI.create("file:///"),
      spark.sessionState.newHadoopConf())
    fs.mkdirs(p)
    graft.LegacyManifests.write(fs, p)                       // v1..v20
    def raw(v: Long): String = {
      val in = fs.open(FleetManifest.versionFilePath(p, v))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def temps: Seq[String] = fs.listStatus(new Path(p, FleetManifest.DirName))
      .toSeq.map(_.getPath.getName).filter(_.endsWith(".tmp"))
    FleetManifest.clearSnapshotCache()
    val warm = (1L to 20L).map(v => FleetManifest.snapshotAt(fs, p, v).get)
    // keepLast=3 retains v18..v20, deltas on v17, which expires: the
    // rewrite of v18 dies after the first bytes of its version temp
    assert(raw(18).contains("\"base\":17"), raw(18))
    val kept = Seq(18L, 19L, 20L)
    fs.failAfterBytes = 16
    intercept[java.io.IOException](FleetManifest.rewriteLegacy(fs, p, kept))
    fs.failAfterBytes = -1
    FleetManifest.clearSnapshotCache()
    assert((1L to 20L).map(v => FleetManifest.snapshotAt(fs, p, v)) ==
      warm.map(Some(_)), "a failed rewrite damaged a retained version")
    assert(temps.isEmpty, s"a failed rewrite left $temps behind")
    assert(raw(18).contains("\"base\":17"), raw(18))
    // the retry completes: v18..v20 list segments, the same snapshots
    FleetManifest.rewriteLegacy(fs, p, kept)
    kept.foreach(v => assert(raw(v).contains("\"segments\"") &&
      !raw(v).contains("\"base\""), raw(v)))
    FleetManifest.clearSnapshotCache()
    assert(kept.map(v => FleetManifest.snapshotAt(fs, p, v).get) ==
      warm.slice(17, 20))
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
