package graft.sources

import java.net.URI

/** Checksum-free local filesystem under its own `rawlocal://` scheme
  * (optimization r17, guide §6), for the parity harness's THROWAWAY
  * tmpfs checkpoints ([[graft.streaming.StreamParity]]). Hadoop's
  * default `file://` is ChecksumFileSystem: every file create also
  * creates, writes and renames a `.crc` twin. Those twins turned out
  * not to be the main per-file cost: without libhadoop, stock
  * `RawLocalFileSystem` also started a `chmod` process per create and a
  * `readlink` process per link-status lookup, which is why this class
  * extends the fork-free [[NoForkRawLocalFileSystem]], the same raw
  * file system `file://` checkpoints now use through [[LocalFsNoFork]].
  * What is left here is the `.crc` saving. The checksums protect
  * nothing on these trees: each lives for one query on `/dev/shm` and is
  * deleted on completion, and a corrupted read would fail the oracle
  * hash gate anyway. A production deployment points checkpoints at
  * durable shared storage with its own integrity story (HDFS block
  * checksums, object-store ETags).
  *
  * The subclass exists because `FileSystem.checkPath` requires the
  * instance's URI scheme to match the path's scheme, and
  * `RawLocalFileSystem.getUri` hardcodes `file:///` — registering the
  * parent class under `fs.rawlocal.impl` would fail `makeQualified`
  * on every `rawlocal://` path. Registered (inert until a path uses
  * the scheme) in [[graft.GraftSession.builder]]. */
class RawLocalCkptFs extends NoForkRawLocalFileSystem {
  override def getUri: URI = URI.create("rawlocal:///")
}
