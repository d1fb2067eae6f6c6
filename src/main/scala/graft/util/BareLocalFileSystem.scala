package graft.util

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem that never forks a process — the engine's `file:`
  * scheme implementation for hosts WITHOUT the Hadoop native library
  * (no libhadoop.so). Without NativeIO, `RawLocalFileSystem` shells
  * out at three sites on the write path, each a process fork+exec:
  *
  *  - `chmod`: `setPermission`, which `createOutputStreamWithMode` /
  *    `mkOneDirWithMode` call for EVERY created file and directory —
  *    every parquet part file, checksum `.crc`, streaming-checkpoint
  *    WAL entry and state-store delta (seen in jstack during the
  *    stream_lsh_index micro-batches: `Shell.runCommand` →
  *    `ProcessImpl.forkAndExec`);
  *  - `ls -ld`: `DeprecatedRawLocalFileStatus.loadPermissionInfo`,
  *    the first time a listed status's permission or owner is read;
  *  - `readlink`: `getFileLinkStatus`, which `FileContext.rename`
  *    asks of every checkpoint file Spark renames into place (offset,
  *    commit and source logs, state-store deltas and their checksums,
  *    state-schema and operator metadata). The inherited non-native
  *    path runs `readlink` on `f.toString`, which for the qualified
  *    `file:/…` paths FileContext passes is a relative path that does
  *    not exist — so the fork never even reports a symlink.
  *
  * None of these permissions carry meaning for per-JVM scratch, bench
  * sinks or read-only testdata, so chmod is skipped, statuses report
  * the default permission, and link status asks the JVM
  * (`Files.isSymbolicLink`) before falling back to the inherited
  * method for a real symlink.
  *
  * One fork remains, inside Spark and out of reach here: RocksDB
  * instance cleanup goes through `JavaUtils.deleteRecursively`, which
  * runs `rm -rf` (12 per `stream_tws_totals` run).
  *
  * Semantics: identical bytes in, identical bytes out — only the
  * POSIX permission side-channel is dropped, exactly what the
  * in-JVM NativeIO fast path would have made nearly free.
  */
class BareLocalFileSystem extends LocalFileSystem(new BareRawLocalFileSystem)

/** `file:` AbstractFileSystem (the FileContext API — what Spark's
  * streaming-checkpoint WAL writes go through) over the no-fork raw
  * FS. Mirrors hadoop's own LocalFs = ChecksumFs(RawLocalFs(raw)).
  */
class BareLocalFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(new BareRawLocalFs(uri, conf))

class BareRawLocalFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new BareRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
}

/** RawLocalFileSystem whose permission and link-status operations
  * never fork.
  */
class BareRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()

  // listed/stat'ed files report the default permission instead of
  // lazily forking `ls -ld` (loadPermissionInfoByNonNativeIO) the
  // first time permission/owner is read from a status
  private def noPerm(st: org.apache.hadoop.fs.FileStatus)
      : org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime, FsPermission.getDefault, "", "", st.getPath)

  override def getFileStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    noPerm(super.getFileStatus(f))

  override def listStatus(f: Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(noPerm)

  // a non-symlink's link status is its file status (what the inherited
  // method returns once its `readlink` fork reports no target); a
  // missing path still throws FileNotFoundException from getFileStatus
  override def getFileLinkStatus(f: Path): org.apache.hadoop.fs.FileStatus =
    if (java.nio.file.Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f)
}
