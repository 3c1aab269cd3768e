package graft.fs

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Local filesystem without the per-file `chmod` subprocess.
  *
  * Without the Hadoop native library (absent here — stock Spark
  * distribution, no libhadoop.so), `RawLocalFileSystem.setPermission`
  * shells out to `chmod` for EVERY file create and EVERY mkdir
  * (`Shell.runCommand` under `LocalFSFileOutputStream.<init>` and
  * `mkOneDirWithMode` — jstack-sampled during the r16-opt profiling
  * passes; it dominated write-task CPU). Measured on this host,
  * hadoop-client 3.4.2, 300 single-byte creates:
  *
  *   default LocalFileSystem                15.3 ms/file
  *   RawLocalFileSystem (no crc, chmod)      5.6 ms/file
  *   raw with setPermission no-op            0.14 ms/file
  *   LocalFileSystem over no-op raw          0.36 ms/file  <- this class
  *
  * A parquet commit creates several files (data + _SUCCESS + .crc
  * shadows + temporary attempt dirs), so a small snapshot commit paid
  * tens of forked subprocesses of pure overhead. This class keeps the
  * stock checksummed `LocalFileSystem` behavior in every respect
  * except one: permissions on created files/dirs are left at the
  * process umask instead of being re-applied via a forked `chmod` —
  * the same net permissions for a single-user engine, minus the fork.
  *
  * Installed PROGRAMMATICALLY via `spark.hadoop.fs.file.impl` in the
  * engine's one session builder, `graft.GraftSession.local` (every
  * main and the test fixture build their session there) — r17-opt,
  * replacing the r16 classpath `core-site.xml`: a resource named
  * core-site.xml inside the jar can shadow (or be shadowed by) a
  * deployment's real HADOOP_CONF_DIR core-site.xml depending on
  * classpath order, and silently changes permission semantics for
  * every JVM that merely embeds the jar. With the programmatic form,
  * a deployment that wants this FS opts in with one conf; everyone
  * else keeps stock Hadoop behavior. Scale note: this is not a
  * local[32] bench tweak; any deployment writing to `file://`
  * (single-node, NFS scratch, container-local spill) pays the same
  * fork tax. Cluster object stores (s3a/abfs/hdfs) use their own
  * FileSystem impls and are untouched.
  */
final class NoChmodRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = ()
}

final class FastLocalFileSystem
  extends LocalFileSystem(new NoChmodRawLocalFileSystem)

/** The [[org.apache.hadoop.fs.AbstractFileSystem]] twin (r17-opt):
  * Structured Streaming's checkpoint machinery (offset log, commit
  * log, state metadata — `FileContextBasedCheckpointFileManager`)
  * goes through the FileContext API, which resolves
  * `fs.AbstractFileSystem.file.impl`, NOT `fs.file.impl` — so every
  * micro-batch's metadata-log writes still paid the chmod fork after
  * the r16 FileSystem-side fix (jstack-evidenced this round:
  * `ProcessImpl.forkAndExec` under the stream execution thread's
  * offset-log writes). Mirrors Hadoop's own LocalFs = ChecksumFs over
  * a DelegateToFileSystem(RawLocalFileSystem), with the no-chmod raw
  * FS swapped in. Installed via
  * `spark.hadoop.fs.AbstractFileSystem.file.impl` alongside the
  * FileSystem-side conf in `graft.GraftSession.local`. */
final class FastRawLocalFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new NoChmodRawLocalFileSystem, conf, "file", false)

final class FastLocalFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.ChecksumFs(new FastRawLocalFs(uri, conf))
