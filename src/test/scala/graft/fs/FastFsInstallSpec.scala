package graft.fs

import java.net.URI
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem}
import graft.SparkSpecBase

/** r17-opt: the chmod-fork-free local FS is installed PROGRAMMATICALLY
  * (both Hadoop FS keys set by `graft.GraftSession.local`, the engine's
  * one session builder), not via a classpath core-site.xml. Two
  * properties pinned here:
  *  1. a session that opts in resolves BOTH Hadoop FS APIs to the fast
  *     variants — FileSystem (data/manifest writes) AND
  *     AbstractFileSystem/FileContext (Structured Streaming's
  *     offset/commit checkpoint logs, which resolve the second key and
  *     silently kept forking chmod when only the first was set);
  *  2. a bare Hadoop Configuration — a deployment that did NOT opt in —
  *     keeps STOCK local-FS behavior: nothing on the classpath overrides
  *     it (the r16 core-site.xml would have).
  */
class FastFsInstallSpec extends SparkSpecBase {

  test("opted-in session resolves file:// to the fork-free FS on both APIs") {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new URI("file:///"), conf)
    assert(fs.isInstanceOf[FastLocalFileSystem],
      s"FileSystem path resolved ${fs.getClass.getName}")
    val afs = AbstractFileSystem.get(new URI("file:///"), conf)
    assert(afs.isInstanceOf[FastLocalFs],
      s"AbstractFileSystem (FileContext) path resolved ${afs.getClass.getName}")
  }

  test("a configuration without the opt-in does not get the graft FS") {
    // exact stock classes can't be pinned inside a Spark JVM (Spark's
    // hive support registers its own ProxyLocalFileSystem default);
    // the property that matters is that NOTHING on the graft classpath
    // overrides a non-opted-in configuration — permission semantics
    // stay whatever the deployment configured
    val stock = new Configuration()
    val fs = FileSystem.newInstance(new URI("file:///"), stock)
    try {
      assert(!fs.getClass.getName.startsWith("graft."),
        s"graft override leaked into a stock conf: ${fs.getClass.getName}")
      assert(!fs.isInstanceOf[FastLocalFileSystem])
    } finally fs.close()
    val afs = AbstractFileSystem.get(new URI("file:///"), stock)
    assert(!afs.getClass.getName.startsWith("graft."),
      s"graft override leaked into a stock conf: ${afs.getClass.getName}")
  }
}
