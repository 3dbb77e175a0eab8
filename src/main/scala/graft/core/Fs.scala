package graft.core

import org.apache.hadoop.conf.Configuration

/** Hadoop Configuration factory for the copy layer.
  *
  * Uses RawLocalFileSystem for file:// so local copies don't grow `.crc`
  * shadow files (ChecksumFileSystem). On HDFS/object stores the scheme's own
  * FileSystem is unaffected. Checksum comparison then returns null locally,
  * which the update-diff treats as "same" — exactly the reference's
  * null-checksum contract (DistCpUtils.java:257-291).
  *
  * Each call copies one template parsed once per JVM: a fresh
  * `new Configuration()` re-parses core-default.xml and core-site.xml from
  * the classpath on first access, and the driver, every walk task and
  * every copy task each ask for one.
  */
object Fs {
  private[graft] lazy val template: Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    // FileSystem.CACHE is keyed by (scheme, authority), NOT by conf — if any
    // other code in the JVM (e.g. Spark's own parquet reads) instantiates the
    // default checksummed LocalFileSystem for file:// first, a cached lookup
    // would hand it back here and the copy layer would silently grow .crc
    // shadow files. Bypass the cache so fs.file.impl is always honored.
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  /** A copy of the template: a `set` on it stays with the caller. */
  def conf(): Configuration = new Configuration(template)
}
