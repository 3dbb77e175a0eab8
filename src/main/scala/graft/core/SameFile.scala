package graft.core

import org.apache.hadoop.fs.FileChecksum

/** The `-update` same-file test (DistCpUtils.java:239-291) that the
  * plan-time diff and the copy-time re-check both apply: equal mtime unless
  * `-skiptscheck`, then equal length, then equal checksum unless
  * `-skipcrccheck`. `checksums` (source, destination) is fetched only when
  * the metadata agrees; a null checksum on either side (unsupported by the
  * file system) counts as the same. */
object SameFile {
  def apply(src: FileMeta, dstLength: Long, dstMtime: Long, cfg: CopyConfig,
      checksums: => (FileChecksum, FileChecksum)): Boolean =
    (cfg.skipTs || dstMtime == src.mtime) && dstLength == src.length && (cfg.skipCrc || {
      val (s, d) = checksums
      s == null || d == null || s == d
    })
}
