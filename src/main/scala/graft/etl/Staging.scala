package graft.etl

import scala.util.control.NonFatal

/** Shared /tmp staging hygiene for operators that materialize
  * app-id-unique working directories (bucketed-join stages, compaction
  * round trips). One definition so the liveness policy can't diverge
  * between call sites. */
object Staging {

  /** Best-effort removal of OTHER apps' stale stage directories under
    * /tmp matching `prefix`. A directory is presumed dead only after
    * `maxAgeMs` without mtime changes (default 24 h; the trade-off is
    * a day of stray disk, not correctness). Caveat: reads don't bump
    * a directory's mtime, so a concurrent session that STAGES ONCE
    * and then only reads for longer than maxAgeMs could have its live
    * stage reaped — sessions with that profile must re-touch their
    * stage dir periodically or raise maxAgeMs (the in-repo callers
    * restage per query, so their mtime is always fresh). Our own
    * app's directories are never touched — same-session reruns
    * overwrite in place. */
  def sweepStale(prefix: String, appId: String,
                 maxAgeMs: Long = 24L * 3600 * 1000): Unit = {
    try {
      val cutoff = System.currentTimeMillis() - maxAgeMs
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith(prefix) &&
          !f.getName.endsWith(s"_$appId") && f.lastModified() < cutoff)
        .foreach(f => org.apache.commons.io.FileUtils.deleteQuietly(f))
    } catch { case NonFatal(_) => }
  }
}
