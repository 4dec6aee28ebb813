package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.channels.{FileChannel, OverlappingFileLockException}
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.time.LocalDate

/** The pipeline's only mutable state: the `EXP_DATE` watermark the reference
  * keeps in an Airflow Variable (/root/reference/src/py/yq_dag.py:13-14,
  * 31-33; SURVEY.md §1.5, C4). It is always January 1: one run cools the
  * calendar [[year]] it names and advances it by one year once the copy is
  * verified. The advance is the run's commit point, so [[advance]] writes
  * atomically (temp file + atomic move), records the committed year's hot
  * partitions as [[pendingDrop]] in that same write, and moves only from
  * the year the run started at; the run's [[lease]] keeps every other
  * driver out from its first read to its last drop.
  */
final class Watermark(path: String) {

  private def p: Path = Paths.get(path)

  /** Writes `start`, which must be January 1, when no watermark exists. */
  def initIfAbsent(start: LocalDate): Unit = {
    val year = yearOf(start) // checked even when the file exists
    if (!Files.exists(p)) write(year, None)
  }

  private def yearOf(d: LocalDate): Int =
    if (d == LocalDate.of(d.getYear, 1, 1)) d.getYear
    else throw new IllegalArgumentException(
      s"watermark $path: EXP_DATE $d is not January 1; a run cools one calendar year")

  // {"EXP_DATE": "YYYY-01-01"[, "PENDING_DROP": "payments_yYYYY"]}
  private def field(name: String): Option[String] = {
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    s""""$name"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1))
  }

  /** The calendar year the next run cools. */
  def year: Int = field("EXP_DATE") match {
    case Some(d) => yearOf(LocalDate.parse(d))
    case None => throw new IllegalStateException(s"malformed watermark file $path")
  }

  /** The hot-partition prefix (`payments_yYYYY`, db_init.sql:57-59) of the
    * last committed year, which the pipeline drops after the advance;
    * `None` when the file records none (a fresh watermark).
    */
  def pendingDrop: Option[String] = field("PENDING_DROP")

  /** Compare-and-set, called under the [[lease]]: moves `expected` to
    * `expected + 1` and records `expected` as [[pendingDrop]]. Throws
    * without writing when the file holds another year.
    */
  def advance(expected: Int): Int = {
    val cur = year
    if (cur != expected)
      throw new IllegalStateException(
        s"watermark $path is at $cur, not the $expected this run started from: " +
          "another driver advanced it; this run's advance is refused")
    write(expected + 1, Some(s"payments_y$expected"))
    expected + 1
  }

  /** Runs `body` holding an exclusive `tryLock` on the sidecar `.lock`
    * file, freed when `body` ends or the process dies. A lock another
    * driver holds refuses the run before `body` reads anything: `tryLock`
    * returns null when another process holds it, and throws when this JVM does.
    */
  def lease[T](body: => T): T = {
    val ch = FileChannel.open(Paths.get(s"$path.lock"), StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      val held = try ch.tryLock() catch { case _: OverlappingFileLockException => null }
      if (held == null)
        throw new IllegalStateException(s"watermark lock $path.lock is held by another driver; this run is refused")
      body
    } finally ch.close() // releases the lock
  }

  private def write(year: Int, pendingDrop: Option[String]): Unit = {
    val tmp = Paths.get(path + ".tmp")
    val pending = pendingDrop.fold("")(prefix => s""", "PENDING_DROP": "$prefix"""")
    Files.write(tmp, s"""{"EXP_DATE": "${LocalDate.of(year, 1, 1)}"$pending}""".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
