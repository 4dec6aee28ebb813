package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.time.LocalDate

/** The pipeline's only mutable state: the `EXP_DATE` watermark the reference
  * keeps in an Airflow Variable (/root/reference/src/py/yq_dag.py:13-14,
  * 31-33; SURVEY.md §1.5, C4). One run processes `[value, value + 1 year)`
  * and advances the value once the copy is verified. The advance is the
  * run's commit point, so [[advance]] writes atomically (temp file +
  * atomic move), records the committed year's hot partitions as
  * [[pendingDrop]] in that same write, and moves only from the value the
  * run started at: two overlapping drivers would otherwise each advance
  * once (2020 → 2021 → 2022) and strand 2021's hot partitions.
  */
final class Watermark(path: String) {

  private def p: Path = Paths.get(path)

  def initIfAbsent(start: LocalDate): Unit =
    if (!Files.exists(p)) write(start, None)

  // {"EXP_DATE": "YYYY-MM-DD"[, "PENDING_DROP": "payments_yYYYY"]}
  private def field(name: String): Option[String] = {
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    s""""$name"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(txt).map(_.group(1))
  }

  def value: LocalDate = field("EXP_DATE") match {
    case Some(d) => LocalDate.parse(d)
    case None => throw new IllegalStateException(s"malformed watermark file $path")
  }

  /** The hot-partition prefix (`payments_yYYYY`, db_init.sql:57-59) of the
    * last committed year, which the pipeline drops after the advance;
    * `None` when the file records none (a fresh watermark).
    */
  def pendingDrop: Option[String] = field("PENDING_DROP")

  def windowEnd: LocalDate = value.plusYears(1)

  /** Compare-and-set: moves `expected` to `expected + 1 year` and records
    * `expected`'s year as [[pendingDrop]], re-reading the value under an
    * exclusive lock on the sidecar `.lock` file (the JVM monitor covers
    * drivers on threads of one process, where file locks are not
    * re-entrant). Throws without writing when another driver has already
    * moved the value.
    */
  def advance(expected: LocalDate): LocalDate = Watermark.synchronized {
    val lockFile = FileChannel.open(Paths.get(path + ".lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try {
      lockFile.lock() // released by close
      val cur = value
      if (cur != expected)
        throw new IllegalStateException(
          s"watermark $path is at $cur, not the $expected this run started from: " +
            "another driver advanced it; this run's advance is refused")
      val next = expected.plusYears(1)
      write(next, Some(s"payments_y${expected.getYear}"))
      next
    } finally lockFile.close()
  }

  private def write(d: LocalDate, pendingDrop: Option[String]): Unit = {
    val tmp = Paths.get(path + ".tmp")
    val pending = pendingDrop.fold("")(prefix => s""", "PENDING_DROP": "$prefix"""")
    Files.write(tmp, s"""{"EXP_DATE": "$d"$pending}""".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Process-wide monitor for [[Watermark.advance]]. */
object Watermark
