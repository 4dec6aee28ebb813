package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.time.LocalDate

/** The pipeline's only mutable state: the `EXP_DATE` watermark the reference
  * keeps in an Airflow Variable (/root/reference/src/py/yq_dag.py:13-14,
  * 31-33; SURVEY.md §1.5, C4). One run processes `[value, value + 1 year)`
  * and advances the value only after the verified, destructive steps —
  * that ordering is the exactly-once story, so [[advance]] writes
  * atomically (temp file + atomic move) and only from the value the run
  * started at: two overlapping drivers would otherwise each advance once
  * (2020 → 2021 → 2022) and strand 2021's hot partitions.
  */
final class Watermark(path: String) {

  private def p: Path = Paths.get(path)

  def initIfAbsent(start: LocalDate): Unit =
    if (!Files.exists(p)) write(start)

  def value: LocalDate = {
    val txt = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    // {"EXP_DATE": "YYYY-MM-DD"}
    val m = """"EXP_DATE"\s*:\s*"(\d{4}-\d{2}-\d{2})"""".r
    m.findFirstMatchIn(txt) match {
      case Some(g) => LocalDate.parse(g.group(1))
      case None => throw new IllegalStateException(s"malformed watermark file $path: $txt")
    }
  }

  def windowEnd: LocalDate = value.plusYears(1)

  /** Compare-and-set: moves `expected` to `expected + 1 year`, re-reading
    * the value under an exclusive lock on the sidecar `.lock` file (the
    * JVM monitor covers drivers on threads of one process, where file
    * locks are not re-entrant). Throws without writing when another
    * driver has already moved the value.
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
      write(next)
      next
    } finally lockFile.close()
  }

  private def write(d: LocalDate): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, s"""{"EXP_DATE": "$d"}""".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

/** Process-wide monitor for [[Watermark.advance]]. */
object Watermark
