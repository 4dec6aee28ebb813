package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's stdout-line sizing contract (r17 verdict #6): the
  * driver archives a 2,000-char stdout TAIL, and a per-query line that
  * outgrows it gets front-truncated into an unparseable fragment — which
  * is how round 16's per-query record was lost. The compact LAST line is
  * sized against that window: with 191 fixed survey-id keys the keys+JSON
  * structure alone cost ~1,350 bytes, so a guaranteed sub-2,000-byte fit
  * would need renamed keys (prohibited — the driver's round-over-round
  * comparison is keyed on them) or >1% value quantization; 3-decimal
  * lands ~2.24 KB and this spec fails the build if registry growth or a
  * format change pushes it past 2,400 (≈ the point where a tail capture
  * would lose more than the first ~25 entries).
  */
class BenchLineSpec extends AnyFunSuite {

  // representative worst-case timings: every query at 100+ seconds would
  // never happen (battery total is ~100 s), so size with realistic 3-char
  // integer-part worst cases on the heavy tail and sub-second elsewhere
  private def fakeResults: Seq[(String, Double)] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.map { case (k, i) =>
      k -> (if (i % 10 == 0) 12.3456 else 0.98765)
    }

  test("compact tail line stays within the sizing contract and parses") {
    val line = Bench.compactLine(fakeResults, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 2400,
      s"compact bench line is ${line.length} bytes — the 2,000-char tail capture " +
        "would lose too much of it; shrink the encoding or revisit the contract")
    // one complete JSON object, no interior newline
    assert(!line.contains("\n"))
    assert(line.startsWith("""{"metric":"total"""") && line.endsWith("}"))
    // every declared query appears exactly once under its survey id
    // (collisions keep the full name — the driver's per-query key set)
    val ids = SparkEntry.queries.keys.toSeq
      .groupBy(_.takeWhile(_ != '_'))
      .flatMap { case (short, grp) => if (grp.size == 1) Seq(short) else grp }
    ids.foreach(id => assert(line.contains(s""""$id":"""), s"missing key $id"))
  }

  test("full-name line never regresses to full-double rendering") {
    // the guard is against the round-6 failure mode (unrounded doubles made
    // the line ~2× this); with this spec's pessimistic 3-char integer parts
    // the 4-decimal encoding sits just under 5 KiB, the real battery ~3.4 KiB
    val line = Bench.fullLine(fakeResults, Nil, "/root/testdata/sf0.1")
    assert(line.length <= 5120,
      s"full bench line is ${line.length} bytes — full-double rendering regression?")
  }

  test("compact values match the full line to 1 ms") {
    val res = fakeResults
    // every numeric field by key: the total under "value", each query
    // under its name (full line) or its compact key (compact line)
    def byKey(line: String): Map[String, Double] =
      """"([^"]+)":(\d+\.\d+)""".r.findAllMatchIn(line)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val full = byKey(Bench.fullLine(res, Nil, "sf"))
    val compact = byKey(Bench.compactLine(res, Nil, "sf"))
    val byShort = res.map(_._1).groupBy(_.takeWhile(_ != '_'))
    def compactKey(k: String): String = {
      val short = k.takeWhile(_ != '_')
      if (byShort.get(short).exists(_.size == 1)) short else k
    }
    assert(full.size == res.size + 1 && compact.size == full.size,
      s"${full.size} full vs ${compact.size} compact fields for ${res.size} queries")
    full.foreach { case (k, f) =>
      val c = compact.get(if (k == "value") k else compactKey(k))
      assert(c.exists(v => math.abs(f - v) <= 0.001), s"$k: $f vs $c")
    }
  }
}
