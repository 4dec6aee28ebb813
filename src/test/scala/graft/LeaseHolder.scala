package graft

import graft.pipeline.Watermark

/** A second driver in its own JVM: takes the watermark's lease on
  * `args(0)`, prints `held`, and keeps the lease until stdin yields a byte
  * or closes, or the process dies. `PipelineSpec` forks it to exercise the
  * two-process path of [[Watermark.lease]] (`tryLock` returning null).
  */
object LeaseHolder {
  def main(args: Array[String]): Unit =
    new Watermark(args(0)).lease {
      println("held")
      Console.flush()
      System.in.read()
    }
}
