package graft

/** Isolated per-entry timing with the bench's method; see
  * [[Harness.probe]].
  *
  * Usage:
  *   Test/runMain graft.ProbeMain <sfDir> <samples> [--plans <dir>] q...
  */
object ProbeMain {
  def main(args: Array[String]): Unit = Harness.probe(args)
}
