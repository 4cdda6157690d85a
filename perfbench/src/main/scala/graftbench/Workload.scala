package graftbench

import java.nio.file.Path

/** One closed-loop operation: a CLI invocation, a query, or a drain. */
final case class Op(
    name: String,
    wallS: Double,
    cpuS: Double,
    sinkRows: Long,
    failure: Option[String],
    layers: Map[String, Double],
    busy: Double = 0,
    steal: Double = 0,
    checkS: Double = 0)

/** What a workload hands back to [[Main]]: its set-up time, the timed
  * operations, the retained heap where the workload measured it itself
  * (before stopping its session) and context for the record. */
final case class Outcome(
    setupS: Double,
    ops: Seq[Op],
    heapMb: Option[Double],
    context: Map[String, Any])

/** Settings shared by every workload of one run. */
final case class RunSpec(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    work: Path,
    tables: Path) {
  /** Emptied at the start of every run: the Derby databases. */
  def scratch: Path = work.resolve("run")
  def derbyDir: Path = scratch.resolve("derby")
  /** The run's choices (windows, query order). java.util.Random's first
    * draws from nearby seeds are close, so the seed is mixed first. */
  def random: scala.util.Random =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong())
}

object Workload {
  /** Run `op` in a closed loop: the next call starts when the previous
    * one returns, until `seconds` have passed and at least `minOps`
    * calls were made. */
  def closedLoop(seconds: Double, minOps: Int)(op: Int => Op): Seq[Op] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Op]
    var i = 0
    while (i < minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val j = Machine.jiffies()
      val o = op(i)
      val f = Machine.fractions(j)
      out += o.copy(busy = f("busy"), steal = f("steal"))
      i += 1
    }
    out.result()
  }

  /** Time `f` on the calling thread: (result, wall s, process cpu s). */
  def timed[T](f: => T): (T, Double, Double) = {
    val c0 = Machine.processCpuS()
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9, Machine.processCpuS() - c0)
  }

  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}
