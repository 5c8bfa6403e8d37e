package graft.tools

import graft.LocalSpark

/** Dev-only A/B harness for the r16 optimization round. This host shows
  * minute-scale contention drift (±40% on identical code — see
  * OPTIMIZATION_r16.md), so sequential before/after timings in separate
  * JVMs cannot resolve sub-second effects. This tool times ONE registered
  * query with an optimization toggled ON and OFF in strict alternation
  * inside one JVM: both arms sample the same contention windows, and the
  * per-arm MIN approximates the uncontended floor for each form. Each run
  * is [[LocalSpark.timed]]: the full result, at the session's width.
  *
  * Toggles are system properties `graft.opt.<flag>` read at DataFrame
  * construction time via [[OptToggle]]; they exist only while an
  * optimization is being adjudicated and are inlined away once a winner
  * is recorded: ToolBoundarySpec fails while engine code reads one.
  *
  * Usage: runMain graft.tools.QueryAb <query> <flag> [sfDir] [pairs]
  */
object OptToggle {
  /** Default TRUE (the optimized form ships); QueryAb flips it per rep. */
  def on(flag: String): Boolean =
    sys.props.getOrElse(s"graft.opt.$flag", "true").toBoolean
}

object QueryAb {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val flag = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val pairs = if (args.length > 3) args(3).toInt else 5
    val spark = LocalSpark.session()
    val fn = graft.Registry.queries(name)
    def once(on: Boolean): Double = {
      sys.props.put(s"graft.opt.$flag", on.toString)
      LocalSpark.timed(spark, fn, sfDir).seconds
    }
    once(true); once(false) // untimed warm-ups, both codegen paths paid
    val (ons, offs) = (1 to pairs).map { i =>
      val a = once(true)
      val b = once(false)
      println(f"[queryab] pair $i: on $a%.2f s  off $b%.2f s")
      (a, b)
    }.unzip
    def stats(xs: Seq[Double]) =
      f"min ${xs.min}%.2f s median ${xs.sorted.apply(xs.size / 2)}%.2f s"
    println(s"[queryab] $name flag=$flag ON  (optimized): ${stats(ons)}")
    println(s"[queryab] $name flag=$flag OFF (baseline):  ${stats(offs)}")
    spark.stop()
  }
}
