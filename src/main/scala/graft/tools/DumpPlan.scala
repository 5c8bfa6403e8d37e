package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainUtils
import org.apache.spark.sql.graft.ExecutedPlans

/** Dev-only: write the physical plans a list of queries actually ran to
  * `<outDir>/<name>_<suffix>.txt` — the optimization-round evidence files
  * (plans/r16/<query>_before.txt / _after.txt). Each query's body runs
  * once under [[ExecutedPlans.capture]]; the file holds the formatted
  * final plan of every action it executed (each checkpoint, collect,
  * write …) in order, then the plan of the frame it returned, so a query
  * that checkpoints its interior shows every stage, not a LogicalRDD
  * leaf.
  * Usage: runMain graft.tools.DumpPlan <q1,q2,...> <sfDir> <outDir> <suffix>
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args(1)
    val outDir = args(2)
    val suffix = args(3)
    val spark = graft.LocalSpark.session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      graft.Registry.queries.get(name) match {
        case None => System.err.println(s"[dumpplan] $name: UNKNOWN")
        case Some(fn) =>
          try {
            spark.catalog.clearCache()
            val run = ExecutedPlans.capture(spark)(fn(spark, sfDir))
            val txt = run.plans.zipWithIndex.map { case (p, i) =>
              val sb = new StringBuilder(s"== Plan ${i + 1} of ${run.plans.size} ==\n")
              ExplainUtils.processPlan(p, (str: String) => { sb.append(str); () })
              sb.toString
            }.mkString("\n")
            Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
              txt.getBytes(StandardCharsets.UTF_8))
            println(s"[dumpplan] $name -> ${name}_$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[dumpplan] $name failed: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
