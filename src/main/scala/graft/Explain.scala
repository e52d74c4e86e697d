package graft

import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graftbridge.Bridge

/** Dev tool: print the formatted physical plan of one or all queries.
  * Usage: runMain graft.Explain [queryName[,queryName...]] [sfDir]
  *
  * EAGER operators (iterative loops, cache-materializing counts,
  * localCheckpoints) execute most of their plan during the query
  * BUILD, leaving a bare `Scan ExistingRDD` as the terminal plan — so
  * every sub-execution the build ran is captured live
  * (`Bridge.captureEager`, as PlanAudit does) and printed after the
  * terminal plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession("graft-explain")
    val targets = name match {
      case Some(n) => n.split(",").toSeq.map(q => q -> SparkEntry.queries(q))
      case None => SparkEntry.queries.toSeq.sortBy(_._1)
    }
    targets.foreach { case (n, fn) =>
      println(s"\n========== $n ==========")
      val (df, subs) = Bridge.captureEager(spark)(fn(spark, sfDir))
      df.explain("formatted")
      subs.zipWithIndex.foreach { case (qe, i) =>
        println(s"\n---------- $n eager sub-execution ${i + 1} ----------")
        println(qe.explainString(ExplainMode.fromString("formatted")))
      }
    }
    spark.stop()
  }
}
