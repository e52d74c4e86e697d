package graft

/** Diagnostic repeat-timer: alternates the named queries for N rounds
  * at sf0.1 so plan-level regressions separate from host-load noise
  * (min-of-two in Bench is not enough when the host swings by seconds).
  * `sbt "runMain graft.MicroBench [rounds] [ALL | query ...]"` — defaults to
  * the entity_match/match_certitude twin pair from the r04 anomaly. */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // first arg may be a round count or already a query name
    val rounds = args.headOption.flatMap(_.toIntOption).getOrElse(4)
    val rest = if (args.headOption.exists(_.toIntOption.isDefined)) args.drop(1) else args
    // "ALL" = one alternating pass over every registered query — the
    // shape used to gauge the suite-sized codegen cache's metaspace
    // footprint (printed after each round); it expands in place, so
    // `ALL extra` times every query plus `extra`
    val names = (if (rest.nonEmpty) rest.toSeq else Seq("entity_match", "match_certitude"))
      .flatMap(n => if (n == "ALL") SparkEntry.queries.keys.toSeq.sorted else Seq(n))
    names.find(n => !SparkEntry.queries.contains(n)).foreach { n =>
      System.err.println(s"unknown query '$n'; usage: " +
        "runMain graft.MicroBench [rounds] [ALL | query ...]")
      sys.exit(2)
    }
    // GRAFT_CONF="k=v;k=v" passes extra SparkConf pairs for config A/B
    // experiments (core settings like spark.shuffle.compress must be set
    // before context creation, so they go in as session overrides).
    val extra = sys.env.getOrElse("GRAFT_CONF", "").split(";").toSeq
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }.toMap
    val spark = GraftSession("graft-microbench", conf = extra)
    // job counter: a multi-job operator pays Spark's ~0.3-0.5s/job
    // local floor regardless of data volume — the diagnostic that
    // separates "slow plan" from "many tiny jobs" on the small-sf rows
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      })
    def t(name: String): (Double, Int) = {
      spark.sharedState.cacheManager.clearCache()
      val j0 = jobs.get()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, jobs.get() - j0)
    }
    def metaspaceMb(): Double = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("Metaspace"))
        .map(_.getUsage.getUsed).sum / 1048576.0
    }
    println(f"metaspace before: ${metaspaceMb()}%.1f MB")
    for (i <- 1 to rounds) {
      val line = names.map { n =>
        val (sec, nj) = t(n); f"$n=$sec%.2f/${nj}j"
      }.mkString(" ")
      println(s"round $i: $line")
      println(f"metaspace after round $i: ${metaspaceMb()}%.1f MB")
    }
    spark.stop()
  }
}
