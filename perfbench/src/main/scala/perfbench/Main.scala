package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The benchmark's in-process half: sets the engine up, runs one
  * workload in a closed loop (one driver thread, one operation at a
  * time) and writes every measurement to `<out>/result.json`.
  *
  * Usage: perfbench.Main <workload> <dataDir> <outDir> <seconds> <trace 0|1> <cpus>
  *
  * Phases: set-up (repeated, median reported) -> cold pass (query
  * workloads write every result for the oracle compare) -> warm-up
  * passes until the pass wall stops falling -> timed passes for
  * `seconds`. With trace=1 the timed passes alternate between traced
  * (listener attached, bus drained after every operation) and untraced,
  * so one run yields the per-layer numbers and the tracing overhead.
  */
object Main {

  /** One operation: `build` returns the plan (DataFrame construction,
    * including any eager sub-executions), `exec` runs it. */
  final case class Op(name: String, build: () => DataFrame, exec: DataFrame => Unit)

  /** One timed operation; t0/t1/t2 are epoch ms at build start, build
    * end and exec end. */
  final case class Sample(pass: Int, opId: Long, name: String, ok: Boolean,
      t0Ms: Double, t1Ms: Double, t2Ms: Double) {
    def buildS: Double = (t1Ms - t0Ms) / 1000
    def execS: Double = (t2Ms - t1Ms) / 1000
    def latency: Double = (t2Ms - t0Ms) / 1000
  }

  /** One pass: its index, kind (cold / warmup / timed), whether it was
    * traced, and its wall (sum of operation latencies). */
  final case class Pass(index: Int, kind: String, traced: Boolean, wallS: Double)

  val SetupReps = 3
  val MaxWarmupPasses = 4
  val MaxWarmupSeconds = 6.0
  val WarmupTolerance = 0.03
  val MinTimedPasses = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, seconds, trace, cpus) = args
    new Harness(Workloads.byName(workload), dataDir, outDir, seconds.toDouble, trace == "1",
      cpus.toInt).run()
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

final class Harness(w: Workload, dataDir: String, outDir: String, seconds: Double,
    traced: Boolean, cpus: Int) {
  import Main._

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val samples = mutable.ArrayBuffer[Sample]()
  private val passes = mutable.ArrayBuffer[Pass]()
  private val failures = mutable.ArrayBuffer[String]()
  private var nextOp = 0L
  private var spark: SparkSession = _
  private var inputs: Map[String, DataFrame] = Map.empty
  private val tracer = new Tracer
  private var attached = false

  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def run(): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = (0 until SetupReps).map { i =>
      if (spark != null) spark.stop()
      val t0 = nowMs
      val s = setupOnce()
      // the first set-up also pays process start: JVM, class loading
      val total = (nowMs - t0 + (if (i == 0) t0 - jvmStartMs else 0.0)) / 1000
      log(f"setup ${i + 1}: $total%.2fs $s")
      s + ("total_s" -> total)
    }
    attach(traced)

    // the cold pass writes every result, as a one-shot batch job would;
    // the query workloads' writes feed the oracle compare
    runPass("cold", check = !w.catalogue)
    // warm up until the pass wall stops falling by more than the tolerance
    var warm = 0
    var best = Double.MaxValue
    var converged = false
    val warmStart = nowMs
    while (!converged && warm < MaxWarmupPasses &&
        (warm == 0 || nowMs - warmStart < MaxWarmupSeconds * 1000)) {
      val wall = runPass("warmup")
      warm += 1
      converged = wall > best * (1 - WarmupTolerance)
      best = math.min(best, wall)
    }
    // a traced run alternates traced / untraced passes, traced first,
    // and needs at least two of each
    val timedStart = nowMs
    val minTimed = if (traced) math.max(4, MinTimedPasses) else MinTimedPasses
    var timed = 0
    while (timed < minTimed || nowMs - timedStart < seconds * 1000) {
      attach(traced && timed % 2 == 0)
      runPass("timed")
      timed += 1
    }
    attach(false)
    val measuredS = (nowMs - timedStart) / 1000
    // the suite warehouses cost ~15s to build, too much to repeat in every
    // set-up; the traced run times one build so the layer stays visible
    val warehouses: Seq[(String, Double)] =
      if (traced && w.warehouseProbe) {
        val t0 = nowMs
        val parts = graft.Warehouses.prebuild(spark, dataDir)
        ("prebuild" -> (nowMs - t0) / 1000) +: parts
      } else Nil

    if (!w.catalogue) writeOracleSql()
    val result = Results.build(w, cpus, seconds, measuredS, setups, samples.toSeq,
      passes.toSeq, warm, converged, failures.toSeq, peakRssMb, catalogueItems, warehouses,
      if (traced) Some(tracer) else None, spark.version)
    if (traced) Files.writeString(Paths.get(outDir, "trace_spans.json"),
      Results.spans(samples.toSeq, tracer))
    Files.writeString(Paths.get(outDir, "result.json"), result)
    spark.stop()
  }

  private def attach(on: Boolean): Unit = if (on != attached) {
    if (on) spark.sparkContext.addSparkListener(tracer)
    else spark.sparkContext.removeSparkListener(tracer)
    attached = on
  }

  /** One set-up: session and a read of every input the workload uses. */
  private def setupOnce(): Map[String, Double] = {
    val t0 = nowMs
    spark = graft.GraftSession("perfbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val tSession = nowMs
    inputs = w.warmInputs(spark, dataDir)
    Map("GraftSession.start_s" -> (tSession - t0) / 1000, "inputs_warm_s" -> (nowMs - tSession) / 1000)
  }

  private def runPass(kind: String, check: Boolean = false): Double = {
    val index = passes.length
    val sc = spark.sparkContext
    var wall = 0.0
    for (op <- w.ops(spark, dataDir, outDir, inputs)) {
      nextOp += 1
      // each operation starts cache-clean, as graft.Bench measures
      spark.sharedState.cacheManager.clearCache()
      sc.setLocalProperty(Tracer.OpKey, nextOp.toString)
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val t0 = nowMs
      var t1 = Double.NaN
      var ok = true
      try {
        val df = op.build()
        t1 = nowMs
        sc.setLocalProperty(Tracer.PhaseKey, "exec")
        // the cold pass of a query workload materializes every column to
        // parquet, as graft.Verify writes it, for the oracle compare
        if (check) df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/results/${op.name}")
        else op.exec(df)
      } catch { case e: Throwable =>
        ok = false
        if (t1.isNaN) t1 = nowMs
        failures += s"${op.name} (pass $index): $e".take(400)
        log(s"${op.name} FAILED: $e")
      }
      val t2 = nowMs
      sc.setLocalProperty(Tracer.OpKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      if (attached) org.apache.spark.PerfbenchBus.drain(sc)
      val s = Sample(index, nextOp, op.name, ok, t0, t1, t2)
      samples += s
      wall += s.latency
      log(f"  ${op.name} build=${s.buildS}%.3f exec=${s.execS}%.3f ok=$ok")
    }
    passes += Pass(index, kind, attached, wall)
    log(f"pass $index $kind traced=$attached wall=$wall%.3fs")
    wall
  }

  private def writeOracleSql(): Unit = {
    val json = graft.SparkEntry.oracleSql.filter { case (k, _) => w.queries.contains(k) }
      .toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Results.q(k)}: ${Results.q(v)}" }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), json)
  }

  /** Items the catalogue generator planted (0 for the query workloads). */
  private def catalogueItems: Int = {
    val p = Paths.get(dataDir, "n_items")
    if (Files.exists(p)) Files.readString(p).trim.toInt else 0
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  private def peakRssMb: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }
}
