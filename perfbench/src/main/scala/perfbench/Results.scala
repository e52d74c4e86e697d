package perfbench

import Main.{Pass, Sample, median, quantile}

/** Turns the raw samples of one run into the end-to-end and per-layer
  * metrics (see perfbench/README.md for their definitions). */
object Results {

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  private def nums(m: Seq[(String, Double)]): String = obj(m.map { case (k, v) => k -> num(v) })

  /** Length of the part of [lo, hi] covered by the union of `iv`. */
  private def covered(lo: Double, hi: Double, iv: Seq[(Double, Double)]): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  def build(w: Workload, cpus: Int, seconds: Double, measuredS: Double,
      setups: Seq[Map[String, Double]], samples: Seq[Sample],
      passes: Seq[Pass], warmup: Int, converged: Boolean,
      failures: Seq[String], peakRssMb: Double, catalogueItems: Int,
      warehouses: Seq[(String, Double)], tracer: Option[Tracer],
      sparkVersion: String): String = {
    val untraced = passes.filter(p => p.kind == "timed" && !p.traced)
    val untracedIdx = untraced.map(_.index).toSet
    val measured = samples.filter(s => untracedIdx(s.pass) && s.ok)
    val lat = measured.map(_.latency)
    val opsPerPass = samples.count(_.pass == 0)
    val wallS = median(untraced.map(_.wallS))
    val nItems = if (w.catalogue) catalogueItems.toDouble else opsPerPass.toDouble
    val p90 = quantile(lat, 0.9)
    val endToEnd = Seq(
      "setup_s" -> median(setups.map(_("total_s"))),
      "cold_wall_s" -> passes.find(_.kind == "cold").map(_.wallS).getOrElse(0.0),
      "wall_s" -> wallS,
      "query_p50_s" -> quantile(lat, 0.5),
      "query_p90_s" -> p90,
      "items_per_s" -> (if (wallS > 0) nItems / wallS else 0.0),
      "peak_rss_mb" -> peakRssMb)
    val layers = tracer.map(t => perLayer(cpus, setups, warehouses, samples, passes, warmup, t))
      .getOrElse(Nil)
    val attempted = samples.length
    val failed = samples.count(!_.ok)
    obj(Seq(
      "workload" -> q(w.name),
      "cpus" -> cpus.toString,
      "seconds" -> num(seconds),
      "measured_s" -> num(measuredS),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "failures" -> failures.map(q).mkString("[", ", ", "]"),
      "latency_samples" -> lat.length.toString,
      "samples_beyond_p90" -> lat.count(_ > p90).toString,
      "items" -> num(nItems),
      "warmup_passes" -> warmup.toString,
      "warmup_converged" -> converged.toString,
      "setups" -> setups.map(s => nums(s.toSeq.sortBy(_._1))).mkString("[", ", ", "]"),
      "passes" -> passes.map { p =>
        obj(Seq("pass" -> p.index.toString, "kind" -> q(p.kind), "traced" -> p.traced.toString,
          "wall_s" -> num(p.wallS)))
      }.mkString("[", ", ", "]"),
      "per_op_median_s" -> nums(measured.groupBy(_.name).toSeq.sortBy(_._1)
        .map { case (n, ss) => n -> median(ss.map(_.latency)) }),
      "java_version" -> q(System.getProperty("java.version")),
      "spark_version" -> q(sparkVersion),
      "end_to_end" -> nums(endToEnd),
      "per_layer" -> nums(layers)))
  }

  private def perLayer(cpus: Int, setups: Seq[Map[String, Double]],
      warehouses: Seq[(String, Double)], samples: Seq[Sample],
      passes: Seq[Pass], warmup: Int, t: Tracer): Seq[(String, Double)] = t.snapshot { t =>
    val wh = warehouses.toMap
    val setupLayers = ("GraftSession.start_s" -> median(setups.map(_("GraftSession.start_s")))) +:
      Seq("prebuild", "graph", "term_census", "minhash_pairs", "best_match")
        .map(n => s"Warehouses.${n}_s" -> wh.getOrElse(n, 0.0))
    val tracedPasses = passes.filter(p => p.kind == "timed" && p.traced)
    val untracedPasses = passes.filter(p => p.kind == "timed" && !p.traced)
    val jobsByOp = t.jobs.values.groupBy(_.op)
    val stagesByJob = t.stages.groupBy(_.jobId)

    def perPass(pass: Int, wall: Double): Map[String, Double] = {
      val ss = samples.filter(_.pass == pass)
      var m = Map.empty[String, Double].withDefaultValue(0.0)
      def add(k: String, v: Double): Unit = m = m.updated(k, m(k) + v)
      def mx(k: String, v: Double): Unit = m = m.updated(k, math.max(m(k), v))
      var allRunMs = 0.0
      ss.foreach { s =>
        val jobs = jobsByOp.getOrElse(s.opId, Nil).toSeq
        val schema = jobs.filter(Tracer.isSchemaJob)
        val buildJobs = jobs.filter(j => j.phase == "build" && !Tracer.isSchemaJob(j))
        val execJobs = jobs.filter(j => j.phase == "exec" && !Tracer.isSchemaJob(j))
        def iv(js: Seq[JobRec]) = js.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble))
        val sums = t.sums.collect { case ((op, ph), v) if op == s.opId => ph -> v }
        add("sources.schema_jobs", schema.length)
        add("sources.schema_job_s", schema.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1000.0).sum)
        add("operators.build_s", s.buildS)
        add("operators.build_jobs", buildJobs.length)
        add("operators.build_self_s", (s.t1Ms - s.t0Ms - covered(s.t0Ms, s.t1Ms, iv(jobs))) / 1000)
        add("exec.wall_s", s.execS)
        add("exec.driver_self_s", (s.t2Ms - s.t1Ms - covered(s.t1Ms, s.t2Ms, iv(jobs))) / 1000)
        add("exec.jobs", execJobs.length)
        add("exec.stages", execJobs.map(j => stagesByJob.getOrElse(j.jobId, Nil).length).sum)
        sums.foreach { case (ph, v) =>
          allRunMs += v.runMs
          add("sources.input_mb", v.input / 1e6)
          add("sources.output_mb", v.output / 1e6)
          add("exec.shuffle_write_mb", v.shuffleWrite / 1e6)
          add("exec.shuffle_read_mb", v.shuffleRead / 1e6)
          add("exec.spill_mb", v.spill / 1e6)
          add("exec.gc_s", v.gcMs / 1000)
          if (ph == "build") add("operators.build_task_s", v.runMs / 1000)
          if (ph == "exec") {
            add("exec.tasks", v.tasks)
            add("exec.task_run_s", v.runMs / 1000)
            add("exec.task_cpu_s", v.cpuNs / 1e9)
            add("exec.task_deser_s", v.deserMs / 1000)
          }
          if (s.latency > 0) mx("exec.longest_task_share", v.maxTaskMs / 1000 / s.latency)
        }
        mx("exec.straggler_ratio", t.straggler.getOrElse(s.opId, 1.0))
        val sink = Map("nametable" -> "Sinks.writeTsv_s", "enrichment" -> "Sinks.writeEnrichmentDoc_s",
          "rewrite" -> "Sinks.writeText_s")
        sink.get(s.name).foreach(k => add(k, s.execS))
      }
      add("exec.core_occupancy", allRunMs / 1000 / (wall * cpus))
      add("exec.idle_core_s", wall * cpus - allRunMs / 1000)
      m
    }

    val passMaps = tracedPasses.map(p => perPass(p.index, p.wallS))
    val keys = Seq("sources.schema_jobs", "sources.schema_job_s", "sources.input_mb",
      "sources.output_mb", "Sinks.writeTsv_s", "Sinks.writeEnrichmentDoc_s", "Sinks.writeText_s",
      "operators.build_s", "operators.build_jobs", "operators.build_task_s",
      "operators.build_self_s", "exec.wall_s", "exec.driver_self_s", "exec.jobs", "exec.stages",
      "exec.tasks", "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.task_deser_s",
      "exec.core_occupancy", "exec.idle_core_s", "exec.shuffle_write_mb", "exec.shuffle_read_mb",
      "exec.spill_mb", "exec.straggler_ratio", "exec.longest_task_share")
    val passLayers = keys.map(k => k -> median(passMaps.map(_(k))))

    // tracing overhead and per-operation reconciliation against the
    // untraced passes of the same run
    def medLat(ps: Seq[Pass]) = {
      val idx = ps.map(_.index).toSet
      samples.filter(s => idx(s.pass) && s.ok)
        .groupBy(_.name).map { case (n, ss) => n -> median(ss.map(_.latency)) }
    }
    val tr = medLat(tracedPasses)
    val un = medLat(untracedPasses)
    val errs = tr.collect { case (n, v) if un.get(n).exists(_ > 0) => math.abs(v - un(n)) / un(n) }
    setupLayers ++ passLayers ++ Seq(
      "trace.overhead_s" -> (median(tracedPasses.map(_.wallS)) - median(untracedPasses.map(_.wallS))),
      "trace.reconcile_max_err" -> (if (errs.isEmpty) 0.0 else errs.max),
      "trace.reconcile_median_err" -> median(errs.toSeq),
      "harness.warmup_passes" -> warmup.toDouble)
  }

  /** Every span of the run: op -> build / exec, with job and stage spans
    * parented to the op that submitted them. */
  def spans(samples: Seq[Sample], t: Tracer): String = t.snapshot { t =>
    val out = new StringBuilder("[\n")
    var first = true
    def emit(s: Span): Unit = {
      if (!first) out ++= ",\n"
      first = false
      out ++= obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "name" -> q(s.name), "start_ms" -> num(s.startMs), "end_ms" -> num(s.endMs)))
    }
    samples.foreach { s =>
      val base = s.opId * 1000000L
      emit(Span(base, 0, s.opId, s"op:${s.name}:pass${s.pass}", s.t0Ms, s.t2Ms))
      emit(Span(base + 1, base, s.opId, "build", s.t0Ms, s.t1Ms))
      emit(Span(base + 2, base, s.opId, "exec", s.t1Ms, s.t2Ms))
    }
    t.jobs.values.foreach { j =>
      val id = 1L << 40 | j.jobId
      val parent = if (j.op > 0) j.op * 1000000L + (if (j.phase == "exec") 2 else 1) else 0L
      emit(Span(id, parent, j.op, s"job:${j.jobId}:${j.callSite}", j.startMs.toDouble, j.endMs.toDouble))
    }
    t.stages.foreach { st =>
      emit(Span(2L << 40 | st.stageId, 1L << 40 | st.jobId, st.op,
        s"stage:${st.stageId}:${st.tasks}tasks", st.startMs, st.endMs))
    }
    out ++= "\n]\n"
    out.toString
  }
}
