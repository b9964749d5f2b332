package graftbench

import graftbench.Main.Sample

/** Builds the traced run's spans and per-layer metrics. Every metric is
  * per pass: summed over the measured queries and divided by the number
  * of client passes, so the three workloads read on one scale.
  *
  * Span tree of one query:
  * {{{
  * query                      fn(spark, dir) call .. end of the sink
  *  ├─ construct              inside fn; children: jobs it started
  *  └─ sink                   the noop write
  *      ├─ catalyst.analysis / .optimization / .planning
  *      └─ exec               end of planning .. end; children: its jobs
  * }}}
  * Self times partition the query's latency: `construct` excludes its
  * jobs, which count as `exec`; `sink_other` is the sink time no child
  * covers. */
object Layers {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  def report(samples: Seq[Sample], rec: Recorder, clientPasses: Int, codegen: Map[String, Double],
             cacheAfter: Seq[(Int, Double)], probes: Seq[Map[String, Any]]): Map[String, Any] = {
    val self = scala.collection.mutable.LinkedHashMap(
      "construct" -> 0.0, "catalyst.analysis" -> 0.0, "catalyst.optimization" -> 0.0,
      "catalyst.planning" -> 0.0, "exec" -> 0.0, "sink_other" -> 0.0)
    var latency, construct = 0.0
    var constructJobs, jobs, stages, singleTask, tasks = 0L
    var cpuNs, shuffleRead, shuffleWrite, spill, gcMs = 0L
    val origin = samples.headOption.map(s => epochMs(s.start)).getOrElse(0.0)
    def rel(t: Double) = math.round((t - origin) * 1000) / 1000.0
    def span(name: String, a: Double, b: Double, children: Seq[Map[String, Any]] = Nil) =
      Map("name" -> name, "start_ms" -> rel(a), "end_ms" -> rel(b), "children" -> children)

    val spans = samples.map { s =>
      val (c0, c1, c2) = (epochMs(s.start), epochMs(s.built), epochMs(s.end))
      val jc = rec.jobsOf(s"gb-${s.id}-c")
      val js = rec.jobsOf(s"gb-${s.id}-s")
      def jobIv(j: JobRec) = (j.start.toDouble, if (j.end < 0) c2 else j.end.toDouble)
      val jobsC = Iv.clip(jc.map(jobIv), c0, c1)
      val ph = rec.phasesOf(s"gb-${s.id}-s")
      def phase(n: String) = Iv.clip(ph.flatMap(_.get(n)).map { case (a, b) => (a.toDouble, b.toDouble) }, c1, c2)
      val a = phase("analysis")
      val o = Iv.minus(phase("optimization"), a)
      val p = Iv.minus(phase("planning"), a ++ o)
      val planned = math.min(c2, (ph.flatMap(_.get("planning")).map(_._2.toDouble) :+ c1).max)
      val e = Iv.minus(Seq((planned, c2)), a ++ o ++ p)
      val (la, lo, lp, le, lc) = (Iv.length(a), Iv.length(o), Iv.length(p), Iv.length(e), Iv.length(jobsC))
      self("construct") += (c1 - c0) - lc
      self("catalyst.analysis") += la
      self("catalyst.optimization") += lo
      self("catalyst.planning") += lp
      self("exec") += le + lc
      self("sink_other") += (c2 - c1) - la - lo - lp - le
      latency += c2 - c0
      construct += c1 - c0
      constructJobs += jc.size
      jobs += jc.size + js.size
      rec.stagesOf(jc ++ js).foreach { st =>
        stages += 1
        if (st.numTasks == 1) singleTask += 1
        tasks += st.tasks; cpuNs += st.cpuNs; shuffleRead += st.shuffleRead
        shuffleWrite += st.shuffleWrite; spill += st.spill; gcMs += st.gcMs
      }
      def jobSpans(xs: Seq[JobRec]) = xs.map(j => span(s"job ${j.id}", j.start.toDouble, jobIv(j)._2))
      val phaseSpans = Seq("analysis" -> a, "optimization" -> o, "planning" -> p).collect {
        case (n, iv) if iv.nonEmpty => span(s"catalyst.$n", iv.head._1, iv.last._2)
      }
      Map("query" -> s.query, "client" -> s.client, "pass" -> s.pass, "error" -> s.error,
        "span" -> span("query", c0, c2, Seq(
          span("construct", c0, c1, jobSpans(jc)),
          span("sink", c1, c2, phaseSpans :+ span("exec", planned, c2, jobSpans(js))))))
    }

    val n = math.max(1, clientPasses).toDouble
    val mb = 1048576.0
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
      "tables.load_ms" -> Main.Stats.median(probes.map(_("ms").asInstanceOf[Double])),
      "tables.jobs" -> Main.Stats.median(probes.map(_("jobs").asInstanceOf[Int].toDouble)),
      "construct.ms" -> construct / n,
      "construct.jobs" -> constructJobs / n,
      "construct.share" -> (if (latency > 0) construct / latency else 0.0),
      "catalyst.analysis_ms" -> self("catalyst.analysis") / n,
      "catalyst.optimization_ms" -> self("catalyst.optimization") / n,
      "catalyst.planning_ms" -> self("catalyst.planning") / n,
      "exec.ms" -> self("exec") / n,
      "exec.jobs" -> jobs / n,
      "exec.stages" -> stages / n,
      "exec.single_task_stages" -> singleTask / n,
      "exec.tasks" -> tasks / n,
      "exec.task_cpu_s" -> cpuNs / 1e9 / n,
      "exec.shuffle_read_mb" -> shuffleRead / mb / n,
      "exec.shuffle_write_mb" -> shuffleWrite / mb / n,
      "exec.spill_mb" -> spill / mb / n,
      "exec.gc_s" -> gcMs / 1e3 / n,
      "codegen.compilations" -> codegen("compilations") / n,
      "codegen.compile_ms" -> codegen("compile_ms") / n,
      "codegen.disabled_stages" -> codegen("disabled_stages") / n,
      "codegen.large_task_binaries" -> codegen("large_task_binaries") / n,
      "cache.rdds_after_query" -> cacheAfter.map(_._1).sum / n,
      "cache.mb_after_query" -> cacheAfter.map(_._2).sum / n)
    Map("per_pass" -> clientPasses, "metrics" -> metrics,
      "self_ms" -> self.map { case (k, v) => k -> v / n }, "latency_ms" -> latency / n,
      "tables_probes" -> probes, "spans" -> spans)
  }
}
