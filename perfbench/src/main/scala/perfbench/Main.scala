package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.Engine

/** Entry point of one benchmark run:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> [--scale <x>] [--self-test 1]`.
  *
  * Prints a detail record and, as its last line, the result object
  * `{"correct", "attempted", "failed", "metrics"}`: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`.
  */
object Main {

  final case class Metric(name: String, unit: String)

  /** Spark cores (`local[k]`, k = min(Cores, nproc)). */
  val Cores = 2
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s"), Metric("wall_s", "s"), Metric("op_p50_s", "s"),
    Metric("op_tail_s", "s"), Metric("ok_frac", "frac"), Metric("peak_rss_mb", "MB"),
    Metric("write_amp", "x"), Metric("space_amp", "x"), Metric("scan_s", "s"))

  val Layers: Seq[String] = Seq("sources", "plans", "incremental", "curation", "queries")
  /** Incremental operators, measured through the corpus queries that run them. */
  val IncrementalOps: Seq[String] = Seq("merge", "snapshot_diff")
  /** Curation operators, each measured through the corpus query that runs it. */
  val Stages: Seq[String] = Seq("validate", "dedup", "decontaminate", "quality")

  val PerLayer: Seq[Metric] =
    Seq(Metric("engine.session_s", "s")) ++
      Seq(Metric("sources.read_s", "s"), Metric("sources.read_rows", "count"),
        Metric("sources.write_s", "s"), Metric("sources.write_files", "count"),
        Metric("sources.write_bytes", "B"), Metric("sources.driver_s", "s")) ++
      Seq(Metric("plans.runner.jobs", "count"), Metric("plans.runner.queue_wait_s", "s"),
        Metric("plans.runner.overhead_s", "s"), Metric("plans.runner.failed", "count"),
        Metric("plans.runner.suspended", "count"), Metric("plans.metastore_s", "s"),
        Metric("plans.recon_s", "s")) ++
      IncrementalOps.flatMap(o => Seq(
        Metric(s"incremental.${o}_s", "s"), Metric(s"incremental.$o.task_cpu_s", "s"),
        Metric(s"incremental.$o.shuffle_bytes", "B"))) ++
      Stages.map(st => Metric(s"curation.${st}_s", "s")) ++
      Stages.map(st => Metric(s"curation.$st.task_cpu_s", "s")) ++
      Stages.map(st => Metric(s"curation.$st.shuffle_bytes", "B")) ++
      Seq(Metric("queries.relational_s", "s"), Metric("queries.text_s", "s"),
        Metric("queries.retrieval_s", "s"), Metric("queries.spark_jobs_per_query", "count")) ++
      Seq(Metric("spark.jobs", "count"), Metric("spark.stages", "count"), Metric("spark.tasks", "count"),
        Metric("spark.task_cpu_s", "s"), Metric("spark.gc_s", "s"),
        Metric("spark.shuffle_write_bytes", "B"), Metric("spark.shuffle_read_bytes", "B"),
        Metric("spark.spill_bytes", "B"), Metric("spark.input_bytes", "B"),
        Metric("spark.output_bytes", "B"), Metric("spark.core_busy_frac", "frac"),
        Metric("spark.driver_gap_s", "s")) ++
      Layers.flatMap(l => Seq(
        Metric(s"spark.$l.jobs", "count"), Metric(s"spark.$l.task_cpu_s", "s"),
        Metric(s"spark.$l.core_busy_frac", "frac"), Metric(s"spark.$l.driver_gap_s", "s"))) ++
      Layers.map(l => Metric(s"self.${l}_s", "s")) ++
      Seq(Metric("trace_overhead_frac", "frac"))

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val workload = a.getOrElse("workload", sys.error("--workload required"))
    val seed = a.getOrElse("seed", "1").toLong
    val seconds = a.getOrElse("seconds", "10").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val work = a.getOrElse("work", sys.error("--work required"))
    val scale = a.getOrElse("scale", "1.0").toDouble
    val selfTest = a.getOrElse("self-test", "0") == "1"
    val reps = if (selfTest) 1 else SetupReps
    val nproc = Runtime.getRuntime.availableProcessors
    val k = math.min(Cores, nproc)

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Host.loadavg
    val spark = Engine.session("perfbench", s"local[$k]", k)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val listener = if (trace) Some(Trace.install(spark.sparkContext)) else None

    val ctx = Ctx(spark, seed, scale, k, seconds, work)
    val w: Workload = workload match {
      case "migrate"    => new Migrate(ctx)
      case "lake_query" => new LakeQuery(ctx)
      case other        => sys.error(s"unknown workload '$other'")
    }

    val out = new StringBuilder
    try {
      // ---- set-up, repeated; the last repetition's state is kept
      val setupTimes = (0 until reps).map { r =>
        val t0 = System.nanoTime()
        w.setup(s"$work/setup$r", r)
        val s = (System.nanoTime() - t0) / 1e9
        if (r > 0) LakeFiles.deleteTree(s"$work/setup${r - 1}")
        s
      }
      val t0 = System.nanoTime()
      w.warmup()
      val warmupS = (System.nanoTime() - t0) / 1e9
      val setupS = sessionS + Stats.median(setupTimes)

      // ---- timed phase
      def pass(p: Int): Double = {
        val t = System.nanoTime()
        w.timed(p)
        (System.nanoTime() - t) / 1e9
      }
      // with --trace 1 the first pass is traced (as warm as an untraced
      // run's), and a second, untraced pass is the overhead baseline
      listener.foreach { l =>
        org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
        l.clear()
        Trace.enabled = true
      }
      val startMs = Trace.nowMs
      val wall0 = pass(0)
      val endMs = Trace.nowMs
      Trace.enabled = false
      val traced = listener.map { l =>
        org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
        val td = TraceData(Trace.allSpans, l.jobs.asScala.toSeq, l.tasks.asScala.toSeq, startMs, endMs, k)
        val wall1 = pass(1)
        (wall0 / wall1 - 1.0, td)
      }

      // ---- final scans: timed digests of the lake tables, three times
      val tables = w.finalTables
      val scans = (0 until 3).map { _ =>
        System.gc()
        val t = System.nanoTime()
        val d = Digest.ofAll(tables.map(tb => tb.name -> spark.read.parquet(tb.path)))
        ((System.nanoTime() - t) / 1e9, d)
      }
      val digests = scans.last._2
      val mismatches = w.check(digests)
      val liveBytes = tables.map(tb => LakeFiles.bytes(tb.path)).sum
      val fresh = tables.map { tb =>
        val dst = s"$work/fresh/${tb.name}"
        val df = spark.read.parquet(tb.path)
        val wr = df.write.mode("overwrite")
        (if (tb.partitionBy.nonEmpty) wr.partitionBy(tb.partitionBy: _*) else wr).parquet(dst)
        tb.name -> LakeFiles.bytes(dst)
      }.toMap
      val freshBytes = fresh.values.sum
      w.inputFromFresh(fresh).foreach(w.inputBytes = _)

      // ---- self-test: a damaged output must be rejected
      val corruptRejected = if (selfTest) {
        w.corrupt()
        val d = Digest.ofAll(tables.map(tb => tb.name -> spark.read.parquet(tb.path)))
        val before = w.ops.map(_.ok)
        val rejected = w.check(d).nonEmpty
        w.ops.zip(before).foreach { case (o, ok) => o.ok = ok }
        Some(rejected)
      } else None

      val attempted = w.ops.size
      val failed = w.ops.count(!_.ok)
      val secs = w.ops.filter(_.pass == 0).map(_.seconds).toSeq
      val (tailV, tailPct) = Stats.tail(secs)
      val e2e: Map[String, Double] = Map(
        "setup_s" -> setupS,
        "wall_s" -> wall0,
        "op_p50_s" -> Stats.median(secs),
        "op_tail_s" -> tailV,
        "ok_frac" -> (if (attempted == 0) 0.0 else (attempted - failed).toDouble / attempted),
        "peak_rss_mb" -> Host.peakRssMb,
        "write_amp" -> (if (w.inputBytes > 0) w.writtenBytes.toDouble / w.inputBytes else Double.NaN),
        "space_amp" -> (if (freshBytes > 0) liveBytes.toDouble / freshBytes else Double.NaN),
        "scan_s" -> Stats.median(scans.map(_._1)))

      val layer: Map[String, Double] = traced match {
        case Some((overhead, td)) =>
          val all = sparkMetrics(td) ++ w.layerMetrics(td, 0) ++ Map(
            "engine.session_s" -> sessionS, "trace_overhead_frac" -> overhead)
          dumpSpans(s"$work/../trace-$workload-$seed.jsonl", td)
          PerLayer.map(m => m.name -> all.getOrElse(m.name, 0.0)).toMap
        case None => Map.empty
      }

      val metrics = if (trace) PerLayer.map(m => m.name -> (layer(m.name), m.unit))
      else EndToEnd.map(m => m.name -> (e2e(m.name), m.unit))
      val correct = failed == 0 && mismatches.isEmpty && metrics.forall(!_._2._1.isNaN)

      val detail = Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString, "scale" -> Json.num(scale),
        "trace" -> (if (trace) "1" else "0"), "nproc" -> nproc.toString, "k" -> k.toString,
        "loadavg_start" -> Json.str(load0), "loadavg_end" -> Json.str(Host.loadavg),
        "cpu_user_sys_s" -> Json.num(Host.cpuSeconds),
        "session_s" -> Json.num(sessionS),
        "setup_reps_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
        "warmup_s" -> Json.num(warmupS),
        "ops" -> secs.size.toString, "op_tail_pct" -> Json.num(tailPct),
        "op_seconds" -> Json.obj(w.ops.toSeq.map(o => o.key -> Json.num(o.seconds))),
        "scan_reps_s" -> scans.map(s => Json.num(s._1)).mkString("[", ",", "]"),
        "digests" -> Json.obj(digests.toSeq.sorted.map { case (n, d) => n -> Json.str(d) }),
        "mismatches" -> mismatches.map(Json.str).mkString("[", ",", "]"),
        "failed_ops" -> w.ops.filter(!_.ok).map(o => Json.str(o.key)).distinct.mkString("[", ",", "]"),
        "end_to_end" -> Json.obj(EndToEnd.map(m => m.name -> Json.num(e2e(m.name))))) ++
        corruptRejected.map(r => "corrupt_rejected" -> r.toString) ++ w.detail
      out ++= "DETAIL " + Json.obj(detail) + "\n"
      out ++= Json.obj(Seq(
        "correct" -> correct.toString, "attempted" -> attempted.toString, "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (n, (v, u)) =>
          n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        })))
    } finally {
      spark.stop()
    }
    println(out.toString)
    System.out.flush()
    sys.exit(0)
  }

  /** Workload-wide Spark counters of the traced pass, and the same per layer. */
  private def sparkMetrics(td: TraceData): Map[String, Double] = {
    val wallMs = td.endMs - td.startMs
    val tasks = td.tasks
    val busyMs = tasks.map(t => (t.finishMs - t.launchMs).toDouble).sum
    val taskIv = td.taskIntervals(tasks)
    val whole = Map(
      "spark.jobs" -> td.jobs.size.toDouble,
      "spark.stages" -> td.jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> tasks.map(_.inputBytes).sum.toDouble,
      "spark.output_bytes" -> tasks.map(_.outputBytes).sum.toDouble,
      "spark.core_busy_frac" -> busyMs / (wallMs * td.k),
      "spark.driver_gap_s" -> (wallMs - Trace.unionLength(Trace.clip(taskIv, td.startMs, td.endMs))) / 1e3)
    val self = Trace.selfTimesMs(td.spans)
    val perLayer = Layers.flatMap { l =>
      val spans = td.spans.filter(_.layer == l)
      val jobs = td.jobsOf(_.layer == l)
      val lt = td.tasksOf(jobs)
      val spanMs = Trace.unionLength(spans.map(s => (s.startMs, s.endMs)))
      Seq(
        s"spark.$l.jobs" -> jobs.size.toDouble,
        s"spark.$l.task_cpu_s" -> lt.map(_.cpuNs).sum / 1e9,
        s"spark.$l.core_busy_frac" ->
          (if (spanMs > 0) lt.map(t => (t.finishMs - t.launchMs).toDouble).sum / (spanMs * td.k) else 0.0),
        s"spark.$l.driver_gap_s" -> td.uncoveredS(spans, taskIv),
        s"self.${l}_s" -> spans.map(s => self.getOrElse(s.id, 0.0)).sum / 1e3)
    }
    whole ++ perLayer
  }

  private def dumpSpans(path: String, td: TraceData): Unit = {
    val lines = td.spans.map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "parent" -> s.parent.toString, "op" -> s.op.toString,
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
    } ++ td.jobs.map { j =>
      Json.obj(Seq(
        "job" -> j.id.toString, "span" -> j.span.toString, "start_ms" -> j.startMs.toString,
        "end_ms" -> j.endMs.toString, "call_site" -> Json.str(j.callSite), "stages" -> j.stages.toString))
    }
    LakeFiles.write(path, lines.mkString("\n") + "\n")
  }
}
