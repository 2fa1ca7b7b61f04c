package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.CacheRegistry

/** The graft benchmark: runs one closed-loop workload for a fixed time on
  * inputs generated from a seed, checks every output, and prints its
  * metrics. The last stdout line is one JSON object:
  *   {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
  * Untraced (--trace 0) it carries the end-to-end metrics; traced
  * (--trace 1) it carries the per-layer metrics, from a traced loop run
  * after an untraced one of the same length.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --root DIR
  * It runs at local[N], N the processors available to the JVM.
  * Every file it writes lives under --root.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: String, cpus: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val o = Opts(get("--workload"), get("--seed").toLong,
      get("--seconds").toDouble, get("--trace") == "1", get("--root"),
      Runtime.getRuntime.availableProcessors)
    require(Workloads.all.contains(o.workload),
      s"unknown workload ${o.workload}; one of ${Workloads.all.keys.mkString(", ")}")
    o
  }

  /** Untimed cycles at the end of set-up, on the same tree as the timed
    * ones (JIT, codegen and the first write of each output tree). */
  val WarmupCycles = 1

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it
    * (nearest-rank), or the maximum when there are fewer than 11. */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted; val n = s.size
    if (n < 11) (s.last, s"max of $n")
    else {
      val k = n - 10 // rank with 10 samples above it
      (s(k - 1), f"p${100.0 * k / n}%.0f of $n")
    }
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  final case class Loop(cycles: Seq[Double], records: Long,
      refreshes: Seq[Double], next: Int, gcs: Seq[Double])

  /** Collection time of the whole JVM, every Spark thread included, ms. */
  def jvmGcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.toArray
    .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
    .sum

  /** Closed loop for `seconds`: prepare, timed cycle, verify, write step;
    * at least w.digestCycles cycles. Per traced cycle, Spark counters and
    * rule times are accumulated into `layer`. */
  def loop(w: Workload, c: Ctx, first: Int, seconds: Double,
      probe: Option[SparkProbe], layer: mutable.Map[String, Double]): Loop = {
    val cycles = mutable.ArrayBuffer.empty[Double]
    val gcs = mutable.ArrayBuffer.empty[Double]
    val refreshes = mutable.ArrayBuffer.empty[Double]
    var records = 0L
    var i = first
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (i < w.digestCycles || System.nanoTime() < deadline) {
      w.prepare(c, i)
      c.tr.cycle = i
      val before = probe.map(p => (p.snapshot(), SparkProbe.ruleNs()))
      val wall0 = System.currentTimeMillis()
      val gc0 = jvmGcMs()
      val t0 = System.nanoTime()
      records += c.tr.span("cycle") { w.cycle(c, i) }
      cycles += (System.nanoTime() - t0) / 1e9
      gcs += (jvmGcMs() - gc0) / 1e3
      val wall1 = System.currentTimeMillis()
      before.foreach { case (s0, r0) =>
        val d = probe.get.snapshot() - s0
        val r1 = SparkProbe.ruleNs()
        def add(k: String, v: Double) = layer(k) = layer.getOrElse(k, 0.0) + v
        add("spark.analysis_ms", d.analysisMs.toDouble)
        add("spark.optimization_ms", d.optimizationMs.toDouble)
        add("spark.planning_ms", d.planningMs.toDouble)
        add("spark.rules_ms", (r1.values.sum - r0.values.sum) / 1e6)
        add("jvm.gc_s", gcs.last)
        Seq("PartitionPruning", "ResolveDataSource").foreach { r =>
          add(s"spark.rule.${r}_ms",
            (r1.getOrElse(r, 0L) - r0.getOrElse(r, 0L)) / 1e6)
        }
        add("spark.jobs", d.jobs.toDouble)
        add("spark.tasks", d.tasks.toDouble)
        add("spark.task_run_s", d.taskRunMs / 1e3)
        add("spark.task_cpu_s", d.taskCpuNs / 1e9)
        add("spark.gc_s", d.gcMs / 1e3)
        add("spark.shuffle_read_bytes", d.shuffleRead.toDouble)
        add("spark.shuffle_write_bytes", d.shuffleWrite.toDouble)
        add("spark.spill_bytes", d.spill.toDouble)
        add("spark.outside_jobs_s",
          SparkProbe.outsideJobsMs(wall0, wall1, d.jobIntervals) / 1e3)
      }
      w.verify(c, i)
      w.between(c, i).foreach(refreshes += _)
      i += 1
    }
    Loop(cycles.toSeq, records, refreshes.toSeq, i, gcs.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val code =
      try { run(parse(args), bootS); 0 }
      catch { case t: Throwable =>
        System.err.println(s"perfbench: FAILED: $t")
        t.printStackTrace()
        1
      }
    // non-daemon Spark threads must not keep a failed run alive
    Runtime.getRuntime.halt(code)
  }

  def run(o: Opts, bootS: Double): Unit = {
    val t0 = System.nanoTime()
    val spark = session(o)
    val w = Workloads.all(o.workload)()
    var c = new Ctx(spark, s"${o.root}/data", o.seed, new Tracer(false))
    val tSession = System.nanoTime()
    w.setup(c)
    val tState = System.nanoTime()
    for (i <- 0 until WarmupCycles) { w.prepare(c, i); w.cycle(c, i); w.verify(c, i) }
    // process start to the first timed cycle
    val setupS = bootS + (System.nanoTime() - t0) / 1e9

    val layer = mutable.Map.empty[String, Double]
    val plain = loop(w, c, WarmupCycles, o.seconds, None, layer)
    val (timed, traced) =
      if (!o.trace) (plain, None)
      else {
        val probe = new SparkProbe(spark)
        c = new Ctx(spark, c.dir, o.seed, new Tracer(true))
        val l = loop(w, c, plain.next, o.seconds, Some(probe), layer)
        probe.detach()
        (plain, Some(l))
      }
    val refreshS = median(timed.refreshes)

    val attempted = traced.getOrElse(timed).next // warm-up cycles included
    val tc = System.nanoTime()
    c.tr.cycle = attempted
    val cleaned: DataFrame = c.tr.span("clean") {
      Workloads.clean(c, w.cleanInput(c)).transform(CacheRegistry.register)
    }
    val (cleanKept, cleanHash) = Workloads.digestOf(cleaned)
    val cleanS = (System.nanoTime() - tc) / 1e9

    w.check(c, attempted, cleaned)
    val digest = s"${w.digest(c)} clean=$cleanKept:$cleanHash"
    val rss = peakRssMb()
    val checkS = (System.nanoTime() - tc) / 1e9 - cleanS

    val (tailV, tailWhat) = tail(timed.cycles)
    val p50 = median(timed.cycles)
    val rt = Runtime.getRuntime
    val gcNames = ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName)
    println(s"workload=${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} loop=closed callers=1")
    println(s"host: nproc=${rt.availableProcessors} master=local[${o.cpus}] " +
      s"heap_max_mb=${rt.maxMemory >> 20} gc=${gcNames.mkString("+")}")
    println(s"inputs: ${w.inputs}")
    println(s"cycles (s): ${timed.cycles.map(x => f"$x%.3f").mkString(" ")}")
    println(s"write steps (s): ${timed.refreshes.map(x => f"$x%.3f").mkString(" ")}")
    println(s"jvm gc per cycle (s): ${timed.gcs.map(x => f"$x%.3f").mkString(" ")}")
    println(f"setup (s): jvm $bootS%.1f session ${(tSession - t0) / 1e9}%.1f " +
      f"state ${(tState - tSession) / 1e9}%.1f warm-up ${setupS - bootS - (tState - t0) / 1e9}%.1f")
    println(f"phases (s): setup $setupS%.1f loop ${(tc - t0) / 1e9 - setupS + bootS}%.1f " +
      f"clean $cleanS%.1f checks $checkS%.1f")
    println(s"digest: $digest")

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("cycle_p50_s", p50, "s"),
      ("cycle_tail_s", tailV, "s"),
      ("records_per_s", timed.records / timed.cycles.sum, "1/s"),
      ("refresh_s", refreshS, "s"),
      ("clean_s", cleanS, "s"),
      ("peak_rss_mb", rss, "MB"))
    println(f"${"metric"}%-36s ${"value"}%14s  unit")
    e2e.foreach { case (k, v, u) =>
      val note = if (k == "cycle_tail_s") s"  ($tailWhat cycles)" else ""
      println(f"$k%-36s $v%14.4f  $u$note")
    }
    println(f"${"failed_ratio"}%-36s ${0.0}%14.4f  ratio  (0 of $attempted cycles failed)")

    val metrics: Seq[(String, Double, String)] = traced match {
      case None => e2e
      case Some(l) =>
        val n = l.cycles.size.toDouble
        val sparkLayer = layer.toSeq.map { case (k, v) =>
          (k, v / n, k.split('_').last match {
            case "ms" => "ms"; case "s" => "s"; case "bytes" => "bytes"
            case _ => "count"
          })
        }
        val self = c.tr.selfTimes
        val spans = PerLayer.SpanLayers.map { k =>
          val (tot, occ) = self.getOrElse(k, (0.0, 0))
          (s"${k}_s", if (occ == 0) 0.0 else tot / occ, "s")
        }
        val counters = (PerLayer.Counters.map(_ -> 0.0).toMap ++ w.counters).toSeq.map { case (k, v) =>
          (k, v, if (k.endsWith("bytes") || k.endsWith("_landed")) "bytes"
            else if (k.endsWith("ratio")) "ratio" else "count")
        }
        println(s"traced cycles (s): ${l.cycles.map(x => f"$x%.3f").mkString(" ")}")
        println("self time per layer (s, per cycle or step it occurs in):")
        self.toSeq.sortBy(-_._2._1).foreach { case (k, (tot, occ)) =>
          println(f"  $k%-32s ${tot / math.max(occ, 1)}%10.4f  x$occ")
        }
        c.tr.writeJson(s"${o.root}/spans.json")
        sparkLayer ++ spans ++ counters :+
          (("trace.overhead_s", median(l.cycles) - p50, "s"))
    }
    val body = metrics.sortBy(_._1).map { case (k, v, u) =>
      s""""$k": {"value": ${jnum(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": true, "attempted": $attempted, "failed": 0, """ +
      s""""metrics": {$body}}""")
    System.out.flush()
  }

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** The per-layer span metrics every traced run reports (0 where a
  * workload does not call the layer). */
object PerLayer {
  val SpanLayers: Seq[String] = Seq(
    "sources.land", "sources.read", "functions.extract",
    "functions.langquality", "plans.fingerprint", "plans.textstats",
    "operators.stats", "operators.score", "operators.winnow",
    "operators.dedup_pairs", "operators.clean", "streaming.gate",
    "streaming.maintain")
  /** Counters a workload measures itself; 0 where it has no such layer. */
  val Counters: Seq[String] = Seq("sources.bytes_landed",
    "streaming.state_files", "streaming.state_bytes", "streaming.keep_ratio")
}
