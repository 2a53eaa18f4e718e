package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** JVM side of the benchmark (driven by perfbench/run.py, which makes the
  * inputs, writes the plan and checks the outputs).
  *
  * Usage: PerfBench <plan.json>
  *
  * One process, one client thread, closed loop: the next op starts when
  * the last one returns. An op is one catalog entry: the entry call
  * (setup span: its eager DDL, DML and index maintenance) then `count()`
  * on the returned frame (probe span); caches are cleared after every
  * op, as graft.Bench does. Order of a run: session; the warm-up at the
  * small input, repeated; one untimed first pass at the full input, whose
  * probes collect the results the oracle check reads; then the timed
  * region, the remaining passes of the plan's seeded op order. In traced
  * mode the timed passes run once more with the
  * listeners attached; untraced mode attaches none. */
object PerfBench {

  final case class Op(entry: String, pass: Int, wallMs: Double, cpuMs: Double,
      setupMs: Double, probeMs: Double, rows: Long, error: String)

  def main(args: Array[String]): Unit = {
    implicit val fmts: Formats = DefaultFormats
    def j(x: Any): JValue = Extraction.decompose(x)
    val plan = JsonMethods.parse(new java.io.File(args(0)))
    val workload = (plan \ "workload").extract[String]
    val cpus = (plan \ "cpus").extract[Int]
    val input = (plan \ "input").extract[String]
    val warm = (plan \ "warm").extract[String]
    val traced = (plan \ "trace").extract[Boolean]
    val reps = (plan \ "setup_reps").extract[Int]
    val warmEntries = (plan \ "warm_entries").extract[Seq[String]]
    val passes = (plan \ "passes").extract[Seq[Seq[String]]]
    val layers = (plan \ "layers").extract[Map[String, String]]
    val probeLayer = (plan \ "probe_layer").extractOpt[String]
    val checkDir = (plan \ "check_dir").extract[String]
    val catalogRoot = (plan \ "catalog_root").extract[String]
    val outFile = (plan \ "out").extract[String]

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.configure(spark)
    val baseListeners = org.apache.spark.PerfbenchBus.listenerCount(spark.sparkContext)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s: $what")
    mark("session ready")
    val queries = graft.SparkEntry.queries
    val missing = (passes.flatten ++ warmEntries).filterNot(queries.contains)
    require(missing.isEmpty, s"unknown catalog entries: ${missing.distinct.mkString(",")}")

    def clearCaches(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def persistedMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

    val spans = new Spans

    // ---- set-up, repeated: a warm-up at the small input
    val repS = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      warmEntries.foreach { e =>
        try queries(e)(spark, warm).count()
        catch { case t: Throwable => System.err.println(s"[perfbench] warm $e: $t") }
        clearCaches()
      }
      (System.nanoTime() - t0) / 1e9
    }
    mark("warm-up done")

    // first result of each entry, collected to the driver and written as
    // JSON for the oracle check
    val checked = mutable.LinkedHashMap.empty[String, String]
    def saveResult(entry: String, df: DataFrame, rows: Array[Row]): Unit = {
      val f = s"$checkDir/$entry.json"
      checked(entry) = f
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.print(JsonMethods.compact(RowJson.result(df.columns.toSeq, rows))) finally w.close()
    }

    var cachePeakMb = 0.0
    /** One op. With `collect` (the untimed first pass) the probe collects
      * the result, which is saved for the check, instead of counting it. */
    def runOp(e: String, opId: Int, pass: Int, collect: Boolean): Op = {
      val layer = layers.getOrElse(e, "other")
      var rows = -1L
      var err = ""
      var setupMs = 0.0
      var probeMs = 0.0
      val c0 = cpuNs()
      val (_, opSpan) = spans.time(s"op:$e", "bench", -1, opId) { root =>
        try {
          val (df, s1) = spans.time("setup", layer, root, opId) { _ =>
            queries(e)(spark, input)
          }
          setupMs = s1.ms
          val (n, s2) = spans.time("probe", probeLayer.getOrElse(layer), root, opId) { _ =>
            if (collect && !checked.contains(e)) {
              val rs = df.collect()
              saveResult(e, df, rs)
              rs.length.toLong
            } else df.count()
          }
          rows = n; probeMs = s2.ms
        } catch { case t: Throwable => err = t.toString.take(300) }
      }
      val cpuMs = (cpuNs() - c0) / 1e6
      cachePeakMb = math.max(cachePeakMb, persistedMb())
      clearCaches()
      Op(e, pass, opSpan.ms, cpuMs, setupMs, probeMs, rows, err)
    }

    /** The passes `ps`, in order; returns the ops, the wall and the
      * process CPU. */
    def region(ps: Seq[Seq[String]], collect: Boolean = false): (Seq[Op], Double, Double) = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val t0 = System.nanoTime(); val c0 = cpuNs()
      for ((pass, p) <- ps.zipWithIndex; e <- pass) ops += runOp(e, ops.size, p, collect)
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs() - c0) / 1e9
      (ops.toSeq, wall, cpu)
    }

    // ---- the first pass: untimed and cold; its results are the checked ones
    val (firstOps, firstS, _) = region(passes.take(1), collect = true)
    mark("first pass done")
    val timedPasses = passes.drop(1)
    spans.clear()

    val stat0 = ProcStat.read()
    val own0 = cpuNs()
    val (ops, wall, cpu) = region(timedPasses)
    val stat1 = ProcStat.read()
    val own1 = cpuNs()
    mark("timed region done")
    val opSpans = spans.all
    val listenersUntraced =
      org.apache.spark.PerfbenchBus.listenerCount(spark.sparkContext) - baseListeners

    // ---- traced pass: same passes, listeners on
    val catBefore = FsDelta.snapshot(catalogRoot)
    val trace: JValue = if (!traced) JNull else {
      spans.clear()
      val tracer = new Tracer(spark)
      tracer.install()
      val listenersTraced =
        org.apache.spark.PerfbenchBus.listenerCount(spark.sparkContext) - baseListeners
      val (tops, twall, tcpu) = region(timedPasses)
      tracer.drain()
      val all = spans.all
      val roots = all.filter(_.parent < 0)
      val m = mutable.LinkedHashMap.empty[String, Double]
      m ++= tracer.metrics(roots, cpus)
      Seq("setup", "probe").foreach { k =>
        val ks = all.filter(_.name == k)
        m(s"span.${k}_ms") = ks.map(_.ms).sum
        tracer.metrics(ks, cpus).foreach { case (n, v) => m(s"$k.$n") = v }
      }
      m("cache.blocks_mb") = cachePeakMb
      val catAfter = FsDelta.snapshot(catalogRoot)
      m("catalog.bytes_written") = FsDelta.bytesWritten(catBefore, catAfter)
      m("catalog.files_written") = FsDelta.filesWritten(catBefore, catAfter)
      tracer.uninstall()
      JObject("wall_s" -> j(twall), "cpu_s" -> j(tcpu), "ops" -> j(tops.size),
        "listeners_added" -> j(listenersTraced), "metrics" -> j(m.toMap),
        "spans" -> j(all).snakizeKeys)
    }

    val out = JObject(
      "workload" -> j(workload), "cpus" -> j(cpus), "session_s" -> j(sessionS),
      "setup_reps_s" -> j(repS), "first_pass_s" -> j(firstS),
      "first_ops" -> j(firstOps).snakizeKeys,
      "wall_s" -> j(wall), "cpu_s" -> j(cpu), "cache_peak_mb" -> j(cachePeakMb),
      "listeners_added" -> j(listenersUntraced),
      "host" -> j(ProcStat.contamination(stat0, stat1, (own1 - own0) / 1e9)),
      "checked" -> j(checked.toMap),
      "oracle" -> j(checked.keys.flatMap(e => graft.SparkEntry.oracleSql.get(e).map(e -> _)).toMap),
      "ops" -> j(ops).snakizeKeys, "spans" -> j(opSpans).snakizeKeys, "trace" -> trace)
    val w = new java.io.PrintWriter(outFile)
    try w.println(JsonMethods.compact(out)) finally w.close()
    mark("result written")
    spark.stop()
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process CPU (all threads, user + system), nanoseconds. */
  def cpuNs(): Long = osBean.getProcessCpuTime
}

/** Host contamination over the timed region, from /proc/stat: the share
  * of CPU time stolen by the hypervisor, and CPU used by every process
  * other than this one. */
object ProcStat {
  final case class Sample(busy: Long, steal: Long, total: Long)
  private val ClkTck = 100.0 // USER_HZ, fixed at 100 on Linux

  def read(): Option[Sample] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val line = try src.getLines().next() finally src.close()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    val idle = f(3) + f(4)
    val steal = if (f.length > 7) f(7) else 0L
    val total = f.take(8).sum
    Some(Sample(total - idle - steal, steal, total))
  } catch { case _: Throwable => None }

  def contamination(a: Option[Sample], b: Option[Sample],
      ownCpuS: Double): Option[Map[String, Double]] =
    (a, b) match {
      case (Some(x), Some(y)) if y.total > x.total =>
        val busyS = (y.busy - x.busy) / ClkTck
        Some(Map(
          "steal_frac" -> (y.steal - x.steal).toDouble / (y.total - x.total),
          "other_cpu_s" -> math.max(0.0, busyS - ownCpuS),
          "load1m_end" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage))
      case _ => None
    }
}

/** Files and bytes under a directory tree, for the catalog write delta. */
object FsDelta {
  def snapshot(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      } finally s.close()
    }
  }
  private def written(a: Map[String, Long], b: Map[String, Long]) =
    b.filter { case (f, n) => !a.get(f).contains(n) }
  def bytesWritten(a: Map[String, Long], b: Map[String, Long]): Double =
    written(a, b).values.sum.toDouble
  def filesWritten(a: Map[String, Long], b: Map[String, Long]): Double =
    written(a, b).size.toDouble
}

/** A collected result as JSON: column names and rows. Decimals become
  * strings (exact), non-finite doubles the strings "NaN"/"Infinity"; the
  * check reads both that way. */
object RowJson {
  def value(x: Any): JValue = x match {
    case null => JNull
    case d: Double => if (d.isNaN || d.isInfinite) JString(d.toString) else JDouble(d)
    case f: Float => value(f.toDouble)
    case n: Long => JLong(n)
    case n: Int => JLong(n.toLong)
    case n: Short => JLong(n.toLong)
    case n: Byte => JLong(n.toLong)
    case b: Boolean => JBool(b)
    case d: java.math.BigDecimal => JString(d.toPlainString)
    case d: scala.math.BigDecimal => JString(d.bigDecimal.toPlainString)
    case r: Row if r.schema != null =>
      JObject(r.schema.fieldNames.toList.zipWithIndex.map { case (n, i) => n -> value(r.get(i)) })
    case r: Row => JArray(r.toSeq.map(value).toList)
    case m: scala.collection.Map[_, _] =>
      JObject(m.toList.map { case (k, v) => String.valueOf(k) -> value(v) })
    case xs: Iterable[_] => JArray(xs.map(value).toList)
    case o => JString(o.toString)
  }

  def result(cols: Seq[String], rows: Seq[Row]): JValue = JObject(
    "columns" -> JArray(cols.map(JString(_)).toList),
    "rows" -> JArray(rows.map(r => JArray((0 until r.length).map(i => value(r.get(i))).toList)).toList))
}
