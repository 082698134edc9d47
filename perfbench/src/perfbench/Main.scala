package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * plus `--root <checkout>`, `--work <scratch dir>` and
  * `--mode run|record|selftest` (default run). */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: File, work: File, mode: String) {
  def rowsFile: File = new File(root, "perfbench/data/rows.json")
  def traceFile: File = new File(root, s".bench_build/trace/$workload-seed$seed.json")
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m.getOrElse("workload", Inventory.Analytic), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toInt, m.getOrElse("trace", "0") == "1",
      new File(m.getOrElse("root", ".")).getAbsoluteFile,
      new File(m.getOrElse("work", ".bench_build/work")).getAbsoluteFile,
      m.getOrElse("mode", "run"))
  }
}

object Main {
  /** The generated tables are fixed (the recorded digests depend on
    * them); `--seed` chooses the rows, their order, the appended index
    * vectors and the MapReduce corpus. */
  val DataSeed = 20240917L
  val MainSf = 0.002
  val WarmSf = 0.001
  /** Partition counts are pinned so outputs do not depend on the host's
    * core count; tasks run on `local[nproc]`. */
  val Partitions = 4

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val code =
      try a.mode match {
        case "run" => Runner.run(a)
        case "record" => Record.run(a)
        case "selftest" => SelfTest.run(a)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.exit(code)
  }

  def session(): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = graft.GraftEngine.session(s"local[$cores]", Partitions)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
}

/** Peak heap after garbage collection, from GC notifications. */
final class HeapWatch {
  @volatile var peak = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit = {
      import com.sun.management.GarbageCollectionNotificationInfo
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        if (used > peak) peak = used
      }
    }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  beans.foreach(_.addNotificationListener(listener, null, null))
  def reset(): Unit = peak = 0L
  def close(): Unit = beans.foreach(_.removeNotificationListener(listener))
}

/** One workload run: set-up, warm-up, a closed loop of passes over the
  * workload's operations for `seconds`, then the metrics. */
object Runner {
  import Main._

  /** One complete pass: measured wall and CPU, the same with each sampled
    * row scaled to its stratum's mean cost, peak heap after GC during
    * it, heap in use after a full GC at its end, 1-min load around it. */
  final case class Pass(wall: Long, cpu: Long, estWall: Double, estCpu: Double, heap: Long,
      live: Long, loadBefore: Double, loadAfter: Double)

  def run(a: Args): Int = {
    require(Inventory.Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session()
    val sessionS = (System.currentTimeMillis - jvmStart) / 1000.0
    val cores = Runtime.getRuntime.availableProcessors
    val w = Workload(a)

    // set-up: the warm-up inputs and the warm-up pass, then the timed
    // inputs staged three times into fresh directories (the last is
    // kept); the median staging time enters setup_s
    val tw = System.nanoTime
    w.stageWarm(spark, new File(a.work, "warm"))
    w.warmUp(spark.newSession())
    val warmS = (System.nanoTime - tw) / 1e9
    val stageS = (1 to 3).map { k =>
      val t = System.nanoTime
      w.stage(spark, new File(a.work, s"stage$k"))
      if (k < 3) deleteTree(new File(a.work, s"stage$k"))
      (System.nanoTime - t) / 1e9
    }
    val setupS = sessionS + warmS + median(stageS)
    log(f"setup: session $sessionS%.2f s, warm-up $warmS%.2f s, staging ${stageS.map(x => f"$x%.2f").mkString("/")} s")

    Calib.sample(10) // warm the calibration code before it counts
    val calib = mutable.ArrayBuffer.empty[Double]
    val tr = new Tracer(spark, a.trace)
    val heap = new HeapWatch
    val passes = mutable.ArrayBuffer.empty[Pass]
    val latency = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
    val opName = mutable.Map.empty[Int, String]
    val factors = mutable.Map.empty[Int, Seq[Double]]
    val passOfTrace = mutable.Map.empty[Int, Int]
    var attempted = 0
    var failed = 0
    val deadline = System.nanoTime + a.seconds * 1000000000L
    var stop = false
    var p = 0
    while (!stop) {
      System.gc()
      calib ++= Calib.sample(5)
      val s = spark.newSession()
      tr.attach(s)
      val ops = w.pass(s, p, new Ops(tr))
      val load0 = loadAvg
      heap.reset()
      val c0 = cpuNanos
      val t0 = System.nanoTime
      var estWall = 0.0
      var estCpu = 0.0
      var i = 0
      while (i < ops.size && !stop) {
        val op = ops(i)
        val id = tr.nextTrace()
        passOfTrace(id) = p
        val cs = cpuNanos
        val ts = System.nanoTime
        val ok =
          try tr.span(op.name, "op")(op.run(s))
          catch { case e: Throwable => log(s"${op.name} threw: $e"); false }
        val lat = (System.nanoTime - ts) / 1e9
        latency.getOrElseUpdate(i, mutable.ArrayBuffer.empty) += lat
        factors(i) = op.factors
        opName(i) = op.name
        estWall += lat * op.weight
        estCpu += (cpuNanos - cs) / 1e9 * op.weight
        attempted += 1
        if (!ok) { failed += 1; log(s"${op.name} FAILED its output check") }
        tr.drain()
        i += 1
        if (System.nanoTime > deadline && passes.nonEmpty) stop = true
      }
      if (i == ops.size) {
        // a pass with no collection in it reports the heap in use at its end
        val peak = if (heap.peak > 0) heap.peak
          else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        val (wall, cpu, load1) = (System.nanoTime - t0, cpuNanos - c0, loadAvg)
        System.gc()
        val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
        val pass = Pass(wall, cpu, estWall, estCpu, peak, live, load0, load1)
        passes += pass
        log(f"pass $p: wall ${pass.wall / 1e9}%.3f s, cpu ${pass.cpu / 1e9}%.3f s, " +
          f"stratum-normalised wall $estWall%.3f s cpu $estCpu%.3f s, " +
          f"cpu/wall ${pass.cpu.toDouble / pass.wall}%.2f, load ${pass.loadBefore}%.2f->${pass.loadAfter}%.2f" +
          (if (math.max(pass.loadBefore, pass.loadAfter) > cores) s" CONTENDED (load > $cores cores)" else ""))
      } else passOfTrace.filterInPlace((_, q) => q != p)
      w.endPass(s, p)
      p += 1
      if (System.nanoTime > deadline) stop = true
    }
    heap.close()

    // the fastest complete pass: later passes are warmer, and a fresh JVM
    // is still compiling through the first ones; timings are scaled to the
    // reference host speed by the calibration measured around the passes
    calib ++= Calib.sample(5)
    val speed = Calib.ReferenceS / calib.min
    val wallS = passes.map(_.estWall).min * speed
    val cpuS = passes.map(_.estCpu).min * speed
    val rawWall = median(passes.map(_.wall / 1e9).toSeq)
    val rawCpu = median(passes.map(_.cpu / 1e9).toSeq)
    // query latency estimates for every row of the population: each
    // sampled row's first read, its fastest latency scaled to each member
    // of its stratum (fixed operations and memo re-reads are not queries)
    val firstReads = latency.keys.toSeq.sorted.groupBy(opName).values.map(_.min)
      .filter(i => factors(i).size > 1)
    val perOp = firstReads.toSeq.flatMap(i => factors(i).map(_ * latency(i).min * speed)).sorted
    val n = perOp.size
    val tailIdx = math.max(0, n - 11)
    val tailPct = if (n > 10) 100.0 * (n - 10) / n else 100.0
    val load0 = passes.map(_.loadBefore).maxOption.getOrElse(0.0)
    val load1 = passes.map(_.loadAfter).maxOption.getOrElse(0.0)
    println(f"workload ${a.workload} seed ${a.seed}: ${passes.size} complete passes of ${latency.size} ops, " +
      f"$attempted ops attempted, $failed failed (failed_frac ${failed.toDouble / attempted}%.4f)")
    latency.toSeq.sortBy(_._1).foreach { case (i, ls) =>
      println(f"  op ${opName(i)}%-34s fastest ${ls.min}%8.3f s median ${median(ls.toSeq)}%8.3f s over ${ls.size} runs, " +
        f"stands for ${factors(i).size} row(s)")
    }
    println(f"pass medians: wall $rawWall%.3f s, cpu $rawCpu%.3f s; fastest stratum-normalised " +
      f"pass at reference speed: wall_s $wallS%.3f s, cpu $cpuS%.3f s")
    println(f"queries.p50_s ${median(perOp)}%.4f s, queries.tail_s ${perOp(tailIdx)}%.4f s " +
      f"(p$tailPct%.0f of $n query latency estimates)")
    println(f"calibration: fastest ${calib.min * 1000}%.2f ms, median ${median(calib.toSeq) * 1000}%.2f ms over ${calib.size} runs " +
      f"(reference ${Calib.ReferenceS * 1000}%.1f ms); timings scaled by $speed%.3f, " +
      f"unscaled wall ${passes.map(_.estWall).min}%.3f s")
    println(f"contention: 1-min load $load0%.2f before / $load1%.2f after (max over passes), " +
      f"cpu/wall ${rawCpu / rawWall}%.2f on $cores cores" +
      (if (math.max(load0, load1) > cores) " -- CONTENDED: load exceeded nproc" else ""))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", wallS, "s"))
      else {
        val layers = Layers(tr, passOfTrace.toMap, passes.size, cores, w)
        layers.writeTrace(a.traceFile)
        layers.printSelfTime()
        layers.metrics ++ Seq(("trace.wall_s", wallS, "s"), ("jvm.cpu_s", cpuS, "s"),
          ("queries.p50_s", median(perOp), "s"), ("queries.tail_s", perOp(tailIdx), "s"),
          ("jvm.heap_peak_mb", median(passes.map(_.heap / 1048576.0).toSeq), "MB"),
          ("jvm.heap_live_mb", median(passes.map(_.live / 1048576.0).toSeq), "MB"))
      }
    tr.close()
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    spark.stop()
    0
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
