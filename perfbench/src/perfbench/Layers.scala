package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Per-layer numbers of a traced run, each averaged over the complete
  * passes, plus the span file and the per-layer self-time table. */
final case class Layers(tr: Tracer, passOfTrace: Map[Int, Int], passes: Int, cores: Int,
    w: Workload) {

  private val spans = tr.spans.filter(s => passOfTrace.contains(s.trace)).toSeq
  private val spanIds = spans.map(_.id).toSet
  private val jobs = tr.jobs.asScala.toSeq.filter(j => spanIds(j.span))
  private val jobOf = jobs.map(j => j.id -> j).toMap
  private val spanOf = spans.map(s => s.id -> s).toMap
  private val tasks = tr.tasks.asScala.toSeq.filter(t =>
    tr.stageJob.containsKey(t.stage) && jobOf.contains(tr.stageJob.get(t.stage)))
  private val phases = tr.phases.asScala.toSeq.filter(p => passOfTrace.contains(p._1))
  private val n = math.max(passes, 1).toDouble

  private def ms(s: Span) = (s.end - s.start) / 1000.0
  private def named(p: String => Boolean) = spans.filter(s => p(s.name))
  private def sumMs(p: String => Boolean) = named(p).map(ms).sum
  /** Jobs launched under a span (its own or any descendant's). */
  private def jobsUnder(s: Span): Seq[JobRec] = jobs.filter { j =>
    var cur = spanOf.get(j.span)
    while (cur.exists(c => c.id != s.id)) cur = cur.flatMap(c => spanOf.get(c.parent))
    cur.isDefined
  }
  private def tasksOf(js: Seq[JobRec]) = {
    val ids = js.map(_.id).toSet
    tasks.filter(t => ids(tr.stageJob.get(t.stage)))
  }

  /** Length of the union of [a, b) intervals, clipped to [lo, hi). */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foldLeft((0.0, lo)) { case ((acc, end), (a, b)) =>
        if (b <= end) (acc, end) else (acc + b - math.max(a, end), b)
      }._1

  private def jobIv(j: JobRec) = (j.startMs * 1000.0, math.max(j.endMs, j.startMs) * 1000.0)

  def metrics: Seq[(String, Double, String)] = {
    val roots = spans.filter(_.layer == "op")
    val opMs = roots.map(ms).sum
    val builds = spans.filter(s => s.layer == "queries" || s.layer == "engine.FrameMemo")
    val reads = spans.filter(s => s.layer == "engine.FrameMemo" && s.name.endsWith(".read"))
    val (hits, misses) = reads.partition(s => jobsUnder(s).isEmpty)
    val driverSelf = roots.map { r =>
      ms(r) - covered(jobsUnder(r).map(jobIv), r.start.toDouble, r.end.toDouble) / 1000.0
    }.sum
    val queue = tasks.filter(t => tr.stageSubmitMs.containsKey(t.stage))
      .map(t => math.max(0L, t.launchMs - tr.stageSubmitMs.get(t.stage)).toDouble)
    val mrSpans = spans.filter(s => s.layer == "engine.MrPipeline")
    val mrTasks = tasksOf(mrSpans.flatMap(jobsUnder))
    val skew = mrSpans.map { s =>
      val ts = tasksOf(jobsUnder(s))
      if (ts.isEmpty) 0.0 else {
        val last = ts.map(_.stage).max
        val d = ts.filter(_.stage == last).map(t => (t.finishMs - t.launchMs).toDouble)
        d.max / math.max(1.0, Main.median(d))
      }
    }
    val storeMs = sumMs(_ == "catalog.store")
    val retrieveMs = sumMs(_ == "catalog.retrieve")
    val mrMs = mrSpans.map(ms).sum
    val in = w.inputBytes
    def mbps(bytes: Long, msTotal: Double) =
      if (msTotal <= 0) 0.0 else bytes / 1048576.0 / (msTotal / n / 1000.0)
    val perPass = Seq(
      ("tables.scan_bytes", tasks.map(_.inBytes).sum.toDouble, "bytes"),
      ("tables.scan_rows", tasks.map(_.inRecords).sum.toDouble, "rows"),
      ("queries.build_ms", builds.map(ms).sum, "ms"),
      ("queries.build_jobs", builds.map(jobsUnder(_).size).sum.toDouble, "count"),
      ("plans.plan_ms", phases.map(p => p._2 + p._3 + p._4).sum.toDouble, "ms"),
      ("plans.optimize_ms", phases.map(_._3).sum.toDouble, "ms"),
      ("plans.physical_ms", phases.map(_._4).sum.toDouble, "ms"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.stages", tasks.map(_.stage).distinct.size.toDouble, "count"),
      ("spark.tasks", tasks.size.toDouble, "count"),
      ("spark.driver_self_ms", driverSelf, "ms"),
      ("spark.task_cpu_ms", tasks.map(_.cpuNs).sum / 1e6, "ms"),
      ("spark.gc_ms", tasks.map(_.gcMs).sum.toDouble, "ms"),
      ("spark.shuffle_write_bytes", tasks.map(_.shWrite).sum.toDouble, "bytes"),
      ("spark.shuffle_read_bytes", tasks.map(_.shRead).sum.toDouble, "bytes"),
      ("spark.spill_bytes", tasks.map(_.spill).sum.toDouble, "bytes"),
      ("memo.reads", reads.size.toDouble, "count"),
      ("memo.hits", hits.size.toDouble, "count"),
      ("memo.miss_ms", misses.map(ms).sum, "ms"),
      ("memo.hit_ms", hits.map(ms).sum, "ms"),
      ("memo.raw_ms", sumMs(_.endsWith(".raw")), "ms"),
      ("index.save_ms", sumMs(_ == "index.save"), "ms"),
      ("index.load_verify_ms", sumMs(_ == "index.load_verify"), "ms"),
      ("index.append_ms", sumMs(_ == "index.append"), "ms"),
      ("index.compact_ms", sumMs(_ == "index.compact"), "ms"),
      ("index.vacuum_ms", sumMs(_ == "index.vacuum"), "ms"),
      ("index.search_ms", sumMs(_ == "index.search"), "ms"),
      ("catalog.store_ms", storeMs, "ms"),
      ("catalog.list_ms", sumMs(_ == "catalog.list"), "ms"),
      ("catalog.info_ms", sumMs(_ == "catalog.info"), "ms"),
      ("catalog.retrieve_ms", retrieveMs, "ms"),
      ("catalog.delete_ms", sumMs(_ == "catalog.delete"), "ms"),
      ("mr.word_count_ms", sumMs(_ == "mr.word_count"), "ms"),
      ("mr.log_analyzer_ms", sumMs(_ == "mr.log_analyzer"), "ms"),
      ("mr.map_records", mrTasks.map(_.inRecords).sum.toDouble, "records"),
      ("mr.shuffle_bytes", mrTasks.map(_.shWrite).sum.toDouble, "bytes"))
      .map { case (k, v, u) => (k, v / n, u) }
    perPass ++ Seq(
      ("spark.core_util", if (opMs <= 0) 0.0 else tasks.map(_.runMs).sum / (opMs * cores), "ratio"),
      ("spark.task_queue_ms", if (queue.isEmpty) 0.0 else queue.sum / queue.size, "ms"),
      ("memo.hit_ratio", if (reads.isEmpty) 0.0 else hits.size.toDouble / reads.size, "ratio"),
      ("mr.reduce_skew", if (skew.isEmpty) 0.0 else skew.sum / skew.size, "ratio"),
      ("catalog.store_mb_per_s", mbps(in.getOrElse("catalog", 0L), storeMs), "MB/s"),
      ("catalog.retrieve_mb_per_s", mbps(in.getOrElse("catalog", 0L), retrieveMs), "MB/s"),
      ("mr.mb_per_s", mbps(in.getOrElse("word_count", 0L) + in.getOrElse("log_analyzer", 0L),
        mrMs), "MB/s")) ++
      Seq("index.bytes_per_input_byte", "catalog.bytes_written_per_input_byte")
        .map(k => (k, w.ratios.getOrElse(k, 0.0), "ratio"))
  }

  /** Self time by layer: each span's duration minus what its child spans
    * and the Spark jobs launched directly under it cover; jobs count as
    * layer `spark`. Averaged per pass, in ms. */
  def selfTime: Seq[(String, Double)] = {
    val children = spans.groupBy(_.parent)
    val jobsBySpan = jobs.groupBy(_.span)
    val own = spans.map { s =>
      val iv = children.getOrElse(s.id, Nil).map(c => (c.start.toDouble, c.end.toDouble)) ++
        jobsBySpan.getOrElse(s.id, Nil).map(jobIv)
      s.layer -> (ms(s) - covered(iv, s.start.toDouble, s.end.toDouble) / 1000.0)
    } ++ jobs.map(j => "spark" -> (jobIv(j)._2 - jobIv(j)._1) / 1000.0)
    own.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum / n }.toSeq.sortBy(-_._2)
  }

  def printSelfTime(): Unit = {
    println("layer self time per pass (ms):")
    selfTime.foreach { case (l, v) => println(f"  $l%-22s $v%10.1f") }
  }

  /** Every span (and every Spark job, as a span under the span that
    * launched it) with name, start, end, parent and trace id. */
  def writeTrace(f: File): Unit = {
    f.getParentFile.mkdirs()
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "layer": ${q(s.layer)}, "start_us": ${s.start}, """ +
        s""""end_us": ${s.end}, "parent": ${s.parent}, "trace": ${s.trace}}""") ++
      jobs.map(j =>
        s"""{"id": ${q("job-" + j.id)}, "name": ${q("job " + j.id)}, "layer": "spark", """ +
          s""""start_us": ${j.startMs * 1000}, "end_us": ${j.endMs * 1000}, "parent": ${j.span}, """ +
          s""""trace": ${spanOf(j.span).trace}}""")
    Files.write(f.toPath, ("[\n" + lines.mkString(",\n") + "\n]\n").getBytes(UTF_8))
  }
}
