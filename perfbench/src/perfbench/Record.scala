package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

/** Classify every row once and record its expected output.
  *
  * Each row runs on a fresh session (cold memos) whose tables are
  * already loaded (a parquet load launches a schema job), against the
  * generated timed tables, after a warm-up over all rows on the warm-up
  * tables.
  * The jobs its construction launches decide its workload: a row whose
  * construction launches a Spark job, and every raw build, belongs to
  * build_then_read; the rest to analytic_mix. The construction then runs
  * again on the same session: a row whose re-read launches no job reads a
  * memo. Its digest is taken on both reads and must agree.
  *
  * Writes `--out` (default perfbench/data/rows.json). */
object Record {
  def run(a: Args): Int = {
    val spark = Main.session()
    val main = new File(a.work, "main").getPath
    val warm = new File(a.work, "warm").getPath
    Gen.tables(main, Main.MainSf, Main.DataSeed)
    Gen.tables(warm, Main.WarmSf, Main.DataSeed + 1)
    val names = Inventory.all.keys.toSeq.sorted
    val ws = spark.newSession()
    names.foreach { n =>
      try Inventory.digestFrame(Inventory.all(n)(ws, warm)).collect()
      catch { case e: Throwable => Main.log(s"warm-up $n: $e") }
    }
    val tr = new Tracer(spark, enabled = true)
    def jobs(s: Span) = { tr.drain(); tr.jobs.asScala.count(_.span == s.id).toLong }
    var bad = 0
    val rows = names.map { n =>
      val s = spark.newSession()
      Inventory.loadTables(s, main)
      tr.nextTrace()
      val t0 = System.nanoTime
      val df = tr.span(n, "build")(Inventory.all(n)(s, main))
      val build = tr.spans.last
      val (rows1, d1) = Inventory.readDigest(Inventory.digestFrame(df).collect().head)
      val costMs = (System.nanoTime - t0) / 1000000L
      val df2 = tr.span(n, "rebuild")(Inventory.all(n)(s, main))
      val rebuild = tr.spans.last
      val (rows2, d2) = Inventory.readDigest(Inventory.digestFrame(df2).collect().head)
      if ((rows1, d1) != ((rows2, d2))) {
        bad += 1
        Main.log(s"$n: digest differs between reads ($rows1 $d1 vs $rows2 $d2)")
      }
      val bj = jobs(build)
      val workload =
        if (n.endsWith("_raw") || bj > 0) Inventory.BuildRead else Inventory.Analytic
      val r = RowInfo(n, workload, bj, jobs(rebuild), costMs, rows1, d1)
      Main.log(s"$n ${r.workload} jobs ${r.buildJobs}/${r.rebuildJobs} ${r.costMs} ms rows ${r.rows}")
      r
    }
    val out = new File(Option(System.getProperty("perfbench.out")).getOrElse(a.rowsFile.getPath))
    Inventory.writeRows(out, rows)
    Main.log(s"wrote ${rows.size} rows to $out; ${rows.count(_.workload == Inventory.Analytic)} " +
      s"analytic, ${rows.count(_.workload == Inventory.BuildRead)} build, $bad unstable")
    spark.stop()
    if (bad == 0) 0 else 1
  }
}
