package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** What a workload stages, warms up and runs in each pass. */
abstract class Workload {
  /** Generate the small warm-up inputs under `dir`. */
  def stageWarm(spark: SparkSession, dir: File): Unit
  /** Run the workload's operations once on the warm-up inputs. */
  def warmUp(s: SparkSession): Unit
  /** Generate this workload's timed inputs under `dir`. */
  def stage(spark: SparkSession, dir: File): Unit
  /** The operations of pass `p`, to run on session `s`. */
  def pass(s: SparkSession, p: Int, ops: Ops): Seq[Op]
  def endPass(s: SparkSession, p: Int): Unit = ()
  /** Layer ratios the trace cannot see, by metric name. */
  def ratios: Map[String, Double] = Map.empty
  /** Bytes of input per pass, by layer: index, catalog, mr. */
  def inputBytes: Map[String, Long] = Map.empty

  protected def warm(s: SparkSession, ops: Seq[Op]): Unit = ops.foreach { op =>
    try op.run(s) catch { case e: Throwable => Main.log(s"warm-up ${op.name}: $e") }
  }
}

object Workload {
  /** Sampled rows per pass (one per cost stratum). */
  val AnalyticStrata = 4
  val BuildStrata = 1
  /** Appended index vectors per lifecycle. */
  val AppendN = 16
  /** MapReduce corpus: files of each kind, bytes per file. */
  val CorpusFiles = 4
  val CorpusFileBytes = 300000
  val WarmCorpusFileBytes = 60000

  def apply(a: Args): Workload = a.workload match {
    case Inventory.Analytic => new Analytic(a)
    case Inventory.BuildRead => new BuildThenRead(a)
  }

  private def rows(a: Args, w: String): Seq[RowInfo] =
    Inventory.readRows(a.rowsFile).filter(_.workload == w)

  /** The generated parquet tables: the timed set and a smaller warm-up
    * set from another seed, so warm-up output cannot be reused. */
  trait Tables { self: Workload =>
    var mainDir = ""
    var warmDir = ""
    def stageWarm(spark: SparkSession, dir: File): Unit = {
      warmDir = dir.getPath
      Gen.tables(warmDir, Main.WarmSf, Main.DataSeed + 1)
    }
    def stage(spark: SparkSession, dir: File): Unit = {
      mainDir = dir.getPath
      Gen.tables(mainDir, Main.MainSf, Main.DataSeed)
    }
  }

  final class Analytic(a: Args) extends Workload with Tables {
    val sample: Seq[Pick] =
      Inventory.sample(rows(a, Inventory.Analytic), AnalyticStrata, a.seed)
    def warmUp(s: SparkSession): Unit = {
      val ops = new Ops(new Tracer(s, enabled = false))
      warm(s, ops.tables(warmDir) +: sample.map(ops.row(_, warmDir)))
    }
    def pass(s: SparkSession, p: Int, ops: Ops): Seq[Op] =
      ops.tables(mainDir) +: sample.map(ops.row(_, mainDir))
  }

  /** Everything that builds or writes state, on a fresh session per pass
    * so memos start cold: sampled build rows (each sampled memo consumer
    * read twice, the second read after the first), the index lifecycle,
    * and the DFS + MapReduce pass, each of the last two as one block at a
    * seeded position among the rows. */
  final class BuildThenRead(a: Args) extends Workload with Tables {
    private val r = new SplittableRandom(a.seed)
    val sample: Seq[Pick] = Inventory.sample(rows(a, Inventory.BuildRead), BuildStrata, r.nextLong())
    /** Row reads in pass order: every consumer's second read lands after its first. */
    val order: Seq[Pick] = sample.filter(_.row.memoConsumer).foldLeft(sample) { (acc, c) =>
      val first = acc.indexOf(c)
      val at = first + 1 + r.nextInt(acc.size - first)
      (acc.take(at) :+ c) ++ acc.drop(at)
    }
    /** Where the index block and the DFS block go among the row reads. */
    val blocksAt: Seq[Int] = Seq.fill(2)(r.nextInt(order.size + 1))
    val vectors: Seq[(Long, Array[Double])] = Ops.appendVectors(r.nextLong(), AppendN)
    private val corpusSeed = r.nextLong()
    private var corpus: Gen.Corpus = _
    private var warmCorpus: Gen.Corpus = _
    private var indexBytes = 0L
    private var embBytes = 0L
    private var written = 0L

    override def stageWarm(spark: SparkSession, dir: File): Unit = {
      super.stageWarm(spark, new File(dir, "tables"))
      warmCorpus = Gen.corpus(new File(dir, "corpus"), corpusSeed + 1, CorpusFiles, WarmCorpusFileBytes)
    }
    override def stage(spark: SparkSession, dir: File): Unit = {
      super.stage(spark, new File(dir, "tables"))
      corpus = Gen.corpus(new File(dir, "corpus"), corpusSeed, CorpusFiles, CorpusFileBytes)
    }

    private def dir(name: String) = { val d = new File(a.work, name); d.mkdirs(); d }
    private def ops(o: Ops, tables: String, c: Gen.Corpus, tag: String,
        footprint: File => Unit): Seq[Op] = {
      val rowOps = order.map(o.row(_, tables))
      val index = o.annLifecycle(tables, dir(s"ann-$tag").getPath,
        Gen.sizes(Main.MainSf)("embeddings"), vectors)
      val wh = new File(a.work, s"wh-$tag")
      val dfs = o.dfsPass(c, wh.getPath, dir(s"out-$tag"), () => footprint(wh))
      val (first, second) = (blocksAt.min, blocksAt.max)
      o.tables(tables) +: (rowOps.take(first) ++ index ++ rowOps.slice(first, second) ++ dfs ++
        rowOps.drop(second))
    }
    def warmUp(s: SparkSession): Unit =
      warm(s, ops(new Ops(new Tracer(s, enabled = false)), warmDir, warmCorpus, "warm", _ => ()))
    def pass(s: SparkSession, p: Int, o: Ops): Seq[Op] =
      ops(o, mainDir, corpus, p.toString, wh => written = Workload.bytesUnder(wh))
    override def endPass(s: SparkSession, p: Int): Unit = {
      indexBytes = Workload.bytesUnder(new File(a.work, s"ann-$p"))
      embBytes = Workload.bytesUnder(new File(mainDir, "embeddings.parquet"))
      Seq("ann", "wh", "out").foreach(d => Main.deleteTree(new File(a.work, s"$d-$p")))
    }
    override def ratios: Map[String, Double] = Map(
      "index.bytes_per_input_byte" -> (if (embBytes == 0) 0.0 else indexBytes.toDouble / embBytes),
      "catalog.bytes_written_per_input_byte" -> written.toDouble / corpus.bytes)
    override def inputBytes: Map[String, Long] = Map(
      "catalog" -> corpus.bytes, "word_count" -> corpus.prose.map(_.length).sum,
      "log_analyzer" -> corpus.logs.map(_.length).sum)
  }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length
}
