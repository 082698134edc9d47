package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.engine.{AnnIndexStore, JobRegistry, JobRunner}

/** One operation of a pass: a name, and a body that runs it on the
  * pass's session and returns whether its output checked out. A sampled
  * row stands for its stratum: `weight` scales its measurements to the
  * stratum's mean recorded cost, and `factors` into one estimate per
  * stratum member (a fixed operation stands for itself). */
final case class Op(name: String, run: SparkSession => Boolean, factors: Seq[Double] = Seq(1.0),
    weight: Double = 1.0)

/** The operations each workload runs, built from generated inputs. Each
  * call into a layer is wrapped in a span named after it. */
final class Ops(tr: Tracer) {

  /** Load every table on a fresh session (one schema job per table). */
  def tables(dir: String): Op = Op("tables.load", { s =>
    tr.span("tables.load", "Tables")(Inventory.loadTables(s, dir))
    true
  })

  /** Construct a row's frame, plan its digest, run it, compare the digest
    * with the recorded one. A memo consumer's construction is a memo
    * read (a hit when it launches no job); a raw row's is a memo build. */
  def row(p: Pick, dir: String): Op = Op(p.row.name, { s =>
    val r = p.row
    val fn = Inventory.all(r.name)
    val (label, layer) =
      if (r.isRaw) ("raw", "engine.FrameMemo")
      else if (r.memoConsumer) ("read", "engine.FrameMemo")
      else ("build", "queries")
    val df = tr.span(s"${r.name}.$label", layer)(fn(s, dir))
    val dg = Inventory.digestFrame(df)
    tr.span(s"${r.name}.plan", "plans")(dg.queryExecution.executedPlan)
    val res = tr.span(s"${r.name}.exec", "spark")(dg.collect().head)
    Inventory.readDigest(res) == ((r.rows, r.digest))
  }, p.factors, p.weight)

  // ------------------------------------------------------------ ANN index

  /** The persisted-index lifecycle on a scratch directory: save, load
    * with footer verification, append the given vectors, compact,
    * vacuum, and serve the appended vectors as queries — each must find
    * itself first. */
  def annLifecycle(dataDir: String, dir: String, nBase: Long,
      vecs: Seq[(Long, Array[Double])]): Seq[Op] = {
    val L = "engine.AnnIndexStore"
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = false))))
    def frame(s: SparkSession, idName: String, vName: String) =
      s.createDataFrame(s.sparkContext.parallelize(
        vecs.map { case (id, v) => Row(id, v.toSeq) }, 1), schema).toDF(idName, vName)
    Seq(
      Op("index.save", s => tr.span("index.save", L)(
        AnnIndexStore.save(s, dataDir, dir)).n_vectors == nBase),
      Op("index.load_verify", { s =>
        val idx = tr.span("index.load_verify", L)(AnnIndexStore.load(s, dir, verify = true))
        val r = tr.span("index.load_verify.exec", "spark")(
          Inventory.digestFrame(idx).collect().head)
        r.getLong(0) == nBase
      }),
      Op("index.append", s => tr.span("index.append", L)(
        AnnIndexStore.append(s, dir, frame(s, "vec_id", "v"))).n_vectors ==
        nBase + vecs.size),
      Op("index.compact", s => tr.span("index.compact", L)(
        AnnIndexStore.compact(s, dir)).nonEmpty),
      Op("index.vacuum", s => tr.span("index.vacuum", L)(
        AnnIndexStore.vacuum(s, dir)) > 0),
      Op("index.search", { s =>
        val hits = tr.span("index.search", L)(
          AnnIndexStore.searchTopKStored(s, dir, frame(s, "q_id", "q"), 10).collect())
        val top = hits.filter(_.getAs[Long]("rank") == 1L)
          .map(h => h.getAs[Long]("q_id") -> h.getAs[Long]("vec_id")).toMap
        vecs.forall { case (id, _) => top.get(id).contains(id) } &&
          hits.length == vecs.size * 10
      }))
  }

  // ------------------------------------------------------------ DFS + MR

  /** One pass of the reference's own use over a written corpus: store
    * every file, list and info, run word_count over the prose and
    * log_analyzer over the logs, retrieve every file and compare MD5s,
    * delete every file. `footprint` runs once every file is stored. */
  def dfsPass(c: Gen.Corpus, warehouse: String, outDir: File,
      footprint: () => Unit): Seq[Op] = {
    val C = "engine.Catalog"
    val md5 = c.files.map(f => f.getName -> Ops.md5(f)).toMap
    var g: graft.GraftEngine = null
    var reg: JobRegistry = null
    def names(fs: Seq[File]) = fs.map(_.getName)
    def mr(job: String, files: Seq[File], want: Seq[(Int, String)]) =
      Op(s"mr.$job", { _ =>
        val out = tr.span(s"mr.$job", "engine.MrPipeline")(reg.submit(job, names(files)))
        val got = tr.span(s"mr.$job.exec", "spark")(out.collect())
          .map(r => (r.getInt(0), r.getString(1))).toSeq
        got.sorted == want.sorted
      })
    val open = Op("catalog.open", { s =>
      g = graft.GraftEngine(s, warehouse)
      reg = JobRegistry.withBuiltins(new JobRunner(s, g.catalog))
      g.list().isEmpty
    })
    val stores = c.files.map(f => Op(s"catalog.store:${f.getName}", _ => {
      tr.span("catalog.store", C)(g.store(f.getPath, f.getName)); true
    }))
    val list = Op("catalog.list", _ =>
      tr.span("catalog.list", C)(g.list()) == names(c.files).sorted)
    val info = Op("catalog.info", { _ =>
      val i = tr.span("catalog.info", C)(g.info())
      footprint() // every file is stored: read the warehouse's bytes on disk
      i("files") == c.files.size && i("bytes") == c.bytes && i("txt_files") == c.files.size
    })
    val retrieves = c.files.map(f => Op(s"catalog.retrieve:${f.getName}", { _ =>
      val out = new File(outDir, f.getName)
      tr.span("catalog.retrieve", C)(g.retrieve(f.getName, out.getPath))
      val ok = Ops.md5(out) == md5(f.getName) && out.length == f.length
      Files.delete(out.toPath)
      Files.deleteIfExists(new File(outDir, s".${f.getName}.crc").toPath)
      ok
    }))
    val deletes = c.files.map(f => Op(s"catalog.delete:${f.getName}", _ =>
      tr.span("catalog.delete", C)(g.delete(f.getName))))
    val close = Op("catalog.close", { _ =>
      val empty = g.list().isEmpty
      g.catalog.close()
      empty
    })
    Seq(open) ++ stores ++ Seq(list, info,
      mr("word_count", c.prose, c.wordCount), mr("log_analyzer", c.logs, c.logReport)) ++
      retrieves ++ deletes :+ close
  }
}

object Ops {
  /** Seed-chosen unit vectors for the index append, with ids past the
    * table's. */
  def appendVectors(seed: Long, n: Int): Seq[(Long, Array[Double])] = {
    val r = new SplittableRandom(seed)
    (0 until n).map(i => (1000000L + i, Gen.unit(Array.fill(64)(Gen.gauss(r)))))
  }

  def md5(f: File): String =
    MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f.toPath))
      .map(b => f"$b%02x").mkString
}
