package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One declared or raw row as recorded by `Record`: its workload, the
  * jobs its construction launched on a cold session and again right
  * after, its recorded cost, and the digest of its output. */
/** A sampled row and the recorded costs of the stratum it stands for:
  * a measurement m of the row estimates m * c / c(row) for each member
  * cost c of its stratum. */
final case class Pick(row: RowInfo, stratum: Seq[Long]) {
  def factors: Seq[Double] = stratum.map(_.toDouble / math.max(1L, row.costMs))
  /** Scales a measurement of the row to the stratum's mean recorded cost. */
  def weight: Double = factors.sum / factors.size
}

final case class RowInfo(name: String, workload: String, buildJobs: Long,
    rebuildJobs: Long, costMs: Long, rows: Long, digest: String) {
  def isRaw: Boolean = name.endsWith("_raw")
  /** A memo consumer launches jobs on a cold read and none on a re-read. */
  def memoConsumer: Boolean = !isRaw && buildJobs > 0 && rebuildJobs == 0
}

object Inventory {
  val Analytic = "analytic_mix"
  val BuildRead = "build_then_read"
  val Workloads = Seq(Analytic, BuildRead)

  /** Every row the benchmark can run: the declared queries and the raw
    * builds behind the memo-backed ones. */
  def all: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries ++ graft.RawBuilds.map

  /** Load every table on a session through `graft.Tables`, as a
    * long-lived session has them: each first load runs a schema job. */
  def loadTables(s: SparkSession, dir: String): Unit =
    graft.Tables.names.foreach(graft.Tables.t(s, dir, _))

  // ------------------------------------------------------------ digest

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** One order-independent hash aggregate over every output column:
    * (rows, sum of the low and of the high 32 bits of a per-row xxhash64).
    * Columns are renamed by position first, so duplicate or dotted names
    * cannot collide; a column holding a map is hashed through to_json. */
  def digestFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.select(h.as("h")).agg(count(lit(1)).as("n"),
      sum(col("h").bitwiseAND(lit(0xffffffffL))).as("lo"),
      sum(shiftrightunsigned(col("h"), 32)).as("hi"))
  }

  /** Read a digest row as (rows, "lo:hi"). */
  def readDigest(r: org.apache.spark.sql.Row): (Long, String) = {
    val lo = if (r.isNullAt(1)) 0L else r.getLong(1)
    val hi = if (r.isNullAt(2)) 0L else r.getLong(2)
    (r.getLong(0), f"$lo%x:$hi%x")
  }

  // ------------------------------------------------------------ row files

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def writeRows(f: File, rows: Seq[RowInfo]): Unit = {
    val body = rows.sortBy(_.name).map { r =>
      s"""  {"name": ${q(r.name)}, "workload": ${q(r.workload)}, "build_jobs": ${r.buildJobs}, """ +
        s""""rebuild_jobs": ${r.rebuildJobs}, "cost_ms": ${r.costMs}, "rows": ${r.rows}, """ +
        s""""digest": ${q(r.digest)}}"""
    }.mkString(",\n")
    Files.write(f.toPath, s"[\n$body\n]\n".getBytes(UTF_8))
  }

  /** Parse the one-object-per-line file `writeRows` writes. */
  def readRows(f: File): Seq[RowInfo] = {
    val Str = "\"([^\"]*)\"".r
    def field(line: String, k: String): String = {
      val i = line.indexOf("\"" + k + "\": ")
      require(i >= 0, s"$k missing in $line")
      val rest = line.substring(i + k.length + 4)
      if (rest.startsWith("\"")) Str.findPrefixMatchOf(rest).get.group(1)
      else rest.takeWhile(c => c != ',' && c != '}').trim
    }
    new String(Files.readAllBytes(f.toPath), UTF_8).split('\n').toSeq
      .filter(_.trim.startsWith("{")).map { l =>
        RowInfo(field(l, "name"), field(l, "workload"), field(l, "build_jobs").toLong,
          field(l, "rebuild_jobs").toLong, field(l, "cost_ms").toLong,
          field(l, "rows").toLong, field(l, "digest"))
      }
  }

  // ------------------------------------------------------------ sampling

  /** A seeded stratified sample, one row per stratum: rows sorted by
    * recorded cost are cut into `strata` blocks of consecutive rows, and
    * the seed picks one row in each block. Every family can land in any
    * draw; the strata keep the sample's cost profile the same for every
    * seed. Each pick carries the recorded costs of its block, which turn
    * its measurements into estimates for the whole block. The order is
    * a seeded shuffle. */
  def sample(rows: Seq[RowInfo], strata: Int, seed: Long): Seq[Pick] = {
    val r = new SplittableRandom(seed)
    val sorted = rows.sortBy(x => (x.costMs, x.name)).toIndexedSeq
    val n = sorted.size
    val k = math.min(strata, n)
    val picks = (0 until k).map { b =>
      val block = sorted.slice(b * n / k, (b + 1) * n / k)
      Pick(block(r.nextInt(block.size)), block.map(_.costMs))
    }
    shuffle(picks, r)
  }

  def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
