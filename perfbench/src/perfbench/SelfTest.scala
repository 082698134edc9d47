package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

/** The benchmark's own checks:
  *
  *  - classification guard: every row of `SparkEntry.queries` and
  *    `RawBuilds.map` sits in exactly one workload list, and the lists
  *    name no other row;
  *  - generator: the same seed writes byte-identical corpora and
  *    expected outputs, another seed different ones, and the expected
  *    outputs equal a naive recount of the written files; the tables
  *    generator is deterministic too and its tables load with the
  *    testdata schemas.
  */
object SelfTest {
  def run(a: Args): Int = {
    val failures = mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }

    // classification guard
    val rows = Inventory.readRows(a.rowsFile)
    val lists = Seq(Inventory.Analytic, Inventory.BuildRead)
      .map(w => w -> rows.filter(_.workload == w).map(_.name).toSet).toMap
    val inventory = Inventory.all.keySet
    val unlisted = inventory.filterNot(n => lists.values.exists(_(n)))
    val twice = inventory.filter(n => lists.values.count(_(n)) > 1) ++
      rows.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    val unknown = rows.map(_.name).toSet -- inventory
    val otherWorkload = rows.filterNot(r => lists.contains(r.workload)).map(_.name)
    check(unlisted.isEmpty, s"every row is in a workload list (missing: ${unlisted.toSeq.sorted.mkString(", ")})")
    check(twice.isEmpty, s"no row is in both lists or twice (${twice.toSeq.sorted.mkString(", ")})")
    check(unknown.isEmpty, s"the lists name no unknown row (${unknown.toSeq.sorted.mkString(", ")})")
    check(otherWorkload.isEmpty, s"every listed workload is known (${otherWorkload.mkString(", ")})")
    check(graft.RawBuilds.map.keys.forall(lists(Inventory.BuildRead)),
      "every raw build is in build_then_read")

    // corpus generator
    val dir = new File(a.work, "selftest")
    def corpus(tag: String, seed: Long) = Gen.corpus(new File(dir, tag), seed, 2, 60000)
    val c1 = corpus("a", 7L)
    val c2 = corpus("b", 7L)
    val c3 = corpus("c", 8L)
    def bytes(c: Gen.Corpus) = c.files.map(f => Files.readAllBytes(f.toPath).toSeq)
    check(bytes(c1) == bytes(c2), "same seed writes byte-identical corpus files")
    check(c1.wordCount == c2.wordCount && c1.logReport == c2.logReport,
      "same seed gives identical expected outputs")
    check(bytes(c1) != bytes(c3), "another seed writes different corpus files")
    check(c1.wordCount.toSet != c3.wordCount.toSet, "another seed gives different expected counts")
    for ((c, tag) <- Seq(c1 -> "seed 7", c3 -> "seed 8")) {
      check(c.wordCount.sorted == recountWords(c.prose).sorted,
        s"word_count expectation equals a naive recount ($tag)")
      check(c.logReport.sorted == recountLogs(c.logs).sorted,
        s"log_analyzer expectation equals a naive recount ($tag)")
    }
    check(recountWords(c1.prose).map(_._1).distinct.size > 20,
      "prose spreads over many reducers")

    // tables generator
    def tables(tag: String, seed: Long) = {
      Gen.tables(new File(dir, tag).getPath, 0.0005, seed)
      graft.Tables.names.map(t => Files.readAllBytes(new File(dir, s"$tag/$t.parquet").toPath).toSeq)
    }
    val t1 = tables("ta", 5L)
    check(t1 == tables("tb", 5L), "same seed writes byte-identical tables")
    check(t1 != tables("tc", 6L), "another seed writes different tables")
    val spark = Main.session()
    for ((t, want) <- TableSchemas) {
      val got = graft.Tables.t(spark, new File(dir, "ta").getPath, t).schema
        .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
      check(got == want, s"$t loads with the testdata schema ($got)")
    }
    spark.stop()
    Main.deleteTree(dir)

    println(if (failures.isEmpty) "selftest: all checks passed"
      else s"selftest: ${failures.size} checks FAILED")
    if (failures.isEmpty) 0 else 1
  }

  /** The schemas of the project's parquet testdata, as Spark reads them. */
  val TableSchemas: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey:int,r_name:string",
    "nation" -> "n_nationkey:int,n_name:string,n_regionkey:int",
    "customer" -> "c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string",
    "supplier" -> "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double",
    "part" -> ("p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int," +
      "p_retailprice:double"),
    "orders" -> ("o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,o_totalprice:double," +
      "o_orderdate:timestamp,o_orderpriority:string"),
    "lineitem" -> ("l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double," +
      "l_returnflag:string,l_linestatus:string,l_shipdate:timestamp"),
    "events" -> "event_id:bigint,ts:timestamp,user_id:bigint,event_type:string,value:double,props:string",
    "documents" -> "doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint",
    "embeddings" -> "vec_id:bigint,embedding:array<float>,label:int")

  private def lines(fs: Seq[File]): Seq[String] =
    fs.flatMap(f => new String(Files.readAllBytes(f.toPath), UTF_8).split('\n'))

  /** Word counts by reading the files back: lower-case, split on white
    * space, drop everything but letters and digits. */
  def recountWords(fs: Seq[File]): Seq[(Int, String)] = {
    val n = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    for (l <- lines(fs); t <- l.toLowerCase.split("[ \t]+") if t.nonEmpty)
      n(t.filter(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))) += 1
    n.toSeq.map { case (w, c) => (Gen.firstByte(w) % 26, "%-12s :: %4d".format(w, c)) }
  }

  /** Crawler report by reading the log lines back and parsing each URL
    * with java.net.URI. */
  def recountLogs(fs: Seq[File]): Seq[(Int, String)] = {
    val crawlers = mutable.HashMap.empty[(Int, String), Int].withDefaultValue(0)
    val domains = mutable.HashMap.empty[(Int, String), Int].withDefaultValue(0)
    val urls = mutable.Set.empty[(Int, String)]
    for (l <- lines(fs); t = l.split(' ') if t.length >= 4) {
      val rid = Gen.firstByte(t(2)) % 10
      val u = new java.net.URI(if (t(3).contains("://")) t(3) else "http://" + t(3))
      val host = u.getHost
      val domain =
        if (host.head.isDigit) host
        else if (host.count(_ == '.') > 1) host.substring(host.indexOf('.') + 1) else host
      crawlers((rid, t(2))) += 1
      domains((rid, domain)) += 1
      val path = Option(u.getPath).getOrElse("").stripPrefix("/")
      if (path.nonEmpty) urls += ((rid, domain + path))
    }
    def top(m: mutable.Map[(Int, String), Int], rid: Int, k: Int) =
      m.toSeq.filter(_._1._1 == rid).sortBy { case ((_, key), c) => (-c, key) }.take(k)
        .map("    - " + _._1._2)
    (0 until 10).flatMap { rid =>
      val doms = domains.keys.count(_._1 == rid)
      val td = top(domains, rid, 10)
      val tc = top(crawlers, rid, 5)
      (Seq(s"* Unique URLs:    ${urls.count(_._1 == rid) + doms}", s"* Unique Domains: $doms") ++
        (if (td.isEmpty) Nil else s"* Top ${td.size} Websites:" +: td) ++
        (if (tc.isEmpty) Nil else s"* Top ${tc.size} Crawlers:" +: tc)).map(rid -> _)
    }
  }
}
