package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable


/** Seeded input generators. Every generator is a pure function of its
  * seed and size: the same arguments write byte-identical files.
  *
  * `tables` writes the ten parquet tables the declared queries read
  * (`graft.Tables.names`), with the schemas and value domains of the
  * project's parquet testdata. `corpus` writes the text inputs of the
  * two MapReduce jobs and returns the outputs those jobs must produce,
  * derived from what was written.
  */
object Gen {

  // ---------------------------------------------------------------- tables

  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val PartAdj = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val PartNoun = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val DocWords = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private val Day = 86400000000L // micros
  private val Epoch1995 = 788918400000000L // 1995-01-01T00:00:00Z in micros
  private val Epoch2024 = 1704067200000000L // 2024-01-01T00:00:00Z in micros

  /** Row counts per table at scale factor `sf` (sf 0.001 = 6k lineitems). */
  def sizes(sf: Double): Map[String, Int] = {
    def n(base: Int) = math.max(1, math.round(base * sf * 1000).toInt)
    Map("customer" -> n(150), "supplier" -> math.max(10, n(10)),
      "part" -> n(200), "orders" -> n(1500), "events" -> n(1000),
      "documents" -> 500, "embeddings" -> 500)
  }

  /** Write the ten tables as one parquet file each under `dir`. The
    * files are written directly with the parquet library (no Spark job),
    * with the physical types Spark writes for these schemas. */
  def tables(dir: String, sf: Double, seed: Long): Unit = {
    val sz = sizes(sf)
    val root = new SplittableRandom(seed)
    def write(name: String, cols: Seq[(String, String)], rows: Seq[Seq[Any]]): Unit =
      writeParquet(s"$dir/$name.parquet", cols, rows)

    write("region", Seq("r_regionkey" -> "int", "r_name" -> "string"),
      Regions.indices.map(i => Seq(i, Regions(i))))
    write("nation", Seq("n_nationkey" -> "int", "n_name" -> "string", "n_regionkey" -> "int"),
      (0 until 25).map(i => Seq(i, s"NATION_$i", i % 5)))

    val rc = root.split()
    write("customer", Seq("c_custkey" -> "long", "c_name" -> "string", "c_nationkey" -> "int",
      "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      (0 until sz("customer")).map(i => Seq(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), Segments(rc.nextInt(Segments.length)))))

    val rs = root.split()
    write("supplier", Seq("s_suppkey" -> "long", "s_name" -> "string", "s_nationkey" -> "int",
      "s_acctbal" -> "double"),
      (0 until sz("supplier")).map(i => Seq(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))))

    val rp = root.split()
    write("part", Seq("p_partkey" -> "long", "p_name" -> "string", "p_brand" -> "string",
      "p_type" -> "string", "p_size" -> "int", "p_retailprice" -> "double"),
      (0 until sz("part")).map(i => Seq(i.toLong,
        PartAdj(rp.nextInt(PartAdj.length)) + " " + PartNoun(rp.nextInt(PartNoun.length)),
        s"Brand#${1 + rp.nextInt(25)}", PartTypes(rp.nextInt(PartTypes.length)),
        1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0)))

    val ro = root.split()
    val orders = mutable.ArrayBuffer.empty[Seq[Any]]
    val items = mutable.ArrayBuffer.empty[Seq[Any]]
    val span = 2404L // days from 1995-01-01 to 2001-08-01
    for (o <- 0 until sz("orders")) {
      val date = Epoch1995 + ro.nextLong(span) * Day
      orders += Seq(o.toLong, ro.nextInt(sz("customer")).toLong,
        Seq("F", "O", "P")(ro.nextInt(3)), money(ro, 1000, 500000),
        date, Priorities(ro.nextInt(Priorities.length)))
      for (ln <- 1 to 1 + ro.nextInt(7)) {
        val qty = 1 + ro.nextInt(50)
        items += Seq(o.toLong, ro.nextInt(sz("part")).toLong, ro.nextInt(sz("supplier")).toLong,
          ln, qty.toDouble, money(ro, 900, 105000), ro.nextInt(11) / 100.0,
          ro.nextInt(9) / 100.0, Seq("A", "N", "R")(ro.nextInt(3)),
          Seq("F", "O")(ro.nextInt(2)), date + (1 + ro.nextInt(121)) * Day)
      }
    }
    write("orders", Seq("o_orderkey" -> "long", "o_custkey" -> "long", "o_orderstatus" -> "string",
      "o_totalprice" -> "double", "o_orderdate" -> "ts", "o_orderpriority" -> "string"),
      orders.toSeq)
    write("lineitem", Seq("l_orderkey" -> "long", "l_partkey" -> "long", "l_suppkey" -> "long",
      "l_linenumber" -> "int", "l_quantity" -> "double", "l_extendedprice" -> "double",
      "l_discount" -> "double", "l_tax" -> "double", "l_returnflag" -> "string",
      "l_linestatus" -> "string", "l_shipdate" -> "ts"), items.toSeq)

    val re = root.split()
    val nEv = sz("events")
    val users = math.max(5, nEv / 66)
    val gap = 30 * Day / nEv
    write("events", Seq("event_id" -> "long", "ts" -> "ts", "user_id" -> "long",
      "event_type" -> "string", "value" -> "double", "props" -> "string"),
      (0 until nEv).map { i =>
        Seq(i.toLong, Epoch2024 + i * gap + re.nextLong(gap), re.nextInt(users).toLong,
          EventTypes(re.nextInt(EventTypes.length)),
          math.round(-math.log(1 - re.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${re.nextInt(100)}}""")
      })

    // documents: word soup over a small vocabulary; one in ten repeats an
    // earlier document with one word changed (near duplicates), and a few
    // end in a run of "dup" tokens
    val rd = root.split()
    val texts = mutable.ArrayBuffer.empty[String]
    val docs = (0 until sz("documents")).map { i =>
      val text =
        if (i > 10 && rd.nextInt(10) == 0) {
          val w = texts(rd.nextInt(texts.length)).split(' ')
          w(rd.nextInt(w.length)) = DocWords(rd.nextInt(DocWords.length))
          w.mkString(" ")
        } else {
          val n = 8 + rd.nextInt(84)
          val w = Array.fill(n)(DocWords(rd.nextInt(DocWords.length)))
          (if (rd.nextInt(16) == 0) w ++ Array.fill(1 + rd.nextInt(3))("dup") else w)
            .mkString(" ")
        }
      texts += text
      Seq(i.toLong, text, Langs(rd.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
    }
    write("documents", Seq("doc_id" -> "long", "text" -> "string", "lang" -> "string",
      "source" -> "string", "n_chars" -> "long"), docs)

    // embeddings: unit vectors in 64 dims around one centroid per label
    val rv = root.split()
    val centroids = Array.fill(10)(unit(Array.fill(64)(gauss(rv))))
    write("embeddings", Seq("vec_id" -> "long", "embedding" -> "floats", "label" -> "int"),
      (0 until sz("embeddings")).map { i =>
        val label = rv.nextInt(10)
        val v = unit(centroids(label).map(c => c + 0.35 * gauss(rv)))
        Seq(i.toLong, v.map(_.toFloat).toSeq, label)
      })
  }

  /** One parquet file with columns of kind int, long, double, string,
    * ts (epoch micros, UTC-adjusted) or floats (a list of non-null floats). */
  private def writeParquet(path: String, cols: Seq[(String, String)], rows: Seq[Seq[Any]]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val fields = cols.map { case (n, k) => k match {
      case "int" => s"optional int32 $n;"
      case "long" => s"optional int64 $n;"
      case "double" => s"optional double $n;"
      case "string" => s"optional binary $n (STRING);"
      case "ts" => s"optional int64 $n (TIMESTAMP(MICROS,true));"
      case "floats" => s"optional group $n (LIST) { repeated group list { required float element; } }"
    }}
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(fields.mkString("message spark_schema { ", " ", " }"))
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration())
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = new SimpleGroup(schema)
      cols.indices.foreach { i =>
        (cols(i)._2, r(i)) match {
          case ("int", v: Int) => g.add(i, v)
          case ("long" | "ts", v: Long) => g.add(i, v)
          case ("double", v: Double) => g.add(i, v)
          case ("string", v: String) => g.add(i, v)
          case ("floats", v: Seq[_]) =>
            val l = g.addGroup(i)
            v.foreach(f => l.addGroup(0).add(0, f.asInstanceOf[Float]))
          case (k, v) => throw new IllegalArgumentException(s"$k column given $v")
        }
      }
      w.write(g)
    } finally w.close()
  }

  def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the seeded stream (java.util.Random is not splittable)
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  // ---------------------------------------------------------------- corpus

  /** One written corpus: local file paths (prose then logs), and the
    * (reducer, line) outputs word_count and log_analyzer must return. */
  final case class Corpus(prose: Seq[File], logs: Seq[File],
      wordCount: Seq[(Int, String)], logReport: Seq[(Int, String)]) {
    def files: Seq[File] = prose ++ logs
    def bytes: Long = files.map(_.length).sum
  }

  private val Letters = "abcdefghijklmnopqrstuvwxyz"
  private val Crawlers = Array("googlebot", "bingbot", "yandexbot", "baiduspider",
    "duckduckbot", "slurp", "applebot", "facebot", "ahrefsbot", "semrushbot",
    "petalbot", "mj12bot")

  /** Zipf(1.1) rank sampler over `n` items by inverse CDF. */
  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Write `files` prose files and `files` crawler-log files of about
    * `bytesPerFile` bytes each under `dir`, from `seed`.
    *
    * Prose draws words from a Zipf vocabulary whose first letters follow
    * English text, so the jobs' first-byte partitioning is skewed the
    * way real text is. Words are written capitalised, upper-cased or
    * with punctuation attached, plus bare punctuation tokens that
    * normalise to the empty word. Log lines carry a date, a time, a
    * crawler and a URL in one of the shapes the log_analyzer map
    * normalises (scheme or none, sub-domain, numeric host with port,
    * path with query or fragment), plus some short lines it drops.
    * The expected outputs are computed from the parts each line was
    * built from. */
  def corpus(dir: File, seed: Long, files: Int, bytesPerFile: Int): Corpus = {
    dir.mkdirs()
    val root = new SplittableRandom(seed)
    val rv = root.split()
    // first letters weighted like English word starts
    val firsts = "ttttaaaaooossiiiwwwccbbhhmmffppddrrllneguvyjkqxz"
    val vocab = (0 until 4000).map { _ =>
      val len = 2 + rv.nextInt(8)
      (firsts.charAt(rv.nextInt(firsts.length)) +:
        Seq.fill(len - 1)(Letters.charAt(rv.nextInt(26)))).mkString +
        (if (rv.nextInt(8) == 0) rv.nextInt(100).toString else "")
    }.distinct.toArray
    val zipf = new Zipf(vocab.length, 1.1)
    val words = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

    val prose = (0 until files).map { fi =>
      val r = root.split()
      val f = new File(dir, f"prose_$fi%02d.txt")
      writeLines(f, bytesPerFile) { sb =>
        val n = 4 + r.nextInt(16)
        var i = 0
        while (i < n) {
          if (i > 0) sb.append(if (r.nextInt(40) == 0) "\t" else " ")
          r.nextInt(60) match {
            case 0 => sb.append(Seq("--", "...", "&", "*")(r.nextInt(4))); words("") += 1
            case k =>
              val w = vocab(zipf.next(r))
              words(w) += 1
              sb.append(k match {
                case 1 | 2 | 3 => w.capitalize
                case 4 => w.toUpperCase
                case 5 | 6 | 7 | 8 => w + Seq(",", ".", ";", "!", "?", ")")(r.nextInt(6))
                case 9 => "(" + w
                case _ => w
              })
          }
          i += 1
        }
      }
    }
    val wordCount = words.toSeq.map { case (w, n) =>
      (firstByte(w) % 26, "%-12s :: %4d".format(w, n))
    }

    // crawler logs
    val rh = root.split()
    val hosts = (0 until 300).map { i =>
      val name = (0 until 3 + rh.nextInt(8)).map(_ => Letters.charAt(rh.nextInt(26))).mkString
      i % 10 match {
        case 0 => (s"10.${i % 7}.${i % 13}.${i % 251}", true) // numeric host
        case _ => (s"$name.${Seq("com", "org", "net", "io")(rh.nextInt(4))}", false)
      }
    }.distinct.toArray
    val hostZipf = new Zipf(hosts.length, 1.05)
    val crawlerZipf = new Zipf(Crawlers.length, 0.8)
    val paths = Array("", "", "index.html", "about", "blog/post", "shop/item", "a/b/c",
      "search", "docs/api", "news")
    // per reducer: (crawler -> n), (domain -> n), (domain+path -> n)
    val crawlerN = mutable.HashMap.empty[(Int, String), Long].withDefaultValue(0L)
    val domainN = mutable.HashMap.empty[(Int, String), Long].withDefaultValue(0L)
    val urlN = mutable.HashMap.empty[(Int, String), Long].withDefaultValue(0L)
    val logs = (0 until files).map { fi =>
      val r = root.split()
      val f = new File(dir, f"crawl_$fi%02d.log")
      writeLines(f, bytesPerFile) { sb =>
        val day = 1 + r.nextInt(28)
        sb.append(f"2024-03-$day%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d")
        if (r.nextInt(50) == 0) {
          sb.append(' ').append(Crawlers(crawlerZipf.next(r))) // < 4 tokens: dropped
        } else {
          val crawler = Crawlers(crawlerZipf.next(r))
          val (host, numeric) = hosts(hostZipf.next(r))
          val path = paths(r.nextInt(paths.length))
          val scheme = Seq("http://", "https://", "")(r.nextInt(3))
          val shownHost =
            if (numeric) host + (if (r.nextBoolean()) s":${8000 + r.nextInt(100)}" else "")
            else if (r.nextBoolean()) "www." + host else host
          val suffix =
            if (path.isEmpty) "" else "/" + path + (r.nextInt(4) match {
              case 0 => s"?q=${r.nextInt(50)}"
              case 1 => s"#s${r.nextInt(9)}"
              case _ => ""
            })
          sb.append(' ').append(crawler).append(' ').append(scheme + shownHost + suffix)
          val rid = firstByte(crawler) % 10
          crawlerN((rid, crawler)) += 1
          domainN((rid, host)) += 1
          if (path.nonEmpty) urlN((rid, host + path)) += 1
        }
      }
    }
    def top(m: mutable.Map[(Int, String), Long], rid: Int, k: Int): Seq[String] =
      m.toSeq.collect { case ((p, key), n) if p == rid => (key, n) }
        .sortBy { case (key, n) => (-n, key) }.take(k).map(_._1)
    // every reducer reports, an empty one with zero counts
    val logReport = (0 until 10).flatMap { rid =>
      val urls = urlN.keys.count(_._1 == rid)
      val doms = domainN.keys.count(_._1 == rid)
      val td = top(domainN, rid, 10)
      val tc = top(crawlerN, rid, 5)
      (Seq(s"* Unique URLs:    ${urls + doms}", s"* Unique Domains: $doms") ++
        (if (td.isEmpty) Nil else s"* Top ${td.size} Websites:" +: td.map("    - " + _)) ++
        (if (tc.isEmpty) Nil else s"* Top ${tc.size} Crawlers:" +: tc.map("    - " + _)))
        .map(rid -> _)
    }
    Corpus(prose, logs, wordCount, logReport)
  }

  /** First byte of a key, ASCII letters folded to lower case; the empty
    * key counts as a newline (10). */
  def firstByte(k: String): Int =
    if (k.isEmpty) 10
    else {
      val b = k.getBytes(UTF_8)(0) & 0xff
      if (b >= 'A' && b <= 'Z') b + 32 else b
    }

  private def writeLines(f: File, bytes: Int)(line: StringBuilder => Unit): File = {
    val out = new BufferedOutputStream(new FileOutputStream(f), 1 << 16)
    try {
      var written = 0L
      val sb = new StringBuilder
      while (written < bytes) {
        sb.setLength(0)
        line(sb)
        sb.append('\n')
        val b = sb.toString.getBytes(UTF_8)
        out.write(b)
        written += b.length
      }
    } finally out.close()
    f
  }
}
