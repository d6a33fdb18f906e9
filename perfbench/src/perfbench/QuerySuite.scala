package perfbench

import java.time.LocalDateTime
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** query_suite: passes over a fixed list of SparkEntry.queries entries on
  * tables generated from the seed. Each query is built and collected.
  */
object QuerySuite {
  /** Relational, windowed, text, vector and retrieval queries, all with a
    * DuckDB oracle and none served from a session memo, so every pass does
    * the same work.
    */
  val Queries: Seq[String] = Seq(
    "q01_scan_agg", "q04_join_broadcast", "q07_window_lag", "q32_minhash_lsh",
    "q34_knn_brute", "q36_langid", "q113_tfidf_keywords", "q123_hll_distinct")

  /** set-ups per run (`setup_s` is their median), untimed passes after
    * the warm-up, and timed passes at least
    */
  val Setups = 5
  val SettlePasses = 1
  val MinPasses = 4

  def queries(cfg: Config): Seq[String] = if (cfg.tiny) Queries.take(5) else Queries

  def rowsDigest(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach(r => sum += Digest.h64(r.toString))
    Digest.show(rows.length.toLong, sum)
  }

  def run(cfg: Config, tr: Tracer, res: Result): Unit = {
    val names = queries(cfg)
    val sf = if (cfg.tiny) 0.001 else 0.01
    val entries = graft.SparkEntry.queries
    val (spark, dir, setupS, buildS) = Common.setups(cfg, tr, Setups) { (s, k) =>
      val d = cfg.work.resolve(s"tables$k").toString
      TableGen.write(s, d, cfg.seed, sf)
      d
    }
    val heapSetup = Heap.liveMb()

    /** One query: build the DataFrame and collect it. */
    def runQuery(name: String, tag: String): Option[(Array[Row], StructType, Double)] =
      try {
        val ((rows, schema), ms) = tr.span(s"$name$tag", "op") {
          Common.timed { val df = entries(name)(spark, dir); (df.collect(), df.schema) }
        }
        Some((rows, schema, ms))
      } catch { case scala.util.control.NonFatal(e) =>
        res.check(s"$name$tag runs")(throw e)
        None
      }

    // warm-up pass: fills code-generation caches; its results are the
    // reference for the later passes and go to the oracle check
    val reference = LinkedHashMap.empty[String, (Array[Row], StructType)]
    tr.span("warmup", "phase") {
      names.foreach(name => runQuery(name, "@warmup").foreach { case (rows, schema, _) =>
        reference(name) = (rows, schema)
        res.digest(s"query_suite/seed=${cfg.seed}/sf=$sf/$name", rowsDigest(rows), cfg.recorded)
      })
    }
    val digests = reference.map { case (n, (rows, _)) => n -> rowsDigest(rows) }

    /** One pass over every query; each result must equal the warm-up's. */
    def pass(span: String, tag: String, times: Option[LinkedHashMap[String, ArrayBuffer[Double]]]): Unit =
      tr.span(span, "phase") {
        names.foreach { name =>
          runQuery(name, s"@$tag").foreach { case (rows, _, ms) =>
            times.foreach(_.getOrElseUpdate(name, ArrayBuffer.empty) += ms)
            res.check(s"$name pass $tag digest = warm-up digest")(digests.get(name).contains(rowsDigest(rows)))
          }
        }
      }

    // settle: untimed passes, so the timed passes start at steady state
    (0 until SettlePasses).foreach(k => pass(s"settle$k", s"settle$k", None))

    val budget = (cfg.seconds * 1e9).toLong
    val start = System.nanoTime()
    val passS = ArrayBuffer.empty[Double]
    val queryMs = LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val passSpans = ArrayBuffer.empty[Span]
    // at least MinPasses passes; another only if it fits in the run's time
    while (passS.length < MinPasses || System.nanoTime() - start + Stats.median(passS.toSeq) * 1e9 <= budget) {
      val p = passS.length
      val t0 = System.nanoTime()
      pass(s"pass$p", p.toString, Some(queryMs))
      passS += (System.nanoTime() - t0) / 1e9
      if (cfg.trace) passSpans += tr.spans.find(_.name == s"pass$p").get
    }
    val heapRun = Heap.liveMb()
    // the warm-up results, written for the DuckDB oracle check, four at a time
    val resultsDir = cfg.work.resolve("qresults")
    tr.span("export", "check") {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try reference.toSeq.map { case (name, (rows, schema)) =>
        pool.submit(new Runnable {
          def run(): Unit = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(resultsDir.resolve(name).toString)
        })
      }.foreach(_.get())
      finally pool.shutdown()
    }
    res.oracle = Some((dir, resultsDir.toString,
      names.filter(reference.contains).map(n => n -> graft.SparkEntry.oracleSql(n))))
    if (cfg.trace) tr.span("core_pass", "phase")(
      CorePass.run(cfg, tr, res, ExtractCommit.chunkSeed(cfg.seed, 0), if (cfg.tiny) 100 else 600))

    // a typical pass: each query's median over the timed passes, summed
    val perQuery = names.flatMap(queryMs.get).map(ms => Stats.median(ms.toSeq))
    val suiteS = perQuery.sum / 1e3
    val samples = queryMs.values.flatten.toSeq
    val (tail, pct) = Stats.tail(samples)
    val heap = math.max(heapSetup, heapRun)
    res.e2e("setup_s") = (Stats.median(setupS), "s")
    res.e2e("throughput_per_s") = (names.length / suiteS, "1/s")
    res.e2e("latency_ms_p50") = (Stats.median(perQuery), "ms")
    res.e2e("batch_s") = (suiteS, "s")
    res.e2e("heap_peak_mb") = (heap, "MB")
    res.report("setup_s") = (Stats.median(setupS), "s", setupS.length,
      s"median set-up: session start + writing the sf$sf tables; each: " +
        setupS.map(x => f"$x%.2f").mkString(", ") + " s")
    res.report("query_suite_s") = (suiteS, "s", passS.length,
      s"one pass over ${names.length} queries: the sum of each query's median over the timed passes")
    res.report("query_ms_p50") = (Stats.median(perQuery), "ms", samples.length,
      "build + collect of one query: the median of the per-query medians")
    res.report("query_ms_tail") = (tail, "ms", samples.length, f"p$pct%.0f over every timed query")
    res.report("heap_peak_mb") = (heap, "MB", 2, "old gen after full GC, after set-up and after the timed loop")
    res.layer("setup.build_s") = (Stats.median(buildS), "s")

    if (cfg.trace) {
      // per-pass means; a query's idle core time is wall x cores - task run time
      val ops = passSpans.flatMap(p => tr.spans.filter(_.parent == p.id)).toSeq
      val k = math.max(1, passSpans.length).toDouble
      val c = new Counters
      ops.foreach(o => c.add(o.spark))
      val wall = passSpans.map(_.seconds).sum
      res.layer("query.plan_s") = (ops.map(_.planMs).sum / 1e3 / k, "s")
      res.layer("query.jobs") = (c.jobs / k, "count")
      res.layer("query.stages") = (c.stages / k, "count")
      res.layer("query.tasks") = (c.tasks / k, "count")
      res.layer("query.run_s") = (c.runMs / 1e3 / k, "s")
      res.layer("query.idle_core_s") = ((wall * cfg.cores - c.runMs / 1e3) / k, "s")
      res.layer("query.cpu_s") = (c.cpuNs / 1e9 / k, "s")
      res.layer("query.shuffle_bytes") = (c.shuffleWriteBytes / k, "bytes")
      res.layer("query.spill_bytes") = (c.spillBytes / k, "bytes")
      res.layer("query.task_skew") = (Stats.median(ops.map(_.spark.taskSkew)), "ratio")
    }
  }
}

/** The query suite's input tables (the shapes SparkEntry.queries read),
  * generated from the seed at a scale factor.
  */
object TableGen {
  final case class Region(r_regionkey: Int, r_name: String)
  final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
  final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double, c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int, s_acctbal: Double)
  final case class Part(p_partkey: Long, p_name: String, p_brand: String, p_type: String, p_size: Int,
      p_retailprice: Double)
  final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double,
      o_orderdate: LocalDateTime, o_orderpriority: String)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long, l_linenumber: Int,
      l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
      l_returnflag: String, l_linestatus: String, l_shipdate: LocalDateTime)
  final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long, event_type: String, value: Double,
      props: String)
  final case class Document(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  private val words = Array("row", "the", "query", "stream", "fast", "spark", "line", "small", "customer",
    "group", "value", "hash", "batch", "sort", "data", "big", "filter", "dup", "key", "agg", "scan", "slow",
    "table", "part", "a", "merge", "window", "order", "column", "join", "vector")
  private val langs = Array("en", "en", "en", "fr", "de", "es", "zh")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val colors = Array("blue", "hot", "small", "old", "red", "new", "cold", "large")
  private val things = Array("bolt", "gear", "anvil", "ring", "rod", "plate", "widget", "nut")
  private val types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val statuses = Array("F", "O", "P")
  private val returnFlags = Array("A", "N", "R")
  private val lineStatuses = Array("O", "F")

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    import spark.implicits._
    def r(stream: Long, i: Long): Long = Rng.at(seed * 31 + stream, i)
    def below(stream: Long, i: Long, n: Int): Int = java.lang.Math.floorMod(r(stream, i), n.toLong).toInt
    def unit(stream: Long, i: Long): Double = (r(stream, i) >>> 11) * 1.1102230246251565e-16
    def cents(x: Double): Double = math.round(x * 100) / 100.0
    val nCust = (150000 * sf).toInt; val nSupp = (10000 * sf).toInt; val nPart = (200000 * sf).toInt
    val nOrd = (1500000 * sf).toInt; val nLine = (6000000 * sf).toInt; val nEv = (1000000 * sf).toInt
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    def save[T](name: String, rows: Seq[T])(implicit enc: org.apache.spark.sql.Encoder[T]): Unit =
      spark.createDataset(rows).coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")

    save("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Region(i, n) })
    save("nation", (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5)))
    save("customer", (0 until nCust).map(i => Customer(i, f"Customer#$i%09d", below(1, i, 25),
      cents(-999.99 + unit(2, i) * 10999.98), segments(below(3, i, segments.length)))))
    save("supplier", (0 until nSupp).map(i => Supplier(i, f"Supplier#$i%09d", below(4, i, 25),
      cents(-999.99 + unit(5, i) * 10999.98))))
    save("part", (0 until nPart).map(i => Part(i, s"${colors(below(6, i, 8))} ${things(below(7, i, 8))}",
      s"Brand#${1 + below(8, i, 25)}", types(below(9, i, types.length)), 1 + below(10, i, 50),
      900.0 + (i % 1000) / 10.0)))
    save("orders", (0 until nOrd).map(i => Order(i, below(11, i, nCust), statuses(below(12, i, 3)),
      cents(1000 + unit(13, i) * 499000), day0.plusDays(below(14, i, 2404)), priorities(below(15, i, 5)))))
    save("lineitem", (0 until nLine).map(i => LineItem(below(16, i, nOrd), below(17, i, nPart),
      below(18, i, nSupp), 1 + below(19, i, 7), 1 + below(20, i, 50), cents(900 + unit(21, i) * 104000),
      below(22, i, 11) / 100.0, below(23, i, 9) / 100.0, returnFlags(below(24, i, 3)),
      lineStatuses(below(25, i, 2)), day0.plusDays(1 + below(26, i, 2498)))))
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepUs = (30L * 86400L * 1000000L) / math.max(1, nEv)
    save("events", (0 until nEv).map { i =>
      ts = ts.plusNanos(1000L * (1 + (unit(27, i) * 2 * stepUs).toLong))
      Event(i, ts, below(28, i, math.max(10, nEv / 66)), eventTypes(below(29, i, 5)),
        cents(0.01 + unit(30, i) * 490), s"""{"k": ${below(31, i, 100)}}""")
    })
    save("documents", (0 until 500).map { i =>
      val text = (0 until 8 + below(32, i, 85)).map(w => words(below(33, i * 1000L + w, words.length)))
        .mkString(" ")
      Document(i, text, langs(below(34, i, langs.length)), s"src${i % 20}", text.length.toLong)
    })
    val centroids = Array.tabulate(10, 64)((l, d) => (unit(35, l * 64L + d) - 0.5).toFloat)
    save("embeddings", (0 until 500).map { i =>
      val label = below(36, i, 10)
      val v = Array.tabulate(64)(d => centroids(label)(d) + 0.6f * (unit(37, i * 64L + d) - 0.5).toFloat)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      Embedding(i, v.map(_ / norm), label)
    })
  }
}
