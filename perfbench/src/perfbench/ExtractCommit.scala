package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

import graft.core.GoldenFixtures
import graft.pipeline.{ExtractStage, ExtractedPage, Page, PageGen}
import org.apache.spark.sql.{Encoders, SparkSession}

/** extract_commit: the extract stage over the default page mix (chunks at
  * local[cores]), then ExtractPipeline's commits and lookups over a Parquet
  * page table, in rounds, then the first chunks again at local[1] for the
  * scaling ratio.
  */
object ExtractCommit {
  /** Pages of chunk k are PageGen.page(chunkSeed(seed, k), 0 until chunk). */
  def chunkSeed(seed: Long, k: Int): Long = Rng.mix(seed * 0x2545f4914f6cdd1dL + k + 1)

  def chunkPages(cfg: Config): Int = if (cfg.tiny) 400 else 8000
  /** set-ups per run (`setup_s` is their median), and untimed chunks
    * before the timed rounds
    */
  val Setups = 5
  val SettleChunks = 2
  /** timed rounds per run, at least; each is ChunksPerRound chunk jobs, one
    * commit and one lookup cycle. The first commit runs the scan, shuffle,
    * writer and manifest paths cold; the median of four leaves it out.
    */
  val MinRounds = 4
  val ChunksPerRound = 2

  /** Spark-side digest of one chunk, the job's action, with the wall time
    * of each partition's task in milliseconds.
    */
  def sparkDigest(spark: SparkSession, pages: Int, seed: Long, partitions: Int): (String, Seq[Double]) = {
    val parts = ExtractStage.generateAndExtract(spark, pages, seed = seed, partitions = partitions)
      .mapPartitions { it =>
        val t0 = System.nanoTime()
        var n = 0L; var sum = 0L
        it.foreach { p => n += 1; sum += Digest.page(p) }
        Iterator((n, sum, System.nanoTime() - t0))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong))
      .collect()
    (Digest.show(parts.map(_._1).sum, parts.map(_._2).sum), parts.map(_._3 / 1e6).toSeq)
  }

  /** The same digest computed without Spark, in a parallel stream. */
  def jvmDigest(pages: Int, seed: Long): String = {
    val sum = java.util.stream.IntStream.range(0, pages).parallel()
      .mapToLong(i => Digest.page(ExtractStage.processOne(PageGen.page(seed, i.toLong)))).sum()
    Digest.show(pages.toLong, sum)
  }

  def run(cfg: Config, tr: Tracer, res: Result): Unit = {
    val chunk = chunkPages(cfg)
    // four tasks a core per chunk job, so a core that stalls holds up less
    val partitions = 4 * cfg.cores
    val n = CommitLookup.pageCount(cfg)
    val (spark, input, setupS, buildS) = Common.setups(cfg, tr, Setups) { (s, k) =>
      // JIT warm-up on pages no timed chunk uses, then the input table
      sparkDigest(s, chunk / 2, chunkSeed(cfg.seed, -1 - k), partitions)
      val dir = cfg.work.resolve(s"input$k")
      ExtractStage.generatePages(s, n, seed = cfg.seed, partitions = 2 * cfg.cores).write.parquet(dir.toString)
      dir
    }
    val heapSetup = Heap.liveMb()

    // settle: untimed chunks, so the timed loop starts at steady state
    tr.span("settle", "phase") {
      (1 to SettleChunks).foreach(k => sparkDigest(spark, chunk, chunkSeed(cfg.seed, -10 - k), partitions))
    }

    // rounds of two chunk jobs at local[cores], one commit and one lookup
    // cycle, so each metric's samples spread over the whole timed part
    val budget = (cfg.seconds * 1e9).toLong
    val start = System.nanoTime()
    val ms4 = ArrayBuffer.empty[Double]
    val digests4 = ArrayBuffer.empty[String]
    val taskMs = ArrayBuffer.empty[Double]
    val steps = new CommitLookupRun(cfg, tr, res, spark, input)
    var round = 0
    while (round < MinRounds || System.nanoTime() - start < budget) {
      tr.span(s"round$round", "phase") {
        (0 until ChunksPerRound).foreach { _ =>
          val k = ms4.length
          val ((d, tasks), ms) = tr.span(s"chunk$k", "op") {
            Common.timed(sparkDigest(spark, chunk, chunkSeed(cfg.seed, k), partitions))
          }
          res.check(s"chunk $k job")(d.startsWith(s"$chunk:"))
          ms4 += ms; digests4 += d; taskMs ++= tasks
        }
        steps.commit()
        steps.lookupCycle()
      }
      round += 1
    }
    val stageSpans = tr.spans.filter(s => s.layer == "op" && s.name.startsWith("chunk"))
    val (commitS, point) = tr.span("commit_lookup", "phase")(steps.finish())
    val heapRun = Heap.liveMb()
    spark.stop()

    // local[1]: the first chunks again, same pages
    val spark1 = Common.session(cfg, 1)
    tr.attach(spark1)
    val ms1 = ArrayBuffer.empty[Double]
    tr.span("local1", "phase") {
      while (ms1.length < math.min(2, ms4.length)) {
        val k = ms1.length
        val ((d, _), ms) = tr.span(s"chunk$k@1", "op") {
          Common.timed(sparkDigest(spark1, chunk, chunkSeed(cfg.seed, k), partitions))
        }
        res.check(s"chunk $k local[1] digest = local[${cfg.cores}] digest")(d == digests4(k))
        ms1 += ms
      }
    }

    // after the timed loops: the fixtures' edge documents send the JIT down
    // new paths, and chunks timed right after them ran up to 3x slower
    tr.span("golden", "check")(Golden.check(spark1, res))
    tr.span("digests", "check") {
      res.check("chunk 0 digest = recompute without Spark")(jvmDigest(chunk, chunkSeed(cfg.seed, 0)) == digests4(0))
      res.digest(s"extract_commit/seed=${cfg.seed}/pages=$chunk/chunk0", digests4(0), cfg.recorded)
    }
    val corePages = if (cfg.tiny) 100 else 600
    if (cfg.trace) tr.span("core_pass", "phase")(CorePass.run(cfg, tr, res, chunkSeed(cfg.seed, 0), corePages))

    val rate4 = ms4.map(ms => chunk / (ms / 1e3))
    val rate1 = ms1.map(ms => chunk / (ms / 1e3))
    val docsPerS = Stats.median(rate4.toSeq)
    val scaling = Stats.median(rate4.take(ms1.length).toSeq) / (cfg.cores * Stats.median(rate1.toSeq))
    val (tail, pct) = Stats.tail(taskMs.toSeq)
    val heap = math.max(heapSetup, heapRun)
    res.e2e("setup_s") = (Stats.median(setupS), "s")
    res.e2e("throughput_per_s") = (docsPerS, "1/s")
    res.e2e("latency_ms_p50") = (Stats.median(point), "ms")
    res.e2e("batch_s") = (Stats.median(commitS), "s")
    res.e2e("heap_peak_mb") = (heap, "MB")
    res.report("setup_s") = (Stats.median(setupS), "s", setupS.length,
      s"median set-up: session start + JIT warm-up + writing the $n-page input table; each: " +
        setupS.map(x => f"$x%.2f").mkString(", ") + " s")
    res.report("extract_docs_per_s") = (docsPerS, "docs/s", ms4.length,
      s"median over chunk jobs of $chunk pages at local[${cfg.cores}]")
    res.report("extract_scaling_1to4") = (scaling, "ratio", ms1.length,
      s"docs/s at local[${cfg.cores}] / (${cfg.cores} x docs/s at local[1]) on the same ${ms1.length} chunks")
    res.report("extract_task_ms_p50") = (Stats.median(taskMs.toSeq), "ms", taskMs.length,
      s"one task: ${chunk / partitions} pages generated and extracted")
    res.report("extract_task_ms_tail") = (tail, "ms", taskMs.length, f"p$pct%.0f")
    res.report("heap_peak_mb") = (heap, "MB", 2, "old gen after full GC, after set-up and after the timed loops")

    res.layer("setup.build_s") = (Stats.median(buildS), "s")
    res.layer("extract.scaling_1to4") = (scaling, "ratio")
    if (cfg.trace) Layers.stage(cfg, tr, res, stageSpans.toSeq)
  }
}

/** The golden fixtures, run through the same stage as a one-partition
  * Dataset, must come out byte-identical: text and structured record.
  */
object Golden {
  def render(p: ExtractedPage): String = {
    import GoldenFixtures.jsonEscape
    val spans = p.spans.map(s => s"""{"label":"${jsonEscape(s.label)}","start":${s.start},"end":${s.end}}""").mkString("[", ",", "]")
    val products = p.products.map { q =>
      s"""{"goods_description":"${jsonEscape(q.goods_description)}","hsn_sac_code":"${jsonEscape(q.hsn_sac_code)}",""" +
        s""""quantity":"${jsonEscape(q.quantity)}","weight":"${jsonEscape(q.weight)}",""" +
        s""""weight_in_kg":${q.weight_in_kg.map(_.toString).getOrElse("null")},""" +
        s""""rate":"${jsonEscape(q.rate)}","amount":"${jsonEscape(q.amount)}"}"""
    }.mkString("[", ",", "]")
    val conf = p.confidence.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${jsonEscape(k)}":$v""" }.mkString("{", ",", "}")
    s"""{"url":"${jsonEscape(p.url)}","success":${p.success},"pattern_used":"${jsonEscape(p.pattern_used)}",""" +
      s""""company_name":"${jsonEscape(p.company_name)}","invoice_number":"${jsonEscape(p.invoice_number)}",""" +
      s""""fssai_number":"${jsonEscape(p.fssai_number)}","invoice_date":"${jsonEscape(p.invoice_date)}",""" +
      s""""spans":$spans,"products":$products,"confidence":$conf}"""
  }

  def check(spark: SparkSession, res: Result): Unit = {
    import spark.implicits._
    val epoch = new java.sql.Timestamp(0L)
    val rows = GoldenFixtures.pinnedRows.map(i => (s"row$i", PageGen.page(GoldenFixtures.seed, i))) ++
      GoldenFixtures.edgeByteDocs.map { case (n, b) => (s"edge_$n", Page(s"edge://$n", epoch, b, "", "")) }
    val byUrl = ExtractStage.run(spark.createDataset(rows.map(_._2)).repartition(1))
      .collect().map(p => p.url -> p).toMap
    rows.foreach { case (name, page) =>
      res.check(s"golden $name") {
        val p = byUrl(page.url)
        val txt = Files.readAllBytes(GoldenFixtures.dir.resolve(s"$name.txt"))
        val json = Files.readAllBytes(GoldenFixtures.dir.resolve(s"$name.json"))
        java.util.Arrays.equals(txt, p.extracted_text.getBytes(UTF_8)) &&
          java.util.Arrays.equals(json, render(p).getBytes(UTF_8))
      }
    }
  }
}

/** splitmix64, the benchmark's own generator (independent of the program). */
object Rng {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def at(seed: Long, i: Long): Long = mix(seed ^ mix(i))
  def below(seed: Long, i: Long, n: Int): Int = java.lang.Math.floorMod(at(seed, i), n.toLong).toInt
  def unit(seed: Long, i: Long): Double = (at(seed, i) >>> 11) * 1.1102230246251565e-16
}
