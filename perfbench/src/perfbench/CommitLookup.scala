package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

import graft.pipeline.{ExtractPipeline, ExtractStage, ExtractedPage, Page, PageGen}
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Constants and helpers of extract_commit's commit and lookup steps. */
object CommitLookup {
  val Buckets = 32
  val Snapshots = 4

  def pageCount(cfg: Config): Int = if (cfg.tiny) 1000 else 4000

  /** What the generator says about page i: url, warc day, hidden bucket. */
  final case class Meta(url: String, day: Long, bucket: Int)

  def meta(seed: Long, n: Int): Array[Meta] = Array.tabulate(n) { i =>
    val p = PageGen.page(seed, i.toLong)
    val h = XxHash64Function.hash(UTF8String.fromString(p.url), StringType, 42L)
    Meta(p.url, Math.floorDiv(p.warc_ts.getTime, 86400000L), java.lang.Math.floorMod(h, Buckets.toLong).toInt)
  }

  /** The user-visible fields of an extracted row, as one comparable string. */
  def canon(p: ExtractedPage): String =
    Seq(p.url, p.success, p.error, p.pattern_used, p.extracted_text,
      p.spans.map(s => s"${s.label}:${s.start}:${s.end}").mkString(","),
      p.company_name, p.invoice_number, p.fssai_number, p.invoice_date,
      p.products.map(q => Seq(q.goods_description, q.hsn_sac_code, q.quantity, q.weight,
        q.original_weight, q.weight_in_kg, q.rate, q.amount).mkString("|")).mkString(";"),
      p.confidence.toSeq.sorted.mkString(","), p.text_length, p.n_products, p.title,
      p.canonical_url, p.noindex).mkString("\u0001")

  def canon(r: Row): String = {
    def opt(v: Any): Any = if (v == null) None else Some(v)
    Seq(r.getAs[String]("url"), r.getAs[Boolean]("success"), r.getAs[String]("error"),
      r.getAs[String]("pattern_used"), r.getAs[String]("extracted_text"),
      r.getAs[scala.collection.Seq[Row]]("spans").map(s => s"${s.getString(0)}:${s.getInt(1)}:${s.getInt(2)}").mkString(","),
      r.getAs[String]("company_name"), r.getAs[String]("invoice_number"),
      r.getAs[String]("fssai_number"), r.getAs[String]("invoice_date"),
      r.getAs[scala.collection.Seq[Row]]("products").map(q => Seq(q.getString(0), q.getString(1),
        q.getString(2), q.getString(3), q.getString(4), opt(q.get(5)), q.getString(6), q.getString(7))
        .mkString("|")).mkString(";"),
      r.getAs[scala.collection.Map[String, Double]]("confidence").toSeq.sorted.mkString(","),
      r.getAs[Int]("text_length"), r.getAs[Int]("n_products"), r.getAs[String]("title"),
      r.getAs[String]("canonical_url"), r.getAs[Boolean]("noindex")).mkString("\u0001")
  }

  def tableDigest(df: DataFrame): String = {
    val parts = df.select("url", "extracted_text", "spans").mapPartitions { it =>
      var n = 0L; var sum = 0L
      it.foreach { r => n += 1; sum += Digest.pageRow(r) }
      Iterator((n, sum))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    Digest.show(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  def listing(dir: Path): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.size(p)).toSeq.sorted
    finally st.close()
  }

  def filesRead(df: DataFrame): Double = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collect { case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L) }
      .sum.toDouble
  }

}

/** The commit and lookup steps of one extract_commit run, over the Parquet
  * input table at `input`. Each `commit` writes the table into a fresh
  * directory; each `lookupCycle` runs six single-client reads on the first
  * committed table; `finish` checks the resume no-op, compacts the manifest,
  * checks every committed table and reports.
  */
final class CommitLookupRun(cfg: Config, tr: Tracer, res: Result, spark: SparkSession, input: Path) {
  import CommitLookup._
  import spark.implicits._

  private val n = pageCount(cfg)
  private val meta = tr.span("generator_meta", "check")(CommitLookup.meta(cfg.seed, n))
  private val days = meta.map(_.day).distinct.sorted
  private def pages = spark.read.parquet(input.toString).as[Page]

  private val outs = ArrayBuffer.empty[Path]
  private val commitMs = ArrayBuffer.empty[Double]
  private val commitSpans = ArrayBuffer.empty[Span]
  private val point = ArrayBuffer.empty[Double]; private val prefix = ArrayBuffer.empty[Double]
  private val range = ArrayBuffer.empty[Double]; private val asOf = ArrayBuffer.empty[Double]
  private val files = ArrayBuffer.empty[Double]
  private val pointSpans = ArrayBuffer.empty[Span]
  private var cycles = 0
  private lazy val snapshots = ExtractPipeline.snapshotHistory(table).map(_._1)

  private def table: String = outs.head.toString

  /** One timed ExtractPipeline.run into a fresh table. */
  def commit(): Unit = {
    val k = outs.length
    val out = cfg.work.resolve(s"out$k")
    val (lineage, ms) = tr.span(s"run$k", "op") {
      Common.timed(ExtractPipeline.run(spark, pages, out.toString, numBuckets = Buckets, snapshotGroups = Snapshots))
    }
    if (cfg.trace) commitSpans += tr.spans.last
    res.check(s"commit $k lineage covers every page")(
      lineage.map(_.input_rows).sum == n && lineage.map(l => l.ok_rows + l.fail_rows).sum == n)
    outs += out; commitMs += ms
  }

  /** Five point lookups, then a prefix miss, a day range or an as-of read
    * in turn, on the first committed table.
    */
  def lookupCycle(): Unit = {
    if (cycles == 0) tr.span("settle_lookups", "phase") {
      (0 until 2).foreach(k => ExtractPipeline.pointLookup(spark, table, meta(k).url, Buckets).collect())
    }
    val groupSize = Buckets / Snapshots
    (6 * cycles until 6 * (cycles + 1)).foreach { j =>
      val i = Rng.below(cfg.seed, j.toLong, n)
      val m = meta(i)
      j % 6 match {
        case k if k < 5 =>
          val ((df, rows), ms) = tr.span(s"point$j", "op") {
            Common.timed { val df = ExtractPipeline.pointLookup(spark, table, m.url, Buckets); (df, df.collect()) }
          }
          point += ms
          if (cfg.trace) { pointSpans += tr.spans.last; files += filesRead(df) }
          val want = canon(ExtractStage.processOne(PageGen.page(cfg.seed, i.toLong)))
          res.check(s"point lookup $j row = processPage")(rows.length == 1 && canon(rows(0)) == want)
        case _ if cycles % 3 == 0 =>
          val pre = m.url.stripSuffix(".html")
          val (rows, ms) = tr.span(s"prefix$j", "op") {
            Common.timed(ExtractPipeline.lookupWithPrefixFallback(spark, table, pre, Buckets)
              .select("url").collect().map(_.getString(0)))
          }
          prefix += ms
          res.check(s"prefix lookup $j rows")(rows.sorted.sameElements(meta.map(_.url).filter(_.startsWith(pre)).sorted))
        case _ if cycles % 3 == 1 =>
          val d0 = days(Rng.below(cfg.seed ^ 0x6a09e667L, j.toLong, days.length))
          val from = java.time.LocalDate.ofEpochDay(d0); val to = from.plusDays(1)
          val (rows, ms) = tr.span(s"day_range$j", "op") {
            Common.timed(ExtractPipeline.readDayRange(spark, table, from.toString, to.toString)
              .select("url").collect().length)
          }
          range += ms
          res.check(s"day range $j rows")(rows == meta.count(x => x.day >= d0 && x.day <= d0 + 1))
        case _ =>
          val g = (cycles / 3) % snapshots.length
          val (rows, ms) = tr.span(s"as_of$j", "op") {
            Common.timed(ExtractPipeline.readAsOf(spark, table, snapshots(g)).select("url").collect().length)
          }
          asOf += ms
          res.check(s"as-of $j rows")(rows == meta.count(_.bucket < groupSize * (g + 1)))
      }
    }
    cycles += 1
  }

  /** The resume no-op, compaction and table checks, then the report.
    * Returns the commit times in seconds and the point-lookup latencies in
    * milliseconds.
    */
  def finish(): (Seq[Double], Seq[Double]) = {
    val out = outs.head
    val before = listing(out)
    val (again, resumeMs) = tr.span("resume", "op") {
      Common.timed(ExtractPipeline.run(spark, pages, table, numBuckets = Buckets, snapshotGroups = Snapshots))
    }
    res.check("resume commits nothing")(again.isEmpty && listing(out) == before)

    val (folded, compactMs) = tr.span("compact", "op")(Common.timed(ExtractPipeline.compactManifest(table)))
    val (committed, bucketsMs) = tr.span("committed_buckets", "op")(Common.timed(ExtractPipeline.committedBuckets(table)))
    res.check("compaction folds every snapshot")(folded == snapshots.length && committed == (0 until Buckets).toSet)

    tr.span("digests", "check") {
      val direct = tableDigest(ExtractStage.run(pages).toDF())
      outs.zipWithIndex.foreach { case (o, k) =>
        val stored = tableDigest(ExtractPipeline.readOutput(spark, o.toString))
        res.check(s"committed table $k digest = extract stage digest")(stored == direct && stored.startsWith(s"$n:"))
      }
      res.digest(s"extract_commit/seed=${cfg.seed}/pages=$n/table", direct, cfg.recorded)
    }
    val inBytes = Common.fileBytes(input, ".parquet")._1
    val (outBytes, outFiles) = Common.fileBytes(out.resolve("data"), ".parquet")
    val ratio = outBytes.toDouble / inBytes
    val commitMed = Stats.median(commitMs.toSeq)
    val rate = n / (commitMed / 1e3)
    val (tail, pct) = Stats.tail(point.toSeq)
    res.report("commit_docs_per_s") = (rate, "docs/s", commitMs.length,
      s"$n pages per ExtractPipeline.run ($Buckets buckets, $Snapshots snapshots), median commit")
    res.report("commit_bytes_per_input_byte") = (ratio, "ratio", 1, s"$outBytes committed / $inBytes input parquet bytes")
    res.report("lookup_ms_p50") = (Stats.median(point.toSeq), "ms", point.length, "pointLookup, one client")
    res.report("lookup_ms_tail") = (tail, "ms", point.length, f"p$pct%.0f")
    res.layer("commit.bytes_per_input_byte") = (ratio, "ratio")
    res.layer("commit.output_files") = (outFiles.toDouble, "count")
    res.layer("commit.resume_noop_ms") = (resumeMs, "ms")
    res.layer("manifest.compact_ms") = (compactMs, "ms")
    res.layer("manifest.committed_buckets_ms") = (bucketsMs, "ms")
    res.layer("lookup.point_ms") = (Stats.median(point.toSeq), "ms")
    res.layer("lookup.prefix_miss_ms") = (Stats.median(prefix.toSeq), "ms")
    res.layer("lookup.day_range_ms") = (Stats.median(range.toSeq), "ms")
    res.layer("lookup.as_of_ms") = (Stats.median(asOf.toSeq), "ms")
    res.layer("commit.run_s") = (commitMed / 1e3, "s")
    if (cfg.trace) {
      // per commit
      val c = new Counters
      commitSpans.foreach(s => c.add(tr.subtree(s)))
      val k = math.max(1, commitSpans.length).toDouble
      res.layer("commit.input_read_bytes") = (c.inputBytes / k, "bytes")
      res.layer("commit.shuffle_write_bytes") = (c.shuffleWriteBytes / k, "bytes")
      res.layer("commit.output_bytes") = (c.outputBytes / k, "bytes")
      val p = math.max(1, pointSpans.length)
      res.layer("lookup.plan_ms") = (pointSpans.map(_.planMs).sum.toDouble / p, "ms")
      res.layer("lookup.bytes_read") = (pointSpans.map(_.spark.inputBytes).sum.toDouble / p, "bytes")
      res.layer("lookup.files_read") = (Stats.median(files.toSeq), "count")
    }
    (commitMs.map(_ / 1e3).toSeq, point.toSeq)
  }
}
