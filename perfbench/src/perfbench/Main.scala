package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Run settings, all from the command line (see run.py). */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    tiny: Boolean,
    cores: Int,
    work: Path,
    recorded: Map[String, String])

/** Everything a run reports. Every check is one attempted operation. */
final class Result {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val e2e = LinkedHashMap.empty[String, (Double, String)]
  val layer = LinkedHashMap.empty[String, (Double, String)]
  /** the named metrics of the report lines: value, unit, sample count, note */
  val report = LinkedHashMap.empty[String, (Double, String, Int, String)]
  val digests = LinkedHashMap.empty[String, String]
  var oracle: Option[(String, String, Seq[(String, String)])] = None

  def check(what: String)(ok: => Boolean): Boolean = {
    attempted += 1
    val good = try ok catch {
      case NonFatal(e) => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!good) {
      failed += 1
      if (!failures.exists(_.startsWith(what + ":"))) failures += what
    }
    good
  }

  /** Compares `observed` with the digest recorded for `key`, if any. */
  def digest(key: String, observed: String, recorded: Map[String, String]): Unit = {
    digests(key) = observed
    recorded.get(key).foreach(want => check(s"recorded digest $key")(want == observed))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile); with fewer than eleven samples, the maximum.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.length < 11) (s.last, 100.0)
    else (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }
}

/** Order-insensitive digests: the wrapping sum of a 64-bit hash per row. */
object Digest {
  import scala.util.hashing.MurmurHash3.stringHash

  def h64(s: String): Long =
    if (s == null) 0x5bd1e995L
    else (stringHash(s, 0x3c6ef372).toLong << 32) ^ (stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  def row(url: String, text: String, spans: String): Long = {
    var h = h64(url) * 0x9e3779b97f4a7c15L
    h = (h ^ h64(text)) * 0xbf58476d1ce4e5b9L
    h = (h ^ h64(spans)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def page(p: graft.pipeline.ExtractedPage): Long =
    row(p.url, p.extracted_text, p.spans.map(s => s"${s.label}:${s.start}:${s.end}").mkString(","))

  def pageRow(r: org.apache.spark.sql.Row): Long =
    row(r.getAs[String]("url"), r.getAs[String]("extracted_text"),
      r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("spans")
        .map(s => s"${s.getString(0)}:${s.getInt(1)}:${s.getInt(2)}").mkString(","))

  def show(n: Long, sum: Long): String = f"$n:$sum%016x"
}

/** Machine context that runs no repo code: a fixed integer loop and a fixed
  * file write/read round trip. Recorded beside every run, never a gate.
  */
object HostControl {
  def cpuMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    if (acc == 42) println("") // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e6
  }

  def ioMs(dir: Path): Double = {
    val f = dir.resolve("host-control.bin")
    val block = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val t0 = System.nanoTime()
    val ch = java.nio.channels.FileChannel.open(f,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE,
      java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    try {
      (0 until 32).foreach(_ => ch.write(java.nio.ByteBuffer.wrap(block)))
      ch.force(true)
    } finally ch.close()
    val in = Files.newInputStream(f)
    val buf = new Array[Byte](1 << 20)
    var total = 0L
    try { var n = in.read(buf); while (n > 0) { total += n; n = in.read(buf) } } finally in.close()
    Files.delete(f)
    require(total == 32L << 20)
    (System.nanoTime() - t0) / 1e6
  }
}

object Heap {
  /** Old-generation occupancy right after a full collection, in MB. The
    * second collection runs after Spark's cleaner has released what the
    * first one found unreachable.
    */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    val old = (0 until pools.size).map(pools.get)
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    val used = old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed)
      .getOrElse(java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    used / 1048576.0
  }
}

object Common {
  def session(cfg: Config, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", cfg.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", cfg.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `count` set-ups, each in a fresh session: session start plus
    * `build` (warm-up and input tables). Returns the last session, the last
    * build's value, and the set-up and build times.
    */
  def setups[T](cfg: Config, tr: Tracer, count: Int)(build: (SparkSession, Int) => T)
      : (SparkSession, T, Seq[Double], Seq[Double]) = {
    var spark: SparkSession = null
    var value: Option[T] = None
    val total = ArrayBuffer.empty[Double]
    val builds = ArrayBuffer.empty[Double]
    (0 until count).foreach { k =>
      if (spark != null) spark.stop()
      tr.span(s"setup$k", "setup") {
        val t0 = System.nanoTime()
        spark = session(cfg, cfg.cores)
        tr.attach(spark)
        val t1 = System.nanoTime()
        value = Some(tr.span("build", "phase")(build(spark, k)))
        val t2 = System.nanoTime()
        total += (t2 - t0) / 1e9
        builds += (t2 - t1) / 1e9
      }
    }
    (spark, value.get, total.toSeq, builds.toSeq)
  }

  /** Time of `body` in milliseconds, with its value. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def fileBytes(dir: Path, suffix: String): (Long, Int) = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(dir)) return (0L, 0)
    val st = Files.walk(dir)
    try {
      val fs = st.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(suffix)).toSeq
      (fs.map(Files.size).sum, fs.size)
    } finally st.close()
  }
}

object Main {
  val Workloads = Seq("extract_commit", "query_suite")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv.getOrElse("workload", "")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val work = Paths.get(kv("work"))
    Files.createDirectories(work)
    val recorded = kv.get("digests").map(Paths.get(_)).filter(Files.exists(_))
      .map(p => DigestFile.read(new String(Files.readAllBytes(p), "UTF-8"))).getOrElse(Map.empty)
    val cfg = Config(workload, kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("size", "full") == "tiny",
      Runtime.getRuntime.availableProcessors(),
      work, recorded)
    val tr = new Tracer(cfg.trace, s"$workload-seed${cfg.seed}-${System.currentTimeMillis()}")
    val res = new Result

    val cpuMs = HostControl.cpuMs()
    val ioMs = HostControl.ioMs(work)
    tr.span(workload, "workload") {
      workload match {
        case "extract_commit" => ExtractCommit.run(cfg, tr, res)
        case "query_suite" => QuerySuite.run(cfg, tr, res)
      }
    }
    SparkSession.getActiveSession.foreach(_.stop())

    res.layer("host.cpu_ms") = (cpuMs, "ms")
    res.layer("host.io_ms") = (ioMs, "ms")
    if (cfg.trace) {
      val self = tr.selfSecondsByLayer
      Seq("workload", "setup", "phase", "op", "check", "core").foreach { l =>
        res.layer(s"trace.self_${l}_s") = (self.getOrElse(l, 0.0), "s")
      }
      tr.write(work.resolve("spans.json"))
    }
    Layers.complete(res)
    println(output(res))
  }

  private def metricsJson(m: scala.collection.Map[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

  def output(res: Result): String = {
    val report = res.report.map { case (k, (v, u, n, note)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u","n":$n,"note":"${Json.esc(note)}"}"""
    }.mkString("{", ",", "}")
    val digests = res.digests.map { case (k, v) => s""""${Json.esc(k)}":"$v"""" }.mkString("{", ",", "}")
    val failures = res.failures.map(f => "\"" + Json.esc(f) + "\"").mkString("[", ",", "]")
    val oracle = res.oracle.map { case (tables, results, qs) =>
      val q = qs.map { case (n, sql) => s""""$n":"${Json.esc(sql)}"""" }.mkString("{", ",", "}")
      s""","oracle":{"tables":"${Json.esc(tables)}","results":"${Json.esc(results)}","queries":$q}"""
    }.getOrElse("")
    s"""{"correct":${res.failed == 0},"attempted":${res.attempted},"failed":${res.failed},""" +
      s""""e2e":${metricsJson(res.e2e)},"layer":${metricsJson(res.layer)},"report":$report,""" +
      s""""digests":$digests,"failures":$failures$oracle}"""
  }
}

/** digests.json: a flat JSON object of string keys to string digests. */
object DigestFile {
  def read(s: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(s, classOf[java.util.Map[String, String]]).asScala.toMap
  }
}
