package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import java.nio.file.{Files, Path}

/** Pins the on-disk format of the seven JSONL manifests. Every fixture
  * line below is written out literally, in the format tables committed
  * before the protocol moved into [[Commit]]: existing tables must still
  * resume, so the readers must take these bytes and the writers must emit
  * them.
  */
class CommitSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("commit-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String = Files.createTempDirectory("graft-commit").toString

  private def put(mf: Path, lines: String*): Unit = {
    Files.createDirectories(mf.getParent)
    Files.write(mf, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
  }

  private def bytes(mf: Path): String = new String(Files.readAllBytes(mf), "UTF-8")

  private def mf(dir: String, name: String) = Commit.manifest(dir, name)

  // ---- fixtures: the committed format, byte for byte ---------------------

  private val snapA = """{"run_id":"r","snapshot_id":"snap-r-000","buckets":[0,2],"lineage":[{"partition_id":0,"input_rows":5,"ok_rows":4,"fail_rows":1,"bytes_in":900,"ms":12,"status":"committed"},{"partition_id":1,"input_rows":3,"ok_rows":3,"fail_rows":0,"bytes_in":40,"ms":7,"status":"committed"}]}"""
  private val snapB = """{"run_id":"r","snapshot_id":"snap-r-001","buckets":[3],"lineage":[]}"""
  private val snapC = """{"run_id":"r2","snapshot_id":"snap-r2-000","buckets":[5],"lineage":[{"partition_id":0,"input_rows":1,"ok_rows":1,"fail_rows":0,"bytes_in":1,"ms":1,"status":"committed"}]}"""
  private val compact1 = """{"run_id":"manifest-compact","snapshot_id":"compact","buckets":[0,2,3],"lineage":[]}"""
  private val compact2 = """{"run_id":"manifest-compact","snapshot_id":"compact","buckets":[0,2,3,5],"lineage":[]}"""

  private val lineageA = Seq(
    LineageRow("r", "snap-r-000", 0, 5, 4, 1, 900, 12, "committed"),
    LineageRow("r", "snap-r-000", 1, 3, 3, 0, 40, 7, "committed"))
  private val lineageC = Seq(LineageRow("r2", "snap-r2-000", 0, 1, 1, 0, 1, 1, "committed"))

  /** The snapshot line exactly as the format defines it, built by hand. */
  private def snapshotLine(runId: String, snapshotId: String, buckets: Seq[Int],
      lineage: Seq[LineageRow]): String = {
    val rows = lineage.map(l =>
      s"""{"partition_id":${l.partition_id},"input_rows":${l.input_rows},"ok_rows":${l.ok_rows},"fail_rows":${l.fail_rows},"bytes_in":${l.bytes_in},"ms":${l.ms},"status":"${l.status}"}""")
    s"""{"run_id":"$runId","snapshot_id":"$snapshotId","buckets":[${buckets.mkString(",")}],"lineage":[${rows.mkString(",")}]}"""
  }

  test("snapshot manifest: committed lines read back, appendSnapshot writes them") {
    val in = tmp()
    put(mf(in, "manifest"), snapA, snapB)
    assert(ExtractPipeline.committedBuckets(in) == Set(0, 2, 3))
    assert(ExtractPipeline.snapshotHistory(in) ==
      Seq(("snap-r-000", Set(0, 2)), ("snap-r-001", Set(3))))

    val out = tmp()
    Commit.appendSnapshot(out, "r", "snap-r-000", Seq(0, 2), lineageA)
    Commit.appendSnapshot(out, "r", "snap-r-001", Seq(3), Seq.empty)
    assert(bytes(mf(out, "manifest")) == s"$snapA\n$snapB\n")
    assert(snapshotLine("r", "snap-r-000", Seq(0, 2), lineageA) == snapA)
  }

  test("snapshot manifest compacted twice: archive and manifest bytes, no phantom compact") {
    val in = tmp()
    put(mf(in, "manifest_archive"), snapA, snapB, compact1, snapC)
    put(mf(in, "manifest"), compact2)
    assert(ExtractPipeline.committedBuckets(in) == Set(0, 2, 3, 5))
    assert(ExtractPipeline.snapshotHistory(in) == Seq(("snap-r-000", Set(0, 2)),
      ("snap-r-001", Set(3)), ("snap-r2-000", Set(5))))
    assert(ExtractPipeline.compactManifest(in) == 0, "one line: nothing to fold")

    val out = tmp()
    Commit.appendSnapshot(out, "r", "snap-r-000", Seq(0, 2), lineageA)
    Commit.appendSnapshot(out, "r", "snap-r-001", Seq(3), Seq.empty)
    assert(ExtractPipeline.compactManifest(out) == 2)
    assert(bytes(mf(out, "manifest")) == s"$compact1\n")
    Commit.appendSnapshot(out, "r2", "snap-r2-000", Seq(5), lineageC)
    assert(ExtractPipeline.compactManifest(out) == 2)
    assert(bytes(mf(out, "manifest")) == s"$compact2\n")
    assert(bytes(mf(out, "manifest_archive")) == Seq(snapA, snapB, compact1, snapC)
      .map(_ + "\n").mkString)
    assert(!Files.exists(mf(out, "manifest").resolveSibling("manifest.jsonl.tmp")))
  }

  test("stream, fold, index, curated-batch and inverted-index manifests read back") {
    val dir = tmp()
    put(mf(dir, "stream_manifest"),
      """{"batch_id":0,"rows":10,"ok_rows":9}""", """{"batch_id":1,"rows":4,"ok_rows":4}""")
    put(mf(dir, "compact_manifest"),
      """{"version":1,"batches":[0]}""", """{"version":2,"batches":[0,1]}""")
    assert(StreamingIngest.committedBatches(dir) == Set(0L, 1L))
    // every committed batch is folded: compact reports the current version
    assert(StreamingIngest.compact(spark, dir) == 2L)

    val cur = tmp()
    put(mf(cur, "index_manifest"),
      """{"increment":0,"labels_version":1}""", """{"increment":1,"labels_version":2}""")
    put(mf(cur, "curated_batches"), """{"batch_id":0}""", """{"batch_id":3}""")
    put(mf(cur, "kept_compact_manifest"),
      """{"version":1,"incs":[0]}""", """{"version":2,"incs":[0,1]}""")
    assert(CuratedPipeline.indexState(cur) == ((2L, Set(0L, 1L))))
    assert(CuratedPipeline.keptSnapshots(cur) == Seq((0L, 1L), (1L, 2L)))
    // a curated batch is a no-op, before the extract table is even read
    assert(CuratedPipeline.curateBatch(spark, 3L, tmp(), cur).isEmpty)
    // both increments folded: compactKept reports the current version
    assert(CuratedPipeline.compactKept(spark, cur) == 2L)

    val idx = tmp()
    val imf = java.nio.file.Paths.get(idx, "index_manifest.jsonl")
    put(imf, """{"gen":0,"n_docs":3,"total_dl":12}""", """{"gen":1,"n_docs":2,"total_dl":7}""")
    assert(InvertedIndex.committedMeta(idx) ==
      Seq(InvertedIndex.IndexGen(0, 3, 12), InvertedIndex.IndexGen(1, 2, 7)))
    put(imf, """{"gen":2,"n_docs":5,"total_dl":19}""") // compacted
    assert(InvertedIndex.committedMeta(idx) == Seq(InvertedIndex.IndexGen(2, 5, 19)))
  }

  test("an extract run writes snapshot lines in the committed format") {
    val ext = tmp()
    val pages = ExtractStage.generatePages(spark, 40, partitions = 2)
    val lineage = ExtractPipeline.run(spark, pages, ext, numBuckets = 4, snapshotGroups = 2,
      runId = "fmt")
    val snaps = Seq("snap-fmt-000" -> Seq(0, 1), "snap-fmt-001" -> Seq(2, 3))
    assert(bytes(mf(ext, "manifest")) == snaps.map { case (id, b) =>
      snapshotLine("fmt", id, b, lineage.filter(_.snapshot_id == id)) + "\n"
    }.mkString)
    assert(lineage.map(_.input_rows).sum == 40)
  }

  test("streaming, curated and inverted-index writers emit the committed bytes") {
    import spark.implicits._
    val ext = tmp(); val cur = tmp()
    val batches = Seq(0L -> (0L until 20L), 1L -> (20L until 32L))
    val (expectStream, curated) = batches.map { case (b, ids) =>
      val pages = ids.map(PageGen.page(PageGen.DefaultSeed, _))
      StreamingIngest.commitBatch(ext, numBuckets = 4)(pages.toDS().repartition(2), b)
      val lineage = CuratedPipeline.curateBatch(spark, b, ext, cur, numBuckets = 4)
      val ok = pages.count(p => ExtractStage.processOne(p).success)
      (s"""{"batch_id":$b,"rows":${ids.size},"ok_rows":$ok}""" + "\n", lineage)
    }.unzip
    assert(bytes(mf(ext, "stream_manifest")) == expectStream.mkString)
    // batch 0 builds the curated table (one snapshot over every bucket),
    // batch 1 is an increment whose lineage rows are keyed by bucket
    val Seq(base, inc) = curated
    assert(inc.nonEmpty)
    assert(bytes(mf(cur, "manifest")) ==
      snapshotLine("batch-0", "snap-batch-0-000", 0 until 4, base) + "\n" +
        snapshotLine("batch-1", "snap-batch-1-inc", inc.map(_.partition_id), inc) + "\n")
    assert(StreamingIngest.compact(spark, ext, numBuckets = 4) == 1L)
    assert(bytes(mf(ext, "compact_manifest")) == """{"version":1,"batches":[0,1]}""" + "\n")

    assert(bytes(mf(cur, "curated_batches")) == "{\"batch_id\":0}\n{\"batch_id\":1}\n")
    assert(bytes(mf(cur, "index_manifest")) ==
      "{\"increment\":0,\"labels_version\":1}\n{\"increment\":1,\"labels_version\":2}\n")
    assert(CuratedPipeline.compactKept(spark, cur, numBuckets = 4) == 1L)
    assert(bytes(mf(cur, "kept_compact_manifest")) == """{"version":1,"incs":[0,1]}""" + "\n")

    val idx = tmp()
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    def docs(texts: Seq[(Long, String)]) = spark.createDataFrame(
      java.util.Arrays.asList(texts.map { case (i, t) => Row(i, t) }: _*), schema)
    InvertedIndex.append(spark, docs(Seq(1L -> "a b c", 2L -> "a a")), idx)
    InvertedIndex.append(spark, docs(Seq(3L -> "d e f g")), idx)
    val imf = java.nio.file.Paths.get(idx, "index_manifest.jsonl")
    assert(bytes(imf) ==
      "{\"gen\":0,\"n_docs\":2,\"total_dl\":5}\n{\"gen\":1,\"n_docs\":1,\"total_dl\":4}\n")
    InvertedIndex.compactGenerations(spark, idx)
    assert(bytes(imf) == "{\"gen\":2,\"n_docs\":3,\"total_dl\":9}\n")
  }
}
