package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Per-partition lineage row (SURVEY.md §7.5 / FIXTURES.md §3). */
final case class LineageRow(
    run_id: String,
    snapshot_id: String,
    partition_id: Int,
    input_rows: Long,
    ok_rows: Long,
    fail_rows: Long,
    bytes_in: Long,
    ms: Long,
    status: String)

/** The commit protocol every committed table and index in this package
  * shares: Iceberg-snapshot semantics emulated over Parquet plus
  * append-only JSONL manifests, without an Iceberg dependency (SURVEY.md
  * environment facts).
  *
  * A manifest line is the commit point. It is appended only after the data
  * write it describes has returned, so a kill between the two leaves files
  * no reader trusts, and the deterministic replay rewrites them. The
  * manifest format lives here and nowhere else: one flat JSON object per
  * line, written by [[json]] and read back field by field ([[long]],
  * [[longs]], [[string]]). A field reader takes the first `"name":` in the
  * line, so no line may nest an object that repeats a top-level name.
  *
  * Every writer assumes a single writer per manifest, like Iceberg's
  * maintenance procedures.
  */
private[pipeline] object Commit {

  /** `<dir>/_manifest/<name>.jsonl`: where a table keeps its manifests. */
  def manifest(dir: String, name: String): Path = Paths.get(dir, "_manifest", s"$name.jsonl")

  /** Append lines to a manifest, creating it and its directory if needed. */
  def append(mf: Path, lines: String*): Unit = {
    Files.createDirectories(mf.getParent)
    Files.write(mf, lines.map(_ + "\n").mkString.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Committed lines in commit order, blank lines skipped; none when the
    * manifest does not exist.
    */
  def lines(mf: Path): Seq[String] =
    if (!Files.exists(mf)) Seq.empty
    else Files.readAllLines(mf).asScala.toSeq.filter(_.nonEmpty)

  /** Replace a manifest by one line through a temp file and an atomic
    * move: a reader or a crash sees the old manifest or the new one, never
    * a torn one. A line appended between the caller's read and the move is
    * lost, hence the single-writer rule.
    */
  def replace(mf: Path, line: String): Unit = {
    val tmp = mf.resolveSibling(s"${mf.getFileName}.tmp")
    Files.write(tmp, (line + "\n").getBytes("UTF-8"))
    Files.move(tmp, mf, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** One manifest line. Values are numbers, strings (written unescaped:
    * ids here are generated, never free text), lineage rows, or lists of
    * those.
    */
  def json(fields: (String, Any)*): String =
    fields.map { case (k, v) => s""""$k":${render(v)}""" }.mkString("{", ",", "}")

  private def render(v: Any): String = v match {
    case s: String => "\"" + s + "\""
    case l: LineageRow => json("partition_id" -> l.partition_id, "input_rows" -> l.input_rows,
      "ok_rows" -> l.ok_rows, "fail_rows" -> l.fail_rows, "bytes_in" -> l.bytes_in,
      "ms" -> l.ms, "status" -> l.status)
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case n => n.toString
  }

  private def find(line: String, regex: String): Option[String] = {
    val m = java.util.regex.Pattern.compile(regex).matcher(line)
    if (m.find()) Some(m.group(1)) else None
  }

  /** A non-negative integer field. */
  def long(line: String, field: String): Option[Long] =
    find(line, s""""$field":(\\d+)""").map(_.toLong)

  /** A list-of-integers field. */
  def longs(line: String, field: String): Option[Seq[Long]] =
    find(line, s""""$field":\\[([0-9,]*)\\]""")
      .map(s => if (s.isEmpty) Seq.empty else s.split(",").toSeq.map(_.toLong))

  /** A string field. */
  def string(line: String, field: String): Option[String] =
    find(line, s""""$field":"([^"]*)"""")

  /** Every value of an integer field across a manifest: the set of
    * committed batch or increment ids.
    */
  def ids(mf: Path, field: String): Set[Long] = lines(mf).flatMap(long(_, field)).toSet

  // ---- versioned folds ----------------------------------------------------
  //
  // A compaction folds committed ids (batches, increments) into a fresh
  // directory v<version> and commits it with one {version, ids} line. The
  // state is the newest version and the union of every folded id.

  final case class Folds(version: Long, folded: Set[Long])

  /** Fold state; (0, ∅) before the first fold. */
  def readFolds(mf: Path, idsField: String): Folds = {
    val ls = lines(mf)
    Folds(ls.flatMap(long(_, "version")).maxOption.getOrElse(0L),
      ls.flatMap(longs(_, idsField)).flatten.toSet)
  }

  /** Commit a fold, after its directory is written. */
  def appendFold(mf: Path, idsField: String, f: Folds): Unit =
    append(mf, json("version" -> f.version, idsField -> f.folded.toSeq.sorted))

  // ---- committed-table writes ---------------------------------------------

  /** The committed-table Parquet writer: overwrite, zstd (text-heavy
    * output: zstd ≫ snappy at scale), 16 MB row groups (the default 128 MB
    * makes every write task hold a huge column buffer — on faulting-
    * sensitive hosts that is a 2-3x throughput hit, BENCH.md — and smaller
    * groups parallelize reads). Used as is for a fresh version directory,
    * which is written whole; that static overwrite also leaves the
    * `_SUCCESS` marker a dynamic one does not.
    */
  def parquet(df: DataFrame, partitionCols: String*): DataFrameWriter[Row] =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
      .option("compression", "zstd")
      .option("parquet.block.size", (16 * 1024 * 1024).toString)

  /** Write into a shared committed table. Dynamic partition overwrite,
    * scoped to this write rather than the session: re-running a torn
    * commit replaces exactly the partitions it writes and never clobbers
    * committed ones.
    */
  def write(df: DataFrame, path: String, partitionCols: String*): Unit =
    parquet(df, partitionCols: _*).option("partitionOverwriteMode", "dynamic").parquet(path)

  // ---- the snapshot manifest ----------------------------------------------
  //
  // `<dir>/_manifest/manifest.jsonl` holds one line per committed snapshot:
  // its bucket ids and per-partition lineage. The extract and curated
  // tables both commit through it.

  private def snapshots(outDir: String) = manifest(outDir, "manifest")
  private def snapshotArchive(outDir: String) = manifest(outDir, "manifest_archive")

  /** Buckets committed by any snapshot. */
  def committedBuckets(outDir: String): Set[Int] =
    lines(snapshots(outDir)).flatMap(longs(_, "buckets")).flatten.map(_.toInt).toSet

  /** Commit one snapshot, after its buckets are written. */
  def appendSnapshot(outDir: String, runId: String, snapshotId: String,
      buckets: Seq[Int], lineage: Seq[LineageRow]): Unit =
    append(snapshots(outDir), json("run_id" -> runId, "snapshot_id" -> snapshotId,
      "buckets" -> buckets, "lineage" -> lineage))

  /** Fold the snapshot manifest into one `compact` line carrying the full
    * committed-bucket set; the folded lines move to the append-only
    * archive first, so history is never lost.
    * @return number of lines folded (0 = nothing to do)
    */
  def compactSnapshots(outDir: String): Int = {
    val old = lines(snapshots(outDir))
    if (old.size <= 1) return 0
    val buckets = old.flatMap(longs(_, "buckets")).flatten.distinct.sorted
    append(snapshotArchive(outDir), old: _*)
    replace(snapshots(outDir), json("run_id" -> "manifest-compact",
      "snapshot_id" -> "compact", "buckets" -> buckets, "lineage" -> Seq.empty))
    old.size
  }

  /** Ordered `(snapshot_id, buckets)` across archive and live manifest. */
  def snapshotHistory(outDir: String): Seq[(String, Set[Int])] =
    (lines(snapshotArchive(outDir)) ++ lines(snapshots(outDir)))
      .flatMap(l => for (id <- string(l, "snapshot_id"); b <- longs(l, "buckets"))
        yield (id, b.map(_.toInt).toSet))
      // the "compact" marker is filtered from BOTH sources: a second
      // compaction archives the first one's marker line, which must not
      // surface as a phantom snapshot
      .filterNot(_._1 == "compact")
      // archive and live manifest can briefly overlap right after a
      // compaction; keep first occurrence, preserving commit order
      .distinctBy(_._1)

  /** Per-partition counters a snapshot body fills in. */
  final class Tally {
    var in = 0L; var ok = 0L; var fail = 0L; var bytes = 0L
    def add(success: Boolean, nBytes: Long): Unit = {
      in += 1
      if (success) ok += 1 else fail += 1
      bytes += nBytes
    }
  }

  /** Hands each partition of a snapshot body a [[Tally]] and reports it as
    * one lineage row when the partition's output iterator is exhausted.
    */
  final case class Lineage(acc: CollectionAccumulator[LineageRow], runId: String,
      snapshotId: String) {
    def apply[A](body: Tally => Iterator[A]): Iterator[A] = {
      val t0 = System.nanoTime()
      val t = new Tally
      val out = body(t)
      var reported = false
      new Iterator[A] {
        def hasNext: Boolean = {
          val h = out.hasNext
          if (!h && !reported) {
            reported = true
            acc.add(LineageRow(runId, snapshotId, TaskContext.getPartitionId(), t.in, t.ok,
              t.fail, t.bytes, (System.nanoTime() - t0) / 1000000, "committed"))
          }
          h
        }
        def next(): A = out.next()
      }
    }
  }

  /** Commit the buckets of `table` (which carries `part_bucket`) that no
    * snapshot holds yet, in `snapshotGroups` groups. Each group's slice,
    * one task per bucket, goes through `body` (its `mapPartitions` and
    * lineage), is written under `outDir/data` partitioned by
    * `partitionCols`, and then gets its manifest line. A kill between
    * write and line reprocesses at most that group.
    * @return lineage rows of this call
    */
  def commitSnapshots(table: DataFrame, outDir: String, numBuckets: Int,
      snapshotGroups: Int, runId: String, partitionCols: String*)(
      body: (DataFrame, Lineage) => DataFrame): Seq[LineageRow] = {
    val done = committedBuckets(outDir)
    val groups = (0 until numBuckets).filterNot(done)
      .grouped(math.max(1, (numBuckets + snapshotGroups - 1) / snapshotGroups)).toSeq
    groups.zipWithIndex.flatMap { case (buckets, gi) =>
      val snapshotId = f"snap-$runId-$gi%03d"
      val acc = table.sparkSession.sparkContext
        .collectionAccumulator[LineageRow](s"lineage-$snapshotId")
      val slice = table.filter(col("part_bucket").isin(buckets.map(Integer.valueOf): _*))
        // co-locate each bucket in one task: the shuffle key IS the hidden
        // partition, so the writer emits one file per bucket instead of
        // numTasks×numBuckets fragments
        .repartition(buckets.length, col("part_bucket"))
      write(body(slice, Lineage(acc, runId, snapshotId)), s"$outDir/data", partitionCols: _*)
      // dedupe by partition id: a retried or speculative task reaches the
      // end-of-iterator report twice with identical (deterministic) counts
      // — keep one row per partition so the audit trail never overcounts
      val lineage = acc.value.asScala.toSeq
        .groupBy(_.partition_id).map(_._2.head).toSeq.sortBy(_.partition_id)
      appendSnapshot(outDir, runId, snapshotId, buckets, lineage)
      lineage
    }
  }
}
