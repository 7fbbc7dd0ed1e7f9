package graft.sinks

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.{DEFAULT_PARTITION_NAME, escapePathName, unescapePathName}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.DatasetBridge
import org.apache.spark.sql.types.{DataType, StructType}

import java.io.FileNotFoundException
import scala.collection.mutable

/** The indexed store's table of contents: the commit markers under
  * `_commits` and the snapshots under `_snapshot`, and the committed
  * relation they describe.
  *
  * A marker of version 2 is escaped TSV: the header
  * `graft-commit-marker\t2`, the batch's bulk-metrics rows, one
  * `\file\t<index>\t<name>\t<bytes>` line per data file the commit moved
  * into the store root, and one `\schema\t<json>` line with the data
  * schema (the columns other than `index`). A snapshot
  * (`_snapshot/<n>`, header `graft-store-snapshot\t1`) holds the whole
  * live file list, the schema, and one `\marker\t<name>` line per marker
  * it folds in. A tag field is a backslash and a letter that [[esc]]
  * never writes after one, so no escaped label reads as a tag, and a
  * row (at least three fields) is never taken for a header (two).
  *
  * The committed relation is the newest snapshot's files plus the files
  * of every marker that snapshot has not folded in. A batch joins it when
  * its marker is renamed into place, so a reader sees all of a batch or
  * none of it, and never the orphans of a died attempt.
  *
  * Maintenance ([[Compaction]], [[Retention]]) changes the store in
  * place: a new snapshot supersedes files, and only then are they
  * deleted ([[settle]]). Only files that a snapshot or a folded marker
  * named are ever deleted, so the files of a commit in flight, and of
  * one whose marker landed after the run read the store, are never
  * touched. One maintenance run at a time per store is assumed; commits
  * may run beside it. */
private[sinks] object StoreManifest {

  private val MarkerHeader = "graft-commit-marker"
  private val MarkerVersion = 2
  private val SnapshotHeader = "graft-store-snapshot"
  private val SnapshotVersion = 1
  private val FileTag = "\\file"
  private val SchemaTag = "\\schema"
  private val MarkerTag = "\\marker"

  /** A data file at `<root>/<dir>/<name>`; a null index is Spark's
    * default partition, as Spark writes it. */
  final case class DataFile(index: String, name: String, bytes: Long) {
    def dir: String = "index=" +
      (if (index == null) DEFAULT_PARTITION_NAME else escapePathName(index))
    def path(root: Path): Path = new Path(new Path(root, dir), name)
  }

  object DataFile {
    /** The entry of a file Spark wrote under an `index=` directory. */
    def of(st: FileStatus): DataFile = {
      val v = st.getPath.getParent.getName.stripPrefix("index=")
      DataFile(if (v == DEFAULT_PARTITION_NAME) null else unescapePathName(v),
        st.getPath.getName, st.getLen)
    }
  }

  /** A marker's or snapshot's content. Labels are unescaped; a null
    * label is null. Headerless markers are version 1. */
  final case class Manifest(version: Int, rows: Seq[Seq[String]],
      files: Seq[DataFile], schema: Option[StructType], folded: Seq[String])

  /** The committed state: its files and data schema, the number of the
    * snapshot it starts from, and the names of all markers it includes. */
  final case class Live(files: Seq[DataFile], schema: StructType,
      snapshot: Option[Long], markers: Seq[String])

  def readMarker(fs: FileSystem, m: Path): Manifest = lines(fs, m) match {
    case Seq(MarkerHeader, v) +: rest if v == "1" || v == MarkerVersion.toString =>
      parse(v.toInt, rest)
    case Seq(MarkerHeader, v) +: _ => throw new IllegalStateException(
      s"commit marker $m has version $v; this build reads 1 and $MarkerVersion")
    case headerless => parse(1, headerless)
  }

  /** Marker last, atomically: the commit point of a batch. */
  def writeMarker(fs: FileSystem, m: Path, rows: Seq[Seq[String]],
      files: Seq[DataFile], schema: StructType): Unit =
    write(fs, m, s"$MarkerHeader\t$MarkerVersion" +:
      (rows.map(_.map(field).mkString("\t")) ++ body(files, schema, Nil)))

  def writeSnapshot(fs: FileSystem, root: Path, n: Long, files: Seq[DataFile],
      schema: StructType, folded: Seq[String]): Unit =
    write(fs, new Path(root, s"_snapshot/$n"),
      s"$SnapshotHeader\t$SnapshotVersion" +: body(files, schema, folded))

  /** The store's committed state, or None when it can only be listed: it
    * has no snapshot and no marker, or a version-1 or headerless marker
    * that no snapshot folds in (stores written by earlier builds, plain
    * Spark writes). */
  def live(fs: FileSystem, root: Path): Option[Live] = {
    val marked = markers(fs, root)
    val snap = snapshots(fs, root).headOption.map { case (n, p) => (n, snapshot(fs, p)) }
    val folded = snap.fold(Set.empty[String])(_._2.folded.toSet)
    val fresh = marked.filterNot(folded)
    val read = fresh.iterator.map(m => readMarker(fs, new Path(root, s"_commits/$m")))
      .takeWhile(_.version == MarkerVersion).toSeq
    val parts = snap.map(_._2).toSeq ++ read
    if (read.size < fresh.size || parts.isEmpty) None
    else parts.flatMap(_.schema).headOption.map(schema =>
      Live(parts.flatMap(_.files), schema, snap.map(_._1), marked))
  }

  /** The committed state a maintenance run starts from. It first
    * finishes a run that crashed after its snapshot ([[settle]]) and
    * scrubs the orphans of one that crashed before it (`c<n>-*`, `n` the
    * next snapshot number). A store [[live]] cannot read is then adopted:
    * a snapshot that changes no data file names its listed files and
    * folds in its markers, listed first. A commit's file (`b<id>-`,
    * `u<uuid>-`) is adopted only if its marker was listed. None when
    * nothing is committed. */
  def committed(spark: SparkSession, fs: FileSystem, root: Path): Option[Live] = {
    settle(fs, root)
    val next = snapshots(fs, root).headOption.fold(0L)(_._1 + 1)
    scrub(fs, Seq(root), s"c$next")
    live(fs, root).orElse {
      val marked = markers(fs, root).toSet
      val kept = glob(fs, new Path(root, "index=*/*.parquet")).map(DataFile.of)
        .filter(f => Commit.findFirstMatchIn(f.name).forall(t => marked(t.group(1).stripPrefix("b"))))
      if (kept.isEmpty) None
      else {
        writeSnapshot(fs, root, next, kept, StructType(
          spark.read.parquet(root.toString).schema.filterNot(_.name == "index")),
          marked.toSeq.sorted)
        live(fs, root)
      }
    }
  }

  /** Finish the newest snapshot: delete every file that the snapshot
    * before it, or a marker it folds in that one did not, names and it
    * does not name; then drop the snapshots before that one. It is
    * idempotent, so the next run finishes a run that crashed after
    * writing its snapshot; the previous snapshot is kept for that. */
  def settle(fs: FileSystem, root: Path): Unit = snapshots(fs, root) match {
    case (_, newest) +: rest =>
      val cur = snapshot(fs, newest)
      val prev = rest.headOption.map(s => snapshot(fs, s._2))
      val seen = prev.fold(Set.empty[String])(_.folded.toSet)
      val keep = cur.files.map(_.path(root)).toSet
      (prev.toSeq.flatMap(_.files) ++ cur.folded.filterNot(seen)
        .flatMap(m => readMarker(fs, new Path(root, s"_commits/$m")).files))
        .map(_.path(root)).filterNot(keep).foreach(fs.delete(_, false))
      rest.drop(1).foreach(s => fs.delete(s._2, false))
    case _ => ()
  }

  /** Delete what a died attempt tagged `tag` left: its staging dir
    * `<first root>/_staging/<tag>` and its files under each root's
    * `index=` dirs. */
  def scrub(fs: FileSystem, roots: Seq[Path], tag: String): Unit = {
    fs.delete(new Path(roots.head, s"_staging/$tag"), true)
    roots.foreach(r => glob(fs, new Path(r, s"index=*/$tag-*")).foreach(s => fs.delete(s.getPath, false)))
  }

  /** Move each staged file `pattern` matches, in path order, to
    * `<rootOf(its index dir)>/<its index dir's name>/<tag>-<k>.parquet`,
    * calling `onStep("move <k>")` after each move; returns each moved
    * file's root and entry. */
  def moveStaged(fs: FileSystem, pattern: Path, tag: String, onStep: String => Unit)(
      rootOf: Path => Path): Seq[(Path, DataFile)] =
    glob(fs, pattern).sortBy(_.getPath.toString).zipWithIndex.map { case (s, k) =>
      val idx = s.getPath.getParent
      val root = rootOf(idx)
      val f = DataFile.of(s).copy(name = s"$tag-$k.parquet")
      fs.mkdirs(f.path(root).getParent)
      if (!fs.rename(s.getPath, f.path(root)))
        throw new IllegalStateException(s"commit move failed for ${s.getPath}")
      onStep(s"move $k")
      root -> f
    }

  /** Names of the committed markers (in-flight `.tmp-` files and `.crc`
    * sidecars start with a dot). */
  def markers(fs: FileSystem, root: Path): Seq[String] =
    list(fs, new Path(root, "_commits")).map(_.getName).filterNot(_.startsWith("."))

  /** The snapshots' numbers and paths, newest first. */
  private def snapshots(fs: FileSystem, root: Path): Seq[(Long, Path)] =
    list(fs, new Path(root, "_snapshot"))
      .flatMap(p => p.getName.toLongOption.map(_ -> p))
      .sortBy(-_._1)

  private def snapshot(fs: FileSystem, p: Path): Manifest = lines(fs, p) match {
    case Seq(SnapshotHeader, v) +: rest if v == SnapshotVersion.toString =>
      parse(SnapshotVersion, rest)
    case _ => throw new IllegalStateException(
      s"$p is not a store snapshot of version $SnapshotVersion")
  }

  /** A commit's data file name; its tag is `b<batchId>` or `u<uuid>`. */
  private val Commit = "^(b\\d+|u[0-9a-f-]{36})-\\d+\\.parquet$".r

  private def glob(fs: FileSystem, p: Path): Seq[FileStatus] =
    Option(fs.globStatus(p)).toSeq.flatten

  /** `live` as a DataFrame over exactly its files: a parquet relation
    * whose partition values Spark parses from the files' `index=`
    * directories, as it would for a listed store, so the schema equals
    * `spark.read.parquet(root).schema`. Building it lists nothing and
    * runs no Spark job. */
  def relation(spark: SparkSession, root: Path, live: Live): DataFrame = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(root)
    val block = fs.getDefaultBlockSize(base)
    val index = new ManifestFileIndex(spark, base, live.files.map(f =>
      new FileStatus(f.bytes, false, 1, block, 0L, f.path(base))))
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      DatasetBridge.asNullable(live.schema), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** A file index over a fixed file list: what `InMemoryFileIndex` holds
    * after listing, taken from the manifest instead. */
  private final class ManifestFileIndex(spark: SparkSession, root: Path,
      files: Seq[FileStatus]) extends PartitioningAwareFileIndex(spark,
        Map.empty, None) {
    override val rootPaths: Seq[Path] = Seq(root)
    override val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
      mutable.LinkedHashMap(files.map(f => f.getPath -> f): _*)
    override val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
      files.toArray.groupBy(_.getPath.getParent)
    private lazy val spec = inferPartitioning()
    override def partitionSpec(): PartitionSpec = spec
    override def refresh(): Unit = ()
  }

  private def list(fs: FileSystem, dir: Path): Seq[Path] =
    try fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
    catch { case _: FileNotFoundException => Nil }

  private def lines(fs: FileSystem, p: Path): Seq[Seq[String]] = {
    val in = fs.open(p)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    content.linesIterator.filter(_.nonEmpty).map(_.split("\t", -1).toSeq).toSeq
  }

  private def parse(version: Int, body: Seq[Seq[String]]): Manifest = {
    val rows = Seq.newBuilder[Seq[String]]
    val files = Seq.newBuilder[DataFile]
    val folded = Seq.newBuilder[String]
    var schema = Option.empty[StructType]
    body.foreach {
      case Seq(FileTag, i, n, b) => files += DataFile(unfield(i), unesc(n), b.toLong)
      case Seq(SchemaTag, s) =>
        schema = Some(DataType.fromJson(unesc(s)).asInstanceOf[StructType])
      case Seq(MarkerTag, m) => folded += unesc(m)
      case r => rows += r.map(unfield)
    }
    Manifest(version, rows.result(), files.result(), schema, folded.result())
  }

  private def body(files: Seq[DataFile], schema: StructType,
      folded: Seq[String]): Seq[String] =
    folded.map(m => s"$MarkerTag\t${esc(m)}") ++
      files.map(f => s"$FileTag\t${field(f.index)}\t${esc(f.name)}\t${f.bytes}") :+
      s"$SchemaTag\t${esc(schema.json)}"

  /** Temp file + rename: readers see the whole file or none of it. */
  private def write(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(p.getParent, s".tmp-${p.getName}")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, p))
      throw new IllegalStateException(s"manifest rename failed for $p")
  }

  /** A null label. `esc` doubles every backslash, so no string escapes
    * to this field. */
  private val NullField = "\\N"

  private def field(v: String): String = if (v == null) NullField else esc(v)

  private def unfield(v: String): String = if (v == NullField) null else unesc(v)

  private def esc(v: String): String = v.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c => c.toString
  }

  private def unesc(v: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < v.length) {
      if (v(i) == '\\' && i + 1 < v.length) {
        b += (v(i + 1) match {
          case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'
          case c => c
        })
        i += 2
      } else { b += v(i); i += 1 }
    }
    b.result()
  }
}
