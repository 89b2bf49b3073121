package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{DeltaInterop, IcebergInterop, ManifestLake, ScanBetween, ScanEq}

/** One table format behind the statements the stream issues. */
abstract class LakeFormat(val name: String, val root: String) {
  def load(df: DataFrame): Unit
  def append(df: DataFrame): Unit
  def merge(df: DataFrame): Unit
  def update(s: SparkSession, p: Column, lo: Long, hi: Long, set: Column, mor: Boolean): Unit
  def delete(s: SparkSession, p: Column, lo: Long, hi: Long, mor: Boolean): Unit
  def purge(s: SparkSession): Unit
  def optimize(s: SparkSession): Unit
  def vacuum(s: SparkSession): Unit
  def point(s: SparkSession, k: Long): DataFrame
  def range(s: SparkSession, lo: Long, hi: Long): DataFrame
  def asOf(s: SparkSession, version: Long): DataFrame
  def full(s: SparkSession): DataFrame
  def version(s: SparkSession): Long
  /** Directory names holding the format's log and metadata. */
  def logDirs: Set[String]
}

object LakeFormat {
  val TargetFileBytes: Long = 256L * 1024
  val KeepVersions = 8

  final class Manifest(root: String) extends LakeFormat("manifest", root) {
    private def pr(lo: Long, hi: Long) = Some(("k", lo.toDouble, (hi - 1).toDouble))
    def load(df: DataFrame): Unit = ManifestLake.write(df, root, append = false, statsCol = Some("k"))
    def append(df: DataFrame): Unit = ManifestLake.write(df, root, statsCol = Some("k"))
    def merge(df: DataFrame): Unit = ManifestLake.merge(df, root, Seq("k"), statsCol = Some("k"))
    def update(s: SparkSession, p: Column, lo: Long, hi: Long, set: Column, mor: Boolean): Unit =
      if (mor) ManifestLake.updateMor(s, root, p, Seq("v" -> set), pruneRange = pr(lo, hi))
      else ManifestLake.update(s, root, p, Seq("v" -> set), pruneRange = pr(lo, hi))
    def delete(s: SparkSession, p: Column, lo: Long, hi: Long, mor: Boolean): Unit =
      if (mor) ManifestLake.deleteMor(s, root, p, pruneRange = pr(lo, hi))
      else ManifestLake.delete(s, root, p, pruneRange = pr(lo, hi))
    def purge(s: SparkSession): Unit = ManifestLake.purgeDv(s, root, TargetFileBytes)
    def optimize(s: SparkSession): Unit =
      ManifestLake.compact(s, root, TargetFileBytes, clusterCol = Some("k"))
    def vacuum(s: SparkSession): Unit = ManifestLake.vacuum(s, root, KeepVersions)
    def point(s: SparkSession, k: Long): DataFrame = ManifestLake.readEq(s, root, "k", k)
    def range(s: SparkSession, lo: Long, hi: Long): DataFrame =
      ManifestLake.readRange(s, root, "k", lo.toDouble, (hi - 1).toDouble)
    def asOf(s: SparkSession, version: Long): DataFrame = ManifestLake.read(s, root, Some(version))
    def full(s: SparkSession): DataFrame = ManifestLake.read(s, root)
    def version(s: SparkSession): Long = ManifestLake.currentVersion(s, root).get
    val logDirs = Set("_manifests")
  }

  final class Delta(root: String) extends LakeFormat("delta", root) {
    def load(df: DataFrame): Unit = DeltaInterop.write(df, root)
    def append(df: DataFrame): Unit = DeltaInterop.write(df, root)
    def merge(df: DataFrame): Unit = DeltaInterop.merge(df, root, Seq("k"))
    def update(s: SparkSession, p: Column, lo: Long, hi: Long, set: Column, mor: Boolean): Unit =
      if (mor) DeltaInterop.updateMor(s, root, p, Seq("v" -> set))
      else DeltaInterop.update(s, root, p, Seq("v" -> set))
    // Delta's DELETE has one path: deletion vectors
    def delete(s: SparkSession, p: Column, lo: Long, hi: Long, mor: Boolean): Unit =
      DeltaInterop.delete(s, root, p)
    def purge(s: SparkSession): Unit = DeltaInterop.purgeDeletionVectors(s, root)
    def optimize(s: SparkSession): Unit = DeltaInterop.optimize(s, root, TargetFileBytes)
    def vacuum(s: SparkSession): Unit = DeltaInterop.vacuum(s, root, KeepVersions)
    def point(s: SparkSession, k: Long): DataFrame = DeltaInterop.readWhere(s, root, Seq(ScanEq("k", k)))
    def range(s: SparkSession, lo: Long, hi: Long): DataFrame =
      DeltaInterop.readWhere(s, root, Seq(ScanBetween("k", lo, hi - 1)))
    def asOf(s: SparkSession, version: Long): DataFrame = DeltaInterop.readVersion(s, root, version)
    def full(s: SparkSession): DataFrame = DeltaInterop.read(s, root)
    def version(s: SparkSession): Long = DeltaInterop.currentVersion(s, root).get
    val logDirs = Set("_delta_log")
  }

  final class Iceberg(root: String) extends LakeFormat("iceberg", root) {
    def load(df: DataFrame): Unit = {
      IcebergInterop.write(df, root)
      IcebergInterop.upgradeFormat(df.sparkSession, root, 2) // v2: merge-on-read deletes
    }
    def append(df: DataFrame): Unit = IcebergInterop.write(df, root)
    def merge(df: DataFrame): Unit = IcebergInterop.merge(df, root, Seq("k"))
    def update(s: SparkSession, p: Column, lo: Long, hi: Long, set: Column, mor: Boolean): Unit =
      if (mor) IcebergInterop.updateMor(s, root, p, Seq("v" -> set))
      else IcebergInterop.update(s, root, p, Seq("v" -> set))
    def delete(s: SparkSession, p: Column, lo: Long, hi: Long, mor: Boolean): Unit =
      if (mor) IcebergInterop.deleteMor(s, root, p) else IcebergInterop.delete(s, root, p)
    def purge(s: SparkSession): Unit = IcebergInterop.compactDeletes(s, root)
    def optimize(s: SparkSession): Unit = IcebergInterop.optimize(s, root, TargetFileBytes)
    def vacuum(s: SparkSession): Unit = IcebergInterop.expireSnapshots(s, root, KeepVersions)
    def point(s: SparkSession, k: Long): DataFrame =
      IcebergInterop.readWhere(s, root, Seq(ScanEq("k", k)))
    def range(s: SparkSession, lo: Long, hi: Long): DataFrame =
      IcebergInterop.readWhere(s, root, Seq(ScanBetween("k", lo, hi - 1)))
    def asOf(s: SparkSession, version: Long): DataFrame =
      IcebergInterop.readSnapshot(s, root, version)
    def full(s: SparkSession): DataFrame = IcebergInterop.read(s, root)
    def version(s: SparkSession): Long = IcebergInterop.snapshotLineage(s, root).last
    val logDirs = Set("metadata")
  }
}

/** Writes beside reads on the three table formats. One seeded keyed
  * table is loaded into a ManifestLake, a Delta and an Iceberg table;
  * then one seeded statement stream is applied to all three, statement
  * by statement. Each pass is one cycle of the stream: an append, a
  * key-range MERGE upsert over ~1% of keys, copy-on-write and
  * merge-on-read UPDATE and DELETE by key range, a delete purge, an
  * OPTIMIZE, a VACUUM, a point and a range read, and a `VERSION AS OF`
  * read five commits back. Every read is checked against an in-memory
  * replay of the stream, and after the run each table must equal the
  * replay. */
final class LakeDml(seed: Long) extends Workload {
  val Rows = 30000
  val LoadFiles = 16

  private final case class Row(k: Long, g: Int, v: Long, s: String)

  private val rnd = new scala.util.Random(seed)
  private val model = mutable.LongMap.empty[Row]
  private var nextKey = 0L
  /** (rows, sum of v) after each commit, for time-travel reads. */
  private val history = mutable.ArrayBuffer.empty[(Long, Long)]
  private val versions = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private var formats: Seq[LakeFormat] = Nil
  /** Rows the traced statements changed, for the write amplification. */
  private var rowsChanged = 0L
  private val written = mutable.Map.empty[String, (Long, Long)] // files, bytes
  private val scanned = mutable.Map.empty[String, (Long, Long)] // files, reads
  /** Untraced statement latencies, for the write and read medians. */
  private val writeLatency = mutable.ArrayBuffer.empty[Double]
  private val readLatency = mutable.ArrayBuffer.empty[Double]
  private var cycle = 0

  private def newRow(k: Long): Row =
    Row(k, (k % 16).toInt, rnd.nextInt(1000000).toLong, "s" + rnd.nextInt(1000))

  private def df(s: SparkSession, rows: Seq[Row]): DataFrame = {
    import s.implicits._
    rows.map(r => (r.k, r.g, r.v, r.s)).toDF("k", "g", "v", "s")
  }

  private def record(c: Ctx): Unit = c.untimed {
    history += ((model.size.toLong, model.valuesIterator.map(_.v).sum))
    formats.foreach(f => versions(f.name) += f.version(c.spark))
  }

  def warm(c: Ctx): Unit = {
    val s = c.spark
    formats = Seq(new LakeFormat.Manifest(s"${c.work}/tables/manifest"),
      new LakeFormat.Delta(s"${c.work}/tables/delta"),
      new LakeFormat.Iceberg(s"${c.work}/tables/iceberg"))
    formats.foreach { f =>
      versions(f.name) = mutable.ArrayBuffer.empty
      written(f.name) = (0L, 0L)
      scanned(f.name) = (0L, 0L)
    }
    (0 until Rows).foreach { _ => val r = newRow(nextKey); model(r.k) = r; nextKey += 1 }
    val initial = df(s, model.valuesIterator.toSeq.sortBy(_.k))
      .repartitionByRange(LoadFiles, col("k"))
    formats.foreach { f =>
      val t0 = System.nanoTime()
      f.load(initial)
      c.layer(s"sources.${f.name}.load_s") = (System.nanoTime() - t0) / 1e9
    }
    record(c)
    c.checkedOps += formats.size
  }

  /** Run one statement on every format, timing each as one op. */
  private def stmt(c: Ctx, op: OpRec => Unit, kind: String, write: Boolean)
                  (body: LakeFormat => Unit): Unit = formats.foreach { f =>
    val before =
      if (c.tracer.enabled && write) c.untimed(files(f.root)) else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val ok =
      try { c.span(s"op.${f.name}.$kind")(c.span(s"sources.${f.name}.$kind")(body(f))); true }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] ${f.name}.$kind threw: $e")
        false
      }
    val t = (System.nanoTime() - t0) / 1e9
    op(OpRec(s"${f.name}.$kind", t, ok))
    if (ok && !c.tracer.enabled) (if (write) writeLatency else readLatency) += t
    if (c.tracer.enabled && write) c.untimed {
      val added = files(f.root).filter { case (p, _) => !before.contains(p) }
      val (n, b) = written(f.name)
      written(f.name) = (n + added.size, b + added.values.sum)
    }
  }

  private def keyRange(width: Long): (Long, Long) = {
    val lo = (rnd.nextDouble() * math.max(1L, nextKey - width)).toLong
    (lo, lo + width)
  }

  private def inRange(lo: Long, hi: Long): Column = col("k") >= lo && col("k") < hi

  /** (rows, sum of v): what every read is checked on. */
  private def countSum(d: DataFrame): (Long, Long) = {
    val r = d.agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def read(c: Ctx, op: OpRec => Unit, kind: String, expect: (Long, Long))
                  (build: LakeFormat => DataFrame): Unit = {
    val got = mutable.Map.empty[String, (DataFrame, (Long, Long))]
    stmt(c, op, kind, write = false) { f =>
      val d = build(f)
      got(f.name) = (d, countSum(d))
    }
    c.untimed(got.foreach { case (f, (d, g)) =>
      if (g != expect) c.fail(s"cycle $cycle $f.$kind: got (rows, sum v) $g, want $expect")
      if (c.tracer.enabled) {
        val (n, r) = scanned(f)
        scanned(f) = (n + d.inputFiles.length, r + 1)
      }
    })
  }

  private def modelRange(lo: Long, hi: Long): Iterator[Row] =
    (lo until hi).iterator.flatMap(model.get)

  def pass(c: Ctx, op: OpRec => Unit): Unit = {
    val s = c.spark
    cycle += 1
    // append ~0.2% new keys
    val appended = (0 until Rows / 500).map { _ => val r = newRow(nextKey); nextKey += 1; r }
    stmt(c, op, "append", write = true)(_.append(df(s, appended)))
    appended.foreach(r => model(r.k) = r)
    if (c.tracer.enabled) rowsChanged += appended.size
    record(c)

    // MERGE upsert: half the keys of a ~1% range updated, ~0.1% inserted
    val (mlo, mhi) = keyRange(Rows / 100)
    val upd = modelRange(mlo, mhi).filter(_ => rnd.nextBoolean())
      .map(r => r.copy(v = r.v + 1 + rnd.nextInt(100), s = "m" + cycle)).toSeq
    val ins = (0 until Rows / 1000).map { _ => val r = newRow(nextKey); nextKey += 1; r }
    val src = upd ++ ins
    stmt(c, op, "merge", write = true)(_.merge(df(s, src)))
    src.foreach(r => model(r.k) = r)
    if (c.tracer.enabled) rowsChanged += src.size
    record(c)

    def pointRead(): Unit = {
      val k = (rnd.nextDouble() * nextKey).toLong
      val expect = model.get(k).map(r => (1L, r.v)).getOrElse((0L, 0L))
      read(c, op, "point_read", expect)(_.point(s, k))
    }
    def rangeRead(): Unit = {
      val (lo, hi) = keyRange(Rows / 100)
      val rows = modelRange(lo, hi).toSeq
      read(c, op, "range_read", (rows.size.toLong, rows.map(_.v).sum))(_.range(s, lo, hi))
    }
    def update(width: Long, mor: Boolean): Unit = {
      val (lo, hi) = keyRange(width)
      val d = if (mor) 2L else 1L
      stmt(c, op, if (mor) "update_mor" else "update", write = true)(
        _.update(s, inRange(lo, hi), lo, hi, col("v") + d, mor))
      val hit = modelRange(lo, hi).toSeq
      hit.foreach(r => model(r.k) = r.copy(v = r.v + d))
      if (c.tracer.enabled) rowsChanged += hit.size
      record(c)
    }
    def delete(width: Long, mor: Boolean): Unit = {
      val (lo, hi) = keyRange(width)
      stmt(c, op, if (mor) "delete_mor" else "delete", write = true)(
        _.delete(s, inRange(lo, hi), lo, hi, mor))
      val hit = modelRange(lo, hi).map(_.k).toSeq
      hit.foreach(model.remove)
      if (c.tracer.enabled) rowsChanged += hit.size
      record(c)
    }

    pointRead()
    update(Rows / 200, mor = false)
    rangeRead()
    delete(Rows / 500, mor = false)
    update(Rows / 200, mor = true)
    delete(Rows / 500, mor = true)
    stmt(c, op, "purge", write = true)(_.purge(s))
    record(c)
    stmt(c, op, "optimize", write = true)(_.optimize(s))
    record(c)
    stmt(c, op, "vacuum", write = true)(_.vacuum(s))
    // VERSION AS OF, five commits back (inside the versions VACUUM keeps)
    val back = math.max(0, history.size - 1 - 5)
    val fmtVersion = formats.map(f => f.name -> versions(f.name)(back)).toMap
    read(c, op, "time_travel", history(back))(f => f.asOf(s, fmtVersion(f.name)))
  }

  private def files(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally st.close()
    }
  }

  private def bytesUnder(root: String, pred: Path => Boolean = _ => true): Long =
    files(root).filter { case (f, _) => pred(Paths.get(f)) }.values.sum

  override def finish(c: Ctx): Unit = {
    val s = c.spark
    val want = model.valuesIterator.map(r => (r.k, r.g, r.v, r.s)).toSeq.sortBy(_._1)
    formats.foreach { f =>
      val got = f.full(s).select("k", "g", "v", "s").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSeq.sortBy(_._1)
      if (got != want) {
        val diff = got.diff(want).take(3) ++ want.diff(got).take(3)
        c.fail(s"${f.name} table differs from the replay: ${got.size} rows vs " +
          s"${want.size}, e.g. $diff")
      }
    }
    // storage amplification: bytes under each table root ÷ bytes of the
    // final live rows written once as plain Parquet
    val plain = s"${c.work}/tables/plain"
    df(s, model.valuesIterator.toSeq.sortBy(_.k)).repartitionByRange(LoadFiles, col("k"))
      .write.mode("overwrite").parquet(plain)
    val plainBytes = bytesUnder(plain, p => p.getFileName.toString.endsWith(".parquet")).toDouble
    val bytesPerRow = plainBytes / math.max(1, model.size)
    var all = 0L
    formats.foreach { f =>
      val total = bytesUnder(f.root)
      all += total
      val log = bytesUnder(f.root, p => f.logDirs.exists(d => p.toString.contains(s"/$d/")))
      c.layer(s"sources.${f.name}.storage_amp") = total / plainBytes
      c.layer(s"sources.${f.name}.log_bytes") = log.toDouble
      c.layer(s"sources.${f.name}.commits") = versions(f.name).size.toDouble
      val (n, b) = written(f.name)
      if (n > 0) {
        c.layer(s"sources.${f.name}.files_written") = n.toDouble
        c.layer(s"sources.${f.name}.bytes_written") = b.toDouble
      }
      val (sf, sr) = scanned(f.name)
      if (sr > 0) c.layer(s"sources.${f.name}.files_scanned_per_read") = sf.toDouble / sr
    }
    c.layer("sources.storage_amp") = all / (plainBytes * formats.size)
    c.layer("sources.write_p50_s") = Main.median(writeLatency.toSeq)
    c.layer("sources.read_p50_s") = Main.median(readLatency.toSeq)
    val writtenBytes = written.values.map(_._2).sum
    if (writtenBytes > 0)
      c.layer("sources.write_amp") = writtenBytes / (rowsChanged * bytesPerRow * formats.size)
    c.sizes("initial_rows") = Rows
    c.sizes("final_rows") = model.size
    c.sizes("plain_parquet_bytes") = plainBytes
    c.sizes("cycles") = cycle
    c.sizes("commits_per_table") = history.size
  }
}
