package org.apache.spark.sql.graftshim

import java.nio.file.Path

import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, BinaryComparison, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StructType, TimestampType}

import graft.core.{Manifest, TimeUtils}

/** Manifest-backed Catalyst `FileIndex`: file pruning by the table
  * manifest's ns min/max stats happens INSIDE the scan node, driven by
  * the query's own resolved `timestamp` predicates — the "proper hook"
  * SURVEY §4 describes. With this, a table is registered once and every
  * query against it prunes automatically; no driver-side path-list
  * rebuild per query, and EXPLAIN shows the pruning as part of the scan.
  *
  * `listFiles(partitionFilters, dataFilters)` receives the pushed-down
  * data filters; timestamp bounds are extracted conservatively (same
  * sound-widening rules as QueryService.extractTimeRange: conjuncts
  * only, strict/non-strict both widen to file granularity). Unknown or
  * OR-guarded predicates fall back to the full file list — pruning is
  * always a pure optimization, never a correctness dependency.
  *
  * Scale: listing is O(manifest entries) on the driver at plan time;
  * executors receive only the surviving splits. The manifest re-read per
  * query matches the reference (query.js:36–38) so compaction swaps are
  * picked up without cache invalidation.
  */
final class ManifestFileIndex(
    spark: SparkSession,
    base: Path,
    table: String,
    val schema0: StructType) extends FileIndex {

  private def entries: Seq[(Manifest.FileEntry, HPath)] =
    Manifest.writerDirs(base).flatMap { wdir =>
      val writerId = wdir.getFileName.toString
      Manifest.loadTable(Manifest.tableManifestPath(base, writerId, table))
        .toSeq.flatMap(_.files)
        .map(f => f -> new HPath(base.resolve(f.path).toUri))
    }

  override def rootPaths: Seq[HPath] = Seq(new HPath(base.toUri))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (startNs, endNs) = ManifestFileIndex.timestampBounds(dataFilters)
    val kept = entries.filter { case (f, _) =>
      f.max_time >= startNs && f.min_time <= endNs
    }
    // One stat per kept file. A file a compaction deleted after the
    // manifest was read is gone, not an error: its rows are in the
    // compacted output the next manifest read lists.
    val statuses = kept.flatMap { case (_, p) =>
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    }
    Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
  }

  override def inputFiles: Array[String] = entries.map(_._2.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = entries.map(_._1.size_bytes).sum
  override def partitionSchema: StructType = StructType(Nil)
}

object ManifestFileIndex {

  /** Conservative [start, end] ns bounds from resolved pushed-down
    * filters on a TimestampType `timestamp` attribute. */
  private[graftshim] def timestampBounds(filters: Seq[Expression]): (Long, Long) = {
    var start = Long.MinValue
    var end = Long.MaxValue

    def tsAttr(e: Expression): Boolean = e match {
      case a: Attribute => a.name == "timestamp" && a.dataType == TimestampType
      case Cast(a: Attribute, _, _, _) => a.name == "timestamp"
      case _ => false
    }
    def litNs(e: Expression): Option[Long] = e match {
      case Literal(v: Long, TimestampType) => Some(v * 1000L) // µs → ns
      case _ => None
    }
    def visit(e: Expression): Unit = e match {
      case CAnd(l, r) => visit(l); visit(r)
      case cmp: BinaryComparison =>
        (tsAttr(cmp.left), litNs(cmp.right), litNs(cmp.left), tsAttr(cmp.right)) match {
          case (true, Some(ns), _, _) => apply(cmp, ns, flipped = false)
          case (_, _, Some(ns), true) => apply(cmp, ns, flipped = true)
          case _ =>
        }
      case _ => // OR/NOT/unknown: contributes no bound (sound)
    }
    def apply(cmp: BinaryComparison, ns: Long, flipped: Boolean): Unit = cmp match {
      case _: GreaterThan | _: GreaterThanOrEqual =>
        if (flipped) end = math.min(end, ns) else start = math.max(start, ns)
      case _: LessThan | _: LessThanOrEqual =>
        if (flipped) start = math.max(start, ns) else end = math.min(end, ns)
      case _: EqualTo =>
        start = math.max(start, ns); end = math.min(end, ns)
      case _ =>
    }
    filters.foreach(visit)
    (start, end)
  }

  /** DataFrame over a manifest-backed table with in-scan pruning. */
  def table(spark: SparkSession, base: Path, name: String,
      schema: StructType): DataFrame = {
    val index = new ManifestFileIndex(spark, base, name, schema)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map("mergeSchema" -> "true"))(spark.asInstanceOf[classic.SparkSession])
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LogicalRelation(relation))
  }
}
