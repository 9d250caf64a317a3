package graft.core

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.query.TableProvider

/** Manifest-backed table storage: resolves a table name to the pruned set
  * of parquet files across ALL writer directories (reference
  * query.js:22–63; multi-writer fan-in is physically a UNION ALL of file
  * sets — in Spark it's one multi-path scan).
  *
  * Manifests are re-read per query like the reference (query.js:36–38) so
  * concurrent writers/compaction are picked up without invalidation logic.
  *
  * Scale note: pruning is O(manifest entries) driver-side; the scan itself
  * is an ordinary distributed parquet read with pushdown. `mergeSchema`
  * covers LP schema widening (SURVEY §7.4 divergence).
  */
final class Storage(base: Path, pruneInScan: Boolean = false) extends TableProvider {

  // Schema cache keyed by the newest file path answering it — a new flush
  // or compaction changes that path, invalidating naturally. Without this,
  // answering "is this a time-series table" forced a mergeSchema read of
  // EVERY file's footer per query (VERDICT r1 #5).
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  override def schemaOf(spark: SparkSession,
      name: String): Option[org.apache.spark.sql.types.StructType] = {
    val manifests = Manifest.writerDirs(base).flatMap { wdir =>
      val writerId = wdir.getFileName.toString
      Manifest.loadTable(Manifest.tableManifestPath(base, writerId, name))
    }
    if (manifests.isEmpty) return None
    // Prefer the manifest-tracked schema (survives appender restarts that
    // would re-infer a narrower schema); union across writers.
    val tracked = manifests.flatMap(_.trackedSchema)
    if (tracked.nonEmpty) {
      val merged = tracked.reduce { (a, b) =>
        val known = a.fieldNames.toSet
        org.apache.spark.sql.types.StructType(
          a.fields ++ b.fields.filterNot(f => known.contains(f.name)))
      }
      return Some(merged)
    }
    // Legacy manifests without schema tracking: newest file's footer.
    val newest = manifests.flatMap(_.files)
      .sortBy(-_.id).map(f => base.resolve(f.path)).find(Files.exists(_))
    newest.map { p =>
      schemaCache.computeIfAbsent(p.toString,
        _ => spark.read.parquet(p.toString).schema)
    }
  }

  override def load(spark: SparkSession, name: String,
      startNs: Long, endNs: Long): Option[DataFrame] = {
    TimeUtils.parquetReadConfs(spark) // WAL files store naive micros
    // In-scan mode: one manifest-backed FileIndex relation; the query's
    // OWN resolved timestamp predicates drive pruning at plan time
    // (org.apache.spark.sql.graftshim.ManifestFileIndex), so the provider
    // ignores the caller's range instead of pre-listing paths.
    if (pruneInScan)
      return schemaOf(spark, name).map(sch =>
        org.apache.spark.sql.graftshim.ManifestFileIndex.table(spark, base, name, sch))

    val perWriter = Manifest.writerDirs(base).flatMap { wdir =>
      val writerId = wdir.getFileName.toString
      Manifest.loadTable(Manifest.tableManifestPath(base, writerId, name))
        .map(m => (m, Manifest.pruneFiles(m, base, startNs, endNs)))
    }
    if (perWriter.isEmpty) return None

    val files = perWriter.flatMap(_._2)
    if (files.nonEmpty)
      Some(spark.read.option("mergeSchema", "true").parquet(files: _*))
    else {
      // Table exists but no file overlaps the range (reference
      // short-circuits to [], query.js:155–158): empty frame with the
      // schema of the newest file so projections still resolve.
      val anyFile = perWriter.flatMap(_._1.files).sortBy(-_.id).headOption
      anyFile.flatMap { f =>
        val p = base.resolve(f.path)
        if (Files.exists(p))
          Some(spark.read.parquet(p.toString).limit(0))
        else None
      }
    }
  }

  def tableNames: Seq[String] =
    Manifest.writerDirs(base).flatMap { wdir =>
      val dbs = wdir.resolve("dbs")
      if (!Files.exists(dbs)) Nil
      else {
        val dbStream = Files.list(dbs)
        try {
          import scala.jdk.CollectionConverters._
          dbStream.iterator().asScala.flatMap { db =>
            val ts = Files.list(db)
            try ts.iterator().asScala
              .map(t => Manifest.tableOfDirName(t.getFileName.toString)).toList
            finally ts.close()
          }.toList
        } finally dbStream.close()
      }
    }.distinct
}

/** Static parquet catalog over a testdata scale-factor dir (no manifests —
  * pruning is Spark's own parquet row-group/zonemap pushdown). */
final class StaticCatalog(dir: String) extends TableProvider {
  override def load(spark: SparkSession, name: String,
      startNs: Long, endNs: Long): Option[DataFrame] =
    if (Tables.names.contains(name) &&
        Files.exists(Path.of(s"$dir/$name.parquet")))
      Some(Tables.load(spark, dir, name))
    else None
}
