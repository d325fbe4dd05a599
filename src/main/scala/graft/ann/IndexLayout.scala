package graft.ann

import graft.queries.Scratch
import graft.streaming.PartitionedStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The landed-generation format of one persisted ANN table: a base
  * table at `<root>/<base>`, hive-partitioned by `partCols`, and the
  * write-optimized landings beside it at `<root>/<landed>/bid=<id>/…`,
  * one replay-safe generation per streamed micro-batch, partitioned the
  * same way, so a partition filter prunes base and landed rows alike.
  *
  * A row may sit in both places (the window between a fold's swap and
  * its landed-dir removal), so every fold merges by `merge`: with
  * `latestBy` set, one row per `vec_id`, the first in that order; with
  * it empty, the set union of whole rows (graph edges).
  *
  * The fold is the maintenance pass that read-optimizes the landings:
  * touched partitions get (live ∪ landed) merged and installed through
  * [[PartitionedStore.replacePartitions]]' staged swap, untouched
  * partitions keep their files byte-identical, and the landed dir is
  * removed only after every swap is done. A crash anywhere converges on
  * the next fold: it completes the committed swaps, then re-merges
  * idempotently. */
final case class IndexLayout(base: String, landed: String,
    partCols: Seq[String], latestBy: Seq[Column],
    allowMissingColumns: Boolean = false) {

  def basePath(root: String): String = s"$root/$base"
  def landedPath(root: String): String = s"$root/$landed"

  /** Where micro-batch `id` lands (overwritten on redelivery). */
  def generation(root: String, id: Long): String = s"${landedPath(root)}/bid=$id"

  /** Landed generations not yet folded. */
  def pendingGens(root: String): Int =
    IndexLayout.generations(landedPath(root)).size

  /** The keyed (or set) merge of `live` and landed rows. */
  private def merge(live: DataFrame, landedRows: DataFrame): DataFrame = {
    val all = live.unionByName(landedRows, allowMissingColumns)
    if (latestBy.isEmpty) all.distinct()
    else {
      import org.apache.spark.sql.expressions.Window
      val byVec = Window.partitionBy(col("vec_id")).orderBy(latestBy: _*)
      all.withColumn("rn", row_number().over(byVec))
        .filter(col("rn") === 1).drop("rn")
    }
  }

  private def landedRows(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(landedPath(root)).drop("bid")

  /** Base ∪ landed as stored, unmerged: what a serve that tolerates a
    * row in both places (the graph beam) reads. */
  def union(spark: SparkSession, root: String): DataFrame = {
    val live = spark.read.parquet(basePath(root))
    if (!new java.io.File(landedPath(root)).exists()) live
    else live.unionByName(landedRows(spark, root), allowMissingColumns)
  }

  /** Crash-consistent merged read while a fold may be in flight: first
    * complete a COMMITTED staging (serving pre-swap content would
    * unwind a committed fold) but never discard an uncommitted one (the
    * single writer may be live), then base ∪ landed merged, so a row in
    * both places counts once. */
  def read(spark: SparkSession, root: String): DataFrame = {
    PartitionedStore.recoverPendingDelete(basePath(root),
      discardUncommitted = false)
    val live = spark.read.parquet(basePath(root))
    if (!new java.io.File(landedPath(root)).exists()) live
    else merge(live, landedRows(spark, root))
  }

  /** Fold every landed generation into the base partitions; returns the
    * touched partitions (the value for a one-column layout, a
    * (label, cent_id) tuple for the filtered one). `crashAfterSwaps`
    * stops after that many swaps, leaving the staging committed and the
    * landings in place, for the recovery specs. */
  def fold(spark: SparkSession, root: String,
      crashAfterSwaps: Int = Int.MaxValue): Seq[Any] = {
    PartitionedStore.recoverPendingDelete(basePath(root))
    val landedDir = new java.io.File(landedPath(root))
    if (!landedDir.exists()) return Seq.empty
    val rows = landedRows(spark, root)
    // touched partitions: driver metadata, ≤ |partitions| tuples
    val touched = rows.select(partCols.map(col): _*).distinct()
      .collect().map(r => partCols.indices.map(r.get)).toSeq
    val keys = touched.map {
      case Seq(v) => v
      case Seq(a, b) => (a, b)
    }
    if (touched.nonEmpty) {
      val live = spark.read.parquet(basePath(root))
        .filter(PartitionedStore.pruneExpr(partCols, touched))
      val merged = Scratch.checkpoint(
        merge(live, rows).repartition(partCols.map(col): _*))
      PartitionedStore.replacePartitions(spark, basePath(root), partCols,
        merged, touched, crashAfterSwaps)
      if (crashAfterSwaps < touched.size) return keys
    }
    PartitionedStore.removeTree(landedDir)
    keys
  }

  /** Per-partition parquet file counts of the base table (empty when it
    * does not exist). */
  def fileCounts(root: String): Map[Seq[String], Int] =
    if (!PartitionedStore.exists(basePath(root))) Map.empty
    else PartitionedStore.partFileCounts(basePath(root), partCols)

  /** Base partitions holding more than `maxFiles` files, as dir-name
    * tuples in path order. */
  def overBound(root: String, maxFiles: Int): Seq[Seq[String]] =
    fileCounts(root).filter(_._2 > maxFiles).keys.toSeq
      .sortBy(_.mkString("/"))

  /** Rewrite every over-bound base partition down to one file. */
  def compact(spark: SparkSession, root: String, maxFiles: Int): Unit = {
    PartitionedStore.compact(spark, basePath(root), partCols, maxFiles); ()
  }

  override def toString: String = s"IndexLayout($base, $landed)"
}

object IndexLayout {

  /** Raw IVF cells: latest row per vec_id by cell. */
  val Cells = IndexLayout("cells", "ingest", Seq("cent_id"), Seq(col("cent_id")))

  /** PQ codes, the same (vec_id-keyed, cent_id-partitioned) shape with an
    * 8-code payload. */
  val Codes =
    IndexLayout("codes", "codes_ingest", Seq("cent_id"), Seq(col("cent_id")))

  /** The (label, cent_id) filtered cells. */
  val Filtered = IndexLayout("cells", "ingest", Seq("label", "cent_id"),
    Seq(col("label"), col("cent_id")))

  /** Graph adjacency, sb-bucketed; edges merge as a set. */
  val Adj = IndexLayout("adj", "ingest_adj", Seq("sb"), Seq.empty)

  /** Graph node payloads, nb-bucketed. Base rows may lack cent_id (the
    * plain serve layout), so columns align by name and a row carrying
    * cent_id wins the merge. */
  val Nodes = IndexLayout("nodes", "ingest_nodes", Seq("nb"),
    Seq(col("cent_id").asc_nulls_last, col("nb")), allowMissingColumns = true)

  /** The `bid=` generation ids under `dir`, ascending (none when `dir`
    * does not exist). */
  def generations(dir: String): Seq[Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("bid="))
      .map(_.getName.stripPrefix("bid=").toLong).sorted
}
