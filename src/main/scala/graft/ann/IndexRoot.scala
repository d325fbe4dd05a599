package graft.ann

import graft.queries.Memo
import graft.streaming.PartitionedStore
import org.apache.spark.sql.SparkSession

/** On-disk roots of the persisted index layouts, and the per-root
  * bucket count the graph tier partitions by. */
object IndexRoot {

  /** One-shot sweep of DEAD prior processes' index roots (ADVICE r10:
    * pid-suffixed roots accumulated ~9 layout copies per bench/verify
    * run with nothing ever removing them). Only dirs matching the
    * `-p<pid>` suffix whose pid is provably not alive are removed —
    * non-pid roots (format fixtures, dedup indexes) and any LIVE
    * process's roots are untouched, so a concurrent bench + verify pair
    * can never sweep each other. Forced on first [[apply]] call, i.e.
    * before this process creates its own roots. */
  private lazy val sweptStaleRoots: Unit = {
    val self = ProcessHandle.current().pid()
    val pidSuffix = raw".*-p(\d+)$$".r
    Option(new java.io.File("/tmp/graft-sources").listFiles()).toSeq.flatten
      .filter(_.isDirectory)
      .foreach { d =>
        d.getName match {
          case pidSuffix(pid) if pid.toLong != self &&
              !ProcessHandle.of(pid.toLong)
                .map[Boolean](_.isAlive).orElse(false) =>
            PartitionedStore.removeTree(d)
          case _ =>
        }
      }
  }

  /** Process-private root for index `kind` over corpus `dir` (ADVICE
    * r9): the name carries an MD5 prefix of the FULL source-dir path —
    * the sanitized name alone can collide distinct dirs onto one root —
    * and the JVM pid, so two concurrent JVMs (e.g. bench and verify over
    * the same sf dir) can never race overwrite/append on a shared root
    * (the upsert layout's append is guarded only by IN-PROCESS
    * memoization). The per-process rebuild this implies is the memoized
    * caches' existing contract; a real deployment replaces the pid with
    * its catalog's table identity + a transactional commit. */
  def apply(kind: String, dir: String): String = {
    sweptStaleRoots
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    s"/tmp/graft-sources/$kind-${
      dir.replaceAll("[^A-Za-z0-9.]", "_")}-$h-p${ProcessHandle.current().pid()}"
  }

  /** Memoized per-root BUCKET COUNT (= centroid rows): a layout constant
    * — written once per root per process by the (memoized) builders and
    * never mutated by deletes/repairs/folds, which touch nodes/adj/hubs
    * but not centroids. Counting it from parquet per serve / per
    * micro-batch was one fixed-cost job each time (guide §1.2 per-task
    * work): the graph serves, the streaming landings, and every
    * maintenance pass all start with this number. */
  private val bucketCounts = new Memo[(SparkSession, String), Long]

  def buckets(spark: SparkSession, root: String): Long =
    bucketCounts((spark, root))(
      spark.read.parquet(s"$root/centroids").count())

  /** Invalidate — or, when the count is already known, seed — the
    * bucket-count memo for a root whose centroids were just (re)written
    * (ADVICE r15: builders must never let a rewrite observe a stale
    * modulus; first-read memoization alone would). */
  def resetBuckets(spark: SparkSession, root: String,
      known: Option[Long] = None): Unit = known match {
    case Some(n) => bucketCounts.put((spark, root), n)
    case None => bucketCounts.remove((spark, root)); ()
  }

  /** Wipe `root` and make it a copy of the layout at `src` (scenarios
    * mutate a copy so the memoized source keeps serving). The copy's
    * bucket count is the source's: seeded when known, which drops the
    * count job each copy would pay on first touch. Returns `root`. */
  def copyOf(spark: SparkSession, root: String, src: String): String = {
    PartitionedStore.removeTree(new java.io.File(root))
    PartitionedStore.copyTree(new java.io.File(src), new java.io.File(root))
    resetBuckets(spark, root, bucketCounts.get((spark, src)))
    root
  }
}
