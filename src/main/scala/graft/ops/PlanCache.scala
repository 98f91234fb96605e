package graft.ops

import java.nio.file.Files
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materialized-intermediate registry. A self-join or a family of
  * queries over the same derived frame (e.g. the shingle-hash index
  * shared by Jaccard/MinHash/LSH) would otherwise re-evaluate the
  * whole derivation per subtree occurrence — Catalyst does not do
  * cross-subtree common-plan elimination.
  *
  * One key rule: a shared frame is keyed by its session, its tag and
  * the semantic hashes of the frames it is DERIVED FROM, never by its
  * own plan. The derivation runs only on a miss, so a derivation that
  * holds a Scala closure (a typed `mapPartitions`, a Column lambda
  * such as `Codecs.tokens`' filter), whose own plan never hashes
  * equal across builds, still hits on every later build. The tag must
  * therefore carry every parameter the derivation reads besides its
  * inputs, and one tag names one derivation.
  *
  * Two materialization kinds share one map, one exactly-once holder
  * and one eviction:
  *  - [[cached]] persists the derived frame (MEMORY_AND_DISK);
  *  - [[checkpointed]] localCheckpoints it, for frames a bounded
  *    unroll reads every iteration.
  * The [[relation]] tier persists nothing: it memoizes a base
  * relation (a `spark.read.parquet` frame) per session, path and file
  * stamp, so its schema inference, a Spark job, runs once, and frames
  * keyed by it hit.
  *
  * Staleness contract: keys are plan-based, not data-based — if the
  * files under a path change while a session lives, a persisted frame
  * keeps serving the old data (exactly like a Spark `.cache()`); call
  * [[clear]] after mutating inputs. Eviction is two-layered: a
  * SparkListener drops a context's entries as soon as its application
  * ends (persisted blocks die with the context, so only the map
  * references need dropping), and a sweep on every access catches
  * sessions whose context stopped without the listener firing.
  *
  * Scale note: on a cluster this is the "staging table" step — at
  * 100 TB the same call site writes a bucketed intermediate instead of
  * MEMORY_AND_DISK; the query shape above it is unchanged. */
object PlanCache {
  /** Exactly-once holder: concurrent prepare threads that race the same
    * substrate must BLOCK on one build, not run it twice — a duplicated
    * `localCheckpoint` build runs the whole job again and persists a
    * second copy whose blocks nothing ever reads (TrieMap's
    * getOrElseUpdate only dedups the map VALUE, not the evaluation).
    * `lazy val` gives per-instance synchronized once-evaluation; the
    * TrieMap keeps exactly one holder per key, so the loser of a
    * holder-insert race forces the winner's build instead of its own. */
  private final class Once(build: () => DataFrame) {
    @volatile private var built: Option[DataFrame] = None
    lazy val df: DataFrame = { val d = build(); built = Some(d); d }
    /** The frame iff the build has completed — NEVER forces a pending
      * build (forcing would block the caller on a foreign build, and a
      * FAILED lazy init would re-run on the next force). */
    def settled: Option[DataFrame] = built
  }
  private val cache = TrieMap.empty[(String, Int, String), Once]
  // one eviction listener per SparkContext, so entries are dropped the
  // moment the context ends — not merely on the next access
  private val hooked = TrieMap.empty[String, Boolean]

  /** Collision-safe tag component for caller-rendered strings (e.g. a
    * target predicate's `Column.toString`). A 32-bit `String.hashCode`
    * here would let two different predicates over the same corpus
    * silently share one cached frame — a wrong-results bug, not a perf
    * bug — so tags embed a truncated SHA-256 (96 bits: collision odds
    * are negligible at any realistic number of live cache entries). */
  def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString

  /** Persist `derive`, keyed by `tag` and the frames it is derived
    * from (see the key rule above). */
  def cached(tag: String, inputs: DataFrame*)(derive: => DataFrame): DataFrame =
    keyed(tag, inputs)(derive.persist(StorageLevel.MEMORY_AND_DISK))

  /** localCheckpoint-backed sibling of [[cached]], for frames a
    * bounded unroll references EVERY iteration: persist() pays a
    * columnar decode per reference (measured 8× slower cold on the
    * common-neighbors incidence frame, BASELINE.md r9), while a
    * localCheckpoint scan replays raw rows. The build is materialized
    * eagerly (localCheckpoint default), so a loud validation inside it
    * (pageRankFixed's dangling-mass guard) fires at first-build time. */
  def checkpointed(tag: String, inputs: DataFrame*)(derive: => DataFrame): DataFrame =
    keyed("ck:" + tag, inputs)(derive.localCheckpoint())

  private def keyed(tag: String, inputs: Seq[DataFrame])(
      materialize: => DataFrame): DataFrame = {
    require(inputs.nonEmpty, s"PlanCache tag $tag: at least one input frame")
    val spark = inputs.head.sparkSession
    require(inputs.forall(_.sparkSession eq spark),
      s"PlanCache tag $tag: inputs from more than one session")
    val key = inputs.foldLeft(0)((h, df) => h * 31 + df.queryExecution.logical.semanticHash())
    entry(tag, key, spark)(materialize)
  }

  /** Base-relation tier: `build` (a file read) runs once per session,
    * path and file stamp, and the frame is NOT persisted — only its
    * resolved plan (inferred schema, file listing) is reused, so a
    * later build over it submits no schema-inference job.
    *
    * The stamp is a `java.nio` stat, taken with no Spark job: the
    * modification time at full precision, the size and the inode
    * (`fileKey`, where the platform has one) of the file, or of every
    * file under it for a directory. A file rewritten in place under the
    * same path therefore gets a fresh read, and the superseded stamp's
    * entry is dropped. A path that is not on the local file system, or
    * does not exist, is not memoized: `build` runs on every call. */
  def relation(path: String, spark: SparkSession)(
      build: => DataFrame): DataFrame =
    stamp(path, spark) match {
      case None => build
      case Some(st) =>
        // NUL cannot occur in a path, so the prefix names this path only
        val prefix = "rel:" + path + "\u0000"
        val tag = prefix + st
        val session = sessionKey(spark)
        cache.filterInPlace { case ((sk, _, t), _) =>
          !(sk == session && t.startsWith(prefix) && t != tag) }
        entry(tag, 0, spark)(build)
    }

  private def stamp(path: String, spark: SparkSession): Option[String] = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val scheme = Option(uri.getScheme).getOrElse(
      org.apache.hadoop.fs.FileSystem.getDefaultUri(spark.sparkContext.hadoopConfiguration).getScheme)
    val local = java.nio.file.Paths.get(uri.getPath)
    if (scheme != "file" || !Files.exists(local)) None
    else {
      def one(p: java.nio.file.Path): String = {
        val a = Files.readAttributes(p, classOf[BasicFileAttributes])
        s"${local.relativize(p)}|${a.lastModifiedTime.toInstant}|${a.size}|${a.fileKey}"
      }
      val walk = Files.walk(local)
      val files = try walk.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sorted
        finally walk.close()
      Some(digest(files.map(one).mkString("\n")))
    }
  }

  private def sessionKey(spark: SparkSession): String =
    spark.sparkContext.applicationId + "/" + System.identityHashCode(spark)

  private def entry(tag: String, key: Int, spark: SparkSession)(
      materialize: => DataFrame): DataFrame = {
    // sweep only SETTLED holders: forcing an in-flight one here would
    // block the sweep (and every caller) on a foreign build
    cache.filterInPlace((_, o) =>
      !o.settled.exists(_.sparkSession.sparkContext.isStopped))
    val appId = spark.sparkContext.applicationId
    hooked.getOrElseUpdate(appId, {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          cache.filterInPlace { case ((sk, _, _), _) => !sk.startsWith(appId + "/") }
          hooked.remove(appId); ()
        }
      })
      true
    })
    val k = (sessionKey(spark), key, tag)
    val holder = cache.getOrElseUpdate(k, new Once(() => materialize))
    try {
      val df = holder.df
      // Failure-race repair (ADVICE r14): if a SIBLING's build failed
      // while this thread was blocked on the same holder, the sibling
      // evicted it — and this thread's lazy-val retry then SUCCEEDED
      // inside the now-evicted holder. Re-install so the successful
      // frame stays reachable (clear() can unpersist it, future
      // callers reuse instead of rebuilding). If a THIRD caller
      // already installed a fresh holder in the gap, keep the map's
      // one (exactly-once for future callers; this thread's own frame
      // stays correct for its own caller).
      cache.putIfAbsent(k, holder)
      df
    } catch { case e: Throwable =>
      // evict the failed holder so the NEXT caller installs a fresh
      // build instead of replaying this one's captured thunk — the
      // pre-concurrency behavior (a failed getOrElseUpdate inserted
      // nothing); remove(k, holder) so a concurrent successful
      // replacement is never evicted by a stale failure
      cache.remove(k, holder)
      throw e
    }
  }

  /** The live keys (session, input hash, tag), for tests. */
  private[graft] def keys: Set[(String, Int, String)] = cache.keySet.toSet

  def clear(): Unit = {
    cache.values.foreach { o =>
      o.settled.foreach(df => try df.unpersist() catch { case _: Throwable => () })
    }
    cache.clear()
  }
}
