package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.concurrent.TrieMap
import scala.util.control.NonFatal

/** Session-lifetime substrates: fitted models, featurized corpora and the
  * other shared intermediates later queries reuse. This is the one place
  * a substrate is built, materialized and released.
  *
  * The driver contract runs every query independently (Verify/Bench loop
  * over SparkEntry.queries in one JVM); without this, each of the six
  * topic-model queries would re-fit the same seeded LDA. Keys include the
  * data dir so different scale factors never collide. Seeds are fixed, so
  * a cached fit is bit-identical to a refit.
  *
  * '''Scope.''' Every entry is scoped to the owning SparkSession via a
  * per-session token that is unique for the JVM's lifetime (monotonic
  * counter in a WeakHashMap — unlike an identity hash, a token can never
  * be reused after the session is GC'd): cached DataFrames/models are
  * bound to the session that built them, so a new session in the same JVM
  * never sees a dead session's plan.
  *
  * '''Build.''' Each key is built once per session: concurrent first
  * callers wait on the one build instead of racing. A builder that throws
  * leaves the key unbuilt, so the next caller retries.
  *
  * '''Storage.''' A Dataset substrate takes one of two rules:
  *  - [[checkpoint]] when its consumers would otherwise re-plan a deep or
  *    iterative lineage (the CC fold, the incremental dedup fold, a
  *    range-sorted fact projection): the checkpoint's plan is one leaf
  *    scan, so no consumer action re-analyzes the lineage;
  *  - `.cache()` (the session's `spark.sql.defaultCacheStorageLevel`,
  *    MEMORY_AND_DISK by default) when its consumers column-prune a wide
  *    relation (the raw and clean corpora, the shingle posting): the
  *    columnar cache serves each consumer only the columns it reads,
  *    where a checkpoint's row RDD deserializes all of them.
  * Neither rule wins everywhere. On a 4-core VM, checkpointing the eight
  * cached substrates on the benchmark path sped up the LDA fit but slowed
  * q_kmv_intersect (which reads `rawDocs.rtoks`) from 1.4–1.9 s to
  * 2.2–2.3 s and raised the curation median query time from 1.03 to
  * 1.24 s, so moving a substrate between the rules is a measured change
  * of its own.
  *
  * '''Release.''' [[evict]] drops a session's entries, unpersisting
  * cached Datasets and deleting reliable checkpoint files, including
  * those held inside tuples or case classes. It runs when the owning
  * context stops (SparkListener onApplicationEnd). Sessions made with
  * `newSession()` share their parent's context, so their entries stay
  * until that shared context stops unless [[evict]] is called with their
  * token.
  */
object ModelCache {
  private val cache = TrieMap.empty[String, Cell]
  private val hooked = TrieMap.empty[String, Boolean]
  private val ids = new java.util.WeakHashMap[SparkSession, String]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
  private val buildSecs = TrieMap.empty[String, Double]

  /** One key's memo. The first `get` runs the builder under the cell's
    * lock while later callers wait; the builder is dropped once it has
    * produced the value. */
  private final class Cell(private var build: () => Any) {
    @volatile var value: Option[Any] = None

    def get(key: String): Any = value.getOrElse(synchronized {
      value.getOrElse {
        val t0 = System.nanoTime()
        val v = try build() catch {
          case e: Throwable => cache.remove(key, this); throw e
        }
        buildSecs(key) = (System.nanoTime() - t0) / 1e9
        value = Some(v)
        build = null
        v
      }
    })
  }

  /** JVM-lifetime-unique token for this session (stable across calls). */
  def sessionToken(s: SparkSession): String = ids.synchronized {
    ids.computeIfAbsent(s, _ => s"s${nextId.incrementAndGet()}")
  }

  /** Memoize `f` under `key`, scoped to `s`, built once (see class doc). */
  def getOrElseUpdate[T](s: SparkSession, key: String)(f: => T): T = {
    val token = sessionToken(s)
    if (hooked.putIfAbsent(token, true).isEmpty) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
          evict(token)
      })
    }
    val full = s"$token#$key"
    cache.getOrElseUpdate(full, new Cell(() => f)).get(full).asInstanceOf[T]
  }

  /** Eagerly materialize a substrate with its lineage cut (the checkpoint
    * rule in the class doc): a reliable checkpoint when the context has a
    * checkpoint dir (`SparkContext.setCheckpointDir` or
    * `spark.checkpoint.dir`), so losing an executor cannot strand the
    * substrate's consumers; otherwise a local checkpoint, whose blocks
    * live in executor storage with no recompute path — sound in local
    * mode, where executor loss is session loss, but a cluster deployment
    * should set a checkpoint dir. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined)
      ds.checkpoint(eager = true)
    else ds.localCheckpoint(eager = true)

  /** Per-substrate build seconds for this session (key → seconds spent
    * in the builder), for the bench sidecar's substrate-cost attribution:
    * min-of-reps charges a memoized substrate's build to whichever query
    * runs it first, so the sidecar reports the builds separately. For a
    * checkpointed substrate this is the real build time; for a cached one
    * it covers only plan construction — the first consumer pays the
    * fill. */
  def buildCosts(s: SparkSession): Map[String, Double] = {
    val prefix = sessionToken(s) + "#"
    buildSecs.iterator
      .filter(_._1.startsWith(prefix))
      .map { case (k, v) => k.drop(prefix.length) -> v }
      .toMap
  }

  /** Release what a memoized value holds: unpersist a cached Dataset and
    * delete a reliable checkpoint's files, recursing into tuples and case
    * classes. Models and plain values are untouched. Best-effort —
    * eviction also runs while the owning context is shutting down. */
  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] =>
      try {
        ds.unpersist()
        ds.queryExecution.logical match {
          case r: LogicalRDD => r.rdd.getCheckpointFile.foreach { f =>
            val p = new Path(f)
            p.getFileSystem(ds.sparkSession.sparkContext.hadoopConfiguration)
              .delete(p, true)
          }
          case _ => ()
        }
      } catch { case NonFatal(_) => () }
    case p: Product => p.productIterator.foreach(release)
    case _ => ()
  }

  /** Drop every entry owned by the session with this token and release
    * what it held (see class doc). */
  def evict(token: String): Unit = {
    val prefix = token + "#"
    cache.keysIterator.filter(_.startsWith(prefix)).foreach { k =>
      cache.remove(k).flatMap(_.value).foreach(release)
    }
    buildSecs.keysIterator.filter(_.startsWith(prefix))
      .foreach(buildSecs.remove)
    hooked.remove(token)
  }
}
