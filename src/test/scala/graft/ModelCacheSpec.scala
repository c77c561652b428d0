package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** The substrate cache: session scoping (a value cached under one
  * SparkSession is never served to another session in the same JVM, and
  * eviction drops exactly the owner's entries), one build per key, the
  * build-cost ledger, the checkpoint rule and its release, a source
  * scan that keeps the storage decision in ModelCache, and keys that
  * depend only on (session, dir): no operator reads the environment and
  * no key carries an identity hash. */
class ModelCacheSpec extends SparkSpec {

  private def token(s: org.apache.spark.sql.SparkSession) = ModelCache.sessionToken(s)

  /** Run `f` on its own thread; `join` waits up to 30 s for its result. */
  private final class Caller[T](f: => T) extends Thread {
    @volatile var result: Option[T] = None
    override def run(): Unit = result = Some(f)
    def join30(): T = { join(30000); result.get }
  }

  test("cache entries are scoped per session: a new session gets a fresh fit") {
    var fits = 0
    def fit(): Int = { fits += 1; fits }
    val s1 = spark
    val s2 = spark.newSession() // same context, distinct session token
    assert(ModelCache.sessionToken(s1) !== ModelCache.sessionToken(s2))
    val a = ModelCache.getOrElseUpdate(s1, "spec.fit")(fit())
    val b = ModelCache.getOrElseUpdate(s1, "spec.fit")(fit()) // memoized
    assert(a === 1 && b === 1)
    val c = ModelCache.getOrElseUpdate(s2, "spec.fit")(fit()) // NOT s1's entry
    assert(c === 2)
    ModelCache.evict(ModelCache.sessionToken(s1))
    ModelCache.evict(ModelCache.sessionToken(s2))
  }

  test("evict unpersists cached DataFrames, including inside tuples") {
    import org.apache.spark.storage.StorageLevel
    val df1 = spark.range(10).toDF("n").persist(StorageLevel.MEMORY_AND_DISK)
    val df2 = spark.range(5).toDF("m").persist(StorageLevel.MEMORY_AND_DISK)
    ModelCache.getOrElseUpdate(spark, "spec.unpersist.df")(df1)
    ModelCache.getOrElseUpdate(spark, "spec.unpersist.tup")((df2, "model"))
    df1.count(); df2.count()
    assert(df1.storageLevel !== StorageLevel.NONE)
    ModelCache.evict(ModelCache.sessionToken(spark))
    assert(df1.storageLevel === StorageLevel.NONE)
    assert(df2.storageLevel === StorageLevel.NONE)
  }

  test("evict drops only the named session's entries") {
    val s1 = spark
    val s2 = spark.newSession()
    ModelCache.getOrElseUpdate(s1, "spec.evict")(1)
    ModelCache.getOrElseUpdate(s2, "spec.evict")(2)
    ModelCache.evict(ModelCache.sessionToken(s1))
    // s1's entry is gone (recomputes); s2's survives (memoized)
    assert(ModelCache.getOrElseUpdate(s1, "spec.evict")(10) === 10)
    assert(ModelCache.getOrElseUpdate(s2, "spec.evict")(20) === 2)
    ModelCache.evict(ModelCache.sessionToken(s1))
    ModelCache.evict(ModelCache.sessionToken(s2))
  }

  test("concurrent first calls build once and keep the cached frame") {
    val s = spark.newSession()
    val latch = new CountDownLatch(2)
    val builds = new AtomicInteger(0)
    def build(): DataFrame = {
      builds.incrementAndGet()
      latch.countDown()
      latch.await(2, TimeUnit.SECONDS)
      s.range(10).toDF("n").cache()
    }
    try {
      val callers = Seq.fill(2)(new Caller(ModelCache.getOrElseUpdate(s, "spec.race")(build())))
      callers.foreach(_.start())
      val got = callers.map(_.join30())
      assert(builds.get === 1)
      assert(got.forall(_.storageLevel !== StorageLevel.NONE))
    } finally ModelCache.evict(token(s))
  }

  test("a builder that throws leaves the key unbuilt; the next caller builds it") {
    val s = spark.newSession()
    try {
      intercept[IllegalStateException] {
        ModelCache.getOrElseUpdate[Int](s, "spec.throw")(throw new IllegalStateException("boom"))
      }
      assert(!ModelCache.buildCosts(s).contains("spec.throw"))
      assert(ModelCache.getOrElseUpdate(s, "spec.throw")(7) === 7)
      assert(ModelCache.getOrElseUpdate(s, "spec.throw")(8) === 7)
    } finally ModelCache.evict(token(s))
  }

  test("buildCosts: a miss records its key once; hits, waiters, other sessions and evict") {
    val s1 = spark.newSession()
    val s2 = spark.newSession()
    try {
      ModelCache.getOrElseUpdate(s1, "spec.cost")(1)
      val first = ModelCache.buildCosts(s1)
      assert(first.keySet === Set("spec.cost"))
      assert(first("spec.cost") >= 0.0)
      assert(ModelCache.getOrElseUpdate(s1, "spec.cost")(2) === 1) // hit
      assert(ModelCache.buildCosts(s1) === first)
      assert(ModelCache.buildCosts(s2).isEmpty) // keys are per session

      // a second caller that arrives mid-build waits for it and adds nothing
      val started = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val waiterBuilds = new AtomicInteger(0)
      val builder = new Caller(ModelCache.getOrElseUpdate(s1, "spec.wait") {
        started.countDown(); release.await(10, TimeUnit.SECONDS); "built"
      })
      builder.start()
      assert(started.await(10, TimeUnit.SECONDS))
      val waiter = new Caller(ModelCache.getOrElseUpdate(s1, "spec.wait") {
        waiterBuilds.incrementAndGet(); "rebuilt"
      })
      waiter.start()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(10)
      while (waiter.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(waiter.getState === Thread.State.BLOCKED)
      release.countDown()
      assert(builder.join30() === "built" && waiter.join30() === "built")
      assert(waiterBuilds.get === 0)
      val costs = ModelCache.buildCosts(s1)
      assert(costs.keySet === Set("spec.cost", "spec.wait"))
      assert(costs("spec.cost") === first("spec.cost"))

      ModelCache.evict(token(s1))
      assert(ModelCache.buildCosts(s1).isEmpty)
    } finally {
      ModelCache.evict(token(s1))
      ModelCache.evict(token(s2))
    }
  }

  private def filesUnder(dir: Path): Seq[Path] = {
    val w = Files.walk(dir)
    try w.iterator.asScala.filter(Files.isRegularFile(_)).toList finally w.close()
  }

  private def checkpointFile(df: DataFrame): Option[String] =
    df.queryExecution.logical match {
      case r: LogicalRDD =>
        assert(r.rdd.isCheckpointed)
        r.rdd.getCheckpointFile
      case p => fail(s"not a checkpointed plan: ${p.nodeName}")
    }

  test("checkpoint is reliable under a checkpoint dir, and evict deletes its files") {
    val sc = spark.sparkContext
    val tmp = Files.createTempDirectory("graft-ckpt")
    val s = spark.newSession()
    sc.setCheckpointDir(tmp.toString)
    try {
      val (df, _) = ModelCache.getOrElseUpdate(s, "spec.ckpt") {
        (ModelCache.checkpoint(s.range(100).toDF("n")), "model")
      }
      assert(checkpointFile(df).exists(_.contains(tmp.getFileName.toString)))
      assert(filesUnder(tmp).nonEmpty)
      assert(df.count() === 100)
      ModelCache.evict(token(s))
      assert(filesUnder(tmp).isEmpty)
    } finally {
      sc.setCheckpointDir(null)
      ModelCache.evict(token(s))
      Files.walk(tmp).iterator.asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  test("without a checkpoint dir, checkpoint is local and writes no files") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val df = ModelCache.checkpoint(spark.range(10).toDF("n"))
    assert(checkpointFile(df).isEmpty)
    assert(df.count() === 10)
  }

  private def scalaFiles(d: File): Seq[File] = Option(d.listFiles).toSeq.flatten.flatMap { f =>
    if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
  }
  private def text(f: File): String = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.mkString finally src.close()
  }

  test("source scan: ModelCache alone decides substrate storage") {
    val ops = scalaFiles(new File("src/main/scala/graft/operators"))
    assert(ops.size > 10)
    val named = ops.filter(f => "\\b(StorageLevel|Materialize)\\b".r.findFirstIn(text(f)).isDefined)
    assert(named.isEmpty, s"operators naming a storage level or Materialize: ${named.map(_.getName)}")
    val dirReaders = scalaFiles(new File("src/main/scala"))
      .filter(text(_).contains("getCheckpointDir")).map(_.getName)
    assert(dirReaders === Seq("ModelCache.scala"))
  }

  test("source scan: operators read no environment; no main file uses identity hashes") {
    val ops = scalaFiles(new File("src/main/scala/graft/operators"))
    assert(ops.size > 10)
    val envReaders = ops.filter(f => "sys\\.env|System\\.getenv".r.findFirstIn(text(f)).isDefined)
    assert(envReaders.isEmpty, s"operators reading the environment: ${envReaders.map(_.getName)}")
    val idHashers = scalaFiles(new File("src/main/scala"))
      .filter(text(_).contains("identityHashCode")).map(_.getName)
    assert(idHashers.isEmpty, s"main files using identityHashCode: $idHashers")
  }

  test("LDA fits are keyed by their corpus dir") {
    graft.operators.TopicModeling.qLdaTopics(spark, sfDir)
    val keys = ModelCache.buildCosts(spark).keys.filter(_.startsWith("tm.lda:"))
    assert(keys.nonEmpty)
    assert(keys.forall(_.startsWith(s"tm.lda:$sfDir:")), keys)
  }
}
